package perfbench

import org.scalatest.funsuite.AnyFunSuite

class VoteGenSpec extends AnyFunSuite {

  private val T0 = 1730764800000L // 2024-11-05T00:00:00Z

  private def render(seed: Long, files: Int, linesPerFile: Int): (String, GenCounts) = {
    val g = new VoteGen(seed)
    val sb = new java.lang.StringBuilder
    (0 until files).foreach(k => g.emit(linesPerFile, T0 + k * 10L, sb))
    (sb.toString, g.counts)
  }

  test("the same seed gives identical bytes, another seed different ones") {
    val (a, _) = render(7L, 50, 40)
    val (b, _) = render(7L, 50, 40)
    val (c, _) = render(8L, 50, 40)
    assert(a == b)
    assert(a != c)
  }

  test("injected counts equal an independent recount of the lines") {
    val (text, counts) = render(11L, 200, 50)
    val lines = text.split("\n", -1).dropRight(1).toSeq
    val malformed = lines.filterNot(_.endsWith("}"))
    val seenVotes = scala.collection.mutable.HashSet.empty[String]
    var duplicates, votes, outOfOrder = 0L
    var maxTime = ""
    lines.filter(l => l.endsWith("}") && l.contains("\"candidate_id\"")).foreach { l =>
      if (!seenVotes.add(l)) duplicates += 1
      else {
        votes += 1
        val t = "\"voting_time\":\"([^\"]+)\"".r.findFirstMatchIn(l).get.group(1)
        if (t < maxTime) outOfOrder += 1
        if (t > maxTime) maxTime = t
      }
    }
    val registrations = lines.count(l => l.endsWith("}") && !l.contains("\"candidate_id\""))

    assert(lines.size == 10000L && counts.lines == lines.size)
    assert(counts.bytes == text.length)
    assert(counts.malformed == malformed.size)
    assert(counts.duplicates == duplicates)
    assert(counts.votes == votes)
    assert(counts.registrations == registrations)
    assert(counts.outOfOrder == outOfOrder)
    // every kind is actually present at this size
    assert(Seq(counts.malformed, counts.duplicates, counts.registrations, counts.outOfOrder).forall(_ > 0))
  }

  test("event times stay inside the watermark: no lag beyond MaxLagMs") {
    val (text, _) = render(3L, 100, 20)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
    val times = "\"voting_time\":\"([^\"]+)\"".r.findAllMatchIn(text)
      .map(m => java.time.Instant.from(fmt.parse(m.group(1))).toEpochMilli).toSeq
    assert(times.nonEmpty)
    assert(times.forall(t => t <= T0 + 99 * 10L && t >= T0 - VoteGen.MaxLagMs))
  }
}
