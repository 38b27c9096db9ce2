package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** What a [[VoteGen]] has emitted so far, by kind of line. */
final case class GenCounts(
    lines: Long,
    registrations: Long,
    votes: Long,
    duplicates: Long,
    malformed: Long,
    outOfOrder: Long,
    bytes: Long,
)

/** The benchmark's own seeded vote-topic generator.
  *
  * It writes reference-shaped JSON lines (the seeder's registration
  * records and the simulator's enriched votes, multiplexed on one
  * topic) and never calls into the program, so a change to the
  * program cannot change its own inputs. The same seed and the same
  * sequence of calls give the same bytes.
  *
  * Per line, in this order of precedence:
  *  - `MalformedRate`: a vote truncated mid-record (broken JSON);
  *  - `DuplicateRate`: a byte-identical re-send of one of the last
  *    `RecentVotes` votes, as a simulator re-reading its own output;
  *  - `RegistrationRate`: a registration of a voter who never votes;
  *  - otherwise a vote of a fresh voter, `OutOfOrderRate` of them
  *    stamped up to `MaxLagMs` before the line's creation time.
  *
  * Candidates and states are drawn from skewed weights. Voter ids are
  * unique per generator, so the only duplicate voter ids among votes
  * are re-sends.
  */
final class VoteGen(seed: Long) {
  import VoteGen._

  private val rnd = new SplittableRandom(seed)
  private val idPrefix = f"v${seed & 0xffffffffL}%08x-"
  private val recent = new Array[String](RecentVotes)
  private var nRecent = 0L
  private var nextVoter = 0L
  private var maxTimeMs = Long.MinValue

  private var lines, registrations, votes, duplicates, malformed, outOfOrder, bytes = 0L

  def counts: GenCounts =
    GenCounts(lines, registrations, votes, duplicates, malformed, outOfOrder, bytes)

  /** Append `n` lines created at `nowMs` (epoch ms), each ending in a
    * newline. Event times never exceed `nowMs`.
    */
  def emit(n: Int, nowMs: Long, out: java.lang.StringBuilder): Unit = {
    var i = 0
    while (i < n) {
      val line = nextLine(nowMs)
      out.append(line).append('\n')
      lines += 1
      bytes += line.length + 1
      i += 1
    }
  }

  private def nextLine(nowMs: Long): String = {
    val r = rnd.nextDouble()
    if (r < MalformedRate) {
      malformed += 1
      val v = vote(nowMs, countOrder = false)
      v.substring(0, v.length / 2 + rnd.nextInt(v.length / 4)).stripSuffix("}")
    } else if (r < MalformedRate + DuplicateRate && nRecent > 0) {
      duplicates += 1
      val window = math.min(nRecent, RecentVotes.toLong).toInt
      recent(((nRecent - 1 - rnd.nextInt(window)) % RecentVotes).toInt)
    } else if (r < MalformedRate + DuplicateRate + RegistrationRate) {
      registrations += 1
      voterJson(newVoter()) + "}"
    } else {
      votes += 1
      val v = vote(nowMs, countOrder = true)
      recent((nRecent % RecentVotes).toInt) = v
      nRecent += 1
      v
    }
  }

  private def newVoter(): Long = { nextVoter += 1; nextVoter }

  private def vote(nowMs: Long, countOrder: Boolean): String = {
    val id = newVoter()
    val t =
      if (rnd.nextDouble() < OutOfOrderRate) nowMs - 1 - rnd.nextLong(MaxLagMs)
      else nowMs
    if (countOrder) {
      if (t < maxTimeMs) outOfOrder += 1
      maxTimeMs = math.max(maxTimeMs, t)
    }
    val c = pick(CandidateWeights)
    voterJson(id) +
      s""","candidate_id":"cand-$c","candidate_name":"${CandidateNames(c)}",""" +
      s""""party_affiliation":"${Parties(c % Parties.length)}",""" +
      s""""biography":"A brief biography of candidate $c",""" +
      s""""campaign_platform":"Key campaign promises and platform of candidate $c",""" +
      s""""photo_url":"https://photo.example/cand-$c",""" +
      s""""voting_time":"${TimeFormat.format(Instant.ofEpochMilli(t))}","vote":1}"""
  }

  /** A voter record without its closing brace. */
  private def voterJson(id: Long): String = {
    val state = States(pick(StateWeights))
    val first = FirstNames(rnd.nextInt(FirstNames.length))
    val last = LastNames(rnd.nextInt(LastNames.length))
    val dob = java.time.LocalDate.of(1950, 1, 1).plusDays(rnd.nextInt(18000).toLong)
    s"""{"voter_id":"$idPrefix$id","voter_name":"$first $last","date_of_birth":"$dob",""" +
      s""""gender":"${if (rnd.nextBoolean()) "female" else "male"}","nationality":"US",""" +
      s""""registration_number":"reg-$idPrefix$id",""" +
      s""""address":{"street":"${rnd.nextInt(9999)} Main Street","city":"Springfield",""" +
      s""""state":"$state","country":"United States","postcode":"${f"${rnd.nextInt(99999)}%05d"}"},""" +
      s""""email":"$first.$last.$id@example.test","phone_number":"(555)-${f"${rnd.nextInt(9999)}%04d"}",""" +
      s""""picture":"https://pic.example/$id","registered_age":${18 + rnd.nextInt(70)}"""
  }

  private def pick(cumulative: Array[Double]): Int = {
    val u = rnd.nextDouble() * cumulative.last
    var i = 0
    while (cumulative(i) <= u) i += 1
    i
  }
}

object VoteGen {
  val MalformedRate = 0.005
  val DuplicateRate = 0.03
  val RegistrationRate = 0.15
  val OutOfOrderRate = 0.10
  /** Out-of-order lag stays well inside the pipeline's 1-minute watermark. */
  val MaxLagMs = 30000L
  val RecentVotes = 256

  private def cumulative(w: Double*): Array[Double] = w.scanLeft(0.0)(_ + _).tail.toArray

  val CandidateNames: Array[String] =
    Array("Alex Smith", "Sam Jones", "Jordan Garcia", "Casey Chen", "Riley Okafor")
  val Parties: Array[String] = Array("Management Party", "Savior Party", "Tech Republic Party")
  private val CandidateWeights = cumulative(0.40, 0.25, 0.20, 0.10, 0.05)

  val States: Array[String] = Array(
    "California", "Texas", "Florida", "New York", "Illinois", "Ohio",
    "Georgia", "Oregon", "Nevada", "Maine", "Vermont", "Wyoming")
  private val StateWeights = cumulative(
    0.22, 0.16, 0.12, 0.10, 0.08, 0.07, 0.06, 0.05, 0.05, 0.04, 0.03, 0.02)

  private val FirstNames = Array("Alex", "Sam", "Jordan", "Casey", "Riley", "Quinn", "Avery", "Morgan")
  private val LastNames = Array("Smith", "Jones", "Garcia", "Chen", "Okafor", "Patel", "Kim", "Lopez")

  private val TimeFormat =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(ZoneOffset.UTC)
}
