package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.operators.VotingOps
import graft.sources.VoteIngest
import graft.streaming.VotePipeline

/** The reference pipeline's shape, started through the program's
  * public entry points, and the batch twins its outputs must equal.
  */
object Votes {

  final case class Running(name: String, query: StreamingQuery, capture: VotePipeline.ChangelogCapture)

  private val CandidateKey = Seq("candidate_id", "candidate_name", "party_affiliation", "photo_url")

  /** Key columns of each query's changelog. */
  val Keys: Map[String, Seq[String]] =
    Map("votes" -> CandidateKey, "turnout" -> Seq("state"), "dedup" -> CandidateKey)

  /** Votes per candidate after dropping re-sent votes (keyed by
    * voter). Registrations and malformed lines carry no vote and
    * take no part in the dedup.
    */
  private def dedupVotes(parsed: DataFrame, streaming: Boolean): DataFrame = {
    val votes = parsed.filter(col("vote").isNotNull)
    VotingOps.votesPerCandidate(
      if (streaming) VotingOps.dedupVotesStreaming(votes)
      else VotingOps.dedupFirstPerKey(votes, Seq("voter_id"), Seq(col("voting_time"))))
  }

  /** Start the three update-mode queries over a text source on `dir`:
    * votes per candidate, turnout by state, and deduplicated votes
    * per candidate, each its own capture query with its own state.
    */
  def start(spark: SparkSession, dir: File, tag: String, availableNow: Boolean): Seq[Running] = {
    val parsed = VotePipeline.parsedStream(VoteIngest.readStream(spark, "text", dir.getAbsolutePath))
    val (votes, turnout) = VotePipeline.aggregates(parsed)
    Seq("votes" -> votes, "turnout" -> turnout, "dedup" -> dedupVotes(parsed, streaming = true)).map {
      case (name, agg) =>
        val (q, cap) = VotePipeline.startCaptureQuery(agg, s"pb_${name}_$tag", availableNow)
        Running(name, q, cap)
    }
  }

  /** The final result each query must reach, computed in batch over
    * the same bytes, as sorted row strings.
    */
  def expected(spark: SparkSession, dir: File): Map[String, Seq[String]] = {
    val parsed = VoteIngest.parse(spark.read.text(dir.getAbsolutePath))
    val (votes, turnout) = VotePipeline.aggregates(parsed)
    Map("votes" -> votes, "turnout" -> turnout, "dedup" -> dedupVotes(parsed, streaming = false))
      .map { case (k, df) => k -> rows(df.collect()) }
  }

  def rows(rs: Array[Row]): Seq[String] = rs.map(_.toString).toSeq.sorted

  /** Names of the queries whose latest values differ from `expected`. */
  def mismatches(spark: SparkSession, running: Seq[Running], expected: Map[String, Seq[String]]): Seq[String] =
    running.filter { r => rows(r.capture.latest(spark, Keys(r.name)).collect()) != expected(r.name) }
      .map(_.name)

  /** Parse every line under `dir` keeping corrupt records, and count
    * the lines the parser flagged as corrupt.
    */
  def corruptRows(spark: SparkSession, dir: File): Long =
    VoteIngest.parse(spark.read.text(dir.getAbsolutePath), keepCorrupt = true)
      .filter(col("_corrupt_record").isNotNull).count()

  /** Write a file where a file source can never see it half-written. */
  def publish(stage: File, dir: File, name: String, text: CharSequence, mtimeMs: Option[Long] = None): Unit = {
    val tmp = new File(stage, name)
    Files.write(tmp.toPath, text.toString.getBytes(StandardCharsets.UTF_8))
    mtimeMs.foreach(t => require(tmp.setLastModified(t), s"could not set mtime of $tmp"))
    Files.move(tmp.toPath, new File(dir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Stage `files` files of `lines` lines each from `gen` into `dir`,
    * file k's lines created at `createdMs(k)`. Mtimes a second apart
    * make a file source take the files in order.
    */
  def stage(gen: VoteGen, dir: File, files: Int, lines: Int, createdMs: Int => Long): Unit = {
    val tmp = new File(dir.getParentFile, dir.getName + "-stage")
    dir.mkdirs(); tmp.mkdirs()
    (0 until files).foreach { k =>
      val sb = new java.lang.StringBuilder
      gen.emit(lines, createdMs(k), sb)
      publish(tmp, dir, f"part-$k%06d.txt", sb, Some(createdMs(0) + k * 1000L))
    }
  }

  /** When each file's rows were emitted by all queries: for file k with
    * cumulative end row `ends(k)`, the latest over queries of the end
    * time of the first batch whose cumulative input reaches it. A
    * file source hands out whole files in order, so a batch boundary
    * that falls inside a file means the mapping is wrong, and fails.
    */
  def emissionsMs(ends: IndexedSeq[Long], perQuery: Seq[Seq[StreamingQueryProgress]]): IndexedSeq[Option[Long]] = {
    val endSet = ends.toSet
    val perQueryEmission = perQuery.map { ps =>
      var cum = 0L
      val batchEnds = ps.filter(_.numInputRows > 0).map { p =>
        cum += p.numInputRows
        require(endSet.contains(cum), s"batch ${p.batchId} of ${p.name} ends inside a file (row $cum)")
        (cum, ProgressLog.endMs(p))
      }
      var i = 0
      ends.map { e =>
        while (i < batchEnds.size && batchEnds(i)._1 < e) i += 1
        if (i < batchEnds.size) Some(batchEnds(i)._2) else None
      }
    }
    ends.indices.map { k =>
      val all = perQueryEmission.map(_(k))
      if (all.forall(_.isDefined)) Some(all.map(_.get).max) else None
    }
  }

  /** Rows each query has taken in so far. */
  def inputRows(running: Seq[Running]): Seq[Long] =
    running.map(_.query.recentProgress.map(_.numInputRows).sum)

  def stopAll(running: Seq[Running]): Unit = running.foreach { r =>
    r.query.stop()
    r.query.exception.foreach(e => throw new IllegalStateException(s"query ${r.name} failed", e))
  }
}
