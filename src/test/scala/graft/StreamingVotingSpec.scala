package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.hadoop.fs.ChecksumException

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.VotingOps
import graft.sources.VoteIngest
import graft.streaming.VotePipeline
import graft.util.ScratchDirs

/** Reference-parity streaming semantics (SURVEY §0, §2.7), driven by
  * MemoryStream with reference-shaped JSON: the heterogeneous topic
  * (registrations + enriched votes), update-mode changelog behavior,
  * null-candidate group, turnout counting both record kinds, and
  * dedup.
  */
class StreamingVotingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession
    .builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  /** Registration record as the seeder produces it (main.py:97-116). */
  def voterJson(id: Int, state: String): String =
    s"""{"voter_id":"v$id","voter_name":"Voter $id","date_of_birth":"1980-01-01",
       |"gender":"female","nationality":"US","registration_number":"reg$id",
       |"address":{"street":"$id Main St","city":"Town","state":"$state",
       |"country":"US","postcode":"0000$id"},"email":"v$id@x.y",
       |"phone_number":"555-$id","picture":"http://pic/$id","registered_age":30}"""
      .stripMargin.replace("\n", "")

  /** Enriched vote = voter ∪ candidate ∪ {voting_time, vote:1}
    * (voting.py:88-91).
    */
  def voteJson(id: Int, state: String, cand: Int, t: String = "2024-10-24 12:00:00"): String = {
    val v = voterJson(id, state)
    v.dropRight(1) +
      s""","candidate_id":"c$cand","candidate_name":"Cand $cand",
         |"party_affiliation":"Party $cand","biography":"bio","campaign_platform":"plat",
         |"photo_url":"http://photo/$cand","voting_time":"$t","vote":1}"""
        .stripMargin.replace("\n", "")
  }

  test("heterogeneous topic: null candidate group, turnout counts both kinds") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    // 3 registrations + 4 votes (2 per candidate across 2 states)
    stream.addData(
      voterJson(1, "Illinois"), voterJson(2, "Ohio"), voterJson(3, "Illinois"),
      voteJson(1, "Illinois", 1), voteJson(2, "Ohio", 1),
      voteJson(3, "Illinois", 2), voteJson(4, "Ohio", 2),
    )
    val parsed = VotePipeline.parsedStream(stream.toDF().select($"value"))
    val (votes, turnout) = VotePipeline.aggregates(parsed)

    val (q1, votesCap) = VotePipeline.startCaptureQuery(votes, "votes_test")
    val (q2, turnoutCap) = VotePipeline.startCaptureQuery(turnout, "turnout_test")
    q1.processAllAvailable(); q2.processAllAvailable()
    q1.stop(); q2.stop()

    val votesFinal = votesCap
      .latest(spark, Seq("candidate_id"))
      .collect().map(r => Option(r.getAs[String]("candidate_id")) ->
        Option(r.getAs[java.lang.Long]("total_votes")).map(_.toLong)).toMap
    // real candidates count their votes; the registration-only rows
    // form a null-candidate group whose SUM(vote) is null (SURVEY §0)
    assert(votesFinal(Some("c1")) == Some(2L))
    assert(votesFinal(Some("c2")) == Some(2L))
    assert(votesFinal(None).isEmpty)

    val turnoutFinal = turnoutCap
      .latest(spark, Seq("state"))
      .collect().map(r => r.getAs[String]("state") -> r.getAs[Long]("count")).toMap
    // turnout counts registrations AND votes: Illinois 2 reg + 2 votes
    assert(turnoutFinal("Illinois") == 4L)
    assert(turnoutFinal("Ohio") == 3L)
  }

  test("update mode emits a changelog; later batches update prior keys") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val parsed = VotePipeline.parsedStream(stream.toDF().select($"value"))
    val votes = VotePipeline.aggregates(parsed)._1
    val (q, cap) = VotePipeline.startCaptureQuery(votes, "changelog_test")

    stream.addData(voteJson(1, "Illinois", 1))
    q.processAllAvailable()
    stream.addData(voteJson(2, "Ohio", 1))
    q.processAllAvailable()
    q.stop()

    val log = cap.changelog(spark)
      .filter($"candidate_id" === "c1").select("total_votes")
      .collect().map(_.getLong(0)).toSeq
    // two emissions for c1: running total 1 then 2 — an upsert changelog
    assert(log == Seq(1L, 2L))
    val fin = cap.latest(spark, Seq("candidate_id"))
    assert(fin.filter($"candidate_id" === "c1").head.getAs[Long]("total_votes") == 2L)
  }

  test("streaming dedup drops duplicate voter_id within watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    // voter v1 votes twice (the reference's re-consumed-own-output bug,
    // voting.py:109-122) — engine dedups explicitly
    stream.addData(
      voteJson(1, "Illinois", 1, "2024-10-24 12:00:00"),
      voteJson(1, "Illinois", 2, "2024-10-24 12:00:30"),
      voteJson(2, "Ohio", 2, "2024-10-24 12:00:10"),
    )
    val parsed = VotePipeline.parsedStream(stream.toDF().select($"value"))
    val deduped = VotingOps.dedupVotesStreaming(parsed.filter($"vote".isNotNull))
    val votes = VotingOps.votesPerCandidate(deduped)
    val (q, cap) = VotePipeline.startCaptureQuery(votes, "dedup_test")
    q.processAllAvailable()
    q.stop()
    val fin = cap.latest(spark, Seq("candidate_id"))
    val total = fin.agg(sum("total_votes")).head.getLong(0)
    assert(total == 2L, s"expected 2 votes after dedup, got $total")
  }

  test("ChangelogCapture row cap fails an unbounded-key stream loudly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    // per-voter keys: every record is a distinct group — the unbounded
    // key shape the capture harness must REJECT, not buffer
    stream.addData((1 to 10).map(i => voteJson(i, "Ohio", 1)))
    val parsed = VotePipeline.parsedStream(stream.toDF().select($"value"))
    val perVoter = parsed.groupBy($"voter_id").agg(count(lit(1)).as("n"))
    val (q, _) = VotePipeline.startCaptureQuery(perVoter, "cap_test", maxRowsPerBatch = 3)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination()
    }
    q.stop()
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(
      messages(err).exists(_.contains("maxRowsPerBatch")),
      s"expected the row-cap guard to fire, got: ${messages(err).mkString(" | ")}")
  }

  test("a capture query runs every state operator in one partition and leaves the session's value") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.shuffle.partitions"
    assert(spark.conf.get(key) == "4")
    val stream = MemoryStream[String]
    stream.addData(voteJson(1, "Ohio", 1), voteJson(1, "Ohio", 1), voteJson(2, "Ohio", 2))
    val parsed = VotePipeline.parsedStream(stream.toDF().select($"value"))
    // two state operators: the voter dedup and the per-candidate count
    val votes = VotingOps.votesPerCandidate(VotingOps.dedupVotesStreaming(parsed.filter($"vote".isNotNull)))
    val (q, _) = VotePipeline.startCaptureQuery(votes, "one_partition_test")
    try {
      assert(spark.conf.get(key) == "4", "start() returned with the capture's setting left on the session")
      q.processAllAvailable()
      val ops = q.lastProgress.stateOperators
      assert(ops.length == 2, ops.map(_.operatorName).mkString(", "))
      assert(ops.forall(_.numShufflePartitions == 1), ops.map(o => o.operatorName -> o.numShufflePartitions).mkString(", "))
    } finally q.stop()
    assert(spark.conf.get(key) == "4")
  }

  test("a capture query runs one Spark job per micro-batch and matches its batch twin") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val base = ScratchDirs.create("graft-jobs-per-batch")
    val input = Files.createDirectory(base.resolve("in"))
    (0 until 3).foreach { k =>
      val lines = (1 to 5).map(i => voteJson(10 * k + i, "Ohio", i % 3))
      Files.move(Files.write(base.resolve(s"$k.tmp"), lines.asJava), input.resolve(s"$k.json"))
    }
    // (query id, batch id) of every job, or "marker" for the barrier job
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(ps => Option(ps.getProperty(k))).getOrElse("")
        jobs.add(prop("sql.streaming.queryId") -> prop("streaming.sql.batchId"))
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val raw = VoteIngest.readStream(spark, "text", input.toString, Map("maxFilesPerTrigger" -> "1"))
      val votes = VotePipeline.aggregates(VotePipeline.parsedStream(raw))._1
      val (q, cap) = VotePipeline.startCaptureQuery(votes, "jobs_per_batch_test", availableNow = true)
      q.awaitTermination()
      // the listener bus delivers in order: once the marker job is
      // seen, every job of the finished query has been counted
      spark.sparkContext.setLocalProperty("sql.streaming.queryId", "marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty("sql.streaming.queryId", null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.asScala.exists(_._1 == "marker") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.asScala.exists(_._1 == "marker"), "the listener never saw the marker job")

      val perBatch = jobs.asScala.toSeq.filter(_._1 == q.id.toString).groupBy(_._2).view.mapValues(_.size).toMap
      val dataBatches = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId.toString).toSeq
      assert(dataBatches.size == 3, q.recentProgress.map(p => p.batchId -> p.numInputRows).mkString(", "))
      assert(dataBatches.forall(b => perBatch.get(b).contains(1)), s"jobs per batch: $perBatch")
      assert(perBatch.values.forall(_ == 1), s"jobs per batch: $perBatch")

      def sorted(df: org.apache.spark.sql.DataFrame) =
        df.select("candidate_id", "total_votes").collect().map(_.toString).toSeq.sorted
      val batch = VotingOps.votesPerCandidate(VoteIngest.parse(spark.read.text(input.toString)))
      assert(sorted(cap.latest(spark, Seq("candidate_id"))) == sorted(batch))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("malformed JSON is captured, not silently dropped") {
    import spark.implicits._
    val df = Seq("{not json at all", voterJson(1, "Illinois")).toDF("value")
    val parsed = VoteIngest.parse(df, keepCorrupt = true)
    assert(parsed.filter($"_corrupt_record".isNotNull).count() == 1)
    assert(parsed.filter($"voter_id" === "v1").count() == 1)
  }

  test("a corrupted state file fails the restart loudly instead of serving a wrong count") {
    import scala.jdk.CollectionConverters._
    val base = ScratchDirs.create("graft-state-corrupt")
    val input = Files.createDirectory(base.resolve("in"))
    val checkpoint = base.resolve("ckpt").toString
    def addFile(n: Int, lines: String*): Unit = {
      val tmp = Files.write(base.resolve(s"$n.tmp"), lines.asJava)
      Files.move(tmp, input.resolve(s"$n.json"))
      ()
    }
    // the update-mode changelog each run of the query delivers
    val delivered = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def start() = VotePipeline.aggregates(VotePipeline.parsedStream(spark.readStream.text(input.toString)))._1
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = batch.select("candidate_id", "total_votes").collect()
        delivered.synchronized { delivered ++= rows.map(r => r.getString(0) -> r.getLong(1)) }
        ()
      }
      .start()
    def totals(): Map[String, Long] = delivered.synchronized(delivered.groupMapReduce(_._1)(_._2)(math.max))
    try {
      addFile(0, voteJson(1, "Ohio", 1), voteJson(2, "Ohio", 2))
      val q1 = start()
      q1.processAllAvailable()
      addFile(1, voteJson(3, "Ohio", 1))
      q1.processAllAvailable()
      q1.stop()
      assert(totals() == Map("c1" -> 2L, "c2" -> 1L))
      delivered.synchronized(delivered.clear())

      // unload the state providers, so that the restart reads the files
      StateStore.stop()
      val deltas = Files.walk(Paths.get(checkpoint, "state", "0")).iterator().asScala
        .filter(_.getFileName.toString == "2.delta").toSeq
      assert(deltas.nonEmpty, "no committed state delta for the second batch")
      val target = deltas.maxBy(Files.size(_))
      val bytes = Files.readAllBytes(target)
      bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x10).toByte
      Files.write(target, bytes)

      addFile(2, voteJson(4, "Ohio", 1))
      val q2 = start()
      val err = intercept[StreamingQueryException](q2.processAllAvailable())
      q2.stop()
      assert(totals().isEmpty, s"a batch was delivered over corrupt state: ${totals()}")
      def causes(t: Throwable): Seq[Throwable] = Option(t).toSeq.flatMap(e => e +: causes(e.getCause))
      assert(
        causes(err).exists(e => e.isInstanceOf[ChecksumException] ||
          Option(e.getMessage).exists(_.contains("CHECKPOINT_FILE_CHECKSUM_VERIFICATION_FAILED"))),
        s"expected a checksum failure, got: ${causes(err).map(_.toString).mkString(" | ")}")
    } finally {
      spark.streams.active.foreach(_.stop())
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("batch and streaming votesPerCandidate agree") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val records = (1 to 50).map(i => voteJson(i, if (i % 2 == 0) "Ohio" else "Illinois", i % 3))
    val stream = MemoryStream[String]
    stream.addData(records)
    val parsed = VotePipeline.parsedStream(stream.toDF().select($"value"))
    val (q, cap) = VotePipeline.startCaptureQuery(VotePipeline.aggregates(parsed)._1, "agree_test")
    q.processAllAvailable(); q.stop()
    val streamed = cap
      .latest(spark, Seq("candidate_id"))
      .select("candidate_id", "total_votes")
    val batch = VotingOps
      .votesPerCandidate(VoteIngest.parse(records.toDF("value")))
      .select("candidate_id", "total_votes")
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }
}
