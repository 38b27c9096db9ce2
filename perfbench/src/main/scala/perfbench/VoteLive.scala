package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** `vote-live`: an open loop writes one file of votes every tick into
  * the directory a text source watches, while the reference's three
  * update-mode queries run on the default trigger. At this rate each
  * micro-batch is small, so per-batch overhead (listing, planning,
  * WAL and commit, state-store commit) sets the latency, not row work.
  *
  * An operation is one file. Its latency runs from when the file was
  * due, so a stalled generator or pipeline is charged to the files
  * behind it, to the end of the last of the three queries' batches
  * that include it.
  */
object VoteLive extends Workload {

  /** 500 records/s in 10 files/s. A micro-batch that takes B seconds
    * then holds about 10·B files. A file source lists a batch of 32
    * paths or more with a Spark job of its own, which makes the batch
    * several times slower; at this rate only a batch slower than 3 s
    * reaches that, so a slow stretch of the host does not tip the
    * pipeline over it.
    */
  val LinesPerFile = 50
  val TickMs = 100
  /** The open loop's first seconds are run but not measured, so that
    * the queries' first batches, which load classes and compile the
    * per-batch path, stay out of the window.
    */
  val LeadInSeconds = 10
  val DrainTimeoutMs = 30000L
  /** Files of the set-up warm-up: one micro-batch for each query. */
  val WarmFiles = 4

  private var windows = 0

  def setup(spark: SparkSession, cfg: RunConfig): Unit = {
    val root = new File(cfg.work, "live")
    Host.deleteTree(root)
    windows = 0
    val warm = new File(root, "warm")
    val t0 = System.currentTimeMillis()
    Votes.stage(new VoteGen(~cfg.seed), warm, WarmFiles, LinesPerFile, k => t0 + k * TickMs)
    val running = Votes.start(spark, warm, "warm", availableNow = true)
    running.foreach(_.query.awaitTermination())
    Votes.stopAll(running)
  }

  def measure(spark: SparkSession, cfg: RunConfig, trace: Option[TraceCtx]): Window = {
    windows += 1
    val root = new File(cfg.work, "live")
    val in = new File(root, s"in$windows"); in.mkdirs()
    val stage = new File(root, s"stage$windows"); stage.mkdirs()
    val running = Votes.start(spark, in, s"live$windows", availableNow = false)
    awaitIdle(running)

    val leadIn = LeadInSeconds * 1000 / TickMs
    val nFiles = leadIn + cfg.seconds * 1000 / TickMs
    val gen = new VoteGen(cfg.seed)
    val t0 = System.currentTimeMillis() + 100
    val due = (0 until nFiles).map(k => t0 + k.toLong * TickMs)
    val lateMs = new Array[Long](nFiles)
    val generator = new Thread(() => {
      (0 until nFiles).foreach { k =>
        val wait = due(k) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val sb = new java.lang.StringBuilder
        gen.emit(LinesPerFile, due(k), sb)
        Votes.publish(stage, in, f"part-$k%06d.txt", sb)
        lateMs(k) = System.currentTimeMillis() - due(k)
      }
    }, "perfbench-vote-generator")
    generator.start()
    generator.join()
    val offered = gen.counts.lines
    val windowEnd = t0 + nFiles.toLong * TickMs
    while (Votes.inputRows(running).exists(_ < offered) &&
        System.currentTimeMillis() < windowEnd + DrainTimeoutMs) Thread.sleep(20)
    // once every file is taken in and no batch is in flight, what is
    // live is the queries' loaded state and what the session keeps; a
    // pipeline that fell behind is measured as it is, its files failed
    val drainedMs = System.currentTimeMillis() - windowEnd
    if (Votes.inputRows(running).forall(_ >= offered)) awaitIdle(running)
    System.err.println(s"[perfbench] vote-live: drained ${drainedMs} ms after the window, " +
      s"idle ${System.currentTimeMillis() - windowEnd} ms after it")
    val liveMb = Host.liveMemMb()
    Votes.stopAll(running)

    val perQuery = running.map(_.query.recentProgress.toSeq)
    val ends = (1 to nFiles).map(_.toLong * LinesPerFile)
    val emitted = Votes.emissionsMs(ends, perQuery)
    val measured = leadIn until nFiles
    val latencies = measured.flatMap(k => emitted(k).map(e => (e - due(k)).toDouble))
    val lastEmission = emitted.flatten.maxOption.getOrElse(windowEnd + DrainTimeoutMs)
    val rowsByWindowEnd = perQuery.map(_.filter(ProgressLog.endMs(_) <= windowEnd).map(_.numInputRows).sum).min
    val measuredRows = (nFiles - leadIn).toLong * LinesPerFile

    val expected = Votes.expected(spark, in)
    val wrong = Votes.mismatches(spark, running, expected)
    val (parseS, corrupt) = Parse.timed(spark, in, trace)
    val corruptOk = corrupt == gen.counts.malformed
    if (wrong.nonEmpty || !corruptOk)
      System.err.println(s"[perfbench] vote-live: wrong results in ${wrong.mkString(",")}; " +
        s"corrupt rows $corrupt vs ${gen.counts.malformed} injected")

    Window(
      attempted = measured.size,
      failed = if (wrong.nonEmpty || !corruptOk) measured.size else measured.count(k => emitted(k).isEmpty),
      latenciesMs = latencies,
      throughput = measuredRows / ((lastEmission - due(leadIn)) / 1000.0),
      headline = if (latencies.isEmpty) 0.0 else Stats.median(latencies),
      liveMemMb = liveMb,
      layers = Map(
        "gen.offered_rows" -> Metric(offered.toDouble, "count"),
        "gen.late_ms.max" -> Metric(lateMs.drop(leadIn).max.toDouble, "ms"),
        "live.keepup_ratio" -> Metric(rowsByWindowEnd.toDouble / offered, "fraction"),
        "sources.vote_parse_s" -> Metric(parseS, "s"),
        "sources.corrupt_rows" -> Metric(corrupt.toDouble, "count"),
      ),
    )
  }

  /** Wait until every query has processed all input in its directory
    * and then found nothing new to run, a no-data batch that evicts
    * state included: at the start, so the open loop's first file is
    * not charged with query start-up; at the end, so no batch is in
    * flight while memory is read.
    */
  private def awaitIdle(running: Seq[Votes.Running]): Unit =
    running.foreach(_.query.processAllAvailable())
}

/** The timed parse of a directory of vote lines, kept apart from the
  * measured latency. It is also the malformed-line check.
  */
object Parse {
  def timed(spark: SparkSession, dir: File, trace: Option[TraceCtx]): (Double, Long) = {
    val t0 = System.nanoTime()
    val corrupt = trace match {
      case Some(t) => t.span(spark, "parse", "sources", "parse")(Votes.corruptRows(spark, dir))
      case None => Votes.corruptRows(spark, dir)
    }
    (Stats.secondsSince(t0), corrupt)
  }
}
