package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** One run of one workload in one JVM:
  * `Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE`.
  *
  * Set-up runs [[SetupRounds]] times, each on a fresh session, and
  * `setup_s` is their median. An untraced window then gives the
  * end-to-end metrics. With `--trace 1` a second, traced window
  * follows: it adds the Spark listener and spans, and its per-layer
  * metrics are reported instead, with the difference of its headline
  * time from the untraced window's as the tracing overhead.
  *
  * The result (the one JSON object of the benchmark contract) goes to
  * `--out`; spans and a self-time summary of a traced run go next to
  * it. `--pin-digests FILE` writes the catalog's output digests.
  */
object Main {

  val SetupRounds = 3

  val Workloads: Map[String, Workload] =
    Map("vote-live" -> VoteLive, "catalog" -> Catalog)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val cfg = RunConfig(
      opt("workload"), opt("seed").toLong, opt("seconds").toInt, opt("trace") == "1", new File(opt("work")))
    val workload = Workloads.getOrElse(cfg.workload,
      throw new IllegalArgumentException(s"unknown workload ${cfg.workload}; one of ${Workloads.keys.mkString(", ")}"))
    val out = new File(opt("out"))
    DigestsOut.target = opts.get("pin-digests").map(new File(_))
    cfg.work.mkdirs()

    val result = run(workload, cfg, out)
    val json =
      s"""{"correct": ${result.failed == 0}, "attempted": ${result.attempted}, "failed": ${result.failed}, """ +
        s""""metrics": ${Json.metrics(if (cfg.trace) result.perLayer else result.endToEnd)}}"""
    Files.write(out.toPath, (json + "\n").getBytes(StandardCharsets.UTF_8))
  }

  private def run(workload: Workload, cfg: RunConfig, out: File): RunResult = {
    var spark: SparkSession = null
    val setupS = (1 to SetupRounds).map { _ =>
      if (spark != null) Host.stop(spark)
      val t0 = System.nanoTime()
      spark = Host.session(cfg.work)
      workload.setup(spark, cfg)
      val s = Stats.secondsSince(t0)
      System.err.println(f"[perfbench] set-up round: $s%.2f s")
      s
    }
    try {
      val w0 = System.nanoTime()
      val plain = workload.measure(spark, cfg, None)
      System.err.println(f"[perfbench] window: ${Stats.secondsSince(w0)}%.2f s, headline ${plain.headline}%.4f")
      Files.write(new File(out.getParentFile, out.getName.stripSuffix(".json") + ".latencies.txt").toPath,
        plain.latenciesMs.map(x => f"$x%.3f").mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      val endToEnd = Map(
        "setup_s" -> Metric(Stats.median(setupS), "s"),
        "live_mem_mb" -> Metric(plain.liveMemMb, "MB"),
        "latency_p50_ms" -> Metric(Stats.quantile(plain.latenciesMs, 0.50), "ms"),
        "throughput_per_s" -> Metric(plain.throughput, "1/s"),
      )
      if (!cfg.trace) RunResult(plain.attempted, plain.failed, endToEnd, Map.empty)
      else {
        val (traced, layers) = tracedWindow(spark, workload, cfg, out, plain.headline)
        RunResult(plain.attempted + traced.attempted, plain.failed + traced.failed, endToEnd, layers)
      }
    } finally Host.stop(spark)
  }

  private def tracedWindow(spark: SparkSession, workload: Workload, cfg: RunConfig, out: File, untraced: Double)
      : (Window, Map[String, Metric]) = {
    val tracer = new Tracer
    val sparkLayer = new SparkLayer
    val progress = new ProgressLog
    spark.sparkContext.addSparkListener(sparkLayer)
    spark.streams.addListener(progress)
    @volatile var cachedMax = 0L
    @volatile var sampling = true
    val sampler = new Thread(() => while (sampling) {
      val now = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      cachedMax = math.max(cachedMax, now)
      Thread.sleep(100)
    }, "perfbench-cache-sampler")
    sampler.setDaemon(true)
    sampler.start()

    val windowId = tracer.newId()
    val cpu0 = Host.processCpuSeconds()
    val w = tracer.timed(windowId, 0L, s"window:${cfg.workload}", "bench", "")(
      workload.measure(spark, cfg, Some(TraceCtx(tracer, sparkLayer, windowId))))
    val cpu = Host.processCpuSeconds() - cpu0
    sampling = false
    sampler.join()
    // listener buses deliver asynchronously; let the last events land
    Thread.sleep(1500)
    spark.sparkContext.removeSparkListener(sparkLayer)
    spark.streams.removeListener(progress)
    progress.errors.foreach(e => System.err.println(s"[perfbench] streaming query failed: $e"))

    val overhead = (w.headline - untraced) / untraced
    val spans = Layers.spansAndSelfTimes(
      tracer, progress.all, sparkLayer, w.batchParent.getOrElse((_: Long) => (windowId, "")))
    val layers = Layers.zeros ++ Layers.streaming(progress.all) ++ workload.setupLayers ++ w.layers ++ spans ++
      Map(
        "util.persistent_rdds.end" -> Metric(spark.sparkContext.getPersistentRDDs.size.toDouble, "count"),
        "util.cached_bytes.max" -> Metric(cachedMax.toDouble, "bytes"),
        "cpu.process_s" -> Metric(cpu, "s"),
        "host.peak_rss_mb" -> Metric(Host.peakRssMb(), "MB"),
        "window.latency_p95_ms" -> Metric(Stats.quantile(w.latenciesMs, 0.95), "ms"),
        "window.samples" -> Metric(w.latenciesMs.size.toDouble, "count"),
        "trace.overhead_share" -> Metric(overhead, "fraction"),
      )

    val base = out.getName.stripSuffix(".json")
    tracer.write(new File(out.getParentFile, s"$base.spans.jsonl"))
    val summary = (layers.filter(_._1.startsWith("self.")).toSeq.sortBy(_._1)
      .map { case (k, m) => f"$k%-20s ${m.value}%10.3f s" } :+
      f"tracing overhead: headline $untraced%.4f untraced, ${w.headline}%.4f traced (${overhead * 100}%+.1f%%)")
      .mkString("\n")
    Files.write(new File(out.getParentFile, s"$base.self.txt").toPath,
      (summary + "\n").getBytes(StandardCharsets.UTF_8))
    System.err.println(s"[perfbench] self time by layer (traced window):\n$summary")
    (w, layers)
  }
}
