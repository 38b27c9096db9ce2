package perfbench

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics of a traced window, computed from outside the
  * program: streaming progress, state-store progress, the Spark
  * listener, and the benchmark's own spans around calls into the
  * program. Every traced run reports every name in [[Units]]; a layer
  * a workload does not drive reports 0.
  */
object Layers {

  val OperatorModules: Seq[String] = Seq(
    "Dedup", "Similarity", "TextAnalysis", "Multimodal", "Sampling", "RelationalQueries",
    "PqIndex", "IvfIndex", "GraphOps", "Privacy", "other")

  /** Name → unit of every per-layer metric. */
  val Units: Map[String, String] = (Seq(
    "streaming.batches" -> "count",
    "streaming.trigger_ms.p50" -> "ms",
    "streaming.trigger_ms.p99" -> "ms",
    "streaming.add_batch_ms.sum" -> "ms",
    "streaming.latest_offset_ms.sum" -> "ms",
    "streaming.query_planning_ms.sum" -> "ms",
    "streaming.wal_commit_ms.sum" -> "ms",
    "streaming.commit_offsets_ms.sum" -> "ms",
    "streaming.overhead_share" -> "fraction",
    "streaming.idle_share" -> "fraction",
    "state.rows_total.max" -> "count",
    "state.memory_bytes.max" -> "bytes",
    "state.commit_ms.sum" -> "ms",
    "state.rows_updated.sum" -> "count",
    "state.rows_removed.sum" -> "count",
    "state.dropped_by_watermark.sum" -> "count",
    "sources.vote_parse_s" -> "s",
    "sources.corrupt_rows" -> "count",
    "sources.tables_load_s" -> "s",
    "streaming.StreamGate.s" -> "s",
    "streaming.StreamingQueries.s" -> "s",
    "util.persistent_rdds.end" -> "count",
    "util.cached_bytes.max" -> "bytes",
    "util.leaked_checkpoints" -> "count",
    "spark.driver_gap_s" -> "s",
    "gen.offered_rows" -> "count",
    "gen.late_ms.max" -> "ms",
    "live.keepup_ratio" -> "fraction",
    "cpu.process_s" -> "s",
    "host.peak_rss_mb" -> "MB",
    "window.latency_p95_ms" -> "ms",
    "window.samples" -> "count",
    "self.bench_s" -> "s",
    "self.operators_s" -> "s",
    "self.streaming_s" -> "s",
    "self.sources_s" -> "s",
    "self.spark_s" -> "s",
    "trace.overhead_share" -> "fraction",
  ) ++ OperatorModules.map(m => s"operators.$m.s" -> "s") ++
    new SparkLayer().metrics.map { case (k, m) => k -> m.unit }).toMap

  def zeros: Map[String, Metric] = Units.map { case (k, u) => k -> Metric(0.0, u) }

  def streaming(progress: Seq[StreamingQueryProgress]): Map[String, Metric] = {
    import ProgressLog.durMs
    def sumMs(phase: String) = Metric(progress.map(durMs(_, phase)).sum.toDouble, "ms")
    val trig = progress.map(durMs(_, "triggerExecution").toDouble)
    val trigSum = trig.sum
    val lifetimes = progress.groupBy(_.id).values.map { ps =>
      (ps.map(ProgressLog.endMs).max - ps.map(ProgressLog.startMs).min).toDouble
    }.sum
    val add = progress.map(durMs(_, "addBatch")).sum.toDouble
    val ops = progress.flatMap(_.stateOperators)
    def maxOf(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      if (ops.isEmpty) 0.0 else ops.map(f).max.toDouble
    def sumOf(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) = ops.map(f).sum.toDouble
    Map(
      "streaming.batches" -> Metric(progress.size.toDouble, "count"),
      "streaming.trigger_ms.p50" -> Metric(if (trig.isEmpty) 0.0 else Stats.quantile(trig, 0.5), "ms"),
      "streaming.trigger_ms.p99" -> Metric(if (trig.isEmpty) 0.0 else Stats.quantile(trig, 0.99), "ms"),
      "streaming.add_batch_ms.sum" -> sumMs("addBatch"),
      "streaming.latest_offset_ms.sum" -> sumMs("latestOffset"),
      "streaming.query_planning_ms.sum" -> sumMs("queryPlanning"),
      "streaming.wal_commit_ms.sum" -> sumMs("walCommit"),
      "streaming.commit_offsets_ms.sum" -> sumMs("commitOffsets"),
      "streaming.overhead_share" -> Metric(if (trigSum > 0) (trigSum - add) / trigSum else 0.0, "fraction"),
      "streaming.idle_share" ->
        Metric(if (lifetimes > 0) math.max(0.0, 1.0 - trigSum / lifetimes) else 0.0, "fraction"),
      "state.rows_total.max" -> Metric(maxOf(_.numRowsTotal), "count"),
      "state.memory_bytes.max" -> Metric(maxOf(_.memoryUsedBytes), "bytes"),
      "state.commit_ms.sum" -> Metric(sumOf(_.commitTimeMs), "ms"),
      "state.rows_updated.sum" -> Metric(sumOf(_.numRowsUpdated), "count"),
      "state.rows_removed.sum" -> Metric(sumOf(_.numRowsRemoved), "count"),
      "state.dropped_by_watermark.sum" -> Metric(sumOf(_.numRowsDroppedByWatermark), "count"),
    )
  }

  /** Adds micro-batch spans (with their phases as children) and Spark
    * job spans to `tracer`, then returns the Spark-layer metrics, the
    * driver gap and the self time of each layer.
    *
    * A batch's parent and request id come from `batchParent`, given
    * its start; a job hangs under the addBatch phase of its batch
    * (streaming batch-id property), else under the span named by its
    * `pb:<span id>` job description, else under no span.
    */
  def spansAndSelfTimes(
      tracer: Tracer,
      progress: Seq[StreamingQueryProgress],
      jobs: SparkLayer,
      batchParent: Long => (Long, String),
  ): Map[String, Metric] = {
    val addBatchSpan = scala.collection.mutable.Map.empty[(String, Long), Span]
    progress.foreach { p =>
      val startUs = ProgressLog.startMs(p) * 1000L
      val endUs = ProgressLog.endMs(p) * 1000L
      val (parent, req0) = batchParent(startUs)
      val req = if (req0.nonEmpty) req0 else s"batch:${p.name}#${p.batchId}"
      val id = tracer.newId()
      tracer.add(Span(id, parent, s"batch:${p.name}#${p.batchId}", "streaming", startUs, endUs, req))
      var t = startUs
      ProgressLog.Phases.foreach { phase =>
        val d = ProgressLog.durMs(p, phase) * 1000L
        if (d > 0) {
          val s = Span(tracer.newId(), id, phase, "streaming", t, math.min(t + d, endUs), req)
          tracer.add(s)
          if (phase == "addBatch") addBatchSpan((p.id.toString, p.batchId)) = s
          t = math.min(t + d, endUs)
        }
      }
    }
    val byId = tracer.all.map(s => s.id -> s).toMap
    jobs.finishedJobs.foreach { j =>
      val viaBatch = for (q <- j.queryId; b <- j.batchId; s <- addBatchSpan.get((q, b))) yield s
      val viaDesc = if (j.desc.startsWith("pb:")) byId.get(j.desc.stripPrefix("pb:").toLong) else None
      val parent = viaBatch.orElse(viaDesc)
      tracer.add(Span(tracer.newId(), parent.map(_.id).getOrElse(0L), s"job:${j.id}", "spark",
        j.startMs * 1000L, j.endMs * 1000L, parent.map(_.req).getOrElse("")))
    }
    val spans = tracer.all
    // a request's root is its outermost span below the window
    val roots = spans.filter(s => s.req.nonEmpty && !byId.get(s.parent).exists(_.req == s.req))
    val jobsByReq = spans.filter(_.layer == "spark").groupBy(_.req)
    val gapUs = roots.map { r =>
      val js = jobsByReq.getOrElse(r.req, Nil).map(j => (j.startUs, j.endUs))
      r.endUs - r.startUs - Tracer.covered(js, r.startUs, r.endUs)
    }.sum
    val self = Tracer.selfSeconds(spans)
    jobs.metrics ++ Map("spark.driver_gap_s" -> Metric(gapUs / 1e6, "s")) ++
      Seq("bench", "operators", "streaming", "sources", "spark")
        .map(l => s"self.${l}_s" -> Metric(self.getOrElse(l, 0.0), "s"))
  }
}
