package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Scratch profiler (round 14): job-level decomposition of a gate's
  * wall time. Runs the named gates with Bench's warmup discipline,
  * then times one steady-state execution while a listener records
  * every Spark job's wall span and description — the no-UI stand-in
  * for the Jobs tab (guide §1.5/§7.1). Not part of the driver
  * contract.
  */
object ProfileGate {

  private final case class JobRec(id: Int, start: Long, var end: Long, desc: String)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val names = args.toSeq
    require(names.nonEmpty, "usage: ProfileGate <gate> [gate ...]")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(js.jobId, JobRec(js.jobId, js.time, -1L, desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach(_.end = je.time)
      }
    })

    def resetCaches(): Unit = {
      graft.sources.Tables.invalidate()
      graft.streaming.StreamGate.invalidate()
      graft.operators.Dedup.invalidate()
      graft.operators.IvfIndex.invalidate()
      graft.operators.PqIndex.invalidate()
      graft.operators.Similarity.invalidate()
      graft.operators.Sampling.invalidate()
      graft.operators.RelationalQueries.invalidate()
      graft.operators.TextAnalysis.invalidate()
      graft.operators.Multimodal.invalidate()
    }
    def materialize(n: String): Unit =
      SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()

    // Bench-style warmup: sf0.001 pass + one steady-state pass on sfDir
    var warmupFailures = 0
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch {
        case e: Throwable =>
          System.err.println(s"[profilegate] warm-up $n failed: $e")
          warmupFailures += 1
      }
    }
    resetCaches()
    warmupFailures += names.count(n => !Bench.warm("profilegate", n)(materialize(n)))
    println(s"[profilegate] warm-up failures: $warmupFailures")

    names.foreach { n =>
      resetCaches()
      jobs.clear()
      val t0 = System.nanoTime()
      materialize(n)
      val sec = (System.nanoTime() - t0) / 1e9
      val recs = jobs.values().toArray(Array.empty[JobRec]).sortBy(_.start)
      println(f"===== $n total=$sec%.3f s, ${recs.length} jobs =====")
      val base = if (recs.nonEmpty) recs.head.start else 0L
      recs.foreach { r =>
        val dur = if (r.end > 0) (r.end - r.start) / 1e3 else -1.0
        println(
          f"[job ${r.id}%3d] +${(r.start - base) / 1e3}%7.3f s  dur=$dur%7.3f s  ${r.desc.take(110)}")
      }
      // gaps between jobs = driver-side planning/broadcast-build time
      var gap = 0.0
      var lastEnd = base
      recs.foreach { r =>
        if (r.start > lastEnd) gap += (r.start - lastEnd) / 1e3
        lastEnd = math.max(lastEnd, if (r.end > 0) r.end else r.start)
      }
      println(f"[gaps] driver/planning gaps between jobs: $gap%.3f s")
    }
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case e: Throwable => System.err.println(s"[profilegate] StateStore.stop: $e") }
    spark.stop()
  }
}
