package graft

import org.apache.spark.sql.DataFrame

/** Scratch profiler (round 14): `graft.Bench`'s exact timing
  * methodology — sf0.001 warmup, untimed steady-state pass on the
  * target corpus, cache resets between passes, min of two timed runs
  * — applied to only the gates named on the command line. The
  * per-gate A/B instrument for optimization work: same-session,
  * same-window numbers comparable to what the full Bench would
  * report, without paying the other ~240 gates per iteration. Not
  * part of the driver contract (Bench.scala is).
  */
object BenchSome {
  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def resetCaches(): Unit = {
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

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val names = args.toSeq
    require(names.nonEmpty, "usage: BenchSome <gate> [gate ...]")
    names.foreach(n => require(SparkEntry.queries.contains(n), s"unknown gate $n"))
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val warmDir = "/root/testdata/sf0.001"
    val smallWarmupFailures =
      names.count(n => !Bench.warm("benchsome", n)(materialize(SparkEntry.queries(n)(spark, warmDir))))
    resetCaches()
    val warmupFailures = smallWarmupFailures +
      names.count(n => !Bench.warm("benchsome", n)(materialize(SparkEntry.queries(n)(spark, sfDir))))
    def timeAll(): Map[String, Double] = {
      resetCaches()
      names.map { n =>
        val t0 = System.nanoTime()
        val ok =
          try { materialize(SparkEntry.queries(n)(spark, sfDir)); true }
          catch {
            case e: Throwable =>
              System.err.println(s"[benchsome] $n FAILED: ${e.getMessage}")
              false
          }
        n -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }.toMap
    }
    val r1 = timeAll()
    val r2 = timeAll()
    names.foreach { n =>
      val (a, b) = (r1(n), r2(n))
      val m = if (a < 0 || b < 0) -1.0 else math.min(a, b)
      println(f"[benchsome] $n min=$m%.3f (run1=$a%.3f run2=$b%.3f)")
    }
    println(s"[benchsome] warm-up failures: $warmupFailures")
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case e: Throwable => System.err.println(s"[benchsome] StateStore.stop: $e") }
    spark.stop()
  }
}
