package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scratch (round 14): time the PQ family's internal pieces to see
  * where the recall/ndcg gates' seconds go. Not a driver surface.
  */
object ProfilePq {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def time(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"[profilepq] $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    def reset(): Unit = {
      graft.sources.Tables.invalidate()
      graft.operators.IvfIndex.invalidate()
      graft.operators.PqIndex.invalidate()
      graft.operators.Similarity.invalidate()
      graft.operators.Dedup.invalidate()
      graft.operators.TextAnalysis.invalidate()
    }

    // warm everything twice (JIT/codegen), then measure pieces cold
    (1 to 2).foreach { _ =>
      reset()
      noop(graft.operators.PqIndex.adcRecallAtK(spark, sfDir))
    }
    reset()
    time("codebook")(noop(graft.operators.PqIndex.codebook(spark, sfDir)))
    time("codes")(noop(graft.operators.PqIndex.codesTable(spark, sfDir)))
    time("bruteforce_k5")(noop(graft.operators.Similarity.bruteForceTopK(spark, sfDir, 8, 5)))
    time("adcTopK_k5")(noop(graft.operators.PqIndex.adcTopK(spark, sfDir)))
    time("rerank")(noop(graft.operators.PqIndex.adcRerankTopK(spark, sfDir)))
    time("recall_warmartifacts")(noop(graft.operators.PqIndex.adcRecallAtK(spark, sfDir)))
    reset()
    time("recall_cold")(noop(graft.operators.PqIndex.adcRecallAtK(spark, sfDir)))
    spark.stop()
  }
}
