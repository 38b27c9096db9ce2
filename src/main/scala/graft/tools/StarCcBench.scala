package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Adversarial-topology rehearsal for the two connected-components
  * variants: a CHAIN of n edges (0-1-2-…-n) has diameter n, the
  * worst case for min-label propagation (one round per hop — it
  * cannot finish inside any reasonable round budget), while the
  * alternating large-star/small-star variant contracts it in
  * O(log n) rounds (Kiveris et al., "Connected Components in
  * MapReduce and Beyond"). The committed rehearsal measured only the
  * min-label variant (on shallow dup graphs, where it is the right
  * tool); this gives the O(log n) claim a measured number on the
  * topology it exists for.
  *
  * Per point: a chain of n edges from `spark.range` (deterministic,
  * no data files), star CC timed min-of-`runs` with a correctness
  * check per pass (exactly one component labeled 0, n+1 members).
  * Output: one JSON line per n — {"n":…, "sec":…, "rounds":…} — plus
  * a fitted log-log exponent across the points, mirroring
  * BENCH_SCALING.md methodology. Run via:
  * `sbt "runMain graft.tools.StarCcBench 10000 40000 160000 640000"`.
  *
  * Round counting: [[Dedup.connectedComponentsStar]] converges
  * internally; we recover the round count from the driver-visible
  * convergence loop by instrumenting nothing — instead we report
  * ceil(log2(n)) as the theoretical bound and verify wall time
  * scales ~n·log n (sub-quadratic), which is the claim under test.
  */
object StarCcBench {

  def chain(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("doc_a"), (col("id") + 1L).as("doc_b"))

  def main(args: Array[String]): Unit = {
    val ns: Seq[Long] = if (args.nonEmpty) args.map(_.toLong).toSeq else Seq(10000L, 40000L, 160000L, 640000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val runs = 3
    val results = ns.map { n =>
      // warm-up pass (JIT, codegen) at the smallest size semantics
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val labels = Dedup.connectedComponentsStar(chain(spark, n))
        val byLabel = labels.groupBy("cluster_id").count().collect()
        val sec = (System.nanoTime() - t0) / 1e9
        require(
          byLabel.length == 1 && byLabel.head.getLong(0) == 0L && byLabel.head.getLong(1) == n + 1,
          s"chain($n): wrong components ${byLabel.mkString(",")}",
        )
        sec
      }
      val best = times.min
      println(f"""{"n":$n,"sec":$best%.3f,"log2n":${(math.log(n.toDouble) / math.log(2)).ceil.toInt}}""")
      (n, best)
    }
    // log-log exponent across consecutive points + whole range
    val (n0, t0) = results.head
    val (nk, tk) = results.last
    val exp = math.log(tk / t0) / math.log(nk.toDouble / n0)
    println(f"""{"metric":"star_cc_chain_exponent","value":$exp%.2f,"points":${results.size}}""")
    spark.stop()
  }
}
