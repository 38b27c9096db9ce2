package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sketches
import graft.sources.Tables
import graft.util.ScratchDirs

class SketchesSpec extends AnyFunSuite {
  val sf = "/root/testdata/sf0.01"
  lazy val spark: SparkSession = GraftSession
    .builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  test("HLL distinct within declared error of exact") {
    val orders = Tables(spark, sf, "orders")
    val rows = Sketches.distinctProfile(orders, "o_orderstatus", "o_custkey").collect()
    rows.foreach { r =>
      val approx = r.getAs[Long]("approx_distinct").toDouble
      val exact = r.getAs[Long]("exact_distinct").toDouble
      assert(math.abs(approx - exact) / exact < 0.15, s"HLL error too large: $approx vs $exact")
    }
  }

  test("approximate quantiles bracket the exact median") {
    val li = Tables(spark, sf, "lineitem")
    val qs = Sketches.quantileProfile(li, "l_extendedprice", Seq(0.1, 0.5, 0.9))
      .head.getSeq[Double](0)
    assert(qs.length == 3 && qs(0) < qs(1) && qs(1) < qs(2))
    val exactMedian = li.stat.approxQuantile("l_extendedprice", Array(0.5), 0.0).head
    assert(math.abs(qs(1) - exactMedian) / exactMedian < 0.05)
  }

  test("partitioned write enables partition pruning on read") {
    val out = ScratchDirs.create("graft-part").toString
    Tables(spark, sf, "events")
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    val pruned = spark.read.parquet(out).filter(col("event_type") === "click")
    // physical evidence: the scan's partition filters prune to one dir
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_type"), plan.take(500))
    val full = spark.read.parquet(out)
    assert(pruned.count() > 0 && pruned.count() < full.count())
    // the pruned scan must be exactly the single partition directory:
    // same rows as reading that directory alone, and the plan carries
    // the partition filter with no post-scan data filter
    val oneDir = spark.read.parquet(s"$out/event_type=click")
    assert(pruned.count() == oneDir.count())
    assert(!plan.contains("DataFilters: [i"), "filter was applied post-scan instead of pruned")
  }
}
