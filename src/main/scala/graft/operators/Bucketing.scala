package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.RelationalQueries.Num._
import graft.sources.Tables

/** Bucketed warehouse tables: the pre-shuffle lever for repeated
  * co-located joins. Bucketing pays ONE clustered write per table;
  * every subsequent equi-join on the bucket key then needs NO
  * Exchange at all — at 100 TB this turns the recurring orders⋈
  * customer shuffle (the dominant cost of every such join) into a
  * local merge of pre-sorted buckets. The write-once/join-many cost
  * model is the same as the MinHash pair and IVF round-1 artifacts:
  * build once per corpus, ride it from then on.
  */
object Bucketing {

  // the catalog is the memo, so a reset drops the tables written here:
  // a timed run must pay its own clustered write, not ride the one its
  // warm-up made
  private val written = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  graft.util.Artifacts.onReset(this) {
    synchronized {
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach { spark =>
        written.forEach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      }
      written.clear()
    }
  }

  /** Write orders and customer as co-bucketed, bucket-sorted
    * warehouse tables for `dir` (idempotent per session: the catalog
    * is the memo — a second call reuses the existing tables, which is
    * the entire point of bucketing; a reset drops them). Bucket count
    * is a fixed lever: at a real deployment it is sized so a bucket
    * pair fits an executor core's working set.
    */
  def bucketedTables(spark: SparkSession, dir: String, buckets: Int = 8): (String, String) =
    synchronized {
      val tag = graft.util.NamedArtifact.viewName("", dir).drop(1)
      val ordersT = s"graft_orders_bkt_$tag"
      val custT = s"graft_customer_bkt_$tag"
      written.add(ordersT)
      written.add(custT)
      // a previous JVM may have left the managed location behind while
      // this session's catalog starts empty — saveAsTable refuses such
      // an orphan location, so clear it before rebuilding
      def clearOrphanLocation(table: String): Unit = {
        val wh = java.net.URI.create(spark.conf.get("spark.sql.warehouse.dir")).getPath
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(); ()
        }
        rm(new java.io.File(wh, table.toLowerCase(java.util.Locale.ROOT)))
      }
      if (!spark.catalog.tableExists(ordersT)) {
        clearOrphanLocation(ordersT)
        Tables(spark, dir, "orders")
          .write.mode("overwrite")
          .bucketBy(buckets, "o_custkey").sortBy("o_custkey")
          .saveAsTable(ordersT)
      }
      if (!spark.catalog.tableExists(custT)) {
        clearOrphanLocation(custT)
        Tables(spark, dir, "customer")
          .write.mode("overwrite")
          .bucketBy(buckets, "c_custkey").sortBy("c_custkey")
          .saveAsTable(custT)
      }
      (ordersT, custT)
    }

  /** Z-order (Morton) interleave of two bounded keys: bit i of x
    * lands at position 2i, bit i of y at 2i+1. Disjoint bit
    * positions, so summing the shifted bits IS the interleave — all
    * exact integer ops, identical in any engine.
    */
  def morton(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column, bits: Int): org.apache.spark.sql.Column =
    (0 until bits)
      .map { i =>
        shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
          shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
      }
      .reduce(_ + _)

  /** Z-order locality statistics — the measurement behind
    * `OPTIMIZE ... ZORDER BY (x, y)`: bucket rows by the top bits of
    * the Morton code of (partkey, suppkey) and emit each bucket's
    * row count and per-dimension spans, against the same-bucket-count
    * LINEAR layout (range on x alone) as the contrast. Z-order tiles
    * bound BOTH spans (each bucket is a 2^k × 2^k tile of key
    * space), where the linear layout bounds only x — y_span stays
    * the full domain, which is exactly why a two-column
    * range-predicate scan over linear layout reads everything.
    *
    * Scale shape: the Morton code is a map-side integer expression
    * (codegen, no shuffle); both layouts ride ONE corpus scan — each
    * row explodes into its two (layout, bucket) assignments map-side
    * and a single |2·buckets|-key aggregate does the rest (grouping
    * the same scan twice would read the fact table twice; at 100 TB
    * the scan is the cost). At a deployment this ships as the
    * clustering key of the table WRITE (the data-layout twin of
    * [[bucketedTables]]); here the gate measures the locality the
    * layout buys.
    */
  def zorderLocality(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .select(
        (col("l_partkey") % 1024).as("x"),
        (col("l_suppkey") % 1024).as("y"),
      )
      .withColumn("z", morton(col("x"), col("y"), 10))
      .select(
        col("x"),
        col("y"),
        explode(
          array(
            struct(lit("zorder").as("layout"), shiftright(col("z"), 12).as("bucket")),
            struct(lit("linear").as("layout"), shiftright(col("x"), 2).as("bucket")),
          )
        ).as("lb"),
      )
      .groupBy(col("lb.layout").as("layout"), col("lb.bucket").as("bucket"))
      .agg(
        count(lit(1)).as("n_rows"),
        (max(col("x")) - min(col("x")) + 1).as("x_span"),
        (max(col("y")) - min(col("y")) + 1).as("y_span"),
      )

  /** Oracle-gated co-bucketed join: orders⋈customer on the bucket
    * key, reduced to per-segment order counts and exact money totals.
    * The merge hint pins the sort-merge strategy declaratively (the
    * result frame is lazy, so a conf bracket at build time would not
    * survive until execution); with both sides bucket-partitioned on
    * the key, the merge join plans with ZERO Exchange — asserted in
    * BucketingSpec against this exact plan (per-bucket local sorts
    * remain: Spark does not propagate bucket-file sort order, and a
    * local sort is not a shuffle). Results are bucketing-invariant,
    * so the DuckDB oracle is the plain join of the same parquet.
    */
  def bucketedJoinSummary(spark: SparkSession, dir: String): DataFrame = {
    val (ordersT, custT) = bucketedTables(spark, dir)
    spark.table(ordersT)
      .hint("merge")
      .join(spark.table(custT), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_orders"),
        moneyFromCents(sum(cents(col("o_totalprice")))).as("total_price"),
      )
  }
}
