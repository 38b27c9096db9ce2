package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Batch relational query catalog over the parquet corpus.
  *
  * These are the batch twins of the voting aggregations plus the
  * general relational capability set (joins, sorts, windows, rollup,
  * set ops, semi/anti joins, scalar functions) — each hash-matched
  * against a DuckDB oracle by the driver (SparkEntry.oracleSql).
  *
  * Determinism rules used throughout (the oracle compare is exact,
  * so cross-engine floating-point drift must be impossible):
  *  - monetary aggregates are computed in EXACT decimal arithmetic
  *    (inputs have ≤2 decimals), then cast decimal(17,2)→double —
  *    the unscaled value fits in 2^53, so both engines produce the
  *    bit-identical double (see [[Num]]);
  *  - never round() a double: Spark (BigDecimal HALF_UP on the
  *    shortest string repr) and DuckDB (std::round on the binary
  *    value) disagree on boundary values;
  *  - every top-N has a unique total sort key (tie-break on the key);
  *  - timestamps are emitted as formatted strings, never raw
  *    (parquet ns vs µs precision differs between engines).
  *
  * Scale notes are on each query — the plans are chosen so the same
  * code is the right plan at 100 TB (broadcast the dims, partial agg
  * before shuffle, TakeOrderedAndProject for top-N).
  */
object RelationalQueries {

  /** Cross-engine numeric determinism helpers.
    *
    * Verified against DuckDB 1.0 empirically: decimal→decimal CAST
    * truncates in DuckDB but rounds HALF_UP in Spark — never cast
    * decimals down. round(decimal, 2) rounds half-away-from-zero in
    * both engines (Spark HALF_UP on decimals = away from zero for
    * both signs), and a scale-2 decimal < 2^53/100 converts to double
    * with a single correctly-rounded step in both. So: exact decimal
    * sum → round(·,2) → cast double is bit-stable cross-engine.
    */
  object Num {
    /** Exact fixed-point view of a ≤2-decimal double measure. Narrow
      * precisions keep products within decimal(38,·) so arithmetic
      * stays exact in both engines.
      */
    def dec2(c: Column): Column = c.cast("decimal(12,2)")

    /** Exact fixed-point view of a small ≤2-decimal factor (1±rate). */
    def frac(c: Column): Column = c.cast("decimal(4,2)")

    // ---- scaled-long money -------------------------------------------
    // The decimal cast is the verified cross-engine HALF_UP quantizer
    // (see scaladoc above); per-ROW arithmetic after it is exact
    // 64-bit integer math, which evaluates as a codegen primitive
    // instead of boxing through 128-bit decimals (~25% on the
    // scan-aggregate queries; measured in round 2).
    //
    // Overflow headroom is PER SCALE, and long sums only hold at the
    // base scale:
    //  - cents (×10²):  Long sums are exact to ±9.2e16 cents =
    //    ±9.2e14 dollars per group — TPC-H q1-style group sums are
    //    ~5.4e10 dollars at sf1, so the long path is safe past
    //    sf10⁶ (≫ the 100 TB ≈ sf10⁵ design point).
    //  - product scales (×10⁴ from cents×hundredths, ×10⁶ from two
    //    factors): a Long sum overflows at ±9.2e14 / ±9.2e12 dollars
    //    per group — q1 crosses the ×10⁶ bound near sf150-200, far
    //    BELOW the design point. Product sums therefore go through
    //    [[sumScaled]]: the per-row product stays a cheap exact long,
    //    but the aggregation buffer is decimal(38,0) (exact to 1e38 —
    //    ≈1e32 dollars at ×10⁶ scale), and only the final rounded
    //    cents value returns to long. Under ANSI a hypothetical
    //    overflow raises rather than wrapping, in both paths.

    /** Per-row quantization to integer cents (exact). */
    def cents(c: Column): Column = (dec2(c) * 100).cast("long")

    /** Per-row 1±rate factor in integer hundredths (exact). */
    def hundredths(c: Column): Column = (frac(c) * 100).cast("long")

    /** Exact double from an integer-cents sum. A 2-decimal sum is
      * already at output scale (round is a no-op on it), and the IEEE
      * division by 100 returns the nearest double of the exact
      * rational — identical to DuckDB's decimal→double cast. Safe for
      * negative sums (no rounding step).
      */
    def moneyFromCents(c: Column): Column = c.cast("double") / 100.0

    /** Exact sum of a scaled-long product: the rows are longs (codegen
      * multiply) and the accumulator is a primitive signed-128
      * two-long buffer (native [[graft.functions.SumScaled128]]) — no
      * Long overflow at any corpus size, no per-row Decimal boxing.
      * [[sumScaledComposed]] is the built-in formulation it must
      * equal (pinned in UtilitiesSpec, including ±2⁶³ crossings).
      */
    def sumScaled(c: Column): Column = graft.functions.SumScaled128(c)

    /** Composed-builtins spec twin of [[sumScaled]]: exact, but the
      * aggregation buffer boxes a 128-bit Decimal per row.
      */
    def sumScaledComposed(c: Column): Column = sum(c.cast("decimal(38,0)"))

    /** round(·, 2) of a sum carried at `down`×cents scale (products
      * of cents × hundredths are at down=100; × two factors at
      * down=10000), in pure integral math: half-away-from-zero — the
      * round semantics of BOTH engines — then exact double. Accepts
      * the decimal(38,0) [[sumScaled]] result (IntegralDivide is
      * exact on decimals and returns a long, which always fits: the
      * rounded value is plain cents); a double-division shortcut
      * would lose exactness past 2^53.
      */
    def moneyFromScaled(s: Column, down: Long): Column = {
      val half = lit(down / 2)
      val centsCol =
        when(s >= 0, intDiv(s + half, down)).otherwise(-intDiv(-s + half, down))
      centsCol.cast("double") / 100.0
    }

    /** Truncating integral divide on longs (positive operands here). */
    private def intDiv(a: Column, b: Long): Column =
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(a),
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(lit(b)),
        )
      )
  }
  import Num._

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables(spark, dir, name)

  /** Twin of reference A1 (votes per candidate, spark-streaming.py:
    * 75-76): grouped SUM with a companion COUNT over the event-stream
    * table. Partial/final hash aggregate; shuffle bounded by
    * |event_type| = 5 keys, not data volume.
    */
  def votesPerCandidate(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy("event_type")
      .agg(
        moneyFromCents(sum(cents(col("value")))).as("total_votes"),
        count(lit(1)).as("n_events"),
      )

  /** Twin of reference A2 (turnout by location) + J1 (stream-dim
    * enrichment, voting.py:86-91): events joined to the
    * customer→nation dimension, counted per nation.
    *
    * Broadcast discipline: `nation` is a BOUNDED dimension (fixed
    * 25-row domain at every scale factor) and keeps its static hint.
    * `customer` is the USER dimension — it scales with the corpus
    * (billions of rows at the 100 TB design point), so the
    * events⋈customer side carries NO static hint: AQE picks broadcast
    * from the measured size while it fits and degrades to a shuffle
    * join instead of OOMing when it doesn't (same reasoning that
    * removed the broadcast(cc) pin from keepBestDedup). Pinned in
    * PlanShapeSpec: no ResolvedHint may wrap a corpus-scaling
    * relation in this plan.
    */
  def turnoutByLocation(spark: SparkSession, dir: String): DataFrame = {
    val events = t(spark, dir, "events")
    val dim = t(spark, dir, "customer")
      .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    events
      .join(dim, events("user_id") === dim("c_custkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("turnout"))
  }

  /** Twin of reference J2 (UNIQUE(voter_id) dedup, main.py:59):
    * deterministic keep-first per user (min event_id = earliest
    * insert), then aggregate. One shuffle on the dedup key; at scale
    * this is the unavoidable exchange, everything else is map-side.
    */
  def dedupVotes(spark: SparkSession, dir: String): DataFrame = {
    val firstPerUser = VotingOps.dedupFirstPerKey(
      t(spark, dir, "events"),
      key = Seq("user_id"),
      order = Seq(col("event_id")),
    )
    firstPerUser
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_first_events"),
        moneyFromCents(sum(cents(col("value")))).as("first_event_value"),
      )
  }

  /** Windowed variant of A1 — tumbling 1-hour event-time windows
    * (the honest version of the reference's inert watermark, SURVEY
    * §2.7 ST1). Window start emitted as a formatted string.
    */
  def votesWindowed(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(moneyFromCents(sum(cents(col("value")))).as("total_value"), count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"),
        col("total_value"),
        col("n"),
      )

  /** Sliding-window variant of [[votesWindowed]]: 1-hour windows
    * every 30 minutes, so each event lands in exactly two overlapping
    * windows — the smoothing/trend shape tumbling windows can't
    * express. Spark's `window(ts, len, slide)` replicates rows into
    * their windows BEFORE the aggregate; state and shuffle scale by
    * the overlap factor (len/slide = 2 here), which is the knob to
    * budget at scale.
    */
  def votesSlidingWindow(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(moneyFromCents(sum(cents(col("value")))).as("total_value"), count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"),
        col("total_value"),
        col("n"),
      )

  /** TPC-H Q1-style pricing summary: scan-heavy filter + wide
    * aggregate. Predicate and the projection both push to the parquet
    * scan; aggregate has 6 groups — shuffle is trivial.
    */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    // quantize each measure to scaled longs ONCE in a projection (an
    // agg-side formulation would re-run the decimal cast per
    // referencing aggregate), then aggregate as primitive longs
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .select(
        col("l_returnflag"),
        col("l_linestatus"),
        cents(col("l_quantity")).as("__q"),
        cents(col("l_extendedprice")).as("__p"),
        cents(col("l_discount")).as("__d"),
        hundredths(lit(1) - col("l_discount")).as("__df"),
        hundredths(lit(1) + col("l_tax")).as("__tf"),
      )
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        moneyFromCents(sum(col("__q"))).as("sum_qty"),
        moneyFromCents(sum(col("__p"))).as("sum_base_price"),
        moneyFromScaled(sumScaled(col("__p") * col("__df")), 100L).as("sum_disc_price"),
        moneyFromScaled(sumScaled(col("__p") * col("__df") * col("__tf")), 10000L).as("sum_charge"),
        (moneyFromCents(sum(col("__q"))) / count(lit(1))).as("avg_qty"),
        (moneyFromCents(sum(col("__p"))) / count(lit(1))).as("avg_price"),
        (moneyFromCents(sum(col("__d"))) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"),
      )

  /** TPC-H Q3-style shipping priority: 3-way join + top-10 by
    * revenue. orders⋈lineitem is the one real shuffle, on the join
    * key both sides. Top-N plans as TakeOrderedAndProject — no global
    * sort at scale.
    *
    * Broadcast discipline: `customer` scales with the corpus, and the
    * BUILDING-segment filter only keeps ~1/5 of it — at the 100 TB
    * design point that is still hundreds of millions of rows, so a
    * static broadcast hint would be a forced OOM, not a fast path. No
    * hint: AQE broadcasts from the measured post-filter size while it
    * fits and falls back to a shuffle join when it doesn't (same rule
    * as turnoutByLocation). Pinned by the PlanShapeSpec global sweep.
    */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord = t(spark, dir, "orders").filter(col("o_orderdate") < lit("1998-01-01"))
    val li = t(spark, dir, "lineitem").filter(col("l_shipdate") > lit("1998-01-01"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(moneyFromScaled(sumScaled(cents(col("l_extendedprice")) * hundredths(lit(1) - col("l_discount"))), 100L).as("revenue"))
      .select(
        col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("o_orderpriority"),
        col("revenue"),
      )
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-style local-supplier volume: 6-table join. Only the
    * FIXED-domain dims (region = 5 rows, nation = 25 rows at every
    * scale factor) keep static broadcast hints. `supplier` (sf×10k)
    * and `customer` (sf×150k) both scale with the corpus — at the
    * 100 TB design point a forced broadcast of either is an OOM, so
    * they carry no hint and AQE picks broadcast-vs-shuffle from
    * measured sizes (turnoutByLocation rule; pinned by the
    * PlanShapeSpec global sweep). The only unavoidable big shuffle is
    * orders⋈lineitem. Group key |nations| — tiny.
    */
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val region = t(spark, dir, "region").filter(col("r_name") === "ASIA")
    val nation = t(spark, dir, "nation")
    val cust = t(spark, dir, "customer")
    val supp = t(spark, dir, "supplier")
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1999-01-01"))
    val li = t(spark, dir, "lineitem")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(
        cust,
        col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"),
      )
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(moneyFromScaled(sumScaled(cents(col("l_extendedprice")) * hundredths(lit(1) - col("l_discount"))), 100L).as("revenue"))
  }

  /** TPC-H Q7-style volume shipping: bilateral trade between two
    * nations — revenue by (supplier nation, customer nation, ship
    * year) for the two directed pairs. The 6-table shape exercises a
    * join where BOTH sides of the nation predicate matter (supplier's
    * nation vs customer's nation), unlike Q5's same-nation equality.
    *
    * Scale shape: both `nation` legs are pre-filtered to the 2-row
    * pair domain and keep static broadcast hints (fixed domain at
    * every scale). `supplier` and `customer` scale with the corpus —
    * no hints; AQE chooses from measured sizes (turnoutByLocation
    * rule, pinned by the PlanShapeSpec sweep). Joining the 2-row
    * nation dims into supplier/customer FIRST shrinks both to ~2/25
    * before they meet the fact tables, so the one unavoidable big
    * shuffle stays lineitem⋈orders. Group key is 2·2·|years| — tiny.
    */
  def q7VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val pair = Seq("NATION_10", "NATION_12")
    val n1 = t(spark, dir, "nation").filter(col("n_name").isin(pair.map(lit(_)): _*))
    val n2 = t(spark, dir, "nation")
      .filter(col("n_name").isin(pair.map(lit(_)): _*))
      .select(col("n_nationkey").as("n2_nationkey"), col("n_name").as("n2_name"))
    val supp = t(spark, dir, "supplier")
      .join(broadcast(n1), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = t(spark, dir, "customer")
      .join(broadcast(n2), col("c_nationkey") === col("n2_nationkey"))
      .select(col("c_custkey"), col("n2_name").as("cust_nation"))
    val li = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1998-01-01"))
    li.join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(moneyFromScaled(sumScaled(cents(col("l_extendedprice")) * hundredths(lit(1) - col("l_discount"))), 100L).as("revenue"))
  }

  /** TPC-H Q9-style product-type profit: revenue from parts whose
    * name matches a pattern, by supplier nation and order year (the
    * testdata ships no partsupp table, so profit is the discounted
    * revenue without the supplycost leg — the join/aggregation shape
    * is Q9's).
    *
    * Scale shape: `part` scales with the corpus AND the LIKE filter's
    * selectivity is data-dependent — no static hint; AQE measures the
    * post-filter size and broadcasts only while it fits. The
    * lineitem⋈part join runs BEFORE orders so the pattern filter
    * prunes the fact table ahead of the big lineitem⋈orders shuffle.
    * `nation` keeps its fixed-domain hint. Group key |nations|·|years|.
    */
  def q9ProductProfit(spark: SparkSession, dir: String): DataFrame = {
    val part = t(spark, dir, "part").filter(col("p_name").like("%bolt%"))
    val supp = t(spark, dir, "supplier")
    val nation = t(spark, dir, "nation")
    val li = t(spark, dir, "lineitem")
    li.join(part, col("l_partkey") === col("p_partkey"))
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(moneyFromScaled(sumScaled(cents(col("l_extendedprice")) * hundredths(lit(1) - col("l_discount"))), 100L).as("revenue"))
  }

  /** Global top-N: ORDER BY + LIMIT with a unique tie-break.
    * TakeOrderedAndProject: each partition keeps N rows, driver
    * merges — no full sort, scales to any input size.
    */
  def topOrders(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)

  /** Window-function coverage: per-nation supplier revenue ranking,
    * top 3 per nation. Rank sort key is unique (exact-decimal
    * revenue, then suppkey) so the result is deterministic. Revenue
    * is pre-aggregated first, so the window input is |suppliers|
    * rows, not |lineitem|.
    *
    * Broadcast discipline: `supplier` scales with the corpus (sf×10k)
    * so it carries no static hint — AQE sees both sides of
    * rev⋈supplier are |suppliers|-bounded and chooses; a forced hint
    * would OOM at the 100 TB design point. `nation` is a fixed 25-row
    * domain and keeps its hint. Pinned by the PlanShapeSpec global
    * sweep.
    */
  def supplierRank(spark: SparkSession, dir: String): DataFrame = {
    val supp = t(spark, dir, "supplier")
    val nation = t(spark, dir, "nation")
    val rev = t(spark, dir, "lineitem")
      .groupBy("l_suppkey")
      .agg(moneyFromScaled(sumScaled(cents(col("l_extendedprice")) * hundredths(lit(1) - col("l_discount"))), 100L).as("revenue"))
    val w = Window.partitionBy("s_nationkey").orderBy(col("revenue").desc, col("l_suppkey"))
    rev
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .withColumn("rnk", rank().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("l_suppkey").as("suppkey"), col("revenue"), col("rnk"))
  }

  /** ROLLUP coverage: hierarchical subtotals (flag → flag+status →
    * grand total). Spark plans rollup as Expand + one aggregate —
    * a single shuffle regardless of grouping-set count.
    */
  def rollupSales(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(moneyFromCents(sum(cents(col("l_quantity")))).as("sum_qty"), count(lit(1)).as("n"))

  /** Set-operation coverage: UNION / INTERSECT / EXCEPT between two
    * customer key sets, reduced to tagged counts (small deterministic
    * output regardless of scale).
    */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    def buyers = t(spark, dir, "orders").select(col("o_custkey").as("k")).distinct()
    def rich = t(spark, dir, "customer")
      .filter(col("c_acctbal") > 5000)
      .select(col("c_custkey").as("k"))
    def tagged(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n")).select(lit(name).as("op"), col("n"))
    tagged("union", buyers.union(rich).distinct())
      .unionAll(tagged("intersect", buyers.intersect(rich)))
      .unionAll(tagged("except", buyers.except(rich)))
  }

  /** Semi/anti-join coverage: customers with vs without orders —
    * Spark's native EXISTS / NOT EXISTS plans (left_semi/left_anti).
    */
  def semiAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val ord = t(spark, dir, "orders").select("o_custkey")
    val semi = cust
      .join(ord, cust("c_custkey") === ord("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("n"))
      .select(lit("with_orders").as("kind"), col("n"))
    val anti = cust
      .join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n"))
      .select(lit("without_orders").as("kind"), col("n"))
    semi.unionAll(anti)
  }

  /** Scalar-function coverage (reference §2.6 F5-F7): string concat,
    * upper, substring, length, modulo, conditional, date parts.
    * Pure map-side projection — no shuffle at all.
    */
  def scalarFunctions(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter(col("o_orderkey") % 100 === 0)
      .select(
        col("o_orderkey"),
        concat_ws("-", col("o_orderstatus"), col("o_orderpriority")).as("status_priority"),
        upper(col("o_orderpriority")).as("upper_priority"),
        substring(col("o_orderpriority"), 1, 1).as("priority_digit"),
        length(col("o_orderpriority")).as("priority_len"),
        pmod(col("o_orderkey"), lit(7)).as("key_mod7"),
        when(col("o_totalprice") > 100000, "big").otherwise("small").as("size_class"),
        year(col("o_orderdate")).as("order_year"),
        month(col("o_orderdate")).as("order_month"),
      )

  /** Outer-join coverage: left join (buyers vs non-buyers per
    * segment) and full outer join (key reconciliation), reduced to
    * deterministic aggregates.
    *
    * Broadcast discipline: the distinct-buyer set scales with the
    * corpus (|active customers|), so it carries no static hint — a
    * forced broadcast of it is an OOM at the 100 TB design point.
    * AQE picks broadcast while the measured size fits and falls back
    * to a shuffle join when it doesn't. Pinned by the PlanShapeSpec
    * global sweep.
    */
  def outerJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val buyers = t(spark, dir, "orders").select(col("o_custkey")).distinct()
    cust
      .join(buyers, cust("c_custkey") === buyers("o_custkey"), "left")
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_customers"),
        count(col("o_custkey")).as("n_buyers"),
        sum(when(col("o_custkey").isNull, 1).otherwise(0)).as("n_non_buyers"),
      )
  }

  /** Full-outer-join key reconciliation: which side(s) each key
    * appears on. */
  def fullOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").select(col("c_custkey")).distinct()
    val o = t(spark, dir, "orders").select(col("o_custkey")).distinct()
    c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
      .select(
        when(col("c_custkey").isNull, "order_only")
          .when(col("o_custkey").isNull, "customer_only")
          .otherwise("both")
          .as("side")
      )
      .groupBy("side")
      .agg(count(lit(1)).as("n"))
  }

  /** CUBE coverage: all grouping sets over (flag, status). */
  def cubeSales(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(moneyFromCents(sum(cents(col("l_quantity")))).as("sum_qty"), count(lit(1)).as("n"))

  /** HAVING coverage: post-aggregation predicate on the aggregate. */
  def havingFilter(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_suppkey")
      .agg(moneyFromScaled(sumScaled(cents(col("l_extendedprice")) * hundredths(lit(1) - col("l_discount"))), 100L).as("revenue"))
      .filter(col("revenue") > 1000000)

  /** As-of enrichment: each event picks up the customer's most
    * recent order at or before the event time (backward inclusive).
    * Right side pre-aggregated to one row per (custkey, orderdate)
    * for determinism. See [[AsofJoin]] for the single-shuffle plan.
    */
  def asofJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val events = t(spark, dir, "events").select("event_id", "user_id", "ts")
    val od = t(spark, dir, "orders")
      .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
      .agg(max("o_orderkey").as("last_order_key"))
    AsofJoin
      .asofJoin(
        events,
        od,
        key = "user_id",
        leftTime = col("ts"),
        rightTime = col("o_orderdate"),
        payloadCols = Seq("o_orderdate", "last_order_key"),
      )
      .select(
        col("event_id"),
        col("user_id"),
        date_format(col("asof.o_orderdate"), "yyyy-MM-dd").as("order_day"),
        col("asof.last_order_key"),
      )
  }

  /** [[votesPerCandidate]] through the explicit two-phase salted
    * aggregation ([[Skew.saltedSum]]) — the formulation for when one
    * hot key (a viral candidate) would pin a single reducer and AQE
    * cannot help (severe agg skew, stateful paths). Identical result
    * by monoid commutativity; identical oracle SQL. Exposing it as a
    * gate keeps the skew remedy itself inside the correctness
    * surface, not just the spec suite.
    */
  def votesPerCandidateSalted(spark: SparkSession, dir: String): DataFrame =
    Skew
      .saltedSum(t(spark, dir, "events"), col("event_type"), cents(col("value")))
      .select(
        col("k").as("event_type"),
        moneyFromCents(col("total")).as("total_votes"),
        col("n").as("n_events"),
      )

  /** Changelog compaction (SCD-1 / CDC "latest record per key"): the
    * most recent event per user, ties broken by event_id so the
    * survivor is total-order deterministic. This is the upsert-view
    * materialization every CDC sink needs.
    *
    * Scale shape (100 TB): implemented as `max_by` over a struct
    * ordering key — an AGGREGATION with map-side partial combine, so
    * each partition reduces to one candidate per key before the
    * shuffle and the exchange carries |users| rows, not the event
    * log. (The struct buffer makes Spark pick SortAggregate over
    * HashAggregate — a per-partition sort by user_id, but the
    * shuffle-volume bound is what matters.) The window-rank
    * formulation (the oracle SQL) would instead shuffle the WHOLE
    * log into user partitions and sort those; the aggregation is
    * strictly less data movement. Spec pins the two equal.
    */
  def latestEventPerUser(spark: SparkSession, dir: String): DataFrame =
    latestEventPerKey(t(spark, dir, "events"))

  /** The CDC survivor contract itself, applied to ANY events frame —
    * batch scan or stream — so the batch gate and its incremental
    * streaming twin cannot diverge (they share this one builder and
    * one oracle).
    */
  def latestEventPerKey(events: DataFrame): DataFrame =
    events
      .groupBy("user_id")
      .agg(
        max_by(
          struct(col("event_id"), col("event_type")),
          struct(col("ts"), col("event_id")),
        ).as("last"),
      )
      .select(
        col("user_id"),
        col("last.event_id").as("last_event_id"),
        col("last.event_type").as("last_event_type"),
      )

  /** SCD Type-2 history build: each user event becomes a version row
    * with a [valid_from, valid_to) interval — valid_to is the next
    * event's time (lead over the event-time order), null for the
    * current version — the standard dimension-history shape every
    * warehouse maintains. Reduced to per-type version counts,
    * open-version counts, and exact integer-micros total durations.
    *
    * Scale shape: ONE corpus scan, one per-user lead window (bounded
    * partitions), one |types|-key aggregate with map-side combine.
    */
  def scd2Intervals(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    t(spark, dir, "events")
      .select(
        col("user_id"),
        col("event_id"),
        col("event_type"),
        expr("unix_micros(ts)").as("us"),
      )
      .withColumn("valid_to_us", lead(col("us"), 1).over(w))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_versions"),
        sum(when(col("valid_to_us").isNull, 1L).otherwise(0L)).as("n_current"),
        // micros durations are ~1e13 per row — a plain long sum wraps
        // at the design scale where the oracle's HUGEINT does not;
        // the 128-bit buffer keeps both sides exact (Num scaladoc)
        sumScaled(coalesce(col("valid_to_us") - col("us"), lit(0L)))
          .cast("long").as("total_duration_us"),
      )
  }

  /** MERGE INTO semantics (the warehouse upsert): apply a CDC change
    * set onto the customer base table — WHEN MATCHED AND
    * last_event_type = 'error' THEN DELETE, WHEN MATCHED THEN UPDATE
    * (balance := last event value), WHEN NOT MATCHED THEN INSERT —
    * expressed Spark-first as one left join for the matched branches
    * plus one anti-join for the inserts. The change set is the
    * latest-event-per-user compaction (the same survivor contract as
    * the CDC gates, extended with the value column). Reduced to a
    * per-segment census so the gate output is small and exact.
    *
    * Scale shape: base⋈changes is the one real shuffle (both sides
    * key-partitioned; AQE's call on strategy); the anti-join reuses
    * the same key partitioning. No row visits the driver; MERGE
    * engines (Delta/Iceberg) plan exactly this join pair under the
    * hood.
    */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val changes = t(spark, dir, "events")
      .groupBy("user_id")
      .agg(
        max_by(
          struct(col("event_type"), cents(col("value")).as("vc")),
          struct(col("ts"), col("event_id")),
        ).as("last"),
      )
      .select(
        col("user_id"),
        col("last.event_type").as("last_type"),
        col("last.vc").as("last_vc"),
      )
    val base = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), cents(col("c_acctbal")).as("bal"))
    val matchedOrKept = base
      .join(changes, base("c_custkey") === changes("user_id"), "left")
      // WHEN MATCHED AND 'error' THEN DELETE
      .filter(col("last_type").isNull || col("last_type") =!= "error")
      // WHEN MATCHED THEN UPDATE, else keep
      .select(
        col("c_mktsegment").as("segment"),
        coalesce(col("last_vc"), col("bal")).as("bal"),
        when(col("last_type").isNotNull, 1L).otherwise(0L).as("updated"),
      )
    val inserts = changes
      .filter(col("last_type") =!= "error")
      .join(base, changes("user_id") === base("c_custkey"), "left_anti")
      .select(lit("NEW").as("segment"), col("last_vc").as("bal"), lit(0L).as("updated"))
    matchedOrKept
      .unionAll(inserts)
      .groupBy("segment")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("updated")).as("n_updated"),
        moneyFromCents(sum(col("bal"))).as("total_balance"),
      )
  }

  /** Banded range join — the non-equi join family: events land in
    * value bands defined by a [lo, hi) interval table (the shape of
    * tiered pricing, SLA buckets, score bands). The band dimension is
    * tiny and explicitly broadcast, so the non-equi predicate is a
    * map-side interval probe per event — a BroadcastNestedLoopJoin
    * whose inner side is |bands| rows, i.e. scan-speed, never a
    * cartesian blowup. When the interval table is too large to
    * broadcast, the standard rewrite buckets both sides by
    * floor(value / bucket_width) first, turning the range join into
    * an equi-join on the bucket plus a residual predicate.
    * Bands cover [0, 100·|bands|) — events outside every band are
    * dropped by the inner join, same as the SQL formulation.
    */
  def rangeJoinBands(spark: SparkSession, dir: String, bands: Int = 8): DataFrame = {
    val dim = spark.range(bands.toLong)
      .select(
        col("id").as("band_id"),
        (col("id") * 100).cast("double").as("lo"),
        ((col("id") + 1) * 100).cast("double").as("hi"),
      )
    t(spark, dir, "events")
      .join(broadcast(dim), col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy("band_id")
      .agg(
        count(lit(1)).as("n_events"),
        moneyFromCents(sum(cents(col("value")))).as("total_value"),
      )
  }

  /** The documented large-interval-table path of [[rangeJoinBands]]:
    * when the band table is too big to broadcast, bucket BOTH sides
    * by floor(value / bucketWidth) — each event lands in one bucket,
    * each band replicates into the buckets its [lo, hi) span overlaps
    * — and the non-equi probe becomes an EQUI-join on the bucket plus
    * a residual range predicate. bucketWidth (50) deliberately
    * divides the band width (100) unevenly enough that every band
    * replicates into two buckets, so the rewrite's replication logic
    * is actually exercised. Same result and oracle as the broadcast
    * formulation.
    *
    * Scale shape: a plain shuffled equi-join both sides — AQE picks
    * broadcast while the replicated band table fits and degrades to
    * shuffle when it doesn't, which is the entire point of the
    * rewrite (no hint, sweep-pinned).
    */
  def rangeJoinBandsBucketed(
      spark: SparkSession,
      dir: String,
      bands: Int = 8,
      bucketWidth: Long = 50L,
  ): DataFrame = {
    val dim = spark.range(bands.toLong)
      .select(
        col("id").as("band_id"),
        (col("id") * 100).cast("double").as("lo"),
        ((col("id") + 1) * 100).cast("double").as("hi"),
      )
      .withColumn(
        "bucket",
        explode(
          sequence(
            expr(s"CAST(lo AS BIGINT) div $bucketWidth"),
            expr(s"(CAST(hi AS BIGINT) - 1) div $bucketWidth"),
          )
        ),
      )
    t(spark, dir, "events")
      .withColumn("bucket", expr(s"CAST(value AS BIGINT) div $bucketWidth"))
      .join(dim, Seq("bucket"))
      .filter(col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy("band_id")
      .agg(
        count(lit(1)).as("n_events"),
        moneyFromCents(sum(cents(col("value")))).as("total_value"),
      )
  }

  /** Salted-join twin of the events⋈customer enrichment: the
    * replicated-dimension remedy ([[Skew.saltedEquiJoin]]) for a
    * hot user overwhelming one reducer, reduced to the same
    * per-segment aggregate a plain join produces — keeping the skew
    * remedy inside the correctness surface exactly like
    * `skew_salted_votes` does for aggregation.
    */
  def skewSaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val facts = t(spark, dir, "events")
      .select(col("user_id").as("k"), col("event_id"), cents(col("value")).as("vc"))
    val dim = t(spark, dir, "customer")
      .select(col("c_custkey").as("k"), col("c_mktsegment"))
    graft.operators.Skew
      .saltedEquiJoin(facts, dim, key = "k", saltBy = "event_id", salts = 8)
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_events"),
        moneyFromCents(sum(col("vc"))).as("total_value"),
      )
  }

  /** Hourly unique-user analytics: events per hour with exact
    * distinct-user counts — the engagement roll-up every event
    * pipeline reports.
    *
    * Scale shape: Spark plans exact countDistinct as a two-level
    * aggregate (partial dedup of (hour, user) map-side, then the
    * count) — the shuffle carries the deduped pairs, bounded by
    * hour×users, not the event log. When even that is too wide, the
    * HLL profile in [[graft.operators.Sketches]] is the approximate
    * path; this gate is its exact, oracle-checked twin.
    */
  def hourlyUniques(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour_start"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_unique_users"),
      )

  /** Debounce / throttle dedup: bursts of the same (user, event_type)
    * within 10 minutes of the previous occurrence collapse to their
    * FIRST event (the webhook/retry/double-click suppression rule —
    * time-proximity dedup, where [[dedupVotes]] is exact-key dedup
    * with no time dimension). Burst boundaries are gaps-and-islands:
    * an event starts a new burst iff its gap from the key's previous
    * event exceeds the window; the island id is the running count of
    * boundary flags. Integer-microsecond gaps, unique (us, event_id)
    * total order — deterministic in any engine.
    *
    * Scale shape: both window passes and the final aggregate share
    * the (user, event_type) partitioning, so Spark plans ONE exchange
    * for the whole thing.
    */
  def debounceEvents(spark: SparkSession, dir: String, windowUs: Long = 600L * 1000 * 1000): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type").orderBy(col("__us"), col("event_id"))
    t(spark, dir, "events")
      .select(
        col("user_id"),
        col("event_type"),
        col("event_id"),
        unix_micros(col("ts")).as("__us"),
      )
      .withColumn("__prev", lag(col("__us"), 1).over(w))
      .withColumn(
        "__new",
        when(col("__prev").isNull || col("__us") - col("__prev") > windowUs, 1L).otherwise(0L),
      )
      .withColumn(
        "burst",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
      )
      .groupBy("user_id", "event_type", "burst")
      .agg(
        // the burst's first row IS its boundary row (exactly one
        // __new = 1 per island), so no order-by-struct agg is needed
        max(when(col("__new") === 1L, col("event_id"))).as("kept_event_id"),
        count(lit(1)).as("n_collapsed"),
      )
      .select(col("user_id"), col("event_type"), col("burst"), col("kept_event_id"), col("n_collapsed"))
  }

  /** Daily active / new / returning users plus the running cumulative
    * unique count — the growth-dashboard table. The naive formulation
    * (windowed COUNT DISTINCT up to each day) re-deduplicates the
    * whole history per day — quadratic and un-runnable at scale. The
    * linear shape: a user is NEW only on their min-day (one
    * |users|-key aggregate), daily new = count of first-touches per
    * day, and the cumulative unique count is a running SUM of daily
    * news over the |days|-bounded day table; returning = active − new.
    *
    * Scale shape: two bounded shuffles — distinct (user, day) pairs,
    * then |users| first-days — and one window over |days| rows. The
    * event log is scanned once (first-day derives from the distinct
    * frame via a window, not a separate aggregate joined back).
    */
  def dailyUniquesRunning(spark: SparkSession, dir: String): DataFrame = {
    val activeDays = t(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .withColumn("first_day", min(col("day")).over(Window.partitionBy("user_id")))
    val daily = activeDays
      .groupBy("day")
      .agg(
        count(lit(1)).as("n_active"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("n_new"),
      )
    daily
      .withColumn(
        "cum_uniques",
        sum(col("n_new")).over(
          Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
      )
      .select(
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_active"),
        col("n_new"),
        (col("n_active") - col("n_new")).as("n_returning"),
        col("cum_uniques"),
      )
  }

  /** Last-touch revenue attribution: each purchase's value is
    * credited to the nearest PRECEDING non-purchase event type in the
    * user's timeline (the marketing-attribution staple), summed per
    * channel in exact decimal money. Purchases with no preceding
    * touch fall into a 'direct' bucket.
    *
    * Scale shape: one window pass over the user partition (the same
    * single exchange every per-user timeline op here plans) — the
    * conditional `last(..., ignoreNulls)` carries the latest
    * non-purchase type forward without materializing per-user event
    * lists; then a |channels|-key aggregate.
    */
  def attributionLastTouch(spark: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy("user_id")
      .orderBy(col("__us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t(spark, dir, "events")
      .select(
        col("user_id"),
        col("event_id"),
        col("event_type"),
        col("value"),
        unix_micros(col("ts")).as("__us"),
      )
      .withColumn(
        "touch",
        last(when(col("event_type") =!= "purchase", col("event_type")), ignoreNulls = true)
          .over(w),
      )
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("direct")).as("channel"))
      .agg(
        count(lit(1)).as("n_purchases"),
        moneyFromCents(sum(cents(col("value")))).as("attributed_value"),
      )
  }

  /** Time-decayed last-touch attribution: the decayed twin of
    * [[attributionLastTouch]] — each purchase credits its nearest
    * preceding touch with value · 2^(−k), where k counts elapsed
    * 30-minute half-lives (capped at 20; 'direct' purchases keep full
    * weight). The decay weight is the POWER OF TWO 2^(20−k), so every
    * per-row credit is an exact integer (cents × an integer weight) —
    * a float `pow(0.5, dt/τ)` is neither cross-engine portable nor
    * order-independent under summation. Per-row bound: 10^5 cents ×
    * 2^20 ≈ 10^11, so the channel sums ride the 128-bit buffer
    * ([[Num.sumScaled]]/HUGEINT) and stay exact at any corpus size;
    * the single final division by 2^20·100 runs on identical exact
    * integers in both engines.
    *
    * Scale shape: the same one-window-pass-plus-|channels|-key-agg
    * plan as the undecayed twin — the carry-forward window now also
    * carries the touch timestamp (same frame, same single exchange).
    */
  def attributionTimeDecay(
      spark: SparkSession,
      dir: String,
      halfLifeUs: Long = 1800L * 1000 * 1000,
  ): DataFrame = {
    val w = Window
      .partitionBy("user_id")
      .orderBy(col("__us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    def carry(c: Column): Column =
      last(when(col("event_type") =!= "purchase", c), ignoreNulls = true).over(w)
    t(spark, dir, "events")
      .select(
        col("user_id"),
        col("event_id"),
        col("event_type"),
        col("value"),
        unix_micros(col("ts")).as("__us"),
      )
      .withColumn("touch", carry(col("event_type")))
      .withColumn("touch_us", carry(col("__us")))
      .filter(col("event_type") === "purchase")
      .select(
        coalesce(col("touch"), lit("direct")).as("channel"),
        cents(col("value")).as("vc"),
        when(col("touch_us").isNull, 0L)
          .otherwise(least(expr(s"(__us - touch_us) div $halfLifeUs"), lit(20L)))
          .as("k"),
      )
      .groupBy("channel")
      .agg(
        count(lit(1)).as("n_purchases"),
        sumScaled(col("vc") * expr("shiftleft(1L, int(20 - k))")).as("__credit"),
      )
      .select(
        col("channel"),
        col("n_purchases"),
        (col("__credit").cast("double") / 104857600.0).as("decayed_value"),
      )
  }

  /** Day-level traffic anomaly detection: each (event type, day)
    * count against the trailing 7 OBSERVED days' total (ROWS frame —
    * sparse day gaps are [[hourlyGapFill]]'s concern, not re-solved
    * here), with the spike ratio as an exact scaled-integer floor
    * division and a ≥2× flag. Days without a full 7-day history emit
    * NULL ratio / flag 0 in both engines rather than a noisy partial
    * baseline. 7·10^6·n wraps 64 bits only past ~10^12 events per
    * (type, day) — comfortably exact at design scale.
    *
    * Scale shape: one |types|·|days|-key aggregate with map-side
    * combine (the corpus shuffles once, as day keys), then windows
    * over that tiny table partitioned by type.
    */
  def dailyAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val wTrail = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    t(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("trailing_n", sum(col("n_events")).over(wTrail))
      .withColumn("__days", count(lit(1)).over(wTrail))
      .withColumn(
        "ratio_x1e6",
        when(col("__days") === 7, expr("(7000000 * n_events) div trailing_n")).cast("long"),
      )
      .select(
        col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_events"),
        col("trailing_n"),
        col("ratio_x1e6"),
        when(col("ratio_x1e6") >= 2000000L, 1).otherwise(0).cast("int").as("is_spike"),
      )
  }

  /** Batch sessionization via gaps-and-islands: a new session starts
    * after > 1 hour of inactivity. Times compared as integer
    * microseconds so the cross-engine comparison is exact. Two
    * window passes + one aggregate — all on the same user_id
    * partitioning, so Spark plans a single exchange.
    */
  def userSessions(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 3600L * 1000 * 1000
    val us = unix_micros(col("ts"))
    val w = Window.partitionBy("user_id").orderBy(col("__us"), col("event_id"))
    t(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("value"), us.as("__us"))
      .withColumn("__prev", lag("__us", 1).over(w))
      .withColumn(
        "__new_session",
        when(col("__prev").isNull || col("__us") - col("__prev") > gapUs, 1).otherwise(0),
      )
      .withColumn("__sid", sum("__new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "__sid")
      .agg(
        min("__us").as("session_start_us"),
        count(lit(1)).as("n_events"),
        moneyFromCents(sum(cents(col("value")))).as("total_value"),
      )
      .drop("__sid")
  }

  /** Top session paths: the ordered sequence of the FIRST THREE event
    * types in each 1-hour-gap session (same gaps-and-islands
    * convention as [[userSessions]]), counted and ranked — the
    * behavioral-path census a product funnel analysis starts from.
    * The path string is built from an explicitly ORDERED collection
    * (sort_array over (rank, type) structs — a bare collect_list has
    * no deterministic order), so both engines agg the identical
    * string.
    *
    * Scale shape: one corpus scan, two per-user windows (lag +
    * running sum, bounded partitions), a rank trim to ≤3 rows per
    * session BEFORE the path aggregation, then a |paths|-key count
    * and TakeOrderedAndProject top-k.
    */
  def sessionPaths(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val gapUs = 3600L * 1000 * 1000
    val us = unix_micros(col("ts"))
    val w = Window.partitionBy("user_id").orderBy(col("__us"), col("event_id"))
    val wSess = Window.partitionBy("user_id", "__sid").orderBy(col("__us"), col("event_id"))
    t(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), us.as("__us"))
      .withColumn("__prev", lag("__us", 1).over(w))
      .withColumn(
        "__new_session",
        when(col("__prev").isNull || col("__us") - col("__prev") > gapUs, 1).otherwise(0),
      )
      .withColumn("__sid", sum("__new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("__rk", row_number().over(wSess))
      .filter(col("__rk") <= 3)
      .groupBy("user_id", "__sid")
      .agg(
        array_join(
          transform(
            sort_array(collect_list(struct(col("__rk"), col("event_type")))),
            x => x.getField("event_type"),
          ),
          "->",
        ).as("path")
      )
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)
  }

  /** Sessionization via the built-in `session_window` (ST2's session
    * shape, batch-evaluated so the gap-boundary semantics are
    * oracle-pinned): events merge into one window while each gap is
    * STRICTLY below the gap duration — i.e. a delta of exactly the
    * gap starts a new session, which is where this differs from
    * [[userSessions]]'s islands formulation (new at delta > gap).
    * The same grouping runs streaming in
    * streaming/Sessionize.sessionWindowAgg; equality between the two
    * is pinned in StreamingAdvancedSpec.
    */
  def sessionWindows(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(session_window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), moneyFromCents(sum(cents(col("value")))).as("total_value"))
      .select(
        col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events"),
        col("total_value"),
      )

  /** JSON extraction (reference F2/F9 in batch form): pull a typed
    * field out of a JSON string column and aggregate on it. Map-side
    * expression; no shuffle beyond the tiny group-by.
    */
  def jsonExtraction(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(
        (get_json_object(col("props"), "$.k").cast("int") % 10).as("k_bucket"),
        col("value"),
      )
      .groupBy("k_bucket")
      .agg(count(lit(1)).as("n"), moneyFromCents(sum(cents(col("value")))).as("total_value"))

  /** PIVOT coverage: event counts per user bucket, one column per
    * event type. Spark plans pivot as a single aggregate with
    * conditional partials — one shuffle on the group key. Absent
    * combinations are filled to 0 to match the conditional-sum
    * formulation.
    */
  def pivotEvents(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val pivoted = t(spark, dir, "events")
      .groupBy((col("user_id") % 10).as("bucket"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
    pivoted.na.fill(0L, types)
  }

  /** Collection aggregation + date arithmetic: sorted distinct string
    * concatenation per group (collect_set is the mergeable partial)
    * and day-granularity date math.
    */
  def stringAggDates(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        concat_ws(",", sort_array(collect_set(col("o_orderstatus")))).as("statuses"),
        count(lit(1)).as("n"),
        min(datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))).as("min_day_offset"),
        max(datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))).as("max_day_offset"),
      )

  /** Subquery coverage through the engine's SQL surface: an
    * uncorrelated scalar subquery (exact-decimal average so the
    * threshold is bit-identical cross-engine) and an IN subquery.
    * The SQL text is literally the oracle SQL — the same ANSI query
    * runs on both engines (Spark plans the IN as a left-semi join
    * and the scalar as a broadcast single-row subquery).
    */
  val subquerySql: String =
    """SELECT o_orderstatus, count(*) AS n
      |FROM orders
      |WHERE o_totalprice > (SELECT CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) / count(*) FROM orders)
      |  AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 2500)
      |GROUP BY o_orderstatus""".stripMargin

  def sqlSubquery(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    t(spark, dir, "customer").createOrReplaceTempView("customer")
    spark.sql(subquerySql)
  }

  /** Aggregate-function variety: count, distinct count, exact-avg,
    * min, max per group. countDistinct shuffles on (group, value)
    * then (group) — standard two-phase distinct aggregation.
    */
  def aggFunctions(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        (moneyFromCents(sum(cents(col("o_totalprice")))) / count(lit(1))).as("avg_price"),
        min("o_totalprice").as("min_price"),
        max("o_totalprice").as("max_price"),
      )

  /** Exact-integer-sums Pearson correlation of order value vs account
    * balance per market segment — the cross-engine-portable way to
    * compute second-moment statistics: every sum (x, y, x², y², xy)
    * is an EXACT integer-cents sum in a 128-bit buffer
    * ([[Num.sumScaled]]; the xy products overflow a long sum far
    * below the design scale), and only then does the textbook
    * formula run in doubles — identical IEEE operations on identical
    * inputs yield bit-identical r in any engine, where a native
    * streaming corr() is summation-order-dependent and never
    * hash-matches across engines (or even across partitionings).
    *
    * Scale shape: one join (AQE-sized) and one |segments|-key
    * aggregation with map-side combine; the formula is a 5-row
    * projection.
    */
  def statsCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val j = t(spark, dir, "orders")
      .join(t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(
        col("c_mktsegment"),
        cents(col("o_totalprice")).as("x"),
        cents(col("c_acctbal")).as("y"),
      )
    val sums = j
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n"),
        sumScaled(col("x")).as("sx"),
        sumScaled(col("y")).as("sy"),
        sumScaled(col("x") * col("x")).as("sxx"),
        sumScaled(col("y") * col("y")).as("syy"),
        sumScaled(col("x") * col("y")).as("sxy"),
      )
    val nD = col("n").cast("double")
    def d(name: String) = col(name).cast("double")
    sums.select(
      col("c_mktsegment"),
      col("n"),
      ((nD * d("sxy") - d("sx") * d("sy")) /
        (sqrt(nD * d("sxx") - d("sx") * d("sx")) *
          sqrt(nD * d("syy") - d("sy") * d("sy")))).as("corr_price_balance"),
    )
  }

  /** First-touch funnel over the event stream: a user reaches step 2
    * when their first click is strictly after their first signup, and
    * step 3 when their first purchase is strictly after that first
    * click — the standard strict-ordering product funnel, computed in
    * ONE aggregation pass (conditional mins per user, then boolean
    * algebra), never an events self-join. Conversion ratios are
    * scaled-integer divisions of the exact counts.
    *
    * Scale shape: one |users|-key shuffle with map-side combined
    * conditional mins; the funnel reduction is a 1-row aggregate.
    */
  def funnelSteps(spark: SparkSession, dir: String): DataFrame =
    funnelReduce(funnelPerUser(t(spark, dir, "events")))

  /** Per-user conditional first-touch times — the SHARED builder the
    * batch gate and the streaming twin both apply (one definition,
    * one oracle, no drift; same pattern as latestEventPerKey). Works
    * unchanged as a streaming update-mode aggregation: the state is
    * three min timestamps per user.
    */
  private[graft] def funnelPerUser(events: DataFrame): DataFrame = {
    val us = expr("unix_micros(ts)")
    events
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "signup", us)).as("ta"),
        min(when(col("event_type") === "click", us)).as("tb"),
        min(when(col("event_type") === "purchase", us)).as("tc"),
      )
  }

  /** Reduce the per-user first-touch table to the 1-row funnel. */
  private[graft] def funnelReduce(perUser: DataFrame): DataFrame =
    perUser
      .select(
        when(col("ta").isNotNull, 1L).otherwise(0L).as("s1"),
        when(col("ta").isNotNull && col("tb") > col("ta"), 1L).otherwise(0L).as("s2"),
        when(
          col("ta").isNotNull && col("tb") > col("ta") && col("tc") > col("tb"),
          1L,
        ).otherwise(0L).as("s3"),
      )
      .agg(sum(col("s1")).as("n_signup"), sum(col("s2")).as("n_click"), sum(col("s3")).as("n_purchase"))
      .select(
        col("n_signup"),
        col("n_click"),
        col("n_purchase"),
        expr("CASE WHEN n_signup > 0 THEN (1000000 * n_click) div n_signup ELSE 0 END")
          .as("conv_click_x1e6"),
        expr("CASE WHEN n_click > 0 THEN (1000000 * n_purchase) div n_click ELSE 0 END")
          .as("conv_purchase_x1e6"),
      )

  /** Frequent itemset pairs (association mining's first A-priori
    * level): how many users exhibit each UNORDERED pair of event
    * types — the market-basket counterpart of the ordered
    * [[eventTransitions]] matrix. Formulated Spark-first as one
    * per-user set aggregation plus a map-side pair expansion over
    * the sorted set (bounded by |types|² per user), never a distinct
    * self-join — the self-join shuffles the distinct table twice and
    * re-keys it, where this shape pays one |users|-key shuffle with
    * map-side combined partial sets and expands pairs at scan speed.
    */
  def itemsetPairs(spark: SparkSession, dir: String): DataFrame =
    itemsetPairExpansion(
      t(spark, dir, "events")
        .groupBy("user_id")
        .agg(sort_array(collect_set(col("event_type"))).as("ts"))
    )

  /** The map-side pair expansion + count shared by [[itemsetPairs]]
    * and its streaming twin (which maintains the per-user sets as
    * update-mode state and expands on read-back): input is any frame
    * with a SORTED `ts` array of event types per row.
    */
  def itemsetPairExpansion(perUserSets: DataFrame): DataFrame =
    perUserSets
      .select(
        explode(
          expr(
            "flatten(transform(ts, (x, i) -> " +
              "transform(slice(ts, i + 2, size(ts)), y -> struct(x AS type_a, y AS type_b))))"
          )
        ).as("p")
      )
      .select(col("p.type_a"), col("p.type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_users"))

  /** Association rules over the per-user event-type sets: support,
    * both directed confidences, and lift for every unordered type
    * pair — the A-priori level-2 closure of [[itemsetPairs]] (counts
    * alone can't say whether "checkout ⇒ search" beats base rate;
    * lift is the part a recommender actually consumes).
    *
    * Scale shape: ONE corpus scan. A single let-bound generator emits
    * the user marker, the singleton memberships, and the sorted-set
    * pair expansion together, so N, the per-type counts, and the pair
    * counts all come out of ONE (kind, a, b) hash aggregation
    * (bounded by |types|² keys); the three consumers of that
    * aggregate are identical subtrees Spark collapses with exchange
    * reuse, and the final assembly joins |types|-row frames.
    * Determinism: every ratio is an exact integer quotient; the lift
    * numerator 10⁶·n_ab·N rides DECIMAL(38,0)/HUGEINT (wraps BIGINT
    * past N ≈ 10⁶ users squared).
    */
  def assocRules(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Let.bindArray
    val nullS = lit(null).cast("string")
    val tagged = t(spark, dir, "events")
      .groupBy("user_id")
      .agg(sort_array(collect_set(col("event_type"))).as("ts"))
      .select(
        explode(bindArray(col("ts")) { a =>
          concat(
            array(struct(lit("u").as("kind"), nullS.as("a"), nullS.as("b"))),
            transform(a, x => struct(lit("s").as("kind"), x.as("a"), nullS.as("b"))),
            flatten(
              transform(
                a,
                (x, i) =>
                  transform(
                    slice(a, i + 2, size(a)),
                    y => struct(lit("p").as("kind"), x.as("a"), y.as("b")),
                  ),
              )
            ),
          )
        }).as("t")
      )
      .select(col("t.kind").as("kind"), col("t.a").as("a"), col("t.b").as("b"))
    val counts = tagged.groupBy("kind", "a", "b").agg(count(lit(1)).as("n"))
    val nu = counts.filter(col("kind") === "u").select(col("n").as("n_users_total"))
    val singles = counts.filter(col("kind") === "s")
    counts
      .filter(col("kind") === "p")
      .select(col("a").as("type_a"), col("b").as("type_b"), col("n").as("n_ab"))
      .join(singles.select(col("a").as("type_a"), col("n").as("n_a")), Seq("type_a"))
      .join(singles.select(col("a").as("type_b"), col("n").as("n_b")), Seq("type_b"))
      .crossJoin(nu)
      .select(
        col("type_a"),
        col("type_b"),
        col("n_a"),
        col("n_b"),
        col("n_ab"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n_ab) div n_a AS BIGINT)")
          .as("conf_ab_x1e6"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n_ab) div n_b AS BIGINT)")
          .as("conf_ba_x1e6"),
        expr(
          "CAST((CAST(1000000 AS DECIMAL(38,0)) * n_ab * n_users_total) div " +
            "(CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
        ).as("lift_x1e6"),
      )
  }

  /** First-order event-type transition matrix (the Markov view of
    * user behavior): count (previous type → type) transitions along
    * each user's event-time order, plus the transition probability as
    * a scaled-integer ratio of exact counts. Session boundaries are
    * not cut here — this is the raw global transition census.
    *
    * Scale shape: one per-user lag window (bounded partitions), then
    * a |types|²-key aggregate with map-side combine.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val withPrev = t(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), expr("unix_micros(ts)").as("us"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
    transitionMatrix(withPrev)
  }

  /** (prev_type, event_type) rows → the counted transition matrix
    * with exact scaled-integer probabilities. Shared by the batch
    * lag-window gate above and the streaming stateful-tracker twin
    * (graft.streaming.Transitions).
    */
  private[graft] def transitionMatrix(withPrev: DataFrame): DataFrame = {
    val counts = withPrev
      .groupBy("prev_type", "event_type")
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("prev_type").agg(sum(col("n")).as("n_from"))
    counts
      .join(totals, "prev_type")
      .select(
        col("prev_type"),
        col("event_type"),
        col("n"),
        expr("(1000000 * n) div n_from").as("p_x1e6"),
      )
  }

  /** Retention cohort table: users grouped by their first-activity
    * day (the cohort), counted by day offset of each later active
    * day — the canonical growth-analytics triangle, exact integers.
    *
    * Scale shape: ONE corpus scan — the cohort day is a min window
    * over the distinct (user, day) frame rather than a separate
    * aggregate joined back (which would re-scan the event log), then
    * a (cohort, offset)-key count. No self-join of the event log,
    * which is the naive formulation that dies at scale.
    */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val activeDays = t(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    activeDays
      .withColumn("cohort_day", min(col("day")).over(Window.partitionBy("user_id")))
      .groupBy(
        date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"),
      )
      .agg(count(lit(1)).as("n_active_users"))
  }

  /** Per-type z-score outlier census from EXACT integer sums: μ and
    * σ derive from the 128-bit cents sums (never a streaming
    * variance, which is order-dependent), the per-row z comparison
    * then runs in identical IEEE doubles in both engines. Emits
    * counts of |z| > 2 plus the double mean/stddev themselves.
    *
    * Scale shape: one |types|-key stats aggregate, broadcast back
    * over the scan (5 rows), one more |types|-key count — two
    * map-side-combined passes, no window.
    */
  def zscoreOutliers(spark: SparkSession, dir: String): DataFrame = {
    val typed = t(spark, dir, "events")
      .select(col("event_type"), cents(col("value")).as("vc"))
    val stats = typed
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sumScaled(col("vc")).as("sx"),
        sumScaled(col("vc") * col("vc")).as("sxx"),
      )
      .select(
        col("event_type"),
        col("n"),
        (col("sx").cast("double") / col("n").cast("double")).as("mu_cents"),
        sqrt(
          (col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) /
            (col("n").cast("double") * col("n").cast("double"))
        ).as("sigma_cents"),
      )
    typed
      .join(broadcast(stats), "event_type")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(
          when(
            abs(col("vc").cast("double") - col("mu_cents")) > lit(2.0) * col("sigma_cents"),
            1L,
          ).otherwise(0L)
        ).as("n_outliers"),
        first(col("mu_cents")).as("mu_cents"),
        first(col("sigma_cents")).as("sigma_cents"),
      )
  }

  /** Winsorized robust statistics per event type: exact discrete
    * p05/p95 cut points (the value at the integer rank formula of
    * lengthPercentiles, identical in both engines), then the
    * winsorized mean from the EXACT integer sum of clamped cents.
    * Every emitted double is an exact-integer quotient — fully
    * portable, unlike any interpolating percentile or streaming
    * trimmed mean.
    *
    * Scale shape: SORT-FREE ranks (the quantile_histogram /
    * gkBoundsGate rule) — a per-type row_number window would sort a
    * corpus-sized partition per type (the key domain is ~5, so each
    * partition is corpus/5 in one task). The value at a rank depends
    * only on the value order, so aggregate to the per-(type, cents)
    * histogram first (map-side combine) and read the rank off the
    * cumulative count over that bounded frame; then a |types|-row cut
    * table joined back (AQE's call) and a final map-side-combined
    * aggregate.
    */
  def winsorizedStats(spark: SparkSession, dir: String): DataFrame = {
    val typed = t(spark, dir, "events")
      .select(col("event_type"), col("event_id"), cents(col("value")).as("vc"))
    val wCum = Window.partitionBy("event_type").orderBy(col("vc"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy("event_type")
    def atQ(pct: Int): Column =
      min(when(col("cum") >= expr(s"((n - 1) * $pct) div 100") + 1, col("vc")))
    val cuts = typed
      .groupBy("event_type", "vc")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .groupBy("event_type", "n")
      .agg(atQ(5).as("p05_cents"), atQ(95).as("p95_cents"))
      .select(col("event_type"), col("p05_cents"), col("p95_cents"))
    typed
      .join(cuts, "event_type")
      .select(
        col("event_type"),
        col("vc"),
        least(greatest(col("vc"), col("p05_cents")), col("p95_cents")).as("wc"),
        col("p05_cents"),
        col("p95_cents"),
      )
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        first(col("p05_cents")).as("p05_cents"),
        first(col("p95_cents")).as("p95_cents"),
        (sumScaled(col("vc")).cast("double") / count(lit(1)).cast("double"))
          .as("raw_mean_cents"),
        (sumScaled(col("wc")).cast("double") / count(lit(1)).cast("double"))
          .as("wins_mean_cents"),
      )
  }

  /** Hourly gap-filled forward-fill series — the feature-engineering
    * staple "carry each user's last observed value across silent
    * hours": per-hour census rows (active vs carried users, carried
    * value, where a user's value carries forward from their latest
    * active hour through the end of the reporting window).
    *
    * Scale shape: the census is computed as a DIFFERENCE ARRAY, not
    * by materializing the |users| × |hours| forward-filled spine the
    * textbook formulation (still the oracle's, exactly because DuckDB
    * can afford it at oracle SF) builds. Each user's carried value
    * changes ONLY at their active hours (+v at first activity,
    * v − prev_v after), and their alive-indicator changes once (at
    * first activity), so per-user `lag` over active hours yields
    * O(|active (user, hour)| ) delta rows; summing deltas per hour
    * and running ONE cumulative sum over the bounded hour spine
    * reconstructs the exact census. Cost: one corpus scan → one
    * per-(user, hour) combine aggregation → a per-user lag window
    * (partition size = that user's active hours, never the global
    * span) → a |hours|-row cumulative window. Dormant users cost
    * nothing after their last event; the old spine formulation
    * materialized them every hour of the corpus span (round-7 verdict
    * task 2). The final window orders the |hours| spine globally —
    * bounded by the reporting period (a config constant at scale),
    * the same frame the hour-sequence broadcast already assumes.
    * Single-scan pinned in PlanShapeSpec.
    */
  def hourlyGapFill(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events").select(
      col("user_id"),
      date_trunc("hour", col("ts")).as("hour"),
      cents(col("value")).as("vc"),
      expr("unix_micros(ts)").as("us"),
      col("event_id"),
    )
    val hourly = ev
      .groupBy("user_id", "hour")
      .agg(
        count(lit(1)).as("n_ev"),
        max_by(col("vc"), struct(col("us"), col("event_id"))).as("last_vc"),
      )
    // per-user deltas at active hours: carried value moves from
    // prev_vc to last_vc; the user becomes "alive" (contributes to
    // the carried census) at their first active hour and stays so
    // through the end of the window
    val wPrev = Window.partitionBy("user_id").orderBy("hour")
    val deltas = hourly
      .withColumn("prev_vc", lag(col("last_vc"), 1).over(wPrev))
      .groupBy("hour")
      .agg(
        count(lit(1)).as("n_active"),
        sum(col("last_vc") - coalesce(col("prev_vc"), lit(0L))).as("d_value"),
        sum(when(col("prev_vc").isNull, 1L).otherwise(0L)).as("d_alive"),
      )
    // an hour/user present in the corpus is present in the aggregate,
    // so the spine bounds derive from a 1-row aggregate and broadcast
    val hours = hourly
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
    val wCum = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, 0)
    hours
      .join(deltas, Seq("hour"), "left")
      .withColumn("alive", sum(coalesce(col("d_alive"), lit(0L))).over(wCum))
      .withColumn("cum_value", sum(coalesce(col("d_value"), lit(0L))).over(wCum))
      .select(
        date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        coalesce(col("n_active"), lit(0L)).as("n_active_users"),
        (col("alive") - coalesce(col("n_active"), lit(0L))).as("n_carried_users"),
        moneyFromCents(col("cum_value")).as("carried_value"),
      )
  }

  /** Window-function analytics depth: per-user inter-event gaps (lag
    * over the event-time order) bucketed by value quartile within
    * each event type (ntile over a UNIQUE (value, event_id) order —
    * both engines assign ntile identically given a total order).
    * Gap sums are exact integer micros.
    *
    * Scale shape: two windows, each partitioned by a bounded key
    * (user for the lag, event type for the quartile); the final
    * aggregate is |types|×4 keys with map-side combine.
    */
  def eventGapQuartiles(spark: SparkSession, dir: String): DataFrame = {
    val wGap = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val wQ = Window.partitionBy("event_type").orderBy(col("vc"), col("event_id"))
    t(spark, dir, "events")
      .select(
        col("user_id"),
        col("event_id"),
        col("event_type"),
        cents(col("value")).as("vc"),
        expr("unix_micros(ts)").as("us"),
      )
      .withColumn("gap", col("us") - lag(col("us"), 1).over(wGap))
      .withColumn("quartile", ntile(4).over(wQ).cast("long"))
      .groupBy("event_type", "quartile")
      .agg(
        count(lit(1)).as("n_events"),
        // micros gaps need the 128-bit sum buffer (see scd2Intervals)
        sumScaled(coalesce(col("gap"), lit(0L))).cast("long").as("sum_gap_us"),
        max(col("gap")).as("max_gap_us"),
        moneyFromCents(sum(col("vc"))).as("total_value"),
      )
  }

  /** Weekly stickiness (avg-DAU / WAU): per 7-day window from the
    * epoch anchor, the number of active days, summed daily uniques,
    * weekly uniques, and their ratio ×10^6 — the product-health
    * metric ("how many of this week's users show up on a given
    * day"). Exact integers throughout: 10^6·ΣDAU wraps 64 bits only
    * past ~10^13 user-days — beyond design scale.
    *
    * Scale shape: ONE distinct shuffle over (week, day, user) — the
    * only corpus-sized exchange; daily and weekly uniques both derive
    * from it (the weekly distinct re-shuffles the already-deduped
    * frame, strictly smaller), and the final join runs on |weeks|
    * rows.
    */
  def stickinessWeekly(spark: SparkSession, dir: String): DataFrame = {
    val du = t(spark, dir, "events")
      .select(
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).cast("long").as("dayn"),
        col("user_id"),
      )
      .withColumn("week", expr("dayn div 7"))
      .select("week", "dayn", "user_id")
      .distinct()
    val daily = du
      .groupBy("week", "dayn")
      .agg(count(lit(1)).as("dau"))
      .groupBy("week")
      .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("dau_sum"))
    val weekly =
      du.select("week", "user_id").distinct().groupBy("week").agg(count(lit(1)).as("wau"))
    daily
      .join(weekly, "week")
      .select(
        col("week"),
        col("n_days"),
        col("dau_sum"),
        col("wau"),
        expr("(1000000 * dau_sum) div (n_days * wau)").as("stickiness_x1e6"),
      )
  }

  /** TPC-H Q10-style returned-item report: revenue lost to returns
    * per customer over one quarter, top 20. The returnflag and date
    * predicates both push to their parquet scans before any join.
    *
    * Broadcast discipline: customer and the filtered orders/lineitem
    * sides all scale with the corpus — no static hints; AQE makes the
    * size-based call (the quarter-filtered orders side often DOES fit
    * at runtime — that is AQE's measurement to make, not a compile
    * -time pin). Only the 25-row fixed-domain nation keeps its hint.
    * Top-20 plans as TakeOrderedAndProject: each partition keeps 20
    * candidates, no global sort. Exact decimal money via scaled-long
    * cents; (revenue, c_custkey) is a unique total order.
    */
  def q10ReturnedItem(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-10-01") && col("o_orderdate") < lit("1996-01-01"))
    val li = t(spark, dir, "lineitem").filter(col("l_returnflag") === "R")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(
        moneyFromScaled(
          sumScaled(cents(col("l_extendedprice")) * hundredths(lit(1) - col("l_discount"))),
          100L,
        ).as("revenue")
      )
      .select(
        col("c_custkey"),
        col("c_name"),
        moneyFromCents(cents(col("c_acctbal"))).as("acctbal"),
        col("n_name"),
        col("revenue"),
      )
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q18 (large-volume orders): customers whose single orders
    * exceed 300 units. The classic HAVING-subquery formulation is
    * rewritten as aggregate-then-join — lineitem aggregates ONCE to
    * per-order quantity sums and the >300 survivors (a tiny fraction)
    * drive the orders/customer joins, instead of scanning lineitem
    * twice (once for the IN-subquery, once for re-aggregation). The
    * oracle deliberately IS the textbook double-scan formulation.
    *
    * Quantities are small exact-integer doubles (≤ 50·7 per order),
    * so their sums are exact in any summation order. Both join sides
    * scale with the corpus — no static broadcast hints, AQE decides
    * (turnout de-pin rule). Top-100 by (totalprice, o_orderkey
    * unique tie-break) compiles to TakeOrderedAndProject.
    */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 300.0)
    t(spark, dir, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(
        col("c_custkey"),
        col("c_name"),
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        moneyFromCents(cents(col("o_totalprice"))).as("totalprice"),
        col("sum_qty"),
      )
      .orderBy(col("totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q12's shape over the synthetic schema (no l_shipmode /
    * l_receiptdate columns exist): lines shipped more than 60 days
    * after their order date, per ship month, split by order priority
    * class — the late-shipment audit. One corpus-scaling equi-join
    * (no hints, AQE decides) feeding a |months|-key hash aggregation
    * with map-side combine; the CASE sums are exact integers.
    */
  def q12ShipPriority(spark: SparkSession, dir: String): DataFrame = {
    val high = Seq("1-URGENT", "2-HIGH")
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("interval 60 days"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(
        sum(when(col("o_orderpriority").isin(high: _*), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(!col("o_orderpriority").isin(high: _*), 1L).otherwise(0L))
          .as("low_line_count"),
      )
  }

  /** TPC-H Q4 (order priority checking): orders in a quarter with at
    * least one LATE line (shipped > 30 days after the order date),
    * counted per priority. The EXISTS subquery is a LEFT SEMI join
    * with a mixed-side residual predicate — the dedicated semi-join
    * shape (no fan-out, no post-join dedup; a plain inner join would
    * double-count multi-late-line orders). Both sides scale with the
    * corpus: no hints, AQE picks the strategy.
    */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-07-01") && col("o_orderdate") < lit("1995-10-01"))
      .join(
        t(spark, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate")),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("interval 30 days"),
        "left_semi",
      )
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))

  /** TPC-H Q13 (customer distribution): how many customers placed
    * exactly k orders, INCLUDING the zero-order customers — which is
    * why the outer join exists (an inner join silently drops the
    * customers the question is mostly about). Double aggregation:
    * per-customer order counts, then the |distinct counts|-row
    * histogram. count(o_custkey) counts non-null matches only, so
    * the null row of an unmatched customer lands in the k=0 bucket.
    */
  def q13CustomerDistribution(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .select(col("c_custkey"))
      .join(
        t(spark, dir, "orders").select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"),
        "left_outer",
      )
      .groupBy(col("c_custkey"))
      .agg(count(col("o_custkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))

  /** TPC-H Q6 (forecasting revenue change): the pure scan-aggregate —
    * every predicate (date range, discount band, quantity cap) and
    * the 2-column projection push to the parquet scan, the aggregate
    * is a single global row. The benchmark's measure of raw scan +
    * pushdown quality; any plan with a shuffle before the partial
    * aggregate is wrong at every scale.
    */
  def q6RevenueForecast(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(
        col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
      .agg(
        moneyFromScaled(sumScaled(cents(col("l_extendedprice")) * cents(col("l_discount"))), 100L)
          .as("revenue"),
        count(lit(1)).as("n_items"),
      )

  /** TPC-H Q14 (promotion effect): conditional-aggregate fraction —
    * what share of a month's revenue came from PROMO-type parts. One
    * join (part scales with the corpus — unhinted, AQE decides), one
    * global aggregate carrying both the CASE'd and the plain sum, so
    * the fraction costs a single pass. The division is of two exact
    * rounded-cents doubles, with the same association as the oracle.
    */
  def q14PromoRevenue(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-09-01") && col("l_shipdate") < lit("1996-10-01"))
      .join(t(spark, dir, "part"), col("l_partkey") === col("p_partkey"))
      .select(
        (col("p_type") === "PROMO").as("is_promo"),
        (cents(col("l_extendedprice")) * hundredths(lit(1) - col("l_discount"))).as("__r"),
      )
      .agg(
        (lit(100.0) * moneyFromScaled(sumScaled(when(col("is_promo"), col("__r")).otherwise(lit(0L))), 100L)
          / moneyFromScaled(sumScaled(col("__r")), 100L)).as("promo_revenue_pct"),
        count(lit(1)).as("n_items"),
      )

  /** TPC-H Q19 (discounted revenue): the disjunctive-predicate join —
    * an OR of three (brand, size band, quantity band) conjunctions
    * rides the l_partkey = p_partkey equi-join as a residual filter.
    * Catalyst must still plan the equi hash join (the OR never forces
    * a nested loop) with the disjunction evaluated post-probe; the
    * brand/size legs additionally push to the part scan as an OR-of-
    * conjunctions filter.
    */
  def q19DiscountedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val leg = (brand: String, sizeMax: Int, qMin: Int, qMax: Int) =>
      col("p_brand") === brand && col("p_size").between(1, sizeMax) &&
        col("l_quantity") >= qMin && col("l_quantity") <= qMax
    t(spark, dir, "lineitem")
      .join(
        t(spark, dir, "part"),
        col("l_partkey") === col("p_partkey") &&
          (leg("Brand#11", 15, 1, 11) || leg("Brand#21", 25, 10, 20) || leg("Brand#15", 35, 20, 30)),
      )
      .agg(
        moneyFromScaled(sumScaled(cents(col("l_extendedprice")) * hundredths(lit(1) - col("l_discount"))), 100L)
          .as("revenue"),
        count(lit(1)).as("n_items"),
      )
  }

  /** TPC-H Q17 (small-quantity-order revenue): the classic correlated
    * scalar subquery — "lines whose quantity is under 20% of their
    * part's average" — in its decorrelated form: ONE per-part
    * aggregate (exact integer cents sum / count, so the average is
    * the identical IEEE double in any engine) joined back on the
    * part key, which is exactly the plan Catalyst's decorrelation
    * produces from the subquery formulation. The aggregate side is
    * re-derived from a fresh scan so the self-join shares no exprIds.
    */
  def q17SmallQuantityRevenue(spark: SparkSession, dir: String): DataFrame = {
    val avgQ = t(spark, dir, "lineitem")
      .groupBy(col("l_partkey").as("aq_partkey"))
      .agg((sum(cents(col("l_quantity"))).cast("double") / count(lit(1))).as("__avgq_cents"))
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "part").filter(col("p_brand") === "Brand#23"), col("l_partkey") === col("p_partkey"))
      .join(avgQ, col("l_partkey") === col("aq_partkey"))
      .filter(cents(col("l_quantity")).cast("double") < lit(0.2) * col("__avgq_cents"))
      .agg(
        (moneyFromCents(sum(cents(col("l_extendedprice")))) / 7.0).as("avg_yearly"),
        count(lit(1)).as("n_items"),
      )
  }

  /** TPC-H Q15 (top supplier): a revenue view consumed twice — once
    * for the per-supplier totals, once for their global max — then an
    * equality join of the two. The max side reduces to one broadcast
    * row (global no-group aggregate), so the "WHERE total_revenue =
    * (SELECT max ...)" shape costs one aggregate reuse, never a
    * second lineitem scan at the join. Revenue equality across
    * engines is exact because the doubles are identical
    * rounded-cents values.
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1996-04-01"))
      .groupBy(col("l_suppkey").as("supplier_no"))
      .agg(
        moneyFromScaled(sumScaled(cents(col("l_extendedprice")) * hundredths(lit(1) - col("l_discount"))), 100L)
          .as("total_revenue"))
    val maxRev = rev.agg(max(col("total_revenue")).as("__max_revenue"))
    rev
      .join(broadcast(maxRev), col("total_revenue") === col("__max_revenue"))
      .join(t(spark, dir, "supplier"), col("supplier_no") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
  }

  /** TPC-H Q8 (national market share): what fraction of ECONOMY-part
    * revenue sold into the ASIA region came from NATION_10 suppliers,
    * per order year. The two-nation-role join (customer's nation
    * binds the region, supplier's nation the share bucket) plus the
    * conditional-fraction aggregate. Fixed-domain dims (nation ×2,
    * region) keep broadcast hints; part/customer/supplier scale and
    * are unhinted (AQE).
    */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val n1 = t(spark, dir, "nation")
      .select(col("n_nationkey").as("c_n_key"), col("n_regionkey"))
    val n2 = t(spark, dir, "nation")
      .select(col("n_nationkey").as("s_n_key"), col("n_name").as("supp_nation"))
    val region = t(spark, dir, "region").filter(col("r_name") === "ASIA")
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "part").filter(col("p_type") === "ECONOMY"), col("l_partkey") === col("p_partkey"))
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(spark, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("c_nationkey") === col("c_n_key"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(n2), col("s_nationkey") === col("s_n_key"))
      .select(
        year(col("o_orderdate")).as("o_year"),
        (col("supp_nation") === "NATION_10").as("is_target"),
        (cents(col("l_extendedprice")) * hundredths(lit(1) - col("l_discount"))).as("__v"),
      )
      .groupBy(col("o_year"))
      .agg(
        (moneyFromScaled(sumScaled(when(col("is_target"), col("__v")).otherwise(lit(0L))), 100L)
          / moneyFromScaled(sumScaled(col("__v")), 100L)).as("mkt_share"),
        count(lit(1)).as("n_items"),
      )
  }

  /** TPC-H Q21 (suppliers who kept orders waiting), adapted to the
    * corpus schema: the reference predicate "receipt after commit"
    * has no receipt/commit dates here, so the fault flag is
    * l_returnflag = 'R' — the structure under test is unchanged: a
    * fact row that must be the ONLY faulty one among several
    * suppliers on the same order, i.e. one EXISTS (left-semi with a
    * supplier-inequality residual) and one NOT EXISTS (left-anti,
    * same shape) against two more scans of the same fact table. Each
    * leg is a fresh scan with renamed columns so the self-joins
    * share no exprIds.
    */
  def q21WaitingSupplier(spark: SparkSession, dir: String): DataFrame = {
    val l1 = t(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("o_key"), col("l_suppkey").as("supp"))
    val l2 = t(spark, dir, "lineitem")
      .select(col("l_orderkey").as("o_key2"), col("l_suppkey").as("supp2"))
    val l3 = t(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("o_key3"), col("l_suppkey").as("supp3"))
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"))
    l1.join(ord, col("o_key") === col("o_orderkey"))
      .join(l2, col("o_key") === col("o_key2") && col("supp") =!= col("supp2"), "left_semi")
      .join(l3, col("o_key") === col("o_key3") && col("supp") =!= col("supp3"), "left_anti")
      .join(t(spark, dir, "supplier"), col("supp") === col("s_suppkey"))
      .join(broadcast(t(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === "NATION_7")
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  /** TPC-H Q22 (global sales opportunity), adapted twice to the
    * corpus: the phone-prefix country filter becomes a nation-key
    * set (no phone column), and "never bought" becomes "no order
    * since 1999-01-01" (this corpus gives every customer at least
    * one order, so the literal NOT EXISTS is empty at every SF — the
    * lapsed-customer variant keeps the anti join doing real work).
    * Structure under test: a scalar subquery (global average of
    * positive balances — one broadcast row), an anti join against
    * the recent-orders slice, and the per-country aggregate. The
    * average is an exact cents-sum / count, identical IEEE in both
    * engines.
    */
  def q22GlobalSales(spark: SparkSession, dir: String): DataFrame = {
    val nats = Seq(3, 7, 13, 17, 19)
    val cust = t(spark, dir, "customer").filter(col("c_nationkey").isin(nats: _*))
    val avgBal = cust
      .filter(col("c_acctbal") > 0.0)
      .agg((sum(cents(col("c_acctbal"))).cast("double") / count(lit(1))).as("__avg_cents"))
    val recent = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1999-01-01"))
      .select(col("o_custkey"))
    cust
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .crossJoin(broadcast(avgBal))
      .filter(cents(col("c_acctbal")).cast("double") > col("__avg_cents"))
      .groupBy(col("c_nationkey").as("cntrycode"))
      .agg(
        count(lit(1)).as("numcust"),
        moneyFromCents(sum(cents(col("c_acctbal")))).as("totacctbal"),
      )
  }

  // ---- derived-partsupp TPC-H analogues (Q2 / Q11 / Q16 / Q20) ------------
  //
  // The corpus has no partsupp table, so the four partsupp-centric
  // TPC-H queries run over a DERIVED part-supplier relation: one
  // aggregate of lineitem by (l_partkey, l_suppkey) with
  //   ps_availqty_c   = sum(quantity) in exact hundredths (supply proxy)
  //   ps_supplycost_c = min(extendedprice) in exact cents  (cost proxy)
  // Both exact integers, so every downstream comparison/arithmetic is
  // engine-identical. The relation is session-memoized (NamedArtifact)
  // because all four queries start from it — at deployment scale it is
  // a stored derived table, built by one lineitem shuffle on the
  // composite key and read by each query.

  private val partsuppCache = graft.util.Artifacts.memo(this, "graft_partsupp")

  /** Drop the memoized derived-partsupp artifact (benchmark hygiene —
    * same eager-unpersist rationale as [[Dedup.invalidate]]).
    */
  def invalidate(): Unit = graft.util.Artifacts.reset(this)

  /** The shared derived partsupp relation (see block comment above).
    * One lineitem scan + one shuffle on (l_partkey, l_suppkey); the
    * per-pair sums are Long-safe at any corpus size (a pair's row
    * count is bounded by its order count, and 2⁶³ hundredths ≈ 9·10¹⁶
    * units per single part-supplier pair is unreachable).
    */
  def derivedPartsupp(spark: SparkSession, dir: String): DataFrame =
    partsuppCache(spark, dir) {
      t(spark, dir, "lineitem")
        .groupBy(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
        .agg(
          sum(cents(col("l_quantity"))).as("ps_availqty_c"),
          min(cents(col("l_extendedprice"))).as("ps_supplycost_c"),
        )
    }

  /** TPC-H Q2 analogue (min-cost supplier): for each LARGE small-size
    * part, the ASIA-region supplier(s) offering it at the regional
    * minimum cost. The correlated-min subquery decorrelates into a
    * per-part window min. Plan: the part filter joins BEFORE the
    * window (min-per-part commutes with dropping whole parts), so the
    * window shuffle carries only the ~1/12 slice that can reach the
    * output; nation/region are broadcast dims, but the filtered part
    * slice is a constant FRACTION of a corpus-scaling table (the q16
    * doctrine), so it carries no static hint — AQE decides from the
    * post-filter size. The
    * LIMIT rides a unique total order (acctbal, n_name, s_name,
    * p_partkey — a supplier appears once per part).
    */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val asiaNations = t(spark, dir, "nation")
      .join(
        broadcast(t(spark, dir, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val parts = t(spark, dir, "part")
      .filter(col("p_size") <= 25 && col("p_type") === "LARGE")
      .select(col("p_partkey"), col("p_brand"))
    derivedPartsupp(spark, dir)
      .join(t(spark, dir, "supplier"), col("ps_suppkey") === col("s_suppkey"))
      .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
      .join(parts, col("ps_partkey") === col("p_partkey"))
      .withColumn("__m_cost", min(col("ps_supplycost_c")).over(Window.partitionBy(col("ps_partkey"))))
      .filter(col("ps_supplycost_c") === col("__m_cost"))
      .select(
        dec2(col("s_acctbal")).cast("double").as("acctbal"),
        col("s_name"),
        col("n_name"),
        col("p_partkey"),
        col("p_brand"),
        col("ps_supplycost_c").as("supplycost_c"),
      )
      .orderBy(col("acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  /** TPC-H Q11 analogue (important stock): per-part inventory value
    * held by suppliers in two nations, keeping parts worth more than
    * 2× the mean per-part value. The original's fixed 1/10000
    * fraction is part-count-dependent (it empties as parts scale);
    * the mean-relative threshold is SF-invariant — `sum(v)·npart >
    * 2·total` in exact integer/decimal math on both engines. The
    * per-row value product stays a Long (cost ≤ ~10⁹ cents × per-pair
    * qty ≤ ~10⁶ hundredths « 2⁶³); group sums accumulate in the
    * primitive 128-bit [[Num.sumScaled]] buffer, so no magnitude
    * overflows at any corpus size. The threshold's 1-row aggregate
    * broadcasts (the q22 scalar-subquery shape).
    */
  def q11ImportantStock(spark: SparkSession, dir: String): DataFrame = {
    val nations = t(spark, dir, "nation").filter(col("n_name").isin("NATION_3", "NATION_7"))
    val nps = derivedPartsupp(spark, dir)
      .join(t(spark, dir, "supplier"), col("ps_suppkey") === col("s_suppkey"))
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .select(col("ps_partkey"), (col("ps_supplycost_c") * col("ps_availqty_c")).as("v"))
    val tot = nps.agg(
      sumScaled(col("v")).as("__total_v"),
      countDistinct(col("ps_partkey")).as("__npart"),
    )
    nps
      .groupBy(col("ps_partkey").as("partkey"))
      .agg(sumScaled(col("v")).as("__value"))
      .crossJoin(broadcast(tot))
      .filter(col("__value") * col("__npart") > lit(2) * col("__total_v"))
      .select(col("partkey"), col("__value").cast("long").as("value_c2"))
  }

  /** TPC-H Q16 analogue (part-supplier relationship count): how many
    * distinct non-excluded suppliers offer each surviving
    * (brand, type, size) bucket. The complaints exclusion becomes the
    * negative-balance supplier set — an anti join (NOT IN on a
    * non-null key is exactly left-anti). Both the exclusion set and
    * the filtered part side SCALE WITH THE CORPUS (supplier sf×10k,
    * part sf×200k), so neither carries a static broadcast hint — AQE
    * broadcasts from the measured post-filter size while it fits and
    * falls back to a shuffle join past that (the supplier/part
    * doctrine above). One unavoidable shuffle: the countDistinct
    * regroup from (part,supp) grain to the 3-column bucket.
    */
  def q16PartSupplierCounts(spark: SparkSession, dir: String): DataFrame = {
    val excluded = t(spark, dir, "supplier")
      .filter(col("s_acctbal") < 0.0)
      .select(col("s_suppkey").as("__bad_supp"))
    val parts = t(spark, dir, "part")
      .filter(
        col("p_brand") =!= "Brand#13" && col("p_type") =!= "MEDIUM" &&
          col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    derivedPartsupp(spark, dir)
      .join(excluded, col("ps_suppkey") === col("__bad_supp"), "left_anti")
      .join(parts, col("ps_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
  }

  /** TPC-H Q20 analogue (suppliers of recently-hot parts): suppliers
    * in three nations holding a '%bolt%' part whose 1996 shipments
    * exceed half its all-time movement (the original's
    * availqty > ½·year-demand excess-stock test, inverted to a
    * recently-hot test because the derived availqty proxy CONTAINS
    * the year slice — `2·qty96 > availqty` keeps the comparison
    * strict, integral, and scale-free). Plan: the year slice is a
    * second lineitem aggregate on the same composite key; its join to
    * the derived relation is key-aligned, the part filter prunes
    * before it, and the supplier side reduces to a left-semi against
    * the distinct hot-supplier set.
    */
  def q20HotPartSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val q96 = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01"))
      .groupBy(col("l_partkey").as("q_partkey"), col("l_suppkey").as("q_suppkey"))
      .agg(sum(cents(col("l_quantity"))).as("__qty96_c"))
    val bolts = t(spark, dir, "part")
      .filter(col("p_name").like("%bolt%"))
      .select(col("p_partkey"))
    val hotSuppliers = derivedPartsupp(spark, dir)
      .join(bolts, col("ps_partkey") === col("p_partkey"))
      .join(q96, col("ps_partkey") === col("q_partkey") && col("ps_suppkey") === col("q_suppkey"))
      .filter(lit(2) * col("__qty96_c") > col("ps_availqty_c"))
      .select(col("ps_suppkey"))
      .distinct()
    val nations = t(spark, dir, "nation")
      .filter(col("n_name").isin("NATION_3", "NATION_8", "NATION_12"))
    t(spark, dir, "supplier")
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .join(hotSuppliers, col("s_suppkey") === col("ps_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
  }

  /** Peak concurrent sessions per day — the capacity-planning gauge
    * ("how many users were on at once"). Sessions are the same
    * 1-hour-gap islands as [[userSessions]]; each contributes a +1
    * boundary at its start and a −1 at its end (inclusive-touch
    * convention: at an equal instant, starts order before ends, so a
    * session ending exactly when another starts counts as an
    * overlap). Peak(day) = carry-in from all earlier days + the max
    * running boundary sum within the day.
    *
    * Determinism: the running sum rides the unique total order
    * (us, delta DESC, user_id) — a user's own start/end at the same
    * instant differ in delta, and distinct same-instant users differ
    * in user_id.
    *
    * Scale shape: a textbook two-level prefix sum. The corpus-sized
    * sweep is PARTITIONED by day (the classic interval-stabbing
    * running sum would be one global-order window — a single-reducer
    * sort at 100 TB); the cross-day dependency collapses into a
    * |days|-row cumulative of per-day boundary totals, where a
    * single-partition window is free. One per-user session window +
    * one per-day window + the tiny carry join.
    */
  def concurrencyPeaks(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 3600L * 1000 * 1000
    val w = Window.partitionBy("user_id").orderBy(col("__us"), col("event_id"))
    val sessions = t(spark, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("__us"))
      .withColumn("__prev", lag("__us", 1).over(w))
      .withColumn(
        "__new_session",
        when(col("__prev").isNull || col("__us") - col("__prev") > gapUs, 1).otherwise(0),
      )
      .withColumn("__sid", sum("__new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "__sid")
      .agg(min("__us").as("start_us"), max("__us").as("end_us"))
    val bounds = sessions
      .select(col("user_id"), col("start_us").as("us"), lit(1L).as("delta"))
      .unionAll(sessions.select(col("user_id"), col("end_us").as("us"), lit(-1L).as("delta")))
      .withColumn("dayn", expr("us div 86400000000"))
    val wDay = Window.partitionBy("dayn").orderBy(col("us"), col("delta").desc, col("user_id"))
    val wCarry = Window.orderBy(col("dayn")).rowsBetween(Window.unboundedPreceding, -1)
    bounds
      .withColumn("rs", sum(col("delta")).over(wDay.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("dayn")
      .agg(
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_starts"),
        max(col("rs")).as("__local_peak"),
        sum(col("delta")).as("__tot"),
      )
      .withColumn("__carry", coalesce(sum(col("__tot")).over(wCarry), lit(0L)))
      .select(
        col("dayn"),
        col("n_starts"),
        (col("__carry") + col("__local_peak")).as("peak_concurrency"),
      )
  }

  /** Median-absolute-deviation outlier census per event type — the
    * robust twin of [[zscoreOutliers]] (a handful of extreme values
    * drags μ and σ toward themselves, so the z-score screen under-
    * counts exactly when it matters; the median and MAD don't move).
    * Both medians use the exact `percentile_disc` rank rule of
    * [[TextAnalysis.lengthPercentiles]] on integer cents, so every
    * compared quantity is exact — flags dev > 3·MAD in integers.
    *
    * Scale shape: ONE corpus pass, then pure histogram math.
    * SORT-FREE medians (the quantile_histogram / gkBoundsGate rule) —
    * a per-type rank window would sort a corpus-sized partition per
    * task at this key domain (~5 types). The per-(type, value) count
    * histogram is built once (map-side combine, the only corpus-wide
    * shuffle); the deviation distribution is then derived FROM the
    * histogram (each value bin maps to the |value − median| bin with
    * its count — no second corpus pass, where the previous shape
    * re-joined every event row against the median and re-aggregated
    * the corpus for the MAD), and the outlier census reads off the
    * deviation histogram the same way. The |types|-row median frames
    * join back un-hinted (AQE broadcasts the measured rows). The production path at 100 TB
    * swaps in the GK sketch, validated against this exact twin.
    */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    def histMedian(h: DataFrame, v: String, out: String): DataFrame = {
      val wCum = Window.partitionBy("event_type").orderBy(col(v))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy("event_type")
      h.withColumn("__cum", sum(col("__cnt")).over(wCum))
        .withColumn("__n", sum(col("__cnt")).over(wAll))
        .groupBy("event_type")
        .agg(min(when(col("__cum") >= expr("((__n - 1) * 50) div 100") + 1, col(v))).as(out))
    }
    val hist = t(spark, dir, "events")
      .select(col("event_type"), cents(col("value")).as("vc"))
      .groupBy("event_type", "vc")
      .agg(count(lit(1)).as("__cnt"))
    // value histogram → deviation histogram: bin-level |v − median|
    // re-bin (multiple value bins can land on one deviation bin)
    val devHist = hist
      .join(histMedian(hist, "vc", "med_c"), "event_type")
      .groupBy(col("event_type"), abs(col("vc") - col("med_c")).as("dev"))
      .agg(sum(col("__cnt")).as("__cnt"), max(col("med_c")).as("med_c"))
    devHist
      .join(histMedian(devHist, "dev", "mad_c"), "event_type")
      .groupBy("event_type")
      .agg(
        sum(col("__cnt")).as("n_events"),
        moneyFromCents(max(col("med_c"))).as("median_value"),
        moneyFromCents(max(col("mad_c"))).as("mad_value"),
        sum(when(col("dev") > lit(3L) * col("mad_c"), col("__cnt")).otherwise(0L)).as("n_outliers"),
      )
  }
}
