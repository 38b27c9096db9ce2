package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** k-anonymity over the event log — the re-identification screen a
  * privacy tier runs next to the PII scrub (Pii.scala): a released
  * slice is k-anonymous when every quasi-identifier (QI) class
  * contains at least k distinct users, so no row narrows an
  * individual below a crowd of k. QI here is (event_type, hour) —
  * the classic "when + what" pair that gets sparse enough to
  * re-identify; k = 5.
  *
  * Two operators: the CENSUS (per-class sizes + the meets-k flag —
  * what an auditor reads), and LOCAL GENERALIZATION (the Mondrian-
  * style fix: classes failing at hour granularity coarsen to day;
  * classes still failing at day are suppressed — only the failing
  * slice ever coarsens, passing cells keep full resolution).
  *
  * Scale shape: the census is one groupBy over the event scan with
  * map-side combine down to |event_type|×|hours| rows (a
  * time-span-bounded domain, not corpus-bound). Generalization
  * re-aggregates ONLY the rows of failing cells: the event scan
  * joins the failing-cell list (bounded by the same domain; AQE
  * picks broadcast from its post-filter size — no static hint) and
  * the day re-aggregation runs over that long-tail slice, not the
  * corpus. Two exchanges total, both on bounded keys; nothing
  * quadratic, nothing corpus-wide beyond the two linear scans. The
  * join side re-derives its scan from Tables so the lineages share
  * no exprIds (the DetectAmbiguousSelfJoin rule — see
  * minhashIncrementalPairs).
  */
object Privacy {

  /** The anonymity threshold: a QI class is releasable when at least
    * K distinct users share it.
    */
  val K = 5

  private def events(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(
        col("event_type"),
        col("ts"),
        col("user_id"),
        date_trunc("hour", col("ts")).as("hr"),
      )

  private def hourAgg(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy("event_type", "hr")
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
      )

  /** The diversity threshold: a QI class is distinct-l-diverse when
    * its rows carry at least L distinct sensitive values.
    */
  val L = 3

  /** Per-QI-class census: row and distinct-user counts plus the
    * meets-k flag. The audit table.
    */
  def kAnonymityCensus(spark: SparkSession, dir: String): DataFrame =
    hourAgg(spark, dir)
      .select(
        col("event_type"),
        date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("n_rows"),
        col("n_users"),
        (col("n_users") >= K).cast("int").as("meets_k"),
      )

  /** Distinct l-diversity census: k-anonymity bounds who can hide in
    * a class; l-diversity bounds what the class reveals — if all K
    * members share one sensitive value, membership alone discloses
    * it (the homogeneity attack k-anonymity misses). Sensitive
    * attribute here is the event payload `props.$.k`; a class is
    * distinct-l-diverse when its rows carry ≥ L distinct payloads.
    * Same one-groupBy bounded-domain plan as the k census; the JSON
    * extraction is map-side, so the shuffle carries only the class
    * keys and partial distinct sets.
    */
  def lDiversityCensus(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(
        col("event_type"),
        date_trunc("hour", col("ts")).as("hr"),
        get_json_object(col("props"), "$.k").cast("int").as("sens"),
      )
      .groupBy("event_type", "hr")
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("sens")).as("n_sensitive"),
      )
      .select(
        col("event_type"),
        date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("n_rows"),
        col("n_sensitive"),
        (col("n_sensitive") >= L).cast("int").as("meets_l"),
      )

  /** The closeness threshold, 1e6-scaled: a class passes when its
    * sensitive-value distribution sits within t = 0.35 of the corpus
    * distribution (categorical EMD = half the L1 distance).
    */
  val T_SCALED = 350000L

  /** t-closeness census: l-diversity counts distinct sensitive values
    * but a class can be diverse yet SKEWED (99% one diagnosis); a
    * class is t-close when its sensitive distribution is within t of
    * the corpus marginal under categorical EMD = ½·L1. Kept exact in
    * scaled integers: with class size n_c, corpus size N, class
    * counts cnt_cs and marginals cnt_s,
    *
    *   dist = 1e6 · [ Σ_{s∈c} |cnt_cs·N − cnt_s·n_c|
    *                  + (N − Σ_{s∈c} cnt_s) · n_c ]  div  (2·n_c·N)
    *
    * — the second term folds in every sensitive value ABSENT from the
    * class (|0 − p_s| mass) without materializing the class×domain
    * cross product. Products run in DECIMAL(38,0) (cnt·N passes 9e18
    * once N ~ 1e10; the oracle's twin runs HUGEINT).
    *
    * Plan: ONE corpus scan aggregates to the (class, sens) table
    * (domain-bounded: classes × |sens| values, never corpus-bound),
    * and every other quantity derives from it: class size n_c and
    * sens marginal cnt_s as window SUMs over the bounded frame
    * (partitioned by class / by sens — never the corpus), and the
    * corpus total N as a 1-row same-lineage aggregate on a crossJoin
    * (the q11/q22 scalar-subquery shape; no hint — AQE broadcasts a
    * 1-row frame). No second scan and no key join: the earlier
    * fresh-scan-marginal version read the corpus three times, and
    * re-deriving the marginal from cs with an equi-join would trip
    * DetectAmbiguousSelfJoin — windows over one lineage sidestep
    * both. NULL-sens rows (unparseable payloads) count toward n_c
    * and N but never enter the L1 present terms, so their mass rides
    * the (N − Σ_present)·n_c absent term — an unparseable payload is
    * treated as maximally divergent — matching the oracle's inner
    * join exactly.
    */
  def tClosenessCensus(spark: SparkSession, dir: String): DataFrame = {
    val cs = Tables(spark, dir, "events")
      .select(
        col("event_type"),
        date_trunc("hour", col("ts")).as("hr"),
        get_json_object(col("props"), "$.k").cast("int").as("sens"),
      )
      .groupBy("event_type", "hr", "sens")
      .agg(count(lit(1)).as("cnt"))
    val tot = cs.agg(sum(col("cnt")).cast("long").as("n_total"))
    cs.withColumn("n_c", sum(col("cnt")).over(Window.partitionBy("event_type", "hr")))
      .withColumn("cnt_s", sum(col("cnt")).over(Window.partitionBy("sens")))
      .crossJoin(tot)
      .groupBy("event_type", "hr", "n_c", "n_total")
      .agg(
        sum(expr(
          "CASE WHEN sens IS NULL THEN CAST(0 AS DECIMAL(38,0)) ELSE " +
            "abs(CAST(cnt AS DECIMAL(38,0)) * n_total - CAST(cnt_s AS DECIMAL(38,0)) * n_c) END"))
          .as("pres"),
        sum(when(col("sens").isNotNull, col("cnt_s"))).as("pres_cnt_s"),
      )
      // a class with NO parseable payload has no L1 terms on either
      // engine: the oracle's inner join drops it entirely — match that
      .filter(col("pres_cnt_s").isNotNull)
      .select(
        col("event_type"),
        date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("n_c").as("n_rows"),
        expr(
          "CAST((CAST(1000000 AS DECIMAL(38,0)) * (pres " +
            "+ CAST(n_total - pres_cnt_s AS DECIMAL(38,0)) * n_c)) div " +
            "(CAST(2 AS DECIMAL(38,0)) * n_c * n_total) AS BIGINT)").as("t_dist"),
      )
      .withColumn("meets_t", (col("t_dist") <= T_SCALED).cast("int"))
  }

  /** Local generalization with suppression: hour-level classes that
    * meet k release at full resolution; the rows of failing classes
    * coarsen to (event_type, day) and release there if the merged
    * class meets k; day-level classes still under k are suppressed
    * (reported, never released). Levels partition the event rows:
    * every event lands in exactly one output class.
    */
  def kAnonymityGeneralize(spark: SparkSession, dir: String): DataFrame = {
    val hours = hourAgg(spark, dir)
    val hourPass = hours
      .filter(col("n_users") >= K)
      .select(
        lit("hour").as("level"),
        col("event_type"),
        date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("n_rows"),
        col("n_users"),
      )
    val failCells = hours.filter(col("n_users") < K).select("event_type", "hr")
    // fresh scan for the row side: joining the aggregate back onto
    // the lineage it came from trips DetectAmbiguousSelfJoin
    val failRows = events(spark, dir).join(failCells, Seq("event_type", "hr"))
    val days = failRows
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
      )
    val mk = (lvl: String) => (df: DataFrame) =>
      df.select(
        lit(lvl).as("level"),
        col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("bucket"),
        col("n_rows"),
        col("n_users"),
      )
    hourPass
      .unionAll(mk("day")(days.filter(col("n_users") >= K)))
      .unionAll(mk("suppressed")(days.filter(col("n_users") < K)))
  }
}
