package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DateType, DoubleType, FloatType, IntegerType, LongType, StringType, TimestampNTZType, TimestampType}

import graft.util.Artifacts

/** Loader for the driver-generated parquet corpus (TESTDATA.md).
  *
  * Parquet is the columnar at-rest format: scans get predicate
  * pushdown, column pruning, and the vectorized reader for free —
  * verified via .explain (PushedFilters / ReadSchema). At 100 TB the
  * same code path applies; only the directory changes.
  *
  * Loaded relations are memoized per (session, dir, name): the
  * DataFrame is an immutable logical plan, so reusing it across
  * queries is free and skips the per-call file listing + parquet
  * schema inference that would otherwise tax every one of the ~45
  * gate queries (the driver runs them all in one session).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
  )

  // weak session keys + weak values: memoization must not pin a
  // session (or its plans) for the JVM lifetime — see SessionCache
  private val cache = Artifacts.sessionMemo[(String, String, Boolean), DataFrame](this)

  /** Drop every memoized relation (e.g. between benchmark runs, so a
    * timed run cannot ride on a previous run's listing work).
    */
  def invalidate(): Unit = Artifacts.reset(this)

  /** Canonicalize an `events.ts` column to session-zoned
    * TimestampType (µs precision) regardless of which encoding the
    * corpus generation happened to use. The dispatch is on the ACTUAL
    * read type, not an assumed one — corpora have shipped with at
    * least two encodings so far:
    *
    *   - parquet TIMESTAMP(NANOS): not a legal Spark type; with
    *     `nanosAsLong` it surfaces as a raw nanos LongType →
    *     `timestamp_micros(ts div 1000)`.
    *   - parquet TIMESTAMP(MICROS) with isAdjustedToUTC=false: Spark 4
    *     reads it as TimestampNTZType → cast to TimestampType. Exact
    *     under the engine's pinned UTC session timezone (the cast
    *     re-interprets the same wall-clock fields, and UTC makes the
    *     wall clock the instant).
    *   - parquet TIMESTAMP(MICROS) adjusted to UTC: already
    *     TimestampType → pass through.
    *
    * Every downstream `unix_micros(ts)` / window / watermark then sees
    * one stable type. Batch ([[apply]]) and streaming
    * ([[graft.streaming.StreamingQueries.eventsStream]]) MUST share
    * this helper: round 6 lost 16 gates because the two read paths
    * each hard-coded the nanos branch.
    */
  def canonicalizeEventTs(df: DataFrame): DataFrame =
    canonicalizeTimeCol(df, "ts", TimestampType)

  /** The general form of [[canonicalizeEventTs]]: pin `colName` to
    * `target` (the type every downstream query was written against)
    * no matter which at-rest encoding this round's corpus shipped.
    * Dispatch arms:
    *
    *   - already `target` → untouched (today's encoding, zero cost);
    *   - LongType = raw nanos under `nanosAsLong` →
    *     `timestamp_micros(v div 1000)` then cast;
    *   - TIMESTAMP NTZ ↔ LTZ and DATE → plain cast. All exact under
    *     the engine's pinned UTC session timezone (the cast
    *     re-interprets the same wall-clock fields, and UTC makes the
    *     wall clock the instant; DATE is its midnight).
    *
    * The target is per-column, NOT a global normal form: `events.ts`
    * canonicalizes to session-zoned TimestampType (watermarks,
    * `unix_micros`), while the TPC-H date columns canonicalize to
    * TIMESTAMP_NTZ — exactly the types those queries and their green
    * oracle rows were built against, so a corpus re-encoding can
    * never shift query OUTPUT types either.
    */
  def canonicalizeTimeCol(df: DataFrame, colName: String, target: DataType): DataFrame =
    df.schema.fields.find(_.name == colName).map(_.dataType) match {
      case Some(`target`) | None => df
      case Some(LongType) =>
        df.withColumn(colName, expr(s"timestamp_micros($colName div 1000)").cast(target))
      case Some(TimestampNTZType) | Some(TimestampType) | Some(DateType) =>
        df.withColumn(colName, col(colName).cast(target))
      case _ => df
    }

  /** Per-table time-column contracts: the type the engine's queries
    * (and their committed oracle rows) assume. Round 6 proved the
    * corpus regeneration can silently re-encode any of these; every
    * batch read goes through this map so the blast radius of the next
    * re-encoding is zero.
    */
  private val timeContracts: Map[String, Seq[(String, DataType)]] = Map(
    "events" -> Seq("ts" -> TimestampType),
    "orders" -> Seq("o_orderdate" -> TimestampNTZType),
    "lineitem" -> Seq("l_shipdate" -> TimestampNTZType),
  )

  /** Plain cast-to-contract columns (no time semantics) — EVERY
    * column any gate reads, pinned to the type the queries and their
    * committed oracle rows were built against. The events.ts incident
    * (round 6: 16 gates lost to a silent nanos→micros re-encode)
    * proved corpus regeneration can re-encode anything; this matrix
    * makes the blast radius of the NEXT re-encoding zero for:
    *
    *   - strings shipped as un-annotated BYTE_ARRAY (Spark reads
    *     BinaryType; the cast is the exact UTF-8 decode),
    *   - integral width flips (int32 ↔ int64 — a widened re-encode of
    *     the same values casts back exactly; output schemas must not
    *     shift or every emitting gate schema-mismatches),
    *   - floats/decimals re-encoded for double columns,
    *   - `embeddings.embedding` as `list<double>` (the typed Catalyst
    *     expressions require `array<float>` exactly; a double
    *     re-encoding of the same f32 values casts back bit-exactly).
    *
    * Same-type columns are untouched (today's corpus hits the
    * identity arm everywhere). Genuinely different VALUES still fail
    * the oracle compare loudly — the casts widen survival across
    * encodings, never hide drift. FormatsSpec pins the matrix.
    */
  private val columnContracts: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq(
      "n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
    "customer" -> Seq(
      "c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
    "supplier" -> Seq(
      "s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
      "s_acctbal" -> DoubleType),
    "part" -> Seq(
      "p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq(
      "o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
      "o_totalprice" -> DoubleType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq(
      "l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType),
    "events" -> Seq(
      "event_id" -> LongType, "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq(
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq(
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
  )

  /** Apply `name`'s full column contract (time canonicalizers + type
    * casts) to an already-loaded frame. Shared by the batch loader
    * below and the declared-schema STREAMING sources — the round-6
    * lesson generalized: every read path must see one stable schema,
    * from one shared dispatcher.
    */
  def applyContracts(df: DataFrame, name: String): DataFrame = {
    val timed = timeContracts.getOrElse(name, Nil).foldLeft(df) { case (d, (c, t)) =>
      canonicalizeTimeCol(d, c, t)
    }
    columnContracts.getOrElse(name, Nil).foldLeft(timed) { case (d, (c, t)) =>
      if (d.schema.fields.exists(f => f.name == c && f.dataType != t))
        d.withColumn(c, col(c).cast(t))
      else d
    }
  }

  /** The `nanosAsLong` conf only matters for the TIMESTAMP(NANOS)
    * encoding (without it that footer type fails to load at all); it
    * is inert for the other encodings. Dynamic SQLConf, so this works
    * on any caller-provided session.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    cache.getOrElseUpdate(spark, (dir, name, false)) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      applyContracts(spark.read.parquet(s"$dir/$name.parquet"), name)
    }

  /** Like apply, but with full-cluster parallelism GUARANTEED for the
    * expression-heavy map work downstream (hashing, vector math).
    *
    * The repartition is conditional: only when the scan yields fewer
    * input partitions than cores (the local test corpus is one small
    * file → one partition, which would serialize the operator on one
    * core). On a real deployment the input is thousands of splits, the
    * condition is false, and NO exchange is added — a blanket
    * repartition would round-robin-shuffle the full corpus on every
    * operator invocation.
    */
  def parallel(spark: SparkSession, dir: String, name: String): DataFrame =
    cache.getOrElseUpdate(spark, (dir, name, true)) {
      val df = apply(spark, dir, name)
      val cores = spark.sparkContext.defaultParallelism
      // physical planning only — no job runs; memoized with the relation
      val scanParts = df.rdd.getNumPartitions
      if (scanParts < cores) df.repartition(cores) else df
    }
}
