package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.VotingOps
import graft.sources.VoteIngest

/** End-to-end rebuild of the reference streaming job
  * (spark-streaming.py:12-107): source → parse → watermark → two
  * concurrent running aggregations → update-mode changelog sinks,
  * each with its own checkpoint.
  *
  * Sinks are pluggable the same way sources are: "kafka" in
  * production (`to_json(struct(*))` as the value payload, exactly the
  * reference's spark-streaming.py:83-84), "memory" in tests.
  */
object VotePipeline {

  /** The shared lineage: parsed, watermarked vote-topic records. */
  def parsedStream(raw: DataFrame, watermarkDelay: String = "1 minute"): DataFrame =
    VoteIngest.parse(raw).withWatermark("voting_time", watermarkDelay)

  /** Serialize an aggregate row back to a Kafka-shaped value column
    * (reference spark-streaming.py:83-84, 94-95).
    */
  def toChangelogValue(df: DataFrame): DataFrame =
    df.select(to_json(struct(col("*"))).as("value"))

  /** Start an update-mode changelog query on an arbitrary sink.
    *
    * format = "kafka": the production path of the reference job
    * (spark-streaming.py:83-103) — aggregate rows serialize via
    * [[toChangelogValue]] and land on `topic`; checkpoint per query.
    * Other formats (memory/parquet/console) take the rows as-is.
    */
  def startQuery(
      agg: DataFrame,
      format: String,
      queryName: String,
      checkpoint: String,
      topic: Option[String] = None,
      options: Map[String, String] = Map.empty,
  ): StreamingQuery = {
    val payload = if (format == "kafka") toChangelogValue(agg) else agg
    val w = payload.writeStream
      .outputMode("update")
      .format(format)
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .options(options)
    topic.fold(w)(t => w.option("topic", t)).start()
  }

  /** Scale posture for long-running stateful queries: the RocksDB
    * state store keeps per-key state off-heap and spills to disk, so
    * state size is bounded by disk not executor memory. Call before
    * starting high-cardinality stateful queries (dedup on voter_id at
    * 100 TB).
    */
  val RocksDbProviderClass: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  val StateStoreProviderKey: String = "spark.sql.streaming.stateStore.providerClass"

  def useRocksDbStateStore(spark: SparkSession): Unit =
    spark.conf.set(StateStoreProviderKey, RocksDbProviderClass)

  /** Both reference aggregations from one shared lineage. Each
    * query gets its own checkpoint + state store, as in the
    * reference (spark-streaming.py:89, 100).
    */
  def aggregates(parsed: DataFrame): (DataFrame, DataFrame) =
    (VotingOps.votesPerCandidate(parsed), VotingOps.turnoutByLocation(parsed))

  /** Single-pass fan-out: ONE streaming query reads the source once
    * per micro-batch and feeds BOTH aggregations via foreachBatch —
    * unlike the reference's two independent queries, which each
    * re-read the whole topic (SURVEY ST7). At 100 TB the source scan
    * is the dominant cost, so halving it matters; the trade is that
    * both sinks now share one checkpoint/failure domain.
    *
    * Running totals are kept correct across micro-batches by
    * aggregating each batch and merging into the sink tables with
    * batch-local recompute: foreachBatch receives the NEW rows only,
    * so we accumulate into two in-memory stores keyed like the
    * reference's changelog consumers would.
    *
    * Retry contract: foreachBatch is AT-LEAST-ONCE — after a failure
    * the same micro-batch is re-delivered with the SAME batch id. The
    * callbacks therefore receive `(partials, batchId)` and MUST
    * upsert keyed by batch id (replace that batch's partials, never
    * append), or a retried batch double-counts. StreamGate's fan-out
    * pass (one [[ChangelogCapture]] per partial) is the model
    * implementation; the retry spec in StreamingAdvancedSpec pins the
    * semantics. The checkpoint is a throwaway scratch dir
    * ([[StreamGate.scratchDir]]).
    */
  def startFanOut(
      parsed: DataFrame,
      writeVotes: (DataFrame, Long) => Unit,
      writeTurnout: (DataFrame, Long) => Unit,
  ): StreamingQuery = {
    parsed.writeStream
      .outputMode("update")
      .option("checkpointLocation", StreamGate.scratchDir("graft-ckpt-fanout"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val b = batch.persist()
        try {
          writeVotes(VotingOps.votesPerCandidate(b.toDF()), batchId)
          writeTurnout(VotingOps.turnoutByLocation(b.toDF()), batchId)
        } finally { b.unpersist(); () }
      }
      .start()
  }

  /** Update-mode changelog capture keyed by the EXPLICIT foreachBatch
    * batch id — what a consumer of the reference's output topics must
    * do to materialize final values (SURVEY §2.7 ST3). Update mode
    * emits each changed key at most once per micro-batch, so "row
    * with the max batch id per key" is the exact latest-value
    * collapse; batches are stored REPLACED per invocation, so an
    * at-least-once foreachBatch retry overwrites its own delivery
    * instead of double-counting. (This retired the earlier
    * monotonically_increasing_id-over-the-sink-scan collapse, which
    * only encoded arrival order through a memory-sink partition
    * layout detail.)
    *
    * Captured volume is the changelog itself — bounded by changed
    * keys per batch for update-mode aggregates, which is the only
    * shape this harness class serves. Append-mode streams at scale go
    * to a real sink instead (see StreamingQueries sink variants).
    *
    * That bounded-key assumption is ENFORCED, not trusted:
    * `maxRowsPerBatch` caps each collected micro-batch, and a batch
    * past the cap fails the query loudly instead of quietly growing
    * the driver heap until it OOMs. The guard collects at most
    * cap + 1 rows (a `limit` before the collect), so even the failing
    * path never materializes the oversized batch driver-side. Since
    * [[startCaptureQuery]] runs the query's state in one partition,
    * the collect reads one partition, and cap + 1 rows also bound the
    * bytes a batch sends to the driver.
    */
  final class ChangelogCapture private[streaming] (
      schema: org.apache.spark.sql.types.StructType,
      maxRowsPerBatch: Int = ChangelogCapture.DefaultMaxRowsPerBatch) {
    private val batches =
      scala.collection.mutable.LinkedHashMap.empty[Long, Array[org.apache.spark.sql.Row]]

    private[streaming] def write(batch: DataFrame, batchId: Long): Unit = {
      val rows = batch.limit(maxRowsPerBatch + 1).collect()
      if (rows.length > maxRowsPerBatch)
        throw new IllegalStateException(
          s"ChangelogCapture: micro-batch $batchId exceeds maxRowsPerBatch=" +
            s"$maxRowsPerBatch captured rows. This harness sink is for " +
            "bounded-key update-mode changelogs only; route unbounded " +
            "streams to a distributed sink (StreamingQueries sink variants).")
      synchronized { batches(batchId) = rows; () }
    }

    /** Every captured changelog row, in batch-id order. */
    def changelog(spark: SparkSession): DataFrame = synchronized {
      val rows = batches.toSeq.sortBy(_._1).flatMap(_._2)
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    }

    /** Final value per key: the row with the max batch id per key. */
    def latest(spark: SparkSession, keyCols: Seq[String]): DataFrame = synchronized {
      val keyIdx = keyCols.map(schema.fieldIndex)
      val rows = batches.toSeq
        .flatMap { case (bid, rs) => rs.map(bid -> _) }
        .groupBy { case (_, r) => keyIdx.map(r.get) }
        .map { case (_, versions) => versions.maxBy(_._1)._2 }
        .toSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    }
  }

  object ChangelogCapture {
    /** Generous for any bounded-key changelog (the gate aggregates
      * have at most a few thousand keys) while far below what would
      * threaten a driver heap; an unbounded-key stream blows through
      * it within its first corpus-sized micro-batch.
      */
    val DefaultMaxRowsPerBatch: Int = 100000
  }

  /** Start one update-mode changelog query whose sink is a
    * [[ChangelogCapture]]; returns the running query and the capture.
    * The capture replaces the old memory-sink harness path (retired):
    * the batch id is explicit, so the collapse is a contract rather
    * than a partition-layout accident. The checkpoint is a throwaway
    * scratch dir (RAM-backed where available — streaming checkpoints
    * are fsync-heavy on disk-backed tmp).
    *
    * State is sized to the contract: the query starts with one shuffle
    * partition, whatever the caller's session (or a gate's
    * [[StreamGate.GateStreamConf]]) says. A capture is a bounded-key
    * changelog whose every row goes to one driver-side consumer, so
    * N state partitions would only multiply the fixed per-batch cost:
    * N state-store loads and commits and N tasks per stateful stage,
    * plus a second Spark job per batch, because the capture's
    * `limit(cap + 1).collect()` scans partitions incrementally.
    * Intermediate state, such as the voter dedup ahead of a
    * per-candidate count, runs as one task too. The stream clones its
    * session inside `start()` and records the setting in its offset
    * log, so the caller's session keeps its own value.
    */
  def startCaptureQuery(
      agg: DataFrame,
      queryName: String,
      availableNow: Boolean = false,
      maxRowsPerBatch: Int = ChangelogCapture.DefaultMaxRowsPerBatch,
  ): (StreamingQuery, ChangelogCapture) = {
    val capture = new ChangelogCapture(agg.schema, maxRowsPerBatch)
    val checkpoint = StreamGate.scratchDir(s"graft-ckpt-$queryName")
    val writer = agg.writeStream
      .outputMode("update")
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        capture.write(batch.toDF(), batchId)
      }
    val q = StreamGate.withConf(agg.sparkSession, "spark.sql.shuffle.partitions" -> "1") {
      (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
    }
    (q, capture)
  }
}
