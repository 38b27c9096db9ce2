package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

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
    * Other formats take the rows as-is; they must accept update mode
    * (memory, console — the file sinks are append-only).
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

  /** The driver-side [[BatchSink]]: each micro-batch's rows are
    * collected and stored under the batch id foreachBatch delivers,
    * which is what a consumer of the reference's output topics must do
    * to materialize final values (SURVEY §2.7 ST3). The batch-id
    * contract (a retry replaces its own delivery; latest = max batch
    * id per key) is [[BatchSink]]'s.
    *
    * Captured volume is the changelog itself — bounded by changed
    * keys per batch for update-mode aggregates, which is the only
    * shape this sink serves. A changelog whose keys scale with the
    * corpus lands on a [[BatchDirSink]], and an append stream on the
    * parquet sink ([[StreamingQueries.runAppendToParquet]]).
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
  final class ChangelogCapture private[graft] (
      schema: org.apache.spark.sql.types.StructType,
      maxRowsPerBatch: Int = ChangelogCapture.DefaultMaxRowsPerBatch) extends BatchSink {
    private val batches =
      scala.collection.mutable.LinkedHashMap.empty[Long, Array[org.apache.spark.sql.Row]]

    def write(batch: DataFrame, batchId: Long): Unit = {
      val rows = batch.limit(maxRowsPerBatch + 1).collect()
      if (rows.length > maxRowsPerBatch)
        throw new IllegalStateException(
          s"ChangelogCapture: micro-batch $batchId exceeds maxRowsPerBatch=" +
            s"$maxRowsPerBatch captured rows. This harness sink is for " +
            "bounded-key update-mode changelogs only; route unbounded " +
            "streams to a distributed sink (BatchDirSink).")
      synchronized { batches(batchId) = rows; () }
    }

    /** Every captured changelog row, in batch-id order. */
    def changelog(spark: SparkSession): DataFrame = synchronized {
      val rows = batches.toSeq.sortBy(_._1).flatMap(_._2)
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    }

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
    * It starts through [[BatchSink.start]], the program's one
    * foreachBatch start, and its checkpoint is a throwaway scratch dir
    * (RAM-backed where available — streaming checkpoints are
    * fsync-heavy on disk-backed tmp).
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
    val q = StreamGate.withConf(agg.sparkSession, "spark.sql.shuffle.partitions" -> "1") {
      BatchSink.start(agg, queryName, Some(queryName), availableNow, (identity[DataFrame] _) -> capture)
    }
    (q, capture)
  }
}
