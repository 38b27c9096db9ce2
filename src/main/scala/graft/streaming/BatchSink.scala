package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Where a harness stream's micro-batches land, keyed by the batch id
  * foreachBatch delivers. This is the one decision a consumer of an
  * update-mode changelog makes (the reference job's output topics,
  * spark-streaming.py:75-103):
  *
  *  - [[write]] stores a micro-batch under its id and REPLACES any
  *    earlier delivery of that id. foreachBatch is at-least-once: a
  *    retried micro-batch comes back with the same id, so it overwrites
  *    itself instead of double-counting;
  *  - [[latest]] keeps the row with the max batch id per key. Update
  *    mode emits a changed key at most once per micro-batch, so that is
  *    the exact latest-value collapse.
  *
  * Two sinks implement it: [[VotePipeline.ChangelogCapture]] holds the
  * rows on the driver, for changelogs whose keys are bounded, and
  * [[BatchDirSink]] writes one parquet directory per micro-batch, for
  * key domains that scale with the corpus. [[BatchSink.start]] runs a
  * stream into them.
  */
trait BatchSink {

  /** Store `batch` as micro-batch `batchId`, replacing that id's
    * earlier delivery, if any.
    */
  def write(batch: DataFrame, batchId: Long): Unit

  /** Every stored row. */
  def changelog(spark: SparkSession): DataFrame

  /** Final value per key: the row with the max batch id per key. */
  def latest(spark: SparkSession, keyCols: Seq[String]): DataFrame
}

object BatchSink {

  /** Start a foreachBatch stream whose every micro-batch feeds
    * `outputs`: each (transform, sink) pair writes `transform(batch)`
    * to its sink under the batch id. Every foreachBatch query of the
    * program starts here.
    *
    * The batch is persisted only when more than one output reads it,
    * so one source scan feeds them all, and it is unpersisted in
    * `finally`. The query runs in update mode, which a stateless
    * stream treats as append. Its checkpoint is a scratch dir
    * ([[StreamGate.scratchDir]]) named after `checkpointName`. The
    * caller owns the conf bracket ([[StreamGate.withConf]]), which
    * must span this call: the query takes its confs when it starts.
    */
  def start(
      stream: DataFrame,
      checkpointName: String,
      queryName: Option[String],
      availableNow: Boolean,
      outputs: (DataFrame => DataFrame, BatchSink)*
  ): StreamingQuery = {
    val shared = outputs.size > 1
    val writer = stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", StreamGate.scratchDir(s"graft-ckpt-$checkpointName"))
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (shared) batch.persist()
        try outputs.foreach { case (transform, sink) => sink.write(transform(batch.toDF()), batchId) }
        finally if (shared) { batch.unpersist(); () }
      }
    val named = queryName.fold(writer)(writer.queryName)
    (if (availableNow) named.trigger(Trigger.AvailableNow()) else named).start()
  }
}

/** One parquet directory per micro-batch, `root/b<batchId>`, written
  * in overwrite mode, so a retried batch replaces its own directory.
  * No row visits the driver: the latest-per-key collapse runs
  * distributed on read-back.
  *
  * Reads select the batch directories by NAME, never by isDirectory
  * alone: a crashed or retried write can leave a `_temporary` staging
  * directory behind, and a bare directory listing would read (or fail
  * on) its partial files.
  */
final class BatchDirSink(root: String, schema: StructType) extends BatchSink {

  def write(batch: DataFrame, batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(dirOf(batchId))

  /** The ids of the micro-batches landed so far, ascending. */
  def batchIds: Seq[Long] =
    Option(new java.io.File(root).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches("b\\d+"))
      .map(_.getName.drop(1).toLong)
      .sorted

  def changelog(spark: SparkSession): DataFrame = batchIds match {
    case Seq() => empty(spark)
    case ids => spark.read.schema(schema).parquet(ids.map(dirOf): _*)
  }

  def latest(spark: SparkSession, keyCols: Seq[String]): DataFrame = batchIds match {
    case Seq() => empty(spark)
    case ids =>
      val valueCols = schema.fieldNames.toSeq.filterNot(keyCols.contains)
      ids
        .map(id => spark.read.schema(schema).parquet(dirOf(id)).withColumn("__bid", lit(id)))
        .reduce(_ unionAll _)
        .groupBy(keyCols.map(col): _*)
        .agg(max_by(struct(valueCols.map(col): _*), col("__bid")).as("__last"))
        .select(schema.fieldNames.toSeq.map(n =>
          if (keyCols.contains(n)) col(n) else col("__last").getField(n).as(n)): _*)
  }

  private def dirOf(batchId: Long): String = s"$root/b$batchId"

  private def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), schema)
}
