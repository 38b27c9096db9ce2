package graft.streaming

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.operators.RelationalQueries.Num._
import graft.sources.Tables

/** Concurrent single-bundle execution of the streaming gate queries.
  *
  * The reference app runs its streaming aggregations as SEPARATE
  * queries in one job (spark-streaming.py:86-103 — ST7 multi-query
  * concurrency), but each query re-reads the whole topic. This bundle
  * keeps the reference's concurrency shape while fixing the scan
  * economics at both levels:
  *
  *  - the two stateless running aggregates (votes per candidate,
  *    turnout) FAN OUT of one shared pass per micro-batch as
  *    mergeable partials (exact integer-cents sums + counts), so that
  *    pass reads the source once for both — at 100 TB the source scan
  *    dominates and this halves it;
  *  - the stateful windowed aggregation and the stream-static
  *    similarity scoring each need their own query (different state
  *    semantics), but all queries START TOGETHER and are awaited
  *    together, so the gate pays max(query runtimes), not their sum —
  *    exactly how the reference deploys its queries.
  *
  * Results are memoized per (session, dir); [[invalidate]] drops them
  * (benchmark hygiene — a timed run must pay the bundle once, not
  * ride a previous run's).
  */
object StreamGate {

  /** Checkpoint scratch for the AvailableNow gate queries: prefer
    * RAM-backed /dev/shm when present — these checkpoints are
    * throwaway (each gate run creates fresh ones), and the
    * offset/commit/state files are fsync-heavy on a disk-backed tmp.
    * Durable production checkpoints belong on real storage; this
    * helper is only for run-to-completion harness queries.
    */
  private[streaming] def scratchDir(prefix: String): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isWritable(shm))
      Files.createTempDirectory(shm, prefix).toString
    else Files.createTempDirectory(prefix).toString
  }

  // weak session keys + soft values (see SessionCache): the gate
  // results strongly reference the session (collected-row frames for
  // the bounded changelogs, lazy sink readers for the append gates),
  // so a plain object-level map would pin it forever. An evicted
  // entry just re-runs the bundle — same cost as invalidate(); the
  // sink directories outlive eviction (JVM-exit cleanup), so a
  // re-run never yanks files out from under a prior result
  private val cache = graft.util.Artifacts.sessionMemo[(String, String), DataFrame](this)

  def invalidate(): Unit = {
    graft.util.Artifacts.reset(this)
    // the shared staged-era input dirs of the eviction gates live in
    // StreamingQueries; a timed run must pay its own staging
    graft.util.Artifacts.reset(StreamingQueries)
  }

  /** Streaming twin of RelationalQueries.votesPerCandidate. */
  def votesPerCandidate(spark: SparkSession, dir: String): DataFrame =
    result(spark, dir, "votes")

  /** Streaming twin of RelationalQueries.turnoutByLocation. */
  def turnoutByLocation(spark: SparkSession, dir: String): DataFrame =
    result(spark, dir, "turnout")

  /** Streaming twin of RelationalQueries.votesWindowed (stateful
    * state-store path: watermark + update mode + batch-id collapse).
    */
  def votesWindowed(spark: SparkSession, dir: String): DataFrame =
    result(spark, dir, "windowed")

  /** Streaming similarity scoring against a static query set
    * (stream-static broadcast join), ranked after completion.
    */
  def similarityTopK(spark: SparkSession, dir: String): DataFrame =
    result(spark, dir, "similarity")

  /** Stream-stream interval self-join: for each event, the same
    * user's events in the following 5 minutes. Watermarks bound the
    * join state on both sides (ST6/ST9 surface); inner interval
    * joins emit on match, so append output is exact. Runs through
    * the bundle's distributed parquet sink — join output is
    * O(matches) and never visits the driver.
    */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame =
    result(spark, dir, "interval_join")

  private def result(spark: SparkSession, dir: String, which: String): DataFrame =
    synchronized {
      cache.get(spark, (dir, which)).getOrElse {
        val results = runBundle(spark, dir)
        results.foreach { case (k, v) => cache.put(spark, (dir, k), v) }
        results(which)
      }
    }

  /** Production-sink gate family: the four standalone sink gates run
    * as ONE concurrent bundle (ST7 again) on the RocksDB state-store
    * provider — the operational configuration a long-running
    * deployment uses (join/dedup state bounded by disk, not executor
    * memory), which also distinguishes these gates from the main
    * bundle's in-memory-provider runs of the same append lineages.
    * One invocation pays max(query runtimes) instead of four
    * sequential streaming passes.
    *
    * Failure isolation is PER QUERY: each query is started and
    * awaited independently, so one gate's failure neither stops nor
    * invalidates the other three — only the failed gate throws (and a
    * retry of it re-runs the bundle, as with the main bundle).
    */
  def intervalJoinSink(spark: SparkSession, dir: String): DataFrame =
    sinkResult(spark, dir, "interval_join")

  def similarityTopKSink(spark: SparkSession, dir: String): DataFrame =
    sinkResult(spark, dir, "similarity")

  def streamDedupSink(spark: SparkSession, dir: String): DataFrame =
    sinkResult(spark, dir, "dedup")

  def qualityRouteSink(spark: SparkSession, dir: String): DataFrame =
    sinkResult(spark, dir, "route")

  private def sinkResult(spark: SparkSession, dir: String, which: String): DataFrame =
    synchronized {
      cache.get(spark, (dir, "sink_" + which)).getOrElse {
        val results = runSinkBundle(spark, dir)
        results.foreach {
          case (k, Right(df)) => cache.put(spark, (dir, "sink_" + k), df)
          case _ => ()
        }
        results(which).fold(e => throw e, identity)
      }
    }

  private def runSinkBundle(
      spark: SparkSession,
      dir: String,
  ): Map[String, Either[Throwable, DataFrame]] = {
    import scala.util.Try
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = spark.conf.getOption("spark.sql.streaming.noDataMicroBatches.enabled")
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    try {
      // same sizing rationale as the main bundle; conf stays set
      // until every query has terminated (streams clone the session
      // from their execution threads)
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      VotePipeline.useRocksDbStateStore(spark)

      val ijOut = StreamingQueries.scratchSinkDir("ij") + "/out"
      val simOut = StreamingQueries.scratchSinkDir("sim") + "/out"
      val dedupOut = StreamingQueries.scratchSinkDir("dedup") + "/out"
      val routeOut = StreamingQueries.scratchSinkDir("route")

      val ijStream = StreamingQueries.intervalJoinStream(spark, dir)
      val simStream = StreamingQueries.similarityScoredStream(spark, dir)
      val dedupStream = StreamingQueries.streamDedupLineage(spark, dir)

      val started: Seq[(String, Try[org.apache.spark.sql.streaming.StreamingQuery], () => DataFrame)] =
        Seq(
          (
            "interval_join",
            Try(StreamingQueries.startAppendToParquet(ijStream, ijOut)),
            () => spark.read.schema(ijStream.schema).parquet(ijOut),
          ),
          (
            "similarity",
            Try(StreamingQueries.startAppendToParquet(simStream, simOut)),
            () =>
              graft.operators.Similarity
                .topKPerQuery(spark.read.schema(simStream.schema).parquet(simOut), 5),
          ),
          (
            "dedup",
            Try(StreamingQueries.startAppendToParquet(dedupStream, dedupOut)),
            () => spark.read.schema(dedupStream.schema).parquet(dedupOut),
          ),
          (
            "route",
            Try(StreamingQueries.startQualityRoute(spark, dir, routeOut)),
            () => StreamingQueries.readQualityRouteKeep(spark, routeOut),
          ),
        )
      started.map { case (name, q, read) =>
        name -> q.flatMap(query => Try { query.awaitTermination(); read() }).toEither
      }.toMap
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      prevNoData match {
        case Some(v) => spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", v)
        case None => spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
      }
      prevProvider match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  /** One concurrent bundle: four streaming queries started together
    * (fan-out pass, stateful windowed, similarity scoring → parquet
    * sink, interval join → parquet sink), all on AvailableNow
    * triggers, awaited together. The bounded changelogs (votes /
    * turnout partials, windowed update rows) are driver-captured —
    * bounded by key cardinality by contract; both O(output) append
    * streams land on distributed sinks.
    */
  private def runBundle(spark: SparkSession, dir: String): Map[String, DataFrame] = {
    // dedicated lock: callbacks run on stream-execution threads while
    // this thread blocks in awaitTermination holding the StreamGate
    // monitor — synchronizing callbacks on StreamGate would deadlock
    val lock = new Object
    // keyed by batch id and REPLACED per invocation: foreachBatch is
    // at-least-once, so a retried micro-batch must overwrite its own
    // partials, not append a second copy (which would double-count
    // the exact integer-cents sums)
    val votesPartials = scala.collection.mutable.LinkedHashMap.empty[Long, Array[Row]]
    val turnoutPartials = scala.collection.mutable.LinkedHashMap.empty[Long, Array[Row]]
    var votesSchema: StructType = null
    var turnoutSchema: StructType = null
    val windowedRows = new ArrayBuffer[(Long, Row)]()

    // nation is the bounded 25-row domain and keeps its hint; customer
    // is the corpus-scaling user dimension, so the per-batch
    // events⋈dim join below is AQE's size-based call (a static
    // broadcast would OOM at the 100 TB design point instead of
    // degrading to a shuffle join)
    val dim = Tables(spark, dir, "customer")
      .join(broadcast(Tables(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))

    // the gate aggregations have at most a few thousand keys: size
    // the per-query state stores (and the per-batch shuffles inside
    // foreachBatch) accordingly for the bundle's lifetime. Streams
    // clone the session from their execution threads, so the conf
    // stays set until every query has terminated.
    // the bundle's stateful queries (windowed aggregation, interval
    // join) honor the session's configured state-store provider: a
    // production deployment sets RocksDB (VotePipeline
    // .useRocksDbStateStore) so join/window state is bounded by disk,
    // not executor memory, at 100 TB cardinalities — the RocksDB
    // bundle run is pinned green in StreamingAdvancedSpec. The gate
    // harness default stays the in-memory provider: its state is a
    // few thousand keys, where per-batch native store setup dominates.
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = spark.conf.getOption("spark.sql.streaming.noDataMicroBatches.enabled")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      // none of the bundle queries emit on watermark advancement
      // (update-mode aggregation emits on data; the interval join is
      // INNER, emitting on match) — the trailing no-data micro-batch
      // each query would otherwise run is a pure state-store commit
      // round with no output
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")

      // 1) shared fan-out pass: both stateless aggregates as partials
      val qFanOut = StreamingQueries
        .eventsStream(spark, dir)
        .writeStream
        .option("checkpointLocation", scratchDir("graft-ckpt-gate"))
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
          val b = batch.persist()
          try {
            // partial, not final: exact integer-cents sums + counts
            // merge associatively across micro-batches
            val v = b
              .groupBy("event_type")
              .agg(sum(cents(col("value"))).as("pv"), count(lit(1)).as("pn"))
            val t = b
              .join(dim, b("user_id") === dim("c_custkey"))
              .groupBy("n_name")
              .agg(count(lit(1)).as("pt"))
            val vRows = v.collect()
            val tRows = t.collect()
            lock.synchronized {
              votesSchema = v.schema
              turnoutSchema = t.schema
              votesPartials(batchId) = vRows
              turnoutPartials(batchId) = tRows
            }
            ()
          } finally { b.unpersist(); () }
        }
        .trigger(Trigger.AvailableNow())
        .start()

      // 2) stateful windowed aggregation: update-mode changelog
      // captured with its EXPLICIT batch id (update mode emits each
      // changed key at most once per batch, so max-batch-id per key
      // is the exact latest-value collapse)
      val windowedAgg = StreamingQueries
        .eventsStream(spark, dir)
        .withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(moneyFromCents(sum(cents(col("value")))).as("total_value"), count(lit(1)).as("n"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("event_type"),
          col("total_value"),
          col("n"),
        )
      val windowedSchema = windowedAgg.schema
      val qWindowed = windowedAgg.writeStream
        .outputMode("update")
        .option("checkpointLocation", scratchDir("graft-ckpt-win"))
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
          // same bounded-key contract (and the same cap) as
          // VotePipeline.ChangelogCapture: fail loudly instead of
          // growing the driver heap if the key space is unbounded
          val cap = VotePipeline.ChangelogCapture.DefaultMaxRowsPerBatch
          val rows = batch.limit(cap + 1).collect()
          if (rows.length > cap)
            throw new IllegalStateException(
              s"StreamGate windowed capture: micro-batch $batchId exceeds $cap rows; " +
                "bounded-key update-mode changelogs only")
          lock.synchronized { windowedRows ++= rows.map(batchId -> _); () }
        }
        .trigger(Trigger.AvailableNow())
        .start()

      // 3) stream-static similarity scoring (append semantics) —
      // PRODUCTION sink inside the bundle: scored micro-batches land
      // on a distributed parquet sink; no scored row ever visits the
      // driver (the append volume is O(corpus × queries), which a
      // driver capture cannot hold at scale)
      val scored = StreamingQueries.similarityScoredStream(spark, dir)
      val simOut = StreamingQueries.scratchSinkDir("gate-sim") + "/out"
      val qScored = scored.writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", simOut)
        .option("checkpointLocation", scratchDir("graft-ckpt-sim"))
        .trigger(Trigger.AvailableNow())
        .start()

      // 4) stream-stream interval self-join (append semantics): the
      // shared lineage — watermarks on both sides + the time-range
      // predicate bound the join state (the standard "events within T
      // of each other" join at scale). Same production parquet sink:
      // join output is O(matches) and never belongs on the driver.
      val joined = StreamingQueries.intervalJoinStream(spark, dir)
      val ijOut = StreamingQueries.scratchSinkDir("gate-ij") + "/out"
      val qJoined = joined.writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", ijOut)
        .option("checkpointLocation", scratchDir("graft-ckpt-ij"))
        .trigger(Trigger.AvailableNow())
        .start()

      // if any bundle query fails, stop the others before rethrowing:
      // otherwise the cache is never populated and a retrying caller
      // re-runs the bundle alongside still-running zombie queries
      // (duplicate source scans, orphan scratch checkpoints)
      try {
        qFanOut.awaitTermination()
        qWindowed.awaitTermination()
        qScored.awaitTermination()
        qJoined.awaitTermination()
      } catch {
        case e: Throwable =>
          Seq(qFanOut, qWindowed, qScored, qJoined).foreach { q =>
            try q.stop()
            catch { case stopErr: Throwable => e.addSuppressed(stopErr) }
          }
          throw e
      }

      def ofRows(rows: Seq[Row], schema: StructType): DataFrame =
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

      // an empty source runs zero micro-batches, so the partial
      // schemas may never have been captured — fall back to their
      // statically-known shapes rather than NPE on an empty corpus
      import org.apache.spark.sql.types.{LongType, StringType}
      val emptyVotesSchema = new StructType()
        .add("event_type", StringType).add("pv", LongType).add("pn", LongType)
      val emptyTurnoutSchema = new StructType()
        .add("n_name", StringType).add("pt", LongType)
      val (vRows, vSchema, tRows, tSchema, wRows) = lock.synchronized {
        (
          votesPartials.values.flatten.toSeq,
          Option(votesSchema).getOrElse(emptyVotesSchema),
          turnoutPartials.values.flatten.toSeq,
          Option(turnoutSchema).getOrElse(emptyTurnoutSchema),
          windowedRows.toSeq,
        )
      }

      // final merges: convert to double only AFTER summing the exact
      // integer-cents partials — bit-identical to the one-shot batch
      // aggregation (and the DuckDB oracle)
      val votes = ofRows(vRows, vSchema)
        .groupBy("event_type")
        .agg(
          moneyFromCents(sum(col("pv"))).as("total_votes"),
          sum(col("pn")).as("n_events"),
        )
      val turnout = ofRows(tRows, tSchema)
        .groupBy("n_name")
        .agg(sum(col("pt")).as("turnout"))

      // windowed changelog → latest row per key by max batch id
      val keyIdx = Seq("hour_start", "event_type").map(windowedSchema.fieldIndex)
      val windowedFinal = wRows
        .groupBy { case (_, r) => keyIdx.map(r.get) }
        .map { case (_, versions) => versions.maxBy(_._1)._2 }
        .toSeq

      // scored appends → per-query top-5, ranked DISTRIBUTEDLY over
      // the sink table via the bounded-buffer TopKAggregator (shuffle
      // ≤ k·partitions rows per query) — the same end-to-end plan the
      // standalone sink gate runs
      val similarity = graft.operators.Similarity.topKPerQuery(
        spark.read.schema(scored.schema).parquet(simOut),
        5,
      )

      Map(
        "votes" -> votes,
        "turnout" -> turnout,
        "windowed" -> ofRows(windowedFinal, windowedSchema),
        "similarity" -> similarity,
        "interval_join" -> spark.read.schema(joined.schema).parquet(ijOut),
      )
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      prevNoData match {
        case Some(v) => spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", v)
        case None => spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
      }
    }
  }
}
