package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.RelationalQueries.Num._
import graft.sources.Tables

/** Structured Streaming twins of the batch event aggregations, run
  * through a REAL streaming query (file source → incremental
  * state-store aggregation → update-mode memory sink) and collapsed
  * to final values. The driver's DuckDB oracle checks them against
  * the same SQL as the batch twins — i.e. streaming execution itself
  * is inside the correctness gate, which is the property the
  * reference job (spark-streaming.py) actually needs: the changelog's
  * latest-per-key must equal the batch recompute.
  *
  * Scale notes: the streaming aggregation state is bounded by group
  * cardinality (|event_type|, |hour×type|), not stream length;
  * update-mode emits only changed keys per micro-batch. On a real
  * cluster the memory sink becomes the Kafka sink (VotePipeline) and
  * the file source becomes the Kafka source — same plan otherwise.
  */
object StreamingQueries {

  /** Scratch output dir for a sink gate, deleted at JVM exit (see
    * [[StreamGate.scratchDir]]).
    */
  def scratchSinkDir(gate: String): String =
    // same storage as the checkpoints: scratch sink output and staged
    // era inputs ride tmpfs when available — round-14 profiling showed
    // the sink gates spending driver-gap time in disk-backed /tmp
    // writes the checkpoints had already stopped paying
    StreamGate.scratchDir(s"graft-sink-$gate")

  /** Footer-only schema probe for a declared-schema streaming source:
    * declare what is ACTUALLY at rest, then let
    * [[graft.sources.Tables.applyContracts]] canonicalize to the
    * engine's per-column contracts — the same dispatcher as the batch
    * path, so the two read paths can never disagree (the round-6
    * lesson). Falls back to `fallback` ONLY for the legal
    * empty-source start states (path absent, or present with no
    * parquet footer to infer from — both surface as
    * AnalysisException; rows that later arrive there are written by
    * THIS engine's sinks in canonical types); any other probe failure
    * (permissions, corrupt footer) propagates loudly instead of
    * silently declaring a schema the later stream read will fail
    * against with a confusing mismatch error.
    */
  private def probeFileSchema(
      spark: SparkSession, path: String, fallback: StructType): StructType =
    try spark.read.parquet(path).schema
    catch { case _: org.apache.spark.sql.AnalysisException => fallback }

  /** Streaming parquet reader for one corpus table that accepts BOTH
    * at-rest layouts: a single file `<dir>/<name>.parquet` (the
    * driver test corpus) and a directory of part files
    * `<dir>/<name>.parquet/part-*.parquet` (every Spark-written
    * corpus, including the scale-rehearsal family — and the shape of
    * any real deployment, where a table is always a directory of
    * splits). The glob-filter-on-the-parent form silently matches
    * ZERO files in the directory layout (pathGlobFilter tests file
    * NAMES, and part files are not named `<name>.parquet`) — the
    * scale rehearsal's all-gate sweep caught every stream gate
    * returning empty on rehearsal corpora. One driver-side metadata
    * call dispatches the layout.
    */
  private def tableStream(
      spark: SparkSession,
      dir: String,
      name: String,
      fallback: StructType,
      options: Map[String, String] = Map.empty,
  ): DataFrame = {
    val tablePath = s"$dir/$name.parquet"
    val schema = probeFileSchema(spark, tablePath, fallback)
    val hPath = new org.apache.hadoop.fs.Path(tablePath)
    val isDir =
      try hPath.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(hPath).isDirectory
      catch { case _: java.io.IOException => false }
    val reader = spark.readStream.schema(schema).options(options)
    Tables.applyContracts(
      if (isDir) reader.parquet(tablePath)
      else reader.option("pathGlobFilter", s"$name.parquet").parquet(dir),
      name)
  }

  /** Event-stream file source. Schema must be declared for streaming
    * reads — but the `ts` field's type is taken from the actual
    * parquet footer (one batch-side schema inference, no data read),
    * NOT assumed: the corpus has shipped as both TIMESTAMP(NANOS)
    * (surfaces as a nanos long) and TIMESTAMP(MICROS)/NTZ, and a
    * hard-coded LongType declaration over the micros encoding reads
    * the raw micros into the long column — every downstream
    * `div 1000` then silently compresses event time 1000×. The
    * canonicalizer in [[graft.sources.Tables.canonicalizeEventTs]] is
    * shared with the batch path so both see one stable TimestampType.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fallback = new StructType()
      .add("event_id", LongType)
      .add("ts", TimestampType)
      .add("user_id", LongType)
      .add("event_type", StringType)
      .add("value", DoubleType)
      .add("props", StringType)
    tableStream(spark, dir, "events", fallback)
  }

  /** Run one update-mode streaming aggregation to completion
    * (AvailableNow) and return the changelog collapsed to its final
    * per-key values.
    *
    * The collapse key is the EXPLICT micro-batch id delivered by
    * foreachBatch — update mode emits each changed key at most once
    * per batch, so "row with the max batch id per key" is the exact
    * latest-value contract. (The previous memory-sink +
    * monotonically_increasing_id formulation only encoded arrival
    * order through a partition-layout implementation detail.)
    *
    * Runs under [[StreamGate.GateStreamConf]] (no no-data batches);
    * its state runs in the capture query's single partition
    * ([[VotePipeline.startCaptureQuery]]), not the gate's 8.
    */
  def runToFinal(spark: SparkSession, agg: DataFrame, keyCols: Seq[String]): DataFrame = {
    // the capture + max-batch-id collapse is ONE implementation
    // (VotePipeline.ChangelogCapture), shared with every
    // startCaptureQuery harness consumer — not a second copy here
    StreamGate.withConf(spark, StreamGate.GateStreamConf: _*) {
      val (q, capture) =
        VotePipeline.startCaptureQuery(agg, "graft_run_to_final", availableNow = true)
      q.awaitTermination()
      capture.latest(spark, keyCols)
    }
  }

  /** Production twin of [[runToFinal]] for changelogs whose key
    * domain SCALES WITH THE CORPUS (per-user state): each update-mode
    * micro-batch lands on its own parquet directory (`b<batchId>`,
    * overwrite — the at-least-once-idempotent contract the quality
    * router uses) and the latest-per-key collapse runs DISTRIBUTEDLY
    * on read-back (update mode emits a changed key at most once per
    * batch, so max-batch-id per key is exact). No row ever visits
    * the driver; [[runToFinal]]'s in-memory capture remains only for
    * key-cardinality-bounded changelogs.
    */
  def runToFinalViaSink(
      spark: SparkSession,
      agg: DataFrame,
      keyCols: Seq[String],
      outDir: String,
  ): DataFrame = {
    val outSchema = agg.schema
    StreamGate.withConf(spark, StreamGate.GateStreamConf: _*) {
      agg.writeStream
        .outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
          batch.write.mode("overwrite").parquet(s"$outDir/b$batchId"); ()
        }
        .option("checkpointLocation", StreamGate.scratchDir("graft-ckpt-rtf"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    val dirs = batchDirs(outDir)
    if (dirs.isEmpty) spark.createDataFrame(new java.util.ArrayList[Row](), outSchema)
    else {
      val withBid = dirs.toSeq.map { d =>
        spark.read.schema(outSchema).parquet(d.getPath)
          .withColumn("__bid", lit(d.getName.drop(1).toLong))
      }.reduce(_ unionAll _)
      val valueCols = outSchema.fieldNames.toSeq.filterNot(keyCols.contains)
      withBid
        .groupBy(keyCols.map(col): _*)
        .agg(max_by(struct(valueCols.map(col): _*), col("__bid")).as("__last"))
        .select(keyCols.map(col) ++ valueCols.map(n => col("__last").getField(n).as(n)): _*)
    }
  }

  /** The per-batch output directories (`b<batchId>`) under `dir`,
    * selected by NAME, never by isDirectory alone: a crashed or
    * retried batch write can leave a _temporary staging directory
    * behind, and a bare directory glob would read (or fail on) its
    * partial files.
    */
  private def batchDirs(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches("b\\d+"))

  /** The stream side of the similarity gate: embedding corpus as a
    * stream, scored against the broadcast STATIC query set
    * (stream-static join — "match incoming documents against a fixed
    * index"). Shared by [[similarityTopKViaSink]] and the StreamGate
    * bundle — both run it through a distributed parquet append sink.
    * Scored rows append; the per-query top-k is ranked after
    * completion, so the final result equals the batch brute-force
    * top-k and shares its oracle SQL. At scale the append sink
    * becomes a Kafka topic and the ranking a downstream consumer (or
    * a per-batch TopKAggregator for early truncation).
    */
  def similarityScoredStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    // footer-probed at-rest schema canonicalized by the shared
    // contract dispatcher: a re-encoded list<double> corpus reads and
    // casts back to the array<float> contract the typed cosine
    // expression requires (exact for double re-encodings of the same
    // f32 values)
    val fallback = new StructType()
      .add("vec_id", LongType)
      .add("embedding", ArrayType(FloatType))
      .add("label", IntegerType)
    val corpus = tableStream(spark, dir, "embeddings", fallback)
      .select(
        col("vec_id").as("neighbor_id"),
        col("embedding").as("ce"))
    val queries = graft.sources.Tables(spark, dir, "embeddings")
      .filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    corpus
      .join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qe"), col("ce")).as("cos"))
  }

  /** Stream-stream interval self-join lineage: for each event, the
    * same user's events in the following 5 minutes. Watermarks on
    * BOTH sides plus the time-range predicate bound the join state
    * (rows older than watermark + interval are evicted), which is
    * what makes a stream-stream join runnable indefinitely at 100 TB.
    * Inner interval joins emit on match, so append output is exact.
    * Shared by the StreamGate bundle and [[intervalJoinViaSink]].
    */
  def intervalJoinStream(spark: SparkSession, dir: String): DataFrame = {
    // both sides derive from ONE watermarked source (a streaming
    // self-join): the micro-batch planner resolves one offset range
    // and one file listing per trigger instead of maintaining two
    // independent source instances over the same path
    val base = eventsStream(spark, dir).withWatermark("ts", "10 minutes")
    val sa = base
      .select(
        col("event_id").as("event_a"),
        col("user_id").as("ua"),
        col("ts").as("ts_a"),
        col("event_type").as("type_a"),
      )
    val sb = base
      .select(
        col("event_id").as("event_b"),
        col("user_id").as("ub"),
        col("ts").as("ts_b"),
        col("event_type").as("type_b"),
      )
    sa.join(
      sb,
      col("ua") === col("ub") &&
        col("ts_b") > col("ts_a") &&
        col("ts_b") <= col("ts_a") + expr("interval 5 minutes"),
    ).select(col("event_a"), col("event_b"), col("type_a"), col("type_b"))
  }

  /** Start (without awaiting) an append-mode stream onto a parquet
    * sink — the building block [[runAppendToParquet]], both StreamGate
    * bundles and the stateful scaling rehearsal share. The caller owns
    * the conf bracket ([[StreamGate.withConf]]), which must span this
    * call: the query takes its confs when it starts.
    */
  private[graft] def startAppendToParquet(
      stream: DataFrame,
      outPath: String,
  ): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", StreamGate.scratchDir("graft-ckpt-sink"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** PRODUCTION append path: run an append-mode stream to completion
    * writing micro-batches straight to a parquet sink — no row ever
    * visits the driver, the sink is a distributed table — and hand
    * back a reader over it. This is the shape the reference's own job
    * uses for appends (Kafka sink; parquet here because no broker
    * exists offline), and the scale path for any append stream whose
    * output is O(data): the harness-side foreachBatch capture the
    * gate bundle uses is bounded-changelog-only by contract.
    *
    * The read-back declares the stream's schema so an empty stream
    * yields an empty relation rather than a schema-inference error.
    */
  def runAppendToParquet(spark: SparkSession, stream: DataFrame, outPath: String): DataFrame = {
    // GateStreamConf's `noDataMicroBatches = false` is load-bearing
    // for the append-mode eviction gates' oracles (see its scaladoc)
    StreamGate.withConf(spark, StreamGate.GateStreamConf: _*) {
      startAppendToParquet(stream, outPath).awaitTermination()
    }
    spark.read.schema(stream.schema).parquet(outPath)
  }

  /** Sink-path twin of the StreamGate similarity gate: scored appends
    * land on a parquet sink, then the per-query top-k is ranked
    * DISTRIBUTEDLY over the sink table via the bounded-buffer
    * TopKAggregator (shuffle ≤ k·partitions rows per query) — the
    * end-to-end plan a real deployment runs. Equality with the
    * driver-capture gate variant is pinned in spec.
    */
  def similarityTopKViaSink(spark: SparkSession, dir: String, outPath: String): DataFrame = {
    val sunk = runAppendToParquet(spark, similarityScoredStream(spark, dir), outPath)
    graft.operators.Similarity.topKPerQuery(sunk, 5)
  }

  /** Sink-path twin of the StreamGate interval-join gate: joined
    * appends land on a parquet sink and are read back as a table.
    */
  def intervalJoinViaSink(spark: SparkSession, dir: String, outPath: String): DataFrame =
    runAppendToParquet(spark, intervalJoinStream(spark, dir), outPath)

  /** The dedup lineage [[streamDedupViaSink]] and the StreamGate sink
    * bundle share.
    */
  private[streaming] def streamDedupLineage(spark: SparkSession, dir: String): DataFrame =
    dedupLineageOver(eventsStream(spark, dir))

  private def dedupLineageOver(src: DataFrame): DataFrame =
    src
      .withWatermark("ts", "90 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))

  /** The [[streamDedupViaSink]] lineage over a READ-LIMITED events
    * source (`maxFilesPerTrigger`), so AvailableNow processes the
    * corpus as several micro-batches instead of one — the surface the
    * restart-under-load proof drives (StreamingAdvancedSpec): kill
    * after batch k, restart from the same checkpoint, and the landed
    * set must equal the uninterrupted run's. Stateful on purpose —
    * the dedup state store must survive the restart, not just the
    * offset log.
    */
  def streamDedupChunked(spark: SparkSession, dir: String, maxFilesPerTrigger: Int): DataFrame =
    dedupLineageOver(eventsStreamChunked(spark, dir, maxFilesPerTrigger))

  /** [[eventsStream]] with a `maxFilesPerTrigger` read limit so
    * AvailableNow processes the corpus as several micro-batches —
    * the surface the restart-under-load proof and the stateful
    * scaling rehearsal drive (state must ACCUMULATE across batches
    * to be worth measuring). Same read path as eventsStream (nanos
    * conf + layout dispatch + contracts — the r10 review caught a
    * hand-rolled copy that skipped both).
    */
  def eventsStreamChunked(spark: SparkSession, dir: String, maxFilesPerTrigger: Int): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fallback = new StructType()
      .add("event_id", LongType)
      .add("ts", TimestampType)
      .add("user_id", LongType)
      .add("event_type", StringType)
      .add("value", DoubleType)
      .add("props", StringType)
    tableStream(
      spark,
      dir,
      "events",
      fallback,
      Map("maxFilesPerTrigger" -> maxFilesPerTrigger.toString),
    )
  }

  /** Streaming exact dedup through the production sink path: the
    * event stream deduplicated on (user_id, event_type) with
    * `dropDuplicatesWithinWatermark`, first occurrences appended
    * straight to a distributed parquet sink — the ST6 semantics
    * (late/duplicate data) running end-to-end through the 100 TB
    * append shape rather than a driver capture.
    *
    * The output projects exactly the dedup key, so the surviving
    * row's identity is immaterial and the result is the deterministic
    * distinct key set (same rows as batch `SELECT DISTINCT`)
    * regardless of micro-batch boundaries or partition arrival order.
    *
    * The watermark delay (90 days) exceeds the corpus's event-time
    * span, so no dedup state is evicted mid-run and every duplicate
    * is caught — the bounded-input analogue of "delay ≥ maximum
    * duplicate lag". On an unbounded deployment the delay is sized to
    * the real dedup horizon and state stays bounded by eviction,
    * which is exactly what this operator exists to guarantee.
    */
  def streamDedupViaSink(spark: SparkSession, dir: String, outPath: String): DataFrame =
    runAppendToParquet(spark, streamDedupLineage(spark, dir), outPath)

  /** Documents table as a file stream (declared schema, as all
    * streaming file sources require).
    */
  def documentsStream(spark: SparkSession, dir: String): DataFrame = {
    val fallback = new StructType()
      .add("doc_id", LongType)
      .add("text", StringType)
      .add("lang", StringType)
      .add("source", StringType)
      .add("n_chars", LongType)
    tableStream(spark, dir, "documents", fallback)
  }

  /** Stage `ev` as three mtime-ordered era files under `root/in` —
    * era of a row = `eraCol` (must be 0/1/2) — and return the
    * maxFilesPerTrigger = 1 file stream over them: batch k is exactly
    * era k. Shared by the tumbling eviction gates (era =
    * event_id % 3) and the session-eviction gate (id-interleave with
    * time-staggered maxima — see [[sessionEvictionViaSink]] for why
    * that gate needs advancing watermarks).
    */
  private def stagedEraStream(
      spark: SparkSession,
      root: String,
      ev: DataFrame,
      eraCol: org.apache.spark.sql.Column,
      shareKey: Option[String] = None,
  ): DataFrame = {
    // the staged input is an immutable 3-file directory derived only
    // from (corpus, era rule): gates sharing a rule share the staging
    // work through the memo (round 14 — the update-mode and
    // append-mode tumbling eviction gates each re-ran the 3 era
    // writes; checkpoints and sink outputs stay strictly per-gate).
    // Dropped in StreamGate.invalidate, so a timed run still pays
    // its own staging once.
    def stage(): String = {
      val inDir = s"$root/in"
      new java.io.File(inDir).mkdirs()
      (0 until 3).foreach { k =>
        val stage = s"$root/stage$k"
        ev.filter(eraCol === k)
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val part = Option(new java.io.File(stage).listFiles())
          .getOrElse(Array.empty).find(_.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no staged part file for era $k"))
        val dst = new java.io.File(s"$inDir/era$k.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        // the file source serves oldest-mtime first: era order IS the
        // batch order (minutes apart — far beyond fs mtime granularity).
        // Fail LOUDLY if the fs refuses the mtime: a silent refusal
        // would fall back to listing order — nondeterministic batches
        // and a wrong (but plausible-looking) changelog
        require(
          dst.setLastModified((k + 1) * 60000L),
          s"could not order era file $dst by mtime — batch determinism lost")
      }
      inDir
    }
    val inDir = shareKey match {
      case Some(k) => stagedInputCache.getOrElseUpdate(spark, k)(stage())
      case None => stage()
    }
    spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
  }

  private val stagedInputCache = graft.util.Artifacts.sessionMemo[String, String](this)

  /** The watermarked hour-window aggregate over the id-interleaved
    * staged era stream — the shared front half of both tumbling
    * eviction gates ([[lateEvictionViaSink]] update mode,
    * [[evictionAppendViaSink]] append mode). Returns (agg, root).
    */
  private def lateEvictionStagedAgg(spark: SparkSession, dir: String): (DataFrame, String) = {
    val root = scratchSinkDir("latewin")
    val ev = Tables(spark, dir, "events").select(col("event_id"), col("ts"), col("value"))
    val agg = stagedEraStream(spark, root, ev, pmod(col("event_id"), lit(3)), Some(s"latewin|$dir"))
      .withWatermark("ts", "15 days")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).as("sv"),
      )
      .select(
        unix_micros(col("window.start")).as("window_start_us"),
        unix_micros(col("window.end")).as("window_end_us"),
        col("n_events"),
        round(col("sv"), 2).cast("double").as("total_value"),
      )
    (agg, root)
  }

  /** Watermark-driven state EVICTION, exercised for real (ST3+ST6 at
    * the ORACLE level — the specs pin late-drop semantics, but until
    * this gate no hash-matched query delivered out-of-order event
    * times ACROSS micro-batches so that evicted windows and dropped
    * late rows shape the final changelog):
    *
    *  1. the events corpus is STAGED as three era files
    *     (era = event_id % 3, strictly increasing mtimes) and
    *     re-read as a file stream with maxFilesPerTrigger = 1 —
    *     batch k is exactly era k, so batch boundaries are
    *     deterministic and each era re-delivers the FULL event-time
    *     range: every era past the first carries rows far older than
    *     the watermark left by its predecessor (provably-late input
    *     by construction);
    *  2. a 15-day watermark over a 1-hour tumbling window aggregate:
    *     after era 0 the watermark stands at max(ts) − 15 d, so
    *     roughly the older half of each later era's rows land in
    *     already-EVICTED windows and are dropped, while the newer
    *     half updates still-live windows — the changelog shows both
    *     fates;
    *  3. update-mode changelog to explicit-batch-id subdirectories
    *     (the ChangelogCapture file contract: an at-least-once retry
    *     overwrites its own delivery), collapsed to the final value
    *     per window by max batch id.
    *
    * The DuckDB oracle replicates the WATERMARK RULE itself: per-era
    * max event time (over ALL rows of the era — the stats node sees
    * rows the aggregation later drops), ms-floored minus the delay,
    * running-max monotone; a row is accepted iff its WINDOW END
    * exceeds the late-event watermark standing when its era arrives.
    * Spark ≥ 3.4 runs DUAL watermarks (SPARK-40925): micro-batch k
    * filters late events with the PREVIOUS batch's watermark — stats
    * through batch k − 2 — while eviction uses batch k − 1's, the
    * two aligning so an accepted row can never target an
    * already-evicted window. Measured here before being encoded in
    * the oracle: batch 1 accepted all 3333 era-1 rows under the
    * era-0 watermark; batch 2 dropped to 361 live windows by it. The
    * hash-match therefore proves eviction + late-drop semantics, not
    * just windowed arithmetic. Window ends are hour-aligned while
    * the watermark inherits its era-max's sub-second micros, so the
    * boundary comparison can never tie (the determinism rule).
    */
  def lateEvictionViaSink(spark: SparkSession, dir: String): DataFrame = {
    val (agg, root) = lateEvictionStagedAgg(spark, dir)
    val outDir = s"$root/out"
    val latest = runToFinalViaSink(spark, agg, Seq("window_start_us"), outDir)
    require(batchDirs(outDir).nonEmpty, "eviction gate landed no changelog batches")
    latest
  }

  /** APPEND-MODE twin of [[lateEvictionViaSink]] — the other half of
    * ST3's watermark semantics at the oracle level: in append mode a
    * window is emitted EXACTLY ONCE, when eviction passes its end,
    * with whatever content had merged by then. Same staged era
    * stream, same aggregate, production parquet append sink.
    *
    * What the emitted set proves (all measured batch-by-batch before
    * being encoded in the oracle): batch 0 emits nothing (watermark
    * epoch); batch 1 merges EVERY era-1 row (the dual-watermark late
    * filter still holds the previous batch's watermark) and then
    * evicts-and-emits exactly the windows ending ≤ the era-0
    * watermark W0, carrying era-0 + era-1 content; the running-max
    * watermark never advances past W0 on this corpus (later era
    * maxima are smaller), so nothing emits after batch 1, era-2 rows
    * into emitted windows are dropped as late, and era-2 rows into
    * LIVE windows merge into state that never closes — correctly
    * absent from the sink. Oracle: windows with end ≤ W0 aggregated
    * over era-0 ∪ era-1 rows only.
    *
    * HARD DEPENDENCIES the oracle encodes (a change to either flips
    * this gate): (1) [[runAppendToParquet]] keeps
    * `noDataMicroBatches.enabled = false` — a trailing no-data batch
    * would evict with W2 and emit extra windows the oracle does not
    * model; (2) the Spark ≥ 3.4 dual-watermark lag (SPARK-40925,
    * measured r12) — a Spark upgrade that collapses the late filter
    * onto the eviction watermark changes which rows merge.
    */
  def evictionAppendViaSink(spark: SparkSession, dir: String): DataFrame = {
    val (agg, root) = lateEvictionStagedAgg(spark, dir)
    runAppendToParquet(spark, agg, s"$root/outappend")
  }

  /** Session-eviction gap (hours) — interpolated into the Spark plan
    * and the DuckDB oracle (the ServedQueryCutoff rule). 6 hours sits
    * against the corpus's ~11 h mean per-user inter-event gap, so
    * ~43% of events MERGE into multi-event sessions at sf0.01 —
    * enough merging to make session (not tumbling) semantics
    * load-bearing.
    */
  val SessionEvictionGapHours: Int = 6

  /** Watermark eviction for MERGING windows — the session-window
    * counterpart of [[evictionAppendViaSink]], closing the last
    * spec-only streaming semantic (ST2's session windows never had an
    * oracle-gated eviction path): a staged era stream drives
    * `session_window` through watermark-driven session close in
    * append mode, with provably-late rows that would have EXTENDED
    * already-closed sessions.
    *
    * Era rule — id-interleave with TIME-STAGGERED maxima, measured
    * into shape in two steps: (1) the tumbling gates' pure
    * event_id % 3 leaves every era's max ts within ms of the global
    * max, so the running-max watermark NEVER ADVANCES past W0 on
    * this corpus — the batch-2 eviction set is EMPTY (a live
    * session's end only grows) and three wrong oracle models (late
    * filter on ts instead of ts + gap; single watermark at batch 2;
    * no lag at batch 1) all coincide with the right one — a
    * vacuously-green gate; (2) pure time-tiling (era = tile % 3)
    * advances the watermark but makes eras TIME-DISJOINT near W0, so
    * no era-0/1 session can sit within a gap of a kept era-2 row and
    * the reopen hazard is structurally impossible (measured 0
    * overlaps at every SF). The hybrid keeps both properties: rows
    * in the top day of the range are era 2, the next day down era 1,
    * everything below id-interleaves — era maxima climb ~1 day per
    * batch (W1 − W0 ≈ 1 day) while all three eras still span the
    * full range below the stagger band. Re-measured: all three wrong
    * models DIVERGE at every SF, dropped-late rows that would have
    * extended a closed session exist at every SF, and batch-2
    * sessions overlapping a closed one exist at sf0.01+ (pinned in
    * StreamingAdvancedSpec).
    *
    * Semantics the oracle unrolls batch-by-batch (measured before
    * encoded — the dual-watermark discipline):
    *
    *  - batch 0 (era 0): all rows accepted (watermark epoch), merged
    *    into per-user sessions; nothing evicts (eviction watermark
    *    still epoch);
    *  - batch 1 (era 1): the late filter still holds the PREVIOUS
    *    batch's watermark (stats through batch −1 = epoch —
    *    SPARK-40925), so EVERY era-1 row merges, possibly bridging
    *    era-0 sessions; eviction then closes-and-emits exactly the
    *    merged sessions whose END (last event + gap) ≤ W0 =
    *    ms(max era-0 ts) − 15 d;
    *  - batch 2 (era 2): the late filter now holds W0 — rows whose
    *    initial session window ends ≤ W0 (ts + gap ≤ W0) are
    *    DROPPED, including rows that would have extended a session
    *    emitted in batch 1; a late row that SURVIVES the filter next
    *    to a closed session starts a NEW session rather than
    *    reopening it (its rows left the store at emission) — exactly
    *    the merging-window eviction hazard this gate pins, and those
    *    new sessions are VISIBLE because they emit at batch 2 when
    *    their end ≤ W1 = max(W0, ms(max era-1 ts) − 15 d). Accepted
    *    rows merge with the LIVE (un-emitted) sessions; sessions the
    *    run's watermarks never pass stay in state — correctly absent
    *    from the sink.
    *
    * The DuckDB oracle replays this exactly: sessionize(era-0 ∪
    * era-1) → emit ≤ W0; carry the ROWS of live sessions (emitted
    * sessions' rows removed), union the W0-filtered era-2 rows,
    * re-sessionize, emit ≤ W1. Re-sessionizing live rows is sound
    * because sessions are disjoint per user and removal of whole
    * emitted sessions cannot bridge the survivors. Same hard
    * dependencies as [[evictionAppendViaSink]]: runAppendToParquet's
    * noDataMicroBatches = false (a trailing no-data batch would evict
    * with W2) and the Spark ≥ 3.4 dual-watermark lag.
    *
    * Scale shape: the production plan is the stock streaming
    * session aggregation — state per (user, live session), bounded by
    * the watermark horizon; the staging write is one coalesce(1) pass
    * per era outside the timed stream (the tumbling gates' harness);
    * the tile bounds are one bounded driver action spliced as
    * literals (the r10 rule).
    */
  def sessionEvictionViaSink(spark: SparkSession, dir: String): DataFrame = {
    val root = scratchSinkDir("sesswin")
    val evBase = Tables(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    val bounds = evBase
      .agg(min(unix_micros(col("ts"))).as("mn"), max(unix_micros(col("ts"))).as("mx"))
      .head
    val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
    val day = 86400000000L
    // the stagger band needs room below it for all three eras to
    // interleave — a corpus under 4 days would degenerate silently
    require(mx - mn > 4 * day, s"events range ${mx - mn} us too short for the era stagger")
    // fail LOUDLY if either stagger band is empty: an empty era-1
    // band would leave W1 governed by era 0 alone (batch-2 eviction
    // silently vacuous — the exact failure mode this gate's era rule
    // was measured into shape to avoid), and DuckDB's NULL handling
    // in greatest() would diverge from a no-stats Spark batch
    val bands = evBase.agg(
      sum(when(unix_micros(col("ts")) > mx - day, 1L).otherwise(0L)).as("b2"),
      sum(when(
        unix_micros(col("ts")) > mx - 2 * day && unix_micros(col("ts")) <= mx - day, 1L)
        .otherwise(0L)).as("b1"),
    ).head
    require(
      bands.getLong(0) > 0 && bands.getLong(1) > 0,
      s"era stagger bands empty (top-day=${bands.getLong(0)}, next-day=${bands.getLong(1)}) — " +
        "watermark advance lost")
    val hybridEra = expr(
      s"CASE WHEN unix_micros(ts) > ${mx - day}L THEN 2 " +
        s"WHEN unix_micros(ts) > ${mx - 2 * day}L THEN 1 " +
        "ELSE pmod(event_id, 3) END")
    val agg = stagedEraStream(spark, root, evBase, hybridEra)
      .withWatermark("ts", "15 days")
      .groupBy(session_window(col("ts"), s"$SessionEvictionGapHours hours"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).as("sv"),
      )
      .select(
        col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events"),
        round(col("sv"), 2).cast("double").as("total_value"),
      )
    runAppendToParquet(spark, agg, s"$root/out")
  }

  /** Streaming quality ROUTER — one stream, two sinks, one pass: each
    * micro-batch of documents is scored with the map-side Gopher keep
    * rule and split into a keep sink and a reject sink inside a single
    * foreachBatch (the batch is persisted so the two writes share one
    * source scan). This is the standard multi-sink routing shape a
    * curation pipeline runs at ingest: accepted docs flow to training
    * storage, rejects to a quarantine table for audit, neither path
    * re-reads the source.
    *
    * Exactly-once: each batch writes to its OWN subdirectory
    * (`b<batchId>`) in overwrite mode, so an at-least-once foreachBatch
    * retry replaces that batch's output instead of appending a
    * duplicate — the same explicit-batch-id contract as
    * [[VotePipeline.ChangelogCapture]], applied to files.
    *
    * Returns the keep-side table (doc_id, source), read back from the
    * sink.
    */
  def qualityRouteViaSink(spark: SparkSession, dir: String, outDir: String): DataFrame = {
    // stateless routing: no state stores and no no-data batches, but
    // keep sink parallelism consistent with the other gate streams
    StreamGate.withConf(spark, StreamGate.GateStreamConf: _*) {
      startQualityRoute(spark, dir, outDir).awaitTermination()
    }
    readQualityRouteKeep(spark, outDir)
  }

  /** Start (without awaiting) the two-sink quality router. The caller
    * owns the conf bracket, as with [[startAppendToParquet]].
    */
  private[streaming] def startQualityRoute(
      spark: SparkSession,
      dir: String,
      outDir: String,
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    val keepPath = s"$outDir/keep"
    val rejectPath = s"$outDir/reject"
    // a NULL keep (NULL text) must still route somewhere or the
    // keep ∪ reject = corpus partition contract silently drops the
    // doc — quarantine it on the reject side
    val routed = documentsStream(spark, dir)
      .select(
        col("doc_id"),
        col("source"),
        coalesce(graft.operators.TextAnalysis.gopherKeep(col("text")), lit(false)).as("keep"),
      )
    routed.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        batch.persist()
        try {
          batch.filter(col("keep")).select("doc_id", "source")
            .write.mode("overwrite").parquet(s"$keepPath/b$batchId")
          batch.filter(!col("keep")).select("doc_id", "source")
            .write.mode("overwrite").parquet(s"$rejectPath/b$batchId")
        } finally { batch.unpersist(); () }
      }
      .option("checkpointLocation", StreamGate.scratchDir("graft-ckpt-route"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Read back the keep side of a completed quality-route run. */
  private[streaming] def readQualityRouteKeep(spark: SparkSession, outDir: String): DataFrame = {
    val keepPath = s"$outDir/keep"
    val outSchema = new StructType().add("doc_id", LongType).add("source", StringType)
    val dirs = batchDirs(keepPath).map(_.getPath)
    if (dirs.isEmpty) spark.createDataFrame(new java.util.ArrayList[Row](), outSchema)
    else spark.read.schema(outSchema).parquet(dirs: _*)
  }

  /** Streaming twin of RelationalQueries.latestEventPerUser: the CDC
    * latest-per-key view maintained INCREMENTALLY — a stateful
    * update-mode aggregation whose state is one (ts, event_id)-max
    * struct per user, updated as events stream in. Same oracle SQL as
    * the batch compaction; the changelog collapses by explicit batch
    * id like every other update-mode gate. This is the live
    * "materialized upsert view" a CDC consumer actually runs, vs the
    * batch recompute.
    */
  def latestEventPerUserStream(spark: SparkSession, dir: String): DataFrame = {
    // the survivor contract is the SHARED batch builder applied to
    // the stream — one definition, one oracle, no drift. Per-user
    // keys scale with the corpus, so the changelog rides the
    // distributed sink path (see runToFinalViaSink), not a capture
    val agg = graft.operators.RelationalQueries.latestEventPerKey(eventsStream(spark, dir))
    runToFinalViaSink(spark, agg, Seq("user_id"), scratchSinkDir("cdc") + "/out")
  }

  /** Streaming twin of RelationalQueries.funnelSteps: the per-user
    * conditional first-touch mins run as a stateful update-mode
    * aggregation (state = three min timestamps per user — the live
    * funnel a growth dashboard actually maintains), collapsed by
    * batch id like every update-mode gate, then reduced to the 1-row
    * funnel on the read side. Shared builders with the batch gate —
    * one definition, one oracle, no drift.
    */
  def funnelStepsStream(spark: SparkSession, dir: String): DataFrame = {
    // per-user state is a CORPUS-SCALING key domain → the changelog
    // must land on the distributed sink path, never a driver capture;
    // only the 1-row reduced funnel ever reaches the driver
    val perUser = runToFinalViaSink(
      spark,
      graft.operators.RelationalQueries.funnelPerUser(eventsStream(spark, dir)),
      Seq("user_id"),
      scratchSinkDir("funnel") + "/out",
    )
    graft.operators.RelationalQueries.funnelReduce(perUser)
  }

  /** Streaming twin of RelationalQueries.itemsetPairs: the per-user
    * event-type sets are maintained as update-mode `collect_set`
    * state (one bounded-by-|types| set per user — the live
    * co-occurrence tracker), landed on the distributed sink path
    * (per-user keys scale with the corpus), then expanded to pair
    * counts on read-back with the SHARED batch expansion — one
    * definition, one oracle, no drift. The set is sorted at read
    * time: collect_set order is engine-internal, the expansion
    * contract wants the sorted array.
    */
  def itemsetPairsStream(spark: SparkSession, dir: String): DataFrame = {
    val perUser = runToFinalViaSink(
      spark,
      eventsStream(spark, dir)
        .groupBy("user_id")
        .agg(collect_set(col("event_type")).as("ts")),
      Seq("user_id"),
      scratchSinkDir("itemset") + "/out",
    )
    graft.operators.RelationalQueries.itemsetPairExpansion(
      perUser.select(col("user_id"), sort_array(col("ts")).as("ts"))
    )
  }

  /** Streaming incremental near-dup probe — the INGEST-TIME dedup a
    * 100 TB pipeline runs: every arriving document is shingled,
    * MinHash-banded map-side, and probed against the STORED band-key
    * index of the existing corpus in-flight (stream-static equi-join
    * on (band, bkey)); band collisions are verified with exact
    * jaccard against the indexed shingle sets and hits land on the
    * distributed append sink.
    *
    * Semantics: exactly the new×existing slice of
    * [[graft.operators.Dedup.minhashIncrementalPairs]] — new×new
    * pairs belong to the next index rebuild (a stream-stream
    * self-join would hold every arriving shingle set in watermark
    * state for no deployment value; the batch incremental gate
    * covers that slice, and the equality of this gate with its
    * old×new restriction is pinned in StreamingAdvancedSpec).
    * Banding is order-independent — a pair collides in a band or it
    * doesn't, regardless of which side streamed — so the landed set
    * equals the full pair table restricted to old×new, which is the
    * DuckDB oracle.
    *
    * Scale shape: the probe is STATELESS (the only streaming state
    * is the source offset log); both static sides are the stored
    * index tables a deployment maintains (re-derived here at fixture
    * scale from the old slice only). A pair colliding in several
    * bands lands once per band with identical verified rows; the
    * read-back dedups them distributedly — cheaper than in-stream
    * dropDuplicates state at every scale.
    */
  def incrementalDedupStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val cutoff = Dedup.incrementCutoff(spark, dir)
    val existing = Dedup.shingledDocs(spark, dir).filter(col("doc_id") <= cutoff)
    val idx = Dedup
      .bandedKeysOf(existing, 12, 4)
      .select(col("doc_id").as("doc_a"), col("band"), col("bkey"))
    val shA = existing.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val probe = documentsStream(spark, dir)
      .filter(col("doc_id") > cutoff && size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
    val probeKeys = Dedup
      .bandedKeysWithShingles(probe)
      .select(col("doc_id").as("doc_b"), col("sh").as("sh_b"), col("band"), col("bkey"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    val uni = size(col("sh_a")) + size(col("sh_b")) - inter
    probeKeys
      .join(idx, Seq("band", "bkey"))
      .join(shA, Seq("doc_a"))
      .select(
        col("doc_a"),
        col("doc_b"),
        inter.cast("long").as("n_common"),
        uni.cast("long").as("n_union"),
        (inter.cast("double") / uni).as("jaccard"),
      )
      .filter(col("jaccard") >= 0.3)
  }

  def incrementalDedupViaSink(spark: SparkSession, dir: String): DataFrame =
    runAppendToParquet(spark, incrementalDedupStream(spark, dir), scratchSinkDir("incdedup") + "/out")
      .dropDuplicates("doc_a", "doc_b")

  /** Streaming ingest-time winnowing probe — the MOSS-index twin of
    * [[incrementalDedupStream]]: every arriving document computes its
    * SELECTED winnowing fingerprints map-side
    * ([[graft.operators.TextAnalysis.winnowedFingerprints]] — pure
    * array math, no shuffle) and probes the STORED fingerprint index
    * of the existing corpus (stream-static equi-join on the
    * fingerprint; the index keeps only fingerprints with existing-df
    * <= 50, the stop-fingerprint discipline a deployed index applies
    * at build time). Each hit row carries both docs' TOTAL selected-
    * fingerprint counts (existing side stored in the index, arriving
    * side computed in the same let-bound generator), so the read-back
    * needs no second corpus pass: a distributed groupBy over the
    * landed hits counts distinct shared fingerprints per pair
    * (idempotent under at-least-once retries) and scores containment
    * over the smaller set — the [[graft.operators.Dedup.winnowPairs]]
    * old×new slice exactly, which is the DuckDB oracle.
    *
    * Scale shape: STATELESS probe (the only streaming state is the
    * source offset log); new×new pairs belong to the next index
    * rebuild, exactly the [[incrementalDedupStream]] adjudication.
    */
  def winnowProbeStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, TextAnalysis}
    import graft.functions.Let.bindArray
    val cutoff = Dedup.incrementCutoff(spark, dir)
    val existingFps = graft.sources.Tables(spark, dir, "documents")
      .filter(col("doc_id") <= cutoff)
      .select(
        col("doc_id").as("doc_a"),
        explode(bindArray(TextAnalysis.winnowedFingerprints(col("text"))) { a =>
          transform(a, x => struct(x.as("fp"), size(a).cast("long").as("n_a")))
        }).as("z"),
      )
      .select(col("doc_a"), col("z.fp").as("fp"), col("z.n_a").as("n_a"))
    // the stop-fingerprint cut (existing-df <= 50) rides a count
    // window over the ONE fingerprint pass instead of a second
    // corpus-wide winnowing explode + aggregate + self-lineage join
    // (round 14: winnowedFingerprints is the md5-heavy step — the
    // index build paid it twice)
    val idx = {
      import org.apache.spark.sql.expressions.Window
      existingFps
        .withColumn("df", count(lit(1)).over(Window.partitionBy("fp")))
        .filter(col("df") <= 50)
        .select(col("doc_a"), col("fp"), col("n_a"))
    }
    val probe = documentsStream(spark, dir)
      .filter(col("doc_id") > cutoff)
      .select(
        col("doc_id").as("doc_b"),
        explode(bindArray(TextAnalysis.winnowedFingerprints(col("text"))) { a =>
          transform(a, x => struct(x.as("fp"), size(a).cast("long").as("n_b")))
        }).as("z"),
      )
      .select(col("doc_b"), col("z.fp").as("fp"), col("z.n_b").as("n_b"))
    probe
      .join(idx, Seq("fp"))
      .select(col("doc_a"), col("n_a"), col("doc_b"), col("n_b"), col("fp"))
  }

  /** Read-back aggregation of the landed winnow-probe hits: distinct
    * shared fingerprints per (old, new) pair, >= 2 to match, scored
    * by containment over the smaller selected set.
    */
  def winnowProbeViaSink(spark: SparkSession, dir: String): DataFrame =
    runAppendToParquet(spark, winnowProbeStream(spark, dir), scratchSinkDir("winprobe") + "/out")
      .groupBy("doc_a", "n_a", "doc_b", "n_b")
      .agg(count_distinct(col("fp")).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .select(
        col("doc_a"),
        col("doc_b"),
        col("n_shared"),
        expr("(1000000 * n_shared) div least(n_a, n_b)").cast("long").as("overlap_x1e6"),
      )

  /** Streaming ingest-time boilerplate scrub — the CCNet-segment twin
    * of [[incrementalDedupStream]]: every arriving document is cut
    * into non-overlapping width-token segments map-side
    * ([[graft.operators.Dedup.segmentRows]] — the exact expressions
    * of the batch [[graft.operators.Dedup.boilerplateScrub]] gate)
    * and anti-joined against the STORED boilerplate index of the
    * existing corpus (segment hashes with existing-df ≥ 2 — the
    * artifact a deployment maintains; re-derived here at fixture
    * scale from the old slice only). Surviving segments land on the
    * distributed append sink: the landed table IS the clean corpus,
    * segment-addressed — scrub-before-land, so raw boilerplate never
    * reaches storage (the PII-scrub discipline applied to dedup).
    *
    * Scale shape: STATELESS (stream-static left-anti equi-join on the
    * hash; the only streaming state is the source offset log).
    * Reassembly into per-doc text is a batch consumer's ordered
    * re-concat over seg_pos — a per-doc streaming aggregation here
    * would hold every arriving doc in state for no deployment value.
    * New boilerplate born WITHIN the increment belongs to the next
    * index rebuild, exactly the [[incrementalDedupStream]]
    * adjudication.
    */
  def boilerplateScrubStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val cutoff = Dedup.incrementCutoff(spark, dir)
    val idx = Dedup
      .segmentRows(
        graft.sources.Tables(spark, dir, "documents").filter(col("doc_id") <= cutoff),
        width = 8)
      .groupBy("h")
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2)
      .select("h")
    Dedup
      .segmentRows(documentsStream(spark, dir).filter(col("doc_id") > cutoff), width = 8)
      .join(idx, Seq("h"), "left_anti")
      .select(col("doc_id"), col("seg_pos"), col("n_tok"), col("h"))
  }

  def boilerplateScrubViaSink(spark: SparkSession, dir: String): DataFrame =
    // (doc_id, seg_pos) is unique in the clean corpus, so the dedup
    // absorbs at-least-once replays exactly like the sibling sinks
    runAppendToParquet(
      spark,
      boilerplateScrubStream(spark, dir),
      scratchSinkDir("bpscrub") + "/out")
      .dropDuplicates("doc_id", "seg_pos")

  /** Streaming ingest-time edit-distance near-dup probe — the
    * character-metric twin of [[incrementalDedupStream]]: every
    * arriving document is shingled and MinHash-banded map-side with
    * its ASCII-PROJECTED text riding the banding explode as the
    * verify payload ([[graft.operators.Dedup.bandedKeysWithPayload]]
    * — a stream-stream self-join to recover the text would need
    * watermark state), probed against the STORED band index of the
    * existing corpus, and band collisions verify with exact unit-cost
    * levenshtein against the stored projected text — the
    * [[graft.operators.Dedup.editRatioPairs]] metric, old×new slice.
    * Band keys are per-document deterministic, so the landed set
    * equals the batch candidate table restricted to old×new under
    * the same permille cutoff (banding order-independence — the
    * incrementalDedupStream argument), which is the DuckDB oracle.
    *
    * Scale shape: STATELESS (offset-log-only state); a pair
    * colliding in several bands lands once per band with identical
    * verified rows and the read-back dedups them distributedly.
    * Levenshtein cost is bounded by band collisions, never all-pairs.
    */
  def editProbeStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val cutoff = Dedup.incrementCutoff(spark, dir)
    def projected(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      regexp_replace(c, "[^\\p{ASCII}]", "?")
    val existing = Dedup.shingledDocs(spark, dir).filter(col("doc_id") <= cutoff)
    val idx = Dedup
      .bandedKeysOf(existing, 12, 4)
      .select(col("doc_id").as("doc_a"), col("band"), col("bkey"))
    val oldText = graft.sources.Tables(spark, dir, "documents")
      .filter(col("doc_id") <= cutoff)
      .select(col("doc_id").as("doc_a"), projected(col("text")).as("ta"))
    val probe = documentsStream(spark, dir)
      .filter(col("doc_id") > cutoff && size(split(col("text"), " ")) >= 3)
      .select(
        col("doc_id"),
        Dedup.shingles(col("text")).as("sh"),
        projected(col("text")).as("tb"),
      )
    Dedup
      .bandedKeysWithPayload(probe)
      .select(col("doc_id").as("doc_b"), col("tb"), col("band"), col("bkey"))
      .join(idx, Seq("band", "bkey"))
      .join(oldText, Seq("doc_a"))
      .select(
        col("doc_a"),
        col("doc_b"),
        levenshtein(col("ta"), col("tb")).cast("long").as("lev"),
        greatest(length(col("ta")), length(col("tb"))).cast("long").as("max_len"),
      )
      .withColumn("edit_permille", expr("CAST((1000 * lev) div max_len AS BIGINT)"))
      .filter(col("edit_permille") <= Dedup.EditPermilleCutoff)
  }

  def editProbeViaSink(spark: SparkSession, dir: String): DataFrame =
    runAppendToParquet(spark, editProbeStream(spark, dir), scratchSinkDir("editprobe") + "/out")
      .dropDuplicates("doc_a", "doc_b")

  /** Ingest-time maintenance of the retrieval tf index
    * (`TextAnalysis.tfIndexShared`) — the stream that makes the
    * "a deployment materializes the index and maintains it by
    * ingest" claim concrete: arriving documents (doc_id > the 90%
    * cutoff) tokenize MAP-SIDE and land raw (doc_id, pos, token)
    * posting rows on the sink; the read-back (doc_id, pos) replay
    * dedup + per-(doc, token) count is the increment's tf slice —
    * appending it to the stored index IS the refresh (doc-disjoint
    * eras make the fold a pure union; df/dl/N statistics re-derive
    * from the union, and `bm25_era_drift` audits how serving moves
    * when they do). Stateless — offset-log-only state, the
    * stream_lm_score landing pattern.
    */
  def tfIngestStream(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = graft.operators.Dedup.incrementCutoff(spark, dir)
    documentsStream(spark, dir)
      .filter(col("doc_id") > cutoff)
      .select(col("doc_id"), posexplode(graft.operators.TextAnalysis.tokens(col("text"))).as(Seq("pos", "token")))
      .filter(col("token") =!= "")
  }

  def tfIngestViaSink(spark: SparkSession, dir: String): DataFrame =
    runAppendToParquet(spark, tfIngestStream(spark, dir), scratchSinkDir("tfingest") + "/out")
      .dropDuplicates("doc_id", "pos")
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))

  /** Ingest-time perceptual near-dup probe — the phash tier's
    * maintenance loop (the stream_edit_probe pattern on the image
    * fixture): every arriving image (the v=1 re-touched variants,
    * synthesized at ingest from the document stream) is decoded,
    * fingerprinted MAP-SIDE (`Multimodal.fingerprintOf`), banded, and
    * probes the STORED band index (the v=0 fingerprints) via a
    * stream-static equi-join on the band key; colliding candidates
    * verify by hamming ≤ 7 and land. A pair colliding in several
    * bands lands once per band with identical rows; the read-back
    * dedups distributedly. Stateless — the stored index is the state,
    * maintained outside the stream.
    */
  def phashProbeStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Multimodal
    // corpus-adaptive grid from the stored corpus size (one bounded
    // driver action before the stream starts — at a deployment the
    // grid is a property of the stored index, exactly as here)
    val blocks = Multimodal.phashGridBlocks(
      2L * graft.sources.Tables(spark, dir, "documents").count())
    // synthesize ONLY the stored (v=0) variants — the previous form
    // generated both variants and filtered half away afterwards,
    // doubling the per-batch synthesis+decode cost of the static side
    // (round 14, guide §2.3: don't compute what you throw away)
    val storedIdx = Multimodal.withBandKeys(
      graft.sources.Tables(spark, dir, "documents")
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.flatMap(base =>
          Multimodal.fingerprintOf(Multimodal.phashVariantRecord(base, 0, blocks), blocks)))
        .toDF("id", "bands"),
      "a")
    val arriving = Multimodal.withBandKeys(
      documentsStream(spark, dir)
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.flatMap(base =>
          Multimodal.fingerprintOf(Multimodal.phashVariantRecord(base, 1, blocks), blocks)))
        .toDF("id", "bands"),
      "b")
    arriving
      .join(storedIdx, Seq("__bucket"))
      .withColumn("hamming", Multimodal.bandHamming)
      .filter(col("hamming") <= 7)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  def phashProbeViaSink(spark: SparkSession, dir: String): DataFrame =
    runAppendToParquet(spark, phashProbeStream(spark, dir), scratchSinkDir("phashprobe") + "/out")
      .dropDuplicates("doc_a", "doc_b")

  /** Ingest-time AUDIO perceptual probe — [[phashProbeStream]] for
    * the audio tier: every arriving clip (the v=1 re-mastered
    * variants, synthesized at ingest from the document stream) is
    * decoded, energy-fingerprinted MAP-SIDE
    * (`Multimodal.audioFingerprintOf` — the full WAV decode path),
    * banded, and probes the STORED band index (the v=0 fingerprints)
    * via a stream-static equi-join on the band key; colliding
    * candidates verify by hamming ≤ 7 and land. Stateless — the
    * stored index is the state, maintained outside the stream; the
    * read-back dedups multi-band collisions distributedly.
    */
  def audioProbeStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Multimodal
    val blocks = Multimodal.phashGridBlocks(
      2L * graft.sources.Tables(spark, dir, "documents").count())
    // v=0-only synthesis for the static side — the phashProbeStream
    // rationale (the both-variants-then-filter form paid 2× the WAV
    // synthesis + decode per batch)
    val storedIdx = Multimodal.withBandKeys(
      graft.sources.Tables(spark, dir, "documents")
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.flatMap(base =>
          Multimodal.audioFingerprintOf(Multimodal.audioVariantRecord(base, 0, blocks), blocks)))
        .toDF("id", "bands"),
      "a")
    val arriving = Multimodal.withBandKeys(
      documentsStream(spark, dir)
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.flatMap(base =>
          Multimodal.audioFingerprintOf(Multimodal.audioVariantRecord(base, 1, blocks), blocks)))
        .toDF("id", "bands"),
      "b")
    arriving
      .join(storedIdx, Seq("__bucket"))
      .withColumn("hamming", Multimodal.bandHamming)
      .filter(col("hamming") <= 7)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  def audioProbeViaSink(spark: SparkSession, dir: String): DataFrame =
    runAppendToParquet(spark, audioProbeStream(spark, dir), scratchSinkDir("audioprobe") + "/out")
      .dropDuplicates("doc_a", "doc_b")

  /** Streaming ingest-time LM scoring — the deployment shape of the
    * CCNet perplexity filter ([[graft.operators.TextAnalysis
    * .lmPplSplit]] cuts the STORED corpus; this scores every ARRIVING
    * document against the per-lang bigram LM trained on that stored
    * corpus, which is how the filter actually runs at ingest): the
    * stored slice builds the (lang, l, r) count table and its
    * (lang, l) marginal once; arriving docs explode to positional
    * bigrams map-side and LEFT-join both static tables — a bigram
    * the stored LM never saw scores 0 (the OOV convention, identical
    * in the oracle), never a dropped row. Per-bigram scored rows
    * land on the distributed append sink; the read-back aggregates
    * per doc (the winnow-probe discipline: the only streaming state
    * is the offset log; a per-doc streaming aggregation would hold
    * every in-flight doc in state, and the landed rows dedup on
    * (doc_id, pos) so at-least-once replays cannot double-count).
    */
  def lmScoreStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, TextAnalysis}
    val cutoff = Dedup.incrementCutoff(spark, dir)
    val old = graft.sources.Tables(spark, dir, "documents")
      .filter(col("doc_id") <= cutoff && size(split(col("text"), " ")) >= 2)
    val gramsOld = old
      .select(col("lang"), explode(TextAnalysis.positionalBigrams(col("text"))).as("g"))
      .select(col("lang"), col("g.l").as("l"), col("g.r").as("r"))
    // ONE stored-corpus pass builds the whole LM (round 14): the
    // (lang, l) marginal is the sum of the (lang, l, r) counts, so it
    // derives from the tiny count table via a re-aggregation instead
    // of a second corpus-wide explode + aggregation. The join pair
    // stays two plain aggregate sides (a windowed single table loses
    // the broadcast size estimate and measured SLOWER)
    val cntLr = gramsOld.groupBy("lang", "l", "r").agg(count(lit(1)).as("cnt_lr"))
    val cntL = cntLr.groupBy("lang", "l").agg(sum(col("cnt_lr")).as("cnt_l"))
    documentsStream(spark, dir)
      .filter(col("doc_id") > cutoff && size(split(col("text"), " ")) >= 2)
      .select(
        col("doc_id"),
        col("lang"),
        posexplode(TextAnalysis.positionalBigrams(col("text"))).as(Seq("pos", "g")),
      )
      .select(
        col("doc_id"),
        col("lang"),
        col("pos").cast("long").as("pos"),
        col("g.l").as("l"),
        col("g.r").as("r"),
      )
      .join(cntL, Seq("lang", "l"), "left")
      .join(cntLr, Seq("lang", "l", "r"), "left")
      .select(
        col("doc_id"),
        col("pos"),
        when(
          col("cnt_lr").isNotNull && col("cnt_l").isNotNull,
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * cnt_lr) div cnt_l AS BIGINT)"),
        ).otherwise(0L).as("q"),
      )
  }

  def lmScoreViaSink(spark: SparkSession, dir: String): DataFrame =
    runAppendToParquet(spark, lmScoreStream(spark, dir), scratchSinkDir("lmscore") + "/out")
      .dropDuplicates("doc_id", "pos")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("sq"))
      .select(
        col("doc_id"),
        col("n_bigrams"),
        expr("sq div n_bigrams").cast("long").as("lm_score_x1e6"),
      )

  /** Streaming ingest-time PQ encode — the vector-index twin of
    * [[incrementalDedupStream]]: every arriving embedding is encoded
    * to its 4 subspace codes + stored norm against the BROADCAST
    * static codebook, map-side and stateless (the only streaming
    * state is the source offset log), and the code rows land on the
    * distributed append sink. At 100 TB this is how the compressed
    * serving tier is BUILT: the index is an append-only codes table
    * that grows as data lands, no batch re-encode of the corpus —
    * and because the encode is row-wise against a fixed codebook,
    * the landed table is row-identical to the batch
    * [[graft.operators.PqIndex.codesTable]] artifact (the gate
    * shares its oracle; equality also pinned in spec). Codebook
    * refresh (drift) is the batch [[graft.operators.PqIndex.codebook]]
    * rebuild, exactly like the LSH band-index refresh gate.
    */
  def pqEncodeStream(spark: SparkSession, dir: String): DataFrame = {
    val fallback = new StructType()
      .add("vec_id", LongType)
      .add("embedding", ArrayType(FloatType))
      .add("label", IntegerType)
    graft.operators.PqIndex.encodeAgainst(
      tableStream(spark, dir, "embeddings", fallback).select(col("vec_id"), col("embedding")),
      graft.operators.PqIndex.centroidsRow(spark, dir),
    )
  }

  def pqEncodeViaSink(spark: SparkSession, dir: String): DataFrame =
    runAppendToParquet(spark, pqEncodeStream(spark, dir), scratchSinkDir("pqencode") + "/out")

  /** The refresh's re-encode DELTA as a stream: when the drift
    * trigger fired ([[graft.operators.PqIndex.refreshFires]] — one
    * bounded driver action over the ≤|numSub·cells|-row drift frame),
    * ONLY the arrived-since rows (vec_id past the era cutoff) flow
    * through a map-side encode against the refreshed v2 codebook and
    * land on the sink; a no-drift corpus lands NOTHING (no refresh →
    * no delta — the fold keeps every v1 code). The landed table is
    * pinned equal to the fold's cb_version = 2 slice by the shared
    * oracle — the streaming half of the maintenance loop, exactly as
    * [[pqEncodeStream]] is the ingest half against the fixed v1.
    */
  def pqReencodeStream(spark: SparkSession, dir: String): DataFrame = {
    val fires = graft.operators.PqIndex.refreshFires(spark, dir)
    val cutoff = graft.operators.PqIndex.refreshCutoff(spark, dir)
    val fallback = new StructType()
      .add("vec_id", LongType)
      .add("embedding", ArrayType(FloatType))
      .add("label", IntegerType)
    val delta = tableStream(spark, dir, "embeddings", fallback)
      .filter(lit(fires) && col("vec_id") > cutoff)
      .select(col("vec_id"), col("embedding"))
    graft.operators.PqIndex
      .encodeAgainst(delta, graft.operators.PqIndex.centroidsRow(spark, dir))
      .select(
        col("vec_id"),
        lit(2L).as("cb_version"),
        col("c0"), col("c1"), col("c2"), col("c3"), col("nrm"),
      )
  }

  def pqReencodeViaSink(spark: SparkSession, dir: String): DataFrame =
    runAppendToParquet(spark, pqReencodeStream(spark, dir), scratchSinkDir("pqreenc") + "/out")

  /** Ingest-time semantic decontamination — the contamination guard
    * run WHERE it matters at 100 TB: before candidate training data
    * lands, not as a batch sweep afterwards. Arriving candidate
    * vectors (vec_id past the 90% increment cutoff, not themselves
    * test-split) probe the FIXED test bank (the test-split vectors —
    * a held-out benchmark is a static asset) via a stream-static
    * label-cell join + cosine threshold; hits land as
    * (cand_vec_id, test_vec_id) pairs and the read-back dedups
    * replays and aggregates per-candidate hit counts. Stateless —
    * offset-log-only state; the bank is the state, maintained outside
    * the stream (the stored-index probe pattern).
    */
  def decontaminationStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    import graft.operators.Sampling
    val cutoff = graft.sources.Tables(spark, dir, "embeddings")
      .agg(expr("9 * max(vec_id) DIV 10")).head.getLong(0)
    def splitOf(c: org.apache.spark.sql.Column) =
      Sampling.assignSplit(c.cast("string"), "vsplit")
    val bank = graft.sources.Tables(spark, dir, "embeddings")
      .filter(splitOf(col("vec_id")) === "test")
      .select(col("label"), col("vec_id").as("test_vec_id"), col("embedding").as("te"))
    val fallback = new StructType()
      .add("vec_id", LongType)
      .add("embedding", ArrayType(FloatType))
      .add("label", IntegerType)
    val arriving = tableStream(spark, dir, "embeddings", fallback)
      .filter(col("vec_id") > cutoff && splitOf(col("vec_id")) =!= "test")
      .select(col("label"), col("vec_id").as("cand_vec_id"), col("embedding").as("ae"))
    arriving
      .join(bank, Seq("label"))
      .filter(cosine(col("ae"), col("te")) >= Sampling.IngestDecontaminationCosine)
      .select(col("cand_vec_id"), col("test_vec_id"))
  }

  def decontaminationViaSink(spark: SparkSession, dir: String): DataFrame =
    runAppendToParquet(spark, decontaminationStream(spark, dir), scratchSinkDir("decon") + "/out")
      .dropDuplicates("cand_vec_id", "test_vec_id")
      .groupBy("cand_vec_id")
      .agg(count(lit(1)).as("n_test_near_dups"))

  /** Ingest-time quarantine (dead-letter channel): contract-failing
    * rows divert with a typed reason BEFORE landing — per-row
    * expressions shared with the batch gate
    * ([[graft.operators.Expectations.quarantineOver]]), so the stream
    * is stateless and the landed set is row-identical to batch.
    */
  def quarantineStream(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Expectations.quarantineOver(eventsStream(spark, dir))

  def quarantineViaSink(spark: SparkSession, dir: String): DataFrame =
    runAppendToParquet(spark, quarantineStream(spark, dir), scratchSinkDir("quarantine") + "/out")

  /** Streaming ingest-time PII scrub — where the redaction pass
    * actually runs at 100 TB (scrub-before-land, not a batch sweep
    * over already-stored raw text): every arriving document is
    * injected (fixture synthesis, [[graft.operators.Pii.injectSql]] —
    * a deployment's stream already carries its PII) and scrubbed
    * MAP-SIDE — the regex counts and the redaction are per-row
    * expressions from the single shared definition
    * ([[graft.operators.Pii.scrubRecord]], also the batch gate), so
    * the stream is stateless (offset log only) and the landed sink is
    * row-identical to the batch twin, whose DuckDB oracle it shares.
    * In a deployment the redacted TEXT flows to training storage on
    * the same sink write; the gate lands counts + the redacted md5 so
    * the byte-level replacement is still pinned without shipping text
    * through the artifact compare.
    */
  def piiRedactStream(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Pii.scrubRecord(
      documentsStream(spark, dir)
        .select(col("doc_id"), expr(graft.operators.Pii.injectSql).as("text")))

  def piiRedactViaSink(spark: SparkSession, dir: String): DataFrame =
    runAppendToParquet(spark, piiRedactStream(spark, dir), scratchSinkDir("piiscrub") + "/out")

  /** Streaming hourly-active-users gauge: the live concurrency/DAU
    * counter a product dashboard runs. Streaming aggregations can't
    * express COUNT(DISTINCT …), so the production pattern is the
    * two-stage pipeline this gate runs end-to-end: stage 1 dedups
    * (user, hour) FIRST-SIGHTINGS in-stream
    * (`dropDuplicatesWithinWatermark` — one state row per active
    * user-hour, evicted as the watermark passes) and appends them to
    * the distributed sink; stage 2 is a stateless per-hour count of
    * the landed first-sightings (on a real deployment, the downstream
    * consumer — or an approx HLL gauge validated by this exact twin).
    *
    * The watermark delay exceeds the corpus event-time span (the
    * bounded-input analogue of "delay ≥ max duplicate lag", same
    * contract as [[streamDedupLineage]]), so the landed set is
    * EXACTLY the distinct (user, hour) table and the gauge equals
    * batch COUNT(DISTINCT user_id) per hour regardless of micro-batch
    * boundaries.
    */
  def activeUsersStream(spark: SparkSession, dir: String): DataFrame = {
    val firsts = eventsStream(spark, dir)
      .select(col("ts"), col("user_id"), date_trunc("hour", col("ts")).as("hour_ts"))
      .withWatermark("ts", "90 days")
      .dropDuplicatesWithinWatermark("user_id", "hour_ts")
      .select(col("user_id"), col("hour_ts"))
    runAppendToParquet(spark, firsts, scratchSinkDir("hau") + "/out")
      .groupBy(date_format(col("hour_ts"), "yyyy-MM-dd HH:mm:ss").as("hour_start"))
      .agg(count(lit(1)).as("n_users"))
  }
}
