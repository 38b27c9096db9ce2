package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Scored, TopKAggregator}
import graft.functions.VectorFunctions._
import graft.sources.Tables

/** Similarity search over embedding columns (ArrayType(FloatType)).
  *
  * Three tiers, mirroring what a 100 TB training-data pipeline needs:
  *  - brute-force top-k: exact baseline; the query side is broadcast,
  *    so the big side streams map-side with no shuffle of the corpus;
  *  - SRP-LSH bucketed ANN: candidates restricted to the query's
  *    bucket — the bucket join is an equi-join on the bucket id, the
  *    classic sub-linear scale path;
  *  - label-partitioned near-dup pairs (IVF-style: the label column
  *    plays the coarse-quantizer cell), for embedding-cosine dedup.
  *
  * Outputs contain only integer ids/ranks (plus integer-derived
  * doubles where exactly reproducible) so the DuckDB oracle can
  * hash-match them; cosine ordering is ULP-stable because random
  * embedding gaps are astronomically larger than fold rounding
  * differences.
  */
object Similarity {

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.parallel(spark, dir, "embeddings")

  /** Broadcast-destined lineages read the PLAIN relation: the local
    * rebalance exists to parallelize map-heavy scoring over the big
    * side, and paying it on a side that is about to be broadcast is
    * a wasted exchange (caught by PlanShapeSpec).
    */
  private def embPlain(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings")

  /** Per-query top-k over (query_id, neighbor_id, cos) via the
    * bounded-buffer TopKAggregator: each partition keeps at most k
    * candidates per query (partial aggregation), so the shuffle
    * carries ≤ k·partitions rows per query instead of every scored
    * row — the scale-safe shape for N×Q scoring at 100 TB. Ties
    * break (score desc, id asc), identical to the row_number window
    * formulation (equality pinned in TopKAggregatorSpec).
    *
    * Degenerate scores are dropped BEFORE ranking: a zero-norm
    * embedding yields cos = NaN (and a malformed one yields null),
    * and the two formulations disagree on NaN placement (Scala's
    * total order sorts NaN last after negation; Spark's DESC window
    * ranks NaN first) — an unrankable score is meaningless as a
    * neighbor either way, so filtering is both the correct semantics
    * and what keeps the forms equivalent on degenerate inputs.
    */
  private[graft] def topKPerQuery(scored: DataFrame, k: Int, scoreCol: String = "cos"): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored
      .filter(col(scoreCol).isNotNull && !isnan(col(scoreCol)))
      .select(col("query_id"), col("neighbor_id"), col(scoreCol))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues { case (_, id, score) => Scored(id, score) }
      .agg(new TopKAggregator(k).toColumn.name("top"))
      .flatMap { case (q, top) => top.zipWithIndex.map { case (s, i) => (q, (i + 1).toLong, s.id) } }
      .toDF("query_id", "rank", "neighbor_id")
  }

  /** Exact brute-force top-k cosine neighbors for a small query set
    * (vec_id < nQueries). Query side broadcast; corpus side never
    * shuffled until the tiny per-query top-k.
    *
    * The served-query-set baseline (nQueries = ServedQueryCutoff,
    * k ≤ NdcgK) is memoized as a named session artifact at depth
    * NdcgK — five audit gates (ann recall/ndcg, PQ recall/ndcg, the
    * brute-force gate itself) consume the SAME exact ranking, and a
    * deterministic top-k is its own ≤-k prefix, so each consumer
    * reads `rank ≤ k` off the one artifact instead of re-scoring the
    * corpus (round-14 measurement: the baseline chain cost ~0.5 s
    * per consumer; the artifact build lands once per session on the
    * first consumer — the minhashLshPairsShared accounting
    * convention). Other (nQueries, k) shapes compute directly.
    */
  def bruteForceTopK(spark: SparkSession, dir: String, nQueries: Int = 8, k: Int = 5): DataFrame =
    if (nQueries == PqIndex.ServedQueryCutoff && k <= NdcgK)
      bfCache(spark, dir)(bruteForcePlan(spark, dir, nQueries, NdcgK))
        .filter(col("rank") <= k)
    else bruteForcePlan(spark, dir, nQueries, k)

  private val bfCache = graft.util.Artifacts.memo(this, "graft_bf_top")

  private def bruteForcePlan(spark: SparkSession, dir: String, nQueries: Int, k: Int): DataFrame = {
    val queries = embPlain(spark, dir)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val cands = emb(spark, dir).select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    val scored = cands
      .join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("qe"), col("ce")))
    topKPerQuery(scored, k)
  }

  /** Drop the memoized brute-force baseline artifact (benchmark
    * hygiene; by-name, value-liveness-independent — the PqIndex
    * invalidation pattern).
    */
  def invalidate(): Unit = graft.util.Artifacts.reset(this)

  /** ANN via sign-random-projection LSH: 6 deterministic md5-derived
    * hyperplanes → 64 buckets; neighbors searched only within the
    * query's bucket. Same output shape as the brute-force baseline,
    * so recall is directly measurable.
    */
  def annLshTopK(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 8,
      k: Int = 5,
      planes: Int = 6,
  ): DataFrame = {
    val queries = embPlain(spark, dir)
      .filter(col("vec_id") < nQueries)
      .withColumn("bucket", lshBucket(col("embedding"), planes))
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("bucket"))
    val cands = emb(spark, dir)
      .withColumn("bucket", lshBucket(col("embedding"), planes))
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"), col("bucket"))
    val scored = cands
      .join(broadcast(queries), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("qe"), col("ce")))
    topKPerQuery(scored, k)
  }

  /** Multi-probe variant of [[annLshTopK]]: each query also probes
    * every bucket at Hamming distance 1 from its own (flip each of
    * the `planes` sign bits) — the standard SRP-LSH recall knob.
    * Probing is query-side only: the probe set explodes the tiny
    * broadcast side to (radius+1)·|queries| rows while the corpus
    * still partitions by its single bucket, so the cost model is
    * unchanged at 100 TB (candidates ∝ probed buckets). Each
    * (query, candidate) pair appears at most once because a query's
    * probe buckets are distinct and a candidate lives in exactly one
    * bucket.
    */
  def annLshTopKMultiProbe(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 8,
      k: Int = 5,
      planes: Int = 6,
  ): DataFrame = {
    val probes = embPlain(spark, dir)
      .filter(col("vec_id") < nQueries)
      .withColumn("bucket", lshBucket(col("embedding"), planes))
      .select(
        col("vec_id").as("query_id"),
        col("embedding").as("qe"),
        explode(
          array(
            col("bucket") +: (0 until planes).map(p => col("bucket").bitwiseXOR(lit(1 << p))): _*
          )
        ).as("bucket"),
      )
    val cands = emb(spark, dir)
      .withColumn("bucket", lshBucket(col("embedding"), planes))
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"), col("bucket"))
    val scored = cands
      .join(broadcast(probes), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("qe"), col("ce")))
    topKPerQuery(scored, k)
  }

  /** Recall@k of the LSH ANN path against the exact brute-force
    * baseline, as integer hit counts per query — the accuracy/cost
    * trade of the ANN index as a regression-checked number (a
    * multi-probe variant must move n_hits up, a cheaper hash family
    * must not silently tank it).
    */
  def annRecallAtK(spark: SparkSession, dir: String, nQueries: Int = 8, k: Int = 5): DataFrame = {
    val bf = bruteForceTopK(spark, dir, nQueries, k).select(col("query_id"), col("neighbor_id"))
    val ann = annLshTopK(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    bf.join(ann, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("k"))
  }

  /** Scaled-integer DCG position discounts: w(i) = floor(1e6 /
    * log2(i+1)) for 1-based rank i. Computed ONCE driver-side and
    * spliced into BOTH engines as the same literal CASE, so the one
    * float (the log) never meets a cross-engine comparator — every
    * DCG/nDCG value downstream is exact integer arithmetic over this
    * shared LUT (the clfWeight pattern).
    */
  def dcgDiscountLut(k: Int): Seq[Long] =
    (1 to k).map(i => (1e6 / (math.log(i + 1.0) / math.log(2.0))).toLong)

  /** Depth of the nDCG serving audit — interpolated into the oracle
    * SQL (list depth, relevance grades, LUT length) so both engines
    * widen together (the ServedQueryCutoff rule).
    */
  val NdcgK: Int = 10

  /** The [[dcgDiscountLut]] as a rank-dispatching column (shared by
    * the SRP and PQ nDCG audits).
    */
  private[graft] def dcgW(rank: Column, k: Int): Column =
    dcgDiscountLut(k).zipWithIndex.foldLeft(lit(0L)) { case (acc, (v, i)) =>
      when(rank === (i + 1), lit(v)).otherwise(acc)
    }

  /** nDCG@k of the multi-probe SRP-LSH ANN ranking against the exact
    * brute-force baseline — the graded serving-quality audit
    * recall@k can't give (recall treats a hit at ANN rank 1 and rank
    * k the same; nDCG charges the index for ordering, which is what
    * the downstream consumer of a retrieval tier actually sees).
    * Relevance of the doc at exact rank r is (k+1−r); the ANN list's
    * DCG sums rel·w(position) over its positions via the shared
    * integer LUT ([[dcgDiscountLut]]), the ideal DCG is the same sum
    * over the exact list itself, and the score is the exact integer
    * permille floor(1000·dcg / idcg). A query whose ANN list misses
    * the exact top-k entirely scores 0 (left join, not inner — zero
    * overlap must surface, not vanish).
    *
    * Scale shape: both rankings are the existing bounded top-k
    * pipelines (corpus never shuffled beyond the TopKAggregator
    * partials); everything after is arithmetic over ≤ nQueries·k
    * rows.
    */
  def ndcgAudit(
      spark: SparkSession,
      dir: String,
      nQueries: Int = PqIndex.ServedQueryCutoff,
      k: Int = NdcgK,
  ): DataFrame = {
    def w(rank: Column): Column = dcgW(rank, k)
    val bf = bruteForceTopK(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("bf_rank"))
    val ann = annLshTopKMultiProbe(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("ann_rank"))
    val idcg = bf
      .groupBy("query_id")
      .agg(sum((lit(k + 1L) - col("bf_rank")) * w(col("bf_rank"))).as("idcg"))
    val dcg = ann
      .join(bf, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(
        count(col("bf_rank")).as("n_hits"),
        sum(
          when(col("bf_rank").isNotNull, (lit(k + 1L) - col("bf_rank")) * w(col("ann_rank")))
            .otherwise(0L)
        ).as("dcg"),
      )
    idcg
      .join(dcg, Seq("query_id"), "left")
      .select(
        col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("dcg"), lit(0L)).as("dcg"),
        col("idcg"),
      )
      .withColumn("ndcg_permille", expr("CAST((1000 * dcg) div idcg AS BIGINT)"))
  }

  /** Symmetric int8 quantization of the embedding column — the
    * storage/serving compression step of an embedding pipeline
    * (scale each vector by its max-abs to [-127, 127], floor to
    * ints). floor (never round) keeps the doubles engine-portable:
    * both engines compute the identical IEEE product/quotient from
    * identical inputs, and floor is exact on doubles where round is
    * not. Map-side per-row array math — scan-speed at 100 TB.
    *
    * Emits the quantized vector plus integer summaries; a zero
    * vector (max-abs = 0) yields a null quantization rather than a
    * division blow-up.
    */
  def quantizeInt8(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Let.bindArray
    emb(spark, dir).select(
      col("vec_id"),
      bindArray(col("embedding")) { e =>
        // the max-abs scalar is bound through a 1-element array: a
        // bare reference would re-run the abs/max scan per element
        bindArray(array(array_max(transform(e, x => abs(x.cast("double")))))) { m =>
          val mx = element_at(m, 1)
          bindArray(
            when(
              mx > 0.0,
              transform(e, x => floor(x.cast("double") * 127.0 / mx).cast("int")),
            ).otherwise(lit(null).cast("array<int>"))
          ) { q =>
            struct(
              q.as("q"),
              aggregate(q, lit(0L), (acc, v) => acc + v).as("q_sum"),
              array_min(q).as("q_min"),
              array_max(q).as("q_max"),
              size(q).as("n_dims"),
            )
          }
        }
      }.as("z"),
    ).select(
      col("vec_id"),
      // the raw array<int> is not hashable/sortable by the oracle
      // harness — emit a scalar digest of the comma-joined vector
      // (null-safe: concat_ws would turn a null array into "")
      when(
        col("z.q").isNotNull,
        md5(concat_ws(",", transform(col("z.q"), x => x.cast("string")))),
      ).otherwise(lit(null).cast("string")).as("q_md5"),
      col("z.q_sum"),
      col("z.q_min"),
      col("z.q_max"),
      col("z.n_dims"),
    )
  }

  /** Embedding-cosine near-duplicate pairs, IVF-style: compare only
    * vectors sharing a label (coarse cell), keep pairs above the
    * cosine threshold. At scale the label comes from a cheap
    * clustering pass; the pairwise work is then |cell|² not N².
    */
  def embeddingNearDupPairs(
      spark: SparkSession,
      dir: String,
      threshold: Double = 0.4,
      targetRows: Long = 1L << 16,
  ): DataFrame =
    embeddingNearDupPairsOver(
      emb(spark, dir).select("vec_id", "label", "embedding"),
      embPlain(spark, dir).select("vec_id", "label", "embedding"),
      threshold,
      targetRows,
    )

  /** [[embeddingNearDupPairs]] over caller-supplied corpora (e.g. a
    * replica-augmented frame — the semantic-decontamination gate).
    * The two sides must NOT share a lineage (the ambiguous-self-join
    * rule): build each from its own scan, the emb/embPlain
    * discipline.
    */
  private[graft] def embeddingNearDupPairsOver(
      corpusA: DataFrame,
      corpusB: DataFrame,
      threshold: Double = 0.4,
      targetRows: Long = 1L << 16,
  ): DataFrame = {
    val a = corpusA
      .select(col("label"), col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = corpusB
      .select(col("label"), col("vec_id").as("vec_b"), col("embedding").as("eb"))
    // hot-cell guard: one dominant IVF cell must not serialize its
    // |cell|² pairing into a single task (Skew.saltedBlockJoin —
    // cells ≤ targetRows degenerate to the plain cell join)
    graft.operators.Skew
      .saltedBlockJoin(a, b, "label", "vec_a", targetRows)
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", cosine(col("ea"), col("eb")))
      .filter(col("cos") >= threshold)
      .select(col("label"), col("vec_a"), col("vec_b"))
  }

  /** SemDeDup-style semantic dedup policy: which vector survives when
    * embedding-space near-duplicates (cosine ≥ threshold within a
    * coarse cell — [[embeddingNearDupPairs]]) are collapsed to one
    * representative per SEMANTIC GROUP. Pairs alone under-delete:
    * a~b, b~c means {a,b,c} is one redundant group even if a~c never
    * scored, so the pair graph goes through the same transitive
    * closure the text path uses ([[Dedup.connectedComponents]]) and
    * the keep rule is the component minimum — deterministic, and
    * identical in kind to the canonical-doc policy of
    * `dedup_clusters`.
    *
    * Output: (vec_id, semantic_cluster, is_kept) for EVERY corpus
    * vector — singletons are their own cluster and are kept, so the
    * frame is directly usable as the pruning side of a training-set
    * join (`filter(is_kept) ∘ join` = the curated corpus).
    *
    * Scale shape: the pair graph is near-dup-density-sized, orders of
    * magnitude below the corpus; CC touches only the graph
    * (per-round equi-join + min-agg); the final left join is
    * corpus ⋈ graph-vertices on vec_id — AQE broadcasts the vertex
    * side whenever dup density is low, and the corpus is never
    * shuffled.
    *
    * Bench adjudication (r10, isolated sf0.1 decomposition): the
    * pair leg ALONE — the dedup_embedding_cosine gate — measures
    * 0.85 s warm, against this gate's 0.86 s DuckDB twin TOTAL; the
    * increment to ~1.7 s is the CC fixpoint, 3 driver-synchronous
    * rounds (measured; 1-hop init saved the 4th)
    * each paying a checkpoint + convergence-probe job floor on a
    * graph of a few hundred edges, plus the final corpus join job.
    * The floors are convergence-detection latency, not data volume —
    * at 100 TB the corpus-scaling pair leg dominates (rehearsed
    * exponents in BENCH_SCALING.md) while round count grows only
    * with component diameter, capped by the star escalation.
    */
  def semanticKeep(
      spark: SparkSession,
      dir: String,
      threshold: Double = 0.4,
  ): DataFrame = {
    val pairs = embeddingNearDupPairs(spark, dir, threshold)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val cc = Dedup.connectedComponents(pairs)
    emb(spark, dir)
      .select(col("vec_id"))
      .join(cc, col("vec_id") === col("doc_id"), "left")
      .select(
        col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("semantic_cluster"),
        (coalesce(col("cluster_id"), col("vec_id")) === col("vec_id"))
          .cast("int")
          .as("is_kept"),
      )
  }

  /** Matryoshka / dimension-truncation serving audit: how much of the
    * exact full-dimension top-k survives when queries and corpus are
    * truncated to a 16- or 32-dim prefix (the MRL deployment
    * question — a truncated index is 4×/2× cheaper per byte and this
    * is the measured recall cost of switching). One pair pass scores
    * all three metrics (full, d16, d32) per candidate, one rank
    * window per (metric, query) — compiling to WindowGroupLimit, so
    * map tasks forward ≤ k rows per metric×query — then the overlap
    * counts come from flag aggregation, never a set join. Rank-only
    * output; cosines order windows but never reach the result.
    */
  def dimTruncationAudit(
      spark: SparkSession,
      dir: String,
      nQueries: Int = PqIndex.ServedQueryCutoff,
      k: Int = 5,
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = embPlain(spark, dir)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val c = emb(spark, dir)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    val metrics = c
      .crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        explode(
          array(
            struct(lit("full").as("metric"), cosine(col("qe"), col("ce")).as("cos")),
            struct(
              lit("d16").as("metric"),
              cosine(slice(col("qe"), 1, 16), slice(col("ce"), 1, 16)).as("cos")),
            struct(
              lit("d32").as("metric"),
              cosine(slice(col("qe"), 1, 32), slice(col("ce"), 1, 32)).as("cos")),
          )
        ).as("m"),
      )
      .select(col("query_id"), col("neighbor_id"), col("m.metric").as("metric"), col("m.cos").as("cos"))
    val w = Window.partitionBy("metric", "query_id").orderBy(col("cos").desc, col("neighbor_id"))
    metrics
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .groupBy("query_id", "neighbor_id")
      .agg(
        max((col("metric") === "full").cast("int")).as("in_full"),
        max((col("metric") === "d16").cast("int")).as("in_16"),
        max((col("metric") === "d32").cast("int")).as("in_32"),
      )
      .groupBy("query_id")
      .agg(
        sum(col("in_full")).as("k"),
        sum(when(col("in_full") === 1 && col("in_16") === 1, 1L).otherwise(0L)).as("n_hits_d16"),
        sum(when(col("in_full") === 1 && col("in_32") === 1, 1L).otherwise(0L)).as("n_hits_d32"),
      )
  }

  /** First corpus size at which [[mineContrastive]]'s SRP staircase
    * activates (and each doubling past it adds one plane). The ONE
    * constant the Scala staircase, the scaled gate's expansion
    * target, and the oracle's generated CASE chain all derive from —
    * the ServedQueryCutoff rule.
    */
  val MiningBlockThreshold: Long = 5120L

  /** SRP prefix length for [[mineContrastive]]'s block key: one plane
    * per corpus doubling past [[MiningBlockThreshold]] vectors
    * (capped at 8), holding the expected (cell × bucket) block in the
    * 256-512 range (10 label cells × 2^p buckets). Pure integer
    * staircase so the oracle's CASE chain flips at identical sizes.
    */
  private[graft] def miningPrefixPlanes(n: Long): Int =
    (0 until 8).count(i => n >= (MiningBlockThreshold << i))

  /** Contrastive triplet mining — the training-data op an embedding-
    * model team runs over the corpus: for every anchor vector, the
    * top `perKind` SAME-label neighbors (positives) and top `perKind`
    * DIFFERENT-label neighbors (hard negatives) among the vectors
    * sharing its IVF cell. Blocking on the ASSIGNED cell (not the raw
    * label) is what makes the negatives HARD: they are close in
    * embedding space by construction — the classic in-batch/ANN-mined
    * negative shape (SimCSE/DPR practice) — while the label supplies
    * supervision. Output is rank-only (anchor_id, kind, rank,
    * neighbor_id): cosine floats order the window but never reach the
    * result, the usual cross-engine discipline.
    *
    * Scale shape — CORPUS-ADAPTIVE blocking (the r10 rehearsal caught
    * the cell-only form: |cell|² pairing with a FIXED cell count is
    * quadratic in N while the mining output is linear — sf1→sf4 went
    * 29 s → 348 s; the simhash-source-blocking lesson repeated): the
    * block key is (cell, SRP-prefix bucket) where the prefix length p
    * = [[miningPrefixPlanes]](N) grows one plane per corpus doubling
    * past 5120 vectors, holding the expected (cell × bucket) block at
    * ≈ 256-512 vectors — so total pair work is ≈ N·512, LINEAR in
    * the corpus, and every
    * block still spreads over bounded sub-tasks via the salted block
    * join. Below the first threshold p = 0 and the miner is EXACT
    * within the cell (all three driver-test SFs sit there, so the
    * oracle results are the exact ones); past it, candidates are the
    * cell-mates that also collide on p SRP sign bits — the standard
    * ANN-mining trade (the negatives stay hard by construction: SRP
    * collision = angular proximity). The oracle derives the SAME p
    * from count(*) via an integer CASE staircase, so both engines
    * flip planes at exactly the same corpus sizes. Both sides read
    * the memoized round-1 assignment artifact by NAME (two fresh
    * catalog references — the DetectAmbiguousSelfJoin rule) and
    * fetch only the label column from the corpus scan. The
    * per-(anchor, kind) rank ≤ perKind filter compiles to
    * WindowGroupLimit.
    */
  def mineContrastive(
      spark: SparkSession,
      dir: String,
      perKind: Int = 3,
      targetRows: Long = 1L << 16,
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    IvfIndex.assignments(spark, dir) // ensure the named artifact exists
    val p = miningPrefixPlanes(Tables(spark, dir, "embeddings").count())
    def bkt: Column =
      if (p == 0) lit(0L)
      else graft.functions.VectorFunctions.lshBucket(col("embedding"), p).cast("long")
    def asgRef = spark
      .table(IvfIndex.round1ViewName(dir))
      .select(col("vec_id"), col("embedding"), (col("cell").cast("long") * 256L + bkt).as("blk"))
    val a = asgRef
      .join(Tables.parallel(spark, dir, "embeddings").select(col("vec_id"), col("label")), "vec_id")
      .select(
        col("blk"),
        col("vec_id").as("anchor_id"),
        col("label").as("label_a"),
        col("embedding").as("ea"),
      )
    val b = asgRef
      .join(Tables(spark, dir, "embeddings").select(col("vec_id"), col("label")), "vec_id")
      .select(
        col("blk"),
        col("vec_id").as("cand_id"),
        col("label").as("label_b"),
        col("embedding").as("eb"),
      )
    val w = Window.partitionBy("anchor_id", "kind").orderBy(col("cos").desc, col("cand_id"))
    graft.operators.Skew
      .saltedBlockJoin(a, b, "blk", "anchor_id", targetRows)
      .filter(col("anchor_id") =!= col("cand_id"))
      .select(
        col("anchor_id"),
        col("cand_id"),
        when(col("label_a") === col("label_b"), lit("pos")).otherwise(lit("neg")).as("kind"),
        cosine(col("ea"), col("eb")).as("cos"),
      )
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= perKind)
      .select(col("anchor_id"), col("kind"), col("rank"), col("cand_id").as("neighbor_id"))
  }

  /** [[mineContrastive]] in its APPROXIMATE (p ≥ 1) regime, oracle-
    * gated at every driver SF: the staircase only activates past
    * [[miningPrefixPlanes]]'s first threshold (5120 vectors), and all
    * three driver-test corpora sit below it — so the plain gate's
    * green rows only ever check the EXACT (p = 0) semantics. This
    * gate DETERMINISTICALLY expands the corpus past the threshold so
    * the SRP block keys, the `lshBucket` sign bits, and the staircase
    * CASE chain are hash-matched against DuckDB in the regime a
    * production corpus actually runs in.
    *
    * Expansion: each vector is replicated R = ⌈minVectors / N⌉ times
    * (vec_id' = vec_id·R + rep, label' = (label + rep) mod 10, the
    * embedding itself unchanged — replicas share their original's
    * cell and SRP bucket, so blocking is exercised without inventing
    * cross-engine float fixtures). By construction N·R lands in
    * [5120, 10240) whenever N < 5120 — p = 1 exactly, and the gate's
    * pair work is CORPUS-SIZE-INDEPENDENT (≈ (N·R)·⌀block ≈ 5120·260
    * cosines at every driver SF); at N ≥ 5120 the expansion
    * degenerates to R = 1 and this IS the plain miner at its real
    * size. Label rotation keeps the pos/neg kind split live across
    * replicas; cosine ties between replicas break on cand_id — the
    * deterministic-window rule. The `require` makes a regression
    * into the exact regime loud rather than silently green.
    */
  def mineContrastiveScaled(
      spark: SparkSession,
      dir: String,
      minVectors: Long = MiningBlockThreshold,
      perKind: Int = 3,
      targetRows: Long = 1L << 16,
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    IvfIndex.assignments(spark, dir) // ensure the named artifact exists
    val n = Tables(spark, dir, "embeddings").count()
    val r = ((minVectors + n - 1) / n).max(1L)
    val p = miningPrefixPlanes(n * r)
    require(p >= 1, s"scaled corpus ${n * r} must sit past the first SRP threshold")
    def bkt: Column =
      graft.functions.VectorFunctions.lshBucket(col("embedding"), p).cast("long")
    def asgRef = spark
      .table(IvfIndex.round1ViewName(dir))
      .select(col("vec_id"), col("embedding"), (col("cell").cast("long") * 256L + bkt).as("blk"))
    // Replicas share their original's embedding, so cosine depends
    // only on the BASE pair: score base pairs once through the
    // salted block join (R² fewer cosines, R fewer join-side rows)
    // and expand each scored pair by the broadcast (rep_a, rep_b)
    // grid afterwards — ids, rotated labels, and the kind split are
    // replica arithmetic over the shared cos, so the expanded rows
    // are bit-identical to pairing the replicated sides directly
    // (same block key by inheritance; a base self-pair (v, v) yields
    // exactly the cross-replica pairs the anchor≠cand filter keeps).
    // At deployment scale the staircase makes R = 1 and the grid is
    // one row — the expansion degenerates to the plain miner.
    val aBase = asgRef
      .join(Tables.parallel(spark, dir, "embeddings").select(col("vec_id"), col("label")), "vec_id")
      .select(
        col("blk"),
        col("vec_id").as("va"),
        col("label").cast("long").as("la"),
        col("embedding").as("ea"),
      )
    val bBase = asgRef
      .join(Tables(spark, dir, "embeddings").select(col("vec_id"), col("label")), "vec_id")
      .select(
        col("blk"),
        col("vec_id").as("vb"),
        col("label").cast("long").as("lb"),
        col("embedding").as("eb"),
      )
    def reps = spark.range(r).select(col("id").as("rep"))
    val repGrid = reps.select(col("rep").as("rep_a")).crossJoin(reps.select(col("rep").as("rep_b")))
    val w = Window.partitionBy("anchor_id", "kind").orderBy(col("cos").desc, col("cand_id"))
    graft.operators.Skew
      .saltedBlockJoin(aBase, bBase, "blk", "va", targetRows)
      .select(col("va"), col("la"), col("vb"), col("lb"), cosine(col("ea"), col("eb")).as("cos"))
      .crossJoin(broadcast(repGrid))
      .select(
        (col("va") * r + col("rep_a")).as("anchor_id"),
        (col("vb") * r + col("rep_b")).as("cand_id"),
        pmod(col("la") + col("rep_a"), lit(10L)).as("label_a"),
        pmod(col("lb") + col("rep_b"), lit(10L)).as("label_b"),
        col("cos"),
      )
      .filter(col("anchor_id") =!= col("cand_id"))
      .select(
        col("anchor_id"),
        col("cand_id"),
        when(col("label_a") === col("label_b"), lit("pos")).otherwise(lit("neg")).as("kind"),
        col("cos"),
      )
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= perKind)
      .select(col("anchor_id"), col("kind"), col("rank"), col("cand_id").as("neighbor_id"))
  }

  /** Per-label embedding centroid drift: how far each label's mean
    * embedding points away from the corpus-wide mean, as the cosine
    * between the two centroids — the embedding-space analogue of the
    * language-mix drift table (cluster/source collapse, distribution
    * shift between snapshots, one label swamping the corpus mean).
    *
    * Determinism: a float mean is summation-order-dependent and can
    * never hash-match across engines, so each component is
    * floor-quantized to a scaled BIGINT (floor is exact on doubles;
    * round is not — same rule as [[quantizeInt8]]) and the centroid
    * SUMS are exact integer vectors. Cosine is scale-invariant, so
    * cosine(sum vector, sum vector) IS the cosine of the means —
    * the 1/n never needs to be divided out, and the only floating
    * arithmetic left is the final ordered-fold dot/norm over
    * identical integers in both engines. Component-sum bound:
    * 10^6·|vecs| per dimension — 2^63 holds past 10^12 vectors.
    *
    * Scale shape: ONE corpus scan, exploded to (label, dim) keys —
    * the shuffle carries |labels|·|dims| rows after map-side combine,
    * not |vecs|·|dims|. The global per-dim sums derive from the tiny
    * per-label-per-dim table via a window over the dim partition
    * (the chi2Contingency margin pattern — a separate global
    * aggregate joined back would re-scan the corpus; the plan is
    * pinned to a single embeddings scan and zero joins).
    */
  def centroidDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions.cosineFold
    val perDim = embPlain(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(
        col("label"),
        col("dim"),
        floor(col("x").cast("double") * 1000000.0).cast("long").as("q"),
      )
      .groupBy("label", "dim")
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
      .withColumn("g", sum(col("s")).over(Window.partitionBy("dim")))
    perDim
      .groupBy("label")
      .agg(
        transform(
          sort_array(collect_list(struct(col("dim"), col("s")))),
          p => p.getField("s"),
        ).as("v"),
        transform(
          sort_array(collect_list(struct(col("dim"), col("g")))),
          p => p.getField("g"),
        ).as("gv"),
        max(when(col("dim") === 0, col("n"))).as("n_vecs"),
      )
      .select(col("label"), col("n_vecs"), cosineFold(col("v"), col("gv")).as("cos_to_global"))
  }

  /** Per-source snapshot drift: for each document source, the cosine
    * between the centroids of two interleaved corpus halves (even vs
    * odd ids — the deterministic stand-in for "this week's crawl vs
    * last week's"). A healthy stationary source scores ≈1; a source
    * whose content shifted between snapshots drops. Composes the
    * embeddings table with the documents dim through the id join the
    * tables share ([[graft.sources.Tables]] vec_id ↔ doc_id).
    *
    * Determinism: the same floor-quantized integer-sum-vector rule as
    * [[centroidDrift]] — cosine's scale invariance lets exact integer
    * SUMS stand in for means, and the only floats are the final
    * ordered fold over identical integers.
    *
    * Scale shape: one equi-join of two corpus tables on their id
    * (shuffle join, unhinted — both sides scale, AQE picks the
    * strategy), then one |sources|·|dims|·2-key combine shuffle; the
    * per-source fold runs on |dims|-length arrays.
    */
  def sourceSnapshotDrift(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables(spark, dir, "documents").select(col("doc_id"), col("source"))
    val perDim = embPlain(spark, dir)
      .join(src, col("vec_id") === col("doc_id"))
      .select(col("source"), (col("vec_id") % 2).as("half"), col("embedding"))
      .select(col("source"), col("half"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(
        col("source"),
        col("half"),
        col("dim"),
        floor(col("x").cast("double") * 1000000.0).cast("long").as("q"),
      )
      .groupBy("source", "dim")
      .agg(
        sum(when(col("half") === 0, col("q"))).as("sa"),
        sum(when(col("half") === 1, col("q"))).as("sb"),
        sum(when(col("half") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("nb"),
      )
    perDim
      .groupBy("source")
      .agg(
        transform(
          sort_array(collect_list(struct(col("dim"), col("sa")))),
          p => p.getField("sa"),
        ).as("va"),
        transform(
          sort_array(collect_list(struct(col("dim"), col("sb")))),
          p => p.getField("sb"),
        ).as("vb"),
        max(when(col("dim") === 0, col("na"))).as("n_a"),
        max(when(col("dim") === 0, col("nb"))).as("n_b"),
      )
      .select(col("source"), col("n_a"), col("n_b"), cosineFold(col("va"), col("vb")).as("cos_halves"))
  }

  /** Per-dimension embedding moments — the whitening/normalization
    * table an ANN index build reads (dimension means for centering,
    * second moments for scaling, dead-dimension detection). Exact
    * integers only: each coordinate floor-quantizes to q = ⌊10^6·x⌋
    * (the [[centroidDrift]] rule), and we emit Σq (can be negative —
    * emitted raw, never floor-divided, because integer division
    * conventions differ across engines on negatives) and ⌊Σq²/n⌋
    * (numerator positive, so floor division is portable). Σq² rides
    * DECIMAL(38,0)/HUGEINT — 10^12 per coordinate times a 10^12-row
    * corpus is far past 64 bits; the per-n quotient fits BIGINT
    * again.
    *
    * Scale shape: posexplode is map-side; ONE (dim,)-keyed combine
    * shuffle with map-side partial sums — |dims| final rows. The
    * n·d exploded rows never carry the vector, just (dim, q).
    */
  def embeddingDimStats(spark: SparkSession, dir: String): DataFrame =
    embPlain(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"), floor(col("x").cast("double") * 1000000.0).cast("long").as("q"))
      .groupBy("dim")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(col("q")).as("sum_q"),
        sum(col("q").cast("decimal(38,0)") * col("q")).as("__ssq"),
      )
      .select(
        col("dim"),
        col("n_vecs"),
        col("sum_q"),
        expr("CAST(__ssq div n_vecs AS BIGINT)").as("meansq_q"),
      )

  /** Dominant principal direction of the embedding corpus by
    * unnormalized power iteration, entirely in exact integer
    * arithmetic: seed v₁ = Aᵀ·1 (the per-dimension sum), then two
    * exact applications v ← Aᵀ(A·v), over floor-quantized components
    * q = ⌊10³·x⌋. Every intermediate stays inside 128-bit integers:
    * |v₃| ≤ n³·q⁵·dim², under 10³⁸ to n ≈ 10⁶ vectors at q ≤ 10³ —
    * which is why the quantization here is 10³, not the 10⁶ of
    * [[dimensionStats]] (each extra step multiplies the bound by
    * n·q²·dim).
    *
    * Each step's output is rescaled by an EXACT truncating integer
    * division by 10³ before the next step / emission. The 128-bit
    * bound above covers the accumulators, but the round-6 corpus
    * proved the un-rescaled FINAL components blow past ±2⁶³
    * (≈ -1.47·10¹⁹ at sf0.1 → ANSI CAST_OVERFLOW on the BIGINT
    * emission). Two 10³ rescales put the final ~10⁶ under that edge
    * while keeping ~13 significant digits — direction ratios are
    * preserved far beyond what any consumer of a principal DIRECTION
    * can use. The truncation is spelled `(v - v % 10³) / 10³` rather
    * than `div`: Spark's `div` narrows its result to BIGINT, which is
    * exactly the overflow being avoided, while `%` on decimals takes
    * the dividend's sign in both engines, so subtract-then-divide is
    * an exact toward-zero truncation that DuckDB's `//` (also
    * toward-zero, verified: `-1500 // 1000 = -1`) reproduces
    * bit-for-bit — no floor-vs-truncate cross-engine hazard.
    * The raw v3 components are emitted UN-normalized and UN-divided:
    * any normalization is a float (never hash-matches) or a negative
    * integer division (floor vs truncate differs across engines —
    * the [[dimensionStats]] sum_q rule). Downstream consumers
    * normalize the 64 numbers however they like; direction is what
    * an iteration sweep needs (PCA whitening decides off the RATIO
    * of components, which raw integers preserve exactly).
    *
    * Scale shape: the Aᵀ(A·v) factored form in ROW-ARRAY shape —
    * each step keeps the quantized embedding as an array column, so
    * the per-vec dot A·v is map-side array math against the
    * broadcast 1-row v array (no per-(vec, dim) explode feeding a
    * corpus-wide vec_id shuffle, and no corpus-cardinality join
    * carrying the dots back to the rows — the dot lands in the same
    * row it came from). Only the per-dim weighted combine Aᵀ·(dots)
    * explodes, and that shuffle carries |dims|-key count partials.
    * Never the dim×dim Gram materialization and never a
    * corpus×corpus product. Seed + two steps = three corpus scans,
    * zero corpus-wide shuffles.
    *
    * The dot is an UNROLLED `dims`-term element_at product chain,
    * not a zip_with + aggregate: higher-order functions evaluate
    * interpreted (CodegenFallback), and measured ~60 µs/row for the
    * 64-element decimal fold — the unrolled tree stays inside
    * whole-stage codegen at ~1 µs/row. Fold order (left, from a
    * decimal(38,0) zero) and the *, + precision caps are exactly the
    * HOF chain's, so the emitted integers are unchanged. `dims` is a
    * data-model constant of the embeddings table (64, pinned by the
    * corpus contract); element_at is 1-based.
    */
  def powerIteration(spark: SparkSession, dir: String, dims: Int = 64): DataFrame = {
    val q = embPlain(spark, dir)
      .select(
        col("vec_id"),
        transform(
          col("embedding"),
          x => floor(x.cast("double") * 1000.0).cast("decimal(38,0)"),
        ).as("q"),
      )
    // (dim, v) → one broadcast-able row holding v ordered by dim, so
    // the next step's dot is position-aligned array math
    def asRow(v: DataFrame): DataFrame =
      v.groupBy()
        .agg(
          transform(
            sort_array(collect_list(struct(col("dim"), col("v")))),
            s => s.getField("v"),
          ).as("varr"),
        )
    // no static broadcast hint: the build side is one row, so every
    // planner picks the broadcast nested-loop join on its own, and
    // AQE's runtime plan measures faster than the pinned hint here
    // The per-row dot MUST be let-bound inside the generator:
    // Catalyst collapses a dot projection above the Generate, which
    // re-evaluates the 64-term fold once per EXPLODED row — a d²
    // blowup per vector (measured 3-8× on this gate before binding;
    // the winnowing/pairCommonCounts lesson again). bindArray
    // evaluates the fold once per row and the generator emits the
    // finished (dim, qv·dot) terms.
    def step(v: DataFrame): DataFrame = {
      val dot = (1 to dims).foldLeft(lit(0).cast("decimal(38,0)"): Column) { (acc, i) =>
        acc + element_at(col("q"), i) * element_at(col("varr"), i)
      }
      q.crossJoin(asRow(v))
        .select(
          explode(graft.functions.Let.bindArray(dot) { d =>
            transform(col("q"), (qv, i) => struct(i.as("dim"), (qv * d).as("term")))
          }).as("z"),
        )
        .groupBy(col("z.dim").as("dim"))
        .agg(sum(col("z.term")).as("raw"))
        // exact toward-zero 10³ rescale (see scaladoc): keeps the
        // emitted components inside BIGINT at every corpus SF
        .select(
          col("dim"),
          expr("CAST((raw - (raw % 1000)) / 1000 AS DECIMAL(38,0))").as("v"),
        )
    }
    val v1 = q // seed Aᵀ·1
      .select(posexplode(col("q")).as(Seq("dim", "qv")))
      .groupBy("dim")
      .agg(sum(col("qv")).as("v"))
    // every ACCUMULATION above is 128-bit; the per-step rescale plus
    // one more exact toward-zero 10³ truncation at emission keep the
    // emitted components 64-bit so both engines hand the comparator a
    // BIGINT — the emission truncation bought the headroom the sf10e
    // rehearsal point demanded (raw v3 crossed ±9.2e18 at 200k
    // vectors; driver-SF components stay ≥ ~1e7, so direction ratios
    // keep ≥7 significant digits)
    step(step(v1)).select(
      col("dim"),
      expr("CAST((v - (v % 1000)) / 1000 AS DECIMAL(38,0))").cast("long").as("pc1_raw"),
    )
  }

  /** Hybrid lexical+vector retrieval fused by reciprocal-rank fusion
    * (Cormack et al. 2009) — the standard two-tower RAG serving
    * shape: BM25 top-k from the text index and cosine top-k from the
    * vector index answer the SAME query set independently, and each
    * candidate's fused score is Σ_modality 1/(k0 + rank) with the
    * conventional k0 = 60. RRF needs only RANKS, so the float BM25
    * score and the float cosine never meet a comparator — the fused
    * score is the exact integer Σ 1e6 div (k0 + rank), bit-portable.
    * Queries are [[TextAnalysis.bm25Queries]]'s ids; the vector side
    * treats query id q as "more like doc q" (its embedding is the
    * query vector — doc_id and vec_id share the id space), excluding
    * the query doc itself per [[bruteForceTopK]] convention. A doc
    * found by only one modality contributes that modality's term
    * alone (the standard RRF treatment of non-retrieved docs).
    *
    * Scale shape: both retrieval legs are the already-scale-shaped
    * paths (BM25's query-join-first posting restriction; the
    * broadcast-query brute-force scorer with bounded top-k partials
    * — swap in [[PqIndex.ivfPqTopK]] at deployment, same output
    * contract). The fusion itself touches ≤ 2k rows per query: a
    * full-outer equi-join of two tiny rank lists plus one window.
    */
  def hybridRrfTopK(spark: SparkSession, dir: String, k: Int = 10, k0: Int = 60): DataFrame = {
    val qids = TextAnalysis.bm25Queries.map(_._1.toLong)
    // the bm25 query ids are a subset of the served-query set
    // (ServedQueryCutoff = max(8, bm25 max id + 1) by construction),
    // and a per-query top-k is independent of which OTHER queries
    // were computed — so the vector leg is the qids slice of the
    // memoized brute-force baseline artifact instead of a fresh
    // corpus-wide cosine scan (round-14 measurement: the scan cost
    // ~0.9 s per call at sf0.1; the artifact read is ~ms)
    val vec = bruteForceTopK(spark, dir, nQueries = PqIndex.ServedQueryCutoff, k = k)
      .filter(col("query_id").isin(qids: _*))
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank").as("rk_vec"))
    rrfFuse(spark, dir, vec, k, k0)
  }

  /** [[hybridRrfTopK]] with the vector leg served from the composed
    * IVF+PQ index ([[PqIndex.ivfPqTopK]]) instead of the brute-force
    * scorer — the DEPLOYED two-tower shape: the text tower reads the
    * BM25 posting index, the vector tower probes the compressed
    * coarse-quantized index, and the fusion contract is unchanged
    * (same columns, same integer RRF). What this gate pins is that
    * the serving-path swap is a drop-in: only the rank source
    * differs, and any recall the ADC tier loses shows up as rank
    * differences against [[hybridRrfTopK]] — measurable, not hidden.
    */
  def hybridRrfIvfPqTopK(spark: SparkSession, dir: String, k: Int = 10, k0: Int = 60): DataFrame = {
    val qids = TextAnalysis.bm25Queries.map(_._1.toLong)
    // serve every bm25 query id: the served set is
    // PqIndex.ServedQueryCutoff — max(8, bm25 max id + 1) — the SAME
    // constant the oracle CTEs interpolate, so a new id added to
    // bm25Queries grows the vector leg on BOTH engines at once
    val vec = PqIndex
      .ivfPqTopK(spark, dir, k = k)
      .filter(col("query_id").isin(qids: _*))
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank").as("rk_vec"))
    rrfFuse(spark, dir, vec, k, k0)
  }

  /** Shared RRF fusion: BM25 text ranks ⊕ a pluggable vector-leg rank
    * list, Σ 1e6 div (k0 + rank) in exact integers, per-query top-k.
    */
  private def rrfFuse(
      spark: SparkSession,
      dir: String,
      vec: DataFrame,
      k: Int,
      k0: Int,
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val text = TextAnalysis
      .bm25Search(spark, dir, k)
      .select(col("query_id").cast("long").as("query_id"), col("doc_id"), col("rk").as("rk_text"))
    text
      .join(vec, Seq("query_id", "doc_id"), "full_outer")
      .select(
        col("query_id"),
        col("doc_id"),
        col("rk_text"),
        col("rk_vec"),
        (coalesce(expr(s"1000000 div ($k0 + rk_text)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($k0 + rk_vec)"), lit(0L))).as("rrf_x1e6"),
        ((col("rk_text").isNotNull).cast("int") + (col("rk_vec").isNotNull).cast("int"))
          .as("n_modalities"),
      )
      .withColumn(
        "fused_rank",
        row_number()
          .over(Window.partitionBy("query_id").orderBy(col("rrf_x1e6").desc, col("doc_id")))
          .cast("long"),
      )
      .filter(col("fused_rank") <= k)
  }

  /** Label-noise audit (the confident-learning shape): a vector whose
    * label disagrees with its IVF cell's majority label is a
    * mislabeling suspect — the geometric neighborhood says one thing,
    * the annotation says another. Majority = most frequent label in
    * the cell, ties to the smallest label id (exact, deterministic).
    *
    * Plan: the memoized round-1 assignment equi-joins a fresh
    * embeddings scan on vec_id (distinct lineages — the artifact
    * reads through its catalog name; the label side is a plain
    * projection scan, no rebalance — the join redistributes it
    * anyway), then ONE repartition by cell feeds both windows:
    * hash(cell) satisfies the (cell, label) window's clustering
    * (partition exprs ⊆ clustering keys), so the per-label count and
    * the cell majority run on the same exchange — no
    * aggregate-join-back (which would self-join the lineage). Two
    * corpus-sized exchanges total (the vec_id join and the by-cell
    * repartition), both carrying ids and two ints per row, never the
    * embedding.
    */
  def labelNoiseAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = IvfIndex
      .assignments(spark, dir)
      .join(
        Tables(spark, dir, "embeddings")
          .select(col("vec_id"), col("label").cast("int").as("label")),
        Seq("vec_id"))
    base
      .repartition(col("assigned_cell"))
      .withColumn(
        "n_lab",
        count(lit(1)).over(Window.partitionBy("assigned_cell", "label")))
      .withColumn(
        "majority_label",
        (-max(struct(col("n_lab"), (-col("label")).as("ng")))
          .over(Window.partitionBy("assigned_cell"))
          .getField("ng")).cast("int"),
      )
      .select(
        col("vec_id"),
        col("assigned_cell"),
        col("label"),
        col("majority_label"),
        // when(...).otherwise(0), not a bare =!= cast: a NULL label
        // must yield 0 like the oracle's CASE, not NULL
        when(col("label") =!= col("majority_label"), 1).otherwise(0).as("is_suspect"),
      )
  }
}
