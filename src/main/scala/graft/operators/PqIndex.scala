package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.dot
import graft.sources.Tables

/** Product quantization (PQ) for the embedding corpus — the memory
  * tier of the ANN family (Jégou, Douze, Schmid: "Product
  * Quantization for Nearest Neighbor Search", PAMI 2011): split the
  * 64-dim vector into `numSub` = 4 subspaces of `subDim` = 16 dims,
  * learn a small per-subspace codebook, and store each vector as 4
  * small integer codes. At 100 TB this is THE reason vector search
  * fits in memory: the codes table carries ~16 bytes/vector where
  * the raw float corpus carries 256, and ADC scoring never touches
  * the floats again — queries score against the codes via a tiny
  * per-query lookup table.
  *
  * Three surfaces, mirroring the deployment lifecycle:
  *  - [[codebook]]: per-(subspace, cell) centroids seeded from the
  *    label column (the same coarse-seed convention as
  *    [[IvfIndex]]) — one corpus scan, |numSub·cells·subDim| summed
  *    rows after map-side combine;
  *  - [[codesTable]]: every vector encoded to its per-subspace
  *    nearest (min-L2) centroid — broadcast codebook, row-wise
  *    argmin, the corpus is never shuffled;
  *  - [[adcTopK]] / [[adcRecallAtK]]: asymmetric-distance top-k for
  *    a query set against the CODES ONLY, plus its measured
  *    recall-vs-exact gate (the ANN family's honesty mechanism —
  *    an approximation without a measured recall number is a bug
  *    that hasn't happened yet).
  *
  * Cross-engine exactness: centroids are built from floor-quantized
  * integer components (q = ⌊10⁶·x⌋, the [[Similarity.centroidDrift]]
  * rule), so the per-(subspace, cell) SUMS are exact integers in any
  * engine and on any partitioning; the mean is then ONE IEEE double
  * division sq/n (deterministic), and every distance/score is an
  * ordered left fold over those identical doubles — the proven
  * dot/dotSql equivalence. Argmin cells are ULP-stable because
  * inter-centroid distance margins dwarf fold rounding, and exact
  * TIES (two cells at the same distance, two neighbors with the
  * same code tuple) break on the smaller cell / neighbor id in both
  * engines.
  */
object PqIndex {

  /** Subspace count × dims per subspace = the embedding dim (64,
    * pinned by the corpus contract — same constant as
    * [[Similarity.powerIteration]]'s `dims`).
    */
  val numSub = 4
  val subDim = 16

  /** Query ids every PQ serving tier answers for: the fixed 8-query
    * evaluation set, automatically widened if
    * [[TextAnalysis.bm25Queries]] ever names a larger id — so the
    * hybrid RRF gate's vector leg always covers every text query.
    * The oracle CTEs (`pqlut`/`pqqn`/`probe`/`bq` in SparkEntry)
    * interpolate THIS constant, so Spark and DuckDB can never desync
    * on the served-query set (r9 ADVICE: the cutoff was hardcoded 8
    * on the oracle side while the hybrid derived it from the query
    * list).
    */
  val ServedQueryCutoff: Int =
    math.max(8, TextAnalysis.bm25Queries.map(_._1).max + 1)

  // The encoded corpus is an index artifact written once and read by
  // every ADC consumer — memoized per (session, dir) like the IVF
  // round-1 assignment, as a NAMED catalog artifact so invalidation
  // reaches the storage blocks by name (Bench resets it between
  // timed runs). The codebook is memoized the same way: it is the
  // corpus-scan input of BOTH the codes encode and every per-query
  // LUT build, so without its own artifact one recall-gate call
  // (adc + rerank paths) would re-run the codebook's corpus
  // aggregate several times over.
  private val codesCache = graft.util.Artifacts.memo(this, "graft_pq_codes")
  private val codebookCache = graft.util.Artifacts.memo(this, "graft_pq_codebook")

  /** ⌊10⁶·x⌋ per component: exact integers, portable to any engine. */
  private def quantize(e: Column): Column =
    transform(e, x => floor(x.cast("double") * 1000000.0).cast("long"))

  /** Quantized-integer L2 norm: sqrt(Σ qv²). The inner sum is an
    * exact BIGINT on any partitioning and in any engine (qv ≤ ~10⁶,
    * so Σ over 64 dims ≤ ~6.4e13 — far inside long range); the sqrt
    * is one IEEE op on that exact integer, so the double is
    * bit-identical cross-engine. Scale is 10⁶·‖x‖ — the 10⁶ cancels
    * against the LUT scale in [[adcScore]].
    */
  private def quantNorm(q: Column): Column =
    sqrt(aggregate(q, lit(0L), (acc, v) => acc + v * v).cast("double"))

  /** Ordered-fold squared L2 distance between an integer subvector
    * and a double centroid (left-to-right, the dotSql fold order).
    */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
      lit(0.0),
      (acc, v) => acc + v,
    )

  /** Per-(subspace, cell) codebook: (s, cell, n, mean array<double>).
    * Cells are seeded from the label column (the IVF convention);
    * one corpus scan exploded to (s, cell, sub-dim) keyed integer
    * sums — the shuffle carries |numSub·cells·subDim| rows after
    * map-side combine, never the corpus.
    */
  def codebook(spark: SparkSession, dir: String): DataFrame =
    codebookCache(spark, dir)(codebookPlan(spark, dir))

  private def codebookPlan(spark: SparkSession, dir: String): DataFrame =
    codebookOf(Tables.parallel(spark, dir, "embeddings"))

  /** The codebook aggregation over an arbitrary (label, embedding)
    * corpus slice — shared by the full-corpus artifact and the
    * era-bounded codebooks of the refresh tier.
    */
  private[graft] def codebookOf(corpus: DataFrame): DataFrame =
    corpus
      .select(
        col("label").cast("int").as("cell"),
        posexplode(quantize(col("embedding"))).as(Seq("dim", "qv")),
      )
      // int/int would be a double divide in Spark; dim ≥ 0 so the
      // int cast is an exact floor division
      .groupBy(
        (col("dim") / subDim).cast("int").as("s"),
        col("cell"),
        (col("dim") % subDim).as("sd"),
      )
      .agg(sum("qv").as("sq"), count(lit(1)).as("n"))
      .groupBy("s", "cell")
      .agg(
        transform(
          sort_array(collect_list(struct(col("sd"), col("sq")))),
          e => e.getField("sq"),
        ).as("sums"),
        max("n").as("n"),
      )
      .select(
        col("s"),
        col("cell"),
        col("n"),
        transform(col("sums"), x => x.cast("double") / col("n").cast("double")).as("mean"),
      )

  /** Memoized encoded corpus: (vec_id, c0..c3, nrm) — each code the
    * min-L2 cell for that subspace's slice, ties to the smaller
    * cell (array_min's field-by-field struct order: d2 asc, cell
    * asc); `nrm` is the vector's quantized-integer L2 norm
    * ([[quantNorm]]), stored WITH the codes so cosine-metric ADC
    * never has to touch the float corpus (the FAISS store-the-norms
    * convention for IP/cosine indexes — 8 extra bytes per vector).
    * The codebook collapses to a single broadcast row and every
    * vector takes its 4 argmins in the row it arrived in — the
    * [[IvfIndex]] reassign shape: no corpus shuffle, no |cells|-way
    * row expansion.
    */
  def codes(spark: SparkSession, dir: String): DataFrame =
    codesCache(spark, dir)(encodeAgainst(Tables.parallel(spark, dir, "embeddings"), centroidsRow(spark, dir)))

  /** The whole codebook collapsed to ONE row — the broadcast-destined
    * artifact every row-wise encoder consumes.
    */
  private[graft] def centroidsRow(spark: SparkSession, dir: String): DataFrame =
    centroidsRowOf(codebook(spark, dir))

  /** Any codebook frame collapsed to the 1-row broadcast shape. */
  private[graft] def centroidsRowOf(cb: DataFrame): DataFrame =
    cb.groupBy()
      .agg(collect_list(struct(col("s"), col("cell"), col("mean"))).as("cents"))

  /** Row-wise PQ encode of a (vec_id, embedding) relation against a
    * 1-row codebook frame: each row takes its 4 per-subspace min-L2
    * argmins in place — no corpus shuffle, no |cells|-way expansion.
    * Works unchanged on a STREAMING corpus (stateless stream-static
    * cross of the single codebook row): that is the ingest-time
    * index-build path ([[graft.streaming.StreamingQueries.pqEncodeStream]]).
    */
  private[graft] def encodeAgainst(corpus: DataFrame, centsRow: DataFrame): DataFrame =
    corpus
      .select(col("vec_id"), quantize(col("embedding")).as("q"))
      .crossJoin(broadcast(centsRow))
      .select(
        (col("vec_id") +: (0 until numSub).map { s =>
          val sub = slice(col("q"), s * subDim + 1, subDim)
          array_min(
            transform(
              filter(col("cents"), c => c.getField("s") === s),
              c => struct(l2sq(sub, c.getField("mean")).as("d2"), c.getField("cell").as("cell")),
            )
          ).getField("cell").as(s"c$s")
        }) :+ quantNorm(col("q")).as("nrm"): _*
      )

  /** Drop the memoized index artifacts and their storage blocks, and
    * the memoized refresh-tier driver scalars: a timed run must pay
    * its own bounded actions like it pays its own artifact builds.
    */
  def invalidate(): Unit = graft.util.Artifacts.reset(this)

  /** Oracle surface of [[codes]]. */
  def codesTable(spark: SparkSession, dir: String): DataFrame = codes(spark, dir)

  /** Per-query ADC lookup tables: (query_id, luts, qnrm) where
    * luts[s][cell] = dot(query slice s, centroid mean) — the tiny
    * (|queries|·|cells|·numSub rows) artifact every ADC consumer
    * broadcasts — and `qnrm` is the query's quantized-integer norm
    * (the cosine denominator's query half). Lookups are by MAP KEY,
    * not array position, so a cell absent at some corpus size can
    * never misalign the table.
    */
  private def queryLuts(spark: SparkSession, dir: String, nQueries: Int): DataFrame =
    if (nQueries == ServedQueryCutoff)
      // memoized for the served query set: six ADC consumers (adc,
      // rerank, recall, ndcg, ivf+pq, hybrid fusion) broadcast the
      // IDENTICAL |queries|·numSub-row table; without the artifact
      // each gate re-ran the scan + double aggregation that builds it
      // (round-14 measurement: ~0.3 s per consumer at sf0.1)
      lutsCache(spark, dir)(queryLutsAgainst(spark, dir, nQueries, codebook(spark, dir)))
    else queryLutsAgainst(spark, dir, nQueries, codebook(spark, dir))

  private val lutsCache = graft.util.Artifacts.memo(this, "graft_pq_luts")

  /** The memoized ADC shortlist (top-50 by ADC score for the served
    * query set): the codes-table scoring pass whose ≤-k prefixes ARE
    * the pure-ADC rankings (topKPerQuery's order is a deterministic
    * total order, so `rank ≤ k` of the depth-50 list equals the
    * depth-k list) and whose rows are the re-rank tier's candidate
    * fetch. Four gates (adc, rerank, recall, ndcg) consumed the same
    * scoring pass; the artifact makes them read it instead of
    * re-scoring (the bruteForceTopK convention).
    */
  private val ShortlistDepth = 50
  private val shortlistCache = graft.util.Artifacts.memo(this, "graft_pq_short")
  private def adcShortlist(spark: SparkSession, dir: String, nQueries: Int): DataFrame = {
    // Memoize ONLY the served shape (r14 advice): the cache key and
    // view name do not encode nQueries, so a non-served caller would
    // otherwise pin a shortlist for the wrong query set that every
    // later served consumer silently reads — the same guard
    // convention adcTopK/adcRerankTopK and queryLuts already follow.
    def build: DataFrame =
      Similarity.topKPerQuery(adcScored(spark, dir, nQueries), ShortlistDepth, scoreCol = "score")
    if (nQueries == ServedQueryCutoff) shortlistCache(spark, dir)(build)
    else build
  }

  /** [[queryLuts]] against an arbitrary codebook frame — the refresh
    * tier serves versioned LUTs (one per live codebook) from here.
    */
  private def queryLutsAgainst(
      spark: SparkSession,
      dir: String,
      nQueries: Int,
      cb: DataFrame,
  ): DataFrame = {
    val queries = Tables(spark, dir, "embeddings")
      .filter(col("vec_id") < nQueries)
      .select(
        col("vec_id").as("query_id"),
        col("embedding").as("qe"),
        quantNorm(quantize(col("embedding"))).as("qnrm"),
      )
    queries
      .crossJoin(cb.select(col("s"), col("cell"), col("mean")))
      .select(
        col("query_id"),
        col("qnrm"),
        col("s"),
        col("cell"),
        dot(slice(col("qe"), col("s") * subDim + 1, lit(subDim)), col("mean")).as("lutv"),
      )
      .groupBy("query_id", "s")
      .agg(
        map_from_entries(collect_list(struct(col("cell"), col("lutv")))).as("lut"),
        max("qnrm").as("qnrm"),
      )
      .groupBy("query_id")
      .agg(
        map_from_entries(collect_list(struct(col("s"), col("lut")))).as("luts"),
        max("qnrm").as("qnrm"),
      )
  }

  /** The 4-term ADC score at a row carrying c0..c3, the broadcast
    * `luts` map, `qnrm`, and the codes row's `nrm` — a COSINE
    * estimate, not a bare inner product: the LUT sum approximates
    * 10⁶·dot(q, recon(c)) (centroid means carry the quantize scale),
    * and the two quantized norms each carry 10⁶·‖·‖, so
    * 10⁶·Σluts/(qnrm·nrm) ≈ dot(q, recon(c))/(‖q‖·‖c‖) — the same
    * metric the brute-force baseline ranks by, which is what makes
    * [[adcRecallAtK]] measure codebook quantization error alone
    * rather than conflating it with a dot-vs-cosine mismatch on
    * non-unit-norm corpora. Association is fixed and mirrored
    * exactly in the oracle: 10⁶·(l0+l1+l2+l3)/(qnrm·nrm).
    */
  private def adcScore: Column =
    (lit(1000000.0) * (0 until numSub)
      .map(s => element_at(element_at(col("luts"), lit(s)), col(s"c$s")))
      .reduce(_ + _)) / (col("qnrm") * col("nrm"))

  /** The ADC-scored (query, neighbor) stream over the codes table —
    * shared by [[adcTopK]] and the re-rank shortlist.
    */
  private def adcScored(spark: SparkSession, dir: String, nQueries: Int): DataFrame =
    codes(spark, dir)
      .crossJoin(broadcast(queryLuts(spark, dir, nQueries)))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), adcScore.as("score"))

  /** Asymmetric-distance (ADC) top-k: each query precomputes one
    * lookup table — lut[s][cell] = dot(query slice s, centroid) —
    * and every corpus vector's approximate score is the 4-term sum
    * of lookups at ITS CODES: the corpus side touches only
    * (vec_id, c0..c3), never the embeddings. Scale shape: the LUT
    * build is |queries|·|cells|·numSub tiny rows; scoring is a
    * broadcast of |queries| LUT rows against the codes table with
    * per-row map lookups (element_at on a map — codegen, no HOF in
    * the hot path); top-k via the bounded [[graft.functions.TopKAggregator]]
    * (shuffle ≤ k·partitions rows per query).
    */
  def adcTopK(spark: SparkSession, dir: String, nQueries: Int = ServedQueryCutoff, k: Int = 5): DataFrame =
    if (nQueries == ServedQueryCutoff && k <= ShortlistDepth)
      adcShortlist(spark, dir, nQueries).filter(col("rank") <= k)
    else Similarity.topKPerQuery(adcScored(spark, dir, nQueries), k, scoreCol = "score")

  /** The fully composed IVF+PQ search (the FAISS `IVFx,PQy` shape):
    * each query probes its `nProbe` nearest coarse cells (by cosine
    * to the IVF label-seeded centroids — the SAME centroids that
    * produced the stored [[IvfIndex.assignments]]), and only the
    * vectors ASSIGNED to a probed cell are ADC-scored. At 100 TB
    * this is the serving architecture: the codes table is written
    * clustered by cell, so the probe filter is partition pruning
    * and a query touches nProbe/|cells| of the compressed corpus —
    * here the cell column arrives by the vec_id equi-join of the
    * two memoized index artifacts (co-partitionable: both are
    * id-keyed corpus tables), the probe list is a broadcast
    * map-side filter, and the LUTs broadcast as usual. Candidate
    * membership (every emitted neighbor's assigned cell is in its
    * query's probe list) is pinned in PqIndexSpec.
    */
  def ivfPqTopK(
      spark: SparkSession,
      dir: String,
      nQueries: Int = ServedQueryCutoff,
      k: Int = 5,
      nProbe: Int = 3,
  ): DataFrame =
    // the served shape is memoized at depth [[IvfPqDepth]] and every
    // ≤-k request reads its own prefix (topKPerQuery's order is a
    // deterministic total order — the adcShortlist convention): the
    // two registered consumers (similarity_ivf_pq at k = 5,
    // hybrid_rrf_ivfpq at k = 10) each re-ran the full probe + ADC
    // scan per call (round-14 measurement: ~0.9 s each at sf0.1).
    // Dropped in [[invalidate]]; other shapes compute directly.
    if (nQueries == ServedQueryCutoff && nProbe == 3 && k <= IvfPqDepth)
      ivfPqCache(spark, dir)(ivfPqPlan(spark, dir, nQueries, IvfPqDepth, nProbe))
        .filter(col("rank") <= k)
    else ivfPqPlan(spark, dir, nQueries, k, nProbe)

  private val IvfPqDepth = 10
  private val ivfPqCache = graft.util.Artifacts.memo(this, "graft_ivfpq_top")

  private def ivfPqPlan(
      spark: SparkSession,
      dir: String,
      nQueries: Int,
      k: Int,
      nProbe: Int,
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables(spark, dir, "embeddings")
    val cents = IvfIndex.centroids(emb.select(col("label"), col("embedding")), "label")
    val queries = emb
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val w = Window.partitionBy("query_id").orderBy(col("psim").desc, col("cell"))
    val probes = queries
      .crossJoin(cents)
      .select(
        col("query_id"),
        col("cell"),
        graft.functions.VectorFunctions.cosine(col("qe"), col("centroid")).as("psim"),
      )
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("cell").as("assigned_cell"))
    // the only broadcasts are bounded: the nQueries·nProbe probe
    // list and the per-query LUTs — the candidate set itself scales
    // with the corpus and flows through the id-keyed equi-join of
    // the two index artifacts, never a broadcast
    val scored = codes(spark, dir)
      .join(IvfIndex.assignments(spark, dir), Seq("vec_id"))
      .join(broadcast(probes), Seq("assigned_cell"))
      .join(broadcast(queryLuts(spark, dir, nQueries)), Seq("query_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), adcScore.as("score"))
    Similarity.topKPerQuery(scored, k, scoreCol = "score")
  }

  /** The production serving shape: ADC shortlist → exact re-rank.
    * The compressed scan proposes `shortlist` candidates per query
    * from the CODES ONLY; the raw floats are then fetched for just
    * those |queries|·shortlist rows and re-scored exactly. At 100 TB
    * this is the whole point of the two-tier design — the corpus
    * pass touches 16 bytes/vector, the float fetch touches a few
    * hundred rows per query (an id-keyed point lookup against the
    * embeddings table), and recall is a shortlist-size knob instead
    * of a codebook property ([[adcRecallAtK]] measures both paths;
    * at driver sf0.1 the re-rank tier lifts 0/40 → 5/40, and a
    * 64-cell SRP-seeded codebook measured 12/40 in the same
    * harness — both knobs move the same measured number).
    */
  def adcRerankTopK(
      spark: SparkSession,
      dir: String,
      nQueries: Int = ServedQueryCutoff,
      k: Int = 5,
      shortlist: Int = 50,
  ): DataFrame =
    rerankShortlist(
      spark,
      dir,
      (if (nQueries == ServedQueryCutoff && shortlist == ShortlistDepth)
         adcShortlist(spark, dir, nQueries)
       else Similarity.topKPerQuery(adcScored(spark, dir, nQueries), shortlist, scoreCol = "score"))
        .select(col("query_id"), col("neighbor_id")),
      nQueries,
      k,
    )

  /** The exact-re-rank tier alone, over an ALREADY-COMPUTED ADC
    * shortlist — so a consumer that needs both the pure-ADC ranking
    * and the re-ranked one ([[adcRecallAtK]]) scores the codes table
    * once, not once per tier.
    */
  private def rerankShortlist(
      spark: SparkSession,
      dir: String,
      short: DataFrame,
      nQueries: Int,
      k: Int,
  ): DataFrame = {
    val withNeighbor = Tables
      .parallel(spark, dir, "embeddings")
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
      .join(broadcast(short), Seq("neighbor_id"))
    val queries = Tables(spark, dir, "embeddings")
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val exact = withNeighbor
      .join(broadcast(queries), Seq("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        graft.functions.VectorFunctions.cosine(col("qe"), col("ce")).as("cos"),
      )
    Similarity.topKPerQuery(exact, k)
  }

  /** Recall@k of BOTH PQ serving paths — pure ADC and
    * shortlist+re-rank — against the exact brute-force baseline, as
    * integer hit counts per query: the same honesty gate as
    * [[Similarity.annRecallAtK]] (a cheaper codebook or a smaller
    * shortlist must show up here, not silently degrade serving), and
    * the re-rank lift is the measured argument for the two-tier
    * design. Context for reading the absolute numbers: the driver
    * query set has NO planted near-dups (exact top-1 cosine ≈ 0.4
    * with a continuum just below), so low recall@5 is the honest
    * answer for ANY sublinear index on this corpus — the committed
    * LSH recall gate reads the same way, and the per-decile
    * minhash recall gate is the family's planted-dup counterpart.
    */
  def adcRecallAtK(spark: SparkSession, dir: String, nQueries: Int = ServedQueryCutoff, k: Int = 5): DataFrame = {
    val bf = Similarity
      .bruteForceTopK(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    // ONE ADC pass over the codes serves both tiers: the pure-ADC
    // top-k is the rank ≤ k prefix of the shortlist (same score,
    // same tie order — topKPerQuery's ranking is deterministic), and
    // the re-rank tier consumes the same shortlist rows
    val short = adcShortlist(spark, dir, nQueries)
    val adc = short
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit_adc"))
    val rr = rerankShortlist(spark, dir, short.select(col("query_id"), col("neighbor_id")), nQueries, k)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit_rr"))
    bf.join(adc, Seq("query_id", "neighbor_id"), "left")
      .join(rr, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(
        count(col("hit_adc")).as("n_hits_adc"),
        count(col("hit_rr")).as("n_hits_rerank"),
        count(lit(1)).as("k"),
      )
  }

  /** nDCG@k of BOTH PQ serving paths — pure ADC and shortlist+re-rank
    * — against the exact baseline: the graded companion of
    * [[adcRecallAtK]] (recall counts hits; nDCG charges the index for
    * ORDERING them, which is what the consumer of the deployed tier
    * sees). Same integer discipline as [[Similarity.ndcgAudit]]:
    * relevance (k+1−r) from the exact ranks, position discounts from
    * the shared driver-computed LUT, scores as exact integer
    * permilles; zero-overlap queries surface as 0 via left joins.
    * The ONE ADC pass serves both legs (the adcRecallAtK sharing
    * argument: the pure-ADC list is the shortlist's rank ≤ k prefix).
    */
  def adcNdcgAtK(
      spark: SparkSession,
      dir: String,
      nQueries: Int = ServedQueryCutoff,
      k: Int = Similarity.NdcgK,
  ): DataFrame = {
    val bf = Similarity
      .bruteForceTopK(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("bf_rank"))
    val short = adcShortlist(spark, dir, nQueries)
    val adc = short
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("ann_rank"))
    val rr = rerankShortlist(spark, dir, short.select("query_id", "neighbor_id"), nQueries, k)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("ann_rank"))
    def dcgLeg(ann: DataFrame, out: String): DataFrame =
      ann
        .join(bf, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(
          sum(
            when(
              col("bf_rank").isNotNull,
              (lit(k + 1L) - col("bf_rank")) * Similarity.dcgW(col("ann_rank"), k),
            ).otherwise(0L)
          ).as(out)
        )
    val idcg = bf
      .groupBy("query_id")
      .agg(sum((lit(k + 1L) - col("bf_rank")) * Similarity.dcgW(col("bf_rank"), k)).as("idcg"))
    idcg
      .join(dcgLeg(adc, "dcg_adc"), Seq("query_id"), "left")
      .join(dcgLeg(rr, "dcg_rr"), Seq("query_id"), "left")
      .select(
        col("query_id"),
        coalesce(col("dcg_adc"), lit(0L)).as("dcg_adc"),
        coalesce(col("dcg_rr"), lit(0L)).as("dcg_rr"),
        col("idcg"),
      )
      .withColumn("ndcg_adc_permille", expr("CAST((1000 * dcg_adc) div idcg AS BIGINT)"))
      .withColumn("ndcg_rr_permille", expr("CAST((1000 * dcg_rr) div idcg AS BIGINT)"))
  }

  // ------------------------------------------------------------------
  // Codebook refresh tier — the maintenance loop the serving side
  // needs once the stream keeps landing vectors: the stored index was
  // encoded against a codebook trained on the stored era (v1); the
  // increment stream-encodes against that SAME fixed codebook
  // (StreamingQueries.pqEncodeStream); a cheap occupancy-drift monitor
  // decides when v1 stopped representing the arrivals, and the refresh
  // re-trains on everything seen (v2 = the full-corpus codebook) and
  // re-encodes ONLY the arrived-since rows — stored rows keep their v1
  // codes under their version tag (the FAISS-segment convention: an
  // index is a union of per-era segments, each with its codebook).
  // Mirrors the LSH band-index refresh loop (Dedup.refreshProbe).
  // ------------------------------------------------------------------

  /** Era cutoff for the refresh tier: vec_id ≤ 7·max/10 is the stored
    * corpus, the rest is the landed increment. One bounded driver
    * action, spliced as a literal (the incrementCutoff rule: an
    * in-plan cutoff blocks pushdown below the encode).
    */
  // Both bounded driver scalars of the refresh tier are memoized per
  // (session, dir): every refresh consumer needs one or both, and
  // without memoization one refreshAdcShift call re-ran the max-scan
  // three times and the drift aggregation twice (r10 review). Two
  // separate caches — the fires computation itself consumes the
  // cutoff, so one shared entry would recurse into its own builder.
  private val cutoffCache = graft.util.Artifacts.sessionMemo[String, java.lang.Long](this)
  def refreshCutoff(spark: SparkSession, dir: String): Long =
    cutoffCache
      .getOrElseUpdate(spark, dir) {
        Tables(spark, dir, "embeddings")
          .agg(expr("7 * max(vec_id) DIV 10"))
          .head
          .getLong(0): java.lang.Long
      }
      .longValue()

  /** Occupancy-drift threshold for [[codebookRefreshCodes]]: refresh
    * fires when Σ_(s,cell) (pm_stored − pm_inc)² exceeds this (pm =
    * integer permille of the era's rows landing in that cell under
    * the v1 codebook). Permille² units: 16 cells drifting by ~2.5%
    * each ≈ 16·25² = 10⁴. Measured on the driver corpus the stat sits
    * at 0.9-4.3×10⁴ across sf0.001-0.1 (the label mix genuinely
    * shifts between the eras of the synthetic corpus), so 1000 fires
    * there and the refresh path is the one exercised — the spec pins
    * the complementary no-drift branch on a distribution-identical
    * synthetic corpus. Interpolated into the DuckDB oracle
    * (single-source rule).
    */
  val RefreshDriftThreshold: Long = 1000L

  /** The stored era's codebook (v1) — memoized named artifact like
    * the full-corpus [[codebook]] (it is the second corpus-scan
    * aggregate every refresh-tier consumer shares).
    */
  private val v1CodebookCache = graft.util.Artifacts.memo(this, "graft_pq_codebook_v1")
  private[graft] def storedCodebook(spark: SparkSession, dir: String): DataFrame =
    v1CodebookCache(spark, dir) {
      val c = refreshCutoff(spark, dir)
      codebookOf(Tables.parallel(spark, dir, "embeddings").filter(col("vec_id") <= c))
    }

  /** The whole corpus encoded against v1 — the state of the index
    * BEFORE any refresh (stored rows: their real codes; increment
    * rows: what the fixed-codebook stream encode landed). Memoized
    * named artifact; the drift monitor, the fold's no-refresh branch,
    * and the stale serving tier all read it.
    */
  private val v1CodesCache = graft.util.Artifacts.memo(this, "graft_pq_codes_v1")
  private[graft] def v1Codes(spark: SparkSession, dir: String): DataFrame =
    v1CodesCache(spark, dir) {
      encodeAgainst(
        Tables.parallel(spark, dir, "embeddings"),
        centroidsRowOf(storedCodebook(spark, dir)),
      )
    }

  /** (vec_id, s, cell) long form of a codes frame. */
  private def codesLong(codesDf: DataFrame): DataFrame =
    codesDf.select(
      col("vec_id"),
      explode(
        array((0 until numSub).map(s => struct(lit(s.toLong).as("s"), col(s"c$s").as("cell"))): _*)
      ).as("x"),
    ).select(col("vec_id"), col("x.s").as("s"), col("x.cell").as("cell"))

  /** The drift monitor: per (subspace, cell), how the increment's
    * v1-code occupancy diverges from the stored era's, as exact
    * integer permille (1000·n div N_era; N comes from a window over
    * the subspace partition of the ≤|numSub·cells|-row aggregate —
    * every row lands one cell per subspace, so the per-s sum IS the
    * era count) and the squared permille gap. Σ drift2 is the
    * refresh trigger. Costs ONE pass over the stored codes artifact
    * — the embeddings never re-scan, which is what makes the monitor
    * cheap enough to run per increment at 100 TB.
    */
  def codebookDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = refreshCutoff(spark, dir)
    val occ = codesLong(v1Codes(spark, dir))
      .groupBy("s", "cell")
      .agg(
        sum(when(col("vec_id") <= c, 1L).otherwise(0L)).as("n_stored"),
        sum(when(col("vec_id") > c, 1L).otherwise(0L)).as("n_inc"),
      )
    val w = Window.partitionBy("s")
    occ
      .withColumn("tot_stored", sum("n_stored").over(w))
      .withColumn("tot_inc", sum("n_inc").over(w))
      .withColumn("pm_stored", expr("(1000 * n_stored) div tot_stored"))
      .withColumn("pm_inc", expr("(1000 * n_inc) div tot_inc"))
      .select(
        col("s"),
        col("cell").cast("long").as("cell"),
        col("n_stored"),
        col("n_inc"),
        col("pm_stored"),
        col("pm_inc"),
        ((col("pm_stored") - col("pm_inc")) * (col("pm_stored") - col("pm_inc"))).as("drift2"),
      )
  }

  /** The trigger decision as one bounded driver action (the drift
    * frame is ≤ numSub·cells rows), memoized per (session, dir).
    */
  private val firesCache = graft.util.Artifacts.sessionMemo[String, java.lang.Boolean](this)
  private[graft] def refreshFires(spark: SparkSession, dir: String): Boolean =
    firesCache
      .getOrElseUpdate(spark, dir) {
        java.lang.Boolean.valueOf(
          codebookDrift(spark, dir).agg(sum("drift2")).head.getLong(0) > RefreshDriftThreshold)
      }
      .booleanValue()

  /** The refreshed index: the version-tagged union the serving tier
    * reads after maintenance ran. Stored rows ALWAYS keep their v1
    * codes (cb_version 1, never re-encoded, never re-scanned at
    * refresh time in a deployment — their segment is untouched);
    * increment rows carry v2 codes (the full-corpus codebook) iff
    * the drift trigger fired, else their v1 stream-encode stands.
    * [[codebookRefreshRebuilt]] is the from-scratch twin; equality is
    * pinned in PqIndexSpec (the dedup_index_refresh bar).
    */
  def codebookRefreshCodes(spark: SparkSession, dir: String): DataFrame = {
    val c = refreshCutoff(spark, dir)
    val fires = refreshFires(spark, dir)
    val emb = Tables.parallel(spark, dir, "embeddings")
    val stored = v1Codes(spark, dir)
      .filter(col("vec_id") <= c)
      .withColumn("cb_version", lit(1L))
    val inc =
      if (fires)
        encodeAgainst(emb.filter(col("vec_id") > c), centroidsRow(spark, dir))
          .withColumn("cb_version", lit(2L))
      else v1Codes(spark, dir).filter(col("vec_id") > c).withColumn("cb_version", lit(1L))
    stored
      .unionByName(inc)
      .select(col("vec_id"), col("cb_version"), col("c0"), col("c1"), col("c2"), col("c3"), col("nrm"))
  }

  /** The one-pass from-scratch twin of [[codebookRefreshCodes]]: every
    * row encodes against the codebook its (era, trigger) dispatch
    * selects, in a single scan over a version-tagged broadcast — the
    * executable spec that the incremental fold equals a rebuild.
    */
  private[graft] def codebookRefreshRebuilt(spark: SparkSession, dir: String): DataFrame = {
    val c = refreshCutoff(spark, dir)
    val fires = refreshFires(spark, dir)
    val cents = centroidsRowOf(storedCodebook(spark, dir))
      .select(lit(1L).as("v"), col("cents"))
      .unionByName(centroidsRow(spark, dir).select(lit(2L).as("v"), col("cents")))
    val version = when(lit(fires) && col("vec_id") > c, 2L).otherwise(1L)
    val corpus = Tables
      .parallel(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), version.as("cb_version"))
    corpus
      .select(col("vec_id"), col("cb_version"), quantize(col("embedding")).as("q"))
      .join(broadcast(cents), col("cb_version") === col("v"))
      .select(
        (col("vec_id") +: col("cb_version") +: (0 until numSub).map { s =>
          val sub = slice(col("q"), s * subDim + 1, subDim)
          array_min(
            transform(
              filter(col("cents"), cc => cc.getField("s") === s),
              cc => struct(l2sq(sub, cc.getField("mean")).as("d2"), cc.getField("cell").as("cell")),
            )
          ).getField("cell").as(s"c$s")
        }) :+ quantNorm(col("q")).as("nrm"): _*
      )
  }

  /** Did the refresh change what the ADC tier serves? Per query: the
    * overlap between the stale top-k (all-v1 index) and the refreshed
    * top-k (the version-tagged fold, each code row scored against its
    * OWN codebook's LUT — the lut frame carries one row per (query,
    * live version) and joins on cb_version). The measured honesty
    * gate of the refresh, exactly as recall gates are for the
    * approximation tiers: a maintenance event that silently reshuffles
    * serving results must show up as a number.
    */
  def refreshAdcShift(
      spark: SparkSession,
      dir: String,
      nQueries: Int = ServedQueryCutoff,
      k: Int = 5,
  ): DataFrame = {
    // ONE stale-LUT plan serves both the stale ranking and the v1 leg
    // of the versioned union (r10 review: two identical constructions
    // built the broadcast twice)
    val lutsV1 = queryLutsAgainst(spark, dir, nQueries, storedCodebook(spark, dir))
    val staleScored = v1Codes(spark, dir)
      .crossJoin(broadcast(lutsV1))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), adcScore.as("score"))
    val stale = Similarity
      .topKPerQuery(staleScored, k, scoreCol = "score")
      .select(col("query_id"), col("neighbor_id"))
    val luts = lutsV1
      .select(lit(1L).as("cb_version"), col("query_id"), col("luts"), col("qnrm"))
      .unionByName(
        queryLuts(spark, dir, nQueries)
          .select(lit(2L).as("cb_version"), col("query_id"), col("luts"), col("qnrm")))
    val refreshedScored = codebookRefreshCodes(spark, dir)
      .join(broadcast(luts), Seq("cb_version"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), adcScore.as("score"))
    val refreshed = Similarity
      .topKPerQuery(refreshedScored, k, scoreCol = "score")
      .select(col("query_id"), col("neighbor_id").as("hit"))
    stale
      .join(
        refreshed,
        stale("query_id") === refreshed("query_id") && col("neighbor_id") === col("hit"),
        "left",
      )
      .groupBy(stale("query_id").as("query_id"))
      .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("k"))
  }
}
