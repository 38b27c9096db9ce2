package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Deduplication operators for large-scale corpora: exact
  * (hash-groupBy), MinHash+LSH near-dup, SimHash fingerprints, and
  * exact n-gram Jaccard via a shingle inverted index.
  *
  * Scale posture (the 100 TB story):
  *  - Exact dedup: one shuffle on a 128-bit content hash — the
  *    minimum possible.
  *  - MinHash+LSH: signatures are computed map-side per document
  *    (no shuffle); the only corpus-sized exchange groups band
  *    buckets into posting lists, whose sizes banding keeps small.
  *    This is the standard sub-quadratic near-dup pipeline.
  *  - SimHash: 16-bit fingerprints map-side; collision grouping is a
  *    tiny shuffle on the fingerprint.
  *  - N-gram Jaccard: inverted-index join on shingles with a
  *    frequency cutoff (drop shingles appearing in > maxDf docs) so
  *    hot shingles cannot quadratic-blow the join — the classic
  *    "stop-shingle" trick.
  *
  * Determinism: every hash is md5 (identical hex in Spark and
  * DuckDB); minhashes are lexicographic MINs of md5 strings, so the
  * whole pipeline — signatures, bands, candidate pairs, verified
  * pairs — is exactly reproducible in the DuckDB oracle.
  */
object Dedup {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.parallel(spark, dir, "documents")

  /** Let-binding for expensive array expressions — see
    * graft.functions.Let (shared with TextAnalysis).
    */
  private def bindArray(arr: Column)(f: Column => Column): Column =
    graft.functions.Let.bindArray(arr)(f)

  /** Distinct word k-shingles of the normalized text, first-occurrence
    * order; documents with fewer than k tokens yield an empty array.
    * Native one-pass expression; [[shinglesComposed]] is the built-in
    * composition the oracle mirrors (bit-identity pinned in
    * ExtensionsSpec).
    */
  def shingles(text: Column, k: Int = 3): Column =
    graft.functions.WordShinglesExpr(text, k)

  /** Composed-builtins formulation of [[shingles]] — the oracle's
    * executable spec. (The short-doc guard matters: under ANSI mode
    * an unguarded sequence(0, negative) descends into
    * element_at(toks, 0) and aborts the job.)
    */
  def shinglesComposed(text: Column, k: Int = 3): Column = {
    val toks = split(text, " ")
    val sh = array_distinct(
      transform(
        sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", (0 until k).map(j => element_at(toks, i + j + 1)): _*),
      )
    )
    when(size(toks) >= k, sh).otherwise(array().cast("array<string>"))
  }

  /** Distinct character k-grams of the text (for languages without
    * whitespace tokenization and for OCR-noise robustness), native
    * one-pass; [[charShinglesComposed]] is the spec twin.
    */
  def charShingles(text: Column, k: Int = 5): Column =
    graft.functions.CharShinglesExpr(text, k)

  /** Composed-builtins formulation of [[charShingles]]. */
  def charShinglesComposed(text: Column, k: Int = 5): Column = {
    val sh = array_distinct(
      transform(sequence(lit(1), length(text) - (k - 1)), i => text.substr(i, lit(k)))
    )
    when(length(text) >= k, sh).otherwise(array().cast("array<string>"))
  }

  /** MinHash signature: for seed s, h_s(doc) = min over shingles of
    * md5(s || '|' || shingle), compared lexicographically (hex md5
    * strings order identically in any engine). numHashes seeds →
    * array of minhashes. Native single-pass expression;
    * [[minhashSignatureComposed]] is the built-in composition the
    * oracle mirrors (bit-identity pinned in ExtensionsSpec).
    */
  def minhashSignature(shinglesCol: Column, numHashes: Int): Column =
    graft.functions.MinHashSigExpr(shinglesCol, numHashes)

  /** Composed-builtins formulation of [[minhashSignature]]. */
  def minhashSignatureComposed(shinglesCol: Column, numHashes: Int): Column =
    array((0 until numHashes).map { s =>
      array_min(transform(shinglesCol, sh => md5(concat(lit(s.toString), lit("|"), sh))))
    }: _*)

  /** Composed-builtins formulation of the native
    * [[graft.functions.PostingPairsExpr]] — the executable spec of
    * the posting-list pair expansion (equality pinned in
    * ExtensionsSpec): all i<j pairs of a sorted
    * array<struct<doc_id,n_sh>>, outer i / inner j order.
    * element_at over sequence() counters rather than slice():
    * slicing an array<struct> copies the tail per outer element. The
    * size guard matters under ANSI: sequence(1, 0) DESCENDS in Spark,
    * so an unguarded singleton list would element_at past the array.
    */
  private[graft] def postingPairsComposed(ds: Column): Column = {
    val body = flatten(
      transform(
        sequence(lit(1), size(ds) - 1),
        i =>
          transform(
            sequence(i + 1, size(ds)),
            j =>
              struct(
                element_at(ds, i).getField("doc_id").as("doc_a"),
                element_at(ds, i).getField("n_sh").as("n_a"),
                element_at(ds, j).getField("doc_id").as("doc_b"),
                element_at(ds, j).getField("n_sh").as("n_b"),
              ),
          ),
      )
    )
    when(size(ds) >= 2, body)
      .otherwise(array().cast("array<struct<doc_a:bigint,n_a:bigint,doc_b:bigint,n_b:bigint>>"))
  }

  /** Composed-builtins formulation of [[graft.functions.IdPairsExpr]]
    * — i<j pairs of a sorted array<long> (equality pinned in
    * ExtensionsSpec).
    */
  private[graft] def idPairsComposed(ids: Column): Column =
    flatten(
      transform(
        ids,
        (a, i) =>
          transform(
            slice(ids, i + 2, size(ids)),
            b => struct(a.as("doc_a"), b.as("doc_b")),
          ),
      )
    )

  /** Exact dedup via content hash: per source, how many docs and how
    * many distinct texts (hash-groupBy on md5 of the raw text).
    */
  def exactDedupStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"),
        (count(lit(1)) - countDistinct(md5(col("text")))).as("n_exact_dups"),
      )

  /** The (doc_id, band, bkey) LSH band keys of every shingled doc —
    * the shared first stage of [[minhashLshPairs]] and the
    * [[lshBandStats]] occupancy audit. Band key = md5 of the
    * concatenated signature slice. The signature is let-bound so the
    * numHashes-hash computation runs ONCE per document — naive
    * element_at(sig, ...) references would re-evaluate the full
    * signature per band element (no CSE in interpreted lambdas).
    */
  private[graft] def bandedKeysOf(base: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    base
      .select(
        col("doc_id"),
        explode(bindArray(minhashSignature(col("sh"), numHashes)) { s =>
          transform(
            sequence(lit(0), lit(bands - 1)),
            b =>
              struct(
                b.cast("int").as("band"),
                md5(concat_ws(",", slice(s, (b * rows + 1).cast("int"), lit(rows)))).as("bkey"),
              ),
          )
        }).as("bk"),
      ).select(col("doc_id"), col("bk.band"), col("bk.bkey"))
  }

  /** [[bandedKeysOf]] with the shingle set carried through the same
    * projection: the streaming ingest probe cannot re-join itself to
    * recover `sh` (a stream-stream self-join would need watermark
    * state), so its banding explode must keep the verify payload.
    */
  private[graft] def bandedKeysWithShingles(
      base: DataFrame,
      numHashes: Int = 12,
      bands: Int = 4,
  ): DataFrame = bandedKeysWithPayload(base.select(col("doc_id"), col("sh")), numHashes, bands)

  /** [[bandedKeysWithShingles]] generalized: every column of `base`
    * (which must include `sh`) rides through the banding explode —
    * the edit-ratio ingest probe carries the projected TEXT as its
    * verify payload the same way the jaccard probe carries `sh`.
    */
  private[graft] def bandedKeysWithPayload(
      base: DataFrame,
      numHashes: Int = 12,
      bands: Int = 4,
  ): DataFrame = {
    val rows = numHashes / bands
    base
      .select(
        col("*"),
        explode(bindArray(minhashSignature(col("sh"), numHashes)) { s =>
          transform(
            sequence(lit(0), lit(bands - 1)),
            b =>
              struct(
                b.cast("int").as("band"),
                md5(concat_ws(",", slice(s, (b * rows + 1).cast("int"), lit(rows)))).as("bkey"),
              ),
          )
        }).as("bk"),
      )
      .withColumn("band", col("bk.band"))
      .withColumn("bkey", col("bk.bkey"))
      .drop("bk")
  }

  /** Shingled docs (doc_id, sh) — the shared base relation of the
    * pair pipelines and the streaming probe's static index sides.
    */
  private[graft] def shingledDocs(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), shingles(col("text")).as("sh"))

  /** The 90%-of-max incremental cutoff, resolved as ONE bounded
    * scalar action and spliced in as a literal — an in-plan cutoff
    * blocks filter pushdown below the signature build and doubles it
    * (measured 2× at sf4e; see [[minhashIncrementalPairs]]).
    */
  def incrementCutoff(spark: SparkSession, dir: String): Long =
    // memoized per (session, dir) like PqIndex.refreshCutoff: nine
    // gate lineages consume the same scalar, and each un-memoized
    // call paid its own max-scan job (round 14). Dropped in
    // [[invalidate]] — a timed run pays its own bounded actions.
    cutoffCache
      .getOrElseUpdate(spark, dir) {
        docs(spark, dir).agg(expr("9 * max(doc_id) DIV 10")).head.getLong(0): java.lang.Long
      }
      .longValue()

  private val cutoffCache = graft.util.Artifacts.sessionMemo[String, java.lang.Long](this)

  /** LSH band-occupancy histogram: per band, how many buckets exist
    * at each occupancy. THE operational audit of a banding config
    * before a 100× scale-up — pair expansion is Σ sz·(sz−1)/2 per
    * bucket, so one hot bucket (boilerplate shingle families, near-
    * constant docs) is a quadratic blowup the skew guard then has to
    * absorb; this histogram is how you see it coming (and how you
    * pick numHashes/bands so the tail stays bounded). Same shape the
    * verdict's salted-sub-blocking guards consume.
    *
    * Scale: the band-key build is map-side; two bounded-key combines
    * (band×bkey, then band×occupancy). Never expands a single pair.
    */
  def lshBandStats(
      spark: SparkSession,
      dir: String,
      numHashes: Int = 12,
      bands: Int = 4,
  ): DataFrame = {
    val base = docs(spark, dir)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), shingles(col("text")).as("sh"))
    bandedKeysOf(base, numHashes, bands)
      .groupBy("band", "bkey")
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("band").cast("long").as("band"), col("sz").as("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"))
  }

  /** MinHash + LSH near-duplicate pairs, fully deterministic.
    *
    * numHashes=12 signatures → 4 bands × 3 rows; docs sharing any
    * band bucket become candidates; candidates are verified with
    * exact Jaccard over shingle sets and kept at ≥ threshold.
    * Threshold 0.3 ↔ the 4×3 banding's S-curve midpoint ~0.55 —
    * candidates below ~0.3 are mostly filtered, keeping the verify
    * join small.
    */
  def minhashLshPairs(
      spark: SparkSession,
      dir: String,
      numHashes: Int = 12,
      bands: Int = 4,
      threshold: Double = 0.3,
  ): DataFrame = {
    // no persist (a lazily-consumed result leaves no safe unpersist
    // point, and a session-lifetime cache entry is a leak): the
    // 12-hash signature lineage is consumed by exactly ONE
    // aggregation below, and candidate verification re-derives only
    // the cheap shingle arrays, never the signatures
    val base = docs(spark, dir)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), shingles(col("text")).as("sh"))

    verifyPairsExact(base, lshCandidatePairs(base, numHashes, bands), threshold)
  }

  /** Deduplicated LSH candidate pairs from the banded keys of `base`
    * ((doc_id, sh) rows). Band buckets are posting lists: one groupBy
    * on (band, bkey) computes the signatures exactly once and expands
    * each bucket to its (a<b) pairs map-side — no self-join, so the
    * sig lineage is never evaluated twice and nothing needs caching.
    * A pair colliding in several bands dedups on (doc_a, doc_b); the
    * pair count is inherently quadratic in bucket size, which banding
    * keeps small for non-identical docs. The expansion itself is the
    * native one-pass IdPairsExpr ([[idPairsComposed]] is its spec).
    * Shared by [[minhashLshPairs]] (jaccard verify) and
    * [[editRatioPairs]] (edit-distance verify).
    */
  private[graft] def lshCandidatePairs(
      base: DataFrame,
      numHashes: Int,
      bands: Int,
  ): DataFrame =
    bandedKeysOf(base, numHashes, bands)
      .groupBy("band", "bkey")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(graft.functions.IdPairsExpr(col("ids"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .dropDuplicates("doc_a", "doc_b")

  /** The served edit-distance cutoff: pairs at or under this
    * levenshtein-permille survive the verify. The ONE constant the
    * batch gate ([[editRatioPairs]] default), the ingest probe
    * (`StreamingQueries.streamEditProbe`) and both oracle SQLs
    * (`SparkEntry.oracleSql` `dedup_edit_ratio` /
    * `stream_edit_probe`) interpolate — the ServedQueryCutoff rule:
    * a data-shape constant that several engines must agree on lives
    * in exactly one place, so a retune moves every site together
    * instead of desyncing a gate.
    */
  val EditPermilleCutoff: Int = 600

  /** Edit-distance near-dup verification over the SAME MinHash-LSH
    * candidate pairs as [[minhashLshPairs]] — the fuzzy-dedup family
    * measured in characters instead of shingle sets (catches
    * single-token rewrites that shift every overlapping shingle, the
    * case where Jaccard under-reports similarity). Each candidate
    * pair fetches both texts with ONE corpus exchange (the
    * [[verifyPairsExact]] union-fetch shape) and scores
    * `levenshtein(text_a, text_b)` normalized to an exact integer
    * permille of the longer text; pairs at most `maxPermille` apart
    * survive.
    *
    * Scale shape: Levenshtein is O(len_a·len_b) PER PAIR — viable
    * only because it runs strictly on the LSH-bucketed candidate set
    * (bounded by the banding S-curve), never all-pairs; the corpus
    * text is exchanged at most once and only for candidate docs.
    *
    * Cross-engine determinism: Spark's levenshtein counts Unicode
    * CODE POINTS while DuckDB's counts UTF-8 BYTES — identical only
    * on ASCII. The measured text is therefore the ASCII PROJECTION
    * (every non-ASCII code point → '?', one-for-one on both engines:
    * Java `\\p{ASCII}`, RE2 `[[:ascii:]]`), on which bytes == code
    * points == chars and the permille floor(1000·lev / max(len_a,
    * len_b)) is an identical integer. A multi-byte rewrite still
    * registers as an edit (the projected chars differ positionally);
    * only non-ASCII↔non-ASCII substitutions collapse — the documented
    * price of the portable metric.
    */
  def editRatioPairs(
      spark: SparkSession,
      dir: String,
      numHashes: Int = 12,
      bands: Int = 4,
      maxPermille: Int = EditPermilleCutoff,
  ): DataFrame = {
    val base = docs(spark, dir)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), shingles(col("text")).as("sh"))
    val projected = docs(spark, dir)
      .select(col("doc_id"), regexp_replace(col("text"), "[^\\p{ASCII}]", "?").as("text"))
    attachPairRoles(lshCandidatePairs(base, numHashes, bands), projected, "text")
      .select(
        col("doc_a"),
        col("doc_b"),
        levenshtein(col("text_a"), col("text_b")).cast("long").as("lev"),
        greatest(length(col("text_a")), length(col("text_b"))).cast("long").as("max_len"),
      )
      .withColumn("edit_permille", expr("CAST((1000 * lev) div max_len AS BIGINT)"))
      .filter(col("edit_permille") <= maxPermille)
  }

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs
    * against the shingled corpus, with ONE corpus-side fetch: the
    * pair list unions to (doc_a, doc_b, doc_id ∈ {a, b}) rows and a
    * single doc_id equi-join attaches the shingle arrays for BOTH
    * roles; a pair-key regroup then splits them back (doc_id = doc_a
    * identifies the role — exactly one non-null per slot, so `max`
    * picks it). The two-join formulation it replaces exchanged the
    * corpus shingle arrays TWICE (once per role — measured ~480 MB
    * of a refresh probe's shuffle at sf10e, and at sf4+ AQE's
    * broadcast fallback on a filtered slice was even worse: a
    * ~100 MB single-threaded broadcast build). Here the corpus side
    * is exchanged at most once, the regroup moves only
    * candidate-sized rows, and when the pair list is small AQE still
    * broadcasts it — then the corpus is never exchanged at all (the
    * sf1e plan). A pair missing either side in `base` yields a null
    * shingle slot → null jaccard → filtered, identical to the inner
    * joins it replaces.
    */
  /** The union-fetch pivot that attaches one per-doc column to BOTH
    * roles of a pair list with ONE corpus exchange: the pair list
    * explodes to (doc_a, doc_b, doc_id ∈ {a, b}) rows — explode, not
    * a self-union, which would duplicate the whole candidate lineage
    * in the static plan — a single doc_id equi-join fetches the
    * value, and a pair-key regroup splits the roles back (doc_id =
    * doc_a identifies the role; exactly one non-null per slot, so
    * `max` picks it). Shared by the jaccard verify, the edit-ratio
    * verify, and the source matrix (the shape is pinned in
    * PlanShapeSpec; one helper means one place to fix it).
    * `perDoc` must be (doc_id, <valueCol>).
    */
  private def attachPairRoles(pairs: DataFrame, perDoc: DataFrame, valueCol: String): DataFrame =
    pairs
      .select(col("doc_a"), col("doc_b"), explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .join(perDoc, Seq("doc_id"))
      .groupBy("doc_a", "doc_b")
      .agg(
        max(when(col("doc_id") === col("doc_a"), col(valueCol))).as(s"${valueCol}_a"),
        max(when(col("doc_id") === col("doc_b"), col(valueCol))).as(s"${valueCol}_b"),
      )

  private def verifyPairsExact(base: DataFrame, pairs: DataFrame, threshold: Double): DataFrame = {
    val byPair = attachPairRoles(pairs, base, "sh")
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    val union = size(col("sh_a")) + size(col("sh_b")) - inter
    byPair
      .select(
        col("doc_a"),
        col("doc_b"),
        inter.cast("long").as("n_common"),
        union.cast("long").as("n_union"),
        (inter.cast("double") / union).as("jaccard"),
      )
      .filter(col("jaccard") >= threshold)
  }

  /** Measured MinHash-LSH recall against the exact-Jaccard truth —
    * the banding analogue of `Similarity.annRecallAtK`: the claim
    * "when the exact inverted-index path saturates its cutoff,
    * trust the MinHash banding path" (BENCH_SCALING.md finding 2)
    * needs a NUMBER, not an assertion, and the 4×3 banding S-curve
    * (P[collision] = 1−(1−s³)⁴) predicts recall rising from ~0.1 at
    * jaccard 0.3 to ~1 at 0.9 — this gate measures that curve on
    * the actual corpus.
    *
    * Truth = [[ngramJaccardPairs]] at the same threshold (its own
    * caveat — the maxDf stop-shingle cutoff — is audited by
    * [[shingleDfStats]]; where the cutoff drops mass the "truth"
    * side undercounts and this gate's recall reads HIGH, which is
    * exactly when the df audit tells you to stop trusting the
    * exact path at all). Found = the memoized
    * [[minhashLshPairsShared]] artifact the graph/cluster family
    * rides. Output is bounded: one row per jaccard decile (3..9,
    * capped — threshold 0.3 floors the range) plus a −1 total row,
    * with recall in integer permille (`1000·found DIV truth` —
    * integer division, bit-portable across engines, unlike a
    * rounded double ratio).
    *
    * Scale: both inputs are pair tables (collision-bounded, orders
    * of magnitude smaller than the corpus); one pair-key equi-join
    * + one ≤8-group rollup. Never touches the corpus beyond the two
    * pipelines' own audited passes.
    */
  def minhashRecallVsExact(
      spark: SparkSession,
      dir: String,
      numHashes: Int = 12,
      bands: Int = 4,
  ): DataFrame = {
    // union-tag instead of joining: both pair sets descend from the
    // same corpus scan (a join trips DetectAmbiguousSelfJoin), and a
    // tag-union + one pair-key aggregation is the better shuffle
    // shape anyway — one exchange, no join build side. The default
    // banding rides the shared memoized pair artifact; a non-default
    // (numHashes, bands) — the knob the S-curve prices — derives its
    // own pairs.
    val truth = ngramJaccardPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard"), lit(0L).as("hit"))
    val pairs =
      if (numHashes == 12 && bands == 4) minhashLshPairsShared(spark, dir)
      else minhashLshPairs(spark, dir, numHashes, bands)
    val found = pairs
      .select(col("doc_a"), col("doc_b"), lit(null).cast("double").as("jaccard"), lit(1L).as("hit"))
    val perPair = truth
      .unionByName(found)
      .groupBy("doc_a", "doc_b")
      // truth-side jaccard (max over the ≤1 non-null) picks the
      // decile; LSH-only pairs have no truth jaccard and drop out of
      // the recall denominator
      .agg(max(col("jaccard")).as("tj"), max("hit").as("hit"))
      .filter(col("tj").isNotNull)
      .select(
        least(floor(col("tj") * 10), lit(9L)).as("jaccard_decile"),
        col("hit"),
      )
    val perDecile = perPair
      .groupBy("jaccard_decile")
      .agg(count(lit(1)).as("n_truth_pairs"), sum("hit").as("n_lsh_found"))
    // total row re-aggregates the ≤8-row decile table, not the pairs
    val total = perDecile
      .agg(sum("n_truth_pairs").as("n_truth_pairs"), sum("n_lsh_found").as("n_lsh_found"))
      .select(lit(-1L).as("jaccard_decile"), col("n_truth_pairs"), col("n_lsh_found"))
    perDecile
      .unionByName(total)
      .select(
        col("jaccard_decile"),
        col("n_truth_pairs"),
        col("n_lsh_found"),
        expr("1000 * n_lsh_found DIV n_truth_pairs").as("recall_permille"),
      )
  }

  /** Connected components over an undirected near-dup pair graph —
    * the canonical-document step every production dedup pipeline
    * needs: LSH emits PAIRS, but "keep one doc per duplicate GROUP"
    * requires the transitive closure (a~b, b~c ⇒ {a,b,c} are one
    * group even if a~c never collided in a band).
    *
    * Algorithm: Pregel-style iterative min-label propagation. Every
    * vertex starts labeled with its CLOSED 1-hop minimum — min(id,
    * neighbors) comes out of the same |edges| aggregation that
    * otherwise just deduplicated the vertex set, so the free first
    * hop saves one full join+agg+checkpoint round on every graph
    * (r10; the semantic-keep graph dropped 4 → 3 rounds). Each round
    * every vertex then takes the min of its own and its neighbors'
    * labels; at fixpoint the label is the component's minimum doc id
    * — a deterministic cluster id. (Init labels lie inside the
    * vertex's component and only shrink, so the fixpoint and the
    * escalation contraction argument are unchanged.)
    *
    * Scale shape (100 TB):
    *  - the pair graph is orders of magnitude smaller than the corpus
    *    (only banding collisions), and every round touches ONLY the
    *    graph: one equi-join (labels ⋈ edges) + one min-aggregation,
    *    both shuffling on vertex id;
    *  - rounds = component diameter, CAPPED: near-dup components are
    *    usually star-like (diameter ≲ 4) and converge in a handful of
    *    rounds, but a threshold pair graph near its percolation
    *    density (average degree ≈ 1 — exactly where a cosine/jaccard
    *    cutoff can land) grows long thin components whose diameter
    *    makes round count the dominant cost (measured: the sf1
    *    semantic-keep graph, 20k vertices / ~11k edges, needed 10×
    *    the rounds of its 4× denser sf4 twin and inverted the scale
    *    curve). So after `escalateAfter` rounds the remaining graph
    *    is CONTRACTED through the current labels (each label class is
    *    provably inside one component) and the O(log n)
    *    large-star/small-star variant ([[connectedComponentsStar]])
    *    finishes it — the fast path is untouched, and pathological
    *    diameters cost log rounds on an already-collapsed graph
    *    instead of diameter rounds on the full one;
    *  - lineage is truncated every round (localCheckpoint — on a
    *    cluster, a checkpoint dir / table write): without it the plan
    *    doubles per round and re-derives the LSH pipeline each time;
    *  - convergence is a scalar check per round (any label still
    *    shrinking?), not a driver-side data loop.
    *
    * Input: (doc_a, doc_b) pairs. Output: (doc_id, cluster_id) for
    * every doc appearing in a pair (singletons are their own implicit
    * cluster and are not materialized).
    *
    * SIZE DISPATCH (round 14): a pair graph of at most
    * `smallGraphCap` edges is collected and solved with driver-side
    * union-find — one Spark job instead of the fixpoint's
    * checkpoint+convergence-check job per round. This is the
    * broadcast-join-threshold pattern applied to iteration: Spark
    * itself picks physical strategy by measured size, and a graph
    * under the cap (default 2^17 edges ≈ 6 MB collected — far below
    * any driver limit) costs more in job floors to iterate on 32
    * partitions than to solve locally in microseconds. The
    * distributed fixpoint is UNTOUCHED and remains the scale path:
    * one row over the cap falls through to it (`smallGraphCap = 0`
    * disables the fast path outright — the spec pins fast ==
    * distributed on random graphs through exactly that switch). The
    * dispatch probe is a `limit(cap+1)` collect, which Spark executes
    * incrementally — on an over-cap graph it touches a few partitions
    * and abandons, never scanning the full edge set. At 100 TB the
    * corpus-wide pair graph takes the fixpoint; the per-increment
    * CONTRACTED graphs of the maintenance loop
    * ([[connectedComponentsIncremental]]) are small BY CONSTRUCTION —
    * they scale with the increment, not the corpus — so cluster
    * maintenance rides the fast path at any corpus size.
    */
  def connectedComponents(
      pairs: DataFrame,
      escalateAfter: Int = 8,
      smallGraphCap: Int = 1 << 17,
  ): DataFrame = {
    require(escalateAfter >= 1, "escalateAfter must be >= 1")
    require(smallGraphCap >= 0, "smallGraphCap must be >= 0")
    val casted = pairs
      .select(col("doc_a").cast("long").as("src"), col("doc_b").cast("long").as("dst"))
    if (smallGraphCap > 0) {
      // one incremental job over the (usually memoized-artifact) pair
      // lineage; under the cap this IS the whole edge set
      val sample = casted.limit(smallGraphCap + 1).collect()
      if (sample.length <= smallGraphCap) {
        val labels = driverUnionFind(sample.map(r => (r.getLong(0), r.getLong(1))))
        val spark = pairs.sparkSession
        import spark.implicits._
        return labels.toDF("doc_id", "cluster_id")
      }
    }
    // materialize the pair set once: edges are re-read every round,
    // and an unmaterialized lineage would re-run the whole candidate
    // pipeline per round
    val once = casted.localCheckpoint()
    val edges = once.union(once.select(col("dst").as("src"), col("src").as("dst")))

    var labels = edges
      .groupBy("src")
      .agg(min(col("dst")).as("mn"))
      .select(col("src").as("id"), least(col("src"), col("mn")).as("lbl"))
      .localCheckpoint()
    var converged = false
    var rounds = 0
    while (!converged && rounds < escalateAfter) {
      // neighbor messages carry is_self=false; the vertex's own label
      // is_self=true — ONE aggregation then yields both the new label
      // (min over all) and the previous one (min over self rows), so
      // convergence is a filter on the checkpointed result instead of
      // a separate join against the previous generation
      val prop = edges
        .join(labels, edges("src") === labels("id"))
        .select(edges("dst").as("id"), col("lbl"), lit(false).as("is_self"))
      val next = prop
        .union(labels.select(col("id"), col("lbl"), lit(true).as("is_self")))
        .groupBy("id")
        .agg(
          min(col("lbl")).as("lbl"),
          min(when(col("is_self"), col("lbl"))).as("prev"),
        )
        .localCheckpoint()
      // labels only ever decrease: any strict drop means another round
      val shrunk = next.filter(col("lbl") < col("prev")).limit(1).count()
      labels = next.select(col("id"), col("lbl"))
      converged = shrunk == 0
      rounds += 1
    }
    if (converged)
      labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
    else {
      // Escalate: the graph still has a label strictly shrinking after
      // `escalateAfter` rounds of propagation, i.e. some component's
      // diameter exceeds the cap. Contract each edge through the
      // current labels — label(v) = min of v's escalateAfter-hop
      // neighborhood, so every label class lies inside one component
      // and the contracted graph's components are exactly the images
      // of the original ones — and let the star variant finish in
      // O(log n) rounds. Composition is exact: the component's true
      // minimum vertex m has label(m) = m (nothing in its
      // neighborhood is smaller), so the contracted component's
      // minimum LABEL is m itself, and star emits it as every
      // contracted node's cluster id; final(v) = star(label(v)) = m.
      // A label whose class swallowed its whole component has no
      // surviving inter-label edge, never reaches star, and is
      // already the component minimum — the left-join coalesce keeps
      // it.
      val la = labels.select(col("id").as("src"), col("lbl").as("la"))
      val lb = labels.select(col("id").as("dst"), col("lbl").as("lb"))
      val contracted = once
        .join(la, "src")
        .join(lb, "dst")
        .filter(col("la") =!= col("lb"))
        .select(col("la").as("doc_a"), col("lb").as("doc_b"))
      val star = connectedComponentsStar(contracted)
        .select(col("doc_id").as("lbl"), col("cluster_id").as("root"))
      labels
        .join(star, Seq("lbl"), "left")
        .select(
          col("id").as("doc_id"),
          coalesce(col("root"), col("lbl")).as("cluster_id"),
        )
    }
  }

  /** Driver union-find for the [[connectedComponents]] small-graph
    * dispatch: path compression + union-by-min-root, so the final
    * root of every tree is its component's minimum id — exactly the
    * min-label the distributed fixpoint converges to (every node
    * starts as its own root; a union always keeps the smaller root,
    * so "root = min of members merged so far" is invariant). Emits
    * one (node, component-min) row per distinct node appearing in
    * any pair, self-pairs included — the distributed output's exact
    * row set.
    */
  private def driverUnionFind(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      if (a != b) {
        val ra = find(a)
        val rb = find(b)
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
    }
    parent.keysIterator.map(v => v -> find(v)).toSeq
  }

  /** Incremental connected components — cluster maintenance for the
    * [[minhashIncrementalPairs]] flow: fold an increment's new
    * pairs into an existing (doc_id, cluster_id) labeling without
    * recomputing components over the full pair graph.
    *
    * Algorithm: contract. Each endpoint of a new pair maps to its
    * existing cluster label (or to itself if previously unseen);
    * [[connectedComponents]] runs on that CONTRACTED graph — one
    * node per touched cluster plus the genuinely-new docs, orders
    * of magnitude smaller than the corpus pair graph — and the old
    * assignments relabel through the contraction with one join.
    *
    * Exactness (pinned in DedupClustersSpec): edges are only ever
    * added, so existing components can merge but never split, and
    * because every existing label IS its cluster's minimum doc id,
    * the contracted min-label equals the merged component's global
    * minimum — the incremental result is row-identical to a full
    * recompute over old ∪ new pairs. PRECONDITION that argument
    * rests on: every `oldLabels.cluster_id` must be the minimum
    * `doc_id` of its cluster (the form [[connectedComponents]]
    * emits). A caller holding canonical-doc or renumbered labels
    * would otherwise get plausible-but-divergent output, so the
    * method NORMALIZES the input to min-id form first (one
    * groupBy(cluster_id).min(doc_id) relabel — a no-op join when
    * labels are already minima, and cluster membership is preserved
    * either way because renaming a label renames it for all of its
    * members at once).
    *
    * Scale shape: the per-increment cost is the contracted CC
    * (|touched clusters + new docs| nodes) plus one broadcast-sized
    * relabel join against the stored assignment table; the full
    * graph is never re-read. Precondition: a node id appearing in
    * both inputs is the same document (true for any id-stable
    * corpus).
    */
  def connectedComponentsIncremental(oldLabels: DataFrame, newPairs: DataFrame): DataFrame = {
    val rawOld = oldLabels
      .select(col("doc_id").cast("long").as("doc_id"), col("cluster_id").cast("long").as("cluster_id"))
    // normalize to min-id labels (see scaladoc): the contraction's
    // exactness proof needs label == min(member ids); per-cluster min
    // is a map-side-combinable aggregate over the assignment table
    val normalized = rawOld
      .join(
        rawOld.groupBy("cluster_id").agg(min("doc_id").as("min_id")),
        Seq("cluster_id"))
      .select(col("doc_id"), col("min_id").as("cluster_id"))
    connectedComponentsIncrementalPreNormalized(normalized, newPairs)
  }

  /** The contraction core, REQUIRING min-id labels (label == minimum
    * member doc_id). Callers whose labels come straight from
    * [[connectedComponents]] (which emits minima by construction)
    * take this entry point and skip the public method's
    * normalization pass — one assignment-table aggregate + join that
    * is provably a no-op for them.
    */
  private[graft] def connectedComponentsIncrementalPreNormalized(
      oldLabels: DataFrame,
      newPairs: DataFrame,
  ): DataFrame = {
    val old = oldLabels
      .select(col("doc_id").cast("long").as("doc_id"), col("cluster_id").cast("long").as("cluster_id"))
      .localCheckpoint()
    val e = newPairs
      .select(col("doc_a").cast("long").as("doc_a"), col("doc_b").cast("long").as("doc_b"))
      .localCheckpoint()
    val contractedEdges = e
      .join(old.select(col("doc_id").as("doc_a"), col("cluster_id").as("la")), Seq("doc_a"), "left")
      .join(old.select(col("doc_id").as("doc_b"), col("cluster_id").as("lb")), Seq("doc_b"), "left")
      .select(
        coalesce(col("la"), col("doc_a")).as("doc_a"),
        coalesce(col("lb"), col("doc_b")).as("doc_b"),
      )
    // (node, merged) over touched labels + new docs — the tiny graph
    val contracted = connectedComponents(contractedEdges)
    val relabeledOld = old
      .join(
        contracted.select(col("doc_id").as("cluster_id"), col("cluster_id").as("merged")),
        Seq("cluster_id"),
        "left")
      .select(col("doc_id"), coalesce(col("merged"), col("cluster_id")).as("cluster_id"))
    val newDocs = e.select(col("doc_a").as("doc_id"))
      .unionByName(e.select(col("doc_b").as("doc_id")))
      .distinct()
      .join(old.select("doc_id"), Seq("doc_id"), "left_anti")
    val newAssign = newDocs
      .join(contracted.withColumnRenamed("cluster_id", "merged"), Seq("doc_id"))
      .select(col("doc_id"), col("merged").as("cluster_id"))
    relabeledOld.unionByName(newAssign)
  }

  /** The incremental-dedup cluster view as a gate: existing labels
    * come from the old slice's pairs, the increment's pairs come
    * from [[minhashIncrementalPairs]], and the merged labeling must
    * equal (and is oracle-checked against) the full-corpus
    * transitive closure.
    */
  def lshClustersIncremental(spark: SparkSession, dir: String): DataFrame = {
    val cutoff: Long = incrementCutoff(spark, dir)
    // doc_a < doc_b, so doc_b <= cutoff ⟺ both endpoints are old
    val oldLabels = connectedComponents(
      minhashLshPairsShared(spark, dir).filter(col("doc_b") <= cutoff).select("doc_a", "doc_b"))
    // labels come straight from connectedComponents (minima by
    // construction) — skip the public normalization pass
    connectedComponentsIncrementalPreNormalized(
      oldLabels,
      minhashIncrementalPairs(spark, dir).select("doc_a", "doc_b"))
  }

  /** Alternating large-star/small-star connected components (Kiveris
    * et al., "Connected Components in MapReduce and Beyond") — the
    * O(log n)-round variant for graphs whose diameter is unknown or
    * adversarial (min-label propagation needs diameter rounds; a
    * pathological chain of near-dups would make that linear).
    *
    *  - large-star: every node connects its strictly-LARGER neighbors
    *    to the minimum of its closed neighborhood;
    *  - small-star: every node connects its smaller-or-equal
    *    neighbors (and itself) to that minimum.
    *
    * Each round is two joins + two min-aggregations over the edge
    * set — the same per-round plan as propagation, different message
    * rule. At fixpoint the edge set is a star forest: every node
    * points at its component's minimum id. Output matches
    * [[connectedComponents]] exactly (equality pinned in
    * DedupClustersSpec on chains, stars, and random graphs).
    */
  def connectedComponentsStar(pairs: DataFrame): DataFrame = {
    val once = pairs
      .select(col("doc_a").cast("long").as("u"), col("doc_b").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .localCheckpoint()

    def canonical(e: DataFrame): DataFrame =
      e.select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()

    def bothDirs(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))

    // min over the closed neighborhood of each center node (the
    // grouping column is referenceable inside the aggregate)
    def mins(nb: DataFrame): DataFrame =
      nb.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))

    var edges = canonical(once).localCheckpoint()
    var converged = false
    var rounds = 0
    val maxRounds = 64
    while (!converged && rounds < maxRounds) {
      // large-star: (v, m) for neighbors v > center u
      val nbL = bothDirs(edges)
      val ls = canonical(
        nbL
          .join(mins(nbL), Seq("u"))
          .filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
      ).localCheckpoint()
      // small-star: (v, m) for neighbors v <= center u, plus (u, m)
      val nbS = bothDirs(ls)
      val msS = mins(nbS)
      val ss = canonical(
        nbS
          .join(msS, Seq("u"))
          .filter(col("v") <= col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .union(msS.select(col("u"), col("m").as("v")))
      ).localCheckpoint()
      // fixpoint: the canonical edge set stopped changing
      val changed =
        ss.exceptAll(edges).limit(1).count() + edges.exceptAll(ss).limit(1).count()
      edges = ss
      converged = changed == 0
      rounds += 1
    }
    require(converged, s"connectedComponentsStar did not converge in $maxRounds rounds")
    // star forest in canonical (smaller, larger) form: the smaller
    // endpoint IS the component minimum; it appears only as a center,
    // so add its own self-row
    edges
      .select(col("v").as("doc_id"), col("u").as("cluster_id"))
      .union(edges.select(col("u"), col("u")).distinct())
      .distinct()
  }

  /** Near-duplicate clusters from the MinHash-LSH pair graph:
    * transitive closure + per-cluster size + canonical-doc flag (the
    * min-id member). Downstream dedup keeps `is_canonical = 1` rows —
    * the "drop all but one per group" step at corpus scale.
    */
  // The banding + fixpoint is the dominant cost of the clustering
  // gates and both [[nearDupClusters]] and [[keepBestDedup]] need the
  // same frame — memoize it per (session, dir) so one run serves both
  // (session-scoped soft cache; an eviction costs a recompute, never
  // correctness). Bench invalidates between timed runs.
  private val ccCache = graft.util.Artifacts.sessionMemo[String, DataFrame](this)
  // the landed increment's pair table, keyed by (dir, banding params)
  // — see the minhashIncrementalPairs scaladoc for the artifact
  // accounting
  private val incrPairsCache = graft.util.Artifacts.memo(this, "graft_minhash_incr")
  private val pairsCache = graft.util.Artifacts.memo(this, "graft_minhash_pairs")
  // (doc_a, n_a, doc_b, n_b, n_common) over word shingles — the
  // shared two-exchange core of BOTH exact-set scorers
  // ([[ngramJaccardPairs]] and [[ngramContainmentPairs]] differ only
  // in the final projection), memoized like the LSH pair artifact so
  // the corpus explode + posting expansion is paid once per session,
  // not once per scoring gate. Keyed by (dir, k, maxDf).
  private val commonCountsCache = graft.util.Artifacts.memo(this, "graft_ngram_cc")

  /** Memoized, CACHED MinHash-LSH pair set, shared by every consumer
    * of the pair graph (the pair gate itself, the degree histogram,
    * and the cluster fixpoint): a dedup pipeline's pair table is an
    * artifact built once and read many times, so sharing one
    * persisted copy is the honest cost model — without it each
    * consumer re-runs the full shingle→signature→band→verify lineage.
    * `persist` rather than `localCheckpoint`: the lineage stays
    * attached, so an evicted block (memory pressure, executor loss)
    * means a recompute, never a failure, and [[invalidate]] can
    * actually free the blocks. At scale this artifact is a table
    * write; executor storage stands in for it here.
    */
  def minhashLshPairsShared(spark: SparkSession, dir: String): DataFrame =
    pairsCache(spark, dir)(minhashLshPairs(spark, dir))

  /** Incremental near-dup pairs — the production shape of MinHash
    * dedup at 100 TB: a nightly increment must NOT rescan the
    * existing×existing pair space. The incoming slice (doc_id above
    * a 90%-of-max cutoff here; the new partition/day in deployment)
    * probes a band-key index of the existing corpus with one
    * equi-join on (band, bkey), and expands buckets only WITHIN the
    * increment — so per-increment work is |increment|-proportional
    * (plus index probe fan-out), never |corpus|².
    *
    * Correctness contract (pinned in DedupClustersSpec and the
    * DuckDB oracle): banding is order-independent — a pair collides
    * in a band or it doesn't, regardless of which side is "new" —
    * so the incremental result is EXACTLY the full-corpus
    * [[minhashLshPairs]] restricted to pairs touching the
    * increment (`doc_b > cutoff`, since doc_a < doc_b and the
    * increment is the id suffix).
    *
    * Scale notes: the existing-side band index is the artifact a
    * deployment stores as a table (re-derived here, at fixture
    * scale, from the same corpus — but from the OLD slice only, so
    * every doc's signature is computed exactly once; an in-plan
    * cutoff would block filter pushdown below the signature build
    * and double it, measured 2× at sf4e); the cutoff itself is one
    * bounded single-row action (the collected-centroid shape). Hot
    * band buckets hit the probe join exactly as they hit the full
    * pipeline's bucket expansion, and the same [[lshBandStats]]
    * audit prices them.
    *
    * MEMOIZED like [[minhashLshPairsShared]] (round 14): the landed
    * increment's pair table is the same built-once-read-many artifact
    * as the corpus pair table — in the production loop the
    * probe/ingest leg LANDS it and the cluster fold READS it — and it
    * has two gate consumers here (`dedup_incremental_lsh` and
    * `dedup_clusters_incremental`), so re-running the increment
    * signature pass per consumer (measured 1.17 s steady-state at
    * sf0.1) charged the fold for work the serving path had already
    * done. Same accounting convention as the pair artifact: the build
    * lands on whichever family member runs first in a timed pass;
    * [[invalidate]] drops the blocks between runs.
    */
  def minhashIncrementalPairs(
      spark: SparkSession,
      dir: String,
      numHashes: Int = 12,
      bands: Int = 4,
      threshold: Double = 0.3,
  ): DataFrame = {
    val key = s"$dir|$numHashes|$bands|$threshold"
    incrPairsCache(spark, key)(minhashIncrementalPairsUncached(spark, dir, numHashes, bands, threshold))
  }

  private def minhashIncrementalPairsUncached(
      spark: SparkSession,
      dir: String,
      numHashes: Int,
      bands: Int,
      threshold: Double,
  ): DataFrame = {
    val base = shingledDocs(spark, dir)
    val cutoff: Long = incrementCutoff(spark, dir)
    // split BEFORE the signature build: index lineage covers the
    // old slice, probe lineage the increment — each signature
    // computed once, and the two lineages keep the (band, bkey)
    // join unambiguous
    val existingIdx = bandedKeysOf(base.filter(col("doc_id") <= cutoff), numHashes, bands)
      .select(col("doc_id").as("doc_a"), col("band"), col("bkey"))
    val incomingKeys = bandedKeysOf(base.filter(col("doc_id") > cutoff), numHashes, bands)
      .select(col("doc_id").as("doc_b"), col("band"), col("bkey"))
    // increment × existing-index probe (old id < new id keeps the
    // a<b convention for free)
    val newOld = incomingKeys
      .join(existingIdx, Seq("band", "bkey"))
      .select(col("doc_a"), col("doc_b"))
    // increment × increment via the bucket expansion, increment only
    val newNew = incomingKeys
      .groupBy("band", "bkey")
      .agg(sort_array(collect_list(col("doc_b"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(graft.functions.IdPairsExpr(col("ids"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
    val candidates = newOld
      .unionByName(newNew)
      .dropDuplicates("doc_a", "doc_b")
    verifyPairsExact(base, candidates, threshold)
  }

  /** The index-refresh loop that closes the streaming ingest story
    * ([[graft.streaming.StreamingQueries.incrementalDedupStream]] is
    * a stateless probe against a STATIC band index; this is the
    * periodic refresh that folds what the stream landed into that
    * index before the next era begins). Three eras by doc_id: the
    * stored corpus (≤ 70% of max), the landed increment
    * (70%..85%], and the NEXT increment (> 85%) that probes the
    * refreshed index.
    *
    * The refresh itself is the fold: band keys are a PER-DOCUMENT
    * deterministic map-side computation, so folding an increment in
    * is appending its (doc, band, bkey) rows — the stored slice is
    * never rescanned, which is the entire point at 100 TB (an
    * append-only partition write against the index table). Because
    * banding is order-independent, the folded index is value-equal
    * to a from-scratch rebuild over the same documents, so the next
    * era's probe results are IDENTICAL under either maintenance
    * policy — pinned row-for-row in DedupClustersSpec
    * (folded vs [[minhashRefreshRebuiltProbe]]), and the landed set
    * is oracle-checked against the full pair table restricted to
    * pairs touching the next increment.
    */
  def minhashRefreshFoldedProbe(
      spark: SparkSession,
      dir: String,
      numHashes: Int = 12,
      bands: Int = 4,
      threshold: Double = 0.3,
  ): DataFrame = refreshProbe(spark, dir, numHashes, bands, threshold, rebuild = false)

  /** The from-scratch-rebuild twin of [[minhashRefreshFoldedProbe]]
    * — one banding pass over every stored document. Exists as the
    * executable spec of the fold's exactness (and as the policy a
    * deployment falls back to when the index table needs compaction).
    */
  def minhashRefreshRebuiltProbe(
      spark: SparkSession,
      dir: String,
      numHashes: Int = 12,
      bands: Int = 4,
      threshold: Double = 0.3,
  ): DataFrame = refreshProbe(spark, dir, numHashes, bands, threshold, rebuild = true)

  private def refreshProbe(
      spark: SparkSession,
      dir: String,
      numHashes: Int,
      bands: Int,
      threshold: Double,
      rebuild: Boolean,
  ): DataFrame = {
    val base = shingledDocs(spark, dir)
    // both cutoffs in ONE bounded scalar action, spliced as literals
    // (an in-plan cutoff blocks pushdown below the signature build —
    // the minhashIncrementalPairs lesson)
    val cuts = docs(spark, dir)
      .agg(
        expr("7 * max(doc_id) DIV 10").as("c1"),
        expr("85 * max(doc_id) DIV 100").as("c2"),
      )
      .head
    val (c1, c2) = (cuts.getLong(0), cuts.getLong(1))
    val idx = (
      if (rebuild) bandedKeysOf(base.filter(col("doc_id") <= c2), numHashes, bands)
      else
        // the refresh: stored index rows ∪ the landed increment's
        // rows — each document signed exactly once, old never rescanned
        bandedKeysOf(base.filter(col("doc_id") <= c1), numHashes, bands)
          .unionByName(
            bandedKeysOf(base.filter(col("doc_id") > c1 && col("doc_id") <= c2), numHashes, bands))
    ).select(col("doc_id").as("doc_a"), col("band"), col("bkey"))
    val incomingKeys = bandedKeysOf(base.filter(col("doc_id") > c2), numHashes, bands)
      .select(col("doc_id").as("doc_b"), col("band"), col("bkey"))
    val newOld = incomingKeys
      .join(idx, Seq("band", "bkey"))
      .select(col("doc_a"), col("doc_b"))
    val newNew = incomingKeys
      .groupBy("band", "bkey")
      .agg(sort_array(collect_list(col("doc_b"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(graft.functions.IdPairsExpr(col("ids"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
    val candidates = newOld
      .unionByName(newNew)
      .dropDuplicates("doc_a", "doc_b")
    verifyPairsExact(base, candidates, threshold)
  }

  /** Memoized connected components over the MinHash-LSH pair graph. */
  def lshClusters(spark: SparkSession, dir: String): DataFrame =
    ccCache.getOrElseUpdate(spark, dir) {
      connectedComponents(minhashLshPairsShared(spark, dir).select("doc_a", "doc_b"))
    }

  /** Drop memoized cluster/pair frames (benchmark hygiene). The
    * persisted pair tables' storage blocks are unpersisted eagerly:
    * dropping only the reference would leave each timed run's blocks
    * pinned in executor storage until GC, skewing the timings
    * invalidate() exists to keep honest.
    */
  def invalidate(): Unit = graft.util.Artifacts.reset(this)

  def nearDupClusters(spark: SparkSession, dir: String): DataFrame = {
    val cc = lshClusters(spark, dir)
    val sizes = cc.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
    // no static broadcast hint: |clusters| is usually tiny but at
    // web-corpus dup rates it is billions of rows — AQE picks the
    // join strategy from the measured size and degrades gracefully
    cc.join(sizes, Seq("cluster_id"))
      .select(
        col("doc_id"),
        col("cluster_id"),
        col("n_members"),
        when(col("doc_id") === col("cluster_id"), 1).otherwise(0).cast("int").as("is_canonical"),
      )
  }

  /** The full keep/drop decision after near-dup clustering — the
    * actual OUTPUT of a dedup pipeline: every document, labeled with
    * its duplicate-cluster id and whether it survives. Unlike the
    * min-id canonical flag in [[nearDupClusters]], the survivor here
    * is chosen by QUALITY (longest document wins, ties broken by the
    * smaller doc id) — the policy real corpus curation uses, since
    * the longest member of a near-dup group usually dominates the
    * others' content.
    *
    * Scale shape (100 TB): only LSH-colliding docs appear in the
    * cluster graph, so
    *  - the quality ranking windows ONLY over clustered docs — the
    *    corpus is never shuffled by cluster id (most clusters would
    *    be singletons, making that shuffle a full-corpus exchange
    *    for nothing);
    *  - the joins against the cc set carry NO static broadcast hint:
    *    at web-corpus dup rates (20-40%) the cc set is billions of
    *    rows, far past any broadcast threshold. AQE broadcasts it
    *    when the measured size allows and falls back to a shuffle
    *    join of (doc_id, n_chars) pairs — one cheap narrow exchange —
    *    when it does not, instead of OOMing the driver;
    *  - the cc fixpoint itself runs ONCE per (session, dir) via
    *    [[lshClusters]], shared with [[nearDupClusters]].
    *
    * Output: (doc_id, cluster_id, keep) for every document;
    * singletons carry their own id as cluster_id and keep=1.
    */
  def keepBestDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cc = lshClusters(spark, dir)
    val meta = docs(spark, dir).select(col("doc_id"), col("n_chars"))
    val ranked = meta
      .join(cc, Seq("doc_id"))
      .withColumn(
        "rn",
        row_number().over(
          Window.partitionBy(col("cluster_id")).orderBy(col("n_chars").desc, col("doc_id"))
        ),
      )
      .select(
        col("doc_id"),
        col("cluster_id"),
        when(col("rn") === 1, 1).otherwise(0).cast("int").as("keep"),
      )
    val singletons = meta
      .join(cc.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"), lit(1).cast("int").as("keep"))
    ranked.union(singletons)
  }

  /** SimHash fingerprint (16-bit): per whitespace token take 4 hex
    * chars of md5, accumulate ±1 votes per bit over the token
    * multiset, fingerprint bit j = 1 iff vote_j > 0. Near-dup docs
    * land at small hamming distance.
    *
    * Delegates to the native one-pass expression
    * (graft.functions.SimHash16Expr); [[simhash16Composed]] is the
    * equivalent built-in composition, kept as the executable spec
    * (bit-identity pinned in ExtensionsSpec).
    */
  def simhash16(text: Column): Column = graft.functions.SimHash16Expr(text)

  /** The composed-builtins formulation of [[simhash16]] — the shape
    * the DuckDB oracle mirrors.
    */
  def simhash16Composed(text: Column): Column = {
    val toks = split(text, " ")
    // per-token 16-bit value from the first 4 hex chars of md5
    val hv = transform(
      toks,
      tok => {
        val h = md5(tok)
        (0 until 4)
          .map(i =>
            (instr(lit("0123456789abcdef"), substring(h, i + 1, 1)) - 1) *
              lit(1 << (4 * (3 - i)))
          )
          .reduce(_ + _)
      },
    )
    // bit votes: sum over tokens of ±1 per bit position
    val bits = (0 until 16).map { j =>
      val vote = aggregate(
        hv,
        lit(0),
        (acc, v) => acc + when(v.bitwiseAND(lit(1 << j)) > 0, 1).otherwise(-1),
      )
      when(vote > 0, lit(1 << j)).otherwise(lit(0))
    }
    bits.reduce(_ + _)
  }

  /** Per-document SimHash fingerprints + per-fingerprint group sizes
    * (docs colliding on all 16 bits are near-dup candidates).
    */
  def simhashFingerprints(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), simhash16(col("text")).as("simhash"))

  /** 64-bit SimHash fingerprint — the production width. 16 bits
    * saturate at any real corpus size (a 500-doc corpus already
    * yields 728 hamming≤3 collisions), degenerating the pairs query
    * toward all-pairs; 64 bits keep near-dup bands selective.
    */
  def simhash64(text: Column): Column = graft.functions.SimHash64Expr(text)

  /** SimHash near-dup pairs at production width (64-bit): hamming
    * distance via bit_count(a XOR b) — two integer ops per pair.
    *
    * Candidate generation is the PIGEONHOLE MULTI-INDEX (the Manku/
    * Jain/Sarma WWW'07 design for exactly this query): the 64-bit
    * fingerprint splits into maxHamming+1 disjoint bands, and any
    * pair within hamming ≤ maxHamming differs in at most maxHamming
    * bands, so it must agree EXACTLY on at least one band — blocking
    * on (source, band index, band value) therefore has no false
    * negatives, and the hamming filter kills the false positives,
    * making the result row-identical to the all-pairs-within-source
    * formulation (the 16-bit twin below keeps that shape as the
    * executable spec; equality is pinned in DedupClustersSpec).
    *
    * This replaces the round-7 source-blocked all-pairs design,
    * whose comparison count was Σ|source block|² — quadratic in
    * corpus size when the number of sources is a constant, which the
    * round-8 scale rehearsal measured directly (1e9 comparisons and
    * 13.4 s at the 200k-doc rehearsal corpus vs ~6 s of pure
    * output-pair growth). The multi-index's comparison count is
    * Σ|band bucket|² — driven by how many documents genuinely share
    * 8 exact fingerprint bits, i.e. by near-dup density, not by
    * corpus size.
    *
    * The hot-bucket guard stays (Skew.saltedBlockJoin on the band
    * bucket): a boilerplate family collapsing onto one band value
    * must spread over bounded sub-tasks, not serialize one reducer.
    * The block key is the string concat of (source, band, value) —
    * collision-free, so cross-source pairs cannot leak in. (A struct
    * key was measured 20× slower at the sf4 rehearsal point: the
    * struct-keyed exchanges/sorts fall off the fast hash/codegen
    * paths the string key keeps.)
    *
    * maxHamming=7 of 64 is the selective near-dup band for this
    * corpus (hamming≤3 of 16 was the saturating one the 16-bit twin
    * exhibits).
    */
  def simhashHammingPairs(
      spark: SparkSession,
      dir: String,
      maxHamming: Int = 7,
      targetRows: Long = 1L << 16,
  ): DataFrame = {
    val nBands = maxHamming + 1
    val w = 64 / nBands // last band also takes the 64 % nBands remainder bits
    def bandVal(sh: Column, i: Int): Column = {
      val width = if (i == nBands - 1) 64 - w * i else w
      val shifted = shiftrightunsigned(sh, w * i)
      if (width >= 64) shifted else shifted.bitwiseAND(lit((1L << width) - 1))
    }
    // no persist: the native simhash is cheap enough that recomputing
    // for the self-join's two sides beats holding a session-lifetime
    // cache entry (persist here previously leaked across bench runs)
    def banded(base: DataFrame, docCol: String, shCol: String): DataFrame =
      base
        .select(col("source"), col("doc_id").as(docCol), simhash64(col("text")).as(shCol))
        .select(
          col(docCol),
          col(shCol),
          explode(bindArray(col(shCol)) { s =>
            array((0 until nBands).map(i =>
              concat_ws("|", col("source"), lit(i), bandVal(s, i))): _*)
          }).as("__bucket"),
          col("source"),
        )
    val a = banded(docs(spark, dir), "doc_a", "sh_a")
    val b = banded(Tables(spark, dir, "documents"), "doc_b", "sh_b").drop("source")
    Skew
      .saltedBlockJoin(a, b, "__bucket", "doc_a", targetRows)
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      // a pair agreeing on several bands met once per such band
      .select(col("source"), col("doc_a"), col("doc_b"), col("hamming"))
      .distinct()
  }

  /** Exact n-gram Jaccard near-dup pairs via a shingle inverted
    * index: explode distinct shingles, drop shingles occurring in
    * more than maxDf docs (stop-shingles), self-join the index to
    * count common shingles per pair, then compute exact Jaccard.
    */
  def ngramJaccardPairs(
      spark: SparkSession,
      dir: String,
      k: Int = 3,
      maxDf: Int = 50,
      threshold: Double = 0.3,
  ): DataFrame =
    wordCommonCountsShared(spark, dir, k, maxDf)
      .select(
        col("doc_a"),
        col("doc_b"),
        col("n_common"),
        (col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"),
      )
      .filter(col("jaccard") >= threshold)

  /** Memoized word-shingle [[pairCommonCounts]] — one persisted copy
    * of the inverted-index pair table serves every exact-set scorer
    * over the same (dir, k, maxDf) config (at deployment scale: a
    * stored pair table read by each downstream policy).
    */
  private def wordCommonCountsShared(
      spark: SparkSession,
      dir: String,
      k: Int,
      maxDf: Int,
  ): DataFrame =
    commonCountsCache(spark, s"$dir|$k|$maxDf") {
      pairCommonCounts(
        docs(spark, dir)
          .filter(size(split(col("text"), " ")) >= k)
          .select(col("doc_id"), shingles(col("text"), k).as("sh")),
        maxDf,
      )
    }

  /** Character-n-gram variant of [[ngramJaccardPairs]] — the shape
    * used for languages without whitespace tokenization. Identical
    * inverted-index pipeline over [[charShingles]].
    */
  def charNgramJaccardPairs(
      spark: SparkSession,
      dir: String,
      k: Int = 5,
      maxDf: Int = 50,
      threshold: Double = 0.2,
  ): DataFrame =
    jaccardPairsFromShingles(
      docs(spark, dir)
        .filter(length(col("text")) >= k)
        .select(col("doc_id"), charShingles(col("text"), k).as("sh")),
      maxDf,
      threshold,
    )

  private def jaccardPairsFromShingles(
      withShingles: DataFrame,
      maxDf: Int,
      threshold: Double,
  ): DataFrame =
    pairCommonCounts(withShingles, maxDf)
      .select(
        col("doc_a"),
        col("doc_b"),
        col("n_common"),
        (col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"),
      )
      .filter(col("jaccard") >= threshold)

  /** The shared inverted-index core of the shingle-set scorers:
    * (doc_a, n_a, doc_b, n_b, n_common) per candidate pair — exactly
    * two posting exchanges regardless of which score ([[ngramJaccardPairs]]
    * Jaccard or [[ngramContainmentPairs]] containment) projects it.
    */
  private def pairCommonCounts(
      withShingles: DataFrame,
      maxDf: Int,
  ): DataFrame = {
    // Inverted index with the doc's shingle-set size computed
    // map-side (size(sh)) and carried INSIDE the posting lists: the
    // pair expansion then emits (doc, n_sh) for both sides, so the
    // final Jaccard needs no doc-size table, no extra groupBy, and no
    // joins — two shuffles total (posting lists, pair counts), versus
    // the self-join formulation's two index shuffles plus two size
    // joins. Work per shingle stays bounded by maxDf² (stop-shingle
    // cutoff); the emitted pair count is exactly what the shingle
    // self-join would have produced post-filter.
    // the (shingle, n_sh) pairs come out of ONE generator expression
    // with the shingle array let-bound: `size(sh)` as a separate
    // projection would re-evaluate the whole shingle build (see
    // bindArray), and a projection collapsed above the Generate can
    // degrade that to once per exploded row
    val index = withShingles
      .select(
        col("doc_id"),
        explode(bindArray(col("sh")) { a =>
          transform(a, x => struct(x.as("shingle"), size(a).cast("long").as("n_sh")))
        }).as("z"),
      )
      .select(struct(col("doc_id"), col("z.n_sh").as("n_sh")).as("d"), col("z.shingle").as("shingle"))
    // sort_array orders by doc_id (first struct field; unique per
    // posting list), preserving the a<b pair convention. The pair
    // expansion is the native one-pass PostingPairsExpr — the
    // interpreted composed form it replaces is kept as the executable
    // spec in [[postingPairsComposed]] (equality pinned in
    // ExtensionsSpec).
    val pairs = index
      .groupBy("shingle")
      .agg(sort_array(collect_list(col("d"))).as("ds"))
      .filter(size(col("ds")).between(2, maxDf))
      .select(explode(graft.functions.PostingPairsExpr(col("ds"))).as("p"))
      .select(col("p.doc_a"), col("p.n_a"), col("p.doc_b"), col("p.n_b"))
    // n_a/n_b are functionally dependent on doc_a/doc_b — grouping on
    // all four keeps them available without an aggregate or join
    pairs
      .groupBy("doc_a", "n_a", "doc_b", "n_b")
      .agg(count(lit(1)).as("n_common"))
  }

  /** Asymmetric containment pairs over word shingles:
    * |A∩B| / min(|A|,|B|) — the near-dup score Jaccard misses when a
    * short document is wholly embedded in a long one (quote farms,
    * boilerplate wrappers: the union term drowns the overlap). Same
    * inverted-index pipeline as [[ngramJaccardPairs]] (the common
    * counts and set sizes ride the identical two-exchange plan); only
    * the final scoring differs, as an exact scaled-integer floor
    * division. 10^6·n_common wraps 64 bits only past ~10^13 shingles
    * per document — not a real document.
    */
  def ngramContainmentPairs(
      spark: SparkSession,
      dir: String,
      k: Int = 3,
      maxDf: Int = 50,
      minContainmentX1e6: Long = 500000L,
  ): DataFrame =
    wordCommonCountsShared(spark, dir, k, maxDf)
      .select(
        col("doc_a"),
        col("doc_b"),
        col("n_common"),
        expr("(1000000 * n_common) div least(n_a, n_b)").cast("long").as("containment_x1e6"),
      )
      .filter(col("containment_x1e6") >= minContainmentX1e6)

  /** MOSS-style winnowing fingerprint matching: the cross-document
    * consumer of [[TextAnalysis.winnowedFingerprints]] — pairs of
    * documents sharing >= `minShared` SELECTED fingerprints, scored
    * by containment over the smaller fingerprint set. Winnowing's
    * guarantee (any sufficiently long textual match shares a selected
    * fingerprint) makes this the sparse alternative to the full
    * shingle index: only ~1/w of the grams ever enter the inverted
    * index, which is exactly why MOSS scales — and the same
    * guarantee bounds what the sparsity can miss.
    *
    * Scale shape: identical to [[pairCommonCounts]] — per-doc
    * fingerprint-set sizes computed map-side and carried INSIDE the
    * posting lists (no size table, no joins), stop-fingerprint
    * cutoff at df > `maxDf` bounds per-posting pair work, native
    * one-pass PostingPairsExpr expansion. Two shuffles total
    * (posting lists, pair counts); the winnowing itself is per-row
    * array math at scan speed.
    */
  def winnowPairs(
      spark: SparkSession,
      dir: String,
      maxDf: Int = 50,
      minShared: Int = 2,
  ): DataFrame = {
    val index = docs(spark, dir)
      .select(
        col("doc_id"),
        explode(bindArray(graft.operators.TextAnalysis.winnowedFingerprints(col("text"))) { a =>
          transform(a, x => struct(x.as("fp"), size(a).cast("long").as("n_sh")))
        }).as("z"),
      )
      .select(struct(col("doc_id"), col("z.n_sh").as("n_sh")).as("d"), col("z.fp").as("fp"))
    index
      .groupBy("fp")
      .agg(sort_array(collect_list(col("d"))).as("ds"))
      .filter(size(col("ds")).between(2, maxDf))
      .select(explode(graft.functions.PostingPairsExpr(col("ds"))).as("p"))
      .select(col("p.doc_a"), col("p.n_a"), col("p.doc_b"), col("p.n_b"))
      .groupBy("doc_a", "n_a", "doc_b", "n_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(
        col("doc_a"),
        col("doc_b"),
        col("n_shared"),
        expr("(1000000 * n_shared) div least(n_a, n_b)").cast("long").as("overlap_x1e6"),
      )
  }

  /** Shingle document-frequency histogram against the stop-shingle
    * cutoff — the recall audit of the exact-Jaccard inverted-index
    * family ([[ngramJaccardPairs]] / [[ngramContainmentPairs]]).
    *
    * The absolute `maxDf` guard is what bounds per-shingle pair work
    * (≤ maxDf² regardless of corpus size) and it is the right guard
    * at 100 TB, where the shingle space is effectively unbounded and
    * a shingle's chance df stays flat as the corpus grows. But the
    * guard trades recall silently: every pair whose overlap lives
    * only in >maxDf shingles is simply never emitted. The round-8
    * scale rehearsal measured the failure mode end-to-end on the
    * synthetic corpus, whose 30-word vocabulary BOUNDS the 3-gram
    * space (~27k shingles): mean df grows linearly with corpus size
    * (~9.6 at 5k docs → ~96 at 50k docs), pair work peaks as the df
    * distribution straddles the cutoff, and past it the pair gates
    * return ZERO rows at their usual speed — indistinguishable from
    * "no duplicates" without this audit.
    *
    * Output is bounded by config, not data: one row per df value up
    * to maxDf, plus a single overflow bin (maxDf+1) carrying the
    * dropped posting mass. `kept` marks the df range the pair
    * pipeline actually consumes (2..maxDf; df=1 shingles cannot form
    * a pair). Read it like lshBandStats: overflow-bin mass ≫ kept
    * mass means the corpus (or a boilerplate family) has saturated
    * the cutoff and the exact-Jaccard path is blind — switch to
    * MinHash-LSH banding, whose hot buckets the salted skew guard
    * absorbs, or raise maxDf deliberately, paying its pair bound.
    *
    * Scale: one combine-shuffle to shingle df (map-side partials),
    * one to the ≤ maxDf+1 histogram bins. Never expands a pair.
    */
  def shingleDfStats(
      spark: SparkSession,
      dir: String,
      k: Int = 3,
      maxDf: Int = 50,
  ): DataFrame =
    dfStatsOf(
      docs(spark, dir)
        .filter(size(split(col("text"), " ")) >= k)
        .select(explode(shingles(col("text"), k)).as("shingle")),
      maxDf,
    )

  /** [[shingleDfStats]] over character shingles — the audit for the
    * [[charNgramJaccardPairs]] family, whose (larger but still
    * finite) shingle space saturates its own cutoff later than the
    * word family's: the round-8 rehearsal measured the word gates
    * already past saturation (zero rows) at a corpus size where the
    * char gate was still in the pre-saturation pair-work peak.
    */
  def charShingleDfStats(
      spark: SparkSession,
      dir: String,
      k: Int = 5,
      maxDf: Int = 50,
  ): DataFrame =
    dfStatsOf(
      docs(spark, dir)
        .filter(length(col("text")) >= k)
        .select(explode(charShingles(col("text"), k)).as("shingle")),
      maxDf,
    )

  private def dfStatsOf(exploded: DataFrame, maxDf: Int): DataFrame =
    exploded
      .groupBy("shingle")
      .agg(count(lit(1)).as("df"))
      .groupBy(
        when(col("df") <= maxDf, col("df")).otherwise(lit(maxDf + 1).cast("long"))
          .as("df_bin"))
      .agg(count(lit(1)).as("n_shingles"), sum("df").as("posting_mass"))
      .select(
        col("df_bin"),
        col("n_shingles"),
        col("posting_mass"),
        col("df_bin").between(2, maxDf).as("kept"),
      )

  /** Degree histogram of the MinHash-LSH near-dup graph: how many
    * documents have exactly d verified near-duplicates — the
    * one-glance duplication profile of a corpus (a heavy tail means
    * boilerplate families; mass at d=1 means simple pairs), and the
    * input to choosing between pair-removal and cluster-collapse
    * dedup policies.
    *
    * Scale shape (100 TB): degrees aggregate the PAIR set (already
    * sub-quadratic via LSH banding), not the corpus; the histogram
    * aggregates the |degree-values| table. Both shuffles carry
    * count partials only.
    */
  def degreeHistogram(spark: SparkSession, dir: String): DataFrame = {
    val p = minhashLshPairsShared(spark, dir)
    p.select(col("doc_a").as("doc_id"))
      .union(p.select(col("doc_b").as("doc_id")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("degree"))
      .groupBy("degree")
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Cross-source shingle-overlap matrix: exact Jaccard similarity
    * between the distinct-shingle SETS of every source pair — the
    * corpus-diversity diagnostic that catches two "different" crawls
    * feeding the mix the same content (and the source-level
    * counterpart of the per-document Jaccard pairs).
    *
    * Scale shape (100 TB): ONE corpus pass — explode straight into
    * `groupBy(shingle).collect_set(source)` (the partial collect_set
    * dedups map-side, so the single wide shuffle carries ≤
    * |sources|-bounded sets, and a separate distinct pre-shuffle
    * would only add a second corpus-wide exchange). Every downstream
    * frame — the per-source distinct-shingle counts AND the pair
    * expansion — derives from that one |shingles|-row posting-list
    * frame, so the identical exchange subtree is planned once and
    * reused (pre-rewrite this gate scanned + exploded the corpus
    * three times: pairs once, the `n` side of each join again). The
    * posting lists are bounded by |sources|, so the pair expansion is
    * map-side array math with no stop-shingle skew risk (unlike
    * document posting lists, which need the maxDf cutoff). Holds
    * while |sources| is a curated mix-table cardinality (tens to
    * thousands); for web-scale domain counts, sample shingles or
    * sketch the sets instead.
    */
  def sourceShingleOverlap(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    // |shingles| rows × |sources|-bounded source sets, from one
    // corpus-wide combine shuffle; serves every consumer below
    val bySh = docs(spark, dir)
      .filter(size(split(col("text"), " ")) >= k)
      .select(col("source"), explode(shingles(col("text"), k)).as("shingle"))
      .groupBy("shingle")
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
    // per-source distinct-shingle counts from the posting lists (each
    // shingle contributes 1 to every member source) — |shingles| rows
    // in, |sources| rows out, no second corpus pass
    val ns = bySh
      .select(explode(col("srcs")).as("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"))
    // sorted source list per shingle → ordered pairs via slice/transform
    // (composed builtins: the list is |sources|-bounded, so the one-pass
    // native expression the doc pipeline needs is unnecessary here)
    val pairs = bySh
      .filter(size(col("srcs")) >= 2)
      .select(
        explode(bindArray(col("srcs")) { a =>
          flatten(
            transform(
              a,
              (x, i) => transform(slice(a, i + 2, size(a)), y => struct(x.as("a"), y.as("b"))),
            )
          )
        }).as("p"),
      )
      .groupBy(col("p.a").as("src_a"), col("p.b").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(ns.select(col("source").as("src_a"), col("n").as("na")), Seq("src_a"))
      .join(ns.select(col("source").as("src_b"), col("n").as("nb")), Seq("src_b"))
      .select(
        col("src_a"),
        col("src_b"),
        col("n_common"),
        (col("na") + col("nb") - col("n_common")).as("n_union"),
        (col("n_common").cast("double") / (col("na") + col("nb") - col("n_common"))).as("jaccard"),
      )
  }

  /** Per-source duplicate shingle mass: total 3-word-shingle
    * occurrences (WITH multiplicity — unlike [[shingles]], repeats
    * count), distinct shingles, and the duplicated fraction — the
    * corpus-level "how much of this source is repeated text" audit
    * that decides whether a source needs pairwise dedup at all, and
    * the calibration target the MinHash family's recall is judged
    * against. The 10^6-scaled fraction rides DECIMAL(38,0)/HUGEINT
    * (10^6 × a 10^13-shingle source wraps 64 bits).
    *
    * Scale shape: the shingle expansion is map-side (let-bound
    * sequence transform, no array materialized per row beyond the
    * token count); ONE (source, shingle) combine shuffle with
    * map-side partial counts carries the corpus; the per-source
    * reduction is tiny.
    */
  def shingleDupMass(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val toks = split(col("text"), " ")
    val sh = bindArray(toks) { ts =>
      when(
        size(ts) >= k,
        transform(
          sequence(lit(0), size(ts) - k),
          i => concat_ws(" ", (0 until k).map(j => element_at(ts, i + j + 1)): _*),
        ),
      ).otherwise(array().cast("array<string>"))
    }
    docs(spark, dir)
      .select(col("source"), explode(sh).as("shingle"))
      .groupBy("source", "shingle")
      .agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum(col("c")).as("n_shingles"), count(lit(1)).as("n_distinct"))
      .select(
        col("source"),
        col("n_shingles"),
        col("n_distinct"),
        expr(
          "CAST((CAST(1000000 AS DECIMAL(38,0)) * (n_shingles - n_distinct)) div n_shingles AS BIGINT)"
        ).as("dup_frac_x1e6"),
      )
  }

  /** Span-level duplicate coverage per document: how many of a
    * document's token positions sit inside at least one k-token span
    * whose exact text also appears in ≥ minDf OTHER-or-same distinct
    * documents — the span-granularity dedup criterion (remove or
    * down-weight the repeated SPAN, not the whole document) that
    * set-similarity scores miss: a document can be 30% boilerplate
    * yet Jaccard-dissimilar to everything. Emits, per document with
    * at least one such span: total tokens, hot-span starts, covered
    * token count, and the 10⁶-scaled covered fraction (exact integer
    * floor division, oracle-hashable).
    *
    * Covered-length rule: hot span starts are strictly increasing
    * positions, each covering [pos, pos+k-1]; the union length is
    * Σ least(k, pos − prev_pos) (first span contributes k), computed
    * with ONE lag window partitioned by doc_id over the HOT postings
    * only — per-doc row counts are bounded by document length, the
    * user-session window discipline.
    *
    * Scale shape: positional postings explode map-side (let-bound
    * token array, no per-row re-tokenize); shingle df is one
    * (shingle, doc) combine shuffle + count; hot postings join on
    * the shingle hash; the lag window shuffles only postings that
    * survived the df filter. The df threshold bounds nothing here
    * (unlike the pair gates there is no quadratic to guard — the
    * output is per-position, linear); it is purely the duplication
    * criterion.
    */
  /** Memoized hot-shingle set for the span gates: the DISTINCT
    * k-token shingles whose document frequency reaches `minDf` —
    * the |vocab|ᵏ-bounded duplication criterion BOTH span gates
    * ([[spanCoverage]], [[spanScrub]]) derive by their own full
    * postings explode + countDistinct combine shuffle per call
    * (round 14). The r13 attempt that memoized the POSTINGS was
    * measured slower (the hot minority is ~the full posting table on
    * this corpus — see the round-9 note in [[spanCoverage]]); the
    * SHINGLE SET is the opposite regime: tiny output, and sharing it
    * removes one corpus-wide explode + distinct-aggregate exchange
    * per consumer. Only the default (k = 3, minDf = 3) gate shape is
    * memoized; other shapes compute directly. Dropped in
    * [[invalidate]] (first consumer of a timed run pays the build).
    */
  private val hotSpanCache = graft.util.Artifacts.memo(this, "graft_hot_spans")
  private def hotSpanShingles(
      spark: SparkSession,
      dir: String,
      k: Int,
      minDf: Int,
      postings: => DataFrame,
  ): DataFrame = {
    def build: DataFrame = postings
      .groupBy("shash")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf)
      .select("shash")
    if (k == 3 && minDf == 3) hotSpanCache(spark, dir)(build)
    else build
  }

  /** Memoized NARROW positional span postings
    * (doc_id, n_tokens, pos, shash) — the r15 attack on the span
    * gates' residual cost (the r14 verdict's named item): after the
    * shared hot-shingle set landed, each gate still paid its own
    * full corpus explode of WIDE (doc_id, pos, "w1 w2 w3") string
    * postings — three explodes per timed run (the df build + one
    * join side per gate). The r13 postings-sharing attempt memoized
    * exactly those wide string rows and was measured SLOWER (the
    * round-9 note below); this is the regime that revert did NOT
    * test: the shingle is projected to its 64-bit xxhash64 BEFORE
    * the rows are materialized (guide §2.3 narrower types / §6), so
    * the cached relation carries three longs + an int per row
    * (~28 B) instead of a ~25-char string row, and every downstream
    * aggregate/join keys on longs. One corpus explode per timed run
    * serves the df build and both gates' join sides.
    *
    * Hash identity: shingle equality is decided by xxhash64 of the
    * shingle text rather than the text itself. Distinct shingles
    * numbering ≪ 2³² per corpus make a 64-bit collision
    * astronomically unlikely; the oracle hash-match at every shipped
    * SF (and the sf1.0 rehearsal) verifies the realized corpora are
    * collision-free, so the gates' declared results are unchanged.
    * Only the default gate shape (k = 3) is memoized; other shapes
    * compute the same narrow postings directly. Dropped in
    * [[invalidate]] (first consumer of a timed run pays the build).
    */
  private val spanPostingsCache = graft.util.Artifacts.memo(this, "graft_span_postings")
  private def spanPostings(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val toks = split(col("text"), " ")
    def build: DataFrame = docs(spark, dir)
      .filter(size(toks) >= k)
      .select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        explode(bindArray(toks) { ts =>
          transform(
            sequence(lit(0), size(ts) - k),
            i =>
              struct(
                i.as("pos"),
                xxhash64(
                  concat_ws(" ", (0 until k).map(j => element_at(ts, i + j + 1)): _*))
                  .as("shash"),
              ),
          )
        }).as("z"),
      )
      .select(col("doc_id"), col("n_tokens"), col("z.pos"), col("z.shash"))
    if (k == 3) spanPostingsCache(spark, dir)(build)
    else build
  }

  def spanCoverage(
      spark: SparkSession,
      dir: String,
      k: Int = 3,
      minDf: Int = 3,
  ): DataFrame = {
    // NOTE (round-9 measurement, superseded in r15): materializing
    // the WIDE string postings (localCheckpoint) was measured SLOWER
    // than recomputing the explode (2.13 s vs 1.29 s isolated at
    // sf0.1) and the r13 revert stood. The narrow HASHED postings
    // artifact ([[spanPostings]]) is the other regime: ~28 B/row,
    // long keys, three consumers per timed run.
    val postings = spanPostings(spark, dir, k)
    val hot = hotSpanShingles(spark, dir, k, minDf, postings.select("doc_id", "shash"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy(col("pos"))
    postings
      .join(hot, Seq("shash"))
      .withColumn(
        "covered",
        least(lit(k), col("pos") - lag(col("pos"), 1, -k).over(w)),
      )
      .groupBy("doc_id")
      .agg(
        // BIGINT like the oracle's len() (size() is int32)
        max(col("n_tokens")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_hot_spans"),
        sum(col("covered")).cast("long").as("covered_tokens"),
      )
      .withColumn(
        "covered_x1e6",
        expr("CAST((1000000 * covered_tokens) div n_tokens AS BIGINT)"),
      )
  }

  /** Span-level dedup SCRUB — the removal step on top of
    * [[spanCoverage]]'s measurement (the exact-substring-dedup
    * transform: drop every token covered by a duplicated span, keep
    * the rest of the document). A token at position p is removed iff
    * some hot k-shingle (df ≥ minDf) starts at s with s ≤ p < s+k in
    * the same document. Emits per doc: token counts before/after and
    * the md5 of the scrubbed text — the byte-level pin rides the
    * hash, the text itself never enters the oracle compare (the PII
    * pattern).
    *
    * Scale shape: covered positions expand hot postings by ≤ k then
    * dedup on (doc, pos) — linear in hot postings, never in the
    * corpus; the token re-assembly is ONE doc_id shuffle of (pos,
    * token) pairs (the cdc_chunk_dedup shape) with the ordered
    * re-concat done by the cross-engine array_sort/string_agg rule;
    * the final left join returns fully-scrubbed and span-free docs
    * alike (string_agg over zero rows is NULL on both engines →
    * coalesce to the empty string).
    */
  def spanScrub(
      spark: SparkSession,
      dir: String,
      k: Int = 3,
      minDf: Int = 3,
  ): DataFrame = {
    val toks = split(col("text"), " ")
    // the narrow hashed postings artifact — shared with
    // [[spanCoverage]] and the df build (see [[spanPostings]])
    val postings = spanPostings(spark, dir, k)
    val hot = hotSpanShingles(spark, dir, k, minDf, postings.select("doc_id", "shash"))
    val covered = postings
      .join(hot, Seq("shash"))
      .select(
        col("doc_id").as("cdoc"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("cpos"))
      .distinct()
    val tokens = docs(spark, dir)
      .select(col("doc_id"), posexplode(toks).as(Seq("pos", "w")))
    val aggd = tokens
      .join(
        covered,
        col("doc_id") === col("cdoc") && col("pos") === col("cpos"),
        "left_anti")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("kept_tokens"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("w")))), x => x.getField("w")),
          " ").as("scrubbed"),
      )
    docs(spark, dir)
      .select(col("doc_id"), size(toks).cast("long").as("n_tokens"))
      .join(aggd, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        (col("n_tokens") - coalesce(col("kept_tokens"), lit(0L))).as("removed_tokens"),
        md5(coalesce(col("scrubbed"), lit(""))).as("scrub_md5"),
      )
  }

  /** Non-overlapping `width`-token segment rows of `d` (doc_id, text)
    * — the "line"/paragraph unit of CCNet-style boilerplate removal,
    * adapted to the newline-free corpus exactly as the RAG chunker
    * is (fixed-width windows; the trailing partial segment is its own
    * unit). Map-side explode: seg_pos is the 0-based token offset
    * (the reassembly sort key), h the md5 of the segment text.
    */
  private[graft] def segmentRows(d: DataFrame, width: Int): DataFrame =
    d.select(
      col("doc_id"),
      explode(bindArray(split(col("text"), " ")) { ts =>
        transform(
          sequence(lit(0), size(ts) - 1, lit(width)),
          st =>
            struct(
              st.cast("long").as("seg_pos"),
              size(slice(ts, st + 1, lit(width))).cast("long").as("n_tok"),
              array_join(slice(ts, st + 1, lit(width)), " ").as("txt"),
            ),
        )
      }).as("z"),
    ).select(
      col("doc_id"),
      col("z.seg_pos"),
      col("z.n_tok"),
      col("z.txt"),
      md5(col("z.txt")).as("h"),
    )

  /** CCNet-style boilerplate removal: hash every non-overlapping
    * `width`-token segment, count the DISTINCT documents each hash
    * appears in, and scrub segments shared by ≥ `dfMin` docs (repeated
    * navigation blocks, injected templates, exact-dup bodies). Emits
    * per doc the segment counts before/after, kept token count, and
    * the md5 of the reassembled clean text (kept segments in
    * seg_pos order — the byte-level pin rides the hash, the PII
    * pattern). A within-doc repeat (df = 1) is NOT boilerplate and
    * stays, both occurrences.
    *
    * This is the segment-granular sibling of [[spanScrub]] (the
    * Lee-et-al substring scrub): postings here are N/width rows
    * instead of one per token position, the removal unit is the
    * whole segment, and the per-doc reassembly needs no second
    * corpus scan — every doc's segments flow through ONE left join
    * against the bounded hot-hash table and ONE doc_id aggregation
    * (flag + ordered re-concat in the same pass). At 100 TB: the
    * hash-df combine is map-side partial over fixed-width keys, the
    * hot table is the df-filtered minority that a deployment stores
    * as its boilerplate index (the streaming twin probes exactly
    * that artifact at ingest).
    */
  def boilerplateScrub(
      spark: SparkSession,
      dir: String,
      width: Int = 8,
      dfMin: Int = 2,
  ): DataFrame = {
    val seg = segmentRows(docs(spark, dir), width)
    val hot = seg
      .groupBy("h")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= dfMin)
      .select(col("h"), lit(1).as("is_bp"))
    seg
      .join(hot, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_seg"),
        sum(when(col("is_bp").isNull, 1L).otherwise(0L)).as("n_seg_kept"),
        sum(when(col("is_bp").isNull, col("n_tok")).otherwise(0L)).as("n_tok_kept"),
        md5(
          array_join(
            transform(
              array_sort(
                collect_list(when(col("is_bp").isNull, struct(col("seg_pos"), col("txt"))))),
              x => x.getField("txt"),
            ),
            " ",
          )
        ).as("clean_md5"),
      )
  }

  /** Source-level duplication matrix over the VERIFIED near-dup
    * pairs: how many near-dup pairs each unordered (source, source)
    * cell carries — the feed-level view of [[minhashLshPairs]]
    * ([[sourceShingleOverlap]] measures shingle-set overlap between
    * feeds; this counts actual verified duplicate PAIRS, which is
    * what decides "drop feed B, it re-serves feed A"). Rides the
    * memoized pair artifact; sources attach with ONE corpus exchange
    * (the union-fetch shape — a per-role join would fetch the source
    * column twice).
    */
  def sourceDupMatrix(spark: SparkSession, dir: String): DataFrame =
    attachPairRoles(
      minhashLshPairsShared(spark, dir).select("doc_a", "doc_b"),
      // PLAIN read, not Tables.parallel: a trivial two-column
      // projection gains nothing from the local rebalance, and the
      // side is broadcast-destined at fixture scale (the quarantine
      // wasted-exchange class)
      Tables(spark, dir, "documents").select(col("doc_id"), col("source")),
      "source",
    )
      .select(
        least(col("source_a"), col("source_b")).as("source_a"),
        greatest(col("source_a"), col("source_b")).as("source_b"),
      )
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))

  /** The maintenance loop for the boilerplate index
    * ([[graft.streaming.StreamingQueries.boilerplateScrubStream]]
    * probes a STATIC segment-hash index; this is the periodic refresh
    * that folds what the stream landed into that index before the
    * next era begins — the [[minhashRefreshFoldedProbe]] pattern
    * applied to an AGGREGATE index). Three eras by doc_id: stored
    * (≤ 70% of max), landed increment (70%..85%], next increment
    * (> 85%) that probes the refreshed index.
    *
    * The fold exploits count additivity over disjoint doc sets:
    * per-hash DISTINCT-doc counts of the stored era plus the
    * increment's partials sum to the full-corpus df — so the refresh
    * appends the increment's (h, df) partial rows to the stored
    * count table and the consumer combines, the stored CORPUS never
    * rescanned (at 100 TB: a partition append to the count artifact
    * + a merge-on-read sum). Because the eras are doc_id-disjoint,
    * the folded index is value-equal to a from-scratch rebuild —
    * pinned row-for-row vs the `rebuild = true` twin in
    * DedupClustersSpec, and the probe's scrubbed-segment set is the
    * DuckDB oracle (which computes the rebuilt form).
    */
  def boilerplateRefreshProbe(
      spark: SparkSession,
      dir: String,
      width: Int = 8,
      dfMin: Int = 2,
      rebuild: Boolean = false,
  ): DataFrame = {
    val cuts = docs(spark, dir)
      .agg(
        expr("7 * max(doc_id) DIV 10").as("c1"),
        expr("85 * max(doc_id) DIV 100").as("c2"),
      )
      .head
    val (c1, c2) = (cuts.getLong(0), cuts.getLong(1))
    val d = docs(spark, dir)
    def dfOver(slice: DataFrame): DataFrame =
      segmentRows(slice, width).groupBy("h").agg(countDistinct(col("doc_id")).as("df"))
    val counts =
      if (rebuild) dfOver(d.filter(col("doc_id") <= c2))
      else
        // the fold: stored partials ∪ the landed increment's partials,
        // summed — each document segmented exactly once, old never rescanned
        dfOver(d.filter(col("doc_id") <= c1))
          .unionByName(dfOver(d.filter(col("doc_id") > c1 && col("doc_id") <= c2)))
          .groupBy("h")
          .agg(sum(col("df")).as("df"))
    val hot = counts.filter(col("df") >= dfMin).select("h")
    segmentRows(d.filter(col("doc_id") > c2), width)
      .join(hot, Seq("h"), "left_anti")
      .select(col("doc_id"), col("seg_pos"), col("n_tok"), col("h"))
  }

  /** Shared-prefix families: documents opening with the SAME first
    * five tokens — the boilerplate-header / template detector (crawl
    * corpora are full of "terms of service" and scraper-injected
    * preambles that full-document MinHash misses when bodies
    * diverge). Per source: docs total, docs whose prefix is shared
    * corpus-wide by ≥2 documents, distinct such prefix families
    * touching the source, and the largest family size seen.
    *
    * Scale shape: the prefix is a map-side projection (first k
    * tokens only — the text never shuffles); family sizes come from
    * ONE count window partitioned by prefix (a join formulation
    * would shuffle the same key twice); the per-source rollup's
    * count(DISTINCT prefix) expands only rows already known to be in
    * a family.
    */
  def prefixFamilies(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs(spark, dir)
      .select(
        col("source"),
        concat_ws(" ", slice(split(col("text"), " "), 1, k)).as("prefix"),
      )
      .withColumn("fam", count(lit(1)).over(Window.partitionBy("prefix")))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("fam") >= 2, 1L).otherwise(0L)).as("n_in_family"),
        countDistinct(when(col("fam") >= 2, col("prefix"))).as("n_families"),
        max(when(col("fam") >= 2, col("fam")).otherwise(0L)).as("max_family"),
      )
  }

  /** Dedup yield curve: walking the corpus in ingest order (doc_id),
    * per 1000-doc bucket, how many documents are content-novel
    * (first exact occurrence of their md5) vs repeats, with the
    * cumulative novelty rate — the "is this crawl still paying"
    * curve that decides when continued ingestion of a source stops
    * being worth the compute. The 10^6-scaled cumulative ratio rides
    * DECIMAL(38,0)/HUGEINT (10^6 × a 10^13-doc corpus wraps 64
    * bits).
    *
    * Scale shape: ONE corpus scan; first-occurrence is a min window
    * partitioned by content hash (same exchange a groupBy would pay,
    * but keeps the per-doc row for bucketing without a join back);
    * then a |buckets|-key combine and the tiny cumulative window
    * over |buckets| rows.
    */
  def dedupYieldCurve(spark: SparkSession, dir: String, bucket: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("first_id", min(col("doc_id")).over(Window.partitionBy("h")))
      .groupBy(expr(s"doc_id div $bucket").as("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") === col("first_id"), 1L).otherwise(0L)).as("n_novel"),
      )
      .withColumn(
        "cum_docs",
        sum(col("n_docs")).over(Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, 0)),
      )
      .withColumn(
        "cum_novel",
        sum(col("n_novel")).over(Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, 0)),
      )
      .select(
        col("bucket"),
        col("n_docs"),
        col("n_novel"),
        col("cum_docs"),
        col("cum_novel"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * cum_novel) div cum_docs AS BIGINT)")
          .as("novelty_x1e6"),
      )
  }

  /** MinHash sketch calibration matrix: for every VERIFIED near-dup
    * pair, the signature-agreement count (the sketch's own similarity
    * estimate, 0..numHashes) against the bucketed TRUE Jaccard — the
    * "is 12 hashes enough" audit that decides the numHashes/bands
    * spend before scaling the pipeline 100×. A well-behaved sketch
    * concentrates near the diagonal; mass in the off-diagonal corners
    * is estimation error the banding's S-curve will amplify.
    *
    * Determinism: agreement counts are integers over md5-string
    * minhashes (identical in any engine), and the true-Jaccard bucket
    * is the integer quotient (10·n_common) div n_union — no floats.
    *
    * Scale shape: rides the memoized pair artifact (bounded by the
    * banding); signatures recompute in one corpus scan and join the
    * |pairs|-row side twice — AQE broadcasts the pair side while it
    * fits. Output is a ≤ (numHashes+1)×11 matrix.
    */
  def minhashCalibration(spark: SparkSession, dir: String, numHashes: Int = 12): DataFrame = {
    val sigs = docs(spark, dir)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), minhashSignature(shingles(col("text")), numHashes).as("sig"))
    minhashLshPairsShared(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("n_union"))
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .select(
        size(filter(zip_with(col("sig_a"), col("sig_b"), (a, b) => a === b), x => x))
          .cast("long")
          .as("n_agree"),
        expr("(10 * n_common) div n_union").as("true_bucket"),
      )
      .groupBy("n_agree", "true_bucket")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Quality × duplication calibration: docs bucketed by an integer
    * quality score (stopword ratio ×1000, fixed 100-wide bins) with
    * the exact-dup fraction per bucket — the "are low-quality docs
    * also the duplicated ones" audit that tells a curation pipeline
    * whether its quality filter and its dedup pass are removing the
    * same mass (run one first and the other's yield collapses) or
    * independent mass (both pay their way).
    *
    * Scale shape: one corpus scan; the dup flag is a count window
    * over the content hash (same exchange as [[dedupYieldCurve]]'s
    * first-occurrence window); fixed score bins mean a bounded-key
    * hash aggregation, never a global ntile sort.
    */
  def qualityDupCalibration(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs(spark, dir)
      .select(
        col("doc_id"),
        md5(col("text")).as("h"),
        graft.functions.Let.bindArray(TextAnalysis.tokens(col("text"))) { toks =>
          struct(
            size(toks).cast("long").as("n_tok"),
            size(filter(toks, t => t.isin(TextAnalysis.stopwordsEn.map(lit(_)): _*)))
              .cast("long")
              .as("n_stop"),
          )
        }.as("s"),
      )
      .select(col("doc_id"), col("h"), expr("(1000 * s.n_stop) div s.n_tok").as("sx"))
      .withColumn("fam", count(lit(1)).over(Window.partitionBy("h")))
      .groupBy(expr("sx div 100").as("q_bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("fam") >= 2, 1L).otherwise(0L)).as("n_dup_docs"),
      )
      .withColumn(
        "dup_x1e6",
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n_dup_docs) div n_docs AS BIGINT)"),
      )
  }

  /** Per-SOURCE dedup yield curves — [[dedupYieldCurve]] broken out
    * by ingest source: each source's cumulative novelty against the
    * WHOLE corpus seen so far (first occurrence is the global
    * min-doc_id per content hash, so a source re-crawling another
    * source's content scores zero novelty for it). The per-source
    * curve is the "which feed should we keep paying for" decision
    * table the global curve can't answer.
    *
    * Scale shape: strictly better than the global curve — the same
    * single corpus scan and min-over-hash window, but the cumulative
    * windows are PARTITIONED by source (parallel |buckets|-row
    * prefix sums per source, never the global curve's single-reducer
    * ordered window).
    */
  def sourceYieldCurves(spark: SparkSession, dir: String, bucket: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cum = Window
      .partitionBy("source")
      .orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    docs(spark, dir)
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      .withColumn("first_id", min(col("doc_id")).over(Window.partitionBy("h")))
      .groupBy(col("source"), expr(s"doc_id div $bucket").as("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") === col("first_id"), 1L).otherwise(0L)).as("n_novel"),
      )
      .withColumn("cum_docs", sum(col("n_docs")).over(cum))
      .withColumn("cum_novel", sum(col("n_novel")).over(cum))
      .select(
        col("source"),
        col("bucket"),
        col("n_docs"),
        col("n_novel"),
        col("cum_docs"),
        col("cum_novel"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * cum_novel) div cum_docs AS BIGINT)")
          .as("novelty_x1e6"),
      )
  }
}
