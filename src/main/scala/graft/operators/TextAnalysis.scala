package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language-ID heuristics, document
  * fingerprinting. All are pure map-side column expressions (codegen
  * inside WholeStageCodegen, no shuffle, no UDFs) — at 100 TB these
  * run at scan speed; the only shuffles are the final small
  * aggregations.
  *
  * Every function is built so an identical computation is expressible
  * in DuckDB SQL for the oracle gate (see SparkEntry.oracleSql):
  * integer counts and ratios of identical integers only — no
  * cross-engine float-drift paths.
  */
object TextAnalysis {

  /** Whitespace tokens (keeps empties on repeated spaces — same as
    * DuckDB string_split).
    */
  def tokens(text: Column): Column = split(text, " ")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish regex token count: runs of lowercase letters (the
    * corpus is lowercase words; extend the class for real text).
    */
  def alphaTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+"), lit(0)))

  /** English-ish stopwords present in the synthetic corpus. */
  val stopwordsEn: Seq[String] = Seq("the", "a", "of", "and", "to")
  /** Marker sets for the language-ID heuristic. */
  val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "es" -> Seq("el", "la", "de"),
    "de" -> Seq("der", "die", "das"),
    "fr" -> Seq("le", "les", "une"),
  )

  /** N-gram-marker language ID: score each language by marker-token
    * hits, argmax with a fixed tie-break order (markers order), or
    * "unknown" when nothing matches.
    */
  def langId(text: Column): Column =
    // bind the token array AND the score array: the argmax references
    // each score twice and every score references the tokens
    graft.functions.Let.bindArray(tokens(text)) { toks =>
      graft.functions.Let.bindArray(
        array(markers.map { case (_, ws) =>
          size(filter(toks, t => t.isin(ws.map(lit(_)): _*)))
        }: _*)
      ) { scores =>
        val s = (i: Int) => element_at(scores, i + 1)
        val best = greatest((0 until markers.size).map(s): _*)
        markers.zipWithIndex
          .foldLeft(when(best === 0, lit("unknown"))) { case (acc, ((lang, _), i)) =>
            acc.when(s(i) === best, lit(lang))
          }
          .otherwise(lit("unknown"))
      }
    }

  /** Normalized-text fingerprint: md5 over lowercased,
    * whitespace-collapsed text. Rolling/shingle fingerprints build on
    * the same normalization (see Dedup).
    */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(text, "\\s+", " ")))

  /** Winnowing document fingerprints (rolling-hash family): hash
    * every word 4-gram by position, then keep the minimum hash in
    * each sliding window of w=4 consecutive positions (the winnowing
    * algorithm: guarantees any sufficiently long match between two
    * docs shares a selected fingerprint). Hashes are md5 prefixes so
    * the whole computation replays exactly in the DuckDB oracle.
    * Everything is per-row array math — map-side, no shuffle.
    */
  def winnowedFingerprints(text: Column, k: Int = 4, w: Int = 4): Column = {
    // token array and gram array are LET-BOUND (graft.functions.Let):
    // naive composition re-evaluates `toks` per gram element and the
    // whole O(n) gram array per window position — O(n³) in document
    // length, measured at 300s for the sf0.1 corpus vs sub-second
    // bound
    val windowMins = graft.functions.Let.bindArray(split(text, " ")) { toks =>
      graft.functions.Let.bindArray(
        transform(
          sequence(lit(0), size(toks) - k),
          i => substring(md5(concat_ws(" ", (0 until k).map(j => element_at(toks, i + j + 1)): _*)), 1, 8),
        )
      ) { grams =>
        transform(
          sequence(lit(0), size(grams) - w),
          i => array_min(slice(grams, i + 1, lit(w))),
        )
      }
    }
    // docs too short for one full window yield an empty fingerprint
    // set; the guard also keeps the inner sequences non-descending,
    // which under ANSI mode would otherwise index past the array
    when(size(split(text, " ")) >= k + w - 1, array_distinct(windowMins))
      .otherwise(array().cast("array<string>"))
  }

  // ---- query catalog -------------------------------------------------

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")

  private val tfIndexCache = graft.util.Artifacts.memo(this, "graft_tf_index")

  /** Memoized (doc_id, token, tf) term-frequency index — the
    * retrieval tier's postings table, built ONCE per (session, dir)
    * and read by name by every consumer: [[bm25Search]],
    * [[bm25Rm3Search]] (which previously re-exploded the corpus
    * THREE times — round-1 ranking, feedback-term mining, round-2
    * ranking), [[qlmDirichletSearch]], and [[tfIdfTopTerms]]. This is
    * the deployment shape the bm25Rm3Search scaladoc promised ("a
    * deployment materializes the index"): at 100 TB the postings
    * index is a stored table maintained by ingest, and every query
    * pays a posting-list probe, never a corpus re-tokenization. Same
    * pattern (and the same honest-bench contract) as the memoized
    * minhash pair artifact `Dedup.wordCommonCountsShared`:
    * [[invalidate]] drops it between timed runs, so the first
    * consumer of a run pays the one build and the family then rides
    * it — exactly what a long-lived session does. The DuckDB oracle
    * keeps its per-query materialized `tf` CTE: result-identical by
    * determinism of the counts.
    */
  private[graft] def tfIndexShared(spark: SparkSession, dir: String): DataFrame =
    tfIndexCache(spark, dir) {
      docs(spark, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .groupBy("doc_id", "token")
        .agg(count(lit(1)).as("tf"))
    }

  private val dlIndexCache = graft.util.Artifacts.memo(this, "graft_dl_index")

  /** Memoized per-document length table (doc_id, dl = Σtf) — the
    * retrieval index's companion statistic, stored next to the
    * postings in any deployed index (Lucene's norms file). Without
    * it, every scoring pass re-aggregated the FULL tf index just to
    * re-derive the same |docs|-row lengths — measured as the
    * dominant residual once [[tfIndexShared]] landed (bm25's
    * bounded-posting probe costs ms; the corpus-wide dl aggregation
    * cost ~0.8 s per pass at sf0.1, and RM3 paid it twice).
    */
  private[graft] def dlIndexShared(spark: SparkSession, dir: String): DataFrame =
    dlIndexCache(spark, dir)(tfIndexShared(spark, dir).groupBy("doc_id").agg(sum(col("tf")).as("dl")))

  /** Drop the memoized text artifacts (benchmark hygiene: the tf/dl
    * indexes, the bm25 ranking, the vocabulary, the LM tables and the
    * merge list).
    */
  def invalidate(): Unit = graft.util.Artifacts.reset(this)

  private val lmBigramCache = graft.util.Artifacts.memo(this, "graft_lm_bigram")

  /** Memoized per-language bigram LM count table
    * (lang, l, r, cnt_lr, cnt_l) — the TRAINED bigram language model
    * every LM consumer reads (round 14): [[bigramLm]],
    * [[lmDocScores]], [[lmPplSplit]], and [[docNovelty]] each re-ran
    * the identical corpus-wide bigram explode and derived the counts
    * with corpus-row count WINDOWS (an exchange of every exploded
    * gram row with NO partial aggregation — the exact shape the
    * quality_calibration r13 rewrite exists to avoid). The artifact
    * pays ONE corpus pass into a map-side-combined (lang, l, r)
    * aggregation whose output is vocab²·|langs|-bounded, plus a
    * window over that bounded table for the left marginal; every
    * consumer then joins the BROADCAST model to its own map-side
    * gram explode and aggregates per doc with partial aggregation —
    * no exchange anywhere sees raw exploded rows. Lang-free
    * marginals (cnt over all langs) re-aggregate the bounded table,
    * never the corpus. At 100 TB this is the deployment shape: a
    * quality-filter LM is a trained, pruned, servable dictionary
    * (CCNet ships one per language), not a per-query corpus window.
    * Dropped in [[invalidate]] (the tfIndexShared accounting
    * convention: the first consumer of a timed run pays the build).
    */
  private[graft] def lmBigramShared(spark: SparkSession, dir: String): DataFrame =
    lmBigramCache(spark, dir) {
      import org.apache.spark.sql.expressions.Window
      docs(spark, dir)
        .filter(size(split(col("text"), " ")) >= 2)
        .select(col("lang"), explode(positionalBigrams(col("text"))).as("g"))
        .groupBy(col("lang"), col("g.l").as("l"), col("g.r").as("r"))
        .agg(count(lit(1)).as("cnt_lr"))
        .withColumn("cnt_l", sum(col("cnt_lr")).over(Window.partitionBy("lang", "l")))
    }

  private val lmFlatCache = graft.util.Artifacts.memo(this, "graft_lm_flat")

  /** Memoized LANG-FREE bigram count table (l, r, cnt_lr, cnt_l) —
    * the LM artifact's third tier (round 15). [[bigramLm]],
    * [[lmDocScores]], and [[docNovelty]] each re-derived the
    * identical lang-free marginals from [[lmBigramShared]] per gate:
    * two bounded aggregations plus a join (or a window), whose
    * per-gate broadcast-model build latency was measured to exceed
    * the exchange the r14 rewrite saved at sf0.1 (lm_doc_novelty
    * 0.65 → 1.38 s in the r14 committed pair — the r14 verdict's
    * named regression). The marginals are DERIVED STATISTICS of the
    * trained model — a deployment stores them next to the
    * lang-tiered counts, it does not re-reduce the model per scoring
    * job — so they are one more named artifact: one re-aggregation
    * of the vocab²·|langs|-bounded lang tier (never the corpus) with
    * the left marginal attached by a window over the bounded table
    * (safe inside the artifact: consumers read the MATERIALIZED
    * relation, so broadcast size estimates come from cache stats —
    * the stream_lm_score estimate hazard only bites unmaterialized
    * single-table window forms). Same integers as each consumer's
    * private re-derivation, by determinism of the counts. Dropped in
    * [[invalidate]] (first consumer of a timed run pays the build).
    */
  private[graft] def lmBigramFlatShared(spark: SparkSession, dir: String): DataFrame =
    lmFlatCache(spark, dir) {
      import org.apache.spark.sql.expressions.Window
      lmBigramShared(spark, dir)
        .groupBy("l", "r")
        .agg(sum(col("cnt_lr")).as("cnt_lr"))
        .withColumn("cnt_l", sum(col("cnt_lr")).over(Window.partitionBy("l")))
    }

  /** Per-language token statistics. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      // per-row counts projected once, then aggregated — the agg-side
      // formulation re-ran split/regex once per referencing aggregate
      .select(
        col("lang"),
        tokenCount(col("text")).cast("long").as("__nt"),
        alphaTokenCount(col("text")).cast("long").as("__na"),
      )
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("total_tokens"),
        sum(col("__na")).as("total_alpha_tokens"),
        (sum(col("__nt")) / count(lit(1))).as("avg_tokens"),
      )

  /** The quality-class rule as a function of the bound token stats —
    * the SINGLE definition of the class thresholds, shared by
    * [[qualityScores]] and the stratified sampler
    * ([[Sampling.stratifiedQualityMix]]).
    */
  def qualityClassOf(nTok: Column, stopRatio: Column): Column =
    when(nTok < 20, "too_short")
      .when(stopRatio > 0.2, "stopword_heavy")
      .otherwise("ok")

  /** Per-document quality scoring: token count, char count,
    * chars-per-token, stopword ratio, and a quality class. All
    * ratios divide identical integers → identical doubles in both
    * engines.
    */
  /** Linear-model scoring at corpus scale — the fasttext-shaped
    * classifier stage (quality filters, language filters, domain
    * routers) every production curation pipeline runs over every
    * document. Features are hashed bag-of-words ∪ adjacent word
    * bigrams (the fasttext wordNgrams=2 shape): feature →
    * 4096-bucket md5 hash → per-bucket integer weight in
    * [−1000, 1000], score = Σ weights, decision = score ≥ 0.
    *
    * The "model" here is md5-derived (deterministic, so the gate
    * oracle-checks end-to-end); swapping in trained weights is a
    * broadcast join against a 4096-row weight table — the score
    * plan is unchanged. All-integer scoring: bit-portable across
    * engines, no float accumulation order to disagree on.
    *
    * Scale shape: one generate (features let-bound — the
    * Project-above-Generate rule), per-row hashing inside codegen,
    * ONE map-side-combinable aggregation keyed by doc_id. No joins,
    * no windows; the weight table never materializes.
    */
  /** The hashed-feature classifier's per-feature weight: feature →
    * 3-hex-char md5 bucket (4096 buckets) → signed weight in
    * [−1000, 1000] from a second md5 of the bucket. Single-sourced so
    * [[classifierScores]] (exploded form) and [[qualityCalibration]]
    * (single-scan form) can never drift on the score algebra.
    *
    * The bucket→weight half is a FIXED function of a 4096-value
    * domain, so it is precomputed driver-side ([[clfWeightTable]],
    * same md5 bytes via MessageDigest) and spliced in as a literal
    * array — one md5 per feature row instead of two, the lookup a
    * codegen'd element_at. [[clfWeightRef]] keeps the pure-expression
    * form; TextPipelineSpec pins the two equal over the corpus.
    */
  private[graft] def clfWeight(feature: Column): Column =
    element_at(
      lit(clfWeightTable),
      conv(substring(md5(concat(lit("clf|"), feature)), 1, 3), 16, 10).cast("int") + 1,
    )

  /** The original two-md5 expression form of [[clfWeight]] — the
    * definition the DuckDB oracle mirrors; kept as the spec reference
    * for the LUT splice.
    */
  private[graft] def clfWeightRef(feature: Column): Column =
    conv(
      substring(
        md5(concat(lit("w|"), substring(md5(concat(lit("clf|"), feature)), 1, 3))),
        1,
        4,
      ),
      16,
      10,
    ).cast("long") % 2001L - 1000L

  /** weight[bucket] for every 3-hex-char md5 prefix bucket, by the
    * exact [[clfWeightRef]] algebra (lowercase hex, first 4 hex chars
    * of md5("w|" + bucket), mod 2001 − 1000).
    */
  private lazy val clfWeightTable: Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until 4096).map { b =>
      val bucket = "%03x".format(b)
      md.reset()
      val hex = md.digest(("w|" + bucket).getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 4), 16) % 2001L - 1000L
    }.toArray
  }

  def classifierScores(spark: SparkSession, dir: String): DataFrame = {
    val feats = graft.functions.Let.bindArray(tokens(col("text"))) { toks =>
      concat(
        toks,
        when(
          size(toks) >= 2,
          transform(
            sequence(lit(0), size(toks) - 2),
            i => concat(element_at(toks, i + 1), lit(" "), element_at(toks, i + 2))))
          .otherwise(array().cast("array<string>")),
      )
    }
    docs(spark, dir)
      .select(col("doc_id"), explode(feats).as("feature"))
      .filter(col("feature") =!= "")
      .select(col("doc_id"), clfWeight(col("feature")).as("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_features"), sum("w").as("score"))
      .select(
        col("doc_id"),
        col("n_features"),
        col("score"),
        (col("score") >= 0).cast("int").as("accepted"),
      )
  }

  /** Signal calibration table: does the hashed-feature classifier
    * score track an independent quality proxy (bigram novelty)? One
    * row per fixed-width score bucket with the bucket's doc count,
    * exact score sum, and pooled novelty (1e6·Σunique div Σbigrams)
    * — the ablation a curation team runs before trusting a scorer as
    * a filter. Buckets are VALUE-based (score div width, truncation
    * toward zero identical cross-engine), not rank deciles: the exact
    * rank window is the thing that dies at 100 TB (the
    * [[quantileHistogram]] rule).
    *
    * Scale shape (r13 rewrite — the r10 single-scan-plus-window form
    * pushed EVERY exploded (doc, feature) row through the
    * feature-keyed count window: a corpus-wide exchange with NO
    * partial aggregation, the dominant cost of the gate and the
    * residual its own r10 note attributed to "exchange
    * serialization"): two branches over fresh scans, every shuffle
    * partially aggregated. The score/bigram branch combines map-side
    * into |docs| partials; the novelty branch aggregates by feature —
    * map-side combine into |distinct features| partials — and a
    * corpus-count-1 feature group IS its one containing row, so
    * min(doc_id) identifies the owning doc without ever shuffling raw
    * rows (flag homogeneity: a unigram never contains a space, so no
    * feature group mixes flags and max(is_bi) dispatches the bigram
    * filter). The branches meet by UNION-TAG + re-aggregation on
    * doc_id (the minhashRecallVsExact rule — no same-lineage join, no
    * detector risk), then the |buckets| tail. The price is a second
    * scan + explode (map-only, codegen'd; the weight LUT runs on one
    * branch only); the win is that no exchange anywhere carries
    * unaggregated exploded rows. Measured honestly (NOTES_r13): at
    * sf0.1 the two forms are a WASH (~1.0-1.1 s — the saved exchange
    * roughly equals the doubled map pass at this size); the rewrite
    * is kept for the 100-TB shape, where shuffle volume is the
    * currency and a no-combine corpus-wide exchange is the one thing
    * that cannot be provisioned around. Docs with < 2 tokens have no
    * bigrams and are filtered up front — stated, and identical in
    * the oracle (which keeps the two-CTE join form; same algebra,
    * bucket sums equal).
    * [[classifierScores]]/[[docNovelty]] keep their own gate shapes.
    */
  def qualityCalibration(spark: SparkSession, dir: String, bucketWidth: Int = 2000): DataFrame = {
    // one explode of (feature, is_bigram) rows: the non-empty unigrams
    // flagged 0, the positional bigrams flagged 1
    val feats = graft.functions.Let.bindArray(tokens(col("text"))) { toks =>
      concat(
        transform(filter(toks, t => t =!= ""), t => struct(t.as("f"), lit(0L).as("is_bi"))),
        transform(
          sequence(lit(0), size(toks) - 2),
          i =>
            struct(
              concat(element_at(toks, i + 1), lit(" "), element_at(toks, i + 2)).as("f"),
              lit(1L).as("is_bi"),
            ),
        ),
      )
    }
    // fresh lineage per branch (the minhashIncrementalPairs rule)
    def featRows: DataFrame =
      docs(spark, dir)
        .filter(size(split(col("text"), " ")) >= 2)
        .select(col("doc_id"), explode(feats).as("x"))
        .select(col("doc_id"), col("x.f").as("f"), col("x.is_bi").as("is_bi"))
    val perDoc = featRows
      .groupBy("doc_id")
      .agg(sum(clfWeight(col("f"))).as("score"), sum(col("is_bi")).as("n_bigrams"))
      .select(col("doc_id"), col("score"), col("n_bigrams"), lit(0L).as("n_unique"))
    val uniq = featRows
      .groupBy("f")
      .agg(count(lit(1)).as("n"), min("doc_id").as("doc_id"), max("is_bi").as("is_bi"))
      .filter(col("n") === 1 && col("is_bi") === 1L)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_unique"))
      .select(col("doc_id"), lit(0L).as("score"), lit(0L).as("n_bigrams"), col("n_unique"))
    perDoc
      .unionByName(uniq)
      .groupBy("doc_id")
      .agg(
        sum(col("score")).as("score"),
        sum(col("n_bigrams")).as("n_bigrams"),
        sum(col("n_unique")).as("n_unique"),
      )
      .select(
        expr(s"score div $bucketWidth").as("score_bucket"),
        col("score"),
        col("n_bigrams"),
        col("n_unique"),
      )
      .groupBy("score_bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("score")).as("score_sum"),
        sum(col("n_bigrams")).as("bigrams_sum"),
        sum(col("n_unique")).as("unique_sum"),
      )
      .select(
        col("score_bucket"),
        col("n_docs"),
        col("score_sum"),
        // the sums pool corpus-wide mass per bucket: the 1e6 product
        // runs in DECIMAL(38,0) (DuckDB's sum() auto-promotes to
        // HUGEINT; a BIGINT product here would wrap silently at
        // ~10¹³ pooled bigrams — the 100-TB regime)
        expr(
          "CAST((CAST(1000000 AS DECIMAL(38,0)) * unique_sum) div bigrams_sum AS BIGINT)"
        ).as("mean_novelty_x1e6"),
      )
  }

  def qualityScores(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      // the token array is let-bound: five naive references would run
      // the split (and two the stopword filter) once each per row
      .select(
        col("doc_id"),
        col("lang"),
        graft.functions.Let.bindArray(tokens(col("text"))) { toks =>
          val nTok = size(toks)
          val nStop = size(filter(toks, t => t.isin(stopwordsEn.map(lit(_)): _*)))
          struct(
            nTok.as("n_tokens"),
            length(col("text")).as("n_chars"),
            (length(col("text")).cast("double") / nTok).as("chars_per_token"),
            (nStop.cast("double") / nTok).as("stopword_ratio"),
            qualityClassOf(nTok, nStop.cast("double") / nTok).as("quality_class"),
          )
        }.as("q"),
      )
      .select(col("doc_id"), col("lang"), col("q.*"))

  /** Language-ID confusion matrix: labeled lang × predicted lang. */
  def langIdConfusion(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("lang"), langId(col("text")).as("predicted"))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))

  /** Per-document winnowing fingerprint summary: how many selected
    * fingerprints, and the lexicographic min (a stable content id).
    * Docs shorter than k+w-1 tokens are excluded (no full window).
    */
  def winnowingStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .filter(size(split(col("text"), " ")) >= 7)
      // both summary fields read the bound fingerprint set — separate
      // projections would collapse into two evaluations of the whole
      // winnowing expression per row
      .select(
        col("doc_id"),
        graft.functions.Let.bindArray(winnowedFingerprints(col("text"))) { fps =>
          struct(size(fps).cast("long").as("n"), array_min(fps).as("m"))
        }.as("s"),
      )
      .select(
        col("doc_id"),
        col("s.n").as("n_fingerprints"),
        col("s.m").as("min_fp"),
      )

  /** Aggressive text normalization for matching/dedup: lowercase,
    * strip everything outside [a-z0-9 ], collapse runs of spaces,
    * trim. The canonical pre-pass before fingerprinting or n-gram
    * overlap when punctuation/casing noise must not break matches.
    */
  def normalized(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** Per-document normalization outcome: content hash and length of
    * the normalized form (map-side, scan-speed — the shape of a
    * normalize-then-exact-dedup pass at 100 TB).
    */
  def normalizeStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      // one projection shares the normalized string between hash and
      // length (separate projections would run the regexes twice)
      .select(col("doc_id"), normalized(col("text")).as("__n"))
      .select(
        col("doc_id"),
        md5(col("__n")).as("norm_hash"),
        length(col("__n")).cast("long").as("n_chars_norm"),
      )

  /** Per-document repeated word-bigram ratio — the Gopher-style
    * intra-document repetition signal (high ratio = boilerplate /
    * degenerate text). Positional bigrams, duplicates counted:
    * dup_ratio = (n_bigrams − n_distinct) / n_bigrams. Pure per-row
    * array math; the ratio divides identical integers, so the double
    * is bit-identical cross-engine.
    */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .filter(size(split(col("text"), " ")) >= 2)
      .select(
        col("doc_id"),
        // tokens AND the bigram array are let-bound: the distinct-size
        // reference would otherwise rebuild the whole bigram array
        // (and each bigram the token array) per reference
        graft.functions.Let.bindArray(tokens(col("text"))) { toks =>
          graft.functions.Let.bindArray(
            transform(
              sequence(lit(0), size(toks) - 2),
              i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2)),
            )
          ) { grams =>
            struct(
              size(grams).cast("long").as("n_bigrams"),
              size(array_distinct(grams)).cast("long").as("n_distinct"),
            )
          }
        }.as("r"),
      )
      .select(
        col("doc_id"),
        col("r.n_bigrams"),
        col("r.n_distinct"),
        ((col("r.n_bigrams") - col("r.n_distinct")).cast("double") / col("r.n_bigrams"))
          .as("dup_ratio"),
      )

  /** Gopher-style quality-rule filter, aggregated per source: how
    * many docs each rule rejects and how many survive all of them.
    * Rules (thresholds compare doubles built from identical integers
    * — deterministic cross-engine):
    *  - too short: < 20 tokens;  too long: > 1000 tokens;
    *  - mean token length outside [3, 10];
    *  - fewer than 2 DISTINCT stopwords present.
    * The per-row rule flags are map-side; the only shuffle is the
    * |sources|-key final aggregation — scan-speed at 100 TB.
    */
  def gopherQualityFilter(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(
        col("source"),
        gopherFlags(col("text")).as("f"),
      )
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("f.f_short"), 1L).otherwise(0L)).as("n_fail_short"),
        sum(when(col("f.f_long"), 1L).otherwise(0L)).as("n_fail_long"),
        sum(when(col("f.f_meanword"), 1L).otherwise(0L)).as("n_fail_meanword"),
        sum(when(col("f.f_stopword"), 1L).otherwise(0L)).as("n_fail_stopword"),
        sum(
          when(
            !col("f.f_short") && !col("f.f_long") && !col("f.f_meanword") && !col("f.f_stopword"),
            1L,
          ).otherwise(0L)
        ).as("n_keep"),
      )

  /** C4-style blocklist: a fixed denylist, mostly absent from the
    * corpus (as in production, where the list is thousands of terms
    * and the hit rate is well under 1%); `dup` is the term the
    * synthetic vocabulary actually contains, so the hit path is
    * exercised on ~0.5% of docs.
    */
  val blocklist: Seq[String] = Seq("dup", "spam", "casino", "viagra")

  /** Per-doc blocklist screen (the C4 bad-words filter): total and
    * distinct bad-token hits plus the keep decision (C4 drops a doc
    * on ANY hit). Map-only — token split, lambda filter, and counts
    * all run inside whole-stage codegen with no shuffle; at 100 TB
    * this is a pure scan-side screen. The token array and the bad
    * slice are let-bound ([[graft.functions.Let.bindArray]]) so the
    * three counts don't re-split the text per reference.
    */
  def blocklistFilter(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(
        col("doc_id"),
        graft.functions.Let.bindArray(tokens(col("text"))) { toks =>
          graft.functions.Let
            .bindArray(filter(toks, t => t.isin(blocklist.map(lit(_)): _*))) { bad =>
              struct(
                size(toks).cast("long").as("n_tokens"),
                size(bad).cast("long").as("n_bad"),
                size(array_distinct(bad)).cast("long").as("n_bad_distinct"),
                (size(bad) === 0).cast("int").as("keep_doc"),
              )
            }
        }.as("s"),
      )
      .select(col("doc_id"), col("s.*"))

  /** The four Gopher rule flags as one struct — the SINGLE definition
    * of the thresholds, shared by the per-rule counter
    * ([[gopherQualityFilter]]) and the boolean keep decision
    * ([[gopherKeep]]) so a tuned threshold cannot diverge between the
    * batch counts, the streaming router, and the curation pipeline.
    * Rules: token count in [20, 1000]; mean token length in [3, 10];
    * at least 2 distinct stopwords present.
    */
  def gopherFlags(text: Column): Column =
    graft.functions.Let.bindArray(tokens(text)) { toks =>
      val nTok = size(toks)
      // mean token length over the token split: total chars minus
      // the separators, divided by token count
      val meanLen = (length(text) - (nTok - 1)).cast("double") / nTok
      val nStopDistinct =
        size(array_intersect(array_distinct(toks), array(stopwordsEn.map(lit(_)): _*)))
      struct(
        (nTok < 20).as("f_short"),
        (nTok > 1000).as("f_long"),
        (meanLen < 3.0 || meanLen > 10.0).as("f_meanword"),
        (nStopDistinct < 2).as("f_stopword"),
      )
    }

  /** The boolean keep/reject decision of [[gopherQualityFilter]] as a
    * single map-side predicate (a doc survives iff it fails none of
    * the four rules) — the form a streaming router or a batch filter
    * pushes down to the scan. Derived from [[gopherFlags]] (the flags
    * struct is let-bound: four naive references would re-run the
    * whole rule evaluation each).
    */
  def gopherKeep(text: Column): Column =
    graft.functions.Let.bindArray(gopherFlags(text)) { f =>
      !f.getField("f_short") && !f.getField("f_long") &&
      !f.getField("f_meanword") && !f.getField("f_stopword")
    }

  /** Vocabulary building — the top-`k` tokens of the corpus by
    * frequency: the first step of tokenizer training (seed vocab,
    * merge candidates) and of frequency-based quality heuristics.
    * Ties break lexicographically so the selected set is identical in
    * any engine.
    *
    * Scale shape (100 TB): the explode is map-side; the count is a
    * hash aggregation with map-side partial combine (the shuffle
    * carries ≤ |vocab| keys per partition, not per-token rows); the
    * global top-k compiles to `TakeOrderedAndProject` — each partition
    * keeps only its own top k and the driver merges k·partitions
    * rows, never a global sort (pinned in PlanShapeSpec).
    */
  def vocabTopTokens(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    vocabFreqShared(spark, dir)
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** Memoized corpus vocabulary-frequency table (token, n) — the
    * |vocab|-row artifact a tokenizer-training / corpus-statistics
    * pipeline materializes once and every consumer reads (round 14):
    * [[vocabTopTokens]] (and [[zipfFit]] through it),
    * [[freqOfFreqs]], [[countMinEstimates]], and the whole BPE family
    * ([[bpePairStats]] / [[bpeMergeRound2]] / [[trainMerges]]) each
    * re-ran the identical corpus tokenize + explode + combine; the
    * artifact pays it once per (session, dir) and is dropped in
    * [[invalidate]] (the tfIndexShared accounting convention).
    */
  private[graft] def vocabFreqShared(spark: SparkSession, dir: String): DataFrame =
    vocabFreqCache(spark, dir) {
      docs(spark, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
    }

  private val vocabFreqCache = graft.util.Artifacts.memo(this, "graft_vocab_freq")

  private val mergesCache = graft.util.Artifacts.sessionMemo[String, Seq[(Int, String, String, Long, Long)]](this)

  /** Positional word bigrams as an array of (l, r) structs — the one
    * definition of the index arithmetic (0-based sequence over
    * 1-based element_at, n−1 grams) shared by [[bigramLm]] and
    * [[docNovelty]]; callers guard `size(tokens) >= 2` themselves.
    * Tokens are let-bound: each gram references the array twice and
    * the sequence bound once more.
    */
  private[graft] def positionalBigrams(text: Column): Column =
    graft.functions.Let.bindArray(tokens(text)) { toks =>
      transform(
        sequence(lit(0), size(toks) - 2),
        i =>
          struct(
            element_at(toks, i + 1).as("l"),
            element_at(toks, i + 2).as("r"),
          ),
      )
    }

  /** Bigram language-model counts with conditional probabilities:
    * P(right | left) = n(left,right) / n(left,·) over positional word
    * bigrams — the count table a KenLM-style n-gram scorer (or a
    * contamination n-gram index) is built from. The probability
    * divides two counts derived from identical integers, so the
    * double is bit-identical cross-engine.
    *
    * Scale shape (100 TB): bigram expansion is per-row array math
    * (map-side, let-bound so the token array builds once); the count
    * is one hash aggregation on (left, right) with partial combine;
    * the denominator is a window over the |vocab|-key count table —
    * the corpus itself is never re-shuffled.
    */
  def bigramLm(spark: SparkSession, dir: String, minCount: Long = 1L): DataFrame =
    // lang-free counts and the left marginal read straight off the
    // flat LM tier (round 15 — the private re-aggregation + window
    // this gate ran over the lang tier is now the shared artifact);
    // zero corpus scans here, the artifact's builder pays the pass
    lmBigramFlatShared(spark, dir)
      .select(
        col("l").as("left_token"),
        col("r").as("right_token"),
        col("cnt_lr").as("n"),
        col("cnt_l").as("n_left"),
      )
      .withColumn("p", col("n").cast("double") / col("n_left"))
      .filter(col("n") >= minCount)

  /** Exact token-length percentiles per language (p50/p90/p99,
    * `percentile_disc` semantics: the value at rank
    * floor((n−1)·q)+1 of the sorted lengths) — the corpus length
    * profile that sizes context windows and length buckets. Integer
    * positions into integer data: no interpolation, no float drift.
    *
    * Scale shape: SORT-FREE ranks (the quantile_histogram rule) — a
    * per-lang rank window sorts a corpus-sized partition per task at
    * this key domain. The value at a rank depends only on the value
    * order, so aggregate to the per-(lang, length) histogram first
    * (map-side combine; lengths are bounded) and read each rank off
    * the cumulative count over that small frame. At 100 TB the
    * production path is a mergeable quantile sketch (see [[Sketches]]
    * for the GK profile); this operator is the exact,
    * oracle-checkable twin the sketch is validated against.
    */
  def lengthPercentiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.partitionBy("lang").orderBy(col("n_tok"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy("lang")
    def atQ(pct: Int): Column =
      min(when(col("cum") >= expr(s"((n - 1) * $pct) div 100") + 1, col("n_tok")))
    docs(spark, dir)
      .select(col("lang"), tokenCount(col("text")).cast("long").as("n_tok"))
      .groupBy("lang", "n_tok")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .groupBy("lang", "n")
      .agg(atQ(50).as("p50_tok"), atQ(90).as("p90_tok"), atQ(99).as("p99_tok"))
  }

  /** TF-IDF top term per document, with a log-free idf: score =
    * tf · N / df (rarity-weighted term frequency — order-equivalent
    * to tf·idf within a document for ranking the top term, and exact
    * cross-engine: an integer product divided by an integer). Ties
    * break lexicographically.
    *
    * Scale shape (100 TB): ONE corpus scan — tf is a hash aggregation
    * over the exploded index with map-side combine, and df is a count
    * window over the tf table partitioned by token (re-deriving df
    * with a second aggregate would re-expand the tf lineage: two
    * corpus scans and a duplicated (doc, token) shuffle — pinned out
    * in PlanShapeSpec). The per-doc top-1 is rank-1, which Spark
    * executes as WindowGroupLimit: each partition keeps one candidate
    * per doc BEFORE the rank exchange. Only (doc, token, count)
    * index rows ever shuffle; the text itself never does.
    */
  def tfIdfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = tfIndexShared(spark, dir)
    // tf holds one row per (doc, token), so per-token row count IS df
    val n = docs(spark, dir).agg(count(lit(1)).as("n"))
    val wDf = Window.partitionBy("token")
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("token"))
    tf.withColumn("df", count(lit(1)).over(wDf))
      .crossJoin(broadcast(n))
      .withColumn("score", (col("tf") * col("n")).cast("double") / col("df"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("token").as("top_token"), col("tf"), col("df"), col("score"))
  }

  /** Per-document vocabulary coverage against the top-`k` corpus
    * vocabulary: in-vocab vs OOV token counts and the coverage ratio
    * — the tokenizer-fit diagnostic (high OOV rate = the vocabulary
    * or the document is wrong for the mix).
    *
    * Scale shape (100 TB): the vocabulary is k rows — an explicit
    * broadcast — so the coverage pass is a map-side hash probe at
    * scan speed; the only shuffle is the per-doc count aggregation
    * with partial combine. Ratio divides identical integers.
    */
  def vocabCoverage(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val vocab = vocabTopTokens(spark, dir, k).select(col("token"), lit(1).as("iv"))
    docs(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tok"),
        sum(when(col("iv").isNotNull, 1L).otherwise(0L)).as("n_in_vocab"),
      )
      .select(
        col("doc_id"),
        col("n_tok"),
        col("n_in_vocab"),
        (col("n_tok") - col("n_in_vocab")).as("n_oov"),
        (col("n_in_vocab").cast("double") / col("n_tok")).as("coverage"),
      )
  }

  /** Per-document novelty via corpus-unique bigrams: how many of a
    * document's positional bigrams occur exactly once in the WHOLE
    * corpus (necessarily in this document) — a high ratio marks
    * genuinely novel text, a near-zero ratio marks boilerplate
    * assembled from common phrases. The integer-exact counterpart of
    * perplexity-style LM scoring (whose float log-sums are
    * order-dependent and not oracle-able bit-exactly).
    *
    * Scale shape (100 TB): the unique-bigram set is the cnt = 1
    * slice of the memoized [[lmBigramShared]] LM artifact (bounded
    * by vocab²); a doc's grams explode map-side, left-join that
    * broadcast set, and aggregate per doc with partial aggregation —
    * no exchange sees raw exploded rows, text never moves.
    */
  def docNovelty(spark: SparkSession, dir: String): DataFrame = {
    // corpus-unique bigrams are the cnt_lr = 1 slice of the FLAT LM
    // tier (round 15 — the per-gate lang-marginal re-aggregation this
    // gate ran over the lang tier is now the shared artifact); a
    // doc's grams left-join that BROADCAST set map-side and aggregate
    // per doc with partial aggregation — the corpus-row count window
    // (an exchange of every exploded gram) is gone
    val uniq = lmBigramFlatShared(spark, dir)
      .filter(col("cnt_lr") === 1)
      .select(col("l"), col("r"), lit(1L).as("u1"))
    docs(spark, dir)
      .filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"), explode(positionalBigrams(col("text"))).as("g"))
      .select(col("doc_id"), col("g.l").as("l"), col("g.r").as("r"))
      .join(broadcast(uniq), Seq("l", "r"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("u1"), lit(0L))).as("n_unique"),
      )
      .withColumn("novelty", col("n_unique").cast("double") / col("n_bigrams"))
  }

  /** Per-document bigram-LM score — the CCNet-style language-model
    * filtering signal: the mean conditional probability of the doc's
    * positional bigrams under the corpus bigram LM, kept exact in
    * scaled integers (per-term q = ⌊10⁶·cnt(l,r)/cnt(l,·)⌋, doc score
    * = ⌊Σq/n_bigrams⌋ — no float ever reaches a comparator). Low
    * scores flag improbable token sequences (boilerplate, garbled
    * text, wrong-language fragments) exactly as a perplexity filter
    * would, without the log table.
    *
    * Scale shape: ONE corpus scan/explode joined map-side to the
    * BROADCAST per-(l, r) probability table derived from the
    * memoized [[lmBigramShared]] LM artifact (the r14 rewrite: the
    * former count-window form exchanged every exploded gram row with
    * no partial aggregation; the join-back re-scan hazard that
    * motivated it disappears once the count table is a named
    * artifact rather than a same-lineage subtree), then one per-doc
    * aggregation with map-side combine. The 10⁶·cnt product runs in
    * DECIMAL(38,0) (BIGINT wraps once a bigram passes ~9·10¹²
    * occurrences — the 100-TB regime).
    */
  def lmDocScores(spark: SparkSession, dir: String): DataFrame = {
    // lang-free per-(l, r) conditional probability straight off the
    // FLAT LM tier (round 15): both marginals are columns of the
    // shared artifact — the per-gate two-aggregate + join build this
    // gate paid over the lang tier is gone; the same integers the
    // corpus-row count windows produced, by determinism of the counts
    val q = lmBigramFlatShared(spark, dir)
      .select(
        col("l"),
        col("r"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * cnt_lr) div cnt_l AS BIGINT)").as("q"),
      )
    docs(spark, dir)
      .filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"), explode(positionalBigrams(col("text"))).as("g"))
      .select(col("doc_id"), col("g.l").as("l"), col("g.r").as("r"))
      .join(broadcast(q), Seq("l", "r"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("sq"))
      .select(
        col("doc_id"),
        col("n_bigrams"),
        expr("sq div n_bigrams").cast("long").as("lm_score_x1e6"),
      )
  }

  /** CCNet-style head/middle/tail corpus split: per LANGUAGE (the
    * per-lang LM is the whole point of CCNet's split), score every
    * document with the exact-integer mean bigram conditional
    * probability (the [[lmDocScores]] metric, served per lang off
    * the broadcast [[lmBigramShared]] model) and cut the language's
    * documents into
    * thirds by score — head = most-predictable third (lowest
    * perplexity), the slice a pretraining mix up-weights.
    *
    * The cut is HISTOGRAM-quantile, not a rank window: scores bin at
    * `binWidth` granularity, per-(lang, bin) counts cumulate over the
    * bounded bin table (≤ 1e6/binWidth rows per lang), and the
    * head/middle cutoffs are the bins where ceil(N/3) and ceil(2N/3)
    * land — the [[quantileHistogram]] discipline (a per-lang
    * row_number over the corpus is the sort that dies at 100 TB; the
    * boundary bin going wholly to the upper bucket makes the bin
    * granularity explicit rather than hiding it). Bucketing is then a
    * map-side CASE against the |langs|-row cutoff table. binWidth
    * must resolve the score distribution's spread: the corpus scores
    * span a few tens of thousands of millionths, so 500 yields ~50
    * occupied bins per lang (10000 was measured to swallow whole
    * languages into `head`), while the bin table stays ≤ 2000 rows
    * per lang at any corpus size.
    */
  def lmPplSplit(spark: SparkSession, dir: String, binWidth: Int = 500): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // per-(lang, l, r) conditional probability straight off the
    // memoized LM artifact (its rows ARE the per-lang counts); the
    // gram explode joins the BROADCAST model map-side and aggregates
    // per (doc, lang) with partial aggregation — the two corpus-row
    // count windows are gone
    val q = lmBigramShared(spark, dir)
      .select(
        col("lang"),
        col("l"),
        col("r"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * cnt_lr) div cnt_l AS BIGINT)").as("q"),
      )
    // NULL-SAFE on lang (r14 advice): a plain equi-join silently
    // drops null-lang docs, where the pre-r14 count-window form
    // grouped them into a partition and scored them. No corpus ships
    // nulls today (oracle-green either way); <=> keeps the window
    // semantics without betting on that. l/r are split() tokens —
    // non-null by construction — so plain equality stands for them,
    // and the join stays a BHJ (EqualNullSafe is a supported hash key).
    val qj = q.select(
      col("lang").as("__q_lang"), col("l").as("__q_l"), col("r").as("__q_r"), col("q"))
    val scored = docs(spark, dir)
      .filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"), col("lang"), explode(positionalBigrams(col("text"))).as("g"))
      .select(col("doc_id"), col("lang"), col("g.l").as("l"), col("g.r").as("r"))
      .join(
        broadcast(qj),
        col("lang") <=> col("__q_lang") && col("l") === col("__q_l") && col("r") === col("__q_r"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("sq"))
      .select(
        col("doc_id"),
        col("lang"),
        col("n_bigrams"),
        expr("sq div n_bigrams").cast("long").as("s"),
      )
    // EVERY output statistic is bin-decomposable, so the corpus is
    // scored exactly once into the bounded per-(lang, bin) table and
    // both consumers (the cutoff window and the bucket rollup) read
    // THAT — the shared (lang, bin) aggregation exchange is reused at
    // runtime, where joining cutoffs back onto per-doc rows was
    // measured to re-run the two corpus count windows a second time
    // (2.6 s → the single-scoring form at sf0.1)
    val binStats = scored
      .withColumn("bin", expr(s"s div $binWidth"))
      .groupBy("lang", "bin")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("n_bigrams"),
        min(col("s")).as("min_s"),
        max(col("s")).as("max_s"),
      )
    val wDesc = Window
      .partitionBy("lang")
      .orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cuts = binStats
      .withColumn("cum", sum(col("n_docs")).over(wDesc))
      .withColumn("n_total", sum(col("n_docs")).over(Window.partitionBy("lang")))
      .groupBy("lang")
      .agg(
        // descending cum: the crossing bin is the LARGEST bin whose
        // cumulative count reaches the target
        max(when(col("cum") >= expr("(n_total + 2) div 3"), col("bin"))).as("cut_head"),
        max(when(col("cum") >= expr("(2 * n_total + 2) div 3"), col("bin"))).as("cut_mid"),
      )
    binStats
      .join(cuts, Seq("lang"))
      .withColumn(
        "bucket",
        when(col("bin") >= col("cut_head"), "head")
          .when(col("bin") >= col("cut_mid"), "middle")
          .otherwise("tail"),
      )
      .groupBy("lang", "bucket")
      .agg(
        sum(col("n_docs")).as("n_docs"),
        sum(col("n_bigrams")).as("n_bigrams"),
        min(col("min_s")).as("min_score_x1e6"),
        max(col("max_s")).as("max_score_x1e6"),
      )
  }

  /** Dirichlet smoothing pseudo-count for [[qlmDirichletSearch]] —
    * interpolated into the oracle SQL (single-source rule).
    */
  val DirichletMu: Long = 100L

  /** Query-likelihood retrieval with Dirichlet smoothing — the
    * classic LM-based alternative to BM25 (Zhai & Lafferty), over the
    * same fixed query set: score(q, d) = Π_t p̂(t|d) with
    * p̂ = (tf + μ·cf/|C|) / (dl + μ). Multiplying through by |C|
    * makes each factor the exact rational (tf·|C| + μ·cf) /
    * ((dl+μ)·|C|); each factor floors to an integer millionth and
    * the per-query score is the PRODUCT of the floored factors (≤
    * 1e12 for 2-term queries — flooring per factor instead of once
    * keeps the DECIMAL(38,0) headroom effectively corpus-size-
    * independent: with the tf·|C| product promoted to DECIMAL(38,0)
    * on both engines (never a Long product — that wraps at 2^63),
    * 1e6·(tf·|C| + μ·cf) stays under 1e38 out to |C| ~ 1e26 tokens).
    * Smoothing is what ranks a doc matching ONE query term: the
    * missing term still contributes its background factor
    * μ·cf / ((dl+μ)·|C|) — tf = 0, never a dropped row.
    *
    * Scale shape: ONE (doc_id, token) tf build (the bm25 exchange);
    * candidates are docs matching ≥ 1 term. The missing-term factor
    * needs each query term's corpus frequency even on docs where the
    * term never joined — cf for the ≤ |queries|·2 fixed tokens and
    * |C| resolve as TWO bounded driver actions spliced back as
    * literal CASEs (the cutoff-splice pattern; an in-plan cf join
    * would either self-join the tf lineage or re-scan the corpus).
    * The oracle computes the same cf/|C| in-plan — identical integers
    * by determinism of the counts.
    */
  def qlmDirichletSearch(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mu = DirichletMu
    // the two-slot pivot below is written for the current fixed query
    // shape; a wider query must widen the pivot AND the oracle together
    require(bm25Queries.forall(_._2.size == 2), "qlmDirichletSearch assumes 2-term queries")
    val qTokens = bm25Queries.flatMap(_._2).distinct
    val tf = tfIndexShared(spark, dir)
    // bounded scalar actions: |C| (1 row) and cf for the fixed query
    // tokens (≤ 6 rows), spliced back as literals
    val totTok = tf.agg(sum(col("tf"))).head.getLong(0)
    val cfMap: Map[String, Long] = tf
      .filter(col("token").isin(qTokens.map(lit(_)): _*))
      .groupBy("token")
      .agg(sum(col("tf")).as("cf"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val qterms = {
      import spark.implicits._
      bm25Queries
        .flatMap { case (qid, ts) => ts.zipWithIndex.map { case (t, i) => (qid, t, i) } }
        .toDF("query_id", "token", "slot")
    }
    // the spliced per-(query, slot) corpus frequency as a literal CASE
    def cfSqlCase(slot: Int): String =
      bm25Queries
        .map { case (qid, ts) => s"WHEN query_id = $qid THEN ${cfMap.getOrElse(ts(slot), 0L)}L" }
        .mkString("CASE ", " ", " ELSE 0L END")
    // one factor: floor(1e6 · (tf·|C| + μ·cf) / ((dl+μ)·|C|)) — the
    // INNER tf·|C| product promotes to DECIMAL(38,0) too (a Long
    // product would wrap at tf·|C| > 2^63, i.e. a hot term on a
    // ~1e13-token corpus; the oracle promotes the same product to
    // HUGEINT)
    def qtSql(tfCol: String, slot: Int): String =
      s"CAST((CAST(1000000 AS DECIMAL(38,0)) * " +
        s"($tfCol * CAST($totTok AS DECIMAL(38,0)) + $mu * (${cfSqlCase(slot)}))) div " +
        s"((dl + $mu) * CAST($totTok AS DECIMAL(38,0))) AS BIGINT)"
    val dls = dlIndexShared(spark, dir)
    val matched = tf
      .join(broadcast(qterms), "token")
      .join(dls, "doc_id")
    val grid = matched
      .groupBy("query_id", "doc_id")
      .agg(
        max(col("dl")).as("dl"),
        coalesce(max(when(col("slot") === 0, col("tf"))), lit(0L)).as("tf0"),
        coalesce(max(when(col("slot") === 1, col("tf"))), lit(0L)).as("tf1"),
      )
    grid
      .select(
        col("query_id"),
        col("doc_id"),
        expr(s"CAST((${qtSql("tf0", 0)}) * (${qtSql("tf1", 1)}) AS BIGINT)").as("qlm_x1e12"),
      )
      .withColumn(
        "rk",
        row_number()
          .over(Window.partitionBy("query_id").orderBy(col("qlm_x1e12").desc, col("doc_id")))
          .cast("long"),
      )
      .filter(col("rk") <= k)
  }

  /** Fingerprint stats per source: exact-duplicate detection via
    * normalized-text fingerprints.
    */
  def fingerprintStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      // project the fingerprint once; the two aggregates then share it
      // instead of each re-running the regex+md5 per row
      .select(col("source"), fingerprint(col("text")).as("fp"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_distinct_fp"),
        min(col("fp")).as("min_fp"),
      )

  /** Round-1 BPE merge statistics: the frequency of every adjacent
    * character pair across the corpus, weighted by word frequency —
    * the table a byte-pair-encoding tokenizer trainer builds to pick
    * its next merge. Top-k by count with a lexicographic tie-break.
    *
    * Scale shape (100 TB): pair counting runs over the DISTINCT word
    * table weighted by frequency, not the raw corpus — the standard
    * BPE trick (|vocab| ≪ corpus tokens, and the word-frequency
    * aggregate combines map-side). Two bounded shuffles (|vocab|,
    * |pairs| ≤ |alphabet|²) and a TakeOrderedAndProject; the corpus
    * text is scanned exactly once.
    */
  def bpePairStats(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val wf = vocabFreqShared(spark, dir).select(col("token").as("w"), col("n").as("wf"))
    wf.filter(length(col("w")) >= 2)
      .select(
        col("wf"),
        explode(expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"),
      )
      .groupBy("pair")
      .agg(sum(col("wf")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)
  }

  /** BPE training ROUND 2: apply the single highest-frequency merge
    * from [[bpePairStats]]'s round-1 census to the word table and
    * recount the adjacent-pair frequencies over the merged symbol
    * sequences — the actual iteration step of byte-pair-encoding
    * tokenizer training (round 1 alone never shows how merges
    * interact; "er" merging changes every count that touched 'e' or
    * 'r'). The merged pair becomes the single symbol 'A' (the corpus
    * is lowercase, so the capital can't collide), and both engines'
    * regexp_replace substitutes leftmost non-overlapping occurrences
    * — exactly BPE's greedy merge order.
    *
    * Scale shape: the word-frequency table (|vocab|, not corpus-
    * sized) carries all weights, so the iteration runs over vocab
    * rows — the standard BPE-at-scale trick; the 1-row top merge is
    * a broadcast. Each further round is the same two bounded
    * aggregations.
    */
  def bpeMergeRound2(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val wf = vocabFreqShared(spark, dir).select(col("token").as("w"), col("n").as("wf"))
    def pairCounts(words: DataFrame, wcol: String): DataFrame =
      words
        .filter(length(col(wcol)) >= 2)
        .select(
          col("wf"),
          explode(expr(s"transform(sequence(1, length($wcol) - 1), i -> substring($wcol, i, 2))"))
            .as("pair"),
        )
        .groupBy("pair")
        .agg(sum(col("wf")).as("n"))
    val top = pairCounts(wf, "w").orderBy(col("n").desc, col("pair")).limit(1)
    val merged = wf
      .crossJoin(broadcast(top.select(col("pair").as("mp"))))
      .select(col("wf"), regexp_replace(col("w"), col("mp"), lit("A")).as("w2"))
    pairCounts(merged, "w2").orderBy(col("n").desc, col("pair")).limit(k)
  }

  /** The full iterated BPE merge TRAINER: `rounds` greedy merge
    * selections, each applied to the symbol sequences before the next
    * census — the output is the ordered merge table a BPE tokenizer
    * ships (pair chosen per round, its weighted occurrence count, and
    * how many distinct vocabulary words contained it). Extends
    * [[bpeMergeRound2]]'s single step to the real training loop;
    * round r's merged pair becomes the single uppercase symbol
    * 'A'+r−1 (the corpus is lowercase, so symbols can't collide, and
    * later pairs legitimately contain earlier symbols — "er" then
    * "Aly"). Both engines substitute leftmost non-overlapping
    * occurrences (Spark regexp_replace ≡ DuckDB regexp_replace 'g'),
    * which is exactly BPE's greedy merge order.
    *
    * Scale shape: the whole loop runs over the DISTINCT word-frequency
    * table (|vocab| ≪ corpus — the standard BPE-at-scale trick); the
    * corpus text is scanned exactly once, then each round is one
    * bounded |pairs|-key aggregation and a map-only substitution. The
    * per-round top-1 resolves as one bounded driver action (a 1-row
    * head) spliced back as a LITERAL — the repo's data-dependent-
    * scalar rule: an in-plan 1-row crossJoin would re-derive the
    * whole merge chain per round and block nothing useful, while the
    * literal keeps every round's substitution inside codegen. Merged
    * words stay distinct (the substitution is invertible — expanding
    * round symbols right-to-left recovers the original), so no
    * regroup is needed between rounds.
    */
  def bpeMergeTrain(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    import spark.implicits._
    trainMerges(spark, dir, rounds)
      .map { case (r, pair, _, n, nWords) => (r.toLong, pair, n, nWords) }
      .toDF("round", "pair", "n", "n_words")
  }

  /** The trainer's merge loop, shared with [[bpeEncodeStats]]:
    * (round, pair, replacement symbol, weighted count, words touched)
    * per round. Each round's top-1 is one bounded driver action (see
    * [[bpeMergeTrain]] scaladoc for why a literal beats an in-plan
    * 1-row crossJoin here).
    */
  private[graft] def trainMerges(
      spark: SparkSession,
      dir: String,
      rounds: Int,
  ): Seq[(Int, String, String, Long, Long)] = mergesCache.getOrElseUpdate(spark, s"$dir|$rounds") {
    // memoized merge table (round 14): the ordered merge list IS the
    // artifact a trained tokenizer ships; the trainer gate and the
    // encode gate both consume it, and each previously re-ran the
    // whole per-round census + top-1 loop. Dropped in [[invalidate]].
    val wf = vocabFreqShared(spark, dir).select(col("token").as("w"), col("n").as("wf"))
    def pairCensus(words: DataFrame): DataFrame =
      words
        .filter(length(col("w")) >= 2)
        .select(
          col("w"),
          col("wf"),
          explode(expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
            .as("pair"),
        )
        .groupBy("pair")
        .agg(sum(col("wf")).as("n"), countDistinct(col("w")).as("n_words"))
    var words = wf
    val out = Seq.newBuilder[(Int, String, String, Long, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      // headOption, not head: a degenerate corpus can run out of
      // distinct pairs before `rounds` (every word shorter than 2
      // symbols after earlier merges) — then the trainer legitimately
      // emits fewer rounds, exactly as the oracle's LIMIT-1-on-empty
      // CTEs degrade to empty UNION ALL legs (r9 ADVICE)
      pairCensus(words).orderBy(col("n").desc, col("pair")).limit(1).collect().headOption match {
        case None => exhausted = true
        case Some(top) =>
          val pair = top.getString(0)
          // the pair is spliced unescaped into regexp_replace on BOTH
          // engines (DuckDB splices it via a scalar subquery, where no
          // quoting hook exists) — sound only while it carries no
          // regex metacharacters. Corpus tokens are alnum and round
          // symbols are single uppercase letters, so enforce that
          // invariant loudly instead of assuming it
          require(
            pair.matches("[A-Za-z0-9]+"),
            s"BPE merge pair '$pair' contains regex metacharacters; " +
              "the literal-splice substitution (both engines) would misparse it",
          )
          val sym = ('A' + r - 1).toChar.toString
          words = words.select(regexp_replace(col("w"), pair, sym).as("w"), col("wf"))
          out += ((r, pair, sym, top.getLong(1), top.getLong(2)))
          r += 1
      }
    }
    out.result()
  }

  /** The ENCODE side of the trained tokenizer: apply the merge table
    * from [[trainMerges]] to every document in order and report the
    * per-document symbol counts before/after plus the compression
    * ratio — the metric that tells a tokenizer team whether the
    * merges learned on the vocab actually compress the corpus.
    * Applying merges to the full text is sound because no merge pair
    * can span a token boundary (pairs come from within-word
    * adjacency and tokens contain no spaces), and each merge
    * replaces two symbols with one, so n_after = n_before − merges
    * applied.
    *
    * Scale shape: training is the |vocab|-table loop; the encode is
    * ONE map-only pass over the corpus with the merge pairs spliced
    * in as literals (the whole replace chain stays inside codegen —
    * no join, no shuffle, embarrassingly parallel at 100 TB).
    */
  def bpeEncodeStats(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    val merges = trainMerges(spark, dir, rounds)
    val encoded = merges.foldLeft(col("text")) { case (c, (_, pair, sym, _, _)) =>
      regexp_replace(c, pair, sym)
    }
    docs(spark, dir)
      .select(
        col("doc_id"),
        length(regexp_replace(col("text"), " ", "")).cast("long").as("n_sym_raw"),
        length(regexp_replace(encoded, " ", "")).cast("long").as("n_sym_bpe"),
      )
      .select(
        col("doc_id"),
        col("n_sym_raw"),
        col("n_sym_bpe"),
        expr(
          "CASE WHEN n_sym_raw = 0 THEN 1000000 ELSE (1000000 * n_sym_bpe) div n_sym_raw END"
        ).as("compression_x1e6"),
      )
  }

  /** Count-min sketch estimates for the top corpus tokens: d=4
    * md5-derived hash rows × 256 hex-prefix buckets, estimate =
    * min over rows of the bucket counter — the deterministic twin of
    * the streaming heavy-hitters sketch (the md5 bucketing makes the
    * whole sketch engine-portable where a seeded-random sketch never
    * is). Emitted as (token, true count, estimate) for the top-k so
    * the one-sided error guarantee (est ≥ true, overshoot bounded by
    * collisions) is directly visible and oracle-checked.
    *
    * Scale shape: ONE corpus scan — the bucket counters are a sum
    * WINDOW over the (token, seed, bucket) frame rather than a
    * separate aggregate joined back (the join-back would duplicate
    * the vocab lineage); |seed×bucket| = d×256 window partitions,
    * each holding one bucket's tokens. In a real streaming
    * deployment the same counters are the map-side partial state and
    * merge by addition — what this gate pins is the estimate algebra.
    */
  def countMinEstimates(spark: SparkSession, dir: String, d: Int = 4, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = vocabFreqShared(spark, dir)
    val seedBuckets = array(
      (0 until d).map(s =>
        struct(
          lit(s).as("seed"),
          substring(md5(concat(lit(s.toString + "|"), col("token"))), 1, 2).as("bucket"),
        )
      ): _*
    )
    counts
      .select(col("token"), col("n"), explode(seedBuckets).as("sb"))
      .select(col("token"), col("n"), col("sb.seed").as("seed"), col("sb.bucket").as("bucket"))
      .withColumn("cnt", sum(col("n")).over(Window.partitionBy("seed", "bucket")))
      .groupBy("token")
      .agg(max(col("n")).as("n"), min(col("cnt")).as("est_n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)
      .select(col("token"), col("n"), col("est_n"))
  }

  /** χ² contingency table of corpus composition (language ×
    * source): observed counts, expected counts under independence,
    * and the per-cell χ² contribution — the drift/independence
    * diagnostic a corpus-mix monitor runs. Emitted PER CELL, not as
    * the summed statistic: a cross-row double sum is
    * summation-order-dependent and would never hash-match across
    * engines, while each cell's (o−e)²/e is a fixed expression over
    * exact integers — portable. (The consumer sums the tiny cell
    * table for the statistic; |cells| = |langs|·|sources|.)
    *
    * Scale shape: ONE corpus scan — the margins and the grand total
    * are WINDOWS over the tiny |cells| aggregate, not separate
    * aggregates joined back (each join-back re-executes the corpus
    * scan through the cells lineage; pinned single-scan in
    * PlanShapeSpec).
    */
  def chi2Contingency(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = docs(spark, dir).groupBy("lang", "source").agg(count(lit(1)).as("n_docs"))
    val e = (col("rt").cast("double") * col("ct").cast("double")) / col("nn").cast("double")
    cells
      .withColumn("rt", sum(col("n_docs")).over(Window.partitionBy("lang")))
      .withColumn("ct", sum(col("n_docs")).over(Window.partitionBy("source")))
      .withColumn("nn", sum(col("n_docs")).over(Window.partitionBy()))
      .select(
        col("lang"),
        col("source"),
        col("n_docs"),
        e.as("expected"),
        ((col("n_docs").cast("double") - e) * (col("n_docs").cast("double") - e) / e)
          .as("chi2_contrib"),
      )
  }

  /** Top PMI collocations: pointwise mutual information of adjacent
    * word pairs, ln((c_xy·N) / (c_x·c_y)) over exact integer counts —
    * the collocation-extraction staple — emitted as the RAW RATIO
    * (cxy·N)/(cx·cy): the IEEE quotient of products of identical
    * BIGINTs is engine-portable where ln() is NOT (JVM Math.log and
    * libm disagree in the last ulp), and ln is monotone so the
    * ratio ranks identically. Ties break lexicographically and a
    * minimum pair count filters the unstable long tail.
    *
    * Scale shape: two corpus scans (unigrams and adjacent pairs need
    * different explosions), |vocab|- and |pairs|-bounded map-side
    * combined shuffles; the token total N derives from the unigram
    * table, never a third scan. The final top-k is
    * TakeOrderedAndProject.
    */
  def pmiCollocations(spark: SparkSession, dir: String, k: Int = 20, minCount: Long = 5L): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .select(col("doc_id"), expr("filter(ts, t -> t <> '')").as("ts"))
    val uni = toks
      .select(explode(col("ts")).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("c"))
    val big = toks
      // guard: Spark's sequence(1, 0) DESCENDS instead of returning
      // empty, so single-token docs must not reach the transform
      .filter(size(col("ts")) >= 2)
      .select(
        explode(
          expr("transform(sequence(1, size(ts) - 1), i -> struct(ts[i-1] AS w1, ts[i] AS w2))")
        ).as("p")
      )
      .select(col("p.w1"), col("p.w2"))
      .groupBy("w1", "w2")
      .agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= minCount)
    val n = uni.agg(sum(col("c")).as("nn"))
    big
      .join(uni.select(col("w").as("w1"), col("c").as("cx")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("cy")), "w2")
      .crossJoin(broadcast(n))
      .select(
        col("w1"),
        col("w2"),
        col("cxy"),
        ((col("cxy").cast("double") * col("nn").cast("double")) /
          (col("cx").cast("double") * col("cy").cast("double"))).as("pmi_ratio"),
      )
      .orderBy(col("pmi_ratio").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Content-defined chunking over whitespace tokens: a chunk break
    * falls after every word whose md5 starts with '0' (expected chunk
    * length 16 words), so chunk boundaries depend only on CONTENT —
    * inserting a paragraph shifts no downstream boundaries, which is
    * the property that makes CDC the standard sub-document dedup
    * granularity (two near-identical docs share all chunks outside
    * the edit). Emits per-doc segmentation stats; the avg chunk
    * length is an exact scaled-integer ratio.
    *
    * Scale shape: boundary marking is map-side expression work; the
    * prefix-sum chunk id is a per-doc window (docs are bounded, so a
    * doc_id partition never skews); the two aggregations combine
    * map-side. The corpus text is scanned once.
    */
  def cdcChunkStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs(spark, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
      .withColumn("brk", when(substring(md5(col("w")), 1, 1) === "0", 1L).otherwise(0L))
    // chunk id = number of breaks strictly BEFORE this word (a break
    // after word i starts a new chunk at word i+1)
    val w = Window
      .partitionBy("doc_id")
      .orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .withColumn("chunk", coalesce(sum(col("brk")).over(w), lit(0L)))
      .groupBy("doc_id", "chunk")
      .agg(count(lit(1)).as("len"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("len")).as("n_words"),
        max(col("len")).as("max_chunk_len"),
      )
      .select(
        col("doc_id"),
        col("n_chunks"),
        col("n_words"),
        col("max_chunk_len"),
        expr("(100 * n_words) div n_chunks").as("avg_chunk_x100"),
      )
  }

  /** Cross-document chunk-level exact dedup over the content-defined
    * chunking of [[cdcChunkStats]]: every CDC chunk gets a content
    * hash, chunks whose hash appears in >= 2 DISTINCT documents are
    * duplicated material, and each doc reports how much of it is made
    * of such shared chunks (scaled-integer fraction). This is the
    * sub-document exact-dedup granularity — boilerplate headers,
    * license blocks, and templated paragraphs that whole-doc hashing
    * misses and set-similarity only scores, CDC localizes to the
    * chunk: because boundaries depend only on content, an inserted
    * paragraph shifts no downstream chunk hashes, so the shared
    * material still collides.
    *
    * Scale shape: the (doc_id, chunk) re-aggregation reuses the
    * boundary window's doc_id partitioning (no second exchange —
    * chunk content reassembles where the window left the rows).
    * After hashing, only (doc_id, chunk_hash) pairs flow — ~1/16 of
    * the token count and 16 bytes wide, never the text. The chunk
    * lineage is REFERENCED TWICE (the per-doc side and the
    * hash-frequency build side of the join); AQE's exchange reuse
    * dedups the corpus token exchange between them, leaving only the
    * window/hash compute duplicated — measured equal to a
    * localCheckpoint-materialized single-lineage variant at sf4e
    * (3.64 vs 3.69 s min-of-3), so the checkpoint write buys
    * nothing (the span-coverage adjudication, again). The join back
    * is an equi-join on the hash — at 100 TB both sides
    * hash-partition; nothing is quadratic and nothing broadcasts a
    * corpus-scaling side (a window-count formulation would buffer
    * the hottest hash's partition; the join keeps skew bounded).
    */
  def cdcChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs(spark, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
      .withColumn("brk", when(substring(md5(col("w")), 1, 1) === "0", 1L).otherwise(0L))
    val wBefore = Window
      .partitionBy("doc_id")
      .orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    // chunk content re-assembles in chunk order: collect_list gives no
    // order guarantee, so the (pos, w) structs sort before joining
    val chunks = toks
      .withColumn("chunk", coalesce(sum(col("brk")).over(wBefore), lit(0L)))
      .groupBy("doc_id", "chunk")
      .agg(
        md5(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("w")))), x => x("w")),
          " ")).as("chunk_hash"))
    val hashDocs = chunks
      .groupBy("chunk_hash")
      .agg(count_distinct(col("doc_id")).as("nd"))
    chunks
      .join(hashDocs, "chunk_hash")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"),
      )
      .select(
        col("doc_id"),
        col("n_chunks"),
        col("n_dup_chunks"),
        expr("(1000000 * n_dup_chunks) div n_chunks").as("dup_frac_x1e6"),
      )
  }

  /** RAG-style retrieval chunking: split every document into
    * overlapping fixed token windows (window `w`, stride `s`, overlap
    * `w - s`) and emit one row per chunk — start offset, chunk token
    * count, and the chunk's content hash (the retrieval index key).
    * This is the materialization step every retrieval / embedding
    * pipeline runs before indexing.
    *
    * Scale shape: the chunk array builds map-side inside one
    * let-bound expression (the token array is bound once — the naive
    * composition re-splits the text per window), then explodes at
    * scan speed. No shuffle at all: output partitioning inherits the
    * scan, and a 100 TB corpus chunks embarrassingly parallel.
    * Chunk starts come from `sequence(0, size-1, s)` — `size >= 1`
    * always holds for split() output, so the sequence is never
    * descending (see the ANSI gotcha in [[winnowedFingerprints]]).
    */
  def ragChunks(spark: SparkSession, dir: String, w: Int = 32, s: Int = 24): DataFrame =
    docs(spark, dir)
      .select(
        col("doc_id"),
        explode(graft.functions.Let.bindArray(tokens(col("text"))) { toks =>
          transform(
            sequence(lit(0), size(toks) - 1, lit(s)),
            st =>
              struct(
                st.cast("long").as("start_tok"),
                size(slice(toks, st + 1, lit(w))).cast("long").as("n_tok_chunk"),
                md5(array_join(slice(toks, st + 1, lit(w)), " ")).as("chunk_hash"),
              ),
          )
        }).as("c"),
      )
      .select(col("doc_id"), col("c.start_tok"), col("c.n_tok_chunk"), col("c.chunk_hash"))

  /** Sort-free histogram quantiles: fixed equi-width bins over the
    * token-count distribution, cumulative counts, and the bins where
    * the p50/p90/p99 ranks land. [[lengthPercentiles]] is the exact
    * twin — but its rank window SORTS each group, which at 100 TB is
    * the step that dies; this is the constant-memory production
    * path: one |bins|-key aggregation (map-side combined), a window
    * over the tiny bin table, and the quantile read off as the first
    * bin whose cumulative count crosses ceil(q·N). Every value is an
    * exact integer — the estimate's granularity (the bin width) is
    * explicit in the output rather than hidden in sketch error.
    */
  def quantileHistogram(spark: SparkSession, dir: String, width: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    def crosses(pct: Int): Column = {
      // ceil(pct·N / 100) in integers: (pct·N + 99) div 100
      val target = expr(s"($pct * n_total + 99) div 100")
      (col("cum_docs") >= target && col("cum_docs") - col("n_docs") < target).cast("int")
    }
    docs(spark, dir)
      .select(tokenCount(col("text")).cast("long").as("n_tok"))
      .select(expr(s"n_tok div $width").as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("cum_docs", sum(col("n_docs")).over(wCum))
      .withColumn("n_total", sum(col("n_docs")).over(wAll))
      .select(
        col("bin"),
        (col("bin") * width).as("bin_lo"),
        col("n_docs"),
        col("cum_docs"),
        crosses(50).as("is_p50_bin"),
        crosses(90).as("is_p90_bin"),
        crosses(99).as("is_p99_bin"),
      )
  }

  /** Fixed query set for the BM25 gate: disjoint term lists, so each
    * token's df is never double-counted across queries.
    */
  val bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("window", "scan"),
    2 -> Seq("column", "value"),
    3 -> Seq("join", "hash"),
  )

  /** BM25 full-text ranking (k1 = 1.2, b = 0.75) of the corpus
    * against a fixed query set — top-10 docs per query. The classic
    * formula is float-laden (log idf, fractional length norm); both
    * engines here compute each term's score as ONE exact rational:
    * with k1 = 6/5 and b = 3/4, multiplying numerator and denominator
    * by 10·avgdl gives
    *
    *   score = 22·N·tf·avgdl / (df · (10·tf·avgdl + 3·avgdl + 9·dl))
    *
    * — every factor an integer (idf is the log-free rarity ratio
    * N/df, the [[tfIdfTopTerms]] rule), floor-scaled to ×10^6 per
    * term and integer-summed per (query, doc). The product runs in
    * DECIMAL(38,0)/HUGEINT so it stays exact at any corpus size.
    *
    * Scale shape: the query-term join shrinks the tf index to
    * |query terms| posting lists FIRST; everything derived after that
    * point (the per-token df window) runs on those few posting lists,
    * never the corpus. Per-doc lengths come from the tf aggregation
    * lineage as a |docs|-row groupBy (`dls`) hash-joined back into
    * the filtered postings — NOT a `sum over (partition by doc_id)`
    * window, which round 6 measured as a second corpus-sized
    * sort+shuffle of the full postings table. The 1-row corpus
    * totals re-aggregate the same |docs|-row `dls`. The per-query
    * top-10 plans as WindowGroupLimit — partitions keep 10
    * candidates per query before the rank exchange.
    */
  def bm25Search(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    // the literal-query ranking is memoized at depth 10 and served
    // as its own <= k prefix (rk is a deterministic total order):
    // three consumers — the search gate, RM3's top-3 feedback set,
    // the era-drift audit's folded leg — previously each re-ran the
    // whole scoring chain over the shared tf/dl artifacts (round-14
    // measurement: ~0.5 s per pass at sf0.1; the bruteForceTopK
    // artifact convention applied to the text tower)
    if (k <= Bm25RankDepth)
      bm25RankCache(spark, dir)(bm25ScoreAgainst(spark, dir, bm25QueryDf(spark), Bm25RankDepth, hintBroadcast = true))
        .filter(col("rk") <= k)
    else bm25ScoreAgainst(spark, dir, bm25QueryDf(spark), k, hintBroadcast = true)

  private val Bm25RankDepth = 10
  private val bm25RankCache = graft.util.Artifacts.memo(this, "graft_bm25_top")

  /** The literal bm25 query table (query_id, token, wgt = 1). */
  private def bm25QueryDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    bm25Queries
      .flatMap { case (qid, ts) => ts.map(t => (qid, t, 1L)) }
      .toDF("query_id", "token", "wgt")
  }

  /** [[bm25Search]]'s scoring core over an ARBITRARY weighted query
    * table (query_id, token, wgt) — the RM3 expansion
    * ([[bm25Rm3Search]]) re-enters here with its derived second-round
    * queries. `hintBroadcast` is true only for literal query tables;
    * a corpus-derived expansion must leave the join strategy to AQE
    * (the static-broadcast discipline PlanShapeSpec sweeps for).
    * Per-term contribution = wgt · ⌊sc⌋ — weighting AFTER the floor,
    * so the oracle's integer algebra is order-identical.
    */
  private def bm25ScoreAgainst(
      spark: SparkSession,
      dir: String,
      queries: DataFrame,
      k: Int,
      hintBroadcast: Boolean,
  ): DataFrame =
    bm25ScoreOver(tfIndexShared(spark, dir), dlIndexShared(spark, dir), queries, k, hintBroadcast)

  /** The scoring core over an EXPLICIT (tf, dl) index pair — the
    * full-corpus artifacts by default ([[bm25ScoreAgainst]]), an
    * era-bounded slice of them for the index-maintenance audit
    * ([[bm25EraDrift]]). Corpus statistics (df, avgdl, N) derive from
    * whatever index is passed, so an era-bounded index scores with
    * era-bounded statistics — exactly what a stored index serves
    * before a refresh folds the landed era in.
    */
  private def bm25ScoreOver(
      tf: DataFrame,
      dls: DataFrame,
      queries: DataFrame,
      k: Int,
      hintBroadcast: Boolean,
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val totals = dls
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_tok"))
    val scored = tf
      .join(if (hintBroadcast) broadcast(queries) else queries, "token")
      // df over the FILTERED postings is exact: the filter keeps every
      // posting of a query token, so within ONE query's slice the
      // count per token is that token's document count. Partitioning
      // by (query_id, token) — not token alone — keeps this true even
      // when two queries share a token: the query join replicates each
      // posting once per owning query, and a token-only partition
      // would count the replicas and silently inflate df.
      .withColumn(
        "df",
        count(lit(1)).over(Window.partitionBy("query_id", "token")))
      .join(dls, "doc_id")
      .crossJoin(broadcast(totals))
      .withColumn("avgdl", expr("tot_tok div n_docs"))
      .withColumn(
        "sc",
        expr(
          "CAST((CAST(1000000 AS DECIMAL(38,0)) * 22 * n_docs * tf * avgdl) div " +
            "(CAST(df AS DECIMAL(38,0)) * (10 * tf * avgdl + 3 * avgdl + 9 * dl)) AS BIGINT)"
        ),
      )
      .groupBy("query_id", "doc_id")
      .agg(sum(col("wgt") * col("sc")).as("bm25_x1e6"))
    scored
      .withColumn(
        "rk",
        row_number()
          .over(Window.partitionBy("query_id").orderBy(col("bm25_x1e6").desc, col("doc_id")))
          .cast("long"),
      )
      .filter(col("rk") <= k)
  }

  /** RM3 pseudo-relevance feedback on top of [[bm25Search]] — the
    * classic two-pass retrieval a RAG/text-search stack deploys when
    * queries are short: round 1 ranks with the raw query; the top
    * `fbDocs` documents per query are presumed relevant; their top
    * `fbTerms` tokens by summed tf (original query terms excluded,
    * ties lexicographic) join the query with weight 1 next to the
    * originals at weight 2; round 2 re-ranks with the expanded
    * weighted query. Every quantity is an exact integer (tf sums,
    * floor-divided per-term scores, integer weights applied AFTER the
    * floor), output rank-only — the cross-engine discipline.
    *
    * Scale shape: round 1 is the bm25 chain; the feedback set is
    * |queries|·fbDocs rows (bounded — broadcast by construction), so
    * expansion-term mining is one bounded semi-join against the tf
    * index plus a |queries·candidate-terms| rank window; round 2
    * re-enters the scoring core with the expanded table, derived from
    * the corpus — its query join strategy is AQE's choice, never a
    * static broadcast hint (the corpus-derived-hint discipline). All
    * three tf references (round-1 ranking, feedback mining, round-2
    * ranking) read the ONE materialized [[tfIndexShared]] artifact —
    * the deployment shape: the corpus is tokenized once per session,
    * not once per pass.
    */
  def bm25Rm3Search(
      spark: SparkSession,
      dir: String,
      k: Int = 10,
      fbDocs: Int = 3,
      fbTerms: Int = 5,
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qdf = bm25QueryDf(spark)
    val feedback = bm25Search(spark, dir, fbDocs).select(col("query_id"), col("doc_id"))
    val fbTf = tfIndexShared(spark, dir)
      .join(broadcast(feedback), "doc_id")
      .groupBy("query_id", "token")
      .agg(sum(col("tf")).as("etf"))
      .join(qdf.select("query_id", "token"), Seq("query_id", "token"), "left_anti")
    val expansion = fbTf
      .withColumn(
        "trk",
        row_number().over(Window.partitionBy("query_id").orderBy(col("etf").desc, col("token"))),
      )
      .filter(col("trk") <= fbTerms)
      .select(col("query_id"), col("token"), lit(1L).as("wgt"))
    val q2 = qdf
      .select(col("query_id"), col("token"), lit(2L).as("wgt"))
      .unionByName(expansion)
    bm25ScoreAgainst(spark, dir, q2, k, hintBroadcast = false)
      .select(col("query_id"), col("rk").as("rank"), col("doc_id"))
  }

  /** Serving-shift audit for the retrieval index's maintenance loop —
    * the bm25 analogue of the PQ tier's `pq_refresh_adc_shift`: per
    * query, how much of the top-k survives folding the landed era
    * into the stored index. The STORED leg scores against the
    * era-bounded slice of the [[tfIndexShared]]/[[dlIndexShared]]
    * artifacts (docs ≤ the 90% increment cutoff) with era-bounded
    * statistics (df, N, avgdl all move with the era — that is the
    * point of the audit); the FOLDED leg is the full-corpus index.
    * Per-document lengths are era-independent (a document's dl never
    * changes), so the stored leg's dl table is a filter of the same
    * artifact, not a rebuild.
    *
    * Output is exact integers only: (query_id, n_stored, n_folded,
    * n_overlap). Overlap via UNION-TAG + flag aggregation over the
    * shared (query, doc) key — both rank lists derive from the same
    * cached artifact lineage, so a join would trip
    * DetectAmbiguousSelfJoin (the minhashRecallVsExact rule).
    */
  def bm25EraDrift(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val cutoff = graft.operators.Dedup.incrementCutoff(spark, dir)
    val qdf = bm25QueryDf(spark)
    // the folded leg IS bm25Search's full-index ranking — read the
    // shared depth-10 artifact instead of re-scoring (round 14)
    val folded = bm25Search(spark, dir, k)
      .select(col("query_id"), col("doc_id"), lit(1L).as("in_folded"), lit(0L).as("in_stored"))
    val stored = bm25ScoreOver(
      tfIndexShared(spark, dir).filter(col("doc_id") <= cutoff),
      dlIndexShared(spark, dir).filter(col("doc_id") <= cutoff),
      qdf, k, hintBroadcast = true)
      .select(col("query_id"), col("doc_id"), lit(0L).as("in_folded"), lit(1L).as("in_stored"))
    folded
      .unionByName(stored)
      .groupBy("query_id", "doc_id")
      .agg(max(col("in_folded")).as("f"), max(col("in_stored")).as("s"))
      .groupBy("query_id")
      .agg(
        sum(col("s")).as("n_stored"),
        sum(col("f")).as("n_folded"),
        sum(col("s") * col("f")).as("n_overlap"),
      )
  }

  /** Zipf-law fit table over the top-`k` corpus tokens: rank, raw
    * frequency, the rank×frequency product (Zipf's law says it is
    * ~constant), and that product normalized by the rank-1 frequency
    * as a scaled-integer ratio — the tokenizer/corpus health check
    * (a truncated or templated corpus bends the rank·freq curve).
    * Every emitted value is an exact integer: the normalization
    * product runs in DECIMAL(38,0)/HUGEINT because 10^6·rank·freq
    * wraps 64 bits once a token passes ~10^11 occurrences — real at
    * the design scale for stop-words.
    *
    * Scale shape: rides [[vocabTopTokens]] (map-side explode, one
    * |vocab|-key combine shuffle, TakeOrderedAndProject top-k); the
    * rank window then runs on the k-row result, never the corpus.
    */
  def zipfFit(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wRank = Window.orderBy(col("n").desc, col("token"))
    val wAll = Window.partitionBy()
    vocabTopTokens(spark, dir, k)
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("n1", max(col("n")).over(wAll))
      .select(
        col("rank"),
        col("token"),
        col("n"),
        (col("rank") * col("n")).as("rank_x_freq"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * rank * n) div n1 AS BIGINT)")
          .as("c_norm_x1e6"),
      )
  }

  /** Per-source language-mix drift: how far each source's PREDICTED
    * language distribution (via [[langId]] — this is a composition of
    * the lang-ID operator with the drift analytics, not a re-read of
    * the declared `lang` column that [[chi2Contingency]] uses) sits
    * from the corpus-wide mix. Emits each source×language cell's
    * within-source share, the language's global share, and the lift
    * ratio between them — all as exact scaled-integer floor
    * divisions. The lift product runs in DECIMAL(38,0) on the Spark
    * side and HUGEINT in the oracle, so the arithmetic stays exact
    * far past the BIGINT overflow point (1e6·N² wraps 64 bits at
    * N≈3e6 docs; 38 digits carries ~1e10 docs — the 100 TB corpus).
    *
    * Scale shape: lang-ID is map-side expression work at scan speed;
    * one |source×lang|-key combine shuffle; the three margins derive
    * from the tiny cell table via windows (the empty-partition total
    * window is bounded by |sources|·|langs| rows, same contract as
    * [[chi2Contingency]]).
    */
  def langMixDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = docs(spark, dir)
      .select(col("source"), langId(col("text")).as("predicted"))
      .groupBy("source", "predicted")
      .agg(count(lit(1)).as("n_docs"))
    cells
      .withColumn("n_src", sum(col("n_docs")).over(Window.partitionBy("source")))
      .withColumn("n_lang", sum(col("n_docs")).over(Window.partitionBy("predicted")))
      .withColumn("nn", sum(col("n_docs")).over(Window.partitionBy()))
      .select(
        col("source"),
        col("predicted"),
        col("n_docs"),
        expr("(1000000 * n_docs) div n_src").as("share_x1e6"),
        expr("(1000000 * n_lang) div nn").as("global_share_x1e6"),
        expr(
          "CAST((CAST(1000000 AS DECIMAL(38,0)) * n_docs * nn) div (n_src * n_lang) AS BIGINT)"
        ).as("lift_x1e6"),
      )
  }

  /** Token frequency-of-frequencies (the Good–Turing count-of-counts
    * table): for each raw corpus frequency r, how many distinct
    * token types occur exactly r times, plus the Good–Turing
    * adjusted count r* = (r+1)·N_{r+1}/N_r as a floor-scaled integer
    * (0 where the r+1 bin is empty — the classic unsmoothed
    * estimator's gap). The head of this table is what a tokenizer /
    * corpus-health check reads: a healthy natural corpus has
    * N_1 > N_2 > … ; templated or truncated corpora bend it.
    *
    * Determinism: the (r+1)·N_{r+1} product runs in DECIMAL(38,0)/
    * HUGEINT — a stop-word's r at design scale (~10^11) times
    * 10^6·N_{r+1} overflows 64 bits.
    *
    * Scale shape: one |vocab|-key combine shuffle (map-side partial
    * counts), then a |distinct frequencies|-key combine — thousands
    * of rows at any corpus size, so the ordered lead() window on a
    * single partition is fine (and never sees the corpus).
    */
  def freqOfFreqs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    vocabFreqShared(spark, dir)
      .select(col("n").as("freq"))
      .groupBy("freq")
      .agg(count(lit(1)).as("n_types"))
      .withColumn("next_n", lead(col("n_types"), 1).over(Window.orderBy(col("freq"))))
      .withColumn("next_f", lead(col("freq"), 1).over(Window.orderBy(col("freq"))))
      .select(
        col("freq"),
        col("n_types"),
        when(
          col("next_f") === col("freq") + 1L,
          expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * (freq + 1) * next_n) div n_types AS BIGINT)"
          ),
        ).otherwise(0L).as("good_turing_x1e6"),
      )
  }

  /** Per-language source-concentration profile: the Herfindahl index
    * Σ(share²) of documents across sources, and its inverse — the
    * "effective number of sources" — both as floor-scaled integers.
    * This is the mixture-health check behind a training corpus: a
    * language whose effective source count collapses toward 1 is a
    * single-crawl monoculture no matter how many nominal sources it
    * lists. All arithmetic is exact: counts, their squares in
    * DECIMAL(38,0)/HUGEINT (a 10^12-doc source squares past 64
    * bits), and integer floor division at the end.
    *
    * Scale shape: one (lang, source) combine shuffle with map-side
    * partial counts — the only corpus-sized exchange; the per-lang
    * reduction runs on |langs|·|sources| rows, bounded far below the
    * corpus.
    */
  def sourceConcentration(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("c"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_sources"),
        sum(col("c")).as("n_docs"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("sq"),
      )
      .select(
        col("lang"),
        col("n_docs"),
        col("n_sources"),
        expr(
          "CAST((CAST(1000000 AS DECIMAL(38,0)) * sq) div (CAST(n_docs AS DECIMAL(38,0)) * n_docs) AS BIGINT)"
        ).as("hhi_x1e6"),
        expr(
          "CAST((CAST(1000000 AS DECIMAL(38,0)) * n_docs * n_docs) div sq AS BIGINT)"
        ).as("eff_sources_x1e6"),
      )

  /** Per-source unigram diversity: type-token ratio and the inverse
    * Simpson index of the token distribution ("effective vocabulary
    * size" — how many equally-likely tokens would produce the same
    * repeat probability). Near-duplicate-heavy or templated sources
    * show an effective vocabulary far below their nominal type count;
    * this is the cheap scan-level screen that runs before any
    * pairwise dedup. Exact integers throughout: Σc² rides
    * DECIMAL(38,0)/HUGEINT (a stop-word count at design scale
    * squares past 64 bits).
    *
    * Scale shape: one (source, token) combine shuffle with map-side
    * partial counts over the exploded index — only (source, token,
    * count) rows shuffle, never the text; the per-source reduction
    * is |sources|·|vocab|-bounded.
    */
  def unigramDiversity(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("source", "token")
      .agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_types"),
        sum(col("c")).as("n_tokens"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("sq"),
      )
      .select(
        col("source"),
        col("n_tokens"),
        col("n_types"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n_types) div n_tokens AS BIGINT)")
          .as("ttr_x1e6"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n_tokens * n_tokens) div sq AS BIGINT)")
          .as("eff_vocab_x1e6"),
      )

  /** Top-10 tokens PER LANGUAGE by frequency (ties lexicographic) —
    * the per-group heavy-hitter view behind stop-word lists and
    * per-language tokenizer seeds. Unlike the global
    * [[vocabTopTokens]] (TakeOrderedAndProject), the per-group top-k
    * plans as WindowGroupLimit: each partition keeps ≤10 candidates
    * per lang BEFORE the rank exchange, so the window never sorts a
    * full group — the grouped analogue of top-k pushdown.
    *
    * Scale shape: one (lang, token) combine shuffle with map-side
    * partials, then the group-limited rank window over |langs|·|vocab|
    * count rows — the text never shuffles.
    */
  def langTopTokens(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("token"))
    docs(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("lang", "token")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("lang"), col("rk"), col("token"), col("cnt"))
  }

  /** Pairwise vocabulary Jaccard between languages — how much the
    * language partitions' token inventories actually overlap (high
    * overlap between two predicted languages means the language-ID
    * boundary is porous there; it is also the cross-lingual
    * contamination gauge for a "monolingual" corpus slice). Same
    * sorted-list pair expansion as the source overlap matrix: the
    * per-token language list is |langs|-bounded, so the expansion is
    * O(|langs|²) per token, never a self-join of the corpus.
    *
    * Scale shape: one distinct (lang, token) shuffle, one per-token
    * combine producing the bounded lang lists, and a |langs|²-row
    * tail. The final division is one double op on identical exact
    * integers in both engines.
    */
  def langVocabOverlap(spark: SparkSession, dir: String): DataFrame = {
    val lt = docs(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .distinct()
    val ns = lt.groupBy("lang").agg(count(lit(1)).as("n"))
    val pairs = lt
      .groupBy("token")
      .agg(sort_array(collect_set(col("lang"))).as("ls"))
      .filter(size(col("ls")) >= 2)
      .select(
        explode(graft.functions.Let.bindArray(col("ls")) { a =>
          flatten(
            transform(
              a,
              (x, i) => transform(slice(a, i + 2, size(a)), y => struct(x.as("a"), y.as("b"))),
            )
          )
        }).as("p"),
      )
      .groupBy(col("p.a").as("lang_a"), col("p.b").as("lang_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(ns.select(col("lang").as("lang_a"), col("n").as("na")), Seq("lang_a"))
      .join(ns.select(col("lang").as("lang_b"), col("n").as("nb")), Seq("lang_b"))
      .select(
        col("lang_a"),
        col("lang_b"),
        col("n_common"),
        (col("na") + col("nb") - col("n_common")).as("n_union"),
        (col("n_common").cast("double") / (col("na") + col("nb") - col("n_common")))
          .as("jaccard"),
      )
  }

  /** Robust (median/MAD) length census per PREDICTED language — the
    * grouped twin of [[RelationalQueries.madOutliers]] over the
    * language-ID output instead of a labeled column: a language whose
    * token-length MAD is tiny relative to its median is dominated by
    * templated documents, and the outlier count flags the tail worth
    * re-screening. Grouping by the classifier's own output (not the
    * `lang` label) makes this a production-shaped audit: labels don't
    * exist at ingest time.
    *
    * Determinism: token counts are exact integers, both medians use
    * the exact `percentile_disc` rank rule, and the 3·MAD screen
    * compares integers — nothing floating anywhere.
    *
    * Scale shape: SORT-FREE medians (the quantile_histogram /
    * madOutliers rule) — a per-language rank window sorts a
    * corpus-sized partition per task at this key domain. Each median
    * aggregates to the per-(lang, value) histogram first (map-side
    * combine) and reads the rank off the cumulative count over that
    * bounded frame; each reduces to a |langs|-row frame that joins
    * back WITHOUT a static hint — AQE broadcasts the handful of rows
    * (turnout de-pin rule). The 100 TB path swaps in the GK sketch
    * this exact twin validates.
    */
  def langRobustStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy("predicted")
    def p50(frame: DataFrame, v: String, out: String): DataFrame = {
      val wCum = Window.partitionBy("predicted").orderBy(col(v))
        .rowsBetween(Window.unboundedPreceding, 0)
      frame
        .groupBy(col("predicted"), col(v))
        .agg(count(lit(1)).as("__cnt"))
        .withColumn("__cum", sum(col("__cnt")).over(wCum))
        .withColumn("__n", sum(col("__cnt")).over(wAll))
        .groupBy("predicted")
        .agg(min(when(col("__cum") >= expr("((__n - 1) * 50) div 100") + 1, col(v))).as(out))
    }
    val typed = docs(spark, dir)
      .select(
        langId(col("text")).as("predicted"),
        col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tok"),
      )
    val dev = typed
      .join(p50(typed, "n_tok", "med_tok"), "predicted")
      .withColumn("dev", abs(col("n_tok") - col("med_tok")))
    dev
      .join(p50(dev, "dev", "mad_tok"), "predicted")
      .groupBy("predicted")
      .agg(
        count(lit(1)).as("n_docs"),
        max(col("med_tok")).as("median_tok"),
        max(col("mad_tok")).as("mad_tok"),
        sum(when(col("dev") > lit(3L) * col("mad_tok"), 1L).otherwise(0L)).as("n_outliers"),
      )
  }
}
