package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Sampling, TextAnalysis}
import graft.util.ScratchDirs

/** Invariants for the text-pipeline operators (exact values are
  * pinned by the DuckDB oracle gate; these specs pin the properties
  * the gate can't express).
  */
class TextPipelineSpec extends AnyFunSuite {
  val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession
    .builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  test("normalization is idempotent and produces only [a-z0-9 ] singles-spaced") {
    import spark.implicits._
    val raw = Seq("  Hello,   WORLD!! 42  ", "a--b", "", "ALREADY normal text").toDF("text")
    val once = TextAnalysis.normalized(col("text"))
    val rows = raw
      .select(
        once.as("n1"),
        TextAnalysis.normalized(once).as("n2"),
      )
      .collect()
    rows.foreach { r =>
      assert(r.getString(0) == r.getString(1), "normalize must be idempotent")
      assert(!r.getString(0).matches(".*[^a-z0-9 ].*"), s"illegal char in '${r.getString(0)}'")
      assert(!r.getString(0).contains("  "), "spaces must be collapsed")
    }
    assert(rows.map(_.getString(0)).toSeq == Seq("hello world 42", "ab", "", "already normal text"))
  }

  test("repetition ratio is (n_bigrams - n_distinct)/n_bigrams within [0,1)") {
    val rows = TextAnalysis.repetitionStats(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nb, nd, ratio) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nd >= 1 && nd <= nb)
      assert(math.abs(ratio - (nb - nd).toDouble / nb) == 0.0)
      assert(ratio >= 0.0 && ratio < 1.0)
    }
  }

  test("vocab top-k returns the k most frequent tokens with lexicographic tie-break") {
    val k = 5
    val top = TextAnalysis.vocabTopTokens(spark, sf, k).collect()
    assert(top.length == k)
    // recompute the full count table and select the same top-k naively
    val all = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token")
      .count()
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (t, n) => (-n, t) }
      .take(k)
    assert(top.map(r => (r.getString(0), r.getLong(1))).sortBy { case (t, n) => (-n, t) }.toSeq == all.toSeq)
  }

  test("bigram LM: denominators partition the bigram mass and p is the exact count quotient") {
    val rows = TextAnalysis.bigramLm(spark, sf).collect()
    assert(rows.nonEmpty)
    // n_left must equal the sum of n over the same left token, and
    // p must be bit-exactly n/n_left
    val byLeft = rows.groupBy(_.getString(0))
    byLeft.foreach { case (_, grp) =>
      val total = grp.map(_.getLong(2)).sum
      grp.foreach { r =>
        assert(r.getLong(3) == total, s"n_left mismatch for ${r.getString(0)}")
        assert(r.getDouble(4) == r.getLong(2).toDouble / total)
      }
    }
    // total bigram count = sum over docs of (n_tok - 1), docs >= 2 tokens
    val expectedTotal = spark.read.parquet(s"$sf/documents.parquet")
      .select((size(split(col("text"), " ")) - 1).cast("long").as("nb"))
      .filter(col("nb") >= 1)
      .agg(sum("nb"))
      .head.getLong(0)
    assert(rows.map(_.getLong(2)).sum == expectedTotal)
  }

  test("length percentiles are the percentile_disc values of the sorted lengths") {
    val got = TextAnalysis.lengthPercentiles(spark, sf).collect()
    assert(got.nonEmpty)
    // recompute naively: sort each language's lengths and index
    val byLang = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("n_tok"), col("doc_id"))
      .collect()
      .groupBy(_.getString(0))
    got.foreach { r =>
      val (lang, n) = (r.getString(0), r.getLong(1))
      val sorted = byLang(lang).map(x => (x.getLong(1), x.getLong(2))).sortBy(identity).map(_._1)
      assert(n == sorted.length.toLong)
      def disc(pct: Long): Long = sorted((((n - 1) * pct) / 100).toInt)
      assert(r.getLong(2) == disc(50) && r.getLong(3) == disc(90) && r.getLong(4) == disc(99))
      assert(r.getLong(2) <= r.getLong(3) && r.getLong(3) <= r.getLong(4))
    }
  }

  test("tf-idf top term: one row per doc, score is the exact count quotient, term maximizes it") {
    val rows = TextAnalysis.tfIdfTopTerms(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet").collect()
    assert(rows.length == docs.length, "exactly one top term per document")
    val nDocs = docs.length.toLong
    // rebuild tf/df naively on the driver
    val tokensByDoc = docs.map(d => d.getAs[Long]("doc_id") ->
      d.getAs[String]("text").split(" ", -1).filter(_.nonEmpty)).toMap
    val df = tokensByDoc.values.flatMap(_.distinct).groupBy(identity).map { case (t, g) => t -> g.size.toLong }
    rows.foreach { r =>
      val (docId, top, tf, dfGot, score) =
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      val counts = tokensByDoc(docId).groupBy(identity).map { case (t, g) => t -> g.size.toLong }
      assert(counts(top) == tf && df(top) == dfGot)
      assert(score == (tf * nDocs).toDouble / dfGot)
      // no other token of the doc scores strictly higher, and equal
      // scores lose to the lexicographically smaller token
      counts.foreach { case (t, c) =>
        val s = (c * nDocs).toDouble / df(t)
        assert(s < score || (s == score && t >= top), s"doc $docId: $t beats $top")
      }
    }
  }

  test("vocab coverage partitions tokens and totals the vocab occurrences") {
    val rows = TextAnalysis.vocabCoverage(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nt, iv, oov, cov) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(iv + oov == nt && iv >= 0 && oov >= 0)
      assert(cov == iv.toDouble / nt)
    }
    // corpus-wide: in-vocab total = total occurrences of the top-k tokens
    val vocab = TextAnalysis.vocabTopTokens(spark, sf).collect().map(_.getString(0)).toSet
    val expected = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("t"))
      .collect()
      .count(r => vocab(r.getString(0)))
    assert(rows.map(_.getLong(2)).sum == expected.toLong)
  }

  test("doc novelty counts exactly the corpus-unique bigrams") {
    val rows = TextAnalysis.docNovelty(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nb, nu, nov) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nu >= 0 && nu <= nb)
      assert(nov == nu.toDouble / nb)
    }
    // every corpus-unique bigram lives in exactly one doc, so the
    // per-doc unique counts sum to the number of count-1 bigram types
    val allGrams = spark.read.parquet(s"$sf/documents.parquet")
      .collect()
      .flatMap { d =>
        val ts = d.getAs[String]("text").split(" ", -1)
        if (ts.length < 2) Nil else ts.sliding(2).map(_.mkString(" ")).toSeq
      }
    val uniqueTypes = allGrams.groupBy(identity).count(_._2.length == 1)
    assert(rows.map(_.getLong(2)).sum == uniqueTypes.toLong)
  }

  test("gopherKeep predicate agrees with the per-rule filter's n_keep counts") {
    val perSource = TextAnalysis.gopherQualityFilter(spark, sf)
      .select("source", "n_keep")
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val kept = spark.read.parquet(s"$sf/documents.parquet")
      .filter(TextAnalysis.gopherKeep(col("text")))
      .groupBy("source")
      .count()
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    perSource.foreach { case (src, nKeep) =>
      assert(kept.getOrElse(src, 0L) == nKeep, s"keep-count mismatch for $src")
    }
  }

  test("gopher filter counts are consistent per source") {
    val rows = TextAnalysis.gopherQualityFilter(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(1)
      val fails = (2 to 5).map(r.getLong)
      val keep = r.getLong(6)
      assert(fails.forall(f => f >= 0 && f <= n))
      // a doc failing any rule is not kept; overlapping failures mean
      // the sum of fail counts can exceed n - keep but never undershoot
      assert(keep <= n && fails.sum >= n - keep)
    }
  }

  test("weighted mix selects at most n_docs and honors the threshold ladder") {
    val rows = Sampling.weightedMixStats(spark, sf).collect()
    assert(rows.nonEmpty)
    val thresholds = Set("ff", "7f", "3f", "1f")
    rows.foreach { r =>
      assert(thresholds.contains(r.getString(1)))
      assert(r.getLong(3) <= r.getLong(2))
      // "ff" keeps every bucket — selection must equal the doc count
      if (r.getString(1) == "ff") assert(r.getLong(3) == r.getLong(2))
    }
  }

  test("bloom sizing scales with the held-out cardinality, floored and capped") {
    // ~9.6 bits/item at 1% fpp: a fixed-width filter silently stops
    // filtering past its assumed size (the absolute-parameter-at-
    // scale class the round-8 rehearsal measured); width must grow
    // with n until the 8 MiB broadcast ceiling
    val b1m = Sampling.bloomBits(1000000L)
    assert(b1m >= 9L * 1000000 && b1m <= 10L * 1000000, s"1M items -> $b1m bits")
    assert(Sampling.bloomBits(0L) == (1L << 13), "empty set floors at 1 KiB")
    assert(Sampling.bloomBits(10L) == (1L << 13), "tiny sets floor at 1 KiB")
    assert(Sampling.bloomBits(Long.MaxValue / 16) == (1L << 26), "capped at 8 MiB")
    assert(Sampling.bloomBits(100000000L) == (1L << 26), "100M items hits the cap")
  }

  test("fuzzy decontamination: train-side ids, jaccard bounds, exact-dup split immunity") {
    import org.apache.spark.sql.functions._
    val rows = Sampling.fuzzyDecontamination(spark, sf).cache()
    try {
      assert(rows.count() > 0, "driver corpus has cross-split near dups")
      // every flagged id really is a train-split doc
      val splits = graft.sources.Tables(spark, sf, "documents")
        .select(col("doc_id").as("train_doc_id"), Sampling.assignSplit(col("text")).as("split"))
      assert(rows.join(splits, Seq("train_doc_id")).filter(col("split") =!= "train").count() == 0)
      assert(rows.filter(col("max_jaccard") < 0.3 || col("max_jaccard") > 1.0).count() == 0)
      assert(rows.filter(col("n_test_near_dups") < 1).count() == 0)
      // content-hash splits send exact duplicates to the SAME split:
      // a jaccard-1.0 identical-text pair can never cross the
      // boundary, so every contamination hit is a genuine NEAR dup.
      // (jaccard 1.0 with different text — same shingle SET — can
      // legitimately cross; check against texts, not jaccard.)
      val texts = graft.sources.Tables(spark, sf, "documents").select("doc_id", "text")
      val sp = texts.select(col("doc_id"), col("text"), Sampling.assignSplit(col("text")).as("split"))
      val pairs = graft.operators.Dedup.minhashLshPairsShared(spark, sf)
      val crossIdentical = pairs
        .join(sp.select(col("doc_id").as("doc_a"), col("text").as("ta"), col("split").as("sa")), Seq("doc_a"))
        .join(sp.select(col("doc_id").as("doc_b"), col("text").as("tb"), col("split").as("sb")), Seq("doc_b"))
        .filter(col("sa") =!= col("sb"))
        .filter(col("ta") === col("tb"))
        .count()
      assert(crossIdentical == 0, "identical-text pair crossed the hash-split boundary")
    } finally rows.unpersist()
  }

  test("semantic decontamination: flags exactly the train x test slice of the pair graph") {
    import org.apache.spark.sql.functions._
    // in-memory recompute from the same (replica-augmented) pair
    // table + the vec_id-hash split rule — the gate must equal it
    // row-for-row
    def splitOf(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(s"$id|vsplit".getBytes("UTF-8")).take(1).map("%02x".format(_)).mkString
      if (h < "cc") "train" else if (h < "e6") "val" else "test"
    }
    val pairs = graft.operators.Similarity
      .embeddingNearDupPairsOver(
        Sampling.embAugmented(spark, sf, parallel = true),
        Sampling.embAugmented(spark, sf, parallel = false))
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = pairs
      .flatMap { case (a, b) =>
        (splitOf(a), splitOf(b)) match {
          case ("train", "test") => Some(a)
          case ("test", "train") => Some(b)
          case _ => None
        }
      }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = Sampling.semanticDecontamination(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, s"gate ${got.size} rows != recompute ${expected.size}")
    // a val x test or train x val pair must never be flagged: the
    // sweep is strictly about the held-out TEST boundary
    got.keys.foreach(id => assert(splitOf(id) == "train"))

    // NON-VACUOUSNESS (the r11 verdict's weak mark): every planted
    // replica of a test original whose fresh id hashed into the
    // train split is a cosine-1.0 cross-split leak BY CONSTRUCTION —
    // the sweep must flag EVERY one of them (a missed leak is
    // unrecoverable once trained on). This is the pin an inverted or
    // dropped filter cannot survive.
    val r = Sampling.SemanticPlantReplicas
    val testOriginals = graft.sources.Tables(spark, sf, "embeddings")
      .select("vec_id").collect().map(_.getLong(0)).filter(splitOf(_) == "test")
    assert(testOriginals.nonEmpty, "fixture has no test-split vectors at all")
    val guaranteedLeaks = for {
      v <- testOriginals
      rep <- 0 until r
      id = -(v * r + rep + 1)
      if splitOf(id) == "train"
    } yield id
    assert(guaranteedLeaks.nonEmpty, "no planted replica landed in train — planting is vacuous")
    guaranteedLeaks.foreach { id =>
      assert(got.contains(id), s"planted train replica $id (exact dup of a test vector) not flagged")
    }
    assert(got.nonEmpty)
  }

  test("semantic bank refresh: fold equals rebuild row-for-row, probe is non-vacuous") {
    // the maintenance-loop invariant (the boilerplate_index_refresh
    // convention): folding the landed test-era increment into the
    // stored bank must yield the SAME probe result as rebuilding the
    // bank from scratch — a boundary off-by-one or a dropped/doubled
    // era row would break equality
    val fold = Sampling.semanticBankRefreshProbe(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rebuilt = Sampling.semanticBankRefreshProbe(spark, sf, rebuild = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fold == rebuilt, s"fold ${fold.size} rows != rebuild ${rebuilt.size}")
    assert(fold.nonEmpty, "probe found no bank hits — the audit is vacuous at this fixture")
  }

  test("classifier scoring: feature identity, bounds, and the trained-weight-table twin") {
    val scores = TextAnalysis.classifierScores(spark, sf).cache()
    try {
      // unigrams + adjacent bigrams of an n-token doc = 2n − 1 features
      val toks = graft.sources.Tables(spark, sf, "documents")
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      val badCount = scores.join(toks, Seq("doc_id"))
        .filter(col("n_features") =!= lit(2) * col("n_tok") - 1)
        .count()
      assert(badCount == 0, "n_features != 2n-1 somewhere")
      // every per-feature weight is in [-1000, 1000]
      assert(scores.filter(abs(col("score")) > col("n_features") * 1000).count() == 0)
      // a non-degenerate decision boundary (both classes occur)
      val accepted = scores.filter(col("accepted") === 1).count()
      assert(accepted > 0 && accepted < scores.count())

      // the trained-weights deployment path: the SAME score via a
      // broadcast join against an explicit 4096-row weight table —
      // pins the md5 weight derivation and proves weights are
      // swappable without touching the scoring plan
      val weightTable = spark.range(4096).select(
        format_string("%03x", col("id")).as("bucket"),
        (conv(substring(md5(concat(lit("w|"), format_string("%03x", col("id")))), 1, 4), 16, 10)
          .cast("long") % 2001L - 1000L).as("w"),
      )
      val feats = graft.functions.Let.bindArray(split(col("text"), " ")) { t =>
        concat(
          t,
          transform(sequence(lit(0), size(t) - 2),
            i => concat(element_at(t, i + 1), lit(" "), element_at(t, i + 2))),
        )
      }
      val viaJoin = graft.sources.Tables(spark, sf, "documents")
        .select(col("doc_id"), explode(feats).as("feature"))
        .filter(col("feature") =!= "")
        .select(col("doc_id"), substring(md5(concat(lit("clf|"), col("feature"))), 1, 3).as("bucket"))
        .join(broadcast(weightTable), Seq("bucket"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_features"), sum("w").as("score"))
        .select(col("doc_id"), col("n_features"), col("score"),
          (col("score") >= 0).cast("int").as("accepted"))
      val diffs = scores.exceptAll(viaJoin).count() + viaJoin.exceptAll(scores).count()
      assert(diffs == 0, s"weight-table twin disagrees: $diffs row diffs")
    } finally scores.unpersist()
  }

  test("cdc chunk dedup flags a planted shared prefix and agrees with chunk stats") {
    import spark.implicits._
    // docs 1 and 2 share a 100-word prefix (identical content →
    // identical CDC boundaries inside the prefix, since chunking is
    // content-defined and the preceding context is identical); doc 3
    // shares nothing. Every full chunk inside the prefix collides
    // across docs 1 and 2; the suffixes diverge.
    val shared = (1 to 100).map(i => s"a$i").mkString(" ")
    val d1 = shared + " " + (1 to 30).map(i => s"b$i").mkString(" ")
    val d2 = shared + " " + (1 to 30).map(i => s"c$i").mkString(" ")
    val d3 = (1 to 80).map(i => s"z$i").mkString(" ")
    val tmp = ScratchDirs.create("graft-cdcdedup").toString
    Seq((1L, d1), (2L, d2), (3L, d3))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'src0' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = TextAnalysis.cdcChunkDedup(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows(1L)._2 >= 1, s"doc 1 must flag shared-prefix chunks: ${rows(1L)}")
    assert(rows(2L)._2 >= 1, s"doc 2 must flag shared-prefix chunks: ${rows(2L)}")
    assert(rows(3L)._2 == 0, s"doc 3 shares nothing: ${rows(3L)}")
    // both docs see the SAME number of duplicated chunks (the shared
    // prefix's full chunks), and the fraction formula holds
    assert(rows(1L)._2 == rows(2L)._2)
    rows.foreach { case (id, (n, dup, frac)) =>
      assert(dup >= 0 && dup <= n)
      assert(frac == 1000000L * dup / n, s"doc $id fraction mismatch")
    }
    // chunk counts agree with the stats operator on the same corpus
    val stats = TextAnalysis.cdcChunkStats(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, (n, _, _)) =>
      assert(stats(id) == n, s"doc $id chunk count disagrees with cdcChunkStats")
    }
  }

  test("winnow pairs surface a planted shared passage at different positions") {
    import spark.implicits._
    // a 40-word passage shared by docs 1 and 2 at DIFFERENT offsets:
    // winnowing selection is content-defined, so the selected
    // fingerprints inside the passage coincide regardless of where
    // the passage sits; doc 3 shares nothing
    val passage = (1 to 40).map(i => s"p$i").mkString(" ")
    val d1 = passage + " " + (1 to 12).map(i => s"b$i").mkString(" ")
    val d2 = (1 to 12).map(i => s"c$i").mkString(" ") + " " + passage
    val d3 = (1 to 30).map(i => s"z$i").mkString(" ")
    val tmp = ScratchDirs.create("graft-winnow").toString
    Seq((1L, d1), (2L, d2), (3L, d3))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'src0' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = graft.operators.Dedup.winnowPairs(spark, tmp).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(rows.contains((1L, 2L)), s"the planted passage must match: $rows")
    val (nShared, overlap) = rows((1L, 2L))
    assert(nShared >= 2, s"expected >= 2 shared selected fingerprints, got $nShared")
    assert(overlap > 0 && overlap <= 1000000L)
    assert(!rows.keySet.exists { case (a, b) => a == 3L || b == 3L },
      "doc 3 shares no passage and must not pair")
  }

  test("bpe trainer reproduces the hand-computed merge table") {
    import spark.implicits._
    // corpus "aaab aaab ab": wf = {aaab: 2, ab: 1}
    // r1: aa counts 2·2=4 (one word), ab counts 2+1=3 → merge aa→A,
    //     greedy leftmost gives aaab→Aab (the second 'aa' overlaps)
    // r2: over {Aab:2, ab:1}: Aa=2, ab=3 (2 words) → merge ab→B
    // r3: over {AB:2, B:1}: AB=2 (1 word) → merge AB→C
    val tmp = ScratchDirs.create("graft-bpe").toString
    Seq((1L, "aaab aaab ab"))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'src0' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = TextAnalysis.bpeMergeTrain(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
      .sortBy(_._1)
    assert(rows == Seq((1L, "aa", 4L, 1L), (2L, "ab", 3L, 2L), (3L, "AB", 2L, 1L)),
      s"merge table: $rows")
  }

  test("bpe encode compresses the hand corpus exactly as the merge table predicts") {
    import spark.implicits._
    // same corpus as the trainer pin; applying aa→A, ab→B, AB→C to
    // "aaab aaab ab" gives "C C B": 10 symbols → 3
    val tmp = ScratchDirs.create("graft-bpe-enc").toString
    Seq((1L, "aaab aaab ab"))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'src0' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = TextAnalysis.bpeEncodeStats(spark, tmp).collect()
    assert(r.length == 1)
    assert((r(0).getLong(1), r(0).getLong(2), r(0).getLong(3)) == ((10L, 3L, 300000L)),
      s"got ${r(0)}")
    // corpus-wide invariants at sf0.001: encoding never grows a doc
    TextAnalysis.bpeEncodeStats(spark, sf).collect().foreach { row =>
      assert(row.getLong(2) <= row.getLong(1), s"doc ${row.getLong(0)} grew under encode")
      assert(row.getLong(3) <= 1000000L)
    }
  }

  test("clfWeight LUT splice equals the two-md5 reference expression") {
    // every corpus unigram/bigram feature, plus 20k synthetic integer
    // features to sweep (nearly all of) the 4096 bucket domain
    val corpusFeats = graft.sources.Tables(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("f"))
      .filter(col("f") =!= "")
    val synthFeats = spark.range(20000).select(col("id").cast("string").as("f"))
    val diff = corpusFeats
      .unionAll(synthFeats)
      .select(
        TextAnalysis.clfWeight(col("f")).as("lut"),
        TextAnalysis.clfWeightRef(col("f")).as("ref"),
      )
      .filter(col("lut") =!= col("ref") || col("lut").isNull)
      .count()
    assert(diff == 0, "LUT weight diverged from the md5 expression form")
  }

  test("lm doc score is the exact scaled mean bigram conditional probability (in-memory recompute)") {
    val docsRows = graft.sources.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // split(" ", -1) keeps empty tokens, matching Spark's split()
    val bigrams = docsRows.flatMap { case (id, t) =>
      val ts = t.split(" ", -1)
      if (ts.length < 2) Nil else ts.sliding(2).map(p => (id, p(0), p(1))).toSeq
    }
    val cntL = bigrams.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val cntLR = bigrams.groupBy(b => (b._2, b._3)).view.mapValues(_.size.toLong).toMap
    val expected = bigrams.groupBy(_._1).view.mapValues { g =>
      val qs = g.map(b => 1000000L * cntLR((b._2, b._3)) / cntL(b._2))
      (g.size.toLong, qs.sum / g.size)
    }.toMap
    val got = TextAnalysis.lmDocScores(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected)
    // scores are probabilities: never above the 1e6 scale
    assert(got.values.forall(_._2 <= 1000000L))
  }

  test("quality calibration buckets partition the bigram-bearing docs") {
    val cal = TextAnalysis.qualityCalibration(spark, sf).collect()
    assert(cal.nonEmpty)
    val nDocsWithBigrams = graft.sources.Tables(spark, sf, "documents")
      .filter(size(split(col("text"), " ")) >= 2).count()
    assert(cal.map(_.getLong(1)).sum == nDocsWithBigrams,
      "every bigram-bearing doc lands in exactly one bucket")
    cal.foreach { row =>
      val nov = row.getLong(3)
      assert(nov >= 0 && nov <= 1000000L, s"novelty out of range: $row")
    }
  }

  test("rm3: the expanded round re-ranks and never surfaces an original query term as expansion") {
    val r1 = TextAnalysis.bm25Search(spark, sf, k = 10)
      .select(col("query_id").cast("long"), col("rk"), col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val r2 = TextAnalysis.bm25Rm3Search(spark, sf)
      .select(col("query_id").cast("long"), col("rank"), col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(r2.nonEmpty && r2.keys.map(_._1).toSet == r1.keys.map(_._1).toSet)
    // expansion must DO something: at least one query's ranking moved
    assert(r1 != r2, "RM3 produced exactly the round-1 ranking — expansion is inert")
    // and rank prefixes are gapless 1..k per query
    r2.keys.groupBy(_._1).foreach { case (q, ks) =>
      assert(ks.map(_._2).toSeq.sorted == (1L to ks.size.toLong), s"rank gap for query $q")
    }
  }

  test("temperature mix flattens a skewed source distribution toward sqrt shares") {
    import spark.implicits._
    val tmp = ScratchDirs.create("graft-temp").toString
    // 1000 docs from src_big, 40 from src_small — raw share 4%, the
    // T=2 rule should lift it toward sqrt(40)/(sqrt(40)+sqrt(1000)) ≈ 17%
    (0 until 1040)
      .map { i =>
        val src = if (i < 1000) "src_big" else "src_small"
        (i.toLong, s"w$i a b", "en", src, 0L)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = graft.operators.Sampling.temperatureMix(spark, tmp).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5))).toMap
    val (nB, wB, tB, selB) = rows("src_big")
    val (nS, wS, tS, selS) = rows("src_small")
    assert(wB == 31L && wS == 6L, s"integer sqrt weights: $wB, $wS")
    // target shares follow sqrt, not raw counts: small gets ~4x its raw share
    val rawShare = nS.toDouble / (nS + nB)
    val tgtShare = tS.toDouble / (tS + tB)
    assert(tgtShare > 3 * rawShare, s"flattening failed: raw $rawShare, target $tgtShare")
    // budget: the two targets sum to ~half the corpus (integer floors)
    assert(tB + tS <= 520 && tB + tS >= 500)
    // selection is threshold-capped: never more selected than the corpus
    assert(selB <= nB && selS <= nS)
  }

  test("importance weights score the target language above the rest") {
    val rows = Sampling.importanceWeights(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, nFeat, w) =>
      assert(nFeat > 0 && w > 0, s"doc $id: weights are positive by construction")
    }
    // the mean weight of target-language docs must exceed the mean of
    // the rest — the whole point of the importance ratio (the target
    // docs ARE the target distribution's sample)
    val langs = graft.sources.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val (tgt, rest) = rows.partition { case (id, _, _) => langs(id) == "en" }
    assert(tgt.nonEmpty && rest.nonEmpty)
    val tgtMean = tgt.map(_._3).sum.toDouble / tgt.size
    val restMean = rest.map(_._3).sum.toDouble / rest.size
    assert(tgtMean > restMean,
      s"target-lang mean weight $tgtMean must exceed non-target $restMean")
  }

  test("importance resampling accepts by the exact integer test, max-weight always in") {
    val rows = Sampling.importanceResample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    assert(rows.nonEmpty)
    val wMax = rows.map(_._2).max
    rows.foreach { case (id, w, h16, wm, acc) =>
      assert(wm == wMax, s"doc $id carries a stale w_max")
      assert(h16 >= 0 && h16 < 65536)
      val expect = if (h16 * wm < w * 65536L) 1 else 0
      assert(acc == expect, s"doc $id acceptance disagrees with the integer test")
    }
    // h16 < 65536 makes the max-weight doc unconditionally accepted
    rows.filter(_._2 == wMax).foreach { case (id, _, _, _, acc) =>
      assert(acc == 1, s"max-weight doc $id must always be accepted")
    }
    // the corpus has weight spread, so both verdicts must occur
    assert(rows.exists(_._5 == 1) && rows.exists(_._5 == 0))
  }

  test("hybrid RRF fusion is consistent with its two rank lists (both vector towers)") {
    def checkFusion(fused: Array[org.apache.spark.sql.Row]): Unit = {
      assert(fused.nonEmpty)
      val byQuery = fused.groupBy(_.getLong(0))
      assert(byQuery.keySet == TextAnalysis.bm25Queries.map(_._1.toLong).toSet)
      byQuery.foreach { case (q, rs) =>
        // fused ranks are contiguous from 1 and ordered by (rrf desc, doc)
        val ordered = rs.sortBy(r => (-r.getLong(4), r.getLong(1)))
        assert(ordered.map(_.getLong(6)).toSeq == (1L to ordered.length).toSeq,
          s"query $q fused_rank not contiguous")
        rs.foreach { r =>
          val (rkText, rkVec) = (Option(r.get(2)), Option(r.get(3)))
          val expected =
            rkText.map(v => 1000000L / (60 + v.asInstanceOf[Long])).getOrElse(0L) +
              rkVec.map(v => 1000000L / (60 + v.asInstanceOf[Long])).getOrElse(0L)
          assert(r.getLong(4) == expected, s"query $q doc ${r.getLong(1)} rrf mismatch")
          assert(r.getInt(5) == rkText.size + rkVec.size, "n_modalities mismatch")
          assert(r.getInt(5) >= 1, "a fused row must come from at least one modality")
        }
      }
    }
    val exact = graft.operators.Similarity.hybridRrfTopK(spark, sf).collect()
    val served = graft.operators.Similarity.hybridRrfIvfPqTopK(spark, sf).collect()
    checkFusion(exact)
    checkFusion(served)
    // the serving swap changes only the vector tower: the text-leg
    // rank of any (query, doc) present in both outputs must agree
    def textRanks(rows: Array[org.apache.spark.sql.Row]) =
      rows.filter(r => !r.isNullAt(2)).map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val (ta, tb) = (textRanks(exact), textRanks(served))
    ta.keySet.intersect(tb.keySet).foreach { k =>
      assert(ta(k) == tb(k), s"text-leg rank diverged across towers at $k")
    }
  }

  test("lm ppl split: buckets partition each lang, score-ordered, head holds >= its third") {
    val rows = TextAnalysis.lmPplSplit(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val langs = rows.keys.map(_._1).toSet
    // per-lang doc totals equal the scored-doc counts (>=2-token docs)
    val scored = spark.read.parquet(s"$sf/documents.parquet")
      .filter(size(split(col("text"), " ")) >= 2)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    langs.foreach { l =>
      val bkts = rows.filter(_._1._1 == l)
      val n = scored(l)
      assert(bkts.values.map(_._1).sum == n, s"$l: buckets must partition the scored docs")
      // bin-granular cut: head takes the boundary bin, so >= ceil(N/3)
      assert(bkts((l, "head"))._1 >= (n + 2) / 3, s"$l: head below its third")
      // score ranges are disjoint and ordered head > middle > tail
      def rng(b: String) = bkts.get((l, b)).map(v => (v._3, v._4))
      for {
        (loH, _) <- rng("head"); (_, hiM) <- rng("middle")
      } assert(loH > hiM, s"$l: head/middle overlap")
      for {
        (loM, _) <- rng("middle"); (_, hiT) <- rng("tail")
      } assert(loM > hiT, s"$l: middle/tail overlap")
    }
    assert(langs.size >= 2, "the fixture corpus carries several languages")
  }

  test("qlm dirichlet: top-10 equals an in-memory recompute; smoothing ranks one-term docs") {
    val mu = TextAnalysis.DirichletMu
    val docsArr = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty).toSeq)
    val c = docsArr.map(_._2.size.toLong).sum
    val cf = docsArr.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    def qt(tf: Long, t: String, dl: Long): Long =
      ((BigInt(1000000) * (BigInt(tf) * c + mu * cf.getOrElse(t, 0L))) /
        (BigInt(dl + mu) * c)).toLong
    def expected(k: Int): Set[(Int, Long, Long, Long)] =
      TextAnalysis.bm25Queries.flatMap { case (qid, ts) =>
        docsArr
          .map { case (id, toks) =>
            val tfm = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
            (id, ts.map(t => tfm.getOrElse(t, 0L)), toks.size.toLong)
          }
          .filter(_._2.exists(_ > 0)) // candidates: docs matching >= 1 term
          .map { case (id, tfs, dl) =>
            (id, tfs.zip(ts).map { case (tf, t) => qt(tf, t, dl) }.product)
          }
          .sortBy { case (id, s) => (-s, id) }
          .take(k)
          .zipWithIndex
          .map { case ((id, s), i) => (qid, id, s, (i + 1).toLong) }
      }.toSet
    val got = TextAnalysis.qlmDirichletSearch(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected(10), "qlm ranking disagrees with the in-memory recompute")
    // smoothing is live end-to-end: ranking the FULL candidate list
    // must place one-term docs (tf = 0 on a slot) via the background
    // factor, identically to the recompute
    val all = TextAnalysis.qlmDirichletSearch(spark, sf, k = Int.MaxValue).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(all == expected(Int.MaxValue), "full qlm ranking disagrees with the recompute")
    val tokSets = docsArr.map { case (id, ts) => id -> ts.toSet }.toMap
    assert(
      all.exists { case (qid, id, _, _) =>
        val ts = TextAnalysis.bm25Queries.find(_._1 == qid).get._2
        ts.exists(t => !tokSets(id)(t)) && ts.exists(t => tokSets(id)(t))
      },
      "no one-term candidate exists — the smoothing path is untested",
    )
  }
}
