package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Semantic invariants for the LLM-pipeline extension operators
  * (exact values are pinned by the DuckDB oracle gate; these tests
  * pin the properties that make the operators *correct algorithms*).
  */
class ExtensionsSpec extends AnyFunSuite {
  val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession
    .builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  test("minhash LSH pairs are a subset of exact ngram-jaccard pairs at the same threshold") {
    val lsh = Dedup.minhashLshPairs(spark, sf, threshold = 0.3)
      .select("doc_a", "doc_b")
    // exact pairs, no df cutoff so it is a strict superset of the truth
    val exact = Dedup.ngramJaccardPairs(spark, sf, maxDf = Int.MaxValue, threshold = 0.3)
      .select("doc_a", "doc_b")
    assert(lsh.except(exact).count() == 0, "LSH emitted a pair the exact join rejects")
    // and LSH should find a decent fraction (banding recall)
    val nExact = exact.count()
    val nLsh = lsh.count()
    assert(nExact == 0 || nLsh >= nExact / 2, s"LSH recall too low: $nLsh of $nExact")
  }

  test("identical texts get identical minhash signatures and simhash fingerprints") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "a completely different document about spark engines"),
    ).toDF("doc_id", "text")
    val sigs = df
      .select(col("doc_id"), Dedup.minhashSignature(Dedup.shingles(col("text")), 12).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    val fps = df.select(col("doc_id"), Dedup.simhash16(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fps(1L) == fps(2L))
  }

  test("native shingle expressions are bit-identical to the composed formulations") {
    import spark.implicits._
    val real = graft.sources.Tables(spark, sf, "documents").select(col("text"))
    val edges = Seq("", "a", "a b", "a  b c  ", "one two three four", "a b a b a b").toDF("text")
    Seq(real, edges).foreach { df =>
      val badW = df
        .select(
          Dedup.shingles(col("text")).as("native"),
          Dedup.shinglesComposed(col("text")).as("composed"),
        )
        .filter(col("native") =!= col("composed"))
        .count()
      assert(badW == 0, s"$badW rows disagree on word shingles")
      val badC = df
        .select(
          Dedup.charShingles(col("text")).as("native"),
          Dedup.charShinglesComposed(col("text")).as("composed"),
        )
        .filter(col("native") =!= col("composed"))
        .count()
      assert(badC == 0, s"$badC rows disagree on char shingles")
    }
  }

  test("native minhash signature is bit-identical to the composed formulation") {
    val docs = graft.sources.Tables(spark, sf, "documents")
      .filter(size(split(col("text"), " ")) >= 3)
      .select(Dedup.shingles(col("text")).as("sh"))
    val diff = docs
      .select(
        Dedup.minhashSignature(col("sh"), 12).as("native"),
        Dedup.minhashSignatureComposed(col("sh"), 12).as("composed"),
      )
      .filter(col("native") =!= col("composed"))
      .count()
    assert(diff == 0, s"$diff documents disagree between native and composed minhash")
  }

  test("null shingle elements are skipped, matching array_min-over-md5 semantics") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(Some("alpha beta gamma"), None, Some("beta gamma delta"))),
      (2L, Seq(Some("alpha beta gamma"), Some("beta gamma delta"))),
      (3L, Seq[Option[String]](None, None)),
    ).toDF("doc_id", "sh")
    val rows = df
      .select(
        col("doc_id"),
        Dedup.minhashSignature(col("sh"), 4).as("native"),
        Dedup.minhashSignatureComposed(col("sh"), 4).as("composed"),
      )
      .collect()
      .map(r => (r.getLong(0), r.getSeq[String](1), r.getSeq[String](2)))
      .toSeq
    val byId = rows.map(t => t._1 -> (t._2, t._3)).toMap
    // nulls ignored: doc 1 == doc 2; both paths agree on every row
    assert(byId(1L)._1 == byId(2L)._1)
    rows.foreach { case (id, n, c) => assert(n == c, s"doc $id native != composed") }
    // all-null input: every seed's min is null on both paths
    assert(byId(3L)._1.forall(_ == null))
  }

  test("native pair expansions are bit-identical to the composed formulations") {
    import spark.implicits._
    // posting lists of (doc_id, n_sh) structs and plain id lists, in
    // sorted order as the pipelines produce them; includes size-2 and
    // larger lists plus the filtered-away size-1 edge
    val lists = Seq(
      Seq((1L, 10L), (5L, 3L), (9L, 7L), (12L, 1L)),
      Seq((2L, 4L), (3L, 4L)),
      Seq((7L, 2L)),
    ).toDF("ps")
      .select(
        transform(
          col("ps"),
          p => struct(p.getField("_1").as("doc_id"), p.getField("_2").as("n_sh")),
        ).as("ds")
      )
    val both = lists.select(
      graft.functions.PostingPairsExpr(col("ds")).as("native"),
      graft.operators.Dedup.postingPairsComposed(col("ds")).as("composed"),
    )
    both.collect().foreach { r =>
      assert(r.getSeq[Any](0) == r.getSeq[Any](1), "posting pair expansion mismatch")
    }

    val idLists = Seq(Seq(1L, 4L, 6L, 11L), Seq(3L, 8L), Seq(5L)).toDF("ids")
    val bothIds = idLists.select(
      graft.functions.IdPairsExpr(col("ids")).as("native"),
      graft.operators.Dedup.idPairsComposed(col("ids")).as("composed"),
    )
    bothIds.collect().foreach { r =>
      assert(r.getSeq[Any](0) == r.getSeq[Any](1), "id pair expansion mismatch")
    }
  }

  test("native simhash expression is bit-identical to the composed formulation") {
    val docs = graft.sources.Tables(spark, sf, "documents")
    val diff = docs
      .select(
        Dedup.simhash16(col("text")).as("native"),
        Dedup.simhash16Composed(col("text")).as("composed"),
      )
      .filter(col("native") =!= col("composed"))
      .count()
    assert(diff == 0, s"$diff documents disagree between native and composed simhash")
  }

  test("simhash64 single-token fingerprint equals the first 8 md5 digest bytes exactly") {
    import spark.implicits._
    // with one token every bit's vote is decided by that token's hash
    // alone, so fp == the 64-bit big-endian value of digest bytes 0-7 —
    // an exact cross-implementation pin of the bit layout the DuckDB
    // oracle reconstructs from hex chars 1-16
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest("spark".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var want = 0L
    (0 until 8).foreach(b => want = (want << 8) | (d(b) & 0xffL))
    val got = Seq("spark").toDF("text")
      .select(Dedup.simhash64(col("text"))).head.getLong(0)
    assert(got == want)
  }

  test("brute-force topk is sane and ANN recall against it is positive") {
    val bf = Similarity.bruteForceTopK(spark, sf, nQueries = 8, k = 5)
    assert(bf.groupBy("query_id").count().collect().forall(_.getLong(1) == 5))
    val ann = Similarity.annLshTopK(spark, sf, nQueries = 8, k = 5)
    val hits = ann.select("query_id", "neighbor_id")
      .intersect(bf.select("query_id", "neighbor_id"))
      .count()
    assert(hits > 0, "ANN found none of the true top-5 neighbors")
  }

  test("multi-probe ANN recall is at least single-probe recall") {
    val bf = Similarity.bruteForceTopK(spark, sf, nQueries = 8, k = 5)
      .select("query_id", "neighbor_id")
    def hits(df: org.apache.spark.sql.DataFrame): Long =
      df.select("query_id", "neighbor_id").intersect(bf).count()
    val single = hits(Similarity.annLshTopK(spark, sf, nQueries = 8, k = 5))
    val multi = hits(Similarity.annLshTopKMultiProbe(spark, sf, nQueries = 8, k = 5))
    // probing a superset of buckets can only widen the candidate set
    assert(multi >= single, s"multi-probe recall regressed: $multi < $single")
  }

  test("short documents yield empty shingle/fingerprint sets instead of failing (ANSI)") {
    import spark.implicits._
    val df = Seq("one two", "a", "", "one two three four five six seven").toDF("text")
    val sh = df.select(Dedup.shingles(col("text")).as("s")).collect().map(_.getSeq[String](0).size)
    assert(sh.toSeq == Seq(0, 0, 0, 5))
    val fps = df.select(graft.operators.TextAnalysis.winnowedFingerprints(col("text")).as("f"))
      .collect().map(_.getSeq[String](0).size)
    assert(fps.take(3).forall(_ == 0) && fps(3) > 0)
  }

  test("langId picks the marker language deterministically") {
    import spark.implicits._
    val df = Seq(
      "the cat of a house",       // en markers
      "el gato de la casa",       // es markers
      "xyzzy qwerty asdf",        // no markers
    ).toDF("text").select(TextAnalysis.langId(col("text")).as("lang"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("en", "es", "unknown"))
  }

  test("multimodal decode: mapPartitions batch path round-trips synthesized containers") {
    val media = Multimodal.asMediaTable(spark, sf)
    val feats = Multimodal.decodeFeatures(media).collect()
    assert(feats.nonEmpty)
    feats.foreach { f =>
      assert(f.n_bytes > 0 && f.magic.length == 8)
      f.media_type match {
        case "png" =>
          assert(f.magic == "89504e47")
          assert(f.width == (f.doc_id % 637).toInt + 1 && f.height == (f.doc_id % 479).toInt + 1)
        case "jpeg" =>
          assert(f.magic == "ffd8ffe0")
          assert(f.width == (f.doc_id % 641).toInt + 1 && f.height == (f.doc_id % 443).toInt + 1)
        case "wav" =>
          assert(f.magic == "52494646")
          assert(f.sample_rate == 8000 + (f.doc_id % 5).toInt * 2000)
          assert(f.n_channels == (f.doc_id % 2).toInt + 1)
        case other => fail(s"unexpected media_type $other")
      }
    }
  }

  test("header parser reads hand-written container bytes, not just its own synthesis") {
    import Multimodal.{HeaderDecode, MediaRecord}
    // hand-assembled fixtures with dims/rates NOT reachable from the
    // doc_id synthesis formulas — a mirrored offset/endianness bug in
    // synthesize+parse would pass the round-trip test but fail here
    def be32(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def be16(v: Int) = Array((v >>> 8).toByte, v.toByte)
    def le32(v: Int) = Array(v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte)
    def le16(v: Int) = Array(v.toByte, (v >>> 8).toByte)
    val png = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      be32(13) ++ "IHDR".getBytes("US-ASCII") ++ be32(1920) ++ be32(1080) ++
      Array[Byte](8, 2, 0, 0, 0) ++ be32(0) // CRC unchecked by a header reader
    val pngF = HeaderDecode.decode(MediaRecord(1L, "png", png))
    assert(pngF.width == 1920 && pngF.height == 1080)
    // JPEG with a COM segment BEFORE the SOF2 (progressive) frame:
    // exercises the marker walk, not just SOF-first layouts
    val jpeg = Array[Byte](0xff.toByte, 0xd8.toByte) ++
      Array[Byte](0xff.toByte, 0xfe.toByte) ++ be16(5) ++ "abc".getBytes("US-ASCII") ++
      Array[Byte](0xff.toByte, 0xc2.toByte) ++ be16(11) ++ Array[Byte](8) ++
      be16(333) ++ be16(777) ++ Array[Byte](1, 1, 0x11, 0) ++
      Array[Byte](0xff.toByte, 0xd9.toByte)
    val jpegF = HeaderDecode.decode(MediaRecord(2L, "jpeg", jpeg))
    assert(jpegF.width == 777 && jpegF.height == 333)
    // WAV with an extra LIST chunk before fmt/data: exercises chunk walking
    val wav = "RIFF".getBytes("US-ASCII") ++ le32(58) ++ "WAVE".getBytes("US-ASCII") ++
      "LIST".getBytes("US-ASCII") ++ le32(4) ++ "INFO".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(2) ++ le32(44100) ++
      le32(44100 * 4) ++ le16(4) ++ le16(16) ++
      "data".getBytes("US-ASCII") ++ le32(8) ++ Array.fill[Byte](8)(0)
    val wavF = HeaderDecode.decode(MediaRecord(3L, "wav", wav))
    assert(wavF.sample_rate == 44100 && wavF.n_channels == 2 && wavF.n_samples == 2L)
    // unknown container: zeroed features + observed magic, no throw
    val junk = HeaderDecode.decode(MediaRecord(4L, "bin", Array[Byte](1, 2, 3, 4, 5)))
    assert(junk.width == 0 && junk.sample_rate == 0 && junk.magic == "01020304")
    // payload extraction on the same hand-built fixtures: PNG has no
    // IDAT here (empty), the JPEG's entropy region is empty (headers
    // straight to EOI), the WAV's data chunk is the 8 zero bytes
    assert(HeaderDecode.payload(png).isEmpty)
    assert(HeaderDecode.payload(jpeg).isEmpty)
    assert(HeaderDecode.payload(wav).toSeq == Array.fill[Byte](8)(0).toSeq)
    assert(HeaderDecode.payload(Array[Byte](1, 2, 3, 4, 5)).isEmpty)
  }

  test("payload extraction round-trips every synthesized container byte-exactly") {
    import Multimodal.{HeaderDecode, MediaPayload}
    // ids cover all three containers and both WAV channel counts;
    // the 5-char body exercises WAV truncation (5 % blockAlign != 0)
    for (id <- 0L to 5L) {
      val text = "abcde"
      val rec = MediaPayload.synthesize(id, text)
      val got = HeaderDecode.payload(rec.content)
      val expected =
        if (id % 3 == 1) {
          val ba = 2 * ((id % 2) + 1).toInt
          text.getBytes("UTF-8").take(text.length - (text.length % ba))
        } else text.getBytes("UTF-8")
      assert(got.toSeq == expected.toSeq,
        s"id $id (${rec.media_type}): got ${got.length} bytes, expected ${expected.length}")
    }
  }

  test("perceptual dHash: local edits stay within hamming budget, shifts and noise do not") {
    import Multimodal.dhashBands
    def ham(a: Array[Long], b: Array[Long]): Int =
      (0 until 8).map(j => java.lang.Long.bitCount(a(j) ^ b(j))).sum
    // 640 px fills every grid tier incl. 256 (the fixture formula
    // gives 2·256 + 64 = 576 px minimum at that tier)
    val base = Array.tabulate(640)(j => (((j * 40503 + 17) >>> 3) % 200).toByte)
    for (blocks <- Seq(64, 128, 256)) {
      // identical pixels -> identical fingerprint, at every grid size
      assert(ham(dhashBands(base, blocks), dhashBands(base.clone(), blocks)) == 0)
      // a LOCAL perturbation (one 64-grid block, +8) moves only the
      // gradient bits bordering the perturbed region — within the
      // pairing budget at EVERY grid size (the adaptive-grid
      // requirement: doubling the grid must not evict planted pairs)
      val local = base.clone()
      for (j <- 70 until 80) local(j) = (local(j) + 8).toByte // block 7 of 64 (10 px blocks)
      val hLocal = ham(dhashBands(base, blocks), dhashBands(local, blocks))
      assert(hLocal <= 7, s"local edit moved $hLocal bits at $blocks blocks")
      // a 3-pixel SHIFT decorrelates downstream blocks — far past the
      // pairing budget (this is why the gate runs on the generated
      // image fixture, not the token-insertion text corpus)
      val shifted = Array.tabulate(640)(j => base((j + 3) % 640))
      assert(ham(dhashBands(base, blocks), dhashBands(shifted, blocks)) > 7)
    }
    // the band layout carries every gradient bit exactly once: an
    // all-ones gradient sets (blocks - 1) bits across the 8 bands
    val rising = Array.tabulate(256)(j => (j % 200).toByte)
    // monotone-within-period pixels: count total set bits vs recount
    val fp64 = dhashBands(rising, 64)
    val total = (0 until 8).map(j => java.lang.Long.bitCount(fp64(j))).sum
    assert(total <= 63 && total > 0)
  }

  test("audio fingerprint: planted variants within budget, shifts out, pairs exact") {
    def ham(a: Array[Long], b: Array[Long]): Int =
      (0 until 8).map(j => java.lang.Long.bitCount(a(j) ^ b(j))).sum
    val blocks = Multimodal.phashGridBlocks(
      2L * graft.sources.Tables(spark, sf, "documents").count())
    // the planted v=1 perturbation is one 64-grid energy block — at
    // the fixture grid its pair must sit within the pairing budget
    // (and well under: <= 2 gradient bits, the local-edit contract)
    val fps = Multimodal.audioMediaTable(spark, sf, blocks).collect()
      .flatMap(Multimodal.audioFingerprintOf(_, blocks)).toMap
    val bases = fps.keys.filter(_ % 2 == 0).map(_ / 2)
    bases.foreach { b =>
      val h = ham(fps(2 * b), fps(2 * b + 1))
      assert(h <= 2, s"planted pair of base $b at hamming $h")
    }
    // a time-SHIFTED clip decorrelates downstream energy blocks —
    // far past the budget (fuzzy-match territory, not perceptual
    // hashing; the image tier's shift postmortem, replayed on audio)
    val r0 = Multimodal.audioVariantRecord(7L, 0, blocks)
    val pcm = Multimodal.HeaderDecode.wavPcm16(r0.content).get
    val m = pcm.length / 4
    def energiesOf(s: Array[Int]): Array[Long] =
      Array.tabulate(s.length / 4)(k =>
        math.abs(s(4 * k)).toLong + math.abs(s(4 * k + 1)) +
          math.abs(s(4 * k + 2)) + math.abs(s(4 * k + 3)))
    val shifted = Array.tabulate(pcm.length)(j => pcm((j + 12) % pcm.length))
    val hShift = ham(
      Multimodal.signDeltaBands(energiesOf(pcm), blocks),
      Multimodal.signDeltaBands(energiesOf(shifted), blocks))
    assert(hShift > 7, s"a 3-frame shift must not pair, got hamming $hShift")
    assert(m >= 256, "fixture floor: the grid's next doubling needs >= 256 frames")
    // gate == the in-memory hamming <= 7 pair set, exactly (the
    // multi-index is an implementation detail: no false negatives by
    // the pigeonhole argument, false positives die in the filter)
    val expected = (for {
      (ida, fa) <- fps.iterator
      (idb, fb) <- fps.iterator if ida < idb
      h = ham(fa, fb) if h <= 7
    } yield (ida, idb) -> h).toMap
    val got = Multimodal.audioNearDupPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got == expected, s"gate ${got.size} pairs != recompute ${expected.size}")
    assert(got.nonEmpty, "planted audio pairs must surface")
  }

  test("variant pair generators are bit-identical to the per-variant records") {
    // the r15 one-texture-pass generators must reproduce the exact
    // records the per-variant generators synthesize (same ids, types,
    // and container BYTES) — the oracle regenerates every surface
    // analytically, so a single drifted byte fails a gate
    val blocks = 64
    Seq(0L, 1L, 7L, 100L, 4999L).foreach { base =>
      val pPair = Multimodal.phashVariantPair(base, blocks)
      val pRef = Seq(
        Multimodal.phashVariantRecord(base, 0, blocks),
        Multimodal.phashVariantRecord(base, 1, blocks))
      pPair.zip(pRef).foreach { case (a, b) =>
        assert(a.doc_id == b.doc_id && a.media_type == b.media_type)
        assert(java.util.Arrays.equals(a.content, b.content), s"phash bytes drift at base $base")
      }
      val aPair = Multimodal.audioVariantPair(base, blocks)
      val aRef = Seq(
        Multimodal.audioVariantRecord(base, 0, blocks),
        Multimodal.audioVariantRecord(base, 1, blocks))
      aPair.zip(aRef).foreach { case (a, b) =>
        assert(a.doc_id == b.doc_id && a.media_type == b.media_type)
        assert(java.util.Arrays.equals(a.content, b.content), s"audio bytes drift at base $base")
      }
    }
  }

  test("audio stats equal a per-file recount from the decoded features") {
    import org.apache.spark.sql.functions._
    val feats = Multimodal.decodeFeatures(Multimodal.asMediaTable(spark, sf)).collect()
      .filter(_.sample_rate > 0)
    val expected = feats
      .groupBy(f => (f.sample_rate, f.n_channels))
      .map { case (k, fs) =>
        k -> (fs.length.toLong, fs.map(_.n_samples).sum, fs.map(f => 1000L * f.n_samples / f.sample_rate).sum)
      }
    val got = Multimodal.audioStats(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == expected, s"audio buckets ${got.size} != recount ${expected.size}")
    // the synthesis contract spans 5 rates x 2 channel counts; a
    // corpus large enough to hit every (doc_id % 5, % 2, % 3) residue
    // must fill all 10 buckets
    assert(got.size == 10, s"expected the full 5x2 bucket grid, got ${got.size}")
  }

  test("ingest-time perceptual probe equals the stored x arriving slice of the pair space") {
    // in-memory recompute from the same fingerprints: every (stored
    // v0, arriving v1) pair that collides on >= 1 band AND verifies
    // at hamming <= 7 must land, and nothing else
    val blocks = Multimodal.phashGridBlocks(
      2L * graft.sources.Tables(spark, sf, "documents").count())
    val fps = Multimodal.phashMediaTable(spark, sf, blocks).collect()
      .flatMap(Multimodal.fingerprintOf(_, blocks)).toMap
    def ham(a: Array[Long], b: Array[Long]): Int =
      (0 until 8).map(j => java.lang.Long.bitCount(a(j) ^ b(j))).sum
    val expected = (for {
      (ida, fa) <- fps.iterator if ida % 2 == 0
      (idb, fb) <- fps.iterator if idb % 2 == 1
      if (0 until 8).exists(j => fa(j) == fb(j))
      h = ham(fa, fb) if h <= 7
    } yield (ida, idb) -> h).toMap
    val got = graft.streaming.StreamingQueries.phashProbeViaSink(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got == expected, s"probe landed ${got.size} pairs != recompute ${expected.size}")
    assert(got.nonEmpty, "the planted v0/v1 pairs must surface through the probe")
  }

  test("audio keep + ingest probe: the image tier's truth twins, replayed on audio") {
    // keep: endpoints co-clustered, one keeper (the min id) per
    // cluster, every clip covered — the perceptualKeep contract over
    // the audio pair artifact
    val keep = Multimodal.audioKeep(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    val nMedia = 2 * graft.sources.Tables(spark, sf, "documents").count()
    assert(keep.size.toLong == nMedia, "every clip must get a verdict")
    val pairs = Multimodal.audioNearDupPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(keep(a)._1 == keep(b)._1, s"pair ($a,$b) split across clusters")
    }
    keep.groupBy(_._2._1).foreach { case (cl, members) =>
      assert(members.keys.min == cl, s"cluster id $cl is not its min member")
      assert(members.count(_._2._2 == 1) == 1, s"cluster $cl keeper count != 1")
    }
    // probe: landed set == the stored (v0) x arriving (v1) slice of
    // the band-collision pair space, hamming-verified — recomputed
    // in memory from the same fingerprints
    val blocks = Multimodal.phashGridBlocks(nMedia)
    val fps = Multimodal.audioMediaTable(spark, sf, blocks).collect()
      .flatMap(Multimodal.audioFingerprintOf(_, blocks)).toMap
    def ham(a: Array[Long], b: Array[Long]): Int =
      (0 until 8).map(j => java.lang.Long.bitCount(a(j) ^ b(j))).sum
    val expected = (for {
      (ida, fa) <- fps.iterator if ida % 2 == 0
      (idb, fb) <- fps.iterator if idb % 2 == 1
      if (0 until 8).exists(j => fa(j) == fb(j))
      h = ham(fa, fb) if h <= 7
    } yield (ida, idb) -> h).toMap
    val got = graft.streaming.StreamingQueries.audioProbeViaSink(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got == expected, s"probe landed ${got.size} pairs != recompute ${expected.size}")
    assert(got.nonEmpty, "the planted v0/v1 audio pairs must surface through the probe")
  }

  test("perceptual keep: pair endpoints co-clustered, one keeper per cluster, full coverage") {
    import org.apache.spark.sql.functions._
    val keep = Multimodal.perceptualKeep(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    val nMedia = 2 * graft.sources.Tables(spark, sf, "documents").count()
    assert(keep.size.toLong == nMedia, "every media id must get a verdict")
    // both endpoints of every pair share a cluster
    val pairs = Multimodal.perceptualNearDupPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (a, b) =>
      assert(keep(a)._1 == keep(b)._1, s"pair ($a,$b) split across clusters")
    }
    // exactly the component minimum is kept, once per cluster
    keep.groupBy(_._2._1).foreach { case (cl, members) =>
      assert(members.keys.min == cl, s"cluster id $cl is not its min member")
      assert(members.count(_._2._2 == 1) == 1, s"cluster $cl keeper count != 1")
      assert(members(cl)._2 == 1, s"cluster $cl keeper is not the min id")
    }
  }

  test("invalidate releases the local checkpoints of the perceptual pair builds") {
    def checkpoints = spark.sparkContext.getPersistentRDDs.values
      .filter(r => r.isCheckpointed && r.toString.contains("Multimodal.scala"))
    Multimodal.perceptualNearDupPairsGate(spark, sf).collect()
    Multimodal.audioNearDupPairsGate(spark, sf).collect()
    assert(checkpoints.nonEmpty, "the pair builds made no local checkpoint")
    Multimodal.invalidate()
    assert(checkpoints.isEmpty, s"left persisted: ${checkpoints.mkString("; ")}")
  }

  test("perceptual near-dup gate surfaces exactly the planted variant pairs") {
    val rows = Multimodal.perceptualNearDupPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val nBases = graft.sources.Tables(spark, sf, "documents").count()
    assert(rows.length.toLong == nBases, "one planted pair per document base, no false positives")
    rows.foreach { case (a, b, h) =>
      assert(b == a + 1 && a % 2 == 0, s"pair ($a,$b) is not a planted (v0, v1) variant pair")
      assert(h >= 0 && h <= 2, s"planted pair ($a,$b) drifted to hamming $h")
    }
  }

  test("audio index refresh: fold == rebuild row-equal, probe-era slice only, non-vacuous") {
    def asSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val folded = asSet(Multimodal.audioRefreshFoldedProbe(spark, sf))
    val rebuilt = asSet(Multimodal.audioRefreshRebuiltProbe(spark, sf))
    assert(folded == rebuilt, "folded audio index diverged from the from-scratch rebuild")
    val c2 = graft.sources.Tables(spark, sf, "documents")
      .agg(expr("85 * max(doc_id) DIV 100")).head.getLong(0)
    assert(folded.nonEmpty, "audio refresh probe landed nothing — vacuous gate")
    folded.foreach { case (a, b, _) =>
      assert(b / 2 > c2, s"pair ($a,$b) does not touch the probe era")
    }
  }

  test("phash index refresh: fold == rebuild row-equal, probe slice exact, non-vacuous") {
    def asSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val folded = asSet(Multimodal.phashRefreshFoldedProbe(spark, sf))
    val rebuilt = asSet(Multimodal.phashRefreshRebuiltProbe(spark, sf))
    // the fold (stored band rows ∪ increment band rows) must be
    // indistinguishable from a from-scratch rebuild — the maintenance
    // policy's whole contract
    assert(folded == rebuilt, "folded index diverged from the from-scratch rebuild")
    // non-vacuous: the probe era carries its documents' planted
    // (v0, v1) variant pairs, so the landed set cannot be empty and
    // every probe-era base must surface its pair
    val c2 = graft.sources.Tables(spark, sf, "documents")
      .agg(expr("85 * max(doc_id) DIV 100")).head.getLong(0)
    val probeBases = graft.sources.Tables(spark, sf, "documents")
      .filter(col("doc_id") > c2).collect().map(_.getLong(0)).toSet
    assert(probeBases.nonEmpty && folded.nonEmpty, "refresh probe era is empty — vacuous gate")
    probeBases.foreach { base =>
      assert(
        folded.exists { case (a, b, _) => a == 2 * base && b == 2 * base + 1 },
        s"probe-era base $base lost its planted variant pair")
    }
    // the landed set touches ONLY the probe era (index-internal pairs
    // must not re-emit on a refresh)
    folded.foreach { case (a, b, _) =>
      assert(b / 2 > c2, s"pair ($a,$b) does not touch the probe era")
    }
  }
}
