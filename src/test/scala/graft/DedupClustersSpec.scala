package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.util.ScratchDirs

class DedupClustersSpec extends AnyFunSuite {
  val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession
    .builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  test("semantic keep: pair endpoints share a cluster, kept = component min, full corpus covered") {
    import org.apache.spark.sql.functions._
    val keep = graft.operators.Similarity.semanticKeep(spark, sf)
    val nVecs = graft.sources.Tables(spark, sf, "embeddings").count()
    assert(keep.count() == nVecs, "every corpus vector must get a verdict")
    // both endpoints of every near-dup pair land in the same cluster
    val pairs = graft.operators.Similarity.embeddingNearDupPairs(spark, sf)
    val ca = keep.select(col("vec_id").as("vec_a"), col("semantic_cluster").as("cl_a"))
    val cb = keep.select(col("vec_id").as("vec_b"), col("semantic_cluster").as("cl_b"))
    val split = pairs.join(ca, "vec_a").join(cb, "vec_b").filter(col("cl_a") =!= col("cl_b"))
    assert(split.isEmpty, "a near-dup pair was split across semantic clusters")
    // exactly the component-min is kept, one keeper per cluster
    val badKeep = keep
      .groupBy("semantic_cluster")
      .agg(min("vec_id").as("mn"), sum("is_kept").as("n_kept"))
      .filter(col("n_kept") =!= 1 || col("mn") =!= col("semantic_cluster"))
    assert(badKeep.isEmpty, "keep rule must select exactly the component minimum")
  }

  test("connected components: transitive closure across a chain needs >1 round") {
    import spark.implicits._
    // 1-2-3-4-5 is a diameter-4 chain: label 1 must hop four times,
    // so convergence (not single-round propagation) is what's tested.
    // {10,11} is a separate component; doc 99 never appears (no pair
    // → no row, singletons are implicit). smallGraphCap = 0 forces
    // the DISTRIBUTED fixpoint — the r14 size dispatch would
    // otherwise solve this on the driver and the convergence loop
    // would go untested.
    val pairs = Seq(
      (2L, 3L), (1L, 2L), (4L, 5L), (3L, 4L),
      (10L, 11L),
    ).toDF("doc_a", "doc_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 10L -> 10L, 11L -> 10L)
    val got = Dedup
      .connectedComponents(pairs, smallGraphCap = 0)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(got == expected)
    // the small-graph fast path must give the identical labeling
    val viaDriver = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver == expected)
  }

  test("large-star/small-star components equal min-label propagation on hard graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    // a diameter-9 chain (the propagation worst case), a star, an
    // isolated pair, and a seeded random graph over 40 nodes
    val chain = (100L until 109L).map(i => (i, i + 1))
    val star = Seq((200L, 201L), (200L, 202L), (200L, 203L), (200L, 204L))
    val pair = Seq((300L, 301L))
    val random = Seq.fill(60)((rng.nextInt(40).toLong, rng.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    val pairs = (chain ++ star ++ pair ++ random).toDF("doc_a", "doc_b")

    val viaProp = Dedup.connectedComponents(pairs, smallGraphCap = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaStar = Dedup.connectedComponentsStar(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStar == viaProp, s"star CC disagrees with propagation CC")
    // three-way: the driver union-find fast path must agree with both
    // distributed variants on the same hard graphs
    val viaUf = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaUf == viaProp, s"driver union-find disagrees with propagation CC")
    // sanity on the known components
    assert((100L to 109L).forall(viaStar(_) == 100L))
    assert((200L to 204L).forall(viaStar(_) == 200L))
    assert(viaStar(301L) == 300L)
  }

  test("propagation CC escalates to star on a diameter-120 chain") {
    import spark.implicits._
    // A percolation-critical pair graph grows long thin components;
    // 120 hops of pure min-label propagation would need 120 rounds
    // (the pre-escalation implementation failed loudly at its
    // 64-round cap). The hybrid must collapse it: 8 propagation
    // rounds, then the contracted graph goes through star CC.
    // smallGraphCap = 0 throughout: escalation is a distributed-path
    // behavior; the default dispatch would solve these on the driver
    val chain = (0L until 120L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(chain, smallGraphCap = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 121 && got.values.forall(_ == 0L),
      "chain must collapse to a single component labeled by its minimum")
    // forcing escalation on a NORMAL graph must not change the answer
    val pairs = Seq((2L, 3L), (1L, 2L), (10L, 11L), (4L, 1L)).toDF("doc_a", "doc_b")
    val eager = Dedup.connectedComponents(pairs, escalateAfter = 1, smallGraphCap = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lazy_ = Dedup.connectedComponents(pairs, smallGraphCap = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(eager == lazy_ && eager == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("near-dup clusters carry sizes and exactly one canonical doc each") {
    val rows = Dedup.nearDupClusters(spark, sf).collect()
    assert(rows.nonEmpty, "sf0.001 corpus has LSH near-dup pairs")
    val byCluster = rows.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, members) =>
      assert(members.length >= 2, s"cluster $cid has a single member — singleton materialized")
      assert(members.map(_.getLong(0)).min == cid, s"cluster id $cid is not the min member id")
      assert(members.count(_.getInt(3) == 1) == 1, s"cluster $cid canonical count != 1")
      assert(members.forall(_.getLong(2) == members.length.toLong), s"cluster $cid size mismatch")
    }
    // clusters must cover the pair graph: every doc in a verified pair
    // lands in exactly one cluster
    val paired = Dedup
      .minhashLshPairs(spark, sf)
      .select("doc_a")
      .union(Dedup.minhashLshPairs(spark, sf).select("doc_b"))
      .distinct()
      .count()
    assert(rows.length.toLong == paired)
  }

  test("degree histogram mass equals twice the pair count and matches per-doc recount") {
    import org.apache.spark.sql.functions._
    val pairs = graft.operators.Dedup.minhashLshPairs(spark, sf)
    val hist = graft.operators.Dedup.degreeHistogram(spark, sf).collect()
    // every pair contributes one degree to each endpoint
    assert(hist.map(r => r.getLong(0) * r.getLong(1)).sum == 2 * pairs.count())
    // doc count in the histogram = number of docs appearing in any pair
    val inPairs = pairs.select(col("doc_a").as("d"))
      .union(pairs.select(col("doc_b").as("d"))).distinct().count()
    assert(hist.map(_.getLong(1)).sum == inPairs)
  }

  test("source overlap matrix: unordered pairs, exact jaccard, bounds hold") {
    val rows = graft.operators.Dedup.sourceShingleOverlap(spark, sf).collect()
    assert(rows.nonEmpty)
    val seen = scala.collection.mutable.Set.empty[(String, String)]
    rows.foreach { r =>
      val (a, b, common, union, j) =
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(a < b, "pairs must be ordered a<b, no mirror duplicates")
      assert(seen.add((a, b)), s"duplicate pair ($a,$b)")
      assert(common >= 1 && union >= common)
      assert(j == common.toDouble / union && j > 0.0 && j <= 1.0)
    }
  }

  test("span coverage: union length bounds and the full-coverage identity hold") {
    val k = 3
    val rows = graft.operators.Dedup.spanCoverage(spark, sf, k = k).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, spans, covered, fracX1e6) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(spans >= 1 && spans <= n - k + 1, s"span count $spans out of range for $n tokens")
      // first span contributes k; union length can never exceed the doc
      assert(covered >= k && covered <= n, s"covered $covered outside [$k, $n]")
      // spans at every position ⇒ the whole document is covered
      if (spans == n - k + 1) assert(covered == n, s"full span set must cover all $n tokens")
      assert(fracX1e6 == 1000000L * covered / n)
    }
  }

  test("span coverage equals an independent in-memory recompute") {
    // third implementation (plain Scala over collected rows) — the
    // truth twin that is independent of BOTH the Spark plan and the
    // DuckDB oracle SQL
    val k = 3; val minDf = 3
    val docs = graft.sources.Tables(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).toMap
    val postings = docs.toSeq.flatMap { case (id, ts) =>
      if (ts.length < k) Nil
      else (0 to ts.length - k).map(i => (id, i, ts.slice(i, i + k).mkString(" ")))
    }
    val hot = postings.groupBy(_._3).collect {
      case (sh, ps) if ps.map(_._1).distinct.size >= minDf => sh
    }.toSet
    val expected = postings
      .filter(p => hot(p._3))
      .groupBy(_._1)
      .map { case (id, ps) =>
        val starts = ps.map(_._2).sorted
        val covered = starts.zip((starts.head - k) +: starts.init)
          .map { case (s, prev) => math.min(k, s - prev) }.sum
        id -> (docs(id).length.toLong, ps.size.toLong, covered.toLong)
      }
    val got = graft.operators.Dedup.spanCoverage(spark, sf, k, minDf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == expected, s"span coverage disagrees with the in-memory recompute")
  }

  test("span scrub equals an independent in-memory scrub, byte-for-byte via md5") {
    val k = 3; val minDf = 3
    val docsMap = graft.sources.Tables(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).toMap
    val postings = docsMap.toSeq.flatMap { case (id, ts) =>
      if (ts.length < k) Nil
      else (0 to ts.length - k).map(i => (id, i, ts.slice(i, i + k).mkString(" ")))
    }
    val hot = postings.groupBy(_._3).collect {
      case (sh, ps) if ps.map(_._1).distinct.size >= minDf => sh
    }.toSet
    val coveredByDoc = postings.filter(p => hot(p._3)).groupBy(_._1).view
      .mapValues(_.flatMap(p => p._2 until p._2 + k).toSet).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val expected = docsMap.map { case (id, ts) =>
      val cov = coveredByDoc.getOrElse(id, Set.empty[Int])
      val kept = ts.zipWithIndex.collect { case (w, i) if !cov(i) => w }
      id -> (ts.length.toLong, kept.length.toLong, md5hex(kept.mkString(" ")))
    }
    val got = graft.operators.Dedup.spanScrub(spark, sf, k, minDf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(4))).toMap
    assert(got == expected, "span scrub disagrees with the in-memory scrub")
    // cross-operator invariant: removed mass == the coverage gate's union length
    val coverage = graft.operators.Dedup.spanCoverage(spark, sf, k, minDf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    got.foreach { case (id, (n, kept, _)) =>
      assert(n - kept == coverage.getOrElse(id, 0L), s"doc $id removed != covered")
    }
    // the corpus actually exercises the transform
    assert(got.values.exists { case (n, kept, _) => kept < n })
    assert(got.values.exists { case (n, kept, _) => kept == n })
  }

  test("boilerplate scrub equals an independent in-memory scrub, byte-for-byte via md5") {
    val width = 8
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val docsMap = graft.sources.Tables(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).toMap
    val segs = docsMap.toSeq.flatMap { case (id, ts) =>
      ts.grouped(width).zipWithIndex.map { case (seg, i) =>
        (id, (i * width).toLong, seg.mkString(" "))
      }
    }
    // df counts DISTINCT docs: a within-doc repeat is not boilerplate
    val hot = segs.groupBy(_._3).collect {
      case (txt, ps) if ps.map(_._1).distinct.size >= 2 => txt
    }.toSet
    val expected = segs.groupBy(_._1).map { case (id, ps) =>
      val kept = ps.sortBy(_._2).filter(p => !hot(p._3))
      id -> (
        ps.size.toLong,
        kept.size.toLong,
        kept.map(_._3.split(" ", -1).length.toLong).sum,
        md5hex(kept.map(_._3).mkString(" ")),
      )
    }
    val got = Dedup.boilerplateScrub(spark, sf, width, dfMin = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(got == expected, "boilerplate scrub disagrees with the in-memory scrub")
    // the corpus exercises both branches: some doc loses a segment,
    // some doc keeps everything (clean_md5 == md5 of original text)
    assert(got.exists { case (_, (n, kpt, _, _)) => kpt < n })
    assert(got.exists { case (id, (n, kpt, _, m)) =>
      kpt == n && m == md5hex(docsMap(id).mkString(" "))
    })
  }

  test("source dup matrix: unordered cells, totals reconcile with the pair table") {
    import org.apache.spark.sql.functions._
    val cells = Dedup.sourceDupMatrix(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(cells.nonEmpty)
    // cells are canonical unordered pairs, each appearing once
    cells.foreach { case (a, b, n) => assert(a <= b && n >= 1) }
    assert(cells.map(c => (c._1, c._2)).distinct.length == cells.length)
    // total mass equals the verified pair count exactly
    val nPairs = Dedup.minhashLshPairsShared(spark, sf).count()
    assert(cells.map(_._3).sum == nPairs, "matrix mass must equal the pair table")
    // spot-check one cell against a direct recount
    val srcOf = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val direct = Dedup.minhashLshPairsShared(spark, sf).select("doc_a", "doc_b").collect()
      .map { r =>
        val (x, y) = (srcOf(r.getLong(0)), srcOf(r.getLong(1)))
        (if (x <= y) x else y, if (x <= y) y else x)
      }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(cells.map(c => (c._1, c._2) -> c._3).toMap == direct)
  }

  test("boilerplate index refresh: folded probe == rebuilt probe, and the fold moves serving") {
    import org.apache.spark.sql.functions._
    val folded = Dedup.boilerplateRefreshProbe(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val rebuilt = Dedup.boilerplateRefreshProbe(spark, sf, rebuild = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(folded == rebuilt, "count additivity must make the fold value-equal to a rebuild")
    // the refresh genuinely moves serving: a STALE index (stored era
    // only, the pre-refresh state) must keep at least one segment the
    // refreshed index scrubs — i.e. boilerplate born across the
    // stored/landed era boundary is only caught after the fold
    val cuts = graft.sources.Tables(spark, sf, "documents")
      .agg(expr("7 * max(doc_id) DIV 10"), expr("85 * max(doc_id) DIV 100")).head
    val (c1, c2) = (cuts.getLong(0), cuts.getLong(1))
    val d = graft.sources.Tables(spark, sf, "documents")
    val staleHot = Dedup.segmentRows(d.filter(col("doc_id") <= c1), 8)
      .groupBy("h").agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2).select("h")
    val stale = Dedup.segmentRows(d.filter(col("doc_id") > c2), 8)
      .join(staleHot, Seq("h"), "left_anti")
      .select(col("doc_id"), col("seg_pos"), col("n_tok"), col("h")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(folded.subsetOf(stale), "refresh can only scrub MORE (df counts only grow)")

    // the fold-moves-serving branch, exercised on a planted corpus
    // (the driver fixture happens to carry no boilerplate born wholly
    // inside the landed era at this sf): docs 75 and 80 (landed era;
    // c1 = 70, c2 = 85 at max id 100) share a segment that no stored
    // doc carries — only the FOLDED index scrubs doc 90's copy
    val planted = ScratchDirs.create("graft-bp-refresh").toString
    import spark.implicits._
    val bp = (1 to 8).map(i => s"bp$i").mkString(" ")
    def uniq(id: Int) = (1 to 8).map(i => s"u${id}x$i").mkString(" ")
    val rows = ((1 to 70).map(id => (id.toLong, uniq(id))) ++
      Seq(75, 80).map(id => (id.toLong, s"$bp ${uniq(id)}")) ++
      Seq((90L, s"$bp ${uniq(90)}"), (100L, uniq(100)))).toDF("doc_id", "text")
    rows.write.mode("overwrite").parquet(s"$planted/documents.parquet")
    def probeSet(rebuild: Boolean) =
      Dedup.boilerplateRefreshProbe(spark, planted, rebuild = rebuild).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(3))).toSet
    val pf = probeSet(rebuild = false)
    assert(pf == probeSet(rebuild = true), "planted corpus: fold != rebuild")
    assert(!pf.exists { case (id, pos, _) => id == 90L && pos == 0L },
      "the folded index must scrub the segment the landed era made boilerplate")
    val staleHotP = Dedup.segmentRows(
      spark.read.parquet(s"$planted/documents.parquet").filter(col("doc_id") <= 70), 8)
      .groupBy("h").agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2).select("h")
    val staleP = Dedup.segmentRows(
      spark.read.parquet(s"$planted/documents.parquet").filter(col("doc_id") > 85), 8)
      .join(staleHotP, Seq("h"), "left_anti")
      .select("doc_id", "seg_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(staleP.contains((90L, 0L)),
      "the stale (pre-fold) index must KEEP that segment — otherwise the fold changed nothing")
  }

  test("edit-ratio pairs: exact levenshtein permille over the LSH candidates, near-dups surface") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(
          math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // the metric is measured over the ASCII PROJECTION (the
    // editRatioPairs scaladoc contract) — the recompute must apply
    // the SAME projection, not the raw text, or a non-ASCII corpus
    // would make this test diverge from (or mask a bug in) the engine
    def proj(t: String): String = t.replaceAll("[^\\p{ASCII}]", "?")
    val texts = graft.sources.Tables(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> proj(r.getString(1))).toMap
    val rows = Dedup.editRatioPairs(spark, sf).collect()
    assert(rows.nonEmpty, "the fixture corpus contains exact dups — candidates must survive")
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(a < b, "pairs must be canonical (doc_a < doc_b)")
      val (ta, tb) = (texts(a), texts(b))
      val want = lev(ta, tb).toLong
      assert(r.getLong(2) == want, s"pair ($a,$b): levenshtein ${r.getLong(2)} != $want")
      assert(r.getLong(3) == math.max(ta.length, tb.length).toLong)
      assert(r.getLong(4) == 1000L * want / math.max(ta.length, tb.length))
      assert(r.getLong(4) <= Dedup.EditPermilleCutoff.toLong)
    }
    // the fixture's near-dups are a few token edits apart — the gate
    // must surface genuinely close pairs (< 10% of the text edited),
    // not just anything under the permille ceiling
    assert(rows.exists(_.getLong(4) < 100L))

    // the projection path itself, on a PLANTED non-ASCII corpus (the
    // driver fixture is pure ASCII, so the branch above never takes
    // the '?'-substitution): three docs share a 30-token base and
    // differ only at one token — 'café' / 'cafĕ' / 'core'. Banding is
    // deterministic (seeded hashes), so the high-jaccard pairs are
    // stable candidates. The é↔ĕ pair must collapse to lev 0 (both
    // project to 'caf?' — the documented price of the portable
    // metric) and every emitted row must equal the projected
    // recompute.
    import spark.implicits._
    val base = (1 to 30).map(i => s"w$i")
    def withTok(tok: String) = (base.take(5) :+ tok).++(base.drop(6)).mkString(" ")
    val tmpPath = ScratchDirs.create("graft-editproj")
    val tmp = tmpPath.toString
    // recursive cleanup at test end — planted corpora must not
    // accumulate in the system temp dir across runs
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
    }
    Seq((1L, withTok("caf\u00e9")), (2L, withTok("caf\u0115")), (3L, withTok("core")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val planted =
      try Dedup.editRatioPairs(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      finally rmTree(tmpPath.toFile)
    assert(planted.contains((1L, 2L)), "the é↔ĕ near-dup must survive banding")
    assert(planted((1L, 2L)) == 0L,
      "non-ASCII↔non-ASCII substitution must collapse under the projection")
    val plantedTexts = Map(
      1L -> proj(withTok("caf\u00e9")), 2L -> proj(withTok("caf\u0115")), 3L -> proj(withTok("core")))
    planted.foreach { case ((a, b), got) =>
      assert(got == lev(plantedTexts(a), plantedTexts(b)).toLong,
        s"planted pair ($a,$b): engine lev $got != projected recompute")
    }
    assert(planted.exists { case ((a, b), _) => (a, b) != ((1L, 2L)) },
      "an ASCII-divergent pair must also surface (lev > 0 path)")
  }

  test("ndcg audit equals an in-memory recompute from the two rank lists; LUT is the spec") {
    import graft.operators.Similarity
    val k = Similarity.NdcgK
    val lut = Similarity.dcgDiscountLut(k)
    // the LUT itself: floor(1e6 / log2(i+1)), strictly decreasing, rank 1 undiscounted
    assert(lut.head == 1000000L && lut(2) == 500000L && lut(6) == 333333L)
    assert(lut.sliding(2).forall(p => p(0) > p(1)))
    val bf = Similarity.bruteForceTopK(spark, sf, k = k).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap // (q, neighbor) -> rank
    val ann = Similarity.annLshTopKMultiProbe(spark, sf, k = k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) // (q, rank, neighbor)
    val queries = bf.keys.map(_._1).toSet
    val expected = queries.map { q =>
      val idcg = (1 to k).map(r => (k + 1L - r) * lut(r - 1)).sum
      val mine = ann.filter(_._1 == q)
      val dcg = mine.collect {
        case (_, rank, n) if bf.contains((q, n)) => (k + 1L - bf((q, n))) * lut(rank.toInt - 1)
      }.sum
      val hits = mine.count(t => bf.contains((q, t._3))).toLong
      q -> (hits, dcg, idcg, 1000L * dcg / idcg)
    }.toMap
    val got = Similarity.ndcgAudit(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == expected, "ndcg disagrees with the in-memory recompute")
    // ordering-sensitivity sanity: every score is a valid permille and
    // a query with full overlap in perfect order would hit exactly 1000
    got.values.foreach { case (hits, dcg, idcg, p) =>
      assert(p >= 0 && p <= 1000 && dcg <= idcg && hits <= k)
    }
  }

  test("curation pipeline totals equal the quality ∩ keep-best recount") {
    import org.apache.spark.sql.functions._
    val summary = graft.operators.Curation.curationSummary(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val nQualityKeepers = docs
      .filter(graft.operators.TextAnalysis.gopherKeep(col("text")))
      .join(
        graft.operators.Dedup.keepBestDedup(spark, sf).filter(col("keep") === 1).select("doc_id"),
        Seq("doc_id"),
      )
      .count()
    assert(summary.map(_.getLong(2)).sum == nQualityKeepers)
    // splits partition sources: no (source, split) cell repeats
    val cells = summary.map(r => (r.getString(0), r.getString(1)))
    assert(cells.distinct.length == cells.length)
    summary.foreach(r => assert(Set("train", "val", "test")(r.getString(1))))
  }

  test("keep-best dedup covers every doc once, keeps exactly one per cluster, best quality wins") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val nDocs = docs.count()
    val rows = Dedup.keepBestDedup(spark, sf).collect()
    assert(rows.length.toLong == nDocs, "every document gets a keep/drop decision")
    assert(rows.map(_.getLong(0)).distinct.length == rows.length, "no doc decided twice")

    val nChars = docs.collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    val byCluster = rows.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, members) =>
      val kept = members.filter(_.getInt(2) == 1)
      assert(kept.length == 1, s"cluster $cid keeps ${kept.length} docs, want exactly 1")
      // the survivor is the quality argmax: longest text, then min id
      val want = members.map(_.getLong(0)).minBy(id => (-nChars(id), id))
      assert(kept.head.getLong(0) == want, s"cluster $cid kept ${kept.head.getLong(0)}, want $want")
    }
    // singletons (cluster of one) are their own cluster id and kept
    byCluster.filter(_._2.length == 1).foreach { case (cid, Array(m)) =>
      assert(m.getLong(0) == cid && m.getInt(2) == 1)
    }
    // the kept set is strictly smaller than the corpus iff any cluster
    // has >= 2 members (sf0.001 does have near-dup pairs)
    assert(rows.count(_.getInt(2) == 1) < nDocs.toInt)
  }

  test("simhash multi-index pairs equal the all-pairs-within-source formulation") {
    import org.apache.spark.sql.functions._
    // the pigeonhole index must be row-identical to brute force: no
    // false negatives (any hamming<=7 pair agrees on >=1 of 8 bands)
    // and no duplicates (a pair meeting in several bands emits once)
    val got = Dedup
      .simhashHammingPairs(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    val d = graft.sources.Tables(spark, sf, "documents")
    val a = d.select(col("source"), col("doc_id").as("doc_a"),
      Dedup.simhash64(col("text")).as("sh_a"))
    val b = d.select(col("source"), col("doc_id").as("doc_b"),
      Dedup.simhash64(col("text")).as("sh_b"))
    val brute = a.join(b, Seq("source"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int"))
      .filter(col("hamming") <= 7)
      .select(col("source"), col("doc_a"), col("doc_b"), col("hamming"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(brute.nonEmpty, "spec corpus must produce at least one near-dup pair")
    assert(got == brute,
      s"multi-index != brute force: missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
    // and the multi-index result carries no duplicate pair rows
    val n = Dedup.simhashHammingPairs(spark, sf).count()
    assert(n == got.size.toLong, "duplicate pair rows in multi-index output")
  }

  test("simhash multi-index holds at the band-partition boundary cases") {
    import org.apache.spark.sql.functions._
    // maxHamming=0 -> ONE band of all 64 bits: candidates are exact
    // fingerprint collisions only, and the pigeonhole argument is
    // vacuous-tight (0 differing bits must leave the single band
    // untouched). maxHamming=9 -> 10 bands of 6 bits + a 10-bit tail
    // band (64 % 10 != 0): the remainder bits must land in SOME
    // band or a pair differing only in the top bits would slip
    // every bucket and break the no-false-negatives contract.
    for (mh <- Seq(0, 9)) {
      val got = Dedup
        .simhashHammingPairs(spark, sf, maxHamming = mh)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .toSet
      val d = graft.sources.Tables(spark, sf, "documents")
      val a = d.select(col("source"), col("doc_id").as("doc_a"),
        Dedup.simhash64(col("text")).as("sh_a"))
      val b = d.select(col("source"), col("doc_id").as("doc_b"),
        Dedup.simhash64(col("text")).as("sh_b"))
      val brute = a.join(b, Seq("source"))
        .filter(col("doc_a") < col("doc_b"))
        .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int"))
        .filter(col("hamming") <= mh)
        .select(col("source"), col("doc_a"), col("doc_b"), col("hamming"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .toSet
      assert(got == brute, s"maxHamming=$mh: multi-index != brute force " +
        s"(missing=${(brute -- got).take(3)} extra=${(got -- brute).take(3)})")
    }
  }

  test("shingle df stats: bins are config-bounded and masses reconcile") {
    val rows = Dedup.shingleDfStats(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 51, s"${rows.length} bins for maxDf=50")
    rows.foreach { r =>
      val (bin, kept) = (r.getLong(0), r.getBoolean(3))
      assert(bin >= 1 && bin <= 51)
      assert(kept == (bin >= 2 && bin <= 50), s"kept flag wrong at df_bin=$bin")
      // per-bin mass = bin * count for real bins (overflow bin aggregates)
      if (bin <= 50) assert(r.getLong(2) == bin * r.getLong(1))
    }
    // total posting mass equals the exploded distinct-shingle count
    import org.apache.spark.sql.functions._
    val direct = graft.sources.Tables(spark, sf, "documents")
      .filter(size(split(col("text"), " ")) >= 3)
      .select(explode(Dedup.shingles(col("text"), 3)).as("s"))
      .count()
    assert(rows.map(_.getLong(2)).sum == direct, "posting mass does not reconcile")
    // a degenerate cutoff drops everything into the overflow bin
    // except singletons: nothing is ever flagged kept
    val degenerate = Dedup.shingleDfStats(spark, sf, maxDf = 1).collect()
    assert(degenerate.forall(!_.getBoolean(3)), "maxDf=1 must keep nothing")
  }

  test("minhash recall: decile attribution and invariants on a constructed corpus") {
    import spark.implicits._
    // Two controlled truth pairs: an identical pair (jaccard 1.0 →
    // decile 9; identical signatures collide in every band, so the
    // LSH side MUST find it) and a 10-shingle/10-shingle pair with
    // exactly 5 common shingles (jaccard 5/15 = 0.333 → decile 3,
    // where the 4×3 banding S-curve is far below 1 — its hit is
    // whatever the deterministic banding yields, so only invariants
    // are asserted for it). Filler docs share nothing.
    // a1: 12 tokens → 10 word-3-shingles. b1 shares a1's first 7
    // tokens (5 common shingles) and contributes 5 of its own →
    // |a∩b| = 5, |a∪b| = 15, jaccard 0.333. With two a1 copies the
    // corpus yields one decile-9 pair (1,2) and two decile-3 pairs
    // (1,4)(2,4); doc 7 shares nothing.
    val a1 = (1 to 12).map(i => s"a$i").mkString(" ")
    val b1 = ((1 to 7).map(i => s"a$i") ++ (1 to 5).map(i => s"x$i")).mkString(" ")
    val tmp = ScratchDirs.create("graft-recall").toString
    Seq((1L, a1), (2L, a1), (4L, b1), (7L, (1 to 9).map(i => s"q$i").mkString(" ")))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'src0' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    Dedup.invalidate()
    val rows = Dedup.minhashRecallVsExact(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byDecile = rows.map(r => r._1 -> r).toMap
    assert(byDecile.keySet == Set(-1L, 3L, 9L), s"deciles: ${byDecile.keySet}")
    val d9 = byDecile(9L)
    assert(d9._2 == 1 && d9._3 == 1 && d9._4 == 1000,
      s"identical pair must be fully recalled: $d9")
    val d3 = byDecile(3L)
    assert(d3._2 == 2, s"two 0.333-jaccard truth pairs expected: $d3")
    val tot = byDecile(-1L)
    assert(tot._2 == rows.filter(_._1 >= 0).map(_._2).sum)
    assert(tot._3 == rows.filter(_._1 >= 0).map(_._3).sum)
    rows.foreach { r =>
      assert(r._3 <= r._2 && r._4 >= 0 && r._4 <= 1000, s"invariant broken: $r")
      assert(r._4 == 1000 * r._3 / r._2, s"permille arithmetic: $r")
    }
    Dedup.invalidate()
  }

  test("incremental LSH equals the full pair table restricted to the increment") {
    import org.apache.spark.sql.functions._
    // the contract the incremental plan must keep: banding is
    // order-independent, so increment-probes-index == full-corpus
    // pairs touching the increment. Checked on the driver corpus
    // AND on a generated near-dup corpus where the increment also
    // has internal (new,new) pairs — both candidate paths must fire.
    val tmp = ScratchDirs.create("graft-incr").toString
    val gen = graft.tools.ScaleCorpus.documents(spark, 6000, vocabSize = 200, nearDupRate = 0.05)
    // the generator's near dups are ADJACENT ids, so no pair
    // straddles a 90% cutoff — plant three cross-increment exact
    // dups (old text, new id) so the index-probe path must fire
    val planted = gen.filter(col("doc_id").isin(100L, 200L, 300L))
      .withColumn("doc_id", col("doc_id") + 5900L)
    gen.unionByName(planted).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    for (d <- Seq(sf, tmp)) {
      Dedup.invalidate()
      val cutoff = graft.sources.Tables(spark, d, "documents")
        .agg(expr("9 * max(doc_id) DIV 10")).head.getLong(0)
      val expected = Dedup.minhashLshPairs(spark, d).filter(col("doc_b") > cutoff)
      val got = Dedup.minhashIncrementalPairs(spark, d)
      val diffs = got.exceptAll(expected).count() + expected.exceptAll(got).count()
      assert(diffs == 0, s"$d: incremental != filtered full ($diffs row diffs)")
      assert(got.count() > 0, s"$d: increment has no pairs — contract untested")
      // the near-dup corpus must exercise BOTH candidate paths
      if (d == tmp) {
        val newNew = got.filter(col("doc_a") > cutoff).count()
        val newOld = got.filter(col("doc_a") <= cutoff).count()
        assert(newNew > 0 && newOld > 0,
          s"want both probe paths fired: newNew=$newNew newOld=$newOld")
      }
      // incremental cluster maintenance lands on the full closure
      val ccIncr = Dedup.lshClustersIncremental(spark, d)
      val ccFull = Dedup.connectedComponents(
        Dedup.minhashLshPairsShared(spark, d).select("doc_a", "doc_b"))
      val ccDiffs = ccIncr.exceptAll(ccFull).count() + ccFull.exceptAll(ccIncr).count()
      assert(ccDiffs == 0, s"$d: incremental clusters != full recompute ($ccDiffs)")
    }
    Dedup.invalidate()
  }

  test("index refresh: the folded band index probes the next era identically to a rebuild") {
    import org.apache.spark.sql.functions._
    // the refresh contract: appending the landed increment's band
    // keys to the stored index (old slice never rescanned) must
    // probe the NEXT increment exactly like a from-scratch rebuild
    // over the same documents — banding is per-doc deterministic,
    // so this pins that no lineage split/union step perturbs it
    val folded = Dedup.minhashRefreshFoldedProbe(spark, sf)
    val rebuilt = Dedup.minhashRefreshRebuiltProbe(spark, sf)
    val diffs = folded.exceptAll(rebuilt).count() + rebuilt.exceptAll(folded).count()
    assert(diffs == 0, s"folded-index probe != rebuilt-index probe ($diffs row diffs)")
    assert(folded.count() > 0, "next-era probe found no pairs — contract untested")
  }

  test("incremental CC normalizes non-min-id labelings before contracting") {
    import spark.implicits._
    // same topology as the bridge test, but the caller's labels are
    // canonical-doc style (cluster named by its MAX member) — the
    // contraction's exactness proof needs min-id labels, so the
    // method must normalize instead of returning divergent output
    val renumbered = Seq((1L, 2L), (2L, 2L), (5L, 6L), (6L, 6L), (20L, 21L), (21L, 21L))
      .toDF("doc_id", "cluster_id")
    val newPairs = Seq((2L, 9L), (5L, 9L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponentsIncremental(renumbered, newPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L, 9L -> 1L, 20L -> 20L, 21L -> 20L),
      s"got $got")
  }

  test("incremental CC merges two existing clusters through one bridge pair") {
    import spark.implicits._
    // old world: {1,2} labeled 1 and {5,6} labeled 5; the increment
    // brings doc 9 with edges to both clusters — everything must
    // collapse to label 1, and the untouched cluster {20,21} must
    // keep its label. This is the case the relabel join exists for:
    // an EXISTING assignment's label changes without its own rows
    // appearing in any new pair.
    val oldLabels = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L), (20L, 20L), (21L, 20L))
      .toDF("doc_id", "cluster_id")
    val newPairs = Seq((2L, 9L), (5L, 9L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponentsIncremental(oldLabels, newPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L, 9L -> 1L, 20L -> 20L, 21L -> 20L),
      s"got $got")
  }

  test("banding recall follows the 4x3 S-curve on a generated near-dup corpus") {
    // ScaleCorpus's near-dup family (prefix-copy, f ∈ [0.45, 0.98))
    // populates every jaccard decile; 4 bands × 3 rows predicts
    // P[find] = 1 − (1 − s³)⁴ at jaccard s. The measurement is
    // deterministic (hash-derived corpus + md5 signatures), so a
    // tolerance band vs theory at each populated decile is a stable
    // pin — and the strongest correctness evidence the banding
    // pipeline has: a transposed band/row or a broken bucket key
    // flattens the curve and fails this spec long before it shows
    // in pair counts.
    val tmp = ScratchDirs.create("graft-scurve").toString
    graft.tools.ScaleCorpus.documents(spark, 8000, vocabSize = 200, nearDupRate = 0.05)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    Dedup.invalidate()
    val rows = Dedup.minhashRecallVsExact(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val deciles = rows.filter(_._1 >= 0)
    assert(deciles.count(_._2 >= 20) >= 5, s"expected ≥5 well-populated deciles: ${deciles.toSeq}")
    deciles.filter(_._2 >= 20).foreach { case (d, truth, _, recall) =>
      val s = d / 10.0 + 0.05
      val theory = (1000 * (1.0 - math.pow(1.0 - math.pow(s, 3), 4))).toLong
      assert(math.abs(recall - theory) <= 250,
        s"decile $d (n=$truth): recall $recall vs theory $theory drifted >250 permille")
    }
    // plateau and tail of the curve
    deciles.find(_._1 == 9).foreach { case (_, _, _, r) => assert(r >= 950, s"decile-9 recall $r") }
    deciles.find(_._1 == 3).foreach { case (_, _, _, r) => assert(r <= 450, s"decile-3 recall $r") }

    // the banding knob: 6 bands × 2 rows moves the S-curve LEFT
    // (1−(1−s²)⁶ > 1−(1−s³)⁴ for s < ~0.85) — more low-jaccard
    // pairs recovered, paying more candidate verification. Pin the
    // direction on the aggregate low range (deciles 3-5 pooled —
    // per-decile counts are small enough for ties).
    Dedup.invalidate()
    val wide = Dedup.minhashRecallVsExact(spark, tmp, numHashes = 12, bands = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def lowFound(rs: Array[(Long, Long, Long)]) =
      rs.filter(r => r._1 >= 3 && r._1 <= 5).map(_._3).sum
    def lowTruth(rs: Array[(Long, Long, Long)]) =
      rs.filter(r => r._1 >= 3 && r._1 <= 5).map(_._2).sum
    val narrowLow = deciles.filter(r => r._1 >= 3 && r._1 <= 5)
    assert(lowTruth(wide) == narrowLow.map(_._2).sum, "truth side must not depend on banding")
    assert(lowFound(wide) > narrowLow.map(_._3).sum,
      s"6x2 banding must recover more low-jaccard pairs than 4x3: " +
        s"${lowFound(wide)} vs ${narrowLow.map(_._3).sum}")
    Dedup.invalidate()
  }
}
