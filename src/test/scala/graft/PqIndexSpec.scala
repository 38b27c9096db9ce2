package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PqIndex
import graft.sources.Tables
import graft.util.ScratchDirs

/** Invariants of the product-quantization family (PqIndex). The
  * oracle gates pin cross-engine value equality; these pin the
  * SEMANTIC contracts — codebook shape, encode optimality, the ADC
  * score decomposition, and the shortlist⊇rerank containment — via
  * independent recomputations that share no code with the operator.
  */
class PqIndexSpec extends AnyFunSuite {
  val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession
    .builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  test("codebook: one row per (subspace, label-cell), subDim-length means, n = label counts") {
    val cb = PqIndex.codebook(spark, sf).cache()
    try {
      val labels = Tables(spark, sf, "embeddings")
        .groupBy(col("label").cast("int").as("cell"))
        .agg(count(lit(1)).as("n_label"))
      val nCells = labels.count()
      assert(cb.count() == PqIndex.numSub * nCells)
      assert(cb.select(size(col("mean"))).distinct().head.getInt(0) == PqIndex.subDim)
      // every subspace sees the full label population
      val mismatched = cb
        .join(labels, Seq("cell"))
        .filter(col("n") =!= col("n_label"))
        .count()
      assert(mismatched == 0, "codebook n disagrees with the label population")
    } finally cb.unpersist()
  }

  test("codes: every code is the min-L2 cell for its subspace (independent explode recompute)") {
    val codes = PqIndex.codesTable(spark, sf)
    // independent formulation: explode to (vec, s, cell) distances
    // via a plain join + window-min, sharing nothing with the
    // operator's broadcast-row argmin
    val q = Tables(spark, sf, "embeddings")
      .select(
        col("vec_id"),
        posexplode(transform(col("embedding"), x => floor(x.cast("double") * 1000000.0).cast("long")))
          .as(Seq("dim", "qv")),
      )
      .select(
        col("vec_id"),
        (col("dim") / PqIndex.subDim).cast("int").as("s"),
        (col("dim") % PqIndex.subDim).as("sd"),
        col("qv"),
      )
    val cb = PqIndex.codebook(spark, sf)
      .select(col("s"), col("cell"), posexplode(col("mean")).as(Seq("sd0", "m")))
      .select(col("s").as("cs"), col("cell"), col("sd0").as("sd"), col("m"))
    val d2 = q
      .join(cb, q("s") === cb("cs") && q("sd") === cb("sd"))
      .groupBy(col("vec_id"), q("s"), col("cell"))
      .agg(sum((col("qv").cast("double") - col("m")) * (col("qv").cast("double") - col("m"))).as("d2"))
    val w = Window.partitionBy("vec_id", "s").orderBy(col("d2"), col("cell"))
    val best = d2
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy("vec_id")
      .pivot("s", Seq(0, 1, 2, 3))
      .agg(first(col("cell")))
      .toDF("vec_id", "e0", "e1", "e2", "e3")
    val diff = codes
      .join(best, Seq("vec_id"))
      .filter(
        col("c0") =!= col("e0") || col("c1") =!= col("e1") ||
          col("c2") =!= col("e2") || col("c3") =!= col("e3"))
      .count()
    // NOTE: the independent recompute sums per-(s,cell) partials in
    // arbitrary order, so its d2 can differ from the operator's
    // ordered fold by ULPs — but inter-cell margins dwarf that (the
    // same argument the oracle gate rests on), so argmins agree.
    assert(diff == 0, s"$diff vectors encoded to a non-optimal cell")
  }

  test("ADC score ranks as dot(q, code-selected reconstruction) / ‖c‖ (the cosine estimate)") {
    import graft.functions.VectorFunctions.dot
    val codes = PqIndex.codesTable(spark, sf)
    val cb = PqIndex.codebook(spark, sf)
    // reconstruction = concat of the 4 selected sub-means, via 4
    // independent joins (no LUT, no maps); the neighbor norm is the
    // quantized-integer norm recomputed independently of the operator
    val rec = (0 until PqIndex.numSub)
      .foldLeft(codes.drop("nrm")) { (df, s) =>
        df.join(
          cb.filter(col("s") === s).select(col("cell").as(s"c$s"), col("mean").as(s"m$s")),
          Seq(s"c$s"),
        )
      }
      .select(
        col("vec_id").as("neighbor_id"),
        concat((0 until PqIndex.numSub).map(s => col(s"m$s")): _*).as("recon"),
      )
    val nrms = Tables(spark, sf, "embeddings")
      .select(
        col("vec_id").as("neighbor_id"),
        sqrt(
          aggregate(
            transform(col("embedding"), x => floor(x.cast("double") * 1000000.0).cast("long")),
            lit(0L),
            (acc, v) => acc + v * v,
          ).cast("double")
        ).as("nrmc"),
      )
    val queries = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val expected = rec
      .join(nrms, Seq("neighbor_id"))
      .crossJoin(queries)
      .filter(col("query_id") =!= col("neighbor_id"))
      // per-query ranking is invariant to the (constant) query norm,
      // so the independent formulation only divides by the neighbor's
      .select(
        col("query_id"),
        col("neighbor_id"),
        (dot(col("qe"), col("recon")) / col("nrmc")).as("exp"),
      )
    val scoredViaTopK = PqIndex.adcTopK(spark, sf, nQueries = 8, k = 1000000)
    // adcTopK keeps every candidate at huge k, so join back and
    // compare ranks implied by the expected scores
    val w = Window.partitionBy("query_id").orderBy(col("exp").desc, col("neighbor_id"))
    val expRanks = expected.withColumn("rank", row_number().over(w).cast("long"))
    val diff = scoredViaTopK
      .join(expRanks, Seq("query_id", "neighbor_id"))
      .filter(scoredViaTopK("rank") =!= expRanks("rank"))
      .count()
    // full-array fold vs sum-of-4-subfolds differ in IEEE association,
    // so equality is pinned on the induced RANKING (ULP-margin rule),
    // not the raw doubles
    assert(diff == 0, s"$diff (query, neighbor) pairs rank differently than dot(q, reconstruction)")
  }

  test("ivf+pq: every emitted neighbor sits in a cell its query probed") {
    val out = PqIndex.ivfPqTopK(spark, sf).cache()
    try {
      assert(out.count() > 0)
      assert(out.groupBy("query_id").count().filter(col("count") > 5).count() == 0)
      // recompute the probe lists and the assignment independently
      // (the oracle formulations: rank-window over centroid cosine)
      val emb = Tables(spark, sf, "embeddings")
      val cents = graft.operators.IvfIndex.centroids(emb.select(col("label"), col("embedding")), "label")
      val pw = Window.partitionBy("qid").orderBy(col("psim").desc, col("cell"))
      val probes = emb
        .filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .crossJoin(cents)
        .select(
          col("qid"),
          col("cell"),
          graft.functions.VectorFunctions.cosine(col("qe"), col("centroid")).as("psim"),
        )
        .withColumn("rn", row_number().over(pw))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("cell"))
      val assigned = graft.operators.IvfIndex.assignments(spark, sf)
      val escaped = out
        .join(assigned.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
        .join(
          probes.select(col("qid").as("query_id"), col("cell").as("assigned_cell"), lit(1).as("probed")),
          Seq("query_id", "assigned_cell"),
          "left",
        )
        .filter(col("probed").isNull)
        .count()
      assert(escaped == 0, s"$escaped neighbors came from unprobed cells")
    } finally out.unpersist()
  }

  test("rerank: subset of the shortlist, ranks 1..k, and never fewer brute-force hits than ADC") {
    val rr = PqIndex.adcRerankTopK(spark, sf).cache()
    try {
      assert(rr.groupBy("query_id").count().filter(col("count") > 5).count() == 0)
      assert(rr.filter(col("rank") < 1 || col("rank") > 5).count() == 0)
      val recall = PqIndex.adcRecallAtK(spark, sf)
      // a brute-force hit surfaced by pure ADC is by construction in
      // the shortlist and wins its exact re-rank slot, so the rerank
      // path can only add hits
      assert(recall.filter(col("n_hits_rerank") < col("n_hits_adc")).count() == 0)
      assert(recall.filter(col("k") =!= 5).count() == 0)
    } finally rr.unpersist()
  }

  test("pq ndcg: permilles bounded, dcg <= idcg, and the audit equals a recompute from the rank lists") {
    import graft.operators.Similarity
    val k = Similarity.NdcgK
    val lut = Similarity.dcgDiscountLut(k)
    val rows = PqIndex.adcNdcgAtK(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    rows.values.foreach { case (da, dr, idcg, pa, pr) =>
      assert(da >= 0 && dr >= 0 && da <= idcg && dr <= idcg)
      assert(pa == 1000 * da / idcg && pr == 1000 * dr / idcg)
      assert(pa <= 1000 && pr <= 1000)
    }
    // independent recompute from the public rank lists
    val bf = Similarity.bruteForceTopK(spark, sf, k = k).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    def dcgOf(list: Array[org.apache.spark.sql.Row]): Map[Long, Long] =
      list.groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.collect {
          case r if bf.contains((q, r.getLong(2))) =>
            (k + 1L - bf((q, r.getLong(2)))) * lut(r.getLong(1).toInt - 1)
        }.sum
      }
    val adcList = PqIndex.adcTopK(spark, sf, k = k).collect()
    val rrList = PqIndex.adcRerankTopK(spark, sf, k = k).collect()
    val (wantAdc, wantRr) = (dcgOf(adcList), dcgOf(rrList))
    rows.foreach { case (q, (da, dr, _, _, _)) =>
      assert(da == wantAdc.getOrElse(q, 0L), s"query $q adc dcg")
      assert(dr == wantRr.getOrElse(q, 0L), s"query $q rerank dcg")
    }
  }

  private def codeRow(r: org.apache.spark.sql.Row): (Long, Long, Int, Int, Int, Int, Double) =
    (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5), r.getDouble(6))

  test("codebook refresh: the fold equals the one-pass rebuild, and only the increment re-encodes") {
    // the driver corpus genuinely drifts between eras — the refresh
    // branch is the one the oracle gates exercise
    assert(PqIndex.refreshFires(spark, sf), "expected the drift trigger to fire on the driver corpus")
    val cols = Seq("vec_id", "cb_version", "c0", "c1", "c2", "c3", "nrm").map(col)
    val folded = PqIndex.codebookRefreshCodes(spark, sf).select(cols: _*).collect().map(codeRow)
    val rebuilt = PqIndex.codebookRefreshRebuilt(spark, sf).select(cols: _*).collect().map(codeRow)
    assert(folded.toSet == rebuilt.toSet, "incremental fold diverged from the from-scratch rebuild")
    // version tags follow the (era, trigger) dispatch exactly
    val c = PqIndex.refreshCutoff(spark, sf)
    assert(folded.forall { case (id, v, _, _, _, _, _) => v == (if (id > c) 2L else 1L) })
    // stored rows carry their v1 codes untouched
    val v1 = PqIndex
      .v1Codes(spark, sf)
      .filter(col("vec_id") <= c)
      .select((Seq(col("vec_id"), lit(1L).as("cb_version")) ++ cols.drop(2)): _*)
      .collect()
      .map(codeRow)
    assert(folded.filter(_._1 <= c).toSet == v1.toSet, "a stored row was re-encoded by the fold")
  }

  test("codebook refresh: a distribution-identical increment does not fire; the fold IS the v1 index") {
    // synthetic corpus whose label mix (hence v1-code occupancy) is
    // identical in both eras: labels cycle mod 10 and the embedding
    // is a pure function of the label
    val tmp = ScratchDirs.create("graft-nodrift").toString
    spark
      .range(200)
      .select(
        col("id").as("vec_id"),
        transform(
          sequence(lit(1), lit(64)),
          i => sin((col("id") % 10 + 1) * i).cast("float"),
        ).as("embedding"),
        (col("id") % 10).cast("int").as("label"),
      )
      .write
      .mode("overwrite")
      .parquet(s"$tmp/embeddings.parquet")
    assert(
      PqIndex.codebookDrift(spark, tmp).agg(sum("drift2")).head().getLong(0) == 0L,
      "distribution-identical eras must show zero occupancy drift",
    )
    assert(!PqIndex.refreshFires(spark, tmp))
    val folded = PqIndex.codebookRefreshCodes(spark, tmp)
    assert(folded.filter(col("cb_version") =!= 1L).count() == 0, "no-drift fold must stay all-v1")
    val cols = Seq("vec_id", "c0", "c1", "c2", "c3", "nrm").map(col)
    val foldCodes = folded.select(cols: _*).collect().map(_.toString).sorted
    val v1 = PqIndex.v1Codes(spark, tmp).select(cols: _*).collect().map(_.toString).sorted
    assert(foldCodes.sameElements(v1), "no-drift fold must equal the stored v1 index byte-for-byte")
  }
}
