package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Skew
import graft.sources.Tables
import graft.streaming.VotePipeline

class UtilitiesSpec extends AnyFunSuite {
  val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession
    .builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  test("ExplainAll drives a gate end-to-end on a shared session") {
    // smoke coverage for the plan-dump utility: it must resolve gates
    // through the SparkEntry registry and run without touching the
    // session lifecycle
    ExplainAll.run(spark, sf, Seq("votes_per_candidate"))
  }

  test("native functions are callable from SQL via extensions descriptors") {
    // inject on an existing session the same way withExtensions would
    GraftExtensions.descriptors.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
    Tables(spark, sf, "embeddings").createOrReplaceTempView("emb_sql")
    val r = spark
      .sql("SELECT vec_id, graft_cosine(embedding, embedding) AS c FROM emb_sql LIMIT 5")
      .collect()
    assert(r.forall(row => math.abs(row.getDouble(1) - 1.0) < 1e-9))
    Tables(spark, sf, "documents").createOrReplaceTempView("docs_sql")
    val s = spark
      .sql("""SELECT graft_simhash16(text) AS h16, graft_simhash64(text) AS h64,
             |       graft_word_shingles(text, 3) AS ws, graft_char_shingles(text, 5) AS cs,
             |       graft_minhash_sig(graft_word_shingles(text, 3), 4) AS sig
             |FROM docs_sql LIMIT 5""".stripMargin)
      .collect()
    assert(s.nonEmpty && s.forall(row => !row.isNullAt(0) && !row.isNullAt(1)))
    val agg = spark
      .sql("SELECT graft_sum_scaled128(CAST(n_chars AS BIGINT)) AS s FROM docs_sql")
      .collect()
    assert(agg.length == 1 && !agg(0).isNullAt(0))
    val pairs = spark
      .sql("""SELECT graft_id_pairs(array(1L, 5L, 9L)) AS ip,
             |       graft_posting_pairs(array(named_struct('doc_id', 1L, 'n_sh', 2L),
             |                                 named_struct('doc_id', 4L, 'n_sh', 3L))) AS pp""".stripMargin)
      .collect()
    assert(pairs(0).getSeq[Any](0).length == 3 && pairs(0).getSeq[Any](1).length == 1)
  }

  test("sum_scaled128 equals the decimal sum, including ±2^63 crossings") {
    import spark.implicits._
    import graft.operators.RelationalQueries.Num
    val big = Long.MaxValue / 2
    val rows = Seq[(Int, java.lang.Long)](
      // group 1 climbs past +2^63 (three × ~2^62), then back down
      (1, big), (1, big), (1, big), (1, -big),
      // group 2 dives below −2^63
      (2, -big), (2, -big), (2, -big),
      // group 3: nulls skipped, plain values
      (3, null), (3, 7L), (3, -3L),
      // group 4: all null → null sum in both forms
      (4, null),
    ).toDF("g", "v")
    val native = rows.groupBy("g").agg(Num.sumScaled(col("v")).as("s"))
    val spec = rows.groupBy("g").agg(Num.sumScaledComposed(col("v")).as("s"))
    val n = native.collect().map(r => r.getInt(0) -> r.get(1)).toMap
    val s = spec.collect().map(r => r.getInt(0) -> r.get(1)).toMap
    assert(n == s, s"native $n vs spec $s")
    assert(n(1) == new java.math.BigDecimal(big).multiply(java.math.BigDecimal.valueOf(2)))
    assert(n(4) == null)
    // and on real corpus money data the full money pipeline agrees
    val a = graft.operators.RelationalQueries.q1PricingSummary(spark, sf).collect()
    assert(a.nonEmpty)
  }

  test("hash splits are deterministic and near the 80/10/10 design fractions") {
    val docs = Tables(spark, sf, "documents")
    val a = graft.operators.Sampling.hashSplitStats(spark, sf)
    val b = graft.operators.Sampling.hashSplitStats(spark, sf)
    assert(a.exceptAll(b).count() == 0, "split assignment is not deterministic")
    val total = docs.count().toDouble
    val train = a.filter(col("split") === "train")
      .agg(sum("n_docs")).head.getLong(0).toDouble
    assert(train / total > 0.7 && train / total < 0.9, s"train fraction ${train / total}")
  }

  test("salted aggregation equals direct aggregation") {
    val events = Tables(spark, sf, "events")
    val salted = Skew
      .saltedSum(events, col("event_type"), col("value").cast("decimal(12,2)"), salts = 8)
      .select(col("k"), col("total").cast("double"), col("n"))
    val direct = events
      .groupBy(col("event_type").as("k"))
      .agg(sum(col("value").cast("decimal(12,2)")).cast("double").as("total"), count(lit(1)).as("n"))
    assert(salted.except(direct).count() == 0 && direct.except(salted).count() == 0)
  }

  test("top-quality-per-source aggregator equals the window-rank formulation") {
    import graft.operators.{Sampling, TextAnalysis}
    val viaAgg = Sampling.topQualityPerSource(spark, sf, k = 5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source")
      .orderBy(col("n_tok").desc, col("doc_id"))
    val viaWindow = Tables(spark, sf, "documents")
      .select(
        col("source"),
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"),
      )
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select("source", "rank", "doc_id", "n_tok")
    assert(viaAgg.except(viaWindow).isEmpty && viaWindow.except(viaAgg).isEmpty)
    assert(viaAgg.count() == viaWindow.count())
  }

  test("stratified sampler partitions the corpus and keeps every ok-class doc") {
    import graft.operators.{Sampling, TextAnalysis}
    val rows = Sampling.stratifiedQualityMix(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = Tables(spark, sf, "documents")
    // strata cells partition the corpus
    assert(rows.map(_.getLong(3)).sum == docs.count())
    rows.foreach { r =>
      val (cls, thr, n, sel) = (r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))
      assert(sel >= 0 && sel <= n)
      // the 'ok' rate is "ff" = all 256 hash buckets → everything kept
      if (cls == "ok") { assert(thr == "ff" && sel == n) }
      else assert(Set("7f", "1f")(thr))
    }
    // class labels agree with the quality scorer's (same rule object)
    val classCounts = TextAnalysis.qualityScores(spark, sf)
      .groupBy("quality_class").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val stratCounts = rows.groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(3)).sum).toMap
    assert(stratCounts == classCounts)
  }

  test("cluster-quota sample caps every cell at min(size, Q) with dense stable ranks") {
    import graft.operators.{IvfIndex, Sampling}
    val q = 3
    val asg = IvfIndex.assignments(spark, sf).collect()
      .groupBy(_.getAs[Int]("assigned_cell")).view.mapValues(_.length).toMap
    val picked = Sampling.clusterQuotaSample(spark, sf, q = q).collect()
      .map(r => (r.getAs[Int]("assigned_cell"), r.getAs[Long]("vec_id"), r.getAs[Long]("pick_rank")))
    val byCell = picked.groupBy(_._1)
    // every cell is represented and capped at min(size, Q), ranks dense 1..kept
    assert(byCell.keySet == asg.keySet)
    byCell.foreach { case (cell, members) =>
      assert(members.length == math.min(asg(cell), q), s"cell $cell")
      assert(members.map(_._3).sorted.toSeq == (1L to members.length).toSeq)
    }
    // determinism: a second invocation picks the identical set
    val again = Sampling.clusterQuotaSample(spark, sf, q = q).collect()
      .map(r => (r.getAs[Int]("assigned_cell"), r.getAs[Long]("vec_id"), r.getAs[Long]("pick_rank")))
    assert(again.sortBy(t => (t._1, t._3)).toSeq == picked.sortBy(t => (t._1, t._3)).toSeq)
  }

  test("epoch shuffle is a seeded permutation: shards cover the corpus, seeds are independent") {
    import graft.operators.Sampling
    val docs = Tables(spark, sf, "documents")
    val e0 = Sampling.epochShuffle(spark, sf, "epoch0")
    // every doc appears exactly once across shards
    assert(e0.count() == docs.count())
    assert(e0.select("doc_id").distinct().count() == docs.count())
    // positions within a shard are a contiguous 1..n run
    val bad = e0.groupBy("shard")
      .agg(count(lit(1)).as("n"), min("position").as("lo"), max("position").as("hi"))
      .filter(col("lo") =!= 1L || col("hi") =!= col("n"))
    assert(bad.isEmpty, "shard positions are not a contiguous 1..n run")
    // a different seed yields a different permutation of the same docs
    val e1 = Sampling.epochShuffle(spark, sf, "epoch1")
    assert(e1.count() == docs.count())
    assert(e0.except(e1).count() > 0, "independent seeds produced the identical order")
    // and the same seed is exactly reproducible
    assert(Sampling.epochShuffle(spark, sf, "epoch0").except(e0).isEmpty)
  }

  test("salted block join preserves the exact pair set and bounds a hot block's sub-tasks") {
    import spark.implicits._
    // one hot block of 90 rows, one cold block of 2: the guard must
    // split only the hot one (ceil(90/10) = 9 sub-tasks) and leave the
    // cold one unsplit (m = 1)
    val rows = (0L until 90L).map(i => ("hot", i)) ++ Seq(("cold", 100L), ("cold", 101L))
    val a = rows.toDF("blk", "id").select(col("blk"), col("id").as("id_a"))
    val b = rows.toDF("blk", "id").select(col("blk"), col("id").as("id_b"))
    val plain = a.join(b, Seq("blk")).filter(col("id_a") < col("id_b"))
    val salted = Skew
      .saltedBlockJoinKeepSalt(a, b, "blk", "id_a", targetRows = 10)
      .filter(col("id_a") < col("id_b"))
    // exact same pair multiset (pairs are unique, so except both ways
    // + count pins it)
    assert(salted.count() == plain.count())
    assert(
      salted.drop("__salt").except(plain).isEmpty && plain.except(salted.drop("__salt")).isEmpty,
      "salting changed the pair set",
    )
    // hot block spread over multiple bounded sub-tasks; a sub-task's
    // pair count is its ~targetRows a-slice × |block| (hash slack ≤3×)
    val perTask = salted
      .groupBy("blk", "__salt").count()
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val hotTasks = perTask.filter(_._1 == "hot")
    assert(hotTasks.length >= 5, s"hot block did not spread: ${hotTasks.length} sub-tasks")
    assert(
      hotTasks.forall(_._3 <= 3L * 10 * 90),
      s"a hot sub-task exceeds the bounded expansion: ${hotTasks.map(_._3).max}",
    )
    assert(perTask.count(_._1 == "cold") == 1, "cold block must stay unsplit")
  }

  test("pair gates are identical under forced sub-blocking") {
    // the gate defaults leave every test-scale block unsplit; forcing
    // tiny sub-blocks must not change a single emitted pair
    val sim = graft.operators.Dedup.simhashHammingPairs(spark, sf)
    val simForced = graft.operators.Dedup.simhashHammingPairs(spark, sf, targetRows = 8)
    assert(sim.except(simForced).isEmpty && simForced.except(sim).isEmpty)
    val embBase = graft.operators.Similarity.embeddingNearDupPairs(spark, sf)
    val embForced = graft.operators.Similarity.embeddingNearDupPairs(spark, sf, targetRows = 8)
    assert(embBase.except(embForced).isEmpty && embForced.except(embBase).isEmpty)
  }

  test("rocksdb state store config applies to stateful streaming") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    VotePipeline.useRocksDbStateStore(spark)
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Int)]
    stream.addData(("a", 1), ("a", 2), ("b", 3))
    val agg = stream.toDF().toDF("k", "v").groupBy("k").agg(sum("v").as("s"))
    val (q, cap) = VotePipeline.startCaptureQuery(agg, "rocks_test")
    q.processAllAvailable(); q.stop()
    val m = cap.latest(spark, Seq("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("a" -> 3L, "b" -> 3L))
    // restore default for other suites sharing the session
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("named-artifact invalidation frees storage even after soft-value eviction and rebuild") {
    // the GC-cleared-entry path the named memo's key-based reset
    // exists for, made deterministic: evict the soft value, rebuild
    // (which must NOT leave a second, unreachable cache entry), then
    // reset — every storage block this lineage pinned must be gone
    val memo = graft.util.Artifacts.memo(this, "graft_spec_artifact")
    val name = memo.viewName(sf)
    assert(name == graft.util.NamedArtifact.viewName("graft_spec_artifact", sf))
    // baseline: other suites share this session and may hold their own
    // cached plans — the contract is that THIS artifact's storage is
    // freed, i.e. no persistent RDD beyond the baseline survives
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    def build() = memo(spark, sf)(Tables(spark, sf, "nation").groupBy("n_regionkey").count())
    assert(build().count() > 0)
    assert(spark.catalog.isCached(name))

    // simulate memory-pressure eviction of the memoized value, then a
    // rebuild — the pre-fix behavior double-registered the cache entry
    memo.simulateValueEviction()
    assert(memo.get(spark, sf).isEmpty, "evicted value must read as absent")
    assert(build().count() > 0)
    assert(spark.catalog.isCached(name))

    // the reset must reach the blocks by NAME: the value reference
    // was cleared, so a value-based hook could not
    memo.simulateValueEviction()
    graft.util.Artifacts.reset(this)
    assert(memo.isEmpty)
    assert(!spark.sessionState.catalog.getTempView(name).isDefined)
    // storage freed: no persistent RDD beyond the pre-test baseline
    // survives — the pre-fix double-registration left the first
    // build's blocks pinned as an unreachable orphan here
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- baseline
    assert(leaked.isEmpty,
      s"artifact storage leaked past key-based invalidation: RDD ids $leaked")
  }
}
