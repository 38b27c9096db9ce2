package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Bench, GraftSession, SparkEntry}

/** Scale-rehearsal bench: time a set of gates across corpora of
  * increasing scale factor (generated by [[ScaleCorpus]]) so
  * per-query scaling exponents can be FITTED rather than argued
  * from plan shape. For each (query, dir): min of three timed runs,
  * caches reset before every timed pass (same methodology as
  * `graft.Bench`), plus one untimed `count()` so output-cardinality
  * growth is recorded alongside runtime growth — a gate whose TRUE
  * result set grows super-linearly (e.g. chance near-dup pairs in a
  * vocab-30 corpus) must not be misread as a super-linear PLAN.
  *
  * Streaming gates run as memoized concurrent bundles (ST7), so the
  * two bundles are timed as single units through their first member,
  * not per-member.
  *
  * Usage: ScalingBench <out.json> <sf1>=<dir1> <sf2>=<dir2> ...
  * Query set via SPARK_GRAFT_SCALE_QUERIES (comma-separated;
  * defaults to the round-7 heavy-gate set below).
  */
object ScalingBench {

  /** The heaviest gates of BENCH_r07 plus the full dedup/graph/ANN
    * families — the surface whose 100-TB behavior the plan-shape
    * arguments cover.
    */
  val defaultQueries: Seq[String] = Seq(
    "graph_kcore", "graph_pagerank", "graph_label_prop", "graph_triangles",
    "dedup_minhash_lsh", "dedup_clusters", "dedup_ngram_jaccard", "dedup_char_ngram",
    "dedup_containment", "dedup_simhash_pairs", "dedup_span_coverage", "dedup_embedding_cosine", "dedup_exact",
    "similarity_ann_lsh", "ivf_kmeans_iterated", "embedding_power_iteration",
    "curation_pipeline", "decontamination_bloom", "source_overlap",
    "mad_outliers", "lang_robust_stats", "bm25_search", "text_tf_idf",
    "timeseries_gapfill", "concurrency_peaks", "session_paths",
  )

  /** Streaming bundles (mirrors `graft.Bench`): timed once each via
    * the first member, which triggers the whole concurrent pass.
    */
  val allBundles: Seq[(String, String)] = Seq(
    "bundle_stream_gate" -> "stream_votes_per_candidate",
    "bundle_stream_sink" -> "stream_interval_join_sink",
  )

  /** `SPARK_GRAFT_SCALE_NO_BUNDLES=1` drops the streaming bundles
    * from the run — for focused rehearsals (e.g. the vocab-scaled
    * shingle family) where ~100 s/point of micro-batch replay would
    * dominate the wall clock without informing the question.
    */
  def bundles: Seq[(String, String)] =
    if (sys.env.contains("SPARK_GRAFT_SCALE_NO_BUNDLES")) Seq.empty else allBundles

  def main(args: Array[String]): Unit = {
    val outPath = args(0)
    val dirs: Seq[(String, String)] = args.drop(1).toSeq.map { a =>
      val Array(sf, dir) = a.split("=", 2)
      sf -> dir
    }
    val queries: Seq[String] = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(defaultQueries)
    queries.foreach(q => require(SparkEntry.queries.contains(q), s"unknown gate $q in SPARK_GRAFT_SCALE_QUERIES"))

    val spark = GraftSession.getOrCreate()
    spark.listenerManager.register(ShuffleTap)

    // last successful run's shuffle volume per gate (deterministic
    // for a deterministic corpus — the noise-free scaling signal)
    val shuffleBytes = scala.collection.mutable.Map.empty[(String, String), Long]

    def timeOne(name: String, fn: (SparkSession, String) => DataFrame, dir: String): Double = {
      val v0 = ShuffleTap.version
      val t0 = System.nanoTime()
      try {
        Bench.materialize(fn(spark, dir))
        val sec = (System.nanoTime() - t0) / 1e9
        val (b, _) = ShuffleTap.awaitNext(v0)
        if (b >= 0) shuffleBytes((name, dir)) = b
        sec
      } catch { case e: Throwable =>
        System.err.println(s"[scaling] $name @ $dir FAILED: ${e.getMessage}")
        -1.0
      }
    }

    // results(query)(sf) = (seconds, rows, shuffleBytes)
    val results = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Map[String, (Double, Long, Long)]]
    def put(q: String, sf: String, sec: Double, rows: Long, sb: Long): Unit =
      results.getOrElseUpdate(q, scala.collection.mutable.Map.empty)(sf) = (sec, rows, sb)

    var warmupFailures = 0
    dirs.foreach { case (sf, dir) =>
      println(s"[scaling] === sf=$sf dir=$dir")
      // warmup pass: codegen/JIT/AQE stats out of the timed runs
      // (logged per gate — a pathological size point must be
      // attributable to a query, not a silent stall)
      graft.util.Artifacts.reset()
      (queries ++ bundles.map(_._2)).foreach { q =>
        val t0 = System.nanoTime()
        if (!Bench.warm("scaling", q)(Bench.materialize(SparkEntry.queries(q)(spark, dir))))
          warmupFailures += 1
        println(f"[scaling] warmup $q ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
      val passes = (1 to 3).map { _ =>
        graft.util.Artifacts.reset()
        val b = bundles.map { case (bname, member) =>
          bname -> timeOne(bname, SparkEntry.queries(member), dir)
        }
        val q = queries.map { q => q -> timeOne(q, SparkEntry.queries(q), dir) }
        (b ++ q).toMap
      }
      val best = passes.head.keys.map { q =>
        val vs = passes.map(_(q))
        q -> (if (vs.exists(_ < 0)) -1.0 else vs.min)
      }.toMap
      // untimed cardinality pass on the still-cached relations
      queries.foreach { q =>
        val rows = try SparkEntry.queries(q)(spark, dir).count() catch { case _: Throwable => -1L }
        val sb = shuffleBytes.getOrElse((q, dir), -1L)
        put(q, sf, best(q), rows, sb)
        println(f"[scaling] $q%-28s sf=$sf ${best(q)}%8.3f s  rows=$rows  shuffleMB=${sb / 1e6}%.1f")
      }
      bundles.foreach { case (bn, _) =>
        put(bn, sf, best(bn), -1L, shuffleBytes.getOrElse((bn, dir), -1L))
        println(f"[scaling] $bn%-28s sf=$sf ${best(bn)}%8.3f s")
      }
    }

    val sfs = dirs.map(_._1)
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val js = results.toSeq.sortBy(_._1).map { case (q, m) =>
      val per = sfs.flatMap { sf =>
        m.get(sf).map { case (s, r, sb) =>
          "\"" + sf + "\":{\"sec\":" + fmt(s) + ",\"rows\":" + r + ",\"shuffleBytes\":" + sb + "}"
        }
      }.mkString("{", ",", "}")
      "\"" + q + "\":" + per
    }.mkString("{", ",", "}")
    val line =
      s"""{"sfs":[${sfs.map("\"" + _ + "\"").mkString(",")}],"warmup_failures":$warmupFailures,"queries":$js}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath).toAbsolutePath, line + "\n")
    println(s"[scaling] warm-up failures: $warmupFailures")
    println(s"[scaling] wrote $outPath")
    spark.stop()
  }
}
