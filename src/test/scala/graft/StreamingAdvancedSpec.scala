package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.VotingOps
import graft.streaming.{Sessionize, VotePipeline}
import graft.util.ScratchDirs

/** Advanced streaming semantics: checkpoint/restart exactly-once
  * resume (SURVEY ST4/ST5), stream-static broadcast enrichment (J1),
  * built-in session windows and custom flatMapGroupsWithState
  * sessionization (ST9 north star), and watermark late-data drops.
  */
class StreamingAdvancedSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession
    .builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  test("withConf puts back a set key and unsets an unset key, on return and on throw") {
    import graft.streaming.StreamGate.withConf
    val (wasSet, wasUnset) = ("graft.test.withconf.set", "graft.test.withconf.unset")
    spark.conf.set(wasSet, "before")
    spark.conf.unset(wasUnset)
    def assertRestored(): Unit = {
      assert(spark.conf.getOption(wasSet).contains("before"))
      assert(spark.conf.getOption(wasUnset).isEmpty)
    }
    val seen = withConf(spark, wasSet -> "inside", wasUnset -> "inside") {
      (spark.conf.get(wasSet), spark.conf.get(wasUnset))
    }
    assert(seen == (("inside", "inside")))
    assertRestored()
    val err = intercept[IllegalStateException] {
      withConf(spark, wasSet -> "inside", wasUnset -> "inside") {
        assert(spark.conf.get(wasSet) == "inside" && spark.conf.get(wasUnset) == "inside")
        throw new IllegalStateException("body failed")
      }
    }
    assert(err.getMessage == "body failed")
    assertRestored()
    spark.conf.unset(wasSet)
  }

  test("sink-path changelog collapse equals the in-memory capture path") {
    // runToFinalViaSink (per-batch overwrite dirs + distributed
    // max-batch-id collapse) must produce exactly what the bounded
    // in-memory capture produces on the same update-mode lineage —
    // the pin that lets corpus-scaling-key gates ride the sink path
    val dir = "/root/testdata/sf0.001"
    def agg = graft.operators.RelationalQueries
      .latestEventPerKey(graft.streaming.StreamingQueries.eventsStream(spark, dir))
    val viaCapture = graft.streaming.StreamingQueries
      .runToFinal(spark, agg, Seq("user_id")).collect().toSet
    val out = ScratchDirs.create("graft-rtf-sink").toString + "/out"
    val viaSink = graft.streaming.StreamingQueries
      .runToFinalViaSink(spark, agg, Seq("user_id"), out).collect().toSet
    assert(viaSink == viaCapture, "sink-path collapse diverged from the capture path")
    assert(viaSink.nonEmpty)
  }

  test("watermark eviction gate: late rows provably exist and are provably dropped") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val got = graft.streaming.StreamingQueries.lateEvictionViaSink(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val ev = graft.sources.Tables(spark, dir, "events")
      .select(col("event_id"), unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // the dual-watermark rule recomputed in memory: the late filter
    // of batch k uses stats through batch k − 2 (SPARK-40925 — the
    // previous batch's watermark), ms-floored minus 15 days
    val delayMs = 15L * 24 * 3600 * 1000
    val eraMaxUs = ev.groupBy(_._1 % 3).view.mapValues(_.map(_._2).max).toMap
    val wmAfter0Us = (eraMaxUs(0L) / 1000 - delayMs) * 1000
    def winEnd(us: Long): Long = 3600000000L * (us / 3600000000L) + 3600000000L
    val accepted = ev.filter { case (id, us) => id % 3 <= 1 || winEnd(us) > wmAfter0Us }
    val dropped = ev.length - accepted.length
    // the input genuinely contains late rows AND the watermark
    // genuinely drops them — the semantics no prior gate hash-matched
    assert(dropped > 0, "fixture produced no late rows — the gate is vacuous")
    assert(ev.count { case (id, us) => id % 3 == 2 && winEnd(us) <= wmAfter0Us } == dropped)
    val expected = accepted.groupBy { case (_, us) => 3600000000L * (us / 3600000000L) }
      .view.mapValues(_.length.toLong).toMap
    assert(got == expected, s"changelog ${got.size} windows != recompute ${expected.size}")
    assert(got.values.sum == accepted.length.toLong, "accepted-row total mismatch")

    // the APPEND twin: a window emits exactly once, at the end of the
    // first batch whose eviction watermark passes its end, with every
    // era <= that batch merged — and windows the watermarks never
    // pass are correctly ABSENT (still live in state at stream end)
    val wmAfter1Us = math.max(wmAfter0Us, (eraMaxUs(1L) / 1000 - delayMs) * 1000)
    val appended = graft.streaming.StreamingQueries.evictionAppendViaSink(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val expApp = ev
      .map { case (id, us) => (id % 3, 3600000000L * (us / 3600000000L), winEnd(us)) }
      .filter { case (era, _, we) =>
        if (we <= wmAfter0Us) era <= 1 else if (we <= wmAfter1Us) era <= 2 else false
      }
      .groupBy(_._2).view.mapValues(_.length.toLong).toMap
    assert(appended == expApp, s"append ${appended.size} windows != recompute ${expApp.size}")
    assert(appended.size < got.size, "append must hold only the CLOSED window subset")
    assert(appended.nonEmpty)
  }

  test("session eviction: merged sessions close at the watermark; late rows near closed sessions start NEW ones") {
    // sf0.1, not a smaller SF: the reopen-visibility configuration (a
    // surviving late row next to a closed session whose NEW session
    // closes by W1) exists exactly ONCE at sf0.01 — a corpus
    // regeneration could silently remove it and fail hazard 2
    // spuriously (the r13 verdict's named fragility). At sf0.1 the
    // configuration count is 33, so the pin is robust to
    // regeneration; the recompute is a 100k-row driver-side
    // sessionize, well within spec budget.
    val dir = "/root/testdata/sf0.1"
    val g = graft.streaming.StreamingQueries.SessionEvictionGapHours * 3600000000L
    val rows = graft.sources.Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val mx = rows.map(_._3).max
    val day = 86400000000L
    def era(r: (Long, Long, Long)): Long =
      if (r._3 > mx - day) 2L else if (r._3 > mx - 2 * day) 1L else r._2 % 3
    // (user, sessions as (start, lastUs, n)) from a row set — the
    // gaps-and-islands recompute of Spark's merge store
    def sessionize(rs: Seq[(Long, Long, Long)]): Seq[(Long, Long, Long, Long)] =
      rs.groupBy(_._1).toSeq.flatMap { case (u, es) =>
        val sorted = es.map(e => (e._3, e._2)).sortBy(identity)
        val out = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long, Long)]
        var start = -1L; var last = -1L; var n = 0L
        sorted.foreach { case (us, _) =>
          if (start < 0 || us - last >= g) {
            if (start >= 0) out += ((u, start, last + g, n))
            start = us; last = us; n = 1
          } else { last = us; n += 1 }
        }
        if (start >= 0) out += ((u, start, last + g, n))
        out.toSeq
      }
    val delayMs = 15L * 24 * 3600 * 1000
    def eraMaxUs(k: Long): Long = rows.filter(r => era(r) == k).map(_._3).max
    val w0us = (eraMaxUs(0) / 1000 - delayMs) * 1000
    val w1us = math.max(w0us, (eraMaxUs(1) / 1000 - delayMs) * 1000)
    val r01 = rows.filter(r => era(r) <= 1).toSeq
    val s1 = sessionize(r01)
    val e1 = s1.filter(_._3 <= w0us)
    // live rows = rows of un-emitted sessions (emitted sessions' rows
    // leave the store)
    val liveSpans = s1.filter(_._3 > w0us).groupBy(_._1).view
      .mapValues(_.map(s => (s._2, s._3))).toMap
    val liveRows = r01.filter { case (u, _, us) =>
      liveSpans.getOrElse(u, Nil).exists { case (st, en) => us >= st && us < en }
    }
    val droppedLate = rows.filter(r => era(r) == 2 && r._3 + g <= w0us)
    val a2 = rows.filter(r => era(r) == 2 && r._3 + g > w0us).toSeq
    val s2 = sessionize(liveRows ++ a2)
    val e2 = s2.filter(_._3 <= w1us)
    val expected = (e1 ++ e2).groupBy(identity).view.mapValues(_.size).toMap

    val got = graft.streaming.StreamingQueries.sessionEvictionViaSink(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(got == expected, s"appended ${got.size} sessions != dual-watermark recompute ${expected.size}")

    // the hazards this gate exists to pin, each provably present:
    // 1. late rows that WOULD have extended an already-emitted session
    //    are dropped (their initial window overlaps the closed span)
    val extendsClosed = droppedLate.exists { case (u, _, us) =>
      e1.exists { case (eu, st, en, _) => eu == u && us + g > st && us < en }
    }
    assert(droppedLate.nonEmpty, "no late rows — vacuous")
    assert(extendsClosed, "no dropped row would have extended a closed session")
    // 2. a late SURVIVOR near a closed session starts a NEW session
    //    (visible: emitted at batch 2, overlapping the closed span)
    val reopenVisible = e2.exists { case (u, st, en, _) =>
      e1.exists { case (eu, st1, en1, _) => eu == u && st < en1 && st1 < en }
    }
    assert(reopenVisible, "no batch-2 session overlaps a closed one — reopen hazard untested")
    // 3. both batches emit, and some sessions never close (live at end)
    assert(e1.nonEmpty && e2.nonEmpty, "an eviction batch is vacuous")
    assert(s2.exists(_._3 > w1us), "no session survives to stream end")
  }

  test("checkpoint restart resumes from offsets without double counting") {
    import spark.implicits._
    val inDir = ScratchDirs.create("graft-in").toString
    val ckpt = ScratchDirs.create("graft-ck").toString

    // wave 1: rows 0-49
    (0 until 50).map(i => i.toString).toDF("value")
      .coalesce(1).write.mode("append").json(inDir)
    val schema = org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.StringType)))
    def startQuery() = spark.readStream.schema(schema).json(inDir)
      .groupBy().agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("restart_test").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()

    val q1 = startQuery(); q1.awaitTermination()
    assert(spark.table("restart_test").head.getLong(0) == 50L)

    // wave 2: 30 more rows, then restart from the same checkpoint
    (0 until 30).map(i => i.toString).toDF("value")
      .coalesce(1).write.mode("append").json(inDir)
    val q2 = startQuery(); q2.awaitTermination()
    assert(spark.table("restart_test").head.getLong(0) == 80L, "restart lost or double-counted rows")
  }

  test("restart under load at sf0.1: kill after batch k, resume, landed set equals the uninterrupted run") {
    // the at-least-once discipline argued per-gate (the file sink's
    // _spark_metadata commit log turns replays into exactly-once
    // reads) exercised by an ACTUAL mid-corpus kill: the sf0.1 events
    // corpus arrives as 24 micro-batches through the stateful dedup
    // lineage; the victim run is stopped after its 3rd commit and
    // restarted from the same checkpoint (offset log + dedup state
    // store both resume)
    val sf01 = "/root/testdata/sf0.1"
    val inDir = ScratchDirs.create("graft-restart-in").toString
    graft.sources.Tables(spark, sf01, "events")
      .repartition(24)
      .write.mode("overwrite")
      .parquet(s"$inDir/events.parquet")
    def stream() = graft.streaming.StreamingQueries.streamDedupChunked(spark, inDir, 1)
    def start(out: String, ckpt: String, name: String) = stream().writeStream
      .queryName(name)
      .outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()

    // the uninterrupted reference run
    val outRef = ScratchDirs.create("graft-restart-ref").toString + "/out"
    start(outRef, ScratchDirs.create("graft-restart-refck").toString, "restart_ref")
      .awaitTermination()

    // the victim run: an event-driven kill at the 3rd data-bearing
    // commit (a sleep-poll alone races a fast drain — r10 review);
    // the poll below is only the backstop for a lost listener event
    val outV = ScratchDirs.create("graft-restart-v").toString + "/out"
    val ckptV = ScratchDirs.create("graft-restart-vck").toString
    val commits = new java.util.concurrent.atomic.AtomicInteger(0)
    val killer = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == "restart_victim" && e.progress.numInputRows > 0
          && commits.incrementAndGet() == 3)
          spark.streams.active.find(_.name == "restart_victim").foreach(_.stop())
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(killer)
    val q1 =
      try {
        val q = start(outV, ckptV, "restart_victim")
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (q.isActive && q.recentProgress.count(_.numInputRows > 0) < 3
          && System.nanoTime() < deadline) Thread.sleep(10)
        if (q.isActive) q.stop()
        q.awaitTermination()
        q
      } finally spark.streams.removeListener(killer)
    val rowsSeen = q1.recentProgress.map(_.numInputRows).sum
    assert(rowsSeen >= 1 && rowsSeen < 100000L,
      s"kill must land mid-corpus, saw $rowsSeen of 100000 rows")

    // resume from the same checkpoint and drain the rest
    start(outV, ckptV, "restart_resume").awaitTermination()

    val ref = spark.read.parquet(outRef).collect().map(r => (r.getLong(0), r.getString(1)))
    val victim = spark.read.parquet(outV).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(victim.length == victim.toSet.size, "restart replayed a committed batch into the sink")
    assert(victim.toSet == ref.toSet, "killed+resumed landed set diverged from the uninterrupted run")
    // and both equal the batch DISTINCT truth
    val truth = graft.sources.Tables(spark, sf01, "events")
      .select(col("user_id"), col("event_type")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ref.toSet == truth)
  }

  test("stream-static broadcast enrichment join (J1) attaches candidate dims") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val candidates = Seq(
      ("c1", "Alice", "Party A"),
      ("c2", "Bob", "Party B"),
    ).toDF("candidate_id", "candidate_name", "party_affiliation")

    val stream = MemoryStream[String]
    stream.addData("""{"voter_id":"v1","candidate_id":"c1"}""", """{"voter_id":"v2","candidate_id":"c2"}""",
      """{"voter_id":"v3","candidate_id":"c1"}""")
    val parsed = stream.toDF()
      .select(from_json(col("value"),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("voter_id", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("candidate_id", org.apache.spark.sql.types.StringType),
        ))).as("d"))
      .select("d.*")
    val enriched = VotingOps.enrichWithDimension(parsed, candidates, Seq("candidate_id"))
      .groupBy("party_affiliation").count()
    val (q, cap) = VotePipeline.startCaptureQuery(enriched, "enrich_test")
    q.processAllAvailable(); q.stop()
    val fin = cap.latest(spark, Seq("party_affiliation"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fin == Map("Party A" -> 2L, "Party B" -> 1L))
  }

  def voterJson(id: Int, state: String): String =
    s"""{"voter_id":"v$id","voter_name":"Voter $id","address":{"street":"s","city":"c","state":"$state","country":"US","postcode":"p"},"registered_age":30}"""

  def voteJson(id: Int, state: String, cand: Int): String =
    voterJson(id, state).dropRight(1) +
      s""","candidate_id":"c$cand","candidate_name":"Cand $cand","party_affiliation":"P$cand","photo_url":"u$cand","voting_time":"2024-10-24 12:00:00","vote":1}"""

  test("single-pass fan-out: one source read feeds both aggregations with correct totals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val parsed = VotePipeline.parsedStream(stream.toDF().select($"value"))
    // the batch-id contract: partials are stored KEYED BY BATCH ID and
    // replaced per delivery, so an at-least-once re-delivery of a
    // batch cannot double-count (totals are the sum over batch ids)
    val votesAcc = scala.collection.mutable.Map.empty[Long, Map[String, Long]]
    val turnoutAcc = scala.collection.mutable.Map.empty[Long, Map[String, Long]]
    var writeCalls = 0
    val q = VotePipeline.startFanOut(
      parsed,
      (votes, batchId) => {
        writeCalls += 1
        votesAcc(batchId) = votes.collect().map { r =>
          val k = Option(r.getAs[String]("candidate_id")).getOrElse("null")
          val v = if (r.isNullAt(r.fieldIndex("total_votes"))) 0L else r.getAs[Long]("total_votes")
          k -> v
        }.toMap
      },
      (turnout, batchId) => turnoutAcc(batchId) =
        turnout.collect().map(r => r.getAs[String]("state") -> r.getAs[Long]("count")).toMap,
    )
    stream.addData(voteJson(1, "Illinois", 1), voteJson(2, "Ohio", 1))
    q.processAllAvailable()
    stream.addData(voteJson(3, "Illinois", 2), voterJson(4, "Illinois"))
    q.processAllAvailable()
    q.stop()
    def total(acc: scala.collection.mutable.Map[Long, Map[String, Long]], k: String): Long =
      acc.values.map(_.getOrElse(k, 0L)).sum
    // per-batch partials summed across batch ids = whole-stream totals
    assert(total(votesAcc, "c1") == 2L && total(votesAcc, "c2") == 1L)
    assert(total(turnoutAcc, "Illinois") == 3L && total(turnoutAcc, "Ohio") == 1L)
    // simulate the at-least-once retry: re-delivering batch 0's
    // partials under the same batch id REPLACES, so totals are stable
    val batch0Votes = votesAcc(0L)
    votesAcc(0L) = batch0Votes // keyed upsert, as the contract requires
    assert(total(votesAcc, "c1") == 2L, "retried batch must not double-count")
    assert(writeCalls == votesAcc.size, s"one votes write per distinct batch id, got $writeCalls")
  }

  test("stream gate bundle yields empty typed results when the source has no files to stream") {
    import spark.implicits._
    val dir = ScratchDirs.create("graft-empty-corpus").toString
    // corpus layout with batch-readable tables; the streaming glob
    // (events.parquet / embeddings.parquet as FILES) matches nothing,
    // so every bundle query runs ZERO micro-batches — the
    // schema-never-captured edge
    Seq((1L, 1L)).toDF("c_custkey", "c_nationkey")
      .write.parquet(s"$dir/customer.parquet")
    Seq((1L, "A")).toDF("n_nationkey", "n_name")
      .write.parquet(s"$dir/nation.parquet")
    Seq((1L, Array(1.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val votes = graft.streaming.StreamGate.votesPerCandidate(spark, dir)
    assert(votes.count() == 0)
    assert(votes.schema.fieldNames.toSeq == Seq("event_type", "total_votes", "n_events"))
    val turnout = graft.streaming.StreamGate.turnoutByLocation(spark, dir)
    assert(turnout.count() == 0)
    assert(graft.streaming.StreamGate.votesWindowed(spark, dir).count() == 0)
    assert(graft.streaming.StreamGate.similarityTopK(spark, dir).count() == 0)
    // the PRODUCTION sink path must survive the same edge: a
    // zero-batch AvailableNow run leaves only the sink's metadata dir
    // and the schema'd read-back must yield an empty typed relation,
    // not a path/inference error
    val ijOut = ScratchDirs.create("graft-empty-ij").toString + "/out"
    val ijSink = graft.streaming.StreamingQueries.intervalJoinViaSink(spark, dir, ijOut)
    assert(ijSink.count() == 0)
    assert(ijSink.schema.fieldNames.toSeq == Seq("event_a", "event_b", "type_a", "type_b"))
    val simOut = ScratchDirs.create("graft-empty-sim").toString + "/out"
    assert(graft.streaming.StreamingQueries.similarityTopKViaSink(spark, dir, simOut).count() == 0)
  }

  test("stream gate bundle runs green on the RocksDB state store with identical results") {
    val dir = "/root/testdata/sf0.001"
    val gate = graft.streaming.StreamGate
    // default-provider results (memoized or fresh)
    val votesDefault = gate.votesPerCandidate(spark, dir).collect().toSet
    val windowedDefault = gate.votesWindowed(spark, dir).collect().toSet
    val joinDefault = gate.intervalJoin(spark, dir).collect().toSet
    // re-run the WHOLE bundle — including the stateful windowed
    // aggregation and the stream-stream interval join — on the
    // production state-store provider (disk-bounded state at 100 TB)
    gate.invalidate()
    VotePipeline.useRocksDbStateStore(spark)
    try {
      assert(gate.votesPerCandidate(spark, dir).collect().toSet == votesDefault)
      assert(gate.votesWindowed(spark, dir).collect().toSet == windowedDefault)
      assert(gate.intervalJoin(spark, dir).collect().toSet == joinDefault)
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      gate.invalidate()
    }
  }

  test("production parquet-sink append path equals the driver-capture gate path") {
    val dir = "/root/testdata/sf0.001"
    // interval join: appends written to a distributed parquet sink and
    // read back — must equal the bundle's foreachBatch-capture variant
    val ijOut = ScratchDirs.create("graft-sink-ij").toString + "/out"
    val ijSink = graft.streaming.StreamingQueries.intervalJoinViaSink(spark, dir, ijOut)
    val ijGate = graft.streaming.StreamGate.intervalJoin(spark, dir)
    assert(ijSink.count() == ijGate.count(), "sink path lost or duplicated appended rows")
    assert(
      ijSink.except(ijGate).isEmpty && ijGate.except(ijSink).isEmpty,
      "sink-path interval join diverged from the capture-path gate",
    )
    // similarity: sink-table rank via the bounded TopKAggregator must
    // equal the gate's post-completion window rank
    val simOut = ScratchDirs.create("graft-sink-sim").toString + "/out"
    val simSink = graft.streaming.StreamingQueries.similarityTopKViaSink(spark, dir, simOut)
    val simGate = graft.streaming.StreamGate.similarityTopK(spark, dir)
    assert(
      simSink.except(simGate).isEmpty && simGate.except(simSink).isEmpty,
      "sink-path similarity top-k diverged from the capture-path gate",
    )
  }

  test("streaming dedup through the parquet sink yields exactly the batch distinct key set") {
    val dir = "/root/testdata/sf0.001"
    val out = ScratchDirs.create("graft-sink-dd").toString + "/out"
    val sunk = graft.streaming.StreamingQueries.streamDedupViaSink(spark, dir, out)
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .select("user_id", "event_type")
      .distinct()
    assert(sunk.count() == batch.count(), "streaming dedup emitted a key more or less than once")
    assert(
      sunk.except(batch).isEmpty && batch.except(sunk).isEmpty,
      "streaming dedup key set diverged from batch DISTINCT",
    )
  }

  test("streaming incremental dedup equals the old×new slice of the batch incremental pairs") {
    // banding is order-independent, so the ingest-time stream-static
    // probe must land EXACTLY what the batch incremental pipeline
    // computes for pairs whose old side predates the cutoff —
    // micro-batch boundaries, arrival order, and multi-band
    // collisions must all be invisible in the landed set
    val dir = "/root/testdata/sf0.01"
    val streamed = graft.streaming.StreamingQueries.incrementalDedupViaSink(spark, dir)
    val cutoff = graft.operators.Dedup.incrementCutoff(spark, dir)
    val batch = graft.operators.Dedup
      .minhashIncrementalPairs(spark, dir)
      .filter(col("doc_a") <= cutoff)
    // collected-set compare: exceptAll across the sink read-back and
    // the batch lineage trips a Spark attribute-binding internal
    // error (the frames share the documents relation); the sets are
    // gate-output sized, so a driver compare is the honest pin
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long, Double)] =
      df.select("doc_a", "doc_b", "n_common", "n_union", "jaccard")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .toSet
    val sa = rows(streamed)
    val sb = rows(batch)
    assert(sa.nonEmpty, "driver corpus has old×new near-dup pairs")
    assert(sa == sb, s"streamed probe diverged from the batch old×new slice: ${sa.diff(sb)} / ${sb.diff(sa)}")
  }

  test("ingest-time PQ encode lands the exact batch codes artifact") {
    // the encode is row-wise against a fixed broadcast codebook, so
    // micro-batch boundaries and arrival order must be invisible:
    // the landed index table is row-identical to the batch artifact
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingQueries.pqEncodeViaSink(spark, dir)
    val batch = graft.operators.PqIndex.codesTable(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Int, Int, Int, Double)] =
      df.select("vec_id", "c0", "c1", "c2", "c3", "nrm")
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getDouble(5)))
        .toSet
    val sa = rows(streamed)
    val sb = rows(batch)
    assert(sa.nonEmpty && sa == sb, s"streamed codes diverged: ${sa.diff(sb).take(3)} / ${sb.diff(sa).take(3)}")
  }

  test("ingest-time edit probe lands exactly the batch edit-ratio old×new slice") {
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val cutoff = 9 * spark.read.parquet(s"$dir/documents.parquet")
      .agg(max("doc_id")).head.getLong(0) / 10
    val streamed = graft.streaming.StreamingQueries.editProbeViaSink(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val batch = graft.operators.Dedup.editRatioPairs(spark, dir)
      .filter(col("doc_a") <= cutoff && col("doc_b") > cutoff).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(streamed == batch,
      s"probe diverged: ${streamed.diff(batch).take(3)} / ${batch.diff(streamed).take(3)}")
  }

  test("ingest-time LM scoring equals an in-memory recompute and exercises the OOV path") {
    // the stored-era per-lang bigram LM scores every arriving doc;
    // a bigram the stored LM never saw contributes exactly 0
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val docsArr = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ", -1).toSeq))
    val cutoff = 9 * docsArr.map(_._1).max / 10
    val oldGrams = docsArr
      .filter(d => d._1 <= cutoff && d._3.length >= 2)
      .flatMap { case (_, lang, ts) => ts.sliding(2).map(p => (lang, p(0), p(1))) }
    val cntLr = oldGrams.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cntL = oldGrams.groupBy(g => (g._1, g._2)).view.mapValues(_.size.toLong).toMap
    val expected = docsArr
      .filter(d => d._1 > cutoff && d._3.length >= 2)
      .map { case (id, lang, ts) =>
        val qs = ts.sliding(2).toSeq.map { p =>
          cntLr.get((lang, p(0), p(1))) match {
            case Some(n) => 1000000L * n / cntL((lang, p(0)))
            case None => 0L
          }
        }
        id -> (qs.size.toLong, qs.sum / qs.size)
      }
      .toMap
    val got = graft.streaming.StreamingQueries.lmScoreViaSink(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected, "landed LM scores diverge from the in-memory recompute")
    // OOV is exercised: some arriving doc carries a bigram the stored
    // LM never saw (otherwise the left-join zero path is untested)
    val oovExercised = docsArr.exists { case (id, lang, ts) =>
      id > cutoff && ts.length >= 2 && ts.sliding(2).exists(p => !cntLr.contains((lang, p(0), p(1))))
    }
    assert(oovExercised, "no OOV bigram in the increment — the zero path is untested")
  }

  test("ingest-time winnow probe lands exactly the batch old×new winnow slice") {
    // micro-batch boundaries and arrival order must be invisible: a
    // fingerprint hit lands or it doesn't, independent of batching,
    // and the read-back's count(DISTINCT fp) absorbs any
    // at-least-once replays
    val dir = "/root/testdata/sf0.01"
    val streamed = graft.streaming.StreamingQueries.winnowProbeViaSink(spark, dir)
    // batch twin: the same index/probe split computed without a stream
    val cutoff = graft.operators.Dedup.incrementCutoff(spark, dir)
    import graft.functions.Let.bindArray
    def fps(filter: org.apache.spark.sql.Column, idCol: String, nCol: String) =
      graft.sources.Tables(spark, dir, "documents")
        .filter(filter)
        .select(
          col("doc_id").as(idCol),
          explode(bindArray(
            graft.operators.TextAnalysis.winnowedFingerprints(col("text"))) { a =>
            transform(a, x => struct(x.as("fp"), size(a).cast("long").as(nCol)))
          }).as("z"),
        )
        .select(col(idCol), col("z.fp").as("fp"), col(s"z.$nCol").as(nCol))
    val old = fps(col("doc_id") <= cutoff, "doc_a", "n_a")
    val df50 = old.groupBy("fp").agg(count(lit(1)).as("df")).filter(col("df") <= 50).select("fp")
    val batch = fps(col("doc_id") > cutoff, "doc_b", "n_b")
      .join(old.join(df50, "fp"), Seq("fp"))
      .groupBy("doc_a", "n_a", "doc_b", "n_b")
      .agg(count_distinct(col("fp")).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        expr("(1000000 * n_shared) div least(n_a, n_b)").cast("long").as("overlap_x1e6"))
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val sa = rows(streamed)
    val sb = rows(batch)
    assert(sa.nonEmpty, "driver corpus has old×new winnow matches")
    assert(sa == sb, s"streamed probe diverged: ${sa.diff(sb)} / ${sb.diff(sa)}")
  }

  test("streaming quality router partitions the corpus: keep sink == batch rule, keep ∪ reject = all") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val out = ScratchDirs.create("graft-sink-route").toString
    val keep = graft.streaming.StreamingQueries.qualityRouteViaSink(spark, dir, out)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val expectedKeep = docs
      .filter(graft.operators.TextAnalysis.gopherKeep(col("text")))
      .select("doc_id", "source")
    assert(
      keep.except(expectedKeep).isEmpty && expectedKeep.except(keep).isEmpty,
      "keep sink diverged from the batch filter",
    )
    // reject sink holds exactly the complement — one pass covered
    // every doc exactly once
    val reject = spark.read
      .schema(keep.schema)
      .parquet(new java.io.File(s"$out/reject").listFiles().filter(_.isDirectory).map(_.getPath).toIndexedSeq: _*)
    assert(keep.count() + reject.count() == docs.count())
    assert(keep.join(reject, Seq("doc_id"), "inner").isEmpty, "a doc reached both sinks")
  }

  test("quality router quarantines NULL-text docs on the reject side (nothing dropped)") {
    import spark.implicits._
    val dir = ScratchDirs.create("graft-null-docs").toString
    // the corpus must be a single FILE named documents.parquet (like
    // the driver testdata): the streaming source's pathGlobFilter
    // matches leaf file names, not directory names
    val stage = ScratchDirs.create("graft-null-stage").toString
    Seq[(Long, Option[String], String, String, Long)](
      // 30 tokens, mean length 4.1, stopwords {the, a}: passes all rules
      (0L, Some(("the quick brown fox jumps over a lazy sleeping dog " * 3).trim), "web", "en", 152L),
      (1L, None, "web", "en", 0L),                                  // NULL text → NULL predicate
      (2L, Some("tiny"), "web", "en", 4L),                          // fails too-short
    ).toDF("doc_id", "text", "source", "lang", "n_chars")
      .coalesce(1)
      .write.parquet(s"$stage/w")
    val part = new java.io.File(s"$stage/w").listFiles()
      .find(f => f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/documents.parquet"))
    val out = ScratchDirs.create("graft-null-route").toString
    val keep = graft.streaming.StreamingQueries.qualityRouteViaSink(spark, dir, out)
    val reject = spark.read
      .schema(keep.schema)
      .parquet(new java.io.File(s"$out/reject").listFiles().filter(_.isDirectory).map(_.getPath).toIndexedSeq: _*)
    assert(keep.collect().map(_.getLong(0)).toSet == Set(0L))
    assert(reject.collect().map(_.getLong(0)).toSet == Set(1L, 2L), "NULL text must land in quarantine")
  }

  test("stream-stream interval join matches across out-of-order micro-batches") {
    import spark.implicits._
    // user 1: three events at t0, t0+2m, t0+20m — pairs within the
    // 5-minute window: (10,11) only. user 2: one pair (20,21) at 3m
    // apart, delivered OUT OF ORDER and split across micro-batches.
    val t0 = 1700000000000L
    def ev(id: Long, user: Long, offsetMin: Double) =
      (id, user, new Timestamp(t0 + (offsetMin * 60000).toLong))

    implicit val sqlCtx = spark.sqlContext
    val left = MemoryStream[(Long, Long, Timestamp)]
    val right = MemoryStream[(Long, Long, Timestamp)]
    val a = left.toDF.toDF("event_a", "ua", "ts_a").withWatermark("ts_a", "10 minutes")
    val b = right.toDF.toDF("event_b", "ub", "ts_b").withWatermark("ts_b", "10 minutes")
    val joined = a
      .join(
        b,
        col("ua") === col("ub") &&
          col("ts_b") > col("ts_a") &&
          col("ts_b") <= col("ts_a") + expr("interval 5 minutes"),
      )
      .select("event_a", "event_b")

    val got = scala.collection.mutable.LinkedHashMap.empty[Long, Array[(Long, Long)]]
    val q = joined.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val rows = batch.collect().map(r => (r.getLong(0), r.getLong(1)))
        got.synchronized { got(id) = rows; () }
      }
      .start()

    // batch 1: user 2's LATER event arrives on the right first; user
    // 1's base events on the left
    left.addData(ev(10L, 1L, 0), ev(11L, 1L, 2), ev(12L, 1L, 20))
    right.addData(ev(21L, 2L, 3))
    q.processAllAvailable()
    // batch 2: the out-of-order earlier sides arrive
    left.addData(ev(20L, 2L, 0))
    right.addData(ev(11L, 1L, 2), ev(10L, 1L, 0), ev(12L, 1L, 20), ev(20L, 2L, 0))
    q.processAllAvailable()
    q.stop()

    val pairs = got.values.flatten.toSet
    assert(pairs == Set((10L, 11L), (20L, 21L)), s"got $pairs")
  }

  test("batch session_window agrees with gaps-and-islands sessionization on real events") {
    import spark.implicits._
    val events = graft.sources.Tables(spark, "/root/testdata/sf0.001", "events")
    val viaSessionWindow = events
      .groupBy(session_window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"), col("n_events"))
    val viaIslands = graft.operators.RelationalQueries
      .userSessions(spark, "/root/testdata/sf0.001")
      .select(
        col("user_id"),
        expr("timestamp_micros(session_start_us)").as("session_start"),
        col("n_events"),
      )
    // identical sessions unless some inter-event delta equals the gap
    // exactly (session_window merges at delta <= gap; islands split at
    // delta > gap -> same boundary); pin the agreement on this corpus
    assert(
      viaSessionWindow.exceptAll(viaIslands).isEmpty &&
        viaIslands.exceptAll(viaSessionWindow).isEmpty,
      "session_window and gaps-and-islands disagree",
    )
  }

  test("built-in session windows merge events within the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Sessionize.SessionEvent]
    def ev(u: Long, min: Int, sec: Int, v: Double) =
      Sessionize.SessionEvent(u, Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d"), v)
    // user 1: two events 5s apart (one session), then one 50s later
    // (second session); session windows only support append mode, so
    // a far-future event must advance the watermark to flush them
    stream.addData(ev(1, 0, 0, 1.0), ev(1, 0, 5, 2.0), ev(1, 0, 50, 3.0))
    val agg = Sessionize.sessionWindowAgg(stream.toDF(), "10 seconds")
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("sess_builtin")
      .option("checkpointLocation", ScratchDirs.create("graft-sb").toString)
      .start()
    q.processAllAvailable()
    stream.addData(ev(9, 30, 0, 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sess_builtin")
      .filter(col("user_id") === 1).orderBy("session_start").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("n_events") == 2L)
    assert(rows(1).getAs[Long]("n_events") == 1L)
  }

  test("flatMapGroupsWithState closes sessions at watermark + gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Sessionize.SessionEvent]
    val out = Sessionize.sessions(stream.toDS(), gapMs = 10000)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sess_custom")
      .option("checkpointLocation", ScratchDirs.create("graft-sess").toString)
      .start()

    def ev(u: Long, min: Int, sec: Int, v: Double) =
      Sessionize.SessionEvent(u, Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d"), v)
    // session: 3 events within gap
    stream.addData(ev(1, 0, 0, 1.0), ev(1, 0, 4, 2.0), ev(1, 0, 8, 4.0))
    q.processAllAvailable()
    // far-future event advances the watermark past 10:00:08 + 10s → closes it
    stream.addData(ev(2, 10, 0, 9.0))
    q.processAllAvailable()
    stream.addData(ev(2, 20, 0, 1.0))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("sess_custom").orderBy("session_start").collect()
    assert(sessions.length >= 1, "no session closed")
    val s0 = sessions.head
    assert(s0.getAs[Long]("user_id") == 1L)
    assert(s0.getAs[Int]("n_events") == 3)
    assert(s0.getAs[Double]("total_value") == 7.0)
  }

  test("windowed aggregation with watermark drops too-late events in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Sessionize.SessionEvent]
    val agg = stream.toDF()
      .withWatermark("ts", "5 seconds")
      .groupBy(window(col("ts"), "10 seconds"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("late_test")
      .option("checkpointLocation", ScratchDirs.create("graft-late").toString)
      .start()
    def at(sec: Int) = Timestamp.valueOf(f"2024-01-01 10:${sec / 60}%02d:${sec % 60}%02d")
    stream.addData(Sessionize.SessionEvent(1, at(1), 1.0), Sessionize.SessionEvent(1, at(2), 1.0))
    q.processAllAvailable()
    // advance watermark far past the first window
    stream.addData(Sessionize.SessionEvent(2, at(120), 1.0))
    q.processAllAvailable()
    // this event is now older than the watermark → dropped
    stream.addData(Sessionize.SessionEvent(1, at(3), 1.0))
    q.processAllAvailable()
    stream.addData(Sessionize.SessionEvent(2, at(240), 1.0))
    q.processAllAvailable()
    q.stop()
    val w0 = spark.table("late_test")
      .filter(col("user_id") === 1).agg(sum("n")).head.getLong(0)
    assert(w0 == 2L, s"late event was not dropped (got $w0 events in user 1 windows)")
  }

  test("transition tracker chains per-user state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Transitions
    val stream = MemoryStream[Transitions.Ev]
    val out = Transitions.track(stream.toDS())
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("trans_test")
      .option("checkpointLocation", ScratchDirs.create("graft-trans").toString)
      .start()
    // batch 1: user 1 rows arrive OUT of order inside the batch (the
    // tracker must sort by (us, event_id) before chaining); user 2
    // gets a lone event whose transition can only close in batch 2
    stream.addData(
      Transitions.Ev(1L, 2L, 200L, "click"),
      Transitions.Ev(1L, 1L, 100L, "signup"),
      Transitions.Ev(2L, 10L, 100L, "signup"),
    )
    q.processAllAvailable()
    // batch 2: the cross-batch pairs close against carried state
    stream.addData(
      Transitions.Ev(1L, 3L, 300L, "purchase"),
      Transitions.Ev(2L, 11L, 400L, "click"),
    )
    q.processAllAvailable()
    q.stop()
    val got = spark.table("trans_test")
      .select("user_id", "prev_type", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val want = Set(
      (1L, "signup", "click"),
      (1L, "click", "purchase"),
      (2L, "signup", "click"),
    )
    assert(got == want, s"transition multiset diverged: $got")
  }
}
