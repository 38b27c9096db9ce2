package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.sources.Tables

/** `catalog`: a fixed sample of the `SparkEntry.queries` gates, one or
  * more from every operator module and both streaming gate families,
  * run in passes over a corpus the program's own `ScaleCorpus`
  * generates at scale factor [[Sf]]. A pass runs the gates in the
  * order `SparkEntry` lists them. The corpus is the program's own
  * fixed one and the gates' outputs are pinned, so the seed changes
  * nothing here: a seeded order would move shared artifact builds
  * from gate to gate and so the median gate time from seed to seed.
  *
  * Each pass starts from one reset through the ten public
  * `invalidate()` calls; shared artifacts are then paid by the first
  * gate that needs them, as a user of the catalog would pay them. Here
  * the operator modules, the memoised artifacts and Spark's job
  * scheduling do nearly all the work, and the vote pipeline none.
  *
  * An operation is one gate call, timed until its rows are collected.
  * Each gate's rows must match the digest pinned in
  * `catalog_digests.tsv`.
  */
object Catalog extends Workload {

  val Sf = 0.001

  /** Gate → the module whose code it runs (per-layer attribution), in
    * the order `SparkEntry.queries` lists them.
    */
  val Gates: Seq[(String, String)] = Seq(
    "votes_per_candidate" -> "RelationalQueries",
    "q2_mincost_supplier" -> "RelationalQueries",
    "zorder_locality" -> "other",
    "stream_votes_per_candidate" -> "StreamGate",
    "privacy_k_anonymity" -> "Privacy",
    "bm25_search" -> "TextAnalysis",
    "stream_quarantine" -> "StreamingQueries",
    "dedup_exact" -> "Dedup",
    "graph_triangles" -> "GraphOps",
    "similarity_topk" -> "Similarity",
    "similarity_pq_adc" -> "PqIndex",
    "ivf_assign" -> "IvfIndex",
    "sample_weighted_mix" -> "Sampling",
    "multimodal_phash_keep" -> "Multimodal",
  )

  private def layerOf(module: String): String =
    if (module.startsWith("Stream")) "streaming" else "operators"

  private def metricOf(module: String): String =
    if (module.startsWith("Stream")) s"streaming.$module.s" else s"operators.$module.s"

  /** The pinned digests sit next to this workload's sources. */
  val DigestFile = new File("perfbench/catalog_digests.tsv")

  private var tablesLoadS = 0.0
  private var sweep: ScratchSweep = _
  private var warm = false

  def corpus(cfg: RunConfig): File = new File(cfg.work, s"corpus-sf$Sf")

  def setup(spark: SparkSession, cfg: RunConfig): Unit = {
    sweep = new ScratchSweep
    seenLeaks.clear()
    warm = false
    Host.resetArtifacts()
    graft.tools.ScaleCorpus.writeAll(spark, Sf, corpus(cfg).getAbsolutePath)
    val t0 = System.nanoTime()
    Tables.names.foreach(t => Tables(spark, corpus(cfg).getAbsolutePath, t))
    tablesLoadS = Stats.secondsSince(t0)
    Host.resetArtifacts()
  }

  override def setupLayers: Map[String, Metric] =
    Map("sources.tables_load_s" -> Metric(tablesLoadS, "s"))

  private final case class Call(gate: String, pass: Int, seconds: Double, digest: Option[String])

  def measure(spark: SparkSession, cfg: RunConfig, trace: Option[TraceCtx]): Window = {
    val dir = corpus(cfg).getAbsolutePath
    val queries = SparkEntry.queries
    // one untimed pass first: a cold JVM runs the first pass about
    // 1.7x slower, and a long-lived catalog session pays that once
    if (!warm) {
      val w0 = System.nanoTime()
      resetAndGuard(spark)
      Gates.foreach { case (gate, _) => queries(gate)(spark, dir).collect() }
      System.err.println(f"[perfbench] catalog warm-up pass: ${Stats.secondsSince(w0)}%.2f s")
      System.gc()
      warm = true
    }
    val calls = Seq.newBuilder[Call]
    val passSeconds = Seq.newBuilder[Double]
    val t0 = System.nanoTime()
    var pass = 0
    var leaked = 0
    var liveMb = 0.0
    while (pass == 0 || Stats.secondsSince(t0) < cfg.seconds) {
      leaked = resetAndGuard(spark)
      val p0 = System.nanoTime()
      Gates.foreach { case (gate, module) =>
        def run() = queries(gate)(spark, dir).collect()
        val g0 = System.nanoTime()
        val rows: Option[Array[Row]] =
          try Some(trace match {
            case Some(t) => t.span(spark, s"gate:$gate", layerOf(module), s"gate:$gate#$pass")(run())
            case None => run()
          })
          catch {
            case e: Exception =>
              System.err.println(s"[perfbench] gate $gate failed: $e")
              None
          }
        val seconds = Stats.secondsSince(g0)
        calls += Call(gate, pass, seconds, rows.map(digest))
      }
      val passS = Stats.secondsSince(p0)
      passSeconds += passS
      // what one pass left live, before the next reset releases it; the
      // first pass only, as the number of passes follows host speed
      if (pass == 0) liveMb = Host.liveMemMb()
      System.err.println(f"[perfbench] catalog pass $pass: $passS%.2f s; " +
        calls.result().filter(_.pass == pass).map(c => f"${c.gate} ${c.seconds}%.2f").mkString(", "))
      pass += 1
    }
    val all = calls.result()
    val pinned = readDigests()
    val wrong = all.filter(c => !c.digest.exists(d => pinned.get(c.gate).contains(d)))
    wrong.foreach(c => System.err.println(
      s"[perfbench] gate ${c.gate} (pass ${c.pass}): digest ${c.digest.getOrElse("<failed>")}, " +
        s"pinned ${pinned.getOrElse(c.gate, "<none>")}"))
    DigestsOut.record(all.flatMap(c => c.digest.map(c.gate -> _)))

    val passes = passSeconds.result()
    val modules = Gates.toMap
    Window(
      attempted = all.size,
      failed = wrong.size,
      latenciesMs = all.map(_.seconds * 1000),
      throughput = all.size / passes.sum,
      headline = Stats.median(passes),
      liveMemMb = liveMb,
      layers = (Layers.OperatorModules.map(m => s"operators.$m.s") ++
        Seq("streaming.StreamGate.s", "streaming.StreamingQueries.s")).map(_ -> Metric(0.0, "s")).toMap ++
        all.groupBy(c => metricOf(modules(c.gate))).map { case (k, cs) => k -> Metric(cs.map(_.seconds).sum, "s") } ++
        Map("util.leaked_checkpoints" -> Metric(leaked.toDouble, "count")),
      // the stream gates' micro-batches belong to the gate call running then
      batchParent = trace.map { t =>
        val spans = t.tracer.all.filter(_.name.startsWith("gate:"))
        (startUs: Long) =>
          spans.find(s => s.startUs <= startUs && startUs <= s.endUs)
            .map(s => (s.id, s.req)).getOrElse((t.windowSpan, ""))
      },
    )
  }

  /** Reset every memoised artifact and remove the scratch of the pass
    * before, then fail unless nothing a pass could ride on is left: no
    * persisted RDD and no staged stream input.
    *
    * One exception is allowed and counted, because the program leaks
    * it: `Multimodal.perceptualNearDupPairs` makes one local checkpoint
    * per build that the reset does not release, and never reads it
    * again (the next build makes a new one). Only a local checkpoint
    * created in `Multimodal.scala` is let through, and at most one new
    * one since the last reset, as the catalog runs that build once per
    * pass. Returns the number of such leaked checkpoints, reported as
    * `util.leaked_checkpoints`.
    */
  private def resetAndGuard(spark: SparkSession): Int = {
    Host.resetArtifacts()
    sweep.sweep()
    val (leaked, persisted) = spark.sparkContext.getPersistentRDDs.values.toSeq.partition(isKnownLeak)
    require(persisted.isEmpty,
      s"reset left ${persisted.size} persisted RDDs: ${persisted.map(_.toDebugString).mkString("; ")}")
    val fresh = leaked.filterNot(r => seenLeaks.contains(r.id))
    require(fresh.size <= 1,
      s"reset left ${fresh.size} new local checkpoints from $LeakSite, more than one per pass: ${fresh.mkString("; ")}")
    seenLeaks ++= fresh.map(_.id)
    val staged = sweep.created()
    require(staged.isEmpty, s"reset left program scratch from an earlier pass: ${staged.mkString(", ")}")
    if (leaked.nonEmpty)
      System.err.println(s"[perfbench] reset left ${leaked.size} local checkpoints persisted (leaked): " +
        leaked.mkString("; "))
    leaked.size
  }

  /** Source file of the one local checkpoint the program is known to
    * leak; an RDD's string form ends with its creation site.
    */
  private val LeakSite = "Multimodal.scala"
  private val seenLeaks = scala.collection.mutable.Set.empty[Int]

  private def isKnownLeak(r: RDD[_]): Boolean =
    r.isCheckpointed && r.getCheckpointFile.isEmpty && r.toString.contains(LeakSite)

  /** Order-insensitive, duplicate-counting digest of a result: the row
    * count and the sum (mod 2^64) of the first 64 bits of each row's
    * MD5, over the row's string form.
    */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val h = md.digest(r.toString.getBytes(StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(h).getLong
    }
    f"${rows.length}:$sum%016x"
  }

  def readDigests(): Map[String, String] =
    if (!DigestFile.exists()) Map.empty
    else scala.io.Source.fromFile(DigestFile, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> a(1)).toMap
}

/** The digests a run saw, written out when `--pin-digests` asks for
  * them (to pin a verified run's outputs).
  */
object DigestsOut {
  @volatile var target: Option[File] = None

  def record(digests: Seq[(String, String)]): Unit = target.foreach { f =>
    val byGate = digests.groupBy(_._1).map { case (g, ds) =>
      val distinct = ds.map(_._2).distinct
      require(distinct.size == 1, s"gate $g gave different digests across passes: $distinct")
      g -> distinct.head
    }
    val header = s"# gate\tdigest (rows:sum of md5 prefixes) at ScaleCorpus sf${Catalog.Sf}\n"
    Files.write(f.toPath, (header + byGate.toSeq.sorted.map { case (g, d) => s"$g\t$d\n" }.mkString)
      .getBytes(StandardCharsets.UTF_8))
    ()
  }
}
