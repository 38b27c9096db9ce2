package perfbench

import java.io.File
import java.lang.management.{BufferPoolMXBean, ManagementFactory, MemoryType}
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One reported number. */
final case class Metric(value: Double, unit: String)

/** What one run of a workload reports: the operations it attempted,
  * how many of them failed, and its metrics by name.
  */
final case class RunResult(
    attempted: Long,
    failed: Long,
    endToEnd: Map[String, Metric],
    perLayer: Map[String, Metric],
)

/** Settings shared by every workload of one run. */
final case class RunConfig(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File)

object Stats {

  /** Quantile by linear interpolation between closest ranks
    * (numpy's default, so a reader can recompute it).
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) throw new IllegalArgumentException(s"not a finite number: $d")
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def metrics(ms: Map[String, Metric]): String =
    ms.toSeq.sortBy(_._1).map { case (k, m) =>
      s"${str(k)}: {${str("value")}: ${num(m.value)}, ${str("unit")}: ${str(m.unit)}}"
    }.mkString("{", ", ", "}")
}

object Host {

  val Cores: Int = java.lang.Runtime.getRuntime.availableProcessors()

  /** The program's session factory, sized to this host. Spark's
    * scratch and warehouse directories stay inside the run's work dir.
    */
  def session(work: File): SparkSession = {
    val spark = graft.GraftSession
      .builder(master = s"local[$Cores]", shufflePartitions = Cores)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      // every batch of a window stays in `recentProgress`
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.streams.active.foreach(_.stop())
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    spark.stop()
  }

  /** The ten public resets of the program's memoised artifacts. */
  def resetArtifacts(): Unit = {
    graft.sources.Tables.invalidate()
    graft.streaming.StreamGate.invalidate()
    graft.operators.Dedup.invalidate()
    graft.operators.IvfIndex.invalidate()
    graft.operators.PqIndex.invalidate()
    graft.operators.Similarity.invalidate()
    graft.operators.Sampling.invalidate()
    graft.operators.RelationalQueries.invalidate()
    graft.operators.TextAnalysis.invalidate()
    graft.operators.Multimodal.invalidate()
  }

  /** Memory the program holds live, in MiB: the heap as a full
    * collection leaves it, plus the class metadata (metaspace,
    * generated classes included) and NIO buffers. Unlike the resident
    * set, this follows what the program keeps (memoised artifacts,
    * cached blocks, state stores), not how large the collector lets
    * the heap grow. The heap is read from the collection's own record,
    * as running queries refill eden right after it. The JIT's code
    * cache is left out: it grows with how far compilation has got,
    * which depends on host speed.
    */
  def liveMemMb(): Double = {
    System.gc()
    // Spark's cleaner then drops the broadcasts, shuffles and blocks
    // whose handles that collection freed; collect what it released
    Thread.sleep(500)
    val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case b: com.sun.management.GarbageCollectorMXBean => b }
    val counts = collectors.map(_.getCollectionCount)
    System.gc()
    // the full collection is the earliest one since; a young one may follow
    val full = collectors.zip(counts).collect { case (b, n) if b.getCollectionCount > n => b.getLastGcInfo }
      .minBy(_.getStartTime)
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    val heapPools = pools.filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val heap = full.getMemoryUsageAfterGc.asScala.collect { case (p, u) if heapPools(p) => u.getUsed }.sum
    val classes = pools.filter(p => p.getType == MemoryType.NON_HEAP && !p.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getUsed).sum
    val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala.map(_.getMemoryUsed).sum
    System.err.println(f"[perfbench] live memory: heap ${heap / 1048576.0}%.1f MiB, classes " +
      f"${classes / 1048576.0}%.1f MiB, buffers ${buffers / 1048576.0}%.1f MiB")
    (heap + classes + buffers) / 1048576.0
  }

  /** Peak resident set of this process (`VmHWM`), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def processCpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def deleteTree(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
    ()
  }

  /** Scratch the program creates outside the JVM's temp dir: its
    * harness checkpoints, sinks and staged stream inputs go to
    * `/dev/shm` when that is writable (`StreamGate.scratchDir`).
    * [[ScratchSweep]] removes the ones this process made.
    */
  val ProgramScratchRoots: Seq[File] =
    Seq(new File("/dev/shm"), new File(System.getProperty("java.io.tmpdir")))
}

/** Removes program scratch directories (`graft-*`) created since the
  * sweep was made, so that a catalog pass never inherits
  * the files of the one before it and tmpfs does not fill up.
  */
final class ScratchSweep {
  private def list(): Set[Path] =
    Host.ProgramScratchRoots.flatMap { r =>
      Option(r.listFiles()).toSeq.flatten.filter(_.getName.startsWith("graft-")).map(_.toPath)
    }.toSet

  private val before = list()

  /** Program scratch directories made since this sweep was created. */
  def created(): Set[Path] = list() -- before

  def sweep(): Unit = created().foreach(p => Host.deleteTree(p.toFile))
}
