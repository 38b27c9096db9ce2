package perfbench

import java.io.{File, PrintWriter}
import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAccumulator, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed interval at a layer boundary. Times are epoch
  * microseconds; `parent` is 0 for a root; spans of one request
  * (a gate call, a micro-batch, a parse) share `req`.
  */
final case class Span(id: Long, parent: Long, name: String, layer: String, startUs: Long, endUs: Long, req: String)

/** In-memory span store, written out once at the end of a run. */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  private val baseNano = System.nanoTime()

  def nowUs(): Long = baseEpochUs + (System.nanoTime() - baseNano) / 1000L

  def newId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = { spans.add(s); () }

  /** Run `body` inside a span with a preallocated `id`. */
  def timed[T](id: Long, parent: Long, name: String, layer: String, req: String)(body: => T): T = {
    val start = nowUs()
    try body
    finally add(Span(id, parent, name, layer, start, nowUs(), req))
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startUs, s.id))

  def write(file: File): Unit = {
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file, "UTF-8")
    try all.foreach { s =>
      w.println(
        s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
          s""""start_us":${s.startUs},"end_us":${s.endUs},"req":${Json.str(s.req)}}""")
    }
    finally w.close()
  }
}

object Tracer {

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of each layer in seconds: every span's duration minus
    * the part of it that its child spans cover.
    */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.startUs, k.endUs))
        (s.endUs - s.startUs - covered(kids, s.startUs, s.endUs)).toDouble
      }.sum / 1e6
    }
  }
}

/** Streaming progress of every query of the session, kept in memory,
  * including queries the program starts inside a gate. End-to-end
  * windows read their own queries' `recentProgress` instead.
  */
final class ProgressLog extends StreamingQueryListener {
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val failures = new ConcurrentLinkedQueue[String]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    progress.add(e.progress); ()
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach(x => failures.add(s"${e.id}: $x"))

  def all: Seq[StreamingQueryProgress] = progress.asScala.toSeq
  def errors: Seq[String] = failures.asScala.toSeq
}

object ProgressLog {
  def startMs(p: StreamingQueryProgress): Long = Instant.parse(p.timestamp).toEpochMilli
  def durMs(p: StreamingQueryProgress, phase: String): Long =
    Option(p.durationMs.get(phase)).map(_.longValue).getOrElse(0L)
  /** A batch's emission time: its trigger start plus trigger duration. */
  def endMs(p: StreamingQueryProgress): Long = startMs(p) + durMs(p, "triggerExecution")

  /** Micro-batch phases in the order a trigger runs them. */
  val Phases: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
}

/** Jobs, stages and task metrics of the Spark runtime, from its
  * public listener bus. Used only in traced runs. Shuffle fetch wait is
  * left out: in local mode every shuffle block is local and it is 0.
  */
final class SparkLayer extends SparkListener {
  import SparkLayer.Job

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages, tasks, tasksFailed = new LongAdder
  val runMs, cpuNs, gcMs, scanBytes, scanRecords = new LongAdder
  val shuffleWriteBytes, shuffleWriteRecords, shuffleReadBytes = new LongAdder
  val spillBytes, resultBytes = new LongAdder
  val peakExecMemory = new LongAccumulator((a: Long, b: Long) => math.max(a, b), 0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    jobs.put(e.jobId, Job(
      e.jobId, e.time, prop("spark.job.description").getOrElse(""),
      prop("streaming.sql.batchId").map(_.toLong), prop("sql.streaming.queryId")))
    ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    if (e.taskInfo != null && e.taskInfo.failed) tasksFailed.increment()
    val m = e.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      scanBytes.add(m.inputMetrics.bytesRead)
      scanRecords.add(m.inputMetrics.recordsRead)
      shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      shuffleWriteRecords.add(m.shuffleWriteMetrics.recordsWritten)
      shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      resultBytes.add(m.resultSize)
      peakExecMemory.accumulate(m.peakExecutionMemory)
    }
  }

  def finishedJobs: Seq[Job] = jobs.values().asScala.toSeq.filter(_.endMs >= 0).sortBy(_.startMs)

  def metrics: Map[String, Metric] = {
    def c(v: Long) = Metric(v.toDouble, "count")
    def b(v: Long) = Metric(v.toDouble, "bytes")
    def s(ms: Double) = Metric(ms / 1e3, "s")
    Map(
      "spark.jobs" -> c(finishedJobs.size.toLong),
      "spark.stages" -> c(stages.sum),
      "spark.tasks" -> c(tasks.sum),
      "spark.tasks_failed" -> c(tasksFailed.sum),
      "spark.task_run_s" -> s(runMs.sum.toDouble),
      "spark.task_cpu_s" -> s(cpuNs.sum / 1e6),
      "spark.gc_s" -> s(gcMs.sum.toDouble),
      "spark.scan_bytes" -> b(scanBytes.sum),
      "spark.scan_records" -> c(scanRecords.sum),
      "spark.shuffle_write_bytes" -> b(shuffleWriteBytes.sum),
      "spark.shuffle_write_records" -> c(shuffleWriteRecords.sum),
      "spark.shuffle_read_bytes" -> b(shuffleReadBytes.sum),
      "spark.spill_bytes" -> b(spillBytes.sum),
      "spark.peak_exec_memory_bytes" -> b(peakExecMemory.get),
      "spark.result_bytes" -> b(resultBytes.sum),
    )
  }
}

object SparkLayer {
  /** A Spark job with the properties that attribute it to a request. */
  final case class Job(
      id: Int, startMs: Long, desc: String, batchId: Option[Long], queryId: Option[String]) {
    @volatile var endMs: Long = -1L
  }
}
