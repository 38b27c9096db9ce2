package perfbench

import org.apache.spark.sql.SparkSession

/** What a traced window hands to the workload: the span store, the
  * Spark listener, and the span that stands for the whole window.
  */
final case class TraceCtx(tracer: Tracer, sparkLayer: SparkLayer, windowSpan: Long) {

  /** Run `body` in a span under the window; the Spark jobs it starts on
    * this thread carry the span's id as their job description.
    */
  def span[T](spark: SparkSession, name: String, layer: String, req: String)(body: => T): T = {
    val id = tracer.newId()
    spark.sparkContext.setJobDescription(s"pb:$id")
    try tracer.timed(id, windowSpan, name, layer, req)(body)
    finally spark.sparkContext.setJobDescription(null)
  }
}

/** One measured window.
  *
  * @param latenciesMs one sample per operation that completed
  * @param throughput  operations per second over the window's work
  * @param headline    the window's main time, compared between an
  *                    untraced and a traced window as tracing overhead
  * @param liveMemMb   [[Host.liveMemMb]] at the window's one fixed
  *                    point
  * @param layers      per-layer metrics of the workload's own layers
  * @param batchParent for a micro-batch starting at the given epoch
  *                    microsecond, its parent span and request id, when
  *                    that is not the window itself
  */
final case class Window(
    attempted: Long,
    failed: Long,
    latenciesMs: Seq[Double],
    throughput: Double,
    headline: Double,
    liveMemMb: Double,
    layers: Map[String, Metric],
    batchParent: Option[Long => (Long, String)] = None,
)

trait Workload {

  /** One set-up round on a fresh session: stage the run's inputs and
    * warm the pipeline up. Runs several times; the last round's
    * session and inputs are the ones measured.
    */
  def setup(spark: SparkSession, cfg: RunConfig): Unit

  /** Measure for `cfg.seconds`, check the outputs, and report. */
  def measure(spark: SparkSession, cfg: RunConfig, trace: Option[TraceCtx]): Window

  /** Per-layer metrics measured during set-up (the last round's). */
  def setupLayers: Map[String, Metric] = Map.empty
}
