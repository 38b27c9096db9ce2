package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory for the graft engine.
  *
  * Local-mode settings are tuned for the test harness (local[32],
  * single JVM); the same builder flags are what we would set on a
  * real cluster *per job* — shuffle partitions sized to the data,
  * AQE on for runtime re-planning (skew joins, partition coalescing
  * at 100 TB), UTC session time zone for oracle parity.
  *
  * `file:` resolves to [[graft.util.LocalFs]]'s fork-free local file
  * system, so checkpoint, state and output files cost no process
  * each. The session has no UI, yet Spark's status store keeps every
  * job, stage, task and SQL execution up to the `retained*` limits; a
  * streaming query adds several per micro-batch, so the limits are
  * capped to keep a long-running pipeline's heap flat. Per-session
  * artifact isolation is off: the engine adds no session artifacts,
  * and with isolation on, every class name that generated code probes
  * and the executor does not find is fetched over RPC from the
  * application's file server, whose Netty pool then keeps 4 MiB
  * direct chunks.
  */
object GraftSession {
  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft-engine")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.dagGraph.retainedRootRDDs", "100")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config(graft.util.LocalFs.sparkConf.toMap)

  def getOrCreate(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
