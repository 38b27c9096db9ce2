package graft.sources

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** JDBC passthrough (SURVEY §2.1 S10).
  *
  * The reference loads a postgres driver jar its streaming job never
  * actually uses (spark-streaming.py:19); the engine-level equivalent
  * of that latent capability is Spark's built-in JDBC source/sink,
  * exposed here as documented entry points. This offline build ships
  * NO driver jar (see COVERAGE.md S10), so these are compile-checked
  * passthroughs; on a real deployment, add the driver to
  * `spark.jars` and the same calls work unchanged.
  */
object Jdbc {

  /** Whole-table scan (reference S6's dimension-load shape). */
  def read(
      spark: SparkSession,
      url: String,
      table: String,
      props: Properties = new Properties,
  ): DataFrame =
    spark.read.jdbc(url, table, props)

  /** Batch insert (reference S7's postgres write path); SaveMode
    * .Overwrite is the reset/delete path (S8).
    */
  def write(
      df: DataFrame,
      url: String,
      table: String,
      mode: SaveMode = SaveMode.Append,
      props: Properties = new Properties,
  ): Unit =
    df.write.mode(mode).jdbc(url, table, props)
}
