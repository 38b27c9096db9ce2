package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.cosine

/** IVF coarse quantization for similarity search: compute per-cell
  * centroids and (re)assign vectors to their nearest centroid — one
  * k-means step. At 100 TB this is the standard recipe: a few
  * Lloyd iterations on a sample produce the coarse cells, every
  * vector gets a cell id, and ANN queries probe only the closest
  * cells (embeddingNearDupPairs / annLshTopK already consume such a
  * cell column).
  *
  * Plan shape: centroid computation is posexplode → per-(cell, dim)
  * avg → re-assemble (two shuffles, both on small keys); assignment
  * is a broadcast cross-join against |cells| centroids with an
  * argmin window — the corpus is never shuffled.
  *
  * Not oracle-gated: float means are summation-order-dependent, so
  * cross-engine bit-equality is impossible by construction; the
  * semantic invariant (assignment never increases inertia) is pinned
  * in IvfIndexSpec.
  */
object IvfIndex {

  // Both IVF gates derive the same round-1 artifact (seed centroids
  // from the label column → nearest-centroid reassignment): memoize
  // it per (session, dir) so the first consumer pays and the rest
  // ride the persisted copy — the same cost model as the memoized
  // MinHash pair set (an index build is an artifact written once and
  // read many times; executor storage stands in for the table write
  // here). Soft cache: an eviction costs a recompute, never
  // correctness. Bench invalidates between timed runs.
  private val round1Cache = graft.util.Artifacts.memo(this, "graft_ivf_round1")

  /** Memoized, persisted round-1 assignment (vec_id, embedding,
    * cell): seed centroids from the label column, one
    * nearest-centroid reassignment. [[assignments]] projects it;
    * [[kmeansIterated]] continues Lloyd rounds from it. Cached as a
    * NAMED catalog artifact so invalidation can reach the storage
    * blocks by name even after the soft reference is GC-cleared (the
    * typed centroid aggregator's closures defeat rebuild-and-match
    * invalidation).
    */
  def round1Assignment(spark: SparkSession, dir: String): DataFrame =
    round1Cache(spark, dir) {
      val emb = graft.sources.Tables.parallel(spark, dir, "embeddings")
      val seeded =
        emb.select(col("vec_id"), col("embedding"), col("label").cast("int").as("cell"))
      reassign(emb, centroids(seeded, "cell"))
    }

  /** The catalog view the round-1 artifact of `dir` is cached under. */
  def round1ViewName(dir: String): String = round1Cache.viewName(dir)

  /** Drop the memoized round-1 artifact and its storage blocks
    * (benchmark hygiene; by-name, value-liveness-independent).
    */
  def invalidate(): Unit = graft.util.Artifacts.reset(this)

  /** One nearest-centroid (max-cosine) Lloyd reassignment, fully
    * row-wise: the |cells| centroids collapse to a single array row
    * (1-row aggregate, nested-loop-broadcast by every planner), and
    * each vector takes its argmax over that array in the same row it
    * arrived in — the corpus is neither expanded by |cells| nor
    * shuffled (the previous shape exploded to |cells| scored rows and
    * pushed one-row-per-vector — embedding included — through a
    * corpus-wide vec_id combine-exchange every round). Tie-break: max
    * sim, then SMALLEST cell (negated in the max struct) — identical
    * to [[assign]]'s (sim desc, cell asc) window order; `array_max`'s
    * field-by-field struct comparison reproduces max_by over the same
    * struct because every sim is non-null (cosine of the corpus
    * vectors against float-mean centroids).
    */
  private def reassign(emb: DataFrame, cents: DataFrame): DataFrame = {
    val centsRow = cents
      .groupBy()
      .agg(collect_list(struct(col("cell"), col("centroid"))).as("cents"))
    emb
      .crossJoin(centsRow)
      .select(
        col("vec_id"),
        col("embedding"),
        (-array_max(
          transform(
            col("cents"),
            c =>
              struct(
                cosine(col("embedding"), c.getField("centroid")).as("sim"),
                (-c.getField("cell")).as("nc"),
              ),
          )
        ).getField("nc")).cast("int").as("cell"),
      )
  }

  /** Per-cell mean vectors from the current assignment column.
    * Typed-aggregator formulation (VectorMeanAggregator): partial
    * element-wise (sum, count) buffers per partition, one small
    * shuffle of |cells| rows — versus posexplode, which multiplies
    * the corpus by the dimension count and shuffles it twice. Same
    * double-accumulate / float-quantize numerics as avg-per-dim.
    */
  def centroids(emb: DataFrame, cellCol: String = "label"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb
      .select(col(cellCol).cast("int").as("cell"), col("embedding"))
      .as[(Int, Seq[Float])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new graft.functions.VectorMeanAggregator().toColumn.name("centroid"))
      .toDF("cell", "centroid")
      .select(col("cell"), col("centroid").cast("array<float>").as("centroid"))
  }

  /** Assign every vector to its nearest (max-cosine) centroid. */
  def assign(emb: DataFrame, cents: DataFrame): DataFrame = {
    val scored = emb
      .join(broadcast(cents))
      .withColumn("sim", cosine(col("embedding"), col("centroid")))
    val w = Window.partitionBy("vec_id").orderBy(col("sim").desc, col("cell"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cell").as("assigned_cell"), col("sim"))
  }

  /** One k-means step: centroids from the given assignment, then
    * nearest-centroid reassignment.
    */
  def kmeansStep(spark: SparkSession, dir: String, cellCol: String = "label"): DataFrame = {
    val emb = graft.sources.Tables.parallel(spark, dir, "embeddings")
    assign(emb, centroids(emb, cellCol))
  }

  /** Iterated Lloyd training loop: `iters` rounds of (centroids from
    * current assignment → nearest-centroid reassignment), seeded by
    * the label column — how the IVF coarse quantizer is actually
    * trained. Per round: one combine-shuffle carrying ONE row per
    * vector (max_by partial aggregation; the corpus never expands by
    * |cells|) plus the tiny |cells| centroid aggregation; lineage is
    * truncated every round. Same ULP-margin argument as
    * [[assignments]], applied inductively: each round's centroids are
    * float-quantized from integer-identical assignments, so the
    * integer assignment sequence is engine-portable and the final
    * one oracle-gates.
    *
    * Round 1 is the shared [[round1Assignment]] artifact, so the
    * corpus parquet is scanned once per (session, dir) across the
    * whole IVF gate family. Every later round references the previous
    * assignment TWICE — as the reassign input and through the
    * centroid aggregation — which is exactly the double-reference
    * shape that makes an un-truncated lineage double per round
    * (2^(iters−1) evaluations of round 2 for a caller-supplied
    * iteration count; the labelPropagation rule). Each round is
    * therefore localCheckpoint-truncated — on a cluster, a checkpoint
    * dir / table write — so the loop evaluates linearly in `iters`.
    */
  def kmeansIterated(spark: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    var assigned = round1Assignment(spark, dir)
    (2 to iters).foreach { _ =>
      assigned = reassign(
        assigned.select(col("vec_id"), col("embedding")),
        centroids(assigned, "cell"),
      ).localCheckpoint()
    }
    assigned.select(col("vec_id"), col("cell").as("assigned_cell"))
  }

  /** Oracle-gated integer view of [[kmeansStep]]: (vec_id,
    * assigned_cell) only. The float centroid means are not
    * cross-engine exact (summation order), but quantizing them to
    * FLOAT absorbs the ULP-level disagreement, and the argmax cell is
    * then stable because inter-centroid cosine margins are
    * astronomically larger than centroid rounding (same ULP-margin
    * argument as Similarity's ordering) — so the integer assignment
    * hash-matches DuckDB while the float internals stay test-only.
    * A projection of the shared [[round1Assignment]] artifact.
    */
  def assignments(spark: SparkSession, dir: String): DataFrame =
    round1Assignment(spark, dir).select(col("vec_id"), col("cell").as("assigned_cell"))
}
