package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's analytical core, as named, individually-testable
  * operators. Every function takes and returns a DataFrame, so the
  * SAME code runs in a batch job (DuckDB-oracle twins) and inside a
  * Structured Streaming query (incremental state-store execution) —
  * Catalyst plans the right physical form for each.
  *
  * Scale notes (100 TB posture):
  *  - Both aggregations are partial/final hash aggregates: map-side
  *    combine shrinks the shuffle to |group keys| per partition, so
  *    shuffle volume is bounded by key cardinality (candidates,
  *    states), not data volume.
  *  - The enrichment join broadcasts the dimension side: no shuffle
  *    of the 100 TB fact stream at all.
  *  - Dedup is the only operator keyed by a high-cardinality column
  *    (voter_id); in streaming it uses watermark-bounded state
  *    (dropDuplicatesWithinWatermark), in batch a window rank that
  *    shuffles once on voter_id.
  */
object VotingOps {

  /** Votes per candidate — reference spark-streaming.py:75-76.
    * Multi-column group key: the 3 descriptive columns are
    * functionally dependent on candidate_id and ride along to keep
    * them in the output (exactly the reference's shape).
    * sum(vote) ignores nulls, so registration-only records form a
    * null-candidate group with null total (SURVEY §0) — preserved.
    */
  def votesPerCandidate(records: DataFrame): DataFrame =
    records
      .groupBy("candidate_id", "candidate_name", "party_affiliation", "photo_url")
      .agg(sum("vote").as("total_votes"))

  /** Turnout by state — reference spark-streaming.py:78-79. Counts
    * EVERY record per state (registrations and votes both — the
    * reference's semantics, kept faithfully). Output column is
    * literally `count`, as in the reference.
    */
  def turnoutByLocation(records: DataFrame): DataFrame =
    records.groupBy(col("address.state").as("state")).count()

  /** Exact-once semantics on the vote stream: the reference enforces
    * one vote per voter via a UNIQUE(voter_id) constraint + rollback
    * (main.py:59, voting.py:120-122). Engine-side this is explicit
    * dedup. Batch form: deterministic keep-first by (orderCols) via a
    * window rank — one shuffle on the dedup key.
    */
  def dedupFirstPerKey(records: DataFrame, key: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(order: _*)
    records
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Streaming form of the dedup: watermark-bounded state so the
    * state store does not grow without bound at 100 TB
    * (dropDuplicatesWithinWatermark requires a watermark upstream).
    */
  def dedupVotesStreaming(records: DataFrame, key: Seq[String] = Seq("voter_id")): DataFrame =
    records.dropDuplicatesWithinWatermark(key)

  /** Stream-dimension enrichment — the rebuild of the reference's
    * Python-side random-candidate merge (voting.py:86-91) as a proper
    * broadcast equi-join: the candidate dimension is tiny relative to
    * the stream, so the join ships the dim to every task and never
    * shuffles the fact side.
    *
    * CONTRACT: `hintBroadcast = true` (the default, matching the
    * reference's J1 candidate dim) is only for BOUNDED dimensions —
    * ones whose size is fixed by the domain (candidates, nations),
    * not by the corpus. A dimension that grows with the data (users,
    * documents) must pass `hintBroadcast = false`: the planner then
    * broadcasts from its measured size while the dim fits and
    * degrades to a shuffle join when it doesn't, instead of a forced
    * broadcast OOMing the executors at scale.
    */
  def enrichWithDimension(
      facts: DataFrame,
      dim: DataFrame,
      joinKeys: Seq[String],
      joinType: String = "left",
      hintBroadcast: Boolean = true,
  ): DataFrame =
    facts.join(if (hintBroadcast) broadcast(dim) else dim, joinKeys, joinType)
}
