package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Numeric.dround
import graft.io.Artifacts
import graft.io.Sources.table

/** Incremental materialized-view maintenance — the warehouse capability
  * behind `REFRESH MATERIALIZED VIEW ... INCREMENTALLY`: a persisted
  * aggregate is brought up to date by merging ONLY the new batch's
  * partial aggregate, never by re-scanning the base table.
  *
  * The MV stores DISTRIBUTIVE partials (count, quantized-integer sum, max):
  * any algebraic aggregate a reporting layer wants (avg = sum/count)
  * derives from them, and partial+partial merges losslessly — the same
  * reason Spark's own hash aggregate can map-side combine. Refresh =
  * read MV partials ∪ aggregate(delta) → one groupBy over the union.
  *
  * Scale shape (100 TB): refresh cost is O(delta) + a merge shuffle
  * whose width is the MV's key cardinality — the base table is never
  * touched (the defining property; the spec proves it by doctoring the
  * stored MV and watching the doctored value flow through). On a
  * cluster the MV would be written bucketed by its group key so the
  * merge is exchange-free on the MV side and only touched key buckets
  * are rewritten (dynamic partition overwrite — the ops.Bucketing
  * pattern); the single-file layout here is the local stand-in.
  *
  * Gate: the oracle IS the MV invariant — DuckDB computes the full
  * aggregate over base ∪ delta (= the whole events table) from
  * scratch; the engine's incremental merge must hash-match it exactly.
  */
object Materialized {

  type Q = (SparkSession, String) => DataFrame

  /** Deterministic base/delta split of `events`: the delta models the
    * newly-ingested batch (1/10 of rows, by event-id residue — stable
    * under repartitioning, same discipline as Curate's content-hash
    * buckets). */
  private def isDelta = pmod(col("event_id"), lit(10L)) === 0L

  /** The partial-aggregate projection both the build and the delta
    * side share — count / quantized integer sum / max per (user_id,
    * event_type). The sum partial is stored as sum(floor(value·1e6))
    * BIGINT, NOT a raw double sum: double summation is partition-order
    * dependent and a stored double partial can straddle a rounding
    * boundary under repartitioning (the Classifier/w15 exact-integer
    * discipline, applied to persisted state). */
  private def partials(rows: DataFrame): DataFrame =
    rows.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 1000000L).cast("long")).as("sum_q"),
        max(col("ts")).as("max_ts"))

  /** Build the MV from the base slice and persist it — the one-time
    * (or scheduled-compaction) full scan. */
  private[graft] def mvBuild(s: SparkSession, d: String, path: String): Unit =
    partials(table(s, d, "events").filter(!isDelta))
      .write.mode("overwrite").parquet(path)

  /** Incremental refresh against an explicit MV location (testable
    * seam: the spec doctors the stored partials and proves the
    * doctored value — not a base re-scan — reaches the output). */
  private[graft] def refreshFrom(s: SparkSession, d: String, path: String): DataFrame = {
    val stored = s.read.parquet(path)
    val delta = partials(table(s, d, "events").filter(isDelta))
    stored.unionByName(delta)
      .groupBy("user_id", "event_type")
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("sum_q")).as("sum_q"),
        max(col("max_ts")).as("max_ts"))
      .select(col("user_id"), col("event_type"), col("n_events"),
        dround(col("sum_q") / 1000000.0, 4).as("sum_value"),
        col("max_ts"))
      .orderBy("user_id", "event_type")
  }

  /** The stored MV's location, built first unless trusted
    * ([[graft.io.Artifacts]]). Bench also calls it before the timed
    * passes, so first touch never lands in a timing. */
  private[graft] def ensureMvFor(s: SparkSession, d: String): String =
    Artifacts.ensure(s, Artifacts.Mv, d)(mvBuild(s, d, _))

  private val mvRefresh: Q = (s, d) => refreshFrom(s, d, ensureMvFor(s, d))

  val queries: Map[String, Q] = Map("mv_refresh" -> mvRefresh)

  val oracle: Map[String, String] = Map(
    // Full independent recompute over base ∪ delta = the whole table:
    // the refresh-equals-recompute invariant is the entire gate.
    "mv_refresh" ->
      """SELECT user_id, event_type,
        | count(*) AS n_events,
        | round(sum(CAST(floor(value * 1000000) AS BIGINT)) / 1000000.0, 4) AS sum_value,
        | max(ts) AS max_ts
        |FROM events
        |GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin)
}
