package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Artifacts
import graft.io.Sources.table

/** Z-order (Morton-curve) data layout — the multi-dimension scan-
  * pruning story at 100 TB. A table sorted on ONE key prunes row
  * groups perfectly on that key and not at all on any other; a
  * z-order-clustered layout interleaves the bits of several quantized
  * dimensions so that every written file covers a small RANGE OF EACH
  * dimension at once, and parquet min/max footer statistics then prune
  * most row groups for predicates on ANY of the clustered dimensions
  * (the Delta/Iceberg `ZORDER BY` mechanism, built here from plain
  * Spark expressions: rank-quantize → bit-interleave →
  * `repartitionByRange` + `sortWithinPartitions` on the z-value).
  *
  * Everything is distributed: the per-dimension min/max come from a
  * one-row aggregate broadcast back via crossJoin (the a15_equidepth
  * pattern), the z-value is a codegen'd integer expression, and the
  * write is a range shuffle on the z-value — no driver-side collect.
  *
  * Layout is semantics-free, so the gate is the j9 pattern: the
  * driver query writes the clustered copy, reads it back through a
  * two-dimension selective predicate, and must reproduce DuckDB's
  * answer on the RAW table byte-for-byte. The pruning itself is
  * measured by parquet footer min/max overlap counts per layout ×
  * predicate (BASELINE.md) and pinned by `LayoutSpec`'s
  * per-file span assertions.
  */
object Layout {

  type Q = (SparkSession, String) => DataFrame

  /** Default bits per dimension; 2 dims × 16 bits fill a 32-bit
    * z-value. Budgeted layouts (below) assign per-dimension widths. */
  private val zBits = 16

  /** Quantize a long dimension into [0, 2^bits) given its global
    * bounds (degenerate span → 0). */
  private[ops] def quantize(c: Column, mn: Column, mx: Column,
      bits: Int = zBits): Column = {
    val qMax = (1L << bits) - 1
    val span = (mx - mn).cast("double")
    when(span <= 0d, lit(0L)).otherwise(
      least(lit(qMax),
        floor((c - mn).cast("double") / span * qMax).cast("long")))
  }

  /** Morton interleave of equal-width pre-quantized dims: bit b of
    * dim i lands at position b·d + i, so high bits alternate across
    * dimensions and nearby z-values are nearby in EVERY dimension.
    * Unrolled fold — 32 codegen'd shift/or terms for two dims. */
  private[ops] def interleave(q: Seq[Column]): Column =
    interleaveBudgeted(q.map(_ -> zBits))

  /** Morton interleave under PER-DIMENSION bit budgets (VERDICT r6 §8
    * — r6 was hardwired to 2×16): dimensions align at their MOST
    * significant bits, so every coarse level of the curve interleaves
    * ALL dimensions — the property range-partitioned files prune by —
    * and a wider budget's surplus bits land at the LOW end, giving
    * that dimension finer intra-file resolution without letting it
    * dominate the file split (placing surplus bits at the top instead
    * degenerates into a plain sort on the wide dimension: measured,
    * 8-file layout left user_id completely unlocalized). Equal budgets
    * reproduce the classic curve bit for bit. Still one codegen'd
    * integer expression, Σ budgets shift/or terms. */
  private[ops] def interleaveBudgeted(q: Seq[(Column, Int)]): Column = {
    val total = q.map(_._2).sum
    require(total <= 63, "z-value must fit a signed long")
    var pos = total
    (0 until q.map(_._2).max).foldLeft(lit(0L)) { (acc, l) =>
      q.reverse.foldLeft(acc) { case (a, (c, bits)) =>
        if (l >= bits) a
        else {
          pos -= 1
          a.bitwiseOR(shiftleft(
            shiftrightunsigned(c, bits - 1 - l).bitwiseAND(lit(1L)), pos))
        }
      }
    }
  }

  /** Write a z-order-clustered parquet copy of `df` by the given
    * numeric/timestamp dimensions (timestamps cluster at second
    * granularity via the long cast), 16 bits each. */
  def zorderWrite(df: DataFrame, dims: Seq[String], out: String,
      files: Int): Unit =
    zorderWriteBudgeted(df, dims.map(_ -> zBits), out, files)

  /** Budgeted variant: per-dimension bit widths (Σ ≤ 63). `files`
    * bounds the range-shuffle width — at 100 TB this is the job's
    * output-file budget, and the one-row stats aggregate + broadcast
    * is unchanged. */
  def zorderWriteBudgeted(df: DataFrame, dims: Seq[(String, Int)],
      out: String, files: Int): Unit = {
    val aggs = dims.flatMap { case (c, _) => Seq(
      min(col(c).cast("long")).as(s"__mn_$c"),
      max(col(c).cast("long")).as(s"__mx_$c")) }
    val stats = df.agg(aggs.head, aggs.tail: _*)
    val q = dims.map { case (c, bits) =>
      quantize(col(c).cast("long"), col(s"__mn_$c"), col(s"__mx_$c"), bits) -> bits }
    df.crossJoin(broadcast(stats))
      .withColumn("__zv", interleaveBudgeted(q))
      .repartitionByRange(files, col("__zv"))
      .sortWithinPartitions("__zv")
      .drop(dims.map { case (c, _) => s"__mn_$c" } ++
        dims.map { case (c, _) => s"__mx_$c" } :+ "__zv": _*)
      .write.mode("overwrite").parquet(out)
  }

  /** The z-order layout op end-to-end: cluster `events` by
    * (user_id, ts), then answer a user-slice × time-slice predicate
    * from the clustered copy. Results must be layout-invariant — the
    * oracle runs the same predicate on the raw table. */
  private val zoEvents: Q = (s, d) => {
    // injective path derivation (VERDICT r6 §6): the sanitized dir
    // string itself keys the output — a hashCode collision between two
    // corpus dirs would have silently served the wrong clustered copy
    val key = d.replaceAll("[^A-Za-z0-9._-]", "_")
    val out = s"/tmp/graft_zorder/$key/events.parquet"
    zorderWrite(table(s, d, "events"), Seq("user_id", "ts"), out, 8)
    s.read.parquet(out)
      .filter(col("user_id").between(3, 9) &&
        col("ts") >= lit("2024-01-10").cast("timestamp") &&
        col("ts") < lit("2024-01-14").cast("timestamp"))
      .select(col("event_id"),
        unix_timestamp(col("ts")).as("ts_s"),
        col("user_id"), col("event_type"), col("value"))
      .orderBy("event_id")
  }

  /** The 3-dim budgeted layout end-to-end: cluster `events` by
    * (user_id 16 | ts 24 | event_id 16) = 56 bits — time gets the
    * wider budget (highest cardinality; its surplus bits occupy the
    * LOW end, so files still split on levels that interleave all
    * three dims) — then answer a three-way slice from the clustered
    * copy. Layout-invariant like
    * [[zoEvents]]: the oracle runs the same predicate on the raw
    * table; the 3-dim pruning evidence is in BASELINE.md. */
  private val zoEvents3: Q = (s, d) => {
    val key = d.replaceAll("[^A-Za-z0-9._-]", "_")
    val out = s"/tmp/graft_zorder/$key/events3.parquet"
    zorderWriteBudgeted(table(s, d, "events"),
      Seq("user_id" -> 16, "ts" -> 24, "event_id" -> 16), out, 8)
    s.read.parquet(out)
      .filter(col("user_id").between(3, 9) &&
        col("ts") >= lit("2024-01-10").cast("timestamp") &&
        col("ts") < lit("2024-01-14").cast("timestamp") &&
        col("event_id").between(2000, 3999))
      .select(col("event_id"),
        unix_timestamp(col("ts")).as("ts_s"),
        col("user_id"), col("event_type"), col("value"))
      .orderBy("event_id")
  }

  // -------------------------------------------------------------------
  // fs_compact: small-file compaction — the OPTIMIZE/rewrite-data-files
  // operation every streaming-ingested lake needs (micro-batch sinks
  // leave thousands of KB-sized files; at 100 TB the metadata alone
  // throttles planning). The op first materializes the pathological
  // input (64 shards of the events table — the ingest shape), then
  // compacts WITHOUT a shuffle: a size-scoped session sets
  // `spark.sql.files.maxPartitionBytes` to the target file size and
  // `openCostInBytes` to 0, so Spark's own FilePartition packer
  // bin-packs the small files into ≈target-byte read partitions, and
  // writing those partitions 1:1 yields ≈total/target output files.
  // This is exactly how table-format OPTIMIZE plans: size arithmetic
  // over FILE METADATA (driver-side by design — the same listing the
  // scan planner does), data movement task-local, no exchange. The
  // gate is layout invariance at full fidelity: every row of the
  // compacted copy must reproduce the raw table byte-for-byte (the
  // zo_events discipline, unfiltered); file-count/size bands are
  // pinned by LayoutSpec.
  // -------------------------------------------------------------------
  private val compactTargetBytes = 512L * 1024
  private val fsCompact: Q = (s, d) => {
    // per-process working dir, so two concurrent JVMs compacting the
    // same dataset never read each other's half-overwritten copies
    val root = s"${Artifacts.scratch("/tmp/graft_compact")}/${Artifacts.key(d)}"
    val frag = s"$root/events_fragmented.parquet"
    val out = s"$root/events_compacted.parquet"
    table(s, d, "events").repartition(64).write.mode("overwrite").parquet(frag)
    val scoped = ScopedSession(s, "compact",
      "spark.sql.files.maxPartitionBytes" -> compactTargetBytes.toString,
      "spark.sql.files.openCostInBytes" -> "0")
    scoped.read.parquet(frag).write.mode("overwrite").parquet(out)
    s.read.parquet(out)
      .select(col("event_id"),
        unix_timestamp(col("ts")).as("ts_s"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .orderBy("event_id")
  }

  val queries: Map[String, Q] = Map(
    "zo_events" -> zoEvents,
    "zo_events3" -> zoEvents3,
    "fs_compact" -> fsCompact)

  val oracle: Map[String, String] = Map(
    // Layout is semantics-free: DuckDB answers the predicate on the
    // RAW events table; the engine must reproduce it from the
    // z-ordered copy exactly (a dropped row, a doubled row, or a
    // mangled value in the rewrite all turn the hash red).
    "zo_events" ->
      """SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
        |  user_id, event_type, value
        |FROM events
        |WHERE user_id BETWEEN 3 AND 9
        |  AND ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-14'
        |ORDER BY event_id""".stripMargin,
    "zo_events3" ->
      """SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
        |  user_id, event_type, value
        |FROM events
        |WHERE user_id BETWEEN 3 AND 9
        |  AND ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-14'
        |  AND event_id BETWEEN 2000 AND 3999
        |ORDER BY event_id""".stripMargin,
    // Compaction is semantics-free: the oracle reads the RAW table at
    // FULL fidelity — any row lost, doubled, or mangled across the
    // fragment → compact round-trip turns the hash red.
    "fs_compact" ->
      """SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
        |  user_id, event_type, value, props
        |FROM events ORDER BY event_id""".stripMargin)
}
