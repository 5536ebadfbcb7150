package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Numeric.dround
import graft.io.Artifacts
import graft.io.Sources.table

/** Manifest-versioned table snapshots — the Iceberg/Delta time-travel
  * core in miniature: every write creates an IMMUTABLE file group plus
  * a new manifest listing exactly the groups visible in that version;
  * a read resolves a version's manifest and plans from its file list
  * alone. Appends never rewrite existing groups, so every historical
  * version stays readable after later writes (time travel), and
  * concurrent readers of v N are isolated from the v N+1 commit.
  *
  * Scale rationale (100 TB): reads plan from the MANIFEST, never from
  * object-store listing — the file-listing scan that kills S3-scale
  * tables is gone; appends are O(delta) file additions + an O(1)
  * manifest commit; and version pruning/vacuum is manifest diffing.
  * The JSON-lines manifest here stands in for Iceberg's avro manifest
  * list; the commit protocol (write files → write manifest → bump the
  * version pointer atomically via rename) is the same shape.
  *
  * Gate: fs_snapshot reads BOTH versions through the manifest after
  * both are committed; the oracle recomputes each version's aggregate
  * from the base/delta predicates — if an append had mutated v1's
  * groups or a read had listed directories instead of the manifest,
  * the v1 row would drift.
  */
object Snapshot {

  type Q = (SparkSession, String) => DataFrame

  /** The same ingest-batch convention as Materialized.mv_refresh: the
    * delta is the event-id residue-0 tenth of the table. */
  private def isDelta = pmod(col("event_id"), lit(10L)) === 0L

  private[graft] def snapRoot(d: String): String = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SNAP_DIR", "/tmp/graft_snap")
    s"${Artifacts.scratch(base)}/${Artifacts.key(d)}"
  }

  private def manifestPath(root: String, v: Int) = s"$root/manifest/v$v.json"

  /** Commit one version: the file groups are ALREADY written (immutable
    * dirs); the manifest lists them, written to a temp name then
    * renamed — the atomic-pointer half of the commit protocol. */
  private def commit(root: String, v: Int, groups: Seq[String]): Unit = {
    val dir = java.nio.file.Paths.get(s"$root/manifest")
    java.nio.file.Files.createDirectories(dir)
    val tmp = dir.resolve(s".v$v.json.tmp")
    java.nio.file.Files.write(tmp,
      groups.mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(manifestPath(root, v)),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def readManifest(root: String, v: Int): Seq[String] =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(manifestPath(root, v))), "UTF-8")
      .split("\n").toSeq.filter(_.nonEmpty)

  /** Read a table version THROUGH its manifest — the file list is the
    * plan input; no directory listing. */
  private[graft] def readVersion(s: SparkSession, root: String, v: Int): DataFrame =
    s.read.parquet(readManifest(root, v): _*)

  /** v1 = base slice; v2 = v1 + appended delta group (v1's group is
    * untouched). Idempotent per (pid, corpus dir). */
  private[graft] def ensureTable(s: SparkSession, d: String): String = {
    val root = snapRoot(d)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(manifestPath(root, 2)))) {
      val ev = table(s, d, "events")
      val base = s"$root/files/base"
      val delta = s"$root/files/delta"
      ev.filter(!isDelta).write.mode("overwrite").parquet(base)
      commit(root, 1, Seq(base))
      ev.filter(isDelta).write.mode("overwrite").parquet(delta)
      commit(root, 2, Seq(base, delta))
    }
    root
  }

  /** Time travel both committed versions in one relation: per-version
    * row count + value sum, read strictly through the manifests AFTER
    * v2 exists — v1's stability under the later append is the
    * immutability property under test. */
  private val fsSnapshot: Q = (s, d) => {
    val root = ensureTable(s, d)
    // quantized-integer sum (floor(value·1e6) per row): a raw double
    // sum is partition-order dependent and could straddle a rounding
    // boundary under repartitioning — the Materialized.partials rule
    def agg(v: Int): DataFrame =
      readVersion(s, root, v).agg(
        count(lit(1)).as("n_rows"),
        sum(floor(col("value") * 1000000L).cast("long")).as("sq"))
        .select(lit(v).as("version"), col("n_rows"),
          dround(col("sq") / 1000000.0, 4).as("sum_value"))
    agg(1).unionByName(agg(2)).orderBy("version")
  }

  // -------------------------------------------------------------------
  // fs_vacuum: retention vacuum — the lifecycle step that completes the
  // manifest store (snapshot → compact → VACUUM): rewrite the table as
  // one merged group committed as v3, then physically delete every file
  // group the latest manifest no longer references plus the expired
  // manifests themselves. Runs against a SIBLING root so fs_snapshot's
  // time-travel versions are never touched — the two queries stay
  // order-independent inside one Verify run. The audit relation derives
  // group status from MANIFEST membership (not directory existence), so
  // a re-run after deletion reports identically; the post-vacuum
  // aggregate is read strictly THROUGH v3's manifest, proving the live
  // data survived the delete.
  // -------------------------------------------------------------------
  private def deleteRec(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }

  private val fsVacuum: Q = (s, d) => {
    val root = snapRoot(d) + "_vac"
    // v1/v2 as in ensureTable, on the sibling root
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(manifestPath(root, 2)))) {
      val ev = table(s, d, "events")
      ev.filter(!isDelta).write.mode("overwrite").parquet(s"$root/files/base")
      commit(root, 1, Seq(s"$root/files/base"))
      ev.filter(isDelta).write.mode("overwrite").parquet(s"$root/files/delta")
      commit(root, 2, Seq(s"$root/files/base", s"$root/files/delta"))
    }
    // v3 = compaction rewrite: ONE merged group becomes the live set
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(manifestPath(root, 3)))) {
      readVersion(s, root, 2).write.mode("overwrite").parquet(s"$root/files/merged")
      commit(root, 3, Seq(s"$root/files/merged"))
    }
    val live = readManifest(root, 3).toSet
    // physical vacuum: unreferenced groups + expired manifests
    Seq("base", "delta", "merged").map(g => s"$root/files/$g")
      .filterNot(live.contains)
      .foreach(g => deleteRec(java.nio.file.Paths.get(g)))
    Seq(1, 2).foreach(v =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(manifestPath(root, v))))
    val after = readVersion(s, root, 3)
      .agg(count(lit(1)).as("n_rows"),
        dround(sum(floor(col("value") * 1000000L).cast("long")) / 1000000.0, 4)
          .as("sum_value"))
    val audit = Seq("base", "delta", "merged").map { g =>
      val isLive = live.contains(s"$root/files/$g")
      if (isLive)
        after.select(lit(g).as("grp"), lit("live").as("status"),
          col("n_rows"), col("sum_value"))
      else
        after.select(lit(g).as("grp"), lit("vacuumed").as("status"),
          lit(null).cast("long").as("n_rows"), lit(null).cast("double").as("sum_value"))
    }
    audit.reduce(_ unionByName _).orderBy("grp")
  }

  // -------------------------------------------------------------------
  // fs_clone: ZERO-COPY shallow clone (Delta SHALLOW CLONE / Iceberg
  // snapshot-ref): a clone is a NEW manifest namespace whose v1 lists
  // exactly the source table's current file groups — no data moves.
  // The clone then DIVERGES (its v2 appends a clone-local group: the
  // event_id ≡ 1 (mod 10) slice, modeling a reprocessed partition) and
  // the gate proves isolation in both directions: the original's
  // latest version still aggregates to the full table (the clone's
  // append never touched shared groups), and the clone's v1 equals the
  // source at clone time while its v2 carries the divergence. Runs on
  // a sibling root so fs_snapshot/fs_vacuum stay order-independent.
  // Scale: a clone is ONE manifest write regardless of table size —
  // the property that makes dev/test forks of a 100 TB table free.
  // -------------------------------------------------------------------
  private def isExtra = pmod(col("event_id"), lit(10L)) === 1L

  private val fsClone: Q = (s, d) => {
    val root = snapRoot(d) + "_cl"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(manifestPath(root, 2)))) {
      val ev = table(s, d, "events")
      ev.filter(!isDelta).write.mode("overwrite").parquet(s"$root/files/base")
      commit(root, 1, Seq(s"$root/files/base"))
      ev.filter(isDelta).write.mode("overwrite").parquet(s"$root/files/delta")
      commit(root, 2, Seq(s"$root/files/base", s"$root/files/delta"))
    }
    val cl = s"$root/clone"
    // the clone commit: one manifest referencing the SOURCE's groups
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(manifestPath(cl, 1))))
      commit(cl, 1, readManifest(root, 2))
    // divergence: a clone-local group, invisible to the source
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(manifestPath(cl, 2)))) {
      table(s, d, "events").filter(isExtra)
        .write.mode("overwrite").parquet(s"$cl/files/extra")
      commit(cl, 2, readManifest(cl, 1) :+ s"$cl/files/extra")
    }
    def agg(r: String, v: Int, tbl: String): DataFrame =
      readVersion(s, r, v).agg(
        count(lit(1)).as("n_rows"),
        sum(floor(col("value") * 1000000L).cast("long")).as("sq"))
        .select(lit(tbl).as("tbl"), lit(v.toLong).as("version"), col("n_rows"),
          dround(col("sq") / 1000000.0, 4).as("sum_value"))
    agg(cl, 1, "clone")
      .unionByName(agg(cl, 2, "clone"))
      .unionByName(agg(root, 2, "orig"))
      .orderBy("tbl", "version")
  }

  // -------------------------------------------------------------------
  // fs_changes: incremental snapshot read — Iceberg's incremental scan
  // / Delta's CDC-append consume: the rows ADDED between two committed
  // versions are exactly the file groups in manifest(v2) ∖
  // manifest(v1), and the read plans from THAT DIFF alone. At 100 TB
  // this is the whole point of manifest-versioned tables for a
  // training pipeline: a downstream consumer (tokenizer shard build,
  // index refresh, dedup-index grow) re-processes O(delta) bytes per
  // version, never the table. The base group's bytes provably never
  // enter the plan (SnapshotSpec pins the scan's file list); the
  // oracle re-derives the delta from the ingest predicate, so a
  // directory-listing read or a diff that leaked a base group drifts
  // the counts.
  // -------------------------------------------------------------------
  private[graft] def changesDf(s: SparkSession, d: String): DataFrame = {
    val root = ensureTable(s, d)
    val diff = readManifest(root, 2).toSet -- readManifest(root, 1).toSet
    s.read.parquet(diff.toSeq.sorted: _*)
  }

  private val fsChanges: Q = (s, d) =>
    changesDf(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(floor(col("value") * 1000000L).cast("long")).as("sq"))
      .select(col("event_type"), col("n_rows"),
        dround(col("sq") / 1000000.0, 4).as("sum_value"))
      .orderBy("event_type")

  val queries: Map[String, Q] = Map(
    "fs_snapshot" -> fsSnapshot,
    "fs_changes" -> fsChanges,
    "fs_vacuum" -> fsVacuum,
    "fs_clone" -> fsClone)

  val oracle: Map[String, String] = Map(
    // each version re-derived from the slice predicates — never from
    // the engine's files
    "fs_snapshot" ->
      """SELECT 1 AS version, count(*) AS n_rows,
        | round(sum(CAST(floor(value * 1000000) AS BIGINT)) / 1000000.0, 4) AS sum_value
        |FROM events WHERE ((event_id % 10) + 10) % 10 <> 0
        |UNION ALL
        |SELECT 2, count(*),
        | round(sum(CAST(floor(value * 1000000) AS BIGINT)) / 1000000.0, 4)
        |FROM events
        |ORDER BY version""".stripMargin,
    // the v1→v2 delta re-derived from the ingest predicate — never
    // from the engine's manifests or files
    "fs_changes" ->
      """SELECT event_type, count(*) AS n_rows,
        | round(sum(CAST(floor(value * 1000000) AS BIGINT)) / 1000000.0, 4) AS sum_value
        |FROM events WHERE event_id % 10 = 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // clone v1 = the source at clone time (the full table); clone v2
    // adds the divergence slice; the source's latest stays the full
    // table — all three re-derived from predicates, never from files
    "fs_clone" ->
      """SELECT * FROM (
        | SELECT 'clone' AS tbl, CAST(1 AS BIGINT) AS version,
        |   count(*) AS n_rows,
        |   round(sum(CAST(floor(value * 1000000) AS BIGINT)) / 1000000.0, 4) AS sum_value
        | FROM events
        | UNION ALL
        | SELECT 'clone', 2, count(*),
        |   round(sum(CAST(floor(value * 1000000) AS BIGINT)) / 1000000.0, 4)
        | FROM (SELECT value FROM events
        |       UNION ALL SELECT value FROM events WHERE event_id % 10 = 1)
        | UNION ALL
        | SELECT 'orig', 2, count(*),
        |   round(sum(CAST(floor(value * 1000000) AS BIGINT)) / 1000000.0, 4)
        | FROM events
        |) ORDER BY tbl, version""".stripMargin,
    // the live group must carry the FULL table through the vacuum; the
    // dead groups' statuses derive from the retention rule itself
    "fs_vacuum" ->
      """SELECT * FROM (
        | SELECT 'base' AS grp, 'vacuumed' AS status,
        |   CAST(NULL AS BIGINT) AS n_rows, CAST(NULL AS DOUBLE) AS sum_value
        | UNION ALL
        | SELECT 'delta', 'vacuumed', NULL, NULL
        | UNION ALL
        | SELECT 'merged', 'live', count(*),
        |   round(sum(CAST(floor(value * 1000000) AS BIGINT)) / 1000000.0, 4)
        | FROM events
        |) ORDER BY grp""".stripMargin)
}
