package graft.tools

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws, count, lit}
import graft.io.{Sinks, Sources}
import graft.pipelines.{MaxParams, Yap}

/** One-command reproduction of the reference's season outputs on real
  * Big-Data-Bowl CSVs (VERDICT r4 next §7). The engine's pipelines are
  * input-agnostic; this wires them to the Kaggle file layout the
  * reference consumes (optimal_pursuit.py:132-149: plays.csv,
  * players.csv, tackles.csv, tracking_week_{w}.csv) via the
  * header-name-binding `Sources.csv` reader — column order and extra
  * columns in the real files don't matter.
  *
  * Usage: runMain graft.tools.RunSeason <inputDir> <outDir> [rT]
  *
  * Writes (headered CSV, overwrite-idempotent):
  *   <outDir>/tackler_YAP      — YAP per (game, play, tackler)    [EP1]
  *   <outDir>/max_params_opt   — optimal-path max vel/accel       [EP1]
  *   <outDir>/max_params       — actual-path max vel/accel        [EP2]
  *   <outDir>/optimal_paths    — spliced optimal trajectories     [W7]
  *   <outDir>/run_errors       — dead-letters (unknown position,
  *                               missing event boundaries)        [S4]
  *   <outDir>/parse_rejects    — input rows whose raw CSV tokens the
  *                               typed cast nulled (ADVICE r4)    [S4]
  */
object RunSeason {

  /** Session-agnostic body — the smoke test drives this directly.
    * Returns each output's row count, observed by its own write. */
  def run(spark: SparkSession, in: String, out: String, rT: Double): Map[String, Long] = {
    val tracking = Sources.csv(spark, s"$in/tracking_week_*.csv", Sources.trackingSchema)
    val plays = Sources.csv(spark, s"$in/plays.csv", Sources.playsSchema)
    val players = Sources.csv(spark, s"$in/players.csv", Sources.playersSchema)
    val tackles = Sources.csv(spark, s"$in/tackles.csv", Sources.tacklesSchema)

    def write(name: String, df: DataFrame,
        sink: (DataFrame, String) => Unit = Sinks.writeCsv): (String, Long) = {
      val rows = Observation()
      sink(df.observe(rows, count(lit(1)).as("rows")), s"$out/$name")
      name -> rows.get("rows").asInstanceOf[Long]
    }

    // the kernel runs once: its emits are cached by the first write and
    // feed the other three, and are released before this returns
    val emits = Yap.run(spark, tracking, plays, players, tackles, rT).persist()
    val kernelCounts = try {
      val (yap, mpOpt, paths, errs) = Yap.sinks(emits)
      Seq(write("tackler_YAP", yap), write("max_params_opt", mpOpt),
        write("optimal_paths", paths), write("run_errors", errs, Sinks.writeDeadLetters))
    } finally emits.unpersist()

    val mp = MaxParams.run(spark, tracking, plays, players, tackles, rT)

    // Parse-reject sweep (ADVICE r4): rows whose raw CSV tokens the
    // typed cast silently nulled, written next to the kernel
    // dead-letters so input corruption surfaces instead of reading as
    // missing data. Cheap relative to the kernel run (one extra scan of
    // each input family).
    val rejects = Seq(
      s"$in/tracking_week_*.csv" -> Sources.trackingSchema,
      s"$in/plays.csv" -> Sources.playsSchema,
      s"$in/players.csv" -> Sources.playersSchema,
      s"$in/tackles.csv" -> Sources.tacklesSchema
    ).map { case (p, sch) =>
      Sources.csvRejects(spark, p, sch)
        .select(lit(p.split('/').last).as("source"),
          concat_ws(",", col("_bad_fields")).as("bad_fields"))
    }.reduce(_ unionByName _)

    (kernelCounts ++ Seq(write("max_params", mp), write("parse_rejects", rejects))).toMap
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RunSeason <inputDir> <outDir> [rT]")
    val rT = if (args.length >= 3) args(2).toDouble else 1.0
    val spark = graft.GraftSession()
    val t0 = System.nanoTime()
    val counts = run(spark, args(0), args(1), rT)
    counts.toSeq.sortBy(_._1).foreach { case (k, n) => println(f"[run-season] $k%-16s $n%d rows") }
    println(f"[run-season] done in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
