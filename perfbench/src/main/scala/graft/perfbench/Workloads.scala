package graft.perfbench

import java.io.File
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import org.apache.spark.sql.SparkSession
import graft.io.{Sinks, Sources}
import graft.pipelines.{MaxParams, Yap}
import graft.tools.RunSeason
import Main.{Op, Rec, median, quantile}

/** `season`: `Yap.run` (every emit) and `MaxParams.run` over the seeded
  * season read from parquet, both to the noop sink. A traced run also
  * writes the season in the Kaggle CSV layout with planted corrupt
  * tokens and probes the io layer and the product CLI body
  * `RunSeason.run` on it, checking the CLI's counts. */
final class SeasonWorkload(spark: SparkSession, a: Map[String, String], seed: Long)
    extends Workload {
  private val nPlays = a("plays").toInt
  private val sampleN = a("sample").toInt
  private val corrupt = a("corrupt").toInt
  private val rT = 1.0
  private var dir = ""
  private var plantedCorrupt = 0L
  private lazy val planted = SeasonGen.planted(seed, nPlays)
  /** The parquet season, read once after it is written: the ops time the
    * pipelines, not the file listing. */
  private var s: SeasonGen.Season = _

  def size: Map[String, Any] = Map("plays" -> nPlays, "near_share" -> SeasonGen.NearShare,
    "late_share" -> SeasonGen.LateShare, "chase_share" -> SeasonGen.ChaseShare,
    "far_share" -> SeasonGen.FarShare,
    "unknown_position_share" -> SeasonGen.UnknownShare, "bystanders" -> SeasonGen.Bystanders,
    "kernel_sample" -> sampleN, "csv_weeks" -> SeasonGen.Weeks, "csv_corrupt_target" -> corrupt)

  def generate(d: String): Unit = {
    dir = Workload.fresh(d)
    val g = SeasonGen.season(spark, seed, nPlays)
    g.tracking.write.parquet(s"$dir/tracking")
    g.plays.write.parquet(s"$dir/plays")
    g.players.write.parquet(s"$dir/players")
    g.tackles.write.parquet(s"$dir/tackles")
    s = SeasonGen.Season(
      spark.read.parquet(s"$dir/tracking"), spark.read.parquet(s"$dir/plays"),
      spark.read.parquet(s"$dir/players"), spark.read.parquet(s"$dir/tackles"))
  }

  /** Passes run near their steady wall only from about the fifth
    * execution of each op on (measured on a 4-core host); the check pass
    * is the first. */
  val warmPasses = 3

  def ops(n: Int): Seq[Op] = Seq(
    Op("yap_run", () => Yap.run(spark, s.tracking, s.plays, s.players, s.tackles, rT)),
    Op("max_params_run", () => MaxParams.run(spark, s.tracking, s.plays, s.players, s.tackles, rT)))

  // kernel sample: per-play (wall ms, thread-CPU ms) of the serial re-run
  private var kernelMs = Seq.empty[Double]
  private var kernelCpuMs = Seq.empty[Double]
  private var emitRows = 0L
  private var expectedRun = Map.empty[String, Long]

  /** Runs `Yap.run` once over all plays, counting emits by kind and
    * keeping a seeded sample of plays' rows; runs `MaxParams.run` once;
    * checks both against the planted counts and re-runs the sample
    * serially through `Yap.processPlay`. */
  def warmCheck(): Seq[(String, Option[String])] = {
    import spark.implicits._
    val r = new scala.util.Random(seed * 7919L + 13L)
    val keys = r.shuffle((0L until nPlays).toVector).take(sampleN)
      .map(p => (2022000000L + p / 50, 1L + p % 50)).toSet
    var sampleRows = Seq.empty[Yap.Emit]
    val counts = Main.guard("planted_counts") {
      val parts = Yap.run(spark, s.tracking, s.plays, s.players, s.tackles, rT).mapPartitions { it =>
        val n = scala.collection.mutable.HashMap[String, Long]()
        var yapNull = 0L
        val sample = ArrayBuffer[Yap.Emit]()
        it.foreach { e =>
          n(e.kind) = n.getOrElse(e.kind, 0L) + 1
          if (e.kind == "yap" && e.YAP.isEmpty) yapNull += 1
          if (keys.contains((e.game_ID, e.play_ID))) sample += e
        }
        Iterator((n.toSeq, yapNull, sample.toSeq))
      }.collect()
      val byKind = parts.flatMap(_._1).groupMapReduce(_._1)(_._2)(_ + _)
      val yapNull = parts.map(_._2).sum
      sampleRows = parts.flatMap(_._3).toSeq
      emitRows = byKind.values.sum
      val mp = MaxParams.run(spark, s.tracking, s.plays, s.players, s.tackles, rT)
        .selectExpr("count(*)", "count_if(max_vel IS NULL)").head()
      def n(k: String) = byKind.getOrElse(k, 0L)
      expectedRun = Map("tackler_YAP" -> n("yap"), "max_params_opt" -> n("max_params_opt"),
        "optimal_paths" -> n("path"), "run_errors" -> n("error"), "max_params" -> mp.getLong(0),
        "parse_rejects" -> plantedCorrupt)
      val p = planted
      Seq(
        (n("yap") == p.knownRows) -> s"yap rows ${n("yap")} != planted known ${p.knownRows}",
        (n("error") == p.unknownRows) -> s"dead letters ${n("error")} != planted ${p.unknownRows}",
        (yapNull >= p.farKnownRows && yapNull < p.knownRows) ->
          s"null YAP $yapNull outside [planted far ${p.farKnownRows}, known ${p.knownRows})",
        (mp.getLong(0) == p.tackleRows) -> s"max_params rows ${mp.getLong(0)} != ${p.tackleRows}",
        (mp.getLong(1) == p.farRows) -> s"null max_vel ${mp.getLong(1)} != planted far ${p.farRows}")
        .collectFirst { case (false, msg) => msg }
    }
    Seq(counts, Main.guard("serial_sample")(serialSample(keys, sampleRows)))
  }

  /** Re-runs the sample serially through `Yap.processPlay` (three times;
    * the fastest timing of each play is kept) and compares with Spark's
    * rows. */
  private def serialSample(keys: Set[(Long, Long)],
      viaSparkRows: Seq[Yap.Emit]): Option[String] = {
    val frames = Yap.playFrames(spark, s.tracking, s.plays, s.players, s.tackles)
      .filter(f => keys.contains((f.gameId, f.playId))).collect()
      .groupBy(f => (f.gameId, f.playId)).toSeq.sortBy(_._1)
    val bean = java.lang.management.ManagementFactory.getThreadMXBean
    def once(): Seq[(Seq[Yap.Emit], Double, Double)] = frames.map { case ((g, p), fs) =>
      val c0 = bean.getCurrentThreadCpuTime
      val t0 = System.nanoTime()
      val emits = Yap.processPlay(g, p, fs.toSeq, rT).toVector
      ((emits, (System.nanoTime() - t0) / 1e6, (bean.getCurrentThreadCpuTime - c0) / 1e6))
    }
    val runs = Seq.fill(3)(once())
    val first = runs.head
    kernelMs = runs.map(_.map(_._2)).transpose.map(_.min)
    kernelCpuMs = runs.map(_.map(_._3)).transpose.map(_.min)
    def key(e: Yap.Emit) = (e.game_ID, e.play_ID, e.kind, e.NFL_ID,
      e.pathStep.getOrElse(-1), e.frameId.getOrElse(-1))
    val serial = first.flatMap(_._1).sortBy(key).map(_.toString)
    val viaSpark = viaSparkRows.sortBy(key).map(_.toString)
    if (frames.size != keys.size) Some(s"sample found ${frames.size} of ${keys.size} plays")
    else if (serial != viaSpark) {
      val i = serial.zip(viaSpark).indexWhere { case (x, y) => x != y }
      Some(s"serial ${serial.size} rows vs Spark ${viaSpark.size}; first difference at $i: " +
        s"${serial.lift(i)} vs ${viaSpark.lift(i)}")
    } else None
  }

  private val probeS = LinkedHashMap[String, Double]()
  private var runChecks = Seq.empty[(String, Option[String])]
  private var runIo = (0L, 0L)

  /** Layer probes of a traced run: `Yap.playFrames` alone (median of
    * three); the season written as Kaggle CSV with planted corrupt tokens,
    * then the CSV scan, the reject sweep and a CSV write, once each (they
    * are slow); and `RunSeason.run` on the
    * CSV once (the probes before it warmed the CSV reader and the
    * kernel), checked against the parquet path's counts and the planted
    * rejects, and timed with the ledger attached for its bytes read and
    * written. */
  override def probes(ledger: Ledger): LinkedHashMap[String, Double] = {
    def med3(body: => Unit): Double = median((1 to 3).map(_ => Main.time(body)))
    probeS("play_frames_s") = med3(Main.noop(
      Yap.playFrames(spark, s.tracking, s.plays, s.players, s.tackles)))
    val csvDir = s"$dir/csv"
    plantedCorrupt = SeasonGen.writeCsv(s, csvDir, corrupt, seed)
    val files = Seq(s"$csvDir/tracking_week_*.csv" -> Sources.trackingSchema,
      s"$csvDir/plays.csv" -> Sources.playsSchema,
      s"$csvDir/players.csv" -> Sources.playersSchema,
      s"$csvDir/tackles.csv" -> Sources.tacklesSchema)
    probeS("csv_scan_s") = Main.time(files.foreach { case (p, sch) =>
      Main.noop(Sources.csv(spark, p, sch)) })
    probeS("csv_rejects_s") = Main.time(files.foreach { case (p, sch) =>
      Main.noop(Sources.csvRejects(spark, p, sch)) })
    val outDir = s"${new File(dir).getParent}/out"
    probeS("csv_write_s") = Main.time(Sinks.writeCsv(s.tracking, s"$outDir/probe_csv"))
    val expected = expectedRun + ("parse_rejects" -> plantedCorrupt)
    ledger.attach()
    val before = ledger.snap()
    probeS("run_season_s") = Main.time(runChecks :+= Main.guard("run_season") {
      val got = RunSeason.run(spark, csvDir, outDir, rT)
      if (got == expected) None else Some(s"RunSeason counts $got != expected $expected")
    })
    val after = ledger.snap()
    ledger.detach()
    runIo = (after.bytesRead - before.bytesRead, after.bytesWritten - before.bytesWritten)
    probeS
  }

  override def probeChecks: Seq[(String, Option[String])] = runChecks

  override def ioMetrics(probes: LinkedHashMap[String, Double], readB: Double, writeB: Double)
      : LinkedHashMap[String, Double] = {
    val csvBytes = Workload.dirBytes(new File(s"$dir/csv"))
    LinkedHashMap(
      "io.csv_scan_s" -> probes.getOrElse("csv_scan_s", 0.0),
      "io.csv_rejects_s" -> probes.getOrElse("csv_rejects_s", 0.0),
      "io.csv_write_s" -> probes.getOrElse("csv_write_s", 0.0),
      "io.run_season_s" -> probes.getOrElse("run_season_s", 0.0),
      "io.read_mb" -> runIo._1 / Main.MB,
      "io.write_mb" -> runIo._2 / Main.MB,
      "io.read_amplification" -> (if (csvBytes <= 0) 0.0 else runIo._1.toDouble / csvBytes))
  }

  override def kernelMetrics(traced: Seq[Rec]): LinkedHashMap[String, Double] = {
    val sorted = kernelMs.sorted
    val opCpu = median(traced.filter(_.name == "yap_run").flatMap(_.layer).map(_.cpuS))
    val serialCpuS = if (kernelCpuMs.isEmpty) 0.0
      else kernelCpuMs.sum / kernelCpuMs.size * nPlays / 1e3
    LinkedHashMap(
      "kernel.play_ms_p50" -> quantile(sorted, 0.5),
      "kernel.play_ms_p99" -> quantile(sorted, 0.99),
      "kernel.cpu_share" -> (if (opCpu <= 0) 0.0 else serialCpuS / opCpu))
  }

  override def pipelineMetrics(ok: Seq[Rec]): LinkedHashMap[String, Double] = LinkedHashMap(
    "pipelines.yap_run_s" -> median(ok.filter(_.name == "yap_run").map(_.wallS)),
    "pipelines.max_params_run_s" -> median(ok.filter(_.name == "max_params_run").map(_.wallS)),
    "pipelines.play_frames_s" -> probeS.getOrElse("play_frames_s", 0.0),
    "pipelines.emit_rows" -> emitRows.toDouble)

  override def extra(wallS: Double): Map[String, Double] = {
    val p = planted
    val k = kernelMs.sorted
    Map("plays_per_s" -> (if (wallS > 0) nPlays / wallS else 0.0),
      "kernel_p99_over_p50" -> (if (k.isEmpty) 0.0 else quantile(k, 0.99) / quantile(k, 0.5)),
      "planted_tackle_rows" -> p.tackleRows.toDouble,
      "planted_unknown_position_rows" -> p.unknownRows.toDouble,
      "planted_far_rows" -> p.farRows.toDouble, "planted_late_rows" -> p.lateRows.toDouble,
      "planted_chase_rows" -> p.chaseRows.toDouble) ++
      // the CSV copy exists only in traced runs
      (if (plantedCorrupt > 0) Map("planted_corrupt_rows" -> plantedCorrupt.toDouble) else Map.empty)
  }
}

/** `loops`: iterative queries from `SparkEntry.queries`, each one op
  * (the query function, then the noop write), in a seeded order per
  * pass. */
final class LoopsWorkload(spark: SparkSession, a: Map[String, String], seed: Long)
    extends Workload {
  private val names = a("queries").split(",").toSeq
  private val nDocs = a("docs").toInt
  private val nVecs = a("vecs").toInt
  private val all = graft.SparkEntry.queries
  private var dir = ""
  private val checkDir = a("check-dir")

  def size: Map[String, Any] = Map("documents" -> nDocs, "embeddings" -> nVecs,
    "queries" -> names)

  def generate(d: String): Unit = {
    dir = Workload.fresh(d)
    CorpusGen.write(spark, seed, nDocs, nVecs, dir)
  }

  val warmPasses = 1

  def ops(n: Int): Seq[Op] =
    // the multipliers spread nearby seeds apart: java.util.Random's first
    // draws from seeds that differ by little are nearly equal
    new scala.util.Random(seed * 0x9E3779B97F4A7C15L + n * 0xBF58476D1CE4E5B9L + 29L)
      .shuffle(names).map(q => Op(q, () => all(q)(spark, dir)))

  /** Runs every query once, writing its rows to parquet for `run.py` to
    * compare with the query's DuckDB twin, plus the twins' SQL. */
  def warmCheck(): Seq[(String, Option[String])] = {
    Workload.fresh(checkDir)
    val out = names.map { q =>
      val r = Main.guard(q) {
        all(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$q")
        None
      }
      Leaks.sweep(spark)
      r
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    java.nio.file.Files.writeString(new File(s"$checkDir/oracle_sql.json").toPath,
      Main.Json(oracle))
    out
  }

  override def ioMetrics(probes: LinkedHashMap[String, Double], readB: Double, writeB: Double)
      : LinkedHashMap[String, Double] = {
    val inputBytes = Workload.dirBytes(new File(dir))
    super.ioMetrics(probes, readB, writeB) ++ LinkedHashMap(
      "io.read_amplification" -> (if (inputBytes <= 0) 0.0 else readB / inputBytes))
  }
}
