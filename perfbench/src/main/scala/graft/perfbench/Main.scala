package graft.perfbench

import java.io.File
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.util.control.NonFatal
import org.apache.spark.sql.{Dataset, SparkSession}

/** One benchmark run in one JVM: build the session, generate the seeded
  * inputs, warm up while checking the outputs, run a closed loop of ops
  * (each starts when the last returns) for the given number of seconds,
  * and write every measurement to a JSON file that `run.py` turns into
  * the result line. Flags are `--name value` pairs; `run.py` passes them.
  *
  * Untraced passes run with no listener attached. With `--trace 1` the
  * passes alternate untraced and traced; the traced ones attach the
  * [[Ledger]] and record leaks, and the ratio of the two pass-wall
  * medians is the trace overhead.
  */
object Main {

  /** One timed op: `build` is the call into the program (the wall until
    * it returns is the op's build time); the noop write of its result is
    * the exec time. */
  final case class Op(name: String, build: () => Dataset[_])

  final case class Rec(name: String, pass: Int, traced: Boolean, wallS: Double,
      buildS: Double, execS: Double, error: Option[String], rounds: Seq[Double],
      layer: Option[Layer])

  final case class Layer(jobs: Long, tasks: Long, jobMs: Seq[Double], busyMs: Double,
      runS: Double, cpuS: Double, gcS: Double, shuffleWriteB: Long, shuffleReadB: Long,
      spillB: Long, readB: Long, writeB: Long, executions: Long, planMs: Double,
      leak: Leaks.Left)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = new File(a("work")).getAbsolutePath
    val cores = a("cores").toInt
    val out = new File(a("out"))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val w: Workload = workload match {
      case "season" => new SeasonWorkload(spark, a, seed)
      case "loops" => new LoopsWorkload(spark, a, seed)
      case other => sys.error(s"unknown workload '$other'")
    }

    // set-up: inputs generated three times (fresh each time; the
    // last copy is the one measured), then an untimed pass that is also
    // the output check, then untimed passes of the timed ops until they
    // run near their steady speed (the JIT is still compiling the
    // executors' code for several passes after the first)
    val genS = (1 to 3).map { _ => time(w.generate(s"$work/inputs")) }
    progress(s"generated ${genS.mkString(" ")}")
    var warmChecks = Seq.empty[(String, Option[String])]
    val checkS = time { warmChecks = w.warmCheck() }
    progress(s"checked $checkS")
    val warmPassS = (1 to w.warmPasses).map { k =>
      time(w.ops(1 - k).foreach(op => runOp(spark, op, -k, None)))
    }
    progress(s"warm passes ${warmPassS.mkString(" ")}")
    val warm = checkS + warmPassS.sum
    val setupS = sessionS + median(genS) + warm

    // timed closed loop
    val recs = ArrayBuffer[Rec]()
    val passWall = ArrayBuffer[(Int, Boolean, Double)]()
    val ledger = new Ledger(spark)
    val t0 = System.nanoTime()
    var pass = 0
    // a traced run needs two traced passes, so a plan flip between them
    // shows, and untraced passes after the first, which still pays some
    // warm-up and is left out of the overhead: passes 1 and 3 are traced
    val minPasses = if (trace) 5 else 1
    while (pass < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = trace && pass % 2 == 1
      if (traced) ledger.attach()
      val p0 = System.nanoTime()
      w.ops(pass + 1).foreach(op => recs += runOp(spark, op, pass, if (traced) Some(ledger) else None))
      passWall += ((pass, traced, (System.nanoTime() - p0) / 1e9))
      if (traced) ledger.detach()
      pass += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    val peakRssMb = vmHwmMb()
    progress(s"$pass passes in $measuredS")

    val probes = if (trace) w.probes(ledger) else LinkedHashMap.empty[String, Double]
    progress(s"probes ${probes.mkString(" ")}")
    val checks = warmChecks ++ w.probeChecks

    val untracedWall = passWall.filter(!_._2).map(_._3).toSeq
    val overheadBase = median(passWall.filter(p => !p._2 && p._1 > 0).map(_._3).toSeq)
    val tracedWall = passWall.filter(_._2).map(_._3).toSeq
    val opWalls = recs.filter(r => !r.traced && r.error.isEmpty).map(_.wallS).toSeq.sorted
    // the highest percentile with at least ten ops beyond it; a run of
    // fewer than 20 ops has none above the median, so it takes the
    // highest percentile with one op beyond it: the slowest single op of
    // a run swings too much on a shared host to compare runs by
    val tailQ = if (opWalls.size >= 20) 1.0 - 10.0 / opWalls.size
      else 1.0 - 1.0 / math.max(1, opWalls.size)

    val e2e = LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "wall_s" -> median(untracedWall),
      "op_p50_s" -> quantile(opWalls, 0.5),
      "op_tail_s" -> quantile(opWalls, tailQ),
      "peak_rss_mb" -> peakRssMb)

    val layers = if (trace) layerMetrics(w, recs.toSeq, passWall.toSeq, cores, probes,
      median(tracedWall) / overheadBase - 1.0) else LinkedHashMap.empty[String, Double]

    val timedFailed = recs.count(_.error.nonEmpty)
    val record = LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> Runtime.getRuntime.availableProcessors(), "spark_cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "jvm_flags" -> scala.jdk.CollectionConverters.ListHasAsScala(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments).asScala.toSeq,
      "spark_version" -> spark.version,
      "size" -> w.size,
      "setup" -> LinkedHashMap("session_s" -> sessionS, "generate_s" -> genS,
        "check_s" -> checkS, "warm_passes_s" -> warmPassS, "warmup_s" -> warm),
      "passes" -> passWall.map { case (p, t, s) =>
        LinkedHashMap("pass" -> p, "traced" -> t, "wall_s" -> s) },
      "measured_s" -> measuredS,
      "op_tail_percentile" -> tailQ * 100, "op_samples" -> opWalls.size,
      "attempted" -> (recs.size + checks.size),
      "failed" -> (timedFailed + checks.count(_._2.nonEmpty)),
      "errors" -> (recs.flatMap(r => r.error.map(e => s"${r.name}[${r.pass}]: $e")) ++
        checks.flatMap { case (n, e) => e.map(x => s"check $n: $x") }),
      "checks" -> checks.map(_._1),
      "end_to_end" -> e2e,
      "per_layer" -> layers,
      "extra" -> w.extra(median(untracedWall)),
      "ops" -> recs.map { r =>
        LinkedHashMap[String, Any]("name" -> r.name, "pass" -> r.pass, "traced" -> r.traced,
          "wall_s" -> r.wallS, "build_s" -> r.buildS, "exec_s" -> r.execS,
          "error" -> r.error.getOrElse(""), "rounds" -> r.rounds.size) ++
          r.layer.map(l => LinkedHashMap[String, Any]("jobs" -> l.jobs,
            "shuffle_bytes" -> (l.shuffleWriteB + l.shuffleReadB),
            "leaked_rdds" -> l.leak.rdds, "cache_entries" -> l.leak.cacheEntries))
            .getOrElse(Nil)
      },
      "plan_flips" -> planFlips(recs.toSeq))
    java.nio.file.Files.writeString(out.toPath, Json(record))
    spark.stop()
  }

  /** Runs one output check; an exception is a failed check. */
  def guard(name: String)(body: => Option[String]): (String, Option[String]) =
    name -> (try body catch { case NonFatal(e) => Some(message(e)) })

  def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).take(300)

  /** A line in the JVM log, so a run that times out shows how far it got. */
  def progress(msg: String): Unit = System.err.println(s"perfbench: $msg s")

  def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def runOp(spark: SparkSession, op: Op, pass: Int, ledger: Option[Ledger]): Rec = {
    graft.RoundClock.drain()
    val before = ledger.map(_.snap())
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    val err = try {
      val x = op.build()
      t1 = System.nanoTime()
      noop(x)
      None
    } catch {
      case NonFatal(e) => Some(message(e))
    }
    val t2 = System.nanoTime()
    val w1 = System.currentTimeMillis()
    val rounds = graft.RoundClock.drain().map(_.sec)
    val layer = ledger.zip(before).map { case (l, b) =>
      val s = l.snap()
      val (jobMs, busy) = l.jobsSince(b, w0, w1)
      Layer(s.jobs - b.jobs, s.tasks - b.tasks, jobMs, busy,
        (s.runMs - b.runMs) / 1e3, (s.cpuNs - b.cpuNs) / 1e9, (s.gcMs - b.gcMs) / 1e3,
        s.shuffleWrite - b.shuffleWrite, s.shuffleRead - b.shuffleRead, s.spill - b.spill,
        s.bytesRead - b.bytesRead, s.bytesWritten - b.bytesWritten,
        s.executions - b.executions, s.planMs - b.planMs, Leaks.look(spark))
    }
    Leaks.sweep(spark)
    Rec(op.name, pass, ledger.nonEmpty, (t2 - t0) / 1e9, (t1 - t0) / 1e9,
      (t2 - t1) / 1e9, err, rounds, layer)
  }

  def noop(d: Dataset[_]): Unit = d.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Linear-interpolated quantile of an already sorted sample. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Ops whose job count or shuffle bytes differ between traced passes. */
  def planFlips(recs: Seq[Rec]): Seq[LinkedHashMap[String, Any]] =
    recs.filter(r => r.traced && r.error.isEmpty).groupBy(_.name).toSeq.sortBy(_._1)
      .flatMap { case (name, rs) =>
        val shapes = rs.flatMap(_.layer).map(l => (l.jobs, l.shuffleWriteB + l.shuffleReadB))
        if (shapes.distinct.size > 1)
          Some(LinkedHashMap[String, Any]("op" -> name,
            "jobs" -> shapes.map(_._1), "shuffle_bytes" -> shapes.map(_._2)))
        else None
      }

  val MB = 1024.0 * 1024.0

  def layerMetrics(w: Workload, recs: Seq[Rec], passes: Seq[(Int, Boolean, Double)],
      cores: Int, probes: LinkedHashMap[String, Double], overhead: Double)
      : LinkedHashMap[String, Double] = {
    val ok = recs.filter(_.error.isEmpty)
    val traced = ok.filter(_.traced)
    val ls = traced.flatMap(_.layer)
    val tracedPasses = passes.filter(_._2)
    // per-pass sum of a layer field, median over traced passes
    def perPass(f: Layer => Double): Double =
      median(tracedPasses.map { case (p, _, _) => traced.filter(_.pass == p).flatMap(_.layer).map(f).sum })
    def perOp(f: Layer => Double): Double = if (ls.isEmpty) 0.0 else ls.map(f).sum / ls.size
    def passMedian(f: Rec => Double): Double =
      median(passes.map { case (p, _, _) => ok.filter(_.pass == p).map(f).sum })
    val rounds = ok.flatMap(_.rounds).sorted
    val jobMs = ls.flatMap(_.jobMs).sorted
    val opWall = traced.map(_.wallS).sum
    val passWallTraced = median(tracedPasses.map(_._3))
    val runS = perPass(_.runS)
    val m = LinkedHashMap[String, Double](
      "query.build_s" -> passMedian(_.buildS),
      "query.exec_s" -> passMedian(_.execS))
    m ++= w.kernelMetrics(traced)
    m ++= w.pipelineMetrics(ok)
    m ++= w.ioMetrics(probes, perPass(_.readB.toDouble), perPass(_.writeB.toDouble))
    m ++= LinkedHashMap(
      "ops.rounds_per_op" -> (if (ok.isEmpty) 0.0 else rounds.size.toDouble / ok.size),
      "ops.round_ms_p50" -> quantile(rounds, 0.5) * 1e3,
      "spark.catalyst.executions_per_op" -> perOp(_.executions.toDouble),
      "spark.catalyst.plan_ms" -> perOp(_.planMs),
      "spark.scheduler.jobs_per_op" -> perOp(_.jobs.toDouble),
      "spark.scheduler.tasks_per_job" -> {
        val j = ls.map(_.jobs).sum; if (j == 0) 0.0 else ls.map(_.tasks).sum.toDouble / j },
      "spark.scheduler.job_ms_p50" -> quantile(jobMs, 0.5),
      "spark.scheduler.idle_share" ->
        (if (opWall <= 0) 0.0 else 1.0 - ls.map(_.busyMs).sum / 1e3 / opWall),
      "spark.scheduler.plan_flip_ops" -> planFlips(recs).size.toDouble,
      "spark.executor.run_s" -> runS,
      "spark.executor.cpu_s" -> perPass(_.cpuS),
      "spark.executor.gc_s" -> perPass(_.gcS),
      "spark.executor.core_util" -> (if (passWallTraced <= 0) 0.0 else runS / (passWallTraced * cores)),
      "spark.shuffle.write_mb" -> perPass(_.shuffleWriteB / MB),
      "spark.shuffle.read_mb" -> perPass(_.shuffleReadB / MB),
      "spark.shuffle.spill_mb" -> perPass(_.spillB / MB),
      "spark.cache.leaked_rdds_per_op" -> perOp(_.leak.rdds.toDouble),
      "spark.cache.leaked_mb" -> perPass(_.leak.bytes / MB),
      "spark.cache.ops_leaking" ->
        traced.filter(_.layer.exists(l => l.leak.rdds > 0 || l.leak.cacheEntries > 0))
          .map(_.name).distinct.size.toDouble,
      "trace.overhead" -> overhead)
    m
  }

  /** Minimal JSON writer for the run record. */
  object Json {
    def apply(v: Any): String = v match {
      case null | None => "null"
      case Some(x) => apply(x)
      case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
      case b: Boolean => b.toString
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case f: Float => apply(f.toDouble)
      case n: Int => n.toString
      case n: Long => n.toString
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
      case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
      case other => apply(other.toString)
    }
  }
}

/** A workload: its inputs, its ops per pass, its output checks and the
  * layer numbers only it can give. */
trait Workload {
  def size: Map[String, Any]
  def generate(dir: String): Unit
  /** The ops of pass `n`, in the order they run (timed pass p is
    * n = p + 1; warm passes are n <= 0). */
  def ops(n: Int): Seq[Main.Op]
  /** Untimed passes of the timed ops after the check pass. */
  def warmPasses: Int
  /** The warm-up: runs every op's code path once, untimed, and checks
    * the outputs: (check name, error or None). */
  def warmCheck(): Seq[(String, Option[String])]
  /** Trace-only probes: named seconds. */
  def probes(ledger: Ledger): LinkedHashMap[String, Double] = LinkedHashMap.empty
  /** Output checks the probes ran. */
  def probeChecks: Seq[(String, Option[String])] = Nil
  def kernelMetrics(traced: Seq[Main.Rec]): LinkedHashMap[String, Double] = LinkedHashMap(
    "kernel.play_ms_p50" -> 0.0, "kernel.play_ms_p99" -> 0.0, "kernel.cpu_share" -> 0.0)
  def pipelineMetrics(ok: Seq[Main.Rec]): LinkedHashMap[String, Double] = LinkedHashMap(
    "pipelines.yap_run_s" -> 0.0, "pipelines.max_params_run_s" -> 0.0,
    "pipelines.play_frames_s" -> 0.0, "pipelines.emit_rows" -> 0.0)
  /** io numbers; `readB` and `writeB` are the bytes a traced pass read
    * and wrote. */
  def ioMetrics(probes: LinkedHashMap[String, Double], readB: Double, writeB: Double)
      : LinkedHashMap[String, Double] = LinkedHashMap(
    "io.csv_scan_s" -> 0.0, "io.csv_rejects_s" -> 0.0, "io.csv_write_s" -> 0.0,
    "io.run_season_s" -> 0.0, "io.read_mb" -> readB / Main.MB, "io.write_mb" -> writeB / Main.MB,
    "io.read_amplification" -> 0.0)
  /** Extra numbers for the human-readable summary. */
  def extra(wallS: Double): Map[String, Double] = Map.empty
}

object Workload {
  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()

  def fresh(dir: String): String = {
    org.apache.commons.io.FileUtils.deleteQuietly(new File(dir))
    new File(dir).mkdirs()
    dir
  }
}
