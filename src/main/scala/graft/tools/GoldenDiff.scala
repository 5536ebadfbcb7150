package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Flag-gated EP1 golden-replication harness (VERDICT r7 next §6,
  * SURVEY §5.4): diff an engine YAP run against the reference's
  * committed season output `tackler_YAP_FINAL.csv` (17,420 rows,
  * schema game_ID,play_ID,NFL_ID,name,position,YAP).
  *
  * The Kaggle tracking CSVs are not in this sandbox, so the REAL
  * invocation is gated on them ever being mounted:
  *
  *   runMain graft.tools.RunSeason  <kaggleDir> <outDir>
  *   runMain graft.tools.GoldenDiff <outDir>/tackler_YAP \
  *     $SPARK_GRAFT_REFERENCE_DIR/tackler_YAP_FINAL.csv [tolerance]
  *
  * (`graft.io.Sources.referenceDir` resolves that setting and its
  * default.)
  *
  * Tolerance bands: the reference rounds YAP to 2 decimals
  * (optimal_pursuit.py:560), so ±0.011 is the rounding-exact band;
  * wider bands (0.05 / 0.25) price residual RK45 solver drift
  * (SURVEY §7.4-1: scipy's dense-output interpolant vs ours can
  * differ in the last steps near the feasibility boundary). The
  * report counts every band, the out-of-band offenders, and the keys
  * present on only one side — a replication claim is the three
  * numbers (band counts, max |Δ|, key symmetry), not a boolean.
  *
  * The diff MACHINERY is exercised today (no Kaggle data needed) by
  * GoldenDiffSpec: a synthetic engine output diffed against (a) an
  * identical copy → all-match, and (b) a copy with one perturbed
  * value, one dropped row, one extra row → exactly those three
  * findings. See BASELINE.md §golden-replication for the dry run.
  */
object GoldenDiff {

  final case class Report(
      engineRows: Long, goldenRows: Long, joined: Long,
      within: Long, out: Long, maxAbsDelta: Double,
      nullBoth: Long, nullMismatch: Long,
      engineOnly: Long, goldenOnly: Long, bands: Seq[(Double, Long)])

  private val keys = Seq("game_ID", "play_ID", "NFL_ID")

  /** Normalize either side to (keys, YAP double, presence marker). The
    * golden file writes the reference's NaN YAP rows (tackler never
    * reached vicinity / no feasible horizon) as EMPTY fields — 1,174 of
    * 17,420 — which cast to null; a null-vs-null pair is an AGREEMENT
    * on infeasibility, and a one-sided null is its own finding class,
    * so presence is tracked separately from the value. */
  private def norm(df: DataFrame, marker: String): DataFrame =
    df.select(col("game_ID").cast("long"), col("play_ID").cast("long"),
      col("NFL_ID").cast("long"), col("YAP").cast("double"),
      lit(true).as(marker))

  def diff(engine: DataFrame, golden: DataFrame, tol: Double): Report = {
    val e = norm(engine, "in_e").withColumnRenamed("YAP", "yap_e")
    val g = norm(golden, "in_g").withColumnRenamed("YAP", "yap_g")
    val j = e.join(g, keys, "full_outer").persist()
    val both = j.filter(col("in_e") && col("in_g"))
    val valued = both.filter(col("yap_e").isNotNull && col("yap_g").isNotNull)
    val delta = valued.select(abs(col("yap_e") - col("yap_g")).as("d")).persist()
    val bands = Seq(tol, 0.05, 0.25).map { b =>
      b -> delta.filter(col("d") <= b).count()
    }
    val rep = Report(
      engineRows = e.count(), goldenRows = g.count(), joined = both.count(),
      within = bands.head._2,
      out = delta.filter(col("d") > tol).count(),
      maxAbsDelta = delta.agg(max(col("d"))).head.getAs[Any](0) match {
        case null => 0.0
        case v: Double => v
      },
      nullBoth = both.filter(col("yap_e").isNull && col("yap_g").isNull).count(),
      nullMismatch = both.filter(col("yap_e").isNull =!= col("yap_g").isNull).count(),
      engineOnly = j.filter(col("in_g").isNull).count(),
      goldenOnly = j.filter(col("in_e").isNull).count(),
      bands = bands)
    j.unpersist(); delta.unpersist()
    rep
  }

  def render(r: Report): String = {
    val bandStr = r.bands.map { case (b, n) => f"<=$b%.3f:$n" }.mkString(" ")
    f"""[golden-diff] engine=${r.engineRows} golden=${r.goldenRows} joined=${r.joined}
       |[golden-diff] within-tolerance=${r.within} out=${r.out} max|d|=${r.maxAbsDelta}%.4f
       |[golden-diff] bands: $bandStr
       |[golden-diff] null-agreement=${r.nullBoth} null-mismatch=${r.nullMismatch}
       |[golden-diff] engine-only-keys=${r.engineOnly} golden-only-keys=${r.goldenOnly}""".stripMargin
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GoldenDiff <engineYapCsvDir> <goldenCsv> [tolerance]")
    val tol = if (args.length >= 3) args(2).toDouble else 0.011
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val engine = spark.read.option("header", "true").csv(args(0))
    val golden = spark.read.option("header", "true").csv(args(1))
    println(render(diff(engine, golden, tol)))
    spark.stop()
  }
}
