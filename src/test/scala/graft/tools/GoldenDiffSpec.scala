package graft.tools

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The golden-replication diff machinery exercised WITHOUT the Kaggle
  * inputs (VERDICT r7 next §6): the synthetic demo season's engine YAP
  * output is diffed against an identical copy (everything must match)
  * and against a deliberately corrupted copy (exactly the planted
  * findings must surface). When the tracking CSVs are ever mounted,
  * GoldenDiff.main runs the same code against tackler_YAP_FINAL.csv in
  * the reference data directory (`graft.io.Sources.referenceDir`). */
class GoldenDiffSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A real engine YAP relation: the synthetic season (12 plays)
    * through the full EP1 pipeline's yap sink. */
  private lazy val engineYap = {
    val n = 12
    val t = graft.pipelines.SyntheticSeason.tracking(spark, n)
    val p = graft.pipelines.SyntheticSeason.plays(spark, n)
    val pl = graft.pipelines.SyntheticSeason.players(spark)
    val tk = graft.pipelines.SyntheticSeason.tackles(spark, n)
    graft.pipelines.Yap.sinks(
      graft.pipelines.Yap.run(spark, t, p, pl, tk, 1.0))._1
      .filter(col("YAP").isNotNull)
      .cache()
  }

  test("identical copy: every row matches, no out-of-tolerance, symmetric keys") {
    val n = engineYap.count()
    assert(n > 0)
    val r = GoldenDiff.diff(engineYap, engineYap, 0.011)
    assert(r.joined == n && r.within == n && r.out == 0)
    assert(r.engineOnly == 0 && r.goldenOnly == 0)
    assert(r.nullBoth == 0 && r.nullMismatch == 0)
    assert(r.maxAbsDelta == 0.0)
  }

  test("null YAP semantics: both-null agrees, one-sided null is its own finding") {
    // the golden file writes the reference's infeasible-YAP rows as
    // empty fields (1,174 of 17,420) — the diff must score them as
    // agreement when the engine also returns null, and flag them when
    // only one side does
    val withNull = engineYap.limit(1)
      .withColumn("YAP", lit(null).cast("double"))
      .unionByName(engineYap.except(engineYap.limit(1)))
    val agree = GoldenDiff.diff(withNull, withNull, 0.011)
    assert(agree.nullBoth == 1 && agree.nullMismatch == 0 && agree.out == 0)
    val oneSided = GoldenDiff.diff(engineYap, withNull, 0.011)
    assert(oneSided.nullMismatch == 1 && oneSided.nullBoth == 0, oneSided.toString)
  }

  test("corrupted copy: the one perturbed value, one dropped row, one extra row all surface") {
    import spark.implicits._
    val rows = engineYap.orderBy("game_ID", "play_ID", "NFL_ID").collect()
    assert(rows.length >= 3, "need at least 3 yap rows for the plant")
    val keyOf = (r: org.apache.spark.sql.Row) =>
      (r.getAs[Long]("game_ID"), r.getAs[Long]("play_ID"), r.getAs[Long]("NFL_ID"))
    val perturbKey = keyOf(rows(0))
    val dropKey = keyOf(rows(1))
    val golden = engineYap
      .filter(!(col("game_ID") === dropKey._1 && col("play_ID") === dropKey._2 &&
        col("NFL_ID") === dropKey._3)) // dropped row → engine-only
      .withColumn("YAP",
        when(col("game_ID") === perturbKey._1 && col("play_ID") === perturbKey._2 &&
          col("NFL_ID") === perturbKey._3, col("YAP") + 0.5)
          .otherwise(col("YAP"))) // perturbed value → out-of-tolerance
      .unionByName(Seq((999999L, 1L, 1L, "ghost", "CB", 1.23))
        .toDF("game_ID", "play_ID", "NFL_ID", "name", "position", "YAP")) // extra
    val r = GoldenDiff.diff(engineYap, golden, 0.011)
    assert(r.out == 1, s"exactly the perturbed row out of tolerance: $r")
    assert(math.abs(r.maxAbsDelta - 0.5) < 1e-9, r.toString)
    assert(r.engineOnly == 1, s"exactly the dropped row engine-only: $r")
    assert(r.goldenOnly == 1, s"exactly the ghost row golden-only: $r")
    // the 0.25 drift band still excludes a 0.5 perturbation
    assert(r.bands.last._2 == r.joined - 1, r.toString)
  }
}
