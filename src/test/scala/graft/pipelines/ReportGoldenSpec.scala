package graft.pipelines

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.io.Sources

/** EP3 on REAL data: the reporting chain runs over the reference's own
  * committed metric outputs (Data/tackler_*_FINAL.csv, the full
  * BDB-2024 season — 17,420 (play, tackler) rows per table) and must
  * reproduce goldens computed independently with SQL over the same
  * files (pandas-equivalent semantics: NaN-skipping mean/count, clamp,
  * recode, support filter ≥ 50). */
class ReportGoldenSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  // the reference directory is one setting (Sources.ReferenceDirSetting);
  // when it is missing every test fails with the message naming it
  private def data(file: String) = Sources.referenceFile(file)

  private lazy val report = Report.playerReport(
    Sources.csv(spark, data("tackler_YAP_FINAL.csv"), Sources.yapMetricSchema),
    Sources.csv(spark, data("tackler_max_params_FINAL.csv"), Sources.maxParamsMetricSchema),
    Sources.csv(spark, data("tackler_max_params_opt_FINAL.csv"), Sources.maxParamsMetricSchema))
    .collect()

  test("golden ingestion: 17,420 metric rows, 16,246 with a YAP value") {
    val yap = Sources.csv(spark, data("tackler_YAP_FINAL.csv"), Sources.yapMetricSchema)
    assert(yap.count() == 17420)
    // pandas writes NaN as an empty field; the reader lands it as null
    // (the engine's missing-value convention, SURVEY §7.4-2) — count of
    // usable YAP values matches pandas' NaN-skipping count
    import org.apache.spark.sql.functions._
    assert(yap.filter(col("YAP").isNotNull && !isnan(col("YAP"))).count() == 16246)
  }

  test("top players by mean clamped YAP (support ≥ 50) match the golden ranking") {
    val top5 = report.take(5).map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getDouble(4)))
    assert(top5(0) == (46669L, "Jonathan Owens", 66L, 3.9977), s"got ${top5(0)}")
    assert(top5(1) == (52852L, "Myles Hartsfield", 53L, 3.737), s"got ${top5(1)}")
    assert(top5(2) == (46259L, "DeShon Elliott", 51L, 3.5024), s"got ${top5(2)}")
    assert(top5(3) == (54487L, "Quay Walker", 56L, 3.3382), s"got ${top5(3)}")
    assert(top5(4) == (47913L, "Drue Tranquill", 73L, 3.0875), s"got ${top5(4)}")
  }

  test("every reported player clears the support filter") {
    assert(report.nonEmpty)
    assert(report.forall(_.getLong(3) >= 50L))
  }

  test("per-position max-params describe + correlation match golden values") {
    val rows = Report.maxParamsReport(
      Sources.csv(spark, data("tackler_max_params_FINAL.csv"), Sources.maxParamsMetricSchema))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      .toMap
    assert(rows("DB") == ((7238L, 5.7108, 1.7489, 5.64, 4.2313, -0.0163)), s"DB: ${rows("DB")}")
    assert(rows("DE") == ((1366L, 3.9682, 1.7844, 3.685, 2.8743, 0.4888)), s"DE: ${rows("DE")}")
    assert(rows("LB") == ((5704L, 5.1131, 1.882, 4.96, 3.9542, 0.0997)), s"LB: ${rows("LB")}")
    assert(rows("T") == ((2020L, 3.4163, 1.6216, 3.16, 2.5282, 0.4309)), s"T: ${rows("T")}")
  }

  test("position recode covers the season's tackler positions") {
    // recoded universe on this data: DB, LB, T, DE
    val positions = report.map(_.getString(2)).toSet
    assert(positions.subsetOf(Set("DB", "LB", "T", "DE")), s"got $positions")
  }
}
