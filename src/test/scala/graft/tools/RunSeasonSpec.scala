package graft.tools

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.pipelines.DemoPlays

/** RunSeason must reproduce the demo pipeline outputs from CSVs laid
  * out the way the real Kaggle BDB files are: extra columns interposed
  * and a different column order than our schemas — exercising the
  * header-name binding end to end (a positional reader would map
  * garbage into x/y and the kernel outputs would change). */
class RunSeasonSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val root =
    TestSpark.tempDir("runseason").toFile.getAbsolutePath

  /** Writes the Kaggle-layout input CSVs once and returns their directory. */
  private lazy val in: String = {
    val in = s"$root/input"

    // Kaggle tracking order: displayName/jerseyNumber interposed
    DemoPlays.tracking(spark).selectExpr(
      "gameId", "playId", "nflId", "'Someone' AS displayName", "frameId", "time",
      "7 AS jerseyNumber", "club", "playDirection", "x", "y", "s", "a", "dis",
      "o", "dir", "event")
      .coalesce(1).write.option("header", "true").csv(s"$in/tracking_week_1.csv")
    // Kaggle plays order: ballCarrierDisplayName/playDescription/quarter/down
    // interposed between the columns our schema asks for
    DemoPlays.plays(spark).selectExpr(
      "gameId", "playId", "ballCarrierId", "'Someone' AS ballCarrierDisplayName",
      "'a run play' AS playDescription", "1 AS quarter", "2 AS down",
      "25 AS yardlineNumber", "10 AS yardsToGo", "'AAA' AS yardlineSide",
      "'AAA' AS possessionTeam", "'BBB' AS defensiveTeam", "5 AS playResult",
      "5 AS prePenaltyPlayResult", "'N' AS playNullifiedByPenalty")
      .coalesce(1).write.option("header", "true").csv(s"$in/plays.csv")
    DemoPlays.players(spark).selectExpr(
      "nflId", "'1990-01-01' AS birthDate", "displayName", "position")
      .coalesce(1).write.option("header", "true").csv(s"$in/players.csv")
    DemoPlays.tackles(spark).selectExpr(
      "gameId", "playId", "nflId", "1 AS tackle", "0 AS assist")
      .coalesce(1).write.option("header", "true").csv(s"$in/tackles.csv")

    // one corrupt shard: x carries a non-numeric token ("12.x4") that
    // the typed cast would silently null — must land in parse_rejects,
    // not vanish (its gameId matches no play, so the kernel path drops
    // it either way; the reject sweep is what makes it visible)
    import spark.implicits._
    Seq(("999", "1", "201", "Nobody", "1", "2022-09-08 20:01:00.000000",
         "7", "AAA", "left", "12.x4", "20.0", "0.0", "0.0", "0.0", "90.0",
         "90.0", ""))
      .toDF("gameId", "playId", "nflId", "displayName", "frameId", "time",
        "jerseyNumber", "club", "playDirection", "x", "y", "s", "a", "dis",
        "o", "dir", "event")
      .coalesce(1).write.option("header", "true").csv(s"$in/tracking_week_2.csv")
    in
  }

  private lazy val firstRun = RunSeason.run(spark, in, s"$root/out", 1.0)

  test("RunSeason reproduces demo outputs from Kaggle-layout CSVs") {
    val out = s"$root/out"
    val counts = firstRun
    assert(counts("tackler_YAP") == 2, counts)      // 201, 202 (203 dead-letters)
    assert(counts("max_params_opt") == 2, counts)
    assert(counts("max_params") == 3, counts)       // EP2 keeps all tacklers
    assert(counts("optimal_paths") > 0, counts)
    assert(counts("run_errors") == 1, counts)       // unknown position 'QB'
    assert(counts("parse_rejects") == 1, counts)    // the "12.x4" x token

    val rej = spark.read.option("header", "true").csv(s"$out/parse_rejects").collect()
    assert(rej(0).getAs[String]("bad_fields") == "x", rej.mkString)

    // the catchable tackler's YAP survives the CSV round trip: 0.0 on a
    // stationary carrier (PipelinesSpec's hand-computed expectation)
    val yap = spark.read.option("header", "true").csv(s"$out/tackler_YAP")
      .where("NFL_ID = 201").collect()
    assert(yap.length == 1 && yap(0).getAs[String]("YAP").toDouble == 0.0)
  }

  test("RunSeason releases the kernel emits it caches, with unchanged counts") {
    firstRun
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val counts = RunSeason.run(spark, in, s"$root/out_again", 1.0)
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"RunSeason.run left persisted RDDs $left")
    assert(counts == firstRun)
  }
}
