package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EP2 — max pursuit parameters (K5/K6, optimal_pursuit.py:193-259;
  * calculate_max_params.py): for each (game, play, tackler), the max
  * observed speed and acceleration between the frame the ball carrier
  * gets the ball and the frame the tackler is first within R_t of him.
  *
  * Fully relational (SURVEY §2.9 K5) over ONE scan of tracking: the
  * role-tagged carrier + tackler frames ([[Yap.roleFrames]]), plus one
  * frameless row per listed tackle, go through one exchange on
  * (gameId, playId). Per-play windows follow — the start boundary (W1,
  * partition by play), the carrier's position at each frame (partition
  * by play and frame), the first crossing (W3, partition by play and
  * tackler) — and the range max (A7) is a groupBy that the same
  * exchange already satisfies, whose groups are exactly the listed
  * tackles. No UDF, no per-group kernel, no self-join, no join back to
  * tackles. The DuckDB twin (`k5_max_params`) is the authority on the
  * semantics.
  */
object MaxParams {

  private val startSet = Seq("handoff", "pass_outcome_caught", "run", "snap_direct")

  /** @return (game_ID, play_ID, NFL_ID, name, position, max_vel,
    *         max_accel) with nulls where the tackler never enters the
    *         vicinity (the reference's NaN rows). */
  def run(spark: SparkSession, tracking: DataFrame, plays: DataFrame,
      players: DataFrame, tackles: DataFrame, rT: Double = 1.0): DataFrame = {
    val play = Seq(col("gameId"), col("playId"))
    val carrier = col("isCarrier")
    val tackler = !col("isCarrier")
    def firstCarrierFrame(at: Column) = min(when(carrier && at, col("frameId"))).over(
      Window.partitionBy(play: _*))

    val frames = Yap.roleFrames(tracking, plays, tackles)
      // one row per listed tackle with every frame column (and isCarrier)
      // null: inert in the windows below, it gives each listed tackler its
      // output group, metrics null when no frame is in range
      .unionByName(tackles.select("gameId", "playId", "nflId"), allowMissingColumns = true)
      // W1: start boundary per play, with ball_snap fallback; the first
      // window, so its (gameId, playId) exchange is the only one
      .withColumn("startFrame", coalesce(
        firstCarrierFrame(col("event").isin(startSet: _*)),
        firstCarrierFrame(col("event") === "ball_snap")))
      // every carrier position at this frame (a duplicated carrier frame
      // keeps all its rows, as the twin's frame-aligned join does)
      .withColumn("carrierXY", collect_list(when(carrier, struct(col("x"), col("y"))))
        .over(Window.partitionBy(play :+ col("frameId"): _*)))
      // W3: first crossing strictly after start. sqrt(dx²+dy²) rather
      // than hypot: bit-identical in Spark and the DuckDB oracle (hypot's
      // overflow-guarded algorithm can differ by 1 ulp)
      .withColumn("vicFrame", min(when(tackler && col("frameId") > col("startFrame") &&
        exists(col("carrierXY"), c => sqrt((c("x") - col("x")) * (c("x") - col("x")) +
          (c("y") - col("y")) * (c("y") - col("y"))) < rT), col("frameId")))
        .over(Window.partitionBy(play :+ col("nflId"): _*)))

    // A7: range max over [startFrame, vicFrame), one row per listed tackle
    frames
      .filter(carrier.isNull ||
        (tackler && col("frameId") >= col("startFrame") && col("frameId") < col("vicFrame")))
      .groupBy("gameId", "playId", "nflId")
      .agg(max(col("s")).as("max_vel"), max(col("a")).as("max_accel"))
      .join(broadcast(players.select("nflId", "displayName", "position")), Seq("nflId"), "left")
      .select(col("gameId").as("game_ID"), col("playId").as("play_ID"),
        col("nflId").as("NFL_ID"), col("displayName").as("name"),
        col("position"), col("max_vel"), col("max_accel"))
  }
}
