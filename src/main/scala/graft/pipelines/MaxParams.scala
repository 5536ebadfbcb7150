package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** EP2 — max pursuit parameters (K5/K6, optimal_pursuit.py:193-259;
  * calculate_max_params.py): for each (game, play, tackler), the max
  * observed speed and acceleration between the frame the ball carrier
  * gets the ball and the frame the tackler is first within R_t of him.
  *
  * The same shape as EP1 over ONE scan of tracking: the role-tagged
  * carrier + tackler frames ([[Yap.roleFrames]]), plus one frameless row
  * per listed tackle, are grouped on (gameId, playId) by Spark's grouped
  * operator (one exchange and sort on the play columns), and a per-play
  * Scala pass ([[ofPlay]]) computes the start boundary (W1), the first
  * crossing (W3) and the range max (A7) from one play's rows. Null play
  * keys form one group, as SQL's GROUP BY does. The frameless rows make
  * the pass's output exactly one row per listed tackle, so nothing joins
  * back to tackles; only the broadcast players dim is joined after it.
  * The DuckDB twin (`k5_max_params`) is the authority on the semantics.
  */
object MaxParams {

  /** The columns the pass reads of one role-tagged frame; `isCarrier` is
    * empty on a listed tackle's frameless row. Every field is an Option,
    * ids included: a CSV token `Sources.csv`'s `try_cast` nulled stays
    * null, as it does in SQL. */
  final case class Frame(gameId: Option[Long], playId: Option[Long], nflId: Option[Long],
      frameId: Option[Int], isCarrier: Option[Boolean], x: Option[Double], y: Option[Double],
      s: Option[Double], a: Option[Double], event: Option[String])

  final case class Out(game_ID: Option[Long], play_ID: Option[Long], NFL_ID: Option[Long],
      max_vel: Option[Double], max_accel: Option[Double])

  /** @return (game_ID, play_ID, NFL_ID, name, position, max_vel,
    *         max_accel) with nulls where the tackler never enters the
    *         vicinity (the reference's NaN rows). */
  def run(spark: SparkSession, tracking: DataFrame, plays: DataFrame,
      players: DataFrame, tackles: DataFrame, rT: Double = 1.0): DataFrame = {
    import spark.implicits._
    val frames = Yap.roleFrames(tracking, plays, tackles)
      .unionByName(tackles.select("gameId", "playId", "nflId"), allowMissingColumns = true)
      .select("gameId", "playId", "nflId", "frameId", "isCarrier", "x", "y", "s", "a", "event")
      .as[Frame]
    frames.groupBy("gameId", "playId").as[(Option[Long], Option[Long]), Frame]
      .flatMapGroups((_, it) => ofPlay(it.toSeq, rT))
      .join(broadcast(players.select(col("nflId").as("NFL_ID"), col("displayName").as("name"),
        col("position"))), Seq("NFL_ID"), "left")
      .select("game_ID", "play_ID", "NFL_ID", "name", "position", "max_vel", "max_accel")
  }

  /** EP2 over one play's rows: one [[Out]] per distinct listed nflId.
    * SQL's null semantics throughout: a null key matches nothing (a
    * listed null nflId gets null metrics), a row with a null frameId or
    * coordinate never crosses, and the max skips null speeds and
    * accelerations (null when no frame is in range). */
  private[pipelines] def ofPlay(rows: Seq[Frame], rT: Double): Iterator[Out] = {
    val (carrier, tackler) = rows.filter(_.isCarrier.isDefined).partition(_.isCarrier.get)
    def firstCarrierFrame(at: String => Boolean) =
      carrier.filter(_.event.exists(at)).flatMap(_.frameId).minOption
    // W1: start boundary, with the ball_snap fallback
    val start = firstCarrierFrame(Yap.startEvents).orElse(firstCarrierFrame(_ == "ball_snap"))
    // every carrier position at each frame: a duplicated carrier frame
    // keeps all its rows, as the twin's frame-aligned join does
    val carrierAt: Map[Int, Seq[(Double, Double)]] =
      carrier.flatMap(r => for (f <- r.frameId; x <- r.x; y <- r.y) yield f -> (x, y))
        .groupMap(_._1)(_._2)
    val byTackler = tackler.groupBy(_.nflId)
    val head = rows.head
    rows.filter(_.isCarrier.isEmpty).map(_.nflId).distinct.iterator.map { id =>
      val own = byTackler.getOrElse(id, Nil)
      // W3: first crossing strictly after start. sqrt(dx²+dy²) rather
      // than hypot: bit-identical to the DuckDB twin (hypot's
      // overflow-guarded algorithm can differ by 1 ulp)
      val vic = start.flatMap(s0 => own.flatMap { r =>
        for {
          f <- r.frameId if f > s0
          x <- r.x; y <- r.y
          cs <- carrierAt.get(f) if cs.exists { case (xc, yc) =>
            math.sqrt((xc - x) * (xc - x) + (yc - y) * (yc - y)) < rT }
        } yield f
      }.minOption)
      // A7: range max over [start, crossing); NaN ranks highest, as in SQL
      val inRange = vic.fold(Seq.empty[Frame])(v =>
        own.filter(_.frameId.exists(f => f >= start.get && f < v)))
      Out(head.gameId, head.playId, id,
        inRange.flatMap(_.s).maxOption(Ordering.Double.TotalOrdering),
        inRange.flatMap(_.a).maxOption(Ordering.Double.TotalOrdering))
    }
  }
}
