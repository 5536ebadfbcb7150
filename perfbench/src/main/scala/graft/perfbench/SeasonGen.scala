package graft.perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit, when}

/** Seeded synthetic tackle season for the benchmark.
  *
  * Each play is a pure function of (seed, play index), so the inputs are
  * identical for a seed on every run, partitioning and core count. The
  * tackler mix varies what the YAP kernel's cost depends on:
  *   - `near` tacklers close on the carrier early, so the growing-horizon
  *     search stops after a few LQR solves;
  *   - `late` tacklers chase from far away and reach the carrier near the
  *     end of the play, so the search solves many horizons;
  *   - `chase` tacklers start next to the carrier, swing wide and meet it
  *     only at the end, so the search solves nearly every horizon (the
  *     heavy tail);
  *   - `far` tacklers shadow the carrier and never come within R_t, so
  *     the kernel skips the search and YAP stays null;
  *   - tacklers whose roster position is outside the bounds ladder take
  *     the dead-letter path;
  *   - every play has 1 to 3 tacklers.
  * Besides the carrier and the tacklers, each frame carries the football
  * and [[Bystanders]] other players, rows the pipelines' joins must drop.
  *
  * The shares are set by measurement: the benchmark's serial sample of
  * 1,000 plays gives a p99 per-play kernel time 15-22x its p50, inside the
  * 15-25x band `graft.tools.KernelProfile` measures on its own synthetic
  * plays. A far tackler costs almost nothing and a chase tackler most, so
  * the far share sets the p50 and the chase share the p99.
  */
object SeasonGen {

  val NearShare = 0.15
  val LateShare = 0.05
  val ChaseShare = 0.20
  /** The rest of the tacklers are `far`. */
  val FarShare = 1.0 - NearShare - LateShare - ChaseShare
  /** Share of the roster whose position is outside the bounds ladder. */
  val UnknownShare = 0.05
  val Bystanders = 2
  /** `tracking_week_{w}.csv` shards of the CSV copy. */
  val Weeks = 3

  final case class Tackler(nflId: Long, kind: Int, x0: Double, y0: Double,
      meetFrame: Int, lateral: Double)
  final case class Play(index: Long, gameId: Long, playId: Long, carrierId: Long,
      rightward: Boolean, cx0: Double, cy0: Double, cvx: Double, cvy: Double,
      startFrame: Int, startEvent: String, stopFrame: Int, stopEvent: String,
      tacklers: Seq[Tackler])

  val Near = 0
  val Late = 1
  val Far = 2
  val Chase = 3
  val Frames = 60
  val RosterSize = 240
  val CarrierIds = 90
  private val known = Vector("CB", "FS", "SS", "DE", "MLB", "OLB", "ILB", "DT", "NT", "DB")
  private val unknown = Vector("WR", "TE", "OT", "K")
  private val starts = Vector("handoff", "pass_outcome_caught", "run")
  private val stops = Vector("tackle", "out_of_bounds", "tackle", "fumble")

  private def rng(seed: Long, salt: Long): scala.util.Random =
    new scala.util.Random(seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + 17L)

  /** Roster position of defender `k`: a seeded share of the roster plays
    * positions the kernel's bounds ladder does not list. */
  def position(seed: Long, k: Int): String = {
    val r = rng(seed, -1L - k)
    if (r.nextDouble() < UnknownShare) unknown(r.nextInt(unknown.size))
    else known(r.nextInt(known.size))
  }

  def defenderId(k: Int): Long = 5000L + k

  def play(seed: Long, p: Long): Play = {
    val r = rng(seed, p)
    val rightward = r.nextBoolean()
    val cx0 = 25.0 + r.nextDouble() * 30
    val cy0 = 8.0 + r.nextDouble() * 37
    val cvx = (if (rightward) 1 else -1) * (3.0 + r.nextDouble() * 4)
    val cvy = (r.nextDouble() - 0.5) * 1.5
    val startFrame = 5 + r.nextInt(6)
    val stopFrame = 55 + r.nextInt(5)
    val n = 1 + r.nextInt(3)
    val ids = r.shuffle((0 until RosterSize).toVector).take(n)
    val tacklers = ids.map { k =>
      val u = r.nextDouble()
      val kind = if (u < NearShare) Near
        else if (u < NearShare + LateShare) Late
        else if (u < NearShare + LateShare + ChaseShare) Chase else Far
      val (dist, meet) = kind match {
        case Near => (4.0 + r.nextDouble() * 8, startFrame + 8 + r.nextInt(18))
        case Late => (14.0 + r.nextDouble() * 14, 44 + r.nextInt(10))
        case Chase => (2.0 + r.nextDouble() * 3, 50 + r.nextInt(5))
        case _ => (0.0, 0)
      }
      val ang = r.nextDouble() * 2 * math.Pi
      Tackler(defenderId(k), kind, cx0 + dist * math.cos(ang), cy0 + dist * math.sin(ang),
        meet, (if (r.nextBoolean()) 1 else -1) * (3.0 + r.nextDouble() * 5))
    }
    Play(p, 2022000000L + p / 50, 1L + p % 50, 1L + (p % CarrierIds), rightward,
      cx0, cy0, cvx, cvy, startFrame, starts(r.nextInt(starts.size)),
      stopFrame, stops(r.nextInt(stops.size)), tacklers)
  }

  /** One tracking row (the Kaggle column layout minus the week shard). */
  final case class Row(gameId: Long, playId: Long, nflId: Option[Long], frameId: Int,
      time: Timestamp, club: String, playDirection: String, x: Double, y: Double,
      s: Double, a: Double, dis: Double, o: Double, dir: Double, event: Option[String])

  def rows(seed: Long, pl: Play): Seq[Row] = {
    val noise = rng(seed, 1000000007L + pl.index)
    val base = 1662667200000L + pl.index * 60000L
    val dirName = if (pl.rightward) "right" else "left"
    def cx(f: Int) = pl.cx0 + pl.cvx * 0.1 * f
    def cy(f: Int) = pl.cy0 + pl.cvy * 0.1 * f + math.sin(f * 0.3) * 0.2
    // positions over frames 1..60 → rows with speed/heading from the path
    def track(id: Option[Long], club: String, pos: Int => (Double, Double),
        events: Int => Option[String]): Seq[Row] = {
      val pts = (0 to Frames).map(pos)
      (1 to Frames).map { f =>
        val (x, y) = pts(f)
        val (px, py) = pts(f - 1)
        val vx = (x - px) / 0.1; val vy = (y - py) / 0.1
        val sp = math.sqrt(vx * vx + vy * vy)
        val (ppx, ppy) = pts(math.max(f - 2, 0))
        val spPrev = math.hypot(px - ppx, py - ppy) / 0.1
        Row(pl.gameId, pl.playId, id, f, new Timestamp(base + f * 100L), club, dirName,
          x, y, sp, math.abs(sp - spPrev) / 0.1 + 0.2 * noise.nextDouble(),
          sp * 0.1, (math.toDegrees(math.atan2(vx, vy)) + 360.0 + 10 * noise.nextGaussian()) % 360.0,
          (math.toDegrees(math.atan2(vx, vy)) + 360.0) % 360.0, events(f))
      }
    }
    val carrier = track(Some(pl.carrierId), "OFF", f => (cx(f), cy(f)), f =>
      if (f == 1) Some("ball_snap")
      else if (f == pl.startFrame) Some(pl.startEvent)
      else if (f == pl.stopFrame) Some(pl.stopEvent) else None)
    val football = track(None, "football", f => (cx(f) + 0.3, cy(f) + 0.2), _ => None)
    val tacklers = pl.tacklers.flatMap { t =>
      val pos: Int => (Double, Double) = t.kind match {
        case Far => f => (cx(f) - 1.0, cy(f) + t.lateral)
        case Chase => f =>
          if (f >= t.meetFrame) (cx(f) + 0.25, cy(f) - 0.2)
          else {
            // the straight line to the meeting point, bent out sideways
            val w = f.toDouble / t.meetFrame
            val bulge = math.sin(math.Pi * w) * 2.0 * t.lateral
            (t.x0 + (cx(t.meetFrame) + 0.25 - t.x0) * w - bulge * 0.5,
              t.y0 + (cy(t.meetFrame) - 0.2 - t.y0) * w + bulge)
          }
        case _ => f =>
          if (f >= t.meetFrame) (cx(f) + 0.25, cy(f) - 0.2)
          else {
            val w = f.toDouble / t.meetFrame
            (t.x0 + (cx(t.meetFrame) - t.x0) * w, t.y0 + (cy(t.meetFrame) - t.y0) * w)
          }
      }
      track(Some(t.nflId), "DEF", pos, _ => None)
    }
    val others = (0 until Bystanders).flatMap { b =>
      val ox = pl.cx0 + (noise.nextDouble() - 0.5) * 20
      val oy = pl.cy0 + (noise.nextDouble() - 0.5) * 20
      val ov = (noise.nextDouble() - 0.5) * 6
      track(Some(9000L + b), if (b % 2 == 0) "OFF" else "DEF",
        f => (ox + ov * 0.1 * f, oy + math.cos(f * 0.1 + b) * 2), _ => None)
    }
    carrier ++ football ++ tacklers ++ others
  }

  /** The four relations the pipelines read, as DataFrames. */
  final case class Season(tracking: DataFrame, plays: DataFrame,
      players: DataFrame, tackles: DataFrame)

  def season(spark: SparkSession, seed: Long, nPlays: Int): Season = {
    import spark.implicits._
    val tracking = spark.range(nPlays).flatMap(p => rows(seed, play(seed, p)))
      .toDF()
    val allPlays = (0L until nPlays).map(play(seed, _))
    val plays = allPlays.map { pl =>
      val yl = 1 + (pl.index % 49).toInt
      (pl.gameId, pl.playId, pl.carrierId, yl, 1 + (pl.index % 10).toInt,
        if (yl < 25) "HOM" else "AWY", "HOM", "AWY", (pl.index % 23 - 3).toInt,
        (pl.index % 23 - 3).toInt, "N")
    }.toDF("gameId", "playId", "ballCarrierId", "yardlineNumber", "yardsToGo",
      "yardlineSide", "possessionTeam", "defensiveTeam", "playResult",
      "prePenaltyPlayResult", "playNullifiedByPenalty")
    val players = ((1 to CarrierIds).map(i => (i.toLong, s"Carrier $i", "RB")) ++
      (0 until RosterSize).map(k => (defenderId(k), s"Defender $k", position(seed, k))) ++
      (0 until Bystanders).map(b => (9000L + b, s"Bystander $b", "G")))
      .toDF("nflId", "displayName", "position")
    val tackles = allPlays.flatMap(pl => pl.tacklers.map(t => (pl.gameId, pl.playId, t.nflId)))
      .toDF("gameId", "playId", "nflId")
    Season(tracking, plays, players, tackles)
  }

  /** Counts the generator planted, derived from the play specs alone. */
  final case class Planted(plays: Long, tackleRows: Long, knownRows: Long,
      unknownRows: Long, farKnownRows: Long, farRows: Long, lateRows: Long, chaseRows: Long)

  def planted(seed: Long, nPlays: Int): Planted = {
    val pos = (0 until RosterSize).map(k => defenderId(k) -> position(seed, k)).toMap
    val ts = (0L until nPlays).flatMap(play(seed, _).tacklers)
    def isKnown(t: Tackler) = known.contains(pos(t.nflId))
    Planted(nPlays, ts.size, ts.count(isKnown), ts.count(t => !isKnown(t)),
      ts.count(t => isKnown(t) && t.kind == Far), ts.count(_.kind == Far),
      ts.count(_.kind == Late), ts.count(_.kind == Chase))
  }

  /** Writes the season in the Kaggle CSV layout: `tracking_week_{w}.csv`
    * shards plus plays/players/tackles, each a Spark output directory
    * (the readers glob and list them like single files). Plants bad
    * tokens the reader's typed cast must null: tracking `o` or `dis`
    * cells on a seeded hash-selected subset of about `corrupt` rows, and
    * `yardsToGo` cells of the plays whose gameId + playId is a multiple of
    * 97. The kernel reads none of
    * those columns, so the outputs equal the clean season's; the reject
    * sweep must report exactly the returned number of rows. */
  def writeCsv(s: Season, dir: String, corrupt: Int, seed: Long): Long = {
    import org.apache.spark.sql.functions.{pmod, xxhash64}
    val nTrack = s.tracking.count()
    val every = math.max(1L, nTrack / math.max(1, corrupt))
    val h = xxhash64(lit(seed), col("gameId"), col("playId"), col("nflId"), col("frameId"))
    val tracking = s.tracking
      .withColumn("bad", pmod(h, lit(every)) === 0)
      .withColumn("o", when(col("bad") && pmod(h, lit(2 * every)) === 0,
        concat(col("o").cast("string"), lit("deg"))).otherwise(col("o").cast("string")))
      .withColumn("dis", when(col("bad") && pmod(h, lit(2 * every)) =!= 0, lit("n/a"))
        .otherwise(col("dis").cast("string")))
      .withColumn("week", pmod(col("gameId"), lit(Weeks)) + 1)
    val badTrack = tracking.filter(col("bad")).count()
    tracking.drop("bad").write.mode("overwrite").option("header", "true")
      .partitionBy("week").csv(s"$dir/tracking")
    for (w <- 1 to Weeks) {
      val src = new java.io.File(s"$dir/tracking/week=$w")
      if (src.exists()) src.renameTo(new java.io.File(s"$dir/tracking_week_$w.csv"))
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$dir/tracking"))
    val badPlay = pmod(col("playId") + col("gameId"), lit(97L)) === 0
    val plays = s.plays.withColumn("yardsToGo", when(badPlay,
      concat(col("yardsToGo").cast("string"), lit("+"))).otherwise(col("yardsToGo").cast("string")))
    val badPlays = s.plays.filter(badPlay).count()
    plays.coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$dir/plays.csv")
    s.players.coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$dir/players.csv")
    s.tackles.coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$dir/tackles.csv")
    badTrack + badPlays
  }
}
