package graft.pipelines

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernel.OptimalPursuit

/** EP1 — the YAP ("Yards After Proximity") pipeline (K4/K6,
  * optimal_pursuit.py:431-571; calculate_YAP.py): for every
  * (game, play, tackler), find the earliest moment an optimally-pursuing
  * tackler could have reached the ball carrier, and the yards the
  * carrier gained after the moment he was actually first reached.
  *
  * Spark shape (SURVEY §3): the reference's per-play loop — which
  * re-reads all five CSVs per play — inverts into set-at-a-time
  * dataflow: ONE scan of tracking joined to a small role table
  * ([[roleFrames]]), the players dim broadcast-joined after it, then
  * Spark's own grouped operator on the play columns
  * (`groupBy("gameId", "playId").as[K, V].flatMapGroups`, planned as
  * `MapGroupsExec`), which hands each play's carrier + tackler frames to
  * the kernel. It requires its child clustered and sorted on the play
  * columns, so `EnsureRequirements` adds the one (gameId, playId)
  * exchange and sort only where the child lacks that layout.
  * Plays are tiny (≤ ~20 rows/frame × ~100 frames), so the
  * growing-horizon LQR search (W5) runs as a local Scala loop per play.
  * EP2 ([[MaxParams]]) groups the same way.
  *
  * Emissions are a tagged union (`kind`): one `yap` summary row and one
  * `max_params_opt` row per tackler, `path` rows for the spliced
  * optimal trajectory (W7), and `error` dead-letter rows (S4) for
  * plays/tacklers the reference would crash on (unknown position — the
  * CASE ladder at optimal_pursuit.py:458-477 has no else branch —
  * or missing event boundaries).
  */
object Yap {

  /** One tracking frame tagged with its role in the play. */
  final case class PlayFrame(
      gameId: Long, playId: Long, nflId: Long, frameId: Int, role: String,
      timeSec: Double, x: Double, y: Double, s: Double, a: Double, dir: Double,
      event: Option[String], playDirection: String,
      displayName: Option[String], position: Option[String])

  /** Tagged output row. The trailing raw-kernel fields are populated on
    * `path` rows only: they carry the RK45 solve's unprocessed output
    * (pursuer-relative position, velocity, acceleration, step index) so
    * the fixture oracle can recompute everything DOWNSTREAM of the solve
    * — splice anchoring, speed/accel magnitudes, heading, YAP, optimal
    * max-params — in DuckDB from these plus the raw tracking frames
    * (VERDICT r4 next §1). The sinks drop them; only the fixture dump
    * sees them. */
  final case class Emit(
      kind: String, game_ID: Long, play_ID: Long, NFL_ID: Long,
      name: String, position: String,
      YAP: Option[Double], max_vel: Option[Double], max_accel: Option[Double],
      frameId: Option[Int], x: Option[Double], y: Option[Double],
      s: Option[Double], a: Option[Double], dir: Option[Double],
      error: Option[String],
      pathStep: Option[Int] = None,
      relX: Option[Double] = None, relY: Option[Double] = None,
      velU: Option[Double] = None, velV: Option[Double] = None,
      accX: Option[Double] = None, accY: Option[Double] = None)

  private[graft] val startEvents = Set("handoff", "pass_outcome_caught", "run", "snap_direct")
  private[graft] val stopEvents = Set("tackle", "out_of_bounds", "fumble", "qb_slide",
    "touchdown", "safety", "fumble_defense_recovered")

  /** Position → (V_max_med, V_max_max, A_max_med, A_max_max)
    * (optimal_pursuit.py:458-477). Deliberately partial: unlisted
    * positions dead-letter, reproducing the reference's NameError
    * semantics as data instead of a crash. */
  private[pipelines] val positionBounds: Map[String, (Double, Double, Double, Double)] = Map(
    "CB" -> (5.6, 10.9, 4.2, 9.1), "FS" -> (5.6, 10.9, 4.2, 9.1),
    "SS" -> (5.6, 10.9, 4.2, 9.1), "DB" -> (5.6, 10.9, 4.2, 9.1),
    "DE" -> (3.7, 9.7, 2.8, 6.2),
    "MLB" -> (5.0, 10.7, 3.9, 9.4), "OLB" -> (5.0, 10.7, 3.9, 9.4),
    "ILB" -> (5.0, 10.7, 3.9, 9.4),
    "DT" -> (3.2, 8.8, 2.4, 7.1), "NT" -> (3.2, 8.8, 2.4, 7.1))

  /** Every tracking row of each play's carrier and tacklers, tagged
    * `isCarrier`, from ONE scan of `tracking`: a small role table
    * (plays.ballCarrierId as carrier, the tackles fact as tackler) joined
    * to tracking once. A player who is both carrier and tackler gets one
    * row per role. Duplicate tackles rows are not dropped (that would be
    * one more shuffle and job per query): each duplicates the tackler's
    * frames, which both consumers ignore — the kernel keys a tackler's
    * frames by frameId, and MaxParams takes only min/max over them.
    *
    * The role table grows with the input (one row per play and tackle),
    * so it carries no broadcast hint: AQE decides from measured size
    * (VERDICT r2 §wrong 5). The join is keyed on the play alone, with
    * nflId checked as a residual condition (written as a difference so
    * Catalyst does not lift it into a third key): if it is ever planned
    * as a shuffle join, its exchange is the (gameId, playId) layout the
    * grouped per-play operator requires, so no second one is added. */
  private[pipelines] def roleFrames(tracking: DataFrame, plays: DataFrame,
      tackles: DataFrame): DataFrame = {
    def tagged(df: DataFrame, id: String, carrier: Boolean) = df.select(
      col("gameId").as("rGame"), col("playId").as("rPlay"), col(id).as("roleId"),
      lit(carrier).as("isCarrier"))
    val roles = tagged(plays, "ballCarrierId", carrier = true)
      .unionByName(tagged(tackles, "nflId", carrier = false))
    tracking.join(roles, col("gameId") === col("rGame") && col("playId") === col("rPlay") &&
        (col("nflId") - col("roleId")) === 0)
      .drop("rGame", "rPlay", "roleId")
  }

  /** Assemble the per-play frame relation from [[roleFrames]], enriched
    * from the fixed-size (broadcast) players dim after the role join;
    * carrier rows carry no name or position. */
  def playFrames(spark: SparkSession, tracking: DataFrame, plays: DataFrame,
      players: DataFrame, tackles: DataFrame): Dataset[PlayFrame] = {
    import spark.implicits._
    def tacklerOnly(c: String) = when(!col("isCarrier"), col(c)).as(c)
    roleFrames(tracking, plays, tackles)
      .join(broadcast(players.select("nflId", "displayName", "position")), Seq("nflId"), "left")
      .select(col("gameId"), col("playId"), col("nflId"), col("frameId"),
        when(col("isCarrier"), "carrier").otherwise("tackler").as("role"),
        col("time").cast("double").as("timeSec"),
        col("x"), col("y"), col("s"), col("a"), col("dir"),
        col("event"), col("playDirection"), tacklerOnly("displayName"), tacklerOnly("position"))
      .as[PlayFrame]
  }

  /** The full pipeline: frames → the per-play kernel ([[perPlay]]). */
  def run(spark: SparkSession, tracking: DataFrame, plays: DataFrame,
      players: DataFrame, tackles: DataFrame, rT: Double = 1.0): Dataset[Emit] =
    perPlay(playFrames(spark, tracking, plays, players, tackles), rT)

  /** Runs the kernel once per play, grouped on the frames' own play
    * columns: keying on columns, not on a lambda as `groupByKey` does,
    * lets Catalyst see the play layout, so no row is deserialized before
    * the exchange, and a child already laid out by play needs none. */
  private def perPlay(frames: Dataset[PlayFrame], rT: Double): Dataset[Emit] = {
    import frames.sparkSession.implicits._
    frames.groupBy("gameId", "playId").as[(Long, Long), PlayFrame]
      .flatMapGroups((k, it) => processPlay(k._1, k._2, it.toSeq, rT))
  }

  /** Materialize the assembled per-play frame relation as a managed
    * table bucketed AND sorted by the play key — the pay-once layout for
    * a corpus the kernel (or any per-play operator) will scan repeatedly.
    * At 100 TB this is the season's storage format: the shuffle that
    * [[run]] pays per execution happens once, at write time. */
  def materializeBucketed(spark: SparkSession, tracking: DataFrame, plays: DataFrame,
      players: DataFrame, tackles: DataFrame, table: String, buckets: Int): Unit =
    graft.ops.Bucketing.writeBucketedBy(
      playFrames(spark, tracking, plays, players, tackles).toDF(),
      table, buckets, Seq("gameId", "playId"))

  /** Exchange-free kernel over a [[materializeBucketed]] table, on the
    * caller's session: the bucketed scan already clusters every play in
    * one partition, so the grouped operator's layout requirement is met
    * and [[perPlay]] runs with no exchange at all. YapBucketedSpec pins
    * both properties: result identity with [[run]], and a physical plan
    * with no Exchange node. */
  def runBucketed(spark: SparkSession, table: String, rT: Double = 1.0): Dataset[Emit] = {
    import spark.implicits._
    perPlay(spark.table(table).as[PlayFrame], rT)
  }

  /** Split `run` output into the three sinks of the reference: results
    * (S3), optimal-path splice, and dead-letters (S4). */
  def sinks(emits: Dataset[Emit]): (DataFrame, DataFrame, DataFrame, DataFrame) = (
    emits.filter(_.kind == "yap").toDF()
      .select("game_ID", "play_ID", "NFL_ID", "name", "position", "YAP"),
    emits.filter(_.kind == "max_params_opt").toDF()
      .select("game_ID", "play_ID", "NFL_ID", "name", "position", "max_vel", "max_accel"),
    emits.filter(_.kind == "path").toDF()
      .select("game_ID", "play_ID", "NFL_ID", "frameId", "x", "y", "s", "a", "dir"),
    emits.filter(_.kind == "error").toDF()
      .select("game_ID", "play_ID", "NFL_ID", "error"))

  /** K4 per-play kernel. Pure function of one play's frames — unit-
    * testable without Spark. */
  private[graft] def processPlay(gameId: Long, playId: Long,
      frames: Seq[PlayFrame], rT: Double): Iterator[Emit] = {

    def err(nflId: Long, msg: String) = Emit("error", gameId, playId, nflId, "", "",
      None, None, None, None, None, None, None, None, None, Some(msg))

    val carrier = frames.filter(_.role == "carrier").sortBy(_.frameId).toArray
    if (carrier.isEmpty)
      return Iterator.single(err(-1L, "no ball carrier frames"))
    val tacklers = frames.filter(_.role == "tackler").groupBy(_.nflId)

    // W1/W2 event boundaries on the carrier series (positional index)
    val idxStartOpt = carrier.indexWhere(f => f.event.exists(startEvents)) match {
      case -1 => carrier.indexWhere(_.event.contains("ball_snap")) match {
        case -1 => None
        case i => Some(i)
      }
      case i => Some(i)
    }
    val idxStart = idxStartOpt.getOrElse(
      return Iterator.single(err(-1L, "no start event")))
    if (!carrier.exists(f => f.event.exists(stopEvents)))
      return Iterator.single(err(-1L, "no stop event"))

    val playDirection = carrier.head.playDirection
    val time = carrier.map(_.timeSec)
    val t0All = time(0)
    val timeRel = time.map(_ - t0All)
    val time0 = timeRel(idxStart)
    val xC = carrier.map(_.x)
    val yC = carrier.map(_.y)
    val frameById = carrier.map(_.frameId)

    val out = Seq.newBuilder[Emit]

    tacklers.toSeq.sortBy(_._1).foreach { case (tacklerId, rowsUnsorted) =>
      val rows = rowsUnsorted.sortBy(_.frameId).toArray
      val name = rows.head.displayName.getOrElse("")
      val position = rows.head.position.getOrElse("")
      positionBounds.get(position) match {
        case None =>
          out += err(tacklerId, s"unknown tackler position '$position'")
        case Some((vMaxMed, vMaxMax, aMaxMed, aMaxMax)) =>
          // align tackler to carrier frames explicitly by frameId
          // (SURVEY §7.4 gotcha 3: the reference aligns positionally)
          val byFrame = rows.map(r => r.frameId -> r).toMap
          val aligned = frameById.map(byFrame.get)
          val n = carrier.length

          def uOf(r: PlayFrame) = r.s * math.sin(math.toRadians(r.dir))
          def vOf(r: PlayFrame) = r.s * math.cos(math.toRadians(r.dir))

          // W3 first vicinity crossing strictly after start. Distance in
          // the sqrt(dx²+dy²) form, not math.hypot: hypot's overflow
          // guard differs from DuckDB's sqrt in the last ulp, and the
          // fixture oracle re-derives this crossing from the raw frames.
          var idxVic = -1
          var i = 0
          while (i < n && idxVic < 0) {
            aligned(i) match {
              case Some(r) =>
                val dx = xC(i) - r.x; val dy = yC(i) - r.y
                val d = math.sqrt(dx * dx + dy * dy)
                if (d < rT && i > idxStart) idxVic = i
              case None =>
            }
            i += 1
          }

          var yap: Option[Double] = None
          var vMaxOpt: Option[Double] = None
          var aMaxOpt: Option[Double] = None

          if (idxVic >= 0) aligned(idxStart) match {
            case Some(start) =>
              val xCv = xC(idxVic)
              val (x0t, y0t) = (start.x, start.y)
              val (u0t, v0t) = (uOf(start), vOf(start))
              // W5 growing-horizon search: first feasible candidate frame
              var j = idxStart + 1
              var done = false
              while (j <= n - 2 && !done) {
                val tj = timeRel.slice(idxStart, j + 1).map(_ - time0)
                // exact pruning: any path ending within rT of the target
                // travels at least (dist − rT), so its max speed is at
                // least (dist − rT)/t_f — if that already exceeds the
                // speed gate, the candidate must fail; skip the solve.
                // Only provably-failing horizons are skipped, so results
                // are identical (and the early, hopeless horizons are
                // exactly the wasted LQR solves).
                val distJ = math.hypot(x0t - xC(j), y0t - yC(j))
                val tF = tj.last
                val cannotReach = tF <= 0.0 || (distJ - rT) / tF > vMaxMax
                val path = if (cannotReach) null
                else OptimalPursuit.solveOptimalPath(
                  x0t - xC(j), y0t - yC(j), u0t, v0t, tj, vMaxMed, aMaxMed, rT)
                if (path != null && path.finalRadius <= rT && path.maxSpeed <= vMaxMax &&
                    path.maxAccel <= aMaxMax) {
                  done = true
                  yap = Some(round2(
                    if (playDirection == "left") xC(j) - xCv else xCv - xC(j)))
                  // W7 splice: optimal segment over [idxStart, j], null
                  // tail. Speed/accel magnitudes and the vicinity check
                  // below use the sqrt(x²+y²) form (bit-identical across
                  // Spark and DuckDB, unlike math.hypot), and the heading
                  // is rounded to 4 decimals — atan2 differs ≤1 ulp
                  // between libms, and the oracle recomputes all of these
                  // from the raw velU/velV/accX/accY it is handed.
                  val pn = path.x.length
                  var k = 0
                  while (k < pn) {
                    val gi = idxStart + k
                    val sp = math.sqrt(path.u(k) * path.u(k) + path.v(k) * path.v(k))
                    val ac = math.sqrt(path.ax(k) * path.ax(k) + path.ay(k) * path.ay(k))
                    out += Emit("path", gameId, playId, tacklerId, name, position,
                      None, None, None, Some(frameById(gi)),
                      Some(path.x(k) + xC(j)), Some(path.y(k) + yC(j)),
                      Some(sp), Some(ac),
                      Some(round4(math.toDegrees(math.atan2(path.u(k), path.v(k))))), None,
                      pathStep = Some(k),
                      relX = Some(path.x(k)), relY = Some(path.y(k)),
                      velU = Some(path.u(k)), velV = Some(path.v(k)),
                      accX = Some(path.ax(k)), accY = Some(path.ay(k)))
                    k += 1
                  }
                  // K5 on the optimal path: vicinity + range max
                  val optX = path.x.map(_ + xC(j))
                  val optY = path.y.map(_ + yC(j))
                  var vicOpt = -1
                  var m = 0
                  while (m < pn && vicOpt < 0) {
                    val gi = idxStart + m
                    if (gi < n && gi > idxStart) {
                      val dx = xC(gi) - optX(m); val dy = yC(gi) - optY(m)
                      if (math.sqrt(dx * dx + dy * dy) < rT) vicOpt = gi
                    }
                    m += 1
                  }
                  if (vicOpt > idxStart) {
                    var vm = Double.NegativeInfinity
                    var am = Double.NegativeInfinity
                    var q = idxStart
                    while (q < vicOpt) {
                      val k2 = q - idxStart
                      if (k2 < pn) {
                        vm = math.max(vm,
                          math.sqrt(path.u(k2) * path.u(k2) + path.v(k2) * path.v(k2)))
                        am = math.max(am,
                          math.sqrt(path.ax(k2) * path.ax(k2) + path.ay(k2) * path.ay(k2)))
                      }
                      q += 1
                    }
                    if (vm > Double.NegativeInfinity) {
                      vMaxOpt = Some(round2(vm)); aMaxOpt = Some(round2(am))
                    }
                  }
                }
                j += 1
              }
            case None =>
          }

          // Fallback matching the reference: DF_PBP_opt starts as a COPY
          // of the actual frames (optimal_pursuit.py:491), so when no
          // feasible horizon replaced it, max_params_opt is computed
          // over the tackler's ACTUAL path — vicinity crossing + range
          // max, rounded like the optimal branch.
          // (only when NO optimal path replaced the frames — a spliced
          // path that never reaches the vicinity stays missing, exactly
          // like the reference's NaN branch)
          if (yap.isEmpty && idxVic > idxStart) {
            var vm = Double.NegativeInfinity
            var am = Double.NegativeInfinity
            var q = idxStart
            while (q < idxVic) {
              aligned(q).foreach { r =>
                vm = math.max(vm, r.s)
                am = math.max(am, r.a)
              }
              q += 1
            }
            if (vm > Double.NegativeInfinity) {
              vMaxOpt = Some(round2(vm)); aMaxOpt = Some(round2(am))
            }
          }

          out += Emit("yap", gameId, playId, tacklerId, name, position,
            yap, None, None, None, None, None, None, None, None, None)
          out += Emit("max_params_opt", gameId, playId, tacklerId, name, position,
            None, vMaxOpt, aMaxOpt, None, None, None, None, None, None, None)
      }
    }
    out.result().iterator
  }

  /** Half-away-from-zero decimal rounding, same formula as
    * [[graft.functions.Numeric.dround]] (floor(|x|·10ˢ + 0.5)/10ˢ,
    * sign-mirrored) — verified bit-identical to DuckDB's `round`, which
    * the fixture oracle applies when it recomputes YAP and the optimal
    * max-params. (Previously math.rint = half-even, which disagrees with
    * every SQL engine on exact .xx5 values.) */
  private def round2(v: Double): Double =
    if (v >= 0) math.floor(v * 100.0 + 0.5) / 100.0
    else -(math.floor(-v * 100.0 + 0.5) / 100.0)

  private def round4(v: Double): Double =
    if (v >= 0) math.floor(v * 10000.0 + 0.5) / 10000.0
    else -(math.floor(-v * 10000.0 + 0.5) / 10000.0)
}
