package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Driver-contract exposure of the NFL-domain pipelines (EP1/EP2).
  *
  * The testdata directory has no tracking tables, so these run on the
  * deterministic [[DemoPlays]] fixture and the [[SyntheticSeason]]
  * generator (the sfDir argument is unused — the fixture IS the input).
  * The pipelines themselves are input-agnostic: `tools.RunSeason` points
  * `Yap.run`/`MaxParams.run` at real BDB CSVs via `graft.io.Sources`.
  *
  * Correctness pattern (VERDICT r4 next §1): each kernel query dumps its
  * FULL tagged emit relation — including the raw per-step RK45 output
  * carried on `path` rows (relX/relY/velU/velV/accX/accY/pathStep) — to
  * /tmp/graft_fixtures and returns the sink selection re-read from that
  * dump. The DuckDB twins recompute everything downstream of the ODE
  * solve from the raw kernel output plus the raw tracking frames: event
  * boundaries, the actual vicinity crossing, YAP displacement and sign
  * (optimal_pursuit.py:554-557), the splice frame layout and absolute
  * anchoring (optimal_pursuit.py:532-552), speed/accel magnitudes and
  * heading, and the optimal-path max-params including the copy-fallback
  * branch (optimal_pursuit.py:193-259,491). Only the solve itself — the
  * choice and values of the feasible path — stays outside the hash gate,
  * pinned instead by the kernel specs and YapSeasonSpec's independent
  * RK4 integrator.
  */
object NflQueries {

  type Q = (SparkSession, String) => DataFrame

  private def dfs(s: SparkSession) = (
    DemoPlays.tracking(s), DemoPlays.plays(s),
    DemoPlays.players(s), DemoPlays.tackles(s))

  private val fx = "/tmp/graft_fixtures"
  /** Season workload size — Verify regenerates the oracle fixtures
    * from the SAME constant, so the two can never diverge. */
  private[graft] val seasonPlays = 600
  private[pipelines] val seasonTable = "graft_season_bucketed"

  /** Dump the full emit relation (raw kernel fields included) as the
    * named fixture and hand back the dumped bytes — one kernel execution
    * per invocation, and the returned relation is byte-identical to what
    * the oracle twin reads. */
  private def emitsVia(s: SparkSession, name: String,
      emits: org.apache.spark.sql.Dataset[Yap.Emit]): DataFrame = {
    graft.io.Sinks.dumpFixture(emits.toDF(), name)
    s.read.parquet(s"$fx/$name")
  }

  private def demoEmits(s: SparkSession): DataFrame = {
    val (tr, pl, py, tk) = dfs(s)
    emitsVia(s, "k4_demo_emits", Yap.run(s, tr, pl, py, tk))
  }

  private def yapSel(em: DataFrame): DataFrame = em.filter(col("kind") === "yap")
    .select("game_ID", "play_ID", "NFL_ID", "name", "position", "YAP")

  /** K5/EP2 — max pursuit params: one exchange, then a per-play pass. */
  private val k5MaxParams: Q = (s, _) => {
    val (tr, pl, py, tk) = dfs(s)
    MaxParams.run(s, tr, pl, py, tk).orderBy("game_ID", "play_ID", "NFL_ID")
  }

  /** K4/EP1 — YAP summary rows from the LQR kernel. */
  private val k4Yap: Q = (s, _) =>
    yapSel(demoEmits(s)).orderBy("game_ID", "play_ID", "NFL_ID")

  /** K4/EP1 — optimal max-params (metrics over the optimal path). */
  private val k4MaxParamsOpt: Q = (s, _) => demoEmits(s)
    .filter(col("kind") === "max_params_opt")
    .select("game_ID", "play_ID", "NFL_ID", "name", "position", "max_vel", "max_accel")
    .orderBy("game_ID", "play_ID", "NFL_ID")

  /** W7 — the spliced optimal-path frames. */
  private val k4Paths: Q = (s, _) => demoEmits(s)
    .filter(col("kind") === "path")
    .select("game_ID", "play_ID", "NFL_ID", "frameId", "x", "y", "s", "a", "dir")
    .orderBy("game_ID", "play_ID", "NFL_ID", "frameId")

  /** S4 — the dead-letter relation. */
  private val k4DeadLetter: Q = (s, _) => {
    val (tr, pl, py, tk) = dfs(s)
    Yap.sinks(Yap.run(s, tr, pl, py, tk))._4.orderBy("game_ID", "play_ID", "NFL_ID")
  }

  /** K4 at measurable scale — the flagship kernel over a 600-play
    * `SyntheticSeason` (the demo fixture is 3 plays; this puts real
    * kernel throughput into the bench: generate → one shuffle on
    * (gameId, playId) → LQR growing-horizon search per group). The
    * season generator is deterministic, so the 1,200-row output is
    * stable — and oracled like the demo (fixture twin recomputes YAP
    * from the dumped kernel paths + regenerated season frames). */
  private val k4YapSeason: Q = (s, _) => {
    val n = seasonPlays
    yapSel(emitsVia(s, "k4_season_emits",
      Yap.run(s, SyntheticSeason.tracking(s, n), SyntheticSeason.plays(s, n),
        SyntheticSeason.players(s), SyntheticSeason.tackles(s, n))))
  }

  /** Build the bucketed season table if absent. Called EXPLICITLY by
    * Bench and Verify at setup (VERDICT r4 wrong §2: building lazily on
    * first touch made the bucketed query's cost depend on whether a
    * warmup pass had run; now the timed/verified query only ever pays
    * the bucketed read). */
  def ensureSeasonBucketed(s: SparkSession): Unit =
    if (!s.catalog.tableExists(seasonTable)) {
      // the in-memory catalog is session-scoped but the warehouse dir is
      // not: a previous JVM's table data would fail this session's
      // CREATE with LOCATION_ALREADY_EXISTS — clear the orphan first
      val loc = new java.io.File(
        s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), seasonTable)
      if (loc.exists) org.apache.commons.io.FileUtils.deleteDirectory(loc)
      val n = seasonPlays
      Yap.materializeBucketed(s, SyntheticSeason.tracking(s, n), SyntheticSeason.plays(s, n),
        SyntheticSeason.players(s), SyntheticSeason.tackles(s, n), seasonTable, 32)
    }

  /** The same 600-play season through the EXCHANGE-FREE pre-bucketed
    * path: the assembled frame relation is written once — by
    * [[ensureSeasonBucketed]], at Bench/Verify setup, never inside this
    * query — as a table bucketed+sorted by the play key, and the timed
    * query is the bucketed read + partition-local kernel, no shuffle
    * anywhere. Fails loudly if the table is missing rather than paying
    * (and hiding) the build. The delta vs `k4_yap_season` is the
    * bench-visible cost of the Exchange the bucket layout removes. */
  private val k4YapSeasonBucketed: Q = (s, _) => {
    require(s.catalog.tableExists(seasonTable),
      s"bucketed season table '$seasonTable' missing — Bench/Verify call " +
        "NflQueries.ensureSeasonBucketed(spark) at setup before timing this query")
    yapSel(emitsVia(s, "k4_season_emits_bucketed", Yap.runBucketed(s, seasonTable)))
  }

  val queries: Map[String, Q] = Map(
    "k5_max_params" -> k5MaxParams,
    "k4_yap" -> k4Yap,
    "k4_max_params_opt" -> k4MaxParamsOpt,
    "k4_opt_paths" -> k4Paths,
    "k4_deadletter" -> k4DeadLetter,
    "k4_yap_season" -> k4YapSeason,
    "k4_yap_season_bucketed" -> k4YapSeasonBucketed)

  // -------------------------------------------------------------------
  // DuckDB twins. The k5/k4_deadletter twins recompute their relations
  // from the raw demo frames alone; the kernel twins additionally read
  // the dumped raw RK45 output and re-derive every post-solve value.
  // -------------------------------------------------------------------

  /** Shared CTE prelude over one corpus: carrier series, event
    * boundaries (W1/W2), eligible (play, tackler) base, per-tackler
    * actual vicinity crossing (W3), and the kernel's chosen horizon
    * frame per solved tackler (max emitted frameId). */
  private def kernelCtes(trk: String, pls: String, pys: String, tks: String,
      emits: String): String =
    s"""WITH tr AS (SELECT * FROM read_parquet('$fx/$trk/*.parquet')),
       | pl AS (SELECT * FROM read_parquet('$fx/$pls/*.parquet')),
       | py AS (SELECT * FROM read_parquet('$fx/$pys/*.parquet')),
       | tk AS (SELECT DISTINCT gameId, playId, nflId FROM read_parquet('$fx/$tks/*.parquet')),
       | em AS (SELECT * FROM read_parquet('$fx/$emits/*.parquet') WHERE kind = 'path'),
       | carrier AS (
       |  SELECT t.gameId, t.playId, t.frameId, t.x AS xc, t.y AS yc, t.event, t.playDirection
       |  FROM tr t JOIN pl p ON t.gameId = p.gameId AND t.playId = p.playId
       |   AND t.nflId = p.ballCarrierId),
       | boundaries AS (
       |  SELECT gameId, playId,
       |   coalesce(
       |    min(CASE WHEN event IN ('handoff','pass_outcome_caught','run','snap_direct') THEN frameId END),
       |    min(CASE WHEN event = 'ball_snap' THEN frameId END)) AS startFrame,
       |   max(CASE WHEN event IN ('tackle','out_of_bounds','fumble','qb_slide',
       |       'touchdown','safety','fumble_defense_recovered') THEN 1 ELSE 0 END) AS has_stop,
       |   min(playDirection) AS playDir
       |  FROM carrier GROUP BY gameId, playId),
       | base AS (
       |  SELECT k.gameId, k.playId, k.nflId, coalesce(py.displayName, '') AS name,
       |   py.position, b.startFrame, b.playDir
       |  FROM tk k
       |  JOIN boundaries b ON k.gameId = b.gameId AND k.playId = b.playId
       |  LEFT JOIN py ON k.nflId = py.nflId
       |  WHERE b.startFrame IS NOT NULL AND b.has_stop = 1
       |   AND py.position IN ('CB','FS','SS','DB','DE','MLB','OLB','ILB','DT','NT')),
       | tf AS (
       |  SELECT t.gameId, t.playId, t.nflId, t.frameId, t.x, t.y, t.s, t.a
       |  FROM tr t JOIN tk k ON t.gameId = k.gameId AND t.playId = k.playId
       |   AND t.nflId = k.nflId),
       | crossing AS (
       |  SELECT d.gameId, d.playId, d.nflId, min(d.frameId) AS vicFrame
       |  FROM (SELECT f.gameId, f.playId, f.nflId, f.frameId,
       |         sqrt((c.xc-f.x)*(c.xc-f.x) + (c.yc-f.y)*(c.yc-f.y)) AS dist
       |        FROM tf f JOIN carrier c ON f.gameId = c.gameId AND f.playId = c.playId
       |         AND f.frameId = c.frameId) d
       |  JOIN boundaries b ON d.gameId = b.gameId AND d.playId = b.playId
       |  WHERE d.dist < 1.0 AND d.frameId > b.startFrame
       |  GROUP BY d.gameId, d.playId, d.nflId),
       | hz AS (
       |  SELECT game_ID, play_ID, NFL_ID, max(frameId) AS hFrame
       |  FROM em GROUP BY game_ID, play_ID, NFL_ID)""".stripMargin

  /** YAP twin: sign by playDirection, displacement between the carrier's
    * x at the kernel's horizon frame and at the ACTUAL vicinity crossing
    * — both re-read from the raw frames, never from the kernel. */
  private def yapTwin(trk: String, pls: String, pys: String, tks: String,
      emits: String): String =
    kernelCtes(trk, pls, pys, tks, emits) +
      s"""
         |SELECT base.gameId AS game_ID, base.playId AS play_ID, base.nflId AS NFL_ID,
         | base.name, base.position,
         | CASE WHEN h.hFrame IS NOT NULL THEN
         |  round(CASE WHEN base.playDir = 'left' THEN cj.xc - cv.xc
         |             ELSE cv.xc - cj.xc END, 2)
         | END AS YAP
         |FROM base
         |LEFT JOIN hz h ON h.game_ID = base.gameId AND h.play_ID = base.playId
         | AND h.NFL_ID = base.nflId
         |LEFT JOIN crossing v ON v.gameId = base.gameId AND v.playId = base.playId
         | AND v.nflId = base.nflId
         |LEFT JOIN carrier cj ON cj.gameId = base.gameId AND cj.playId = base.playId
         | AND cj.frameId = h.hFrame
         |LEFT JOIN carrier cv ON cv.gameId = base.gameId AND cv.playId = base.playId
         | AND cv.frameId = v.vicFrame
         |ORDER BY game_ID, play_ID, NFL_ID""".stripMargin

  /** Optimal-max-params twin: for solved tacklers, the vicinity crossing
    * of the OPTIMAL path (absolute position re-anchored from raw relX +
    * carrier-at-horizon) and the range max of sqrt-recomputed per-step
    * speed/accel; for unsolved tacklers, the reference's DF-copy
    * fallback — range max over the tackler's ACTUAL carrier-aligned
    * frames (optimal_pursuit.py:491). */
  private def maxParamsOptTwin(trk: String, pls: String, pys: String, tks: String,
      emits: String): String =
    kernelCtes(trk, pls, pys, tks, emits) +
      s""",
         | anchor AS (
         |  SELECT h.game_ID, h.play_ID, h.NFL_ID, c.xc AS ax, c.yc AS ay
         |  FROM hz h JOIN carrier c ON c.gameId = h.game_ID AND c.playId = h.play_ID
         |   AND c.frameId = h.hFrame),
         | ppts AS (
         |  SELECT e.game_ID, e.play_ID, e.NFL_ID, e.frameId,
         |   sqrt(e.velU*e.velU + e.velV*e.velV) AS sp,
         |   sqrt(e.accX*e.accX + e.accY*e.accY) AS ac,
         |   e.relX + an.ax AS px, e.relY + an.ay AS pyy
         |  FROM em e JOIN anchor an ON an.game_ID = e.game_ID
         |   AND an.play_ID = e.play_ID AND an.NFL_ID = e.NFL_ID),
         | vicopt AS (
         |  SELECT p.game_ID, p.play_ID, p.NFL_ID, min(p.frameId) AS vFrame
         |  FROM ppts p
         |  JOIN carrier c ON c.gameId = p.game_ID AND c.playId = p.play_ID
         |   AND c.frameId = p.frameId
         |  JOIN boundaries b ON b.gameId = p.game_ID AND b.playId = p.play_ID
         |  WHERE p.frameId > b.startFrame
         |   AND sqrt((c.xc-p.px)*(c.xc-p.px) + (c.yc-p.pyy)*(c.yc-p.pyy)) < 1.0
         |  GROUP BY p.game_ID, p.play_ID, p.NFL_ID),
         | optrange AS (
         |  SELECT p.game_ID, p.play_ID, p.NFL_ID,
         |   round(max(p.sp), 2) AS max_vel, round(max(p.ac), 2) AS max_accel
         |  FROM ppts p JOIN vicopt v ON v.game_ID = p.game_ID
         |   AND v.play_ID = p.play_ID AND v.NFL_ID = p.NFL_ID
         |  WHERE p.frameId < v.vFrame
         |  GROUP BY p.game_ID, p.play_ID, p.NFL_ID),
         | fallrange AS (
         |  SELECT f.gameId, f.playId, f.nflId,
         |   round(max(f.s), 2) AS max_vel, round(max(f.a), 2) AS max_accel
         |  FROM tf f
         |  JOIN carrier cc ON cc.gameId = f.gameId AND cc.playId = f.playId
         |   AND cc.frameId = f.frameId
         |  JOIN boundaries b ON f.gameId = b.gameId AND f.playId = b.playId
         |  JOIN crossing c ON f.gameId = c.gameId AND f.playId = c.playId
         |   AND f.nflId = c.nflId
         |  WHERE f.frameId >= b.startFrame AND f.frameId < c.vicFrame
         |  GROUP BY f.gameId, f.playId, f.nflId)
         |SELECT base.gameId AS game_ID, base.playId AS play_ID, base.nflId AS NFL_ID,
         | base.name, base.position,
         | CASE WHEN h.NFL_ID IS NOT NULL THEN o.max_vel ELSE fb.max_vel END AS max_vel,
         | CASE WHEN h.NFL_ID IS NOT NULL THEN o.max_accel ELSE fb.max_accel END AS max_accel
         |FROM base
         |LEFT JOIN hz h ON h.game_ID = base.gameId AND h.play_ID = base.playId
         | AND h.NFL_ID = base.nflId
         |LEFT JOIN optrange o ON o.game_ID = base.gameId AND o.play_ID = base.playId
         | AND o.NFL_ID = base.nflId
         |LEFT JOIN fallrange fb ON fb.gameId = base.gameId AND fb.playId = base.playId
         | AND fb.nflId = base.nflId
         |ORDER BY game_ID, play_ID, NFL_ID""".stripMargin

  /** Splice twin: re-derives the frame layout (contiguous run of carrier
    * frames starting at the event boundary, by row_number + the raw step
    * index), the absolute anchoring (relX + carrier-at-horizon), and the
    * per-step magnitudes/heading, all from raw kernel output + frames. */
  private def optPathsTwin(trk: String, pls: String, pys: String, tks: String,
      emits: String): String =
    kernelCtes(trk, pls, pys, tks, emits) +
      s""",
         | cr AS (
         |  SELECT gameId, playId, frameId, xc, yc,
         |   row_number() OVER (PARTITION BY gameId, playId ORDER BY frameId) AS rn
         |  FROM carrier),
         | srn AS (
         |  SELECT b.gameId, b.playId, cr.rn AS startRn
         |  FROM boundaries b JOIN cr ON cr.gameId = b.gameId AND cr.playId = b.playId
         |   AND cr.frameId = b.startFrame),
         | hstep AS (
         |  SELECT game_ID, play_ID, NFL_ID, max(pathStep) AS hStep
         |  FROM em GROUP BY game_ID, play_ID, NFL_ID),
         | anchor AS (
         |  SELECT hs.game_ID, hs.play_ID, hs.NFL_ID, c.xc AS ax, c.yc AS ay
         |  FROM hstep hs
         |  JOIN srn s2 ON s2.gameId = hs.game_ID AND s2.playId = hs.play_ID
         |  JOIN cr c ON c.gameId = hs.game_ID AND c.playId = hs.play_ID
         |   AND c.rn = s2.startRn + hs.hStep)
         |SELECT e.game_ID, e.play_ID, e.NFL_ID, cf.frameId AS frameId,
         | e.relX + an.ax AS x, e.relY + an.ay AS y,
         | sqrt(e.velU*e.velU + e.velV*e.velV) AS s,
         | sqrt(e.accX*e.accX + e.accY*e.accY) AS a,
         | round(degrees(atan2(e.velU, e.velV)), 4) AS dir
         |FROM em e
         |JOIN srn s2 ON s2.gameId = e.game_ID AND s2.playId = e.play_ID
         |JOIN cr cf ON cf.gameId = e.game_ID AND cf.playId = e.play_ID
         | AND cf.rn = s2.startRn + e.pathStep
         |JOIN anchor an ON an.game_ID = e.game_ID AND an.play_ID = e.play_ID
         | AND an.NFL_ID = e.NFL_ID
         |ORDER BY e.game_ID, e.play_ID, e.NFL_ID, cf.frameId""".stripMargin

  private val demoT = ("demo_tracking", "demo_plays", "demo_players", "demo_tackles")
  private val seasT = ("season_tracking", "season_plays", "season_players", "season_tackles")

  val oracle: Map[String, String] = Map(
    "k4_yap" -> yapTwin(demoT._1, demoT._2, demoT._3, demoT._4, "k4_demo_emits"),
    "k4_max_params_opt" ->
      maxParamsOptTwin(demoT._1, demoT._2, demoT._3, demoT._4, "k4_demo_emits"),
    "k4_opt_paths" -> optPathsTwin(demoT._1, demoT._2, demoT._3, demoT._4, "k4_demo_emits"),
    "k4_yap_season" -> yapTwin(seasT._1, seasT._2, seasT._3, seasT._4, "k4_season_emits"),
    "k4_yap_season_bucketed" ->
      yapTwin(seasT._1, seasT._2, seasT._3, seasT._4, "k4_season_emits_bucketed"),
    /** DuckDB twin of the FULL EP2 pipeline over the demo-fixture parquet
      * (SURVEY §2.9 declares K5 SQL-expressible; the oracle recomputes
      * carrier extraction, boundaries, frame-aligned distance, first
      * crossing, and range max from the raw frames). */
    "k5_max_params" ->
      """WITH tr AS (SELECT * FROM read_parquet('/tmp/graft_fixtures/demo_tracking/*.parquet')),
        | pl AS (SELECT * FROM read_parquet('/tmp/graft_fixtures/demo_plays/*.parquet')),
        | py AS (SELECT * FROM read_parquet('/tmp/graft_fixtures/demo_players/*.parquet')),
        | tk AS (SELECT DISTINCT gameId, playId, nflId
        |        FROM read_parquet('/tmp/graft_fixtures/demo_tackles/*.parquet')),
        | carrier AS (
        |  SELECT t.gameId, t.playId, t.frameId, t.x AS xc, t.y AS yc, t.event
        |  FROM tr t JOIN pl p ON t.gameId = p.gameId AND t.playId = p.playId
        |   AND t.nflId = p.ballCarrierId),
        | boundaries AS (
        |  SELECT gameId, playId,
        |   coalesce(
        |    min(CASE WHEN event IN ('handoff','pass_outcome_caught','run','snap_direct') THEN frameId END),
        |    min(CASE WHEN event = 'ball_snap' THEN frameId END)) AS startFrame
        |  FROM carrier GROUP BY gameId, playId),
        | tf AS (
        |  SELECT t.gameId, t.playId, t.nflId, t.frameId, t.x, t.y, t.s, t.a
        |  FROM tr t JOIN tk k ON t.gameId = k.gameId AND t.playId = k.playId AND t.nflId = k.nflId),
        | dist AS (
        |  SELECT f.gameId, f.playId, f.nflId, f.frameId,
        |   sqrt((c.xc - f.x)*(c.xc - f.x) + (c.yc - f.y)*(c.yc - f.y)) AS dist
        |  FROM tf f JOIN carrier c
        |   ON f.gameId = c.gameId AND f.playId = c.playId AND f.frameId = c.frameId),
        | crossing AS (
        |  SELECT d.gameId, d.playId, d.nflId, min(d.frameId) AS vicFrame
        |  FROM dist d JOIN boundaries b ON d.gameId = b.gameId AND d.playId = b.playId
        |  WHERE d.dist < 1.0 AND d.frameId > b.startFrame
        |  GROUP BY d.gameId, d.playId, d.nflId),
        | ranges AS (
        |  SELECT f.gameId, f.playId, f.nflId, max(f.s) AS max_vel, max(f.a) AS max_accel
        |  FROM tf f JOIN boundaries b ON f.gameId = b.gameId AND f.playId = b.playId
        |   JOIN crossing c ON f.gameId = c.gameId AND f.playId = c.playId AND f.nflId = c.nflId
        |  WHERE f.frameId >= b.startFrame AND f.frameId < c.vicFrame
        |  GROUP BY f.gameId, f.playId, f.nflId)
        |SELECT k.gameId AS game_ID, k.playId AS play_ID, k.nflId AS NFL_ID,
        | py.displayName AS name, py.position, r.max_vel, r.max_accel
        |FROM tk k
        |LEFT JOIN py ON k.nflId = py.nflId
        |LEFT JOIN ranges r ON k.gameId = r.gameId AND k.playId = r.playId AND k.nflId = r.nflId
        |ORDER BY game_ID, play_ID, NFL_ID""".stripMargin,
    // the K4 kernel's dead-letter branch is relational over the fixture:
    // a tackler whose position is outside the bounds ladder, or a play
    // with no start/stop event on the carrier series, produces exactly
    // these error rows (Yap.processPlay; optimal_pursuit.py:458-477 has
    // no else branch)
    "k4_deadletter" ->
      """WITH tr AS (SELECT * FROM read_parquet('/tmp/graft_fixtures/demo_tracking/*.parquet')),
        | pl AS (SELECT * FROM read_parquet('/tmp/graft_fixtures/demo_plays/*.parquet')),
        | py AS (SELECT * FROM read_parquet('/tmp/graft_fixtures/demo_players/*.parquet')),
        | tk AS (SELECT DISTINCT gameId, playId, nflId
        |        FROM read_parquet('/tmp/graft_fixtures/demo_tackles/*.parquet')),
        | carrier AS (
        |  SELECT t.gameId, t.playId, t.event
        |  FROM tr t JOIN pl p ON t.gameId = p.gameId AND t.playId = p.playId
        |   AND t.nflId = p.ballCarrierId),
        | playflags AS (
        |  SELECT gameId, playId,
        |   max(CASE WHEN event IN ('handoff','pass_outcome_caught','run','snap_direct','ball_snap')
        |       THEN 1 ELSE 0 END) AS has_start,
        |   max(CASE WHEN event IN ('tackle','out_of_bounds','fumble','qb_slide',
        |       'touchdown','safety','fumble_defense_recovered') THEN 1 ELSE 0 END) AS has_stop
        |  FROM carrier GROUP BY gameId, playId)
        |SELECT game_ID, play_ID, NFL_ID, error FROM (
        | SELECT f.gameId AS game_ID, f.playId AS play_ID, CAST(-1 AS BIGINT) AS NFL_ID,
        |  'no start event' AS error FROM playflags f WHERE f.has_start = 0
        | UNION ALL
        | SELECT f.gameId, f.playId, CAST(-1 AS BIGINT), 'no stop event'
        | FROM playflags f WHERE f.has_start = 1 AND f.has_stop = 0
        | UNION ALL
        | SELECT k.gameId, k.playId, k.nflId,
        |  'unknown tackler position ''' || coalesce(py.position, '') || ''''
        | FROM tk k JOIN playflags f ON k.gameId = f.gameId AND k.playId = f.playId
        | LEFT JOIN py ON k.nflId = py.nflId
        | WHERE f.has_start = 1 AND f.has_stop = 1
        |  AND coalesce(py.position, '')
        |      NOT IN ('CB','FS','SS','DB','DE','MLB','OLB','ILB','DT','NT'))
        |ORDER BY game_ID, play_ID, NFL_ID""".stripMargin)
}
