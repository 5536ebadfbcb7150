package graft.pipelines

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** EP1/EP2 pipelines end-to-end on the synthetic fixture. */
class PipelinesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fixtureDfs = (
    DemoPlays.tracking(spark), DemoPlays.plays(spark),
    DemoPlays.players(spark), DemoPlays.tackles(spark))

  test("EP2 max-params: vicinity + range max match hand computation") {
    val (tr, pl, py, tk) = fixtureDfs
    val out = MaxParams.run(spark, tr, pl, py, tk)
      .collect().map(r => r.getLong(2) -> r).toMap
    // play 1001: frames [5,19) at speed 4.0 / accel 0.5
    val db = out(201L)
    assert(db.getDouble(5) == 4.0, "max_vel")
    assert(db.getDouble(6) == 0.5, "max_accel")
    // play 1002: never in vicinity → nulls (reference's NaN rows)
    val dtRow = out(202L)
    assert(dtRow.isNullAt(5) && dtRow.isNullAt(6))
  }

  test("EP1 YAP: catchable tackler gets YAP 0 on a stationary carrier") {
    val (tr, pl, py, tk) = fixtureDfs
    val emits = Yap.run(spark, tr, pl, py, tk).collect()
    val yap201 = emits.find(e => e.kind == "yap" && e.NFL_ID == 201L).get
    // stationary carrier: x is constant, so YAP = xC(j) − xC(vic) = 0
    assert(yap201.YAP.contains(0.0), s"got ${yap201.YAP}")
    assert(yap201.name == "Tackler DB" && yap201.position == "CB")
    // the optimal-path splice exists and starts at the start boundary
    val path201 = emits.filter(e => e.kind == "path" && e.NFL_ID == 201L)
    assert(path201.nonEmpty)
    assert(path201.flatMap(_.frameId).min == 5)
    // optimal max-params row emitted with bounded values
    val mp201 = emits.find(e => e.kind == "max_params_opt" && e.NFL_ID == 201L).get
    mp201.max_vel.foreach(v => assert(v <= 10.9))
  }

  test("EP1 YAP: unreachable tackler yields null YAP, not a crash") {
    val (tr, pl, py, tk) = fixtureDfs
    val emits = Yap.run(spark, tr, pl, py, tk).collect()
    val yap202 = emits.find(e => e.kind == "yap" && e.NFL_ID == 202L).get
    assert(yap202.YAP.isEmpty)
  }

  test("EP1 dead-letter: unknown position becomes an error row (S4)") {
    val (tr, pl, py, tk) = fixtureDfs
    val emits = Yap.run(spark, tr, pl, py, tk).collect()
    val errs = emits.filter(_.kind == "error")
    assert(errs.exists(e => e.NFL_ID == 203L && e.error.exists(_.contains("QB"))))
    // and no yap row for the dead-lettered tackler
    assert(!emits.exists(e => e.kind == "yap" && e.NFL_ID == 203L))
  }

  test("EP1 YAP: a duplicated tackles row changes no emit") {
    // the role table keeps duplicate tackles rows (dropping them costs a
    // shuffle); the kernel keys a tackler's frames by frameId
    val (tr, pl, py, tk) = fixtureDfs
    val once = Yap.run(spark, tr, pl, py, tk).collect().toSeq.sortBy(_.toString)
    val twice = Yap.run(spark, tr, pl, py, tk.unionByName(tk)).collect().toSeq.sortBy(_.toString)
    assert(once.nonEmpty && twice == once)
  }

  test("sinks split the tagged union into four relations") {
    val (tr, pl, py, tk) = fixtureDfs
    val (yap, mpOpt, path, errs) = Yap.sinks(Yap.run(spark, tr, pl, py, tk))
    assert(yap.columns.toSeq == Seq("game_ID", "play_ID", "NFL_ID", "name", "position", "YAP"))
    assert(mpOpt.columns.contains("max_vel"))
    assert(yap.count() == 2) // tacklers 201, 202 (203 dead-lettered)
    assert(path.count() > 0)
    assert(errs.count() == 1)
  }

  test("tackler with missing frames degrades gracefully (frameId alignment)") {
    // drop a third of the tackler's frames: the reference's positional
    // alignment would silently mis-pair series; explicit frameId
    // alignment must keep working (SURVEY §7.4 gotcha 3)
    val frames = DemoPlays.frames().filter(_.playId == 1001L)
      .filterNot(tr => tr.nflId == 201L && tr.frameId % 3 == 0)
      .map { tr =>
        Yap.PlayFrame(tr.gameId, tr.playId, tr.nflId, tr.frameId,
          if (tr.nflId == 100L) "carrier" else "tackler",
          tr.time.getTime / 1000.0, tr.x, tr.y, tr.s, tr.a, tr.dir, tr.event,
          tr.playDirection, Some("X"), Some(if (tr.nflId == 100L) "RB" else "CB"))
      }
    val emits = Yap.processPlay(1L, 1001L, frames, 1.0).toSeq
    assert(!emits.exists(_.kind == "error"), "gaps must not dead-letter the play")
    assert(emits.exists(_.kind == "yap"))
  }

  test("max_params_opt falls back to the actual path when no horizon is feasible") {
    // play 1002's tackler never catches the carrier, but DOES have
    // actual frames — the reference computes opt metrics over the
    // unreplaced copy... though without a vicinity crossing they stay
    // missing; assert the row exists with null metrics (NaN analog)
    val (tr, pl, py, tk) = fixtureDfs
    val emits = Yap.run(spark, tr, pl, py, tk).collect()
    val mp202 = emits.find(e => e.kind == "max_params_opt" && e.NFL_ID == 202L).get
    assert(mp202.max_vel.isEmpty && mp202.max_accel.isEmpty)
  }

  test("kernel processPlay is a pure function (no-Spark unit test)") {
    val frames = DemoPlays.frames().filter(_.playId == 1001L).map { tr =>
      Yap.PlayFrame(tr.gameId, tr.playId, tr.nflId, tr.frameId,
        if (tr.nflId == 100L) "carrier" else "tackler",
        tr.time.getTime / 1000.0, tr.x, tr.y, tr.s, tr.a, tr.dir, tr.event,
        tr.playDirection,
        Some(if (tr.nflId == 100L) "Carrier One" else "Tackler DB"),
        Some(if (tr.nflId == 100L) "RB" else "CB"))
    }
    val emits = Yap.processPlay(1L, 1001L, frames, 1.0).toSeq
    assert(emits.exists(e => e.kind == "yap" && e.YAP.contains(0.0)))
  }
}
