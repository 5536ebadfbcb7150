package graft.streaming

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.TestSpark

/** The streaming-gate cost floor, PINNED (VERDICT r8 next §7 option b):
  * round 8 measured the residual ~18.5 s of the 11-gate block as
  * micro-batch machinery (~0.55 s/batch of planning + state commits +
  * offset-log fsyncs, not data volume). This spec asserts the per-batch
  * budget on a representative stateful pipeline (the sessionizer — a
  * flatMapGroupsWithState with event-time timeouts, the heaviest state
  * shape in the block) stays under 0.8 s/batch, so a future regression
  * in per-batch overhead fails a test instead of silently drifting the
  * bench. Data volume is deliberately tiny (32 rows/batch): what is
  * being measured IS the fixed machinery. The measured floor is
  * recorded in BASELINE.md (round-9 probes).
  */
class StreamingFloorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("micro-batch machinery stays under the 0.8 s/batch budget") {
    // the gates' own narrowed session (2 state partitions): the budget
    // pins the machinery in the configuration the bench actually runs
    val s = graft.ops.ScopedSession(spark, "stream-narrow",
      "spark.sql.shuffle.partitions" -> "2")
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // tmpfs checkpoint — the gates' own config (the per-batch offset-log
    // and state-snapshot fsyncs on the virtual disk are host noise, not
    // the machinery under budget)
    val ckpt = TestSpark.tempDir(
      java.nio.file.Paths.get("/dev/shm"), "floor_ckpt").toString
    val source = MemoryStream[EventStream.Ev]
    val q = EventStream.sessionize(s,
        source.toDS().withWatermark("ts", "0 seconds"))
      .writeStream.format("memory").queryName("floor_probe").outputMode("append")
      .option("checkpointLocation", ckpt).start()
    val nBatches = 8
    try {
      // batch 0 is warmup (planner + state-store init); measure the rest
      var t0 = 0L
      val durs = (0 until nBatches).map { b =>
        val rows = (0 until 32).map(i =>
          EventStream.Ev(i.toLong % 4, new Timestamp(b * 3600000L + i * 1000L), "view", 1.0))
        t0 = System.nanoTime()
        source.addData(rows)
        q.processAllAvailable()
        (System.nanoTime() - t0) / 1e9
      }
      val steady = durs.drop(1)
      val mean = steady.sum / steady.length
      info(f"per-batch wall (steady): mean=$mean%.3f s, " +
        f"max=${steady.max}%.3f s over ${steady.length} batches")
      // ADVICE r9: the wall-clock budget measures host speed, not
      // correctness — enforce it only when explicitly asked (the bench
      // environment sets the flag), report always.
      if (sys.env.contains("GRAFT_ENFORCE_FLOOR"))
        assert(mean < 0.8,
          f"per-batch machinery regressed: mean $mean%.3f s exceeds the 0.8 s budget " +
            "(BASELINE.md round-9 floor note)")
    } finally {
      q.stop()
      s.catalog.dropTempView("floor_probe")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }
}
