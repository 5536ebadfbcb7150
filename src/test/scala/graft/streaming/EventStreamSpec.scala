package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Streaming operators driven through an actual incremental stream
  * (MemoryStream source → memory sink, processAllAvailable between
  * batches), not just the batch path. */
class EventStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(min: Long) = new Timestamp(1700000000000L + min * 60000L)

  test("windowed stats aggregate incrementally under a watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[EventStream.Ev]
    val q = EventStream.windowedStats(source.toDF())
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      source.addData(
        EventStream.Ev(1, ts(0), "click", 1.0),
        EventStream.Ev(1, ts(10), "click", 2.0),
        EventStream.Ev(2, ts(20), "view", 3.0))
      q.processAllAvailable()
      // advance event time far enough to close the first hour window
      source.addData(EventStream.Ev(1, ts(200), "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("win_out").collect()
      assert(rows.exists(r => r.getString(1) == "click" && r.getLong(2) == 2L))
      assert(rows.exists(r => r.getString(1) == "view" && r.getLong(2) == 1L))
    } finally q.stop()
  }

  test("stream-stream left-outer join state is watermark-bounded: eviction fires and drains the stores (VERDICT r7 next §8)") {
    // The PlanShapeSpec discipline applied to streaming STATE: the
    // slowest gate in the suite carries two-sided outer-join state, and
    // this pins that the 10-minute watermark horizon actually evicts —
    // state row counts must FALL after the watermark passes the data,
    // and end near-empty, not accumulate stream history.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[EventStream.AsofEv]
    val q = EventStream.clickViewLeftJoin(source.toDF())
      .writeStream.format("memory").queryName("lo_state_out")
      .outputMode("append").start()
    try {
      // 40 view/click pairs inside one 10-minute neighborhood
      source.addData((0 until 40).map { i =>
        EventStream.AsofEv(i.toLong, (i % 5).toLong, ts(i / 4),
          if (i % 2 == 0) "view" else "click", 1.0)
      }: _*)
      q.processAllAvailable()
      val afterData = q.recentProgress.filter(_.stateOperators.nonEmpty)
        .map(_.stateOperators.head.numRowsTotal).max
      assert(afterData >= 40L, s"both sides buffered: $afterData")
      // watermark hop 1 (rides the data in the gate; separate here to
      // observe the eviction batch in isolation), then hop 2
      Seq(1000L, 2000L).foreach { m =>
        source.addData(
          EventStream.AsofEv(-m, -1L, ts(m), "view", 0.0),
          EventStream.AsofEv(-m - 1L, -1L, ts(m), "click", 0.0))
        q.processAllAvailable()
      }
      val progress = q.recentProgress.filter(_.stateOperators.nonEmpty)
      // the provider's removal counter batches multi-row eviction per
      // key (21 observed for 40 buffered rows), so the load-bearing
      // bound is the LEVEL, not the counter: state must fall from the
      // full buffer to the un-evictable sentinel residue
      val removed = progress.map(_.stateOperators.head.numRowsRemoved).sum
      assert(removed > 0L, "eviction never fired")
      val finalRows = progress.last.stateOperators.head.numRowsTotal
      assert(finalRows <= 4L,
        s"state must drain to the un-evictable sentinel residue, got $finalRows")
      // and the output still has every click, nulls included
      val out = spark.table("lo_state_out").where($"user_id" >= 0).collect()
      assert(out.length >= 20, s"every click must emit: ${out.length}")
    } finally q.stop()
  }

  test("sessionization emits closed sessions via event-time timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[EventStream.Ev]
    val sess = EventStream.sessionize(spark,
      source.toDS().withWatermark("ts", "1 minute").as[EventStream.Ev])
    val q = sess.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // user 1: two events 5 min apart (one session), then 90 min silence
      source.addData(EventStream.Ev(1, ts(0), "click", 1.0),
        EventStream.Ev(1, ts(5), "click", 2.0))
      q.processAllAvailable()
      // watermark-advancing traffic from another user closes user 1's session
      source.addData(EventStream.Ev(2, ts(120), "view", 9.0))
      q.processAllAvailable()
      source.addData(EventStream.Ev(2, ts(121), "view", 1.0))
      q.processAllAvailable()
      val sessions = spark.table("sess_out").as[EventStream.Session].collect()
      val u1 = sessions.filter(_.user_id == 1L)
      assert(u1.length == 1, s"expected one closed session, got ${u1.toSeq}")
      assert(u1.head.n_events == 2 && u1.head.total_value == 3.0)
      assert(u1.head.end_us - u1.head.start_us == 5 * 60000000L)
    } finally q.stop()
  }

  test("streaming dedup drops re-deliveries within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(String, Timestamp, Double)]
    val q = EventStream.dedupStream(
        source.toDF().toDF("content_key", "ts", "value"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      source.addData(("docA", ts(0), 1.0), ("docB", ts(1), 2.0), ("docA", ts(2), 1.0))
      q.processAllAvailable()
      source.addData(("docA", ts(3), 1.0), ("docC", ts(4), 3.0))
      q.processAllAvailable()
      val keys = spark.table("dedup_out").collect().map(_.getString(0))
      assert(keys.sorted.toSeq == Seq("docA", "docB", "docC"),
        s"re-delivered docA must be dropped, got ${keys.toSeq}")
    } finally q.stop()
  }

  test("stream-static broadcast join enriches each micro-batch statelessly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[EventStream.Ev]
    val q = EventStream.enrichWithBounds(source.toDF(),
        graft.ops.Relational.boundsDim(spark))
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      source.addData(
        EventStream.Ev(1, ts(0), "click", 1.0),
        EventStream.Ev(2, ts(1), "error", 2.0))
      q.processAllAvailable()
      source.addData(EventStream.Ev(3, ts(2), "view", 3.0))
      q.processAllAvailable()
      val rows = spark.table("enrich_out").collect()
      assert(rows.length == 3)
      val click = rows.find(_.getString(2) == "click").get
      assert(click.getDouble(4) == 9.5 && click.getDouble(5) == 2.0)
      // unmatched category keeps dead-letter semantics: null bounds
      val err = rows.find(_.getString(2) == "error").get
      assert(err.isNullAt(4) && err.isNullAt(5))
    } finally q.stop()
  }

  test("streaming YAP: the flagship kernel fires when a play's stop event arrives") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.pipelines.{DemoPlays, Yap}
    // typed frames from the batch assembly helper — same rows the batch
    // pipeline kernels over
    val allFrames = Yap.playFrames(spark, DemoPlays.tracking(spark), DemoPlays.plays(spark),
      DemoPlays.players(spark), DemoPlays.tackles(spark)).collect().toSeq
    val p1 = allFrames.filter(_.playId == 1001L)
    val batchYap = Yap.processPlay(1L, 1001L, p1, 1.0).toSeq
      .filter(_.kind == "yap").head

    // timeout = None: the stop-event path is identical, and the test
    // stays deterministic (no continuous expiry-check micro-batches)
    val source = MemoryStream[Yap.PlayFrame]
    val q = EventStream.yapStream(spark, source.toDS(), timeout = None)
      .writeStream.format("memory").queryName("yap_out")
      .outputMode("append").start()
    try {
      // half the play: no stop event yet -> state buffers, nothing emitted
      source.addData(p1.filter(_.frameId <= 30): _*)
      q.processAllAvailable()
      assert(spark.table("yap_out").count() == 0)
      // the rest (tackle at frame 45) -> kernel fires, matches batch
      source.addData(p1.filter(_.frameId > 30): _*)
      q.processAllAvailable()
      val emitted = spark.table("yap_out").as[Yap.Emit].collect().filter(_.kind == "yap")
      assert(emitted.length == 1)
      assert(emitted.head.YAP == batchYap.YAP && emitted.head.NFL_ID == batchYap.NFL_ID)
      // play 1003's unknown-position tackler dead-letters exactly like batch
      source.addData(allFrames.filter(_.playId == 1003L): _*)
      q.processAllAvailable()
      val errs = spark.table("yap_out").as[Yap.Emit].collect().filter(_.kind == "error")
      assert(errs.exists(e => e.play_ID == 1003L && e.error.exists(_.contains("unknown tackler position"))),
        s"dead letter missing: ${errs.mkString(", ")}")
    } finally q.stop()
  }

  test("stream-stream interval join matches its batch twin and evicts by watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, user: Long, min: Long, kind: String) =
      EventStream.AsofEv(id, user, ts(min), kind, 0.0)
    val all = Seq(
      ev(1, 1, 0, "view"), ev(2, 1, 5, "view"), ev(3, 1, 8, "click"), // both views in window
      ev(4, 2, 0, "view"), ev(5, 2, 20, "click"),                     // view too old: no pair
      ev(6, 3, 30, "view"), ev(7, 3, 30, "click"))                    // same-instant pair
    val batch = EventStream.clickViewJoin(all.toDF()).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(batch == Set((3L, 1L), (3L, 2L), (7L, 6L)))

    val source = MemoryStream[EventStream.AsofEv]
    val q = EventStream.clickViewJoin(source.toDF())
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      source.addData(all.take(5): _*)
      q.processAllAvailable()
      // advance both watermarks far past every row so all joins flush
      source.addData(all.drop(5) :+ ev(99, 9, 500, "view") :+ ev(100, 9, 500, "click"): _*)
      q.processAllAvailable()
      val streamed = spark.table("ssj_out").collect()
        .map(r => (r.getLong(0), r.getLong(3))).toSet
      assert((batch -- streamed).isEmpty,
        s"streamed result lost pairs: ${batch -- streamed}")
      assert(streamed.subsetOf(batch + ((100L, 99L))), s"spurious pairs: $streamed")
    } finally q.stop()
  }

  test("left-outer interval join emits null-extended clicks after watermark eviction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, user: Long, min: Long, kind: String) =
      EventStream.AsofEv(id, user, ts(min), kind, 0.0)
    val all = Seq(
      ev(1, 1, 0, "view"), ev(2, 1, 8, "click"),  // matched pair
      ev(3, 2, 0, "view"), ev(4, 2, 20, "click"), // view too old: null-extend
      ev(5, 3, 30, "click"))                      // user with no view at all
    val source = MemoryStream[EventStream.AsofEv]
    val q = EventStream.clickViewLeftJoin(source.toDF())
      .writeStream.format("memory").queryName("ssloj_out")
      .outputMode("append").start()
    try {
      source.addData(all: _*)
      q.processAllAvailable()
      // nulls require eviction: two watermark hops past the data
      Seq(500L, 1000L).foreach { m =>
        source.addData(ev(-1, -1, m, "view"), ev(-2, -1, m, "click"))
        q.processAllAvailable()
      }
      val out = spark.table("ssloj_out").filter("user_id >= 0").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
      // click 2 matched view 1; clicks 4 and 5 must STILL appear, null-extended
      assert(out == Set((2L, 1L), (4L, -1L), (5L, -1L)), out.toString)
    } finally q.stop()
  }

  test("streaming as-of matches the batch j7_asof row for row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    // the batch operator's result as ground truth
    val batch = graft.ops.Relational.queries("j7_asof")(spark, sf).collect()
      .map(r => r.getAs[Long]("event_id") ->
        (if (r.isNullAt(r.fieldIndex("asof_view_id"))) None
         else Some((r.getAs[Long]("asof_view_id"), r.getAs[Double]("asof_value")))))
      .toMap
    // deliver the real events in event-time order (the batch operator's
    // total order), split across three micro-batches
    val evs = graft.io.Sources.table(spark, sf, "events")
      .select("event_id", "user_id", "ts", "event_type", "value")
      .as[EventStream.AsofEv].collect()
      .sortBy(e => (e.ts.getTime, if (e.event_type == "view") 0 else 1, e.event_id))
    val source = MemoryStream[EventStream.AsofEv]
    val q = EventStream.asofStream(spark, source.toDS())
      .writeStream.format("memory").queryName("asof_out")
      .outputMode("append").start()
    try {
      evs.grouped((evs.length + 2) / 3).foreach { chunk =>
        source.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      val got = spark.table("asof_out").as[EventStream.AsofHit].collect()
        .map(h => h.event_id -> h.asof_view_id.map(id => (id, h.asof_value.get)))
        .toMap
      assert(got.keySet == batch.keySet)
      assert(got == batch)
    } finally q.stop()
  }

  test("idempotent sink: replaying a batch id overwrites, never duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = TestSpark.tempDir("idemsink").toString
    val out = s"$root/out"
    val source = MemoryStream[EventStream.Ev]
    val q = EventStream.idempotentParquetSink(source.toDF(), out, s"$root/ckpt")
    try {
      source.addData(EventStream.Ev(1, ts(0), "click", 1.0),
        EventStream.Ev(2, ts(1), "view", 2.0))
      q.processAllAvailable()
      source.addData(EventStream.Ev(3, ts(2), "purchase", 3.0))
      q.processAllAvailable()
      val n0 = spark.read.parquet(out).count()
      assert(n0 == 3)
      // simulate the crash-replay: batch 0 re-delivered with the same
      // content — the partition is REPLACED, not appended
      EventStream.writeBatch(
        Seq(EventStream.Ev(1, ts(0), "click", 1.0),
          EventStream.Ev(2, ts(1), "view", 2.0)).toDF(), 0L, out)
      assert(spark.read.parquet(out).count() == 3)
      // and a replay with corrected content replaces exactly batch 0
      EventStream.writeBatch(Seq(EventStream.Ev(9, ts(0), "click", 9.0)).toDF(), 0L, out)
      val after = spark.read.parquet(out)
      assert(after.count() == 2)
      assert(after.filter($"batch_id" === 1).count() == 1) // batch 1 untouched
    } finally q.stop()
  }

  test("streaming as-of never enriches a late click from its future") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[EventStream.AsofEv]
    val q = EventStream.asofStream(spark, source.toDS())
      .writeStream.format("memory").queryName("asof_late_out")
      .outputMode("append").start()
    try {
      // batch 1: only a view at t=60
      source.addData(EventStream.AsofEv(10, 1, ts(60), "view", 5.0))
      q.processAllAvailable()
      // batch 2: a LATE click at t=30 — the stored view is in its
      // future, so the enrichment must be null, not view 10
      source.addData(EventStream.AsofEv(11, 1, ts(30), "click", 0.0))
      q.processAllAvailable()
      // and an on-time click at t=90 still gets the view
      source.addData(EventStream.AsofEv(12, 1, ts(90), "click", 0.0))
      q.processAllAvailable()
      val rows = spark.table("asof_late_out").as[EventStream.AsofHit]
        .collect().map(h => h.event_id -> h.asof_view_id).toMap
      assert(rows(11L).isEmpty, s"late click joined from its future: $rows")
      assert(rows(12L).contains(10L))
    } finally q.stop()
  }

  test("custom-state sessionize matches the oracle-gated w8_sessions on real data") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val events = graft.io.Sources.table(spark, sf, "events")
    val streamed = EventStream.sessionize(spark,
        events.select($"user_id", $"ts", $"event_type", $"value").as[EventStream.Ev])
      .collect()
      .map(s => (s.user_id, s.start_us / 1000000) ->
        (s.end_us / 1000000, s.n_events.toLong, s.total_value))
      .toMap
    // batch-mode flatMapGroupsWithState emits only CLOSED sessions (the
    // tail session per user stays in state), so drop each user's last
    // relational session before comparing
    val rel = graft.ops.Events.sessions(events).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"),
        r.getAs[Long]("start_s"), r.getAs[Long]("end_s"),
        r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
    val closed = rel.groupBy(_._1).values.flatMap { g =>
      g.sortBy(_._2).dropRight(1)
    }.toSeq
    assert(closed.nonEmpty && streamed.nonEmpty)
    assert(closed.size == streamed.size,
      s"closed=${closed.size} streamed=${streamed.size}")
    closed.foreach { case (u, _, st, en, n, total) =>
      val got = streamed.get((u, st))
      assert(got.isDefined, s"missing session user=$u start=$st")
      val (gEnd, gN, gTotal) = got.get
      assert(gEnd == en && gN == n, s"user=$u start=$st: ($gEnd,$gN) vs ($en,$n)")
      assert(math.abs(gTotal - total) < 1e-6, s"user=$u start=$st total")
    }
  }

  test("the same sessionize code runs in batch mode (unified API)") {
    import spark.implicits._
    val batch = Seq(
      EventStream.Ev(7, ts(0), "click", 1.0),
      EventStream.Ev(7, ts(10), "click", 1.5),
      EventStream.Ev(7, ts(100), "click", 4.0)).toDS()
    val out = EventStream.sessionize(spark, batch).collect()
    // batch mode: final states are flushed only via rows — the open
    // session at end-of-input stays in state; the first (closed) session
    // is emitted when the 100-minute event arrives
    assert(out.exists(s => s.user_id == 7L && s.n_events == 2 && s.total_value == 2.5))
  }

  test("streaming SCD2 matches the batch w12_scd2 relation row for row") {
    val sf = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamQueries.queries("st_scd2")(spark, sf)
      .collect().map(_.toSeq).toSet
    val batch = graft.ops.Events.queries("w12_scd2")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("SCD2 state machine: CDC collapse and flush barrier on a hand case") {
    import spark.implicits._
    // a b b a + flush → versions a[0,10) b[10,30) a[30,-1 current)
    val evs = Seq(
      EventStream.Scd2Ev(5, 1, ts(0), "a"),
      EventStream.Scd2Ev(5, 2, ts(10), "b"),
      EventStream.Scd2Ev(5, 3, ts(20), "b"),
      EventStream.Scd2Ev(5, 4, ts(30), "a"),
      EventStream.Scd2Ev(5, 5, ts(40), EventStream.scd2Flush)).toDS()
    val out = EventStream.scd2Stream(spark, evs).collect()
      .sortBy(_.version)
    assert(out.length == 3, out.toSeq)
    assert(out.map(_.event_type).toSeq == Seq("a", "b", "a"))
    assert(out.map(_.valid_to_us).toSeq ==
      Seq(EventStream.us(ts(10)), EventStream.us(ts(30)), -1L))
    assert(out.map(_.is_current).toSeq == Seq(false, false, true))
  }

  test("streaming anomaly matches the batch w15_anomaly row for row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val batch = graft.ops.Events.queries("w15_anomaly")(spark, sf).collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((if (r.isNullAt(r.fieldIndex("zscore"))) None
          else Some(r.getAs[Double]("zscore"))), r.getAs[String]("w15_flag")))
      .toMap
    val evs = graft.io.Sources.table(spark, sf, "events")
      .select("event_id", "user_id", "ts", "event_type", "value")
      .as[EventStream.AsofEv].collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    val source = MemoryStream[EventStream.AsofEv]
    val q = EventStream.anomalyStream(spark, source.toDS())
      .writeStream.format("memory").queryName("anom_out")
      .outputMode("append").start()
    try {
      // three micro-batches: the ring state must survive two boundaries
      evs.grouped((evs.length + 2) / 3).foreach { chunk =>
        source.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      val got = spark.table("anom_out").as[EventStream.AnomalyHit].collect()
        .map(h => h.event_id -> ((h.zscore, h.w15_flag))).toMap
      assert(got.keySet == batch.keySet)
      assert(got == batch) // exact doubles: the quantized kernel is shared
    } finally q.stop()
  }
}
