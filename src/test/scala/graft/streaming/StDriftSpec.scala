package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.TestSpark

/** st_drift's streaming/batch parity: after the last trigger the
  * cumulative candidate histogram IS the full candidate set, so the
  * final batch's 10 rows must equal dq_drift's output row for row —
  * the st_anomaly discipline (the batch twin gates the stream
  * verbatim). Earlier triggers must show the monitor genuinely
  * updating (n_cur non-decreasing per bin, strictly growing totals). */
class StDriftSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("final trigger equals the batch dq_drift; cumulative counts grow") {
    val st = StreamQueries.queries("st_drift")(spark, sf).collect()
    assert(st.length == 40) // 4 batches x 10 bins
    val last = st.filter(_.getAs[Long]("batch") == 3L)
      .map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n_ref"),
        r.getAs[Long]("n_cur"), r.getAs[Long]("psi_micro"))).sortBy(_._1).toSeq
    val batch = graft.ops.Quality.queries("dq_drift")(spark, sf).collect()
      .map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n_ref"),
        r.getAs[Long]("n_cur"), r.getAs[Long]("psi_micro"))).sortBy(_._1).toSeq
    assert(last == batch, "final streamed trigger must equal the batch twin")
    // monotone accumulation across triggers
    val byBin = st.groupBy(_.getAs[Long]("bin"))
    byBin.values.foreach { rs =>
      val cs = rs.sortBy(_.getAs[Long]("batch")).map(_.getAs[Long]("n_cur")).toSeq
      cs.sliding(2).foreach { case Seq(a, b) => assert(b >= a) }
    }
    val totals = (0L to 3L).map(t =>
      st.filter(_.getAs[Long]("batch") == t).map(_.getAs[Long]("n_cur")).sum)
    totals.sliding(2).foreach { case Seq(a, b) => assert(b > a) }
  }

  /** Kill-and-resume (VERDICT r11 next §3 — the st_restart scenario
    * applied to the drift monitor): stop the query between triggers,
    * deliver backlog while it is down, restart from the SAME
    * checkpoint, and require the resumed run's final rows to equal an
    * uninterrupted run's — offsets resume from the log, the batch-id
    * sequence continues, and the monitor's cumulative state carries. */
  test("kill between triggers + backlog + restart equals the uninterrupted run") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val nRef = Array.tabulate(10)(b => (b + 1).toLong) // fixed reference
    val batches = (0 until 4).map(t =>
      (0 until 12).map(i => StreamQueries.DriftRow(t * 100L + i, (i % 10).toLong)))
    def run(kill: Boolean): Seq[(Long, Long, Long, Long, Long)] = {
      val monitor = new StreamQueries.DriftMonitor(nRef, 10)
      val source = MemoryStream[StreamQueries.DriftRow]
      val ckpt = TestSpark.tempDir("drift_restart").toString
      def start() = source.toDS().writeStream
        .foreachBatch((ds: org.apache.spark.sql.Dataset[StreamQueries.DriftRow],
            id: Long) => monitor.process(ds.toDF(), id))
        .option("checkpointLocation", ckpt).start()
      var q = start()
      try {
        for (t <- 0 until 4) {
          if (kill && t == 2) {
            q.stop()                              // the kill
            source.addData(batches(t))            // backlog while down
            q = start()                           // resume from checkpoint
          } else source.addData(batches(t))
          q.processAllAvailable()
        }
      } finally q.stop()
      monitor.out.toList
    }
    val straight = run(kill = false)
    val resumed = run(kill = true)
    assert(straight.nonEmpty && straight.size == 40)
    assert(resumed == straight,
      "resumed run diverged from the uninterrupted run")
  }
}
