package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.TestSpark

/** st_kmeans checked two ways: the full streamed output against an
  * independent plain-Scala sequential mini-batch fold over the same
  * deterministic batches (the KmeansSpec third-algorithm discipline),
  * and the processor seam under same-batch-id redelivery — a replayed
  * trigger must leave the model state and the emitted rows untouched
  * (the CrashReplaySpec scenario-2 window). */
class StKmeansSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val (kk, dd, bb) =
    (graft.llm.Kmeans.K, graft.llm.Kmeans.D, graft.llm.Kmeans.B)

  private def quantRows: Seq[(Long, Array[Long])] =
    graft.llm.Kmeans.quantized(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Seq[Long]]("eq").toArray))
      .sortBy(_._1).toSeq

  /** Independent reference: sequential mini-batch fold with plain
    * Scala — same membership rule, shard init, (dist, k) argmin,
    * cumulative floor-division means, div-1000 wcss. */
  private def refStream(rows: Seq[(Long, Array[Long])])
      : Seq[(Long, Long, Long, Long, Long)] = {
    def mean(s: Long, n: Long) = math.floor(s.toDouble / n).toLong
    val batches = (0 until bb).map(t => rows.filter(r => (r._1 / 4) % bb == t))
    var cents: Map[Int, Array[Long]] = null
    val cumN = Array.fill(kk)(0L)
    val cumS = Array.fill(kk)(Array.fill(dd)(0L))
    val out = collection.mutable.ArrayBuffer[(Long, Long, Long, Long, Long)]()
    for (t <- 0 until bb) {
      val b = batches(t)
      if (cents == null)
        cents = (0 until kk).map { k =>
          val m = b.filter(_._1 % kk == k).map(_._2)
          k -> Array.tabulate(dd)(i => mean(m.map(_(i)).sum, m.size))
        }.toMap
      def dist(v: Array[Long], c: Array[Long]) =
        (0 until dd).map(i => (v(i) - c(i)) * (v(i) - c(i))).sum
      val assigned = b.map { case (id, v) =>
        val k = (0 until kk).minBy(k => (dist(v, cents(k)), k))
        (k, v, dist(v, cents(k)))
      }
      for ((k, v, _) <- assigned) {
        cumN(k) += 1
        for (i <- 0 until dd) cumS(k)(i) += v(i)
      }
      val newCents = (0 until kk).map { k =>
        k -> (if (cumN(k) > 0) Array.tabulate(dd)(i => mean(cumS(k)(i), cumN(k)))
        else cents(k))
      }.toMap
      for (k <- 0 until kk) {
        val m = assigned.filter(_._1 == k)
        out += ((t.toLong, k.toLong, m.size.toLong,
          m.map(_._3 / 1000).sum, newCents(k).sum))
      }
      cents = newCents
    }
    out.toSeq
  }

  test("streamed output equals the independent sequential fold row for row") {
    val got = StreamQueries.queries("st_kmeans")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    val want = refStream(quantRows)
    assert(got == want)
    assert(got.size == (bb * kk).toLong)
    // the model genuinely moves across batches: some cluster's c_sum
    // changes between consecutive batches
    val byK = got.groupBy(_._2)
    assert(byK.values.exists(rs => rs.map(_._5).distinct.size > 1))
  }

  test("same-batch-id redelivery is a no-op on state and output") {
    import spark.implicits._
    val rows = quantRows.take(40)
    val df = rows.toDF("vec_id", "eq")
    val m = new StreamQueries.MiniBatchKmeans
    m.process(df, 0L)
    val afterFirst = m.out.toList
    val centsFirst = m.cents.map { case (k, v) => k -> v.toList }
    m.process(df, 0L) // the pre-offset-commit crash redelivery
    assert(m.out.toList == afterFirst, "redelivery appended rows")
    assert(m.cents.map { case (k, v) => k -> v.toList } == centsFirst,
      "redelivery mutated the model")
    m.process(df, 1L) // progress still possible after the replay
    assert(m.out.size == afterFirst.size + kk)
  }

  /** Kill-and-resume (VERDICT r11 next §3): stop the streaming query
    * between triggers, deliver a backlog batch while down, restart
    * from the SAME checkpoint, and require the final model trajectory
    * to equal an uninterrupted run's — offsets resume from the log,
    * batch ids continue, cumulative sufficient statistics carry. */
  test("kill between triggers + backlog + restart equals the uninterrupted run") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val rows = quantRows
    val batches = (0 until bb).map(t =>
      rows.filter(r => (r._1 / 4) % bb == t).map { case (id, v) => (id, v.toSeq) })
    def run(kill: Boolean): Seq[(Long, Long, Long, Long, Long)] = {
      val model = new StreamQueries.MiniBatchKmeans
      val source = MemoryStream[(Long, Seq[Long])]
      val ckpt = TestSpark.tempDir("km_restart").toString
      def start() = source.toDS().toDF("vec_id", "eq").writeStream
        .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) =>
          model.process(df, id))
        .option("checkpointLocation", ckpt).start()
      var q = start()
      try {
        for (t <- 0 until bb) {
          if (kill && t == 1) {
            q.stop()                    // the kill
            source.addData(batches(t))  // backlog while down
            q = start()                 // resume from checkpoint
          } else source.addData(batches(t))
          q.processAllAvailable()
        }
      } finally q.stop()
      model.out.toList
    }
    val straight = run(kill = false)
    val resumed = run(kill = true)
    assert(straight.size == (bb * kk))
    assert(resumed == straight,
      "resumed run diverged from the uninterrupted run")
  }
}
