package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import graft.functions.SegmentKernels
import org.apache.spark.unsafe.types.UTF8String

/** The iterative queries release their superseded round state: once a
  * query's result is collected, `pr_pagerank_conv` leaves at most its
  * final rank checkpoint persisted and `tok_unigram_train` nothing, and
  * both results still equal plain-Scala twins of their algorithms; the
  * other `Fixpoint` loops leave persisted only the RDDs their result
  * plan reads. */
class LoopReleaseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** The query's result, its collected rows and the RDDs it left persisted. */
  private def runDf(q: String): (DataFrame, Seq[Row], Set[Int]) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = SparkEntry.queries(q)(spark, sf)
    val rows = df.collect().toSeq
    (df, rows, (spark.sparkContext.getPersistentRDDs.keySet -- before).toSet)
  }

  private def run(q: String): (Seq[Row], Set[Int]) = {
    val (_, rows, left) = runDf(q)
    (rows, left)
  }

  /** The RDDs `df`'s plan reads: checkpoints and cached relations. */
  private def reads(df: DataFrame): Set[Int] =
    df.queryExecution.withCachedData.collectWithSubqueries {
      case r: LogicalRDD => r.rdd.id
      case m: InMemoryRelation => m.cacheBuilder.cachedColumnBuffers.id
    }.toSet

  for (q <- Seq("gr_bfs", "gr_kcore", "gr_lpa_conv", "gr_hits", "gr_wcc", "gr_scc",
      "bpe_train", "wp_train")) {
    test(s"$q leaves persisted only what its result reads") {
      val (df, rows, left) = runDf(q)
      assert(rows.nonEmpty)
      val stray = left -- reads(df)
      assert(stray.isEmpty, s"$q left ${stray.size} of ${left.size} persisted RDDs " +
        "its result does not read")
    }
  }

  private def docTexts: Seq[(Long, String)] =
    io.Sources.table(spark, sf, "documents").select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  test("pr_pagerank_conv leaves at most its final checkpoint and equals its twin") {
    val (rows, left) = run("pr_pagerank_conv")
    assert(left.size <= 1, s"pr_pagerank_conv left ${left.size} RDDs persisted")
    // the same integer algebra: quadratic 3-out plant, 85% damping,
    // stop at the first round with max |Δr| < 1000 or after 40
    val unit = 1000000000L
    val ids = docTexts.map(_._1).sorted
    val n = ids.size.toLong
    val edges = for (u <- ids; j <- 1L to 3L) yield (u, Math.floorMod(u * u + 17 * j + 7, n))
    val tele = (15 * (unit / n)) / 100
    var r = ids.map(_ -> unit / n).toMap
    var rounds = 0
    var done = false
    while (!done && rounds < 40) {
      rounds += 1
      val contrib = edges.groupMapReduce(_._2)(e => r(e._1) / 3)(_ + _)
      val next = ids.map(v => v -> (tele + (85 * contrib.getOrElse(v, 0L)) / 100)).toMap
      done = ids.map(v => math.abs(next(v) - r(v))).max < 1000L
      r = next
    }
    val twin = ids.map(v => (v, r(v), rounds.toLong))
    assert(rows.map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("rank_q"),
      x.getAs[Long]("rounds"))) == twin)
  }

  test("tok_unigram_train leaves nothing persisted and equals its twin") {
    val (rows, left) = run("tok_unigram_train")
    assert(left.isEmpty, s"tok_unigram_train left ${left.size} RDDs persisted")
    // initial candidates, two Viterbi EM rounds with the bottom-quarter
    // prune, integer costs round(ln(total/cnt)·1e4)
    val inf = 1000000000000000L
    val words = docTexts.flatMap(_._2.split(" ", -1)).filter(_.nonEmpty)
      .groupMapReduce(identity)(_ => 1L)(_ + _)
    type V = Seq[(String, Long, Long)] // (piece, len, cnt)
    def costs(v: V): Map[String, Long] = {
      val tot = v.map(_._3).sum.toDouble
      v.map { case (p, _, c) =>
        p -> math.floor(StrictMath.log(tot / c.toDouble) * 10000 + 0.5).toLong }.toMap
    }
    val byCntDesc = Ordering.by[(String, Long, Long), (Long, String)](x => (-x._3, x._1))
    val freq = (for ((w, n) <- words.toSeq; j <- 1 to 4; i <- 0 to w.length - j)
      yield (w.substring(i, i + j), j.toLong, n))
      .groupMapReduce(x => (x._1, x._2))(_._3)(_ + _)
      .map { case ((p, l), c) => (p, l, c) }.toSeq
    var v: V = freq.filter(_._2 == 1) ++ freq.filter(_._2 > 1).sorted(byCntDesc).take(120)
    for (_ <- 1 to 2) {
      val cost = costs(v)
      val vocab = new java.util.HashMap[String, java.lang.Long]()
      cost.foreach { case (p, c) => vocab.put(p, c) }
      val cnt = words.toSeq.flatMap { case (w, n) =>
        val seg = SegmentKernels.viterbi(UTF8String.fromString(w), vocab, 4, inf)
        seg.getArray(1).toSeq[UTF8String](org.apache.spark.sql.types.StringType)
          .map(p => (p.toString, n))
      }.groupMapReduce(_._1)(_._2)(_ + _)
      val chars = v.filter(_._2 == 1).map { case (p, l, _) => (p, l, cnt.getOrElse(p, 0L) + 1) }
      val used = v.filter(x => x._2 > 1 && cnt.getOrElse(x._1, 0L) > 0)
        .map { case (p, l, _) => (p, l, cnt(p)) }.sortBy(x => (x._3, x._1))
      v = chars ++ used.drop(used.size / 4)
    }
    val cost = costs(v)
    val twin = v.sorted(byCntDesc).zipWithIndex.map { case ((p, l, c), i) =>
      (i + 1L, p, l, c, cost(p)) }
    assert(rows.map(x => (x.getAs[Long]("rank"), x.getAs[String]("piece"),
      x.getAs[Long]("piece_len"), x.getAs[Long]("cnt"), x.getAs[Long]("cost_q"))) == twin)
  }
}
