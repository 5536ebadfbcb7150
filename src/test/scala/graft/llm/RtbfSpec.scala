package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Deletion-compliance sweep (dq_rtbf): the ledger bites on every
  * artifact, the written scrub really contains no deleted-doc rows,
  * the LIVE index is maintenance-not-rebuild untouched, and a re-run
  * is idempotent. */
class RtbfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val ledger = Dedup.queries("dq_rtbf")(spark, sf).collect()
  private lazy val idx = Dedup.ensureDedupIndexFor(spark, sf)

  test("the ledger bites: every artifact had rows to forget, and forgot them") {
    assert(ledger.map(_.getAs[String]("artifact")).sorted.sameElements(
      Array("chunks", "hashes", "signatures", "winnow")))
    ledger.foreach { r =>
      assert(r.getAs[Long]("n_touching_before") > 0,
        s"vacuous erasure on ${r.getAs[String]("artifact")}: $r")
      assert(r.getAs[Long]("n_touching_after") == 0, s"retention after scrub: $r")
      assert(r.getAs[Long]("n_after") ==
        r.getAs[Long]("n_before") - r.getAs[Long]("n_touching_before"), r.toString)
    }
  }

  test("the written scrub carries no deleted doc ids") {
    ledger
    val del = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 10 =!= 7 && col("doc_id") % 20 === 5)
      .select("doc_id")
    Seq("hashes", "signatures", "winnow").foreach { name =>
      val n = spark.read.parquet(s"$idx/rtbf/$name")
        .join(del, Seq("doc_id"), "left_semi").count()
      assert(n == 0, s"$name scrub kept $n deleted-doc rows")
    }
  }

  test("maintenance, not rebuild: the live index is untouched") {
    val marker = new java.io.File(s"$idx/hashes/_SUCCESS")
    ledger
    val t0 = marker.lastModified
    Dedup.queries("dq_rtbf")(spark, sf).collect()
    assert(marker.lastModified == t0, "the sweep rewrote the live index")
  }

  test("idempotent: a second sweep reports the identical ledger") {
    val again = Dedup.queries("dq_rtbf")(spark, sf).collect()
    assert(again.map(_.toString).sorted.sameElements(
      ledger.map(_.toString).sorted))
  }

  test("incremental scrubs keep a constant-size pairs plan across calls") {
    // three calls with a growing deletion set, each fed the pairs the
    // previous one returned (the st_rtbf trigger chain): the returned
    // pairs must not nest one more anti-join per call, and the third
    // call's pairs must equal a from-scratch scrub's over the full set
    import org.apache.spark.sql.graft.PlanBridge.releaseCheckpoint
    import spark.implicits._
    val ids = Dedup.incrCorpus(spark, sf).filter(col("doc_id") % 20 === 5)
      .select("doc_id").as[Long].collect().sorted
    val root = TestSpark.tempDir("rtbf-chain").toString
    def nodes(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect { case n => n }.size
    var pairs: Option[org.apache.spark.sql.DataFrame] = None
    val sizes = (1 to 3).map { i =>
      val del = ids.take(ids.length * i / 3).toSeq.toDF("doc_id")
      val (_, next) = Dedup.rtbfScrubIncr(spark, sf, idx, root, del, pairs,
        keepPairs = true)
      pairs.foreach(releaseCheckpoint)
      pairs = Some(next)
      nodes(next)
    }
    assert(sizes(1) == sizes(2), s"pairs plan grows per call: node counts $sizes")
    val (_, fresh) = Dedup.rtbfScrubIncr(spark, sf, idx, s"$root-fresh",
      ids.toSeq.toDF("doc_id"), None, keepPairs = true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "ch").collect().map(_.toString).sorted.toSeq
    assert(rows(pairs.get) == rows(fresh), "chained pairs != from-scratch pairs")
    pairs.foreach(releaseCheckpoint)
    releaseCheckpoint(fresh)
  }
}
