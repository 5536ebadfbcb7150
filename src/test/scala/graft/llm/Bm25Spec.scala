package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** ts_bm25 semantics on a hand-built corpus: more matching query terms
  * beats fewer, identical docs tie and break by doc_id, non-matching
  * docs never appear. (Exact quantized scores are the driver gate's
  * DuckDB oracle's job; this pins the ranking semantics a BM25 user
  * relies on.) */
class Bm25Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("ranking: full match > partial > single term; ties break by doc_id; non-matches absent") {
    import spark.implicits._
    val dir = TestSpark.tempDir("bm25corpus").toString
    // qid 100 (100 % 100 == 0): query = its 3 lexicographically
    // smallest distinct tokens = apple, banana, cherry
    Seq(
      (100L, "apple banana cherry"),
      (1L,   "apple banana cherry"),   // bit-identical text → exact tie with 100
      (2L,   "apple banana dog egg"),  // 2 of 3 terms, longer doc
      (3L,   "apple dog egg fig grape"), // 1 of 3 terms, longest
      (4L,   "zebra yak")              // no query term
    ).toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("ts_bm25")(spark, dir).collect()
    val q100 = out.filter(_.getAs[Long]("qid") == 100L)
      .sortBy(_.getAs[Long]("rank"))
    assert(q100.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 100L, 2L, 3L),
      s"expected tie(1,100) then 2 then 3, got ${q100.mkString(", ")}")
    assert(q100.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L, 4L))
    val scores = q100.map(_.getAs[Long]("bm25_q")).toSeq
    assert(scores(0) == scores(1), "identical docs must score identically")
    assert(scores(1) > scores(2) && scores(2) > scores(3),
      s"more matching terms must outrank fewer: $scores")
    assert(!out.exists(_.getAs[Long]("doc_id") == 4L),
      "docs with no query term must not appear")
  }
}
