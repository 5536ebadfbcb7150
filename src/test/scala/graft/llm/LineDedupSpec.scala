package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** dd_lines: boilerplate must be discovered by corpus frequency alone —
  * a planted corpus where the header crosses the ≥20-docs threshold and
  * the footer deliberately does NOT, verified byte-for-byte against an
  * independent in-test recomputation. */
class LineDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("dd_lines removes frequent lines only, preserving order and bytes") {
    import spark.implicits._
    // doc_id 0..119: 24 docs get the header (>= 20 → boilerplate),
    // 18 docs get the footer (< 20 → must be KEPT)
    val docs = (0L until 120L).map { id =>
      (id, (1 to 25).map(i => s"d${id}_w$i").mkString(" "))
    }
    val dir = TestSpark.tempDir("graft_lines").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val out = Dedup.queries("dd_lines")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_lines"), r.getAs[Long]("n_removed"), r.getAs[String]("clean_md5")))
      .toMap
    assert(out.size == 120)
    for (id <- 0L until 120L) {
      val body = (1 to 25).map(i => s"d${id}_w$i").mkString(" ")
      // body chunks of 10 tokens, exactly as the operator chunks them
      val toks = body.split(" ")
      val chunks = toks.grouped(10).map(_.mkString(" ")).toSeq
      val hasHeader = id % 5 == 0
      val hasFooter = id % 7 == 0
      val allLines = (if (hasHeader) Seq(Dedup.bpHeader) else Nil) ++
        chunks ++ (if (hasFooter) Seq(Dedup.bpFooter) else Nil)
      // only the header is frequent enough to be boilerplate here
      val kept = allLines.filterNot(_ == Dedup.bpHeader)
      val (nLines, nRemoved, cleanMd5) = out(id)
      assert(nLines == allLines.size, s"doc $id n_lines")
      assert(nRemoved == (if (hasHeader) 1 else 0), s"doc $id n_removed")
      assert(cleanMd5 == md5hex(kept.mkString("\n")), s"doc $id clean_md5")
    }
  }

  test("dd_lines broadcast-joins the frequent set (fact side not shuffled for membership)") {
    val p = Dedup.queries("dd_lines")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"frequent-line membership should broadcast:\n$p")
  }
}
