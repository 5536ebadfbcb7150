package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** tx_fim checked on a hand corpus where every branch fires: the
  * reassembly invariant (prefix+middle+suffix == original, lengths
  * partition len), the PSM/SPM renders replayed with plain string ops,
  * the odd-id plain passthrough, and the <9-char plain guard. */
class FimSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def runOn(texts: Seq[(Long, String)]) = {
    import spark.implicits._
    val dir = TestSpark.tempDir("fim").toString
    texts.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'t' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    TextOps.queries("tx_fim")(spark, dir).collect()
  }

  test("cuts partition the doc, renders replay, plain branches fire") {
    val corpus = Seq(
      0L -> "the quick brown fox jumps over the lazy dog tonight",
      1L -> "odd ids pass through as plain regardless of length!!",
      2L -> "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGH",
      4L -> "tiny")  // even but < 9 chars -> plain via the length guard
    val rows = runOn(corpus).map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows.keySet == Set(0L, 1L, 2L, 4L))
    assert(rows(1L).getAs[String]("mode") == "plain")
    assert(rows(4L).getAs[String]("mode") == "plain")
    assert(rows(1L).getAs[java.lang.Long]("c1") == null)
    // plain passthrough hashes the original text
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String) =
      md5.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(rows(4L).getAs[String]("out_md5") == hex("tiny"))
    for (id <- Seq(0L, 2L)) {
      val r = rows(id)
      assert(r.getAs[String]("mode") == "fim")
      val text = corpus.toMap.apply(id)
      val len = text.length.toLong
      val third = len / 3
      val c1 = 1 + (id * 7919) % third
      val c2 = c1 + 1 + (id * 104729) % third
      assert(r.getAs[Long]("c1") == c1 && r.getAs[Long]("c2") == c2)
      val (pre, mid, suf) = (text.substring(0, (c1 - 1).toInt),
        text.substring((c1 - 1).toInt, (c2 - 1).toInt),
        text.substring((c2 - 1).toInt))
      assert(pre + mid + suf == text) // reassembly invariant
      assert(r.getAs[Long]("n_pre") == pre.length &&
        r.getAs[Long]("n_mid") == mid.length &&
        r.getAs[Long]("n_suf") == suf.length)
      assert(r.getAs[Long]("n_pre") + r.getAs[Long]("n_mid") +
        r.getAs[Long]("n_suf") == len)
      assert(r.getAs[String]("out_md5") == hex(s"<PRE>$pre<SUF>$suf<MID>$mid"))
      assert(r.getAs[String]("spm_md5") == hex(s"<SUF>$suf<PRE>$pre<MID>$mid"))
      assert(mid.nonEmpty && suf.nonEmpty) // both cut invariants real
    }
  }
}
