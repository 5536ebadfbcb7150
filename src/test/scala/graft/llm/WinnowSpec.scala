package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** ts_winnow checked three ways: full row equality against an
  * independent plain-Scala winnower on a hand corpus (short branch
  * included), the published density/gap guarantees (a fingerprint in
  * every window ⇒ selected-position gaps ≤ w), and the
  * position-robustness property that motivates the operator — a
  * prefix insertion shifts every position but preserves the trailing
  * content's fingerprint HASHES. */
class WinnowSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val (k, w) = (8, 4)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Independent reference winnower: plain loops, rightmost min. */
  private def ref(text: String): Seq[String] = {
    val n = text.length
    if (n < 11) return Seq.empty
    val hs = (0 to n - k).map(i => md5hex(text.substring(i, i + k)))
    (0 to hs.length - w).map { j =>
      val win = hs.slice(j, j + w)
      val minv = win.min
      val rpos = j + win.lastIndexOf(minv) // 0-based
      f"${rpos + 1}%08d:$minv"
    }.distinct.sorted
  }

  private def runOn(texts: Seq[(Long, String)]) = {
    import spark.implicits._
    val dir = TestSpark.tempDir("winnow").toString
    texts.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'t' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    TextOps.queries("ts_winnow")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
  }

  private val body = "the quick brown fox jumps over the lazy dog while rain falls"

  test("hand corpus matches the independent winnower; short branch fires") {
    val corpus = Seq(0L -> body, 1L -> "tiny text", // 9 chars < 11 -> short
      2L -> ("PREFIX INSERTED HERE " + body))
    val got = runOn(corpus)
    assert(got(1L).getAs[String]("mode") == "short")
    assert(got(1L).getAs[Long]("n_fps") == 0L)
    assert(got(1L).getAs[String]("fp_md5") == md5hex(""))
    for (id <- Seq(0L, 2L)) {
      val fps = ref(corpus.toMap.apply(id))
      val r = got(id)
      assert(r.getAs[String]("mode") == "fp")
      assert(r.getAs[Long]("n_grams") == corpus.toMap.apply(id).length - k + 1)
      assert(r.getAs[Long]("n_fps") == fps.size)
      assert(r.getAs[String]("fp_md5") == md5hex(fps.mkString(",")))
    }
  }

  test("winnowing guarantees: gaps <= w and density near 2/(w+1)") {
    val fps = ref(body)
    val positions = fps.map(_.take(8).toInt).sorted
    positions.sliding(2).foreach { case Seq(a, b) => assert(b - a <= w) }
    val windows = body.length - k + 1 - w + 1
    val density = fps.size.toDouble / windows
    assert(density > 0.2 && density < 0.7, s"density $density out of band")
  }

  test("dd_winnow: near-copies pair, disjoint docs don't, boilerplate cap bites") {
    import spark.implicits._
    val dir = TestSpark.tempDir("ddwinnow").toString
    // 0/1: near-copies (shared body, different prefix); 2: disjoint;
    // 100..139: forty docs sharing one verbatim sentence -> its
    // fingerprints have df 40 > 32 and may create no pairs
    val boiler = "this exact boilerplate sentence appears in forty documents verbatim"
    val docs = Seq(
      0L -> body, 1L -> ("DIFFERENT HEAD " + body),
      2L -> "nothing here resembles the fox sentence in any way at all friend") ++
      (100L to 139L).map(i => i -> s"unique head $i $boiler")
    docs.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'t' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = Dedup.queries("dd_winnow")(spark, dir).collect()
      .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"))).toSet
    assert(pairs.contains((0L, 1L)), "near-copies must pair")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), "disjoint doc paired")
    // the boilerplate block: every cross-pair's shared fingerprints sit
    // in df-40 buckets, which the 2..32 band drops entirely
    assert(!pairs.exists(p => p._1 >= 100L && p._2 >= 100L),
      "over-cap boilerplate fingerprints must not create pairs")
  }

  test("prefix insertion preserves trailing-content fingerprint hashes") {
    val hashesOf = (t: String) => ref(t).map(_.drop(9)).toSet // hash part only
    val base = hashesOf(body)
    val shifted = hashesOf("X" * 23 + body) // every position moves by 23
    val shared = base.intersect(shifted).size.toDouble / base.size
    assert(shared > 0.7, s"only ${shared * 100}%% of hashes survive the shift")
    // falsifiable the other way: genuinely different text shares ~nothing
    val other = hashesOf("completely different content with no overlap at all here")
    assert(base.intersect(other).isEmpty)
  }
}
