package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** dd_spans: maximal duplicated substring spans must be discovered by
  * cross-document k-gram frequency alone — a planted corpus with two
  * shared passages (24 and 17 tokens, found), a 9-token shared run
  * (k−1 < k, must NOT be found), and otherwise doc-unique tokens —
  * verified span-for-span against an independent in-test recomputation
  * (string-keyed grams, brute-force interval merge). */
class SpanDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private val passageA = (1 to 24).map(i => s"sharedA_$i").mkString(" ")
  private val passageB = (1 to 17).map(i => s"sharedB_$i").mkString(" ")
  private val shortRun = (1 to 9).map(i => s"sharedN_$i").mkString(" ")

  private def tokensOf(id: Long): Seq[String] = {
    val body = (1 to 40).map(i => s"d${id}_w$i")
    val withN = if (id % 5 == 1) shortRun.split(" ").toSeq ++ body else body
    val withA = if (id % 3 == 0)
      withN.take(5) ++ passageA.split(" ") ++ withN.drop(5) else withN
    if (id % 7 == 2) withA ++ passageB.split(" ") else withA
  }

  /** Duplicated-hit intervals per doc: string-keyed k-grams,
    * ≥2-distinct-doc frequency — brute force, no Spark. Computed once
    * per corpus; both the report and scrub references derive from it. */
  private def referenceHits(docs: Map[Long, Seq[String]], k: Int)
      : Map[Long, Seq[(Int, Int)]] = {
    val gramDocs = docs.toSeq
      .flatMap { case (id, tk) => tk.sliding(k).map(_.mkString(" ")).map(_ -> id) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).distinct.size }
    docs.map { case (id, tk) =>
      id -> tk.sliding(k).zipWithIndex.collect {
        case (g, pos) if gramDocs(g.mkString(" ")) >= 2 => (pos, pos + k - 1)
      }.toSeq
    }
  }

  /** Reference algorithm: hit intervals + coverage-interval merge. */
  private def referenceSpans(docs: Map[Long, Seq[String]], k: Int)
      : Map[Long, (Long, Long, String, Long)] = {
    val hitMap = referenceHits(docs, k)
    docs.flatMap { case (id, tk) =>
      val hits = hitMap(id)
      if (hits.isEmpty) None
      else {
        val spans = hits.tail.foldLeft(List(hits.head)) {
          case (acc @ ((s0, e0) :: rest), (p, e)) =>
            if (p > e0 + 1) (p, e) :: acc else (s0, math.max(e0, e)) :: rest
          case (Nil, h) => List(h)
        }.reverse
        Some(id -> (spans.size.toLong,
          spans.map { case (s, e) => (e - s + 1).toLong }.sum,
          md5hex(spans.map { case (s, e) => s"$s:$e" }.mkString(",")),
          tk.size.toLong))
      }
    }
  }

  test("dd_spans finds exactly the maximal >=k shared spans, never the k-1 run") {
    import spark.implicits._
    val ids = 0L until 30L
    val docs = ids.map(id => id -> tokensOf(id)).toMap
    val dir = TestSpark.tempDir("graft_spans").toString
    ids.map(id => (id, docs(id).mkString(" "))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val expected = referenceSpans(docs, Dedup.spanK)
    // sanity on the plant: docs whose ONLY shared content is the
    // 9-token run (1, 11, 26) must have no span — 9 < k
    for (id <- Seq(1L, 11L, 26L))
      assert(!expected.contains(id), s"k-1 shared run detected in doc $id")
    // doc 3 carries passage A alone: one span, exactly A's 24 tokens
    assert(expected(3L) == ((1L, 24L, md5hex("5:28"), 64L)))
    // doc 9 carries A mid-doc and B appended: two disjoint spans, 24+17
    assert(expected(9L)._1 == 2L && expected(9L)._2 == 41L)

    val out = Dedup.queries("dd_spans")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("dup_tokens"),
          r.getAs[String]("spans_md5"), r.getAs[Long]("n_tokens")))
      .toMap
    assert(out == expected)
  }

  test("dd_spans_scrub removes exactly the spanned tokens, byte-for-byte") {
    import spark.implicits._
    val ids = 0L until 30L
    val docs = ids.map(id => id -> tokensOf(id)).toMap
    val dir = TestSpark.tempDir("graft_scrub").toString
    ids.map(id => (id, docs(id).mkString(" "))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val hitMap = referenceHits(docs, Dedup.spanK)
    val out = Dedup.queries("dd_spans_scrub")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[String]("clean_md5"))).toMap
    assert(out.keySet == ids.toSet) // every doc reported, spanned or not
    for (id <- ids) {
      val tk = docs(id)
      // covered positions = union of duplicated-hit intervals, which
      // the interval merge never changes — so this check is
      // independent of the merge step too
      val coveredPos: Set[Int] =
        hitMap(id).flatMap { case (s0, e0) => s0 to e0 }.toSet
      val kept = tk.zipWithIndex.collect {
        case (t, i) if !coveredPos(i) => t
      }
      val (nTok, nRem, md5v) = out(id)
      assert(nTok == tk.size && nRem == coveredPos.size, s"doc $id counts")
      assert(md5v == md5hex(kept.mkString(" ")), s"doc $id clean_md5")
    }
  }

  test("dd_spans broadcast-joins the duplicated-gram set") {
    val p = Dedup.queries("dd_spans")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"duplicated-gram membership should broadcast:\n$p")
  }
}
