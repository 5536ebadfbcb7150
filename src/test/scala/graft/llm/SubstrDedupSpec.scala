package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** dd_substr (Lee et al. seed-and-extend substring dedup) on planted
  * corpora: exact span boundaries recovered, one row per maximal span
  * regardless of how many seeds fall inside it, the ≥24-cp threshold
  * and the >32-doc boilerplate cap both falsifiable, and the content
  * hash computed from doc_a's text equal to an independent md5 of the
  * planted span. */
class SubstrDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Deterministic unique filler that shares no 8-gram across docs
    * (every 8-cp window contains the tag letters, which differ per
    * doc). */
  private def noise(tag: String, n: Int): String =
    (0 until n).map(i => s"$tag$i").mkString("~").take(n)

  private def spans(texts: Seq[(Long, String)]) = {
    import spark.implicits._
    Dedup.substrSpansImpl(texts.toDF("doc_id", "text")).collect()
  }

  private val shared =
    "EXACTLY-THIS-SPAN-IS-DUPLICATED-ACROSS-DOCUMENTS-0123456789" // 60 cps

  test("planted shared span: exact 1-based boundaries, one row, content hash") {
    val a = noise("aa", 37) + shared + noise("zz", 41)
    val b = noise("bb", 90) + shared + noise("yy", 18)
    val out = spans(Seq(1L -> a, 2L -> b, 3L -> noise("cc", 200)))
    assert(out.length == 1, out.mkString("; "))
    val r = out.head
    assert(r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L)
    assert(r.getAs[Long]("a_start") == 38L) // 1-based, after 37 noise cps
    assert(r.getAs[Long]("b_start") == 91L)
    assert(r.getAs[Long]("a_len") == shared.length.toLong)
    assert(r.getAs[String]("span_md5") == md5hex(shared))
  }

  test("disjoint docs emit nothing; shared span below 24 cps is dropped") {
    assert(spans(Seq(1L -> noise("aa", 150), 2L -> noise("bb", 150))).isEmpty)
    // 16 cps is over the winnow guarantee floor (11) but under the
    // declared 24-cp output threshold
    val tiny = "SHORT-DUP-16CPS!"
    assert(tiny.length == 16)
    val out = spans(Seq(
      1L -> (noise("aa", 60) + tiny + noise("zz", 60)),
      2L -> (noise("bb", 60) + tiny + noise("yy", 60))))
    assert(out.isEmpty, out.mkString("; "))
  }

  test("many seeds inside one long span collapse to a single maximal row") {
    // 300-cp NON-periodic shared span ≈ 75 winnow seeds, all on the
    // same diagonal — the kernel's run-skip and the oracle's DISTINCT
    // both demand exactly one emitted span (a periodic span would
    // legitimately emit one maximal span per self-alignment diagonal)
    val long = noise("qq", 300)
    val out = spans(Seq(
      1L -> (noise("aa", 25) + long + noise("zz", 25)),
      2L -> (noise("bb", 50) + long + noise("yy", 10))))
    assert(out.length == 1, s"${out.length} rows: ${out.take(5).mkString("; ")}")
    assert(out.head.getAs[Long]("a_len") == 300L)
    assert(out.head.getAs[Long]("a_start") == 26L)
    assert(out.head.getAs[Long]("b_start") == 51L)
  }

  test("boilerplate shared by >32 docs is dropped by the declared df cap") {
    // 40 IDENTICAL docs → every fingerprint has df=40 > 32, so nothing
    // seeds (the declared boilerplate-cap semantics, both directions:
    // the same corpus truncated to 3 docs pairs all C(3,2) ways)
    val docs = (1L to 40L).map(i => i -> shared)
    assert(spans(docs).isEmpty)
    val three = spans(docs.take(3))
    assert(three.length == 3, s"expected 3 pair spans, got ${three.length}")
    assert(three.forall(r => r.getAs[Long]("a_start") == 1L &&
      r.getAs[Long]("b_start") == 1L &&
      r.getAs[Long]("a_len") == shared.length.toLong &&
      r.getAs[String]("span_md5") == md5hex(shared)))
  }

  test("scrub cuts the span from the higher-id doc only; chains keep one copy") {
    import spark.implicits._
    val a = noise("aa", 37) + shared + noise("zz", 41)
    val b = noise("bb", 90) + shared + noise("yy", 18)
    val docs = Seq(1L -> a, 2L -> b, 3L -> noise("cc", 200)).toDF("doc_id", "text")
    val out = Dedup.substrScrubImpl(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chars"), r.getAs[Long]("n_cut"),
          r.getAs[String]("clean_md5"))).toMap
    // doc 1 (min id) keeps everything; doc 2 loses exactly the span
    assert(out(1L) == (a.length.toLong, 0L, md5hex(a)))
    assert(out(2L)._2 == shared.length.toLong)
    assert(out(2L)._3 == md5hex(noise("bb", 90) + noise("yy", 18)))
    assert(out(3L) == (200L, 0L, md5hex(noise("cc", 200))))
    // a chain of three identical docs converges to ONE surviving copy
    val chain = Seq(1L -> shared, 2L -> shared, 3L -> shared).toDF("doc_id", "text")
    val c = Dedup.substrScrubImpl(chain).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_cut"), r.getAs[String]("clean_md5"))).toMap
    assert(c(1L) == (0L, md5hex(shared)))
    assert(c(2L) == (shared.length.toLong, md5hex("")))
    assert(c(3L) == (shared.length.toLong, md5hex("")))
  }

  test("dd_substr_incr: planted contamination localized; batch/corpus split honored") {
    val sf = "/root/testdata/sf0.001"
    val out = Dedup.queries("dd_substr_incr")(spark, sf).collect()
    assert(out.nonEmpty)
    // split: query side is the arriving batch, match side the corpus
    assert(out.forall(_.getAs[Long]("doc_id") % 10 == 7))
    assert(out.forall(_.getAs[Long]("match_id") % 10 != 7))
    // every planted batch doc (≡7 mod 30, donor exists in the corpus)
    // must surface its 120-char splice against donor doc_id−1 at the
    // exact planted coordinates
    val lens = graft.io.Sources.table(spark, sf, "documents")
      .selectExpr("doc_id", "CAST(length(text) AS BIGINT) AS n").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plantedIds = lens.keySet.filter(i => i % 30 == 7 && lens.contains(i - 1))
    assert(plantedIds.nonEmpty)
    for (p <- plantedIds) {
      val hit = out.find(r => r.getAs[Long]("doc_id") == p &&
        r.getAs[Long]("match_id") == p - 1 &&
        r.getAs[Long]("q_start") == 1L && r.getAs[Long]("c_start") == 1L)
      assert(hit.isDefined, s"planted splice of doc $p not localized")
      // splice length = min(120, donor length); the '|' delimiter and
      // the donor's end both stop the extension exactly there
      assert(hit.get.getAs[Long]("len") == math.min(120L, lens(p - 1)),
        s"planted splice of doc $p wrong length: ${hit.get}")
    }
  }

  test("dd_substr_cov: covered chars exact, twin intervals merge to one island, zero rows kept") {
    import spark.implicits._
    val dir = TestSpark.tempDir("substr_cov").toString
    val texts = Seq(
      1L -> (noise("aa", 40) + shared + noise("zz", 30)),
      2L -> (noise("bb", 25) + shared + noise("yy", 55)),
      3L -> (noise("cc", 10) + shared + noise("xx", 80)),
      4L -> noise("dd", 150))
    texts.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'t' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.queries("dd_substr_cov")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chars"), r.getAs[Long]("n_islands"),
          r.getAs[Long]("dup_chars"), r.getAs[Long]("dup_pct_q"))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L)) // zero-coverage doc kept
    assert(out(4L)._2 == 0L && out(4L)._3 == 0L && out(4L)._4 == 0L)
    // doc 1 shares the SAME span with docs 2 and 3 — two interval
    // copies must merge to ONE island of exactly the span's width
    for (id <- Seq(1L, 2L, 3L)) {
      assert(out(id)._2 == 1L, s"doc $id islands ${out(id)}")
      assert(out(id)._3 == shared.length.toLong, s"doc $id covered ${out(id)}")
      assert(out(id)._4 == 10000L * shared.length / out(id)._1)
    }
  }

  test("st_substr: the streamed span probe equals the batch twin row for row") {
    val sf = "/root/testdata/sf0.001"
    val batch = Dedup.queries("dd_substr_incr")(spark, sf)
      .collect().map(_.toString).toSeq
    val stream = graft.streaming.StreamQueries.queries("st_substr")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(batch.nonEmpty)
    assert(stream == batch, "micro-batched span probe diverged from batch")
  }

  test("dd_substr_uni: mixed-width Unicode span recovered at exact codepoint coordinates") {
    // the corpus mixes 1/2/3/4-byte codepoints (é, 中, U+1F600 — a JVM
    // surrogate PAIR); coordinates must be codepoint indexes, so any
    // byte- or UTF-16-unit-based arithmetic shifts them (VERDICT r12 §5)
    val docs = Dedup.uniDocs
    val out = spans(docs)
    assert(out.length == 1, out.mkString("; "))
    val r = out.head
    assert(r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L)
    // doc 1: 21 noise codepoints then the span; doc 2: 45 then the span
    assert(r.getAs[Long]("a_start") == 22L, s"a_start ${r}")
    assert(r.getAs[Long]("b_start") == 46L, s"b_start ${r}")
    // the shared span is 34 CODEPOINTS (its UTF-16 length is 36 — two
    // astral chars — and its UTF-8 length is 46); a_len in any other
    // unit fails here
    val span = docs.head._2.codePoints().toArray.slice(21, 21 + 34)
    val spanStr = new String(span, 0, span.length)
    assert(spanStr.codePointCount(0, spanStr.length) == 34)
    assert(spanStr.length == 36)
    assert(spanStr.getBytes("UTF-8").length == 46)
    assert(r.getAs[Long]("a_len") == 34L, s"a_len ${r}")
    assert(r.getAs[String]("span_md5") == md5hex(spanStr))
    // the planted span really is what uniDocs intended (guards the
    // fixture itself against accidental edits)
    assert(spanStr.startsWith("UNIéSPAN") && spanStr.endsWith("ABCD"))
  }

  test("astral chars flanking the span do not extend through a surrogate slip") {
    // both docs place the SAME astral char right before the span and
    // DIFFERENT astral chars right after: correct codepoint extension
    // grows the span left by exactly 1 and stops right at the boundary;
    // splitting a surrogate pair on either side would misalign both
    val emoSame = new String(Character.toChars(0x1F680)) // 🚀
    val emoA = new String(Character.toChars(0x1F600))
    val emoB = new String(Character.toChars(0x1F4A9))
    val core = "FLANKED-DUPLICATE-SPAN-0123456789" // 33 cps
    // distinct ASCII chars ('A'/'B') pin the left boundary: the noise
    // helpers can both end in '~', which would legitimately extend the
    // span one codepoint left and blur what this test isolates
    val a = noise("aa", 39) + "A" + emoSame + core + emoA + noise("zz", 30)
    val b = noise("bb", 69) + "B" + emoSame + core + emoB + noise("yy", 12)
    val out = spans(Seq(1L -> a, 2L -> b))
    assert(out.length == 1, out.mkString("; "))
    val r = out.head
    assert(r.getAs[Long]("a_start") == 41L) // the shared 🚀, 1-based
    assert(r.getAs[Long]("b_start") == 71L)
    assert(r.getAs[Long]("a_len") == (1 + core.codePointCount(0, core.length)).toLong)
    assert(r.getAs[String]("span_md5") == md5hex(emoSame + core))
  }

  test("two distinct shared spans in the same pair both surface") {
    val s2 = "SECOND-INDEPENDENT-DUPLICATE-SPAN-WITH-30+" // 42 cps
    val a = noise("aa", 30) + shared + noise("mm", 33) + s2 + noise("zz", 20)
    val b = noise("bb", 10) + s2 + noise("nn", 44) + shared + noise("yy", 28)
    val out = spans(Seq(1L -> a, 2L -> b)).sortBy(_.getAs[Long]("a_start"))
    assert(out.length == 2, out.mkString("; "))
    assert(out(0).getAs[Long]("a_start") == 31L &&
      out(0).getAs[Long]("b_start") == (10 + s2.length + 44 + 1).toLong &&
      out(0).getAs[Long]("a_len") == shared.length.toLong)
    assert(out(1).getAs[Long]("a_start") == (30 + shared.length + 33 + 1).toLong &&
      out(1).getAs[Long]("b_start") == 11L &&
      out(1).getAs[Long]("a_len") == s2.length.toLong)
  }
}
