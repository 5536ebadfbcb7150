package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Unigram-LM tokenizer invariants beyond the oracle hash: the native
  * Viterbi kernel against hand-checked DPs (including the tie rule),
  * and structural properties of the trained vocab / encode. */
class UnigramSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def segment(word: String, vocab: Seq[(String, Long)]): (Long, Seq[String]) = {
    import spark.implicits._
    val df = Seq((word, 1L)).toDF("word", "n")
    val row = Unigram.viterbi(df, vocab).head()
    (row.getAs[Long]("cost"), row.getAs[scala.collection.Seq[String]]("ps").toSeq)
  }

  test("viterbi picks the cheaper segmentation, hand-checked") {
    // ab+ab = 30 beats a+b+a+b = 40
    val (cost, ps) = segment("abab", Seq("a" -> 10L, "b" -> 10L, "ab" -> 15L))
    assert(cost == 30L)
    assert(ps == Seq("ab", "ab"), "backtrace emits end-to-start")
  }

  test("viterbi tie-break: equal-cost paths resolve to the smallest final piece length") {
    // j=1 (a+b = 10) ties j=2 (ab = 10): the CASE chain picks j=1
    val (cost, ps) = segment("ab", Seq("a" -> 5L, "b" -> 5L, "ab" -> 10L))
    assert(cost == 10L)
    assert(ps == Seq("b", "a"))
  }

  test("viterbi uses longer pieces only when strictly cheaper, and handles missing pieces") {
    val (cost, ps) = segment("abc", Seq("a" -> 5L, "b" -> 5L, "c" -> 5L, "abc" -> 14L))
    assert(cost == 14L && ps == Seq("abc"))
    // no multi-char pieces at all: falls back to chars
    val (c2, p2) = segment("ab", Seq("a" -> 7L, "b" -> 9L))
    assert(c2 == 16L && p2 == Seq("b", "a"))
  }

  test("training clocks each of its 2 EM rounds under tok_unigram_train") {
    graft.RoundClock.drain()
    Unigram.queries("tok_unigram_train")(spark, sf)
    val rs = graft.RoundClock.drain().map(r => (r.family, r.round))
    assert(rs == Seq(("tok_unigram_train", 1), ("tok_unigram_train", 2)))
  }

  test("training ranks on the driver: no unpartitioned-window WARN") {
    val warns = TestSpark.warnsDuring(
      Unigram.queries("tok_unigram_train")(spark, sf).collect())
    assert(!warns.exists(_.contains("No Partition Defined")), warns)
  }

  test("trained vocab is structurally sound") {
    val v = Unigram.queries("tok_unigram_train")(spark, sf).collect()
    assert(v.nonEmpty)
    assert(v.forall(_.getAs[Long]("piece_len") <= 4))
    assert(v.forall(r => r.getAs[String]("piece").length == r.getAs[Long]("piece_len")))
    // ranks contiguous from 1
    assert(v.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to v.length).toSeq)
    // every character of the corpus survives (segmentability floor)
    val chars = v.filter(_.getAs[Long]("piece_len") == 1L).map(_.getAs[String]("piece")).toSet
    val corpusChars = graft.io.Sources.table(spark, sf, "documents")
      .select(explode(split(regexp_replace(col("text"), " ", ""), "")).as("c"))
      .filter(length(col("c")) > 0).distinct().collect().map(_.getString(0)).toSet
    assert(corpusChars.subsetOf(chars))
    // cost is monotone nonincreasing in count (same total, same ln)
    val byCnt = v.sortBy(-_.getAs[Long]("cnt"))
    assert(byCnt.zip(byCnt.tail).forall { case (a, b) =>
      a.getAs[Long]("cost_q") <= b.getAs[Long]("cost_q") })
  }

  test("encode conserves word instances and sums piece costs") {
    val enc = Unigram.queries("tok_unigram_encode")(spark, sf).collect()
    assert(enc.nonEmpty)
    val totalWords = enc.map(_.getAs[Long]("n_words")).sum
    val corpusWords = graft.io.Sources.table(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).count()
    assert(totalWords == corpusWords)
    // pieces at least words (a piece never spans words), cost positive
    enc.foreach { r =>
      assert(r.getAs[Long]("n_pieces") >= r.getAs[Long]("n_words"))
      assert(r.getAs[Long]("sum_cost_q") > 0L)
    }
  }

  test("fertility rollup conserves the encode totals and its ratios are sound") {
    import org.apache.spark.sql.functions._
    val fert = Unigram.queries("tok_fertility")(spark, sf).collect()
    assert(fert.nonEmpty)
    // language rollup and doc rollup count the SAME word instances
    val enc = Unigram.queries("tok_unigram_encode")(spark, sf)
      .agg(sum("n_words"), sum("n_pieces")).collect().head
    assert(fert.map(_.getAs[Long]("n_words")).sum == enc.getLong(0))
    assert(fert.map(_.getAs[Long]("n_pieces")).sum == enc.getLong(1))
    fert.foreach { r =>
      // at least one piece per word; a piece never exceeds its word
      assert(r.getAs[Long]("fertility_q") >= 10000L, r.toString)
      assert(r.getAs[Long]("cpt_q") >= 10000L, r.toString) // pieces are >= 1 char
      // ratio replay from the emitted sums (integer division exact)
      assert(r.getAs[Long]("fertility_q") ==
        10000L * r.getAs[Long]("n_pieces") / r.getAs[Long]("n_words"))
      assert(r.getAs[Long]("cpt_q") ==
        10000L * r.getAs[Long]("n_chars") / r.getAs[Long]("n_pieces"))
    }
  }
}
