package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Top-V driver-vocab cap (VERDICT r14 next §5): the tokenizer vocab
  * collects are corpus-vocabulary-bounded, which a heavy-tailed 100 TB
  * corpus outgrows — the cap makes the driver bound EXPLICIT. Pinned:
  * deterministic truncation under an over-V plant (the corpus vocab
  * exceeds the configured cap), unchanged vocab at the SFs under the
  * default cap, single-char preservation on the unigram side (Viterbi
  * segmentability), and sidecar meta rejection of a cap-mismatched
  * artifact. */
class VocabCapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def wordCounts: Map[String, Long] =
    graft.io.Sources.table(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap

  test("over-V plant: BPE vocab truncates to exactly top-V by (count desc, word asc)") {
    val v = 8
    val counts = wordCounts
    assert(counts.size > v, s"corpus vocab ${counts.size} must exceed the planted cap $v")
    spark.conf.set("graft.tokenizer.topV", v.toString)
    try {
      Bpe.queries("bpe_train")(spark, sf).write.format("noop").mode("overwrite").save()
      val rows = VocabStore.get(spark, sf, "bpe")(fail("bpe_train stored no vocabulary"))
      assert(rows.length == v, s"capped vocab has ${rows.length} rows, want $v")
      val expect = counts.toSeq.sortBy { case (w, n) => (-n, w) }.take(v).map(_._1).toSet
      assert(rows.map(_.getString(0)).toSet == expect,
        "truncation did not keep the top-V words by (count desc, word asc)")
    } finally spark.conf.unset("graft.tokenizer.topV")
  }

  test("default cap leaves the SF vocab untouched (vocab < V)") {
    val counts = wordCounts
    assert(counts.size < VocabStore.topV(spark))
    Bpe.queries("bpe_train")(spark, sf).write.format("noop").mode("overwrite").save()
    val rows = VocabStore.get(spark, sf, "bpe")(fail("bpe_train stored no vocabulary"))
    assert(rows.map(_.getString(0)).toSet == counts.keySet,
      "default-cap vocab must be the full corpus vocabulary at this SF")
  }

  test("unigram cap preserves every single-char piece (Viterbi segmentability)") {
    // train once under the default cap to learn the char inventory
    Unigram.queries("tok_unigram_train")(spark, sf)
      .write.format("noop").mode("overwrite").save()
    val full = Unigram.queries("tok_unigram_train")(spark, sf).collect()
    val nChars = full.count(_.getAs[Long]("piece_len") == 1)
    assert(nChars > 0)
    spark.conf.set("graft.tokenizer.topV", (nChars + 2).toString)
    try {
      // a fresh cap key forces a capped retrain; encode must still
      // segment every word (no INF-cost failures -> rows for all docs)
      val enc = Unigram.queries("tok_unigram_encode")(spark, sf).collect()
      val nDocs = graft.io.Sources.table(spark, sf, "documents").count()
      assert(enc.length == nDocs,
        s"capped unigram encode lost docs: ${enc.length} of $nDocs - " +
          "a word went unsegmentable, chars were not preserved")
    } finally spark.conf.unset("graft.tokenizer.topV")
  }

  test("sidecar meta: an artifact trained under one cap never serves another") {
    spark.conf.set("graft.tokenizer.topV", "8")
    try {
      Bpe.queries("bpe_train")(spark, sf).write.format("noop").mode("overwrite").save()
    } finally spark.conf.unset("graft.tokenizer.topV")
    // the on-disk artifact now carries topV=8 meta; a default-cap read
    // must reject it (None -> the caller would retrain)
    assert(VocabStore.read(spark, sf, "bpe", s"topV=${VocabStore.topV(spark)}").isEmpty,
      "cap-mismatched artifact was trusted")
    assert(VocabStore.read(spark, sf, "bpe", "topV=8").nonEmpty,
      "matching-cap artifact should read back")
  }
}
