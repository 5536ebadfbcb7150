package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** BPE trainer/encoder invariants beyond the oracle hash: within-round
  * rank order must be monotone in count, encoding must actually
  * compress, the canonical symbol-array merge must catch back-to-back
  * disjoint pair occurrences (the case a string-space non-overlapping
  * replace under-merges — ADVICE r7), pair exhaustion must be a no-op
  * rather than a vocab-destroying edge case, and the whole derivation
  * must be partition-count independent. */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("within each round, selected pair counts are non-increasing by rank") {
    val merges = Bpe.queries("bpe_train")(spark, sf).collect()
    assert(merges.length > 20) // the corpus sustains well past the old 10-merge cap
    merges.groupBy(_.getAs[Long]("merge_round")).foreach { case (_, rows) =>
      // within a round, step order IS rank order
      val byRank = rows.sortBy(_.getAs[Long]("step")).map(_.getAs[Long]("cnt"))
      byRank.sliding(2).foreach {
        case Array(a, b) => assert(a >= b, byRank.toSeq)
        case _ =>
      }
    }
    assert(merges.map(_.getAs[Long]("cnt")).min > 0)
  }

  test("encoding compresses: fewer BPE tokens than characters, at least one merge applied") {
    val enc = Bpe.queries("bpe_encode")(spark, sf)
    val base = graft.io.Sources.table(spark, sf, "documents")
      .select(col("doc_id"),
        aggregate(split(col("text"), " "), lit(0L),
          (acc, w) => acc + length(w)).as("n_char_tokens"))
    val joined = enc.join(base, "doc_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val bpe = r.getAs[Long]("n_tokens_bpe")
      val chars = r.getAs[Long]("n_char_tokens")
      assert(bpe <= chars, r.toString) // a token is >= 1 char
    }
    // corpus-wide, the merges must have fired somewhere
    val totBpe = joined.map(_.getAs[Long]("n_tokens_bpe")).sum
    val totChar = joined.map(_.getAs[Long]("n_char_tokens")).sum
    assert(totBpe < totChar, s"$totBpe !< $totChar")
  }

  test("canonical merge: back-to-back disjoint occurrences merge in one round (ADVICE r7), and exhaustion is a no-op") {
    // Corpus: three instances of "abab". Canonical left-to-right array
    // merging turns "a b a b" into [ab, ab] in round 1 (a non-overlapping
    // STRING replace would yield [ab, a, b] — the shared-delimiter bug),
    // so round 2's top pair must be (ab, ab), and after "abab" collapses
    // to one symbol every later round finds no pair — the merge table
    // must stop growing, not corrupt the vocab.
    val dir = TestSpark.tempDir("bpe_tiny").toString
    import spark.implicits._
    Seq((1L, "abab abab abab", "en", "t", 14L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val merges = Bpe.queries("bpe_train")(spark, dir).collect()
      .map(r => (r.getAs[Long]("step"), r.getAs[String]("lsym"),
        r.getAs[String]("rsym"), r.getAs[Long]("cnt")))
    assert(merges.toSeq == Seq(
      (1L, "a", "b", 6L),  // round 1 rank 1
      (2L, "b", "a", 3L),  // round 1 rank 2 (K=8 admits it)
      (3L, "ab", "ab", 3L) // round 2: proof both round-1 occurrences merged
    ), merges.toSeq)
    val enc = Bpe.queries("bpe_encode")(spark, dir).collect()
    assert(enc.length == 1)
    assert(enc.head.getAs[Long]("n_words") == 3L)
    assert(enc.head.getAs[Long]("n_tokens_bpe") == 3L) // one symbol per word
  }

  test("the learned merges are identical under a different partition count") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("step"), r.getAs[Long]("merge_round"), r.getAs[String]("lsym"),
        r.getAs[String]("rsym"), r.getAs[Long]("cnt"))
    val a = Bpe.queries("bpe_train")(spark, sf).collect().map(key).toSet
    val scoped = graft.ops.ScopedSession(spark, "bpespec-p3",
      "spark.sql.shuffle.partitions" -> "3")
    val b = Bpe.queries("bpe_train")(scoped, sf).collect().map(key).toSet
    assert(a == b)
  }
}
