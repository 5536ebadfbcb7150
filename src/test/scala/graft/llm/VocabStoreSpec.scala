package graft.llm

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.io.Artifacts

/** Artifact-trust gate for [[VocabStore]] (ADVICE r10, medium): a
  * fresh-JVM encode must only consume an artifact whose sidecar
  * fingerprint matches the CURRENT corpus + trainer, and must fall
  * back to retraining on any mismatch — a stale, foreign, truncated,
  * or collided artifact must read as absent, never silently
  * mis-encode. */
class VocabStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Fresh fake corpus dir (one parquet-table-shaped subdir) + fresh
    * artifact root, so suites never share state. */
  private def freshCorpus(tag: String): String = {
    val d = TestSpark.tempDir(s"vocab_corpus_$tag")
    val sub = d.resolve("documents.parquet")
    Files.createDirectory(sub)
    Files.writeString(sub.resolve("part-00000.parquet"), s"payload-$tag")
    d.toString
  }

  private def vocabDf = {
    import spark.implicits._
    Seq(("ab", 2L), ("cd", 1L)).toDF("word", "n_syms")
  }

  test("round trip: written artifact reads back with matching rows") {
    val d = freshCorpus("rt")
    VocabStore.write(d, "bpe", vocabDf)
    val back = VocabStore.read(spark, d, "bpe")
    assert(back.isDefined, "clean artifact must read back")
    assert(back.get.collect().map(r => (r.getString(0), r.getLong(1))).toSet ===
      Set(("ab", 2L), ("cd", 1L)))
  }

  test("tampered sidecar fingerprint → artifact distrusted (None)") {
    val d = freshCorpus("tamper")
    VocabStore.write(d, "bpe", vocabDf)
    val sc = Paths.get(s"${VocabStore.path(d, "bpe")}/_GRAFT_FINGERPRINT")
    Files.writeString(sc, "deadbeef" * 4 + "|2")
    assert(VocabStore.read(spark, d, "bpe").isEmpty,
      "a foreign/poisoned sidecar must not be trusted")
  }

  test("regenerated corpus (changed file size) → artifact distrusted") {
    val d = freshCorpus("regen")
    VocabStore.write(d, "unigram", vocabDf)
    assert(VocabStore.read(spark, d, "unigram").isDefined)
    // regenerate the corpus: same path, different bytes → manifest
    // (size) changes → fingerprint mismatch → retrain
    Files.writeString(
      Paths.get(d, "documents.parquet", "part-00000.parquet"),
      "regenerated corpus with different length")
    assert(VocabStore.read(spark, d, "unigram").isEmpty,
      "an artifact trained on a prior corpus generation must retrain")
  }

  test("truncated artifact (row count mismatch vs sidecar) → distrusted") {
    import spark.implicits._
    val d = freshCorpus("trunc")
    VocabStore.write(d, "bpe", vocabDf)
    val p = VocabStore.path(d, "bpe")
    val sidecar = Files.readString(Paths.get(s"$p/_GRAFT_FINGERPRINT"))
    // overwrite the parquet with FEWER rows, restoring the stale
    // sidecar (overwrite mode deletes it) — simulates partial loss
    Seq(("ab", 2L)).toDF("word", "n_syms")
      .coalesce(1).write.mode("overwrite").parquet(p)
    Files.writeString(Paths.get(s"$p/_GRAFT_FINGERPRINT"), sidecar)
    assert(VocabStore.read(spark, d, "bpe").isEmpty,
      "a truncated artifact must retrain, not mis-encode")
  }

  test("sidecar-less artifact (legacy/foreign write) → distrusted") {
    val d = freshCorpus("legacy")
    vocabDf.coalesce(1).write.mode("overwrite")
      .parquet(VocabStore.path(d, "bpe"))
    assert(VocabStore.read(spark, d, "bpe").isEmpty,
      "an artifact without a sidecar must not be trusted")
  }

  test("distinct corpora never fingerprint alike (path + manifest in the hash)") {
    val d1 = freshCorpus("c1")
    val d2 = freshCorpus("c2")
    assert(Artifacts.fingerprint(d1, Artifacts.vocab("bpe").kind) !=
      Artifacts.fingerprint(d2, Artifacts.vocab("bpe").kind),
      "fingerprints must incorporate the full canonical path + manifest")
    assert(Artifacts.fingerprint(d1, Artifacts.vocab("bpe").kind) !=
      Artifacts.fingerprint(d1, Artifacts.vocab("unigram").kind),
      "fingerprints must incorporate the trainer family")
  }

  test("encode path falls back to RETRAIN on a poisoned artifact") {
    val d = freshCorpus("enc")
    VocabStore.write(d, "bpe", vocabDf)
    val sc = Paths.get(s"${VocabStore.path(d, "bpe")}/_GRAFT_FINGERPRINT")
    Files.writeString(sc, "ffffffff" * 4 + "|2")
    // VocabStore.get: in-process memo (empty — unique dir) → artifact
    // (distrusted) → retrain. The sentinel proves the branch taken.
    val e = intercept[RuntimeException] {
      VocabStore.get(spark, d, "bpe") { throw new RuntimeException("retrained") }
    }
    assert(e.getMessage === "retrained",
      "poisoned artifact must route the encode to retraining")
  }
}
