package graft.tools

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** RunCurate: the one-command curation entry point must produce every
  * artifact, with counts matching the underlying oracle-gated queries. */
class RunCurateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("RunCurate writes the full artifact set from one invocation") {
    val sf = "/root/testdata/sf0.001"
    val out = TestSpark.tempDir("runcurate").toString
    val counts = RunCurate.run(spark, sf, out)
    assert(counts.keySet == Set("curated", "splits", "quality", "langid",
      "stats", "dedup_exact", "neardup_pairs", "boilerplate", "dup_spans",
      "substr_spans", "winnow_pairs", "fingerprints", "incremental",
      "dq_checks"))
    // per-doc reports cover the whole corpus; counts agree with the
    // direct query (same code path, but through the written artifact)
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(counts("quality") == nDocs && counts("stats") == nDocs
      && counts("langid") == nDocs && counts("boilerplate") == nDocs
      && counts("splits") == nDocs && counts("fingerprints") == nDocs)
    assert(counts("curated") > 0 && counts("curated") <= nDocs)
    assert(counts("dq_checks") == 5)
    // idempotent: a second run overwrites to the same counts
    assert(RunCurate.run(spark, sf, out) == counts)
  }

  test("RunCurate works on a corpus-only directory (documented layout)") {
    // the documented input is just documents/embeddings — dq_checks
    // (which reads the star schema) must be skipped, not crash the run
    val root = TestSpark.tempDir("runcurate2").toString
    val in = s"$root/in"; val out = s"$root/out"
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .write.parquet(s"$in/documents.parquet")
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .write.parquet(s"$in/embeddings.parquet")
    val counts = RunCurate.run(spark, in, out)
    assert(!counts.contains("dq_checks"))
    assert(counts.keySet == Set("curated", "splits", "quality", "langid",
      "stats", "dedup_exact", "neardup_pairs", "boilerplate", "dup_spans",
      "substr_spans", "winnow_pairs", "fingerprints", "incremental"))
    assert(counts.values.forall(_ > 0))
  }
}
