package graft.tools

import org.apache.spark.sql.SparkSession

/** One-command training-data curation over a documents/embeddings
  * directory — the LLM-pipeline counterpart of [[RunSeason]]: a user
  * points it at a corpus in the engine's parquet layout
  * (`documents.parquet`, `embeddings.parquet`) and gets the full
  * curation report set in one invocation, each artifact produced by
  * the same oracle-gated query the driver verifies.
  *
  * Usage: runMain graft.tools.RunCurate <inputDir> <outDir>
  *
  * Writes (parquet, overwrite-idempotent):
  *   <outDir>/curated       — curated-corpus composition report (per-lang
  *                            counts after quality ∧ langid-agreement ∧
  *                            dedup-survivor filtering)
  *   <outDir>/splits        — deterministic content-hash train/val/test
  *   <outDir>/quality       — per-doc quality scores/flags
  *   <outDir>/langid        — language-ID votes
  *   <outDir>/stats         — token/length stats
  *   <outDir>/dedup_exact   — exact-dup groups + survivor ids
  *   <outDir>/neardup_pairs — MinHash-LSH verified near-dup pairs
  *   <outDir>/boilerplate   — line-level boilerplate removal report
  *   <outDir>/dup_spans     — cross-doc duplicated substring spans
  *   <outDir>/substr_spans  — exact maximal shared-span coordinates
  *                            (dd_substr seed-and-extend)
  *   <outDir>/incremental   — new-batch vs corpus dedup verdicts
  *   <outDir>/dq_checks     — constraint-check pass/fail report (only
  *                            when the input dir also carries the
  *                            star-schema tables the checks read —
  *                            a corpus-only dir skips it)
  */
object RunCurate {

  private val corpusArtifacts = Seq(
    "curated" -> "ds_curated",
    "splits" -> "ds_split",
    "quality" -> "ts_quality",
    "langid" -> "ts_langid",
    "stats" -> "ts_stats",
    "dedup_exact" -> "dd_exact",
    "neardup_pairs" -> "dd_minhash",
    "boilerplate" -> "dd_lines",
    "dup_spans" -> "dd_spans",
    "substr_spans" -> "dd_substr",
    "winnow_pairs" -> "dd_winnow",
    "fingerprints" -> "ts_winnow",
    "incremental" -> "dd_incremental")

  /** Session-agnostic body — the smoke test drives this directly.
    * Returns row counts per artifact. dq_checks reads lineitem/orders/
    * customer/events, which a corpus-only directory does not have, so
    * it runs only when those tables are present (RunCurateSpec covers
    * both layouts). */
  def run(spark: SparkSession, in: String, out: String): Map[String, Long] = {
    // Hadoop FS, not java.io.File: the input dir may be hdfs://, s3a://,
    // or any other scheme Spark can read — a local-only probe would
    // silently skip the dq report on remote layouts that do have the
    // tables.
    val hconf = spark.sparkContext.hadoopConfiguration
    val hasStarSchema = Seq("lineitem", "orders", "customer", "events").forall { t =>
      val p = new org.apache.hadoop.fs.Path(s"$in/$t.parquet")
      p.getFileSystem(hconf).exists(p)
    }
    val artifacts = corpusArtifacts ++
      (if (hasStarSchema) Seq("dq_checks" -> "dq_checks") else Nil)
    artifacts.map { case (name, query) =>
      val df = graft.SparkEntry.queries(query)(spark, in)
      df.write.mode("overwrite").parquet(s"$out/$name")
      // per-artifact hygiene (the Bench idiom): queries persist their
      // working relations (dd_spans' k-grams, dd_incremental's corpus);
      // release them so later artifacts don't run against a heap
      // pinned by earlier ones
      org.apache.spark.sql.graft.PlanBridge.releaseAll(spark)
      name -> spark.read.parquet(s"$out/$name").count()
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val Array(in, out) = args.take(2)
    val spark = graft.GraftSession()
    run(spark, in, out).toSeq.sortBy(_._1)
      .foreach { case (k, n) => println(f"$k%-14s $n%8d rows") }
    spark.stop()
  }
}
