package graft.tools

import org.apache.spark.sql.SparkSession
import graft.GraftSession
import graft.llm.{Dedup, Similarity}

/** Explicit out-of-band build of one persisted index over `<sfDir>`.
  * The query paths also build lazily on first touch; this tool exists
  * because at 100 TB an index build (a full-corpus scan, a sampled
  * k-means fit or a per-shard graph build, run once per corpus
  * version) and the per-query probe have completely different resource
  * shapes — and so that an operator can force-rebuild a stale index for
  * a changed corpus directory.
  *
  *   ivf   — IVF coarse quantizer + assignments over embeddings.parquet
  *           (probed by `ann_ivf` and its family)
  *   pq    — the 8 per-block PQ codebooks + encoded codes (`pq_encode`,
  *           `ann_pq`)
  *   nsw   — per-shard navigable-small-world graphs (`ann_nsw_serve`)
  *   dedup — the incremental-dedup index over documents.parquet: content
  *           hashes + banded token-hash signatures (`dd_incremental`)
  *
  * Usage: runMain graft.tools.BuildIndex <ivf|pq|nsw|dedup> <sfDir>
  */
object BuildIndex {
  private val builders: Map[String, (SparkSession, String) => String] = Map(
    "ivf" -> Similarity.ivfBuild,
    "pq" -> Similarity.pqBuild,
    "nsw" -> Similarity.nswBuild,
    "dedup" -> Dedup.dedupIndexBuild)

  def main(args: Array[String]): Unit = {
    val kinds = builders.keys.toSeq.sorted.mkString("|")
    require(args.length == 2, s"usage: BuildIndex <$kinds> <sfDir>")
    val Array(kind, sfDir) = args
    val build = builders.getOrElse(kind, throw new IllegalArgumentException(
      s"unknown index kind '$kind'; accepted: ${kinds.replace("|", ", ")}"))
    val spark = GraftSession()
    val t0 = System.nanoTime()
    val path = build(spark, sfDir)
    println(f"[build-index] $kind $path built in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
