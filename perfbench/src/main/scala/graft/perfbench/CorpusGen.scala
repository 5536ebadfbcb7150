package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Seeded `documents` and `embeddings` tables in the layout of the
  * engine's sf datasets (the only two tables the `loops` queries read).
  *
  * documents: 10 to 100 words drawn from a 30-word vocabulary, five
  * languages, twenty sources, `n_chars` = text length. A seeded ~3% of
  * the documents copy an earlier document with one word swapped for
  * "dup", and ~0.5% copy one verbatim, so the near-duplicate operators
  * find clusters. embeddings: 64-dimensional unit vectors around ten
  * labelled centroids.
  */
object CorpusGen {
  private val vocab = Vector("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  private val langs = Vector("en", "en", "en", "zh", "de", "fr", "es")

  private def rng(seed: Long, salt: Long) =
    new scala.util.Random(seed * 0x632BE59BD9B4E019L + salt * 0x9E3779B97F4A7C15L + 3L)

  private def words(seed: Long, id: Long): Vector[String] = {
    val r = rng(seed, id)
    Vector.fill(10 + r.nextInt(91))(vocab(r.nextInt(vocab.size)))
  }

  def text(seed: Long, id: Long): String = {
    val r = rng(seed, -id - 1)
    val u = r.nextDouble()
    if (id > 10 && u < 0.005) words(seed, r.nextInt(id.toInt).toLong).mkString(" ")
    else if (id > 10 && u < 0.035) {
      val w = words(seed, r.nextInt(id.toInt).toLong)
      w.updated(r.nextInt(w.size), "dup").mkString(" ")
    } else words(seed, id).mkString(" ")
  }

  def write(spark: SparkSession, seed: Long, nDocs: Int, nVecs: Int, dir: String): Unit = {
    import spark.implicits._
    spark.range(nDocs).map { id =>
      val t = text(seed, id)
      (id.longValue, t, langs(rng(seed, id + 7919L).nextInt(langs.size)),
        s"src${id % 20}", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val dim = 64
    val centroids = (0 until 10).map { c =>
      val r = rng(seed, 1000000L + c)
      Array.fill(dim)(r.nextGaussian())
    }
    spark.range(nVecs).map { id =>
      val r = rng(seed, 2000000L + id)
      val label = r.nextInt(10)
      val v = centroids(label).map(_ + r.nextGaussian() * 0.8)
      val norm = math.sqrt(v.map(x => x * x).sum)
      (id.longValue, v.map(x => (x / norm).toFloat), label)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}
