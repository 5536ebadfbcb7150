package graft.llm

import scala.util.Try
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.io.Artifacts

/** On-disk trained-tokenizer artifact store (VERDICT r9 next §2): the
  * in-process vocab caches in [[Bpe]] and [[Unigram]] die with the
  * JVM, so a fresh process re-trained before its first encode — no
  * production system retrains to tokenize. One parquet artifact per
  * (family, corpus dir), keyed, versioned and trusted by
  * [[graft.io.Artifacts]]; `meta` carries trainer knobs that change
  * the artifact's content without changing the corpus (the top-V
  * vocab cap). At 100 TB this is the tokenizer-training job's output
  * table that every downstream encode stage broadcasts.
  *
  * Beyond the artifact rule, the seal records the artifact's own row
  * count and a read checks it, so a truncated artifact reads as absent
  * and the caller retrains. */
object VocabStore {
  def path(d: String, family: String): String = Artifacts.path(Artifacts.vocab(family), d)

  /** Persist a trained vocabulary (vocabulary-sized — one small file),
    * sealed with its corpus fingerprint and row count. */
  def write(d: String, family: String, vocab: DataFrame,
      meta: String = ""): Unit = {
    val s = vocab.sparkSession
    val p = path(d, family)
    Artifacts.rebuild(s, p, Artifacts.fingerprint(d, Artifacts.vocab(family).kind, meta)) {
      vocab.coalesce(1).write.mode("overwrite").parquet(p)
      s.read.parquet(p).count().toString
    }
  }

  /** Read back a persisted vocabulary IF it is trusted and its row
    * count matches the sealed one; None (→ caller retrains) otherwise.
    * Corrupt or unreadable artifacts also read as None via the Try. */
  def read(s: SparkSession, d: String, family: String,
      meta: String = ""): Option[DataFrame] = {
    val kind = Artifacts.vocab(family).kind
    val p = path(d, family)
    Artifacts.sealedNote(s, p, kind.parts, Artifacts.fingerprint(d, kind, meta)).flatMap { n =>
      Try {
        val df = s.read.parquet(p)
        if (df.count() == n.toLong) Some(df) else None
      }.toOption.flatten
    }
  }
}
