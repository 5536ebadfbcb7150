package graft.llm

import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.io.Artifacts

/** The one home of every trained tokenizer vocabulary (BPE, WordPiece,
  * Unigram): a tokenizer is trained once and its vocabulary REUSED by
  * every encode — no production system retrains to tokenize. Two tiers
  * answer a lookup, then the trainer:
  *
  *  - an in-process memo of the COLLECTED rows — vocabulary-bounded by
  *    construction, and plain rows survive the harness's per-query
  *    unpersist hygiene where checkpointed frames would not;
  *  - one parquet artifact per (family, corpus dir), keyed, versioned
  *    and trusted by [[graft.io.Artifacts]], so a fresh JVM encodes
  *    without retraining (VERDICT r9 next §2). At 100 TB this is the
  *    tokenizer-training job's output table that every downstream
  *    encode stage broadcasts.
  *
  * Both tiers key on the session's top-V cap ([[topV]]): it changes a
  * vocabulary's content without changing the corpus, so it rides in
  * the artifact's fingerprint meta, and a vocabulary truncated under
  * one cap never serves a session running another.
  *
  * Beyond the artifact rule, the seal records the artifact's own row
  * count and a read checks it, so a truncated artifact reads as absent
  * and the caller retrains. */
object VocabStore {
  def path(d: String, family: String): String = Artifacts.path(Artifacts.vocab(family), d)

  /** Driver-vocab hard bound (VERDICT r14 next §5): a trained
    * vocabulary is corpus-vocabulary-sized — flat under replication
    * (measured, wp_train probe), but a real heavy-tailed 100 TB corpus
    * has an UNBOUNDED word vocabulary, so each trainer caps what it
    * collects at top-V rows, deterministically and by its own rule
    * (BPE: the top-V words; Unigram: every char plus the top
    * multi-char pieces). */
  def topV(s: SparkSession): Int =
    s.conf.getOption("graft.tokenizer.topV").map(_.toInt).getOrElse(65536)

  private def meta(s: SparkSession): String = s"topV=${topV(s)}"
  private def key(s: SparkSession, d: String, family: String): String =
    s"$d#$family#${meta(s)}"

  private val memo = new java.util.concurrent.ConcurrentHashMap[String, Array[Row]]()

  /** Stores a freshly trained vocabulary in both tiers and returns its
    * rows: `vocab` is collected once, and the artifact is written from
    * the collected rows. */
  def put(d: String, family: String, vocab: DataFrame): Array[Row] = {
    val s = vocab.sparkSession
    val rows = vocab.collect()
    memo.put(key(s, d, family), rows)
    write(d, family, s.createDataFrame(rows.toSeq.asJava, vocab.schema), meta(s))
    rows
  }

  /** The vocabulary of (`d`, `family`) under the session's cap: the
    * memo, else the trusted artifact (then memoized), else `train`,
    * which trains and [[put]]s it. */
  def get(s: SparkSession, d: String, family: String)(train: => Array[Row]): Array[Row] =
    Option(memo.get(key(s, d, family)))
      .orElse(read(s, d, family, meta(s)).map { df =>
        val rows = df.collect()
        memo.put(key(s, d, family), rows)
        rows
      })
      .getOrElse(train)

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
