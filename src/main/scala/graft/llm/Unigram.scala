package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.unsafe.types.UTF8String
import graft.io.Sources.table

/** Unigram-LM tokenizer training (SentencePiece-style) beside BPE
  * (VERDICT r8 next §3) — the OTHER production tokenizer family: where
  * BPE grows a vocab bottom-up by merging, the unigram model starts
  * from an over-complete substring candidate set and EM-prunes it down,
  * scoring pieces by corpus likelihood.
  *
  * Everything is WORD-COUNT-RESIDENT (the Bpe.scala discipline): the
  * corpus is scanned once into (word, n); candidate generation, both
  * EM rounds, and encoding operate on that vocabulary-sized table.
  *
  * The vocabulary lives on the DRIVER between rounds: it is bounded
  * by M multi-char candidates plus the corpus's characters, and the
  * E-step needs it there anyway.
  *
  * E-step — exact Viterbi segmentation per word, SCAN-LOCAL: the piece
  * cost table rides into the native [[graft.functions.ViterbiSegment]]
  * expression — dp[p] = min over piece lengths j ≤ 4 of dp[p−j] +
  * cost(word[p−j+1..p]), ties to the smallest j — which then walks the
  * stored best-length backpointers to emit the winning pieces. No
  * shuffle, no UDF.
  *
  * M-step — the piece counts over the segmentations (weighted by word
  * count) are one aggregate in the SAME Spark action as the E-step,
  * collected; the prune then runs in plain Scala: multi-char pieces
  * that went unused drop, the bottom quarter of the survivors (count
  * asc, piece asc — a total order) drops, single-char pieces persist
  * with add-one smoothing so every word stays segmentable. Costs
  * re-derive as round(ln(total/cnt)·1e4) — integer 1e-4 nats, the
  * ts_perplexity quantization, computed with Spark's own arithmetic —
  * so every dp value and every comparison in the whole derivation is
  * exact integer arithmetic and the gate hashes. Each EM round is
  * therefore one Spark action.
  *
  * Scale shape (100 TB): the corpus-wide cost is ONE word-count
  * shuffle (map-side combined); each EM round is a scan-local E-step
  * over the word-count table plus a piece-keyed count aggregate
  * bounded by the vocabulary — corpus bytes never move after the
  * first scan. Encoding joins word instances against the trained per-word
  * stats (broadcast, vocabulary-sized) — the bpe_encode shape.
  *
  * The DuckDB oracle replays EVERYTHING from scratch: candidate
  * generation, both EM rounds with the Viterbi DP as recursive CTEs
  * (each dp row carries the last 4 dp values; the backtrace is a
  * second recursion over the stored backpointers), the prune ranks,
  * and the final encode — the pr_pagerank unrolled-loop discipline
  * with recursion standing in for unrolling.
  */
object Unigram {

  type Q = (SparkSession, String) => DataFrame

  private val P = 4                       // max piece length
  private val M = 120L                    // multi-char candidate cap in v0
  private val R = 2                       // EM rounds
  private val INF = 1000000000000000L     // unreachable-cost sentinel

  private def wordCounts(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))

  /** A vocabulary entry: (piece, len, cnt, cost_q). */
  private type Entry = (String, Long, Long, Long)

  /** Spark's string order (UTF-8 bytes), which `String.compareTo`
    * (UTF-16 units) differs from above the BMP. */
  private val pieceOrder: Ordering[String] =
    (a, b) => UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))
  private val byCntDesc: Ordering[Entry] =
    Ordering.by[Entry, Long](-_._3).orElse(Ordering.by[Entry, String](_._1)(pieceOrder))

  /** Attach integer 1e-4-nat costs: cost_q = round(ln(tot/cnt)·1e4),
    * with the arithmetic the Spark expression ran — `StrictMath.log`
    * and the half-up `floor(x + 0.5)` of [[graft.functions.Numeric.dround]]
    * (x ≥ 0: every cnt is a positive part of tot) — so the costs are
    * bit-identical to the oracle's. */
  private def recost(v: Seq[(String, Long, Long)]): Array[Entry] = {
    val tot = v.map(_._3).sum.toDouble
    v.map { case (p, l, c) =>
      (p, l, c, math.floor(StrictMath.log(tot / c.toDouble) * 10000 + 0.5).toLong)
    }.toArray
  }

  /** v0: every substring of length ≤ P, frequency-weighted by word
    * count; all single chars kept (segmentability floor), multi-char
    * candidates capped at the top M by (cnt desc, piece asc). */
  private def initVocab(words: DataFrame): Array[Entry] = {
    val sub = words
      .select(col("word"), col("n"), explode(sequence(lit(1), lit(P))).as("j"))
      .filter(length(col("word")) >= col("j"))
      .select(col("word"), col("n"), col("j"),
        explode(sequence(lit(1), length(col("word")) - col("j") + 1)).as("i"))
      .select(col("word").substr(col("i"), col("j")).as("piece"),
        col("j").cast("long").as("len"), col("n"))
    val freq = sub.groupBy("piece", "len").agg(sum(col("n")).as("cnt"))
    val chars = freq.filter(col("len") === 1)
    // top-M by a parallel per-partition top-k (TakeOrderedAndProject),
    // never one task ranking every candidate; (piece, len) is unique,
    // so (cnt desc, piece asc) is a total order and the kept set exact
    val multi = freq.filter(col("len") > 1)
      .orderBy(desc("cnt"), asc("piece")).limit(M.toInt)
    recost(chars.unionByName(multi).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)
  }

  /** Exact Viterbi over each (word, n) row against (piece, cost_q)
    * driver rows (vocabulary-bounded — the Bpe.trainedVocab rule): the
    * DP runs as the native [[graft.functions.ViterbiSegment]] kernel,
    * one codegen'd imperative pass per word. A first cut expressed the
    * DP as an `aggregate` HOF over a broadcast map column —
    * semantically identical, but HOF lambdas evaluate INTERPRETED per
    * element (~1 ms per DP cell measured on the rich corpus: 12+ min
    * for one E-step vs sub-second native) — the CharEntropy lesson
    * again: sequential kernels belong in the native expression tier.
    * Returns (word, n, cost, ps, n_pieces); ps order is backtrace
    * (end→start) — the M-step only needs multiplicity. */
  private[llm] def viterbi(words: DataFrame, costs: Seq[(String, Long)]): DataFrame = {
    val seg = graft.functions.SegmentFns.viterbiSeg(col("word"), costs, P, INF)
    words.select(col("word"), col("n"), seg.as("seg"))
      .select(col("word"), col("n"),
        col("seg").getField("cost").as("cost"),
        col("seg").getField("ps").as("ps"))
      .withColumn("n_pieces", size(col("ps")).cast("long"))
  }

  private def costs(v: Array[Entry]): Seq[(String, Long)] = v.map(e => (e._1, e._4)).toSeq

  /** One EM round. The E-step and the piece counts are ONE Spark
    * aggregate, collected (at most |vocab| rows); the M-step runs on
    * the driver: unused multi-char pieces drop, then the bottom
    * quarter of the rest by (count asc, piece asc), single chars get
    * +1 smoothing, and every piece is re-costed. */
  private def emRound(words: DataFrame, v: Array[Entry]): Array[Entry] = {
    val cnt = viterbi(words, costs(v))
      .select(col("n"), explode(col("ps")).as("piece"))
      .groupBy("piece").agg(sum(col("n")).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val chars = v.collect { case (p, 1L, _, _) => (p, 1L, cnt.getOrElse(p, 0L) + 1) }
    val used = v.collect { case (p, l, _, _) if l > 1 && cnt.getOrElse(p, 0L) > 0 => (p, l, cnt(p)) }
      .sorted(Ordering.by[(String, Long, Long), Long](_._3)
        .orElse(Ordering.by[(String, Long, Long), String](_._1)(pieceOrder)))
    recost((chars ++ used.drop(used.length / 4)).toSeq)
  }

  /** The full init + EM loop over an explicit (word, n) relation; the
    * vocabulary stays on the driver between rounds. */
  private def trainOn(words: DataFrame): Array[Entry] =
    graft.Fixpoint.run("tok_unigram_train", initVocab(words), R) {
      (_, v) => (emRound(words, v), false)
    }.state

  /** Trained-vocab cache per corpus dir (the Bpe.trainedVocab rule:
    * plain rows, vocabulary-bounded, survive checkpoint hygiene),
    * backed by a [[VocabStore]] parquet artifact (VERDICT r9 next §2)
    * so a fresh JVM encodes without re-running EM. */
  private val trained = new java.util.concurrent.ConcurrentHashMap[String, Array[Entry]]()

  private def vocabMeta(s: SparkSession): String = s"topV=${Bpe.vocabTopV(s)}"
  private def vocabKey(s: SparkSession, d: String): String =
    s"$d#${vocabMeta(s)}"

  /** Driver-vocab hard bound (VERDICT r14 next §5, the Bpe.vocabOf
    * rule): the EM vocab is piece-bounded but a heavy-tailed corpus
    * grows it without limit, so the kept vocabulary caps at top-V.
    * Unlike the word-map, Viterbi REQUIRES every single character or a
    * word becomes unsegmentable (INF cost), so the cap preserves ALL
    * len=1 pieces unconditionally and truncates only multi-char pieces
    * — (cnt desc, piece asc), deterministic. */
  private def capped(v: Array[Entry], topV: Int): Array[Entry] = {
    val chars = v.filter(_._2 == 1L)
    chars ++ v.filter(_._2 > 1L).sorted(byCntDesc).take(math.max(0, topV - chars.length))
  }

  /** Train, refresh both cache tiers, return the vocabulary. */
  private def retrain(s: SparkSession, d: String): Array[Entry] = {
    import s.implicits._
    val words = wordCounts(table(s, d, "documents").select("text")).localCheckpoint()
    val v = try capped(trainOn(words), Bpe.vocabTopV(s))
      finally PlanBridge.releaseCheckpoint(words)
    trained.put(vocabKey(s, d), v)
    VocabStore.write(d, "unigram", v.toSeq.toDF("piece", "len", "cnt", "cost_q"), vocabMeta(s))
    v
  }

  private def ensureTrained(s: SparkSession, d: String): Array[Entry] =
    Option(trained.get(vocabKey(s, d)))
      .orElse(VocabStore.read(s, d, "unigram", vocabMeta(s)).map { df =>
        val v = df.select("piece", "len", "cnt", "cost_q").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        trained.put(vocabKey(s, d), v)
        v
      })
      .getOrElse(retrain(s, d))

  /** The trained vocabulary ranked by (cnt desc, piece asc) on the
    * driver, which already holds it; the rows are in rank order. */
  private val tokUnigramTrain: Q = (s, d) => {
    import s.implicits._
    // train IS the benchmark; always retrain and refresh both tiers
    retrain(s, d).sorted(byCntDesc).toSeq.zipWithIndex
      .map { case ((p, l, c, q), i) => (i + 1L, p, l, c, q) }
      .toDF("rank", "piece", "piece_len", "cnt", "cost_q")
  }

  private val tokUnigramEncode: Q = (s, d) => {
    val v = ensureTrained(s, d)
    val docs = table(s, d, "documents")
    val enc = viterbi(wordCounts(docs.select("text")), costs(v))
      .select(col("word"), col("n_pieces"), col("cost"))
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .join(broadcast(enc), Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).as("n_pieces"),
        sum(col("cost")).as("sum_cost_q"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // tok_fertility: per-language tokenizer fertility — the diagnostic a
  // vocab-sizing decision actually rides on (SentencePiece/XLM-R
  // practice: a vocab trained on a skewed mix over-segments the
  // low-resource languages; fertility = pieces/word per language is
  // how that's detected, chars/piece is the compression view). One
  // encode pass over the word-count relation (vocabulary-sized,
  // broadcast back to word instances — the tok_unigram_encode shape),
  // then a |langs|-key rollup; quantized integer ratios for the gate.
  // Scale: corpus text is scanned once into word instances; the join
  // side is vocabulary-bounded and broadcast — no corpus-sized shuffle.
  // -------------------------------------------------------------------
  private val tokFertility: Q = (s, d) => {
    val v = ensureTrained(s, d)
    val docs = table(s, d, "documents")
    val enc = viterbi(wordCounts(docs.select("text")), costs(v))
      .select(col("word"), col("n_pieces"))
    docs.select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .join(broadcast(enc), Seq("word"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).as("n_pieces"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_pieces"), col("n_chars"),
        expr("(10000 * n_pieces) div n_words").as("fertility_q"),
        expr("(10000 * n_chars) div n_pieces").as("cpt_q"))
      .orderBy("lang")
  }

  val queries: Map[String, Q] = Map(
    "tok_unigram_train" -> tokUnigramTrain,
    "tok_unigram_encode" -> tokUnigramEncode,
    "tok_fertility" -> tokFertility)

  // ---------------------------------------------------------------
  // Oracle: full from-scratch replay; Viterbi as recursive CTEs.
  // ---------------------------------------------------------------

  private val w0Sql =
    """w0 AS (SELECT word, CAST(count(*) AS BIGINT) AS n
      |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE length(word) > 0 GROUP BY word)""".stripMargin

  private def costSel(src: String): String =
    s"""SELECT piece, len, cnt,
       |   CAST(round(ln(CAST(t.tot AS DOUBLE) / CAST(cnt AS DOUBLE)) * 10000) AS BIGINT) AS cost_q
       |  FROM $src, (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM $src) t""".stripMargin

  private val v0Sql =
    s""" sub AS (SELECT substr(word, g.i, j.j) AS piece, CAST(j.j AS BIGINT) AS len, n
       |  FROM w0, UNNEST(generate_series(1, $P)) j(j),
       |       LATERAL unnest(generate_series(1, length(word) - j.j + 1)) g(i)
       |  WHERE length(word) >= j.j),
       | fr AS (SELECT piece, len, CAST(sum(n) AS BIGINT) AS cnt
       |        FROM sub GROUP BY piece, len),
       | v0m AS (SELECT piece, len, cnt FROM (
       |    SELECT *, row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rk
       |    FROM fr WHERE len > 1) WHERE rk <= $M),
       | v0r AS MATERIALIZED (SELECT piece, len, cnt FROM fr WHERE len = 1
       |         UNION ALL SELECT piece, len, cnt FROM v0m),
       | v0 AS MATERIALIZED (${costSel("v0r")})""".stripMargin

  /** The Viterbi forward DP over vocab `$v`: each row carries the last
    * four dp values (c0 = dp[i] … c3 = dp[i−3]) and the backpointer b
    * chosen at position i; ties resolve to the smallest piece length,
    * the engine's `when` chain order. */
  private def dpSql(r: String, v: String): String = {
    val l4 = "least(j1, j2, j3, j4)"
    // the STORED dp value is clamped at INF exactly like the kernel's
    // `dp(p) = min(best, inf)` (ADVICE r10: without the clamp here the
    // two DPs diverge on words with ≥2 unsegmentable positions — the
    // oracle would accumulate k·INF while the kernel pins the
    // sentinel); the backpointer CASE below compares the RAW j's, the
    // kernel's argmin over unclamped candidate costs
    s""" dp$r AS (
       |  SELECT word, n, 0 AS i, CAST(0 AS BIGINT) AS c0,
       |    CAST($INF AS BIGINT) AS c1, CAST($INF AS BIGINT) AS c2,
       |    CAST($INF AS BIGINT) AS c3, 0 AS b
       |  FROM w0
       |  UNION ALL
       |  SELECT word, n, i + 1, least($l4, CAST($INF AS BIGINT)), c0, c1, c2,
       |    CASE WHEN j1 = $l4 THEN 1 WHEN j2 = $l4 THEN 2
       |         WHEN j3 = $l4 THEN 3 ELSE 4 END
       |  FROM (
       |    SELECT d.word, d.n, d.i, d.c0, d.c1, d.c2, d.c3,
       |      (CASE WHEN d.i + 1 >= 1 THEN d.c0 + coalesce(p1.cost_q, $INF) ELSE $INF END) AS j1,
       |      (CASE WHEN d.i + 1 >= 2 THEN d.c1 + coalesce(p2.cost_q, $INF) ELSE $INF END) AS j2,
       |      (CASE WHEN d.i + 1 >= 3 THEN d.c2 + coalesce(p3.cost_q, $INF) ELSE $INF END) AS j3,
       |      (CASE WHEN d.i + 1 >= 4 THEN d.c3 + coalesce(p4.cost_q, $INF) ELSE $INF END) AS j4
       |    FROM dp$r d
       |    LEFT JOIN $v p1 ON p1.piece = substr(d.word, d.i + 1, 1)
       |    LEFT JOIN $v p2 ON p2.piece = substr(d.word, d.i, 2)
       |    LEFT JOIN $v p3 ON p3.piece = substr(d.word, d.i - 1, 3)
       |    LEFT JOIN $v p4 ON p4.piece = substr(d.word, d.i - 2, 4)
       |    WHERE d.i < length(d.word))),
       | dm$r AS MATERIALIZED (SELECT * FROM dp$r)""".stripMargin
  }

  /** Backtrace recursion + piece emission for round `$r`. Every
    * reference goes through the MATERIALIZED dm/bm snapshots — a bare
    * reference to a recursive CTE re-runs the whole recursion per
    * mention (the BPE-oracle inlining lesson), which stacked across
    * rounds is exponential. */
  private def btSql(r: String): String =
    s""" bt$r AS (
       |  SELECT word, n, length(word) AS pos FROM w0
       |  UNION ALL
       |  SELECT b.word, b.n, b.pos - d.b
       |  FROM bt$r b JOIN dm$r d ON d.word = b.word AND d.i = b.pos
       |  WHERE b.pos > 0),
       | bm$r AS MATERIALIZED (SELECT * FROM bt$r),
       | pieces$r AS (
       |  SELECT b.word, b.n, substr(b.word, b.pos - d.b + 1, d.b) AS piece
       |  FROM bm$r b JOIN dm$r d ON d.word = b.word AND d.i = b.pos
       |  WHERE b.pos > 0)""".stripMargin

  /** M-step for round `$r` from `pieces$r` against `$prevV` → `v$r`. */
  private def mSql(r: String, prevV: String): String =
    s""" cnt$r AS (SELECT piece, CAST(sum(n) AS BIGINT) AS cnt
       |           FROM pieces$r GROUP BY piece),
       | ch$r AS (SELECT v.piece, v.len, coalesce(c.cnt, 0) + 1 AS cnt
       |   FROM $prevV v LEFT JOIN cnt$r c USING (piece) WHERE v.len = 1),
       | mu$r AS (SELECT piece, len, cnt FROM (
       |   SELECT v.piece, v.len, c.cnt,
       |     row_number() OVER (ORDER BY c.cnt ASC, v.piece ASC) AS rk,
       |     count(*) OVER () AS nm
       |   FROM $prevV v JOIN cnt$r c USING (piece)
       |   WHERE v.len > 1 AND c.cnt > 0)
       |  WHERE rk > nm // 4),
       | vr$r AS MATERIALIZED (SELECT * FROM ch$r UNION ALL SELECT * FROM mu$r),
       | v$r AS MATERIALIZED (${costSel(s"vr$r")})""".stripMargin

  /** All CTEs through the final vocab v$R. */
  private def chain: String = {
    val rounds = (1 to R).map { r =>
      val prev = if (r == 1) "v0" else s"v${r - 1}"
      Seq(dpSql(r.toString, prev), btSql(r.toString), mSql(r.toString, prev))
        .mkString(",\n")
    }
    (Seq("WITH RECURSIVE " + w0Sql, v0Sql) ++ rounds).mkString(",\n")
  }

  val oracle: Map[String, String] = Map(
    "tok_unigram_train" ->
      s"""$chain
         |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece ASC) AS BIGINT) AS rank,
         |  piece, len AS piece_len, cnt, cost_q
         |FROM v$R ORDER BY rank""".stripMargin,
    // the full training replay + final-vocab segmentation, rolled up by
    // language with the same integer-quantized ratios
    "tok_fertility" ->
      s"""$chain,
         |${dpSql("F", s"v$R")},
         |${btSql("F")},
         | npc AS (SELECT word, CAST(count(*) AS BIGINT) AS n_pieces
         |         FROM piecesF GROUP BY word),
         | inst AS (SELECT lang, unnest(string_split(text, ' ')) AS word
         |          FROM documents)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
         |  CAST(sum(length(word)) AS BIGINT) AS n_chars,
         |  (10000 * CAST(sum(n_pieces) AS BIGINT)) // CAST(count(*) AS BIGINT) AS fertility_q,
         |  (10000 * CAST(sum(length(word)) AS BIGINT)) // CAST(sum(n_pieces) AS BIGINT) AS cpt_q
         |FROM (SELECT * FROM inst WHERE length(word) > 0) i
         |JOIN npc USING (word)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "tok_unigram_encode" ->
      s"""$chain,
         |${dpSql("F", s"v$R")},
         |${btSql("F")},
         | npc AS (SELECT word, CAST(count(*) AS BIGINT) AS n_pieces
         |         FROM piecesF GROUP BY word),
         | wc AS (SELECT d.word, d.c0 AS cost FROM dmF d WHERE d.i = length(d.word)),
         | inst AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |          FROM documents)
         |SELECT doc_id, count(*) AS n_words,
         |  CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
         |  CAST(sum(cost) AS BIGINT) AS sum_cost_q
         |FROM (SELECT * FROM inst WHERE length(word) > 0) i
         |JOIN npc USING (word) JOIN wc USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
