package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Numeric.dround
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
  * E-step — exact Viterbi segmentation per word, SCAN-LOCAL: the piece
  * cost table rides as a broadcast map column (the ds_dsir LUT shape)
  * and the DP runs inside one `aggregate` higher-order function per
  * word — dp[p] = min over piece lengths j ≤ 4 of dp[p−j] +
  * cost(word[p−j+1..p]), ties to the smallest j — followed by a second
  * fold that walks the stored best-length backpointers to emit the
  * winning pieces. No shuffle, no driver loop, no UDF: the lambda is
  * Catalyst-compiled expression code.
  *
  * M-step — one piece-count aggregate over the segmentations (weighted
  * by word count), then the prune: multi-char pieces that went unused
  * drop, the bottom quarter of the survivors (count asc, piece asc —
  * a total order) drops, single-char pieces persist with add-one
  * smoothing so every word stays segmentable. Costs re-derive as
  * round(ln(total/cnt)·1e4) — integer 1e-4 nats, the ts_perplexity
  * quantization, so every dp value and every comparison in the whole
  * derivation is exact integer arithmetic and the gate hashes.
  *
  * Scale shape (100 TB): the corpus-wide cost is ONE word-count
  * shuffle (map-side combined); each EM round is a scan-local E-step
  * over the vocab table plus a piece-keyed count aggregate bounded by
  * vocab × piece-length — corpus bytes never move after the first
  * scan. Encoding joins word instances against the trained per-word
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

  /** Attach integer 1e-4-nat costs: cost_q = round(ln(tot/cnt)·1e4). */
  private def withCosts(v: DataFrame): DataFrame = {
    val tot = v.agg(sum(col("cnt")).as("tot"))
    v.crossJoin(broadcast(tot)).select(col("piece"), col("len"), col("cnt"),
      dround(log(col("tot").cast("double") / col("cnt").cast("double")) * 10000, 0)
        .cast("long").as("cost_q"))
  }

  /** v0: every substring of length ≤ P, frequency-weighted by word
    * count; all single chars kept (segmentability floor), multi-char
    * candidates capped at the top M by (cnt desc, piece asc). */
  private def initVocab(words: DataFrame): DataFrame = {
    val sub = words
      .select(col("word"), col("n"), explode(sequence(lit(1), lit(P))).as("j"))
      .filter(length(col("word")) >= col("j"))
      .select(col("word"), col("n"), col("j"),
        explode(sequence(lit(1), length(col("word")) - col("j") + 1)).as("i"))
      .select(col("word").substr(col("i"), col("j")).as("piece"),
        col("j").cast("long").as("len"), col("n"))
    val freq = sub.groupBy("piece", "len").agg(sum(col("n")).as("cnt"))
    val chars = freq.filter(col("len") === 1)
    val multi = freq.filter(col("len") > 1)
      .withColumn("rk", row_number().over(Window.orderBy(desc("cnt"), asc("piece"))))
      .filter(col("rk") <= M).drop("rk")
    withCosts(chars.unionByName(multi))
  }

  /** Exact Viterbi over each (word, n) row: the cost table collects to
    * the driver (vocabulary-bounded — the Bpe.trainedVocab rule) and
    * the DP runs as the native [[graft.functions.ViterbiSegment]]
    * kernel, one codegen'd imperative pass per word. A first cut
    * expressed the DP as an `aggregate` HOF over a broadcast map
    * column — semantically identical, but HOF lambdas evaluate
    * INTERPRETED per element (~1 ms per DP cell measured on the rich
    * corpus: 12+ min for one E-step vs sub-second native) — the
    * CharEntropy lesson again: sequential kernels belong in the native
    * expression tier. Returns (word, n, cost, ps, n_pieces); ps order
    * is backtrace (end→start) — the M-step only needs multiplicity. */
  private[llm] def viterbi(words: DataFrame, vocab: DataFrame): DataFrame = {
    val vmap = vocab.select("piece", "cost_q").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val seg = graft.functions.SegmentFns.viterbiSeg(col("word"), vmap, P, INF)
    words.select(col("word"), col("n"), seg.as("seg"))
      .select(col("word"), col("n"),
        col("seg").getField("cost").as("cost"),
        col("seg").getField("ps").as("ps"))
      .withColumn("n_pieces", size(col("ps")).cast("long"))
  }

  /** One EM round: segment, count, prune (unused + bottom quarter of
    * multi-char by count asc / piece asc), smooth chars +1, re-cost. */
  private def emRound(words: DataFrame, vocab: DataFrame): DataFrame = {
    val cnts = viterbi(words, vocab)
      .select(col("n"), explode(col("ps")).as("piece"))
      .groupBy("piece").agg(sum(col("n")).as("cnt"))
    val joined = vocab.select("piece", "len").join(cnts, Seq("piece"), "left")
    val chars = joined.filter(col("len") === 1)
      .select(col("piece"), col("len"), (coalesce(col("cnt"), lit(0L)) + 1L).as("cnt"))
    val multi = joined.filter(col("len") > 1 && col("cnt").isNotNull && col("cnt") > 0)
      .withColumn("rk", row_number().over(Window.orderBy(asc("cnt"), asc("piece"))))
      .withColumn("nm", count(lit(1)).over(Window.partitionBy()))
      .filter(col("rk") > expr("nm div 4"))
      .select("piece", "len", "cnt")
    withCosts(chars.unionByName(multi)).localCheckpoint()
  }

  /** The full init + EM loop over an explicit (word, n) relation. */
  private def trainOn(words: DataFrame, rounds: Int = R): DataFrame = {
    var v = initVocab(words).localCheckpoint()
    for (_ <- 1 to rounds) v = emRound(words, v)
    v
  }

  private def trainVocab(s: SparkSession, d: String): DataFrame =
    trainOn(wordCounts(table(s, d, "documents").select("text")).localCheckpoint())

  /** Trained-vocab cache per corpus dir (the Bpe.trainedVocab rule:
    * plain rows, vocabulary-bounded, survive checkpoint hygiene),
    * backed by a [[VocabStore]] parquet artifact (VERDICT r9 next §2)
    * so a fresh JVM encodes without re-running EM. */
  private val trained =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(String, Long, Long, Long)]]()

  private def vocabMeta(s: SparkSession): String = s"topV=${Bpe.vocabTopV(s)}"
  private def vocabKey(s: SparkSession, d: String): String =
    s"$d#${vocabMeta(s)}"

  /** Driver-vocab hard bound (VERDICT r14 next §5, the Bpe.vocabOf
    * rule): the EM vocab is piece-bounded but a heavy-tailed corpus
    * grows it without limit, so the collect caps at top-V. Unlike the
    * word-map, Viterbi REQUIRES every single character or a word
    * becomes unsegmentable (INF cost), so the cap preserves ALL len=1
    * pieces unconditionally and truncates only multi-char pieces —
    * (cnt desc, piece asc), deterministic. */
  private def collectVocab(v: DataFrame): Array[(String, Long, Long, Long)] = {
    val topV = Bpe.vocabTopV(v.sparkSession)
    val chars = v.filter(col("len") === 1)
    val multi = v.filter(col("len") > 1)
      .orderBy(desc("cnt"), asc("piece"))
      .limit(math.max(0, topV - chars.count().toInt))
    chars.unionByName(multi)
      .select("piece", "len", "cnt", "cost_q").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3)))
  }

  /** Train, refresh both cache tiers, return the vocab relation. */
  private def retrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val r = collectVocab(trainVocab(s, d))
    trained.put(vocabKey(s, d), r)
    val df = r.toSeq.toDF("piece", "len", "cnt", "cost_q")
    VocabStore.write(d, "unigram", df, vocabMeta(s))
    df
  }

  private def ensureTrained(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Option(trained.get(vocabKey(s, d)))
      .map(_.toSeq.toDF("piece", "len", "cnt", "cost_q"))
      .orElse(VocabStore.read(s, d, "unigram", vocabMeta(s)).map { df =>
        trained.put(vocabKey(s, d), collectVocab(df))
        df
      })
      .getOrElse(retrain(s, d))
  }

  private val tokUnigramTrain: Q = (s, d) => {
    // train IS the benchmark; always retrain and refresh both tiers
    retrain(s, d)
      .select(
        row_number().over(Window.orderBy(desc("cnt"), asc("piece")))
          .cast("long").as("rank"),
        col("piece"), col("len").as("piece_len"), col("cnt"), col("cost_q"))
      .orderBy("rank")
  }

  private val tokUnigramEncode: Q = (s, d) => {
    val v = ensureTrained(s, d)
    val docs = table(s, d, "documents")
    val enc = viterbi(wordCounts(docs.select("text")), v)
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
    val enc = viterbi(wordCounts(docs.select("text")), v)
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
