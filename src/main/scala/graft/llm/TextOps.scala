package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Sources.table
import graft.functions.Numeric.dround
import graft.functions.{ArrayFns, TextHashes}

/** Text-analysis operators for the LLM-data-pipeline extension
  * (builder brief; VERDICT r1 §LLM): token/length stats, quality
  * scoring, n-gram-marker language ID, and document fingerprinting over
  * the `documents` table.
  *
  * All per-document columns are computed by codegen'd built-ins
  * (`split`, `filter`, `length`) or native Catalyst expressions
  * (`roll_hash`) — no Scala UDF crosses the serialization boundary, so
  * every query here is a single parquet scan → project → (optional agg)
  * pipeline with full column pruning at 100 TB.
  */
object TextOps {

  type Q = (SparkSession, String) => DataFrame

  private val toks: Column = split(col("text"), " ")
  private[llm] val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Fused split+membership count — a native codegen'd expression
    * (graft.functions.TokensInSetCount). The earlier explode →
    * conditional-agg shape shuffled O(tokens) rows; the HOF
    * `filter(...)` lambda shape evaluated interpreted per element. This
    * is both: codegen AND one scan-project, zero shuffle. */
  private def countIn(set: Seq[String]): Column =
    ArrayFns.tokensInSetCount(col("text"), set)

  /** The quality window — shared with Curate.dsCurated so the curated
    * corpus can never silently drift from the published ts_quality
    * flags when a threshold is tuned. */
  private[llm] def qualityOk(nChars: Column, stopRatio: Column): Column =
    nChars.between(100, 2000) && stopRatio.between(0.05, 0.6)

  /** The marker-vote argmax with its fixed precedence — shared with
    * Curate.dsCurated (same rationale as [[qualityOk]]). */
  private[llm] def langArgmax(en: Column, es: Column, fr: Column, de: Column): Column =
    when(en >= es && en >= fr && en >= de, "en")
      .when(es >= fr && es >= de, "es")
      .when(fr >= de, "fr")
      .otherwise("de")

  /** Token counting + length stats: whitespace tokens and a BPE-ish
    * regex word count (regexp_count — counts without materializing the
    * match array the way regexp_extract_all would). */
  private val tsStats: Q = (s, d) =>
    table(s, d, "documents").select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_len"),
      size(toks).cast("long").as("n_tokens"),
      regexp_count(col("text"), lit("[A-Za-z0-9]+")).cast("long").as("n_words_re"),
      dround(length(col("text")).cast("double") / size(toks), 4).as("chars_per_token"))
      .orderBy("doc_id")

  /** Quality scoring: stopword ratio + length-window flag — the
    * heuristics a pretraining filter applies per document. One parquet
    * scan → project, no shuffle: the stopword count is the fused
    * codegen'd `countIn` above. */
  private val tsQuality: Q = (s, d) => {
    val base = table(s, d, "documents")
      .select(col("doc_id"), col("n_chars"),
        size(toks).cast("long").as("n_tokens"), countIn(stopwords).as("n_stop"))
    val ratio = col("n_stop").cast("double") / col("n_tokens")
    base.select(
      col("doc_id"), col("n_stop"),
      dround(ratio, 4).as("stop_ratio"),
      when(qualityOk(col("n_chars"), ratio), "ok")
        .otherwise("suspect").as("quality_flag"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // ts_gopher: the published Gopher quality-rule battery (Rae et al.
  // 2021, arXiv:2112.11446, Appendix A1) — the filter set production
  // pretraining pipelines actually run, next to the ts_quality
  // stopword/length heuristic: word-count window, mean-word-length
  // window, symbol-to-word ratio, alphabetic-word fraction, and the
  // "contains ≥2 canonical stop words" requirement. One parquet scan →
  // project, zero shuffle: every statistic is a codegen'd built-in or
  // fused native expression over the token array; the keep/drop flag
  // compares UNROUNDED doubles, and each double is a SINGLE division of
  // two integers both engines share, so the flag is IEEE-deterministic
  // cross-engine (the ts_tfidf float-discipline).
  // -------------------------------------------------------------------
  /** Gopher's stop set (arXiv:2112.11446 A1: the, be, to, of, and,
    * that, have, with). */
  private[llm] val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  private val tsGopher: Q = (s, d) => {
    val nWords = size(toks).cast("long")
    // Σ word lengths without a per-word pass: total bytes minus the
    // separators (translate deletes the space) — exact for any spacing
    // because split(' ') counts the same separators.
    val sumWlen = length(translate(col("text"), " ", "")).cast("double")
    val meanWlen = col("sum_wlen") / col("n_words")
    val alphaFrac = col("n_alpha").cast("double") / col("n_words")
    val symRatio = col("n_sym").cast("double") / col("n_words")
    val base = table(s, d, "documents").select(
      col("doc_id"),
      nWords.as("n_words"),
      sumWlen.as("sum_wlen"),
      size(filter(toks, w => w.rlike("[A-Za-z]"))).cast("long").as("n_alpha"),
      regexp_count(col("text"), lit("#|\\.\\.\\.")).cast("long").as("n_sym"),
      gopherStops.map(w => array_contains(toks, w).cast("int"))
        .reduce(_ + _).cast("long").as("n_stop_kinds"))
    // Per-rule verdict columns: a production filter wants to know WHICH
    // rule killed a doc (ablation/debug), and each rule stays
    // individually gate-checkable even when the conjunction is
    // single-class on a given corpus.
    val rWords = col("n_words").between(50L, 100000L)
    val rWlen = meanWlen.between(3.0, 10.0)
    val rSym = symRatio <= 0.1
    val rAlpha = alphaFrac >= 0.8
    val rStop = col("n_stop_kinds") >= 2
    base.select(
      col("doc_id"), col("n_words"),
      dround(meanWlen, 4).as("mean_wlen"),
      dround(alphaFrac, 4).as("alpha_frac"),
      dround(symRatio, 4).as("sym_ratio"),
      col("n_stop_kinds"),
      rWords.as("rule_words"), rWlen.as("rule_wlen"), rSym.as("rule_sym"),
      rAlpha.as("rule_alpha"), rStop.as("rule_stop"),
      when(rWords && rWlen && rSym && rAlpha && rStop, "keep")
        .otherwise("drop").as("gopher_flag"))
      .orderBy("doc_id")
  }

  /** Language ID by marker-token voting (n-gram heuristic): count hits
    * per language marker set, argmax with a fixed precedence. */
  private[llm] val markers = Seq(
    "s_en" -> Seq("the", "and", "is"),
    "s_es" -> Seq("el", "la", "y"),
    "s_fr" -> Seq("le", "les", "et"),
    "s_de" -> Seq("der", "und", "ist"))

  private val tsLangId: Q = (s, d) => {
    // 4 fused marker counts in one projection: same zero-shuffle
    // rationale as tsQuality
    val scored = table(s, d, "documents")
      .select(col("doc_id") +: markers.map { case (n, set) => countIn(set).as(n) }: _*)
    scored.select(
      col("doc_id"), col("s_en"), col("s_es"), col("s_fr"), col("s_de"),
      langArgmax(col("s_en"), col("s_es"), col("s_fr"), col("s_de")).as("lang_pred"))
      .orderBy("doc_id")
  }

  /** Document fingerprint, oracle-checkable form: 64-bit hex prefix of
    * the content md5. */
  private val tsFingerprint: Q = (s, d) =>
    table(s, d, "documents").select(
      col("doc_id"),
      substring(md5(col("text").cast("binary")), 1, 16).as("fp"))
      .orderBy("doc_id")

  /** Document fingerprint via the native rolling-hash Catalyst
    * expression (codegen'd; graft.functions.RollingHash). The kernel is
    * FNV-1a/64 — which IS SQL-expressible: the oracle replays the
    * byte fold with HUGEINT modular arithmetic (`list_reduce` over
    * `ord()` codes; the corpus is ASCII so char codes are the bytes),
    * making this a true independent recompute, not a fixture echo. */
  private val tsFingerprintRoll: Q = (s, d) => {
    TextHashes.register(s)
    table(s, d, "documents").select(
      col("doc_id"), expr("roll_hash(text)").as("fp_roll"))
      .orderBy("doc_id")
  }

  /** Intra-document repetition (Gopher-style quality rule): fraction of
    * DISTINCT 3-token shingles — boilerplate and generation loops
    * repeat n-grams, organic prose doesn't. Rides the codegen'd shingle
    * generator (posexplode + lead, one shuffle on doc_id); docs under 3
    * tokens have no shingles and are excluded on both sides. */
  private val tsRepetition: Q = (s, d) =>
    Dedup.shingleRows(table(s, d, "documents").select("doc_id", "text"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        countDistinct(col("sh")).as("n_distinct"))
      .select(col("doc_id"), col("n_shingles"), col("n_distinct"),
        dround(col("n_distinct").cast("double") / col("n_shingles"), 4)
          .as("distinct_ratio"))
      .withColumn("rep_flag",
        when(col("distinct_ratio") < 0.6, "repetitive").otherwise("ok"))
      .orderBy("doc_id")

  // PII regexes: the conservative subset that parses identically under
  // Java regex (Spark) and RE2 (DuckDB) — no backreferences, no
  // lookaround, explicit classes only.
  private[llm] val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[llm] val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private[llm] val phoneRe = "\\+\\d[\\d-]{7,}"

  /** PII scrubbing: redact emails / IPv4s / phone numbers and count each
    * category. The synthetic corpus carries no PII, so the query PLANTS
    * a deterministic email+IP+phone per document first (derived from
    * doc_id, reproduced verbatim by the oracle) — a zero-hit scrub over
    * clean text would be a vacuous gate. The md5 of the scrubbed text
    * gates the REPLACEMENT byte-for-byte, not just the counts; the
    * whole query is one scan → project, no shuffle, no UDF. */
  private val tsPii: Q = (s, d) => {
    val aug = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com from 10."), (col("doc_id") % 200).cast("string"),
      lit(".0.1 call +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(aug, lit(emailRe), lit("<EMAIL>")),
        lit(ipv4Re), lit("<IP>")),
      lit(phoneRe), lit("<PHONE>"))
    table(s, d, "documents").select(
      col("doc_id"),
      regexp_count(aug, lit(emailRe)).cast("long").as("n_emails"),
      regexp_count(aug, lit(ipv4Re)).cast("long").as("n_ips"),
      regexp_count(aug, lit(phoneRe)).cast("long").as("n_phones"),
      md5(scrubbed.cast("binary")).as("scrub_md5"))
      .orderBy("doc_id")
  }

  /** Corpus-level TF-IDF: top-5 terms per language by
    * tf_total(lang, term) × ln((N+1)/(df+1)). Three shuffles — (doc,
    * term) tf, term df, (lang, term) total — all partial-aggregated
    * map-side; the doc count joins in as a broadcast 1-row aggregate,
    * never a collected scalar. The float product happens ONCE per
    * (lang, term) (integer sums upstream), and ranking orders by the
    * ROUNDED score, so there is no cross-engine float-accumulation or
    * ulp-tie hazard in either the values or the ranking. */
  private val tsTfidf: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = table(s, d, "documents")
    val perDoc = docs
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "lang", "term").agg(count(lit(1)).as("tf"))
    val dfreq = perDoc.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = perDoc.groupBy("lang", "term").agg(sum("tf").as("tf_total"))
      .join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .select(col("lang"), col("term"),
        dround(col("tf_total") *
          log((col("n_docs") + lit(1)).cast("double") / (col("df") + lit(1))), 4)
          .as("tfidf"))
    val w = Window.partitionBy("lang").orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("lang"), col("rank"), col("term"), col("tfidf"))
      .orderBy("lang", "rank")
  }

  // -------------------------------------------------------------------
  // ts_bm25: full-text BM25 top-k retrieval — the retrieval operator a
  // training-data pipeline runs for decontamination lookups, RAG corpus
  // search, and query-based curation (ts_tfidf ranks corpus terms;
  // BM25 ranks DOCUMENTS for a query, with tf saturation (k1) and
  // doc-length normalization (b) — Robertson & Walker's classic
  // Okapi formula, the Lucene default).
  //
  // Scale shape: the postings relation (term, doc_id, dl, tf) is the
  // inverted-index build — ONE token shuffle, the same cost family as
  // ts_tfidf's tf aggregate; at 100 TB it is written once and served
  // many times (the VocabStore/ivf build-once rule). The query set is
  // tiny and BROADCAST into the postings (never the reverse), so
  // scoring touches only postings of query terms — output-sensitive,
  // like the ANN serve path. Per-term df joins through a semi-join-
  // pruned, broadcast dfreq slice. Ranking is a per-qid window over
  // the ≤ |terms|·df candidate rows, planned as WindowGroupLimit.
  //
  // Float discipline (the ts_perplexity rule): each (query, term, doc)
  // contribution is quantized to a 1e-4 integer IMMEDIATELY after the
  // one float expression; per-doc scores are BIGINT sums — exact and
  // order-independent across 32 partitions vs DuckDB's single thread —
  // and the ranking orders by the quantized score with doc_id
  // tie-break. Queries are PLANTED deterministically: every 100th doc
  // contributes its 3 lexicographically-smallest distinct tokens (both
  // engines re-derive the same query set from scratch).
  // -------------------------------------------------------------------
  private val bmTopK = 5
  /** The full ranked BM25 relation (qid, doc_id, bm25_q, rank) —
    * shared by ts_bm25 (top-k slice) and ts_hybrid_rrf (fusion). */
  private def bm25Ranked(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = table(s, d, "documents").select("doc_id", "text")
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " ")).cast("long")).as("total_len"))
    // The planted query set is BOUNDED (doc_id < 1e5 keeps it fixed as
    // the corpus replicates — tools.Replicate offsets copies by 1e6): a
    // serving workload's query volume does not scale with corpus size,
    // and an unbounded plant made the 100× probe go |queries|·df
    // quadratic (OOM at 500k docs; bounded + slice-persisted it runs —
    // BASELINE.md round-11 retrieval-probe table).
    val queries = docs.filter(col("doc_id") % 100 === 0 && col("doc_id") < 100000L)
      .select(col("doc_id").as("qid"),
        explode(slice(array_sort(array_distinct(split(col("text"), " "))), 1, 3))
          .as("term"))
    // (doc_id, term, dl, tf) postings for QUERY TERMS ONLY: the token
    // stream semi-joins against the broadcast term set BEFORE the tf
    // aggregate, so neither a full inverted index nor a full-
    // vocabulary df relation is ever built or persisted — the cached
    // slice is O(Σ_qterm df), not O(corpus tokens). (tf per (doc,term)
    // is unaffected by dropping other terms; dl is computed from the
    // full token array before the explode.)
    val postQ = docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("dl"),
        explode(split(col("text"), " ")).as("term"))
      .join(broadcast(queries.select("term").distinct()), Seq("term"), "left_semi")
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      // feeds the df aggregate AND the scoring join; stays persisted
      // after return by the library-wide cache-ownership convention
      // (COVERAGE.md): unpersisting here would fire before the lazy
      // plan runs and re-tokenize the corpus per consumer — the CALLER
      // (Bench/Verify/RunCurate clearCache per query) reclaims it
      .persist()
    val qdf = postQ.groupBy("term").agg(count(lit(1)).as("df"))
    val contrib = postQ
      .join(broadcast(queries), Seq("term"))
      .join(broadcast(qdf), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("doc_id"),
        dround(
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
            * (col("tf") * lit(2.2))
            / (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75)
                + lit(0.75) * (col("dl") * col("n_docs")) / col("total_len")))
            * 10000, 0).cast("long").as("c_q"))
    val scored = contrib.groupBy("qid", "doc_id").agg(sum(col("c_q")).as("bm25_q"))
    val w = Window.partitionBy("qid").orderBy(col("bm25_q").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
  }

  private val tsBm25: Q = (s, d) =>
    bm25Ranked(s, d)
      .filter(col("rank") <= bmTopK)
      .select(col("qid"), col("rank"), col("doc_id"), col("bm25_q"))
      .orderBy("qid", "rank")

  // ts_hybrid_rrf: hybrid lexical+semantic retrieval via reciprocal-
  // rank fusion (Cormack et al.'s RRF, the standard hybrid-search
  // combiner): the BM25 top-5 and the embedding-cosine top-5 for the
  // same planted queries fuse on score(d) = Σ_lists 1/(60 + rank_d) —
  // rank-based, so the two incommensurable score scales never mix.
  //
  // Scale shape: both inputs are already output-sensitive top-k
  // relations (≤ 5 rows per query each); the fusion is a full-outer
  // join of two tiny ranked lists plus one per-qid window — cost is
  // O(queries·k) regardless of corpus size. The cosine side reuses the
  // knn_cosine brute-force baseline shape (broadcast probes, one
  // candidate pass; the ANN family is the declared serving path at
  // 100 TB). Float discipline: each 1/(60+r) term has an integer-
  // valued rank, both engines compute the same IEEE division, the
  // two-term sum is associated identically (bm25 + cos), and the
  // fused score quantizes to 1e-9 integer units before ranking with
  // doc_id tie-break.
  private val rrfTopK = 5
  private val tsHybridRrf: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val bm = bm25Ranked(s, d).filter(col("rank") <= rrfTopK)
      .select(col("qid"), col("doc_id"), col("rank").as("r_bm25"))
    val emb = table(s, d, "embeddings")
    def toD(c: Column) = transform(c, x => x.cast("double"))
    def dot(a: Column, b: Column) = ArrayFns.vecDot(a, b)
    // same bounded plant as the BM25 side: the probe set stays fixed
    // as the corpus grows
    val probes = emb.filter(col("vec_id") % 100 === 0 && col("vec_id") < 100000L)
      .select(col("vec_id").as("qid"), toD(col("embedding")).as("qe"))
    val cands = emb.select(col("vec_id").as("doc_id"), toD(col("embedding")).as("ce"))
    val sims = cands.crossJoin(broadcast(probes))
      .filter(col("qid") =!= col("doc_id"))
      .select(col("qid"), col("doc_id"),
        (dot(col("qe"), col("ce")) /
          (sqrt(dot(col("qe"), col("qe"))) * sqrt(dot(col("ce"), col("ce"))))).as("sim"))
    val cos = sims
      .withColumn("r_cos", row_number()
        .over(Window.partitionBy("qid").orderBy(desc("sim"), asc("doc_id"))).cast("long"))
      .filter(col("r_cos") <= rrfTopK)
      .select("qid", "doc_id", "r_cos")
    val fused = bm.join(cos, Seq("qid", "doc_id"), "full_outer")
      .select(col("qid"), col("doc_id"), col("r_bm25"), col("r_cos"),
        floor((coalesce(lit(1.0) / (lit(60.0) + col("r_bm25").cast("double")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60.0) + col("r_cos").cast("double")), lit(0.0)))
          * lit(1000000000.0)).cast("long").as("rrf_q"))
    val w = Window.partitionBy("qid").orderBy(col("rrf_q").desc, col("doc_id").asc)
    fused.withColumn("rrf_rank", row_number().over(w).cast("long"))
      .select("qid", "rrf_rank", "doc_id", "rrf_q", "r_bm25", "r_cos")
      .orderBy("qid", "rrf_rank")
  }

  /** Scan-LOCAL bigram generator: explode positions 1..n-1 and index
    * the token array twice — `element_at` is codegen'd, so bigrams
    * materialize inside the scan stage with ZERO shuffle (the earlier
    * posexplode + window-`lead` shape forced a full shuffle of the
    * exploded token rows on doc_id before a single bigram existed —
    * the same O(corpus-text) exchange the shingles3 rewrite removed
    * for 3-grams). Docs under 2 tokens have no bigrams and are
    * excluded on both sides (Spark's `sequence(1, 0)` would count
    * DOWN; DuckDB's `generate_series(1, 0)` is empty). */
  private def bigramRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(1), size(col("tk")) - 1)).as("i"))
      .select(col("doc_id"),
        element_at(col("tk"), col("i")).as("w1"),
        element_at(col("tk"), col("i") + 1).as("w2"))

  /** Corpus bigram LM counts (KenLM-prep shape): c(w1,w2) with a
    * min-count prune, the left-context total c(w1·), and the MLE
    * conditional p(w2|w1) = c(w1,w2)/c(w1·). Bigrams come from the
    * scan-local [[bigramRows]]; counts shuffle once on (w1,w2) with
    * map-side partials, context totals reduce THOSE counts (never
    * re-scan the corpus), and the one float division happens per
    * surviving bigram after integer aggregation — no accumulation-order
    * hazard. At 100 TB the prune is the point: the (w1,w2) key space
    * stays bounded by what survives ≥minCount, which is what an LM
    * pipeline ships downstream. */
  private val lmMinCount = 30
  private val tsNgramLm: Q = (s, d) => {
    val bi = bigramRows(table(s, d, "documents").select("doc_id", "text"))
    val c12 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
    val c1 = c12.groupBy("w1").agg(sum(col("n12")).as("n1"))
    c12.join(c1, "w1")
      .filter(col("n12") >= lmMinCount)
      .select(col("w1"), col("w2"), col("n12"), col("n1"),
        dround(col("n12").cast("double") / col("n1"), 4).as("p_cond"))
      .orderBy("w1", "w2")
  }

  // -------------------------------------------------------------------
  // ts_perplexity: CCNet-style LM quality scoring — score every
  // document's cross-entropy under the corpus bigram LM and use it as a
  // fluency filter signal (high avg-nats = the LM finds the text
  // improbable: boilerplate, garbled encodings, wordlists). The LM is
  // the pruned ts_ngram_lm relation, which is BOUNDED by the min-count
  // prune regardless of corpus size, so the scoring join is an explicit
  // broadcast: document bigrams materialize scan-locally (bigramRows),
  // probe the broadcast LM map-side, and the only shuffle in the whole
  // query is the final integer aggregate on doc_id. Per-bigram costs
  // -ln p(w2|w1) are quantized to 1e-4-nat integer units BEFORE the
  // per-doc sum: BIGINT sums are exact and order-independent, so the
  // gate cannot drift on float accumulation order across 32 partitions
  // vs DuckDB's single thread (the one float op per doc happens after
  // aggregation, the tfidf discipline). Unseen bigrams get a fixed OOV
  // cost (15 nats ≈ p=3e-7) and are counted separately.
  // -------------------------------------------------------------------
  private val oovCostQ = 150000L
  private val tsPerplexity: Q = (s, d) => {
    val docs = table(s, d, "documents").select("doc_id", "text")
    val bi = bigramRows(docs)
    val c12 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
    val c1 = c12.groupBy("w1").agg(sum(col("n12")).as("n1"))
    val lm = c12.join(c1, "w1")
      .filter(col("n12") >= lmMinCount)
      .select(col("w1"), col("w2"),
        dround(log(col("n1").cast("double") / col("n12")) * 10000, 0)
          .cast("long").as("cost_q"))
    bi.join(broadcast(lm), Seq("w1", "w2"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("cost_q").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(coalesce(col("cost_q"), lit(oovCostQ))).as("sum_cost_q"))
      .select(col("doc_id"), col("n_bigrams"), col("n_oov"), col("sum_cost_q"),
        dround(col("sum_cost_q").cast("double") / lit(10000.0) / col("n_bigrams"), 4)
          .as("avg_nats"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // tx_chunks: RAG-style overlapping token-window chunking — the
  // retrieval-corpus prep step that cuts each document into fixed-size
  // token windows with overlap (window 64, stride 48 → 16-token overlap
  // carries context across boundaries). Chunk starts are 1, 1+48, …
  // while ≤ n_tokens, so the tail chunk may be short but every token is
  // covered. The whole op is scan → project → explode — scan-LOCAL, zero
  // shuffle, full column pruning: exactly what a 100 TB chunking pass
  // must be (the explode multiplies rows ~n/stride inside the stage; no
  // repartition ever sees the chunk text). The md5 gates each chunk's
  // BYTES, not just its shape.
  // -------------------------------------------------------------------
  private val chunkTokens = 64
  private val chunkStride = 48
  private val txChunks: Q = (s, d) => {
    val base = table(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
    base
      .select(col("doc_id"), col("tk"),
        posexplode(sequence(lit(1), greatest(size(col("tk")), lit(1)),
          lit(chunkStride))).as(Seq("chunk_id", "tok_start")))
      .select(col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        col("tok_start").cast("long").as("tok_start"),
        slice(col("tk"), col("tok_start"), lit(chunkTokens)).as("chunk"))
      .select(col("doc_id"), col("chunk_id"), col("tok_start"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", col("chunk")).cast("binary")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  // -------------------------------------------------------------------
  // ts_hosts: URL parsing + host-level curation (the RefinedWeb
  // pattern): crawl curation decides per HOST, not per document — a
  // domain whose pages are mostly low-quality is dropped wholesale.
  // The corpus has no URL column, so the query PLANTS a deterministic
  // URL per document (the ts_pii discipline: derived from doc_id,
  // reproduced verbatim by the oracle — 37 hosts), parses the host
  // with Spark's codegen'd `parse_url` (the oracle re-derives it
  // INDEPENDENTLY by path-splitting the same URL string — a parse_url
  // regression diverges), and aggregates the ts_quality flag per host:
  // hosts under 50% quality-ok are dropped. One scan → project →
  // 37-key aggregate; at 100 TB the host key is the natural partition
  // for every downstream per-domain decision.
  // -------------------------------------------------------------------
  private val tsHosts: Q = (s, d) => {
    val url = concat(lit("https://host"), (col("doc_id") % 37).cast("string"),
      lit(".example.com/p/"), col("doc_id").cast("string"))
    val base = table(s, d, "documents")
      .select(col("doc_id"), col("n_chars"), url.as("url"),
        size(toks).cast("long").as("n_tokens"), countIn(stopwords).as("n_stop"))
    val ratio = col("n_stop").cast("double") / col("n_tokens")
    base
      .select(parse_url(col("url"), lit("HOST")).as("host"),
        when(qualityOk(col("n_chars"), ratio), 1L).otherwise(0L).as("ok"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_docs"), sum(col("ok")).as("n_ok"))
      .select(col("host"), col("n_docs"), col("n_ok"),
        dround(col("n_ok").cast("double") / col("n_docs"), 4).as("ok_ratio"),
        when(col("n_ok") * 2 >= col("n_docs"), "keep").otherwise("drop")
          .as("host_flag"))
      .orderBy("host")
  }

  /** Character-level Shannon entropy — the gibberish/binary-noise
    * signal (low-entropy = repeated filler, spuriously high = random
    * bytes) quality pipelines score alongside the Gopher rules. The
    * histogram runs over a FIXED 27-symbol alphabet (a–z + space) in a
    * fixed fold order, so both engines sum the identical term sequence
    * — distinct-char iteration orders (which neither engine pins) never
    * enter the derivation. ln is the one transcendental in the repo's
    * gated surface beyond KDE's exp; dround(4) absorbs its sub-ulp
    * libm-vs-JVM drift (the a10_kde precedent). One scan → project,
    * zero shuffle. The histogram+fold is the fused native
    * [[graft.functions.CharEntropy]] expression: the 27-term chained
    * projection it replaced (len − len(translate) per symbol, and a
    * regexp_count variant before that) blew the codegen expression
    * budget and ran interpreted — 16.6 s / 8.9 s per 50k docs; the
    * kernel is one byte pass, bit-faithful to the oracle's chain. */
  private val tsEntropy: Q = (s, d) => {
    val h = TextHashes.charEntropy(col("text"))
    // the flag derives from the QUANTIZED entropy (floor of 1e4 units),
    // not the raw ln() chain: a raw transcendental compared to 2.8 on
    // two libms can flip at the boundary, while the integer floor is
    // identical on both engines (the dround discipline, applied to the
    // predicate as well as the column)
    table(s, d, "documents").select(
      col("doc_id"), length(col("text")).cast("long").as("n_len"),
      dround(h, 4).as("entropy_nats"),
      when(floor(h * 10000) < 28000, "low").otherwise("ok").as("entropy_flag"))
      .orderBy("doc_id")
  }

  /** SFT example construction: render each document into a chat
    * template (first 8 tokens as the user turn, the rest as the
    * assistant turn) and emit the character span the loss mask covers
    * — the assistant span only, the standard SFT masking rule. All
    * string algebra, scan-local, zero shuffle; offsets are derived
    * from rendered lengths so they stay correct under any template
    * change. */
  // ts_winnow: winnowing document fingerprinting (Schleimer, Wilkerson
  // & Aiken 2003 — the MOSS algorithm): hash every 8-char gram, slide
  // a w=4 window over the hash sequence, select each window's RIGHTMOST
  // minimum. The selection guarantees (a) any shared substring ≥
  // w+k−1 chars yields a shared fingerprint and (b) expected density
  // 2/(w+1) — measured 0.408 at sf0.01, the textbook value — so it is
  // the position-robust near-copy detector dd_spans' exact machinery
  // cannot give (winnowing survives insertions that shift every
  // position; fingerprint HASHES are content-anchored).
  //
  // Cross-engine determinism: the gram hash is md5 of the gram itself
  // (identical hex strings both engines) and "minimum" is the
  // LEXICOGRAPHIC order on those hex strings — a total order with no
  // integer conversion to disagree on. Scale shape: pure scan-local
  // array algebra per row (transform/slice/array_min over the in-row
  // hash array) — one projection, ZERO shuffle at any corpus size; the
  // cross-doc match step is a fingerprint equi-join downstream.
  // <11-char docs take the declared 'short' branch.
  // The selection itself runs as the fused native WinnowSel kernel
  // (one codegen'd pass per doc, reused MessageDigest) — the nested
  // transform/slice/array_min HOF chain it replaced is interpreted per
  // element and measured 11.5 s for 5k sf0.1 docs (BASELINE.md
  // round-11 table has the before/after); the DuckDB oracle still
  // replays that declarative chain, so the kernel is gated against an
  // INDEPENDENT formulation.
  private val tsWinnow: Q = (s, d) =>
    table(s, d, "documents").select("doc_id", "text")
      .select(col("doc_id"), expr("CAST(length(text) AS BIGINT)").as("n"),
        ArrayFns.winnowSel(col("text"), withPositions = true).as("sel"))
      .select(col("doc_id"),
        expr("CASE WHEN n >= 11 THEN 'fp' ELSE 'short' END").as("mode"),
        expr("CASE WHEN n >= 11 THEN n - 7 ELSE 0 END").as("n_grams"),
        expr("CASE WHEN n >= 11 THEN CAST(size(sel) AS BIGINT) ELSE 0 END").as("n_windows"),
        expr("CASE WHEN n >= 11 THEN CAST(size(array_distinct(sel)) AS BIGINT) ELSE 0 END")
          .as("n_fps"),
        expr("""CASE WHEN n >= 11
            THEN md5(CAST(array_join(array_sort(array_distinct(sel)), ',') AS BINARY))
            ELSE md5(CAST('' AS BINARY)) END""").as("fp_md5"))
      .orderBy("doc_id")

  /** The content-anchored winnow fingerprint relation (doc_id, fp) —
    * hash part only, positions dropped — shared with dd_winnow's
    * cross-document pairing. Distinct per doc. */
  private[llm] def winnowFpRelation(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents").select("doc_id", "text")
      .select(col("doc_id"),
        explode(ArrayFns.winnowSel(col("text"), withPositions = false)).as("fp"))

  // tx_fim: fill-in-the-middle example construction (Bavarian et al.
  // 2022) — the document-level transform a code/text pretraining
  // pipeline applies to a fraction of the corpus so the model learns
  // infilling. Two deterministic cuts split the text into
  // prefix|middle|suffix and the example renders in BOTH published
  // orders: PSM (<PRE>p<SUF>s<MID>m) and SPM (<SUF>s<PRE>p<MID>m).
  //
  // Determinism (no RNG anywhere): the FIM rate is doc_id % 2 = 0 and
  // the cuts are integer hash mixes of doc_id into the first and
  // second thirds of the char range — pure BIGINT arithmetic replayed
  // verbatim by the oracle. Docs shorter than 9 chars (and the odd
  // half) pass through as mode='plain' with the original text hashed,
  // so the gate is falsifiable in both directions. Scale shape: pure
  // scan-local string algebra — one projection, zero shuffle, the
  // ts_normalize family.
  private val txFim: Q = (s, d) => {
    val docs = table(s, d, "documents").select("doc_id", "text")
    val len = length(col("text")).cast("long")
    // floor at 1 so the cut mix stays defined on <9-char plain rows
    // (their c1/c2 are masked to null anyway)
    val third = greatest(expr("CAST(length(text) AS BIGINT) div 3"), lit(1L))
    val c1 = lit(1L) + pmod(col("doc_id") * 7919L, third)
    val c2 = c1 + lit(1L) + pmod(col("doc_id") * 104729L, third)
    val isFim = (pmod(col("doc_id"), lit(2L)) === 0L) && (len >= 9L)
    val pre = substring(col("text"), lit(1), (c1 - 1L).cast("int"))
    val mid = substring(col("text"), c1.cast("int"), (c2 - c1).cast("int"))
    val suf = substring(col("text"), c2.cast("int"), (len - c2 + 1L).cast("int"))
    docs.select(
      col("doc_id"),
      when(isFim, lit("fim")).otherwise(lit("plain")).as("mode"),
      when(isFim, c1).as("c1"),
      when(isFim, c2).as("c2"),
      when(isFim, length(pre).cast("long")).as("n_pre"),
      when(isFim, length(mid).cast("long")).as("n_mid"),
      when(isFim, length(suf).cast("long")).as("n_suf"),
      when(isFim, md5(concat(lit("<PRE>"), pre, lit("<SUF>"), suf, lit("<MID>"), mid)))
        .otherwise(md5(col("text"))).as("out_md5"),
      when(isFim, md5(concat(lit("<SUF>"), suf, lit("<PRE>"), pre, lit("<MID>"), mid)))
        .as("spm_md5"))
      .orderBy("doc_id")
  }

  private val txSftRender: Q = (s, d) => {
    // the assistant span is sized by the array's own length (tk[9:]
    // semantics) — a magic position cap would silently truncate a
    // longer future document, the anti-pattern the ts_ngram_lm oracle
    // comment warns against
    val instr = array_join(slice(toks, 1, 8), " ")
    val resp = array_join(slice(toks, lit(9), greatest(size(toks) - 8, lit(0))), " ")
    val render = concat(lit("<|user|>\n"), instr, lit("\n<|assistant|>\n"), resp)
    table(s, d, "documents").select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      render.as("render"),
      (length(render) - length(resp)).cast("long").as("mask_start"),
      length(resp).cast("long").as("mask_len"))
      .orderBy("doc_id")
  }

  /** ts_normalize: canonical text normalization — the pre-hash stage
    * every dedup/fingerprint pipeline runs first (CCNet's lowercase +
    * punctuation strip + whitespace collapse), as one scan-local
    * regex chain: lowercase → strip non-[a-z0-9 ] → collapse runs of
    * spaces → trim. Emits the normalized length, an md5 of the
    * normalized form (the key the dedup layers would consume), and a
    * changed flag. Both engines apply the identical rule order; the
    * oracle's regexp_replace carries the 'g' flag (DuckDB replaces
    * first-match-only by default — the dd_urls lesson, applied
    * preemptively). The engine side runs the chain as the fused native
    * [[graft.functions.NormalizeText]] kernel — one byte pass,
    * byte-identical to the three-regex chain the oracle replays
    * (measured at the 100× probe: 40.6 s → ~1 s for 500k docs; regex
    * normalization was the scan bottleneck). */
  private val tsNormalize: Q = (s, d) => {
    val norm = graft.functions.SegmentFns.normalizeText(col("text"))
    table(s, d, "documents").select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_raw"),
      length(norm).cast("long").as("n_chars_norm"),
      md5(norm.cast("binary")).as("norm_md5"),
      (norm =!= col("text")).as("changed"))
      .orderBy("doc_id")
  }

  /** ts_readability: Flesch-style reading-ease scoring — the classic
    * readability member of the quality battery (next to ts_gopher and
    * ts_quality; readability bands are a standard pretraining-data
    * stratification signal). Words = whitespace tokens, sentences =
    * max(1, '.'-count), syllables = vowel-group runs — the standard
    * heuristic triple, all integer counts, so only the final formula
    * touches floats: 206.835 − 1.015·(w/s) − 84.6·(syl/w) evaluated in
    * one fixed association and dround(4)-formatted, with the band cut
    * on the quantized score (the entropy_flag discipline). Scan-local,
    * zero shuffle. */
  private val tsReadability: Q = (s, d) => {
    val nWords = size(split(col("text"), " ")).cast("long")
    val nSents = greatest(lit(1L), regexp_count(col("text"), lit("\\.")).cast("long"))
    val nSyl = regexp_count(col("text"), lit("[aeiou]+")).cast("long")
    val score = lit(206.835) -
      (lit(1.015) * (nWords.cast("double") / nSents.cast("double"))) -
      (lit(84.6) * (nSyl.cast("double") / nWords.cast("double")))
    table(s, d, "documents").select(
      col("doc_id"), nWords.as("n_words"), nSents.as("n_sentences"),
      nSyl.as("n_syllables"),
      dround(score, 4).as("flesch"),
      when(floor(score * 10000) >= 600000L, "easy")
        .when(floor(score * 10000) >= 300000L, "standard")
        .otherwise("hard").as("read_band"))
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "ts_readability" -> tsReadability,
    "ts_normalize" -> tsNormalize,
    "ts_entropy" -> tsEntropy,
    "tx_sft_render" -> txSftRender,
    "tx_fim" -> txFim,
    "ts_winnow" -> tsWinnow,
    "ts_hosts" -> tsHosts,
    "tx_chunks" -> txChunks,
    "ts_ngram_lm" -> tsNgramLm,
    "ts_perplexity" -> tsPerplexity,
    "ts_stats" -> tsStats,
    "ts_quality" -> tsQuality,
    "ts_gopher" -> tsGopher,
    "ts_langid" -> tsLangId,
    "ts_fingerprint" -> tsFingerprint,
    "ts_fingerprint_roll" -> tsFingerprintRoll,
    "ts_repetition" -> tsRepetition,
    "ts_pii" -> tsPii,
    "ts_tfidf" -> tsTfidf,
    "ts_bm25" -> tsBm25,
    "ts_hybrid_rrf" -> tsHybridRrf)

  private[llm] def sqlCountIn(set: Seq[String]): String = {
    val lits = set.map(w => s"'$w'").mkString(", ")
    s"CAST(len(list_filter(string_split(text, ' '), x -> x IN ($lits))) AS BIGINT)"
  }

  /** The perplexity derivation as a reusable CTE chain ending in
    * `ppl(doc_id, n_bigrams, n_oov, sum_cost_q, avg_nats)` — shared by
    * the ts_perplexity twin and Curate's composed-pipeline twin so the
    * two oracles can never drift apart. */
  private[llm] def perplexityCtes: String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       | bi AS (SELECT doc_id, tk[g.i] AS w1, tk[g.i+1] AS w2
       |        FROM t, LATERAL unnest(generate_series(1, len(tk) - 1)) g(i)),
       | c12 AS (SELECT w1, w2, count(*) AS n12 FROM bi GROUP BY w1, w2),
       | c1 AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM c12 GROUP BY w1),
       | lm AS (SELECT c12.w1, c12.w2,
       |          CAST(round(ln(n1::DOUBLE / n12) * 10000) AS BIGINT) AS cost_q
       |        FROM c12 JOIN c1 USING (w1) WHERE n12 >= $lmMinCount),
       | sc AS (SELECT bi.doc_id, lm.cost_q
       |        FROM bi LEFT JOIN lm ON lm.w1 = bi.w1 AND lm.w2 = bi.w2),
       | ppl AS (SELECT doc_id, count(*) AS n_bigrams,
       |   CAST(sum(CASE WHEN cost_q IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |   CAST(sum(coalesce(cost_q, $oovCostQ)) AS BIGINT) AS sum_cost_q,
       |   round(CAST(sum(coalesce(cost_q, $oovCostQ)) AS DOUBLE) / 10000
       |         / count(*), 4) AS avg_nats
       |  FROM sc GROUP BY doc_id)""".stripMargin

  /** The entropy fold replayed textually term by term — same 27-symbol
    * order, same left-nested additions, same -(p·ln p) shape. */
  private def sqlEntropy: String = {
    val alphabet = ('a' to 'z').map(_.toString) :+ " "
    alphabet.foldLeft("0.0") { (acc, c) =>
      val n = s"CAST(length(text) - length(replace(text, '$c', '')) AS DOUBLE)"
      val p = s"($n / CAST(length(text) AS DOUBLE))"
      s"($acc + CASE WHEN $n > 0 THEN -($p * ln($p)) ELSE 0.0 END)"
    }
  }

  val oracle: Map[String, String] = Map(
    "ts_readability" -> {
      val w = "CAST(len(string_split(text, ' ')) AS BIGINT)"
      val sct = "greatest(CAST(1 AS BIGINT), CAST(len(regexp_extract_all(text, '\\.')) AS BIGINT))"
      val syl = "CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT)"
      val score = s"((206.835 - (1.015 * (CAST($w AS DOUBLE) / CAST($sct AS DOUBLE)))) - " +
        s"(84.6 * (CAST($syl AS DOUBLE) / CAST($w AS DOUBLE))))"
      s"""SELECT doc_id, $w AS n_words, $sct AS n_sentences, $syl AS n_syllables,
         | round($score, 4) AS flesch,
         | CASE WHEN floor($score * 10000) >= 600000 THEN 'easy'
         |      WHEN floor($score * 10000) >= 300000 THEN 'standard'
         |      ELSE 'hard' END AS read_band
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "ts_normalize" ->
      """WITH n AS (SELECT doc_id, text,
        |  trim(regexp_replace(
        |    regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |    ' +', ' ', 'g')) AS norm
        | FROM documents)
        |SELECT doc_id,
        | CAST(length(text) AS BIGINT) AS n_chars_raw,
        | CAST(length(norm) AS BIGINT) AS n_chars_norm,
        | md5(norm) AS norm_md5,
        | (norm <> text) AS changed
        |FROM n ORDER BY doc_id""".stripMargin,
    "ts_entropy" ->
      s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_len,
         | round($sqlEntropy, 4) AS entropy_nats,
         | CASE WHEN floor(($sqlEntropy) * 10000) < 28000
         |      THEN 'low' ELSE 'ok' END AS entropy_flag
         |FROM documents ORDER BY doc_id""".stripMargin,
    // same md5-gram chain, same rightmost-min selection via
    // list_reverse+list_position, same lpad'd fingerprint strings
    "ts_winnow" ->
      s"""WITH base AS (SELECT doc_id, text, length(text) AS n FROM documents),
        | g AS (SELECT doc_id, n,
        |    CASE WHEN n >= 11 THEN list_transform(range(1, n - 8 + 2),
        |      i -> md5(substr(text, CAST(i AS INT), 8))) END AS hs
        |  FROM base),
        | w AS MATERIALIZED (SELECT doc_id, n, hs,
        |    CASE WHEN n >= 11 THEN
        |      ${graft.functions.TextHashes.winnowWindowSql("hs")}
        |    END AS sel
        |  FROM g)
        |SELECT doc_id,
        |  CASE WHEN n >= 11 THEN 'fp' ELSE 'short' END AS mode,
        |  CASE WHEN n >= 11 THEN CAST(len(hs) AS BIGINT) ELSE 0 END AS n_grams,
        |  CASE WHEN n >= 11 THEN CAST(len(sel) AS BIGINT) ELSE 0 END AS n_windows,
        |  CASE WHEN n >= 11 THEN CAST(len(list_distinct(sel)) AS BIGINT) ELSE 0 END AS n_fps,
        |  CASE WHEN n >= 11
        |    THEN md5(array_to_string(list_sort(list_distinct(sel)), ','))
        |    ELSE md5('') END AS fp_md5
        |FROM w ORDER BY doc_id""".stripMargin,
    // same integer cut mix, same ≥9/odd plain passthrough, both render
    // orders re-derived from substr arithmetic
    "tx_fim" ->
      """WITH f AS (SELECT doc_id, text,
        |    CAST(length(text) AS BIGINT) AS len,
        |    GREATEST(CAST(length(text) AS BIGINT) // 3, 1) AS third,
        |    (doc_id % 2 = 0 AND length(text) >= 9) AS isfim
        |  FROM documents),
        | c AS (SELECT doc_id, text, len, isfim,
        |    1 + (doc_id * 7919) % third AS c1,
        |    1 + (doc_id * 7919) % third + 1 + (doc_id * 104729) % third AS c2
        |  FROM f),
        | p AS (SELECT doc_id, text, isfim, c1, c2,
        |    substr(text, 1, CAST(c1 - 1 AS INT)) AS pre,
        |    substr(text, CAST(c1 AS INT), CAST(c2 - c1 AS INT)) AS mid,
        |    substr(text, CAST(c2 AS INT), CAST(len - c2 + 1 AS INT)) AS suf
        |  FROM c)
        |SELECT doc_id,
        |  CASE WHEN isfim THEN 'fim' ELSE 'plain' END AS mode,
        |  CASE WHEN isfim THEN c1 END AS c1,
        |  CASE WHEN isfim THEN c2 END AS c2,
        |  CASE WHEN isfim THEN CAST(length(pre) AS BIGINT) END AS n_pre,
        |  CASE WHEN isfim THEN CAST(length(mid) AS BIGINT) END AS n_mid,
        |  CASE WHEN isfim THEN CAST(length(suf) AS BIGINT) END AS n_suf,
        |  CASE WHEN isfim
        |    THEN md5('<PRE>' || pre || '<SUF>' || suf || '<MID>' || mid)
        |    ELSE md5(text) END AS out_md5,
        |  CASE WHEN isfim
        |    THEN md5('<SUF>' || suf || '<PRE>' || pre || '<MID>' || mid)
        |    END AS spm_md5
        |FROM p ORDER BY doc_id""".stripMargin,
    "tx_sft_render" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        | r AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
        |   array_to_string(tk[1:8], ' ') AS instr,
        |   array_to_string(tk[9:], ' ') AS resp FROM t)
        |SELECT doc_id, n_tokens,
        | ('<|user|>' || chr(10) || instr || chr(10) || '<|assistant|>' || chr(10) || resp) AS render,
        | CAST(length('<|user|>' || chr(10) || instr || chr(10) || '<|assistant|>' || chr(10) || resp)
        |      - length(resp) AS BIGINT) AS mask_start,
        | CAST(length(resp) AS BIGINT) AS mask_len
        |FROM r ORDER BY doc_id""".stripMargin,
    // host re-derived INDEPENDENTLY of parse_url: the planted URL is
    // rebuilt from doc_id and the authority comes from path-splitting
    // ('https:', '', host, ...) — element 3 of the '/'-split
    "ts_hosts" -> {
      val stop = sqlCountIn(stopwords)
      s"""WITH u AS (SELECT doc_id, n_chars,
         |    'https://host' || (doc_id % 37)::VARCHAR || '.example.com/p/'
         |      || doc_id::VARCHAR AS url,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    $stop AS n_stop
         |  FROM documents),
         | q AS (SELECT string_split(url, '/')[3] AS host,
         |    CASE WHEN n_chars BETWEEN 100 AND 2000
         |          AND (n_stop::DOUBLE / n_tokens) BETWEEN 0.05 AND 0.6
         |         THEN 1 ELSE 0 END AS ok
         |  FROM u)
         |SELECT host, count(*) AS n_docs, CAST(sum(ok) AS BIGINT) AS n_ok,
         |  round(sum(ok)::DOUBLE / count(*), 4) AS ok_ratio,
         |  CASE WHEN sum(ok) * 2 >= count(*) THEN 'keep' ELSE 'drop' END AS host_flag
         |FROM q GROUP BY host ORDER BY host""".stripMargin
    },
    // chunk windows re-derived from scratch: starts by generate_series
    // with the same stride, slices clamped to the token count on both
    // sides, md5 over the re-joined chunk text byte-for-byte
    "tx_chunks" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         | c AS (SELECT doc_id,
         |         CAST((u.s - 1) // $chunkStride AS BIGINT) AS chunk_id,
         |         CAST(u.s AS BIGINT) AS tok_start,
         |         list_slice(tk, u.s, least(u.s + ${chunkTokens - 1}, len(tk))) AS chunk
         |       FROM t, LATERAL unnest(generate_series(1, greatest(len(tk), 1),
         |         $chunkStride)) u(s))
         |SELECT doc_id, chunk_id, tok_start,
         |  CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
         |  md5(array_to_string(chunk, ' ')) AS chunk_md5
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    // The full perplexity pipeline re-derived from scratch: LM counts,
    // prune, per-bigram quantized cost, per-doc integer sums — the only
    // shared constants are the prune threshold and the OOV cost.
    "ts_perplexity" ->
      s"""WITH $perplexityCtes
         |SELECT doc_id, n_bigrams, n_oov, sum_cost_q, avg_nats
         |FROM ppl ORDER BY doc_id""".stripMargin,
    // LATERAL series sized by each doc's own token count — no magic
    // position cap that a longer future document could silently exceed
    "ts_ngram_lm" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        | bi AS (SELECT tk[g.i] AS w1, tk[g.i+1] AS w2
        |        FROM t, LATERAL unnest(generate_series(1, len(tk) - 1)) g(i)),
        | c12 AS (SELECT w1, w2, count(*) AS n12 FROM bi GROUP BY w1, w2),
        | c1 AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM c12 GROUP BY w1)
        |SELECT c12.w1, c12.w2, c12.n12, c1.n1,
        |  round(n12::DOUBLE / n1, 4) AS p_cond
        |FROM c12 JOIN c1 USING (w1)
        |WHERE n12 >= 30 ORDER BY w1, w2""".stripMargin,
    // FNV-1a/64 replayed independently: fold (h ^ byte) * 0x100000001b3
    // mod 2^64 over the text bytes. HUGEINT keeps the 104-bit products
    // exact; xor only touches the low byte, so it runs in BIGINT range;
    // the final CASE maps the unsigned fold back to the engine's signed
    // Long. `string_split(text, '')` yields chars = bytes (ASCII corpus).
    "ts_fingerprint_roll" ->
      s"""WITH h AS (SELECT doc_id, ${TextHashes.fnvFoldSql("text")} AS hu FROM documents)
         |SELECT doc_id, ${TextHashes.fnvSignedSql("hu")} AS fp_roll
         |FROM h ORDER BY doc_id""".stripMargin,
    "ts_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        | s AS (SELECT doc_id, list_transform(generate_series(1, len(tk)-2),
        |          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS sh3
        |       FROM t WHERE len(tk) >= 3)
        |SELECT doc_id,
        |  CAST(len(sh3) AS BIGINT) AS n_shingles,
        |  CAST(len(list_distinct(sh3)) AS BIGINT) AS n_distinct,
        |  round(len(list_distinct(sh3))::DOUBLE / len(sh3), 4) AS distinct_ratio,
        |  CASE WHEN len(list_distinct(sh3))::DOUBLE / len(sh3) < 0.6
        |       THEN 'repetitive' ELSE 'ok' END AS rep_flag
        |FROM s ORDER BY doc_id""".stripMargin,
    "ts_stats" ->
      """SELECT doc_id,
        | CAST(length(text) AS BIGINT) AS n_len,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_words_re,
        | round(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 4) AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,
    "ts_quality" ->
      s"""SELECT doc_id,
         | ${sqlCountIn(stopwords)} AS n_stop,
         | round(CAST(${sqlCountIn(stopwords)} AS DOUBLE) / len(string_split(text, ' ')), 4) AS stop_ratio,
         | CASE WHEN n_chars BETWEEN 100 AND 2000
         |       AND (CAST(${sqlCountIn(stopwords)} AS DOUBLE) / len(string_split(text, ' '))) BETWEEN 0.05 AND 0.6
         |      THEN 'ok' ELSE 'suspect' END AS quality_flag
         |FROM documents ORDER BY doc_id""".stripMargin,
    // The flag CASE repeats the UNROUNDED expressions: both engines
    // compare the same single int/int IEEE divisions, so the keep/drop
    // decision cannot straddle a rounding boundary.
    "ts_gopher" -> {
      val stopSum = gopherStops
        .map(w => s"list_contains(string_split(text, ' '), '$w')::INT")
        .mkString(" + ")
      s"""WITH g AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |  CAST(length(replace(text, ' ', '')) AS DOUBLE) AS sum_wlen,
         |  CAST(len(list_filter(string_split(text, ' '),
         |       x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
         |  CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT) AS n_sym,
         |  CAST($stopSum AS BIGINT) AS n_stop_kinds
         | FROM documents)
         |SELECT doc_id, n_words,
         | round(sum_wlen / n_words, 4) AS mean_wlen,
         | round(n_alpha::DOUBLE / n_words, 4) AS alpha_frac,
         | round(n_sym::DOUBLE / n_words, 4) AS sym_ratio,
         | n_stop_kinds,
         | n_words BETWEEN 50 AND 100000 AS rule_words,
         | (sum_wlen / n_words) BETWEEN 3.0 AND 10.0 AS rule_wlen,
         | n_sym::DOUBLE / n_words <= 0.1 AS rule_sym,
         | n_alpha::DOUBLE / n_words >= 0.8 AS rule_alpha,
         | n_stop_kinds >= 2 AS rule_stop,
         | CASE WHEN n_words BETWEEN 50 AND 100000
         |       AND (sum_wlen / n_words) BETWEEN 3.0 AND 10.0
         |       AND n_sym::DOUBLE / n_words <= 0.1
         |       AND n_alpha::DOUBLE / n_words >= 0.8
         |       AND n_stop_kinds >= 2
         |      THEN 'keep' ELSE 'drop' END AS gopher_flag
         |FROM g ORDER BY doc_id""".stripMargin
    },
    "ts_langid" -> {
      val cols = markers.map { case (n, set) => s" ${sqlCountIn(set)} AS $n" }.mkString(",\n")
      s"""WITH scored AS (SELECT doc_id,\n$cols\nFROM documents)
         |SELECT doc_id, s_en, s_es, s_fr, s_de,
         | CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
         |      WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
         |      WHEN s_fr >= s_de THEN 'fr'
         |      ELSE 'de' END AS lang_pred
         |FROM scored ORDER BY doc_id""".stripMargin
    },
    "ts_fingerprint" ->
      "SELECT doc_id, substr(md5(text), 1, 16) AS fp FROM documents ORDER BY doc_id",
    // The planted PII is reproduced verbatim from doc_id; the scrub is
    // replayed with RE2 + the 'g' flag (DuckDB replaces only the first
    // match by default) and the md5 gates replacement bytes exactly.
    "ts_pii" ->
      s"""WITH aug AS (SELECT doc_id,
         |  text || ' contact user' || doc_id::VARCHAR || '@mail.example.com from 10.'
         |       || (doc_id % 200)::VARCHAR || '.0.1 call +1-555-'
         |       || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS a
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(a, '$emailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(a, '$ipv4Re')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(a, '$phoneRe')) AS BIGINT) AS n_phones,
         |  md5(regexp_replace(regexp_replace(regexp_replace(a,
         |    '$emailRe', '<EMAIL>', 'g'), '$ipv4Re', '<IP>', 'g'),
         |    '$phoneRe', '<PHONE>', 'g')) AS scrub_md5
         |FROM aug ORDER BY doc_id""".stripMargin,
    "ts_tfidf" ->
      """WITH tf AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
        |            FROM documents),
        | perdoc AS (SELECT doc_id, lang, term, count(*) AS tf
        |            FROM tf GROUP BY doc_id, lang, term),
        | dfreq AS (SELECT term, count(*) AS df FROM perdoc GROUP BY term),
        | n AS (SELECT count(*) AS n_docs FROM documents),
        | tot AS (SELECT lang, term, CAST(sum(tf) AS BIGINT) AS tf_total
        |         FROM perdoc GROUP BY lang, term),
        | scored AS (SELECT lang, t.term,
        |     round(tf_total * ln((n_docs + 1.0) / (df + 1)), 4) AS tfidf
        |   FROM tot t JOIN dfreq USING (term) CROSS JOIN n),
        | ranked AS (SELECT lang, term, tfidf,
        |     CAST(row_number() OVER (PARTITION BY lang
        |          ORDER BY tfidf DESC, term ASC) AS INT) AS rank
        |   FROM scored)
        |SELECT lang, rank, term, tfidf FROM ranked
        |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,
    // same planted query derivation, same Okapi expression SHAPE, same
    // 1e-4 quantize-then-BIGINT-sum float discipline, re-derived end
    // to end (ln argument and tf-normalization written identically so
    // the one float expression folds the same way in both engines)
    "ts_bm25" ->
      s"""WITH $bm25RankedCtes
        |SELECT qid, rank, doc_id, bm25_q FROM ranked
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    // the same bm25 ranked chain + the knn_cosine ranking algebra for
    // the same planted qids, fused with the identical two-term RRF
    // expression (bm25 term + cos term, 1e-9 quantize, doc_id
    // tie-break)
    "ts_hybrid_rrf" ->
      s"""WITH $bm25RankedCtes,
        | bm AS (SELECT qid, doc_id, rank AS r_bm25 FROM ranked WHERE rank <= 5),
        | q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
        |       FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 100000),
        | c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS ce FROM embeddings),
        | sims AS (SELECT q.qid, c.cid AS doc_id,
        |    list_dot_product(q.qe, c.ce)
        |      / (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(c.ce, c.ce))) AS sim
        |  FROM q CROSS JOIN c WHERE q.qid <> c.cid),
        | cosr AS (SELECT qid, doc_id,
        |    CAST(row_number() OVER (PARTITION BY qid
        |         ORDER BY sim DESC, doc_id ASC) AS BIGINT) AS r_cos FROM sims),
        | cos5 AS (SELECT * FROM cosr WHERE r_cos <= 5),
        | fused AS (SELECT COALESCE(b.qid, s.qid) AS qid,
        |    COALESCE(b.doc_id, s.doc_id) AS doc_id, b.r_bm25, s.r_cos,
        |    CAST(floor((COALESCE(1.0 / (60.0 + CAST(b.r_bm25 AS DOUBLE)), 0.0)
        |      + COALESCE(1.0 / (60.0 + CAST(s.r_cos AS DOUBLE)), 0.0))
        |      * 1000000000.0) AS BIGINT) AS rrf_q
        |   FROM bm b FULL OUTER JOIN cos5 s
        |     ON s.qid = b.qid AND s.doc_id = b.doc_id)
        |SELECT qid,
        |  CAST(row_number() OVER (PARTITION BY qid
        |       ORDER BY rrf_q DESC, doc_id ASC) AS BIGINT) AS rrf_rank,
        |  doc_id, rrf_q, r_bm25, r_cos
        |FROM fused ORDER BY qid, rrf_rank""".stripMargin)

  /** The ts_bm25 oracle CTE chain (through `ranked`), shared with
    * ts_hybrid_rrf — same planted query derivation, same Okapi
    * expression shape, same 1e-4 quantize-then-BIGINT-sum float
    * discipline as the Spark side. */
  private def bm25RankedCtes: String =
    """tf AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
      |             unnest(string_split(text, ' ')) AS term FROM documents),
      | postings AS (SELECT doc_id, dl, term, count(*) AS tf
      |              FROM tf GROUP BY doc_id, dl, term),
      | dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
      | stats AS (SELECT count(*) AS n_docs,
      |             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_len
      |           FROM documents),
      | queries AS (SELECT doc_id AS qid,
      |     unnest(list_sort(list_distinct(string_split(text, ' ')))[1:3]) AS term
      |   FROM documents WHERE doc_id % 100 = 0 AND doc_id < 100000),
      | contrib AS (SELECT q.qid, p.doc_id,
      |     CAST(round(ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
      |       * (p.tf * 2.2)
      |       / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * (p.dl * s.n_docs) / s.total_len))
      |       * 10000) AS BIGINT) AS c_q
      |   FROM queries q JOIN postings p USING (term) JOIN dfreq f USING (term)
      |   CROSS JOIN stats s),
      | scored AS (SELECT qid, doc_id, CAST(sum(c_q) AS BIGINT) AS bm25_q
      |            FROM contrib GROUP BY qid, doc_id),
      | ranked AS (SELECT qid, doc_id, bm25_q,
      |   CAST(row_number() OVER (PARTITION BY qid
      |        ORDER BY bm25_q DESC, doc_id ASC) AS BIGINT) AS rank
      |   FROM scored)""".stripMargin
}
