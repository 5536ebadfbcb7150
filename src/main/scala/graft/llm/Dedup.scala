package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Artifacts
import graft.io.Sources.table
import graft.functions.Numeric.dround
import graft.functions.{ArrayFns, TextHashes}

/** Deduplication operators for the LLM-data-pipeline extension: exact
  * (content-hash groupBy), n-gram Jaccard over candidate buckets,
  * MinHash+LSH banding, and SimHash — each shaped so the expensive pair
  * comparison only ever happens *within a bucket*, never as an all-pairs
  * cartesian (VERDICT r1: "never a cartesian all-pairs join").
  *
  * Scale shapes:
  *  - exact dedup shuffles once on the content hash — the same partition
  *    key a 100 TB dedup job would bucket its output by;
  *  - MinHash LSH explodes each doc into `bands` rows (small constant),
  *    shuffles on (band, signature) — near-dup candidates co-locate, and
  *    bucket sizes are bounded because unrelated docs hash apart;
  *  - the exact-Jaccard verify join runs only on the candidate pair list,
  *    which is O(near-dups), not O(n²).
  */
object Dedup {

  type Q = (SparkSession, String) => DataFrame

  /** Exact dedup: group by content hash, keep the smallest doc_id —
    * `dropDuplicates` semantics with an explicit survivor rule. */
  private val ddExact: Q = (s, d) =>
    table(s, d, "documents")
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("content_hash")

  // hashed-token fast path for the pairwise verify: distinct tokens →
  // xxhash64 → sorted longs. Intersection counts are identical to the
  // string form (distinct-then-hash preserves set sizes; a cross-doc
  // collision among this corpus's ~40-word vocab has probability
  // ~40²/2⁶⁴ ≈ 1e-16), and the long merge walk skips the per-byte
  // UTF8String comparison entirely.
  private val tokHashes: Column =
    array_sort(transform(array_distinct(split(col("text"), " ")), t => xxhash64(t)))

  /** N-gram (token-set) Jaccard near-dup over lang-bucketed candidates:
    * |A∩B| / (|A|+|B|-|A∩B|) on distinct tokens, pairs restricted to the
    * same `lang` bucket (the candidate generator); threshold 0.6. */
  private def jaccardPairs(s: SparkSession, d: String): DataFrame = {
    // candidates = same (lang, 100-char length band): a lang alone is a
    // 5-way skew disaster (3.2M pairs in 5 join keys at sf0.1 — five
    // straggler tasks do everything); the band multiplies key
    // cardinality ~6× and cuts pairs ~5×. Near-dups at jaccard ≥ 0.9
    // have near-equal token sets, hence near-equal lengths.
    // Second blocking key: distinct-token-count band — near-equal sets
    // have near-equal cardinalities, so width-4 bands keep ≥0.9-jaccard
    // pairs together while cutting within-bucket pair growth ~4×.
    // Structural limit (measured at 10×, BASELINE.md): on a
    // corpus whose near-dup density is a constant FRACTION of all
    // pairs, exact all-near-pairs output is Ω(n²) — no candidate
    // generator fixes that. dd_minhash (LSH, output-sensitive) is the
    // scale path; this query is the oracle-checkable exact-metric twin.
    // persisted: both sides of the candidate self-join read this
    // relation — without it the split/distinct/sort/hash token pipeline
    // runs twice (same rationale as ddMinhash's persisted signatures)
    val t = table(s, d, "documents").select(col("doc_id"), col("lang"),
      floor(col("n_chars") / 100).cast("int").as("len_band"), tokHashes.as("tk"))
      .withColumn("tok_band", (size(col("tk")) / 4).cast("int"))
      .persist()
    val a = t.select(col("lang"), col("len_band"), col("tok_band"),
      col("doc_id").as("doc_a"), col("tk").as("tk_a"))
    val b = t.select(col("lang"), col("len_band"), col("tok_band"),
      col("doc_id").as("doc_b"), col("tk").as("tk_b"))
    val inter = ArrayFns.sortedLongIntersectCount(col("tk_a"), col("tk_b")).cast("double")
    a.join(b, Seq("lang", "len_band", "tok_band"))
      .filter(col("doc_a") < col("doc_b"))
      // size-ratio prefilter: jaccard ≥ 0.9 forces min(|A|,|B|)/max ≥ 0.9;
      // integer arithmetic, removes pairs that cannot pass BEFORE the
      // O(n+m) intersect. Part of the operator's declared semantics and
      // mirrored verbatim in every oracle twin (ADVICE r6: a true
      // jaccard in [0.89995, 0.9) rounds to 0.9000, so an unmirrored
      // prefilter opens a tiny divergence window at the boundary)
      .filter(least(size(col("tk_a")), size(col("tk_b"))) * 10 >=
              greatest(size(col("tk_a")), size(col("tk_b"))) * 9)
      .select(col("doc_a"), col("doc_b"),
        dround(inter / (size(col("tk_a")) + size(col("tk_b")) - inter), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.9)
  }

  private val ddJaccard: Q = (s, d) => jaccardPairs(s, d).orderBy("doc_a", "doc_b")

  // ---------------------------------------------------------------------
  // dd_ppjoin: PREFIX-FILTERED exact set-similarity self-join (the
  // PPJoin family — Xiao, Wang, Lin, Yuan, "Efficient Similarity Joins
  // for Near Duplicate Detection", WWW 2008; the distributed prefix
  // shape is Vernica, Carey, Li, SIGMOD 2010). Same metric as
  // dd_jaccard but a fundamentally different candidate generator:
  // where dd_jaccard BLOCKS on (lang, length band, token band) — a
  // heuristic that can split a true pair across buckets — the prefix
  // filter is provably LOSSLESS: under any single global token order,
  // two sets with overlap ≥ α must collide within their first
  // |x| − ⌈τ·|x|⌉ + 1 tokens, so every pair with jaccard ≥ τ reaches
  // verification. That makes the gate itself the completeness proof:
  // the oracle computes the BLOCKING-FREE exact pair set, and
  // hash-equality certifies the filter dropped nothing.
  //
  // Scale shape: tokens shuffle twice at 8 bytes/row (df count on tok,
  // regroup on doc_id) — the token-ID stream, never the text; candidate
  // volume is Σ_tok C(prefix-occurrences, 2), which df-ASCENDING
  // ordering drives toward the output bound (rarest tokens index the
  // prefixes). On a match-sparse web corpus that is O(near-dups); this
  // synthetic corpus is match-SATURATED (≥0.9 pairs are 7% of ALL
  // pairs), so the measured sf0.1 volume — 14.0k prefix rows → 3.28M
  // candidates → 965k true pairs vs 12.5M unfiltered (74% pruned
  // before a single intersect) — is the structural Ω(output) floor
  // dd_jaccard's header already documents, not a filter weakness.
  private val ppjoinTau = 0.9 // as the (9, 10) integer ratio below

  /** df-ordered prefix rows: (tok, doc_id, sz, pos) for the
    * |x| − ⌈0.9·|x|⌉ + 1 globally-rarest tokens of each doc. */
  private def ppjoinPrefixes(t: DataFrame): DataFrame = {
    // global document frequency per (hashed) token — the ordering key.
    // ANY consistent total order preserves completeness; (df asc, tok
    // asc) is the canonical choice that keeps collision lists short.
    val df = t.select(explode(col("tk")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    t.select(col("doc_id"), col("sz"), explode(col("tk")).as("tok"))
      .join(df, "tok")
      .groupBy("doc_id")
      .agg(first(col("sz")).as("sz"),
        array_sort(collect_list(struct(col("df"), col("tok")))).as("otk"))
      // ⌈0.9·sz⌉ in exact integer form: (9·sz + 9) DIV 10
      .select(col("doc_id"), col("sz"),
        posexplode(expr("slice(otk, 1, sz - (9*sz+9) DIV 10 + 1)")))
      .select(col("doc_id"), col("sz"), col("pos"), col("col.tok").as("tok"))
  }

  /** Candidate MATCHES: prefix-token collision + length filter +
    * PPJoin's position filter, one row per colliding prefix token (a
    * pair sharing m prefix tokens appears m times — measured duplicate
    * factor 1.27 at sf0.1). Provably a SUPERSET of the τ-similar pairs
    * (the verify join applies the exact threshold), so the position
    * filter may be applied per collision, not per first collision.
    * The prefix relation is persisted: it feeds BOTH sides of the
    * self-join, and without the pin the df-count + regroup + explode
    * pipeline runs twice (measured cold: candidate stage 8.3 → 6.6 s;
    * the duplicated subtree also doubles the janino surface). */
  private[llm] def ppjoinMatches(t: DataFrame): DataFrame = {
    // partitionedCheckpoint BY TOK, not persist (r19): the cached
    // prefix relation coalesced to one partition under the engine's
    // cached-plan-AQE config (it is KB-sized — the EXPLOSION happens in
    // the self-join downstream, which AQE's input-size estimate cannot
    // see), serializing the whole collision join; the declared tok
    // layout keeps the self-join exchange-free AND wide.
    val pr = ppjoinPrefixes(t)
    ppjoinCollisions(org.apache.spark.sql.graft.PlanBridge.partitionedCheckpoint(
      pr.sparkSession, pr, "tok",
      pr.sparkSession.sessionState.conf.numShufflePartitions))
  }

  /** The collision join + length/position filters over a prefix
    * relation (tok, doc_id, sz, pos) — shared by the lossless join and
    * the df-capped variant (which feeds it the cold prefixes only). */
  private def ppjoinCollisions(pr: DataFrame): DataFrame = {
    val a = pr.select(col("tok"), col("doc_id").as("doc_a"),
      col("sz").as("sa"), col("pos").as("ia"))
    val b = pr.select(col("tok"), col("doc_id").as("doc_b"),
      col("sz").as("sb"), col("pos").as("ib"))
    a.join(b, Seq("tok"))
      .filter(col("doc_a") < col("doc_b"))
      // length filter: jaccard ≥ 0.9 forces min·10 ≥ max·9 (implied by
      // the threshold, hence lossless; mirrored in the oracle twin)
      .filter(least(col("sa"), col("sb")) * 10 >=
        greatest(col("sa"), col("sb")) * 9)
      // position filter: a collision at 0-based prefix positions
      // (ia, ib) bounds the achievable overlap by min(sa−ia, sb−ib);
      // required overlap α = ⌈τ/(1+τ)·(sa+sb)⌉ = (9(sa+sb)+18) DIV 19
      .filter(least(col("sa") - col("ia"), col("sb") - col("ib")) >=
        expr("(9*(sa+sb)+18) DIV 19"))
      .select("doc_a", "doc_b")
  }

  /** Distinct candidate pairs — DdPpjoinSpec's pruning-measurement seam
    * (the query itself defers the dedup, see ddPpjoin). */
  private[llm] def ppjoinCandidates(t: DataFrame): DataFrame =
    ppjoinMatches(t).dropDuplicates("doc_a", "doc_b")

  /** All pairs with token-set jaccard ≥ 0.9, zero blocking loss. The
    * final threshold is applied to the UNROUNDED quotient (exact small
    * integers through an IEEE division — bit-identical in DuckDB), so
    * the emitted set coincides exactly with the prefix theorem's ≥ τ
    * truth set; rounding touches only the displayed column.
    *
    * Shuffle discipline: the candidate self-join reads the
    * tok-partitioned checkpoint with no exchange (a sort-merge join over
    * the declared layout), and the match stream crosses exactly ONE
    * shuffle before the threshold: the REPARTITION_BY_NUM rebalance of
    * its 16-byte id pairs (below). It is verified BEFORE it is
    * deduplicated — t is table-size (broadcast side of both verify
    * joins), so the rebalanced matches flow through intersect +
    * threshold with no further exchange, and the dedup shuffles only the
    * 1.27×-duplicated SURVIVORS (≈1.2M rows at sf0.1) instead of the full
    * 4.2M-row candidate stream. PpjoinSpec pins this plan shape.
    * Verifying a duplicate costs one array walk;
    * shuffling it costs serialization both ways — the walk is cheaper
    * (measured warm-cache pipeline: 3.1 s with the early dedup → 0.8 s
    * deferred; bench min-of-passes steady state 1.6–2.7 s at sf0.1). */
  private val ddPpjoin: Q = (s, d) => {
    val t = table(s, d, "documents")
      .select(col("doc_id"), tokHashes.as("tk"))
      .withColumn("sz", size(col("tk")))
      .persist() // read by df-count, prefix regroup, and both verify sides
    ppjoinMatches(t)
      // REBALANCE before the verify walks (r19, guide §2.5): the match
      // stream explodes ~230× past its prefix input and is SKEWED by
      // hot prefix tokens, so the tok-layout partitions it arrives in
      // are uneven exactly where the per-pair intersect walks (the
      // query's real CPU) run. REPARTITION_BY_NUM is never AQE-
      // coalesced; the exchange carries 16-byte id pairs. Measured
      // (min-of-3, sf0.1/32c): 3.47 s without → 2.37 s with.
      .repartition(s.sessionState.conf.numShufflePartitions,
        col("doc_a"), col("doc_b"))
      .join(t.select(col("doc_id").as("doc_a"),
        col("tk").as("tk_a"), col("sz").as("sa")), Seq("doc_a"))
      .join(t.select(col("doc_id").as("doc_b"),
        col("tk").as("tk_b"), col("sz").as("sb")), Seq("doc_b"))
      .withColumn("inter",
        ArrayFns.sortedLongIntersectCount(col("tk_a"), col("tk_b")).cast("double"))
      .withColumn("jac", col("inter") / (col("sa") + col("sb") - col("inter")))
      .filter(col("jac") >= ppjoinTau)
      .select(col("doc_a"), col("doc_b"), dround(col("jac"), 4).as("jaccard"))
      .dropDuplicates("doc_a", "doc_b")
      .orderBy("doc_a", "doc_b")
  }

  // ---------------------------------------------------------------------
  // dd_ppjoin_capped: PPJoin with the COLLISION-LIST CAP (VERDICT r14
  // next §4 — BASELINE declared the df-cap knob; this implements it
  // with dd_minhash/dd_oph's cap semantics). The scale threat the
  // lossless join cannot dodge: a VIRAL page (one text shared by a
  // large fraction of a crawl) gives every one of its tokens df ≥
  // copies, so even df-ascending prefixes collide copies × copies —
  // the candidate stream goes quadratic in the copy count no matter
  // how rare the ordering makes the prefix tokens. The cap bounds it:
  // prefix tokens whose COLLISION LIST exceeds the cap are withheld
  // from the pairwise join, and every doc that touched a hot token is
  // routed through the exact-dup md5 STAR instead (copies are exact
  // dups, so the star recovers their pairs LINEARLY — hub → member,
  // jaccard 1.0 by construction; downstream CC clustering recovers the
  // full class). Declared recall trade: a near-but-not-exact pair
  // whose only shared prefix tokens are hot is LOST (PpjoinCapSpec
  // measures it: zero connectivity loss on this corpus).
  //
  // Gate corpus: dd_ppjoin's token universe is match-SATURATED (≥0.9
  // pairs are 7% of all pairs — output IS the quadratic), which would
  // hide the cap; the capped gate runs on the match-SPARSE 3-shingle
  // universe (25 natural ≥0.9 pairs at sf0.01, max natural shingle df
  // = 7) with a deterministic planted viral page: doc_id % 10 = 3 docs
  // all carry one literal text, so the viral shingles' prefix
  // collision lists are exactly |corpus|/10 wide and the cap provably
  // bites while natural pairs flow untouched. Sets key on the repo FNV
  // fold of each shingle, so — like dd_oph and unlike dd_ppjoin's
  // xxhash64 tokens — the ENTIRE pipeline (shingles, fold, df order,
  // prefix membership, cap census, collision + length + position
  // filters, exact verify, md5 stars) replays in the DuckDB twin.
  private[llm] val ppjoinDfCapDefault = 16
  private[llm] val ppjoinViral: String =
    "breaking news this viral story is sweeping the web today share " +
    "it with your friends before it disappears click here to read the " +
    "full exclusive report and subscribe for more updates every day " +
    "you will not believe what happens next in this amazing video"

  /** The planted corpus both sides derive: viral literal on
    * doc_id % 10 = 3, original text elsewhere. */
  private def viralDocs(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents").select(col("doc_id"),
      when(pmod(col("doc_id"), lit(10)) === 3, lit(ppjoinViral))
        .otherwise(col("text")).as("text"))

  /** The capped join's set relation: (doc_id, tk sorted distinct
    * shingle-FNV array, sz) over the planted corpus. */
  private def ppjoinShingleT(docs: DataFrame): DataFrame =
    shingleRows(docs)
      .select(col("doc_id"), TextHashes.rollHash(col("sh")).as("h"))
      .distinct()
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("h"))).as("tk"))
      .withColumn("sz", size(col("tk")))
      .select(col("doc_id"), col("tk"), col("sz"))

  private val ddPpjoinCapped: Q = (s, d) => {
    // NOTE (ADVICE r15): the DuckDB twin interpolates
    // ppjoinDfCapDefault at build time, so the hash gate is only valid
    // at the DEFAULT cap — graft.ppjoin.dfCap is a deployment knob for
    // uncertified runs (PpjoinCapSpec covers non-default caps).
    val cap = s.conf.getOption("graft.ppjoin.dfCap")
      .map(_.toInt).getOrElse(ppjoinDfCapDefault)
    val docs = viralDocs(s, d).persist() // shingle pass + the md5 star pass
    val t = ppjoinShingleT(docs)
      .persist() // prefix build + both verify sides
    val pr = ppjoinPrefixes(t).persist() // width census + the cold join
    // collision-list census: hot = prefix tokens wider than the cap.
    // TINY by construction (a token is hot only if > cap docs carry it
    // in their PREFIX), so both the anti-join and the semi-join
    // broadcast — the hot set is the viral page's shingles.
    val wid = pr.groupBy("tok").agg(count(lit(1)).as("w"))
    val hot = wid.filter(col("w") > cap).select("tok")
    val cold = pr.join(broadcast(hot), Seq("tok"), "left_anti")
    val inter = ArrayFns.sortedLongIntersectCount(col("tk_a"), col("tk_b")).cast("double")
    val verified = ppjoinCollisions(cold)
      .join(t.select(col("doc_id").as("doc_a"),
        col("tk").as("tk_a"), col("sz").as("sa")), Seq("doc_a"))
      .join(t.select(col("doc_id").as("doc_b"),
        col("tk").as("tk_b"), col("sz").as("sb")), Seq("doc_b"))
      .withColumn("jac", inter / (col("sa") + col("sb") - inter))
      .filter(col("jac") >= ppjoinTau)
      .select(col("doc_a"), col("doc_b"), dround(col("jac"), 4).as("jaccard"))
      .dropDuplicates("doc_a", "doc_b")
      .persist() // output + the star anti-join
    // exact-dup star over every doc that touched a hot token (the
    // dd_oph overflow rule): hub = min doc_id per md5 class, members
    // link to the hub at jaccard 1.0 (md5-identical ⇒ identical
    // shingle sets ⇒ exact jaccard 1.0 by construction)
    val overDocs = pr.join(broadcast(hot), Seq("tok"), "left_semi")
      .select("doc_id").distinct()
    val star = docs.join(overDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("mh"))
      .groupBy("mh").agg(min(col("doc_id")).as("doc_a"),
        sort_array(collect_list(col("doc_id"))).as("members"))
      .select(col("doc_a"), explode(col("members")).as("doc_b"))
      .filter(col("doc_b") > col("doc_a"))
      .select(col("doc_a"), col("doc_b"), lit(1.0).as("jaccard"))
    verified
      .unionByName(star.join(verified, Seq("doc_a", "doc_b"), "left_anti"))
      .orderBy("doc_a", "doc_b")
  }

  /** 3-token shingle rows of a document: one native codegen'd
    * scan-local expression (graft.functions.Shingles3) + explode —
    * ZERO shuffle. Two prior shapes both failed at scale: the
    * transform/slice HOF form is interpreted and O(tokens²) (9.5 s
    * alone at sf0.1), and the posexplode + window-`lead` form used
    * through round 6 was codegen'd but its window forced a FULL
    * shuffle of the exploded token rows onto doc_id before a single
    * shingle existed. On the small sf0.1 corpus that token shuffle
    * compresses to noise (ds_decontam's total barely moved), but it
    * scales with the CORPUS while everything downstream scales with
    * the hash/aggregate width — at 100 TB it is the difference between
    * shuffling the text and shuffling nothing. The immediate measured
    * effect: filters can now reach the scan — ds_decontam_bloom's
    * prefilter went from no-op (3.14 MB, same as exact) to −34%
    * (2.1 MB) the moment shingle assembly stopped hiding behind a
    * window. Emitted bytes are identical to both prior shapes. */
  private[graft] def shingleRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.ArrayFns.shingles3(col("text"))).as("sh"))

  // 4 bands × 6 rows: on a corpus saturated with moderately-similar
  // docs (shingle-jaccard ~0.5 everywhere), 4-row bands admitted ~25%
  // of ALL pairs as candidates; 6-row bands cut that ~4× while keeping
  // ≥95% recall for true near-dups (s ≥ 0.9: 1-(1-0.9^6)^4).
  private val numHashes = 24
  private val bandRows = 6

  /** MinHash signatures: min over shingles of xxhash64(seed, h(shingle))
    * for each of `numHashes` seeds — computed columnar (explode +
    * groupBy min), one shuffle on doc_id. The shingle STRING is hashed
    * exactly once per row; the 24 per-seed hashes re-hash the fixed
    * 8-byte value (universal-hash family over the base hash — standard
    * one-permutation-style cost cut). Before this the partial agg
    * hashed every shingle's bytes 24×: at the 100×-replicated probe
    * that was 480M string hashes and the dominant term of the 11.8 s
    * residual. */
  private[graft] def minhashSignatures(docs: DataFrame): DataFrame = {
    val ex = shingleRows(docs).select(col("doc_id"), xxhash64(col("sh")).as("sh"))
    val aggs = (0 until numHashes).map(i => min(xxhash64(lit(i), col("sh"))).as(s"h$i"))
    ex.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  // ---------------------------------------------------------------------
  // dd_oph: ONE-PERMUTATION MinHash (Li, Owen, Zhang, NIPS 2012) with
  // rotation densification (Shrivastava & Li, ICML 2014) — the modern
  // cost rework of classic k-hash MinHash: each shingle folds through
  // ONE hash (vs numHashes=24 per shingle in minhashSignatures), the
  // hash space splits into 24 bins, the per-bin minimum is the sketch
  // row, and an EMPTY bin borrows the nearest forward non-empty bin's
  // value + t (the rotation fix that restores the unbiased collision
  // estimate). 24× less hashing on the pass that touches every shingle
  // of a 100 TB corpus.
  //
  // Gate upgrade over dd_minhash: the base hash is the repo FNV fold
  // shifted into 63 bits and every downstream step (binning, mins,
  // densification, banding, candidate join, exact verify) is integer
  // or string algebra — so the ORACLE REPLAYS THE SKETCH AND THE
  // BUCKET LAYOUT end to end (dd_minhash's xxhash64 layout is
  // fixture-gated; this one is the first document-level MinHash whose
  // candidate generation sits inside the hash gate, the sk_theta
  // discipline applied to LSH).
  private val ophBins = 24
  private val ophBandRows = 6 // 4 bands × 6 rows — dd_minhash's layout

  /** Densified OPH signature: (doc_id, h0..h23). */
  private[llm] def ophSignatures(docs: DataFrame): DataFrame = {
    val mins = shingleRows(docs)
      .select(col("doc_id"),
        shiftrightunsigned(TextHashes.rollHash(col("sh")), 1).as("u"))
      .withColumn("bin", (col("u") % ophBins).cast("int"))
      .groupBy("doc_id", "bin").agg(min(col("u")).as("mn"))
    // rotation densification in the native OphDensify kernel (the
    // coalesce-chain SQL form was 24×24 terms — past janino's method
    // limit, silently interpreted); output: sig = array<long>[24]
    mins.groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("bin"), col("mn")))).as("m"))
      .select(col("doc_id"), ArrayFns.ophDensify(col("m")).as("sig"))
  }

  private val ddOph: Q = (s, d) => {
    val docs = table(s, d, "documents")
    // persisted: the 4 band projections all read the signature relation
    val sigs = ophSignatures(docs).persist()
    val bandCols = (0 until ophBins / ophBandRows).map { b =>
      val cols = (b * ophBandRows until (b + 1) * ophBandRows)
        .map(i => col("sig").getItem(i))
      concat_ws(":", lit(b) +: cols: _*)
    }
    val allBands = sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bkey"))
      .persist() // widths, both candidate sides, and the overflow census
    // hot-bucket cap + exact-dup star resolution — dd_minhash's declared
    // cap semantics, but here BOTH paths replay in the twin (bucket
    // widths and md5 groups are plain SQL): on a copy-saturated corpus
    // every bucket overflows and the output degrades gracefully to the
    // exact-dup stars instead of a quadratic in-bucket explosion
    // (measured: the 100×-replication probe was 178 s uncapped).
    val widths = allBands.groupBy("bkey").agg(count(lit(1)).as("bw"))
    val hot = widths.filter(col("bw") > minhashBucketCap)
    val bands = allBands.join(broadcast(hot), Seq("bkey"), "left_anti")
    val cand = bands.as("x").join(bands.as("y"), Seq("bkey"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .persist() // verify join + the star anti-join
    val overDocs = allBands.join(broadcast(hot), Seq("bkey"), "left_semi")
      .select("doc_id").distinct()
    val star = docs.join(overDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      .groupBy("h").agg(min(col("doc_id")).as("doc_a"),
        sort_array(collect_list(col("doc_id"))).as("members"))
      .select(col("doc_a"), explode(col("members")).as("doc_b"))
      .filter(col("doc_b") > col("doc_a"))
      .select(col("doc_a"), col("doc_b"), lit(1.0).as("jaccard"))
    val t = docs.select(col("doc_id"), tokHashes.as("tk")).persist()
    val inter = ArrayFns.sortedLongIntersectCount(col("tk_a"), col("tk_b")).cast("double")
    val verified = cand
      .join(t.select(col("doc_id").as("doc_a"), col("tk").as("tk_a")), Seq("doc_a"))
      .join(t.select(col("doc_id").as("doc_b"), col("tk").as("tk_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        dround(inter / (size(col("tk_a")) + size(col("tk_b")) - inter), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.5) // the dd_minhash verify discipline
    verified
      .unionByName(star.join(cand, Seq("doc_a", "doc_b"), "left_anti"))
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash LSH near-dup: band the signature, shuffle on
    * (band, band-signature), pair within buckets, then verify candidates
    * with exact Jaccard ≥ 0.5 on distinct token sets.
    *
    * The bucket layout is engine-specific (xxhash64 seeds), so the PAIR
    * SET cannot be recomputed by SQL — but each emitted pair's exact
    * Jaccard can (VERDICT r3 next-4 §6): the query dumps its pairs as a
    * fixture and the oracle recomputes Jaccard from `documents` for
    * exactly those pairs, re-applying the ≥ 0.5 threshold. Soundness is
    * hash-gated; recall stays with the planted-near-dup ScalaTest. */
  private val ddMinhash: Q = (s, d) => {
    val found = minhashPairs(s, d).persist()
    graft.io.Sinks.dumpFixture(found.select("doc_a", "doc_b"), "minhash_pairs")
    found.orderBy("doc_a", "doc_b")
  }

  /** Per-(band, bucket) candidate cap (VERDICT r9 next §1): an LSH
    * bucket of width B emits B² candidate pairs, so a duplicate-
    * saturated crawl (the exact corpus shape near-dup dedup exists
    * for) makes candidate generation quadratic in the copy count —
    * measured 0.67 s → 136.5 s on the 100×-replicated probe before the
    * cap. Buckets wider than this are routed to the exact-dup
    * dead-letter path below instead of the self-join (the
    * w6MaxSeqLen / hot-key-guard rule: bad keys degrade to a cheap
    * explicit path, never blow up a stage). 64 is 16× the widest
    * bucket on any gate corpus (4, MinhashCapSpec measures it), so the
    * gate pair set is untouched; overridable per-session via
    * `graft.minhash.bucketCap`. Measured at the 100× probe:
    * 136.5 s uncapped → 12.9 s capped (BASELINE.md round-11). */
  private[llm] val minhashBucketCap = 64L

  /** The LSH-banded, exact-verified near-dup pair relation dd_minhash
    * emits — shared with [[ddClusterLsh]], which clusters it. */
  private def minhashPairs(s: SparkSession, d: String): DataFrame =
    minhashPairsImpl(table(s, d, "documents"),
      // defensive parse (ADVICE r10): a malformed override falls back
      // to the default cap instead of throwing mid-plan
      s.conf.getOption("graft.minhash.bucketCap")
        .flatMap(_.toLongOption).getOrElse(minhashBucketCap))

  private[graft] def minhashPairsImpl(docs: DataFrame, cap: Long): DataFrame = {
    // persisted: the bands relation feeds both sides of the candidate
    // self-join — without it the whole shingle→minhash pipeline (the
    // expensive scan) is recomputed once per join side.
    val sigs = minhashSignatures(docs).persist()
    val bandStructs = (0 until numHashes / bandRows).map { bnd =>
      val cols = (bnd * bandRows until (bnd + 1) * bandRows).map(i => col(s"h$i"))
      struct(lit(bnd).as("band"), xxhash64(cols: _*).as("bucket"))
    }
    val allBands = sigs
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .persist()
    // HOT-KEY GUARD: bucket widths share the (band, bucket) shuffle
    // family with the self-join; overflow buckets skip the quadratic
    // pairing entirely.
    val widths = allBands.groupBy("band", "bucket").agg(count(lit(1)).as("bw"))
    val bands = allBands.join(broadcast(widths.filter(col("bw") > cap)),
      Seq("band", "bucket"), "left_anti")
    // persisted: candIds (the verify-prune) and the verify join both
    // read the candidate set
    val cand = bands.as("x").join(bands.as("y"), Seq("band", "bucket"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .dropDuplicates().persist()
    // Dead-letter resolution for overflow buckets: a bucket only
    // exceeds the cap when it is saturated with (near-)identical
    // copies, so resolve its members by the dd_exact md5 rule — one
    // STAR of pairs per exact-dup group (min-id survivor → member),
    // LINEAR in members where the self-join was quadratic. Star edges
    // keep the connected-components result of [[ddClusterLsh]]
    // identical for exact-dup clusters; non-identical members of an
    // overflow bucket are dropped from pairing by declared semantics
    // (the cap), exactly like w6's NULL-path rule. Every emitted star
    // pair has Jaccard 1.0 (identical text ⇒ identical token sets), so
    // the soundness oracle verifies them like any other pair.
    val overDocs = allBands.join(broadcast(widths.filter(col("bw") > cap)),
      Seq("band", "bucket"), "left_semi").select("doc_id").distinct()
    // persisted: the md5 pass over overflow docs feeds the star join
    // AND the group-width relation (drop-count + min-id survivor) —
    // without it the hash scan re-executes per consumer
    val sigd = docs.join(overDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("sig"))
      .persist()
    val sigGroups = sigd.groupBy("sig")
      .agg(min(col("doc_id")).as("doc_a"), count(lit(1)).as("cw"))
    // Overflow-drop visibility (ADVICE r10): overflow-bucket members
    // with NO md5 twin get no star edge — they may still pair through
    // another band's thin bucket, but within the overflow bucket they
    // are dropped by declared cap semantics. Count them (group-width
    // aggregate over the persisted hash relation; empty on every gate
    // corpus) so a saturated corpus's recall cliff is an observable
    // number, not a silent comment.
    // Gated on overflow existence (ADVICE r11): the common no-overflow
    // case pays one early-stopping isEmpty over the (persisted-input)
    // widths aggregate instead of driving the md5-group job eagerly on
    // every construction; the md5 count only runs when a bucket
    // actually overflowed.
    if (!widths.filter(col("bw") > cap).isEmpty) {
      val nLoneOverflow = sigGroups.filter(col("cw") === 1).count()
      if (nLoneOverflow > 0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"dd_minhash: $nLoneOverflow overflow-bucket member(s) without an " +
            "md5 twin dropped from in-bucket pairing (cap semantics; they may " +
            "still pair via other bands)")
    }
    // Star pairs are md5-identical, so their exact Jaccard is 1.0 BY
    // CONSTRUCTION — emit the literal and skip the token-hash verify
    // join entirely. On a saturated corpus this is the difference
    // between tokenizing 500k docs and tokenizing none (the verify
    // relation below is additionally semi-join-pruned to candidate
    // participants). Measured on the 100×-replicated corpus: 136.5 s
    // uncapped → 12.9 s capped (BASELINE.md round-11 probe table).
    val star = sigd.join(sigGroups.select("sig", "doc_a"), Seq("sig"))
      .filter(col("doc_id") =!= col("doc_a"))
      .select(col("doc_a"), col("doc_id").as("doc_b"),
        lit(1.0).as("jaccard"))
    // exact-verify ONLY the LSH candidates, and tokenize ONLY docs
    // that appear in one — at 100 TB the candidate set is output-
    // sensitive, so the token pipeline must be too.
    val candIds = cand.select(col("doc_a").as("doc_id"))
      .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
    val t = docs.join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), tokHashes.as("tk"))
    val inter = ArrayFns.sortedLongIntersectCount(col("tk_a"), col("tk_b")).cast("double")
    val verified = cand
      .join(t.select(col("doc_id").as("doc_a"), col("tk").as("tk_a")), Seq("doc_a"))
      .join(t.select(col("doc_id").as("doc_b"), col("tk").as("tk_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        dround(inter / (size(col("tk_a")) + size(col("tk_b")) - inter), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
    // NOT disjoint by construction (ADVICE r10): an md5-identical pair
    // can land in an overflow bucket (star path) while ALSO sharing a
    // thin bucket in another band whose width only crossed the cap via
    // unrelated colliding docs — then the pair is an LSH candidate too
    // and the verify join emits it (jaccard exactly 1.0, identical
    // token sets). Anti-join the star against the candidate set so
    // each pair is emitted once; the anti-join touches only the small
    // star relation, never the full pair set.
    verified.unionByName(
      star.join(cand, Seq("doc_a", "doc_b"), "left_anti"))
  }

  /** Clustering over the LSH pair relation — the 100 TB path: at scale
    * the exact-Jaccard pair list behind [[ddCluster]] is replaced by
    * the sparse, output-sensitive MinHash pair set, and the SAME
    * connected-components code rides it. Fixture gate: the pair set is
    * dumped; DuckDB re-verifies each pair's exact Jaccard ≥ 0.5
    * (soundness — an unsound pair changes the oracle's edge set) and
    * closes the verified set transitively with a recursive CTE,
    * re-deriving sizes and longest-member survivors. */
  private val ddClusterLsh: Q = (s, d) => {
    val pairs = minhashPairs(s, d).select("doc_a", "doc_b").persist()
    graft.io.Sinks.dumpFixture(pairs, "cluster_lsh_pairs")
    clusterRollup(s, d, pairs)
  }

  private val ccMaxRounds = 25

  /** Connected components over an undirected pair list, by alternating
    * large-star / small-star rounds (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC '14). Each round is one
    * shuffle on node id and the round count is O(log n) — no driver-side
    * adjacency, no O(diameter) label propagation, so the shape survives a
    * 100 TB pair list where near-dup chains can be long.
    *
    * Input: (u, v) pairs, any orientation, duplicates allowed. Output:
    * (id, comp) for every node that appears in an edge, with `comp` = the
    * minimum node id of its component.
    *
    * Convergence is detected by an exact count plus an order-independent
    * sum of per-edge 64-bit hashes (the edge set is deduplicated, so
    * equal (count, sum) across rounds means identical sets up to a ~2⁻⁶⁴
    * collision); the loop additionally hard-fails past [[ccMaxRounds]]
    * rounds rather than silently emitting a non-converged labelling. */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame = {
    // canonical form: u > v, no self loops, set semantics
    def canon(e: DataFrame): DataFrame = e
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .dropDuplicates("u", "v")
    // large-star: every node links its strictly-larger neighbors to the
    // minimum of its closed neighborhood
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      canon(sym.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
    }
    // small-star: orient edges toward the larger endpoint; every node
    // links its smaller neighbors (and itself) to their minimum
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy("u").agg(min(col("v")).as("m"))
      canon(e.join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(m.select(col("u"), col("m").as("v"))))
    }
    def checksum(e: DataFrame): (Long, BigDecimal) = {
      // decimal accumulator: ANSI mode makes a LongType sum of 64-bit
      // hashes throw on overflow; decimal(38,0) holds 10²⁰ edges' worth
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head()
      (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
    }
    // localCheckpoint per round: each round's plan would otherwise NEST
    // the previous round's (two unions + two joins deep), so by round k
    // the optimizer re-plans an O(4^k) tree — lineage truncation keeps
    // every round's plan constant-size. (On a real cluster this would be
    // a reliable `checkpoint` to survive executor loss mid-loop.)
    // LAZY checkpoints (r18 opt round): the checksum action both
    // materializes the round's edges and returns the convergence
    // scalars, so each round is ONE query execution instead of two (a
    // few jobs under AQE, one per stage) — on the near-dup pair sets
    // the edge relation is tiny and the round cost is job latency, not
    // bytes. The round's input edges are released once its output is
    // materialized.
    val edges0 = canon(pairs).localCheckpoint(false)
    val sig0 = checksum(edges0)
    // an empty pair set is already a fixed point: it runs no round
    val edges = if (sig0._1 == 0L) edges0 else
      graft.Fixpoint.converge("connected_components", (edges0, sig0), ccMaxRounds) {
          case (_, (e, sig)) =>
        val next = smallStar(largeStar(e)).localCheckpoint(false)
        val nextSig = checksum(next)
        org.apache.spark.sql.graft.PlanBridge.releaseCheckpoint(e)
        ((next, nextSig), nextSig == sig)
      }._1
    // converged edges form stars (member, root): label every endpoint by
    // the minimum over its closed neighborhood
    // (the checkpointed blocks back `labels` — do NOT unpersist here)
    val sym = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
    sym.groupBy(col("u")).agg(least(min(col("v")), col("u")).as("comp"))
      .select(col("u").as("id"), col("comp"))
  }

  /** Near-dup cluster rollup: the exact Jaccard ≥ 0.9 pair set (the
    * [[ddJaccard]] relation) collapsed to connected components, one row
    * per cluster with a deterministic survivor rule — keep the LONGEST
    * member, ties to the smallest doc_id (the "best copy" pick a corpus
    * cleaner applies before dropping the rest). Fully SQL-expressible:
    * the oracle recomputes the pair set, closes it transitively with a
    * recursive CTE, and re-derives the survivor per cluster. */
  /** Cluster rollup shared by [[ddCluster]] and [[ddClusterLsh]]: label
    * the pair set's components, then one row per cluster with the
    * longest-member survivor (ties to the smallest doc_id). Shared so
    * the survivor rule can never silently diverge between the exact and
    * LSH paths. */
  private def clusterRollup(s: SparkSession, d: String, pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = connectedComponents(
      pairs.select(col("doc_a").as("u"), col("doc_b").as("v")))
    val members = comp.join(
      table(s, d, "documents").select(col("doc_id").as("id"), col("n_chars")), "id")
    val rn = row_number().over(
      Window.partitionBy("comp").orderBy(col("n_chars").desc, col("id").asc))
    members.withColumn("rn", rn)
      .groupBy(col("comp").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(when(col("rn") === 1, col("id"))).as("survivor_id"))
      .orderBy("cluster_id")
  }

  private val ddCluster: Q = (s, d) =>
    clusterRollup(s, d, jaccardPairs(s, d).select("doc_a", "doc_b"))

  // Planted boilerplate for the line-dedup gate: the synthetic corpus
  // has no repeated lines, so (ts_pii precedent) the query PLANTS a
  // deterministic header/footer on a doc_id-derived subset — and the
  // operator must then rediscover them BY CORPUS FREQUENCY, never by
  // knowing the plant. The oracle replays the plant verbatim and
  // re-derives detection + removal independently.
  private[llm] val bpHeader = "subscribe to our newsletter for updates follow us on social"
  private[llm] val bpFooter = "all rights reserved terms of service apply privacy policy here"
  private[llm] val bpMinDocs = 20

  /** The shared (doc_id, line_no, line) exploded view both boilerplate
    * queries detect over. The corpus has no newlines, so "lines" are the
    * planted header/footer plus the body in 10-token chunks (chunk
    * construction is a pure array expression — zero shuffle). */
  private def boilerplateLineRows(s: SparkSession, d: String): DataFrame = {
    val arr = split(col("text"), " ")
    val nChunks = ceil(size(arr).cast("double") / 10).cast("int")
    val chunks = transform(sequence(lit(0), nChunks - 1),
      i => array_join(slice(arr, i * 10 + 1, lit(10)), " "))
    val lines = concat(
      when(col("doc_id") % 5 === 0, array(lit(bpHeader)))
        .otherwise(array().cast("array<string>")),
      chunks,
      when(col("doc_id") % 7 === 0, array(lit(bpFooter)))
        .otherwise(array().cast("array<string>")))
    table(s, d, "documents")
      .filter(size(arr) > 0)
      .select(col("doc_id"), posexplode(lines).as(Seq("line_no", "line")))
  }

  /** Line-level boilerplate removal (CCNet/RefinedWeb-style): count
    * DISTINCT documents per exact line across the corpus, mark lines
    * appearing in ≥ [[bpMinDocs]] docs as boilerplate, and emit each
    * doc's size, removed-line count, and the md5 of the cleaned text
    * (order-preserving rejoin) — the removal is gated byte-for-byte,
    * not just counted. Scale shape: (1) frequency agg shuffles once on
    * the line (partial map-side count-distinct); (2) the frequent set
    * after the ≥K filter is TINY by construction — boilerplate is what
    * repeats — so the membership join broadcasts and the fact side
    * never shuffles for it; (3) the rejoin groups once on doc_id. Two
    * shuffles total, both on natural keys. String-keyed frequency keeps
    * the oracle twin exact on this corpus; [[ddLinesHashed]] is the
    * same plan with the 100 TB key. */
  private val ddLines: Q = (s, d) => {
    val lineRows = boilerplateLineRows(s, d)
    val frequent = lineRows.groupBy("line")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= bpMinDocs)
      .select(col("line"), lit(1).as("bp"))
    lineRows.join(broadcast(frequent), Seq("line"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(coalesce(col("bp"), lit(0))).cast("long").as("n_removed"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("bp").isNull,
              struct(col("line_no"), col("line"))))),
            x => x.getField("line")),
          "\n").cast("binary")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** The 100 TB variant of [[ddLines]] (VERDICT r5 next §7): the
    * frequency aggregation keys on `xxhash64(line)` instead of the line
    * string, so the detection shuffle carries 8-byte keys instead of
    * arbitrary-length text — on a web corpus the lines being counted ARE
    * the documents' bytes, and this is the difference between shuffling
    * the corpus and shuffling a fixed-width digest of it. An example
    * string (`min(line)`) rides along in the frequent-set aggregate —
    * the human-inspection payload a production boilerplate report needs
    * — and its presence doubles as the membership flag after the
    * broadcast join. The rejoin stage is unchanged: cleaned text is
    * reassembled from each row's OWN line string (narrow, never
    * shuffled by the detection).
    *
    * Gate: the oracle is dd_lines' fully-independent string-keyed twin,
    * UNCHANGED — the hashed plan must reproduce the byte-exact result
    * of string-keyed detection (an xxhash64 collision, a wrong example,
    * or a dropped line all diverge the md5s). */
  private val ddLinesHashed: Q = (s, d) => {
    val lineRows = boilerplateLineRows(s, d)
    // Detection shuffle carries ONLY (8-byte hash, doc_id) — the
    // count-distinct partial expands on exactly that pair, map-side.
    // Carrying the example through this aggregate would re-widen it to
    // string width (measured: it cost MORE than the string key); the
    // example is fetched in a second, tiny pass instead.
    val freqHashes = lineRows
      .select(xxhash64(col("line")).as("line_h"), col("doc_id"))
      .groupBy("line_h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= bpMinDocs)
    // example strings for the frequent set only: broadcast the (tiny by
    // construction) hash set, filter the lines to boilerplate rows, and
    // partial-aggregated min collapses to one candidate per partition
    // per hash before the shuffle — string bytes shuffled: O(frequent ×
    // partitions), independent of corpus size.
    val frequent = lineRows.withColumn("line_h", xxhash64(col("line")))
      .join(broadcast(freqHashes.select("line_h")), Seq("line_h"))
      .groupBy("line_h").agg(min(col("line")).as("example"))
    lineRows.withColumn("line_h", xxhash64(col("line")))
      .join(broadcast(frequent), Seq("line_h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("example").isNotNull, 1L).otherwise(0L)).as("n_removed"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("example").isNull,
              struct(col("line_no"), col("line"))))),
            x => x.getField("line")),
          "\n").cast("binary")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** The corpus side of the incremental regime: everything not in
    * today's batch (doc_id ≡ 7 mod 10 models the arriving crawl). */
  private[graft] def incrCorpus(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents").filter(col("doc_id") % 10 =!= 7)

  /** The banded near-dup signature both sides of the incremental near
    * layer project to: (lang × 100-char length band × width-4 distinct
    * -token band) blocking keys + the sorted token-hash array the
    * merge-walk verifier consumes. */
  private def incrSig(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("lang"),
      floor(col("n_chars") / 100).cast("int").as("len_band"), tokHashes.as("tk"))
      .withColumn("tok_band", (size(col("tk")) / 4).cast("int"))

  /** Build and persist the incremental-dedup index (VERDICT r6 §3 —
    * r6 recomputed the corpus relations from text on every run): the
    * 16-byte content-hash relation (the exact layer's build side) and
    * the banded token-hash signatures (the near layer's). This is the
    * standing index a continuous-crawl pipeline maintains: (re)built
    * per corpus version by a separate job (`tools.BuildIndex dedup` —
    * one full-corpus scan, completely different resource shape from
    * the per-batch probe), consulted by every arriving batch; the
    * query below never touches corpus TEXT again. */
  private[graft] def dedupIndexBuild(s: SparkSession, d: String, path: String): Unit = {
    val corpus = incrCorpus(s, d).persist()
    try {
      corpus.select(md5(col("text").cast("binary")).as("ch"), col("doc_id"))
        .write.mode("overwrite").parquet(s"$path/hashes")
      incrSig(corpus).write.mode("overwrite").parquet(s"$path/signatures")
      // span-level layer (dd_substr_incr): the corpus's positioned
      // winnow fingerprints, boilerplate-capped AT BUILD TIME (an fp
      // in > 32 corpus docs or > 64 occurrences is dropped from the
      // index once, so every arriving batch inherits the cap for free)
      // stored under the 8-byte xxhash64 key (the substrSpansImpl
      // shuffle-key rule — extension verifies characters, so a
      // collision only fabricates a rejected seed)
      val selC = corpus.select(col("doc_id"),
          explode(array_distinct(
            ArrayFns.winnowSel(col("text"), withPositions = true))).as("pf"))
        .select(col("doc_id"),
          expr("CAST(substr(pf, 1, 8) AS BIGINT)").as("pos"),
          xxhash64(expr("substr(pf, 10)")).as("fph"))
        .persist()
      val bandC = selC.groupBy("fph")
        .agg(countDistinct(col("doc_id")).as("nd"), count(lit(1)).as("occ"))
        .filter(col("nd") <= 32 && col("occ") <= 64).select("fph")
      selC.join(bandC, Seq("fph"), "left_semi")
        .write.mode("overwrite").parquet(s"$path/winnow")
      selC.unpersist(blocking = false)
      // chunk-level layer (dd_cdc_incr): the corpus's distinct CDC
      // chunk hashes — 16 bytes per distinct chunk, the dedup-store
      // ingest index
      corpus.select(explode(
          graft.functions.TextHashes.cdcChunksCol(col("text"))).as("c"))
        .select(col("c.ch").as("ch")).distinct()
        .write.mode("overwrite").parquet(s"$path/chunks")
    } finally corpus.unpersist(blocking = false)
  }

  /** The index's location, built first unless trusted
    * ([[graft.io.Artifacts]]: a corpus regenerated at the same path
    * rebuilds rather than serve the previous corpus's relations to
    * dd_substr_incr and st_substr). The streaming indexed-dedup gate
    * (st_dedup_indexed) probes the same index. */
  private[graft] def ensureDedupIndexFor(s: SparkSession, d: String): String =
    Artifacts.ensure(s, Artifacts.DedupIndex, d)(dedupIndexBuild(s, d, _))

  /** Incremental dedup — the continuous-crawl production shape: a new
    * batch of documents (doc_id ≡ 7 mod 10) is deduplicated against
    * the already-curated corpus (everything else) WITHOUT ever forming
    * a corpus×corpus pair. Two layers, both batch-side driven, both
    * probing the PERSISTED corpus index (build-once, [[dedupIndexBuild]]):
    * an exact layer joining the batch's 16-byte content hashes against
    * the index's hash relation (the join shuffles 16 B/doc, never
    * text), and a near layer running the dd_jaccard banding (lang ×
    * length band × token band, size-ratio prefilter, hashed-token
    * merge walk) against the index's signature relation with the batch
    * on the build side, so candidate pairs are O(batch × bucket
    * density), independent of corpus-internal redundancy. Verdict per
    * batch doc: `exact` beats `near` beats `unique`; `match_id` = the
    * smallest matching corpus doc (−1 sentinel when unique — keeps the
    * column non-null BIGINT on both engines).
    *
    * The synthetic corpus has no natural exact duplicates (dd_exact:
    * every hash unique), so the query PLANTS them (ts_pii/dd_lines
    * precedent): every batch doc with doc_id ≡ 7 mod 30 arrives as a
    * bit-identical copy of corpus neighbor doc_id−1 (never ≡ 7 mod
    * 10, hence always in the corpus). The oracle replays the plant
    * verbatim and re-derives both layers independently; the near
    * layer's matches occur naturally (the corpus is near-dup-rich). */
  private val ddIncremental: Q = (s, d) => {
    val idx = ensureDedupIndexFor(s, d)
    val raw = table(s, d, "documents")
    val planted = col("doc_id") % 30 === 7
    // the PLANT is gate scaffolding, not algorithm: corpus text is read
    // here only to fabricate the batch's bit-identical copies — the
    // dedup layers themselves consult the persisted index exclusively
    val donors = incrCorpus(s, d).select((col("doc_id") + 1).as("doc_id"),
      col("text").as("d_text"), col("lang").as("d_lang"),
      col("n_chars").as("d_n"))
    val batch = raw.filter(col("doc_id") % 10 === 7)
      .join(donors, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(planted, col("d_text")).otherwise(col("text")).as("text"),
        when(planted, col("d_lang")).otherwise(col("lang")).as("lang"),
        when(planted, col("d_n")).otherwise(col("n_chars")).as("n_chars"))
      .persist()
    val exact = batch
      .select(col("doc_id"), md5(col("text").cast("binary")).as("ch"))
      .join(s.read.parquet(s"$idx/hashes")
        .select(col("ch"), col("doc_id").as("cid")), Seq("ch"))
      .groupBy("doc_id").agg(min("cid").as("exact_match"))
    val inter =
      ArrayFns.sortedLongIntersectCount(col("tk_b"), col("tk_c")).cast("double")
    val near = incrSig(batch)
      .select(col("lang"), col("len_band"), col("tok_band"),
        col("doc_id"), col("tk").as("tk_b"))
      .join(s.read.parquet(s"$idx/signatures")
        .select(col("lang"), col("len_band"), col("tok_band"),
          col("doc_id").as("cid"), col("tk").as("tk_c")),
        Seq("lang", "len_band", "tok_band"))
      .filter(least(size(col("tk_b")), size(col("tk_c"))) * 10 >=
        greatest(size(col("tk_b")), size(col("tk_c"))) * 9)
      .filter(dround(inter /
        (size(col("tk_b")) + size(col("tk_c")) - inter), 4) >= 0.9)
      .groupBy("doc_id").agg(min("cid").as("near_match"))
    batch.select("doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, lit("exact"))
          .when(col("near_match").isNotNull, lit("near"))
          .otherwise(lit("unique")).as("verdict"),
        coalesce(col("exact_match"), col("near_match"), lit(-1L)).as("match_id"))
      .orderBy("doc_id")
  }

  /** Exact substring-span dedup (the "dedup training data at the
    * substring level" operator of Lee et al. 2021, re-expressed as a
    * k-gram plan): find every maximal token span that appears verbatim
    * in ≥ 2 DISTINCT documents, where a span is any run of ≥ [[spanK]]
    * consecutive tokens. Suffix arrays don't distribute; the
    * equivalent-for-fixed-k formulation does: a duplicated run of
    * length L ≥ k is exactly a run of L−k+1 consecutive duplicated
    * k-grams, so (1) explode each doc into its k-grams, keyed by
    * xxhash64 of the gram — the detection shuffle carries 8-byte
    * hashes, never gram text (the dd_lines_hashed lesson); (2) a
    * k-gram is duplicated iff ≥ 2 distinct docs contain it (map-side
    * partial count-distinct on (hash, doc_id)); (3) per doc, merge the
    * duplicated k-gram positions' [pos, pos+k−1] coverage intervals
    * into maximal spans — the classic running-max window walk, one
    * shuffle on doc_id whose partitioning the span rollups then reuse
    * (HashPartitioning(doc_id) satisfies both downstream groupBys, no
    * further Exchange). Emits per doc: span count, tokens covered, and
    * an md5 over the ordered "start:end" span list so a single
    * off-by-one position turns the gate red.
    *
    * The duplicated-gram set is what repeats across the corpus — tiny
    * relative to the corpus by definition of near-deduplicated data —
    * so the membership join broadcasts; at 100 TB (or on a pre-dedup
    * crawl where it isn't small) the same plan swaps to a shuffle join
    * on the 8-byte key. Within-doc self-repeats are out of scope by
    * the ≥ 2 DISTINCT docs rule (cross-document contamination is the
    * training-data concern; a doc repeating itself is ts_repetition's
    * job). Oracle: fully independent DuckDB twin — string-keyed grams
    * (vs the engine's xxhash64, so a hash collision diverges it), its
    * own lateral-unnest explode, and its own window-function interval
    * merge. */
  private[llm] val spanK = 10

  /** Duplicated-gram membership join regime (VERDICT r6 §2): on an
    * already-deduplicated corpus the dup-gram set is tiny by definition
    * and broadcasting it is the right plan; on a RAW crawl duplicated
    * grams ≈ corpus grams, and r6's hardcoded broadcast would OOM every
    * executor. The regime is now MEASURED, not guessed: one count over
    * the (persisted) k-gram relation prices the dup set, and past this
    * row budget the membership join becomes a shuffled hash join on the
    * 8-byte key — the shape that scales to a crawl-sized dup set.
    * PlanShapeSpec drives both regimes through `spanFramesAt`. */
  private[graft] val spanDupBroadcastMaxRows: Long = 4L << 20

  /** The (docs, spans) pair both span queries derive from: docs =
    * (doc_id, tk) with ≥ k tokens; spans = the maximal merged
    * [s, e] coverage intervals of duplicated k-grams per doc. */
  private def spanFrames(s: SparkSession, d: String): (DataFrame, DataFrame) =
    spanFramesAt(s, d, spanDupBroadcastMaxRows)

  private[graft] def spanFramesAt(s: SparkSession, d: String,
      broadcastMaxDup: Long): (DataFrame, DataFrame) = {
    val tk = split(col("text"), " ")
    val docs = table(s, d, "documents")
      .filter(size(tk) >= spanK)
      .select(col("doc_id"), tk.as("tk"))
    // persisted: both the detection aggregate and the hits join read
    // this relation — without it the tokenize + per-position
    // slice/join/hash pipeline (the dominant cost) runs twice (the
    // jaccardPairs rationale)
    val kg = docs.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), size(col("tk")) - spanK),
        i => xxhash64(array_join(slice(col("tk"), i + 1, lit(spanK)), " "))))
        .as(Seq("pos", "h")))
      .persist()
    // persisted before the sizing count so the membership join reuses
    // the materialized set rather than re-aggregating kg
    val dupH = kg.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("h")
      .persist()
    val hits = (if (dupH.count() <= broadcastMaxDup)
        kg.join(broadcast(dupH), Seq("h"))
      else
        // raw-crawl regime: shuffle both sides on the 8-byte hash; a
        // shuffled HASH join (not SMJ) — the key is already a uniform
        // 64-bit hash, so sorting buys nothing
        kg.join(dupH.hint("shuffle_hash"), Seq("h")))
      .select(col("doc_id"), col("pos"), (col("pos") + spanK - 1).as("e"))
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val prevCoverEnd =
      max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val spans = hits
      // a hit starts a new span iff its coverage is disjoint from (and
      // not adjacent to) everything before it: pos > max(prior e) + 1
      .withColumn("ns",
        when(col("pos") > coalesce(prevCoverEnd, lit(-2)) + 1, 1).otherwise(0))
      .withColumn("grp",
        sum(col("ns")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("s"), max("e").as("e"))
    (docs, spans)
  }

  private val ddSpans: Q = (s, d) => {
    val (docs, spans) = spanFrames(s, d)
    spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).cast("long").as("dup_tokens"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("s"), col("e")))),
            x => concat(x.getField("s").cast("string"), lit(":"),
              x.getField("e").cast("string"))),
          ",").cast("binary")).as("spans_md5"))
      .join(docs.select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens")),
        Seq("doc_id"))
      .select("doc_id", "n_spans", "dup_tokens", "spans_md5", "n_tokens")
      .orderBy("doc_id")
  }

  /** The ACTION half of [[ddSpans]] (detect → remove, completing the
    * Lee et al. loop): scrub every duplicated span from every doc —
    * the conservative variant; canonical-occurrence retention is a
    * survivor-rule layer over the same spans — and gate the cleaned
    * text byte-for-byte (dd_lines' clean_md5 pattern). The span list
    * per doc is tiny (it's the merged duplication regions), so the
    * removal is a narrow left join + an index-aware array filter —
    * no extra shuffle beyond [[spanFrames]]'s own. Docs shorter than
    * k tokens cannot contain a span and are out of scope, same as
    * the report query. */
  private val ddSpansScrub: Q = (s, d) => {
    val (docs, spans) = spanFrames(s, d)
    val spanList = spans.groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("sp"))
    docs.join(spanList, Seq("doc_id"), "left")
      .withColumn("kept", expr(
        """filter(
          |  transform(tk, (x, i) ->
          |    CASE WHEN sp IS NOT NULL
          |              AND exists(sp, r -> i >= r.s AND i <= r.e)
          |         THEN NULL ELSE x END),
          |  x -> x IS NOT NULL)""".stripMargin))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        (size(col("tk")) - size(col("kept"))).cast("long").as("n_removed"),
        md5(array_join(col("kept"), " ").cast("binary")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** SimHash near-dup: 64-bit fingerprint per doc (native Catalyst
    * expression), bucketed by 16-bit chunks — two docs within hamming
    * distance 3 of each other share at least one exact chunk, so
    * chunk-equality buckets are a complete candidate generator for
    * hamming ≤ 3.
    *
    * The signature itself is engine-specific, but GIVEN the signatures
    * the hamming-≤-3 pair set is fully determined — so the query dumps
    * the per-doc fingerprints as a fixture and the oracle recomputes the
    * ENTIRE pair set from them (`bit_count(xor(...))` over all id-ordered
    * pairs). Unlike the minhash soundness check this also gates
    * COMPLETENESS: a pair the chunk-banding missed appears on the oracle
    * side only and the compare goes red (VERDICT r3 next-4 §6). */
  private val ddSimhash: Q = (s, d) => {
    TextHashes.register(s)
    val fp = table(s, d, "documents")
      .select(col("doc_id"), expr("sim_hash(split(text, ' '))").as("fp"))
      .persist()
    graft.io.Sinks.dumpFixture(fp, "simhash_sigs")
    val chunks = (0 until 4).map(c =>
      fp.select(col("doc_id"), col("fp"), lit(c).as("chunk"),
        shiftrightunsigned(col("fp"), c * 16).bitwiseAND(lit(0xffffL)).as("key")))
      .reduce(_ unionByName _)
    chunks.as("x").join(chunks.as("y"), Seq("chunk", "key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("CAST(bit_count(x.fp ^ y.fp) AS INT)").as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("hamming") <= 3)
      .orderBy("doc_a", "doc_b")
  }

  // -------------------------------------------------------------------
  // dd_urls: URL-canonicalization dedup — the FIRST dedup stage of a
  // web-scale pipeline (RefinedWeb/CCNet run it before any content
  // hash: it is free — scan-local string rewrites + one shuffle on the
  // canonical key — and removes the bulk of recrawl duplicates).
  // Normalization operates on the URL STRING (never on the arithmetic
  // that planted it): lowercase, http→https, strip fragment, strip
  // utm_* tracking params (non-tracking params like ref= survive),
  // strip the trailing slash. The planted corpus exercises every rule:
  // host case by doc_id % 3, scheme by % 2, utm by % 4, ref by % 5,
  // fragment by % 6, slash by % 7 — and (host % 13, path % 17) pairs
  // force true cross-doc collisions every 221 ids, so the dedup has
  // real groups to collapse. Min-id survivor, the dd_exact rule.
  // -------------------------------------------------------------------
  private[llm] def plantedUrl = concat(
    when(col("doc_id") % 2 === 0, "http://").otherwise("https://"),
    when(col("doc_id") % 3 === 0,
      concat(lit("HOST"), (col("doc_id") % 13).cast("string"), lit(".Example.COM")))
      .otherwise(concat(lit("host"), (col("doc_id") % 13).cast("string"), lit(".example.com"))),
    lit("/p/"), (col("doc_id") % 17).cast("string"),
    when(col("doc_id") % 4 === 0 && col("doc_id") % 5 === 0, "?utm_source=news&ref=5")
      .when(col("doc_id") % 4 === 0, "?utm_source=news")
      .when(col("doc_id") % 5 === 0, "?ref=5")
      .otherwise(""),
    when(col("doc_id") % 6 === 0, "#sec2").otherwise(""),
    when(col("doc_id") % 7 === 0, "/").otherwise(""))

  private[llm] def canonicalUrl(u: Column): Column = {
    val lowered = lower(u)
    val scheme = regexp_replace(lowered, "^http://", "https://")
    val noFrag = regexp_replace(scheme, "#.*", "")
    // utm stripping operates on the PARSED param list, not on anchored
    // regexes: split the query at the first '?', drop every utm_*
    // param wherever it sits (second position, repeated, &-separated),
    // rejoin, and re-attach '?' only if params survive. A '?utm_'-
    // anchored pattern only strips a first-position param — the
    // narrower contract this replaced — and regex dialects disagree on
    // global replacement; list algebra is identical on both engines.
    val qpos = instr(noFrag, "?")
    val base = when(qpos === 0, noFrag).otherwise(noFrag.substr(lit(1), qpos - 1))
    val query = when(qpos === 0, lit("")).otherwise(noFrag.substr(qpos + 1, length(noFrag)))
    val kept = array_join(
      filter(split(query, "&"), p => !startswith(p, lit("utm_"))), "&")
    val noUtm = when(kept === "", base).otherwise(concat(base, lit("?"), kept))
    regexp_replace(noUtm, "/$", "")
  }

  private val ddUrls: Q = (s, d) =>
    table(s, d, "documents")
      .select(col("doc_id"), canonicalUrl(plantedUrl).as("url_norm"))
      .groupBy("url_norm")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("url_norm")

  // -------------------------------------------------------------------
  // dd_winnow: near-copy detection via shared winnowing fingerprints —
  // the cross-document half of ts_winnow and exactly how MOSS finds
  // plagiarized pairs. Candidate pairs form ONLY inside per-fingerprint
  // buckets (the LSH-band discipline): fingerprints shared by < 2 docs
  // pair nothing, and boilerplate fingerprints shared by > 32 docs are
  // dropped — MOSS's own "too common to be signal" rule AND the cap
  // that keeps pairing Σ df² linear-ish at any corpus size (the
  // gr_linkpred/dd_minhash bucket-cap family). The verdict score is
  // the overlap coefficient shared/min(|A|,|B|) on the capped
  // fingerprint sets, integer-quantized; pairs need ≥3 shared
  // fingerprints and overlap ≥ 0.5 (24 genuine pairs at sf0.01 out of
  // 53k sharing ≥3 — the coefficient, not co-occurrence, is the
  // discriminator). Shuffle shape: one explode shuffled on the
  // fingerprint key, one pair aggregate, two size joins.
  // -------------------------------------------------------------------
  private val ddWinnow: Q = (s, d) =>
    winnowPairsImpl(table(s, d, "documents").select("doc_id", "text"))

  /** dd_winnow over an explicit docs relation. Which edit classes this
    * detector catches vs dd_minhash vs dd_substr was measured on a
    * planted mutation corpus — see the guidance note above [[queries]]
    * and the BASELINE.md complementarity table. */
  private def winnowPairsImpl(docs: DataFrame): DataFrame = {
    val fps = docs.select(col("doc_id"),
      explode(ArrayFns.winnowSel(col("text"), withPositions = false)).as("fp"))
      .persist()
    val sizes = fps.groupBy("doc_id").agg(count(lit(1)).as("nf"))
    val dfreq = fps.groupBy("fp").agg(count(lit(1)).as("c"))
    val rare = fps.join(dfreq.filter(col("c").between(2, 32)), Seq("fp"), "left_semi")
    val pairs = rare.select(col("doc_id").as("da"), col("fp"))
      .join(rare.select(col("doc_id").as("db"), col("fp")), Seq("fp"))
      .filter(col("da") < col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("shared"))
    pairs
      .join(sizes.select(col("doc_id").as("da"), col("nf").as("nf_a")), Seq("da"))
      .join(sizes.select(col("doc_id").as("db"), col("nf").as("nf_b")), Seq("db"))
      .filter(col("shared") >= 3)
      .select(col("da"), col("db"), col("shared"), col("nf_a"), col("nf_b"),
        expr("(10000 * shared) div least(nf_a, nf_b)").as("ov_q"))
      .filter(col("ov_q") >= 5000)
      .orderBy("da", "db")
  }

  // -------------------------------------------------------------------
  // dd_substr: cross-document EXACT substring-span dedup (VERDICT r11
  // next §1) — the Lee et al. "Deduplicating Training Data" operator:
  // where dd_winnow says only THAT two docs share content, this says
  // WHICH maximal text spans they share, character-exact, so a
  // training pipeline can cut the repeated span instead of dropping a
  // whole document. Seed-and-extend on the existing winnowing kernels
  // instead of Lee's suffix array (which needs the corpus resident in
  // one address space — a non-starter at 100 TB):
  //
  //  1. SEED — each doc's winnow-SELECTED (pos, gram-hash) fingerprints
  //     ([[graft.functions.WinnowSel]], k=8 cp grams, w=4). The
  //     Schleimer winnowing guarantee is what makes sparse seeding
  //     EXACT: any shared span of ≥ w+k−1 = 11 codepoints contains a
  //     full gram window on each side with identical content, and
  //     rightmost-min selection is content-deterministic, so both docs
  //     select the SAME gram at ALIGNED positions — no span ≥ the
  //     threshold can slip between fingerprints. Shuffle volume is the
  //     selected ~2/(w+1) of gram positions, never every position.
  //  2. BAND — fingerprints shared by 2..32 distinct docs and ≤ 64
  //     total occurrences seed pairs (the dd_winnow/dd_minhash df-band
  //     + cap discipline: boilerplate hubs would make seeding
  //     quadratic; spans living ONLY in >32-doc boilerplate are
  //     dropped by declared cap semantics, like every hot-key guard in
  //     this file).
  //  3. EXTEND — per (doc_a, doc_b) pair, the texts ship ONCE
  //     (output-sensitive: only docs that actually share a banded
  //     fingerprint) and the native [[graft.functions.SubstrExtend]]
  //     kernel walks each seed diagonal, emitting DISTINCT maximal
  //     aligned spans ≥ 24 cps, with in-run seeds skipped (O(span),
  //     not O(seeds·span)).
  //
  // Gate falsifiability: span_md5 is computed by the ENGINE from
  // doc_a's text but by the ORACLE from doc_b's text at b_start — a
  // misaligned or over-extended span hashes differently on the two
  // sides, so the content-equality claim itself is under the hash
  // gate, not just the coordinates.
  // -------------------------------------------------------------------
  private[llm] val substrMinLen = 24

  private val ddSubstr: Q = (s, d) =>
    substrSpansImpl(table(s, d, "documents").select("doc_id", "text"))

  // -------------------------------------------------------------------
  // dd_substr_uni: the adversarial-Unicode twin of dd_substr (VERDICT
  // r12 next §5). The gate corpora are ASCII, where UTF-8 bytes =
  // codepoints = UTF-16 units, so an off-by-one between the engine's
  // UTF8String codepoint arithmetic, a JVM surrogate-pair slip, and
  // DuckDB's codepoint substr semantics could never turn the gate red.
  // This query runs the UNCHANGED span pipeline over a small
  // deterministic corpus whose shared span and noise mix 1-byte ASCII,
  // 2-byte (é), 3-byte (中), and 4-byte astral-plane (U+1F600 —
  // a UTF-16 surrogate PAIR on the JVM) codepoints, built
  // programmatically from codepoint numbers on BOTH sides (Character.
  // toChars here, chr() in the twin) so no source-file or JSON
  // encoding step can silently normalize the bytes. Every coordinate
  // the gate hashes (a_start/a_len/b_start) is a codepoint index past
  // multi-byte noise, and span_md5 crosses texts (engine hashes
  // doc_a's span, twin doc_b's) — byte-vs-codepoint confusion on
  // either side shifts a boundary or splits a surrogate and the hash
  // goes red. SubstrDedupSpec pins the exact expected coordinates.
  // -------------------------------------------------------------------
  private[llm] def uniDocs: Seq[(Long, String)] = {
    val e = "é"
    val zh = "中"
    val emo = new String(Character.toChars(0x1F600))
    // per-doc unique filler with a 3-byte char in every 4-cp unit, cut
    // at a CODEPOINT count (String.take counts UTF-16 units and could
    // split a pair — noise stays in the BMP, but cut by codepoints
    // anyway so the helper is safe to reuse with astral tags)
    def noiseU(tag: String, n: Int): String = {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (sb.codePointCount(0, sb.length) < n) {
        sb.append(tag).append(zh).append(i).append('~'); i += 1
      }
      val cps = sb.toString.codePoints().toArray.take(n)
      new String(cps, 0, cps.length)
    }
    // 34-codepoint shared span mixing all four encoded widths
    val span = s"UNI${e}SPAN${zh}DUP${emo}SEG-0123456789$e$zh${emo}ABCD"
    Seq(
      1L -> (noiseU("a", 21) + span + noiseU("z", 17)),
      2L -> (noiseU("b", 45) + span + noiseU("y", 9)),
      3L -> noiseU("c", 120))
  }

  /** A Scala string as a DuckDB expression: ASCII runs as quoted
    * literals, every non-ASCII codepoint as chr(n) — the twin's text
    * bytes come from DuckDB's own UTF-8 encoder, not from any
    * source/JSON encoding path. */
  private def sqlTextLit(s: String): String = {
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    val sb = new StringBuilder
    def flush(): Unit =
      if (sb.nonEmpty) { parts += "'" + sb.toString.replace("'", "''") + "'"; sb.clear() }
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp >= 0x20 && cp < 0x7f) sb.append(cp.toChar)
      else { flush(); parts += s"chr($cp)" }
      i += Character.charCount(cp)
    }
    flush()
    if (parts.isEmpty) "''" else parts.mkString(" || ")
  }

  private val ddSubstrUni: Q = (s, _) => {
    import s.implicits._
    substrSpansImpl(s.createDataset(uniDocs).toDF("doc_id", "text"))
  }

  // -------------------------------------------------------------------
  // dd_cdc: content-defined chunking (the rsync/FastCDC primitive —
  // Xia et al., "FastCDC", USENIX ATC 2016): chunk boundaries are
  // declared where a rolling window's hash satisfies a mask, so an
  // insertion shifts ONE chunk instead of re-aligning every fixed-size
  // block — the primitive under dedup storage, incremental sync, and
  // chunk-level corpus dedup. This is the MASK-ONLY variant (no
  // min/max chunk clamps): classic FastCDC's bounds make boundary i
  // depend on the previous boundary (a sequential chain); dropping
  // them makes every boundary a pure content-local predicate — the
  // embarrassingly-parallel formulation a distributed engine wants,
  // at the cost of an exponential (mean 16 cp) instead of clamped
  // chunk-length distribution. Boundary = position i ≥ 2 whose 8-cp
  // window GEAR hash (FastCDC's rolling gear — splitmix64 table,
  // O(1) shift-add roll per position; TextHashKernels.cdcChunks) has
  // its top 4 bits zero (P = 1/16). Emitted per doc: chunk
  // count, max chunk length, the count of chunks whose content hash
  // recurs ANYWHERE in the corpus (the storage-dedup signal — the
  // near-dup-rich corpus genuinely shares chunks), and an order-exact
  // digest of the chunk-hash sequence. Scale: chunking is scan-local
  // array algebra (one md5 per gram, the winnow cost shape); the only
  // shuffle is the 16-byte chunk-hash frequency aggregate.
  // -------------------------------------------------------------------
  private val ddCdc: Q = (s, d) => {
    val docs = table(s, d, "documents")
    // the fused CdcChunks kernel: the declarative HOF form (filter over
    // sequence + md5-in-lambda) evaluated INTERPRETED per position —
    // 12.7 s at sf0.1 vs sub-second fused (the WinnowSel lesson)
    val chunks = docs.select(col("doc_id"),
        posexplode(graft.functions.TextHashes.cdcChunksCol(col("text"))))
      .select(col("doc_id"), col("pos").as("idx"),
        col("col.ch").as("ch"), col("col.clen").as("clen"))
    val freq = chunks.groupBy("ch").agg(count(lit(1)).as("occ"))
    chunks.join(freq, Seq("ch"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        max(col("clen")).cast("long").as("max_chunk"),
        sum(when(col("occ") > 1, 1L).otherwise(0L)).as("n_dup_chunks"),
        md5(concat_ws(",",
          transform(array_sort(collect_list(struct(col("idx"), col("ch")))),
            x => x.getField("ch"))).cast("binary")).as("chunks_md5"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // dd_source_overlap: corpus-level source-overlap MinHash sketch —
  // the "how much does source A duplicate source B" diagnostic a
  // multi-source pretraining mix needs BEFORE doc-level dedup (two
  // crawls of the same sites, a dataset re-released inside another —
  // the inter-SOURCE redundancy that decides which source to drop
  // wholesale). Per source: a k=32 MinHash-union signature over the
  // source's 3-token shingle SET (union sketches compose: min over
  // docs of per-doc mins), then pairwise signature agreement estimates
  // shingle-set Jaccard per source pair. Unlike dd_minhash (engine-
  // seeded xxhash64, fixture-verified), the signature here is FULLY
  // replayable: base hash = the FNV-1a fold (fnvFoldSql), permutations
  // = the splitmix64-derived affine family (TextHashKernels.PERM_A/B,
  // native PermHash codegen — the multiply wraps mod 2⁶⁴ by design,
  // which ANSI SQL would throw on), flipped-top-bit encoding so signed
  // min ≡ unsigned min on both engines. Scale shape: one scan-local
  // shingle+hash pass, ONE |sources|×k constant-width min reduce
  // (partial aggregation does the work map-side — the ml_kmeans
  // integer-reduce shape), then a |sources|² broadcast self-join of a
  // 20-row relation. The corpus never pairs: at 100 TB this costs one
  // scan regardless of redundancy, which is exactly why the sketch
  // exists (exact source-pair Jaccard would shuffle every shingle).
  // -------------------------------------------------------------------
  private val sourceOverlapK = 32

  private val ddSourceOverlap: Q = (s, d) => {
    val docs = table(s, d, "documents")
    val sh = docs.select(col("source"),
        explode(graft.functions.ArrayFns.shingles3(col("text"))).as("sh"))
      .select(col("source"), graft.functions.TextHashes.rollHash(col("sh")).as("h"))
    val aggs = (0 until sourceOverlapK).map(i =>
      min(graft.functions.TextHashes.permHashCol(col("h"), i)).as(s"v$i"))
    val sigs = sh.groupBy("source").agg(aggs.head, aggs.tail: _*)
    val a = sigs.select(col("source").as("source_a") +:
      (0 until sourceOverlapK).map(i => col(s"v$i").as(s"a$i")): _*)
    val b = sigs.select(col("source").as("source_b") +:
      (0 until sourceOverlapK).map(i => col(s"v$i").as(s"b$i")): _*)
    val matches = (0 until sourceOverlapK)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    a.join(broadcast(b), col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"), matches.as("matches"))
      .select(col("source_a"), col("source_b"), col("matches"),
        expr(s"(matches * 10000) div $sourceOverlapK").as("est_q"))
      .orderBy("source_a", "source_b")
  }

  // -------------------------------------------------------------------
  // dd_cdc_incr: incremental chunk-level dedup — the dd_incremental
  // regime applied to CDC chunks, i.e. the storage-ingest shape every
  // dedup store (restic/borg/Venti lineage) and incremental-crawl
  // archive runs: an arriving batch (doc_id ≡ 7 mod 10) is chunked
  // with the SAME gear rule and its chunk hashes are probed against
  // the persisted corpus chunk index ([[dedupIndexBuild]]'s `chunks`
  // relation — built once per corpus version, 16 bytes per distinct
  // chunk). Per batch doc: chunk count, novel-chunk count, and the
  // novel/duplicate byte split — novel_chars IS the marginal storage
  // cost of ingesting the doc, the number a dedup store bills. Scale:
  // batch-side driven; the probe join shuffles 16-byte hashes only
  // (never text), and the index side is O(distinct corpus chunks) —
  // at 100 TB the persisted index is exactly what makes per-batch
  // ingest independent of corpus re-chunking.
  // -------------------------------------------------------------------
  private val ddCdcIncr: Q = (s, d) => {
    val idx = ensureDedupIndexFor(s, d)
    val batch = table(s, d, "documents").filter(col("doc_id") % 10 === 7)
    val bc = batch.select(col("doc_id"),
        explode(graft.functions.TextHashes.cdcChunksCol(col("text"))).as("c"))
      .select(col("doc_id"), col("c.ch").as("ch"), col("c.clen").as("clen"))
    val known = s.read.parquet(s"$idx/chunks").withColumn("known", lit(1L))
    bc.join(known, Seq("ch"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("known").isNull, 1L).otherwise(0L)).as("n_novel"),
        sum(when(col("known").isNull, col("clen")).otherwise(0L)).as("novel_chars"),
        sum(when(col("known").isNotNull, col("clen")).otherwise(0L)).as("dup_chars"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // dd_linkage: blocked fuzzy record linkage — the metadata-catalog
  // merge primitive (Fellegi–Sunter blocking practice): entity keys
  // that differ by a typo must pair WITHOUT comparing all key pairs.
  // Candidates come from a BLOCKING key (the 8-char key prefix — the
  // record-linkage "blocking" discipline: like LSH banding, candidate
  // generation is approximate BY DECLARED DESIGN and the verify step
  // is exact); pairs verify with true Levenshtein ≤ 2, computed by
  // both engines' native levenshtein (classic unit-cost edit distance
  // in both). The corpus's keys are deterministic md5-derived strings
  // (uniformly distinct — no natural near-pairs), so the gate PLANTS
  // typos: every doc_id ≡ 3 (mod 7) arrives carrying donor doc_id−1's
  // key with the 10th character substituted (hex alphabet ⇒ 'z' never
  // collides ⇒ distance exactly 1; the mutation sits PAST the blocking
  // prefix, honoring the blocking assumption a production deployment
  // declares). Prefix collisions between unrelated md5 keys DO occur
  // at corpus scale and must be rejected by the distance check — the
  // verify stage is genuinely load-bearing, not plant-only.
  // Scale shape: one shuffle on the blocking key; candidate volume is
  // Σ block² with md5-uniform blocks, never corpus². At 100 TB the
  // blocking key is the knob (longer prefix = fewer candidates, more
  // typo positions excluded) — exactly the production trade.
  // -------------------------------------------------------------------
  private def linkageKeys(s: SparkSession, d: String): DataFrame = {
    val base = table(s, d, "documents").select(col("doc_id"),
      concat(lit("ent-"), substring(
        md5(concat(lit("key-"), col("doc_id").cast("string")).cast("binary")),
        1, 12)).as("k"))
    val donors = base.select((col("doc_id") + 1).as("doc_id"), col("k").as("dk"))
    base.join(donors, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 3 && col("dk").isNotNull,
          concat(substring(col("dk"), 1, 9), lit("z"), substring(col("dk"), 11, 6)))
          .otherwise(col("k")).as("k"))
  }

  private val ddLinkage: Q = (s, d) => {
    val keys = linkageKeys(s, d)
    val a = keys.select(col("doc_id").as("doc_a"), col("k").as("key_a"),
      substring(col("k"), 1, 8).as("blk"))
    val b = keys.select(col("doc_id").as("doc_b"), col("k").as("key_b"),
      substring(col("k"), 1, 8).as("blk"))
    a.join(b, Seq("blk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("key_a"), col("key_b"),
        levenshtein(col("key_a"), col("key_b")).cast("long").as("dist"))
      .filter(col("dist") <= 2)
      .orderBy("doc_a", "doc_b")
  }

  private[graft] def substrSpansImpl(docs: DataFrame): DataFrame = {
    // persisted: feeds the df-band aggregate AND both sides of the
    // seed self-join (caller owns cache hygiene — see COVERAGE.md's
    // clearCache convention)
    // array_distinct BEFORE the explode: adjacent windows re-select the
    // same (pos, hash) string, so per-doc dedup is scan-local in the
    // array domain — the (doc_id, pos, fp) relation is then distinct by
    // construction and the corpus-wide dropDuplicates shuffle the naive
    // form pays disappears entirely.
    //
    // The detection shuffle key is xxhash64 of the md5-hex fingerprint,
    // NOT the 32-char string (the dd_lines_hashed / dd_spans rule: the
    // shuffle carries 8 bytes, never text) — 4× fewer key bytes through
    // the band aggregate, the semi-join, and the seed self-join. Safe
    // under the hash gate because EXTENSION VERIFIES CHARACTERS: a
    // 64-bit collision can only fabricate a seed whose extension finds
    // < minLen matching codepoints and drops it, so the emitted span
    // set is identical to the oracle's string-keyed replay (a collision
    // inflating a band count past the 32/64 caps is the one divergence
    // window — ~n²/2⁶⁵, and it would turn the gate red, not silently
    // wrong).
    val sel = docs
      .select(col("doc_id"),
        explode(array_distinct(
          ArrayFns.winnowSel(col("text"), withPositions = true))).as("pf"))
      .select(col("doc_id"),
        expr("CAST(substr(pf, 1, 8) AS BIGINT)").as("pos"),
        xxhash64(expr("substr(pf, 10)")).as("fph"))
      .persist()
    val band = sel.groupBy("fph")
      .agg(countDistinct(col("doc_id")).as("nd"), count(lit(1)).as("occ"))
      .filter(col("nd").between(2, 32) && col("occ") <= 64)
      .select("fph")
    // fph-keyed shuffle family: band, semi-join, and the pair self-join
    // all partition on the 8-byte key (the dd_winnow shape)
    val banded = sel.join(band, Seq("fph"), "left_semi")
    val seeds = banded.select(col("doc_id").as("doc_a"), col("pos").as("ap"), col("fph"))
      .join(banded.select(col("doc_id").as("doc_b"), col("pos").as("bp"), col("fph")), Seq("fph"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "ap", "bp")
    // one aligned struct list per pair (two separate collect_lists
    // would lose the ap↔bp pairing — list order is nondeterministic)
    val grouped = seeds.groupBy("doc_a", "doc_b")
      .agg(collect_list(struct(col("ap"), col("bp"))).as("sds"))
    val spans = grouped
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("ta"),
        explode(ArrayFns.substrExtend(col("ta"), col("tb"),
          expr("transform(sds, x -> x.ap)"), expr("transform(sds, x -> x.bp)"),
          substrMinLen)).as("sp"))
    spans.select(col("doc_a"), col("doc_b"),
        col("sp.a_start").as("a_start"), col("sp.a_len").as("a_len"),
        col("sp.b_start").as("b_start"),
        md5(expr("substr(ta, CAST(sp.a_start AS INT), CAST(sp.a_len AS INT))")
          .cast("binary")).as("span_md5"))
      .orderBy("doc_a", "doc_b", "a_start", "b_start")
  }

  // -------------------------------------------------------------------
  // dd_substr_incr: span-level incremental decontamination — the
  // dd_incremental regime applied to SUBSTRING spans: an arriving
  // batch (doc_id ≡ 7 mod 10) is checked for text spans copied from
  // the already-curated corpus, batch-side driven, probing the
  // PERSISTED index's positioned winnow fingerprints (built once,
  // boilerplate-capped at build time — [[dedupIndexBuild]]). This is
  // the production eval-decontamination / license-compliance shape:
  // "which parts of today's crawl already exist in the training set,
  // and where". Corpus TEXT is touched only for docs an fp seed
  // actually matched (a semi-join-sized read, output-sensitive) — the
  // detection join itself carries fingerprints, never text. Plant
  // (the dd_incremental scaffolding rule): batch docs ≡ 7 mod 30
  // arrive with the first 120 chars of corpus neighbor doc_id−1
  // spliced in front of their own text, so the gate has known
  // contamination with known coordinates; the oracle replays the
  // plant and hashes each span from the CORPUS side while the engine
  // hashes the batch side.
  // -------------------------------------------------------------------
  private val ddSubstrIncr: Q = (s, d) => {
    val idx = ensureDedupIndexFor(s, d)
    val raw = table(s, d, "documents")
    val planted = col("doc_id") % 30 === 7
    val donors = incrCorpus(s, d).select((col("doc_id") + 1).as("doc_id"),
      col("text").as("d_text"))
    val batch = raw.filter(col("doc_id") % 10 === 7)
      .join(donors, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(planted, concat(expr("substr(d_text, 1, 120)"), lit("|"), col("text")))
          .otherwise(col("text")).as("text"))
      .persist() // feeds fp selection AND the extension join (COVERAGE.md convention)
    substrIncrSpans(batch, s.read.parquet(s"$idx/winnow"),
      incrCorpus(s, d).select(col("doc_id"), col("text")))
  }

  /** The span-probe pipeline over an arriving (doc_id, text) batch —
    * shared by [[ddSubstrIncr]] and the streaming gate (st_substr,
    * which fires it per micro-batch inside foreachBatch): seeds from
    * the persisted banded index, extension only against matched corpus
    * docs. Per-doc independent, so any batch split yields the same
    * union — the property that makes the streaming twin share the
    * batch oracle verbatim. */
  private[graft] def substrIncrSpans(batch: DataFrame, winnowIdx: DataFrame,
      corpus: DataFrame): DataFrame = {
    val selB = batch.select(col("doc_id"),
        explode(array_distinct(
          ArrayFns.winnowSel(col("text"), withPositions = true))).as("pf"))
      .select(col("doc_id"),
        expr("CAST(substr(pf, 1, 8) AS BIGINT)").as("bp"),
        xxhash64(expr("substr(pf, 10)")).as("fph"))
    val seeds = selB
      .join(winnowIdx
        .select(col("fph"), col("doc_id").as("match_id"), col("pos").as("cp")), Seq("fph"))
      .select("doc_id", "match_id", "bp", "cp")
    val grouped = seeds.groupBy("doc_id", "match_id")
      .agg(collect_list(struct(col("bp"), col("cp"))).as("sds"))
    grouped
      .join(batch.select(col("doc_id"), col("text").as("xb")), Seq("doc_id"))
      .join(corpus.select(col("doc_id").as("match_id"),
        col("text").as("xc")), Seq("match_id"))
      .select(col("doc_id"), col("match_id"), col("xb"),
        explode(ArrayFns.substrExtend(col("xb"), col("xc"),
          expr("transform(sds, x -> x.bp)"), expr("transform(sds, x -> x.cp)"),
          substrMinLen)).as("sp"))
      .select(col("doc_id"), col("match_id"),
        col("sp.a_start").as("q_start"), col("sp.a_len").as("len"),
        col("sp.b_start").as("c_start"),
        md5(expr("substr(xb, CAST(sp.a_start AS INT), CAST(sp.a_len AS INT))")
          .cast("binary")).as("span_md5"))
      .orderBy("doc_id", "match_id", "q_start", "c_start")
  }

  // -------------------------------------------------------------------
  // dd_substr_scrub: the Lee et al. dedup ACTION on dd_substr's span
  // set — cut every cross-document duplicated span from the HIGHER-id
  // doc (doc_a < doc_b, so the min-id occurrence is the canonical
  // survivor, the ddExact survivor rule applied to spans) and emit the
  // per-doc cut accounting plus the scrubbed text's hash. Overlapping
  // cut ranges from different partners union naturally (a char goes if
  // ANY range covers it — no interval merge needed); chains A<B<C
  // converge to exactly one surviving copy (A's). Scale shape:
  // everything after the span relation is scan-local per-doc string
  // algebra (the dd_spans_scrub transform/filter idiom), and the span
  // relation itself is output-sensitive.
  // -------------------------------------------------------------------
  private val ddSubstrScrub: Q = (s, d) =>
    substrScrubImpl(table(s, d, "documents").select("doc_id", "text"))

  private[graft] def substrScrubImpl(docs: DataFrame): DataFrame = {
    val cuts = substrSpansImpl(docs)
      .select(col("doc_b").as("doc_id"), col("b_start").as("cs"),
        (col("b_start") + col("a_len") - 1).as("ce"))
      .groupBy("doc_id").agg(collect_list(struct(col("cs"), col("ce"))).as("rs"))
    docs.join(cuts, Seq("doc_id"), "left")
      .withColumn("kept", expr(
        """CASE WHEN rs IS NULL THEN text ELSE
          |  array_join(filter(transform(split(text, ''), (x, i) ->
          |    CASE WHEN exists(rs, r -> i + 1 >= r.cs AND i + 1 <= r.ce)
          |         THEN NULL ELSE x END), x -> x IS NOT NULL), '')
          |END""".stripMargin))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        (length(col("text")) - length(col("kept"))).cast("long").as("n_cut"),
        md5(col("kept").cast("binary")).as("clean_md5"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // dd_substr_cov: per-document duplication coverage — the headline
  // statistic of the Lee et al. paper ("X% of the corpus is covered
  // by cross-document duplicated spans"): union every doc's span
  // intervals (as doc_a AND as doc_b), merge them with the
  // gaps-and-islands walk dd_spans already uses, and report covered
  // chars + a 1e-4-quantized coverage share per doc, zero rows
  // included (corpus-covering report). Scale shape: one doc_id-keyed
  // window over the output-sensitive span relation, then a left join
  // back to the per-doc lengths.
  // -------------------------------------------------------------------
  private val ddSubstrCov: Q = (s, d) => {
    val docs = table(s, d, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
    // persisted: the interval union reads the span relation TWICE
    // (doc_a role ∪ doc_b role) — unpersisted, the band aggregate +
    // seed self-join pipeline re-executes per branch (measured 115.5 s
    // → see BASELINE.md at the 100× probe); caller reclaims per the
    // COVERAGE.md convention
    val spans = substrSpansImpl(
      table(s, d, "documents").select("doc_id", "text")).persist()
    // DISTINCT is load-bearing, not cosmetic: the same (p, e) interval
    // arrives once per partner doc, and duplicate rows make the
    // (p, e) window order non-total — the ns pass and the running-sum
    // pass may then see ties in DIFFERENT orders (observed in DuckDB:
    // the ns=0 twin sorting before its ns=1 twin lands in group 0 and
    // splits the island). Deduped, the order is total per doc and both
    // window passes agree on every engine; coverage itself is
    // unchanged (duplicate intervals add nothing to a union).
    val iv = spans.select(col("doc_a").as("doc_id"), col("a_start").as("p"),
        (col("a_start") + col("a_len") - 1).as("e"))
      .unionByName(spans.select(col("doc_b").as("doc_id"), col("b_start").as("p"),
        (col("b_start") + col("a_len") - 1).as("e")))
      .distinct()
    val byDoc = Window.partitionBy("doc_id").orderBy("p", "e")
    val prevEnd = max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val islands = iv
      .withColumn("ns",
        when(col("p") > coalesce(prevEnd, lit(-2L)) + 1, 1).otherwise(0))
      .withColumn("grp",
        sum(col("ns")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "grp")
      .agg(min("p").as("s"), max("e").as("e"))
    val cov = islands.groupBy("doc_id")
      .agg(count(lit(1)).as("n_islands"), sum(col("e") - col("s") + 1).as("dup_chars"))
    docs.join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("n_islands"), lit(0L)).as("n_islands"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        expr("(10000 * coalesce(dup_chars, 0)) div n_chars").as("dup_pct_q"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // WHICH NEAR-DUP DETECTOR WHEN (measured, not argued — table in
  // BASELINE.md round 12):
  // on planted insert/delete/substitute/reorder/prefix mutations,
  // dd_winnow holds 1.0 planted-pair recall at every tested edit rate
  // (content-anchored fingerprints: unedited runs between edits keep
  // selecting identical hashes) and dd_substr matches it while naming
  // the exact spans; dd_minhash's 3-token shingles amplify token edits
  // (one edit corrupts ~3 shingles), so its Jaccard≥0.5 verdict decays
  // to ~0 past ~15% edit rate — by DESIGN, because it answers "is set
  // similarity ≥ τ" with an exact-verified score, the right keep/drop
  // rule for whole-document dedup. Stage order for a real pipeline:
  // winnow (or substr when span coordinates are needed) first as the
  // recall stage; minhash's verified Jaccard as the precision/verdict
  // stage over the survivors.
  // -------------------------------------------------------------------
  // -------------------------------------------------------------------
  // dq_rtbf: right-to-be-forgotten scrub + audit across the PERSISTED
  // dedup index — the deletion-compliance face of the privacy ladder
  // (dq_kanon/dq_ldiversity/dq_tcloseness audit what a RELEASE leaks;
  // this audits what the pipeline's own derived artifacts RETAIN after
  // a GDPR/CCPA erasure request). The deletion list (doc_id % 20 = 5
  // within the index corpus — deterministic, disjoint from the other
  // plants' semantics) broadcasts into anti-joins over the doc-keyed
  // index relations (hashes / signatures / winnow), each scrubbed into
  // a VERSIONED sibling under <index>/rtbf (the graph_compact
  // discipline: the live index other gates byte-compare stays
  // untouched). The chunk relation carries NO doc attribution (it is
  // the distinct-chunk store), so without refcount metadata the only
  // sound scrub is recompute-over-retained — one retained-corpus scan,
  // exactly the cost a content-addressed store pays for erasure
  // without refcounts, stated here as the measured design tradeoff.
  // Output: the per-artifact compliance ledger (n_before,
  // touching-before, n_after, touching-after — the engine RE-COUNTS
  // touching rows on the relations it actually wrote, so a scrub that
  // kept a deleted doc's rows reports itself). Oracle: fully
  // self-contained — index relations, band caps, gear chunking, and
  // the deletion arithmetic all replay from the raw corpus.
  // Scale: anti-joins broadcast the deletion list; censuses are
  // constant-width aggregates; the one scan is the chunk recompute.
  // -------------------------------------------------------------------
  private val dqRtbf: Q = (s, d) => {
    val idx = ensureDedupIndexFor(s, d)
    val delIds = incrCorpus(s, d).filter(col("doc_id") % 20 === 5)
      .select("doc_id")
    rtbfScrub(s, d, idx, s"$idx/rtbf", delIds)
  }

  /** The erasure scrub as a PURE FUNCTION of (live index, deletion
    * relation) — shared by the batch gate ([[dqRtbf]]) and the
    * streaming gate (st_rtbf, StreamQueries): every scrubbed relation
    * is derived from the LIVE index and the FULL deletion set (never
    * from an earlier scrub's output), so re-running with a grown set
    * converges to exactly the one-shot scrub — the NswCdcState
    * delivery-idempotence argument applied to the dedup index. */
  private[graft] def rtbfScrub(s: SparkSession, d: String, idx: String,
      root: String, delIds: DataFrame): DataFrame =
    rtbfScrubIncr(s, d, idx, root, delIds, None)._1

  /** [[rtbfScrub]] plus the retained (doc_id, ch) chunk-attribution
    * relation it derived — the incremental seam for callers that scrub
    * REPEATEDLY with a GROWING deletion set (st_rtbf; r19, VERDICT r18
    * next §5). Chunking is per-doc deterministic, so the retained chunk
    * set under a grown deletion set is EXACTLY the prior trigger's
    * pairs anti-joined with the new deletions: the full retained-corpus
    * CDC re-chunk (the 100 TB-dominant term of the scrub) runs once per
    * stream instead of once per trigger. `pairsIn`, when given, MUST be
    * the pair relation a prior call returned for a deletion set that
    * was a subset of `delIds` over the same corpus. Every written
    * relation and every ledger number is identical to the from-scratch
    * scrub (StRtbfSpec pins written-relation equality with the
    * one-shot); the orphan audit's independent recompute is then the
    * PRIOR trigger's pair compute rather than this trigger's — still
    * never a read-back of the written chunks relation (ADVICE r17).
    * Returned pairs are checkpointed iff `keepPairs` — a lazy local
    * checkpoint the chunk write materializes, so a chain of calls keeps
    * a constant-size plan instead of nesting one anti-join per call;
    * the caller releases them (`PlanBridge.releaseCheckpoint`) when it
    * replaces them. */
  private[graft] def rtbfScrubIncr(s: SparkSession, d: String, idx: String,
      root: String, delIds: DataFrame, pairsIn: Option[DataFrame],
      keepPairs: Boolean = false): (DataFrame, DataFrame) = {
    import s.implicits._
    // dupe-immune by construction (ADVICE r18): a duplicate id in the
    // deletion relation would inflate the left-join censuses below;
    // persisted because every lane broadcasts it
    val del = delIds.select("doc_id").distinct().persist()
    val docKeyed = Seq("hashes", "signatures", "winnow")
    // each census is ONE left-join aggregation pass (total + matched in
    // the same scan) instead of a count job + a semi-join count job —
    // still counted on the live relation / the WRITTEN relation, never
    // assumed from the anti-join (r18 opt round)
    def census(rel: DataFrame): (Long, Long) = {
      val row = rel
        .join(broadcast(del.select(col("doc_id").as("del_id"))),
          col("doc_id") === col("del_id"), "left")
        .agg(count(lit(1)).as("n"), count(col("del_id")).as("touching"))
        .head
      (row.getLong(0), row.getLong(1))
    }
    // the four artifact lanes are INDEPENDENT jobs (distinct relations,
    // distinct output dirs) — submit them from futures so each lane's
    // straggler tail back-fills the others (guide §2.6 overlap); the
    // dozen small sequential jobs were the scrub's fixed-latency floor
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val ledgerF = docKeyed.map { name =>
      Future {
        val rel = s.read.parquet(s"$idx/$name")
        rel.join(broadcast(del), Seq("doc_id"), "left_anti")
          .write.mode("overwrite").parquet(s"$root/$name")
        val (nB, tB) = census(rel)
        val (nA, tA) = census(s.read.parquet(s"$root/$name"))
        (name, nB, tB, nA, tA)
      }
    }
    val chunkF = Future {
      // the retained-chunk derivation: one CDC pass over the retained
      // corpus when fresh; the prior pairs anti-join when incremental.
      // keepPairs carries the (doc_id, ch) attribution through the
      // distinct so the NEXT trigger can subtract its delta exactly.
      val pairsBase = pairsIn match {
        // prior pairs are already (doc_id, ch)-distinct; the anti-join
        // preserves that, so no re-distinct
        case Some(p) => p.join(broadcast(del), Seq("doc_id"), "left_anti")
        case None =>
          val fresh = incrCorpus(s, d)
            .join(broadcast(del), Seq("doc_id"), "left_anti")
            .select(col("doc_id"), explode(
              graft.functions.TextHashes.cdcChunksCol(col("text"))).as("c"))
            .select(col("doc_id"), col("c.ch").as("ch"))
          if (keepPairs) fresh.distinct() else fresh
      }
      val retainedPairs = if (keepPairs) pairsBase.localCheckpoint(false) else pairsBase
      // persisted, not a def: the independent retained-chunk recompute
      // feeds BOTH the write and the orphan check — unpersisted it ran
      // twice (r18 opt round); persistence keeps the orphan side an
      // independent COMPUTE, never a read-back of the written relation
      // (the ADVICE r17 rule)
      val retainedChunks = retainedPairs.select(col("ch")).distinct()
        .persist()
      retainedChunks.write.mode("overwrite").parquet(s"$root/chunks")
      val chAll = s.read.parquet(s"$idx/chunks")
      val chRet = s.read.parquet(s"$root/chunks")
      val nB = chAll.count()
      // orphans = live chunks no retained doc carries (what erasure must
      // remove), derived from the INDEPENDENT recompute of the retained
      // set — NOT from the written relation (ADVICE r17: orphans = chAll
      // ANTI chRet made the re-count tautologically 0). The written
      // relation is then checked against those orphans, so a write that
      // landed an orphan chunk on disk reports itself; a plan-level bug
      // is the oracle's independent n_after check's to catch.
      val orphans = chAll.join(retainedChunks, Seq("ch"), "left_anti")
      val chRow = chRet
        .join(orphans.select(col("ch").as("och")), col("ch") === col("och"), "left")
        .agg(count(lit(1)).as("n"), count(col("och")).as("t"))
        .head
      val nA = chRow.getLong(0)
      val tA = chRow.getLong(1)
      retainedChunks.unpersist()
      (("chunks", nB, nB - nA, nA, tA), retainedPairs)
    }
    val ledger = ledgerF.map(Await.result(_, Duration.Inf))
    val (chunkRow, retainedPairs) = Await.result(chunkF, Duration.Inf)
    del.unpersist(false)
    val out = (ledger :+ chunkRow)
      .toDF("artifact", "n_before", "n_touching_before", "n_after",
        "n_touching_after")
      .orderBy("artifact")
    (out, retainedPairs)
  }

  val queries: Map[String, Q] = Map(
    "dq_rtbf" -> dqRtbf,
    "dd_substr" -> ddSubstr,
    "dd_substr_uni" -> ddSubstrUni,
    "dd_linkage" -> ddLinkage,
    "dd_cdc" -> ddCdc,
    "dd_cdc_incr" -> ddCdcIncr,
    "dd_source_overlap" -> ddSourceOverlap,
    "dd_substr_scrub" -> ddSubstrScrub,
    "dd_substr_incr" -> ddSubstrIncr,
    "dd_substr_cov" -> ddSubstrCov,
    "dd_winnow" -> ddWinnow,
    "dd_urls" -> ddUrls,
    "dd_exact" -> ddExact,
    "dd_jaccard" -> ddJaccard,
    "dd_ppjoin" -> ddPpjoin,
    "dd_ppjoin_capped" -> ddPpjoinCapped,
    "dd_cluster" -> ddCluster,
    "dd_cluster_lsh" -> ddClusterLsh,
    "dd_minhash" -> ddMinhash,
    "dd_oph" -> ddOph,
    "dd_simhash" -> ddSimhash,
    "dd_lines" -> ddLines,
    "dd_lines_hashed" -> ddLinesHashed,
    "dd_spans" -> ddSpans,
    "dd_spans_scrub" -> ddSpansScrub,
    "dd_incremental" -> ddIncremental)

  // shared CTE prefix of the two substring-span twins: string-keyed
  // k-grams → ≥2-distinct-doc frequency → coverage-interval merge
  private val spanCtes =
    s"""WITH tkv AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
       |             WHERE len(string_split(text, ' ')) >= $spanK),
       | kg AS (SELECT t.doc_id, g.i - 1 AS pos,
       |          array_to_string(t.tk[g.i:g.i+${spanK - 1}], ' ') AS gram
       |        FROM tkv t, LATERAL unnest(generate_series(1, len(t.tk) - ${spanK - 1})) g(i)),
       | dup AS (SELECT gram FROM kg GROUP BY gram
       |         HAVING count(DISTINCT doc_id) >= 2),
       | hits AS (SELECT doc_id, pos, pos + ${spanK - 1} AS e
       |          FROM kg WHERE gram IN (SELECT gram FROM dup)),
       | m AS (SELECT doc_id, pos, e,
       |         CASE WHEN pos > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY pos
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
       |              THEN 1 ELSE 0 END AS ns
       |       FROM hits),
       | g2 AS (SELECT doc_id, pos, e,
       |          sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
       |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
       |        FROM m),
       | sp AS (SELECT doc_id, grp, min(pos) AS s, max(e) AS e
       |        FROM g2 GROUP BY doc_id, grp)""".stripMargin

  private val linesTwinSql =
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS tk
       |              FROM documents WHERE len(string_split(text, ' ')) > 0),
       | aug AS (SELECT doc_id, list_concat(list_concat(
       |     CASE WHEN doc_id % 5 = 0 THEN ['$bpHeader'] ELSE [] END,
       |     list_transform(generate_series(1, CAST(ceil(len(tk)/10.0) AS INT)),
       |       i -> array_to_string(tk[(i-1)*10+1:(i-1)*10+10], ' '))),
       |     CASE WHEN doc_id % 7 = 0 THEN ['$bpFooter'] ELSE [] END) AS lines
       |   FROM base),
       | lr AS (SELECT a.doc_id, g.i AS line_no, a.lines[g.i] AS line
       |        FROM aug a, LATERAL unnest(generate_series(1, len(a.lines))) g(i)),
       | freq AS (SELECT line FROM lr GROUP BY line
       |          HAVING count(DISTINCT doc_id) >= $bpMinDocs),
       | flg AS (SELECT lr.doc_id, lr.line_no, lr.line,
       |           lr.line IN (SELECT line FROM freq) AS bp FROM lr)
       |SELECT doc_id, count(*) AS n_lines,
       |  CAST(sum(CASE WHEN bp THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |  md5(coalesce(string_agg(CASE WHEN NOT bp THEN line END,
       |        chr(10) ORDER BY line_no), '')) AS clean_md5
       |FROM flg GROUP BY doc_id ORDER BY doc_id""".stripMargin


  /** Shared CTE chain of the dd_substr twins (winnow selection with
    * positions → df band → seeds → per-seed extension → DISTINCT
    * spans) — dd_substr appends the span SELECT, dd_substr_scrub the
    * per-doc cut. r13 oracle-cost rework (VERDICT r12 next §1, this
    * family was 374 s of the gate's ~11-min DuckDB budget): the window
    * selection is [[TextHashes.winnowWindowSql]]'s alloc-free cascade,
    * multiply-referenced CTEs are MATERIALIZED (DuckDB re-inlines at
    * every reference — sel was recomputed 3×), and the extension is
    * [[TextHashes.binExtendCtes]]' binary search (row-identical to the
    * linear scan, verified on this corpus; ~12× less wall-clock).
    * Before extension, in-run seed CHAINS collapse (sg/seeds2): two
    * seeds on the same diagonal less than k=8 apart have OVERLAPPING
    * equal grams, so the region between them matches contiguously and
    * they provably share one maximal run — extending only each chain's
    * first seed emits the identical DISTINCT span set (re-verified
    * row-identical; 372k → 250k extension rows at sf0.01). */
  private def substrSpanCtesFrom(baseBody: String): String = {
    val (bx, bxFinal) = graft.functions.TextHashes.binExtendCtes(
      "bx", "ext", Seq("doc_a", "doc_b", "ap", "bp", "xa", "xb", "na", "nb"),
      "ap", "bp", "xa", "xb", "na", "nb")
    s"""WITH base AS ($baseBody),
        | g AS (SELECT doc_id, n, CASE WHEN n >= 11 THEN
        |     list_transform(range(1, n - 8 + 2), i -> md5(substr(text, CAST(i AS INT), 8)))
        |   END AS hs FROM base),
        | w AS MATERIALIZED (SELECT doc_id,
        |   ${graft.functions.TextHashes.winnowWindowSql("hs")} AS sel
        |   FROM g WHERE n >= 11),
        | sel AS MATERIALIZED (SELECT DISTINCT doc_id,
        |     CAST(substr(s, 1, 8) AS BIGINT) AS pos, substr(s, 10) AS fp
        |   FROM w, unnest(w.sel) AS u(s)),
        | band AS (SELECT fp FROM sel GROUP BY fp
        |   HAVING count(DISTINCT doc_id) BETWEEN 2 AND 32 AND count(*) <= 64),
        | seeds AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |     a.pos AS ap, b.pos AS bp
        |   FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |   WHERE a.fp IN (SELECT fp FROM band)),
        | sg AS (SELECT doc_a, doc_b, ap, bp,
        |     CASE WHEN ap - lag(ap) OVER (PARTITION BY doc_a, doc_b, ap - bp
        |            ORDER BY ap) < 8 THEN 0 ELSE 1 END AS headf
        |   FROM seeds),
        | seeds2 AS MATERIALIZED (SELECT doc_a, doc_b, ap, bp FROM sg WHERE headf = 1),
        | ext AS (SELECT s.doc_a, s.doc_b, s.ap, s.bp,
        |     ta.text AS xa, tb.text AS xb, ta.n AS na, tb.n AS nb
        |   FROM seeds2 s JOIN base ta ON ta.doc_id = s.doc_a
        |   JOIN base tb ON tb.doc_id = s.doc_b),
        | $bx,
        | lens AS (SELECT doc_a, doc_b, ap, bp, xb, ll AS l_len, rl AS r_len
        |   FROM $bxFinal),
        | spans AS MATERIALIZED (SELECT DISTINCT doc_a, doc_b, ap - l_len AS a_start,
        |     l_len + r_len AS a_len, bp - l_len AS b_start,
        |     md5(substr(xb, CAST(bp - l_len AS INT), CAST(l_len + r_len AS INT))) AS span_md5
        |   FROM lens WHERE l_len + r_len >= $substrMinLen)""".stripMargin
  }

  /** The chain over the gate corpus — what dd_substr/scrub/cov append
    * their final SELECTs to. */
  private val substrSpanCtes = substrSpanCtesFrom(
    "SELECT doc_id, text, length(text) AS n FROM documents")

  /** The gear chunking chain over the gate corpus up to the ck
    * relation (doc_id, idx, ch, clen) — shared by the dd_cdc and
    * dd_cdc_incr twins. The per-doc gs list maps each codepoint to its
    * gear value ONCE; the cut lambda is then 8 list reads plus the
    * 2⁶⁴-wrapped weighted window sum the engine's O(1) rolling update
    * maintains (identical by the rolling-recurrence algebra). */
  private def cdcCkCtesFrom(baseBody: String): String =
    s"""WITH ${graft.functions.TextHashes.gearTableCtes},
       | base AS ($baseBody),
       | cpc AS (SELECT doc_id, text, n,
       |    CASE WHEN n >= 9 THEN
       |      list_transform(string_split(text, ''), c -> gr[(ord(c) % 256) + 1])
       |    ELSE [] END AS gs
       |  FROM base, gear),
       | cu AS (SELECT doc_id, text, n,
       |    list_filter(range(2, greatest(n - 6, 2)),
       |      i -> ((gs[i]*128::HUGEINT + gs[i+1]*64::HUGEINT + gs[i+2]*32::HUGEINT
       |           + gs[i+3]*16::HUGEINT + gs[i+4]*8::HUGEINT + gs[i+5]*4::HUGEINT
       |           + gs[i+6]*2::HUGEINT + gs[i+7]) % 18446744073709551616::HUGEINT)
       |           < 1152921504606846976::HUGEINT) AS cuts
       |  FROM cpc),
       | se AS (SELECT doc_id, text,
       |    list_prepend(CAST(1 AS BIGINT), cuts) AS starts,
       |    list_append(cuts, CAST(n + 1 AS BIGINT)) AS ends
       |  FROM cu),
       | ck AS MATERIALIZED (SELECT doc_id, k AS idx,
       |    md5(substr(text, CAST(starts[k] AS INT),
       |        CAST(ends[k] - starts[k] AS INT))) AS ch,
       |    ends[k] - starts[k] AS clen
       |  FROM se, LATERAL unnest(generate_series(1, len(starts))) u(k))""".stripMargin

  private val cdcCkCtes: String = cdcCkCtesFrom(
    "SELECT doc_id, text, length(text) AS n FROM documents")

  val oracle: Map[String, String] = Map(
    // the compliance ledger replayed from the raw corpus alone: the
    // index relations (doc counts, the cap-banded winnow rows, the
    // distinct gear chunks) re-derive per deletion status, so a scrub
    // that keeps a deleted doc's rows, drops a retained doc's, or
    // leaves an orphaned chunk diverges some count
    "dq_rtbf" -> {
      s"""${cdcCkCtesFrom(
           "SELECT doc_id, text, length(text) AS n FROM documents WHERE doc_id % 10 <> 7")},
         | del AS (SELECT doc_id FROM base WHERE doc_id % 20 = 5),
         | g AS (SELECT doc_id, n, CASE WHEN n >= 11 THEN
         |     list_transform(range(1, n - 8 + 2), i -> md5(substr(text, CAST(i AS INT), 8)))
         |   END AS hs FROM base),
         | w AS MATERIALIZED (SELECT doc_id,
         |   ${graft.functions.TextHashes.winnowWindowSql("hs")} AS sel
         |   FROM g WHERE n >= 11),
         | sel AS MATERIALIZED (SELECT DISTINCT doc_id,
         |     CAST(substr(s, 1, 8) AS BIGINT) AS pos, substr(s, 10) AS fp
         |   FROM w, unnest(w.sel) AS u(s)),
         | band AS (SELECT fp FROM sel GROUP BY fp
         |   HAVING count(DISTINCT doc_id) <= 32 AND count(*) <= 64),
         | widx AS MATERIALIZED (SELECT sel.* FROM sel
         |   WHERE fp IN (SELECT fp FROM band)),
         | nC AS (SELECT count(*)::BIGINT AS c FROM base),
         | nD AS (SELECT count(*)::BIGINT AS c FROM del),
         | wA AS (SELECT count(*)::BIGINT AS c FROM widx),
         | wD AS (SELECT count(*)::BIGINT AS c FROM widx
         |        WHERE doc_id % 20 = 5),
         | cA AS (SELECT count(DISTINCT ch)::BIGINT AS c FROM ck),
         | cR AS (SELECT count(DISTINCT ch)::BIGINT AS c FROM ck
         |        WHERE doc_id % 20 <> 5)
         |SELECT * FROM (
         | SELECT 'hashes' AS artifact, nC.c AS n_before,
         |   nD.c AS n_touching_before, nC.c - nD.c AS n_after,
         |   0::BIGINT AS n_touching_after FROM nC, nD
         | UNION ALL
         | SELECT 'signatures', nC.c, nD.c, nC.c - nD.c, 0::BIGINT FROM nC, nD
         | UNION ALL
         | SELECT 'winnow', wA.c, wD.c, wA.c - wD.c, 0::BIGINT FROM wA, wD
         | UNION ALL
         | SELECT 'chunks', cA.c, cA.c - cR.c, cR.c, 0::BIGINT FROM cA, cR
         |) ORDER BY artifact""".stripMargin
    },
    // same winnow selection as ts_winnow (positions kept), same 2..32
    // doc band + 64-occurrence cap; extension replayed per seed via
    // first-mismatch scans (list_position of the first false — O(span)
    // per seed, prefix equality is downward-closed so the count of
    // leading trues IS the extension length); DISTINCT collapses the
    // in-run seeds the engine kernel skips. span_md5 deliberately
    // hashes DOC_B's substring where the engine hashed doc_a's — equal
    // only if the span really is character-identical across docs.
    "dd_substr" -> (substrSpanCtes +
      """
        |SELECT doc_a, doc_b, a_start, a_len, b_start, span_md5
        |FROM spans ORDER BY doc_a, doc_b, a_start, b_start""".stripMargin),
    // the gear table regenerated from the same splitmix64 constants,
    // then boundaries, chunk slicing, corpus-wide chunk frequency, and
    // the ordered digest all re-derived in list algebra; a wrong gear
    // entry, a shifted boundary, a lost chunk, or a wrong dup count
    // all hash-mismatch.
    "dd_cdc" ->
      s"""$cdcCkCtes,
        | fq AS (SELECT ch, count(*) AS occ FROM ck GROUP BY ch)
        |SELECT ck.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(max(ck.clen) AS BIGINT) AS max_chunk,
        |  CAST(sum(CASE WHEN fq.occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
        |  md5(string_agg(ck.ch, ',' ORDER BY ck.idx)) AS chunks_md5
        |FROM ck JOIN fq USING (ch)
        |GROUP BY ck.doc_id ORDER BY ck.doc_id""".stripMargin,
    // the perm table regenerated from the splitmix64 constants, then
    // shingles, the FNV base fold, the affine permutations (HUGEINT
    // min is natively unsigned — the engine's top-bit flip exists only
    // to make its SIGNED min agree), per-source union signatures, and
    // pairwise agreement all re-derived; one wrong perm constant or a
    // single flipped min hash-mismatches the whole matrix. The DISTINCT
    // + MATERIALIZED fence before the 32-way perm join is oracle-cost
    // work (7.1 → 1.0 s): min over a SET equals min over the multiset,
    // and the fence stops the per-shingle fold re-evaluating per perm
    // (the binExtendCtes final-fence lesson)
    "dd_source_overlap" -> {
      val k = 32 // sourceOverlapK
      s"""WITH ${graft.functions.TextHashes.permTableCtes(k)},
         | toks AS (SELECT source, string_split(text, ' ') AS ts FROM documents),
         | shl AS (SELECT source,
         |    CASE WHEN len(ts) >= 3 THEN
         |      list_transform(range(1, len(ts) - 1),
         |        j -> ts[j] || ' ' || ts[j+1] || ' ' || ts[j+2])
         |    ELSE [] END AS shs FROM toks),
         | shx0 AS (SELECT source, unnest(shs) AS sh FROM shl),
         | shx AS (SELECT DISTINCT source, sh FROM shx0),
         | huf AS MATERIALIZED (SELECT source,
         |   ${graft.functions.TextHashes.fnvFoldSql("sh")} AS h FROM shx),
         | sigs AS MATERIALIZED (SELECT source, i,
         |    min(${graft.functions.TextHashes.affinePermSql("h", "a", "b")}) AS v
         |  FROM huf CROSS JOIN perms GROUP BY source, i)
         |SELECT a.source AS source_a, b.source AS source_b,
         |  CAST(sum(CASE WHEN a.v = b.v THEN 1 ELSE 0 END) AS BIGINT) AS matches,
         |  CAST((sum(CASE WHEN a.v = b.v THEN 1 ELSE 0 END) * 10000) // $k AS BIGINT) AS est_q
         |FROM sigs a JOIN sigs b ON a.i = b.i AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    // the same chunk chain, then the batch/corpus split and the
    // novel-vs-known probe re-derived; a chunk wrongly marked known
    // (or a stale index) flips the byte split and hash-mismatches
    "dd_cdc_incr" ->
      s"""$cdcCkCtes,
        | corpus_ch AS (SELECT DISTINCT ch FROM ck WHERE doc_id % 10 <> 7),
        | batch AS (SELECT ck.*, (c.ch IS NOT NULL) AS known
        |  FROM ck LEFT JOIN corpus_ch c USING (ch) WHERE ck.doc_id % 10 = 7)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN known THEN 0 ELSE 1 END) AS BIGINT) AS n_novel,
        |  CAST(sum(CASE WHEN known THEN 0 ELSE clen END) AS BIGINT) AS novel_chars,
        |  CAST(sum(CASE WHEN known THEN clen ELSE 0 END) AS BIGINT) AS dup_chars
        |FROM batch GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // plant + blocking + the exact edit-distance verify all re-derived;
    // a missed planted typo fails on rows, a leaked far pair on dist
    "dd_linkage" ->
      """WITH base AS (SELECT doc_id,
        |    'ent-' || substr(md5('key-' || CAST(doc_id AS VARCHAR)), 1, 12) AS k
        |  FROM documents),
        | donors AS (SELECT doc_id + 1 AS doc_id, k AS dk FROM base),
        | keys AS (SELECT b.doc_id,
        |    CASE WHEN b.doc_id % 7 = 3 AND d.dk IS NOT NULL
        |         THEN substr(d.dk, 1, 9) || 'z' || substr(d.dk, 11)
        |         ELSE b.k END AS k
        |  FROM base b LEFT JOIN donors d USING (doc_id)),
        | cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.k AS key_a, b.k AS key_b
        |  FROM keys a JOIN keys b
        |    ON substr(a.k, 1, 8) = substr(b.k, 1, 8) AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, key_a, key_b,
        |  CAST(levenshtein(key_a, key_b) AS BIGINT) AS dist
        |FROM cand WHERE levenshtein(key_a, key_b) <= 2
        |ORDER BY doc_a, doc_b""".stripMargin,
    // the UNCHANGED spans chain over the inline mixed-width corpus;
    // text bytes produced by DuckDB's chr(), coordinates in codepoints
    "dd_substr_uni" -> {
      val vals = uniDocs
        .map { case (id, t) => s"($id, ${sqlTextLit(t)})" }.mkString(",\n   ")
      substrSpanCtesFrom(
        s"""SELECT CAST(doc_id AS BIGINT) AS doc_id, text, length(text) AS n
           |  FROM (VALUES
           |   $vals) AS t(doc_id, text)""".stripMargin) +
        """
          |SELECT doc_a, doc_b, a_start, a_len, b_start, span_md5
          |FROM spans ORDER BY doc_a, doc_b, a_start, b_start""".stripMargin
    },
    // the spans chain verbatim, then the cut: every covered codepoint
    // of the HIGHER-id doc goes; kept text re-hashed independently
    // the cut rebuilt from merged islands (r13 oracle-cost work): the
    // first form probed every codepoint against every interval
    // (O(chars × intervals) lambda evals — ~8 s of gate budget); the
    // kept text is exactly the complement of the interval UNION, so
    // merge b-side intervals with the cov gaps-and-islands walk and
    // concatenate the O(islands) gap substrings instead. Same kept
    // string, same md5 — interval union ≡ island set by construction.
    "dd_substr_scrub" -> (substrSpanCtes +
      """,
        | iv2 AS (SELECT DISTINCT doc_b AS doc_id, b_start AS p,
        |     b_start + a_len - 1 AS e FROM spans),
        | m2 AS (SELECT doc_id, p, e,
        |     CASE WHEN p > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY p, e
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
        |          THEN 1 ELSE 0 END AS ns FROM iv2),
        | g3 AS (SELECT doc_id, p, e,
        |     sum(ns) OVER (PARTITION BY doc_id ORDER BY p, e
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM m2),
        | isl2 AS (SELECT doc_id, grp, min(p) AS s, max(e) AS e
        |   FROM g3 GROUP BY doc_id, grp),
        | gps AS (SELECT doc_id, s, e,
        |     coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS pe
        |   FROM isl2),
        | mids AS (SELECT g.doc_id,
        |     string_agg(substr(b.text, CAST(g.pe + 1 AS INT),
        |       CAST(g.s - g.pe - 1 AS INT)), '' ORDER BY g.s) AS mid,
        |     max(g.e) AS last_e
        |   FROM gps g JOIN base b USING (doc_id) GROUP BY g.doc_id),
        | cutc AS (SELECT b.doc_id, b.text,
        |     CASE WHEN m.doc_id IS NULL THEN b.text
        |          ELSE coalesce(m.mid, '') ||
        |               substr(b.text, CAST(m.last_e + 1 AS INT))
        |     END AS kept
        |   FROM base b LEFT JOIN mids m USING (doc_id))
        |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(length(text) - length(kept) AS BIGINT) AS n_cut,
        |  md5(kept) AS clean_md5
        |FROM cutc ORDER BY doc_id""".stripMargin),
    // the spans chain, then per-doc interval union (both roles) merged
    // with the same gaps-and-islands walk the engine windows
    "dd_substr_cov" -> (substrSpanCtes +
      """,
        | iv AS (SELECT DISTINCT doc_id, p, e FROM (
        |   SELECT doc_a AS doc_id, a_start AS p, a_start + a_len - 1 AS e FROM spans
        |   UNION ALL
        |   SELECT doc_b, b_start, b_start + a_len - 1 FROM spans)),
        | m AS (SELECT doc_id, p, e,
        |     CASE WHEN p > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY p, e
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
        |          THEN 1 ELSE 0 END AS ns FROM iv),
        | g2 AS (SELECT doc_id, p, e,
        |     sum(ns) OVER (PARTITION BY doc_id ORDER BY p, e
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM m),
        | isl AS (SELECT doc_id, grp, min(p) AS s, max(e) AS e FROM g2 GROUP BY doc_id, grp),
        | cov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_islands,
        |     CAST(sum(e - s + 1) AS BIGINT) AS dup_chars FROM isl GROUP BY doc_id)
        |SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_chars,
        |  coalesce(c.n_islands, 0) AS n_islands,
        |  coalesce(c.dup_chars, 0) AS dup_chars,
        |  CAST((10000 * coalesce(c.dup_chars, 0)) // b.n AS BIGINT) AS dup_pct_q
        |FROM base b LEFT JOIN cov c USING (doc_id) ORDER BY b.doc_id""".stripMargin),
    // the incremental span twin: plant + corpus/batch split + both
    // sides' winnow selection + the index's build-time boilerplate cap
    // + per-seed extension, all replayed; span_md5 from the CORPUS
    // text where the engine hashed the BATCH text (the dd_substr
    // cross-validation rule)
    "dd_substr_incr" -> {
      val (bi, biFinal) = graft.functions.TextHashes.binExtendCtes(
        "bi", "ext", Seq("doc_id", "match_id", "bp", "cp", "xb", "xc", "nb", "nc"),
        "bp", "cp", "xb", "xc", "nb", "nc")
      s"""WITH corpus AS (SELECT doc_id, text, length(text) AS n FROM documents
        |   WHERE doc_id % 10 <> 7),
        | donors AS (SELECT doc_id + 1 AS doc_id, text AS d_text FROM documents
        |   WHERE doc_id % 10 <> 7),
        | batch AS (SELECT b.doc_id,
        |     CASE WHEN b.doc_id % 30 = 7
        |          THEN substr(d.d_text, 1, 120) || '|' || b.text
        |          ELSE b.text END AS text
        |   FROM documents b LEFT JOIN donors d ON d.doc_id = b.doc_id
        |   WHERE b.doc_id % 10 = 7),
        | bt AS (SELECT doc_id, text, length(text) AS n FROM batch),
        | gc AS (SELECT doc_id, n, CASE WHEN n >= 11 THEN
        |     list_transform(range(1, n - 8 + 2), i -> md5(substr(text, CAST(i AS INT), 8)))
        |   END AS hs FROM corpus),
        | wc AS MATERIALIZED (SELECT doc_id, list_distinct(
        |     ${graft.functions.TextHashes.winnowWindowSql("hs")}) AS sel
        |   FROM gc WHERE n >= 11),
        | selc AS MATERIALIZED (SELECT doc_id, CAST(substr(s, 1, 8) AS BIGINT) AS pos,
        |     substr(s, 10) AS fp
        |   FROM wc, unnest(wc.sel) AS u(s)),
        | bandc AS (SELECT fp FROM selc GROUP BY fp
        |   HAVING count(DISTINCT doc_id) <= 32 AND count(*) <= 64),
        | idx AS (SELECT * FROM selc WHERE fp IN (SELECT fp FROM bandc)),
        | gb AS (SELECT doc_id, n, CASE WHEN n >= 11 THEN
        |     list_transform(range(1, n - 8 + 2), i -> md5(substr(text, CAST(i AS INT), 8)))
        |   END AS hs FROM bt),
        | wb AS MATERIALIZED (SELECT doc_id, list_distinct(
        |     ${graft.functions.TextHashes.winnowWindowSql("hs")}) AS sel
        |   FROM gb WHERE n >= 11),
        | selb AS (SELECT doc_id, CAST(substr(s, 1, 8) AS BIGINT) AS pos,
        |     substr(s, 10) AS fp
        |   FROM wb, unnest(wb.sel) AS u(s)),
        | seeds AS MATERIALIZED (SELECT DISTINCT b.doc_id AS doc_id, c.doc_id AS match_id,
        |     b.pos AS bp, c.pos AS cp
        |   FROM selb b JOIN idx c ON c.fp = b.fp),
        | sg AS (SELECT doc_id, match_id, bp, cp,
        |     CASE WHEN bp - lag(bp) OVER (PARTITION BY doc_id, match_id, bp - cp
        |            ORDER BY bp) < 8 THEN 0 ELSE 1 END AS headf
        |   FROM seeds),
        | seeds2 AS MATERIALIZED (SELECT doc_id, match_id, bp, cp FROM sg WHERE headf = 1),
        | ext AS (SELECT s.doc_id, s.match_id, s.bp, s.cp,
        |     tb.text AS xb, tb.n AS nb, tc.text AS xc, tc.n AS nc
        |   FROM seeds2 s JOIN bt tb ON tb.doc_id = s.doc_id
        |   JOIN corpus tc ON tc.doc_id = s.match_id),
        | $bi,
        | lens AS (SELECT doc_id, match_id, bp, cp, xc, ll AS l_len, rl AS r_len
        |   FROM $biFinal),
        | spans AS (SELECT DISTINCT doc_id, match_id, bp - l_len AS q_start,
        |     l_len + r_len AS len, cp - l_len AS c_start,
        |     md5(substr(xc, CAST(cp - l_len AS INT), CAST(l_len + r_len AS INT))) AS span_md5
        |   FROM lens WHERE l_len + r_len >= $substrMinLen)
        |SELECT doc_id, match_id, q_start, len, c_start, span_md5
        |FROM spans ORDER BY doc_id, match_id, q_start, c_start""".stripMargin
    },
    // same gram/selection chain as ts_winnow (hash part), same 2..32
    // df band, same overlap-coefficient verdict
    "dd_winnow" ->
      """WITH base AS (SELECT doc_id, text, length(text) AS n FROM documents),
        | g AS (SELECT doc_id, n, CASE WHEN n >= 11 THEN
        |     list_transform(range(1, n - 8 + 2), i -> md5(substr(text, CAST(i AS INT), 8)))
        |   END AS hs FROM base),
        | w AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform(
        |     range(1, len(hs) - 4 + 2),
        |     j -> least(hs[j], hs[j+1], hs[j+2], hs[j+3]))) AS fps
        |   FROM g WHERE n >= 11),
        | sz AS (SELECT doc_id, len(fps) AS nf FROM w),
        | e AS MATERIALIZED (SELECT doc_id, unnest(fps) AS fp FROM w),
        | dfq AS (SELECT fp, count(*) AS c FROM e GROUP BY fp),
        | rare AS MATERIALIZED (SELECT e.doc_id, e.fp FROM e JOIN dfq ON dfq.fp = e.fp
        |          WHERE dfq.c BETWEEN 2 AND 32),
        | pairs AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |     CAST(count(*) AS BIGINT) AS shared
        |   FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |   GROUP BY 1, 2)
        |SELECT p.da, p.db, p.shared,
        |  CAST(sa.nf AS BIGINT) AS nf_a, CAST(sb.nf AS BIGINT) AS nf_b,
        |  CAST((10000 * p.shared) // least(sa.nf, sb.nf) AS BIGINT) AS ov_q
        |FROM pairs p JOIN sz sa ON sa.doc_id = p.da JOIN sz sb ON sb.doc_id = p.db
        |WHERE p.shared >= 3 AND (10000 * p.shared) // least(sa.nf, sb.nf) >= 5000
        |ORDER BY p.da, p.db""".stripMargin,
    // the plant and the canonicalization chain both replayed in SQL —
    // same regex dialect subset (no RE2/Java divergence in these
    // patterns), same rule order
    "dd_urls" ->
      s"""WITH u AS (SELECT doc_id,
         |  (CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'https://' END) ||
         |  (CASE WHEN doc_id % 3 = 0 THEN 'HOST' || (doc_id % 13) || '.Example.COM'
         |        ELSE 'host' || (doc_id % 13) || '.example.com' END) ||
         |  '/p/' || (doc_id % 17) ||
         |  (CASE WHEN doc_id % 4 = 0 AND doc_id % 5 = 0 THEN '?utm_source=news&ref=5'
         |        WHEN doc_id % 4 = 0 THEN '?utm_source=news'
         |        WHEN doc_id % 5 = 0 THEN '?ref=5' ELSE '' END) ||
         |  (CASE WHEN doc_id % 6 = 0 THEN '#sec2' ELSE '' END) ||
         |  (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END) AS url
         | FROM documents),
         | nf AS (SELECT doc_id,
         |   regexp_replace(
         |     regexp_replace(lower(url), '^http://', 'https://'),
         |     '#.*', '') AS u0
         |   FROM u),
         | pq AS (SELECT doc_id, u0,
         |   CASE WHEN strpos(u0, '?') = 0 THEN u0
         |        ELSE substring(u0, 1, strpos(u0, '?') - 1) END AS base,
         |   CASE WHEN strpos(u0, '?') = 0 THEN ''
         |        ELSE substring(u0, strpos(u0, '?') + 1) END AS q
         |   FROM nf),
         | kp AS (SELECT doc_id, base,
         |   coalesce(array_to_string(list_filter(string_split(q, '&'),
         |     p -> NOT starts_with(p, 'utm_')), '&'), '') AS kept
         |   FROM pq),
         | c AS (SELECT doc_id,
         |   regexp_replace(
         |     CASE WHEN kept = '' THEN base ELSE base || '?' || kept END,
         |     '/$$', '') AS url_norm
         |   FROM kp)
         |SELECT url_norm, min(doc_id) AS keep_id, count(*) AS n_copies
         |FROM c GROUP BY url_norm ORDER BY url_norm""".stripMargin,
    "dd_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin,
    "dd_jaccard" ->
      """WITH t AS (SELECT doc_id, lang, CAST(floor(n_chars/100) AS INT) AS len_band,
        |                  list_distinct(string_split(text, ' ')) AS tk FROM documents)
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |   round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
        |     / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))), 4) AS jaccard
        |  FROM t a JOIN t b ON a.lang = b.lang AND a.len_band = b.len_band
        |    AND CAST(floor(len(a.tk)/4) AS INT) = CAST(floor(len(b.tk)/4) AS INT)
        |    AND least(len(a.tk), len(b.tk)) * 10 >= greatest(len(a.tk), len(b.tk)) * 9
        |    AND a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.9 ORDER BY doc_a, doc_b""".stripMargin,
    // FULL-PIPELINE OPH twin (the sk_theta discipline applied to LSH):
    // shingles, the one FNV fold, binning, per-bin mins, rotation
    // densification (nearest forward non-empty bin as a min-t
    // window), band keys, the candidate self-join, and the exact
    // verify all replay from the raw table — the bucket layout itself
    // is inside the hash gate, no fixture
    "dd_oph" -> {
      val fold = TextHashes.fnvFoldSql("g3")
      s"""WITH tkv AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         | sh AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g3
         |        FROM tkv, LATERAL unnest(generate_series(1, len(tk)-2)) g(i)),
         | hu AS (SELECT doc_id, (($fold) // 2)::BIGINT AS u FROM sh),
         | mins AS (SELECT doc_id, CAST(u % 24 AS INT) AS bin, min(u) AS mn
         |          FROM hu GROUP BY doc_id, CAST(u % 24 AS INT)),
         | bins AS (SELECT d.doc_id, g.j FROM (SELECT DISTINCT doc_id FROM mins) d,
         |          LATERAL unnest(generate_series(0, 23)) g(j)),
         | dense AS (SELECT doc_id, j, mn + t AS h FROM (
         |     SELECT b.doc_id, b.j, m.mn, ((m.bin - b.j + 24) % 24) AS t,
         |       row_number() OVER (PARTITION BY b.doc_id, b.j
         |         ORDER BY ((m.bin - b.j + 24) % 24)) AS rn
         |     FROM bins b JOIN mins m ON m.doc_id = b.doc_id) WHERE rn = 1),
         | bk AS (SELECT doc_id, CAST(j // 6 AS VARCHAR) || ':' ||
         |          string_agg(CAST(h AS VARCHAR), ':' ORDER BY j) AS bkey
         |        FROM dense GROUP BY doc_id, j // 6),
         | bw AS (SELECT bkey, count(*) AS c FROM bk GROUP BY bkey),
         | thin AS (SELECT bk.doc_id, bk.bkey
         |          FROM bk JOIN bw ON bw.bkey = bk.bkey AND bw.c <= 64),
         | cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |          FROM thin x JOIN thin y ON x.bkey = y.bkey AND x.doc_id < y.doc_id),
         | overd AS (SELECT DISTINCT bk.doc_id
         |           FROM bk JOIN bw ON bw.bkey = bk.bkey AND bw.c > 64),
         | md AS (SELECT d.doc_id, md5(d.text) AS h FROM documents d
         |        JOIN overd o ON o.doc_id = d.doc_id),
         | star AS (SELECT g.mn AS doc_a, m.doc_id AS doc_b,
         |            CAST(1.0 AS DOUBLE) AS jaccard
         |          FROM (SELECT h, min(doc_id) AS mn FROM md GROUP BY h) g
         |          JOIN md m ON m.h = g.h AND m.doc_id > g.mn),
         | t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk FROM documents),
         | v AS (SELECT cand.doc_a, cand.doc_b,
         |   round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
         |     / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))), 4) AS jaccard
         |  FROM cand JOIN t a ON a.doc_id = cand.doc_a JOIN t b ON b.doc_id = cand.doc_b)
         |SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT doc_a, doc_b, jaccard FROM v WHERE jaccard >= 0.5
         |  UNION ALL
         |  SELECT s.doc_a, s.doc_b, s.jaccard FROM star s
         |  LEFT JOIN cand c ON c.doc_a = s.doc_a AND c.doc_b = s.doc_b
         |  WHERE c.doc_a IS NULL)
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    // BLOCKING-FREE exact twin: the whole point of the gate — DuckDB
    // enumerates every admissible pair with no prefix filter, so
    // hash-equality proves the engine's prefix+position filters are
    // lossless. The length filter is implied by jaccard ≥ 0.9
    // (j ≤ min/max), hence mirrorable without a divergence window; the
    // threshold compares the UNROUNDED IEEE quotient on both sides.
    "dd_ppjoin" ->
      """WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk
        |           FROM documents),
        | c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
        |           / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))) AS j
        |       FROM t a JOIN t b ON a.doc_id < b.doc_id
        |        AND least(len(a.tk), len(b.tk)) * 10 >= greatest(len(a.tk), len(b.tk)) * 9)
        |SELECT doc_a, doc_b, round(j, 4) AS jaccard FROM c WHERE j >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,
    // FULL-pipeline replay of the capped join (the dd_oph discipline):
    // viral plant, shingles, FNV fold, df order, prefix membership,
    // collision-list census + cap, collision/length/position filters,
    // exact verify, and the md5 overflow stars — a wrong prefix
    // boundary, a mis-capped token, a lost natural pair, or a star that
    // pairs non-identical docs all hash-mismatch.
    "dd_ppjoin_capped" -> {
      val fold = graft.functions.TextHashes.fnvFoldSql("sh")
      val signed = graft.functions.TextHashes.fnvSignedSql("hu")
      s"""WITH t0 AS (SELECT doc_id,
         |        CASE WHEN doc_id % 10 = 3 THEN '$ppjoinViral' ELSE text END AS text
         |       FROM documents),
         | tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM t0),
         | shs AS (SELECT doc_id,
         |          unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |                                for i in range(1, len(w) - 1)])) AS sh
         |         FROM tok WHERE len(w) >= 3),
         | hu0 AS (SELECT doc_id, ($fold) AS hu FROM shs),
         | hd AS (SELECT DISTINCT doc_id, ($signed) AS h FROM hu0),
         | sz AS (SELECT doc_id, count(*) AS sz FROM hd GROUP BY doc_id),
         | df AS (SELECT h, count(*) AS df FROM hd GROUP BY h),
         | ord AS (SELECT hd.doc_id, hd.h,
         |          row_number() OVER (PARTITION BY hd.doc_id
         |                             ORDER BY df.df ASC, hd.h ASC) - 1 AS pos
         |         FROM hd JOIN df USING (h)),
         | pre AS (SELECT o.doc_id, o.h, o.pos, s.sz FROM ord o JOIN sz s USING (doc_id)
         |         WHERE o.pos < s.sz - (9 * s.sz + 9) // 10 + 1),
         | wid AS (SELECT h, count(*) AS w FROM pre GROUP BY h),
         | cold AS (SELECT p.doc_id, p.h, p.pos, p.sz
         |          FROM pre p JOIN wid USING (h) WHERE wid.w <= $ppjoinDfCapDefault),
         | cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM cold a JOIN cold b ON a.h = b.h AND a.doc_id < b.doc_id
         |           AND least(a.sz, b.sz) * 10 >= greatest(a.sz, b.sz) * 9
         |           AND least(a.sz - a.pos, b.sz - b.pos)
         |               >= (9 * (a.sz + b.sz) + 18) // 19),
         | sets AS (SELECT doc_id, list(h ORDER BY h) AS tk FROM hd GROUP BY doc_id),
         | ver AS (SELECT doc_a, doc_b,
         |          CAST(len(list_intersect(x.tk, y.tk)) AS DOUBLE)
         |            / (len(x.tk) + len(y.tk) - len(list_intersect(x.tk, y.tk))) AS j
         |         FROM cand JOIN sets x ON x.doc_id = doc_a
         |                   JOIN sets y ON y.doc_id = doc_b),
         | vpairs AS (SELECT doc_a, doc_b, round(j, 4) AS jaccard
         |            FROM ver WHERE j >= 0.9),
         | overdocs AS (SELECT DISTINCT p.doc_id
         |              FROM pre p JOIN wid USING (h) WHERE wid.w > $ppjoinDfCapDefault),
         | star0 AS (SELECT o.doc_id, md5(t0.text) AS mh
         |           FROM overdocs o JOIN t0 USING (doc_id)),
         | hub AS (SELECT mh, min(doc_id) AS hub_id FROM star0 GROUP BY mh),
         | star AS (SELECT h.hub_id AS doc_a, s.doc_id AS doc_b, 1.0 AS jaccard
         |          FROM star0 s JOIN hub h USING (mh) WHERE s.doc_id > h.hub_id)
         |SELECT doc_a, doc_b, jaccard FROM vpairs
         |UNION ALL
         |SELECT s.doc_a, s.doc_b, s.jaccard FROM star s
         | ANTI JOIN vpairs v USING (doc_a, doc_b)
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    // Independent clustering twin: DuckDB recomputes the SAME pair set,
    // closes it transitively with a recursive CTE (a completely different
    // algorithm from the engine's large-star/small-star rounds), and
    // re-derives per-cluster size + longest-member survivor — a wrong
    // component merge, a missed edge, or a survivor tie-break drift all
    // turn the hash red.
    "dd_cluster" ->
      """WITH RECURSIVE
        | t AS (SELECT doc_id, lang, CAST(floor(n_chars/100) AS INT) AS len_band,
        |              list_distinct(string_split(text, ' ')) AS tk FROM documents),
        | pairs AS (
        |   SELECT doc_a, doc_b FROM (
        |     SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
        |        / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))), 4) AS jaccard
        |     FROM t a JOIN t b ON a.lang = b.lang AND a.len_band = b.len_band
        |       AND CAST(floor(len(a.tk)/4) AS INT) = CAST(floor(len(b.tk)/4) AS INT)
        |       AND least(len(a.tk), len(b.tk)) * 10 >= greatest(len(a.tk), len(b.tk)) * 9
        |       AND a.doc_id < b.doc_id)
        |   WHERE jaccard >= 0.9),
        | edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        |           UNION SELECT doc_b, doc_a FROM pairs),
        | reach AS (SELECT u AS id, v AS r FROM edges
        |           UNION
        |           SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u),
        | comp AS (SELECT id, least(min(r), id) AS comp FROM reach GROUP BY id),
        | m AS (SELECT c.id, c.comp, d.n_chars,
        |       row_number() OVER (PARTITION BY c.comp
        |                          ORDER BY d.n_chars DESC, c.id ASC) AS rn
        |       FROM comp c JOIN documents d ON d.doc_id = c.id)
        |SELECT comp AS cluster_id, count(*) AS n_members,
        |       max(CASE WHEN rn = 1 THEN id END) AS survivor_id
        |FROM m GROUP BY comp ORDER BY cluster_id""".stripMargin,
    // LSH-cluster twin: every dumped pair's exact Jaccard re-verified
    // (≥ 0.5 — an unsound pair changes the edge set and the hash), then
    // the verified edges closed transitively by a recursive CTE and
    // rolled up with the longest-member survivor rule.
    "dd_cluster_lsh" ->
      """WITH RECURSIVE
        | p AS (SELECT doc_a, doc_b
        |        FROM read_parquet('/tmp/graft_fixtures/cluster_lsh_pairs/*.parquet')),
        | t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk FROM documents),
        | verified AS (
        |   SELECT p.doc_a, p.doc_b FROM p
        |   JOIN t a ON a.doc_id = p.doc_a JOIN t b ON b.doc_id = p.doc_b
        |   WHERE round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
        |     / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))), 4) >= 0.5),
        | edges AS (SELECT doc_a AS u, doc_b AS v FROM verified
        |           UNION SELECT doc_b, doc_a FROM verified),
        | reach AS (SELECT u AS id, v AS r FROM edges
        |           UNION
        |           SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u),
        | comp AS (SELECT id, least(min(r), id) AS comp FROM reach GROUP BY id),
        | m AS (SELECT c.id, c.comp, d.n_chars,
        |       row_number() OVER (PARTITION BY c.comp
        |                          ORDER BY d.n_chars DESC, c.id ASC) AS rn
        |       FROM comp c JOIN documents d ON d.doc_id = c.id)
        |SELECT comp AS cluster_id, count(*) AS n_members,
        |       max(CASE WHEN rn = 1 THEN id END) AS survivor_id
        |FROM m GROUP BY comp ORDER BY cluster_id""".stripMargin,
    // Soundness twin (fixture pattern): exact Jaccard recomputed from
    // `documents` for exactly the pairs the engine's LSH banding found.
    "dd_minhash" ->
      """WITH p AS (SELECT doc_a, doc_b FROM read_parquet('/tmp/graft_fixtures/minhash_pairs/*.parquet')),
        | t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk FROM documents)
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT p.doc_a, p.doc_b,
        |   round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
        |     / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))), 4) AS jaccard
        |  FROM p JOIN t a ON a.doc_id = p.doc_a JOIN t b ON b.doc_id = p.doc_b)
        |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,
    // Fully independent line-dedup twin: DuckDB replays the plant from
    // doc_id, re-chunks the body, recomputes per-line document
    // frequency, re-applies the ≥K rule, and re-derives the cleaned
    // text's md5 with an ordered string_agg — detection, removal, AND
    // reassembly are all recomputed from `documents` alone. The SAME
    // twin gates dd_lines_hashed: the hash-keyed plan must reproduce
    // the string-keyed result byte for byte.
    "dd_lines" -> linesTwinSql,
    "dd_lines_hashed" -> linesTwinSql,
    // Fully independent substring-span twin: DuckDB re-explodes the
    // k-grams (STRING-keyed, vs the engine's xxhash64 — a collision
    // diverges the compare), recounts distinct-doc frequency, and
    // re-merges coverage intervals with its own window walk; the
    // ordered start:end md5 pins every span boundary exactly.
    "dd_spans" ->
      s"""$spanCtes
         |SELECT sp.doc_id, count(*) AS n_spans,
         |  CAST(sum(sp.e - sp.s + 1) AS BIGINT) AS dup_tokens,
         |  md5(string_agg(sp.s || ':' || sp.e, ',' ORDER BY sp.s)) AS spans_md5,
         |  CAST(min(len(t.tk)) AS BIGINT) AS n_tokens
         |FROM sp JOIN tkv t ON t.doc_id = sp.doc_id
         |GROUP BY sp.doc_id ORDER BY sp.doc_id""".stripMargin,
    // The removal twin reuses the SAME independently-derived span set
    // and re-performs the scrub its own way: explode every token with
    // its position, anti-join against span coverage, and reassemble
    // the cleaned text with an ordered string_agg — byte-for-byte.
    "dd_spans_scrub" ->
      s"""$spanCtes,
         | tokpos AS (SELECT t.doc_id, g.i - 1 AS pos, t.tk[g.i] AS tok
         |            FROM tkv t, LATERAL unnest(generate_series(1, len(t.tk))) g(i)),
         | keptt AS (SELECT tp.doc_id, tp.pos, tp.tok FROM tokpos tp
         |           WHERE NOT EXISTS (SELECT 1 FROM sp
         |                  WHERE sp.doc_id = tp.doc_id
         |                    AND tp.pos BETWEEN sp.s AND sp.e))
         |SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
         |  CAST(len(t.tk) - count(k.tok) AS BIGINT) AS n_removed,
         |  md5(coalesce(string_agg(k.tok, ' ' ORDER BY k.pos), '')) AS clean_md5
         |FROM tkv t LEFT JOIN keptt k ON k.doc_id = t.doc_id
         |GROUP BY t.doc_id, len(t.tk) ORDER BY t.doc_id""".stripMargin,
    // Fully independent incremental twin: DuckDB replays the plant
    // (donor text/lang/n_chars from doc_id−1), re-derives the exact
    // layer by direct text equality (vs the engine's md5 — a hash
    // collision diverges it) and the near layer with its own list
    // intersection over the same banding, then re-applies the
    // exact-beats-near verdict rule.
    "dd_incremental" ->
      """WITH c AS (SELECT doc_id, text, lang, n_chars FROM documents
        |           WHERE doc_id % 10 != 7),
        | b AS (SELECT b0.doc_id,
        |        CASE WHEN b0.doc_id % 30 = 7 THEN d.text ELSE b0.text END AS text,
        |        CASE WHEN b0.doc_id % 30 = 7 THEN d.lang ELSE b0.lang END AS lang,
        |        CASE WHEN b0.doc_id % 30 = 7 THEN d.n_chars ELSE b0.n_chars END AS n_chars
        |       FROM documents b0 LEFT JOIN c d ON d.doc_id = b0.doc_id - 1
        |       WHERE b0.doc_id % 10 = 7),
        | ex AS (SELECT b.doc_id, min(c.doc_id) AS exact_match
        |        FROM b JOIN c ON b.text = c.text GROUP BY b.doc_id),
        | tb AS (SELECT doc_id, lang, CAST(floor(n_chars/100) AS INT) AS len_band,
        |               list_distinct(string_split(text, ' ')) AS tk FROM b),
        | tc AS (SELECT doc_id, lang, CAST(floor(n_chars/100) AS INT) AS len_band,
        |               list_distinct(string_split(text, ' ')) AS tk FROM c),
        | nr AS (SELECT tb.doc_id, min(tc.doc_id) AS near_match FROM tb JOIN tc
        |          ON tb.lang = tc.lang AND tb.len_band = tc.len_band
        |         AND CAST(floor(len(tb.tk)/4) AS INT) = CAST(floor(len(tc.tk)/4) AS INT)
        |        WHERE least(len(tb.tk), len(tc.tk)) * 10
        |                >= greatest(len(tb.tk), len(tc.tk)) * 9
        |          AND round(CAST(len(list_intersect(tb.tk, tc.tk)) AS DOUBLE)
        |          / (len(tb.tk) + len(tc.tk) - len(list_intersect(tb.tk, tc.tk))), 4) >= 0.9
        |        GROUP BY tb.doc_id)
        |SELECT b.doc_id,
        |  CASE WHEN ex.exact_match IS NOT NULL THEN 'exact'
        |       WHEN nr.near_match IS NOT NULL THEN 'near'
        |       ELSE 'unique' END AS verdict,
        |  coalesce(ex.exact_match, nr.near_match, -1) AS match_id
        |FROM b LEFT JOIN ex ON ex.doc_id = b.doc_id
        |       LEFT JOIN nr ON nr.doc_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    // Completeness+soundness twin: GIVEN the dumped signatures, the
    // hamming-≤-3 pair set is recomputed exhaustively (no banding) —
    // both a missed pair and a spurious pair diverge the compare.
    "dd_simhash" ->
      """WITH f AS (SELECT doc_id, fp FROM read_parquet('/tmp/graft_fixtures/simhash_sigs/*.parquet'))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
        |FROM f a JOIN f b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.fp, b.fp)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin)
}
