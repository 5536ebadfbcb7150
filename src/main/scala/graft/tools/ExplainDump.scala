package graft.tools

import java.nio.file.{Files, Paths}
import graft.SparkEntry

/** Writes EXPLAIN.md: the formatted physical plans of the flagship
  * queries, as committed evidence of the plan-level properties the
  * engine claims (pushdown, pruning, broadcast placement, single-
  * shuffle shapes). Regenerate after plan-affecting changes:
  * `sbt 'runMain graft.tools.ExplainDump'`. */
object ExplainDump {
  private val showcase = Seq(
    "ep2_range_max" -> "EP2 flagship: boundary aggs + range max (one shuffle family on user_id)",
    "f1_eq" -> "predicate pushdown + column pruning into the parquet scan",
    "j1_enrich_bcast" -> "fact ⋈ broadcast dim: no shuffle of the large side",
    "j4_semi" -> "dim-lookup loop inverted into a LeftSemi join",
    "dd_jaccard" -> "banded candidate join + codegen'd sorted-intersect verify",
    "dd_minhash" -> "shingle → minhash → LSH bands → bucket self-join → verify",
    "knn_cosine" -> "broadcast probe set, codegen'd vec_dot, windowed top-k",
    "a10_kde" -> "single-pass KDE: per-grid-point aggregates, no join",
    "ts_quality" -> "fused tokens_in_set_count: one scan-project, zero shuffle (was explode + agg)",
    "dd_embcos" -> "narrow candidate pairs: ids-only through bucket join + dedup, vectors join back after distinct",
    "dd_embcos_exact" -> "exact threshold join: precomputed norms, broadcast side, one dot per pair",
    "x_datetime" -> "date via cast chain: scan → project → sort, no per-row formatter",
    "j7_asof" -> "as-of join: union-tag + ONE hash shuffle + running last-ignoreNulls window (never an inequality BNLJ)",
    "j8_range" -> "range join: intervals exploded to week buckets → equi hash join + exact residual (never a theta BNLJ)",
    "dd_lines" -> "line boilerplate: zero-shuffle chunking → frequency agg → broadcast anti-membership → ordered rejoin",
    "dd_lines_hashed" -> "hashed line boilerplate: detection shuffle carries (xxhash64, doc_id) only — 8-byte keys, example strings fetched in a tiny second pass over the frequent set",
    "a15_equidepth" -> "equi-depth histogram: percentile cuts broadcast back, local bucket derivation — no global sort/Window",
    "dq_profile" -> "column profile: every metric for every column in ONE scan + one agg row, unpivoted by a pure array expr",
    "j7_asof_native" -> "whole-operator as-of: custom AsofJoinExec over co-partitioned time-sorted children — no union, no window, no post-filter",
    "dd_spans" -> "substring-span dedup: 8-byte k-gram detection shuffle → broadcast membership → ONE doc_id shuffle reused by the window walk and both span rollups",
    "zo_events" -> "z-order layout read side: both user_id and ts predicates reach the clustered copy's scan as PushedFilters — the footer stats they prune against are measured in BASELINE.md",
    "ts_perplexity" -> "LM perplexity: scan-local bigrams probe the pruned LM through a BroadcastHashJoin — the only exchange is the final integer agg on doc_id",
    "w12_scd2" -> "SCD2 build: CDC-collapse lag + version windows share ONE user_id exchange and sort",
    "pr_pagerank" -> "integer PageRank: rank ⋈ edges then partial-aggregated dst shuffle, all five rounds nested — the per-iteration dataflow pr_pagerank_bucketed makes exchange-free on the edge side",
    "pr_pagerank_bucketed" -> "bucketed-edge PageRank: every rank ⋈ edges round reads the src-bucketed table straight off the scan — no Exchange, no Sort on the edge side, pinned by PagerankBucketedSpec",
    "ds_weighted" -> "two-phase weighted top-k: the salted phase-1 rank plans a WindowGroupLimit (per-group k-filter below the sort); the global phase ranks only the ≤ salts·k survivors",
    "mv_refresh" -> "incremental MV refresh: stored-partials scan ∪ delta-only events scan → one merge agg — the base slice never re-reads",
    "ds_dsir" -> "DSIR scoring: token shuffle only for the 64-bucket LM pair; per-doc scores fold scan-locally against the broadcast one-row LUT map",
    "gr_scc" -> "SCC by pivot coloring (ColorSCC): node-keyed label joins only — the final plan is the last peel round's extraction over O(n) label state; no pair set is ever materialized",
    "ds_doremi" -> "DoReMi mixture: T+2 constant-width integer reduces (no row shuffle), |sources|-row excess/threshold relations broadcast back into the resample scan",
    "tx_dpo_pairs" -> "preference pairs: one score scan, one prompt_id window family, chosen relation joined back per prompt — no cartesian",
    "ann_lifecycle" -> "composed lifecycle serve: tombstones anti-joined broadcast BEFORE scoring, probe cells broadcast, tier-1 sliced scoring then shortlist rerank",
    "tok_unigram_encode" -> "unigram encode: word instances ⋈ broadcast trained vocab, one integer agg per doc — corpus text stays scan-local",
    "ds_curated_ml" -> "model-era curation composition: per-stage keep relations join on doc_id into one source-keyed agg — the trainers' reduces happen before the plan, thresholds ride as broadcasts",
    "ts_normalize" -> "fused NormalizeText kernel: one codegen'd byte pass per doc replaces three regex passes — scan → project → sort, zero shuffle",
    "ml_lr_curate" -> "classifier curation serve side: scan-local features standardized by driver-literal moments, scored by literal weights — zero joins, zero shuffles before the output sort",
    "w15_anomaly" -> "rolling anomaly z-scores: all three quantized frame sums ride ONE user_id window exchange; z is scan-local IEEE algebra over the window outputs",
    "ann_filtered" -> "filtered vector serve: label predicate joined into the candidate scan BEFORE scoring, probe cells broadcast — filtered-out vectors never reach a dot product",
    "ts_bm25" -> "BM25 serve: token stream semi-joined against the broadcast query-term set BEFORE the tf aggregate (no full inverted index materializes), df semi-pruned, per-qid top-k as partial+final WindowGroupLimit",
    "ts_hybrid_rrf" -> "hybrid RRF fusion: two output-sensitive top-k relations full-outer joined, the two-term reciprocal-rank sum quantized and window-ranked — O(queries·k) past the input builds",
    "gr_linkpred" -> "link prediction: adjacency self-join shuffles on the capped bridge key, degree joins on node id, existing edges anti-joined — candidate pairs bounded by Σ deg², never all-pairs",
    "ts_winnow" -> "winnowing fingerprints: the fused WinnowSel kernel runs the whole gram-hash + rightmost-min selection inside the scan projection — zero shuffle before the output sort",
    "dd_winnow" -> "winnow near-copy pairs: fingerprint-keyed explode shuffle, df 2..32 band via semi-join, pair aggregate + two size joins — boilerplate fingerprints never pair",
    "dd_substr" -> "substring-span dedup: winnow seeds shuffle as (xxhash64, pos) 16-byte rows, df band + semi-join + pair self-join all on the 8-byte key, texts join in ONCE per surviving pair for the SubstrExtend kernel — no cartesian, no per-seed text (SubstrPlanSpec)",
    "dd_substr_incr" -> "span-level incremental decontamination: the batch probes the PERSISTED winnow index — detection joins carry fingerprints only, corpus text joins in post-match (SubstrPlanSpec pins text-free detection)",
    "ds_temperature" -> "temperature rebalancing: one language aggregate, the |langs|-row rate relation broadcast back into the resample scan — per-doc keep/drop is scan-local FNV algebra",
    "dq_dp_hist" -> "DP histogram release: one bounds scan + one 10-key count; the seeded Laplace noise is computed on the 10-row release relation, never per document",
    "dq_dp_geo" -> "discrete geometric DP release: same one-aggregate shape as dq_dp_hist with integer-only noise algebra (binary-length inverse CDF) on the release relation",
    "tok_fertility" -> "per-language fertility: vocabulary-sized encode stats broadcast to word instances, |langs|-key rollup — corpus text never self-joins (SubstrPlanSpec pins the broadcast)",
    "dd_linkage" -> "blocked fuzzy linkage: ONE blocking-key shuffle, exact levenshtein verify inside blocks — candidates are sum-of-block-squares, never corpus-squared (the arithmetic is validated at 5M keys in BASELINE.md)",
    "dd_cdc" -> "content-defined chunking: the gear-hash boundary roll + slicing are scan-local integer algebra; the only exchange is the 16-byte chunk-hash frequency aggregate",
    "dd_cdc_incr" -> "incremental chunk dedup: the batch's chunk hashes probe the persisted corpus chunk index — the join carries 16-byte hashes only, text never shuffles, index side is O(distinct corpus chunks)",
    "gr_trustrank" -> "TrustRank: pr_pagerank's exact shuffle shape (ranks⋈edges + partially-aggregated contribs per round); the seed census rides as a broadcast one-row relation — only the teleport vector differs",
    "dd_source_overlap" -> "source-overlap sketch: scan-local shingle+FNV+perm hashing, ONE |sources|×k constant-width min reduce (map-side partials do the work), |sources|² broadcast self-join — the corpus never pairs",
    "dd_ppjoin" -> "lossless prefix-filtered similarity join: df-ordered prefixes meet through ONE broadcast token join, length+position filters cut 74% before any intersect, the match stream reaches the exact threshold map-side — the only wide exchange is the post-threshold survivor dedup",
    "ann_hamming" -> "binary-quantized serve: sign packing + popcount-XOR Hamming are scan-local integer algebra over two BIGINT words; shortlist is a WindowGroupLimit top-R, rerank touches R×probes full vectors",
    "sk_theta" -> "theta sketch: per-set k-min as WindowGroupLimit (map-side partial k-min), θ/cut/estimates on ≤2k-row broadcast relations — the shingle sets never shuffle",
    "gr_wcc" -> "weakly connected components: alternating large-star/small-star rounds, each one node-id shuffle over canonical edges — O(log n) rounds, no O(diameter) propagation, no adjacency collected",
    "gr_wcc_incr" -> "incremental CC: batch edges contract through the base labelling (two broadcast label joins), the star rounds run on the batch-sized quotient, labels compose by one comp-keyed join — the corpus never re-enters the loop",
    "dd_oph" -> "one-permutation MinHash: ONE FNV fold per shingle in the scan, per-bin mins, the OphDensify kernel on |docs| rows, band self-join with the broadcast hot-bucket anti-join + md5-star overflow path",
    "w18_attribution" -> "multi-touch attribution: clicks key on (user_id, epoch-day), purchases explode into 2 covering buckets — the j8 bucketized range join, no nested loop; struct-min/max first/last agg + a 25-key channel rollup in integer money",
    "ann_nsw_upsert" -> "incremental graph maintenance: ONE cogroup of (persisted shards, batch) on the stored shard id — insertion + beam serve run inside the group, the persisted index never rewrites, rerank joins corpus ∪ batch vectors",
    "ann_nsw_serve" -> "persisted-graph NSW serve: the parquet graph re-groups by the STORED shard id, beam search runs per shard against broadcast probes, exact-cosine rerank joins vectors back — zero build work on the query path",
    "dd_ppjoin_capped" -> "df-capped prefix join: the width census broadcasts, hot prefixes anti-joined out BEFORE the pairwise join (collision lists bounded by the cap), overflow docs route through the linear md5-star aggregate — never copies × copies",
    "dq_tcloseness" -> "t-closeness audit: one user_id window family builds the profile, the (QI × sensitive-domain) cell grid comes from two broadcast relations (global distribution + one-row total), integer rule on a domain-bounded aggregate",
    "ann_nsw_delete" -> "tombstoned graph deletes: the persisted shards re-group by stored shard id, the mark-delete beam (dead nodes route, never surface) runs in-group, rerank joins live candidates only — no graph rewrite, no rebuild",
    "mm_mjpeg_frames" -> "MJPEG decode audit: container demux + per-chunk ImageIO JPEG decode stay partition-local in one generator pass; the only exchange is the (media, frame)-keyed error aggregate over integer rows",
    "ann_nsw_lifecycle" -> "composed graph maintenance: ONE cogroup of (persisted shards, upsert batch) on the stored shard id, mark-delete beam serves in-group (dead nodes route, never surface), rerank joins corpus ∪ batch — no rebuild, no second exchange",
    "ann_nsw_compact" -> "tombstone compaction ledger: ONE shard regroup sweeps above-average-garbage shards (exact integer ranking), the post census reads the WRITTEN files, pre/post censuses join on the 8-row shard key — no pair work, no second graph exchange",
    "mm_frame_sample" -> "MJPEG frame sampling: decode + stride + error scoring scan-local in the kernel, ONE (media,frame) aggregate builds the relational fingerprint from sorted per-pixel structs — payloads never shuffle, only pixel rows",
    "mm_scene_sample" -> "per-scene sampling: decoded scene walk scan-local in the kernel, ONE (media,scene) aggregate derives start/end/midpoint — no window, no join",
    "mm_video_dedup" -> "cross-container video dedup: one decode pass per video builds the 16-byte content signature in the kernel, ONE signature aggregate groups — payloads never shuffle",
    "mm_audio_dedup" -> "audio near-dup over the compressed codec: decoded ADPCM block windows key by md5 scan-locally, the pair join carries (id, 16-byte key) rows only, size joins + threshold close it — samples never shuffle",
    "mm_adpcm_err" -> "ADPCM decode audit: blockwise decode + walk-source error scoring scan-local in one generator pass; the only exchange is the media-keyed error aggregate over integer rows",
    "dq_rtbf_ann" -> "ANN erasure sweep: the deletion predicate anti-joins broadcast out of the flat index relations, the NSW scrub is the forced compaction sweep in ONE shard regroup, ledger censuses re-count the written relations",
    "ann_nsw_reshard" -> "graph reshard: ONE (vec_id, ven) shuffle at the new count — adjacency discarded, not shipped — then the embarrassingly-parallel per-shard rebuild kernel; serve re-groups the written sibling by its stored shard id",
    "st_nsw_compact" -> "streaming CDC graph maintenance: per-trigger cogroup insert then the compaction sweep over versioned live state, final serve re-groups by stored shard id with the mark-delete beam — no rebuild outside swept shards",
    "dq_rtbf" -> "erasure compliance sweep: the deletion list broadcasts into anti-joins over the doc-keyed index relations, censuses are constant-width aggregates, the one scan is the no-refcount chunk recompute over retained docs")

  def main(args: Array[String]): Unit = {
    // 4 cores: the plans match the ones the specs pin (TestSpark)
    val spark = graft.GraftSession(4)
    val sf = "/root/testdata/sf0.001"
    graft.ops.Graph.ensurePrEdgesBucketed(spark, sf)
    val sb = new StringBuilder
    sb.append("# EXPLAIN — formatted physical plans of flagship queries\n\n")
    sb.append("Generated by `graft.tools.ExplainDump` at sf0.001 on the engine config\n")
    sb.append("(`GraftSession`, 4 cores — the specs' session); plan shapes are\n")
    sb.append("scale-independent (AQE re-plans sizes at runtime). The properties\n")
    sb.append("asserted here are also pinned by `PlanShapeSpec`.\n")
    showcase.foreach { case (name, why) =>
      val df = SparkEntry.queries(name)(spark, sf)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n_${why}_\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get("EXPLAIN.md"), sb.toString)
    println(s"wrote EXPLAIN.md (${showcase.size} plans)")
    spark.stop()
  }
}
