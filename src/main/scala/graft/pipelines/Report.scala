package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Sources.table
import graft.functions.Numeric.dround

/** EP3 reporting analytics (SURVEY.md §3 EP3; plot_YAP.py /
  * plot_max_parameters.py): distribution stats, grouped player stats,
  * correlation, histogram bins, KDE, and top-k tables. The engine returns
  * the *aggregate tables* the plots are drawn from (S5 rendering is out of
  * scope per SURVEY §2.1).
  *
  * Everything here is one hash-aggregate per query — partial (map-side)
  * aggregation first, so at 100 TB the shuffle carries one row per group,
  * not per input row. Percentiles use the exact `percentile` aggregate to
  * match pandas' linear interpolation (SURVEY A3), not percentile_approx.
  */
object Report {

  type Q = (SparkSession, String) => DataFrame

  /** A3 describe block — count/mean/std/min/quartiles/max per group
    * (plot_YAP.py:61-69). */
  private val a3Describe: Q = (s, d) =>
    table(s, d, "lineitem").groupBy("l_returnflag").agg(
      count(col("l_quantity")).as("n"),
      dround(avg(col("l_quantity")), 4).as("mean_qty"),
      dround(stddev(col("l_quantity")), 4).as("sd_qty"),
      min(col("l_quantity")).as("min_qty"),
      dround(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
      dround(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
      dround(expr("percentile(l_quantity, 0.75)"), 4).as("p75"),
      max(col("l_quantity")).as("max_qty"))
      .orderBy("l_returnflag")

  /** A4 grouped multi-agg player stats — the reference's Python
    * loop-over-unique-ids (plot_YAP.py:17-28) inverted into one
    * hash aggregate. */
  private val a4GroupStats: Q = (s, d) =>
    table(s, d, "events").groupBy("user_id").agg(
      count(col("value")).as("n"),
      dround(avg(col("value")), 4).as("mean_value"),
      dround(expr("percentile(value, 0.5)"), 4).as("median_value"),
      max(col("value")).as("max_value"))
      .orderBy("user_id")

  /** A6 Pearson correlation per group (plot_max_parameters.py:37-40). */
  private val a6Corr: Q = (s, d) =>
    table(s, d, "lineitem").groupBy("l_returnflag")
      .agg(dround(corr(col("l_quantity"), col("l_extendedprice")), 4).as("qty_price_corr"))
      .orderBy("l_returnflag")

  /** A8 min/max bounds + X8 grid snap — `np.floor(x/5)*5`
    * (optimal_pursuit.py:295-298). */
  private val a8Bounds: Q = (s, d) =>
    table(s, d, "events").agg(
      floor(min(col("value")) / 5).cast("long").multiply(5).as("grid_min"),
      ceil(max(col("value")) / 5).cast("long").multiply(5).as("grid_max"),
      dround(min(col("value")), 4).as("min_value"),
      dround(max(col("value")), 4).as("max_value"))

  /** A9 histogram binning per hue group (plot_YAP.py:50). */
  private val a9Hist: Q = (s, d) =>
    table(s, d, "events")
      .groupBy(col("event_type"), floor(col("value") / 50).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type", "bin")

  /** A10 gaussian KDE evaluated on a fixed grid (plot_YAP.py:56).
    * density(p) = mean(K_h(p - x)) with h=25: a broadcast cross join of
    * the 9-point grid against the fact table, then one aggregate —
    * distributed, no collect. The squared term is written as z*z (not
    * pow) so Spark and the oracle produce bit-identical doubles. */
  private val a10Kde: Q = (s, d) => {
    // single-pass form: one conditional-free aggregate column per grid
    // point, unpivoted with stack() — no join at all, one scan, one
    // 9-group-free reduce (vs the broadcast-cross-join + groupBy shape,
    // which paid a join and a shuffle for the same arithmetic)
    val pts = 0 to 400 by 50
    val aggs = pts.map { p =>
      val z = (lit(p) - col("value")) / 25.0
      avg(exp(z * z * -0.5)).as(s"d$p")
    }
    val row = table(s, d, "events").agg(aggs.head, aggs.tail: _*)
    val stackExpr = s"stack(${pts.length}, " +
      pts.map(p => s"$p, d$p").mkString(", ") + ") as (pt, raw)"
    row.select(expr(stackExpr))
      .select(col("pt"), dround(col("raw") / (25.0 * math.sqrt(2 * math.Pi)), 8).as("density"))
      .orderBy("pt")
  }

  /** A10 per-hue KDE — the reference draws one KDE curve per position
    * (plot_YAP.py:56, plot_max_parameters.py:42-44 `hue=`): same
    * single-pass stack() shape as [[a10Kde]], grouped by event_type. One
    * hash aggregate, 9 agg columns per group — still no join, and the
    * shuffle carries one row per (group × 1), not per input row. */
  private val a10KdePos: Q = (s, d) => {
    val pts = 0 to 400 by 50
    val aggs = pts.map { p =>
      val z = (lit(p) - col("value")) / 25.0
      avg(exp(z * z * -0.5)).as(s"d$p")
    }
    val rows = table(s, d, "events").groupBy("event_type").agg(aggs.head, aggs.tail: _*)
    val stackExpr = s"stack(${pts.length}, " +
      pts.map(p => s"$p, d$p").mkString(", ") + ") as (pt, raw)"
    rows.select(col("event_type"), expr(stackExpr))
      .select(col("event_type"), col("pt"),
        dround(col("raw") / (25.0 * math.sqrt(2 * math.Pi)), 8).as("density"))
      .orderBy("event_type", "pt")
  }

  /** A11 group row counts (calculate_YAP.py:28). */
  private val a11Counts: Q = (s, d) =>
    table(s, d, "events").groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy("event_type")

  /** O1 sort desc by count (plot_YAP.py:73). */
  private val o1SortCounts: Q = (s, d) =>
    table(s, d, "events").groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("event_type"))

  /** O3 top-k by mean with a support filter — count>=k then rank
    * (plot_YAP.py:74-79). HAVING = filter after agg. */
  private val o3TopK: Q = (s, d) =>
    table(s, d, "events").groupBy("user_id")
      .agg(dround(avg(col("value")), 4).as("mean_value"), count(lit(1)).as("n"))
      .filter(col("n") >= 20)
      .orderBy(desc("mean_value"), asc("user_id"))
      .limit(10)

  /** EP3 composite — the full plot_YAP.py:31-81 chain as ONE pipeline:
    * two metric tables → rename → left join (J2/J3) → derived delta (P4)
    * → clamp (X12) → recode (X12) → grouped stats (A4) → ordered output
    * (O1-O3). Exercises operator COMPOSITION, not just single ops. */
  private val ep3Report: Q = (s, d) => {
    val e = table(s, d, "events")
    val act = e.filter(col("event_type") === "purchase").groupBy("user_id")
      .agg(dround(avg(col("value")), 4).as("val_act"))
    val opt = e.filter(col("event_type") === "click").groupBy("user_id")
      .agg(dround(avg(col("value")), 4).as("val_opt"))
    val joined = act.join(opt, Seq("user_id"), "left")
      .select(col("user_id"),
        greatest(coalesce(dround(col("val_opt") - col("val_act"), 4), lit(0.0)), lit(0.0))
          .as("delta_clamped"),
        when(col("user_id") % 3 === 0, "A")
          .when(col("user_id") % 3 === 1, "B")
          .otherwise("C").as("tier"))
    joined.groupBy("tier").agg(
      count(col("delta_clamped")).as("n"),
      dround(avg(col("delta_clamped")), 4).as("mean_delta"),
      dround(expr("percentile(delta_clamped, 0.5)"), 4).as("median_delta"),
      max(col("delta_clamped")).as("max_delta"))
      .orderBy("tier")
  }

  /** The EXACT plot_YAP.py:31-79 chain over the NFL metric tables:
    * rename opt columns (P3) → natural left joins on the full shared
    * key + dropDuplicates (J2/J3/A1) → delta columns (P4) → clamp
    * negative YAP to 0 and recode positions (X12) → per-player stats
    * (A4) → support filter count ≥ 50 and sort desc by mean (F4/O1-O3).
    *
    * NaN boundary (SURVEY §7.4-2): the reference's CSVs carry literal
    * NaN in metric columns and pandas' mean/count skip NaN; Spark's
    * avg skips NULL but PROPAGATES NaN — so NaN → null at ingest
    * (X11/X15 in engine terms). */
  def playerReport(yap: DataFrame, maxParams: DataFrame, maxParamsOpt: DataFrame): DataFrame = {
    val key = Seq("game_ID", "play_ID", "NFL_ID", "name", "position")
    def denan(df: DataFrame, cols: String*): DataFrame =
      cols.foldLeft(df)((d, c) => d.withColumn(c, when(isnan(col(c)), lit(null)).otherwise(col(c))))
    val opt = denan(maxParamsOpt, "max_vel", "max_accel")
      .withColumnRenamed("max_vel", "max_vel_opt")
      .withColumnRenamed("max_accel", "max_accel_opt")
    val params = denan(maxParams, "max_vel", "max_accel")
      .join(opt, key, "left").dropDuplicates()
      .withColumn("delta_vel", col("max_vel_opt") - col("max_vel"))
      .withColumn("delta_accel", col("max_accel_opt") - col("max_accel"))
    val full = denan(yap, "YAP")
      .join(params, key, "left").dropDuplicates()
      .withColumn("YAP", when(col("YAP") < 0, 0.0).otherwise(col("YAP")))
      .withColumn("position",
        when(col("position").isin("CB", "SS", "FS"), "DB")
          .when(col("position").isin("MLB", "OLB", "ILB"), "LB")
          .when(col("position").isin("DT", "NT"), "T")
          .otherwise(col("position")))
    full.groupBy("NFL_ID").agg(
      // min, not first: name/position are functionally dependent on
      // NFL_ID, and min is deterministic under any partitioning (first
      // depends on partition visit order)
      min(col("name")).as("name"),
      min(col("position")).as("position"),
      count(col("YAP")).as("n"),
      dround(avg(col("YAP")), 4).as("mean_yap"),
      dround(expr("percentile(YAP, 0.5)"), 4).as("median_yap"),
      max(col("YAP")).as("max_yap"))
      .filter(col("n") >= 50)
      .orderBy(desc("mean_yap"), asc("NFL_ID"))
  }

  /** plot_max_parameters.py:16-40 — position recode (X12), per-position
    * describe block (A3) and Pearson correlation of max velocity vs
    * acceleration (A6) over the max-params metric table. Rows with
    * missing metrics (no vicinity crossing) are excluded, matching
    * pandas' NaN-skipping statistics. */
  def maxParamsReport(maxParams: DataFrame): DataFrame =
    maxParams
      .filter(col("max_vel").isNotNull && !isnan(col("max_vel")) &&
        col("max_accel").isNotNull && !isnan(col("max_accel")))
      .withColumn("position",
        when(col("position").isin("CB", "SS", "FS"), "DB")
          .when(col("position").isin("MLB", "OLB", "ILB"), "LB")
          .when(col("position").isin("DT", "NT"), "T")
          .otherwise(col("position")))
      .groupBy("position").agg(
        count(lit(1)).as("n"),
        dround(avg(col("max_vel")), 4).as("mean_vel"),
        dround(stddev(col("max_vel")), 4).as("sd_vel"),
        dround(expr("percentile(max_vel, 0.5)"), 4).as("median_vel"),
        dround(avg(col("max_accel")), 4).as("mean_accel"),
        dround(corr(col("max_vel"), col("max_accel")), 4).as("vel_accel_corr"))
      .orderBy("position")

  /** playerReport driven on the reference's own golden metric outputs —
    * real BDB-season data (17,420 rows per table). Oracle-checked: the
    * DuckDB twin recomputes the whole chain from the same CSVs via
    * read_csv (plus the independently-computed goldens in
    * ReportGoldenSpec). */
  private val ep3PlayerReport: Q = (s, _) => {
    import graft.io.Sources.{csv, maxParamsMetricSchema, referenceFile, yapMetricSchema}
    playerReport(
      csv(s, referenceFile("tackler_YAP_FINAL.csv"), yapMetricSchema),
      csv(s, referenceFile("tackler_max_params_FINAL.csv"), maxParamsMetricSchema),
      csv(s, referenceFile("tackler_max_params_opt_FINAL.csv"), maxParamsMetricSchema))
  }

  private val ep3MaxParamsReport: Q = (s, _) =>
    maxParamsReport(graft.io.Sources.csv(s,
      graft.io.Sources.referenceFile("tackler_max_params_FINAL.csv"),
      graft.io.Sources.maxParamsMetricSchema))

  /** A13 pivot — per-user mean value spread across event types as
    * columns (the wide reporting shape pandas gets from
    * `pivot_table`). The pivot VALUES are passed explicitly: without
    * them Spark runs a full distinct-collect pass over the column just
    * to learn the output schema — at 100 TB that is an extra scan and a
    * driver-side dependency on data, both avoidable because a report's
    * columns are part of its contract. One shuffle, partial-aggregated
    * map-side like any groupBy. */
  private val a13Pivot: Q = (s, d) =>
    graft.io.Sources.table(s, d, "events").groupBy("user_id")
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(dround(avg(col("value")), 4))
      .orderBy("user_id")

  /** A14 rollup — quantity totals at (flag, status), per-flag subtotal,
    * and grand total in ONE pass: Spark expands the grouping sets and
    * partial-aggregates every level map-side, so the subtotal rows cost
    * no extra scan (vs three queries + union). Sums are over integral
    * doubles (checked: every l_quantity is whole), so accumulation
    * order cannot produce cross-engine float drift. */
  private val a14Rollup: Q = (s, d) =>
    graft.io.Sources.table(s, d, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        dround(sum(col("l_quantity")), 4).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** A17 cube — the full grouping-set lattice over (flag, status):
    * per-pair totals, per-flag and per-status marginals, and the grand
    * total in ONE pass (the one OLAP grouping shape rollup doesn't
    * cover — rollup omits the per-status marginal). `grouping_id`
    * disambiguates a rolled-up level from a genuine NULL data value.
    * Same scale posture as A14: Spark expands the grouping sets and
    * partial-aggregates every level map-side — one scan, one shuffle,
    * and sums over integral doubles so accumulation order cannot drift
    * across engines. */
  private val a17Cube: Q = (s, d) =>
    graft.io.Sources.table(s, d, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        dround(sum(col("l_quantity")), 4).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** A18 grouping sets — the ARBITRARY grouping selection neither
    * rollup nor cube expresses: exactly the two single-column
    * marginals, no pair level, no grand total (rollup(f,s) is the
    * prefix chain, cube the full lattice). Same scale posture: Spark
    * expands the requested sets and partial-aggregates every level
    * map-side — one scan, one shuffle. */
  private val a18Groupsets: Q = (s, d) =>
    graft.io.Sources.table(s, d, "lineitem")
      .groupingSets(Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        dround(sum(col("l_quantity")), 4).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** A15 equi-depth histogram — decile buckets of lineitem price. The
    * naive form is `ntile(10)` over a GLOBAL order: one range exchange
    * into effectively one sorting task at 100 TB. The scale shape used
    * here: (1) one aggregate computes the nine interior cut points,
    * (2) the 9-element cut array broadcasts back and each row derives
    * its bucket locally, (3) one partial-aggregated groupBy rolls the
    * buckets up. Two scans, no global sort, no wide exchange. Cuts are
    * the EXACT interpolated percentile (gradeable; the 100 TB variant
    * swaps in `percentile_approx` — ops.Sketches documents its error),
    * rounded to cents on BOTH sides so bucket assignment can't flip on
    * a last-ulp interpolation difference between engines. */
  private val a15Equidepth: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val li = graft.io.Sources.table(s, d, "lineitem").select(col("l_extendedprice").as("v"))
    val qs = (1 to 9).map(_ / 10.0)
    // The nine EXACT interpolated cut points, computed by two-pass
    // distributed SELECTION instead of Spark's `percentile` aggregate
    // (r19, guide §1.2/§4): that aggregate is a
    // TypedImperativeAggregate — per-partition OpenHashMap buffers,
    // serialized between partial and final, all interpreted — and
    // profiled as 2.67 s of the query's 2.71 s at sf0.1 (and a
    // groupBy(v) + cumulative-window variant was no better: 583k of
    // the 600k prices are distinct, so a window over distinct values
    // is a near-global single-partition sort). The selection shape is
    // scale-correct by construction: (1) one agg gets (min, max, n);
    // (2) values bucket into 1,024 deterministic fixed-width bins —
    // a codegen'd map-side-combined count per bin, BOUNDED at any
    // corpus size; (3) a trivial cumulative over the 1,024-row bin
    // histogram locates, for each of the 18 bracketing order
    // statistics (lo/hi of pos = q·(n-1)), which bin holds it;
    // (4) ONLY those ≤18 bins' rows (~n/1024 each) are re-scanned,
    // locally ranked, and the exact order statistics picked.
    // Interpolation replicates Spark's Percentile.getPercentile
    // exactly — cut = (hi-pos)·lowerKey + (pos-lo)·higherKey — and
    // was checked bit-equal to `percentile(v, ...)` at sf0.001/0.01/
    // 0.1 before the cent rounding (floor(c·100+0.5)/100 — dround's
    // half-away-from-zero; Spark's round() would HALF_UP via
    // BigDecimal and can disagree with DuckDB's C rounding), which
    // absorbs last-ulp differences exactly as before.
    val nBins = 1024
    import s.implicits._
    val statsRow = li.agg(min(col("v")), max(col("v")), count(lit(1))).head
    val (mn, mx, n) = (statsRow.getDouble(0), statsRow.getDouble(1), statsRow.getLong(2))
    def binOf(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      if (mx == mn) lit(0L)
      else least(greatest(floor((v - mn) / ((mx - mn) / nBins)).cast("long"),
        lit(0L)), lit(nBins - 1L))
    // bin histogram: ≤1,024 rows BY CONSTRUCTION — a scalar-class
    // driver fetch (the convergence-count discipline), never data
    val hist = li.groupBy(binOf(col("v")).as("bin")).agg(count(lit(1)).as("c"))
      .orderBy("bin").collect().map(r => (r.getLong(0), r.getLong(1)))
    val cumStart = { // bin -> count of rows in earlier bins
      var acc = 0L
      hist.map { case (b, c) => val s0 = acc; acc += c; (b, s0) }.toMap
    }
    def binFor(idx: Long): Long = {
      var acc = 0L
      hist.find { case (_, c) => acc += c; acc > idx }.get._1
    }
    // the ≤18 bracketing order statistics (lo/hi of pos = q·(n-1)),
    // located in their bins by plain arithmetic on the histogram
    val located = qs.flatMap { q =>
      val pos = q * (n - 1).toDouble
      Seq(math.floor(pos).toLong, math.ceil(pos).toLong).distinct.map { idx =>
        val b = binFor(idx)
        (pos, idx, b, cumStart(b))
      }
    }.distinct
    val locDf = located.toDF("pos", "idx", "bin", "cum_start")
    val neededBins = located.map(_._3).distinct
    // refine pass: rank rows inside the ≤18 needed bins only (~n/1024
    // rows each); equal values rank arbitrarily among themselves, but
    // any index inside a run of equals selects the same VALUE, so the
    // pick is exact
    val picked = li.select(col("v"), binOf(col("v")).as("bin"))
      .filter(col("bin").isin(neededBins: _*))
      .withColumn("rn", row_number().over(
        Window.partitionBy("bin").orderBy("v")).cast("long"))
      .join(broadcast(locDf.withColumnRenamed("bin", "lbin")),
        col("rn") - 1L === col("idx") - col("cum_start") && col("bin") === col("lbin"))
      .select(col("pos"), col("idx"), col("v"))
    val cuts = picked
      .groupBy(col("pos"))
      .agg(min(when(col("idx") === floor(col("pos")).cast("long"), col("v")))
          .as("lower_key"),
        min(when(col("idx") === ceil(col("pos")).cast("long"), col("v")))
          .as("higher_key"))
      .select(when(ceil(col("pos")) === floor(col("pos")), col("lower_key"))
        .otherwise((ceil(col("pos")).cast("double") - col("pos")) * col("lower_key") +
          (col("pos") - floor(col("pos"))) * col("higher_key")).as("cut"))
      .agg(expr("transform(array_sort(collect_list(cut)), c -> floor(c * 100 + 0.5) / 100)")
        .as("cuts"))
    li.crossJoin(broadcast(cuts))
      // codegen'd strict-below count — the HOF filter/size pair was
      // interpreted per row (see ArrayKernels.countBelow); identical
      // value: #cuts < v == #cuts with v > c
      .select(col("v"), graft.functions.ArrayFns.countBelow(col("cuts"), col("v")).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        dround(min(col("v")), 2).as("min_v"), dround(max(col("v")), 2).as("max_v"))
      .orderBy("bucket")
  }

  /** A16 rank family — per-event-type user ranking by total value with
    * rank + percent_rank. The window partitions by event_type (bounded
    * groups), never a single global order; the upstream agg is one
    * partial-aggregated shuffle. Rounding before ranking is not needed:
    * rank ties come from exact-equal sums, and percent_rank is emitted
    * rounded (not ranked on). */
  private val a16PercentRank: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val totals = graft.io.Sources.table(s, d, "events")
      .groupBy("event_type", "user_id")
      .agg(dround(sum(col("value")), 4).as("total_value"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("total_value").desc, col("user_id").asc)
    totals.select(col("event_type"), col("user_id"), col("total_value"),
        rank().over(w).cast("long").as("rnk"),
        dround(percent_rank().over(w), 6).as("pct_rank"))
      .filter(col("rnk") <= 10)
      .orderBy("event_type", "rnk")
  }

  val queries: Map[String, Q] = Map(
    "a13_pivot" -> a13Pivot,
    "a16_percent_rank" -> a16PercentRank,
    "a15_equidepth" -> a15Equidepth,
    "a14_rollup" -> a14Rollup,
    "a17_cube" -> a17Cube,
    "a18_groupsets" -> a18Groupsets,
    "ep3_report" -> ep3Report,
    "ep3_player_report" -> ep3PlayerReport,
    "ep3_max_params_report" -> ep3MaxParamsReport,
    "a3_describe" -> a3Describe,
    "a4_group_stats" -> a4GroupStats,
    "a6_corr" -> a6Corr,
    "a8_bounds" -> a8Bounds,
    "a9_hist" -> a9Hist,
    "a10_kde" -> a10Kde,
    "a10_kde_pos" -> a10KdePos,
    "a11_counts" -> a11Counts,
    "o1_sort_counts" -> o1SortCounts,
    "o3_topk" -> o3TopK)

  val oracle: Map[String, String] = Map(
    // pivot = conditional aggregation, spelled out
    "a13_pivot" ->
      """SELECT user_id,
        | round(avg(CASE WHEN event_type = 'click' THEN value END), 4) AS click,
        | round(avg(CASE WHEN event_type = 'view' THEN value END), 4) AS view,
        | round(avg(CASE WHEN event_type = 'purchase' THEN value END), 4) AS purchase,
        | round(avg(CASE WHEN event_type = 'signup' THEN value END), 4) AS signup,
        | round(avg(CASE WHEN event_type = 'error' THEN value END), 4) AS error
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "a16_percent_rank" ->
      """WITH t AS (SELECT event_type, user_id,
        |    round(sum(value), 4) AS total_value
        |  FROM events GROUP BY event_type, user_id),
        | r AS (SELECT event_type, user_id, total_value,
        |    CAST(rank() OVER w AS BIGINT) AS rnk,
        |    round(percent_rank() OVER w, 6) AS pct_rank
        |  FROM t WINDOW w AS (PARTITION BY event_type
        |    ORDER BY total_value DESC, user_id ASC))
        |SELECT event_type, user_id, total_value, rnk, pct_rank
        |FROM r WHERE rnk <= 10 ORDER BY event_type, rnk""".stripMargin,
    // same cut derivation (quantile_cont = Spark's exact interpolated
    // percentile), same floor-based cent rounding, same strict-> bucket
    "a15_equidepth" ->
      """WITH c AS (SELECT list_transform(
        |    quantile_cont(l_extendedprice, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
        |    x -> floor(x * 100 + 0.5) / 100) AS cuts FROM lineitem),
        | b AS (SELECT l.l_extendedprice AS v,
        |    CAST(len(list_filter(c.cuts, x -> l.l_extendedprice > x)) AS INT) AS bucket
        |  FROM lineitem l, c)
        |SELECT bucket, count(*) AS n,
        |  round(min(v), 2) AS min_v, round(max(v), 2) AS max_v
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "a14_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        | count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    // grouping() in DuckDB returns the same bitmask convention as
    // Spark's grouping_id (bit set = column rolled up, first arg most
    // significant), so gid is compared directly, not just the aggregates
    "a17_cube" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        | count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    // the non-hierarchical selection: exactly the two marginals
    "a18_groupsets" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        | count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "ep3_player_report" ->
      s"""WITH yap AS (
        |  SELECT game_ID, play_ID, NFL_ID, name, position,
        |   CASE WHEN isnan(YAP) THEN NULL ELSE YAP END AS YAP
        |  FROM read_csv('${graft.io.Sources.referenceDir}/tackler_YAP_FINAL.csv', header=true)),
        | mp AS (
        |  SELECT game_ID, play_ID, NFL_ID, name, position,
        |   CASE WHEN isnan(max_vel) THEN NULL ELSE max_vel END AS max_vel,
        |   CASE WHEN isnan(max_accel) THEN NULL ELSE max_accel END AS max_accel
        |  FROM read_csv('${graft.io.Sources.referenceDir}/tackler_max_params_FINAL.csv', header=true)),
        | mpo AS (
        |  SELECT game_ID, play_ID, NFL_ID, name, position,
        |   CASE WHEN isnan(max_vel) THEN NULL ELSE max_vel END AS max_vel_opt,
        |   CASE WHEN isnan(max_accel) THEN NULL ELSE max_accel END AS max_accel_opt
        |  FROM read_csv('${graft.io.Sources.referenceDir}/tackler_max_params_opt_FINAL.csv', header=true)),
        | params AS (
        |  SELECT DISTINCT mp.game_ID, mp.play_ID, mp.NFL_ID, mp.name, mp.position,
        |   mp.max_vel, mp.max_accel, mpo.max_vel_opt, mpo.max_accel_opt
        |  FROM mp LEFT JOIN mpo ON mp.game_ID = mpo.game_ID AND mp.play_ID = mpo.play_ID
        |   AND mp.NFL_ID = mpo.NFL_ID AND mp.name = mpo.name AND mp.position = mpo.position),
        | full0 AS (
        |  SELECT DISTINCT y.game_ID, y.play_ID, y.NFL_ID, y.name, y.position, y.YAP,
        |   p.max_vel, p.max_accel, p.max_vel_opt, p.max_accel_opt
        |  FROM yap y LEFT JOIN params p ON y.game_ID = p.game_ID AND y.play_ID = p.play_ID
        |   AND y.NFL_ID = p.NFL_ID AND y.name = p.name AND y.position = p.position),
        | recoded AS (
        |  SELECT NFL_ID, name,
        |   CASE WHEN position IN ('CB','SS','FS') THEN 'DB'
        |        WHEN position IN ('MLB','OLB','ILB') THEN 'LB'
        |        WHEN position IN ('DT','NT') THEN 'T'
        |        ELSE position END AS position,
        |   CASE WHEN YAP < 0 THEN 0.0 ELSE YAP END AS YAP
        |  FROM full0)
        |SELECT NFL_ID, min(name) AS name, min(position) AS position,
        | count(YAP) AS n, round(avg(YAP), 4) AS mean_yap,
        | round(quantile_cont(YAP, 0.5), 4) AS median_yap, max(YAP) AS max_yap
        |FROM recoded GROUP BY NFL_ID HAVING count(YAP) >= 50
        |ORDER BY mean_yap DESC, NFL_ID ASC""".stripMargin,
    "ep3_max_params_report" ->
      s"""WITH mp AS (
        |  SELECT position, max_vel, max_accel
        |  FROM read_csv('${graft.io.Sources.referenceDir}/tackler_max_params_FINAL.csv', header=true)
        |  WHERE max_vel IS NOT NULL AND NOT isnan(max_vel)
        |   AND max_accel IS NOT NULL AND NOT isnan(max_accel)),
        | recoded AS (
        |  SELECT CASE WHEN position IN ('CB','SS','FS') THEN 'DB'
        |        WHEN position IN ('MLB','OLB','ILB') THEN 'LB'
        |        WHEN position IN ('DT','NT') THEN 'T'
        |        ELSE position END AS position, max_vel, max_accel
        |  FROM mp)
        |SELECT position, count(*) AS n,
        | round(avg(max_vel), 4) AS mean_vel,
        | round(stddev(max_vel), 4) AS sd_vel,
        | round(quantile_cont(max_vel, 0.5), 4) AS median_vel,
        | round(avg(max_accel), 4) AS mean_accel,
        | round(corr(max_vel, max_accel), 4) AS vel_accel_corr
        |FROM recoded GROUP BY position ORDER BY position""".stripMargin,
    "ep3_report" ->
      """WITH act AS (SELECT user_id, round(avg(value), 4) AS val_act FROM events
        |             WHERE event_type = 'purchase' GROUP BY user_id),
        | opt AS (SELECT user_id, round(avg(value), 4) AS val_opt FROM events
        |         WHERE event_type = 'click' GROUP BY user_id),
        | j AS (SELECT a.user_id,
        |        greatest(coalesce(round(o.val_opt - a.val_act, 4), 0.0), 0.0) AS delta_clamped,
        |        CASE WHEN a.user_id % 3 = 0 THEN 'A' WHEN a.user_id % 3 = 1 THEN 'B' ELSE 'C' END AS tier
        |       FROM act a LEFT JOIN opt o ON a.user_id = o.user_id)
        |SELECT tier, count(delta_clamped) AS n, round(avg(delta_clamped), 4) AS mean_delta,
        | round(quantile_cont(delta_clamped, 0.5), 4) AS median_delta, max(delta_clamped) AS max_delta
        |FROM j GROUP BY tier ORDER BY tier""".stripMargin,
    "a3_describe" ->
      """SELECT l_returnflag,
        | count(l_quantity) AS n,
        | round(avg(l_quantity), 4) AS mean_qty,
        | round(stddev(l_quantity), 4) AS sd_qty,
        | min(l_quantity) AS min_qty,
        | round(quantile_cont(l_quantity, 0.25), 4) AS p25,
        | round(quantile_cont(l_quantity, 0.5), 4) AS p50,
        | round(quantile_cont(l_quantity, 0.75), 4) AS p75,
        | max(l_quantity) AS max_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "a4_group_stats" ->
      """SELECT user_id, count(value) AS n, round(avg(value), 4) AS mean_value,
        | round(quantile_cont(value, 0.5), 4) AS median_value, max(value) AS max_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "a6_corr" ->
      """SELECT l_returnflag, round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "a8_bounds" ->
      """SELECT CAST(floor(min(value)/5) AS BIGINT)*5 AS grid_min,
        | CAST(ceil(max(value)/5) AS BIGINT)*5 AS grid_max,
        | round(min(value), 4) AS min_value,
        | round(max(value), 4) AS max_value
        |FROM events""".stripMargin,
    "a9_hist" ->
      """SELECT event_type, CAST(floor(value/50) AS BIGINT) AS bin, count(*) AS n
        |FROM events GROUP BY event_type, bin ORDER BY event_type, bin""".stripMargin,
    "a10_kde" ->
      """SELECT g.pt,
        | round(avg(exp(((g.pt - e.value)/25.0) * ((g.pt - e.value)/25.0) * -0.5))
        |       / (25.0 * sqrt(2*pi())), 8) AS density
        |FROM (SELECT unnest([0,50,100,150,200,250,300,350,400]) AS pt) g
        |CROSS JOIN events e
        |GROUP BY g.pt ORDER BY g.pt""".stripMargin,
    "a10_kde_pos" ->
      """SELECT e.event_type, g.pt,
        | round(avg(exp(((g.pt - e.value)/25.0) * ((g.pt - e.value)/25.0) * -0.5))
        |       / (25.0 * sqrt(2*pi())), 8) AS density
        |FROM (SELECT unnest([0,50,100,150,200,250,300,350,400]) AS pt) g
        |CROSS JOIN events e
        |GROUP BY e.event_type, g.pt ORDER BY e.event_type, g.pt""".stripMargin,
    "a11_counts" ->
      "SELECT event_type, count(*) AS n FROM events GROUP BY event_type ORDER BY event_type",
    "o1_sort_counts" ->
      """SELECT event_type, count(*) AS n FROM events GROUP BY event_type
        |ORDER BY n DESC, event_type ASC""".stripMargin,
    "o3_topk" ->
      """SELECT user_id, round(avg(value), 4) AS mean_value, count(*) AS n
        |FROM events GROUP BY user_id HAVING count(*) >= 20
        |ORDER BY mean_value DESC, user_id ASC LIMIT 10""".stripMargin)
}
