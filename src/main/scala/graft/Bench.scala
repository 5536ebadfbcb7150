package graft

import java.nio.file.{Files, Paths}

/** Benchmark main: runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR`, forcing full materialization through the noop
  * sink (a bare `.count()` would let Catalyst prune the projections the
  * query exists to exercise). Emits ONE JSON line on stdout — and, belt
  * and braces, to `SPARK_GRAFT_BENCH_OUT` if set — with per-query
  * seconds. Failed queries are reported in a separate `failed` map, not
  * as fake timings (VERDICT r1 §wrong #3).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()

    // SPARK_GRAFT_ONLY=a,b,c: bench only the named queries (builder-side
    // isolation aid for steady-state micro-benches; the driver sets
    // nothing and benches the full suite).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)

    // Prestage, NOT timed as queries (VERDICT r4 wrong §2; widened per
    // VERDICT r16 next §3): every persisted on-disk artifact a gated
    // query lazily builds on first touch — bucketed tables, the dedup
    // index, the four ANN indexes, the snapshot base, the stored MV —
    // is materialized HERE, per-artifact timed, and priced on its own
    // line (`index_build_secs` in the headline JSON, the `prestage`
    // map in bench_details). Runs regardless of SPARK_GRAFT_WARMUP, so
    // a fresh host's pass 1 never pays an 80 s build inside a 5 s
    // query's timing and the build cost stays visible instead of
    // vanishing into warmup. Each stage is skipped when an isolation
    // selection contains no query it serves — a micro-bench of an
    // unrelated query should not pay the build.
    SparkEntry.queries // force object init before timing anything
    val prestage = scala.collection.mutable.LinkedHashMap[String, Double]()
    val prestageFailed = scala.collection.mutable.LinkedHashMap[String, String]()
    // NonFatal only (ADVICE r17): an OOM mid-prestage must abort the
    // run, not silently hand the artifact build back to the first timed
    // query. A failed stage records under prestage_failed — NOT in the
    // timing map — so a fallback first-touch build in a later query is
    // visible in that query's samples instead of double-counted here.
    def stage(idx: String)(serves: String => Boolean)(build: => Unit): Unit =
      if (only.forall(_.exists(serves))) {
        val t0 = System.nanoTime()
        try {
          build
          prestage(idx) = (System.nanoTime() - t0) / 1e9
        } catch {
          case scala.util.control.NonFatal(e) =>
            prestageFailed(idx) =
              Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
            System.err.println(s"[bench] prestage $idx failed: ${prestageFailed(idx)}")
        }
        org.apache.spark.sql.graft.PlanBridge.releaseAll(spark)
      }
    stage("season_bucketed")(_.contains("season_bucketed"))(
      pipelines.NflQueries.ensureSeasonBucketed(spark))
    stage("pr_edges_bucketed")(_.contains("pagerank_bucketed"))(
      ops.Graph.ensurePrEdgesBucketed(spark, sfDir))
    stage("dedup_index")(Set("dd_incremental", "dd_cdc_incr",
      "dd_substr_incr", "st_substr", "st_dedup_indexed", "dq_rtbf",
      "st_rtbf"))(
      llm.Dedup.ensureDedupIndexFor(spark, sfDir))
    // the queries that actually read the persisted IVF index (ADVICE
    // r17: startsWith("ann_") both missed st_ann_upsert/dd_semantic and
    // over-matched the non-IVF ann families in isolation runs) — the
    // set is the ensureIvfIndexFor call-site inventory in Similarity.scala
    stage("ivf_index")(Set("ann_ivf", "ann_tune", "ann_ivf_pq",
      "ann_ivf_pq_recall", "ann_ivf_upsert", "ann_ivf_delete",
      "ann_filtered", "ann_filtered_recall", "ann_mrl", "ann_lifecycle",
      "ann_lifecycle_recall", "dd_semantic", "st_ann_upsert",
      "dq_rtbf_ann"))(
      llm.Similarity.ensureIvfIndexFor(spark, sfDir))
    stage("pq_index")(Set("ann_pq", "ann_pq_recall", "pq_encode",
      "ann_ivf_pq", "ann_ivf_pq_recall", "dq_rtbf_ann"))(
      llm.Similarity.ensurePqIndexFor(spark, sfDir))
    stage("ivf_pq_index")(_.startsWith("ann_ivf_pq"))(
      llm.Similarity.ensureIvfPqIndexFor(spark, sfDir))
    stage("nsw_index")(n => n.startsWith("ann_nsw") || n.startsWith("st_nsw")
        || n == "dq_rtbf_ann")(
      llm.Similarity.ensureNswIndexFor(spark, sfDir))
    stage("fs_table")(_.startsWith("fs_"))(
      ops.Snapshot.ensureTable(spark, sfDir))
    stage("mv_base")(_.startsWith("mv_"))(
      ops.Materialized.ensureMvFor(spark, sfDir))
    val indexBuildSecs = math.rint(prestage.values.sum * 10000) / 10000
    def selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }

    // Warmup at the TARGET SF: compiles the generated code and JITs the
    // hot paths once, so the timed pass measures steady-state execution.
    // Warming at a smaller SF does not work — AQE picks different
    // physical plans (broadcast vs sort-merge, coalesced partitions) at
    // different sizes, so the small-SF codegen classes are the wrong
    // ones and the timed run still paid full compilation (measured: a
    // 2-3 s steady-state query costs 8-30 s on its first execution
    // under C2/janino queue contention). SPARK_GRAFT_WARMUP=0 skips.
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") == "1") {
      selected.toSeq.sortBy(_._1).foreach { case (_, fn) =>
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => }
        org.apache.spark.sql.graft.PlanBridge.releaseAll(spark)
      }
    }

    // Host-speed canary (VERDICT r6 next §4): a fixed 10-query subset
    // timed once right after warmup and once after the full timed pass.
    // BENCH totals drift ~1.3× with same-day host load (BASELINE.md's
    // measured band), and r6's 183.7 s vs the predicted 89–145 s was
    // only adjudicable by cross-referencing r5 artifacts — these two
    // numbers make every future artifact self-adjudicating: compare
    // canary_first/second against BASELINE.md's pinned canary band to
    // price the host before suspecting a regression, and first-vs-
    // second prices drift WITHIN the run. Spans the families that
    // drifted in r6 (k4 kernel, joins) plus scan/agg/window/dedup/text.
    val canaryNames = Seq("a4_group_stats", "dd_exact", "f4_range",
      "j1_enrich_bcast", "j6_self_align", "k4_deadletter", "k4_yap",
      "ts_quality", "w6_prefix", "x_math")
    def runCanary(): Double = {
      val t = canaryNames.flatMap { n =>
        SparkEntry.queries.get(n).map { fn =>
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
      }.sum
      org.apache.spark.sql.graft.PlanBridge.releaseAll(spark)
      t
    }
    // skipped in SPARK_GRAFT_ONLY isolation runs: a micro-bench of one
    // query should not pay (or report) a 10-query canary
    val canaryFirst = if (only.isEmpty) Some(runCanary()) else None

    // Timed PASSES, per-query minimum across passes: the host is a
    // shared microVM whose multi-core throughput gets throttled in
    // multi-second bursts invisible to the guest (single-core speed
    // stays constant while parallel stages swing 3-10x). Consecutive
    // repeats of one query fall inside the same burst; separating the
    // repeats by a whole pass decorrelates them. Each pass p runs the
    // suite ROTATED by p·n/passes: r2 used the same order both passes (a
    // throttle WINDOW at the same offset hit the same query twice); r3
    // mirrored pass 2, which fixed everything except the mirror POINT —
    // the mid-suite queries ran back-to-back across the pass boundary,
    // and exactly that alphabetically-contiguous cluster came out 2-4x
    // slow in BENCH_r03 (VERDICT r3 §wrong 1). A half-suite rotation
    // bounds the separation of any query's two runs to at least n/2
    // queries of other work on BOTH sides — no adjacency anywhere.
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    // every observed sample (pass times + outlier re-runs, in order):
    // the r14 dd_lines_hashed post-mortem had only the min, so "one
    // cold pass" vs "slow in both passes" was unadjudicable from the
    // artifact — the samples map makes the next outlier self-diagnosing
    val samples = scala.collection.mutable.LinkedHashMap[String, List[Double]]()
    def record(name: String, sec: Double): Unit = {
      samples(name) = samples.getOrElse(name, Nil) :+ sec
      timings(name) = math.min(timings.getOrElse(name, Double.MaxValue), sec)
    }
    // per-round wall-clock for the iterative trainers (VERDICT r13 next
    // §3): RoundClock entries drained per run; the recorded set is the
    // one from the run that set the query's min, so the rounds map in
    // bench_details.json is consistent with the reported total
    val roundDetails = scala.collection.mutable.LinkedHashMap[String, Seq[RoundClock.Round]]()
    RoundClock.drain() // discard warmup/canary rounds
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    for (pass <- 1 to passes) {
      val order = selected.toSeq.sortBy(_._1)
      val shift = (pass - 1) * order.size / passes
      (order.drop(shift) ++ order.take(shift)).foreach { case (name, fn) =>
        if (!failed.contains(name)) try {
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val sec = (System.nanoTime() - t0) / 1e9
          val rs = RoundClock.drain()
          if (sec < timings.getOrElse(name, Double.MaxValue) && rs.nonEmpty)
            roundDetails(name) = rs
          record(name, sec)
        } catch {
          case e: Throwable =>
            // drop pass-1 entries from BOTH maps (ADVICE r15): a query
            // that succeeds in pass 1 but fails in pass 2 must not leave
            // orphan samples that contradict its presence under "failed"
            timings.remove(name)
            samples.remove(name)
            failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        }
        // per-query hygiene: drop caches persisted inside queries and
        // lingering persistent RDDs so later queries measure their own
        // work — with a large heap, GC (which drives Spark's context
        // cleaner) may not run for a long time, and accumulated state
        // made late heavy queries ~20x slower than isolated runs.
        org.apache.spark.sql.graft.PlanBridge.releaseAll(spark)
      }
    }

    // Outlier confirmation (VERDICT r14 next §1, tightened per VERDICT
    // r15 wrong §1): the r14 driver artifact recorded dd_lines_hashed at
    // 16.95 s against a committed 1.41-1.66 s band — BOTH timed passes
    // paid a compile/throttle tail, so min-across-passes alone could not
    // absorb it. Two triggers, each earning ONE decorrelated re-run at
    // the end of the suite (the re-run participates in the min):
    //   (a) min exceeds 2x its committed per-query reference (the
    //       previous definitive bench_details.json, read before this run
    //       overwrites it, only when its sf matches). r15's 3x trigger
    //       let dd_embcos/dd_embcos_exact escape at 2.17x/2.99x while
    //       the suite gate is 2x — the guard must be at least as strict
    //       as the gate it protects.
    //   (b) the query's own samples disagree by more than 2x (max/min),
    //       with min above 1 s — a pass tail on a query with NO prior
    //       reference (new this round) or with an inflated committed
    //       reference still gets adjudicated by a third sample.
    // A genuine regression survives the re-run and stays in the
    // artifact — with its confirmation visible in the samples map. The
    // re-run set is capped at 30 (ratio-desc) so a globally slow host
    // cannot double the run. SPARK_GRAFT_OUTLIER=0 disables.
    val detailsPath = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_DETAILS", "/root/repo/bench_details.json")
    val priorDetails: Option[(String, Map[String, Double])] =
      try {
        val txt = Files.readString(Paths.get(detailsPath))
        val sfRe = """"sf":\s*"((?:[^"\\]|\\.)*)"""".r
        // value pattern accepts scientific notation (ADVICE r15): Scala
        // formats sub-millisecond doubles as 1.0E-4, which [0-9.]+ could
        // not match — such queries silently vanished from the reference
        val qRe = """(?m)^\s*"((?:[^"\\]|\\.)*)":\s*([0-9.]+(?:[eE]-?[0-9]+)?)\s*,?\s*$""".r
        val priorSf = sfRe.findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
        // per-query lines only exist inside the "queries" object; the
        // one-entry-per-line pretty format makes them line-parsable
        val qsec = txt.indexOf("\"queries\"")
        val fsec = txt.indexOf("\"failed\"")
        val body = if (qsec >= 0 && fsec > qsec) txt.substring(qsec, fsec) else ""
        val m = qRe.findAllMatchIn(body)
          .map(x => x.group(1) -> x.group(2).toDouble).toMap
        Some((priorSf, m))
      } catch { case _: Throwable => None }
    if (sys.env.getOrElse("SPARK_GRAFT_OUTLIER", "1") == "1") {
      val ref = priorDetails match {
        case Some((psf, m)) if psf == sfDir => m
        case _ => Map.empty[String, Double]
      }
      val vsRef = timings.toSeq.flatMap { case (n, t) =>
        ref.get(n).filter(r => t > math.max(1.0, 2 * r)).map(r => (n, t / r))
      }
      val selfDisagree = timings.toSeq.flatMap { case (n, t) =>
        val xs = samples.getOrElse(n, Nil)
        // fires on a >2x spread when the min is over 1 s, OR on any
        // absolute multi-second stray (xs.max > 5 s) even on a
        // sub-second query (VERDICT r16 wrong §3: dq_kanon's
        // [3.92, 0.33] spread deserves its confirming third sample
        // even though the reported min was never at risk)
        if (xs.size >= 2 && xs.max > 2 * xs.min && (t > 1.0 || xs.max > 5.0))
          Some((n, xs.max / xs.min))
        else None
      }
      val outliers = (vsRef ++ selfDisagree.filterNot(x => vsRef.exists(_._1 == x._1)))
        .sortBy(-_._2).take(30).map(_._1)
      if (outliers.nonEmpty)
        System.err.println(s"[bench] outlier re-run: ${outliers.mkString(",")}")
      outliers.foreach { name =>
        SparkEntry.queries.get(name).foreach { fn =>
          try {
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            val sec = (System.nanoTime() - t0) / 1e9
            // mirror the main-loop RoundClock logic (ADVICE r15): if the
            // re-run sets the min, its rounds are the ones the artifact
            // must carry, or the rounds map contradicts the reported time
            val rs = RoundClock.drain()
            if (sec < timings.getOrElse(name, Double.MaxValue) && rs.nonEmpty)
              roundDetails(name) = rs
            record(name, sec)
          } catch { case _: Throwable => }
          org.apache.spark.sql.graft.PlanBridge.releaseAll(spark)
        }
      }
    }

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    // Self-contained artifact (VERDICT r5 wrong §1): BENCH_r05 landed
    // with parsed:null because the driver's capture truncated the one
    // long JSON line mid-suite and lost the leading total. Three
    // defenses: (1) per-query seconds rounded to 0.1 ms — halves the
    // line; (2) total/n/sf REPEATED at the END of the full line, so a
    // tail capture still carries them; (3) a short summary line printed
    // LAST (and the full JSON written to SPARK_GRAFT_BENCH_OUT), so
    // whichever end survives, the headline numbers are machine-readable.
    val canarySecond = if (only.isEmpty) Some(runCanary()) else None

    def r4(v: Double): Double = math.rint(v * 10000) / 10000
    val qs = timings.map { case (k, v) => s"${jstr(k)}:${r4(v)}" }.mkString("{", ",", "}")
    val fs = failed.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val total = r4(timings.values.sum)
    val canary = (canaryFirst, canarySecond) match {
      case (Some(a), Some(b)) =>
        s""""canary_first":${r4(a)},"canary_second":${r4(b)},"""
      case _ => ""
    }
    val pfail = if (prestageFailed.isEmpty) ""
      else s""""prestage_failed":${prestageFailed.keys.map(jstr).mkString("[", ",", "]")},"""
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$fs,""" +
        s"""$canary$pfail"index_build_secs":$indexBuildSecs,""" +
        s""""sf":${jstr(sfDir)},"n":${timings.size},"total":$total}"""
    println(json)
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${timings.size},""" +
      s""""failed_n":${failed.size},$canary"sf":${jstr(sfDir)}}""")
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach(p => Files.writeString(Paths.get(p), json))
    // Standalone full artifact, ALWAYS written (VERDICT r12 next §2):
    // BENCH_r12's stdout capture truncated the per-query map to the last
    // ~81 names, so only a third of the suite was regression-comparable
    // across rounds. The complete map lands in the repo as
    // bench_details.json on every full-suite run (isolation runs skip it
    // — a micro-bench must not clobber the definitive artifact), pretty-
    // printed one query per line so line-level capture loses nothing.
    // Destination: SPARK_GRAFT_BENCH_DETAILS if set, else the repo-root
    // literal (ADVICE r13: the hardcoded absolute path broke checkouts
    // at other locations; the env var keeps the driver's default). An
    // isolation run MAY write details when the env var names an
    // explicit destination — only the default path is clobber-protected.
    // Clobber guard (VERDICT r14 next §7): a full-suite run at a
    // DIFFERENT sf than the committed definitive artifact (e.g. an
    // sf0.01 iteration loop) must not overwrite it by default — only a
    // same-sf full run, a fresh checkout (no artifact yet), or an
    // explicit SPARK_GRAFT_BENCH_DETAILS destination writes.
    val sfMatchesPrior = priorDetails.forall { case (psf, _) => psf == sfDir }
    if (!sfMatchesPrior && !sys.env.contains("SPARK_GRAFT_BENCH_DETAILS"))
      System.err.println(s"[bench] NOT writing $detailsPath: existing artifact " +
        s"is a different sf (set SPARK_GRAFT_BENCH_DETAILS to force a destination)")
    if ((only.isEmpty && sfMatchesPrior) || sys.env.contains("SPARK_GRAFT_BENCH_DETAILS")) {
      val pretty = new StringBuilder
      pretty ++= s"""{"metric":"total","value":$total,"unit":"sec","sf":${jstr(sfDir)},"""
      pretty ++= s""""n":${timings.size},$canary"index_build_secs":$indexBuildSecs,"""
      // untimed prestage builds, priced per artifact (VERDICT r16 next
      // §3): what a fresh production run pays BEFORE the first query
      pretty ++= "\"prestage\":{"
      pretty ++= prestage.toSeq
        .map { case (k, v) => s"\n ${jstr(k)}: ${r4(v)}" }.mkString(",")
      pretty ++= "\n},\"prestage_failed\":{"
      pretty ++= prestageFailed.toSeq
        .map { case (k, v) => s"\n ${jstr(k)}: ${jstr(v)}" }.mkString(",")
      pretty ++= "\n},\"queries\":{"
      pretty ++= timings.toSeq.sortBy(_._1)
        .map { case (k, v) => s"\n ${jstr(k)}: ${r4(v)}" }.mkString(",")
      pretty ++= "\n},\"failed\":{"
      pretty ++= failed.toSeq.sortBy(_._1)
        .map { case (k, v) => s"\n ${jstr(k)}: ${jstr(v)}" }.mkString(",")
      // per-round wall-clock arrays for the iterative trainers, keyed
      // by the loop family (bpe_train_rich / gr_lpa_conv / ...), round
      // order preserved — the VERDICT r13 next §3 attribution artifact
      val fams = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
      roundDetails.values.foreach(rs =>
        rs.groupBy(_.family).foreach { case (f, xs) =>
          fams(f) = xs.sortBy(_.round).map(_.sec)
        })
      pretty ++= "\n},\"rounds\":{"
      pretty ++= fams.toSeq.sortBy(_._1).map { case (f, xs) =>
        s"\n ${jstr(f)}: [${xs.map(r4).mkString(",")}]"
      }.mkString(",")
      // every observed sample per query (pass order, then any outlier
      // re-runs) — the min's provenance, so a future artifact outlier
      // is diagnosable without re-running anything
      pretty ++= "\n},\"samples\":{"
      pretty ++= samples.toSeq.sortBy(_._1).map { case (k, xs) =>
        s"\n ${jstr(k)}: [${xs.map(r4).mkString(",")}]"
      }.mkString(",")
      pretty ++= "\n}}\n"
      Files.writeString(Paths.get(detailsPath), pretty.toString)
    }
    spark.stop()
  }
}
