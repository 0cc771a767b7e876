package graft

/** Benchmark main: runs every declared query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Results are fully materialized via a noop-format
  * write so Catalyst cannot prune the measured work (a bare `.count()`
  * lets projections/joins that don't affect cardinality be optimized
  * away — VERDICT r01).
  *
  * Measurement protocol (VERDICT r03: the r03 numbers were contaminated
  * by ambient machine load — unchanged queries ran 4× slower):
  *   - one un-measured warm-up pass of the FULL suite (FS metadata, JIT,
  *     codegen caches);
  *   - N measured passes of the full suite (SPARK_GRAFT_BENCH_RUNS,
  *     default 7), interleaved at the suite level so a transient load
  *     spike perturbs one round, not one query;
  *   - EXTENDED WARM-UP + FASTEST-K (r14, VERDICT r13 §2 — the r13
  *     gate was miscalibrated for this host: every run flagged at
  *     noisy 51–60 on an otherwise-idle machine). The recorded r13
  *     series shows WHY: shared-host ambient bursts hit 2+ consecutive
  *     suite passes at 2–6× (passes 5–6 of 7 in the r13 artifact),
  *     and the old drop-first-2 + trim-single-slowest protocol forgave
  *     only ONE contaminated pass, so the burst leaked into the kept
  *     spread of ~every query. Contamination from a competing process
  *     is strictly ADDITIVE — it can only slow a run down — so order
  *     statistics from the FAST side estimate the uncontaminated cost:
  *     with ≥ 7 runs the first two measured passes are discarded as
  *     extended warm-up (JIT/code-cache drift, the r12 finding) and
  *     the kept set is the FASTEST 3 of the remaining 5; shorter
  *     series drop one warm-up pass (≥ 4 runs) and keep their fastest
  *     ≤ 3. Replayed on the recorded r13 series: old protocol 60
  *     noisy, fastest-3 9, gate 28. All raw runs stay in the detail
  *     file.
  *   - per-query MEDIAN (of the kept fastest runs) is the reported
  *     number; per-query relative spread = (max−min)/median over the
  *     kept runs is the noise gate — queries over 30% spread AND over
  *     an absolute 0.15 s range AND at a median ≥ 0.3 s are counted in
  *     `noisy` on the headline line and listed in the detail file.
  *     (The absolute floor is r04 feedback; the median floor is
  *     VERDICT r13 §2: a sub-0.3 s query's 30% relative spread is
  *     JIT/GC jitter, not load.) A high `noisy` count means even the
  *     fastest runs disagree — the SUSTAINED-load signature, which no
  *     per-run selection can mask (a deliberate competing-load test inflates
  *     every run by a varying factor, so the fastest 3 still spread;
  *     BenchGateSpec pins both directions on synthetic series) — and
  *     the run should not be compared round-over-round.
  *   - FAILED QUERIES: a run that throws records no time. Any query
  *     with a failed run is listed in `failed` on the headline line and
  *     in the detail file, and the series publishes `"valid":false`
  *     with a null value — a time-to-exception is not a measurement.
  *   - LOAD GUARD (r07): a series whose noisy count exceeds
  *     SPARK_GRAFT_BENCH_NOISY_MAX (default max(8, suite/8)) is
  *     re-measured, up to SPARK_GRAFT_BENCH_ATTEMPTS (default 3) total
  *     attempts, keeping the least-noisy series; the JSON line carries
  *     `attempts` and `load_flagged` so a never-clean run is visibly
  *     marked instead of silently recorded (VERDICT r06 §1).
  *   - TIME BUDGET (r13, VERDICT r12 §1: BENCH_r12.json was an rc=124
  *     timeout corpse — protocol × suite size outgrew the driver's wall
  *     window, leaving NO driver-visible perf signal). Three guards:
  *     (a) the headline JSON line is printed after EVERY completed
  *     attempt, so a driver kill mid-protocol still leaves the last
  *     complete series in the tail capture; (b) the run honors
  *     SPARK_GRAFT_BENCH_TIME_BUDGET_S (default 2400 s): before each
  *     attempt the projected cost (planned runs × observed per-pass
  *     time) is checked against the remaining budget — a further
  *     attempt is skipped when a series already exists, and the runs
  *     count degrades 7→5 (losing only the drift-trim, which needs ≥ 7;
  *     5-run series fall back losslessly to plain medians) or lower
  *     when even the FIRST series would not fit; (c) inter-attempt
  *     backoff is capped by the remaining budget; (d) r17 (VERDICT r16
  *     §1): when the COLD warm-up estimate would not choose
  *     full-suite mode at the wanted run count, one extra un-measured
  *     warm pass re-seeds the estimates — the cold pass pays live
  *     codegen/JIT and systematically overestimates, which in r16
  *     pushed the planner into subset mode when full@7 actually fit.
  *
  * Verify-only queries are excluded from the measured suite, two kinds:
  *   - correctness MIRRORS of an operator whose scale path is benched
  *     under its own name (w4_rechunk_decl — the explode+global-window
  *     formulation kept as rechunkExec's independent test mirror);
  *   - ASSERTION HARNESSES whose cost is gate construction, not a scale
  *     path (llm_ann_recall: brute-force truth + 4 batch ANN paths + 16
  *     sequential point probes ≈ 5.7 s/pass — VERDICT r12 §1c;
  *     llm_zorder_optimize: a side-effecting append→optimize→rewrite
  *     lifecycle gate, r13). Verify still runs them (they stay
  *     oracle-gated); Bench measures only plans a user would run at
  *     scale.
  * Full detail (all runs, medians, spreads) → target/bench_detail.json;
  * stdout carries only the headline subset (r02's full line overflowed
  * the driver's tail capture).
  */
object Bench {

  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) 0.0
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The kept runs of one query's series: discard the extended warm-up
    * head (2 passes at ≥ 7 runs, 1 at ≥ 4), then the FASTEST 3 of the
    * rest — ambient contamination is strictly additive, so fast-side
    * order statistics estimate the uncontaminated cost (scaladoc
    * above; pure so BenchGateSpec can replay recorded series). */
  private[graft] def keptRuns(ts: Seq[Double], runs: Int): Seq[Double] = {
    val warmDrop = if (runs >= 7) 2 else if (runs >= 4) 1 else 0
    val tail = ts.drop(warmDrop)
    tail.sorted.take(math.min(3, tail.length))
  }

  /** The per-query noise verdict over the kept runs: relative spread
    * over 30% AND absolute range over 0.15 s AND median ≥ 0.3 s. */
  private[graft] def isNoisy(kept: Seq[Double]): Boolean = kept.nonEmpty && {
    val med = median(kept)
    val range = kept.max - kept.min
    med >= 0.30 && range / med > 0.30 && range > 0.15
  }

  /** Headline validity under the fastest-3 estimator (r15, VERDICT r14
    * §2): rejection power = measured passes − warm-up drop − 3 kept.
    * When the time budget degrades planned passes below 5, that is ≤ 0
    * — the kept set is "all of them", NO contaminated pass can be
    * rejected, and a load-inflated total would become the round's
    * number of record (exactly what happened to the r14 driver
    * artifact: 3-of-3 kept, ~1.7× ambient inflation, published).
    * A series in which any query `failed` is invalid too: its total
    * lacks that query's cost. Returns the reason the headline must
    * carry `"valid":false` and a null value, or None when every query
    * ran and the estimator has teeth. Pure so BenchGateSpec can replay
    * both paths. */
  private[graft] def headlineInvalidReason(
      runs: Int, failed: Seq[String]): Option[String] = {
    val warmDrop = if (runs >= 7) 2 else if (runs >= 4) 1 else 0
    val rejectable = runs - warmDrop - 3
    if (failed.nonEmpty)
      Some(s"failed queries: ${failed.mkString(",")}")
    else if (rejectable <= 0)
      Some(s"insufficient selection power: $runs passes = fastest-3-of-" +
        s"${runs - warmDrop} kept, zero rejectable; compare the last " +
        "gate-clean series (SCALE.md round notes) instead")
    else None
  }

  /** One query of a measured series: its successful runs' times, the
    * median and spread of the kept ones, and whether it is noisy or
    * had a failed run. */
  private final case class QueryStat(name: String, runs: Seq[Double],
      median: Double, spread: Double, noisy: Boolean, failed: Boolean)

  /** The printed-subset / subset-mode query set: the suite's headline
    * operators (one per family), ~¼ of the full suite's pass cost. */
  private[graft] val headlineSet: Set[String] = Set(
    "tpch_q1_pricing", "tpch_q5_local_supplier", "tpch_join_revenue",
    "master_combined_cut", "a7_hist1d", "a8_hist2d", "t3_sigma_cut",
    "t6_binned_sigma_cut", "t7_rate_cut", "vib_moments_sweep",
    "k12_psd_estimator", "s5_trace_fetch_window", "w4_rechunk",
    "llm_dedup_exact", "llm_minhash_neardup", "llm_neardup_dedup",
    "llm_simhash_neardup", "llm_sim_topk", "llm_ann_lsh",
    "llm_text_quality", "llm_decontaminate", "llm_pack_sequences",
    "llm_quantize_int8", "llm_line_dedup", "llm_classifier_score",
    "llm_curation_funnel", "llm_chunk_overlap", "llm_token_budget",
    "llm_semantic_dedup", "llm_bm25_score", "llm_dup_spans",
    "llm_crawl_pipeline", "llm_dsir_weights", "llm_robots_filter",
    "llm_pagerank", "llm_cdx_select",
    "llm_hits", "llm_html_main", "llm_ccnet_buckets",
    "llm_ann_pq", "llm_ann_ivfpq", "llm_tar_roundtrip", "llm_zorder",
    "llm_c4_clean", "llm_gopher_repetition", "llm_retrieval_topk",
    "llm_token_drift", "llm_ccnet_paragraphs", "llm_pack_ffd",
    "llm_lm_shuffle", "llm_epoch_shuffle", "llm_unigram_encode",
    "llm_hybrid_rrf", "llm_wordpiece_encode", "llm_hilbert_curve",
    "llm_doremi_weights", "llm_suffix_dedup", "llm_mix_epochs",
    "llm_cms_bounds", "llm_length_curriculum")

  /** One attempt's shape under the remaining time budget (r16,
    * VERDICT r15 "Next round" 6: two consecutive driver rounds
    * produced NO valid driver-side number because 3 full-suite passes
    * don't fit 2400 s under load — a valid 7-pass HEADLINE-SUBSET
    * series beats an invalid full-suite one). Preference order, most
    * coverage first, validity ahead of coverage:
    * full@wanted → full@5 → subset@wanted → subset@5 → (first series
    * only) subset@whatever-fits ≥ 3, which may be invalid but leaves
    * SOME driver-visible number. Returns None when a series already
    * exists and nothing further fits. Pure for BenchGateSpec. */
  private[graft] def planAttempt(
      remainS: Double,
      fullPassS: Double,
      subsetPassS: Double,
      runsWanted: Int,
      haveSeries: Boolean): Option[(Boolean, Int)] = {
    def fits(passS: Double, r: Int) = r * passS <= remainS
    if (fits(fullPassS, runsWanted)) Some((false, runsWanted))
    else if (runsWanted > 5 && fits(fullPassS, 5)) Some((false, 5))
    else if (fits(subsetPassS, runsWanted)) Some((true, runsWanted))
    else if (runsWanted > 5 && fits(subsetPassS, 5)) Some((true, 5))
    else if (haveSeries) None
    else {
      val fit = math.max(3,
        math.min(runsWanted, (remainS / subsetPassS).toInt))
      Some((true, fit))
    }
  }

  def main(args: Array[String]): Unit = {
    val wall0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - wall0) / 1e9
    val sfDir = tools.Run.sfDir
    val runsWanted = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "7").toInt
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_TIME_BUDGET_S", "2400")
      .toDouble
    val spark = GraftSession.create()
    val verifyOnly = Set(
      "w4_rechunk_decl",     // mirror of the benched rechunkExec path
      "llm_ann_recall",      // recall gate: brute force + every ANN path
      "llm_zorder_optimize", // append→optimize lifecycle gate (side-effect)
      "llm_retrieval_persisted", // index write+read lifecycle (side-effect)
      "llm_retrieval_append", // build+append+serve lifecycle (side-effect)
      "llm_retrieval_optimize", // append+compact lifecycle (side-effect)
      "llm_ann_append",      // IVF append+compact lifecycle (side-effect)
      "llm_jsonl_roundtrip", // egest+ingest lifecycle (side-effect)
      "llm_wordpiece_persisted", // vocab write+read lifecycle (side-effect)
      "llm_unigram_persisted", // vocab write+read lifecycle (side-effect)
      "llm_ann_pq_persisted", // codebook write+read lifecycle (side-effect)
      "llm_ann_ivfpq_persisted", // full IVF-PQ index lifecycle (side-effect)
      "llm_dedup_recall") // recall gate: planted dups + LSH + verify (r14)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(verifyOnly)
    val subsetNames = names.filter(headlineSet)

    // one pass over `qnames`: each query's time, or None if it threw
    // or leaked (Run.once closes the query's Scope, so queries don't
    // perturb each other's memory budget)
    def onePass(measure: Boolean,
        qnames: Seq[String]): Map[String, Option[Double]] =
      qnames.map { name =>
        val outcome = tools.Run.once(spark, sfDir, name)
        outcome.left.foreach { e =>
          if (measure)
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        name -> outcome.toOption
      }.toMap

    // Load guard (VERDICT r06 §1: the official BENCH_r06 artifact was
    // load-flagged by the repo's own protocol yet recorded as the
    // round's number). A measured series whose noisy count exceeds the
    // threshold is re-run — bounded attempts, keeping the LEAST noisy
    // series — instead of silently recording an ambient-inflated one.
    // The final JSON self-reports `attempts` and `load_flagged` so a
    // series that never came clean cannot masquerade as one that did.
    val maxAttempts =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ATTEMPTS", "3").toInt
    def noisyMaxFor(n: Int): Int =
      sys.env.get("SPARK_GRAFT_BENCH_NOISY_MAX").map(_.toInt)
        .getOrElse(math.max(8, n / 8))

    // `slackS` reserves room for JSON emission + session shutdown so
    // every budget projection errs safe.
    val slackS = 60.0
    // warm-up over the FULL suite (FS metadata, JIT, codegen caches —
    // also warms subset-mode queries); per-query times seed BOTH pass
    // estimates. Warm-up is the SLOWEST pass — codegen compiles live —
    // so the first projections are conservative, the safe direction.
    val warmTimes = onePass(measure = false, names)
    var fullPassEstS = warmTimes.values.flatten.sum
    var subsetPassEstS = subsetNames.flatMap(warmTimes).sum
    // r17 (VERDICT r16 "Next round" 1): the COLD warm-up systematically
    // overestimates a warm pass (live codegen/JIT ran inside it), so
    // seeding the planner from it alone biased r16 into subset mode —
    // only 60 of ~249 queries got a 32-core number. When the cold
    // estimate would NOT choose full mode at the wanted run count,
    // spend ONE extra un-measured warm pass and re-seed both estimates
    // from warm reality before planning; the pass's cost is charged
    // against the budget through elapsedS, so the projection stays
    // honest, and a genuinely loaded machine re-estimates slow and
    // still degrades. Full-suite coverage is worth one warm pass.
    val coldPlan = planAttempt(budgetS - elapsedS - slackS,
      fullPassEstS, subsetPassEstS, runsWanted, haveSeries = false)
    if (!coldPlan.contains((false, runsWanted))) {
      System.err.println(s"[bench] cold estimate (full ~" +
        s"${fullPassEstS.toInt}s/pass) would degrade mode/runs — " +
        "re-estimating with one warm pass")
      val warm2 = onePass(measure = false, names)
      fullPassEstS = warm2.values.flatten.sum
      subsetPassEstS = subsetNames.flatMap(warm2).sum
    }

    def measureSeries(runs: Int, subset: Boolean): Seq[QueryStat] = {
      val qnames = if (subset) subsetNames else names
      // measurement-artifact exclusion (see scaladoc): extended
      // warm-up head dropped, then the fastest 3 of the rest kept —
      // the additive-contamination estimator the recorded r13 series
      // calibrated (keptRuns/isNoisy are pure; BenchGateSpec replays)
      val passes = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val p = onePass(measure = true, qnames)
        val passS = (System.nanoTime() - t0) / 1e9
        if (subset) subsetPassEstS = passS else fullPassEstS = passS
        p
      }
      qnames.map { name =>
        val outcomes = passes.map(_(name))
        val ts = outcomes.flatten
        val kept = keptRuns(ts, runs)
        val med = median(kept)
        val spread = if (med > 0) (kept.max - kept.min) / med else 0.0
        QueryStat(name, ts, med, spread, isNoisy(kept),
          failed = outcomes.contains(None))
      }
    }
    def noisyCount(series: Seq[QueryStat]): Int = series.count(_.noisy)
    def failedNames(series: Seq[QueryStat]): Seq[String] =
      series.filter(_.failed).map(_.name)
    def jnum(v: Double): String = f"$v%.3f"
    def jlist(xs: Seq[String]): String =
      xs.map("\"" + _ + "\"").mkString("[", ",", "]")

    def headlineLine(series: Seq[QueryStat], runs: Int,
        attempt: Int, subset: Boolean): String = {
      val total = series.map(_.median).sum
      val loadFlagged = noisyCount(series) > noisyMaxFor(series.size)
      val qs = series.collect {
        case q if headlineSet(q.name) =>
          "\"" + q.name + "\":" + (if (q.failed) "null" else jnum(q.median))
      }.mkString("{", ",", "}")
      // r15: a series without selection power publishes NO total — an
      // explicit invalid marker, never a silently contaminated number
      // of record (VERDICT r14 §2). r16: `mode`/`benched` say WHICH
      // suite the total covers — a headline-subset total is not
      // comparable to a full-suite one, but a valid subset series
      // beats an invalid full one for round-over-round tracking.
      val invalid = headlineInvalidReason(runs, failedNames(series))
      val valueJson = if (invalid.isDefined) "null" else jnum(total)
      val invalidJson = invalid
        .map(r => s""""valid":false,"invalid_reason":"$r",""")
        .getOrElse(s""""valid":true,""")
      val mode = if (subset) "headline_subset" else "full"
      s"""{"metric":"total_median","value":$valueJson,"unit":"sec",""" +
        s""""mode":"$mode","benched":${series.size},""" +
        s""""runs":$runs,"noisy":${noisyCount(series)},""" +
        s""""failed":${jlist(failedNames(series))},"attempts":$attempt,""" +
        invalidJson +
        s""""load_flagged":$loadFlagged,"queries":$qs,"sf":"$sfDir"}"""
    }

    def writeDetail(series: Seq[QueryStat], runs: Int,
        attempt: Int, subset: Boolean): Unit = try {
      val detail = series.map { q =>
        val med = if (q.failed) "null" else jnum(q.median)
        s""""${q.name}":{"median":$med,"spread":${jnum(q.spread)},"runs":[${q.runs.map(jnum).mkString(",")}]}"""
      }.mkString("{", ",", "}")
      val failed = failedNames(series)
      val mode = if (subset) "headline_subset" else "full"
      java.nio.file.Files.write(
        java.nio.file.Paths.get("target/bench_detail.json"),
        (s"""{"metric":"total_median","value":${jnum(series.map(_.median).sum)},"unit":"sec",""" +
          s""""mode":"$mode","benched":${series.size},""" +
          s""""runs":$runs,"attempts":$attempt,""" +
          s""""valid":${headlineInvalidReason(runs, failed).isEmpty},""" +
          s""""failed":${jlist(failed)},""" +
          s""""load_flagged":${noisyCount(series) > noisyMaxFor(series.size)},"noisy":${jlist(series.filter(_.noisy).map(_.name))},""" +
          s""""queries":$detail,"sf":"$sfDir"}""").getBytes("UTF-8"))
    } catch { case _: Throwable => () }

    // Attempt loop under the time budget.
    var attempt = 0
    var best: Seq[QueryStat] = null
    var bestRuns = runsWanted
    var bestSubset = false
    var line: String = null
    var budgetStop = false
    while (attempt < maxAttempts && !budgetStop &&
        (best == null || noisyCount(best) > noisyMaxFor(best.size))) {
      // plan this attempt's shape (mode × run count) against the
      // remaining budget — planAttempt is pure, BenchGateSpec replays
      planAttempt(budgetS - elapsedS - slackS, fullPassEstS,
          subsetPassEstS, runsWanted, best != null) match {
        case None =>
          System.err.println(s"[bench] skipping attempt ${attempt + 1}: " +
            s"nothing fits the remaining budget (full ~" +
            s"${fullPassEstS.toInt}s/pass, subset ~" +
            s"${subsetPassEstS.toInt}s/pass) — keeping the " +
            "least-noisy series")
          budgetStop = true
        case Some((subset, plannedRuns)) =>
          if (subset || plannedRuns < runsWanted)
            System.err.println(s"[bench] time budget " +
              s"(${elapsedS.toInt}s elapsed of ${budgetS.toInt}s): " +
              s"mode=${if (subset) "headline_subset" else "full"} " +
              s"runs=$plannedRuns")
          attempt += 1
          val series = measureSeries(plannedRuns, subset)
          // prefer by noisy FRACTION — a subset series and a full
          // series have different sizes
          if (best == null ||
              noisyCount(series).toDouble / series.size <
                noisyCount(best).toDouble / best.size) {
            best = series; bestRuns = plannedRuns; bestSubset = subset
          }
          // emit after EVERY completed attempt: a driver kill later in
          // the protocol still leaves this line in the tail capture
          line = headlineLine(best, bestRuns, attempt, bestSubset)
          println(line)
          writeDetail(best, bestRuns, attempt, bestSubset)
          val noisyMax = noisyMaxFor(series.size)
          if (noisyCount(series) > noisyMax) {
            System.err.println(s"[bench] load-flagged series: noisy=" +
              s"${noisyCount(series)} > $noisyMax (attempt $attempt/$maxAttempts)" +
              (if (attempt < maxAttempts) " — re-running" else
                " — out of attempts, recording the least noisy series"))
          // Bounded inter-attempt backoff (VERDICT r07 §5: 10 s resampled
          // the SAME load regime 3× — all r07 driver attempts saw the
          // identical ambient burst). 60 s, then 120 s, lets attempts
          // sample genuinely different regimes; env-overridable, and
          // capped so the sleep itself cannot blow the budget.
          if (attempt < maxAttempts) {
            val backoffMs = sys.env.get("SPARK_GRAFT_BENCH_BACKOFF_MS")
              .map(_.toLong).getOrElse(60000L * attempt)
            val headroomMs = math.max(0L,
              ((budgetS - elapsedS - slackS) * 1000).toLong)
            val sleepMs = math.min(backoffMs, headroomMs)
            if (sleepMs > 0) {
              System.err.println(s"[bench] backing off ${sleepMs / 1000} s " +
                "before the next attempt")
              Thread.sleep(sleepMs)
            }
          }
        }
      }
    }
    // the harness tail-captures the last ~2000 chars of output: silence
    // shutdown logging and RE-print the line after stop() so nothing —
    // not a stray shutdown WARN, not a cleanup message — can push the
    // one line that matters out of the capture window (the r02–r04
    // driver benches all lost their JSON line to exactly this)
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(line)
  }
}
