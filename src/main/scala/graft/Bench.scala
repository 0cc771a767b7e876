package graft

import java.nio.file.{Files, Paths}

/** Benchmark main: times every benched query on SPARK_GRAFT_SF_DIR
  * through [[tools.Run.series]], prints one JSON headline line and
  * writes every run to `target/bench_detail.json`. Each run is a
  * noop-format write through [[tools.Run.once]], so Catalyst cannot
  * prune the measured work (a bare `.count()` lets projections/joins
  * that don't affect cardinality be optimized away — VERDICT r01).
  *
  * Measurement protocol (VERDICT r03: the r03 numbers were contaminated
  * by ambient machine load — unchanged queries ran 4× slower):
  *   - one un-measured warm-up pass of the suite (FS metadata, JIT,
  *     codegen caches);
  *   - SPARK_GRAFT_BENCH_RUNS (default 7) measured passes of the suite,
  *     interleaved at the suite level so a transient load spike
  *     perturbs one pass, not one query;
  *   - EXTENDED WARM-UP + FASTEST-K ([[keptRuns]]; r14, VERDICT r13
  *     §2). Shared-host ambient bursts hit 2+ consecutive suite passes
  *     at 2–6× (passes 5–6 of 7 in the recorded r13 series), and
  *     contamination from a competing process is strictly ADDITIVE —
  *     it can only slow a run down — so order statistics from the FAST
  *     side estimate the uncontaminated cost: with ≥ 7 runs the first
  *     two measured passes are discarded as extended warm-up (JIT/code
  *     cache drift, the r12 finding) and the kept set is the FASTEST 3
  *     of the remaining 5; shorter series drop one warm-up pass (≥ 4
  *     runs) and keep their fastest ≤ 3. Replayed on the recorded r13
  *     series: old protocol 60 noisy, fastest-3 9, gate 28.
  *   - per-query MEDIAN of the kept runs is the reported number;
  *     per-query relative spread = (max−min)/median over the kept runs
  *     is the noise gate ([[isNoisy]]): over 30% spread AND over an
  *     absolute 0.15 s range AND at a median ≥ 0.3 s (a sub-0.3 s
  *     query's 30% spread is JIT/GC jitter, not load). When more than
  *     [[noisyMax]] queries are noisy even the fastest runs disagree —
  *     the SUSTAINED-load signature, which no per-run selection can
  *     mask (BenchGateSpec pins both directions on synthetic series) —
  *     and the headline carries `"load_flagged":true`: do not compare
  *     that series with another.
  *   - FAILED QUERIES: a run that throws or leaks records no time. Any
  *     query with a failed run is listed in `failed`, and the headline
  *     carries `"valid":false` with a null value
  *     ([[headlineInvalidReason]]) — a time-to-exception is not a
  *     measurement. So does a series too short for the estimator to
  *     reject any pass.
  *
  * Verify-only queries are excluded from the measured suite, two kinds:
  *   - correctness MIRRORS of an operator whose scale path is benched
  *     under its own name (w4_rechunk_decl — the explode+global-window
  *     formulation kept as rechunkExec's independent test mirror);
  *   - ASSERTION HARNESSES and side-effecting lifecycles whose cost is
  *     gate construction, not a scale path (llm_ann_recall: brute-force
  *     truth + 4 batch ANN paths + 16 sequential point probes; the
  *     write→read→append→optimize lifecycles). Verify still runs them
  *     (they stay oracle-gated); Bench measures only plans a user would
  *     run at scale.
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

  /** The most noisy queries a series of `n` may hold before it is
    * `load_flagged`. */
  private[graft] def noisyMax(n: Int): Int = math.max(8, n / 8)

  /** Headline validity under the fastest-3 estimator (r15, VERDICT r14
    * §2): rejection power = measured passes − warm-up drop − 3 kept.
    * Below 5 passes that is ≤ 0 — the kept set is "all of them", NO
    * contaminated pass can be rejected, and a load-inflated total
    * would be published as a measurement. A series in which any query
    * `failed` is invalid too: its total lacks that query's cost.
    * Returns the reason the headline must carry `"valid":false` and a
    * null value, or None when every query ran and the estimator has
    * teeth. Pure so BenchGateSpec can replay both paths. */
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
  private[graft] final case class QueryStat(name: String, runs: Seq[Double],
      median: Double, spread: Double, noisy: Boolean, failed: Boolean)

  /** The statistics of measured `passes` over `names`: `passes(i)(j)`
    * is query `names(j)`'s time in pass `i`, None when that run failed.
    * Pure so BenchGateSpec can replay it. */
  private[graft] def stats(names: Seq[String],
      passes: Seq[Seq[Option[Double]]]): Seq[QueryStat] =
    names.indices.map { j =>
      val outcomes = passes.map(_(j))
      val ts = outcomes.flatten
      val kept = keptRuns(ts, passes.size)
      val med = median(kept)
      val spread = if (med > 0) (kept.max - kept.min) / med else 0.0
      QueryStat(names(j), ts, med, spread, isNoisy(kept),
        failed = outcomes.contains(None))
    }

  private val verifyOnly = Set(
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

  private def jnum(v: Double): String = f"$v%.3f"
  private def jlist(xs: Seq[String]): String =
    xs.map("\"" + _ + "\"").mkString("[", ",", "]")

  def main(args: Array[String]): Unit = {
    val sfDir = tools.Run.sfDir
    val runs = tools.Run.benchRuns
    val names = SparkEntry.queries.keys.toSeq.sorted.filterNot(verifyOnly)
    val spark = GraftSession.create()
    val series =
      try tools.Run.series(spark, names, runs) finally spark.stop()

    val total = jnum(series.map(_.median).sum)
    val noisy = series.filter(_.noisy).map(_.name)
    val failed = series.filter(_.failed).map(_.name)
    val invalid = headlineInvalidReason(runs, failed)
    val summary = s""""benched":${series.size},"runs":$runs,""" +
      s""""failed":${jlist(failed)},""" +
      s""""load_flagged":${noisy.size > noisyMax(series.size)},"""

    val detail = series.map { q =>
      val med = if (q.failed) "null" else jnum(q.median)
      s""""${q.name}":{"median":$med,"spread":${jnum(q.spread)},"runs":[${q.runs.map(jnum).mkString(",")}]}"""
    }.mkString("{", ",", "}")
    val target = Files.createDirectories(Paths.get("target"))
    Files.writeString(target.resolve("bench_detail.json"),
      s"""{"metric":"total_median","value":$total,"unit":"sec",""" +
        summary + s""""valid":${invalid.isEmpty},""" +
        s""""noisy":${jlist(noisy)},"queries":$detail,"sf":"$sfDir"}""")

    // a series without selection power, or with a failed query,
    // publishes NO total: an explicit invalid marker, never a silently
    // contaminated number (VERDICT r14 §2)
    val validity = invalid
      .map(r => s""""valid":false,"invalid_reason":"$r",""")
      .getOrElse(s""""valid":true,""")
    println(s"""{"metric":"total_median",""" +
      s""""value":${if (invalid.isDefined) "null" else total},"unit":"sec",""" +
      summary + s""""noisy":${noisy.size},""" + validity +
      s""""sf":"$sfDir"}""")
  }
}
