package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench noise gate, replayed on series shaped like what this host
  * actually produces (VERDICT r13 §2: the old gate flagged noisy 51–60
  * on an idle machine — miscalibrated — yet must keep catching real
  * sustained load). Pure: drives [[Bench.keptRuns]]/[[Bench.isNoisy]]
  * directly, no Spark session.
  *
  * The two regimes the gate must separate:
  *  - IDLE + AMBIENT BURSTS (the r13 signature): a shared-host burst
  *    hits 2+ consecutive suite passes at 2–6× while the other passes
  *    agree tightly. Additive contamination → the fastest 3 of the
  *    post-warm-up runs agree → not noisy.
  *  - SUSTAINED COMPETING LOAD: every pass inflated by a VARYING
  *    factor — there are no clean runs to select, so even the fastest
  *    3 disagree → noisy.
  */
class BenchGateSpec extends AnyFunSuite {

  private val noisyMax = math.max(8, 230 / 8) // the suite-size default

  test("recorded r13 burst series (verbatim worst offenders) pass the " +
      "fastest-3 gate") {
    // raw runs lifted from BENCH_r13's detail file — the series whose
    // kept-4 spreads (old protocol) were the largest on an idle host
    val recorded = Seq(
      "llm_semantic_dedup" ->
        Seq(1.209, 1.897, 1.134, 1.052, 4.358, 6.143, 1.075),
      "llm_score_percentile" ->
        Seq(0.848, 1.003, 0.899, 0.937, 3.251, 4.401, 0.737),
      "llm_robots_from_warc" ->
        Seq(0.568, 0.762, 0.569, 0.520, 1.840, 4.737, 0.524),
      "llm_ridge_auc" ->
        Seq(0.788, 0.961, 0.762, 0.788, 2.535, 4.259, 0.666),
      "llm_retrieval_topk" ->
        Seq(1.176, 1.610, 1.209, 1.225, 3.256, 4.986, 1.254),
      "stream_dsir_score" ->
        Seq(3.625, 2.510, 2.183, 1.992, 6.900, 3.553, 1.971),
      "llm_c4_clean" ->
        Seq(2.286, 2.950, 2.411, 2.586, 2.287, 2.597, 2.641))
    recorded.foreach { case (name, runs) =>
      val kept = Bench.keptRuns(runs, 7)
      assert(kept.length == 3, name)
      assert(!Bench.isNoisy(kept),
        s"$name still noisy on an idle-with-bursts series: kept=$kept")
    }
  }

  test("idle machine with a two-pass ambient burst → suite not " +
      "load-flagged") {
    val rnd = new scala.util.Random(20260816L)
    val noisy = (0 until 230).count { _ =>
      val base = 0.05 + rnd.nextDouble() * 2.95
      val runs = (0 until 7).map { p =>
        val warm = if (p == 0) 1.45 else if (p == 1) 1.15 else 1.0
        val burst = if (p == 4 || p == 5) 2.0 + rnd.nextDouble() * 4.0
          else 1.0
        val jitter = 1.0 + rnd.nextDouble() * 0.05
        base * warm * burst * jitter
      }
      Bench.isNoisy(Bench.keptRuns(runs, 7))
    }
    assert(noisy <= noisyMax,
      s"idle-with-bursts suite flagged: noisy=$noisy > $noisyMax")
  }

  test("sustained competing load → suite load-flagged") {
    val rnd = new scala.util.Random(20260817L)
    val noisy = (0 until 230).count { _ =>
      val base = 0.05 + rnd.nextDouble() * 2.95
      // every pass contended: a co-runner steals a varying share of
      // the machine, so no subset of runs agrees
      val runs = (0 until 7).map { _ =>
        base * (1.3 + rnd.nextDouble() * 2.2)
      }
      Bench.isNoisy(Bench.keptRuns(runs, 7))
    }
    assert(noisy > noisyMax,
      s"sustained load NOT flagged: noisy=$noisy <= $noisyMax")
  }

  test("keptRuns protocol: warm-up head by series length, fastest three " +
      "kept") {
    // 7 runs: drop 2 warm-up, fastest 3 of the remaining 5
    assert(Bench.keptRuns(Seq(9.0, 8.0, 1.0, 5.0, 2.0, 3.0, 4.0), 7) ==
      Seq(1.0, 2.0, 3.0))
    // 5 runs: drop 1 warm-up, fastest 3 of the remaining 4
    assert(Bench.keptRuns(Seq(9.0, 4.0, 1.0, 3.0, 2.0), 5) ==
      Seq(1.0, 2.0, 3.0))
    // 3 runs: nothing to spare — all kept
    assert(Bench.keptRuns(Seq(3.0, 1.0, 2.0), 3) == Seq(1.0, 2.0, 3.0))
    // sub-0.3 s medians never count as noisy (JIT/GC jitter floor)
    assert(!Bench.isNoisy(Seq(0.10, 0.15, 0.29)))
    // over the floor, a 2x spread at real magnitude does
    assert(Bench.isNoisy(Seq(0.40, 0.60, 0.90)))
  }

  test("degraded budget below 5 passes → headline marked invalid " +
      "(r15, VERDICT r14 §2)") {
    // the r14 driver artifact's failure mode: the time budget degraded
    // the pass count until keptRuns selected the fastest 3 OF 3 — zero
    // rejection power — yet the contaminated total was still published
    // as the round's number of record. The guard refuses exactly the
    // zero-power pass counts and no others.
    assert(Bench.headlineInvalidReason(3, Nil).isDefined)  // fastest 3 of 3
    assert(Bench.headlineInvalidReason(4, Nil).isDefined)  // drop 1, 3 of 3
    assert(Bench.headlineInvalidReason(5, Nil).isEmpty)    // drop 1, 3 of 4
    assert(Bench.headlineInvalidReason(7, Nil).isEmpty)    // drop 2, 3 of 5
    // the reason names the estimator state and points at the
    // gate-clean comparison path, and stays JSON-safe (no quotes)
    val r = Bench.headlineInvalidReason(4, Nil).get
    assert(r.contains("selection power") && r.contains("gate-clean"))
    assert(!r.contains("\""))
  }

  test("a failed query invalidates the headline at any pass count") {
    // a run that throws records no time, so the series' total lacks
    // that query's cost: never publishable, whatever the power
    val r = Bench.headlineInvalidReason(7, Seq("q_a", "q_b"))
    assert(r.isDefined)
    assert(r.get.contains("failed") && r.get.contains("q_a,q_b"))
    assert(!r.get.contains("\""))
    assert(Bench.headlineInvalidReason(3, Seq("q_a")).isDefined)
    // and a clean series with selection power stays valid
    assert(Bench.headlineInvalidReason(7, Nil).isEmpty)
    // a query that failed every run keeps no times, and its empty kept
    // set is not noisy
    assert(!Bench.isNoisy(Bench.keptRuns(Nil, 7)))
  }

  test("series statistics: a failed run marks only its query, the " +
      "warm-up head is dropped") {
    // 7 passes over two queries; q_fail throws in pass 5
    val names = Seq("q_ok", "q_fail")
    val ok = Seq(9.0, 8.0, 1.0, 5.0, 2.0, 3.0, 4.0)
    val fail = Seq(Some(7.0), Some(6.0), Some(1.5), Some(2.5), None,
      Some(0.5), Some(3.5))
    val passes = ok.indices.map(i => Seq(Some(ok(i)), fail(i)))
    val Seq(a, b) = Bench.stats(names, passes)
    // the warm-up head (9.0, 8.0) is dropped: fastest 3 of the other 5
    assert(a.name == "q_ok" && !a.failed)
    assert(a.runs == ok && a.median == 2.0 && a.spread == 1.0)
    // the failed run records no time; the other six are kept
    assert(b.name == "q_fail" && b.failed)
    assert(b.runs == fail.flatten)
    assert(b.median == 1.5) // fastest 3 of (1.5, 2.5, 0.5, 3.5)
    // the other query's kept median is the same as in a clean series
    val clean = Bench.stats(Seq("q_ok"), ok.map(t => Seq(Some(t))))
    assert(clean == Seq(a))
    assert(Bench.headlineInvalidReason(passes.size,
      Seq(a, b).filter(_.failed).map(_.name)).get.contains("q_fail"))
  }
}
