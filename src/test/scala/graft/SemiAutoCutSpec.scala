package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.apache.spark.sql.functions._
import graft.cuts._
import graft.stats.{Hist, Quantiles}

/** T1-T8 threshold cuts vs serial hand computation. */
class SemiAutoCutSpec extends SparkSpec {
  import spark.implicits._

  /** `d` written to and read back from parquet: a scan whose optimized
    * plan reports no row count, the input every production cut sees. */
  private def viaParquet(d: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("semiautocut")
      .resolve("d").toString
    d.coalesce(1).write.parquet(dir)
    val out = spark.read.parquet(dir)
    assert(out.queryExecution.optimizedPlan.stats.rowCount.isEmpty)
    out
  }

  /** numpy-style linearly interpolated percentile of sorted `s`. */
  private def npPct(s: Seq[Double], p: Double): Double = {
    val pos = p * (s.size - 1); val lo = pos.toInt
    s(lo) + (pos - lo) * (s(math.min(lo + 1, s.size - 1)) - s(lo))
  }

  private lazy val vals = (0 until 500).map(i => ((i * 37) % 500) / 5.0)
  private lazy val df = vals.zipWithIndex
    .map { case (v, i) => (i.toLong, v, i % 10) }
    .toDF("id", "rq", "grp")

  test("T1 value cut is strict inside (lo, hi)") {
    val c = SemiAutoCut.cut(df, "rq",
      CutPars(valLower = Some(10.0), valUpper = Some(80.0)))
    assert(df.filter(c).count() == vals.count(v => v > 10.0 && v < 80.0))
  }

  test("T2 percentile-upper threshold from estimation subset") {
    val est = vals.zipWithIndex.filter(_._2 % 10 == 0).map(_._1).sorted
    val pos = 0.9 * (est.size - 1)
    val thr = est(pos.toInt) + (pos - pos.toInt) *
      (est(math.min(pos.toInt + 1, est.size - 1)) - est(pos.toInt))
    val c = SemiAutoCut.cut(df, "rq", CutPars(percentUpper = Some(90.0)),
      estimationCondition = col("grp") === 0)
    assert(df.filter(c).count() == vals.count(_ < thr))
  }

  test("T3 sigma cut brackets the median symmetrically") {
    val c = SemiAutoCut.cut(df, "rq", CutPars(sigma = Some(1.0)))
    val sorted = vals.sorted
    def pct(p: Double): Double = {
      val pos = p * (sorted.size - 1); val lo = pos.toInt
      sorted(lo) + (pos - lo) *
        (sorted(math.min(lo + 1, sorted.size - 1)) - sorted(lo))
    }
    val med = pct(0.5)
    val sig = ((med - pct(0.15865)) + (pct(0.84135) - med)) / 2
    assert(df.filter(c).count() ==
      vals.count(v => v > med - sig && v < med + sig))
  }

  test("one resolver: binnedCut and rateCut resolve as thresholds does") {
    val value = CutPars(valLower = Some(10.0), valUpper = Some(80.0))
    val families = Seq(value,
      CutPars(percent = Some(60.0)),
      CutPars(percentLower = Some(10.0), percentUpper = Some(90.0)),
      CutPars(percentUpper = Some(75.0)),
      CutPars(sigma = Some(1.0)),
      CutPars(sigmaLower = Some(0.5), sigmaUpper = Some(1.5)),
      CutPars(sigmaLower = Some(1.0)),
      CutPars(),
      value.copy(percent = Some(60.0), sigmaUpper = Some(1.0)))
    def ids(d: DataFrame) = d.select("id").as[Long].collect().sorted.toSeq
    families.foreach { pars =>
      val t = SemiAutoCut.thresholds(df, "rq", pars)
      val binned = SemiAutoCut.binnedCut(df, "rq", lit(0L), pars, "cut")
      assert(ids(binned.filter(col("cut"))) ==
        ids(df.filter(t.predicate(col("rq")))), s"$pars")
    }
    // value before percentile before sigma
    assert(SemiAutoCut.thresholds(df, "rq", families.last) ==
      SemiAutoCut.thresholds(df, "rq", value))
    assert(SemiAutoCut.thresholds(df, "rq",
        CutPars(percentUpper = Some(75.0), sigma = Some(1.0))) ==
      SemiAutoCut.thresholds(df, "rq", CutPars(percentUpper = Some(75.0))))
    assert(SemiAutoCut.thresholds(df, "rq", CutPars()) ==
      Thresholds(None, None))

    // rate cut: a bin keeps iff its count is at most thresholds' upper
    // bound over the bin counts as a frame
    val counts = Seq(5, 12, 7, 30, 7, 9, 3, 18, 11, 7)
    val d = counts.zipWithIndex.flatMap { case (n, b) =>
      (0 until n).map(j => b * 10.0 + 0.5 + j * 0.25)
    }.toDF("t")
    Seq(("percent", 40.0) -> CutPars(percentUpper = Some(40.0)),
        ("percent", 85.0) -> CutPars(percentUpper = Some(85.0)),
        ("sigma", 0.0) -> CutPars(sigmaUpper = Some(0.0)),
        ("sigma", 1.0) -> CutPars(sigmaUpper = Some(1.0))).foreach {
      case (limit, pars) =>
        val thr = SemiAutoCut.thresholds(counts.map(_.toDouble).toDF("n"),
          "n", pars).upper.get
        val out = SemiAutoCut.rateCut(d, col("t"), 0.0, 100.0, 10, lit(true),
          Right(limit), "keep")
        assert(out.filter(col("keep")).count() ==
          counts.filter(_ <= thr).sum, s"$limit: threshold $thr")
    }
  }

  test("T5 time-interval cut ORs disjoint intervals (bug-fix divergence)") {
    val c = SemiAutoCut.timeIntervalCut(col("rq"),
      Seq((0.0, 10.0), (50.0, 60.0)))
    assert(df.filter(c).count() ==
      vals.count(v => (v >= 0 && v <= 10) || (v >= 50 && v <= 60)))
  }

  test("T6 binned percentile cut ≡ per-bin serial computation") {
    val bin = Hist.bucket(col("rq"), 0.0, 100.0, 5)
    val out = SemiAutoCut.binnedCut(df, "rq", bin,
      CutPars(percentUpper = Some(80.0)), "cut")
    val got = out.filter(col("cut")).count()
    // serial reference: per-bin exact percentile then strict upper
    val byBin = vals.groupBy(v => math.min((v / 20.0).toInt, 4))
    val expected = byBin.map { case (_, vs) =>
      val s = vs.sorted
      val pos = 0.8 * (s.size - 1); val lo = pos.toInt
      val thr = s(lo) + (pos - lo) *
        (s(math.min(lo + 1, s.size - 1)) - s(lo))
      vs.count(_ < thr)
    }.sum
    assert(got == expected)
  }

  test("T6 exceptions override per-bin thresholds") {
    val bin = Hist.bucket(col("rq"), 0.0, 100.0, 5)
    val out = SemiAutoCut.binnedCut(df, "rq", bin,
      CutPars(percentUpper = Some(80.0)), "cut",
      exceptions = Map(0L -> Thresholds(None, Some(5.0))))
    val inBin0 = out.filter(Hist.bucket(col("rq"), 0.0, 100.0, 5) === 0)
    assert(inBin0.filter(col("cut")).count() ==
      vals.count(v => v < 5.0 && v / 20.0 < 1))
  }

  test("T6 bins absent from the estimation sample fail the cut") {
    val bin = Hist.bucket(col("rq"), 0.0, 100.0, 5)
    // estimation restricted to rq < 40 → bins 2..4 have no estimation rows
    val out = SemiAutoCut.binnedCut(df, "rq", bin,
      CutPars(percentUpper = Some(80.0)), "cut",
      estimationCondition = col("rq") < 40.0)
    assert(out.filter(col("cut") && col("rq") >= 40.0).count() == 0)
    assert(out.filter(col("cut")).count() > 0) // bins 0-1 still estimated
    // an exception override still applies to an unestimated bin
    val out2 = SemiAutoCut.binnedCut(df, "rq", bin,
      CutPars(percentUpper = Some(80.0)), "cut",
      exceptions = Map(4L -> Thresholds(Some(85.0), None)),
      estimationCondition = col("rq") < 40.0)
    assert(out2.filter(col("cut") && col("rq") > 85.0).count() ==
      vals.count(_ > 85.0))
  }

  test("T7 events outside [tlo, thi] always keep (no edge-bin clamping)") {
    val d = (0 until 300).map(i => (i.toDouble, 0.0)).toDF("t", "v")
    // limit 0 cuts every bin inside the window; outside must survive
    val out = SemiAutoCut.rateCut(d, col("t"), 50.0, 250.0, 4,
      col("v") === 0.0, Left(0.0), "keep")
    assert(out.filter(col("keep")).count() ==
      (0 until 300).count(i => i < 50 || i > 250))
  }

  test("T7 rate cut keeps bins at/below the absolute limit") {
    val d = (0 until 300).map(i => (i.toDouble, (i % 3).toDouble))
      .toDF("t", "v")
    val out = SemiAutoCut.rateCut(d, col("t"), 0.0, 299.0, 3,
      col("v") === 0.0, Left(1000.0), "keep")
    assert(out.filter(col("keep")).count() == 300) // nothing exceeds
    val out2 = SemiAutoCut.rateCut(d, col("t"), 0.0, 299.0, 3,
      col("v") === 0.0, Left(0.0), "keep")
    assert(out2.filter(col("keep")).count() == 0) // all bins exceed
  }

  test("T8 CutSpec JSON round trip preserves specs") {
    val specs: Seq[CutSpec] = Seq(
      CutSpec.Fixed("cut_base", "baseline_ch1", Some(-1.5), Some(2.5)),
      CutSpec.Estimated("cut_chi2", "lowchi2_ch1",
        CutPars(sigmaUpper = Some(3.0)),
        Some(CutSpec.BinSpec("event_time", 10, None, None))),
      CutSpec.TimeIntervals("cut_t", "event_time",
        List(CutSpec.Interval(0.0, 10.0), CutSpec.Interval(20.0, 30.0))))
    val json = CutSpec.toJson(specs)
    assert(CutSpec.fromJson(json) == specs)
  }

  test("MasterCuts saturation override rescues saturated events") {
    val d = Seq((1.0, false), (500.0, false), (1.0, true))
      .toDF("ofamp", "cut_ok")
    val kept = d.filter(
      MasterCuts.combined(Seq(col("cut_ok")), Some((col("ofamp"), 400.0))))
    assert(kept.count() == 2) // the true cut + the saturated event
  }

  test("T2/T3 cardinality guard switches to the sketch above the limit") {
    import graft.stats.Quantiles
    val d = (0 until 5000).map(i => i.toDouble).toDF("x")
    // below the limit: exact path, flag false
    val g1 = Quantiles.thresholdQuantiles(d, col("x"), Seq(0.5),
      maxExactRows = 10000)
    assert(!g1.approximated)
    assert(g1.values.head == 2499.5) // numpy-style interpolated median
    // above the limit: the guard routes to the GK sketch
    val g2 = Quantiles.thresholdQuantiles(d, col("x"), Seq(0.5),
      maxExactRows = 100)
    assert(g2.approximated)
    // the cut built through the guard still thresholds sensibly
    val c = SemiAutoCut.thresholds(d, "x", CutPars(sigma = Some(2.0)),
      maxExactRows = 100)
    assert(c.lower.isDefined && c.upper.isDefined)
  }

  test("T6 cardinality guard routes per-bin estimation to the sketch") {
    // 2 bins × even counts of consecutive ints: the exact p50
    // INTERPOLATES between elements, the GK sketch returns an element —
    // so a different pass set on the boundary row proves the switch ran
    val d = (0 until 40).map(i => ((i / 20).toDouble, (i % 20).toDouble))
      .toDF("t", "v")
    def passCount(maxExact: Int): Long =
      SemiAutoCut.binnedCut(d, "v", col("t").cast("long"),
        CutPars(percentUpper = Some(50.0)), "keep",
        maxExactRows = maxExact)
        .filter(col("keep")).count()
    val exactPass = passCount(Int.MaxValue) // hi = 9.5 → v ≤ 9 pass
    val approxPass = passCount(1)           // hi = element (9 or 10)
    assert(exactPass == 20L) // 10 per bin, strict v < 9.5
    // sketch threshold is an ELEMENT: strict < drops the element itself
    // → 18 (hi=9) or 20 (hi=10) per the GK tie side, never interpolated
    assert(approxPass == 18L || approxPass == 20L)
    // and the guarded run still produces a usable per-bin cut
    assert(SemiAutoCut.binnedCut(d, "v", col("t").cast("long"),
      CutPars(sigma = Some(2.0)), "keep", maxExactRows = 1)
      .filter(col("keep")).count() > 0L)
  }

  test("guarded threshold drift stays within the GK rank bound") {
    import graft.stats.Quantiles
    // property-style: several distributions/seeds; the sketch value's
    // RANK must sit within eps*n (+1 interpolation slack) of the target
    val rnd = new scala.util.Random(7)
    Seq(0.25, 0.5, 0.9).foreach { q =>
      (0 until 3).foreach { trial =>
        val xs = Array.fill(4000)(trial match {
          case 0 => rnd.nextDouble() * 100
          case 1 => rnd.nextGaussian() * 10 + 50
          case _ => math.exp(rnd.nextGaussian()) // heavy tail
        })
        val d = xs.toSeq.toDF("x")
        val approxV = Quantiles
          .thresholdQuantiles(d, col("x"), Seq(q), maxExactRows = 100)
          .values.head
        assert(Quantiles.thresholdQuantiles(d, col("x"), Seq(q),
          maxExactRows = 100).approximated)
        val n = xs.length
        val rank = xs.count(_ <= approxV)
        val eps = 1.0 / Quantiles.approxAcc
        assert(math.abs(rank - q * n) <= eps * n + 1,
          s"q=$q trial=$trial rank=$rank target=${q * n}")
      }
    }
  }

  test("estimation runs once: one action per estimate, none left in the cut") {
    val d = viaParquet(vals.zipWithIndex
      .map { case (v, i) => (i.toDouble, v, (i % 3).toDouble) }
      .toDF("t", "rq", "trig"))
    Seq(CutPars(sigma = Some(2.0)), CutPars(percentUpper = Some(90.0)))
      .foreach { pars =>
        val (t, _, jobs) =
          tools.Run.capture(spark)(SemiAutoCut.thresholds(d, "rq", pars))
        assert(t.upper.isDefined)
        assert(jobs == 1, s"thresholds($pars) launched $jobs jobs")
      }
    val (_, _, inputJobs) = tools.Run.capture(spark)(d.count())
    val bin = Hist.bucket(col("t"), 0.0, 500.0, 5)
    Seq(CutPars(sigma = Some(2.0)), CutPars(percentUpper = Some(90.0)),
        CutPars(valUpper = Some(50.0))).foreach { pars =>
      val (out, _, jobs) = tools.Run.capture(spark)(
        SemiAutoCut.binnedCut(d, "rq", bin, pars, "cut_b"))
      assert(out.filter(col("cut_b")).count() > 0)
      assert(jobs == 1, s"binnedCut($pars) launched $jobs jobs")
    }
    val binned = SemiAutoCut.binnedCut(d, "rq", bin,
      CutPars(sigma = Some(2.0)), "cut_b")
    // the bin counts are one job; the threshold is resolved on the driver
    val (rated, _, rateJobs) = tools.Run.capture(spark)(
      SemiAutoCut.rateCut(binned, col("t"), 0.0, 500.0, 10,
        col("trig") === 0.0, Right(("sigma", 1.0)), "cut_r"))
    assert(rateJobs == 1, s"rateCut launched $rateJobs jobs")
    Seq(binned, rated).foreach { out =>
      val plan = out.queryExecution.optimizedPlan
      assert(plan.collect { case a: Aggregate => a }.isEmpty, plan.toString)
      assert(plan.collect { case j: Join => j }.isEmpty, plan.toString)
      val (n, _, jobs) = tools.Run.capture(spark)(out.count())
      assert(n == vals.size)
      assert(jobs == inputJobs, s"count() launched $jobs jobs, input $inputJobs")
    }
  }

  test("guard on a parquet sample: exact up to n rows, sketch past it") {
    val n = 10
    val d = viaParquet((0 until n).map(_.toDouble).toDF("x"))
    val exact = Quantiles.thresholdQuantiles(d, col("x"), Seq(0.5),
      maxExactRows = n)
    assert(!exact.approximated)
    assert(exact.values == Seq(4.5)) // numpy-style interpolated median
    assert(Quantiles.thresholdQuantiles(d, col("x"), Seq(0.5),
      maxExactRows = n - 1).approximated)
    val err = intercept[IllegalArgumentException](
      Quantiles.thresholdQuantiles(d.filter(col("x") > 1e9), col("x"),
        Seq(0.5)))
    assert(err.getMessage.contains("empty estimation sample"))
  }

  test("T6 guard on a parquet sample: the per-bin total decides") {
    // 2 bins × 0..19: exact p50 is 9.5 (v ≤ 9 pass, 10 per bin); the
    // sketch returns the element 9, so strict < drops it (9 per bin)
    val d = viaParquet((0 until 40)
      .map(i => ((i / 20).toDouble, (i % 20).toDouble)).toDF("t", "v"))
    def passCount(maxExact: Int): Long =
      SemiAutoCut.binnedCut(d, "v", col("t"),
        CutPars(percentUpper = Some(50.0)), "keep", maxExactRows = maxExact)
        .filter(col("keep")).count()
    assert(passCount(40) == 20L)
    assert(passCount(39) == 18L)
  }

  test("T6 empty estimation sample fails every row without throwing") {
    val d = viaParquet(df)
    val out = SemiAutoCut.binnedCut(d, "rq",
      Hist.bucket(col("rq"), 0.0, 100.0, 5),
      CutPars(percentUpper = Some(80.0)), "cut",
      estimationCondition = col("rq") > 1e9)
    assert(out.count() == vals.size)
    assert(out.filter(col("cut")).count() == 0)
  }

  test("T6 out-of-range rows: Hist.bucket bins them, a null bin fails") {
    val below = Seq(-30.0, -31.0, -32.0) // bin -2, estimated on its own
    val above = Seq(250.0, 260.0)        // clamped into the last bin, 4
    val all = vals ++ below ++ above
    val d = all.toDF("rq")
    val pars = CutPars(percentUpper = Some(80.0))
    val out = SemiAutoCut.binnedCut(d, "rq",
      Hist.bucket(col("rq"), 0.0, 100.0, 5), pars, "cut")
    val expected = all.groupBy(v => math.min(math.floor(v / 20.0), 4.0))
      .values.map { vs =>
        val thr = npPct(vs.sorted, 0.8)
        vs.count(_ < thr)
      }.sum
    assert(out.filter(col("cut")).count() == expected)
    assert(out.filter(col("cut") && col("rq") < 0.0).count() == 2)
    // restricting the bin to the range makes every out-of-range row fail
    val inRange = col("rq") >= 0.0 && col("rq") <= 100.0
    val restricted = SemiAutoCut.binnedCut(d, "rq",
      when(inRange, Hist.bucket(col("rq"), 0.0, 100.0, 5)), pars, "cut")
    assert(restricted.filter(col("cut") && !inRange).count() == 0)
    val expectedInRange = vals.groupBy(v => math.min((v / 20.0).toInt, 4))
      .values.map { vs =>
        val thr = npPct(vs.sorted, 0.8)
        vs.count(_ < thr)
      }.sum
    assert(restricted.filter(col("cut")).count() == expectedInRange)
  }
}
