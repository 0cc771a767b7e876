package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.traces.TraceStore
import graft.vibration.MomentAggregator
import Q._

/** Trace-store, windowing and vibration-moment operators (S5/J2, W4/W5,
  * A13, A16/A18) exercised on deterministic synthetic traces derived from
  * the events table (integer-valued samples → float sums are exact, so
  * DuckDB oracles hash-match bit for bit). */
object TraceQueries {

  /** Synthetic 64-sample trace per event: k_i = (event_id·31 + i·17) mod
    * 97 as double — integer-valued, order-independent sums. */
  private def syntheticTraces(s: SparkSession, dir: String): DataFrame =
    events(s, dir).withColumn("trace",
      transform(sequence(lit(0), lit(63)),
        i => ((col("event_id") * 31 + i * 17) % 97).cast("double")))

  val queries: Map[String, QFn] = Map(
    // S5/J2/W5: capped broadcast key fetch + window slice + exact sum
    "s5_trace_fetch_window" -> ((s, dir) => {
      val tr = syntheticTraces(s, dir)
        .withColumn("series_number", col("event_id") % 4)
        .withColumn("event_number", col("event_id"))
      val keys = events(s, dir)
        .orderBy(desc("value"), asc("event_id")).limit(50)
        .select((col("event_id") % 4).as("series_number"),
          col("event_id").as("event_number"))
      TraceStore.fetch(tr, keys, window = Some((8, 16)),
          nbEventsLimit = 1000)
        .select(col("event_id"),
          aggregate(col("trace"), lit(0.0), (acc, x) => acc + x)
            .as("window_sum"))
        .orderBy("event_id")
    }),

    // A13: mean pulse over a cut ensemble (posexplode + grouped mean of
    // integer-valued samples → exact)
    "a13_mean_pulse" -> ((s, dir) =>
      syntheticTraces(s, dir)
        .filter(col("value") > 250.0)
        .select(posexplode(col("trace")))
        .groupBy("pos")
        .agg((sum(col("col")) / count(lit(1))).as("mean_amp"))
        .orderBy("pos")),

    // A16/A18 sweep path: 2-channel complex moments per frequency group
    // through the real MomentAggregator (udaf + groupBy), integer-valued
    // phasors → exact means
    "vib_moments_sweep" -> ((s, dir) => {
      val amps = events(s, dir).select(
        (col("event_id") % 8).as("freq"),
        array(
          array((col("event_id") % 13 - 6).cast("double"),
            (col("event_id") % 7 - 3).cast("double")),
          array((col("event_id") % 11 - 5).cast("double"),
            (col("event_id") % 5 - 2).cast("double"))).as("chans"))
      val agg = udaf(new MomentAggregator(nCh = 2, nFreq = 1))
      amps.groupBy("freq")
        .agg(agg(col("chans")).as("mo"))
        .select(col("freq"),
          col("mo.n").as("n"),
          element_at(col("mo.m"), 1).as("m0_re"),
          element_at(col("mo.m"), 2).as("m0_im"),
          element_at(col("mo.s"), 3).as("s01_re"),
          element_at(col("mo.s"), 4).as("s01_im"),
          element_at(col("mo.r"), 2).as("r01"))
        .orderBy("freq")
    }),

    // A14/A15/K10: complex ensemble mean + stdcomplex + mean power via the
    // ComplexMeanStd aggregator over integer phasors (exact oracle)
    "a14_complex_ensemble" -> ((s, dir) => {
      val z = events(s, dir).select(
        array(
          (col("event_id") % 9 - 4).cast("double"),
          (col("event_id") % 5 - 2).cast("double"),
          (col("event_id") % 7 - 3).cast("double"),
          (col("event_id") % 3 - 1).cast("double")).as("z"))
      val agg = udaf(new graft.stats.VectorStats.ComplexMeanStd(2))
      z.agg(agg(col("z")).as("ce"))
        .select(
          col("ce.n").as("n"),
          element_at(col("ce.meanRe"), 1).as("mean_re_1"),
          element_at(col("ce.meanIm"), 1).as("mean_im_1"),
          element_at(col("ce.stdComplex"), 1).as("std_1"),
          element_at(col("ce.meanRe"), 2).as("mean_re_2"),
          element_at(col("ce.meanIm"), 2).as("mean_im_2"),
          element_at(col("ce.stdComplex"), 2).as("std_2"))
    }),

    // K1/K2: one-sided PSD via the psd kernel (oracle: brute-DFT mirror)
    "k1_psd" -> ((s, dir) =>
      syntheticTraces(s, dir).filter(col("event_id") < 20)
        .select(col("event_id"),
          round(aggregate(
            graft.traces.Dsp.psdUdf(1000.0)(col("trace")),
            lit(0.0), (acc, x) => acc + x), 6).as("total_power"))
        .orderBy("event_id")),

    // K3: Butterworth low-pass kernel (oracle: recursive-CTE IIR mirror)
    "k3_lowpass" -> ((s, dir) =>
      syntheticTraces(s, dir).filter(col("event_id") < 20)
        .select(col("event_id"),
          round(element_at(
            graft.traces.Dsp.lowpassUdf(100.0, 1000.0)(col("trace")), 64), 6)
            .as("filtered_last"))
        .orderBy("event_id")),

    // L3: seeded exact-n sample — the deterministic size property
    "l3_sample_seeded" -> ((s, dir) =>
      graft.stats.Sampling.exactN(events(s, dir), 100, seed = 7L)
        .agg(count(lit(1)).as("cnt"))),

    // K12/K11: PSD, PSD variance and rms-ratio TF from accumulated
    // moments — distributed aggregation, driver-side estimators, exact
    // oracle thanks to integer phasors
    "k12_psd_estimator" -> ((s, dir) => {
      import graft.vibration.{Estimators, Moments}
      val amps = events(s, dir).select(
        array(
          array((col("event_id") % 13 - 6).cast("double"),
            (col("event_id") % 7 - 3).cast("double")),
          array((col("event_id") % 11 - 5).cast("double"),
            (col("event_id") % 5 - 2).cast("double"))).as("chans"))
      val agg = udaf(new MomentAggregator(nCh = 2, nFreq = 1))
      implicit val enc = org.apache.spark.sql.Encoders.product[Moments]
      val mo = amps.agg(agg(col("chans")).as("mo"))
        .select("mo.*").as[Moments].head()
      import s.implicits._
      Seq((mo.n, Estimators.psd(mo, 0)(0),
        Estimators.psdVariance(mo, 0)(0),
        Estimators.tfRmsRatio(mo, 0, 1)._1(0)))
        .toDF("n", "psd0", "psd0_var", "tf_rms_01")
    }),

    // K6/K7: the calibration fit path end to end — cluster reduces to a
    // ≤50-row profile, driver runs Levenberg-Marquardt; exactly-linear
    // integer data makes the optimum analytically known (residuals
    // vanish ⇒ the numeric-jacobian bias vanishes), so the oracle is
    // closed-form OLS. Params/chi2 round to 6; standard errors to 4
    // (the finite-difference jacobian carries ~1e-6 relative noise)
    "k6_line_fit" -> ((s, dir) => {
      import graft.calib.Fitting
      val prof = events(s, dir)
        .select((col("event_id") % 50).cast("double").as("x"),
          (lit(3.0) + lit(2.0) * (col("event_id") % 50)).as("y"))
        .groupBy("x").agg((sum("y") / count(lit(1))).as("ym"))
        .orderBy("x")
      val pts = prof.collect().map(r => (r.getDouble(0), r.getDouble(1)))
      val fit = Fitting.leastSquares(
        p => pts.map { case (x, y) => p(0) + p(1) * x - y },
        Array(0.0, 0.0), tol = 1e-14)
      val se = fit.paramErrors
      import s.implicits._
      Seq((pts.length.toLong, fit.params(0), fit.params(1), fit.chi2,
          se(0), se(1)))
        .toDF("n", "a", "b", "chi2", "se_a", "se_b")
        .select(col("n"), round(col("a"), 6).as("a"),
          round(col("b"), 6).as("b"), round(col("chi2"), 6).as("chi2"),
          round(col("se_a"), 4).as("se_a"), round(col("se_b"), 4).as("se_b"))
    }),

    // K4/K13: two-pole pulse template + template energy + collection
    // efficiency — pure template math mirrored term-by-term in SQL
    // (round 6 absorbs exp() libm ulps)
    "k13_template_metrics" -> ((s, dir) => {
      import graft.calib.Models
      val tpl = Models.twoPole(n = 64, fs = 1000.0, t0 = 0.004,
        tauRise = 0.001, tauFall = 0.01)
      val energy = Models.templateEnergy(tpl, 1000.0)
      val eff = Models.collectionEfficiency(energy * 1e6, 10.0, 3.1)
      import s.implicits._
      Seq((energy, eff, tpl(10), tpl.max))
        .toDF("energy", "eff", "tpl_at_10", "tpl_max")
        .select(round(col("energy"), 6).as("energy"),
          round(col("eff"), 6).as("eff"),
          round(col("tpl_at_10"), 6).as("tpl_at_10"),
          round(col("tpl_max"), 6).as("tpl_max"))
    }),

    // K8: dPdI deconvolution — rfft of the template, complex division
    // by the filter response per bin, hermitian inverse transform; the
    // oracle mirrors the whole chain with brute DFT sums (round 6)
    "k8_dpdi_deconvolution" -> ((s, dir) => {
      import graft.calib.PhotonCalib
      val tpl = Array.tabulate(64)(i => ((5 * 31 + i * 17) % 97).toDouble)
      val dpdi = Array.tabulate(66) { j =>
        val k = j / 2
        if (j % 2 == 0) (1 + k % 3).toDouble else (k % 2).toDouble
      }
      val out = PhotonCalib.deconvolveDpdi(tpl, dpdi)
      import s.implicits._
      out.indices.map(i => (i, out(i))).toDF("t", "v")
        .select(col("t"), round(col("v"), 6).as("v"))
        .orderBy("t")
    }),

    // K14: energy resolution from a template fit — ensemble of exact
    // two-pole pulses → distributed mean pulse → LM template fit
    // (model class contains the data exactly, so the optimum is the
    // known synthesis parameters) → resolution E·τf/τr; the oracle is
    // the closed-form answer from the synthesis constants
    "k14_energy_resolution" -> ((s, dir) => {
      import graft.calib.{Models, PhotonCalib}
      val truth = Models.twoPole(n = 64, fs = 1000.0, t0 = 0.004,
        tauRise = 0.001, tauFall = 0.01).map(_ * 2.5)
      val mean = events(s, dir)
        .select(typedlit(truth.toSeq).as("trace"))
        .select(posexplode(col("trace")))
        .groupBy("pos").agg((sum(col("col")) / count(lit(1))).as("m"))
        .orderBy("pos").collect().map(_.getDouble(1))
      val fit = PhotonCalib.fitTwoPoleTemplate(mean, fs = 1000.0,
        p0 = Array(1.0, 0.003, 0.0008, 0.012), tol = 1e-16)
      val (res, _) = PhotonCalib.energyResolution(fit, photonEnergyEv = 3.1)
      import s.implicits._
      Seq((fit.params(0), fit.params(1), math.abs(fit.params(2)),
          math.abs(fit.params(3)), res))
        .toDF("amp", "t0", "tau_rise", "tau_fall", "resolution")
        .select(round(col("amp"), 6).as("amp"),
          round(col("t0"), 6).as("t0"),
          round(col("tau_rise"), 6).as("tau_rise"),
          round(col("tau_fall"), 6).as("tau_fall"),
          round(col("resolution"), 6).as("resolution"))
    }),

    // K9: crosstalk template build (baseline-referenced window of the
    // distributed mean victim pulse) + scaled subtraction — array math
    // mirrored in SQL (round 6)
    "k9_crosstalk" -> ((s, dir) => {
      import graft.calib.PhotonCalib
      val mean = syntheticTraces(s, dir).filter(col("value") > 250.0)
        .select(posexplode(col("trace")))
        .groupBy("pos").agg((sum(col("col")) / count(lit(1))).as("m"))
        .orderBy("pos").collect().map(_.getDouble(1))
      val tpl = PhotonCalib.buildCrosstalkTemplate(mean, (8, 32))
      val victim = Array.tabulate(mean.length)(i => ((i * 13) % 31).toDouble)
      val cleaned = PhotonCalib.subtractCrosstalk(victim, tpl, 0.5)
      import s.implicits._
      tpl.indices.map(i => (i, tpl(i), cleaned(i)))
        .toDF("pos", "tpl", "cleaned")
        .select(col("pos"), round(col("tpl"), 6).as("tpl"),
          round(col("cleaned"), 6).as("cleaned"))
        .orderBy("pos")
    }),

    // K5: gaussian-mixture + Poisson photon-comb spectrum models
    // evaluated over a grid — term-by-term SQL mirror (round 6)
    "k5_spectrum_models" -> ((s, dir) => {
      import graft.calib.Models
      val params = Array(2.0, 1.0, 0.5, 1.0, 3.0, 0.8)
      import s.implicits._
      (0 until 40).map { i =>
        val x = i * 0.2
        (i, Models.nGaussians(x, params),
          Models.poissonComb(x, norm = 5.0, offset = 0.5, spacing = 1.0,
            sigma = 0.3, lambda = 1.7, nPeaks = 6))
      }.toDF("i", "mix", "comb")
        .select(col("i"),
          round(col("mix"), 6).as("mix"), round(col("comb"), 6).as("comb"))
        .orderBy("i")
    }),

    // K15: parameter correlation from the same linear-fit covariance as
    // k6_line_fit; the closed form is -Σx/sqrt(n·Σx²) (round 4 absorbs
    // the finite-difference jacobian noise)
    "k15_fit_correlation" -> ((s, dir) => {
      import graft.calib.Fitting
      val prof = events(s, dir)
        .select((col("event_id") % 50).cast("double").as("x"),
          (lit(3.0) + lit(2.0) * (col("event_id") % 50)).as("y"))
        .groupBy("x").agg((sum("y") / count(lit(1))).as("ym"))
        .orderBy("x")
      val pts = prof.collect().map(r => (r.getDouble(0), r.getDouble(1)))
      val fit = Fitting.leastSquares(
        p => pts.map { case (x, y) => p(0) + p(1) * x - y },
        Array(0.0, 0.0), tol = 1e-14)
      val corr = Fitting.correlationMatrix(fit.covariance)
      import s.implicits._
      Seq(Tuple1(corr(0, 1))).toDF("corr_ab")
        .select(round(col("corr_ab"), 4).as("corr_ab"))
    }),

    // S6: single-event point lookup by (series, dump, event)
    "s6_point_lookup" -> ((s, dir) => {
      val tr = syntheticTraces(s, dir)
        .withColumn("series_number", col("event_id") % 4)
        .withColumn("dump_number", col("event_id") % 2)
        .withColumn("event_number", col("event_id"))
      TraceStore.fetchOne(tr, seriesNumber = 3, dumpNumber = 1,
          eventNumber = 7)
        .select(col("event_id"),
          aggregate(col("trace"), lit(0.0), (acc, x) => acc + x)
            .as("trace_sum"))
    }),

    // K11 (cross + phase-locked TF estimators) and A17 (variance of the
    // mean phasor) from the same accumulated moments — outputs rounded
    // to 6 decimals on both sides (hypot/atan2 may differ from the
    // oracle's sqrt/atan2 by ulps)
    "k11_tf_estimators" -> ((s, dir) => {
      import graft.vibration.{Estimators, Moments}
      val amps = events(s, dir).select(
        array(
          array((col("event_id") % 13 - 6).cast("double"),
            (col("event_id") % 7 - 3).cast("double")),
          array((col("event_id") % 11 - 5).cast("double"),
            (col("event_id") % 5 - 2).cast("double"))).as("chans"))
      val agg = udaf(new MomentAggregator(nCh = 2, nFreq = 1))
      implicit val enc = org.apache.spark.sql.Encoders.product[Moments]
      val mo = amps.agg(agg(col("chans")).as("mo"))
        .select("mo.*").as[Moments].head()
      val vom = Estimators.varianceOfMean(mo, 0)
      val (cMag, cPh, cErr) = Estimators.tfCross(mo, 0, 1)
      val (pMag, pPh, _) = Estimators.tfPhaseLocked(mo, 0, 1)
      import s.implicits._
      Seq((mo.n, vom(0), cMag(0), cPh(0), cErr(0), pMag(0), pPh(0)))
        .toDF("n", "vom0", "tfc_mag", "tfc_phase", "tfc_err",
          "tfp_mag", "tfp_phase")
        .select(col("n"), round(col("vom0"), 6).as("vom0"),
          round(col("tfc_mag"), 6).as("tfc_mag"),
          round(col("tfc_phase"), 6).as("tfc_phase"),
          round(col("tfc_err"), 6).as("tfc_err"),
          round(col("tfp_mag"), 6).as("tfp_mag"),
          round(col("tfp_phase"), 6).as("tfp_phase"))
    }),

    // W4: ordered re-chunking with remainder discard, per-chunk exact sums
    "w4_rechunk" -> ((s, dir) => {
      val stream = events(s, dir).filter(col("event_id") < 50)
        .select(col("event_id").as("event_index"), lit("ch1").as("channel"),
          transform(sequence(lit(0), (lit(2) + col("event_id") % 3).cast("int")),
            i => ((col("event_id") * 7 + i * 5) % 19).cast("double"))
            .as("trace"))
      TraceStore.rechunk(stream, chunkLen = 7)
        .select(col("chunk_id"),
          aggregate(col("trace"), lit(0.0), (acc, x) => acc + x)
            .as("chunk_sum"))
        .orderBy("chunk_id")
    }),

    // W4 again through the declarative window+explode formulation (the
    // independent mirror of `rechunk`'s ordered per-channel scan); same
    // oracle, results must be identical
    "w4_rechunk_decl" -> ((s, dir) => {
      val stream = events(s, dir).filter(col("event_id") < 50)
        .select(col("event_id").as("event_index"), lit("ch1").as("channel"),
          transform(sequence(lit(0), (lit(2) + col("event_id") % 3).cast("int")),
            i => ((col("event_id") * 7 + i * 5) % 19).cast("double"))
            .as("trace"))
      TraceStore.rechunkDeclarative(stream, chunkLen = 7)
        .select(col("chunk_id"),
          aggregate(col("trace"), lit(0.0), (acc, x) => acc + x)
            .as("chunk_sum"))
        .orderBy("chunk_id")
    }),

    // S9: dPdI filter-file round trip — build a deterministic per-channel
    // (channel, dpdi_re[], dpdi_im[]) table from events (exact-integer
    // doubles: per-bucket counts and cent sums), write it as the KB-scale
    // parquet "filter file" the reference stores, then load it back
    // through PhotonCalib.loadDpdi and emit the interleaved [re, im, …]
    // half-spectrum. The artifact is driver-temp-dir local; at scale the
    // filter file stays KB-sized regardless of event volume.
    "s9_dpdi_filter_file" -> ((s, dir) => {
      import graft.calib.PhotonCalib
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_dpdi").toString
      val buckets = events(s, dir)
        .groupBy(col("event_type").as("channel"),
          (col("user_id") % 8).as("k"))
        .agg(count(lit(1)).cast("double").as("re"),
          sum(cents(col("value"))).cast("double").as("im"))
      buckets.groupBy("channel")
        .agg(
          transform(array_sort(collect_list(struct(col("k"), col("re")))),
            x => x("re")).as("dpdi_re"),
          transform(array_sort(collect_list(struct(col("k"), col("im")))),
            x => x("im")).as("dpdi_im"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val interleaved =
        try PhotonCalib.loadDpdi(s, tmp, "click")
        finally { // temp artifact: remove after the load-back completes
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(java.nio.file.Paths.get(tmp))
            .sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
        }
      import s.implicits._
      interleaved.toSeq.zipWithIndex
        .map { case (v, i) => (i.toLong, v) }
        .toDF("idx", "value").orderBy("idx")
    })
  )

  private val synth =
    "list_transform(generate_series(0, 63), i -> CAST((event_id*31 + i*17) % 97 AS DOUBLE))"

  val oracle: Map[String, String] = Map(
    "a14_complex_ensemble" ->
      """WITH z AS (SELECT CAST(event_id % 9 - 4 AS DOUBLE) r1, CAST(event_id % 5 - 2 AS DOUBLE) i1, CAST(event_id % 7 - 3 AS DOUBLE) r2, CAST(event_id % 3 - 1 AS DOUBLE) i2 FROM events),
        |g AS (SELECT CAST(count(*) AS DOUBLE) n, sum(r1) sr1, sum(i1) si1, sum(r1*r1 + i1*i1) sa1, sum(r2) sr2, sum(i2) si2, sum(r2*r2 + i2*i2) sa2 FROM z)
        |SELECT CAST(n AS BIGINT) AS n,
        | sr1/n AS mean_re_1, si1/n AS mean_im_1,
        | sqrt(greatest(sa1/n - ((sr1/n)*(sr1/n) + (si1/n)*(si1/n)), 0)) AS std_1,
        | sr2/n AS mean_re_2, si2/n AS mean_im_2,
        | sqrt(greatest(sa2/n - ((sr2/n)*(sr2/n) + (si2/n)*(si2/n)), 0)) AS std_2
        |FROM g""".stripMargin,
    // brute-force O(n²) DFT mirror of the FFT: numerically within
    // ~1e-10 of JTransforms at these magnitudes, far inside the round-6
    // comparison threshold
    "k1_psd" ->
      s"""WITH t AS (SELECT event_id, $synth AS trace FROM events WHERE event_id < 20),
        |s AS (SELECT event_id, generate_subscripts(trace, 1) - 1 AS n, unnest(trace) AS x FROM t),
        |f AS (SELECT event_id, k, sum(x * cos(2*pi()*k*n/64.0)) AS re, sum(x * sin(2*pi()*k*n/64.0)) AS im
        | FROM s CROSS JOIN generate_series(0, 32) AS g(k) GROUP BY event_id, k),
        |p AS (SELECT event_id, sum((re*re + im*im) * (CASE WHEN k = 0 OR k = 32 THEN 1.0 ELSE 2.0 END)/(1000.0*64)) AS tp FROM f GROUP BY event_id)
        |SELECT event_id, round(tp, 6) AS total_power FROM p ORDER BY event_id""".stripMargin,
    "l3_sample_seeded" ->
      "SELECT CAST(100 AS BIGINT) AS cnt",
    "s6_point_lookup" ->
      s"SELECT event_id, list_sum($synth) AS trace_sum FROM events WHERE event_id = 7",
    "k13_template_metrics" ->
      """WITH r AS (SELECT i, CASE WHEN i/1000.0 - 0.004 < 0 THEN 0.0 ELSE (1.0 - exp(-(i/1000.0 - 0.004)/0.001)) * exp(-(i/1000.0 - 0.004)/0.01) END AS v FROM generate_series(0, 63) AS t(i)),
        |m AS (SELECT max(abs(v)) mx FROM r),
        |nrm AS (SELECT i, v/mx AS w FROM r, m)
        |SELECT round((SELECT sum(w) FROM nrm)/1000.0, 6) AS energy,
        | round((SELECT sum(w) FROM nrm)/1000.0*1e6/(10.0*3.1), 6) AS eff,
        | round((SELECT w FROM nrm WHERE i = 10), 6) AS tpl_at_10,
        | round((SELECT max(w) FROM nrm), 6) AS tpl_max""".stripMargin,
    // the 2nd-order IIR recursion as a recursive CTE, stepping all 20
    // events in lockstep with the same left-associative accumulation
    // order as the Scala loop; the filter is stable so libm coefficient
    // ulps stay ~1e-12 after 64 steps — far inside round 6
    "k3_lowpass" ->
      s"""WITH RECURSIVE
        |tv AS (SELECT event_id, generate_subscripts(trace, 1) - 1 AS i, unnest(trace) AS x
        |       FROM (SELECT event_id, $synth AS trace FROM events WHERE event_id < 20)),
        |cw AS (SELECT tan(pi()*100.0/1000.0) AS wc),
        |co AS (SELECT (wc*wc)/(1.0 + sqrt(2.0)*wc + wc*wc) AS b0,
        |              2.0*((wc*wc)/(1.0 + sqrt(2.0)*wc + wc*wc)) AS b1,
        |              (wc*wc)/(1.0 + sqrt(2.0)*wc + wc*wc) AS b2,
        |              2.0*(wc*wc - 1.0)/(1.0 + sqrt(2.0)*wc + wc*wc) AS a1,
        |              (1.0 - sqrt(2.0)*wc + wc*wc)/(1.0 + sqrt(2.0)*wc + wc*wc) AS a2
        |       FROM cw),
        |filt AS (
        |  SELECT tv.event_id, 0 AS i, co.b0*tv.x + co.b1*0.0 + co.b2*0.0 - co.a1*0.0 - co.a2*0.0 AS y1,
        |         tv.x AS x1, CAST(0.0 AS DOUBLE) AS x2, CAST(0.0 AS DOUBLE) AS y2
        |  FROM tv, co WHERE tv.i = 0
        |  UNION ALL
        |  SELECT f.event_id, f.i + 1,
        |         co.b0*tv.x + co.b1*f.x1 + co.b2*f.x2 - co.a1*f.y1 - co.a2*f.y2,
        |         tv.x, f.x1, f.y1
        |  FROM filt f JOIN tv ON tv.event_id = f.event_id AND tv.i = f.i + 1, co
        |  WHERE f.i < 63)
        |SELECT event_id, round(y1, 6) AS filtered_last FROM filt WHERE i = 63 ORDER BY event_id""".stripMargin,
    "k8_dpdi_deconvolution" ->
      """WITH tr AS (SELECT i AS n, CAST((5*31 + i*17) % 97 AS DOUBLE) AS x FROM generate_series(0, 63) AS t(i)),
        |fk AS (SELECT k, sum(x * cos(2*pi()*k*n/64.0)) AS re, -sum(x * sin(2*pi()*k*n/64.0)) AS im FROM tr CROSS JOIN generate_series(0, 32) AS g(k) GROUP BY k),
        |o AS (SELECT k, (re*(1.0 + k % 3) + im*(k % 2))/((1.0 + k % 3)*(1.0 + k % 3) + (k % 2)*(k % 2)) AS orr,
        |             (im*(1.0 + k % 3) - re*(k % 2))/((1.0 + k % 3)*(1.0 + k % 3) + (k % 2)*(k % 2)) AS oi FROM fk),
        |inv AS (SELECT tt.t AS t, ((SELECT orr FROM o WHERE k = 0)
        |  + (SELECT orr FROM o WHERE k = 32) * cos(pi()*tt.t)
        |  + (SELECT sum(2*(orr*cos(2*pi()*k*tt.t/64.0) - oi*sin(2*pi()*k*tt.t/64.0))) FROM o WHERE k BETWEEN 1 AND 31)) / 64.0 AS v
        | FROM generate_series(0, 63) AS tt(t))
        |SELECT t, round(v, 6) AS v FROM inv ORDER BY t""".stripMargin,
    "k14_energy_resolution" ->
      """SELECT round(2.5, 6) AS amp, round(0.004, 6) AS t0,
        | round(0.001, 6) AS tau_rise, round(0.01, 6) AS tau_fall,
        | round(3.1 * 0.01 / 0.001, 6) AS resolution""".stripMargin,
    "k9_crosstalk" ->
      s"""WITH t AS (SELECT event_id, $synth AS trace FROM events WHERE value > 250.0),
        |u AS (SELECT generate_subscripts(trace, 1) - 1 AS pos, unnest(trace) AS x FROM t),
        |m AS (SELECT pos, sum(x)/count(*) AS mv FROM u GROUP BY pos),
        |b AS (SELECT sum(mv)/8 AS base FROM m WHERE pos < 8),
        |tpl AS (SELECT pos, CASE WHEN pos >= 8 AND pos < 32 THEN mv - (SELECT base FROM b) ELSE 0.0 END AS tp FROM m)
        |SELECT CAST(pos AS INTEGER) AS pos, round(tp, 6) AS tpl,
        | round(CAST(pos*13 % 31 AS DOUBLE) - 0.5*tp, 6) AS cleaned
        |FROM tpl ORDER BY pos""".stripMargin,
    "k5_spectrum_models" ->
      """WITH grid AS (SELECT i, i*0.2 AS x FROM generate_series(0, 39) AS t(i)),
        |mix AS (SELECT i, 2.0*exp(-(x-1.0)*(x-1.0)/(2*0.5*0.5)) + 1.0*exp(-(x-3.0)*(x-3.0)/(2*0.8*0.8)) AS mix FROM grid),
        |comb AS (SELECT g.i, sum(5.0 * exp(-1.7 + k*ln(1.7))/f.fact * exp(-(g.x-(0.5+k*1.0))*(g.x-(0.5+k*1.0))/(2*0.3*0.3))) AS comb
        | FROM grid g CROSS JOIN (SELECT k, CASE k WHEN 0 THEN 1.0 WHEN 1 THEN 1.0 WHEN 2 THEN 2.0 WHEN 3 THEN 6.0 WHEN 4 THEN 24.0 ELSE 120.0 END AS fact FROM generate_series(0, 5) AS s(k)) f
        | GROUP BY g.i)
        |SELECT m.i AS i, round(m.mix, 6) AS mix, round(c.comb, 6) AS comb FROM mix m JOIN comb c ON m.i = c.i ORDER BY i""".stripMargin,
    "k15_fit_correlation" ->
      """WITH p AS (SELECT CAST(event_id % 50 AS DOUBLE) x FROM events),
        |g AS (SELECT x FROM p GROUP BY x),
        |s AS (SELECT CAST(count(*) AS DOUBLE) n, sum(x) sx, sum(x*x) sxx FROM g)
        |SELECT round(-sx/sqrt(n*sxx), 4) AS corr_ab FROM s""".stripMargin,
    "k6_line_fit" ->
      """WITH p AS (SELECT CAST(event_id % 50 AS DOUBLE) x, 3.0 + 2.0*(event_id % 50) AS yy FROM events),
        |g AS (SELECT x, sum(yy)/count(*) AS ym FROM p GROUP BY x),
        |s AS (SELECT CAST(count(*) AS DOUBLE) n, sum(x) sx, sum(x*x) sxx, sum(ym) sy, sum(x*ym) sxy FROM g),
        |f AS (SELECT n, sx, sxx, (n*sxy - sx*sy)/(n*sxx - sx*sx) AS b, (sy - ((n*sxy - sx*sy)/(n*sxx - sx*sx))*sx)/n AS a FROM s),
        |c AS (SELECT f.n, f.a, f.b, f.sx, f.sxx, (SELECT sum((ym - f.a - f.b*x)*(ym - f.a - f.b*x)) FROM g) AS chi2 FROM f)
        |SELECT CAST(n AS BIGINT) AS n, round(a, 6) AS a, round(b, 6) AS b, round(chi2, 6) AS chi2,
        | round(sqrt(sxx/(n*sxx - sx*sx)), 4) AS se_a,
        | round(sqrt(n/(n*sxx - sx*sx)), 4) AS se_b
        |FROM c""".stripMargin,
    "k11_tf_estimators" ->
      """WITH a AS (SELECT CAST(event_id % 13 - 6 AS DOUBLE) a0r, CAST(event_id % 7 - 3 AS DOUBLE) a0i, CAST(event_id % 11 - 5 AS DOUBLE) a1r, CAST(event_id % 5 - 2 AS DOUBLE) a1i FROM events),
        |g AS (SELECT count(*) n, sum(a0r) m0rs, sum(a0i) m0is, sum(a1r) m1rs, sum(a1i) m1is,
        |  sum(a0r*a0r + a0i*a0i) s00s, sum(a1r*a1r + a1i*a1i) s11s,
        |  sum(a0r*a1r + a0i*a1i) s01rs, sum(a0i*a1r - a0r*a1i) s01is FROM a),
        |m AS (SELECT n, m0rs/n m0r, m0is/n m0i, m1rs/n m1r, m1is/n m1i,
        |  s00s/n s00, s11s/n s11, s01rs/n s01r, s01is/n s01i FROM g),
        |e AS (SELECT n, s00, s11, s01r, s01i, m0r, m0i, m1r, m1i,
        |  sqrt(s01r*s01r + s01i*s01i)/s11 AS cmag,
        |  least(greatest((s01r*s01r + s01i*s01i)/(s00*s11), 1e-12), 1.0) AS c,
        |  m1r*m1r + m1i*m1i AS den FROM m)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round((s00 - (m0r*m0r + m0i*m0i))/(n - 1), 6) AS vom0,
        |  round(cmag, 6) AS tfc_mag,
        |  round(atan2(s01i, s01r), 6) AS tfc_phase,
        |  round(cmag * sqrt((1.0 - c)/(2.0*c*n)), 6) AS tfc_err,
        |  round(sqrt(((m0r*m1r + m0i*m1i)/den)*((m0r*m1r + m0i*m1i)/den) + ((m0i*m1r - m0r*m1i)/den)*((m0i*m1r - m0r*m1i)/den)), 6) AS tfp_mag,
        |  round(atan2((m0i*m1r - m0r*m1i)/den, (m0r*m1r + m0i*m1i)/den), 6) AS tfp_phase
        |FROM e""".stripMargin,
    "k12_psd_estimator" ->
      """WITH a AS (SELECT CAST(event_id % 13 - 6 AS DOUBLE) a0r, CAST(event_id % 7 - 3 AS DOUBLE) a0i, CAST(event_id % 11 - 5 AS DOUBLE) a1r, CAST(event_id % 5 - 2 AS DOUBLE) a1i FROM events),
        |g AS (SELECT count(*) n, sum(a0r*a0r + a0i*a0i) s00s, sum((a0r*a0r + a0i*a0i)*(a0r*a0r + a0i*a0i)) r00s, sum(a1r*a1r + a1i*a1i) s11s FROM a)
        |SELECT CAST(n AS BIGINT) AS n, s00s/n AS psd0, (r00s/n - (s00s/n)*(s00s/n))/(n - 1) AS psd0_var, sqrt((s00s/n)/(s11s/n)) AS tf_rms_01 FROM g""".stripMargin,
    "s5_trace_fetch_window" ->
      s"""WITH k AS (SELECT event_id FROM events ORDER BY value DESC, event_id LIMIT 50)
        |SELECT e.event_id AS event_id, list_sum(list_transform(generate_series(8, 23), i -> CAST((e.event_id*31 + i*17) % 97 AS DOUBLE))) AS window_sum
        |FROM events e JOIN k USING (event_id) ORDER BY event_id""".stripMargin,
    "a13_mean_pulse" ->
      s"""WITH t AS (SELECT event_id, $synth AS trace FROM events WHERE value > 250.0),
        |u AS (SELECT generate_subscripts(trace, 1) - 1 AS pos, unnest(trace) AS x FROM t)
        |SELECT CAST(pos AS INTEGER) AS pos, sum(x) / count(*) AS mean_amp FROM u GROUP BY pos ORDER BY pos""".stripMargin,
    "vib_moments_sweep" ->
      """WITH a AS (SELECT event_id % 8 AS freq,
        |  CAST(event_id % 13 - 6 AS DOUBLE) a0r, CAST(event_id % 7 - 3 AS DOUBLE) a0i,
        |  CAST(event_id % 11 - 5 AS DOUBLE) a1r, CAST(event_id % 5 - 2 AS DOUBLE) a1i FROM events)
        |SELECT freq, count(*) AS n,
        |  sum(a0r)/count(*) AS m0_re,
        |  sum(a0i)/count(*) AS m0_im,
        |  sum(a0r*a1r + a0i*a1i)/count(*) AS s01_re,
        |  sum(a0i*a1r - a0r*a1i)/count(*) AS s01_im,
        |  sum((a0r*a0r + a0i*a0i)*(a1r*a1r + a1i*a1i))/count(*) AS r01
        |FROM a GROUP BY freq ORDER BY freq""".stripMargin,
    "w4_rechunk_decl" ->
      """WITH t AS (SELECT event_id, list_transform(generate_series(0, CAST(2 + event_id % 3 AS INTEGER)), i -> CAST((event_id*7 + i*5) % 19 AS DOUBLE)) AS trace FROM events WHERE event_id < 50),
        |s AS (SELECT event_id, unnest(trace) AS x, generate_subscripts(trace, 1) AS p FROM t),
        |o AS (SELECT x, row_number() OVER (ORDER BY event_id, p) - 1 AS g FROM s),
        |c AS (SELECT g // 7 AS chunk_id, x FROM o),
        |ok AS (SELECT chunk_id FROM c GROUP BY chunk_id HAVING count(*) = 7)
        |SELECT c.chunk_id AS chunk_id, sum(x) AS chunk_sum FROM c JOIN ok USING (chunk_id) GROUP BY c.chunk_id ORDER BY chunk_id""".stripMargin,
    "w4_rechunk" ->
      """WITH t AS (SELECT event_id, list_transform(generate_series(0, CAST(2 + event_id % 3 AS INTEGER)), i -> CAST((event_id*7 + i*5) % 19 AS DOUBLE)) AS trace FROM events WHERE event_id < 50),
        |s AS (SELECT event_id, unnest(trace) AS x, generate_subscripts(trace, 1) AS p FROM t),
        |o AS (SELECT x, row_number() OVER (ORDER BY event_id, p) - 1 AS g FROM s),
        |c AS (SELECT g // 7 AS chunk_id, x FROM o),
        |ok AS (SELECT chunk_id FROM c GROUP BY chunk_id HAVING count(*) = 7)
        |SELECT c.chunk_id AS chunk_id, sum(x) AS chunk_sum FROM c JOIN ok USING (chunk_id) GROUP BY c.chunk_id ORDER BY chunk_id""".stripMargin,
    "s9_dpdi_filter_file" ->
      """WITH b AS (SELECT user_id % 8 AS k, CAST(count(*) AS DOUBLE) AS re,
        |    CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE) AS im
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |r AS (SELECT row_number() OVER (ORDER BY k) - 1 AS p, re, im FROM b)
        |SELECT CAST(2*p AS BIGINT) AS idx, re AS value FROM r
        |UNION ALL SELECT CAST(2*p+1 AS BIGINT) AS idx, im AS value FROM r
        |ORDER BY idx""".stripMargin
  )
}
