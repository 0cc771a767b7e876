package graft.queries

import org.apache.spark.sql.functions._
import graft.core._
import graft.cuts.MasterCuts
import graft.stats.{Hist, Quantiles}
import Q._

/** Aggregations + histograms + binning (A1-A12, W1-W3, L4). */
object StatsQueries {

  val queries: Map[String, QFn] = Map(
    // A1: counts
    "a1_count_groupby" -> ((s, dir) =>
      events(s, dir).groupBy("event_type")
        .agg(count(lit(1)).as("cnt")).orderBy("event_type")),

    // A2: mean/std via exact integer-cents sums (order-independent)
    "a2_mean_std" -> ((s, dir) =>
      events(s, dir).groupBy("event_type")
        .agg(sum(cents(col("value")).cast("decimal(38,0)")).cast("double")
          .as("s"),
          sum((cents(col("value")) * cents(col("value")))
            .cast("decimal(38,0)")).cast("double").as("ssq"),
          count(lit(1)).as("n"))
        .select(col("event_type"),
          (col("s") / 100.0 / col("n")).as("mean_val"),
          sqrt((col("ssq") / 10000.0 -
            (col("s") / 100.0) * (col("s") / 100.0) / col("n")) /
            (col("n") - 1)).as("std_val"))
        .orderBy("event_type")),

    // A3: min/max
    "a3_min_max" -> ((s, dir) =>
      events(s, dir).groupBy("event_type")
        .agg(min("value").as("mn"), max("value").as("mx"))
        .orderBy("event_type")),

    // A4: exact percentiles (threshold path uses these, SURVEY §7.3)
    "a4_percentile_exact" -> ((s, dir) =>
      events(s, dir).groupBy("event_type")
        .agg(percentile(col("value"), lit(0.25)).as("p25"),
          percentile(col("value"), lit(0.5)).as("p50"),
          percentile(col("value"), lit(0.9)).as("p90"))
        .orderBy("event_type")),

    // A5: approximate percentile with an ERROR-BOUND oracle (VERDICT r05
    // §2): the GK sketch's internals are inherently unmirrorable, but its
    // GUARANTEE is checkable — percentile_approx(q, acc) returns a value
    // whose rank is within ε·n of q·n, ε = 1/acc. The query verifies that
    // bound Spark-side (rank counts around the returned value) and emits
    // (p50_exact, n, approx_within_bound); DuckDB reproduces p50_exact
    // with quantile_cont (equality proven by a4) and asserts the flag
    // TRUE — so a hash match certifies BOTH the exact percentile AND
    // that the sketch honored its accuracy contract.
    "a5_percentile_approx" -> ((s, dir) => {
      val ev = events(s, dir)
      val acc = 10000
      val a = ev.agg(
        percentile_approx(col("value"), lit(0.5), lit(acc)).as("p50a"),
        percentile(col("value"), lit(0.5)).as("p50_exact"),
        count(lit(1)).as("n")).head()
      val p50a = a.getDouble(0)
      val n = a.getLong(2)
      val r = ev.agg(
        sum(when(col("value") < p50a, 1L).otherwise(0L)).as("below"),
        sum(when(col("value") <= p50a, 1L).otherwise(0L)).as("atOrBelow"))
        .head()
      val eps = 1.0 / acc
      // the returned value occupies ranks (below, atOrBelow]; the GK
      // bound holds iff that range intersects [(0.5-ε)n, (0.5+ε)n]
      val ok = r.getLong(1) >= math.floor((0.5 - eps) * n) &&
        r.getLong(0) <= math.ceil((0.5 + eps) * n)
      import s.implicits._
      Seq((a.getDouble(1), n, ok))
        .toDF("p50_exact", "n", "approx_within_bound")
    }),

    // A6: median + robust IQR-sigma, plus the count inside med±2σ
    "a6_sigma_iqr" -> ((s, dir) => {
      val ev = events(s, dir)
      val (med, sig) = Quantiles.medianRobustSigma(ev, col("value"))
      ev.filter(col("value") > med - 2.0 * sig &&
          col("value") < med + 2.0 * sig)
        .agg(count(lit(1)).as("cnt"))
        .select(lit(med).as("med"), lit(sig).as("sigma"), col("cnt"))
    }),

    // A7: 1-D histogram, fixed limits [0, 500], 64 bins (the count-shaped
    // views return their rows in bin order)
    "a7_hist1d" -> ((s, dir) =>
      Hist.hist1d(events(s, dir), col("value"), 64, 0.0, 500.0)),

    // A7: 1-D histogram with data-driven (minmax) limits
    "a7_hist1d_auto" -> ((s, dir) =>
      Hist.hist1dAuto(events(s, dir), "value", 64)),

    // A7 overlay: per-cut histogram counts in a single pass
    "a7_hist1d_overlay" -> ((s, dir) =>
      Hist.hist1dOverlay(events(s, dir), col("value"), 32, 0.0, 500.0,
          Map("all" -> lit(true),
            "click" -> (col("event_type") === "click"),
            "hiuser" -> (col("user_id") >= 50)))),

    // A8 what-variant: mean value per 2-D cell (exact cents)
    "a8_hist2d_mean" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("tus", tsUs.cast("double"))
      val (tlo, thi) = Hist.minmax(ev, "tus")
      Hist.hist2dAgg(ev, col("value"), col("tus"), 8, 6,
          (0.0, 500.0), (tlo, thi),
          sum(cents(col("value"))).cast("double") / 100.0 / count(lit(1)))
        .orderBy("xbin", "ybin")
    }),

    // A8: 2-D histogram value × time
    "a8_hist2d" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("tus", tsUs.cast("double"))
      val (tlo, thi) = Hist.minmax(ev, "tus")
      Hist.hist2d(ev, col("value"), col("tus"), 32, 24,
          (0.0, 500.0), (tlo, thi))
    }),

    // A9: per-time-bin count of in-value-range events (rate histogram)
    "a9_time_binned_count" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("tus", tsUs.cast("double"))
      val (tlo, thi) = Hist.minmax(ev, "tus")
      Hist.timeBinnedCount(ev, col("tus"), tlo, thi, 30,
          col("value") >= 100.0 && col("value") <= 300.0)
    }),

    // A10: passage fraction of a cut under a condition
    "a10_passage_fraction" -> ((s, dir) =>
      EventTable(events(s, dir))
        .passageFraction(Cut.Pred(col("value") < 350),
          Cut.Pred(col("event_type") === "purchase"))),

    // A11: cumulative pass-fraction matrix (lower-triangular, one pass)
    "a11_passfrac_matrix" -> ((s, dir) =>
      MasterCuts.cumulativePassFractions(
        events(s, dir)
          .withColumn("k1", col("value") > 100)
          .withColumn("k2", col("value") < 400)
          .withColumn("k3", col("user_id") % 2 === 0),
        Seq("k1", "k2", "k3"),
        col("event_type") === "view")),

    // A12/L4: sorted distinct
    "a12_distinct_sorted" -> ((s, dir) =>
      events(s, dir).select("event_type").distinct().orderBy("event_type")),

    // W2: equal-count time bins from exact percentile edges
    "w2_equal_count_bins" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("tus", tsUs.cast("double"))
      val edges = Quantiles.equalCountEdges(ev, col("tus"), 4)
      ev.withColumn("bin", Quantiles.bucketByEdges(col("tus"), edges))
        .groupBy("bin").agg(count(lit(1)).as("cnt")).orderBy("bin")
    }),

    // engine extension: quantiles from a MERGEABLE equi-width histogram
    // sketch — sketch each corpus half independently (the persisted
    // per-day shape, bounded by range/width not rows), merge by summing
    // counts, report each p as the upper edge of the bucket reaching
    // rank ceil(p·N). Error contract: ≤ one bucket width. The
    // incremental-quantile twin of llm_sketch_merge / llm_sketch_union.
    "w6_quantile_sketch" -> ((s, dir) => {
      val ev = events(s, dir)
        .withColumn("half", pmod(col("event_id"), lit(2)))
      val sk0 = Quantiles.histogramSketch(
        ev.filter(col("half") === 0), col("value"), 5.0)
      val sk1 = Quantiles.histogramSketch(
        ev.filter(col("half") === 1), col("value"), 5.0)
      val merged = Quantiles.mergeHistogramSketches(sk0.unionByName(sk1))
      Quantiles.sketchQuantiles(merged, Seq(0.5, 0.9, 0.99), 5.0)
        .orderBy("p")
    }),

    // W3: amplitude binning — first bin (min, 0), then equal-width above 0
    // (`semiautocuts.py:272-292`); emulated on a centered value
    "w3_amplitude_bins" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("amp", col("value") - 250.0)
      val (lo, hi) = Hist.minmax(ev, "amp")
      val edges = Seq(lo, 0.0) ++ (1 to 4).map(i => i * hi / 4)
      ev.withColumn("bin", Quantiles.bucketByEdges(col("amp"), edges))
        .groupBy("bin").agg(count(lit(1)).as("cnt")).orderBy("bin")
    })
  )

  private val sigmaCte =
    """WITH q AS (SELECT quantile_cont(value, 0.15865) q1, quantile_cont(value, 0.5) q2, quantile_cont(value, 0.84135) q3 FROM events),
      |t AS (SELECT q2 AS med, ((q2 - q1) + (q3 - q2)) / 2.0 AS sigma FROM q)""".stripMargin

  val oracle: Map[String, String] = Map(
    "w6_quantile_sketch" ->
      """WITH b AS (SELECT CAST(floor(value/5.0) AS BIGINT) AS bucket, count(*) AS c
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM b),
        |cum AS (SELECT bucket, sum(c) OVER (ORDER BY bucket) AS cs FROM b),
        |ps AS (SELECT unnest([0.5, 0.9, 0.99]) AS p)
        |SELECT p, min(bucket) AS bucket, (min(bucket)+1)*5.0 AS est
        |FROM ps, cum, t WHERE cs >= ceil(p*n)
        |GROUP BY p ORDER BY p""".stripMargin,
    "a1_count_groupby" ->
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type ORDER BY event_type",
    "a2_mean_std" ->
      """WITH g AS (SELECT event_type, CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE) AS s, CAST(sum(CAST(round(value*100) AS BIGINT)*CAST(round(value*100) AS BIGINT)) AS DOUBLE) AS ssq, count(*) AS n FROM events GROUP BY event_type)
        |SELECT event_type, s/100.0/n AS mean_val, sqrt((ssq/10000.0 - (s/100.0)*(s/100.0)/n)/(n - 1)) AS std_val FROM g ORDER BY event_type""".stripMargin,
    "a3_min_max" ->
      "SELECT event_type, min(value) AS mn, max(value) AS mx FROM events GROUP BY event_type ORDER BY event_type",
    "a4_percentile_exact" ->
      "SELECT event_type, quantile_cont(value, 0.25) AS p25, quantile_cont(value, 0.5) AS p50, quantile_cont(value, 0.9) AS p90 FROM events GROUP BY event_type ORDER BY event_type",
    // a5: the approx VALUE is sketch-dependent (unmirrorable), but the
    // exact percentile and the rank-bound flag are not — see the query.
    "a5_percentile_approx" ->
      "SELECT quantile_cont(value, 0.5) AS p50_exact, count(*) AS n, TRUE AS approx_within_bound FROM events",
    "a6_sigma_iqr" ->
      (sigmaCte + """
        |SELECT med, sigma, (SELECT count(*) FROM events, t WHERE value > med - 2.0*sigma AND value < med + 2.0*sigma) AS cnt FROM t""".stripMargin),
    "a7_hist1d" ->
      "SELECT CAST(least(floor((value - 0.0) / 7.8125), 63) AS BIGINT) AS bin, count(*) AS cnt FROM events WHERE value >= 0.0 AND value <= 500.0 GROUP BY bin ORDER BY bin",
    "a7_hist1d_auto" ->
      """WITH s AS (SELECT CAST(min(value) AS DOUBLE) AS lo, CAST(max(value) AS DOUBLE) AS hi FROM events)
        |SELECT CAST(least(floor((value - lo) / ((hi - lo) / 64)), 63) AS BIGINT) AS bin, count(*) AS cnt FROM events, s WHERE value >= lo AND value <= hi GROUP BY bin ORDER BY bin""".stripMargin,
    "a7_hist1d_overlay" ->
      """SELECT CAST(least(floor((value - 0.0) / 15.625), 31) AS BIGINT) AS bin,
        | CAST(sum(1) AS BIGINT) AS cnt_all,
        | CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_click,
        | CAST(sum(CASE WHEN user_id >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_hiuser
        |FROM events WHERE value >= 0.0 AND value <= 500.0 GROUP BY bin ORDER BY bin""".stripMargin,
    "a8_hist2d_mean" ->
      """WITH s AS (SELECT CAST(min(epoch_us(ts)) AS DOUBLE) AS tlo, CAST(max(epoch_us(ts)) AS DOUBLE) AS thi FROM events)
        |SELECT CAST(least(floor((value - 0.0) / 62.5), 7) AS BIGINT) AS xbin, CAST(least(floor((CAST(epoch_us(ts) AS DOUBLE) - tlo) / ((thi - tlo) / 6)), 5) AS BIGINT) AS ybin, CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0/count(*) AS what FROM events, s WHERE value >= 0.0 AND value <= 500.0 AND CAST(epoch_us(ts) AS DOUBLE) >= tlo AND CAST(epoch_us(ts) AS DOUBLE) <= thi GROUP BY xbin, ybin ORDER BY xbin, ybin""".stripMargin,
    "a8_hist2d" ->
      """WITH s AS (SELECT CAST(min(epoch_us(ts)) AS DOUBLE) AS tlo, CAST(max(epoch_us(ts)) AS DOUBLE) AS thi FROM events)
        |SELECT CAST(least(floor((value - 0.0) / 15.625), 31) AS BIGINT) AS xbin, CAST(least(floor((CAST(epoch_us(ts) AS DOUBLE) - tlo) / ((thi - tlo) / 24)), 23) AS BIGINT) AS ybin, count(*) AS cnt FROM events, s WHERE value >= 0.0 AND value <= 500.0 AND CAST(epoch_us(ts) AS DOUBLE) >= tlo AND CAST(epoch_us(ts) AS DOUBLE) <= thi GROUP BY xbin, ybin ORDER BY xbin, ybin""".stripMargin,
    "a9_time_binned_count" ->
      """WITH s AS (SELECT CAST(min(epoch_us(ts)) AS DOUBLE) AS tlo, CAST(max(epoch_us(ts)) AS DOUBLE) AS thi FROM events)
        |SELECT CAST(least(floor((CAST(epoch_us(ts) AS DOUBLE) - tlo) / ((thi - tlo) / 30)), 29) AS BIGINT) AS bin, CAST(sum(CASE WHEN value >= 100.0 AND value <= 300.0 THEN 1 ELSE 0 END) AS BIGINT) AS cnt FROM events, s WHERE CAST(epoch_us(ts) AS DOUBLE) >= tlo AND CAST(epoch_us(ts) AS DOUBLE) <= thi GROUP BY bin ORDER BY bin""".stripMargin,
    "a10_passage_fraction" ->
      "SELECT avg(CASE WHEN value < 350 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS passage_fraction FROM events WHERE event_type = 'purchase'",
    "a11_passfrac_matrix" ->
      """SELECT avg(CASE WHEN value > 100 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS frac_0_0,
        | avg(CASE WHEN (value > 100) AND (value < 400) THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS frac_0_1,
        | avg(CASE WHEN value < 400 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS frac_1_1,
        | avg(CASE WHEN (value > 100) AND (value < 400) AND (user_id % 2 = 0) THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS frac_0_2,
        | avg(CASE WHEN (value < 400) AND (user_id % 2 = 0) THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS frac_1_2,
        | avg(CASE WHEN user_id % 2 = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS frac_2_2
        |FROM events WHERE event_type = 'view'""".stripMargin,
    "a12_distinct_sorted" ->
      "SELECT DISTINCT event_type FROM events ORDER BY event_type",
    "w2_equal_count_bins" ->
      """WITH e AS (SELECT quantile_cont(CAST(epoch_us(ts) AS DOUBLE), 0.0) e0, quantile_cont(CAST(epoch_us(ts) AS DOUBLE), 0.25) e1, quantile_cont(CAST(epoch_us(ts) AS DOUBLE), 0.5) e2, quantile_cont(CAST(epoch_us(ts) AS DOUBLE), 0.75) e3, quantile_cont(CAST(epoch_us(ts) AS DOUBLE), 1.0) e4 FROM events),
        |b AS (SELECT CASE WHEN CAST(epoch_us(ts) AS DOUBLE) >= e0 AND CAST(epoch_us(ts) AS DOUBLE) < e1 THEN 0 WHEN CAST(epoch_us(ts) AS DOUBLE) >= e1 AND CAST(epoch_us(ts) AS DOUBLE) < e2 THEN 1 WHEN CAST(epoch_us(ts) AS DOUBLE) >= e2 AND CAST(epoch_us(ts) AS DOUBLE) < e3 THEN 2 WHEN CAST(epoch_us(ts) AS DOUBLE) >= e3 AND CAST(epoch_us(ts) AS DOUBLE) <= e4 THEN 3 END AS bin FROM events, e)
        |SELECT CAST(bin AS BIGINT) AS bin, count(*) AS cnt FROM b GROUP BY bin ORDER BY bin""".stripMargin,
    "w3_amplitude_bins" ->
      """WITH s AS (SELECT CAST(min(value - 250.0) AS DOUBLE) AS lo, CAST(max(value - 250.0) AS DOUBLE) AS hi FROM events),
        |b AS (SELECT CASE WHEN (value - 250.0) >= lo AND (value - 250.0) < 0.0 THEN 0 WHEN (value - 250.0) >= 0.0 AND (value - 250.0) < 1*hi/4 THEN 1 WHEN (value - 250.0) >= 1*hi/4 AND (value - 250.0) < 2*hi/4 THEN 2 WHEN (value - 250.0) >= 2*hi/4 AND (value - 250.0) < 3*hi/4 THEN 3 WHEN (value - 250.0) >= 3*hi/4 AND (value - 250.0) <= 4*hi/4 THEN 4 END AS bin FROM events, s)
        |SELECT CAST(bin AS BIGINT) AS bin, count(*) AS cnt FROM b GROUP BY bin ORDER BY bin""".stripMargin
  )
}
