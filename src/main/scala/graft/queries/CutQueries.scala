package graft.queries

import org.apache.spark.sql.functions._
import graft.cuts._
import graft.stats.Hist
import Q._

/** Semi-automatic threshold cuts (T1-T7, J3/J4) over the events table:
  * `value` plays the RQ, `epoch_us(ts)` the event time. */
object CutQueries {

  val queries: Map[String, QFn] = Map(
    // T1: fixed value thresholds (strict inside)
    "t1_value_cut" -> ((s, dir) => {
      val ev = events(s, dir)
      val pass = SemiAutoCut.cut(ev, "value",
        CutPars(valLower = Some(50.0), valUpper = Some(400.0)))
      ev.filter(pass).groupBy("event_type")
        .agg(count(lit(1)).as("cnt")).orderBy("event_type")
    }),

    // T2: percentile threshold estimated on a conditioned subset, applied
    // to ALL events (estimation-vs-application split, T4)
    "t2_percentile_cut" -> ((s, dir) => {
      val ev = events(s, dir)
      val pass = SemiAutoCut.cut(ev, "value",
        CutPars(percentUpper = Some(90.0)),
        estimationCondition = col("event_type") === "view")
      ev.filter(pass).groupBy("event_type")
        .agg(count(lit(1)).as("cnt")).orderBy("event_type")
    }),

    // T3: symmetric robust-sigma cut (med ± 2.5σ)
    "t3_sigma_cut" -> ((s, dir) => {
      val ev = events(s, dir)
      val pass = SemiAutoCut.cut(ev, "value", CutPars(sigma = Some(2.5)))
      ev.filter(pass).groupBy("event_type")
        .agg(count(lit(1)).as("cnt")).orderBy("event_type")
    }),

    // T4: estimation conditioned on a previous cut AND bin limits
    "t4_estimation_conditioned" -> ((s, dir) => {
      val ev = events(s, dir)
      val prevCut = col("value") < 400.0
      val binLimit = tsUs < 1704844800000000L // first 9 days
      val pass = SemiAutoCut.cut(ev, "value",
        CutPars(percentUpper = Some(95.0)),
        estimationCondition = prevCut && binLimit)
      ev.filter(pass).agg(count(lit(1)).as("cnt"))
    }),

    // T5: time-interval cut — OR of [lo,hi] pairs (documented divergence
    // from the reference's AND-of-intervals bug, SURVEY §2.5)
    "t5_time_interval_cut" -> ((s, dir) => {
      val ev = events(s, dir)
      val pass = SemiAutoCut.timeIntervalCut(tsUs.cast("double"),
        Seq((1704412800000000.0, 1704844800000000.0),
          (1705708800000000.0, 1706140800000000.0)))
      ev.filter(pass).groupBy("event_type")
        .agg(count(lit(1)).as("cnt")).orderBy("event_type")
    }),

    // T6/J3: per-time-bin sigma thresholds via one grouped aggregation,
    // applied as per-bin literals (replaces the reference's per-bin
    // Python loop)
    "t6_binned_sigma_cut" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("tus", tsUs.cast("double"))
      val (tlo, thi) = Hist.minmax(ev, "tus")
      val bin = Hist.bucket(col("tus"), tlo, thi, 10)
      SemiAutoCut.binnedCut(ev, "value", bin,
          CutPars(sigmaUpper = Some(3.0)), "cut_binned")
        .filter(col("cut_binned"))
        .groupBy(bin.as("bin")).agg(count(lit(1)).as("cnt"))
        .orderBy("bin")
    }),

    // T6 variant: per-bin exact-percentile upper threshold
    "t6_binned_percentile_cut" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("tus", tsUs.cast("double"))
      val (tlo, thi) = Hist.minmax(ev, "tus")
      val bin = Hist.bucket(col("tus"), tlo, thi, 8)
      SemiAutoCut.binnedCut(ev, "value", bin,
          CutPars(percentUpper = Some(90.0)), "cut_binned")
        .filter(col("cut_binned"))
        .groupBy(bin.as("bin")).agg(count(lit(1)).as("cnt"))
        .orderBy("bin")
    }),

    // T7/J4: rate cut — cut whole bins whose in-range count exceeds the
    // 75th percentile of per-bin counts; events keep by bin verdict
    "t7_rate_cut" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("tus", tsUs.cast("double"))
      val (tlo, thi) = Hist.minmax(ev, "tus")
      val withVerdict = SemiAutoCut.rateCut(ev, col("tus"), tlo, thi, 30,
        col("value") >= 100.0 && col("value") <= 300.0,
        Right(("percent", 75.0)), "cut_rate")
      withVerdict.filter(col("cut_rate"))
        .groupBy(Hist.bucket(col("tus"), tlo, thi, 30).as("bin"))
        .agg(count(lit(1)).as("cnt")).orderBy("bin")
    }),

    // T8: spec round trip — serialize, parse, re-estimate, apply; must
    // select exactly what the direct cut selects
    "t8_cutspec_roundtrip" -> ((s, dir) => {
      val ev = events(s, dir)
      val spec = CutSpec.Estimated("cut_sig", "value",
        CutPars(sigma = Some(2.5)))
      val loaded = CutSpec.fromJsonOne(CutSpec.toJsonOne(spec))
        .asInstanceOf[CutSpec.Estimated]
      val pass = SemiAutoCut.cut(ev, loaded.rq, loaded.pars)
      ev.filter(pass).groupBy("event_type")
        .agg(count(lit(1)).as("cnt")).orderBy("event_type")
    }),

    // MasterCuts: AND-fold with saturation override
    "master_combined_cut" -> ((s, dir) => {
      val ev = events(s, dir)
        .withColumn("cut_a", col("value") > 50.0)
        .withColumn("cut_b", col("user_id") % 3 =!= 0)
      ev.filter(MasterCuts.combined(
          Seq(col("cut_a"), col("cut_b")),
          saturation = Some((col("value"), 480.0))))
        .groupBy("event_type").agg(count(lit(1)).as("cnt"))
        .orderBy("event_type")
    })
  )

  private def binCte(bins: Int) =
    s"""WITH lim AS (SELECT CAST(min(epoch_us(ts)) AS DOUBLE) AS tlo, CAST(max(epoch_us(ts)) AS DOUBLE) AS thi FROM events),
       |b AS (SELECT value, CAST(least(floor((CAST(epoch_us(ts) AS DOUBLE) - tlo) / ((thi - tlo) / $bins)), ${bins - 1}) AS BIGINT) AS bin FROM events, lim)""".stripMargin

  val oracle: Map[String, String] = Map(
    "t1_value_cut" ->
      "SELECT event_type, count(*) AS cnt FROM events WHERE value > 50.0 AND value < 400.0 GROUP BY event_type ORDER BY event_type",
    "t2_percentile_cut" ->
      """WITH thr AS (SELECT quantile_cont(value, 0.9) AS u FROM events WHERE event_type = 'view')
        |SELECT event_type, count(*) AS cnt FROM events, thr WHERE value < u GROUP BY event_type ORDER BY event_type""".stripMargin,
    "t3_sigma_cut" ->
      """WITH q AS (SELECT quantile_cont(value, 0.15865) q1, quantile_cont(value, 0.5) q2, quantile_cont(value, 0.84135) q3 FROM events),
        |t AS (SELECT q2 AS med, ((q2 - q1) + (q3 - q2)) / 2.0 AS sigma FROM q)
        |SELECT event_type, count(*) AS cnt FROM events, t WHERE value > med - 2.5*sigma AND value < med + 2.5*sigma GROUP BY event_type ORDER BY event_type""".stripMargin,
    "t4_estimation_conditioned" ->
      """WITH thr AS (SELECT quantile_cont(value, 0.95) AS u FROM events WHERE value < 400.0 AND epoch_us(ts) < 1704844800000000)
        |SELECT count(*) AS cnt FROM events, thr WHERE value < u""".stripMargin,
    "t5_time_interval_cut" ->
      """SELECT event_type, count(*) AS cnt FROM events WHERE (CAST(epoch_us(ts) AS DOUBLE) >= 1704412800000000.0 AND CAST(epoch_us(ts) AS DOUBLE) <= 1704844800000000.0) OR (CAST(epoch_us(ts) AS DOUBLE) >= 1705708800000000.0 AND CAST(epoch_us(ts) AS DOUBLE) <= 1706140800000000.0) GROUP BY event_type ORDER BY event_type""",
    "t6_binned_sigma_cut" ->
      (binCte(10) + """,
        |th AS (SELECT bin, quantile_cont(value, 0.15865) q1, quantile_cont(value, 0.5) q2, quantile_cont(value, 0.84135) q3 FROM b GROUP BY bin),
        |j AS (SELECT b.bin AS bin, value, q2 + 3.0 * (((q2 - q1) + (q3 - q2)) / 2.0) AS hi_thr FROM b JOIN th USING (bin))
        |SELECT bin, count(*) AS cnt FROM j WHERE value < hi_thr GROUP BY bin ORDER BY bin""".stripMargin),
    "t6_binned_percentile_cut" ->
      (binCte(8) + """,
        |th AS (SELECT bin, quantile_cont(value, 0.9) AS hi_thr FROM b GROUP BY bin)
        |SELECT b.bin AS bin, count(*) AS cnt FROM b JOIN th USING (bin) WHERE value < hi_thr GROUP BY b.bin ORDER BY bin""".stripMargin),
    "t7_rate_cut" ->
      (binCte(30) + """,
        |counts AS (SELECT bin, CAST(sum(CASE WHEN value >= 100.0 AND value <= 300.0 THEN 1 ELSE 0 END) AS BIGINT) AS c FROM b GROUP BY bin),
        |counts0 AS (SELECT g.bin AS bin, COALESCE(c, 0) AS c FROM (SELECT unnest(generate_series(0, 29)) AS bin) g LEFT JOIN counts ON g.bin = counts.bin),
        |thr AS (SELECT quantile_cont(CAST(c AS DOUBLE), 0.75) AS t FROM counts0),
        |verdict AS (SELECT bin, c <= t AS keep FROM counts0, thr)
        |SELECT b.bin AS bin, count(*) AS cnt FROM b JOIN verdict USING (bin) WHERE keep GROUP BY b.bin ORDER BY bin""".stripMargin),
    "t8_cutspec_roundtrip" ->
      """WITH q AS (SELECT quantile_cont(value, 0.15865) q1, quantile_cont(value, 0.5) q2, quantile_cont(value, 0.84135) q3 FROM events),
        |t AS (SELECT q2 AS med, ((q2 - q1) + (q3 - q2)) / 2.0 AS sigma FROM q)
        |SELECT event_type, count(*) AS cnt FROM events, t WHERE value > med - 2.5*sigma AND value < med + 2.5*sigma GROUP BY event_type ORDER BY event_type""".stripMargin,
    "master_combined_cut" ->
      "SELECT event_type, count(*) AS cnt FROM events WHERE ((value > 50.0) AND (user_id % 3 <> 0)) OR (value > 480.0) GROUP BY event_type ORDER BY event_type"
  )
}
