package graft.tools

import org.apache.spark.sql.functions._
import graft.core.Temporal
import ScaleStress.{force, time}

/** Scaling stress for the temporal operators (dev tool): replicates the
  * sf0.1 events table N× along TWO axes and times asofJoin /
  * intervalJoin / sessionize at 1×/4×/16×/64×. The axes matter more
  * than the totals:
  *
  *   - `wide`: replicas get distinct user_ids — key count grows, rows
  *     per key constant. The scale-out axis: all three operators
  *     shuffle once on the key, so this curve must stay ~linear (flat
  *     per-row) or the operator would not spread on a cluster.
  *   - `deep`: replicas keep the SAME user_ids with time-shifted rows —
  *     rows per key grow 64× (150 keys still parallelize on 32 cores,
  *     so this measures per-key sort growth, not serialization).
  *   - `hot`: every row on ONE key — the pathological-skew axis. The
  *     plain windowed asofJoin serializes the whole table into one
  *     task here; asofJoinSliced (partition by key × time-slice) is
  *     the design that keeps all cores busy. The crossover between
  *     the two plans is the number this axis exists to print.
  *
  * Results → SCALE.md. Timed with `ScaleStress.time` (so
  * SPARK_GRAFT_STRESS_OPS filters the labels) and `ScaleStress.force`,
  * so Catalyst cannot prune measured work.
  */
object TemporalStress {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.create()

    val base = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), graft.queries.Q.tsUs.as("us"))
    val usPerDay = 86400000000L
    val span = 31L * usPerDay // > the table's 30-day range

    def replicate(mult: Int, axis: String): String = {
      val path = s"target/temporal_stress/ev_${axis}_x$mult"
      (0 until mult).map { i =>
        val shifted = base
          .withColumn("event_id", col("event_id") + lit(i.toLong * 100000000L))
        axis match {
          case "wide" => shifted.withColumn("user_id",
            col("user_id") + lit(i.toLong * 1000000L))
          case "deep" => shifted.withColumn("us", col("us") + lit(i * span))
          case "hot" => shifted.withColumn("us", col("us") + lit(i * span))
            .withColumn("user_id", lit(7L))
        }
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(path)
      path
    }

    def run(tag: String, mult: Int, path: String): Unit = {
      val ev = spark.read.parquet(path)
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "us").agg(min("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("us"))
      time(s"asof_$tag${"x"}$mult")(force(
        Temporal.asofJoin(purchases, clicks, Seq("user_id"),
          "us", "us", Seq("click_id"))))
      // the sliced plan is the hot-key answer: flat on deep where the
      // windowed plan serializes. Also timed on wide to show its
      // two-exchange overhead on well-spread keys.
      time(s"asof_sliced_$tag${"x"}$mult")(force(
        Temporal.asofJoinSliced(purchases, clicks, Seq("user_id"),
          "us", "us", Seq("click_id"), sliceWidth = usPerDay)))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("user_id"),
          col("us").as("lo"), (col("us") + lit(7 * usPerDay)).as("hi"))
      time(s"interval_$tag${"x"}$mult")(force(
        Temporal.intervalJoin(purchases, "us", signups, "lo", "hi",
            bucketWidth = usPerDay, keys = Seq("user_id"))
          .groupBy("signup_id").agg(count(lit(1)).as("n"))))
      // the aggregating form folds interior buckets pre-aggregated —
      // on the hot axis (~700 true matches/row) this must sit WELL
      // under the pair-materializing curve above
      time(s"intervalagg_$tag${"x"}$mult")(force(
        Temporal.intervalJoinAgg(purchases.drop("event_id"), "us", Nil,
            signups, "lo", "hi",
            bucketWidth = usPerDay, keys = Seq("user_id"))
          .select(col("signup_id"), col("n"))))
      // auto-routing probe + chosen plan: on hot, the probe must pick
      // the sliced strategy (decision logged) and the total must track
      // the sliced curve, not the windowed one
      time(s"asof_auto_$tag${"x"}$mult")(force(
        Temporal.asofJoinAuto(purchases, clicks, Seq("user_id"),
          "us", "us", Seq("click_id"), sliceWidth = usPerDay)))
      time(s"session_$tag${"x"}$mult")(force(
        Temporal.sessionize(ev.select(col("user_id"), col("us")),
            Seq("user_id"), "us", gap = 12L * 3600000000L)
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n"), min("us").as("lo"))))
      val obs = ev.select(col("user_id"), col("us"), col("value"))
        .groupBy("user_id", "us").agg(max("value").as("value"))
      time(s"resample_$tag${"x"}$mult")(force(
        Temporal.resampleLocf(obs, Seq("user_id"), "us", Seq("value"),
          step = usPerDay)))
      // the sliding RANGE frame is O(rows × frame) per key (no
      // aggregate retraction in Spark) — on the hot axis at 64× it ran
      // 25+ min single-threaded before being killed. rollingSumLinear
      // is the three-linear-passes formulation; only it is stressed.
      time(s"rolling_$tag${"x"}$mult")(force(
        Temporal.rollingSumLinear(
          ev.select(col("event_id"), col("user_id"), col("us"),
            (col("value") * 100).cast("long").as("vc")),
          Seq("user_id"), "us", "vc", 7 * usPerDay)))
      // block-decomposition min/max — the non-subtractable rolling
      // aggregate; must track rollingSumLinear's linear hot-axis bound
      time(s"rollminmax_$tag${"x"}$mult")(force(
        Temporal.rollingMinMaxLinear(
          ev.select(col("event_id"), col("user_id"), col("us"),
            (col("value") * 100).cast("long").as("vc")),
          Seq("user_id"), "us", "vc", 7 * usPerDay)))
      // funnel automaton: O(1) state per user, one linear pass — the
      // hot axis (all rows one user) must stay linear, not quadratic;
      // deep grows per-user history 64×, wide grows user count 64×
      time(s"funnel_$tag${"x"}$mult")(force(
        Temporal.funnel(ev, "user_id", col("us"), "event_type",
          Seq("signup", "click", "purchase"), withinUs = 7 * usPerDay)))
    }

    val axes =
      if (args.length > 1) args.drop(1).toSeq else Seq("wide", "deep", "hot")
    for (axis <- axes; mult <- Seq(1, 4, 16, 64)) {
      val path = replicate(mult, axis)
      run(axis, mult, path)
    }
    spark.stop()
  }
}
