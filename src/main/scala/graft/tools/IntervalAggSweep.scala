package graft.tools

import org.apache.spark.sql.functions._
import graft.core.Temporal
import ScaleStress.{force, time}

/** Bucket-width sweep for [[Temporal.intervalJoinAgg]] on the hot
  * stress axis (dev tool): boundary row-level work ∝ bucketWidth while
  * the interior grid grows ∝ interval-length / bucketWidth, so the
  * total has a width optimum. This prints the measured curve that
  * backs the operator's scaladoc guidance (SCALE.md round-8 section).
  *
  * Usage: first run `TemporalStress <sfDir> hot` (it writes the
  * replicated parquet this reads); then
  * `sbt "runMain graft.tools.IntervalAggSweep [mult]"`.
  */
object IntervalAggSweep {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.getOrElse("64")
    val spark = graft.GraftSession.create()
    val usPerDay = 86400000000L
    val ev = spark.read.parquet(s"target/temporal_stress/ev_hot_x$mult")
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id"),
        col("us").as("lo"), (col("us") + lit(7 * usPerDay)).as("hi"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us"))
    // 7-day intervals: widths from 1/28 to 2× the interval length
    val widths = Seq(
      "6h" -> usPerDay / 4, "1d" -> usPerDay, "3.5d" -> 7 * usPerDay / 2,
      "7d" -> 7 * usPerDay, "14d" -> 14 * usPerDay)
    for ((label, w) <- widths)
      time(s"intervalagg_hot${"x"}$mult w=$label")(force(
        Temporal.intervalJoinAgg(purchases, "us", Nil, signups,
            "lo", "hi", bucketWidth = w, keys = Seq("user_id"))
          .select(col("signup_id"), col("n"))))
    spark.stop()
  }
}
