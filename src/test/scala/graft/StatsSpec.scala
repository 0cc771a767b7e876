package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.stats.{Hist, Quantiles}

/** A4-A9, W1-W3: histograms + quantiles vs hand computation. */
class StatsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val xs = (0 until 1000).map(i => (i * 7 % 1000) / 10.0)
  private lazy val df = xs.map(Tuple1(_)).toDF("x")

  test("hist1d counts sum to in-range rows; bins match numpy convention") {
    val h = Hist.hist1d(df, col("x"), 10, 0.0, 99.9)
    val total = h.agg(sum("cnt")).head.getLong(0)
    assert(total == xs.count(x => x >= 0.0 && x <= 99.9))
    // top edge value falls in last bin
    val last = Hist.hist1d(Seq(Tuple1(99.9)).toDF("x"), col("x"), 10, 0.0, 99.9)
      .head()
    assert(last.getLong(0) == 9L)
  }

  test("hist2d counts sum to total") {
    val d2 = xs.zipWithIndex.map { case (x, i) => (x, i.toDouble) }
      .toDF("x", "y")
    val h = Hist.hist2d(d2, col("x"), col("y"), 8, 8,
      (0.0, 100.0), (0.0, 1000.0))
    assert(h.agg(sum("cnt")).head.getLong(0) == 1000L)
  }

  test("single-pass Histogram2D aggregate equals groupBy formulation") {
    val d2 = xs.zipWithIndex.map { case (x, i) => (x, i.toDouble) }
      .toDF("x", "y").repartition(6)
    val dense = d2.select(graft.functions.Histogram2D(
        col("x"), col("y"), (0.0, 100.0), 8, (0.0, 1000.0), 8).as("h"))
      .head.getSeq[Long](0)
    val sparse = Hist.hist2d(d2, col("x"), col("y"), 8, 8,
        (0.0, 100.0), (0.0, 1000.0))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (i <- 0 until 8; j <- 0 until 8)
      assert(dense(i * 8 + j) == sparse.getOrElse((i.toLong, j.toLong), 0L),
        s"cell ($i,$j)")
    assert(dense.sum == 1000L)
  }

  test("exact percentile matches sorted-array linear interpolation") {
    val sorted = xs.sorted
    def npPercentile(p: Double): Double = {
      val pos = p * (sorted.size - 1)
      val lo = pos.toInt
      val frac = pos - lo
      if (lo + 1 < sorted.size) sorted(lo) + frac * (sorted(lo + 1) - sorted(lo))
      else sorted(lo)
    }
    for (p <- Seq(0.1, 0.25, 0.5, 0.9, 0.99)) {
      val got = Quantiles.exact(df, col("x"), Seq(p)).head
      assert(math.abs(got - npPercentile(p)) < 1e-9, s"p=$p")
      // and so does Spark's own percentile aggregate, its reference
      val viaSpark = df.agg(percentile(col("x"), lit(p))).head.getDouble(0)
      assert(math.abs(viaSpark - npPercentile(p)) < 1e-9, s"Spark p=$p")
    }
  }

  test("robust sigma equals hand-computed IQR-ish sigma") {
    val (med, sig) = Quantiles.medianRobustSigma(df, col("x"))
    val q = Quantiles.exact(df, col("x"), Seq(0.15865, 0.5, 0.84135))
    assert(math.abs(med - q(1)) < 1e-12)
    assert(math.abs(sig - ((q(1) - q(0)) + (q(2) - q(1))) / 2) < 1e-12)
  }

  test("equal-count edges produce balanced buckets") {
    val edges = Quantiles.equalCountEdges(df, col("x"), 4)
    val binned = df.withColumn("b", Quantiles.bucketByEdges(col("x"), edges))
      .groupBy("b").count().collect().map(r => r.getLong(1))
    assert(binned.sum == 1000)
    assert(binned.forall(c => math.abs(c - 250) <= 13)) // ties at edges
  }

  test("time-binned count matches filtered counts per bin") {
    val d = (0 until 300).map(i => (i.toDouble, (i % 7).toDouble))
      .toDF("t", "v")
    val tb = Hist.timeBinnedCount(d, col("t"), 0.0, 299.0, 3,
      col("v") >= 3.0).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // hand recompute
    val w = 299.0 / 3
    val expected = (0 until 300).groupBy(i =>
        math.min(math.floor(i / w).toLong, 2L))
      .view.mapValues(_.count(i => i % 7 >= 3).toLong).toMap
    assert(tb == expected)
  }

  test("bucket rejects no bins and empty, inverted or non-finite ranges") {
    val x = col("x")
    Seq((1.0, 1.0, 4), (2.0, 1.0, 4), (0.0, Double.NaN, 4),
        (Double.NaN, 1.0, 4), (0.0, Double.PositiveInfinity, 4),
        (Double.NegativeInfinity, 0.0, 4), (0.0, 1.0, 0)).foreach {
      case (lo, hi, bins) =>
        intercept[IllegalArgumentException](Hist.bucket(x, lo, hi, bins))
        intercept[IllegalArgumentException](Hist.hist1d(df, x, bins, lo, hi))
    }
  }

  test("minmax over no non-null value names the column") {
    val e = intercept[IllegalArgumentException](
      Hist.minmax(Seq[Option[Double]](None, None).toDF("amp"), "amp"))
    assert(e.getMessage.contains("amp"))
    intercept[IllegalArgumentException](Hist.minmax(df.limit(0), "x"))
  }

  test("hist1dAuto widens a constant column's limits by ±0.5") {
    val d = Seq.fill(7)(Tuple1(3.25)).toDF("v")
    for (bins <- Seq(1, 4, 5, 64)) {
      val h = Hist.hist1dAuto(d, "v", bins).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(h == Seq((bins / 2).toLong -> 7L), s"$bins bins")
    }
  }

  test("exact percentile on an empty sample fails with a clear message") {
    val empty = df.filter(col("x") < -1)
    val e = intercept[IllegalArgumentException] {
      Quantiles.exact(empty, col("x"), Seq(0.5))
    }
    assert(e.getMessage.contains("empty estimation sample"))
  }

  test("histogram sketch quantiles: merge ≡ direct, error ≤ one width") {
    val rnd = new scala.util.Random(42)
    val vals = Seq.fill(3000)(rnd.nextDouble() * 200.0)
    val d = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "x")
    val width = 2.5
    // three-way split sketched independently, merged — must equal the
    // direct single sketch bucket-for-bucket
    val parts = (0 until 3).map(k =>
      Quantiles.histogramSketch(
        d.filter(pmod(col("id"), lit(3)) === k), col("x"), width))
    val merged = Quantiles.mergeHistogramSketches(
      parts.reduce(_ unionByName _))
    val direct = Quantiles.histogramSketch(d, col("x"), width)
    assert(merged.orderBy("bucket").collect().toSeq
      == direct.orderBy("bucket").collect().toSeq)
    // error contract: upper-edge estimate covers the exact quantile by
    // at most one bucket width
    val ps = Seq(0.1, 0.5, 0.9, 0.99)
    val est = Quantiles.sketchQuantiles(merged, ps, width)
      .orderBy("p").collect().map(_.getDouble(2))
    val exact = Quantiles.exact(d, col("x"), ps)
    ps.indices.foreach { i =>
      assert(est(i) >= exact(i) - 1e-9,
        s"p=${ps(i)}: est ${est(i)} below exact ${exact(i)}")
      assert(est(i) - exact(i) <= width + 1e-9,
        s"p=${ps(i)}: est ${est(i)} over exact ${exact(i)} by > width")
    }
  }

  // ---- the count-shaped views against their groupBy formulations

  /** Nulls, NaN, values below `lo`, at `lo` and `hi` and above `hi` of
    * the [0, 10] ranges used below; `k` is a nullable cut. */
  private lazy val edgy = {
    val rnd = new scala.util.Random(11)
    def v(): Option[Double] = rnd.nextInt(10) match {
      case 0 => None
      case 1 => Some(Double.NaN)
      case 2 => Some(Seq(-1.0, 0.0, 10.0, 10.5)(rnd.nextInt(4)))
      case _ => Some(rnd.nextDouble() * 10.0)
    }
    (0 until 400).map { i =>
      (v(), v(), i / 4.0,
        if (rnd.nextInt(5) == 0) None else Some(rnd.nextBoolean()))
    }.toDF("x", "y", "t", "k")
  }

  /** Each view under test with the `groupBy` formulation it replaced. */
  private def views(d: DataFrame): Seq[(String, DataFrame, DataFrame)] = {
    val (x, y, t, k) = (col("x"), col("y"), col("t"), col("k"))
    def in(c: Column) = c >= 0.0 && c <= 10.0
    Seq(
      ("hist1d", Hist.hist1d(d, x, 7, 0.0, 10.0),
        d.filter(in(x)).groupBy(Hist.bucket(x, 0.0, 10.0, 7).as("bin"))
          .agg(count(lit(1)).as("cnt"))),
      ("hist2d", Hist.hist2d(d, x, y, 4, 5, (0.0, 10.0), (0.0, 10.0)),
        d.filter(in(x) && in(y))
          .groupBy(Hist.bucket(x, 0.0, 10.0, 4).as("xbin"),
            Hist.bucket(y, 0.0, 10.0, 5).as("ybin"))
          .agg(count(lit(1)).as("cnt"))),
      ("hist1dOverlay", Hist.hist1dOverlay(d, x, 6, 0.0, 10.0,
          Map("k" -> k, "pos" -> (y > 5.0), "all" -> lit(true))),
        d.filter(in(x)).groupBy(Hist.bucket(x, 0.0, 10.0, 6).as("bin"))
          .agg(sum(when(lit(true), 1L).otherwise(0L)).as("cnt_all"),
            sum(when(k, 1L).otherwise(0L)).as("cnt_k"),
            sum(when(y > 5.0, 1L).otherwise(0L)).as("cnt_pos"))),
      ("timeBinnedCount", Hist.timeBinnedCount(d, t, 10.0, 90.0, 9, k),
        d.filter(t >= 10.0 && t <= 90.0)
          .groupBy(Hist.bucket(t, 10.0, 90.0, 9).as("bin"))
          .agg(sum(when(k, 1L).otherwise(0L)).as("cnt"))))
  }

  /** The view's schema and rows equal the reference's, and its rows
    * come in bin order. */
  private def assertSame(what: String, got: DataFrame, want: DataFrame)
      : Unit = {
    assert(got.schema == want.schema, s"$what schema")
    val sorted = want.orderBy(want.columns.map(col).toSeq: _*).collect()
    assert(got.collect().toSeq == sorted.toSeq, s"$what rows")
  }

  test("count-shaped views equal their groupBy formulations") {
    val cases = Seq(
      "6 partitions" -> edgy.repartition(6),
      "empty input" -> edgy.filter(lit(false)).repartition(6),
      "one row at hi" -> edgy.limit(1)
        .select(lit(10.0).as("x"), lit(10.0).as("y"), lit(90.0).as("t"),
          lit(null).cast("boolean").as("k")).repartition(6))
    for ((label, d) <- cases; (view, got, want) <- views(d))
      assertSame(s"$view over $label", got, want)
    // the overlay's zero-match bins and the time bins' zero counts keep
    // their rows, as a groupBy gives them
    val none = Hist.timeBinnedCount(edgy, col("t"), 10.0, 90.0, 9, lit(false))
    assert(none.collect().map(_.getLong(1)).toSeq == Seq.fill(9)(0L))
  }

  test("each count-shaped view is one Spark job, seen by query listeners") {
    val d = edgy.filter(col("t") < 50.0) // no shuffle in the input plan
    Seq[(String, () => DataFrame)](
      "hist1d" -> (() => Hist.hist1d(d, col("x"), 7, 0.0, 10.0)),
      "hist2d" -> (() =>
        Hist.hist2d(d, col("x"), col("y"), 4, 5, (0.0, 10.0), (0.0, 10.0))),
      "hist1dOverlay" -> (() => Hist.hist1dOverlay(d, col("x"), 6, 0.0, 10.0,
        Map("k" -> col("k"), "all" -> lit(true)))),
      "timeBinnedCount" -> (() =>
        Hist.timeBinnedCount(d, col("t"), 0.0, 50.0, 9, col("k")))
    ).foreach { case (view, run) =>
      val (_, plans, jobs) = tools.Run.capture(spark)(run())
      assert(jobs == 1, s"$view ran $jobs jobs")
      assert(plans.map(_._1) == Seq("counts"), s"$view executed $plans")
    }
  }

  test("driver percentile equals Spark's percentile, ties and ends included") {
    val rnd = new scala.util.Random(5)
    for (trial <- 0 until 60) {
      val n = 1 + rnd.nextInt(60)
      // few distinct values, so most arrays have ties; non-dyadic ones
      // too, where interpolating between two equal values is not exact
      val pool = Array.fill(5)(rnd.nextDouble() * 10.0)
      val vals = Array.fill(n)(trial % 3 match {
        case 0 => rnd.nextInt(8).toDouble
        case 1 => math.round(rnd.nextGaussian() * 4) / 2.0
        case _ => pool(rnd.nextInt(pool.length))
      })
      val ps = Seq(0.0, 1.0, 0.5, 0.15865, 0.84135, rnd.nextDouble())
      val viaSpark = vals.toSeq.toDF("v")
        .agg(percentile(col("v"), array(ps.map(lit): _*))).head
        .getSeq[Double](0)
      val driver = Quantiles.ofSorted(vals.sorted, ps)
      ps.indices.foreach { i =>
        assert(java.lang.Double.doubleToRawLongBits(driver(i)) ==
          java.lang.Double.doubleToRawLongBits(viaSpark(i)),
          s"p=${ps(i)} over ${vals.sorted.mkString(",")}: " +
            s"${driver(i)} vs ${viaSpark(i)}")
      }
    }
  }
}
