package graft.stats

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Quantile/robust-scale estimators.
  *
  * Reference mixes exact `np.percentile` in threshold paths
  * (`detanalysis/semiautocuts.py:565-585`) with vaex `percentile_approx`
  * for equal-count time bins (`semiautocuts.py:253`). Thresholds feed cut
  * predicates, so the exact form matters for oracle hash-equality
  * (SURVEY.md §7.3 item 3): we use Spark's exact `percentile` aggregate in
  * every threshold path and reserve `percentile_approx` for bin-edge
  * estimation where the reference itself was approximate.
  */
object Quantiles {

  /** A4: exact percentiles (linear interpolation, numpy-compatible).
    * `ps` in [0,1]. Returns one array column. */
  def exact(df: DataFrame, c: Column, ps: Seq[Double]): Seq[Double] =
    nonEmpty(df.agg(percentile(c, array(ps.map(lit): _*))).head(), c)

  /** The quantile array in the first column of a global aggregate's row;
    * null there means the sample had no non-null value of `c`. */
  private def nonEmpty(r: Row, c: Column): Seq[Double] = {
    if (r.isNullAt(0))
      throw new IllegalArgumentException(
        s"empty estimation sample for quantile over $c — the source " +
          "DataFrame (or estimation condition) matched zero non-null rows")
    r.getSeq[Double](0)
  }

  /** [[exact]] on the driver, over an ascending array: Spark's
    * `percentile` bit for bit. Position pos = (n−1)·p; between distinct
    * neighbours v[lo] < v[hi] (lo = ⌊pos⌋, hi = ⌈pos⌉) the result is
    * `(hi − pos)·v[lo] + (pos − lo)·v[hi]`, otherwise v[lo]. For a
    * sample already on the driver, where a local frame would cost two
    * Spark jobs. */
  def ofSorted(v: Array[Double], ps: Seq[Double]): Seq[Double] = {
    require(v.nonEmpty, "empty estimation sample for a percentile")
    ps.map { p =>
      require(p >= 0.0 && p <= 1.0, s"percentile $p outside [0, 1]")
      val pos = (v.length - 1L) * p
      val (lo, hi) = (pos.floor.toLong, pos.ceil.toLong)
      val (vl, vh) = (v(lo.toInt), v(hi.toInt))
      if (lo == hi || vl == vh) vl
      else (hi - pos) * vl + (pos - lo) * vh
    }
  }

  /** Above this estimation-sample row count, THRESHOLD estimation
    * (T2/T3/T6) switches from the exact percentile — which shuffles the
    * full per-group value multiset — to the GK sketch (rank error
    * ≤ 1/[[approxAcc]] of the sample size). The reference's regime keeps
    * estimation samples conditioned and small, so the exact path is the
    * default; this guard is the 100×-scale escape hatch VERDICT r05
    * flagged: nothing used to steer a caller off the exact path when the
    * estimation sample was a billion rows. */
  val defaultMaxExactRows: Int = 100000000
  val approxAcc: Int = 10000

  /** Result of a guarded estimation: the quantile values plus whether
    * the cardinality guard routed to the sketch. */
  final case class GuardedQuantiles(values: Seq[Double], approximated: Boolean)

  /** The cardinality guard, folded into the estimation itself: runs
    * `estimate(pct)` grouped by `keys` over `sample` and collects the
    * rows (keys, then the estimate columns), where `pct(x, p)` is the
    * exact percentile while `sample` has at most `maxExactRows` rows and
    * the GK sketch above. Also returns whether the sketch was used.
    *
    * When the optimized plan reports a `rowCount` (a `LocalRelation`,
    * whose filters the optimizer folds in, or an unfiltered `Range`; a
    * filtered `Range` reports none) it decides up front. The
    * plan's byte size is never trusted: for parquet it is the
    * COMPRESSED file size, so a highly compressed sample far above the
    * limit would pass as small (ADVICE r06). Otherwise (a parquet scan,
    * anything filtered) ONE action aggregates
    * `sample.limit(maxExactRows + 1)` with a `count` beside the exact
    * percentiles: a total of at most `maxExactRows` means the limit
    * removed nothing, so the percentiles are exact; a larger total
    * re-runs the estimate with the sketch over the full sample. The
    * exact aggregate therefore never sees more than `maxExactRows + 1`
    * rows, and a sample within the limit costs one action. */
  def guardedEstimate(
      sample: DataFrame,
      keys: Seq[Column],
      maxExactRows: Int)(
      estimate: ((Column, Column) => Column) => Seq[Column])
      : (Array[Row], Boolean) = {
    def run(src: DataFrame, sketch: Boolean, extra: Seq[Column]) = {
      val aggs = estimate { (x, p) =>
        if (sketch) percentile_approx(x, p, lit(approxAcc))
        else percentile(x, p)
      } ++ extra
      src.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*).collect()
    }
    val known =
      if (maxExactRows == Int.MaxValue) Some(false)
      else sample.queryExecution.optimizedPlan.stats.rowCount
        .map(_ > maxExactRows)
    known match {
      case Some(sketch) => (run(sample, sketch, Nil), sketch)
      case None =>
        val rows = run(sample.limit(maxExactRows + 1), sketch = false,
          Seq(count(lit(1))))
        if (rows.map(r => r.getLong(r.length - 1)).sum > maxExactRows)
          (run(sample, sketch = true, Nil), true)
        else (rows, false)
    }
  }

  /** T2/T3 threshold quantiles behind the cardinality guard
    * ([[guardedEstimate]]): one estimation action unless the sample is
    * over the limit. */
  def thresholdQuantiles(
      df: DataFrame,
      c: Column,
      ps: Seq[Double],
      maxExactRows: Int = defaultMaxExactRows): GuardedQuantiles = {
    val (rows, approximated) =
      guardedEstimate(df.filter(c.isNotNull), Nil, maxExactRows)(pct =>
        Seq(pct(c, array(ps.map(lit): _*))))
    GuardedQuantiles(nonEmpty(rows.head, c), approximated)
  }

  /** A5: approximate percentile (t-digest-free Greenwald-Khanna in Spark)
    * — direct equivalent of vaex `percentile_approx`
    * (`semiautocuts.py:253`). */
  def approx(df: DataFrame, c: Column, ps: Seq[Double], acc: Int = 10000)
      : Seq[Double] = {
    val r = df
      .agg(percentile_approx(c, array(ps.map(lit): _*), lit(acc)).as("q"))
      .head()
    r.getSeq[Double](0)
  }

  /** The ±1σ-equivalent and median percentiles behind the robust sigma. */
  val sigmaPercentiles: Seq[Double] = Seq(0.15865, 0.5, 0.84135)

  /** A6: median + robust sigma from the [[sigmaPercentiles]] values `q` —
    * sigma = mean of the two one-sided distances
    * (`_get_cut_mask` sigma branch, `semiautocuts.py:588-627`). */
  def medianRobustSigma(q: Seq[Double]): (Double, Double) = {
    val Seq(q1, med, q3) = q
    (med, ((med - q1) + (q3 - med)) / 2.0)
  }

  /** [[medianRobustSigma]] of `c` over `df`: one exact-percentile pass. */
  def medianRobustSigma(df: DataFrame, c: Column): (Double, Double) =
    medianRobustSigma(exact(df, c, sigmaPercentiles))

  /** [[medianRobustSigma]] behind the T3 cardinality guard. */
  def medianRobustSigmaGuarded(
      df: DataFrame,
      c: Column,
      maxExactRows: Int = defaultMaxExactRows): (Double, Double) =
    medianRobustSigma(
      thresholdQuantiles(df, c, sigmaPercentiles, maxExactRows).values)

  /** W2: equal-count bin edges at percentiles of `c`
    * (`semiautocuts.py:244-255`) — returns bins+1 edges including min/max. */
  def equalCountEdges(df: DataFrame, c: Column, bins: Int): Seq[Double] = {
    val ps = (0 to bins).map(i => i.toDouble / bins)
    exact(df, c, ps)
  }

  /** Bucketize by explicit (sorted) edges: index of the right-open
    * interval, last interval closed — SQL `width_bucket`-style but with
    * numpy's last-bin-closed convention. */
  def bucketByEdges(x: Column, edges: Seq[Double]): Column = {
    val n = edges.size - 1
    val base = (0 until n).map { i =>
      when(x >= edges(i) && (if (i == n - 1) x <= edges(i + 1)
                             else x < edges(i + 1)), i.toLong)
    }
    coalesce(base :+ lit(null.asInstanceOf[java.lang.Long]): _*)
  }

  /** Mergeable equi-width histogram sketch of `c`: `(bucket, cnt)` rows
    * with bucket = floor(c / width). The HdrHistogram-style incremental
    * quantile path at 100 TB: sketch each partition/day once (ONE
    * map-side-combined aggregation — the sketch exchange is bounded by
    * value-range/width, not rows), persist the KB-scale rows, and
    * answer quantiles over any window of sketches by summing counts.
    * Null values are excluded, like `percentile_approx`. */
  def histogramSketch(df: DataFrame, c: Column, width: Double): DataFrame = {
    require(width > 0, "width must be positive")
    df.filter(c.isNotNull)
      .select(floor(c / width).cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Merge persisted [[histogramSketch]] rows (any number of sketches
    * unioned together): counts sum by bucket. */
  def mergeHistogramSketches(sketches: DataFrame): DataFrame =
    sketches.groupBy("bucket").agg(sum("cnt").as("cnt"))

  /** Quantiles from a merged sketch: for each p, the smallest bucket
    * whose cumulative count reaches ceil(p·N), reported as the bucket's
    * UPPER edge — so the estimate is ≥ the true quantile by at most
    * `width` (the sketch's whole error contract: one bucket). Runs on
    * the driver: a merged sketch is range/width rows (KB) by
    * construction. */
  def sketchQuantiles(
      sketch: DataFrame,
      ps: Seq[Double],
      width: Double): DataFrame = {
    val spark = sketch.sparkSession
    import spark.implicits._
    val rows = sketch.orderBy("bucket")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = rows.map(_._2).sum
    val out = ps.map { p =>
      val rank = math.ceil(p * n).toLong
      var cum = 0L
      var i = 0
      while (i < rows.length && cum + rows(i)._2 < rank) {
        cum += rows(i)._2; i += 1
      }
      val b = if (rows.isEmpty) 0L else rows(math.min(i, rows.length - 1))._1
      (p, b, (b + 1) * width)
    }
    out.toDF("p", "bucket", "est")
  }
}
