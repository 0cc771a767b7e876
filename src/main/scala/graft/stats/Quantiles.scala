package graft.stats

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** Quantile/robust-scale estimators.
  *
  * The reference takes exact `np.percentile` in its threshold paths
  * (`detanalysis/semiautocuts.py:565-585`) and vaex `percentile_approx`
  * for equal-count time bins (`semiautocuts.py:253`). Thresholds feed cut
  * predicates, so the exact form matters for oracle equality (SURVEY.md
  * §7.3 item 3). Every exact percentile here — the cut thresholds, A4
  * ([[exact]]), A6 ([[medianRobustSigma]]) and the W2 edges
  * ([[equalCountEdges]]) — runs through one estimation path,
  * [[guardedEstimate]]: one Spark job ([[exactSample]]) brings the
  * sample to the driver, which sorts it and resolves the percentiles
  * ([[ofSorted]], Spark's `percentile` bit for bit). Only a sample past
  * the driver's bound runs Spark's `percentile` aggregate on the
  * executors, or `percentile_approx` (the GK sketch) past the caller's
  * `maxExactRows`.
  */
object Quantiles {

  /** A4: exact percentiles `ps` (in [0,1]; linear interpolation,
    * numpy-compatible) of `c` over `df`: [[thresholdQuantiles]] with the
    * sketch off. Throws when `df` has no non-null value of `c`. */
  def exact(df: DataFrame, c: Column, ps: Seq[Double]): Seq[Double] =
    thresholdQuantiles(df, c, ps, Int.MaxValue).values

  private def emptySample(c: Column) = new IllegalArgumentException(
    s"empty estimation sample for quantile over $c — the source " +
      "DataFrame (or estimation condition) matched zero non-null rows")

  /** [[exact]] on the driver, over an ascending array: Spark's
    * `percentile` bit for bit. Position pos = (n−1)·p; between distinct
    * neighbours v[lo] < v[hi] (lo = ⌊pos⌋, hi = ⌈pos⌉) the result is
    * `(hi − pos)·v[lo] + (pos − lo)·v[hi]`, otherwise v[lo]. For a
    * sample already on the driver, where a local frame would cost two
    * Spark jobs. */
  def ofSorted(v: Array[Double], ps: Seq[Double]): Seq[Double] =
    ofSorted(v, 0, v.length, ps)

  /** [[ofSorted]] over `v(from until until)`. */
  private def ofSorted(v: Array[Double], from: Int, until: Int,
      ps: Seq[Double]): Seq[Double] = {
    require(until > from, "empty estimation sample for a percentile")
    ps.map { p =>
      require(p >= 0.0 && p <= 1.0, s"percentile $p outside [0, 1]")
      val pos = (until - from - 1L) * p
      val (lo, hi) = (pos.floor.toLong, pos.ceil.toLong)
      val (vl, vh) = (v(from + lo.toInt), v(from + hi.toInt))
      if (lo == hi || vl == vh) vl
      else (hi - pos) * vl + (pos - lo) * vh
    }
  }

  /** Above this estimation-sample row count, THRESHOLD estimation
    * (T2/T3/T6) switches from the exact percentile — which, past the
    * driver's bound ([[collectorRows]]), is Spark's `percentile`
    * aggregate holding each group's full value multiset — to the GK
    * sketch (rank error ≤ 1/[[approxAcc]] of the sample size). The
    * reference's regime keeps estimation samples conditioned and small,
    * so the exact path is the default; this guard is the 100×-scale
    * escape hatch VERDICT r05 flagged: nothing used to steer a caller off
    * the exact path when the estimation sample was a billion rows. */
  val defaultMaxExactRows: Int = 100000000
  val approxAcc: Int = 10000

  /** Result of a guarded estimation: the quantile values plus whether
    * the cardinality guard routed to the sketch. */
  final case class GuardedQuantiles(values: Seq[Double], approximated: Boolean)

  /** The cardinality guard, folded into the estimation itself: the
    * percentiles `ps` of `x` over `sample`, per `bin` (a non-null long;
    * `None` for one global estimate, returned under key 0). A bin whose
    * values are all null maps to `None`. Also returns whether the GK
    * sketch was used: the percentiles are exact while `sample` has at
    * most `maxExactRows` rows, and come from `percentile_approx` above.
    * `Int.MaxValue` switches the sketch off: every size is exact.
    *
    * Where the exact percentiles are computed depends on the sample's
    * row count against [[collectorRows]], the rows the driver may take
    * in. Within it, ONE Spark job ([[exactSample]]) counts the rows and
    * brings the sample to the driver, where each bin's values are sorted
    * and resolved by [[ofSorted]], Spark's `percentile` bit for bit (up
    * to the sign of a zero: see [[exactSample]]). A larger sample, or
    * one with a partition over its share of that bound, gets a second
    * job instead: Spark's `percentile` aggregate on the executors, or
    * the sketch when the count is over `maxExactRows`.
    *
    * When the optimized plan reports a `rowCount` over [[collectorRows]]
    * (a `LocalRelation`, whose filters the optimizer folds in, or an
    * unfiltered `Range`; a filtered `Range` reports none) that count
    * picks the aggregate or the sketch at once. The plan's byte size is
    * never trusted: for parquet it is the COMPRESSED file size, so a
    * highly compressed sample far above the limit would pass as small
    * (ADVICE r06). */
  def guardedEstimate(
      sample: DataFrame,
      bin: Option[Column],
      x: Column,
      ps: Seq[Double],
      maxExactRows: Int): (Map[Long, Option[Seq[Double]]], Boolean) = {
    def aggregate(pct: (Column, Column) => Column) =
      sample.groupBy(bin.toSeq: _*).agg(pct(x, array(ps.map(lit): _*)))
        .collect().map { r =>
          val q = r.length - 1
          (if (bin.isEmpty) 0L else r.getLong(0)) ->
            Option.unless(r.isNullAt(q))(r.getSeq[Double](q))
        }.toMap
    def onExecutors(rows: BigInt) =
      if (rows > maxExactRows && maxExactRows < Int.MaxValue)
        (aggregate(percentile_approx(_, _, lit(approxAcc))), true)
      else (aggregate(percentile(_, _)), false)
    val keep = collectorRows(sample.sparkSession, maxExactRows)
    sample.queryExecution.optimizedPlan.stats.rowCount.filter(_ > keep) match {
      case Some(rows) => onExecutors(rows)
      case None =>
        val s = exactSample(sample, bin.getOrElse(lit(0L)), x, keep)
        s.percentiles(ps).map((_, false)).getOrElse(onExecutors(s.rows))
    }
  }

  /** The most estimation rows whose values [[exactSample]] brings to the
    * driver: at most `maxExactRows`, and few enough that the task
    * results, at [[Sample.bytesPerRow]] a row, stay within a quarter of
    * `spark.driver.maxResultSize` (Spark's bound on the serialized task
    * results of one job, past which it aborts the job; 0 sets none) and
    * an eighth of the driver's heap. Merging them, the driver holds at
    * most twice that. At Spark's default 1 GiB result bound that is
    * 11,184,810 rows in 256 MiB of task results. */
  private[graft] def collectorRows(
      spark: org.apache.spark.sql.SparkSession,
      maxExactRows: Int): Long =
    collectorRows(
      spark.sparkContext.getConf
        .getSizeAsBytes("spark.driver.maxResultSize", "1g"),
      Runtime.getRuntime.maxMemory,
      maxExactRows)

  private[graft] def collectorRows(
      maxResultSize: Long,
      heap: Long,
      maxExactRows: Int): Long = {
    val results = if (maxResultSize > 0) maxResultSize / 4 else Long.MaxValue
    math.min(maxExactRows.toLong,
      math.min(results, heap / 8) / Sample.bytesPerRow)
  }

  /** The rows of one estimation sample, gathered per partition and merged
    * by `treeAggregate`: the row count, every bin that has a row (also
    * a bin whose values are all null), and the (bin, value) pairs of the
    * non-null values. A partition keeps its pairs while it has at most
    * `share` rows and its bins while it has at most `share` of them; past
    * that it drops them and only counts, and a merge with a part that
    * dropped them drops them too. So a partition's task result holds at
    * most `share` × [[Sample.bytesPerRow]] bytes of pairs and bins,
    * whatever the sample's size. */
  private[graft] final class Sample(share: Long) extends Serializable {
    var rows = 0L
    @transient private var binSet = mutable.LongMap.empty[Unit]
    private var n = 0
    private var keys = new Array[Long](16)
    private var vals = new Array[Double](16)
    /** The bins, packed while the sample is serialized. */
    private var packed: Array[Long] = null

    /** Adds one (bin, value) row of a partition; the value may be null. */
    def add(r: InternalRow): this.type = {
      val k = r.getLong(0)
      rows += 1
      if (binSet != null) {
        binSet.update(k, ())
        if (binSet.size > share) binSet = null
      }
      if (keys != null) {
        if (rows > share) dropPairs()
        else if (!r.isNullAt(1)) {
          if (n == keys.length) grow(math.max(16, 2 * n))
          keys(n) = k; vals(n) = r.getDouble(1); n += 1
        }
      }
      this
    }

    def merge(o: Sample): this.type = {
      rows += o.rows
      binSet = if (binSet == null || o.binSet == null) null
               else binSet ++= o.binSet
      if (keys == null || o.keys == null) dropPairs()
      else {
        if (n + o.n > keys.length) grow(n + o.n)
        System.arraycopy(o.keys, 0, keys, n, o.n)
        System.arraycopy(o.vals, 0, vals, n, o.n)
        n += o.n
      }
      this
    }

    /** Every bin that has a row, unless a partition dropped its bins. */
    def bins: Option[Iterable[Long]] = Option(binSet).map(_.keys)

    /** Per bin, the exact percentiles `ps` of its values, or `None` when
      * its values are all null; `None` in all when a partition dropped
      * its pairs. */
    def percentiles(ps: Seq[Double]): Option[Map[Long, Option[Seq[Double]]]] =
      Option.when(keys != null && binSet != null) {
        // each bin's values into one contiguous slice: count, offset, copy
        val start = mutable.LongMap.empty[Int]
        var i = 0
        while (i < n) {
          start(keys(i)) = start.getOrElse(keys(i), 0) + 1
          i += 1
        }
        var offset = 0
        start.mapValuesInPlace { (_, count) => offset += count; offset - count }
        val end = start.clone()
        val sorted = new Array[Double](n)
        i = 0
        while (i < n) {
          val j = end(keys(i))
          sorted(j) = vals(i)
          end(keys(i)) = j + 1
          i += 1
        }
        binSet.keys.map { k =>
          k -> start.get(k).map { from =>
            java.util.Arrays.sort(sorted, from, end(k))
            ofSorted(sorted, from, end(k), ps)
          }
        }.toMap
      }

    private def dropPairs(): Unit = { n = 0; keys = null; vals = null }

    private def grow(size: Int): Unit = {
      keys = java.util.Arrays.copyOf(keys, size)
      vals = java.util.Arrays.copyOf(vals, size)
    }

    /** A task result carries the pairs and the bins as primitive arrays,
      * not the spare capacity or the hash table. */
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      if (keys != null && keys.length != n) grow(n)
      packed = if (binSet == null) null else binSet.keys.toArray
      out.defaultWriteObject()
      packed = null
    }

    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      if (packed != null) {
        binSet = mutable.LongMap.empty[Unit]
        packed.foreach(binSet.update(_, ()))
        packed = null
      }
    }
  }

  private[graft] object Sample {
    /** The task-result bytes a row may add: a (bin, value) pair and its
      * bin, 8 B each. */
    val bytesPerRow = 24
  }

  /** One Spark job: the [[Sample]] of `x` (cast to double, as `percentile`
    * reads it) per long `bin` over `df`. Each partition keeps its values
    * while it holds at most its share of `maxRows` (`maxRows` divided by
    * the partition count), so the task results come to at most `maxRows`
    * × [[Sample.bytesPerRow]] bytes plus a header per task. The job is one
    * SQL execution named `quantiles`, so query listeners see its scan.
    *
    * Resolved by [[Sample.percentiles]], the result equals Spark's
    * `percentile` bit for bit with one exception: the sort puts −0.0
    * before 0.0, where `percentile` orders the two as equal keys in hash
    * order, so a percentile that lands on a zero may differ in its sign.
    * Spark's comparisons treat the two zeros as equal, so no cut
    * predicate tells them apart. */
  private[graft] def exactSample(
      df: DataFrame,
      bin: Column,
      x: Column,
      maxRows: Long): Sample =
    GraftSqlBridge.executeRows(
        df.select(bin.cast("long"), x.cast("double")), "quantiles") { rdd =>
      rdd.treeAggregate(
          new Sample(maxRows / math.max(1, rdd.getNumPartitions)))(
        _ add _,
        _ merge _)
    }

  /** The distinct values of `bin` (a non-null long) over `df`: one job
    * ([[exactSample]] keeping no value), and a second (a `distinct`) only
    * when a partition has more bins than its share of
    * [[collectorRows]]. */
  def bins(df: DataFrame, bin: Column): Iterable[Long] =
    exactSample(df, bin, lit(null),
        collectorRows(df.sparkSession, Int.MaxValue)).bins
      .getOrElse(df.select(bin.cast("long")).distinct().collect()
        .map(_.getLong(0)).toSeq)

  /** The percentiles `ps` of `c` over `df`, one global estimate behind
    * the cardinality guard ([[guardedEstimate]]): one Spark job unless
    * the sample is over the driver's bound ([[collectorRows]]) or the
    * limit. Throws when `df` has no non-null value of `c`. */
  def thresholdQuantiles(
      df: DataFrame,
      c: Column,
      ps: Seq[Double],
      maxExactRows: Int = defaultMaxExactRows): GuardedQuantiles = {
    val (q, approximated) =
      guardedEstimate(df.filter(c.isNotNull), None, c, ps, maxExactRows)
    GuardedQuantiles(q.get(0L).flatten.getOrElse(throw emptySample(c)),
      approximated)
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

  /** [[medianRobustSigma]] of `c` over `df`: one [[exact]] estimate. */
  def medianRobustSigma(df: DataFrame, c: Column): (Double, Double) =
    medianRobustSigma(exact(df, c, sigmaPercentiles))

  /** W2: equal-count bin edges at [[exact]] percentiles of `c`
    * (`semiautocuts.py:244-255`, where vaex approximates them) — returns
    * bins+1 edges including min/max. */
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
