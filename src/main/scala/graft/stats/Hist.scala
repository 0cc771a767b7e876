package graft.stats

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Binned aggregations: 1-D/2-D histograms and binning expressions.
  *
  * Reference: `Analyzer.hist` (`detanalysis/analyzer.py:579-662`),
  * `Analyzer.heatmap` (`analyzer.py:664-715`), time/amplitude binning in
  * `Semiautocut.__init__` (`semiautocuts.py:244-292`).
  *
  * Spark-first shape: a histogram is a count per closed-form
  * [[bucket]] index, and the bins are known before the data is read. So
  * every count-shaped view ([[hist1d]], [[hist2d]], [[hist1dOverlay]],
  * [[timeBinnedCount]], and the pass fractions of
  * `EventTable.passageFraction` and `MasterCuts.cumulativePassFractions`)
  * is ONE Spark job ([[counts]]): each task fills a dense array of
  * cells, the arrays are summed, and the view is returned as a small
  * local frame in bin order. These views are eager, like `collect`: the
  * job runs when the function is called, never again when the result is
  * read. A `groupBy` would cost a shuffle-map job plus AQE's re-planned
  * result job, and scale no better at ≤ cells result rows. Bin limits,
  * when not given, come from a first `agg(min, max)` pass (two-pass, like
  * vaex's `limits='minmax'`). [[hist2dAgg]]'s `what=` is any aggregate,
  * so it stays a lazy `groupBy`.
  */
object Hist {

  /** W1/W3: equal-width bucket index in [0, bins-1]; values exactly at the
    * upper edge fall in the last bin (numpy half-open-except-last
    * convention, matching `np.histogram`). Out-of-range values are
    * clamped out by callers' range predicate. Needs `bins` ≥ 1 and a
    * finite range `lo` < `hi`, checked when the expression is built. */
  def bucket(x: Column, lo: Double, hi: Double, bins: Int): Column = {
    require(bins >= 1, s"$bins bins: a histogram needs at least one")
    require(lo < hi && !(hi - lo).isInfinite,
      s"histogram range [$lo, $hi] is not a finite range with lo < hi")
    val w = (hi - lo) / bins
    least(floor((x - lo) / w), lit(bins - 1L)).cast("long")
  }

  /** Equal-width binning where edges are data-driven (two-pass). Returns
    * (lo, hi) from one min/max aggregation (`semiautocuts.py:257-259`);
    * throws when `df` has no non-null value of `c`. */
  def minmax(df: DataFrame, c: String): (Double, Double) = {
    val r = df.agg(min(col(c)).cast("double"), max(col(c)).cast("double"))
      .head()
    require(!r.isNullAt(0), s"no limits for column $c: no non-null value")
    (r.getDouble(0), r.getDouble(1))
  }

  /** The one Spark job behind every count-shaped view: each row of `df`
    * adds 1 at every non-null `cells` index (a long) in [0, size). Each
    * task fills a dense `Array[Long](size)` — 8 B × `size` of task
    * memory — and `treeAggregate` sums the arrays, so with many
    * partitions the combining runs on executors. The job is one SQL
    * execution named `counts`, so query listeners see its plan. */
  private def counts(
      df: DataFrame,
      cells: Seq[Column],
      size: Int): Array[Long] = {
    val n = cells.size
    GraftSqlBridge.executeRows(
        df.select(cells.map(_.cast("long")): _*), "counts") { rows =>
      rows.treeAggregate(new Array[Long](size))(
        (acc, r) => {
          var i = 0
          while (i < n) {
            if (!r.isNullAt(i)) {
              val c = r.getLong(i)
              if (c >= 0 && c < size) acc(c.toInt) += 1
            }
            i += 1
          }
          acc
        },
        (a, b) => {
          var i = 0
          while (i < size) { a(i) += b(i); i += 1 }
          a
        })
    }
  }

  /** `rows` as a local frame of `schema` in `df`'s session. */
  private def local(df: DataFrame, schema: StructType, rows: Seq[Row])
      : DataFrame =
    df.sparkSession.createDataFrame(rows.asJava, schema)

  private def longs(names: String*): Seq[StructField] =
    names.map(StructField(_, LongType, nullable = false))

  /** Pass fractions in one job: for each named predicate, the fraction of
    * its non-null values over `df` that are true, as one row of nullable
    * doubles — null when the predicate has no non-null value. Cell
    * `2k + pass` counts predicate k's passes and fails, and
    * pass / (pass + fail) is bit-identical to `avg(cast(pred as double))`. */
  private[graft] def passFractions(
      df: DataFrame,
      preds: Seq[(String, Column)]): DataFrame = {
    val n = counts(df,
      preds.zipWithIndex.map { case ((_, p), k) =>
        lit(2L * k) + p.cast("long")
      },
      2 * preds.size)
    val fracs = preds.indices.map { k =>
      val (fail, pass) = (n(2 * k), n(2 * k + 1))
      if (pass + fail == 0) null
      else java.lang.Double.valueOf(pass.toDouble / (pass + fail).toDouble)
    }
    local(df,
      StructType(preds.map(p => StructField(p._1, DoubleType))),
      Seq(Row.fromSeq(fracs)))
  }

  /** A7: 1-D histogram as (bin, cnt) rows in bin order, empty bins absent.
    * Values outside [lo, hi] are dropped (numpy `range=` semantics).
    * Eager: one Spark job ([[binCounts]], 8 B × `bins` per task). */
  def hist1d(
      df: DataFrame,
      c: Column,
      bins: Int,
      lo: Double,
      hi: Double): DataFrame = {
    val n = binCounts(df, c, lo, hi, bins, Nil)
    local(df, StructType(longs("bin", "cnt")),
      (0 until bins).filter(n(_) > 0).map(b => Row(b.toLong, n(b))))
  }

  /** Dense counts of `c`'s [[bucket]]s over [lo, hi] in one Spark job, with
    * a presence cell and one cell per predicate: element b·(P+1) is bin
    * b's row count, b·(P+1)+1+k its count of rows where `preds(k)` holds
    * (a null predicate does not). */
  private[graft] def binCounts(
      df: DataFrame,
      c: Column,
      lo: Double,
      hi: Double,
      bins: Int,
      preds: Seq[Column]): Array[Long] = {
    val stride = preds.size + 1
    val b = bucket(c, lo, hi, bins) * stride
    counts(df.filter(c >= lo && c <= hi),
      b +: preds.indices.map(k => when(preds(k), b + (k + 1))),
      bins * stride)
  }

  /** (bin, `names`…) rows in bin order from [[binCounts]] over
    * `names.size` predicates: one row per bin with a row in range, so a
    * bin with rows but no match keeps its row, with 0, as under a
    * `groupBy`. */
  private def binFrame(
      df: DataFrame,
      n: Array[Long],
      bins: Int,
      names: Seq[String]): DataFrame = {
    val stride = names.size + 1
    local(df,
      StructType(longs("bin") ++ names.map(StructField(_, LongType))),
      (0 until bins).filter(i => n(i * stride) > 0).map(i => Row.fromSeq(
        i.toLong +: (1 to names.size).map(k => n(i * stride + k)))))
  }

  /** A7 with data-driven limits (`limits='minmax'`,
    * `analyzer.py:592-596`). Equal limits widen to (v − 0.5, v + 0.5),
    * as `np.histogram` widens them. */
  def hist1dAuto(df: DataFrame, column: String, bins: Int): DataFrame = {
    val (lo, hi) = minmax(df, column)
    if (lo == hi) hist1d(df, col(column), bins, lo - 0.5, hi + 0.5)
    else hist1d(df, col(column), bins, lo, hi)
  }

  /** A8: 2-D histogram (heatmap backing table) as (xbin, ybin, cnt) rows
    * in (xbin, ybin) order, empty cells absent (`analyzer.py:664-715`).
    * Eager: one Spark job ([[counts]], 8 B × `xbins`·`ybins` per task). */
  def hist2d(
      df: DataFrame,
      x: Column,
      y: Column,
      xbins: Int,
      ybins: Int,
      xlim: (Double, Double),
      ylim: (Double, Double)): DataFrame = {
    require(xbins.toLong * ybins <= Int.MaxValue,
      s"$xbins x $ybins cells do not fit one array")
    val n = counts(
      df.filter(
        x >= xlim._1 && x <= xlim._2 && y >= ylim._1 && y <= ylim._2),
      Seq(bucket(x, xlim._1, xlim._2, xbins) * ybins +
        bucket(y, ylim._1, ylim._2, ybins)),
      xbins * ybins)
    local(df, StructType(longs("xbin", "ybin", "cnt")),
      n.indices.filter(n(_) > 0).map(i =>
        Row((i / ybins).toLong, (i % ybins).toLong, n(i))))
  }

  /** Collect a (bin,count) result into a dense Array[Long] of length
    * `bins` (driver-side plot prep; the result is ≤bins rows, so this
    * collect is bounded, never data-sized). */
  def dense1d(histDf: DataFrame, bins: Int): Array[Long] = {
    val out = Array.ofDim[Long](bins)
    histDf.collect().foreach { r =>
      val b = r.getLong(histDf.columns.indexOf("bin"))
      if (b >= 0 && b < bins) out(b.toInt) = r.getLong(histDf.columns.indexOf("cnt"))
    }
    out
  }

  /** A7 overlay variant: one histogram pass yielding counts per named
    * cut simultaneously (`hist(..., cut=[c1, c2, …])` overlays,
    * `analyzer.py:605-636`): (bin, cnt_<cut> in name order) rows in bin
    * order, one per bin with any in-range row — a null predicate counts
    * as not passing. Eager: one Spark job for N overlays
    * ([[binCounts]], 8 B × `bins`·(N+1) per task). */
  def hist1dOverlay(
      df: DataFrame,
      c: Column,
      bins: Int,
      lo: Double,
      hi: Double,
      cuts: Map[String, Column]): DataFrame = {
    val named = cuts.toSeq.sortBy(_._1)
    binFrame(df, binCounts(df, c, lo, hi, bins, named.map(_._2)), bins,
      named.map(nc => s"cnt_${nc._1}"))
  }

  /** A8 `what=` variant: any aggregation per 2-D cell instead of a bare
    * count (`heatmap(..., what=…)`, `analyzer.py:664-715`). */
  def hist2dAgg(
      df: DataFrame,
      x: Column,
      y: Column,
      xbins: Int,
      ybins: Int,
      xlim: (Double, Double),
      ylim: (Double, Double),
      what: Column): DataFrame =
    df.filter(
        x >= xlim._1 && x <= xlim._2 && y >= ylim._1 && y <= ylim._2)
      .groupBy(
        bucket(x, xlim._1, xlim._2, xbins).as("xbin"),
        bucket(y, ylim._1, ylim._2, ybins).as("ybin"))
      .agg(what.as("what"))

  /** A9: per-time-bin count of events where `inRange` holds — the
    * rate-estimation histogram (`_do_time_binned_count_cut`,
    * `semiautocuts.py:738-811`). Returns (bin, cnt) rows in bin order;
    * a bin with no row in [tlo, thi] is absent (callers treat absent as
    * 0), a bin with rows but no match has cnt 0. Eager: one Spark job
    * ([[binCounts]], 8 B × 2·`bins` per task). */
  def timeBinnedCount(
      df: DataFrame,
      time: Column,
      tlo: Double,
      thi: Double,
      bins: Int,
      inRange: Column): DataFrame =
    binFrame(df, binCounts(df, time, tlo, thi, bins, Seq(inRange)), bins,
      Seq("cnt"))
}
