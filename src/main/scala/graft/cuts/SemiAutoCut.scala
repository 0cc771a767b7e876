package graft.cuts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.stats.{Hist, Quantiles}

/** Data-driven cut parameters — the `cut_pars` dict of the reference
  * (`detanalysis/semiautocuts.py:294-306`), with `Option[Double]` replacing
  * the −1e8 "unset" sentinel. Exactly one family (value / percentile /
  * sigma) should be populated; `percent` / `sigma` are the symmetric
  * shorthands expanded in `_get_cut_mask` (`semiautocuts.py:548-627`). */
final case class CutPars(
    valLower: Option[Double] = None,
    valUpper: Option[Double] = None,
    percentLower: Option[Double] = None,
    percentUpper: Option[Double] = None,
    percent: Option[Double] = None,
    sigmaLower: Option[Double] = None,
    sigmaUpper: Option[Double] = None,
    sigma: Option[Double] = None) {

  def isValue: Boolean = valLower.isDefined || valUpper.isDefined
  def isPercentile: Boolean =
    percentLower.isDefined || percentUpper.isDefined || percent.isDefined
  def isSigma: Boolean =
    sigmaLower.isDefined || sigmaUpper.isDefined || sigma.isDefined
}

/** Resolved numeric thresholds for one cut (optionally per bin). */
final case class Thresholds(lower: Option[Double], upper: Option[Double]) {
  /** The pass predicate `lower < x < hi` — strict on both sides, matching
    * the reference (`semiautocuts.py:554-561`). */
  def predicate(x: Column): Column = (lower, upper) match {
    case (Some(lo), Some(hi)) => x > lo && x < hi
    case (Some(lo), None)     => x > lo
    case (None, Some(hi))     => x < hi
    case (None, None)         => lit(true)
  }
}

/** Semi-automatic, data-driven threshold cuts — the Spark re-expression of
  * `Semiautocut` (`detanalysis/semiautocuts.py:83-873`).
  *
  * The estimation sample (events used to COMPUTE thresholds) and the
  * application set (events the cut is APPLIED to) are distinct: thresholds
  * come from the estimation `DataFrame` (typically conditioned on previous
  * cuts and bin limits, T4, `semiautocuts.py:508-541`) but the returned
  * predicate applies to any row (T1-T3 return plain `Column`s).
  *
  * One resolver turns a [[CutPars]] family into thresholds for the
  * global, the binned and the rate cut alike. Every estimate is one
  * Spark job that runs once: the cardinality guard rides in the
  * estimation job ([[Quantiles.guardedEstimate]]), and only a sample too
  * large for the driver pays a second job: the exact aggregate on the
  * executors, or the sketch past the guard's limit. Binned variants
  * (T6/T7) replace the reference's serial per-bin Python loops
  * (`semiautocuts.py:696-716,835-855`) with one Spark job — T6 the
  * estimation sample collector ([[Quantiles.exactSample]]), whose
  * per-bin values are sorted and resolved on the driver, T7 a dense
  * per-bin count — and apply the result as a per-bin array literal: the
  * returned frame is the input plan plus one projected boolean column,
  * with no aggregation or join left in it for later actions to re-run
  * (J3/J4).
  */
object SemiAutoCut {

  /** The one family dispatch of every semi-auto cut (`_get_cut_mask`,
    * `semiautocuts.py:548-627`): the percentiles `pars` needs of an
    * estimation sample, and how its [[Thresholds]] follow from their
    * values. Value (T1, `:548-561`), then percentile, then sigma:
    * `percent = p` keeps the central p percent, `sigma = k` brackets the
    * median by k robust sigmas. A value family, or no family set, needs
    * no percentile. */
  private def resolver(pars: CutPars)
      : (Seq[Double], Seq[Double] => Thresholds) =
    if (pars.isValue) (Nil, _ => Thresholds(pars.valLower, pars.valUpper))
    else if (pars.isPercentile) {                   // T2 (`:563-586`)
      val (pl, pu) = pars.percent match {
        case Some(p) => (Some(0.5 - p / 200.0), Some(0.5 + p / 200.0))
        case None    => (pars.percentLower.map(_ / 100.0),
                         pars.percentUpper.map(_ / 100.0))
      }
      (pl.toSeq ++ pu.toSeq,
        q => Thresholds(pl.map(_ => q.head), pu.map(_ => q.last)))
    } else if (pars.isSigma) {                      // T3 (`:588-627`)
      val (kl, ku) = pars.sigma.fold((pars.sigmaLower, pars.sigmaUpper))(
        k => (Some(k), Some(k)))
      (Quantiles.sigmaPercentiles, { q =>
        val (med, sig) = Quantiles.medianRobustSigma(q)
        Thresholds(kl.map(k => med - k * sig), ku.map(k => med + k * sig))
      })
    } else (Nil, _ => Thresholds(None, None))

  /** T1-T3: thresholds for `rq` from ONE global estimate over `est`
    * ([[Quantiles.thresholdQuantiles]]; none for a value family or no
    * family). Exact percentiles (SURVEY §7.3 item 3) while `est` has at
    * most `maxExactRows` rows, the GK sketch above (rank error
    * ≤ 1/`Quantiles.approxAcc`; VERDICT r05 §6); `Int.MaxValue` keeps
    * every size exact. Throws when `est` has no non-null `rq`. */
  def thresholds(
      est: DataFrame,
      rq: String,
      pars: CutPars,
      maxExactRows: Int = Quantiles.defaultMaxExactRows): Thresholds = {
    val (ps, resolve) = resolver(pars)
    resolve(if (ps.isEmpty) Nil
            else Quantiles.thresholdQuantiles(est, col(rq), ps, maxExactRows)
              .values)
  }

  /** T1-T4 in one step: estimation-conditioned cut predicate. */
  def cut(
      df: DataFrame,
      rq: String,
      pars: CutPars,
      estimationCondition: Column = lit(true),
      maxExactRows: Int = Quantiles.defaultMaxExactRows): Column =
    thresholds(df.filter(estimationCondition), rq, pars, maxExactRows)
      .predicate(col(rq))

  /** T4 helper: previous-cut discovery — all boolean `cut_*` columns whose
    * name contains the channel (`_get_previous_cut_names`,
    * `semiautocuts.py:384-397`), AND-folded
    * (`_combine_cut_columns`, `:399-409`). */
  def previousCutsCondition(df: DataFrame, channel: String): Column = {
    val cuts = df.schema.fields
      .filter(f =>
        f.name.startsWith("cut_") && f.name.contains(channel) &&
          f.dataType == org.apache.spark.sql.types.BooleanType)
      .map(f => col(f.name))
    if (cuts.isEmpty) lit(true) else cuts.reduce(_ && _)
  }

  /** T5: time-interval cut — pass events inside ANY [lo,hi] pair.
    *
    * Divergence from the reference, deliberate: `_do_time_cut`
    * (`semiautocuts.py:461-489`) initializes the mask to zeros and ANDs
    * per-interval masks (`:206-207,488`), so two disjoint intervals yield
    * the empty cut — a bug. We implement the evident intent (OR), as
    * documented in SURVEY.md §2.5. */
  def timeIntervalCut(time: Column, pairs: Seq[(Double, Double)]): Column =
    pairs.map { case (lo, hi) => time >= lo && time <= hi }.reduce(_ || _)

  /** T6: binned cut — per-bin thresholds from ONE estimation job (J3),
    * resolved on the driver as [[thresholds]] resolves them and applied
    * as literals.
    *
    * `bin` must be a deterministic, integral bucket expression. A row
    * whose bin is null fails the cut. Keeping rows outside a binning
    * range out of the bins is the bin expression's job:
    * [[graft.stats.Hist.bucket]] never returns null — it clamps rows above
    * its range into the last bin and gives rows below it negative bins,
    * which are then estimated as bins of their own — so wrap it as
    * `when(in range, bucket)` (as [[rateCut]] does) to make out-of-range
    * rows fail. A bin with no estimation rows and no exception fails the
    * cut, matching the reference, where an empty estimation slice yields
    * nan thresholds and an all-false mask. Per-bin `exceptions` override
    * the estimated thresholds (`exceptions_dict`,
    * `semiautocuts.py:675-736`), also for bins absent from the
    * estimation sample.
    *
    * The threshold table (≤ one row per bin) is collected once; the
    * returned frame is `df` plus the boolean `cutName`, a projection that
    * indexes an array literal of per-bin thresholds spanning the smallest
    * to the largest resolved bin. Later actions on it re-run no
    * estimation. The literal grows with that span, so the bin expression
    * should be dense.
    */
  def binnedCut(
      df: DataFrame,
      rq: String,
      bin: Column,
      pars: CutPars,
      cutName: String,
      exceptions: Map[Long, Thresholds] = Map.empty,
      estimationCondition: Column = lit(true),
      maxExactRows: Int = Quantiles.defaultMaxExactRows): DataFrame = {
    val b = bin.cast("long")
    val x = col(rq)
    val est = df.filter(estimationCondition && b.isNotNull)
      .select(b.as("__bin__"), x)

    // per-bin percentiles behind the same guard as the global thresholds
    // (the GK sketch past maxExactRows estimation rows, rank error
    // ≤ 1/approxAcc per bin); a bin whose values are all null passes
    // every row. With no percentile to take, every bin with a row gets
    // the value thresholds.
    val (ps, resolve) = resolver(pars)
    val perBin: Iterable[(Long, Thresholds)] =
      if (ps.isEmpty)
        Quantiles.bins(est, col("__bin__")).map(_ -> resolve(Nil))
      else Quantiles.guardedEstimate(est, Some(col("__bin__")), x, ps,
          maxExactRows)._1
        .map { case (k, q) => k -> q.fold(Thresholds(None, None))(resolve) }
    val resolved = perBin.toMap ++ exceptions

    // pass = strict inside (lo, hi); an unset bound passes its side
    val cut =
      if (resolved.isEmpty) lit(false)
      else {
        val (lo, hi) = (resolved.keys.min, resolved.keys.max)
        val table = typedLit((lo to hi).map(k =>
          resolved.get(k).map(t => (t.lower, t.upper))))
        val t = when(b.between(lo, hi), get(table, (b - lo).cast("int")))
        coalesce(t.isNotNull &&
          (t("_1").isNull || x > t("_1")) &&
          (t("_2").isNull || x < t("_2")), lit(false))
      }
    df.withColumn(cutName, cut)
  }

  /** T7: rate cut — count events with `inRange` per time bin; cut WHOLE
    * bins whose count exceeds a threshold; events keep/lose by their bin's
    * verdict (J4). The reference does an O(events×bins) Python loop
    * (`semiautocuts.py:800-811`); here the `bins` counts come from one
    * Spark job (`Hist.binCounts`); the threshold, resolved as
    * [[thresholds]] resolves the limit's upper bound over the counts'
    * exact percentiles ([[Quantiles.ofSorted]]), and the verdicts are
    * resolved on the driver, and the returned frame is `df` plus
    * `cutName`, a projection that indexes a boolean array literal by the
    * event's bin: a bin keeps while its count is at most the threshold.
    *
    * `limit` semantics (`_do_time_binned_count_cut`, `semiautocuts.py:
    * 738-811`): Left(absolute count) | Right((mode, k)) where mode is
    * "percent" (k-th percentile of bin counts) or "sigma" (median +
    * k·robust sigma of bin counts) — `valUpper`, `percentUpper` and
    * `sigmaUpper` of a [[CutPars]].
    */
  def rateCut(
      df: DataFrame,
      time: Column,
      tlo: Double,
      thi: Double,
      bins: Int,
      inRange: Column,
      limit: Either[Double, (String, Double)],
      cutName: String): DataFrame = {
    // ALL bins participate in the threshold estimation, empty ones with
    // count 0 — the reference allocates a zeros array of nbins and takes
    // the percentile over it (`semiautocuts.py:744,788`); dropping empty
    // bins would bias the threshold upward.
    val n = Hist.binCounts(df, time, tlo, thi, bins, Seq(inRange))
    val counts = Array.tabulate(bins)(b => n(2 * b + 1))
    val (ps, resolve) = resolver(limit match {
      case Left(abs)             => CutPars(valUpper = Some(abs))
      case Right(("percent", p)) => CutPars(percentUpper = Some(p))
      case Right(("sigma", k))   => CutPars(sigmaUpper = Some(k))
      case Right((m, _)) =>
        throw new IllegalArgumentException(s"unknown rate-cut mode $m")
    })
    val threshold = resolve(
      Quantiles.ofSorted(counts.map(_.toDouble).sorted, ps)).upper.get
    // events OUTSIDE [tlo, thi] belong to no bin and always keep (the
    // reference flips only events strictly inside a bin's window) — so
    // the bucket is null out of range, never clamped into an edge bin.
    val binCol = when(time >= tlo && time <= thi,
      Hist.bucket(time, tlo, thi, bins))
    df.withColumn(cutName, coalesce(
      get(typedLit(counts.toSeq.map(_ <= threshold)), binCol.cast("int")),
      lit(true)))
  }
}

/** Master combination of per-channel cuts — `MasterSemiautocuts`
  * (`detanalysis/semiautocuts.py:2066-2101`): AND-fold all cuts, with an
  * optional saturation override `OR (ofampRq > satThreshold)`
  * (`:2085-2090`). */
object MasterCuts {
  def combined(
      cutCols: Seq[Column],
      saturation: Option[(Column, Double)] = None): Column = {
    val allCuts = cutCols.reduce(_ && _)
    saturation match {
      case Some((ofamp, thr)) => allCuts || (ofamp > thr)
      case None               => allCuts
    }
  }

  /** A11: cumulative pass-fraction matrix over randoms — for each i, the
    * fraction of condition-rows passing cuts j..i for every j ≤ i
    * (`get_randoms_passfrac_table`, `semiautocuts.py:2471-2531`), as one
    * row of N(N+1)/2 `frac_<j>_<i>` doubles (null where the AND of the
    * cuts is null on every row). Eager: one Spark job
    * (`Hist.passFractions`, 8 B × N(N+1) per task). */
  def cumulativePassFractions(
      df: DataFrame,
      cutNames: Seq[String],
      condition: Column): DataFrame =
    Hist.passFractions(df.filter(condition),
      for {
        i <- cutNames.indices
        j <- 0 to i
      } yield s"frac_${j}_$i" ->
        cutNames.slice(j, i + 1).map(col).reduce(_ && _))
}
