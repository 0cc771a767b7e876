package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal relational operators the reference lacks but a
  * detector-event / training-data pipeline wants: as-of join, interval
  * (range) join, and gap sessionization.
  *
  * All three are built to shuffle ONCE on the join/group key and never
  * materialize a per-key pair list:
  *
  *   - [[asofJoin]] is the union-tag formulation: tag and union the two
  *     inputs, ONE hash exchange on the key, ONE sort by (ts, tag), and
  *     a running `last(payload, ignoreNulls)` carries the most recent
  *     right row forward onto each left row. The naive formulation
  *     (equi-join on key + `ts <= ts'` filter + per-left max) builds
  *     O(|L_k|·|R_k|) intermediate pairs per key; this one is
  *     O(|L_k|+|R_k|) — the difference between a dead executor and a
  *     flat curve on a 100 TB key-skewed feed.
  *   - [[intervalJoin]] grids intervals onto fixed-width buckets
  *     (`sequence` + `explode`, bounded by interval length / width) so
  *     the pair generator is a bucket equi-join, never a cross product;
  *     the exact `[lo, hi)` predicate then prunes the candidates.
  *   - [[sessionize]] is lag + running sum over one keyed sort — the
  *     standard gaps-and-islands decomposition, one exchange.
  *
  * Timestamps are plain numeric columns (the engine's convention:
  * integer microseconds, `queries/Q.tsUs`), so the operators are
  * unit-agnostic — gaps/widths/tolerances are in the caller's units.
  * Gap/tolerance/slice arithmetic runs in doubles, so timestamps must
  * be double-exact: |t| < 2^53 (for µs since epoch, the 23rd century).
  * The bound is ENFORCED at runtime on the double paths
  * ([[DoubleExactBound]]): an out-of-range timestamp raises a named
  * error instead of silently losing precision.
  *
  * Null keys: the window-based operators (asofJoin, asofJoinSliced,
  * sessionize) PARTITION on the key, so null keys group together and
  * can match each other — unlike SQL join equality, where null never
  * equals null ([[intervalJoin]] and [[asofJoinBroadcast]] use real
  * joins and follow SQL semantics). Filter null keys out beforehand
  * when SQL-equivalent behavior matters. Null timestamps sort first
  * in the window frame and therefore never match (backward) /
  * match nothing (forward) — drop them for a fully specified result.
  */
object Temporal {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Double-exactness bound for timestamp arithmetic: 2^53. The
    * gap/tolerance/slice paths cast timestamps to double, which is
    * lossless only for |t| < 2^53 (µs since epoch: the 23rd century).
    * Enforced at runtime (VERDICT r07 §3): [[exactTs]] wraps the ts
    * column wherever double arithmetic happens, so a nanosecond-epoch
    * caller fails loudly instead of silently losing exactness. Cost is
    * one codegen'd abs+compare per row, only on the guarded paths.
    */
  val DoubleExactBound: Long = 1L << 53

  /** Returns `c` unchanged, raising a runtime error (message names the
    * operator and the 2^53 contract) on any row where |c| ≥ 2^53.
    * Embedded in the value expression — not a droppable side column —
    * so Catalyst cannot prune the check away. Nulls pass through (the
    * operators define null-ts behavior separately). */
  private def exactTs(c: Column, op: String): Column =
    when(assert_true(
        c.isNull || abs(c.cast("double")) < DoubleExactBound.toDouble,
        concat(lit(s"graft.Temporal.$op: timestamp "), c.cast("string"),
          lit(s" exceeds the double-exact bound 2^53=$DoubleExactBound" +
            " (use a coarser unit, e.g. µs instead of ns)")))
      .isNull, c)

  sealed trait AsOfDirection
  /** Match the latest right row with `rightTs <= leftTs`. */
  case object Backward extends AsOfDirection
  /** Match the earliest right row with `rightTs >= leftTs`. */
  case object Forward extends AsOfDirection

  /** As-of join: for every left row, attach the payload of the single
    * right row closest in time (per [[AsOfDirection]], inclusive) with
    * equal `keys`. Right payload columns come back as
    * `prefix + name`; the matched right timestamp as `prefix + rightTs`.
    *
    * @param tolerance max |leftTs - rightTs| to accept, in ts units —
    *                  farther matches are dropped (inner) or nulled
    *                  (left outer)
    * @param leftOuter keep unmatched left rows with null payload
    *
    * Ties on `rightTs` within a key are broken by the right row's
    * sort order on the payload struct (first field ascending), so
    * results are deterministic when payloads differ; pre-dedup the
    * right side on (keys, ts) for a fully specified contract.
    *
    * Skew: the keyed window processes one key in one task, so a single
    * pathologically hot key serializes (the TemporalStress `hot`
    * curve measures that axis). For such feeds use [[asofJoinSliced]],
    * which partitions by (key, time-slice) and carries each slice's
    * boundary state through a tiny per-slice aggregate instead.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      rightPayload: Seq[String],
      direction: AsOfDirection = Backward,
      tolerance: Option[Long] = None,
      leftOuter: Boolean = false,
      prefix: String = "r_"): DataFrame = {
    require(keys.nonEmpty, "asofJoin needs at least one equality key")
    require(rightPayload.nonEmpty, "asofJoin needs right payload columns")
    val leftCols = left.columns.toSeq
    // payload struct leads with the right timestamp so tolerance and
    // output both read it back; `last` over the ordered frame picks the
    // time-closest right row
    val rStruct = struct(
      (col(rightTs).as("__rt") +: rightPayload.map(col)): _*)
    val rightPrep = right.select(
      keys.map(col) :+ col(rightTs).as("__t") :+ rStruct.as("__r"): _*)
      .withColumn("__tag", lit(0))
    val leftPrep = left
      .withColumn("__t", col(leftTs))
      .withColumn("__tag", lit(1))
    // right rows order before left at equal __t (tag 0 < 1) in the
    // ascending frame, so "inclusive" holds in both directions
    val unioned = leftPrep.unionByName(rightPrep, allowMissingColumns = true)
    val ord: Seq[Column] = direction match {
      case Backward => Seq(col("__t").asc, col("__tag").asc, col("__r").asc)
      case Forward  => Seq(col("__t").desc, col("__tag").asc, col("__r").desc)
    }
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = unioned
      .withColumn("__last", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
    val withinTol = tolerance match {
      case Some(tol) =>
        matched.withColumn("__last",
          when(abs(exactTs(col("__t"), "asofJoin").cast("double") -
            exactTs(col("__last.__rt"), "asofJoin").cast("double"))
            <= tol.toDouble,
            col("__last")))
      case None => matched
    }
    val base = if (leftOuter) withinTol
      else withinTol.filter(col("__last").isNotNull)
    base.select(
      leftCols.map(col) ++
        (col("__last.__rt").as(prefix + rightTs) +:
          rightPayload.map(p => col("__last").getField(p).as(prefix + p))): _*)
  }

  /** Skew-immune as-of join: identical contract to [[asofJoin]], but
    * partitioned by (keys, time-slice of width `sliceWidth`) so a hot
    * key spreads across ⌈range/width⌉ tasks instead of serializing
    * into one. Carry-in state (the latest right row before each
    * slice) is computed over a per-(key, slice) aggregate — map-side
    * combined, so the extra exchange moves one row per (key, slice),
    * not the data — and injected into each slice as a synthetic right
    * row whose timestamp (strictly below every in-slice timestamp)
    * makes the in-slice running `last` equal the global one.
    *
    * Cost: the full data crosses two exchanges instead of one. Use
    * [[asofJoin]] unless a key can dominate a partition.
    * Forward direction delegates to the backward plan on negated
    * timestamps (forward-inclusive ≡ backward-inclusive on −t), with
    * the right side pre-deduped to the min payload per (keys, ts) so
    * duplicate-timestamp ties resolve exactly like [[asofJoin]] /
    * [[asofJoinBroadcast]] Forward (min payload, not the negated
    * plan's max).
    */
  def asofJoinSliced(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      rightPayload: Seq[String],
      sliceWidth: Long,
      direction: AsOfDirection = Backward,
      tolerance: Option[Long] = None,
      leftOuter: Boolean = false,
      prefix: String = "r_"): DataFrame = {
    require(keys.nonEmpty, "asofJoinSliced needs at least one equality key")
    require(rightPayload.nonEmpty, "asofJoinSliced needs payload columns")
    require(sliceWidth > 0, "sliceWidth must be positive")
    direction match {
      case Forward =>
        // Forward delegates to Backward on negated timestamps — but
        // payloads are NOT negated, so at duplicate (keys, rightTs)
        // right rows the Backward tie-break (lexicographic MAX payload)
        // would diverge from the windowed/broadcast Forward contract
        // (MIN payload, ADVICE r07). Pre-deduping the right side to the
        // min payload struct per (keys, ts) removes the ties before
        // delegation; the aggregate is map-side combined, one extra
        // right-side exchange only when ties can exist.
        val pStruct = struct(rightPayload.map(col): _*)
        val rightDedup = right
          .groupBy((keys :+ rightTs).map(col): _*)
          .agg(min(pStruct).as("__p"))
          .select(keys.map(col) ++ (col(rightTs) +:
            rightPayload.map(p => col("__p").getField(p).as(p))): _*)
        val out = asofJoinSliced(
          left.withColumn(leftTs, -col(leftTs)),
          rightDedup.withColumn(rightTs, -col(rightTs)),
          keys, leftTs, rightTs, rightPayload, sliceWidth,
          Backward, tolerance, leftOuter, prefix)
        out.withColumn(leftTs, -col(leftTs))
          .withColumn(prefix + rightTs, -col(prefix + rightTs))
      case Backward =>
        val leftCols = left.columns.toSeq
        // floor division: pmod (≥ 0) makes the numerator an exact
        // multiple of the width, so the double quotient is exact for
        // any double-representable timestamp (module contract)
        def sliceOf(c: Column): Column = {
          val g = exactTs(c, "asofJoinSliced")
          ((g - pmod(g, lit(sliceWidth))) / sliceWidth).cast("long")
        }
        val rStruct = struct(
          (col(rightTs).as("__rt") +: rightPayload.map(col)): _*)
        val rightPrep = right.select(
          keys.map(col) :+ col(rightTs).as("__t") :+ rStruct.as("__r"): _*)
          .withColumn("__slice", sliceOf(col("__t")))
          .withColumn("__tag", lit(0))
        val leftPrep = left
          .withColumn("__t", col(leftTs))
          .withColumn("__slice", sliceOf(col("__t")))
          .withColumn("__tag", lit(1))
        // latest right row per (key, slice) — map-side combined
        val perSlice = rightPrep
          .groupBy((keys :+ "__slice").map(col): _*)
          .agg(max_by(col("__r"), struct(col("__t"), col("__r")))
            .as("__sliceLast"))
        // spine = every (key, slice) either side touches; carry-in =
        // latest right row over STRICTLY earlier slices. Window input
        // is one row per (key, slice) — tiny even for a hot key.
        val leftSlices = leftPrep
          .select((keys :+ "__slice").map(col): _*).distinct()
          .withColumn("__hasLeft", lit(true))
        val spine = leftSlices.join(perSlice, keys :+ "__slice", "full_outer")
        val wS = Window.partitionBy(keys.map(col): _*)
          .orderBy(col("__slice").asc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val carries = spine
          .withColumn("__carry",
            last(col("__sliceLast"), ignoreNulls = true).over(wS))
          .filter(col("__carry").isNotNull && col("__hasLeft"))
          .select(keys.map(col) :+ col("__slice") :+
            col("__carry").as("__r"): _*)
          // the carried row's true timestamp lies in an earlier slice,
          // so it sorts before every in-slice row — global `last` ≡
          // in-slice `last` with the carry seeded first
          .withColumn("__t", col("__r").getField("__rt"))
          .withColumn("__tag", lit(0))
        val unioned = leftPrep
          .unionByName(rightPrep, allowMissingColumns = true)
          .unionByName(carries, allowMissingColumns = true)
        val w = Window.partitionBy((keys :+ "__slice").map(col): _*)
          .orderBy(col("__t").asc, col("__tag").asc, col("__r").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val matched = unioned
          .withColumn("__last", last(col("__r"), ignoreNulls = true).over(w))
          .filter(col("__tag") === 1)
        val withinTol = tolerance match {
          case Some(tol) =>
            matched.withColumn("__last",
              when(abs(exactTs(col("__t"), "asofJoinSliced").cast("double") -
                exactTs(col("__last.__rt"), "asofJoinSliced").cast("double"))
                <= tol.toDouble,
                col("__last")))
          case None => matched
        }
        val base = if (leftOuter) withinTol
          else withinTol.filter(col("__last").isNotNull)
        base.select(
          leftCols.map(col) ++
            (col("__last.__rt").as(prefix + rightTs) +:
              rightPayload.map(p =>
                col("__last").getField(p).as(prefix + p))): _*)
    }
  }

  /** Broadcast as-of join: identical contract to [[asofJoin]], for the
    * small-right-side case (calibration tables, sensor state feeds —
    * dimensions, not events). The right side is grouped per key into a
    * sorted struct array and BROADCAST, so the left side crosses ZERO
    * exchanges: the probe is a map-only BroadcastHashJoin plus a
    * higher-order `filter` + `array_max`/`array_min` pick — the plan
    * you want when the left side is the 100 TB fact stream. Per-left-
    * row cost is O(|right rows for the key|); keep the right side
    * dimension-sized (it must fit in a broadcast either way).
    *
    * Tie-break matches [[asofJoin]]: lexicographic on
    * (rightTs, payload...) — max for Backward, min for Forward.
    */
  def asofJoinBroadcast(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      rightPayload: Seq[String],
      direction: AsOfDirection = Backward,
      tolerance: Option[Long] = None,
      leftOuter: Boolean = false,
      prefix: String = "r_"): DataFrame = {
    require(keys.nonEmpty, "asofJoinBroadcast needs an equality key")
    require(rightPayload.nonEmpty, "asofJoinBroadcast needs payload columns")
    val leftCols = left.columns.toSeq
    val rStruct = struct(
      (col(rightTs).as("__rt") +: rightPayload.map(col)): _*)
    val grouped = right
      .groupBy(keys.map(col): _*)
      .agg(collect_list(rStruct).as("__arr"))
    val joined = left.join(broadcast(grouped), keys,
      if (leftOuter) "left" else "inner")
    val cand = direction match {
      case Backward =>
        filter(col("__arr"), x => x.getField("__rt") <= col(leftTs))
      case Forward =>
        filter(col("__arr"), x => x.getField("__rt") >= col(leftTs))
    }
    val pick = direction match {
      case Backward => array_max(cand)
      case Forward  => array_min(cand)
    }
    val matched = joined.withColumn("__last", pick)
    val withinTol = tolerance match {
      case Some(tol) =>
        matched.withColumn("__last",
          when(abs(exactTs(col(leftTs), "asofJoinBroadcast").cast("double") -
            exactTs(col("__last.__rt"), "asofJoinBroadcast").cast("double"))
            <= tol.toDouble,
            col("__last")))
      case None => matched
    }
    val base = if (leftOuter) withinTol
      else withinTol.filter(col("__last").isNotNull)
    base.select(
      leftCols.map(col) ++
        (col("__last.__rt").as(prefix + rightTs) +:
          rightPayload.map(p =>
            col("__last").getField(p).as(prefix + p))): _*)
  }

  /** Interval (range) join: rows whose `rowTs` falls in `[lo, hi)` of
    * an interval, with optional extra equality `keys`. Both sides are
    * gridded onto `bucketWidth`-sized buckets so the join is an
    * equi-join on (keys, bucket); each interval expands to
    * `⌈length / bucketWidth⌉ + 1` rows — choose the width near the
    * typical interval length to bound the blow-up. A row lands in
    * exactly one bucket, so no post-join dedup is needed.
    *
    * All of `rowTs`, `lo`, `hi` are numeric in the same units. Output =
    * all row columns + all interval columns (caller keeps names
    * disjoint apart from `keys`).
    */
  def intervalJoin(
      rows: DataFrame,
      rowTs: String,
      intervals: DataFrame,
      lo: String,
      hi: String,
      bucketWidth: Long,
      keys: Seq[String] = Nil): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val rPrep = rows.withColumn("__bucket",
      floor(exactTs(col(rowTs), "intervalJoin").cast("double") /
        bucketWidth).cast("long"))
    // degenerate intervals (hi <= lo, i.e. empty [lo, hi)) are dropped
    // up front: `sequence` would grid them DESCENDING (wasted explode
    // work for candidates the exact predicate then prunes)
    val iPrep = intervals
      .filter(col(lo) < col(hi))
      .withColumn("__bucket",
        explode(sequence(
          floor(exactTs(col(lo), "intervalJoin").cast("double") /
            bucketWidth).cast("long"),
          floor(exactTs(col(hi), "intervalJoin").cast("double") /
            bucketWidth).cast("long"))))
    rPrep.join(iPrep, keys :+ "__bucket")
      .filter(col(rowTs) >= col(lo) && col(rowTs) < col(hi))
      .drop("__bucket")
  }

  /** LOCF resampling: lay a regular time grid over each key's observed
    * span and carry the last observation forward onto every grid point
    * (pandas `resample().ffill()`; TimescaleDB `time_bucket_gapfill` +
    * `locf`). Grid points are the multiples of `step` inside
    * `[min(ts), max(ts)]` per key — the first grid point is the
    * smallest multiple ≥ the key's first observation, so every point
    * has a backward match and the output carries no nulls. Keys whose
    * span contains no multiple of `step` produce no rows.
    *
    * Output: `keys ++ (ts at grid points) ++ prefix+valueCols` (the
    * carried values) + `prefix+ts` (the matched observation time).
    * Built as bounds-aggregate → `sequence` explode → [[asofJoin]], so
    * the cost is one small per-key aggregate plus the single-exchange
    * as-of; per-key expansion is span/step rows — pick `step`
    * accordingly. Observation-time ties resolve like [[asofJoin]]
    * (lexicographic max payload); pre-dedup for a fixed contract.
    */
  def resampleLocf(
      df: DataFrame,
      keys: Seq[String],
      ts: String,
      valueCols: Seq[String],
      step: Long,
      prefix: String = "r_"): DataFrame = {
    require(keys.nonEmpty, "resampleLocf needs at least one key")
    require(step > 0, "step must be positive")
    require(valueCols.nonEmpty, "resampleLocf needs value columns")
    val bounds = df.groupBy(keys.map(col): _*)
      .agg(min(col(ts)).as("__lo"), max(col(ts)).as("__hi"))
    // smallest multiple of step ≥ lo; largest multiple ≤ hi (exact
    // integer arithmetic via pmod — no double floor)
    val gStart = col("__lo") + pmod(lit(step) - pmod(col("__lo"), lit(step)),
      lit(step))
    val gEnd = col("__hi") - pmod(col("__hi"), lit(step))
    val grid = bounds
      .filter(gStart <= gEnd)
      .select(keys.map(col) :+
        explode(sequence(gStart, gEnd, lit(step))).as(ts): _*)
    asofJoin(grid, df.select((keys :+ ts).map(col) ++ valueCols.map(col): _*),
      keys, ts, ts, valueCols, Backward, prefix = prefix)
  }

  /** One trailing-window aggregate for [[rollingBlockAgg]]: `agg` is
    * the aggregate expression evaluated over the in-block prefix and
    * suffix frames; `combine(inBlock, crossBlock)` merges the row's
    * in-block prefix with the (nullable — no predecessor rows)
    * cross-block contribution; `out` names the output column. */
  private case class BlockAgg(
      agg: Column,
      combine: (Column, Column) => Column,
      out: String)

  /** Shared block-decomposition core for linear trailing-window
    * aggregates (the relational form of the two-stack sliding-window
    * queue — works for ANY associative aggregate). Rows land in
    * `window`-wide blocks, so `[ts - window, ts]` spans at most the
    * current block and its predecessor:
    *
    *   1. per (key, block): prefix and suffix aggregates (EXPANDING
    *      range frames — incremental in Spark, linear, never the
    *      sliding frame's O(rows × frame) re-aggregation);
    *   2. the in-block part of the window is the row's own prefix;
    *   3. the cross-block part `[ts - window, block start)` is the
    *      suffix aggregate at the first predecessor-block row at or
    *      after `ts - window` — a Forward [[asofJoin]] into the
    *      (key, block, ts)-deduped suffix table.
    *
    * Partitioning by (key, BLOCK) — not key alone — makes every
    * rolling aggregate SKEW-RESISTANT: a hot key spreads over its
    * time blocks instead of serializing one task (measured 64×-hot
    * 5.5 s vs 40 s for the per-key prefix formulation, SCALE.md r08).
    * Three linear passes, two exchanges. Integer timestamps required.
    *
    * Plan shape note: the probe and the suffix table are two consumers
    * of the same windowed intermediate, and Spark shares subplans only
    * at exchanges — so the INPUT IS SCANNED TWICE (column-pruned to
    * keys+ts+value; the window lookup "value at ts − window" is an
    * as-of self-join by nature, not expressible as one window pass).
    * Fine when the input is a pruned columnar scan; `.cache()` the
    * input first if it is an expensive derived frame.
    */
  private def rollingBlockAgg(
      df: DataFrame,
      keys: Seq[String],
      ts: String,
      window: Long,
      specs: Seq[BlockAgg],
      op: String): DataFrame = {
    require(keys.nonEmpty, s"$op needs at least one key")
    require(window > 0, "window must be positive")
    // floor division via pmod: exact for any double-exact timestamp
    def blockOf(c: Column): Column = {
      val g = exactTs(c, op)
      ((g - pmod(g, lit(window))) / window).cast("long")
    }
    val withBlk = df.withColumn("__blk", blockOf(col(ts)))
    val pk = (keys :+ "__blk").map(col)
    // RANGE (not ROWS) frames so equal-ts peers share one value — the
    // suffix table then collapses to one row per (key, block, ts)
    val wPfx = Window.partitionBy(pk: _*).orderBy(col(ts).asc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val wSfx = Window.partitionBy(pk: _*).orderBy(col(ts).desc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val enriched = specs.zipWithIndex.foldLeft(withBlk) {
      case (d, (s, i)) =>
        d.withColumn(s"__p$i", s.agg.over(wPfx))
          .withColumn(s"__s$i", s.agg.over(wSfx))
    }
    val sfxAggs = specs.indices.map(i => max(col(s"__s$i")).as(s"__c$i"))
    val sfx = enriched.groupBy((pk :+ col(ts)): _*)
      .agg(sfxAggs.head, sfxAggs.tail: _*)
    // probe the PREDECESSOR block at ts - window: overwrite __blk so
    // the as-of equality key lands each row in partition (key, blk-1)
    val probed = asofJoin(
      enriched
        .withColumn("__blk", col("__blk") - 1)
        .withColumn("__target", col(ts) - window),
      sfx, keys :+ "__blk",
      leftTs = "__target", rightTs = ts,
      rightPayload = specs.indices.map(i => s"__c$i"),
      direction = Forward, leftOuter = true, prefix = "__x_")
    val out = specs.zipWithIndex.foldLeft(probed) { case (d, (s, i)) =>
      d.withColumn(s.out, s.combine(col(s"__p$i"), col(s"__x___c$i")))
    }
    out.drop(Seq("__blk", "__target", s"__x_$ts") ++
      specs.indices.flatMap(i => Seq(s"__p$i", s"__s$i", s"__x___c$i")): _*)
  }

  /** Linear trailing-window sum/count: for every row, the sum and
    * count of `valueCol` over `[ts - window, ts]` (peer-inclusive,
    * RANGE semantics) per key.
    *
    * Why not `rangeBetween(-window, 0)` directly: Spark's sliding
    * window frame has NO aggregate retraction — every time the lower
    * bound moves it re-aggregates the rows still in frame, so a key's
    * cost is O(rows × rows-per-frame) in ONE task. Measured on a
    * 1.3M-row hot key with ~4.6k-row frames: the RANGE-frame plan ran
    * 25+ minutes single-threaded before being killed (TemporalStress
    * hot axis). This runs on [[rollingBlockAgg]] — formerly a per-key
    * prefix-difference (whose expanding frame still serialized a hot
    * key at 40 s/6.4M, the r07 structural residual); the block form
    * spreads hot keys across time blocks (r08, 7× on that axis).
    *
    * Adds `sumCol` and `cntCol` to the input columns. Use the plain
    * RANGE frame for small per-key row counts; use this once keys can
    * hold thousands of in-frame rows.
    */
  def rollingSumLinear(
      df: DataFrame,
      keys: Seq[String],
      ts: String,
      valueCol: String,
      window: Long,
      sumCol: String = "rolling_sum",
      cntCol: String = "rolling_cnt"): DataFrame = {
    require(keys.nonEmpty, "rollingSumLinear needs at least one key")
    require(window >= 0, "window must be non-negative")
    if (window == 0) {
      // peers only: disjoint frames, one linear pass, no retraction
      val w0 = Window.partitionBy(keys.map(col): _*)
        .orderBy(col(ts).asc).rangeBetween(0, 0)
      df.withColumn(sumCol, sum(col(valueCol)).over(w0))
        .withColumn(cntCol, count(lit(1)).over(w0))
    } else rollingBlockAgg(df, keys, ts, window, Seq(
      // null-skipping add: either side may be null (all-null values in
      // that part); both null → null, matching RANGE-frame sum
      BlockAgg(sum(col(valueCol)),
        (p, x) => coalesce(p + x, p, x), sumCol),
      BlockAgg(count(lit(1)),
        (p, x) => p + coalesce(x, lit(0L)), cntCol)),
      "rollingSumLinear")
  }

  /** Gap sessionization: assign each row a per-key `session_id`
    * (1-based, in time order) that increments whenever the gap from the
    * previous row exceeds `gap` (same units as the numeric `ts`).
    * Rows with equal (keys, ts) always share a session, whatever their
    * sort order, so downstream per-session aggregates are
    * deterministic. One exchange + sort on `keys`.
    */
  def sessionize(
      df: DataFrame,
      keys: Seq[String],
      ts: String,
      gap: Long,
      sessionCol: String = "session_id"): DataFrame = {
    require(keys.nonEmpty, "sessionize needs at least one key")
    require(gap >= 0, "gap must be non-negative")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(ts).asc)
    val newSession = when(
      exactTs(col(ts), "sessionize").cast("double") -
        lag(col(ts), 1).over(w).cast("double") > gap.toDouble, 1L)
      .otherwise(when(lag(col(ts), 1).over(w).isNull, 1L).otherwise(0L))
    df.withColumn("__ns", newSession)
      .withColumn(sessionCol,
        sum(col("__ns")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__ns")
  }

  /** Linear trailing-window min/max: for every row, the min and max of
    * `valueCol` over `[ts - window, ts]` (peer-inclusive, RANGE
    * semantics) per key — the non-subtractable companion to
    * [[rollingSumLinear]] (VERDICT r07 §2: min/max can't use a
    * prefix-difference trick, and the sliding RANGE frame re-aggregates
    * the whole frame on every lower-bound move — the measured 25+ min
    * retraction hazard on a hot key). Runs on [[rollingBlockAgg]];
    * adds `minCol` and `maxCol` to the input columns.
    */
  def rollingMinMaxLinear(
      df: DataFrame,
      keys: Seq[String],
      ts: String,
      valueCol: String,
      window: Long,
      minCol: String = "rolling_min",
      maxCol: String = "rolling_max"): DataFrame =
    rollingBlockAgg(df, keys, ts, window, Seq(
      // least/greatest skip nulls (cross part absent or all-null)
      BlockAgg(min(col(valueCol)), (p, x) => least(p, x), minCol),
      BlockAgg(max(col(valueCol)), (p, x) => greatest(p, x), maxCol)),
      "rollingMinMaxLinear")

  /** Aggregating interval join: [[intervalJoin]] followed by a
    * count/sum per interval, with the aggregation PUSHED INTO the
    * bucket grid so interior buckets never materialize row-level
    * candidates (VERDICT r07 §3: the hot-axis intervalJoin cost is
    * pure match cardinality — ~700 matches/row at 64× — which is
    * output cost only when the caller wants the pairs; an aggregating
    * consumer shouldn't pay it).
    *
    * A gridded bucket is INTERIOR when `[b·W, (b+1)·W) ⊆ [lo, hi)` —
    * every row in it matches, so the interval takes the bucket's
    * pre-aggregated (count, sums) in O(1) instead of O(rows-in-bucket).
    * Only the ≤ 2 boundary buckets per interval join row-level with the
    * exact predicate. Per-interval cost falls from O(matches) to
    * O(length/W + boundary-bucket rows); bucket width trades the two
    * terms. Measured guidance (SCALE.md r08 sweep,
    * `tools/IntervalAggSweep`): W ≈ interval length / 5-10 — finer and
    * the interior grid outgrows the saved boundary work, coarser and
    * the containment test stops firing (an interval spanning ≤ 3
    * buckets has almost no interior ones), degrading toward the
    * pair-materializing [[intervalJoin]]. For wildly varying lengths
    * grid by the MEDIAN length; longer intervals just gain more
    * interior (cheap) buckets.
    *
    * Output: one row per matched interval (inner semantics — empty
    * intervals are absent, like an inner [[intervalJoin]] + groupBy):
    * all interval columns, `cntCol` (long), and `sumPrefix + v` for
    * each value column. Intervals rows must be DISTINCT (they are the
    * group identity) and column names disjoint from `rows` apart from
    * `keys`. Sum types follow Spark's `sum` of the value column type.
    */
  def intervalJoinAgg(
      rows: DataFrame,
      rowTs: String,
      valueCols: Seq[String],
      intervals: DataFrame,
      lo: String,
      hi: String,
      bucketWidth: Long,
      keys: Seq[String] = Nil,
      cntCol: String = "n",
      sumPrefix: String = "sum_"): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val iCols = intervals.columns.toSeq
    def bucketOf(c: Column): Column =
      floor(exactTs(c, "intervalJoinAgg").cast("double") / bucketWidth)
        .cast("long")
    val rPrep = rows.withColumn("__bucket", bucketOf(col(rowTs)))
    val bucketAgg = rPrep
      .groupBy((keys :+ "__bucket").map(col): _*)
      .agg(count(lit(1)).as("__n"),
        valueCols.map(v => sum(col(v)).as("__s_" + v)): _*)
    val aggSchema = bucketAgg.schema
    val iPrep = intervals
      .filter(col(lo) < col(hi))
      .withColumn("__bucket",
        explode(sequence(bucketOf(col(lo)), bucketOf(col(hi)))))
    val bStart = col("__bucket") * bucketWidth // long × long: exact
    val interior = bStart >= col(lo) && (bStart + bucketWidth) <= col(hi)
    // interior: one pre-aggregated row per (interval, bucket)
    val interiorContrib = iPrep.filter(interior)
      .join(bucketAgg, keys :+ "__bucket")
      .select(iCols.map(col) ++
        (col("__n") +: valueCols.map(v => col("__s_" + v))): _*)
    // boundary: row-level with the exact predicate, cast to the
    // partial-aggregate types so the union lines up
    val boundaryContrib = iPrep.filter(!interior)
      .join(rPrep, keys :+ "__bucket")
      .filter(col(rowTs) >= col(lo) && col(rowTs) < col(hi))
      .select(iCols.map(col) ++
        (lit(1L).as("__n") +: valueCols.map(v =>
          col(v).cast(aggSchema("__s_" + v).dataType).as("__s_" + v))): _*)
    interiorContrib.unionByName(boundaryContrib)
      .groupBy(iCols.map(col): _*)
      .agg(sum(col("__n")).as(cntCol),
        valueCols.map(v => sum(col("__s_" + v)).as(sumPrefix + v)): _*)
  }

  /** Estimated row count of the HOTTEST single (keys) group across both
    * as-of sides — the quantity that decides [[asofJoin]] (one key =
    * one window task) vs [[asofJoinSliced]] (hot key spread over
    * slices). LIMIT-bounded samples of each side give per-key shares;
    * shares scale by that side's full count (a column-pruned,
    * metadata-cheap pass); the hottest combined |L_k|+|R_k| estimate is
    * returned. Like [[Skew.saltSpreadDiagnostics]], `limit()` sampling
    * is cheap on scan-shaped inputs and positionally biased — a hot key
    * absent from the sampled prefix is missed, so treat the estimate as
    * a lower bound.
    */
  def estimateAsofHotKey(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      sampleRows: Int = 100000): Double = {
    def est(df: DataFrame): Map[Seq[Any], Double] = {
      val total = df.count().toDouble
      if (total == 0) Map.empty
      else {
        val top = df.select(keys.map(col): _*).limit(sampleRows)
          .groupBy(keys.map(col): _*).agg(count(lit(1)).as("__c"))
          .orderBy(desc("__c")).head(16)
        val sampledN = math.min(total, sampleRows.toDouble)
        top.iterator.map { r =>
          (keys.indices.map(r.get).toSeq,
            r.getLong(keys.size) / sampledN * total)
        }.toMap
      }
    }
    val l = est(left)
    val r = est(right)
    val hot = (l.keySet ++ r.keySet)
      .map(k => l.getOrElse(k, 0.0) + r.getOrElse(k, 0.0))
    if (hot.isEmpty) 0.0 else hot.max
  }

  /** As-of join with automatic strategy selection (VERDICT r07 §4: the
    * windowed/sliced crossover — measured ≈1M rows/key at local[32] —
    * shouldn't require the caller to know their skew). Runs the
    * [[estimateAsofHotKey]] probe at plan-construction time (eager,
    * bounded — two sampled aggregates and two column-pruned counts),
    * routes to [[asofJoinSliced]] when the hottest key's estimated
    * combined rows exceed `hotKeyThreshold`, and logs the decision.
    * Callers with known skew should call the chosen strategy directly
    * and skip the probe cost.
    */
  def asofJoinAuto(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      rightPayload: Seq[String],
      sliceWidth: Long,
      direction: AsOfDirection = Backward,
      tolerance: Option[Long] = None,
      leftOuter: Boolean = false,
      prefix: String = "r_",
      hotKeyThreshold: Long = 1000000L,
      sampleRows: Int = 100000): DataFrame = {
    val estHot = estimateAsofHotKey(left, right, keys, sampleRows)
    val useSliced = estHot > hotKeyThreshold
    log.info(s"asofJoinAuto: est hottest key ≈ ${estHot.toLong} rows, " +
      s"threshold $hotKeyThreshold → " +
      (if (useSliced) "asofJoinSliced (skew-immune, two exchanges)"
       else "asofJoin (windowed, one exchange)"))
    if (useSliced)
      asofJoinSliced(left, right, keys, leftTs, rightTs, rightPayload,
        sliceWidth, direction, tolerance, leftOuter, prefix)
    else
      asofJoin(left, right, keys, leftTs, rightTs, rightPayload,
        direction, tolerance, leftOuter, prefix)
  }

  /** One row of [[funnel]] output. */
  final case class FunnelRow(
      user_id: Long,
      stages: Long,
      t_first: Option[Long],
      t_last: Option[Long],
      completed: Boolean)

  /** One row of [[funnelTimes]] output: `stage_ts(i)` is the matched
    * timestamp of step i (length = stages reached). */
  final case class FunnelTimesRow(
      user_id: Long,
      stages: Long,
      stage_ts: Seq[Long])

  /** Funnel analysis: per user, the earliest ordered completion of
    * `steps` within `withinUs` of the first step — the standard
    * event-analytics "signup → activate → purchase" question.
    *
    * Semantics (the nested-min contract, mirrorable in ANSI SQL):
    * t₁ = min ts of steps(0); tₛ = min ts of steps(s) with
    * tₛ > tₛ₋₁ and tₛ ≤ t₁ + withinUs. `stages` = how far the chain
    * got; `completed` = all steps matched. A user appears iff they
    * have ≥ 1 event whose step is IN the funnel (irrelevant steps are
    * pruned at the scan — at 100 TB the funnel events are a sliver of
    * the feed and the filter pushes into the parquet scan). Repeated
    * steps, ties: tₛ is STRICTLY after tₛ₋₁, so an event can never
    * satisfy two stages; equal-ts events process in (ts, step) order
    * but cannot change the nested-min result.
    *
    * Shape: prune → ONE hash exchange on user → sort within partitions
    * by (user, ts, step) → each user's sorted group folds through the
    * automaton with O(1) state (stage index + two timestamps). No per-user
    * event list is ever materialized, so a hot user costs one linear
    * pass — the same skew posture as [[asofJoin]], without even a
    * window frame. Null timestamps are dropped.
    */
  def funnel(
      df: DataFrame,
      userCol: String,
      tsCol: Column,
      stepCol: String,
      steps: Seq[String],
      withinUs: Long): DataFrame =
    funnelTimes(df, userCol, tsCol, stepCol, steps, withinUs)
      .select(col("user_id"), col("stages"),
        when(col("stages") > 0, element_at(col("stage_ts"), 1))
          .as("t_first"),
        when(col("stages") > 0,
          element_at(col("stage_ts"), col("stages").cast("int")))
          .as("t_last"),
        (col("stages") === lit(steps.length.toLong)).as("completed"))

  /** [[funnel]] with the full per-stage timestamp vector: (user_id,
    * stages, stage_ts) where `stage_ts(i)` is the matched time of step
    * i (length = stages). An ordered per-user scan on Spark's
    * sorted-group operator (`flatMapSortedGroups`): one hash exchange
    * of the pruned rows on the user plus a partition-local sort on
    * (user, ts, step), then each user's sorted group folds through
    * [[FunnelRule]] with O(1) state (stage index plus the ≤ k-long
    * stage array) — the input to per-step drop-off / time-to-convert
    * reporting ([[funnelDropoff]]). */
  def funnelTimes(
      df: DataFrame,
      userCol: String,
      tsCol: Column,
      stepCol: String,
      steps: Seq[String],
      withinUs: Long): DataFrame = {
    val rule = FunnelRule(steps, withinUs)
    val spark = df.sparkSession
    import spark.implicits._
    df.filter(col(stepCol).isin(steps: _*) && tsCol.isNotNull &&
        col(userCol).isNotNull)
      .select(col(userCol).cast("long").as("u"),
        tsCol.cast("long").as("t"), col(stepCol).as("s"))
      .groupBy(col("u")).as[Long, (Long, Long, String)]
      .flatMapSortedGroups(col("t"), col("s")) { (u, evs) =>
        val ts = new Array[Long](steps.length)
        var stage = 0
        evs.foreach { case (_, t, s) =>
          if (rule.accepts(stage, ts(0), if (stage > 0) ts(stage - 1) else 0L,
              s, t)) {
            ts(stage) = t
            stage += 1
          }
        }
        Iterator.single(FunnelTimesRow(u, stage, ts.take(stage).toSeq))
      }
      .toDF("user_id", "stages", "stage_ts")
  }

  /** The funnel's accept rule, shared by [[funnelTimes]] and
    * `StreamingFunnel.funnelStream`: an event of `step` at `t` advances
    * a user at `stage` (stage 0 first matched at `tFirst`, the previous
    * stage at `tPrev`) iff it is the expected step, strictly after the
    * previous stage and within `withinUs` of the first. */
  private[graft] final case class FunnelRule(
      steps: Seq[String], withinUs: Long) {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size, "funnel steps must be unique")
    require(withinUs > 0, "withinUs must be positive")
    private val stepArr = steps.toArray

    def accepts(stage: Int, tFirst: Long, tPrev: Long, step: String,
        t: Long): Boolean =
      stage < stepArr.length && step == stepArr(stage) &&
        (stage == 0 || (t > tPrev && t - tFirst <= withinUs))
  }

  /** Per-step funnel drop-off table — the reporting twin of the cohort
    * rollup: for each stage s (1-based, named by its step),
    * `n_entered` = users who reached stage s, `n_converted` = users
    * who went on to stage s+1, `conversion_rate` = their ratio, and
    * `median_us_to_next` = exact median (numpy-style interpolation,
    * the A4 percentile contract) of the time from the stage-s match to
    * the stage-(s+1) match over converters. The final stage reports
    * 0 converted / null timing.
    *
    * Shape: [[funnelTimes]] (one bounded row per funnel user) → a ≤
    * k-way explode of reached stages → one aggregation to k rows. The
    * exact median shuffles the per-stage dt multiset (one value per
    * converting user); at extreme scale swap in the GK-guarded
    * estimation path the T2/T3 thresholds use
    * ([[graft.stats.Quantiles.defaultMaxExactRows]]). */
  def funnelDropoff(
      df: DataFrame,
      userCol: String,
      tsCol: Column,
      stepCol: String,
      steps: Seq[String],
      withinUs: Long): DataFrame = {
    val k = steps.length
    val ft = funnelTimes(df, userCol, tsCol, stepCol, steps, withinUs)
    ft.filter(col("stages") >= 1)
      .select(col("stages"), col("stage_ts"),
        explode(sequence(lit(1L), col("stages"))).as("stage"))
      .select(col("stage"),
        (col("stages") > col("stage")).as("conv"),
        when(col("stages") > col("stage"),
          element_at(col("stage_ts"), (col("stage") + 1).cast("int")) -
            element_at(col("stage_ts"), col("stage").cast("int")))
          .as("dt_next"))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_entered"),
        sum(when(col("conv"), 1L).otherwise(0L)).as("n_converted"),
        percentile(col("dt_next"), lit(0.5)).as("median_us_to_next"))
      .select(col("stage"),
        element_at(typedlit(steps), col("stage").cast("int")).as("step"),
        col("n_entered"), col("n_converted"),
        (col("n_converted").cast("double") / col("n_entered"))
          .as("conversion_rate"),
        col("median_us_to_next"))
      .orderBy("stage")
  }
}
