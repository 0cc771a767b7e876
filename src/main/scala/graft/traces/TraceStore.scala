package graft.traces

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Raw-trace store and retrieval (SURVEY §1.2, §2.1 S5-S7, J2, W4-W5).
  *
  * The reference fetches waveforms from raw HDF5 by composite key
  * (`H5Reader.read_many_events`, `analyzer.py:1030-1046`); our store is a
  * Parquet table `traces(series_number, event_number, dump_number,
  * group_name, trigger_index, channel, trace, sample_rate,
  * pretrigger_samples)` sorted by `(series_number, dump_number,
  * event_number)` so key fetches hit contiguous row groups.
  *
  * Scale shapes: the selected-key side is always capped (≤5000,
  * `analyzer.py:953,1016`) so every fetch broadcasts keys and never
  * shuffles the traces table; only [[rechunk]] does, once, by channel.
  */
object TraceStore {

  /** S5/J2: batch fetch — broadcast inner equi-join of capped selected
    * keys against the traces table, with optional channel pruning and
    * re-windowing (`get_traces`, `analyzer.py:1006-1047`).
    *
    * NOTE: eager — the capped key selection runs as a Spark job at call
    * time (its values are pushed into the trace scan as pruning
    * predicates), not when the returned plan first executes. */
  def fetch(
      traces: DataFrame,
      selectedKeys: DataFrame,
      channels: Seq[String] = Nil,
      nbEventsLimit: Int = 1000,
      window: Option[(Int, Int)] = None, // (startSample, length)
      baselineSub: Boolean = false,
      baselineInds: (Int, Int) = (5, 100)): DataFrame = {
    val keys = selectedKeys
      .select("series_number", "event_number")
      // null keys can never match the inner equi-join — drop them up
      // front so the collected key list is null-free
      .filter(col("series_number").isNotNull && col("event_number").isNotNull)
      .distinct()
      .limit(nbEventsLimit) // L2 cap
    // The capped key set is driver-sized by construction (≤ nbEventsLimit
    // pairs of numbers): collect it ONCE, then (a) push scan-prunable
    // predicates — series IN-list + event-number range — into the
    // parquet scan, so a store sorted by (series, dump, event) reads
    // only matching row groups instead of the whole trace table (at
    // 100 TB: a few files vs the full store); (b) broadcast the exact
    // key set from the local relation, so the possibly-expensive
    // selection plan is not executed a second time by the join.
    val spark = traces.sparkSession
    val keyRows = keys.collect()
    val keysLocal = spark.createDataFrame(
      java.util.Arrays.asList(keyRows: _*), keys.schema)
    val chanPruned =
      if (channels.isEmpty) traces
      else traces.filter(col("channel").isin(channels: _*))
    val scanPruned =
      if (keyRows.isEmpty) chanPruned.filter(lit(false))
      else {
        val series = keyRows.map(_.get(0)).distinct.toSeq
        val evs = keyRows.map(_.getAs[Number](1).longValue)
        // push the EXACT event IN-list, not just the [min,max] range:
        // the selected events of an analysis cut are scattered across
        // the store, so the range alone covers nearly the whole table
        // and every covered row materializes its (wide) trace column
        // before the join drops it. The IN-list is bounded by
        // nbEventsLimit (≤ driver-sized by construction) and reaches the
        // parquet scan as a pushed filter — row-group stats + dictionary
        // pages prune to just the matching rows, so trace bytes are read
        // ONLY for (almost exactly) the fetched events. Keep the range
        // predicate too: on the (dump, event)-sorted store it is the
        // cheap row-group-level bound (VERDICT r05 §5: s5 anatomy).
        chanPruned
          .filter(col("series_number").isInCollection(series))
          .filter(col("event_number").between(evs.min, evs.max))
          .filter(col("event_number").isInCollection(evs.distinct.toSeq))
      }
    val joined = scanPruned.join(broadcast(keysLocal),
      Seq("series_number", "event_number"))
    val windowed = window match {
      case Some((start, len)) =>
        joined.withColumn("trace", slice(col("trace"), start + 1, len))
      case None => joined
    }
    if (baselineSub)
      windowed.withColumn("trace",
        Dsp.baselineSubtract(col("trace"), baselineInds._1, baselineInds._2))
    else windowed
  }

  /** S6: single-event point lookup by (series, dump, event) — the
    * ScatterPlotter path (`scatterplotter.py:112-202`); composite key
    * `dump_number*100000 + event_number` (`semiautocuts.py:58`). */
  def fetchOne(
      traces: DataFrame,
      seriesNumber: Long,
      dumpNumber: Long,
      eventNumber: Long): DataFrame =
    traces.filter(
      col("series_number") === seriesNumber &&
        col("dump_number") === dumpNumber &&
        col("event_number") === eventNumber)

  /** F11 stride on an ordered trace stream
    * (`vibration_analyzer.py:396-401`). */
  def stride(traces: DataFrame, n: Int, indexCol: String = "event_index")
      : DataFrame =
    traces.filter(col(indexCol) % n === 0)

  /** W4: re-chunk an ordered stream of variable-length traces into
    * fixed-length windows with the remainder discarded
    * (`vibration_analyzer.py:406-437`).
    *
    * An ordered per-channel scan on Spark's sorted-group operator
    * (`flatMapSortedGroups`): one hash exchange of the un-exploded
    * trace ROWS on the channel plus a partition-local sort on
    * (channel, index), then each channel's run streams through one
    * [[Chop]] — O(chunkLen) state per channel, so a hot channel costs
    * one linear pass. A null trace adds no samples and null channels
    * form one channel of their own. Output: (channel, chunk_id, trace).
    * The declarative formulation ([[rechunkDeclarative]]) is
    * semantically identical but pays a per-SAMPLE explode and funnels
    * each channel through one window partition; it is kept as the
    * independent test mirror only. */
  def rechunk(
      traces: DataFrame,
      chunkLen: Int,
      indexCol: String = "event_index",
      traceCol: String = "trace",
      channelCol: String = "channel"): DataFrame = {
    require(chunkLen > 0, "chunkLen must be positive")
    val spark = traces.sparkSession
    import spark.implicits._
    traces.select(col(channelCol).as("channel"), col(indexCol).as("index"),
        col(traceCol).as("trace"))
      .groupBy(col("channel")).as[String, Segment]
      .flatMapSortedGroups(col("index")) { (channel, run) =>
        val chop = new Chop(chunkLen, 0L, Array.emptyDoubleArray)
        run.flatMap(seg => chop.push(seg.trace))
          .map { case (id, t) => (channel, id, t) }
      }
      .toDF(channelCol, "chunk_id", traceCol)
  }

  /** The samples of one [[rechunk]] input row; the channel is the group
    * key and the index only orders the group. */
  private[traces] final case class Segment(trace: Array[Double])

  /** The W4 concat-and-chop over one channel's ordered run, shared by
    * [[rechunk]] and `StreamingRechunk.rechunkStream`. Seeded with a
    * carry — the next chunk id and the leftover (< chunkLen) samples of
    * the run so far; [[push]] appends one trace (null adds no samples)
    * and returns the (chunk id, chunk) pairs it completes; `nextId`
    * and [[leftover]] are the carry after the last push. Each sample
    * is copied once, into the chunk it lands in. */
  private[graft] final class Chop(
      chunkLen: Int, var nextId: Long, carried: Array[Double]) {
    require(carried.length < chunkLen, "carry must be shorter than a chunk")
    private var cur = java.util.Arrays.copyOf(carried, chunkLen)
    private var fill = carried.length

    def push(trace: Array[Double]): Seq[(Long, Array[Double])] = {
      val done = Seq.newBuilder[(Long, Array[Double])]
      var off = 0
      val n = if (trace == null) 0 else trace.length
      while (off < n) {
        val take = math.min(chunkLen - fill, n - off)
        System.arraycopy(trace, off, cur, fill, take)
        off += take
        fill += take
        if (fill == chunkLen) {
          done += ((nextId, cur))
          nextId += 1
          cur = new Array[Double](chunkLen)
          fill = 0
        }
      }
      done.result()
    }

    def leftover: Array[Double] = java.util.Arrays.copyOf(cur, fill)
  }

  /** W4, declarative formulation (test mirror of [[rechunk]] — not the
    * scale path): a running global sample offset (window cumsum of
    * trace lengths ordered by `event_index`), then each sample maps to
    * chunk `floor(globalOffset / chunkLen)`; chunks whose samples span
    * event boundaries are reassembled by `groupBy(chunk_id)` +
    * position-sorted flatten. Incomplete tail chunks are dropped
    * (remainder-discard semantics). */
  def rechunkDeclarative(
      traces: DataFrame,
      chunkLen: Int,
      indexCol: String = "event_index",
      traceCol: String = "trace",
      channelCol: String = "channel"): DataFrame = {
    val w = Window.partitionBy(col(channelCol)).orderBy(col(indexCol))
    val withOffset = traces
      .withColumn("__n__", size(col(traceCol)).cast("long"))
      .withColumn("__start__",
        coalesce(sum(col("__n__")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    // explode samples annotated with their global position
    val samples = withOffset.select(
      col(channelCol),
      posexplode(col(traceCol)).as(Seq("__p__", "__x__")),
      col("__start__"))
      .withColumn("__g__", col("__start__") + col("__p__"))
      .withColumn("chunk_id", floor(col("__g__") / chunkLen))
      .withColumn("__cpos__", col("__g__") % chunkLen)
    samples
      .groupBy(col(channelCol), col("chunk_id"))
      .agg(
        count(lit(1)).as("__cnt__"),
        array_sort(collect_list(struct(col("__cpos__"), col("__x__"))))
          .as("__pairs__"))
      .filter(col("__cnt__") === chunkLen) // drop incomplete remainder
      .select(col(channelCol), col("chunk_id"),
        transform(col("__pairs__"), p => p.getField("__x__")).as(traceCol))
  }
}
