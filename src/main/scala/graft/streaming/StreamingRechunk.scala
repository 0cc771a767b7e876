package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.traces.TraceStore

/** Streaming forms of the trace pipeline (SURVEY W4 streaming variant +
  * a watermarked rate monitor).
  *
  * The batch re-chunker ([[graft.traces.TraceStore.rechunk]]) scans a
  * bounded input's channels once each; unbounded input needs bounded
  * state instead: per channel we keep only the carry-over samples
  * (< chunkLen doubles) in `flatMapGroupsWithState` and seed the same
  * chop ([[graft.traces.TraceStore.Chop]]) with them each micro-batch,
  * emitting every completed chunk as it fills — the exact streaming
  * analogue of the reference's sequential concat-and-chop loop
  * (`vibration_analyzer.py:406-437`).
  */
object StreamingRechunk {

  final case class TraceSeg(channel: String, eventIndex: Long,
      trace: Seq[Double])
  final case class Chunk(channel: String, chunkId: Long, trace: Seq[Double])
  final case class Carry(nextChunkId: Long, buffer: Seq[Double])

  /** Per-channel stateful re-chunk. Rows within a channel group must
    * arrive in `eventIndex` order per micro-batch (they are sorted
    * inside the group before appending — cross-batch order is the
    * source's responsibility, as in the reference's sequential read). */
  def rechunkStream(
      segments: Dataset[TraceSeg],
      chunkLen: Int): Dataset[Chunk] = {
    val spark = segments.sparkSession
    import spark.implicits._
    segments
      .groupByKey(_.channel)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (channel: String, rows: Iterator[TraceSeg],
            state: GroupState[Carry]) => {
          val carry = state.getOption.getOrElse(Carry(0L, Vector.empty))
          val chop = new TraceStore.Chop(
            chunkLen, carry.nextChunkId, carry.buffer.toArray)
          val out = rows.toSeq.sortBy(_.eventIndex)
            .flatMap(seg => chop.push(Option(seg.trace).map(_.toArray).orNull))
            .map { case (id, t) => Chunk(channel, id, t.toSeq) }
          // bounded: < chunkLen samples
          state.update(Carry(chop.nextId, chop.leftover.toSeq))
          out.iterator
        })
  }

  /** Watermarked sliding-window event-rate monitor — the streaming form
    * of the T7 rate cut: per-window in-range counts with late data
    * bounded by the watermark. `events` needs an event-time column
    * `ts` (timestamp) and a `value` column. */
  def rateMonitor(
      events: DataFrame,
      windowDur: String,
      slideDur: String,
      watermark: String,
      lo: Double,
      hi: Double): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur, slideDur))
      .agg(sum(when(col("value") >= lo && col("value") <= hi, 1L)
        .otherwise(0L)).as("in_range_cnt"),
        count(lit(1)).as("total_cnt"))
}
