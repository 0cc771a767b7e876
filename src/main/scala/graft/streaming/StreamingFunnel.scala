package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.core.Temporal

/** Streaming funnel — the streaming form of
  * [[graft.core.Temporal.funnel]] (earliest ordered step chain within
  * a window of the first step, per user).
  *
  * Keyed state is ONE automaton per user — (stage, tFirst, tPrev),
  * three numbers, O(keys) total and independent of event volume (the
  * batch operator's O(1)-state posture carried into streaming). Each
  * micro-batch's events for a user are sorted by (ts, step) and folded
  * through the batch funnel's accept rule
  * ([[graft.core.Temporal.FunnelRule]]) from the saved state; a row is
  * emitted whenever the user's stage ADVANCES (update semantics — the latest
  * emission per user, i.e. max `stages`, is the current funnel state;
  * `stages` is monotone so that selection is deterministic).
  *
  * Exactness contract: identical to the batch nested-min semantics
  * whenever each user's events arrive in event-time order ACROSS
  * micro-batches (within a batch, arrival order is irrelevant — the
  * batch is sorted). A bounded single-batch replay therefore equals
  * `Temporal.funnel` exactly. A late event older than the automaton's
  * progress cannot rewind it — same tail-of-guarantee trade as the
  * TTL'd streaming dedups and the as-of dim history; watermark-bounded
  * buffering would buy full out-of-order exactness at O(window) state.
  *
  * `stateTtl` (processing-time) expires idle users for unbounded
  * ingest; empty string keeps state forever (bounded backfills only).
  */
object StreamingFunnel {

  final case class Ev(user: Long, ts: Long, step: String)
  final case class FunnelState(stage: Int, tFirst: Long, tPrev: Long)
  final case class Progress(user_id: Long, stages: Long,
    t_first: Option[Long], t_last: Option[Long], completed: Boolean)

  def funnelStream(
      events: Dataset[Ev],
      steps: Seq[String],
      withinUs: Long,
      stateTtl: String = ""): Dataset[Progress] = {
    val rule = Temporal.FunnelRule(steps, withinUs)
    val spark = events.sparkSession
    import spark.implicits._
    val k = steps.length
    val stepSet = steps.toSet
    val timeout =
      if (stateTtl.isEmpty) GroupStateTimeout.NoTimeout()
      else GroupStateTimeout.ProcessingTimeTimeout()
    events
      .filter(e => stepSet.contains(e.step))
      .groupByKey(_.user)
      .flatMapGroupsWithState(OutputMode.Update(), timeout)(
        (user: Long, rows: Iterator[Ev],
         state: GroupState[FunnelState]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var st = state.getOption.getOrElse(FunnelState(0, 0L, 0L))
            val before = st.stage
            // batch-local sort: bounded by this user's rows in THIS
            // micro-batch, not their history
            rows.toArray.sortBy(e => (e.ts, e.step)).foreach { e =>
              if (rule.accepts(st.stage, st.tFirst, st.tPrev, e.step, e.ts))
                st = FunnelState(st.stage + 1,
                  if (st.stage == 0) e.ts else st.tFirst, e.ts)
            }
            val emit = st.stage != before || !state.exists
            if (emit) state.update(st)
            // refresh the TTL on EVERY batch that saw events for this
            // key (not just stage advances) — an active-but-stalled
            // user stays alive; TTL measures idleness, as documented
            if (stateTtl.nonEmpty && state.exists)
              state.setTimeoutDuration(stateTtl)
            if (!emit) Iterator.empty
            else Iterator.single(Progress(user, st.stage,
              if (st.stage > 0) Some(st.tFirst) else None,
              if (st.stage > 0) Some(st.tPrev) else None,
              st.stage == k))
          }
        })
  }
}
