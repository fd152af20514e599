package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Streaming twin of [[graft.operators.Analytics.funnelUserTimes]]: the
 * k-step greedy funnel as an incremental per-user state machine — the
 * same generalization of the reference's create→pay-within-horizon
 * pattern (OrderPayDetectApp; [[StreamDetectors.orderTimeoutStream]] is
 * the 2-step CEP form), emitting a reach row the moment a user completes
 * a step.
 *
 * Exactness contract — buffer-until-watermark: the batch operator's
 * greedy earliest-first chain is order-sensitive (t_i is the FIRST
 * qualifying event after t_{i-1}), so folding events in arrival order —
 * the [[Cep.detect]] discipline, which sorts only within a micro-batch —
 * would mis-chain any cross-batch disorder. Here events are HELD in
 * per-user state and folded into the DFA only once the watermark passes
 * them (no earlier event can still arrive — Spark drops rows older than
 * the watermark before the user function, the same boundary), in
 * (ts, step-rank) order. Within the watermark delay the result is
 * therefore bit-equal to the batch operator on the same rows, whatever
 * the arrival order; events later than the delay are dropped (standard
 * watermark contract). Ties at the same second cannot qualify for
 * successive steps (the chain comparison is strict), so the tie-break
 * never changes reach — it only keeps the fold deterministic.
 *
 * Epoch-0 boundary (measured, Spark 4.1.2; the late predicate is
 * `LessThanOrEqual(eventTime, watermark)` in `WatermarkSupport`): a
 * query's initial watermark is 0 and an event whose time EQUALS the
 * watermark is dropped before the user function ever sees it — so an
 * event at exactly epoch second 0 arriving in the first micro-batch is
 * silently late. Real event time never sits at epoch 0; the contract is
 * simply ts ≥ 1 (the batch operator has no such boundary). The same
 * fact makes the ts < wm fold boundary safe: any row Spark still
 * delivers has ts strictly above the watermark.
 *
 * Emissions are MONOTONE — a user's reach of step i happens at most once
 * and is never retracted (only watermark-final events fold) — so the
 * stream is append-mode with no retract sink needed; `groupBy(step)`
 * downstream reproduces the batch report's counts and lag sums.
 *
 * Scale shape: one stateful exchange keyed on the user. Per-user state
 * after folding is O(k) — the completed-times vector plus the events
 * still inside the watermark delay — NOT the user's event history; the
 * delay bounds the buffer exactly as it bounds every other stateful op
 * here. Completed users keep an O(k) tombstone so a later event can
 * never start a second chain (the batch operator computes at most one
 * chain per user).
 */
object StreamAnalytics {

  final case class FunnelEvent(userId: Long, ts: Long, eventType: String)

  /** One row per (user, step) the instant the funnel completes step
    * `step` (1-based): `t1` the chain's entry time, `tStep` this step's
    * completion time — `tStep - t1` is the batch report's lag term. */
  final case class FunnelReach(userId: Long, step: Int, t1: Long, tStep: Long)

  /** Per-user state: events still above the watermark (parallel arrays —
    * Spark's product encoder has no tuple-seq field support), completed
    * chain times. `times.length` IS the reached step count. */
  final case class FunnelState(bufTs: Seq[Long], bufEt: Seq[String],
                               times: Seq[Long])

  def funnelReachStream(events: Dataset[FunnelEvent], steps: Seq[String],
                        horizon: Long = 0L,
                        watermarkDelay: String = "2 seconds"): Dataset[FunnelReach] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.length == steps.length,
      s"funnel steps must be distinct: $steps")
    val spark = events.sparkSession
    import spark.implicits._
    val k = steps.length
    val rank = steps.zipWithIndex.toMap
    events
      // struct-wrap next to the watermark column (the Cep.detect layout:
      // the event-time attribute must reach the stateful operator without
      // disturbing the event's own encoder)
      .select(struct(col("*")).as("_1"), timestamp_seconds(col("ts")).as("_2"))
      .eventTimeWatermark("_2", watermarkDelay)
      .as[(FunnelEvent, java.sql.Timestamp)]
      .groupByKey(_._1.userId)
      .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(FunnelEvent, java.sql.Timestamp)],
         state: GroupState[FunnelState]) =>
          val st = state.getOption.getOrElse(FunnelState(Nil, Nil, Nil))
          // buffer only events that can still matter: a step type, and
          // the user not already done (tombstone keeps `times` at k)
          val fresh =
            if (st.times.length >= k) Nil
            else rows.map(_._1)
              .filter(e => rank.contains(e.eventType)).toSeq
          val buf = (st.bufTs.zip(st.bufEt) ++ fresh.map(e => (e.ts, e.eventType)))
          val wm = state.getCurrentWatermarkMs() / 1000L
          // fold strictly-below-watermark events (the drop boundary: no
          // earlier event can still arrive), deterministic order
          val (ready, hold0) = buf.partition(_._1 < wm)
          var times = st.times
          val out = ArrayBuffer.empty[FunnelReach]
          ready.sortBy { case (ts, et) => (ts, rank(et)) }.foreach {
            case (ts, et) =>
              val i = times.length
              if (i < k && et == steps(i)
                  && (i == 0 || (ts > times.last
                    && (horizon <= 0L || ts <= times.head + horizon)))) {
                times = times :+ ts
                out += FunnelReach(user, times.length, times.head, ts)
              }
          }
          // a held event a completed chain can never use is dead weight
          val hold = if (times.length >= k) Nil else hold0
          if (hold.isEmpty && times.isEmpty) {
            // nothing buffered, nothing reached (noise-only user): no
            // state to keep — an empty row here would live forever
            if (state.exists) state.remove()
          } else {
            state.update(FunnelState(hold.map(_._1), hold.map(_._2), times))
            if (hold.nonEmpty) {
              // wake just past the oldest held event so idle users fold
              // too; a timer at/behind the watermark throws — clamp past it
              state.setTimeoutTimestamp(math.max(hold.map(_._1).min * 1000L + 1000L,
                state.getCurrentWatermarkMs() + 1L))
            }
          }
          out.iterator
      }
  }

  /** One row per CLOSED attempt of the re-entry funnel — emitted the
    * moment the attempt completes (`reached = k`, `tDone` set) or its
    * conversion window turns watermark-final (`tDone` None). Matches
    * [[graft.operators.Analytics.funnelAttempts]]' row contract:
    * `attempt` 1-based in anchor order. */
  final case class FunnelAttempt(userId: Long, attempt: Int, t1: Long,
                                 reached: Int, tDone: Option[Long])

  /** Per-user re-entry state: buffered events still above the watermark
    * (parallel arrays — the [[FunnelState]] encoder note), closed-attempt
    * count, the last closed attempt's END (completion time if completed,
    * anchor + horizon otherwise; 0 = none yet, safe under the ts ≥ 1
    * contract), and the OPEN attempt (`anchor` 0 = none; `times` = its
    * chain so far). */
  final case class AttemptState(bufTs: Seq[Long], bufEt: Seq[String],
                                attemptsDone: Int, lastEnd: Long,
                                anchor: Long, times: Seq[Long])

  /**
   * Streaming twin of [[graft.operators.Analytics.funnelAttempts]] — the
   * RE-ENTRY funnel as an incremental per-user state machine
   * (VERDICT r13 #4), completing the funnel family's streaming side next
   * to [[funnelReachStream]] (fixed-anchor). Same semantics as the batch
   * operator: an attempt anchors at the first entry event STRICTLY after
   * the previous attempt's end (completion time if it completed,
   * anchor + horizon otherwise), runs the greedy chain `t_i` = first
   * `steps(i-1)` event after `t_{i-1}` within `anchor + horizon`,
   * absorbs in-window entry events, and only the first `maxAttempts`
   * attempts emit (the tombstone below enforces the deterministic
   * truncation). `horizon > 0` required, as in the batch form — without
   * a conversion window an incomplete attempt never ends.
   *
   * Exactness: the [[funnelReachStream]] buffer-until-watermark
   * discipline — events HOLD in state until the watermark passes them,
   * then fold in (ts, step-rank) order, so the result is bit-equal to
   * the batch operator on the same rows whatever the arrival batching
   * (spec-pinned under cross-batch disorder). Emission timing follows
   * finality: a completed attempt emits at its completing event's fold;
   * an incomplete one emits once its window END is watermark-final
   * (`anchor + horizon < wm` — arriving events always carry ts > wm, so
   * nothing can extend it). The same ts ≥ 1 epoch-0 boundary as every
   * stateful op here.
   *
   * Scale shape: one stateful exchange keyed on the user; per-user state
   * is O(open attempt + events inside the watermark delay), never the
   * event history; exhausted users keep an O(1) tombstone
   * (`attemptsDone = maxAttempts`) so re-entries past the cap can never
   * re-anchor. Timers wake just past the earliest pending boundary —
   * the oldest held event or the open window's end — so idle users
   * close their attempts without traffic.
   */
  def funnelAttemptsStream(events: Dataset[FunnelEvent], steps: Seq[String],
                           horizon: Long, maxAttempts: Int = 4,
                           watermarkDelay: String = "2 seconds")
      : Dataset[FunnelAttempt] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.length == steps.length,
      s"funnel steps must be distinct: $steps")
    require(horizon > 0L,
      "re-entry needs a conversion window: an incomplete attempt ends at" +
        " anchor + horizon — use funnelReachStream for horizon = 0")
    require(maxAttempts >= 1, s"need at least one attempt: $maxAttempts")
    val spark = events.sparkSession
    import spark.implicits._
    val k = steps.length
    val rank = steps.zipWithIndex.toMap
    events
      .select(struct(col("*")).as("_1"), timestamp_seconds(col("ts")).as("_2"))
      .eventTimeWatermark("_2", watermarkDelay)
      .as[(FunnelEvent, java.sql.Timestamp)]
      .groupByKey(_._1.userId)
      .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(FunnelEvent, java.sql.Timestamp)],
         state: GroupState[AttemptState]) =>
          val st = state.getOption
            .getOrElse(AttemptState(Nil, Nil, 0, 0L, 0L, Nil))
          val fresh =
            if (st.attemptsDone >= maxAttempts) Nil
            else rows.map(_._1)
              .filter(e => rank.contains(e.eventType)).toSeq
          val buf = st.bufTs.zip(st.bufEt) ++
            fresh.map(e => (e.ts, e.eventType))
          val wm = state.getCurrentWatermarkMs() / 1000L
          val (ready, hold0) = buf.partition(_._1 < wm)
          var attemptsDone = st.attemptsDone
          var lastEnd = st.lastEnd
          var anchor = st.anchor
          var times = st.times
          val out = ArrayBuffer.empty[FunnelAttempt]
          def closeAttempt(tDone: Option[Long]): Unit = {
            attemptsDone += 1
            lastEnd = tDone.getOrElse(anchor + horizon)
            out += FunnelAttempt(user, attemptsDone, anchor, times.length,
              tDone)
            anchor = 0L; times = Nil
          }
          ready.sortBy { case (ts, et) => (ts, rank(et)) }.foreach {
            case (ts, et) =>
              if (attemptsDone < maxAttempts) {
                // the open window ended strictly before this event: it is
                // final (every earlier event has folded — ts order)
                if (anchor > 0L && ts > anchor + horizon) closeAttempt(None)
                if (attemptsDone < maxAttempts) {
                  if (anchor == 0L) {
                    if (et == steps.head && ts > lastEnd) {
                      anchor = ts; times = Seq(ts)
                      if (k == 1) closeAttempt(Some(ts))
                    } // else: absorbed (non-entry, or entry ≤ lastEnd)
                  } else {
                    val i = times.length
                    if (i < k && et == steps(i) && ts > times.last
                        && ts <= anchor + horizon) {
                      times = times :+ ts
                      if (times.length == k) closeAttempt(Some(ts))
                    } // else: absorbed in-window event
                  }
                }
              }
          }
          // window-end finality without a closing event: arriving events
          // always carry ts > wm, so anchor + horizon < wm means nothing
          // can extend the attempt and no buffered row precedes its end
          if (attemptsDone < maxAttempts && anchor > 0L
              && anchor + horizon < wm) closeAttempt(None)
          val hold = if (attemptsDone >= maxAttempts) Nil else hold0
          if (hold.isEmpty && anchor == 0L && attemptsDone == 0) {
            // noise-only user: no state worth keeping
            if (state.exists) state.remove()
          } else {
            state.update(AttemptState(hold.map(_._1), hold.map(_._2),
              attemptsDone, lastEnd, anchor, times))
            val boundaries =
              (if (hold.nonEmpty) Seq(hold.map(_._1).min * 1000L + 1000L)
               else Nil) ++
              (if (anchor > 0L)
                 Seq((anchor + horizon) * 1000L + 1000L) else Nil)
            if (boundaries.nonEmpty)
              state.setTimeoutTimestamp(math.max(boundaries.min,
                state.getCurrentWatermarkMs() + 1L))
          }
          out.iterator
      }
  }
}
