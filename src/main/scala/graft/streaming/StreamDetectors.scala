package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model._

/**
 * Streaming forms of the reference's stateful detectors, as
 * `flatMapGroupsWithState` state machines (SURVEY.md §2.4 J3-J6, §2.2 F5).
 * The batch forms in [[graft.operators.Detectors]] are their oracles: tests
 * assert final-state set-equivalence stream ≡ batch (SURVEY.md §7.4 — Spark
 * fires event-time timers at micro-batch boundaries, Flink at exact
 * watermark crossings; results match, arrival order/latency differ).
 *
 * Scale notes:
 *  - State is one small case class per key in the state store; no window
 *    buffers. A key's events within a micro-batch are sorted by event time
 *    (micro-batch iterators are unordered) — O(events-per-key-per-batch),
 *    not O(total history).
 *  - All timers are event-time (`GroupStateTimeout.EventTimeTimeout`),
 *    driven by the input watermark, so state cannot leak unboundedly for
 *    keys that stop receiving events.
 */
object StreamDetectors {

  // ------------------------------------------------------------------
  // J4/J5 — two consecutive login failures within `maxGapSec`
  // (LoginFailAppWithCep.java:61-75; v2 hand-rolled semantics
  //  LoginFailApp2.java:59-99: compare each fail to the previous event,
  //  strict contiguity — any intervening success resets the pair).
  //
  // Delegates to the generalized [[Cep]] NFA — `fail ×2 consecutive
  // within gap` IS the reference's own CEP pattern, and keeping one
  // detection engine beats a second hand-rolled state machine. The NFA
  // emits sliding pairs ((f1,f2),(f2,f3)) exactly like the bespoke
  // lag-against-previous machine did; its within-GC timeout rows are
  // filtered out here.
  // ------------------------------------------------------------------

  def loginFailStream(events: Dataset[LoginEvent], maxGapSec: Long,
                      watermarkDelay: String = "2 seconds"): Dataset[LoginFailWarning] = {
    val spark = events.sparkSession
    import spark.implicits._
    val pattern = Cep.Pattern.begin[LoginEvent]("fail")(_.eventType == "fail")
      .times(2).consecutive().within(maxGapSec)
    Cep.detect[LoginEvent, Long](events, _.userId, "timestamp", _.timestamp,
        pattern, tieBreak = _.eventType, watermarkDelay = watermarkDelay)
      .filter(_.status == "matched")
      .map(m => LoginFailWarning(m.key, m.stageTs.head, m.stageTs.last,
        s"2 consecutive login failures within ${maxGapSec}s"))
  }

  // ------------------------------------------------------------------
  // J3/J6 — order create → pay within `timeoutSec`, else timeout
  // (OrderTimeoutAppWithState.java:57-111). Three reference outputs:
  //   "payed"         — pay while the create flag is set, within window
  //   "pay timeout"   — timer fired (no pay) OR pay after the window
  //   "payed timeout" — pay with no create seen
  // Side outputs → one stream, split by `resultType` filters (K2 mapping).
  //
  // Delegates to [[Cep]]: create→pay-within-window is the reference's
  // own CEP pattern (OrderTimeoutAppWithCep.java:46-56, matched +
  // timeout side output); the WithState version's third branch — a pay
  // with no live create — is the NFA's `emitUnmatched` dead-letter
  // output (a pay that touched no run). One engine, all three outputs.
  //
  // MALFORMED-INPUT semantics (deliberate divergence, CEP-standard): an
  // order with TWO create events starts a sliding NFA run per create, so
  // one pay yields two "payed" rows (and an unpaid double-create, two
  // "pay timeout" rows) — FlinkCEP behaves the same way. The reference's
  // WithState app instead OVERWRITES createTs, silently swallowing the
  // duplicate (OrderTimeoutAppWithState.java:79-84). Well-formed order
  // streams (one create per order id — the invariant the domain
  // guarantees) are bit-identical across all three implementations;
  // dedupe upstream if a source can violate it. The per-create-run
  // multiplicity is PINNED on both engines by StreamDetectorsSpec
  // ("duplicate-create orders") — don't change one without the other.
  // ------------------------------------------------------------------

  def orderTimeoutStream(events: Dataset[OrderEvent], timeoutSec: Long,
                         watermarkDelay: String = "2 seconds"): Dataset[OrderResult] = {
    val spark = events.sparkSession
    import spark.implicits._
    val pattern = Cep.Pattern.begin[OrderEvent]("create")(_.eventType == "create")
      .followedBy("pay")(_.eventType == "pay")
      .within(timeoutSec)
      .emitUnmatched(_.eventType == "pay")
    // eventType tie-break: a create and pay in the same second process
    // create-first ("create" < "pay"), like file order
    Cep.detect[OrderEvent, Long](events, _.orderId, "eventTime", _.eventTime,
        pattern, tieBreak = _.eventType, watermarkDelay = watermarkDelay)
      .map(m => OrderResult(m.key, m.status match {
        case "matched" => "payed"
        case "timeout" => "pay timeout"
        case _ => "payed timeout"
      }))
  }

  // ------------------------------------------------------------------
  // F5 — click-fraud blacklist with daily UTC+8 reset and warn-once
  // (AdClickKeyProcessFunc, AdClickByProvinceApp.java:112-180). The
  // reference registers a timer at the next UTC+8 midnight to clear state
  // (`(ts/86400 + 1) * 86400_000 − 8*3600_000`, :146); we compare the
  // event's UTC+8 day bucket against the state's — same reset semantics
  // without a timer race, and it also handles multi-day gaps.
  // ------------------------------------------------------------------

  final case class BlacklistState(day: Long, count: Long, warned: Boolean)

  /** One output row per input click (status="click", forwarded) or
    * threshold crossing (status="warning", emitted once per key per day);
    * clicks from a blacklisted key are swallowed like the reference. */
  final case class AdClickOut(userId: Long, adId: Long, province: String,
                              timestamp: Long, status: String, message: String)

  /** UTC+8 day bucket of an epoch-second timestamp. */
  def utc8Day(tsSec: Long): Long = (tsSec + 8L * 3600L) / 86400L

  def blacklistStream(clicks: Dataset[AdClickEvent], threshold: Long,
                      watermarkDelay: String = "2 seconds"): Dataset[AdClickOut] = {
    val spark = clicks.sparkSession
    import spark.implicits._
    clicks
      .withColumn("eventTime", timestamp_seconds(col("timestamp")))
      .eventTimeWatermark("eventTime", watermarkDelay)
      .as[AdClickEvent]
      .groupByKey(e => (e.userId, e.adId))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Long, Long), rows: Iterator[AdClickEvent], state: GroupState[BlacklistState]) =>
          val (userId, adId) = key
          val sorted = rows.toSeq.sortBy(_.timestamp)
          var st = state.getOption.getOrElse(BlacklistState(-1L, 0L, warned = false))
          val out = ArrayBuffer.empty[AdClickOut]
          sorted.foreach { e =>
            val day = utc8Day(e.timestamp)
            if (day != st.day) st = BlacklistState(day, 0L, warned = false)
            if (st.count >= threshold) {
              if (!st.warned) {
                out += AdClickOut(userId, adId, e.province, e.timestamp, "warning",
                  s"click count >= threshold $threshold — blacklisted for the day")
                st = st.copy(warned = true)
              }
              // blacklisted: click swallowed (reference forwards nothing)
            } else {
              st = st.copy(count = st.count + 1)
              out += AdClickOut(userId, adId, e.province, e.timestamp, "click", "")
            }
          }
          state.update(st)
          out.iterator
      }
  }

  // ------------------------------------------------------------------
  // J2 — pay ↔ receipt reconcile with per-side timeouts
  // (OrderPayReceiptCoProcessFunc, OrderReceiptAppWithConnect.java:72-162):
  // first-arriving side buffers + registers a timer (+`receiptWaitSec` on
  // the pay side / +`payWaitSec` on the receipt side); a match emits the
  // pair and clears; a fired timer emits the unmatched side.
  // ------------------------------------------------------------------

  final case class TxSide(txId: String, side: String, ts: Long, extra: String)

  final case class ReconcileState(payTs: Long, payExtra: String,
                                  receiptTs: Long, receiptExtra: String)

  final case class ReconcileResult(txId: String, status: String,
                                   payTs: Long, receiptTs: Long)

  /** Union the two sides into one keyed stream (the Spark-native shape of
    * Flink's connect: one state machine per txId over tagged events).
    *
    * A pair matches iff `receiptTs − payTs ∈ [−lowerSec, +upperSec]` — the
    * same interval as [[graft.operators.Joins.reconcile]]. The reference
    * enforces the bound implicitly through timer/arrival interleaving
    * (OrderReceiptAppWithConnect.java:90-116); a micro-batch replay can
    * deliver both sides in one batch before any timer, so the bound must
    * be explicit here or replay timing would change results. */
  def reconcileStream(pays: Dataset[OrderEvent], receipts: Dataset[ReceiptEvent],
                      lowerSec: Long, upperSec: Long,
                      watermarkDelay: String = "2 seconds"): Dataset[ReconcileResult] = {
    val spark = pays.sparkSession
    import spark.implicits._
    val paySide = pays
      .filter(col("txId") =!= "")
      .select(col("txId"), lit("pay").as("side"), col("eventTime").as("ts"),
        col("orderId").cast("string").as("extra"))
      .as[TxSide]
    val receiptSide = receipts
      .select(col("txId"), lit("receipt").as("side"), col("timestamp").as("ts"),
        col("payChannel").as("extra"))
      .as[TxSide]
    paySide.unionByName(receiptSide)
      .withColumn("eventTime", timestamp_seconds(col("ts")))
      .eventTimeWatermark("eventTime", watermarkDelay)
      .as[TxSide]
      .groupByKey(_.txId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (txId: String, rows: Iterator[TxSide], state: GroupState[ReconcileState]) =>
          if (state.hasTimedOut) {
            // see orderTimeoutStream: a matched-and-removed key can still
            // fire its stale timer with no state value — emit nothing then
            val stOpt = state.getOption
            state.remove()
            stOpt match {
              case Some(st) if st.payTs > 0 || st.receiptTs > 0 =>
                val status = if (st.payTs > 0) "pay_no_receipt" else "receipt_no_pay"
                Iterator(ReconcileResult(txId, status, st.payTs, st.receiptTs))
              case _ => Iterator.empty
            }
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts, e.side))
            var st = state.getOption.getOrElse(ReconcileState(0L, "", 0L, ""))
            val out = ArrayBuffer.empty[ReconcileResult]
            def flushUnmatched(s: ReconcileState): Unit =
              if (s.payTs > 0 || s.receiptTs > 0)
                out += ReconcileResult(txId,
                  if (s.payTs > 0) "pay_no_receipt" else "receipt_no_pay",
                  s.payTs, s.receiptTs)
            sorted.foreach { e =>
              val updated =
                if (e.side == "pay") st.copy(payTs = e.ts, payExtra = e.extra)
                else st.copy(receiptTs = e.ts, receiptExtra = e.extra)
              if (updated.payTs > 0 && updated.receiptTs > 0) {
                val gap = updated.receiptTs - updated.payTs
                if (gap >= -lowerSec && gap <= upperSec) {
                  out += ReconcileResult(txId, "matched", updated.payTs, updated.receiptTs)
                } else {
                  // outside the interval: the buffered side is unmatched,
                  // and the arriving side is unmatched too (its window
                  // relative to the buffered event has already closed).
                  flushUnmatched(st)
                  flushUnmatched(
                    if (e.side == "pay") ReconcileState(e.ts, e.extra, 0L, "")
                    else ReconcileState(0L, "", e.ts, e.extra))
                }
                st = ReconcileState(0L, "", 0L, "")
                if (state.exists) state.remove()
              } else {
                st = updated
                state.update(st)
                val deadline =
                  if (st.payTs > 0) (st.payTs + upperSec) * 1000L
                  else (st.receiptTs + lowerSec) * 1000L
                // clamp: a timeout timestamp at/behind the watermark throws
                state.setTimeoutTimestamp(math.max(deadline, state.getCurrentWatermarkMs() + 1L))
              }
            }
            out.iterator
          }
      }
  }
}
