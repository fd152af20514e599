package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.{OrderEvent, ReceiptEvent}

/**
 * Stream-stream joins (SURVEY.md §2.4 J1/J2) — the built-in Structured
 * Streaming mapping: watermarks on both sides + a time-range conjunct give
 * Spark exactly the state-retention bound the reference implemented with
 * per-key timers (OrderReceiptProcessJoinFunc:71-77). State for a side is
 * dropped as soon as the watermark passes its join horizon — no custom
 * state machine needed for the inner-join case.
 */
object StreamJoins {

  /**
   * J1 — event-time interval inner join on txId:
   * `receipt.ts ∈ [pay.ts − lowerSec, pay.ts + upperSec]`
   * (OrderReceiptAppWithJoin.java:58-61: between(-3 s, +5 s)).
   */
  def intervalJoinStream(pays: Dataset[OrderEvent], receipts: Dataset[ReceiptEvent],
                         lowerSec: Long, upperSec: Long,
                         watermarkDelay: String = "2 seconds"): DataFrame = {
    val l = pays.filter(col("txId") =!= "")
      .select(col("txId"), col("orderId"),
        timestamp_seconds(col("eventTime")).as("payTime"))
      .eventTimeWatermark("payTime", watermarkDelay)
    val r = receipts
      .select(col("txId").as("rTxId"), col("payChannel"),
        timestamp_seconds(col("timestamp")).as("receiptTime"))
      .eventTimeWatermark("receiptTime", watermarkDelay)
    l.join(r,
      col("txId") === col("rTxId") &&
        col("receiptTime") >= col("payTime") - expr(s"INTERVAL $lowerSec SECONDS") &&
        col("receiptTime") <= col("payTime") + expr(s"INTERVAL $upperSec SECONDS"),
      "inner")
      .select(col("txId"), col("orderId"), col("payChannel"),
        col("payTime").cast("long").as("pay_sec"),
        col("receiptTime").cast("long").as("receipt_sec"))
  }

  /**
   * J1/J2 hybrid — LEFT OUTER stream-stream interval join: matched pairs
   * emit like the inner form; an unmatched pay emits with null receipt
   * columns once BOTH watermarks pass its join horizon (Spark proves no
   * future receipt can match before emitting the null row — the same
   * guarantee the reference built with a per-key "wait then side-output"
   * timer, here from the declarative watermark bound alone). State
   * retention is identical to the inner join: each side is dropped as
   * soon as the watermark clears its horizon.
   */
  def intervalJoinOuterStream(pays: Dataset[OrderEvent], receipts: Dataset[ReceiptEvent],
                              lowerSec: Long, upperSec: Long,
                              watermarkDelay: String = "2 seconds"): DataFrame = {
    val l = pays.filter(col("txId") =!= "")
      .select(col("txId"), col("orderId"),
        timestamp_seconds(col("eventTime")).as("payTime"))
      .eventTimeWatermark("payTime", watermarkDelay)
    val r = receipts
      .select(col("txId").as("rTxId"), col("payChannel"),
        timestamp_seconds(col("timestamp")).as("receiptTime"))
      .eventTimeWatermark("receiptTime", watermarkDelay)
    l.join(r,
      col("txId") === col("rTxId") &&
        col("receiptTime") >= col("payTime") - expr(s"INTERVAL $lowerSec SECONDS") &&
        col("receiptTime") <= col("payTime") + expr(s"INTERVAL $upperSec SECONDS"),
      "left_outer")
      .select(col("txId"), col("orderId"), col("payChannel"),
        col("payTime").cast("long").as("pay_sec"),
        col("receiptTime").cast("long").as("receipt_sec"))
  }

  /**
   * Stream-static dimension enrichment: a streaming fact joined to a
   * bounded dim table. The static side is marked `broadcast()`, so every
   * micro-batch plans a BroadcastHashJoin — the stream never shuffles and
   * carries no join state (Spark re-plans the static side per batch; at
   * 100 TB/day the dim broadcast is the standard star-schema pattern —
   * the reference's side-input/async-dim-lookup shape without the
   * external KV store). Left join keeps facts with no dim row.
   */
  def enrichStream(facts: DataFrame, dim: DataFrame, key: String,
                   joinType: String = "left"): DataFrame =
    facts.join(broadcast(dim), Seq(key), joinType)

  /**
   * Streaming exact dedup (training-pipeline stream form of
   * `Dedup.exactDedup`): first occurrence of each content fingerprint
   * passes, replays drop. State = one row per distinct fingerprint,
   * bounded by the watermark horizon (a fingerprint older than the
   * horizon is evictable; an exactly-once sink dedups redelivery).
   * Key on the md5 of `contentCol` — state never stores the body.
   */
  def dedupStream(stream: DataFrame, tsCol: String, contentCol: String,
                  watermarkDelay: String): DataFrame =
    stream
      .withColumn("_fp", md5(col(contentCol).cast("binary")))
      .eventTimeWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("_fp")
      .drop("_fp")

  /** One tagged event of either as-of side (the connect-style union). */
  final case class AsofTagged(key: Long, side: String, ts: Long, value: Double)
  /** Per-key state: buffered right rows (latest at-or-before the
    * watermark + every in-flight newer one) and pending left times. */
  final case class AsofRight(ts: Long, value: Double)
  final case class AsofStreamState(rights: List[AsofRight], pending: List[Long])
  final case class AsofStreamResult(key: Long, left_sec: Long,
                                    right_sec: Option[Long],
                                    right_value: Option[Double])

  /**
   * Streaming as-of join — the continuous twin of
   * [[graft.operators.Joins.asofJoin]] / `asofJoinNative`: every left row
   * is enriched with the LATEST right row at-or-before its event time on
   * the same key, and emitted exactly once, when the watermark passes its
   * event time (so no earlier-timestamped right row can still arrive —
   * event-time-correct, replay-order-independent).
   *
   * Built as the reference's connect pattern (union tagged sides → one
   * keyed state machine; OrderReceiptAppWithConnect.java:56-58): a
   * stream-stream OUTER join can't express "latest preceding" (it would
   * emit every right row in a range), and the window form needs a global
   * per-key sort no stream can do. State per key stays O(out-of-orderness):
   * pending lefts ahead of the watermark, in-flight rights newer than the
   * watermark, plus exactly ONE right at-or-before it (the match floor for
   * any future left) — rights older than that are pruned every firing.
   *
   * `left`: (key, leftSec) epoch-second events; `right`: (key, rightSec,
   * value). Right should be unique per (key, ts) — same determinism
   * contract as the batch forms. `toleranceSec` nulls matches older than
   * `left.ts − tolerance` like the batch operator.
   */
  def asofJoinStream(left: DataFrame, right: DataFrame,
                     key: String, leftSec: String, rightSec: String,
                     rightVal: String, watermarkDelay: String = "2 seconds",
                     toleranceSec: Option[Long] = None): Dataset[AsofStreamResult] = {
    val spark = left.sparkSession
    import spark.implicits._
    val l = left.select(col(key).cast("long").as("key"), lit("l").as("side"),
      col(leftSec).cast("long").as("ts"), lit(0.0).as("value"))
    val r = right.select(col(key).cast("long").as("key"), lit("r").as("side"),
      col(rightSec).cast("long").as("ts"), col(rightVal).cast("double").as("value"))
    l.unionByName(r)
      .withColumn("eventTime", timestamp_seconds(col("ts")))
      .eventTimeWatermark("eventTime", watermarkDelay)
      .as[AsofTagged]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k: Long, rows: Iterator[AsofTagged], state: GroupState[AsofStreamState]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val st = state.getOption.getOrElse(AsofStreamState(Nil, Nil))
          // merge arrivals (empty on a pure timeout firing)
          val arrived = rows.toSeq
          val rights = (st.rights ++ arrived.collect {
            case e if e.side == "r" => AsofRight(e.ts, e.value)
          }).sortBy(_.ts)
          val pending = (st.pending ++ arrived.collect {
            case e if e.side == "l" => e.ts
          }).sorted
          // emit every left the watermark has STRICTLY passed (a right row
          // timestamped exactly at the watermark can still arrive — the
          // watermark filter drops only strictly-older rows)
          val (ready, stillPending) = pending.partition(_ * 1000L < wmMs)
          val out = ready.map { lt =>
            val m = rights.takeWhile(_.ts <= lt).lastOption
              .filter(mr => toleranceSec.forall(t => mr.ts >= lt - t))
            AsofStreamResult(k, lt, m.map(_.ts), m.map(_.value))
          }
          // prune: any future left has ts >= watermark (older rows are
          // dropped by the watermark filter), so one right at-or-before
          // min(watermark, oldest pending) is the floor any of them needs
          val cutSec = (stillPending.headOption.toList :+ (wmMs / 1000L)).min
          val (old, fresh) = rights.partition(_.ts <= cutSec)
          val kept = old.lastOption.toList ++ fresh
          if (stillPending.isEmpty && kept.isEmpty) state.remove()
          else {
            state.update(AsofStreamState(kept, stillPending))
            stillPending.headOption.foreach { lt =>
              state.setTimeoutTimestamp(math.max(lt * 1000L + 1L, wmMs + 1L))
            }
          }
          out.iterator
      }
  }
}
