package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.operators.Windows

/**
 * Streaming window aggregation — the Structured-Streaming twins of
 * [[graft.operators.Windows]] (SURVEY.md §2.3 W3-W9). Watermarks replace
 * the reference's timestamp extractors (§2.6): ascending → "0 seconds",
 * BoundedOutOfOrderness(n) → "n seconds"; allowedLateness(60 s) (W7) →
 * a watermark delayed by the lateness horizon + update output mode, which
 * re-emits the corrected (key, window) row exactly like the reference's
 * own late-update dedup fix (HotUrlApp2.java:111-190).
 */
object StreamWindows {

  /** W3/W4 — sliding event-time window count per key, watermarked.
    * Late rows inside the delay re-fire the window in update mode;
    * rows later than the watermark are dropped and counted in
    * `StreamingQueryProgress.stateOperators.numRowsDroppedByWatermark`
    * (the W8 side-output accounting). */
  def slidingCountStream(df: DataFrame, tsCol: String, keys: Seq[String],
                         size: String, slide: String,
                         watermarkDelay: String): DataFrame = {
    val w = window(col(tsCol), size, slide)
    df.eventTimeWatermark(tsCol, watermarkDelay)
      .groupBy((w +: keys.map(col)): _*)
      .agg(count(lit(1)).as("cnt"))
      .select(keys.map(col) :+ col("window.end").cast("long").as("window_end") :+ col("cnt"): _*)
  }

  /**
   * Streaming form of `Windows.slidingCountRollup`: two chained stateful
   * window aggregations (Spark ≥3.4 supports `window()` over a window
   * column) — rows aggregate into tumbling slide-width slices, closed
   * slices roll up into the sliding windows containing them. Shuffle and
   * state volume scale with |keys × slices|, not size/slide × rows.
   * Append mode: a window emits once its last slice's watermark passes.
   */
  def slidingCountRollupStream(df: DataFrame, tsCol: String, keys: Seq[String],
                               sizeSec: Long, slideSec: Long,
                               watermarkDelay: String): DataFrame = {
    require(sizeSec % slideSec == 0, "size must be a multiple of slide")
    df.eventTimeWatermark(tsCol, watermarkDelay)
      .groupBy((window(col(tsCol), s"$slideSec seconds") +: keys.map(col)): _*)
      .agg(count(lit(1)).as("_slice_cnt"))
      .groupBy((window(col("window"), s"$sizeSec seconds", s"$slideSec seconds") +: keys.map(col)): _*)
      .agg(sum(col("_slice_cnt")).as("cnt"))
      .select(keys.map(col) :+ col("window.end").cast("long").as("window_end") :+ col("cnt"): _*)
  }

  /**
   * W8 — TRUE late-row side output: the reference tags rows that arrive
   * behind the watermark and ships them out as a DataStream
   * (HotUrlApp.java:52-72 `sideOutputLateData`); Spark only *counts* them
   * (`numRowsDroppedByWatermark`). This operator reproduces the data
   * branch: each micro-batch is split against the watermark as of the END
   * of the previous batch (exactly Spark's own update rule — watermark =
   * max event time seen − delay, advanced at batch boundaries), late rows
   * go to `lateSink` AS ROWS, on-time rows to `onTime` (typically feeding
   * the same aggregation the watermark would guard).
   *
   * The only driver-side state is one long (the running max event time,
   * refreshed by a single-row agg per batch) — nothing scales with data.
   * Pass `watermarkPath` to persist that long across restarts (written
   * atomically next to the checkpoint each batch, reloaded on start);
   * without it a restarted query treats its first batch as all on-time,
   * unlike Spark's persisted watermark.
   */
  def lateRowSideOutput(stream: DataFrame, tsCol: String, delaySec: Long,
                        watermarkPath: String = null)(
      onTime: (DataFrame, Long) => Unit,
      lateSink: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] = {
    val wmFile = Option(watermarkPath).map(java.nio.file.Paths.get(_))
    val initial = wmFile
      .filter(java.nio.file.Files.exists(_))
      .map(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim.toLong)
      .getOrElse(Long.MinValue)
    val maxTsMicros = new java.util.concurrent.atomic.AtomicLong(initial)
    stream.twinWriteStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val tsMicros = unix_micros(col(tsCol).cast("timestamp"))
        val wm = maxTsMicros.get() match {
          case Long.MinValue => Long.MinValue
          case m => m - delaySec * 1000000L
        }
        val b = batch.persist()
        try {
          val (lateDf, onTimeDf) =
            if (wm == Long.MinValue) (b.limit(0), b)
            else (b.filter(tsMicros < wm), b.filter(tsMicros >= wm))
          lateSink(lateDf, batchId)
          onTime(onTimeDf, batchId)
          Option(b.agg(max(tsMicros)).head().get(0)).foreach { mx =>
            val m = maxTsMicros.updateAndGet(cur => math.max(cur, mx.asInstanceOf[Long]))
            wmFile.foreach { p =>
              val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
              java.nio.file.Files.write(tmp, m.toString.getBytes("UTF-8"))
              java.nio.file.Files.move(tmp, p,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            }
          }
        } finally b.unpersist()
    }
  }

  /** One [[allowedLatenessCount]] emission: the main fire or a
    * per-late-element re-fire of the (key, window) count. */
  final case class LatenessFire(key: String, window_end: Long, cnt: Long)

  /** Internal state of [[allowedLatenessCount]] (public: Spark's encoder
    * codegen cannot reach a private case class). */
  final case class LatenessCountState(cnt: Long, fired: Boolean)

  /**
   * W7 — allowedLateness with EXACT re-fire timing (the full Flink
   * `EventTimeTrigger` + `allowedLateness` lifecycle, not just the
   * delayed-watermark result slice): keyed tumbling count where
   *
   *  - the window fires ONCE when the watermark passes its end
   *    (event-time timer — Flink's `onEventTime` FIRE);
   *  - each element arriving after that fire but before
   *    `end + latenessSec` immediately re-fires the updated count — one
   *    emission per late element (Flink's `onElement` FIRE when
   *    `window.maxTimestamp <= currentWatermark`), not one batched
   *    correction per trigger the way update-mode re-emission does;
   *  - at `end + latenessSec` the window state is PURGED (Flink's
   *    cleanup timer); a watermark that jumps both timers in one batch
   *    fires-then-purges, matching Flink's in-order timer callbacks;
   *  - elements for an expired window never reach the operator: Spark
   *    drops them at the stateful-operator boundary and accounts them in
   *    `numRowsDroppedByWatermark` — the drop boundary COINCIDES with
   *    window expiry here because the operator watermarks the window-end
   *    column with `watermarkDelay + latenessSec` delay, so "older than
   *    the watermark" ⇔ `end + lateness < max(end seen) − delay`, Flink's
   *    `isWindowLate` in window-end granularity. The DATA branch of the
   *    side output (the rows themselves) is [[lateRowSideOutput]] (W8)
   *    composed upstream with the same horizon — the same architecture as
   *    Flink, where `sideOutputLateData` also captures rows OUTSIDE the
   *    window operator.
   *
   * Internally every timer/completeness comparison runs in the DELAYED
   * watermark domain (wmDelayed = true window-end watermark − lateness);
   * a wmDelayed of 0 means "no progress yet" (Spark's initial watermark),
   * so a window is complete iff `wmDelayed > 0 && wmDelayed ≥ end −
   * lateness`. The watermark advances in window-end granularity (the
   * repo's perEventUv convention): vs Flink's raw-event-time watermark it
   * runs ahead by up to one window — add a window's width to
   * `watermarkDelay` for strict parity. If the first completing batch
   * also carries late elements for the window, their re-fires subsume the
   * timer's main fire (Flink's element-before-timer interleaving); the
   * fire count is unchanged. Startup transient: the delayed watermark is
   * pinned at 0 until the stream advances past the lateness horizon, so
   * windows ending within the first `latenessSec` of event time hold
   * their main fire until then (their counts are complete when it
   * lands). Ref: HotUrlApp.java:60-61 (allowedLateness(60 s) +
   * sideOutputLateData).
   */
  def allowedLatenessCount(events: DataFrame, keyCol: String, tsCol: String,
                           windowSize: String, watermarkDelaySec: Long,
                           latenessSec: Long): Dataset[LatenessFire] =
    latenessLifecycle(
      events.select(col(keyCol).cast("string").as("k"),
        window(col(tsCol), windowSize).getField("end").as("we")),
      watermarkDelaySec, latenessSec)

  /**
   * Sliding-window form of [[allowedLatenessCount]] — the reference's
   * actual allowedLateness shape (HotUrlApp.java:58-61: 10 min / 5 s
   * sliding + lateness 60 s). Each event fans out to its size/slide
   * containing windows; every (key, window) then runs the SAME exact
   * lifecycle (timer fire, per-late-element re-fire, purge, engine drop
   * at expiry). State is per (key, window-end), bounded by the lateness
   * horizon exactly as in the tumbling form.
   */
  def allowedLatenessSlidingCount(events: DataFrame, keyCol: String,
                                  tsCol: String, sizeSec: Long, slideSec: Long,
                                  watermarkDelaySec: Long,
                                  latenessSec: Long): Dataset[LatenessFire] = {
    require(sizeSec > 0 && slideSec > 0 && sizeSec % slideSec == 0,
      s"size must be a positive multiple of slide, got $sizeSec/$slideSec")
    // containing windows [e-size, e): e runs from the first slide
    // boundary AFTER ts to the last one within ts+size, step slide
    val tsSec = unix_timestamp(col(tsCol).cast("timestamp"))
    val firstEnd = (floor(tsSec / slideSec) + 1L) * slideSec
    val ends = sequence(firstEnd,
      floor(tsSec / slideSec) * slideSec + sizeSec, lit(slideSec))
    latenessLifecycle(
      events.select(col(keyCol).cast("string").as("k"),
        explode(ends).as("we0"))
        .select(col("k"), col("we0").cast("timestamp").as("we")),
      watermarkDelaySec, latenessSec)
  }

  /** Shared (key, window-end) lateness processor of the two forms above:
    * `pairs` carries one row per (key, containing-window end). */
  private def latenessLifecycle(pairs: DataFrame, watermarkDelaySec: Long,
                                latenessSec: Long): Dataset[LatenessFire] = {
    require(latenessSec >= 0, s"latenessSec must be >= 0, got $latenessSec")
    require(watermarkDelaySec >= 0,
      s"watermarkDelaySec must be >= 0, got $watermarkDelaySec")
    val spark = pairs.sparkSession
    import spark.implicits._
    val lateMs = latenessSec * 1000L
    val delayed = s"${watermarkDelaySec + latenessSec} seconds"
    pairs
      .eventTimeWatermark("we", delayed)
      .as[(String, java.sql.Timestamp)]
      .groupByKey { case (k, we) => (k, we.getTime / 1000L) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (kw: (String, Long), rows: Iterator[(String, java.sql.Timestamp)],
         state: GroupState[LatenessCountState]) =>
          val (key, we) = kw
          val weMs = we * 1000L
          val wm = state.getCurrentWatermarkMs() // DELAYED domain
          if (state.hasTimedOut) {
            val st = state.get
            if (!st.fired && wm >= weMs) {
              // watermark jumped main-fire AND cleanup: fire, then purge
              state.remove()
              Iterator.single(LatenessFire(key, we, st.cnt))
            } else if (!st.fired) {
              // main fire; keep state for re-fires until the cleanup timer
              state.update(st.copy(fired = true))
              state.setTimeoutTimestamp(math.max(weMs, wm + 1L))
              Iterator.single(LatenessFire(key, we, st.cnt))
            } else {
              state.remove() // cleanup timer — purge
              Iterator.empty
            }
          } else {
            val complete = wm > 0L && wm >= weMs - lateMs
            var st = state.getOption.getOrElse(LatenessCountState(0L, fired = false))
            val out = ArrayBuffer.empty[LatenessFire]
            rows.foreach { _ =>
              st = st.copy(cnt = st.cnt + 1)
              if (complete) { // window already complete: per-element re-fire
                out += LatenessFire(key, we, st.cnt)
                st = st.copy(fired = true)
              }
            }
            state.update(st)
            state.setTimeoutTimestamp(math.max(
              if (st.fired) weMs else weMs - lateMs, wm + 1L))
            out.iterator
          }
      }
  }

  /** W5/W6 — tumbling event-time window count (empty keys = all-window). */
  def tumblingCountStream(df: DataFrame, tsCol: String, keys: Seq[String],
                          size: String, watermarkDelay: String): DataFrame = {
    val w = window(col(tsCol), size)
    df.eventTimeWatermark(tsCol, watermarkDelay)
      .groupBy((w +: keys.map(col)): _*)
      .agg(count(lit(1)).as("cnt"))
      .select(keys.map(col) :+ col("window.end").cast("long").as("window_end") :+ col("cnt"): _*)
  }

  /** Session windows streaming (gap-based) — the streaming twin of
    * `Windows.sessionCount`. Append mode: a session emits once the
    * watermark passes `gap` after its last event; Spark merges
    * overlapping per-event sessions in the same stateful aggregation
    * (one shuffle by key, session state bounded by the watermark). */
  def sessionCountStream(df: DataFrame, tsCol: String, keys: Seq[String],
                         gap: String, watermarkDelay: String): DataFrame =
    df.eventTimeWatermark(tsCol, watermarkDelay)
      .groupBy((session_window(col(tsCol), gap) +: keys.map(col)): _*)
      .agg(count(lit(1)).as("cnt"))
      .select(keys.map(col) ++ Seq(
        col("session_window").getField("start").cast("long").as("session_start"),
        col("session_window").getField("end").cast("long").as("session_end"),
        col("cnt")): _*)

  /** A5 streaming — exact distinct per tumbling window via
    * watermark-scoped dropDuplicates (state is evicted once the window
    * falls behind the watermark; the reference buffered a HashSet per
    * window, UvCountApp.java:58-79). */
  def distinctCountStream(df: DataFrame, tsCol: String, distinctCol: String,
                          size: String, watermarkDelay: String): DataFrame =
    df.eventTimeWatermark(tsCol, watermarkDelay)
      // dedup key = (value, containing window): the window struct derives
      // from the watermarked event time, so dedup state for a window is
      // evicted once the watermark passes it
      .withColumn("_w", window(col(tsCol), size))
      .dropDuplicates(distinctCol, "_w")
      .groupBy(col("_w"))
      .agg(count(lit(1)).as("uv"))
      .select(col("_w.end").cast("long").as("window_end"), col("uv"))

  /** A7 streaming — approximate distinct per window (HLL++), replaces the
    * bloom-filter + Redis bitmap (UvCountWithBloomFilterApp.java:87-161). */
  def approxDistinctStream(df: DataFrame, tsCol: String, distinctCol: String,
                           size: String, watermarkDelay: String): DataFrame =
    df.eventTimeWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), size))
      .agg(approx_count_distinct(col(distinctCol)).as("uv_approx"))
      .select(col("window.end").cast("long").as("window_end"), col("uv_approx"))

  /**
   * A6 streaming — Top-N per window via `foreachBatch`: rank-over-update
   * isn't supported inside an append streaming plan (SURVEY.md §7.4), so
   * the micro-batches of *updated window counts* are upserted into a
   * parquet state table keyed by (partCols, tieBreak) and the rank runs
   * over the MERGED state — the reference's MapState dedup-then-sort
   * pattern (HotUrlApp2.java:111-190) with the map as a distributed table
   * instead of per-key operator state. A micro-batch in update mode
   * carries only *changed* (key, window) rows; ranking the batch alone
   * (the r2 form) ranked against an incomplete competitor set, so an item
   * could be emitted rank 1 while unchanged rows outranked it.
   *
   * Each batch: anti-join the previous state against the batch keys,
   * union the batch (latest count wins), write the next state version,
   * then rank ONLY the windows the batch touched (left-semi on partCols —
   * per-batch work scales with updated windows, like the reference's
   * per-windowEnd timer firing, not with total state). `sink` receives
   * fully-merged, trustworthy ranks.
   *
   * State is versioned `v0,v1,…` under `statePath` (write-new-then-delete-
   * old — a poor man's Delta MERGE; at 100 TB the same loop targets a real
   * lakehouse MERGE INTO). Windows no longer updatable (behind the
   * watermark) stop being touched and cost nothing per batch; `retain`
   * additionally bounds the state table itself — it filters the merged
   * state before each write, with the current batch in scope, e.g.
   *
   *   retain = (state, batch) => state.filter(col("window_end") >=
   *     lit(batch.agg(max("window_end")).head.getLong(0) - horizonSec))
   *
   * (the reference's timer-fired `MapState.clear`,
   * HotUrlApp2.java:111-190, as a declarative retention predicate).
   */
  def topNPerWindowStream(counts: DataFrame, partCols: Seq[String],
                          orderCol: String, tieBreak: String, n: Int,
                          statePath: String,
                          retain: (DataFrame, DataFrame) => DataFrame =
                            (state, _) => state,
                          // "update" for windowed-agg feeds; "append" when
                          // the feed is an append-mode stateful operator
                          // (e.g. allowedLateness* fires — their re-fires
                          // carry the corrected count as new rows, and the
                          // latest-wins upsert merges them identically)
                          outputMode: String = "update")(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    counts.twinWriteStream.outputMode(outputMode).foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        // update mode runs no-data batches to advance the watermark; they
        // can't change any rank, so skip the state churn entirely
        if (!batch.isEmpty) {
        val spark = batch.sparkSession
        val root = new org.apache.hadoop.fs.Path(statePath)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // Only committed versions count: a crash mid-write leaves a partial
        // v{n+1} dir that sorts newest — without the _SUCCESS marker check
        // the merge would silently read truncated state and persist the
        // loss forward. Spark writes _SUCCESS on successful job commit.
        val versions =
          if (fs.exists(root))
            fs.listStatus(root).map(_.getPath)
              .filter(p => p.getName.matches("v\\d+") &&
                fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
              .map(_.getName.drop(1).toLong).sorted
          else Array.empty[Long]
        val keyCols = partCols :+ tieBreak
        // One row per key per batch before the upsert: an update-mode agg
        // feed already satisfies this, but an append-mode lateness feed
        // can carry several re-fires of the SAME key in one batch — keep
        // the highest count (fires are monotone per key).
        val wB = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols.map(col): _*).orderBy(col(orderCol).desc)
        val latest = batch.withColumn("_rnb",
            org.apache.spark.sql.functions.row_number().over(wB))
          .filter(col("_rnb") === 1).drop("_rnb")
        val merged0 = versions.lastOption match {
          case Some(vmax) =>
            val prev = spark.read.parquet(
              new org.apache.hadoop.fs.Path(root, s"v$vmax").toString)
            prev.join(latest, keyCols, "left_anti").unionByName(latest)
          case None => latest
        }
        val merged = retain(merged0, latest)
        val next = new org.apache.hadoop.fs.Path(root,
          s"v${versions.lastOption.getOrElse(-1L) + 1L}")
        merged.write.mode("overwrite").parquet(next.toString)
        val state = spark.read.parquet(next.toString)
        val touched = batch.select(partCols.map(col): _*).distinct()
        val ranked = Windows.topNPerWindow(
          state.join(broadcast(touched), partCols, "left_semi"),
          partCols, orderCol, tieBreak, n)
        sink(ranked, batchId)
        versions.foreach(v =>
          fs.delete(new org.apache.hadoop.fs.Path(root, s"v$v"), true))
        }
    }

  /** Convenience: run an AvailableNow pass writing top-N per window into an
    * in-memory list via the sink callback (tests / bounded replay). State
    * lives in a fresh temp dir unless `statePath` is given. */
  def runTopNAvailableNow(counts: DataFrame, partCols: Seq[String],
                          orderCol: String, tieBreak: String, n: Int,
                          statePath: String = null)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val path = Option(statePath).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_topn_state").toString)
    topNPerWindowStream(counts, partCols, orderCol, tieBreak, n, path)(sink)
      .trigger(Trigger.AvailableNow()).start()
  }

  /** Per-window bloom-bitmap UV state: fixed-size bitmap + running count —
    * the reference's Redis bitmap (`setbit`/`getbit`,
    * UvCountWithBloomFilterApp.java:100-126) as Spark-managed state. */
  final case class BloomUvState(bitmap: Array[Byte], uv: Long)

  final case class UvUpdate(window_end: Long, uv: Long)

  /**
   * W9/A7/K3 — per-event UV emission (FIRE_AND_PURGE parity,
   * UvCountWithBloomFilterApp.java:64-161): keyed by tumbling window end,
   * every arriving event tests-and-sets its user's bit in a bounded bitmap
   * and emits the running UV. Memory is `2^bitsLog2 / 8` bytes per open
   * window regardless of cardinality (the reference used 2^29 bits in
   * Redis); collisions undercount exactly like the reference's bloom.
   * Event-time timeout evicts a window's bitmap once the watermark passes.
   *
   * `events` needs `ts` (timestamp) and `user` columns.
   */
  def perEventUv(events: DataFrame, windowSize: String,
                 watermarkDelay: String, bitsLog2: Int = 20): Dataset[UvUpdate] = {
    require(bitsLog2 >= 3 && bitsLog2 <= 31,
      s"bitsLog2 must be in [3, 31], got $bitsLog2")
    val spark = events.sparkSession
    import spark.implicits._
    val sizeBytes = 1 << (bitsLog2 - 3)
    val mask = (1L << bitsLog2) - 1L
    events
      .select(window(col("ts"), windowSize).getField("end").as("we"),
        col("user").cast("long").as("user"))
      .eventTimeWatermark("we", watermarkDelay)
      .as[(java.sql.Timestamp, Long)]
      .groupByKey(_._1.getTime / 1000L)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (windowEnd: Long, rows: Iterator[(java.sql.Timestamp, Long)],
         state: GroupState[BloomUvState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var st = state.getOption.getOrElse(BloomUvState(new Array[Byte](sizeBytes), 0L))
            val out = ArrayBuffer.empty[UvUpdate]
            rows.foreach { case (_, user) =>
              // reference's 31-polynomial hash intent → any stable hash; use
              // a mixed multiplicative hash of the user id
              val h = (java.lang.Long.rotateLeft(user * 0x9E3779B97F4A7C15L, 31) & mask).toInt
              val byteIdx = h >>> 3
              val bit = (1 << (h & 7)).toByte
              val seen = (st.bitmap(byteIdx) & bit) != 0
              if (!seen) {
                st.bitmap(byteIdx) = (st.bitmap(byteIdx) | bit).toByte
                st = BloomUvState(st.bitmap, st.uv + 1)
              }
              out += UvUpdate(windowEnd, st.uv) // emit per event (FIRE_AND_PURGE)
            }
            state.update(st)
            // evict this window's bitmap once the watermark passes its end
            state.setTimeoutTimestamp(math.max(windowEnd * 1000L,
              state.getCurrentWatermarkMs() + 1L))
            out.iterator
          }
      }
  }
}
