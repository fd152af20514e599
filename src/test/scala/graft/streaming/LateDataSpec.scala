package graft.streaming

import java.io.PrintWriter
import java.net.ServerSocket
import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, StreamingQueryProgress}

import graft.SparkSuite

/**
 * W7/W8/W9 + S2 semantics (SURVEY.md §2.3, §2.6):
 *  - allowedLateness → delayed watermark + update mode re-emits corrected
 *    window rows for late-but-inside-horizon events;
 *  - later-than-horizon rows are dropped and accounted in
 *    StreamingQueryProgress (numRowsDroppedByWatermark) — the side-output
 *    accounting slice;
 *  - FIRE_AND_PURGE per-event emission via the bloom-bitmap UV operator;
 *  - socket source smoke (S2).
 */
class LateDataSpec extends SparkSuite {

  import spark.implicits._

  test("W7: late row within horizon re-fires its window in update mode") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val counts = StreamWindows.tumblingCountStream(
      input.toDS().select(col("_1").as("url"),
        col("_2").cast("timestamp").as("ts")),
      "ts", Seq("url"), "60 seconds", "61 seconds")
    val q = counts.writeStream.format("memory").queryName("late1")
      .outputMode("update").start()
    try {
      input.addData(Seq(("/a", 10L), ("/a", 20L), ("/a", 70L), ("/a", 130L)))
      q.processAllAvailable() // watermark → 130-61 = 69
      // late row at t=80: out of order (max seen 130) but above the
      // watermark → accepted, window [60,120) re-fires corrected
      input.addData(Seq(("/a", 80L)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("late1")
      .select("url", "window_end", "cnt").as[(String, Long, Long)].collect().toSeq
    val w120 = rows.filter(_._2 == 120L).map(_._3)
    assert(w120.contains(1L) && w120.contains(2L),
      s"window 120 must emit count 1 then corrected 2, got $rows")
  }

  test("W7: exact Flink lateness lifecycle — fire, per-element re-fire, purge, drop") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    // window 60 s, delay 0, lateness 121 s: window [0,60) completes once
    // the true (window-end) watermark passes 60 and expires once it passes
    // 181 — 121 (not 120) keeps the re-fire rows STRICTLY above the
    // delayed watermark at the 180-end step below
    val fires = StreamWindows.allowedLatenessCount(
      input.toDS().select(col("_1").as("url"),
        col("_2").cast("timestamp").as("ts")),
      "url", "ts", windowSize = "60 seconds", watermarkDelaySec = 0L,
      latenessSec = 121L)
    val q = fires.writeStream.format("memory").queryName("w7exact")
      .outputMode("append").start()
    def w60(): Seq[Long] = spark.table("w7exact")
      .filter(col("window_end") === 60L)
      .select("cnt").as[Long].collect().toSeq.sorted
    try {
      input.addData(Seq(("/a", 10L), ("/a", 20L))) // window [0,60): cnt 2
      q.processAllAvailable()
      assert(w60().isEmpty, "no emission before the watermark passes the end")
      input.addData(Seq(("/a", 150L)))  // after this batch: window-end wm 180 → 60
      q.processAllAvailable()
      input.addData(Seq(("/a", 160L)))  // batch runs with wm=60 → MAIN FIRE timer
      q.processAllAvailable()
      assert(w60() === Seq(2L), s"main fire once with cnt=2, got ${w60()}")
      // two late-but-within-lateness elements: one re-fire EACH (3 then 4)
      input.addData(Seq(("/a", 30L), ("/a", 40L)))
      q.processAllAvailable()
      assert(w60() === Seq(2L, 3L, 4L), s"per-late-element re-fires, got ${w60()}")
      input.addData(Seq(("/a", 400L)))  // wm → 300 ≥ 60+120 → expired
      q.processAllAvailable()
      input.addData(Seq(("/a", 500L)))  // lets the purge timer run
      q.processAllAvailable()
      input.addData(Seq(("/a", 50L)))   // post-purge → dropped AND accounted
      q.processAllAvailable()
      assert(w60() === Seq(2L, 3L, 4L),
        s"an expired element must not fire again, got ${w60()}")
      val dropped = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      assert(dropped >= 1L,
        "the expired element must be dropped at the operator boundary and accounted")
    } finally q.stop()
  }

  test("W7 sliding: exact lifecycle fans out to every containing window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    // 60 s / 30 s sliding (the reference's allowedLateness shape), so an
    // event at t<30 belongs to windows ending 30 AND 60
    val fires = StreamWindows.allowedLatenessSlidingCount(
      input.toDS().select(col("_1").as("url"),
        col("_2").cast("timestamp").as("ts")),
      "url", "ts", sizeSec = 60L, slideSec = 30L,
      watermarkDelaySec = 0L, latenessSec = 121L)
    val q = fires.writeStream.format("memory").queryName("w7slide")
      .outputMode("append").start()
    def w(end: Long): Seq[Long] = spark.table("w7slide")
      .filter(col("window_end") === end)
      .select("cnt").as[Long].collect().toSeq.sorted
    try {
      input.addData(Seq(("/a", 10L), ("/a", 20L)))
      q.processAllAvailable()
      assert(w(30L).isEmpty && w(60L).isEmpty, "no emission before the end passes")
      input.addData(Seq(("/a", 90L)))   // after: window-end wm 150 → 29
      q.processAllAvailable()
      input.addData(Seq(("/a", 95L)))   // batch at wm=29 → both timers fire
      q.processAllAvailable()
      assert(w(30L) === Seq(2L) && w(60L) === Seq(2L),
        s"both containing windows main-fire with cnt=2, got ${w(30L)}/${w(60L)}")
      input.addData(Seq(("/a", 5L)))    // late, within lateness for both
      q.processAllAvailable()
      assert(w(30L) === Seq(2L, 3L) && w(60L) === Seq(2L, 3L),
        s"the late element re-fires EACH containing window, got ${w(30L)}/${w(60L)}")
    } finally q.stop()
  }

  test("W8: row later than the horizon is dropped and accounted") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val counts = StreamWindows.tumblingCountStream(
      input.toDS().select(col("_1").as("url"),
        col("_2").cast("timestamp").as("ts")),
      "ts", Seq("url"), "60 seconds", "5 seconds")
    val q = counts.writeStream.format("memory").queryName("late2")
      .outputMode("update").start()
    try {
      input.addData(Seq(("/a", 10L), ("/a", 1000L)))
      q.processAllAvailable() // watermark → 995
      input.addData(Seq(("/a", 20L))) // hopelessly late
      q.processAllAvailable()
      val dropped = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      assert(dropped >= 1L, "late row must be dropped and counted in progress")
    } finally q.stop()
    val w60 = spark.table("late2").filter(col("window_end") === 60L)
      .select("cnt").as[Long].collect().toSeq
    assert(w60.forall(_ == 1L), "dropped row must not change the window count")
  }

  test("W8: late rows are captured as DATA in the side-output branch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val src = input.toDS().select(col("_1").as("url"),
      col("_2").cast("timestamp").as("ts"))
    val lateRows = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    val onTimeRows = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    val q = StreamWindows.lateRowSideOutput(src, "ts", delaySec = 5L)(
        onTime = (df, _) => onTimeRows ++=
          df.select(col("url"), unix_micros(col("ts")) / 1000000L)
            .as[(String, Double)].collect().map(r => (r._1, r._2.toLong)),
        lateSink = (df, _) => lateRows ++=
          df.select(col("url"), unix_micros(col("ts")) / 1000000L)
            .as[(String, Double)].collect().map(r => (r._1, r._2.toLong)))
      .start()
    try {
      input.addData(Seq(("/a", 100L), ("/b", 110L))) // watermark after batch → 105
      q.processAllAvailable()
      // 50 is behind the 105 watermark → late; 107 is out of order
      // (max seen 110) but within the horizon → on-time
      input.addData(Seq(("/late", 50L), ("/ok", 107L), ("/c", 120L)))
      q.processAllAvailable()
    } finally q.stop()
    // the actual late ROW (not just a count) must come out the side branch
    assert(lateRows.toSeq === Seq(("/late", 50L)),
      s"late branch must carry the late row's data, got $lateRows")
    assert(onTimeRows.toSet ===
      Set(("/a", 100L), ("/b", 110L), ("/ok", 107L), ("/c", 120L)),
      s"on-time branch keeps within-horizon rows, got $onTimeRows")
  }

  test("W9: per-event bloom UV emits a running count per input row") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (user, sec)
    val uv = StreamWindows.perEventUv(
      input.toDS().select(col("_1").as("user"),
        col("_2").cast("timestamp").as("ts")),
      windowSize = "60 seconds", watermarkDelay = "5 seconds")
    val q = uv.writeStream.format("memory").queryName("pev")
      .outputMode("append").start()
    try {
      // 5 events, 3 distinct users in one window
      input.addData(Seq((1L, 10L), (2L, 11L), (1L, 12L), (3L, 13L), (2L, 14L)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("pev").as[StreamWindows.UvUpdate].collect().toSeq
    assert(rows.length === 5, "one emission per event (FIRE_AND_PURGE parity)")
    assert(rows.map(_.uv).max === 3L, "running UV reaches the exact distinct count")
    assert(rows.forall(_.window_end === 60L))
  }

  test("A5/A7 streaming: exact and approx distinct counts per window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (user, sec)
    val src = input.toDS()
      .select(col("_1").as("uid"), col("_2").cast("timestamp").as("ts"))
    val exact = StreamWindows.distinctCountStream(src, "ts", "uid", "60 seconds", "5 seconds")
    val approx = StreamWindows.approxDistinctStream(src, "ts", "uid", "60 seconds", "5 seconds")
    val q1 = exact.writeStream.format("memory").queryName("uvx").outputMode("update").start()
    val q2 = approx.writeStream.format("memory").queryName("uva").outputMode("update").start()
    try {
      val data = Seq((1L, 10L), (2L, 11L), (1L, 12L), (3L, 13L), (2L, 14L), (4L, 70L))
      input.addData(data)
      q1.processAllAvailable(); q2.processAllAvailable()
    } finally { q1.stop(); q2.stop() }
    val ex = spark.table("uvx").as[(Long, Long)].collect().toMap
    assert(ex === Map(60L -> 3L, 120L -> 1L))
    val ap = spark.table("uva").as[(Long, Long)].collect().toMap
    assert(ap(60L) === 3L, "HLL is exact at tiny cardinality")
  }

  test("streaming session windows ≡ batch sessionCount for closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (user, sec)
    val src = input.toDS()
      .select(col("_1").as("user_id"), col("_2").cast("timestamp").as("ts"))
    val sessions = StreamWindows.sessionCountStream(src, "ts", Seq("user_id"),
      gap = "30 seconds", watermarkDelay = "0 seconds")
    val q = sessions.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    // user 1: two sessions (10-20, then 100); user 2: one session
    val data = Seq((1L, 10L), (1L, 20L), (2L, 15L), (1L, 100L))
    try {
      input.addData(data); q.processAllAvailable()
      input.addData(Seq((9L, 100000L))); q.processAllAvailable() // close all
    } finally q.stop()
    val streamed = spark.table("sess").filter(col("user_id") =!= 9L)
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = graft.operators.Windows.sessionCount(
        data.toDF("user_id", "sec")
          .select(col("user_id"), timestamp_seconds(col("sec")).as("ts")),
        "ts", Seq("user_id"), "30 seconds")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(batch.size === 3, s"expected 3 sessions, got $batch")
  }

  /** One run of the sliding-count roll-up over `batches` into a sink that
    * keeps each row with the id of the batch that emitted it, with the
    * query stopped and restarted from its checkpoint after the first
    * `restartAfter` batches; returns the rows and every batch's progress. */
  private def rollupRun(batches: Seq[Seq[(String, Long)]], restartAfter: Int = 0)
      : (Seq[(Long, String, Long, Long)], Seq[StreamingQueryProgress]) = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val src = input.toDS().select(col("_1").as("k"), col("_2").cast("timestamp").as("ts"))
    val ckpt = Files.createTempDirectory("graft_rollup").toString
    val rows = ListBuffer.empty[(Long, String, Long, Long)]
    val progress = ListBuffer.empty[StreamingQueryProgress]
    def start() = StreamWindows.slidingCountRollupStream(src, "ts", Seq("k"),
        sizeSec = 3600L, slideSec = 300L, watermarkDelay = "0 seconds")
      .writeStream.outputMode("append").option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        val got = b.as[(String, Long, Long)].collect()
        rows.synchronized(rows ++= got.map { case (k, e, c) => (id, k, e, c) })
        ()
      }.start()
    def feed(bs: Seq[Seq[(String, Long)]]): Unit = {
      val q = start()
      try bs.foreach { b => input.addData(b); q.processAllAvailable() }
      finally { q.stop(); progress ++= q.recentProgress.filter(_.durationMs.containsKey("addBatch")) }
    }
    if (restartAfter > 0) feed(batches.take(restartAfter))
    feed(batches.drop(restartAfter))
    (rows.toList, progress.toList)
  }

  // a: slices 300, 600, 3900; b: slices 300, 4200. After the third batch
  // the watermark is 4100 s: the fourth batch's rows are behind it, one
  // (a, 4000) in the still-open slice 4200, one (b, 3000) in the closed
  // slice 3300. The last two batches close every window.
  private val rollupBatches = Seq(
    Seq(("a", 10L), ("b", 20L)), Seq(("a", 400L)), Seq(("a", 3800L), ("b", 4100L)),
    Seq(("a", 4000L), ("b", 3000L)),
    Seq(("zz", 1000000L)), Seq(("zz", 2000000L)))

  test("streaming slice roll-up ≡ batch sliding count for closed windows") {
    val (out, progress) = rollupRun(rollupBatches)
    val data = Seq(("a", 10L), ("a", 400L), ("b", 20L), ("a", 3800L), ("b", 4100L))
    val streamed = out.filter(_._2 != "zz").map(r => (r._2, r._3, r._4)).toSet
    val batch = graft.operators.Windows.slidingCount(
        data.toDF("k", "sec").select(col("k"), timestamp_seconds(col("sec")).as("ts")),
        "ts", Seq("k"), "1 hour", "5 minutes")
      .as[(String, Long, Long)].collect().toSet
    assert(streamed === batch)

    // one operator; each window once, in the first batch whose watermark
    // has reached its end, the batch the native append aggregation uses
    assert(progress.forall(_.stateOperators.length == 1))
    val windows = out.map(r => (r._2, r._3))
    assert(windows.distinct.size === windows.size, s"a window was emitted twice: $out")
    val watermarkMs = progress.map(p => p.batchId ->
      java.time.Instant.parse(p.eventTime.get("watermark")).toEpochMilli).toMap
    out.foreach { case (id, k, end, _) =>
      val first = watermarkMs.filter(_._2 >= end * 1000L).keys.min
      assert(id === first, s"($k, $end) emitted in batch $id, its watermark reached the end in $first")
    }
    assert(out.map(_._1).distinct.size >= 3, "windows close over several batches")

    // rows at or behind the watermark are dropped, open slice or not
    val late = progress.filter(_.numInputRows == 2L).filter(p =>
      watermarkMs(p.batchId) == 4100000L)
    assert(late.map(_.stateOperators.head.numRowsDroppedByWatermark) === Seq(2L))

    // a restart from the query's own checkpoint emits the same rows
    val (resumed, _) = rollupRun(rollupBatches, restartAfter = 3)
    assert(resumed.sorted === out.sorted)
  }

  test("slice roll-up refuses a checkpoint of the chained two-aggregation form") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val src = input.toDS().select(col("_1").as("k"), col("_2").cast("timestamp").as("ts"))
    val ckpt = Files.createTempDirectory("graft_rollup_chained").toString
    val chained = src.withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "300 seconds"), col("k")).agg(count(lit(1)).as("_slice_cnt"))
      .groupBy(window(col("window"), "3600 seconds", "300 seconds"), col("k"))
      .agg(sum(col("_slice_cnt")).as("cnt"))
      .select(col("k"), col("window.end").cast("long").as("window_end"), col("cnt"))
    def run(df: DataFrame, data: Seq[(String, Long)]): Unit = {
      val q = df.writeStream.outputMode("append").option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) => b.collect(); () }.start()
      try { input.addData(data); q.processAllAvailable() } finally q.stop()
    }
    run(chained, Seq(("a", 10L), ("a", 400L)))
    // Spark's state metadata names two aggregations where the plan has
    // one flatMapGroupsWithState: the restart fails, it does not resume
    val e = intercept[StreamingQueryException](run(StreamWindows.slidingCountRollupStream(
      src, "ts", Seq("k"), 3600L, 300L, "0 seconds"), Seq(("a", 4000L))))
    assert(e.getMessage.contains("STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA"))
  }

  test("S2: socket source delivers lines") {
    val server = new ServerSocket(0)
    val port = server.getLocalPort
    val writerThread = new Thread(() => {
      val s = server.accept()
      val out = new PrintWriter(s.getOutputStream, true)
      (1 to 5).foreach(i => out.println(s"line$i"))
      Thread.sleep(2000)
      out.close(); s.close()
    })
    writerThread.start()
    val lines = StreamSources.socketLines(spark, "localhost", port)
    val q = lines.writeStream.format("memory").queryName("sock").start()
    try {
      val deadline = System.currentTimeMillis() + 15000
      while (spark.table("sock").count() < 5 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
    } finally { q.stop(); server.close() }
    val got = spark.table("sock").as[String].collect().toSet
    assert(got === (1 to 5).map(i => s"line$i").toSet)
  }
}
