package e2ebench

import java.io.PrintWriter
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.model.{AdClickEvent, OrderEvent, ReceiptEvent}
import graft.operators.{Detectors, Joins, Windows}
import graft.streaming.{StreamDetectors, StreamJoins, StreamWindows}

/** One generated event. `ts` is epoch seconds; `kind` is one of view,
  * click, create, pay, receipt. */
final case class Ev(eventId: Long, ts: Long, userId: Long, kind: String, itemId: Long,
                    orderId: Long, txId: String)

/**
 * Seeded tick generator for the stream workload. Ticks cover consecutive
 * spans of event time, so event time never goes back across ticks;
 * inside a tick events arrive shuffled (the out-of-order share). Sizes
 * are bursty: three small ticks, then a burst. Orders are created,
 * paid within the timeout or never, and paid orders get a receipt that
 * may fall outside the reconcile bounds.
 */
final class TickGen(seed: Long) {
  private val rnd = new SplittableRandom(seed)
  private var clock = 1704067200L // 2024-01-01T00:00:00Z
  private var nextEvent = 0L
  private var nextOrder = 0L
  private val scheduled = mutable.PriorityQueue.empty[(Long, Ev)](Ordering.by(-_._1))
  val spanSec = 120L
  val LatePercent = 5
  val users = 400
  val hotUser = rnd.nextInt(users).toLong
  val hotItem = rnd.nextInt(50).toLong

  private def zipf(n: Int): Long = {
    // inverse-power sample: small ids are hot
    val u = rnd.nextDouble()
    math.min(n - 1, (math.pow(n + 1.0, u) - 1.0).toLong)
  }

  private var sized = 0

  /** Tick sizes repeat a fixed shape, three small ticks then a burst,
    * so runs of equal length see the same mix. */
  def nextSize(): Int = {
    sized += 1
    if (sized % 4 == 0) 4800 + rnd.nextInt(400) else 400 + rnd.nextInt(200)
  }

  /** The next tick: `size` fresh events plus the pays and receipts that
    * fall due in its span. */
  def tick(size: Int): Seq[Ev] = {
    val start = clock
    val end = clock + spanSec
    val evs = ArrayBuffer.empty[Ev]
    def id(): Long = { nextEvent += 1; nextEvent }
    (0 until size).foreach { _ =>
      val ts = start + rnd.nextLong(spanSec)
      val r = rnd.nextInt(100)
      if (r < 55) evs += Ev(id(), ts, zipf(users), "view", zipf(50), 0L, "")
      else if (r < 80) {
        val hot = rnd.nextInt(10) == 0
        evs += Ev(id(), ts, if (hot) hotUser else zipf(users), "click",
          if (hot) hotItem else zipf(50), 0L, "")
      } else if (r < 97) {
        nextOrder += 1
        evs += Ev(id(), ts, 0L, "create", 0L, nextOrder, "")
        if (rnd.nextInt(5) > 0) {
          val payAt = ts + rnd.nextLong(StreamWorkload.TimeoutSec)
          scheduled += payAt -> Ev(0L, payAt, 0L, "pay", 0L, nextOrder, s"tx$nextOrder")
        }
      } else {
        // a pay for an order that was never created
        nextOrder += 1
        evs += Ev(id(), ts, 0L, "pay", 0L, nextOrder, s"tx$nextOrder")
      }
    }
    while (scheduled.nonEmpty && scheduled.head._1 < end) {
      val e = scheduled.dequeue()._2
      val ts = math.max(e.ts, start)
      evs += e.copy(eventId = id(), ts = ts)
      if (e.kind == "pay" && rnd.nextInt(10) > 0) {
        val at = ts - 3L + rnd.nextLong(12L)
        scheduled += at -> Ev(0L, at, 0L, "receipt", 0L, e.orderId, e.txId)
      }
    }
    clock = end
    // arrival order: event time, except a late share that arrives at
    // the end of the tick, behind later events
    val (late, onTime) = evs.sortBy(_.ts).partition(_ => rnd.nextInt(100) < LatePercent)
    (onTime ++ late).toSeq
  }

  /** Event time of the sentinel; no fed event or window reaches it. */
  def sentinelFrom: Long = clock + 100000L

  /** Events far past everything fed, one of every kind, that move every
    * query's watermark beyond its last open window and timer. */
  def sentinel(): Seq[Ev] = {
    val ts = sentinelFrom
    Seq("view", "click", "create", "pay", "receipt").map { k =>
      Ev(-1L, ts, -1L, k, -1L, -1L, "sentinel")
    }
  }
}

/**
 * The gmall analytics through the program's streaming twins, each its own
 * streaming query over its own in-memory source, fed by one closed-loop
 * client: make a tick, then hand it to each query in turn and wait until
 * that query has committed it. An op is one query's micro-batches for
 * the tick: the one that carries its events and the no-data batch that
 * the tick's watermark calls for. Its latency runs from the hand-off of
 * the tick's events to the end of the last of those batches' sink calls.
 * The sink keeps each batch's rows in a buffer, so its cost per batch
 * does not grow with run length.
 *
 * After the measured loop, a sentinel tick flushes every window and timer,
 * and each query's output is compared with its batch twin over the
 * events that were fed.
 */
final class StreamWorkload(spark: SparkSession, seed: Long, out: String, seconds: Double,
                           trace: Boolean, spans: PrintWriter) {
  import spark.implicits._
  import StreamWorkload._

  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  /** A streaming twin: the query over a stream of [[Ev]], and the same
    * analytics in batch over the fed events; both as canonical rows. */
  private final class Twin(val name: String, val stream: Dataset[Ev] => DataFrame,
                           val batch: Dataset[Ev] => DataFrame,
                           val streamRows: Seq[Row] => Seq[String] = _.map(_.mkString("|")),
                           val batchRows: Seq[Row] => Seq[String] = _.map(_.mkString("|")))

  private def views(ds: Dataset[Ev]): DataFrame =
    ds.filter(col("kind") === "view")
      .select(timestamp_seconds(col("ts")).as("ets"), col("itemId"))
  private def clicks(ds: Dataset[Ev]): Dataset[AdClickEvent] =
    ds.filter(col("kind") === "click").select(col("userId"), col("itemId").as("adId"),
      concat(lit("p_"), col("itemId") % 10).as("province"),
      concat(lit("c_"), col("itemId") % 7).as("city"), col("ts").as("timestamp"))
      .as[AdClickEvent]
  private def orders(ds: Dataset[Ev]): Dataset[OrderEvent] =
    ds.filter(col("kind").isin("create", "pay")).select(col("orderId"),
      col("kind").as("eventType"), col("txId"), col("ts").as("eventTime")).as[OrderEvent]
  private def pays(ds: Dataset[Ev]): Dataset[OrderEvent] =
    orders(ds).filter(col("eventType") === "pay")
  private def receipts(ds: Dataset[Ev]): Dataset[ReceiptEvent] =
    ds.filter(col("kind") === "receipt").select(col("txId"),
      when(col("orderId") % 2 === 0, "wechat").otherwise("alipay").as("payChannel"),
      col("ts").as("timestamp")).as[ReceiptEvent]
  private def usec(c: String) = (col(c) * 1000000L)

  private val twins: Seq[Twin] = Seq(
    new Twin("hot_items",
      ds => StreamWindows.slidingCountRollupStream(views(ds), "ets", Seq("itemId"), 3600L, 300L, Watermark)
        .select("itemId", "window_end", "cnt"),
      ds => Windows.slidingCountRollup(views(ds), "ets", Seq("itemId"), 3600L, 300L)
        .select("itemId", "window_end", "cnt")),
    new Twin("blacklist",
      ds => StreamDetectors.blacklistStream(clicks(ds), BlacklistThreshold, Watermark)
        .select(col("userId"), col("adId"), col("timestamp"), col("status")),
      ds => clicks(ds).groupBy(col("userId"), col("adId"),
          ((col("timestamp") + 8L * 3600L) / 86400L).cast("long").as("day"))
        .agg(count(lit(1)).as("n")),
      // forwarded clicks and warnings per key and UTC+8 day; the batch
      // twin gives the click count, from which both follow
      rows => rows.map(_.toSeq).groupBy(r => (r(0), r(1), StreamDetectors.utc8Day(r(2).asInstanceOf[Long]), r(3)))
        .map { case (k, v) => s"${k._1}|${k._2}|${k._3}|${k._4}|${v.size}" }.toSeq,
      rows => blacklistExpected(rows.map(_.mkString("|")))),
    new Twin("order_timeout",
      ds => StreamDetectors.orderTimeoutStream(orders(ds), TimeoutSec, Watermark)
        .select("orderId", "resultType"),
      ds => {
        val o = orders(ds)
        val creates = o.filter(col("eventType") === "create")
          .select(col("orderId"), usec("eventTime").as("start_usec"))
        val ps = o.filter(col("eventType") === "pay")
          .select(col("orderId"), usec("eventTime").as("pay_usec"))
        Detectors.sequenceTimeout(creates, ps, "orderId", "start_usec", "pay_usec", TimeoutSec)
          .select(col("orderId"),
            when(col("status") === "payed", "payed").otherwise("pay timeout").as("resultType"))
          .union(ps.join(creates, Seq("orderId"), "left_anti")
            .select(col("orderId"), lit("payed timeout").as("resultType")))
      }),
    new Twin("interval_join",
      ds => StreamJoins.intervalJoinStream(pays(ds), receipts(ds), ReconcileLower, ReconcileUpper, Watermark)
        .select("txId", "orderId", "pay_sec", "receipt_sec"),
      ds => Joins.intervalJoin(
          pays(ds).select(col("txId"), col("orderId"), usec("eventTime").as("pay_usec")),
          receipts(ds).select(col("txId"), usec("timestamp").as("receipt_usec")),
          "txId", "pay_usec", "receipt_usec", ReconcileLower, ReconcileUpper)
        .select(col("l.txId"), col("orderId"), (col("pay_usec") / 1000000L).cast("long"),
          (col("receipt_usec") / 1000000L).cast("long"))))

  /** One running twin: its source, query and sink. */
  private final class Running(val twin: Twin, val source: MemoryStream[Ev], val query: StreamingQuery,
                              val rows: ArrayBuffer[Row], val commitNs: ConcurrentHashMap[Long, Long]) {
    private val seen = mutable.Set.empty[(Long, String)]
    val progress = ArrayBuffer.empty[StreamingQueryProgress]

    /** Progress reported since the last call. An idle trigger reports the
      * id of the batch that runs next, so a batch id can appear twice. */
    def newProgress(): Seq[StreamingQueryProgress] = {
      val fresh = query.recentProgress.filter(p => seen.add(p.batchId -> p.timestamp)).toSeq
      progress ++= fresh
      fresh
    }
  }

  /** Sink commits counted into ops, over all ops. */
  private var batchesTimed = 0L

  private def start(t: Twin): Running = {
    val source = MemoryStream[Ev]
    val rows = ArrayBuffer.empty[Row]
    val commitNs = new ConcurrentHashMap[Long, Long]()
    val q = t.stream(source.toDS()).writeStream
      .queryName(t.name)
      .outputMode("append")
      .option("checkpointLocation", s"$out/stream-checkpoints/${t.name}")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val got = batch.collect()
        rows.synchronized(rows ++= got)
        commitNs.put(id, System.nanoTime())
        ()
      }
      .start()
    new Running(t, source, q, rows, commitNs)
  }

  /** Hands one tick to each query in turn and waits until that query has
    * committed it and run the no-data batch its new watermark calls for,
    * so no query's work overlaps another's op; returns each query's op
    * for this tick. The op ends at the last sink commit of those batches:
    * the no-data batch is where windows close and timers fire, so its
    * rows are part of the tick's result. */
  private def feed(running: Seq[Running], tick: Seq[Ev]): Seq[Op] =
    running.map { r =>
      val createdNs = System.nanoTime()
      r.source.addData(tick)
      val deadline = createdNs + 60L * 1000000000L
      var data: Option[StreamingQueryProgress] = None
      while (data.isEmpty && System.nanoTime() < deadline) {
        r.query.exception.foreach(e => throw new Crash(r.twin.name, s"stream query failed: $e", e))
        data = r.newProgress().find(_.numInputRows > 0)
        if (data.isEmpty) Thread.sleep(1)
      }
      r.query.processAllAvailable()
      data match {
        case Some(p) =>
          val commits = r.commitNs.asScala.collect { case (id, ns) if id >= p.batchId => ns }
          batchesTimed += commits.size
          Op(r.twin.name, (commits.max - createdNs) / 1e6, tick.size, None)
        case None =>
          Op(r.twin.name, (System.nanoTime() - createdNs) / 1e6, tick.size,
            Some("no progress for the tick within 60 s"))
      }
    }

  def run(): Outcome = {
    val gen = new TickGen(seed)
    val fed = ArrayBuffer.empty[Ev]
    val running = twins.map(start)
    def next(size: Int): Seq[Ev] = {
      val t = gen.tick(size)
      fed ++= t
      t
    }
    // warm-up: two ticks through every query; after one, JIT compilation
    // still slows the first measured tick
    Seq(500, 1000).foreach(n => feed(running, next(n)))
    running.foreach(_.newProgress())
    running.foreach(_.progress.clear())
    batchesTimed = 0L
    val setupS = Main.sinceJvmStart()

    val probe = new Probe(spark)
    val ops = ArrayBuffer.empty[Op]
    val tickMs = ArrayBuffer.empty[(Boolean, Double)]
    var firstTraced: Option[(Layers, Seq[StreamingQueryProgress])] = None
    val t0 = System.nanoTime()
    var ticks = 0
    // whole passes of the tick shape, so every run sees the same mix
    while (ticks < (if (trace) 2 * TracePass else TracePass) || ticks % TracePass != 0 ||
        (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = trace && (ticks / TracePass) % 2 == 0
      if (traced) { if (ticks % TracePass == 0) probe.layers = new Layers; probe.attach() }
      else probe.detach()
      val tick = next(gen.nextSize())
      val startMs = System.currentTimeMillis()
      val rowsBefore = running.map(r => r.rows.synchronized(r.rows.size)).sum
      val tickOps = feed(running, tick)
      ops ++= tickOps
      tickMs += traced -> tickOps.map(_.ms).sum
      if (traced) {
        probe.closeOp(startMs, System.currentTimeMillis())
        val rowsOut = running.map(r => r.rows.synchronized(r.rows.size)).sum - rowsBefore
        probe.layers.synchronized(probe.layers.rowsOut += rowsOut)
        spans.println(s"""{"tick": $ticks, "events": ${tick.size}, "ops": [""" +
          tickOps.map(o => s"""{"op": ${Main.str(o.name)}, "ms": ${o.ms}}""").mkString(", ") + "]}")
        if (firstTraced.isEmpty && ticks == TracePass - 1)
          firstTraced = Some(probe.layers -> running.flatMap(_.progress).toSeq)
      }
      ticks += 1
    }
    val measureS = (System.nanoTime() - t0) / 1e9
    probe.detach()
    val progress = firstTraced.map(_._2).getOrElse(Nil)
    running.foreach(_.query.processAllAvailable())
    val heapMb = Main.retainedHeapMb()
    val stateRows = running.flatMap(_.query.lastProgress.stateOperators.map(_.numRowsTotal)).sum

    // flush windows and timers, then compare with the batch twins
    val t1 = System.nanoTime()
    val failed = verify(running, gen, fed.toSeq)
    running.foreach(_.query.stop())
    val checkS = (System.nanoTime() - t1) / 1e9
    val checked = ops.map(o => if (o.failure.isEmpty && failed.contains(o.name))
      o.copy(failure = Some(failed(o.name))) else o)

    val layers = if (!trace) Map.empty[String, Double] else {
      val tracedMs = tickMs.filter(_._1).map(_._2).sorted
      val plainMs = tickMs.filterNot(_._1).map(_._2).sorted
      val overhead = tracedMs(tracedMs.size / 2) / plainMs(plainMs.size / 2) - 1.0
      val fedDs = fed.toSeq.toDS()
      firstTraced.get._1.toMap(Main.cores) ++ streamLayers(progress) ++
        Kernels.time(spark, fedDs.select(concat_ws(" ", col("kind"), col("txId"), col("itemId").cast("string"))),
          fedDs.select(array(col("ts").cast("double"), col("userId").cast("double")))) +
        ("trace.overhead_share" -> overhead)
    }
    Outcome(setupS, checked.toSeq, layers,
      Map("ticks" -> ticks.toDouble, "heap_retained_mb" -> heapMb, "state_rows_end" -> stateRows.toDouble,
        "measure_s" -> measureS, "check_s" -> checkS,
        "events_fed" -> fed.size.toDouble,
        "batches_per_op" -> batchesTimed.toDouble / math.max(1, ops.size),
        "events_late_share" -> lateShare(fed.toSeq)))
  }

  private def lateShare(evs: Seq[Ev]): Double = {
    var max = Long.MinValue
    var late = 0
    evs.foreach { e => if (e.ts < max) late += 1; max = math.max(max, e.ts) }
    late.toDouble / math.max(1, evs.size)
  }

  /** Flushes every query with a sentinel tick and compares its output
    * with the batch twin; returns the twins whose outputs differ. */
  private def verify(running: Seq[Running], gen: TickGen, fed: Seq[Ev]): Map[String, String] = {
    val sentinelFrom = gen.sentinelFrom
    // processAllAvailable returns only once the no-data batch that the
    // sentinel's watermark calls for has run too
    val s = gen.sentinel()
    running.foreach(_.source.addData(s))
    running.foreach(_.query.processAllAvailable())
    val fedDs = fed.toDS()
    running.flatMap { r =>
      val t = r.twin
      val streamed = t.streamRows(r.rows.synchronized(r.rows.toSeq)
        .filterNot(_.toSeq.exists {
          case v: Long => v == -1L || v >= sentinelFrom
          case v => v == "sentinel"
        })).sorted
      val want = t.batchRows(t.batch(fedDs).collect().toSeq).sorted
      if (streamed == want) None
      else Some(t.name -> (s"stream output (${streamed.size} rows) differs from its batch twin (${want.size} rows): " +
        s"first difference ${streamed.diff(want).headOption.orElse(want.diff(streamed).headOption).getOrElse("")}"))
    }.toMap
  }

  /** Batch click counts per key and day → forwarded clicks and warnings. */
  private def blacklistExpected(rows: Seq[String]): Seq[String] = rows.flatMap { r =>
    val Array(u, a, d, n) = r.split('|')
    val c = n.toLong
    Seq(s"$u|$a|$d|click|${math.min(c, BlacklistThreshold)}") ++
      (if (c > BlacklistThreshold) Seq(s"$u|$a|$d|warning|1") else Nil)
  }

  private def streamLayers(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def dur(k: String): Double = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
    val ops = ps.flatMap(_.stateOperators)
    val last = ps.groupBy(_.name).values.map(_.maxBy(_.batchId)).toSeq
    Map(
      "streaming.trigger_ms" -> dur("triggerExecution"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.state_update_ms" -> ops.map(_.allUpdatesTimeMs.toDouble).sum,
      "streaming.state_commit_ms" -> ops.map(_.commitTimeMs.toDouble).sum,
      "streaming.state_rows" -> last.flatMap(_.stateOperators).map(_.numRowsTotal.toDouble).sum,
      "streaming.state_memory_bytes" -> last.flatMap(_.stateOperators).map(_.memoryUsedBytes.toDouble).sum,
      "streaming.rows_dropped_late" -> ops.map(_.numRowsDroppedByWatermark.toDouble).sum,
      "streaming.empty_trigger_share" ->
        (if (ps.isEmpty) 0.0 else ps.count(_.numInputRows == 0).toDouble / ps.size))
  }
}

object StreamWorkload {
  val Watermark = "10 seconds"
  val TimeoutSec = 900L
  val BlacklistThreshold = 20L
  val ReconcileLower = 3L
  val ReconcileUpper = 5L
  /** Ticks per pass: one round of the tick shape. */
  val TracePass = 4
}
