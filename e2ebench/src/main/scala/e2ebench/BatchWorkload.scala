package e2ebench

import java.io.PrintWriter

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.sources.Tables

/**
 * The batch workload: the program's registry gates, run one at a time
 * in a closed loop. An op builds the gate's DataFrame and runs it to a
 * complete result (its row-multiset digest).
 *
 * Set-up warms every gate twice. The first warm-up writes its result to
 * `<out>/outputs/<gate>` for `run.py`'s DuckDB oracle check; every later
 * op's digest must equal that warm-up digest, or the op fails. The
 * second warm-up is an untimed pass like a measured one: after a single
 * warm-up, code generation and JIT compilation still slowed the next
 * pass by a tenth to a third, most on a busy host. Measurement runs
 * whole passes over the gates, at least one, until `seconds` have
 * passed, so every run sees the same mix of gates.
 */
final class BatchWorkload(spark: SparkSession, data: String, out: String,
                          seconds: Double, trace: Boolean, spans: PrintWriter) {

  /** The paper's analytics gates; each reads the events table. */
  private val gates: Seq[String] = Seq(
    "hot_items", "hot_items_sql_auto", "hot_urls", "pv_tumbling", "uv_exact",
    "uv_approx", "uv_bitmap", "channel_behavior", "ad_province", "blacklist",
    "login_fail", "order_timeout", "cep_login_fail", "cep_order_timeout",
    "interval_join", "reconcile", "funnel_steps")

  def run(): Outcome = {
    val inputRows = Tables.load(spark, data, "events").count()
    val reference = gates.map(g => g -> warm(g)).toMap
    val probe = new Probe(spark)
    gates.foreach(g => measure(g, -1, traced = false, probe, reference(g), inputRows))
    val setupS = Main.sinceJvmStart()
    val oracles = gates.flatMap(g => SparkEntry.oracleSql.get(g).map(g -> _))
    val w = new PrintWriter(s"$out/oracle_sql.json")
    try w.println(oracles.map { case (g, q) => s"${Main.str(g)}: ${Main.str(q)}" }.mkString("{", ",\n", "}"))
    finally w.close()

    val ops = ArrayBuffer.empty[Op]
    val passMs = ArrayBuffer.empty[(Boolean, Double)]
    var firstTraced: Option[Layers] = None
    val t0 = System.nanoTime()
    var pass = 0
    // trace mode alternates traced and untraced passes, at least one of
    // each, to report the overhead of tracing
    while (pass < (if (trace) 2 else 1) || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = trace && pass % 2 == 0
      if (traced) { probe.layers = new Layers; probe.attach() } else probe.detach()
      val passStart = System.nanoTime()
      gates.foreach(g => ops += measure(g, pass, traced, probe, reference(g), inputRows))
      passMs += traced -> (System.nanoTime() - passStart) / 1e6
      if (traced && firstTraced.isEmpty) firstTraced = Some(probe.layers)
      pass += 1
    }
    probe.detach()

    val notes = ArrayBuffer("passes" -> pass.toDouble, "measure_s" -> (System.nanoTime() - t0) / 1e9)
    val layers = if (!trace) Map.empty[String, Double] else {
      val tracedMs = passMs.filter(_._1).map(_._2)
      val plainMs = passMs.filterNot(_._1).map(_._2)
      val overhead = median(tracedMs.toSeq) / median(plainMs.toSeq) - 1.0
      firstTraced.get.toMap(Main.cores) ++ NoStream.layers ++ kernels() +
        ("trace.overhead_share" -> overhead)
    }
    notes += "heap_retained_mb" -> Main.retainedHeapMb()
    Outcome(setupS, ops.toSeq, layers, notes.toMap)
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

  /** Warm-up op: runs the gate once, keeps its result for the oracle
    * check, and returns the digest measured ops must reproduce. */
  private def warm(g: String): (Long, BigDecimal) =
    try {
      val path = s"$out/outputs/$g"
      SparkEntry.queries(g)(spark, data).write.mode("overwrite").parquet(path)
      Main.digest(spark.read.parquet(path))
    } catch {
      case e: Throwable => throw new Crash(g, s"warm-up failed: $e", e)
    }

  private def measure(g: String, pass: Int, traced: Boolean, probe: Probe,
                      expected: (Long, BigDecimal), inputRows: Long): Op = {
    val startMs = System.currentTimeMillis()
    val plannedBefore = if (traced) planMs(probe.layers) else 0L
    val jobsBefore = probe.layers.jobs
    val t0 = System.nanoTime()
    try {
      val df = SparkEntry.queries(g)(spark, data)
      val t1 = System.nanoTime()
      var buildJobs = 0L
      if (traced) {
        probe.drain()
        buildJobs = probe.layers.jobs
      }
      val got = Main.digest(df)
      val t2 = System.nanoTime()
      val ms = (t2 - t0) / 1e6
      if (traced) {
        val l = probe.layers
        probe.closeOp(startMs, System.currentTimeMillis())
        l.synchronized {
          l.buildMs += (t1 - t0) / 1e6
          l.buildJobs += buildJobs - jobsBefore
          l.rowsOut += got._1
        }
        spans.println(s"""{"op": ${Main.str(g)}, "pass": $pass, "build_ms": ${(t1 - t0) / 1e6}, """ +
          s""""plan_ms": ${planMs(l) - plannedBefore}, "execute_ms": ${(t2 - t1) / 1e6}, "rows": ${got._1}}""")
      }
      val failure =
        if (got == expected) None
        else Some(s"result digest $got differs from warm-up digest $expected")
      Op(g, ms, inputRows, failure)
    } catch {
      case e: Exception =>
        if (traced) probe.closeOp(startMs, System.currentTimeMillis())
        Op(g, (System.nanoTime() - t0) / 1e6, inputRows, Some(e.toString))
    }
  }

  private def planMs(l: Layers): Long =
    l.synchronized(l.analysisMs + l.optimizerMs + l.planningMs)

  /** Native-kernel timings on the events' own text and numeric columns. */
  private def kernels(): Map[String, Double] = {
    val e = Tables.events(spark, data)
    Kernels.time(spark, e.select(col("props")),
      e.select(array(col("value"), col("user_id").cast("double"))))
  }
}
