package e2ebench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One measured op: its latency, the input rows it processed, and why it
  * failed if it did. */
final case class Op(name: String, ms: Double, inputRows: Long, failure: Option[String])

/** What a workload hands back to [[Main]]. */
final case class Outcome(setupS: Double, ops: Seq[Op], layers: Map[String, Double],
                         notes: Map[String, Double])

/**
 * Benchmark harness entry point: one JVM, one `local[cores]` session, one
 * single-threaded client.
 *
 * `Main --workload <name> --data <dir> --out <dir> --seconds <s> --trace <0|1> --seed <n>`
 *
 * Writes `<out>/result.json`; `run.py` turns it into the benchmark's
 * result line. A crash exits non-zero and names the op that crashed.
 */
object Main {

  val cores: Int = Runtime.getRuntime.availableProcessors

  def session(out: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("e2ebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$out/checkpoints")
    spark
  }

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Heap still live after a full collection, in MB. The pauses let
    * Spark's context cleaner drop the shuffle and broadcast blocks that
    * the first collections freed. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 4).foreach { _ => System.gc(); Thread.sleep(300) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Order-insensitive digest of a result: row count and the decimal sum
    * of every row's xxhash64. Equal multisets of rows give equal digests. */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val h = xxhash64(df.columns.toSeq.map(c => df.col(s"`$c`")): _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val out = new File(opts("out")).getAbsolutePath
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val seed = opts("seed").toLong
    new File(out).mkdirs()
    val spark = session(out)
    val spans = new PrintWriter(new File(out, "spans.jsonl"))
    val outcome =
      try workload match {
        case "gmall_batch" =>
          new BatchWorkload(spark, opts("data"), out, seconds, trace, spans).run()
        case "gmall_stream" =>
          new StreamWorkload(spark, seed, out, seconds, trace, spans).run()
        case other => throw new Crash("setup", s"unknown workload $other")
      } catch {
        case c: Crash =>
          System.err.println(s"e2ebench: op ${c.op} crashed: ${c.getMessage}")
          sys.exit(3)
        case e: Throwable =>
          System.err.println(s"e2ebench: op $workload crashed: $e")
          sys.exit(3)
      } finally spans.close()
    writeResult(new File(out, "result.json"), outcome)
    spark.stop()
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def writeResult(f: File, o: Outcome): Unit = {
    def obj(m: Map[String, Double]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")
    val ops = o.ops.map { op =>
      s"""{"name": ${str(op.name)}, "ms": ${num(op.ms)}, "input_rows": ${op.inputRows}, """ +
        s""""failure": ${op.failure.map(str).getOrElse("null")}}"""
    }.mkString("[", ",\n  ", "]")
    val w = new PrintWriter(f)
    try w.println(s"""{"setup_s": ${num(o.setupS)}, "heap_retained_mb": ${num(o.notes("heap_retained_mb"))},
  "notes": ${obj(o.notes)},
  "layers": ${obj(o.layers)},
  "ops": $ops}""")
    finally w.close()
  }
}

/** A failure that ends the run: set-up, warm-up or the check of an op's
  * reference output went wrong. */
final class Crash(val op: String, msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

/** Per-row cost of the native text and vector kernels, each timed on the
  * workload's own column, materialized first so the scan is not timed. */
object Kernels {
  def time(spark: SparkSession, text: DataFrame, vectors: DataFrame): Map[String, Double] = {
    graft.functions.GraftFunctions.register(spark)
    val t = text.toDF("t").cache()
    val v = vectors.toDF("v").cache()
    val nt = t.count()
    val nv = v.count()
    def nsPerRow(df: DataFrame, rows: Long, e: String): Double = {
      val q = df.select(xxhash64(expr(e)).cast("decimal(38,0)").as("h")).agg(sum(col("h")))
      q.collect()
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); q.collect(); (System.nanoTime() - t0).toDouble
      }.sorted
      runs(1) / math.max(1L, rows)
    }
    val m = Map(
      "functions.minhash_ns_per_row" -> nsPerRow(t, nt, "graft_minhash_signature(t, 5, 64)"),
      "functions.simhash_ns_per_row" -> nsPerRow(t, nt, "graft_simhash64(t)"),
      "functions.ngram_hashes_ns_per_row" -> nsPerRow(t, nt, "graft_ngram_hashes(t, 5, false)"),
      "functions.deletion_hashes_ns_per_row" -> nsPerRow(t, nt, "graft_deletion_hashes(t, 1)"),
      "functions.dot_ns_per_row" -> nsPerRow(v, nv, "graft_dot(v, v)"))
    t.unpersist(); v.unpersist()
    m
  }
}

/** Streaming-layer metrics for workloads with no stream. */
object NoStream {
  val layers: Map[String, Double] = Seq(
    "streaming.trigger_ms", "streaming.add_batch_ms", "streaming.query_planning_ms",
    "streaming.wal_commit_ms", "streaming.state_update_ms", "streaming.state_commit_ms",
    "streaming.state_rows", "streaming.state_memory_bytes", "streaming.rows_dropped_late",
    "streaming.empty_trigger_share").map(_ -> 0.0).toMap
}
