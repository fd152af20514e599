package e2ebench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.E2eBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one traced pass, summed over its ops. */
final class Layers {
  var jobs, stages, tasks, tasksFailed = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var rowsRead, bytesRead, scanMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, fetchWaitMs, shuffleWriteNs = 0L
  var analysisMs, optimizerMs, planningMs, rollupRewrites = 0L
  var buildMs, buildJobs = 0.0
  var wallMs, gapMs, rowsOut = 0.0
  /** (submission, completion) epoch ms of every completed stage. */
  val stageSpans = ArrayBuffer.empty[(Long, Long)]

  def toMap(cores: Int): Map[String, Double] = Map(
    "sources.rows_read" -> rowsRead.toDouble,
    "sources.bytes_read" -> bytesRead.toDouble,
    "sources.scan_ms" -> scanMs.toDouble,
    "queries.build_ms" -> buildMs,
    "queries.build_jobs" -> buildJobs,
    "plans.analysis_ms" -> analysisMs.toDouble,
    "plans.optimizer_ms" -> optimizerMs.toDouble,
    "plans.planning_ms" -> planningMs.toDouble,
    "plans.rollup_rewrites" -> rollupRewrites.toDouble,
    "operators.task_run_ms" -> taskRunMs.toDouble,
    "operators.task_cpu_ms" -> taskCpuNs / 1e6,
    "operators.gc_ms" -> gcMs.toDouble,
    "operators.busy_share" -> (if (wallMs > 0) taskRunMs / (wallMs * cores) else 0.0),
    "operators.rows_out" -> rowsOut,
    "exchange.shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "exchange.shuffle_read_bytes" -> shuffleReadBytes.toDouble,
    "exchange.fetch_wait_ms" -> fetchWaitMs.toDouble,
    "exchange.shuffle_write_ms" -> shuffleWriteNs / 1e6,
    "scheduler.jobs" -> jobs.toDouble,
    "scheduler.stages" -> stages.toDouble,
    "scheduler.tasks" -> tasks.toDouble,
    "scheduler.tasks_failed" -> tasksFailed.toDouble,
    "scheduler.gap_ms" -> gapMs)
}

/** Traces ops through Spark's public listener APIs: a `SparkListener`
  * for jobs, stages and task metrics, and a `QueryExecutionListener` for
  * each query's planning phases, optimizer-rule effects and scan time.
  * The benchmark is the session's only client, so every event between
  * two drains belongs to the op that ran between them. */
final class Probe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  @volatile var layers = new Layers
  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    attached = false
  }

  def drain(): Unit = E2eBenchBus.drain(spark.sparkContext)

  /** Adds op wall time and the part of it no stage was active. */
  def closeOp(startMs: Long, endMs: Long): Unit = {
    drain()
    val l = layers
    l.synchronized {
      val spans = l.stageSpans.filter(_._2 >= startMs).sortBy(_._1)
      var covered = 0L
      var reach = startMs
      spans.foreach { case (s, e) =>
        val from = math.max(s, reach)
        if (e > from) { covered += e - from; reach = e }
      }
      l.wallMs += endMs - startMs
      l.gapMs += math.max(0L, (endMs - startMs) - covered)
      l.stageSpans.clear()
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    layers.synchronized { layers.jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val l = layers
    l.synchronized {
      l.stages += 1
      for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime)
        l.stageSpans += ((s, c))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val l = layers
    l.synchronized {
      l.tasks += 1
      if (!e.taskInfo.successful) l.tasksFailed += 1
      val m = e.taskMetrics
      if (m != null) {
        l.taskRunMs += m.executorRunTime
        l.taskCpuNs += m.executorCpuTime
        l.gcMs += m.jvmGCTime
        l.rowsRead += m.inputMetrics.recordsRead
        l.bytesRead += m.inputMetrics.bytesRead
        l.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        l.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
        l.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        l.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def phaseMs(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val rewrites = qe.tracker.rules.collect {
      case (rule, s) if rule.contains("SliceRollup") => s.numEffectiveInvocations
    }.sum
    val scan = collectWithSubqueries(qe.executedPlan) {
      case p if p.metrics.contains("scanTime") => p.metrics("scanTime").value
    }.sum
    val l = layers
    l.synchronized {
      l.analysisMs += phaseMs("analysis")
      l.optimizerMs += phaseMs("optimization")
      l.planningMs += phaseMs("planning")
      l.rollupRewrites += rewrites
      l.scanMs += scan
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
