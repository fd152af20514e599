package graft.apps

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev tool: per-stage breakdown of ONE registry/soak query — the
  * drill-down a stage-level optimization needs before touching code
  * (guide §1: decide whether the time is shuffle read, executor compute,
  * scheduling, or GC, then optimize that one thing).
  *
  *   runMain graft.apps.StageProfile <sfDir> <query> [reps]
  *
  * Runs the query once untimed (codegen + footer warmup, index builds),
  * then `reps` timed runs (default 2); prints for every stage of the
  * LAST run: wall duration, summed executor run/CPU/GC time, shuffle
  * read/write bytes, task count and name. The gap between wall and
  * cpu/tasks exposes scheduling tax; fetch-heavy stages show read bytes.
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val Array(dir, name) = args.take(2)
    val reps = args.lift(2).flatMap(_.toIntOption).getOrElse(2)
    val spark = graft.GraftSession.local()
    val fn = SoakAudit.registry(name)
    // warmup: codegen, parquet footers, any first-call index persist
    fn(spark, dir).count()

    case class Row(id: Int, name: String, tasks: Int, wallMs: Long,
                   runMs: Long, cpuMs: Long, gcMs: Long,
                   srBytes: Long, swBytes: Long, outRows: Long)
    val rows = ArrayBuffer.empty[Row]
    val listener = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val m = i.taskMetrics
        val wall = (for {a <- i.completionTime; b <- i.submissionTime}
          yield a - b).getOrElse(-1L)
        rows.synchronized {
          rows += Row(i.stageId, i.name.takeWhile(_ != '\n'), i.numTasks,
            wall, m.executorRunTime, m.executorCpuTime / 1000000L,
            m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.outputMetrics.recordsWritten)
        }
      }
    }
    // keep the FASTEST rep's stage table: this box's hypervisor steals
    // CPU in bursts, and a stolen rep inflates both wall AND thread-CPU
    // numbers (guest accounting charges stolen time to the running
    // thread), so the minimum rep is the faithful structural picture
    var best = Double.MaxValue
    var bestRows = Vector.empty[Row]
    (1 to reps).foreach { r =>
      rows.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val n = fn(spark, dir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftListenerBridge.waitListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      println(f"== $name rep $r: $sec%.3f s, $n rows, ${rows.size} stages ==")
      if (sec < best) { best = sec; bestRows = rows.toVector }
      if (r == reps) {
        rows.clear(); rows ++= bestRows
        println(f"${"stage"}%5s ${"tasks"}%5s ${"wallMs"}%7s ${"runMs"}%8s " +
          f"${"cpuMs"}%8s ${"gcMs"}%6s ${"shufR"}%10s ${"shufW"}%10s  name")
        rows.sortBy(-_.wallMs).foreach { x =>
          println(f"${x.id}%5d ${x.tasks}%5d ${x.wallMs}%7d ${x.runMs}%8d " +
            f"${x.cpuMs}%8d ${x.gcMs}%6d ${x.srBytes}%10d ${x.swBytes}%10d  " +
            x.name)
        }
        val wall = rows.map(_.wallMs).sum
        val cpu = rows.map(_.cpuMs).sum
        println(f"TOTAL stage-wall ${wall}ms cpu ${cpu}ms " +
          f"shufW ${rows.map(_.swBytes).sum}")
      }
    }
    spark.stop()
  }
}
