package graft.apps

import graft.SparkEntry
import graft.plans.PlanShapes

/**
 * Dev tool for scale audits: run selected gates against a data
 * directory and print, per gate, the wall time, output rows, and the
 * PLAN SHAPE (shuffle/broadcast exchange counts). Two runs at different
 * ScaleData factors answer the 100 TB question concretely — time must
 * grow ≤ linearly with data, exchange counts must not grow at all (a
 * plan that adds exchanges with data size re-plans itself into a
 * different, worse algorithm at scale).
 *
 * `runMain graft.apps.SoakAudit <dir> <q1,q2,...>` — one
 * tab-separated line per gate: name, seconds, rows, shuffles,
 * broadcasts.
 */
object SoakAudit {

  def main(args: Array[String]): Unit = {
    val Array(dir, namesCsv) = args.take(2)
    val names = namesCsv.split(",").map(_.trim).filter(_.nonEmpty)
    // Scaled runs materialize O(edges) DISK_ONLY checkpoints; Spark leaves
    // cached blocks UNcompressed by default and a 1.4B-edge table of
    // two-long rows is ~45 GB raw vs ~1/4 of that under LZ4 — on an
    // 80 GB disk that is the difference between a 100× run fitting or
    // dying on ENOSPC. Shuffle files are compressed by default already;
    // this aligns block storage with them.
    val spark = graft.GraftSession.local(conf = Map("spark.rdd.compress" -> "true"))
    spark.range(1000000L).selectExpr("sum(id)").collect() // JIT warmup

    println("query\tsec\trows\tshuffles\tbroadcasts")
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"$name\tUNKNOWN")
        case Some(fn) =>
          System.gc()
          var rows = 0L
          val t0 = System.nanoTime()
          // exchange counts come from the EXECUTED plans of every action
          // the gate triggers (r10: the old pre-execution read showed
          // AQE's initial plan, blind to exactly the runtime demotions a
          // scale audit exists to catch)
          val (sh, bc, _) = PlanShapes.actionShapes(spark) {
            rows = fn(spark, dir).count()
          }
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"$name\t$sec%.2f\t$rows\t$sh\t$bc")
      }
    }
    spark.stop()
  }
}
