package graft.apps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec

/** Dev tool: execute one registry/soak query against a data directory
  * and print its EXECUTED physical plan (final AQE decisions included) —
  * the drill-down companion to SoakAudit's exchange counts. This is how
  * the r10 inStars sort-merge demotion was localized after the audit
  * flagged the shape change: `runMain graft.apps.PlanDump <dir> <query>`
  * at two scales, diff the join strategies. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(dir, name) = args.take(2)
    val spark = graft.GraftSession.local()
    println(executedPlan(SoakAudit.registry(name)(spark, dir)))
    spark.stop()
  }

  /** Run `df`'s own query once into the `noop` sink (every row computed,
    * nothing collected) and return the plan that run executed, captured
    * by [[SoakAudit.executedPlans]]: under AQE, the final plan. An action
    * such as `count()` would plan and run a different query and leave
    * `df`'s own adaptive plan unexecuted (`isFinalPlan=false`). */
  def executedPlan(df: DataFrame): String =
    SoakAudit.executedPlans(df.sparkSession) {
      df.write.format("noop").mode("overwrite").save()
    }.lastOption match {
      // the sink node wraps the query's plan; print the query alone
      case Some(w: V2TableWriteExec) => w.query.toString
      case Some(p) => p.toString
      case None => throw new IllegalStateException("no execution recorded")
    }
}
