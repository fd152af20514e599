package graft.apps

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
    val df = SoakAudit.registry(name)(spark, dir)
    df.count()
    // executed plan with final AQE decisions
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
