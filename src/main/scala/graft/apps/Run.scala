package graft.apps

import graft.SparkEntry
import graft.sources.Tables

/**
 * CLI runner — the user-facing entry point of the library:
 *
 *   runMain graft.apps.Run <queryName|list|sql> [sfDir] [args...]
 *
 *   list            print every registered query name
 *   <queryName>     run one catalog query and show the result
 *   explain <name>  print the formatted physical plan of a catalog query
 *   sql "<query>"   run arbitrary SQL over the registered table views
 *                   (HotItemsWithSQLApp-style declarative entry point)
 */
object Run {
  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("list")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    // SPARK_MASTER points Run at a deployment (a cluster URL)
    val spark = graft.GraftSession.local(
      conf = sys.env.get("SPARK_MASTER").map("spark.master" -> _).toMap)
    graft.functions.GraftFunctions.register(spark)
    cmd match {
      case "list" =>
        SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      case "sql" =>
        Tables.registerViews(spark, sfDir)
        // declarative entry point gets the automatic sliding-window
        // slice roll-up (catalog queries call the operator explicitly)
        spark.experimental.extraOptimizations = Seq(graft.plans.SliceRollupRule)
        spark.sql(args(2)).show(50, truncate = false)
      case "explain" =>
        val name = args(2)
        SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      case "profile" =>
        // one-pass data-quality profile of a registered table, or of
        // every registered table with 'all' / no table argument
        Tables.registerViews(spark, sfDir)
        val targets = args.lift(2) match {
          case Some("all") | None =>
            spark.catalog.listTables().collect().map(_.name).toSeq.sorted
          case Some(t) => Seq(t)
        }
        targets.foreach { t =>
          println(s"== $t ==")
          val df = spark.table(t)
          graft.operators.Profiling.profile(df, df.columns.toSeq)
            .show(100, truncate = false)
        }
      case "time" =>
        val name = args(2)
        SparkEntry.queries(name)(spark, sfDir).count() // warm: codegen + footers
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        val tBuild = System.nanoTime()
        val n = df.count()
        val tEnd = System.nanoTime()
        println(f"$name: $n rows, build ${(tBuild - t0) / 1e9}%.3f s, " +
          f"exec ${(tEnd - tBuild) / 1e9}%.3f s")
      case name if SparkEntry.queries.contains(name) =>
        SparkEntry.queries(name)(spark, sfDir).show(20, truncate = false)
      case other =>
        System.err.println(s"unknown query '$other' — try 'list'")
        sys.exit(1)
    }
    spark.stop()
  }
}
