package graft.apps

/** Smoke: SparkEntry.entry must return rows > 0 (the driver's contract). */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(cpus = 4)
    val n = graft.SparkEntry.entry(spark).count()
    println(s"ENTRY_SMOKE rows=$n")
    spark.stop()
  }
}
