package graft

/** The shared session builder's contract, checked on the suite session
  * (built by [[GraftSession.local]] in [[SparkSuite]]). */
class GraftSessionSpec extends SparkSuite {

  test("a GraftSession has nanosAsLong, UTC and shuffle width = cpus") {
    // same arguments as SparkSuite: getOrCreate hands back the suite session
    val s = GraftSession.local(cpus = 4, conf = Map("spark.sql.adaptive.enabled" -> "false"))
    assert(s eq spark)
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(s.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(s.sparkContext.master === "local[4]")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") === "false")
  }

  test("SparkSuite keeps its AQE-off override on top of GraftSession") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "false")
  }
}
