package graft

import org.apache.spark.sql.SparkSession

/** The one session builder every graft main and the test suite share.
  *
  * `local[cpus]` with shuffle partitions = cpus, UTC session time (oracle
  * parity), the UI off, a compiled-class cache that holds a whole gate
  * table ([[CodegenCacheEntries]]) and WARN logging. The testdata `events.ts` column
  * is physically INT64 TIMESTAMP(NANOS); `nanosAsLong` reads it as a
  * bigint (Catalog derives integer event time from it) — without it every
  * events query throws PARQUET_TYPE_ILLEGAL.
  *
  * `conf` carries the settings only one caller needs (the scale audit's
  * `spark.rdd.compress`, the test session's AQE-off); it is applied last,
  * so `spark.master` there overrides the local master (Run's
  * `SPARK_MASTER`). `getOrCreate` semantics: an already-running session
  * is returned with these settings applied to it. */
object GraftSession {

  /** Entries of Spark's compiled-class cache (default 100), keyed by class
    * loader and source text. In local mode a whole-stage class compiles
    * once under the driver's loader and once under the executor's, so a
    * full `Verify` pass over the gate table (sf0.01) compiles 1,528
    * distinct classes, 3,056 entries under the two loaders;
    * at 100 each is evicted before its next use and compiled again. */
  val CodegenCacheEntries = 4000

  /** `SPARK_GRAFT_CPUS`, else the machine's core count. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = defaultCpus, conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
