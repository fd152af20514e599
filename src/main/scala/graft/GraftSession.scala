package graft

import org.apache.spark.sql.SparkSession

/** The one session builder every graft main and the test suite share.
  *
  * `local[cpus]` with shuffle partitions = cpus, UTC session time (oracle
  * parity), the UI off and WARN logging. The testdata `events.ts` column
  * is physically INT64 TIMESTAMP(NANOS); `nanosAsLong` reads it as a
  * bigint (Catalog derives integer event time from it) — without it every
  * events query throws PARQUET_TYPE_ILLEGAL.
  *
  * `conf` carries the settings only one caller needs (SoakAudit's
  * `spark.rdd.compress`, the test session's AQE-off); it is applied last,
  * so `spark.master` there overrides the local master (Run's
  * `SPARK_MASTER`). `getOrCreate` semantics: an already-running session
  * is returned with these settings applied to it. */
object GraftSession {

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
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
