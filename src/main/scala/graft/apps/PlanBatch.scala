package graft.apps

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: dump `.explain("formatted")` output for a list of gates
  * to one file per gate in a single session — the artifact the
  * optimization rounds commit under `plans/r<n>/<query>_{before,after}.txt`
  * so plan-shape claims (Exchange count, join strategy, PushedFilters)
  * are auditable without running Spark.
  *
  *   runMain graft.apps.PlanBatch <sfDir> <outDir> <suffix> <q1,q2,...>
  *
  * Writes `<outDir>/<gate>_<suffix>.txt`. The formatted mode shows the
  * initial plan (AQE isFinalPlan=false) with scan details — PushedFilters
  * and ReadSchema — which is what the deliverable asks for; PlanDump
  * remains the executed-plan (final AQE) companion.
  *
  * Session counters are renumbered and run-to-run values masked per
  * dump ([[renumber]]), so a plain `diff` of two builds' dumps of the
  * same gate shows plan changes only.
  */
object PlanBatch {
  def main(args: Array[String]): Unit = {
    val Array(dir, outDir, suffix, list) = args.take(4)
    val spark = graft.GraftSession.local()
    Files.createDirectories(Paths.get(outDir))
    list.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val txt = renumber(df.queryExecution.explainString(
        ExplainMode.fromString("formatted")))
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"wrote $outDir/${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }

  private val counters = """(#|plan_id=|RDD\[)(\d+)""".r

  /** Values that differ on every run without being counters: a lambda
    * class's sequence number and address, an object's identity hash,
    * and the random suffix of the session's scratch root
    * ([[graft.Scratch]]). */
  private val runValues = Seq(
    """(\$\$Lambda)(\$\d+)?/0x[0-9a-f]+""" -> "$1",
    """([\w$])@[0-9a-f]+\b""" -> "$1@",
    """(graft_scratch)-[0-9a-f-]{36}""" -> "$1")

  /** Each session-global counter — expression id `#N`, `plan_id=N`,
    * `RDD[N]` — replaced by its order of first appearance, per kind;
    * each run-to-run value masked. */
  def renumber(plan: String): String = {
    val seen = scala.collection.mutable.Map.empty[(String, String), Int]
    val masked = runValues.foldLeft(plan) { case (p, (re, to)) => p.replaceAll(re, to) }
    counters.replaceAllIn(masked, m => m.group(1) + seen.getOrElseUpdate(
      (m.group(1), m.group(2)), seen.keys.count(_._1 == m.group(1))))
  }
}
