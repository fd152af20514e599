package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites: the mains' own
  * [[GraftSession]] (UTC, nanos-as-long, shuffle width = cores) at a
  * fixed width of 4, plus the one test-only setting below. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {

  // AQE off for the TEST session only (r16): on 4-row fixtures every
  // AQE stage is its own job submission and re-plan — pure fixed
  // latency. The cosineIngestStream tests still take 28–50 s each for
  // two or three 3–4-doc micro-batches, and that is stage tax: with
  // the checkpoint-file forks gone (722 → 392 process starts over the
  // four tests; the rest are parquet state writes) their times moved
  // by less than run-to-run noise (158 s → 159 s on 4 cores). Plans also become
  // deterministic for the plan-pin suites. Verify/Bench keep the
  // production default (AQE on) — logic, not AQE, is what these
  // fixtures certify.
  lazy val spark: SparkSession = GraftSession.local(cpus = 4,
    conf = Map("spark.sql.adaptive.enabled" -> "false"))

  def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  override def afterAll(): Unit = {
    // session is shared across suites in one JVM — do not stop it here
    super.afterAll()
  }
}
