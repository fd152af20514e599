package graft

import org.apache.spark.sql.functions._

import graft.apps.{PlanBatch, PlanDump}

/** The plan dev tools: PlanDump's executed plan and PlanBatch's
  * counter renumbering. */
class PlanToolsSpec extends SparkSuite {

  test("PlanDump prints the final adaptive plan of the query's own run") {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try {
      // one aggregate exchange, so AQE has a stage to finalize
      val df = spark.range(100).groupBy((col("id") % 3).as("k")).count()
      val plan = PlanDump.executedPlan(df)
      assert(plan.contains("isFinalPlan=true"), plan)
      assert(plan.contains("Exchange"), plan)
    } finally spark.conf.set(key, prev)
  }

  test("PlanBatch renumbers session counters by first appearance") {
    val a = "Project [id#812L, k#815] +- Exchange [plan_id=77] " +
      "+- Filter (id#812L > 0) +- Scan MapPartitionsRDD[386] at x " +
      "+- MapPartitions graft.queries.Catalog$$$Lambda$4621/0x0000000801d5a8c8@770feaab " +
      "+- Aggregate [graft.operators.BitmapUv@764b7ff7] " +
      "+- Scan parquet file:/tmp/graft_scratch-0f8e2c1a-5b7d-4e3f-9a61-2c4d8e0b7f13/bm25_idx-1a2b3c4d"
    val b = "Project [id#3L, k#9] +- Exchange [plan_id=5] " +
      "+- Filter (id#3L > 0) +- Scan MapPartitionsRDD[12] at x " +
      "+- MapPartitions graft.queries.Catalog$$$Lambda$17/0x00000008004c1040@1b2c3d " +
      "+- Aggregate [graft.operators.BitmapUv@5e9f23b4] " +
      "+- Scan parquet file:/tmp/graft_scratch-7c1d9e02-3a4b-4c5d-8e6f-0a1b2c3d4e5f/bm25_idx-1a2b3c4d"
    assert(PlanBatch.renumber(a) === PlanBatch.renumber(b))
    assert(PlanBatch.renumber(a) === "Project [id#0L, k#1] +- Exchange " +
      "[plan_id=0] +- Filter (id#0L > 0) +- Scan MapPartitionsRDD[0] at x " +
      "+- MapPartitions graft.queries.Catalog$$$Lambda@ " +
      "+- Aggregate [graft.operators.BitmapUv@] " +
      "+- Scan parquet file:/tmp/graft_scratch/bm25_idx-1a2b3c4d")
    // a real difference survives: the second id is now a different one
    assert(PlanBatch.renumber(a) !=
      PlanBatch.renumber(a.replace("(id#812L", "(id#815L")))
    // and so does a different index under the scratch root
    assert(PlanBatch.renumber(a) !=
      PlanBatch.renumber(a.replace("bm25_idx-", "bm25_app-")))
  }
}
