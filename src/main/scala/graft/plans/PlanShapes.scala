package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** The plans a block of code actually executed, and their exchange
  * counts. Shared by the plan dev tools (`SoakAudit`, `PlanDump`) and
  * `PlanScaleInvariantsSpec`. */
object PlanShapes {

  /** Total (shuffles, broadcasts, actions) summed over the EXECUTED plan
    * of every action `f` triggers ([[executedPlans]]), so AQE's FINAL
    * plans are measured (runtime broadcast demotions and stage re-plans
    * included; a pre-execution `df.queryExecution.executedPlan` read
    * shows only the initial adaptive plan). */
  def actionShapes(spark: SparkSession)(f: => Unit): (Int, Int, Int) = {
    val shapes = executedPlans(spark)(f).map(countExchanges)
    (shapes.map(_._1).sum, shapes.map(_._2).sum, shapes.length)
  }

  /** The executed plan of every action `f` triggers, in completion
    * order — captured via QueryExecutionListener, with the listener bus
    * drained before they are read. */
  def executedPlans(spark: SparkSession)(f: => Unit): Seq[SparkPlan] = {
    val plans = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan; () }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { f; org.apache.spark.GraftListenerBridge.waitListenerBus(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    plans.synchronized(plans.toList)
  }

  def countExchanges(plan: SparkPlan): (Int, Int) = {
    // AQE hides the final plan inside AdaptiveSparkPlanExec; walk the
    // EXECUTED plan so runtime-demoted broadcasts are counted as built.
    // Materialized stages are QueryStageExec LEAF nodes whose real
    // subtree hangs off `plan()`, not `children` — a plain child-walk of
    // an executed AQE plan sees ZERO exchanges (round-10 find); descend
    // explicitly. ReusedExchangeExec is a leaf pointer at the original
    // exchange, so each physical exchange still counts exactly once.
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => q +: walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    val nodes = walk(plan)
    (nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      nodes.count(_.isInstanceOf[BroadcastExchangeLike]))
  }
}
