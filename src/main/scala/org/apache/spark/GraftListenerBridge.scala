package org.apache.spark

import java.io.File

import org.apache.spark.util.{ShutdownHookManager, Utils}

/** Bridge into `private[spark]` surface, same extension-shim pattern as
  * the sql-package bridges, no Spark internals modified:
  *  - drains the listener bus so callers accumulating counters via
  *    listeners (`QueryExecutionListener` — which rides the shared
  *    LiveListenerBus since Spark 3.0 — and plain `SparkListener`s) can
  *    read them without racing the asynchronous dispatch. Load-bearing
  *    for `graft.plans.PlanShapes`' executed-plan exchange audit and the
  *    plan-invariants specs;
  *  - Spark's shutdown-delete registry, which owns `graft.Scratch`'s
  *    roots. */
object GraftListenerBridge {
  def waitListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** A fresh `<prefix>-<uuid>` directory under `java.io.tmpdir`, deleted
    * by Spark's shutdown hook when the JVM exits. */
  def shutdownDeletedTempDir(prefix: String): File =
    Utils.createTempDir(namePrefix = prefix)

  /** Delete a [[shutdownDeletedTempDir]] now and drop it from the hook. */
  def deleteTempDir(dir: File): Unit = {
    Utils.deleteRecursively(dir)
    ShutdownHookManager.removeShutdownDeleteDir(dir)
  }
}
