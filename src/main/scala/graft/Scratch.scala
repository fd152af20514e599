package graft

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.{GraftListenerBridge, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Scratch directories owned by a SparkContext: the indexes and stores
  * that gates persist once per context and read on every later call.
  *
  * A context gets one root, `graft_scratch-<uuid>` under
  * `java.io.tmpdir`, made on the first [[once]] call, so loading the gate
  * table creates nothing. The root is deleted when the context stops,
  * and Spark's shutdown hook deletes it if the JVM exits first. Under
  * it, each build owns a subdirectory named after the build and the data
  * directory it reads, the same in every run. */
object Scratch {

  private final class Root(val dir: File) {
    val built = new ConcurrentHashMap[String, Any]()
  }

  /** Live roots by application id. */
  private val roots = new ConcurrentHashMap[String, Root]()

  /** What `build` returned for (`name`, `dataDir`) in `s`'s context. The
    * first call runs `build` on a fresh subdirectory of the context's
    * root; later calls return that result. */
  def once[A](s: SparkSession, name: String, dataDir: String)(build: String => A): A = {
    val sc = s.sparkContext
    val root = roots.computeIfAbsent(sc.applicationId, _ => open(sc))
    val sub = f"$name-${dataDir.hashCode}%08x"
    root.built.computeIfAbsent(sub, _ => {
      val d = new File(root.dir, sub)
      d.mkdirs()
      build(d.getPath)
    }).asInstanceOf[A]
  }

  private def open(sc: SparkContext): Root = {
    val appId = sc.applicationId
    val root = new Root(GraftListenerBridge.shutdownDeletedTempDir("graft_scratch"))
    sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
        roots.remove(appId)
        GraftListenerBridge.deleteTempDir(root.dir)
      }
    })
    root
  }
}
