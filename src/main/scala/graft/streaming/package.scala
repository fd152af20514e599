package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.DataStreamWriter

package object streaming {

  /** The two ways a stateful twin enters Structured Streaming: its
    * event-time watermark, or a writer it builds itself. Both install
    * [[LocalCheckpointFileManager]] on the session first, so every query
    * built from a twin writes its checkpoint files through it. */
  implicit final class TwinCheckpoints[T](private val ds: Dataset[T]) extends AnyVal {
    def eventTimeWatermark(tsCol: String, delay: String): Dataset[T] =
      installed.withWatermark(tsCol, delay)
    def twinWriteStream: DataStreamWriter[T] = installed.writeStream
    private def installed: Dataset[T] = {
      LocalCheckpointFileManager.install(ds.sparkSession)
      ds
    }
  }
}
