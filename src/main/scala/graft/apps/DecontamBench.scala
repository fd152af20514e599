package graft.apps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.StreamPipeline

/**
 * Dev soak for the streaming decontaminator's per-batch cost across
 * benchmark sizes — the SegmentBench twin that sets the
 * `inlineGramLimit` fence: below the crossover the literal
 * `array_intersect` wins (no broadcast indirection); above it the
 * typedLit plan re-serialization tax (paid EVERY micro-batch) overtakes
 * the broadcast probe's flat cost.
 *
 * `runMain graft.apps.DecontamBench [gramCounts...]` — for each target
 * benchmark size, builds a deterministic benchmark corpus whose distinct
 * 3-gram count lands near the target, streams 5 × 200-doc batches
 * (identical content for both forms) through the literal and broadcast
 * regimes, and prints mean warm per-batch seconds plus the contaminated
 * row count (regime CORRECTNESS parity is pinned in
 * `StreamPipelineSpec`, not here).
 */
object DecontamBench {

  /** Deterministic docs: seeded 40-word sentences over a vocab sized so
    * distinct 3-gram counts scale with `sentences`. */
  private def sentences(seedBase: Int, count: Int, vocabN: Int): Seq[String] = {
    val vocab = Array.tabulate(vocabN)(i => s"t$i")
    (0 until count).map { s =>
      val rnd = new scala.util.Random(seedBase + s)
      (1 to 40).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
  }

  def main(args: Array[String]): Unit = {
    val sizes =
      if (args.nonEmpty) args.map(_.toInt).toSeq
      else Seq(1000, 10000, 50000, 100000, 500000)
    val spark = graft.GraftSession.local(cpus = 8)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    sizes.foreach { target =>
      // ~38 distinct grams per 40-word sentence of near-unique trigrams
      val bench = sentences(1000, math.max(1, target / 38), 4096)
        .zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      def batch(b: Int): Seq[(Long, String)] =
        sentences(2000 + b, 200, 4096).zipWithIndex
          .map { case (t, i) => (b * 1000L + i, t) }
      val forms: Seq[(String, Int)] =
        Seq(("literal", Int.MaxValue), ("bcast", 0))
      forms.foreach { case (label, limit) =>
        val input = MemoryStream[(Long, String)]
        val out = StreamPipeline.decontaminateStream(
          input.toDF().toDF("doc_id", "text"), "text", bench, "text", 3,
          inlineGramLimit = limit)
        val name = s"dec${target}_$label"
        val q = out.writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        val times = (1 to 5).map { b =>
          val t0 = System.nanoTime()
          input.addData(batch(b)); q.processAllAvailable()
          (System.nanoTime() - t0) / 1e9
        }
        q.stop()
        val warm = times.drop(2)
        val hits = spark.table(name)
          .filter(org.apache.spark.sql.functions.col("n_contaminated") > 0)
          .count()
        println(f"grams~$target%7d  form=$label%8s  " +
          f"per-batch=${warm.sum / warm.size}%.3f s  " +
          f"(all: ${times.map(t => f"$t%.2f").mkString(", ")})  hit-rows=$hits")
      }
    }
    spark.stop()
  }
}
