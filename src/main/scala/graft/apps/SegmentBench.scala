package graft.apps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Tokenize
import graft.streaming.StreamPipeline

/**
 * Dev soak for the streaming BPE segmenter's per-batch cost across vocab
 * sizes — the number that motivated the `inlineVocabLimit` fence (typedLit
 * plan tax, PLANS.md r8) and the codegen'd broadcast expression (r9).
 *
 * `runMain graft.apps.SegmentBench [vocabSizes...]` — for each size,
 * builds a deterministic synthetic model (seeded words, char-seed
 * segmentations, 24 merge rules), streams 5 × 200-doc batches of 50
 * in-vocab words each (identical batch content for every form) through
 * three pipelines — the production default (codegen'd broadcast
 * expression), the forced inlined-literal form, and the retired r8
 * Scala-UDF form — and prints each form's mean per-batch seconds over
 * the last 3 batches plus its output row count (correctness parity
 * between forms is pinned in `StreamPipelineSpec`, not here).
 */
object SegmentBench {

  private def model(spark: SparkSession, n: Int): (Tokenize.BpeModel, Seq[String]) = {
    val rnd = new scala.util.Random(11)
    val words = Array.tabulate(n) { i =>
      val len = 3 + rnd.nextInt(8)
      Array.fill(len)(('a' + rnd.nextInt(26)).toChar).mkString + i
    }
    import spark.implicits._
    val vocab = spark.sparkContext
      .parallelize(words.toIndexedSeq.map(w => (w, 1L, w.split("").filter(_.nonEmpty).toSeq)), 8)
      .toDF("word", "cnt", "toks")
    // 24 rules — gate-scale; much deeper rule chains blow the analyzer's
    // iteration cap through the inline form's per-word fallback fold
    val merges = (1 to 24).map(r =>
      Tokenize.Merge(r, ('a' + r % 26).toChar.toString,
        ('a' + (r / 26) % 26).toChar.toString,
        s"${('a' + r % 26).toChar}${('a' + (r / 26) % 26).toChar}", 1000L - r))
    (Tokenize.BpeModel(merges, vocab), words.toIndexedSeq)
  }

  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(10000, 50000, 100000)
    val spark = graft.GraftSession.local(cpus = 8)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    sizes.foreach { n =>
      val (m, words) = model(spark, n)
      // seeded per batch NUMBER, not per draw sequence, so every form
      // streams byte-identical documents
      def batch(b: Int): Seq[(Long, String)] = {
        val rnd = new scala.util.Random(13 + b)
        (1 to 200).map { d =>
          (b * 1000L + d,
            (1 to 50).map(_ => words(rnd.nextInt(words.length))).mkString(" "))
        }
      }
      // r8's Scala-UDF fallback, reconstructed for same-harness comparison
      def udfForm(docs: DataFrame): DataFrame = {
        val vocab: Map[String, Seq[String]] = m.vocab
          .select(col("word"), col("toks")).collect()
          .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
        val vocabBc = spark.sparkContext.broadcast(vocab)
        val mergesBc = spark.sparkContext.broadcast(m.merges.toIndexedSeq)
        val seg = udf { (ws: Seq[String]) =>
          ws.map(w => vocabBc.value.getOrElse(w,
            Tokenize.segmentWordLocal(w, mergesBc.value)))
        }
        val ws = filter(split(col("text"), " "), w => w =!= "")
        docs.withColumn("_segs", seg(ws))
          .withColumn("n_words", size(ws).cast("long"))
          .withColumn("n_subwords",
            aggregate(col("_segs"), lit(0L), (acc, s) => acc + size(s)))
          .withColumn("subword_text", array_join(flatten(col("_segs")), " "))
          .drop("_segs")
      }
      val forms: Seq[(String, DataFrame => DataFrame)] = Seq(
        ("bcastExpr",
          (d: DataFrame) => StreamPipeline.bpeSegmentStream(d, "text", m)),
        ("inline",
          (d: DataFrame) => StreamPipeline.bpeSegmentStream(d, "text", m,
            inlineVocabLimit = n)),
        ("udf-r8", udfForm))
      forms.foreach { case (label, pipe) =>
        val input = MemoryStream[(Long, String)]
        val out = pipe(input.toDF().toDF("doc_id", "text"))
        val name = s"seg${n}_$label".replace("-", "_")
        val q = out.writeStream.format("memory")
          .queryName(name).outputMode("append").start()
        val times = (1 to 5).map { b =>
          val t0 = System.nanoTime()
          input.addData(batch(b)); q.processAllAvailable()
          (System.nanoTime() - t0) / 1e9
        }
        q.stop()
        val warm = times.drop(2)
        val rows = spark.table(name).count()
        println(f"vocab=$n%6d  form=$label%9s  " +
          f"per-batch=${warm.sum / warm.size}%.3f s  " +
          f"(all: ${times.map(t => f"$t%.2f").mkString(", ")})  rows=$rows")
      }
    }
    spark.stop()
  }
}
