package graft.apps

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Dev measurement: per-ingest cost of the cid-partitioned persisted
  * corpus ([[Similarity.semanticDedupIncrementalStored]]) vs the
  * in-plan assigned screen, at √n quantizer sizing — quantifies the
  * partition-pruning claim. `runMain graft.apps.CidStoreBench <embDir>
  * <storeDir>`. */
object CidStoreBench {
  def main(args: Array[String]): Unit = {
    val Array(dir, storeDir) = args.take(2)
    val cells = args.lift(2).map(_.toInt).getOrElse(-1)
    val spark = graft.GraftSession.local()
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // -1 now derives TRUE sqrt-n cells: the 256 clamp was a literal-
    // assignment artifact and lifted in r11 when the broadcast argmax
    // became the large-model default (an explicit count still overrides)
    val cents = Similarity.trainQuantizer(emb, "vec_id", "embedding",
      nCentroids = cells)
    println(s"[cid] cells=${cents.length}")
    var t0 = System.nanoTime()
    Similarity.writeAssignedCorpus(
      Similarity.assignToQuantizerBroadcast(emb, "vec_id", "embedding", cents),
      storeDir, "vec_id", "embedding")
    println(f"[cid] store write: ${(System.nanoTime() - t0) / 1e9}%.1f s (one-time)")
    val batch = emb.filter(col("vec_id") < 2000L && col("vec_id") % 2 === 0)
      .withColumn("vec_id", col("vec_id") + lit(1000000000L))
      .withColumn("embedding", transform(col("embedding"),
        (v, i) => when(i === 0, v + lit(0.05f)).otherwise(v)))
    def drive(df: org.apache.spark.sql.DataFrame): Long =
      df.groupBy(col("keep")).agg(count(lit(1))).count()
    // warm fs caches fairly: one throwaway pass each
    t0 = System.nanoTime()
    drive(Similarity.semanticDedupIncrementalStored(batch, storeDir,
      "vec_id", "embedding", cents, tau = 0.9))
    println(f"[cid] stored+pruned screen: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    t0 = System.nanoTime()
    drive(Similarity.semanticDedupIncrementalAssigned(batch,
      Similarity.assignToQuantizerBroadcast(emb, "vec_id", "embedding", cents),
      "vec_id", "embedding", cents, tau = 0.9, broadcastAssign = true))
    println(f"[cid] in-plan bc-assigned screen: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
