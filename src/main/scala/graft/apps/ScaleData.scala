package graft.apps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Dev tool: scale a driver testdata directory by an integer factor for
 * bench soaks (`runMain graft.apps.ScaleData <srcSfDir> <dstDir> <factor>
 * [--tables=a,b] [--mutate-text=0.1] [--perturb-vecs=0.05]`).
 * Correctness gates always run on the driver's own parquet; this exists
 * to measure how query times SCALE (the 100 TB question asked at the
 * largest size the sandbox holds), not to verify results.
 *
 * Each copy i shifts every join/identity key by `i × (max(key)+1)` so
 * referential integrity is preserved exactly (copy i's lineitems join
 * copy i's orders/customers/suppliers/parts and nothing else), while
 * timestamps keep their original range — density grows by the factor,
 * window counts scale, the window set does not, which is how real
 * traffic grows. By default text/payload columns are left byte-identical,
 * so the dedup families see factor-sized exact-dup clusters —
 * deliberately stressing their mega-cluster guards. region/nation are
 * fixed dimensions and copy through unscaled.
 *
 * Soak realism flags (all deterministic — hash-seeded, no RNG state):
 *  - `--tables=a,b` scales only the listed tables (for family-targeted
 *    soaks: a 100× embeddings table without 100× lineitem).
 *  - `--mutate-text=P` rewrites each token of copy i>0's `documents.text`
 *    with probability P (token replaced by a copy-tagged variant, token
 *    count preserved, `n_chars` recomputed) — near-dup candidate volume
 *    then reflects realistic ~(1−P) overlap rather than exact cross-copy
 *    duplicates.
 *  - `--perturb-vecs=EPS` adds per-element noise uniform in [−EPS, +EPS]
 *    to copy i>0's `embeddings.embedding`, so ANN soaks search NOVEL
 *    vectors with preserved cluster structure instead of 100 identical
 *    copies of each centroid neighborhood.
 */
object ScaleData {

  /** Columns to shift per table: key → scaled by its own table's max. */
  private val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** The key spaces that must shift in lockstep across tables. */
  private val keySpace: Map[String, String] = Map(
    "c_custkey" -> "custkey", "o_custkey" -> "custkey",
    "o_orderkey" -> "orderkey", "l_orderkey" -> "orderkey",
    "s_suppkey" -> "suppkey", "l_suppkey" -> "suppkey",
    "p_partkey" -> "partkey", "l_partkey" -> "partkey",
    "event_id" -> "eventid", "user_id" -> "userid",
    // doc_id and vec_id join in the corpus↔embedding reconcile gate —
    // they shift in one shared key space
    "doc_id" -> "docid", "vec_id" -> "docid")

  def main(args: Array[String]): Unit = {
    val Array(srcDir, dstDir, factorStr) = args.take(3)
    val factor = factorStr.toInt
    require(factor >= 1, "factor must be >= 1")
    val flags = args.drop(3)
    def flag(name: String): Option[String] =
      flags.find(_.startsWith(s"--$name=")).map(_.stripPrefix(s"--$name="))
    val onlyTables = flag("tables").map(_.split(",").toSet)
    val mutateText = flag("mutate-text").map(_.toDouble)
    val perturbVecs = flag("perturb-vecs").map(_.toDouble)
    mutateText.foreach(p => require(p >= 0 && p <= 1, "mutate-text in [0,1]"))
    // reuse a caller's session (tests) and leave it running; only a
    // session this main created gets stopped on exit
    val ownSession = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isEmpty
    val spark = graft.GraftSession.local()

    // one stride per key SPACE, so e.g. custkey shifts identically in
    // customer and orders (strides computed over every PRESENT table so a
    // --tables run over a full source dir shifts by the same amounts as a
    // full run; a partial source dir — e.g. re-scaling a previous
    // --tables output — derives strides from the tables it holds)
    val tables = keyCols.keys.toSeq
      .filter(t => new java.io.File(s"$srcDir/$t.parquet").exists())
    // a requested table that is not in the source dir is a caller error
    // (typo, or scaling from the wrong dir) — fail loudly, never no-op
    onlyTables.foreach { want =>
      val missing = want -- tables.toSet -- Set("region", "nation")
      require(missing.isEmpty,
        s"--tables names absent from $srcDir: ${missing.mkString(", ")}")
    }
    val loaded: Map[String, DataFrame] =
      tables.map(t => t -> spark.read.parquet(s"$srcDir/$t.parquet")).toMap
    val stride: Map[String, Long] = keySpace.values.toSet.toSeq.flatMap {
      space: String =>
        val members = keyCols.filter { case (t, _) => loaded.contains(t) }
        val maxes = members.flatMap { case (t, cols) =>
          cols.filter(c => keySpace(c) == space).flatMap { c =>
            // empty tables contribute no max (null) — skip, don't NPE
            Option(loaded(t).agg(max(col(c))).head().get(0))
              .map(_.asInstanceOf[Number].longValue())
          }
        }
        val absentShare = keyCols.exists { case (t, cols) =>
          !loaded.contains(t) && cols.exists(c => keySpace(c) == space)
        }
        if (absentShare && maxes.nonEmpty)
          System.err.println(s"[scale] WARN: key space '$space' stride " +
            "derived from a SUBSET of its tables (others absent from " +
            "the source dir) — outputs of this run will not join " +
            "copies produced from a fuller dir")
        // spaces with no present table get no stride; only written tables'
        // spaces are ever looked up
        if (maxes.isEmpty) None else Some(space -> (maxes.max + 1L))
    }.toMap

    Seq("region", "nation")
      .filter(t => onlyTables.forall(_.contains(t)))
      .foreach { t =>
        val p = new java.io.File(s"$srcDir/$t.parquet")
        if (p.exists())
          spark.read.parquet(p.toString).write.mode("overwrite")
            .parquet(s"$dstDir/$t.parquet")
      }

    /** Copy-i realism mutations: deterministic (xxhash64-seeded per
      * (key, copy, position)) so reruns produce identical bytes. */
    def mutate(t: String, i: Int, df: DataFrame): DataFrame = {
      if (i == 0) return df // copy 0 is always the untouched original
      val withText = (t, mutateText) match {
        case ("documents", Some(p)) =>
          val thr = lit((p * 1000000L).toLong)
          val toks = split(col("text"), " ")
          // Variant tag = hash of the FINAL (shifted) doc_id and token
          // position, folded into a bounded 1000-value space — NOT the
          // per-run copy index. Copy-index tags made vocabulary growth
          // depend on how a factor was STAGED (x2 then x3 stacked ~1~2
          // suffixes where x6 spread ~1..~5 — measured 17% vocab
          // divergence), which would invalidate every two-stage soak
          // comparison; the hash tag is a function of the final corpus
          // alone, so staging only changes it at the O(p²) double-
          // mutation margin (pinned in ScaleDataSpec). The bounded space
          // keeps growth Heaps-like: at most 1000 variants per base
          // token, saturating identically under any staging.
          val mutated = transform(toks, (tok, idx) =>
            when(pmod(xxhash64(col("doc_id"), lit(i), idx), lit(1000000L)) < thr,
              concat(tok, lit("~"),
                pmod(xxhash64(col("doc_id"), idx), lit(1000L))))
              .otherwise(tok))
          df.withColumn("text", array_join(mutated, " "))
            .withColumn("n_chars", length(col("text")))
        case _ => df
      }
      (t, perturbVecs) match {
        case ("embeddings", Some(eps)) =>
          withText.withColumn("embedding",
            transform(col("embedding"), (v, idx) =>
              v + ((pmod(xxhash64(col("vec_id"), lit(i), idx), lit(2001L)) -
                lit(1000L)).cast("float") / lit(1000f)) * lit(eps.toFloat)))
        case _ => withText
      }
    }

    tables.filter(t => onlyTables.forall(_.contains(t))).foreach { t =>
      val base = loaded(t)
      val copies = (0 until factor).map { i =>
        val shifted = keyCols(t).foldLeft(base) { case (df, c) =>
          df.withColumn(c, col(c) + lit(i * stride(keySpace(c))))
        }
        mutate(t, i, shifted)
      }
      copies.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dstDir/$t.parquet")
      println(s"[scale] $t x$factor done")
    }
    if (ownSession) spark.stop()
  }
}
