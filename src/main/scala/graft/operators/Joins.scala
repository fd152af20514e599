package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.functions.GraftFunctions

/**
 * Multi-stream join operators (SURVEY.md §2.4).
 *
 * The reference implements these as per-key state machines
 * (ProcessJoinFunction / CoProcessFunction); batch-side we express the same
 * semantics declaratively so Catalyst can pick a shuffled-hash / sort-merge
 * join on the equi key and evaluate the time-range predicate as a post-join
 * filter. At 100 TB the equi key (txId / user) carries the shuffle; the range
 * condition never forces a nested-loop because an equality conjunct exists.
 */
object Joins {

  /**
   * Event-time interval join (J1 — OrderReceiptAppWithJoin.java:58-61:
   * receipt.ts ∈ [pay.ts − lowerSec, pay.ts + upperSec] matched on txId).
   *
   * `leftUsec`/`rightUsec` are epoch-microsecond bigint columns — integer
   * event time survives engine round-trips losslessly (SURVEY.md §7.4).
   */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftUsec: String, rightUsec: String,
                   lowerSec: Long, upperSec: Long): DataFrame = {
    val l = left.alias("l")
    val r = right.alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightUsec") >= col(s"l.$leftUsec") - lit(lowerSec * 1000000L) &&
        col(s"r.$rightUsec") <= col(s"l.$leftUsec") + lit(upperSec * 1000000L),
      "inner")
  }

  /**
   * As-of join (backward): for every left row, the single LATEST right row
   * with `right.ts <= left.ts` on the same key — the time-series/feature
   * lookup join Spark lacks natively (the brief's canonical custom-operator
   * example; DuckDB ships it as `ASOF JOIN`, which is the oracle).
   *
   * NOT a range join: implemented as the sort-merge union trick —
   * both sides union with a side marker, one exchange by `key`, one sort
   * by (ts, side), and a running `last(_, ignoreNulls)` carries each right
   * row's values forward to the left rows that follow it. Cost at 100 TB:
   * a single shuffle of |left| + |right| narrow rows and one sort — no
   * per-row range explosion, no nested loop, no broadcast requirement.
   * A right row at exactly left.ts matches (side orders right first).
   *
   * `rVals` = right value columns to carry (names must not collide with
   * left columns); right should be unique per (key, ts) for deterministic
   * results — pre-aggregate if it isn't. `toleranceUsec` optionally
   * rejects matches older than `left.ts - tolerance` (pandas
   * merge_asof-style), leaving nulls like the unmatched case.
   */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               leftUsec: String, rightUsec: String, rVals: Seq[String],
               toleranceUsec: Option[Long] = None): DataFrame = {
    val l = left.withColumn("_side", lit(1)).withColumn("_ts", col(leftUsec))
    val r = right
      .select((col(key) +: col(rightUsec) +: rVals.map(col)): _*)
      .withColumn("_side", lit(0)).withColumn("_ts", col(rightUsec))
    val u = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(col(key)).orderBy(col("_ts").asc, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = (rVals :+ rightUsec).foldLeft(u)((df, c) =>
      df.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
    val matched = carried.filter(col("_side") === 1)
    val out = toleranceUsec match {
      case Some(tol) =>
        val fresh = col(rightUsec) >= col("_ts") - lit(tol)
        (rVals :+ rightUsec).foldLeft(matched)((df, c) =>
          df.withColumn(c, when(fresh, col(c))))
      case None => matched
    }
    out.drop("_side", "_ts")
  }

  /**
   * Native as-of join — identical semantics and output columns to
   * [[asofJoin]], executed by the custom whole-operator plan
   * ([[graft.plans.AsOfJoinNode]] → [[graft.plans.AsOfJoinExec]]): each
   * side is clustered by its own key and sorted (key, time), then merged
   * in one streaming pass per partition. Unlike the window form, the two
   * sides never union: each crosses the wire once in its own width, and
   * the per-partition state is ONE buffered right row instead of a
   * window frame — the shape that wins when both sides are large.
   *
   * Keys and times must be non-null; times must be (castable to) long
   * epoch-microseconds. Right value column names must not collide with
   * left columns (same contract as [[asofJoin]]).
   */
  def asofJoinNative(left: DataFrame, right: DataFrame, key: String,
                     leftUsec: String, rightUsec: String, rVals: Seq[String],
                     toleranceUsec: Option[Long] = None): DataFrame = {
    val spark = left.sparkSession
    graft.plans.AsOfJoinStrategy.install(spark)
    val l = left.withColumn(leftUsec, col(leftUsec).cast("long"))
    // Fresh aliases on EVERY right column: both sides often derive from
    // the same scan, and duplicate attribute ids across the two children
    // of a custom binary node confuse resolution the way a raw self-join
    // would. An Alias mints a new id per column.
    val r = right.select(
      (col(key).as("_r_key") +: col(rightUsec).cast("long").as(rightUsec) +:
        rVals.map(c => col(c).as(c))): _*)
    val lPlan = l.queryExecution.analyzed
    val rPlan = r.queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             name: String) =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column '$name' not found"))
    val node = graft.plans.AsOfJoinNode(
      lPlan, rPlan,
      attr(lPlan, key), attr(rPlan, "_r_key"),
      attr(lPlan, leftUsec), attr(rPlan, rightUsec), toleranceUsec)
    org.apache.spark.sql.graft.GraftDatasetShim.ofRows(spark, node)
      .drop("_r_key")
  }

  /**
   * Bloom-pruned semi join — the 100 TB shape for "fact ⋉ big dim" when
   * the dim's KEY SET no longer broadcasts as a hash table but a bloom
   * filter of it does (a 100 M-key dim is a multi-GB hashed relation but
   * a ~100 MB bloom at 1% fpp): build the bloom distributedly over the
   * dim keys (partial sketches merge associatively — Spark's own
   * `BloomFilterAggregate`), broadcast the one-row sketch, drop
   * non-members map-side BEFORE the shuffle, and run the exact semi join
   * only over the survivors (≈ matches + fpp·|fact|). The result is
   * EXACTLY the semi join — the bloom only prunes shuffle volume, false
   * positives are re-checked — which is why the gate can hold an exact
   * EXISTS oracle. Spark's `InjectRuntimeFilter` applies the same idea
   * heuristically; this operator is the explicit, caller-controlled form.
   */
  def bloomSemiJoin(fact: DataFrame, factKey: String,
                    dim: DataFrame, dimKey: String,
                    expectedItems: Long, numBits: Long): DataFrame = {
    // Scalar subquery, not a join: might_contain requires a constant/
    // scalar-subquery sketch, and this is exactly how Spark's own
    // InjectRuntimeFilter shapes it — the one-row aggregate computes once
    // and ships with the task binaries.
    val bloom = dim.agg(GraftFunctions.bloomAgg(
      xxhash64(col(dimKey)), expectedItems, numBits).as("_bf")).scalar()
    fact
      .filter(GraftFunctions.bloomContains(bloom, xxhash64(col(factKey))))
      .join(dim.select(col(dimKey).as("_dk")).distinct(),
        col(factKey) === col("_dk"), "left_semi")
  }

  /**
   * Bucketed range join — point-in-interval without the nested loop Spark
   * plans for a pure non-equi condition: intervals explode to the
   * fixed-width buckets they overlap, points map to their single bucket,
   * and the join becomes an EQUI join on bucket id with the exact range
   * predicate as a residual filter. Shuffle carries |points| +
   * Σ(interval width ÷ bucketWidth + 1) rows — choose `bucketWidth` near
   * the typical interval width so each interval lands in O(1) buckets.
   * Buckets only generate candidates; the residual keeps the result
   * exact (bit-identical to the BETWEEN join an oracle runs).
   */
  def bucketedRangeJoin(points: DataFrame, pointCol: String,
                        intervals: DataFrame, loCol: String, hiCol: String,
                        bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val p = points.withColumn("_pb",
      floor(col(pointCol) / lit(bucketWidth)).cast("long"))
    val iv = intervals.withColumn("_ib", explode(sequence(
      floor(col(loCol) / lit(bucketWidth)).cast("long"),
      floor(col(hiCol) / lit(bucketWidth)).cast("long"))))
    p.join(iv, col("_pb") === col("_ib") &&
        col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol))
      .drop("_pb", "_ib")
  }

  /**
   * Skew-salted equi-join: the join-side analog of `Windows.saltedCount`
   * for the case AQE's runtime skew split can't reach (e.g. a first-stage
   * shuffle where one key holds a double-digit share of the fact side).
   * The skewed (large) side gets a random salt in [0, saltBuckets); the
   * other side is replicated once per salt value; the join key becomes
   * (key, salt), spreading each hot key over `saltBuckets` reducers.
   * Result is exactly the plain inner equi-join (test-pinned); cost is a
   * `saltBuckets`× replication of the SMALLER side, so pick the sides
   * accordingly. Prefer plain joins + AQE unless a key is provably hot.
   */
  def skewSaltedJoin(skewed: DataFrame, other: DataFrame, key: String,
                     saltBuckets: Int): DataFrame = {
    val salted = skewed.withColumn("_salt",
      (rand(seed = 7) * saltBuckets).cast(IntegerType))
    val replicated = other.withColumn("_salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    salted.join(replicated,
        salted(key) === replicated(key) && salted("_salt") === replicated("_salt"))
      .drop(replicated(key)).drop("_salt")
  }

  /**
   * Full-outer reconcile with timeout branches (J2 —
   * OrderReceiptAppWithConnect.java:72-162: match pay↔receipt, emit
   * unmatched sides when the other never arrives in the interval).
   *
   * One full-outer join; the three reference outputs (matched /
   * payButNoReceipt / receiptButNoPay) become a single `status` column the
   * caller can split with filters — the Spark-native replacement for Flink
   * side outputs (SURVEY.md §2.1 K2).
   */
  def reconcile(left: DataFrame, right: DataFrame, key: String,
                leftUsec: String, rightUsec: String,
                lowerSec: Long, upperSec: Long,
                leftName: String = "left_only", rightName: String = "right_only"): DataFrame = {
    val l = left.alias("l")
    val r = right.alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightUsec") >= col(s"l.$leftUsec") - lit(lowerSec * 1000000L) &&
        col(s"r.$rightUsec") <= col(s"l.$leftUsec") + lit(upperSec * 1000000L),
      "full_outer")
      .withColumn("status",
        when(col(s"l.$leftUsec").isNull, lit(rightName))
          .when(col(s"r.$rightUsec").isNull, lit(leftName))
          .otherwise(lit("matched")))
  }
}
