package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * Native Catalyst expressions for the embedding-similarity hot paths.
 *
 * The declarative dot product (`zip_with` + `aggregate`) is CodegenFallback:
 * one boxed lambda call per vector component. Brute-force top-k costs
 * |queries| × |corpus| × dim such calls — the entire query cost at corpus
 * scale. These run the same math as tight primitive loops and participate
 * in whole-stage codegen via `defineCodeGen`.
 *
 * Bit-parity contracts (test-pinned in `SimilaritySpec`):
 *  - `dot` folds strictly in array order, exactly like `aggregate`'s
 *    sequential fold, so scores are bit-identical to the declarative form.
 *  - `lshBucket` reproduces the declarative signature's plane components:
 *    component(p, i) = xxhash64(p, i) / Long.MaxValue, where Spark's
 *    two-argument xxhash64 seed-chains (hash p with seed 42, then i with
 *    that hash) — replicated here via XXH64.hashInt.
 */
object VectorOps {

  /** Sequential-order dot product of two double arrays (shorter length
    * governs, matching zip_with's null-padding then null-skipping fold). */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** Random projection of a double array onto `outDim` pseudo-random
    * hyperplanes — the SAME (plane, dim) component stream as [[lshBucket]]
    * (xxhash64-derived, in-order accumulation), so `lshBucket(v, d)` bit p
    * equals `randomProject(v, d)(p) >= 0`: the LSH bucket is the 1-bit
    * quantization of this projection. Planes derive from hashes, so any
    * executor reproduces them with no broadcast or model state. */
  def randomProject(v: ArrayData, outDim: Int): ArrayData = {
    val n = v.numElements()
    val out = new Array[Double](outDim)
    var p = 0
    while (p < outDim) {
      val seedP = XXH64.hashInt(p, TextHash.XXHASH_DEFAULT_SEED)
      var proj = 0.0
      var i = 0
      while (i < n) {
        val h = XXH64.hashInt(i, seedP)
        proj += v.getDouble(i) * (h.toDouble / Long.MaxValue.toDouble)
        i += 1
      }
      out(p) = proj
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** `planes`-bit random-hyperplane bucket of a double array — bit-identical
    * to the declarative signature `SimilaritySpec` keeps as reference. */
  def lshBucket(v: ArrayData, planes: Int): Long = {
    val n = v.numElements()
    var sig = 0L
    var p = 0
    while (p < planes) {
      val seedP = XXH64.hashInt(p, TextHash.XXHASH_DEFAULT_SEED)
      var proj = 0.0
      var i = 0
      while (i < n) {
        val h = XXH64.hashInt(i, seedP)
        proj += v.getDouble(i) * (h.toDouble / Long.MaxValue.toDouble)
        i += 1
      }
      if (proj >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }
}

/** graft_dot(array<double>, array<double>) → double. */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** graft_random_project(array<double>, outDim) → array<double>. */
case class RandomProjectExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = left.nullable

  override protected def nullSafeEval(v: Any, outDim: Any): Any =
    VectorOps.randomProject(v.asInstanceOf[ArrayData], outDim.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (v, d) => s"graft.functions.VectorOps.randomProject($v, $d)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** graft_lsh_bucket(array<double>, planes) → bigint. */
case class LshBucketExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable

  override protected def nullSafeEval(v: Any, planes: Any): Any =
    VectorOps.lshBucket(v.asInstanceOf[ArrayData], planes.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, p) => s"graft.functions.VectorOps.lshBucket($v, $p)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
