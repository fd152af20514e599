package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/**
 * Executor-side coarse-quantizer model: centroid ids, vectors, and norms
 * in primitive arrays, shipped once per executor as a TorrentBroadcast.
 * Exists because the literal-centroid assignment (`array_max` over one
 * struct literal per centroid) carries the WHOLE codebook in the
 * expression tree: plan construction, optimization, and codegen all
 * scale with the cell count, and past a few hundred cells the driver
 * pays minutes of plan work per query (PLANS.md's round-10 cid-store
 * table, at 1414 cells — the very sizing partition pruning wants).
 * This form is plan-size-flat at any cell count.
 */
final class CentroidSet(val ids: Array[Long],
                        val vecs: Array[Array[Double]],
                        val norms: Array[Double]) extends Serializable

object CentroidSet {
  def apply(cents: Array[(Long, Seq[Double], Double)]): CentroidSet =
    new CentroidSet(cents.map(_._1), cents.map(_._2.toArray), cents.map(_._3))
}

/**
 * `array<double>` vector → argmax-cosine centroid id over the broadcast
 * codebook, BIT-EQUIVALENT to the literal path (spec-pinned): the same
 * left-to-right dot ([[VectorOps.dot]] semantics, min-length), the same
 * `score = dot / (‖v‖ · cn)` arithmetic, and the same `(csim, negcid)`
 * lexicographic tie-break (equal scores pick the LOWEST centroid id;
 * double comparison is total order with NaN greatest, matching Spark's
 * struct ordering under `array_max`). Serializes as the broadcast
 * handle; stays inside whole-stage codegen via a plan reference object.
 */
case class CentroidArgmaxExpr(child: Expression, setBc: Broadcast[CentroidSet])
    extends UnaryExpression {

  override def dataType: DataType = LongType

  def argmax(v: ArrayData): Long = {
    val s = setBc.value
    val n = v.numElements()
    var vv = 0.0
    var i = 0
    while (i < n) { val x = v.getDouble(i); vv += x * x; i += 1 }
    val vn = math.sqrt(vv)
    var first = true
    var bestScore = 0.0
    var bestNeg = 0L
    var c = 0
    while (c < s.ids.length) {
      val cv = s.vecs(c)
      val m = math.min(n, cv.length)
      var d = 0.0
      var j = 0
      while (j < m) { d += v.getDouble(j) * cv(j); j += 1 }
      val score = d / (vn * s.norms(c))
      val neg = -s.ids(c)
      val cmp = if (first) 1 else java.lang.Double.compare(score, bestScore)
      if (cmp > 0 || (cmp == 0 && neg > bestNeg)) {
        bestScore = score; bestNeg = neg; first = false
      }
      c += 1
    }
    -bestNeg
  }

  override protected def nullSafeEval(v: Any): Any =
    argmax(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroidArgmax", this,
      classOf[CentroidArgmaxExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.argmax($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Executor-side PQ codebooks in primitive arrays: `books(j)(c)` =
  * codeword c of subspace j; `norms(j)(c)` = Σ codeword², accumulated in
  * index order exactly like the literal path's `cw.map(x*x).sum`. */
final class PqBookSet(val books: Array[Array[Array[Double]]],
                      val norms: Array[Array[Double]]) extends Serializable

object PqBookSet {
  def apply(books: Array[Array[Seq[Double]]]): PqBookSet =
    new PqBookSet(books.map(_.map(_.toArray)),
      books.map(_.map(cw => cw.map(x => x * x).sum)))
}

/**
 * `array<double>` vector → per-subspace argmin-distance PQ codes over the
 * broadcast codebooks, BIT-EQUIVALENT to the literal encode
 * (`pqCodesFor`: per subspace, `array_max` over one `(2·dot − ‖cw‖²,
 * −c)` struct literal per codeword): the same sequential-order
 * sub-vector dot ([[VectorOps.dot]] min-length semantics over
 * `slice(v, j·ds+1, ds)`), the same `score = dot·2 − n2` arithmetic,
 * and the same lexicographic tie-break (equal scores pick the LOWEST
 * code; `java.lang.Double.compare` matches Spark's double ordering under
 * `array_max`, NaN greatest). Exists because the literal form allocates
 * per ROW — m sub-slices, m·kSub score structs, m struct arrays — which
 * profiled as the dominant CPU of every corpus-sized encode pass
 * (~135 µs/row at m=8, kSub=16, dim=64 vs ~1 µs in this loop), and
 * because its plan size scales with m·kSub. Ships once per executor as
 * a TorrentBroadcast; stays inside whole-stage codegen via a plan
 * reference object (the [[CentroidArgmaxExpr]] pattern).
 */
case class PqCodesExpr(child: Expression, setBc: Broadcast[PqBookSet])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  def codes(v: ArrayData): ArrayData = {
    val s = setBc.value
    val m = s.books.length
    val n = v.numElements()
    val out = new Array[Int](m)
    var j = 0
    var off = 0
    while (j < m) {
      val cws = s.books(j)
      val ds = if (cws.length > 0) cws(0).length else 0
      val subLen = math.max(0, math.min(ds, n - off))
      var first = true
      var bestScore = 0.0
      var bestNeg = 0
      var c = 0
      while (c < cws.length) {
        val cw = cws(c)
        val lim = math.min(subLen, cw.length)
        var d = 0.0
        var t = 0
        while (t < lim) { d += v.getDouble(off + t) * cw(t); t += 1 }
        val score = d * 2 - s.norms(j)(c)
        val neg = -c
        val cmp = if (first) 1 else java.lang.Double.compare(score, bestScore)
        if (cmp > 0 || (cmp == 0 && neg > bestNeg)) {
          bestScore = score; bestNeg = neg; first = false
        }
        c += 1
      }
      out(j) = -bestNeg
      off += ds
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(v: Any): Any =
    codes(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodes", this,
      classOf[PqCodesExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.codes($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
