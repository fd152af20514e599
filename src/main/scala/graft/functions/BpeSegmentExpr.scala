package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.Tokenize

/**
 * Executor-side BPE segmentation model: the segmented vocabulary plus
 * merge rules, with a lazily-built UTF8String→ArrayData lookup table.
 *
 * The table is `@transient lazy` ON THE BROADCAST VALUE, not on the
 * expression: TorrentBroadcast caches the deserialized value once per
 * executor JVM, so the table builds once per executor — an expression-
 * held table would rebuild per task, because plan reference objects are
 * deserialized with every task binary (measured: the rebuild made the
 * expression SLOWER than the r8 UDF at 100k vocab).
 */
final class BpeSegModel(vocab: Map[String, Seq[String]],
                        merges: IndexedSeq[Tokenize.Merge])
    extends Serializable {

  @transient private lazy val table: java.util.HashMap[UTF8String, ArrayData] = {
    val m = new java.util.HashMap[UTF8String, ArrayData](vocab.size * 2)
    vocab.foreach { case (w, toks) =>
      m.put(UTF8String.fromString(w),
        new GenericArrayData(toks.map(UTF8String.fromString).toArray[Any]))
    }
    m
  }

  /** Subword ArrayData for one word: table hit or merge-chain fallback
    * ([[Tokenize.segmentWordLocal]], the exact twin of the Catalyst
    * fold). Returned values are shared across rows; Spark copies row
    * contents out of expression results before buffering, so sharing is
    * safe. */
  def segmentWord(w: UTF8String): ArrayData = {
    val hit = table.get(w)
    if (hit != null) hit
    else new GenericArrayData(
      Tokenize.segmentWordLocal(w.toString, merges)
        .map(UTF8String.fromString).toArray[Any])
  }
}

/**
 * Streaming BPE segmenter over a TorrentBroadcast model:
 * `array<string>` words → `array<array<string>>` subword lists, each
 * word looked up in the broadcast segmented vocabulary with the
 * merge-chain fallback for out-of-vocabulary words (equivalence with
 * the Catalyst fold pinned in `StreamPipelineSpec`).
 *
 * Exists because vocabularies must NOT live in the plan (the `typedLit`
 * form's per-batch plan re-serialization tax lost at every vocab size
 * measured — PLANS.md rounds 8–9) and the round-8
 * fallback, a Scala UDF, boxed every row through the Catalyst↔Scala
 * converters and split whole-stage codegen at the projection. This
 * expression serializes as the broadcast HANDLE (a few bytes; the model
 * ships to each executor once, on first use) and stays inside codegen —
 * the generated code invokes [[segment]] on the plan-referenced
 * instance directly, no converters.
 *
 * Not registered in the function registry: it is constructed
 * programmatically by `StreamPipeline.bpeSegmentStream`, which owns the
 * broadcast lifecycle.
 */
case class BpeSegmentWordsExpr(child: Expression,
                               modelBc: Broadcast[BpeSegModel])
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(ArrayType(StringType))

  /** Segment one word array; called from both interpreted and generated
    * code paths. */
  def segment(ws: ArrayData): ArrayData = {
    val model = modelBc.value
    val n = ws.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val w = ws.getUTF8String(i)
      out(i) = if (w == null) null else model.segmentWord(w)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(ws: Any): Any =
    segment(ws.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeSegmenter", this,
      classOf[BpeSegmentWordsExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.segment($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
