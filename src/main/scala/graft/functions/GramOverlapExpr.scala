package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/**
 * Executor-side benchmark n-gram set for streaming decontamination: the
 * benchmark's distinct gram fingerprints, sorted, probed by binary
 * search. Ships to each executor ONCE as a TorrentBroadcast value: a
 * `typedLit` array in the plan would re-serialize the whole set into
 * every micro-batch's plan, a per-batch tax that lost at every size
 * measured (PLANS.md round 10).
 *
 * A sorted primitive array beats a hash set here: the set is built once,
 * probed per doc-gram, and stores 8 B/gram with zero boxing — at 1M
 * benchmark grams that is 8 MB per executor and ~20 probe steps.
 */
final class GramSet(val sorted: Array[Long]) extends Serializable {
  def contains(g: Long): Boolean =
    java.util.Arrays.binarySearch(sorted, g) >= 0
}

/**
 * `array<long>` doc grams → count of grams present in the broadcast
 * benchmark set (`bigint`). The doc-gram child is produced with
 * `distinct = true`, so this count equals the batch
 * `TextAnalysis.contaminationCheck` overlap exactly (stream ≡ batch
 * pinned in `StreamPipelineSpec`). Serializes as the
 * broadcast HANDLE; stays inside whole-stage codegen via a plan
 * reference object, mirroring [[BpeSegmentWordsExpr]].
 *
 * Not registered in the function registry: constructed programmatically
 * by `StreamPipeline.decontaminateStream`, which owns the broadcast
 * lifecycle.
 */
case class GramOverlapCountExpr(child: Expression, setBc: Broadcast[GramSet])
    extends UnaryExpression {

  override def dataType: DataType = LongType

  /** Count member grams; called from interpreted and generated paths. */
  def overlap(arr: ArrayData): Long = {
    val set = setBc.value
    val n = arr.numElements()
    var i = 0
    var c = 0L
    while (i < n) {
      if (set.contains(arr.getLong(i))) c += 1
      i += 1
    }
    c
  }

  override protected def nullSafeEval(grams: Any): Any =
    overlap(grams.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gramOverlap", this,
      classOf[GramOverlapCountExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.overlap($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
