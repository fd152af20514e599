package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/**
 * Optimizer rule: rewrite a sliding-window aggregation into the slice
 * roll-up form automatically — the Catalyst-rule twin of
 * [[graft.operators.Windows.slidingCountRollup]] (the API-level form the
 * catalog queries already use by hand).
 *
 * `groupBy(window(ts, size, slide), keys).agg(...)` analyzes into
 * `Aggregate(Expand(N projections))` with N = size/slide: EVERY INPUT ROW
 * is replicated N× before the exchange. This rule splits it into
 *
 *   Aggregate(final, original output ids)
 *     Expand(N projections)            ← fan-out of AGGREGATED slices
 *       Aggregate(partial, by slide-width slice + keys)
 *         originalChild
 *
 * so the first exchange carries |keys × slices| partial rows instead of
 * N× the corpus — at 1 h/5 s windows a 720× shuffle-volume cut for the
 * identical result.
 *
 * Fires only when provably exact:
 *  - the Aggregate sits DIRECTLY on the Expand (when size % slide != 0,
 *    TimeWindowing inserts a window-bounds Filter between them and the
 *    ceil(size/slide)-way expansion over-covers — bail);
 *  - all expand projections are identical except the window struct column,
 *    whose variants differ in exactly two Long literals stepping by a
 *    constant (the slide in µs, exactly as TimeWindowing emits:
 *    start_i = aligned(ts) − i·slide, end_i = start_i + size);
 *  - every aggregate is a filterless, non-distinct Count / Sum / Min /
 *    Max / Average (decomposable as sum-of-counts / sum / min / max /
 *    sum-of-sums ÷ sum-of-counts). Float sums re-associate exactly like
 *    Spark's own partial aggregation already does. DECIMAL Sum/Average
 *    slice partials sum at MAXIMUM precision (operand widened to
 *    Decimal(38, s)) and the outer re-sum casts back to the one-level
 *    result type, so genuine whole-group overflow still nulls
 *    identically while a slice partial only overflows past 38 digits
 *    (not the one-level p+10); each decimal sum also carries a
 *    per-slice non-null count so the outer final can tell an
 *    overflowed slice partial (sum null, count > 0, non-ANSI) from an
 *    all-null slice, and returns null whenever ANY slice partial
 *    overflowed — exact whenever no slice partial overflows, null when
 *    the one-level aggregate would have overflowed AND in the
 *    now->38-digit cancellation corner where a slice overflows but the
 *    whole-group sum would not (conservatively null, never a silently
 *    wrong value); the
 *    Average division runs over operands cast to the SAME types the
 *    one-level Average divides, so its rounding is identical.
 *
 * Opt-in: injected by [[graft.functions.GraftExtensions]]
 * (`spark.sql.extensions`) — the catalog queries keep calling the explicit
 * operator; this rule serves declarative/SQL users of the library.
 * Disable per-query via spark.sql.optimizer.excludedRules.
 */
object SliceRollupRule extends Rule[LogicalPlan] {

  private val MinFanout = 4 // below this the second aggregate isn't worth it

  override def apply(plan: LogicalPlan): LogicalPlan = plan transformUp {
    case agg @ Aggregate(_, _, expand: Expand, None) =>
      rewrite(agg, expand).getOrElse(agg)
  }

  /** Pairwise tree walk collecting (left, right) values at Long-literal
    * positions where the two expressions differ; None on structural diff. */
  private def literalDiffs(a: Expression, b: Expression): Option[Seq[(Long, Long)]] =
    (a, b) match {
      case (Literal(x: Long, LongType), Literal(y: Long, LongType)) =>
        if (x == y) Some(Nil) else Some(Seq((x, y)))
      case _ if a.getClass == b.getClass && a.children.length == b.children.length =>
        if (a.children.isEmpty) {
          if (a.semanticEquals(b)) Some(Nil) else None
        } else {
          val parts = a.children.zip(b.children)
            .map { case (ca, cb) => literalDiffs(ca, cb) }
          if (parts.forall(_.isDefined)) Some(parts.flatMap(_.get)) else None
        }
      case _ => None
    }

  private def completeAgg(fn: AggregateFunction): AggregateExpression =
    AggregateExpression(fn, Complete, isDistinct = false, None, NamedExpression.newExprId)

  /** Null out `result` when any slice's decimal partial overflowed:
    * a partial sum that is null while its slice saw `cnt > 0` non-null
    * inputs can only mean (non-ANSI) overflow — an all-null slice has
    * cnt == 0 and its null partial is legitimately skipped by the outer
    * re-sum. Max over booleans = logical OR across slices. */
  private def decimalOverflowGuard(sumRef: Attribute, cntRef: Attribute,
                                   result: Expression,
                                   resType: DataType): Expression = {
    val sliceOverflowed = If(
      And(IsNull(sumRef), GreaterThan(cntRef, Literal(0L, LongType))),
      Literal(true, BooleanType), Literal(false, BooleanType))
    If(Coalesce(Seq(completeAgg(Max(sliceOverflowed)), Literal(false, BooleanType))),
      Literal.create(null, resType), result)
  }

  private def rewrite(agg: Aggregate, expand: Expand): Option[LogicalPlan] = {
    // Batch-only: on a streaming plan the outer aggregate's reconstructed
    // window struct no longer carries the event-time/watermark metadata,
    // so the rewritten query fails Spark's unsupported-operation check
    // (append aggregation without watermark). Streaming callers use
    // StreamWindows.slidingCountRollupStream: one stateful operator that
    // keeps per-key slice counts, with the same output.
    if (expand.child.isStreaming) return None
    // Idempotence: our own output is Aggregate-over-Expand too, and with
    // wrapped-aggregate decomposition it would match again — the _rollup_
    // partial columns mark it. Without this the fixed-point loop nests
    // aggregates until the iteration cap.
    if (expand.output.exists(_.name.startsWith("_rollup_"))) return None
    val projections = expand.projections
    if (projections.length < MinFanout) return None
    val width = projections.head.length
    if (projections.exists(_.length != width)) return None

    // Exactly one column varies across projections — the window struct.
    val varying = (0 until width).filter { i =>
      projections.exists(p => !p(i).semanticEquals(projections.head(i)))
    }
    if (varying.length != 1) return None
    val wIdx = varying.head
    val windowAttr = expand.output(wIdx)
    val tsType = windowAttr.dataType match {
      case StructType(Array(f1, f2))
          if f1.name == "start" && f2.name == "end" && f1.dataType == f2.dataType =>
        f1.dataType
      case _ => return None
    }
    // Passthrough columns must be plain child attributes.
    val passIdx = (0 until width).filterNot(_ == wIdx)
    if (passIdx.exists(i => !projections.head(i).isInstanceOf[Attribute])) return None

    // Window variants: exactly two Long literals stepping by the slide.
    val w0 = projections(0)(wIdx)
    val diffs01 = literalDiffs(w0, projections(1)(wIdx)).getOrElse(return None)
    if (diffs01.length != 2) return None
    val slideUs = diffs01.head._2 - diffs01.head._1
    if (slideUs <= 0 || diffs01.exists { case (x, y) => y - x != slideUs }) return None
    if (!diffs01.forall(_._1 == 0L)) return None // projection 0 = offset 0
    val stepsOk = projections.sliding(2).forall {
      case Seq(p, q) =>
        literalDiffs(p(wIdx), q(wIdx)).exists(d =>
          d.length == 2 && d.forall { case (x, y) => y - x == slideUs })
      case _ => true
    }
    if (!stepsOk) return None
    val n = projections.length
    val sizeUs = n.toLong * slideUs
    // The size literal appears (uniquely) in projection 0's end arithmetic;
    // narrowing it to the slide yields the slice (tumbling slide-width
    // window) struct. Require uniqueness so the substitution is safe.
    val sizeLitCount = w0.collect {
      case Literal(x: Long, LongType) if x == sizeUs => x
    }.length
    if (sizeLitCount != 1) return None
    val sliceStruct = w0 transformUp {
      case Literal(x: Long, LongType) if x == sizeUs => Literal(slideUs, LongType)
    }

    // Grouping must be the window attr + passthrough attrs.
    val groupAttrs = agg.groupingExpressions.map {
      case a: AttributeReference => a
      case _ => return None
    }
    if (!groupAttrs.exists(_.exprId == windowAttr.exprId)) return None
    val keyAttrs = groupAttrs.filterNot(_.exprId == windowAttr.exprId)
    val passAttrs = passIdx.map(expand.output)
    if (keyAttrs.exists(k => !passAttrs.exists(_.exprId == k.exprId))) return None

    // Decompose aggregates. Aggregates may sit under arbitrary scalar
    // post-expressions (Spark's own DecimalAggregates rewrites
    // `avg(decimal)` into `cast(avg(UnscaledValue(d)) / 100.0 as ...)`,
    // and declarative users write `sum(a) / count(b)` shapes) — so each
    // output expression is rebuilt by replacing every embedded
    // AggregateExpression with its re-aggregated final form, keeping the
    // ORIGINAL alias exprId so downstream references keep resolving.
    // Aggregate-free projections of the grouping attrs (e.g. a collapsed
    // `cast(window.end as long) AS we`) pass through to the outer
    // aggregate unchanged — its grouping covers the same attrs.
    final case class Piece(partials: Seq[Alias],
                           finalFor: Seq[Attribute] => Expression)
    val groupSet = AttributeSet(groupAttrs)

    /** Split one aggregate function into slice partials + outer final;
      * None = unsupported, bail out of the whole rewrite. */
    def decomposeFn(fn: AggregateFunction, name: String): Option[Piece] = fn match {
      case _: Min | _: Max
          if fn.references.nonEmpty && fn.references.subsetOf(groupSet) =>
        // Group-constant aggregate: min/max of an expression built only
        // from grouping attributes (e.g. max(window.end)) equals the
        // expression itself on every (non-empty) group — no partial.
        Some(Piece(Nil, _ => fn.children.head))
      case _ if !fn.references.subsetOf(expand.child.outputSet) =>
        // The partial lands BELOW the Expand: its function may only
        // reference child attributes, never Expand-generated ones (e.g.
        // sum(v + window.end) — the window struct doesn't exist down
        // there, and the value isn't group-constant either).
        None
      case _ =>
        def one(partial: AggregateFunction, fin: Attribute => Expression) =
          Some(Piece(Seq(Alias(completeAgg(partial), s"_rollup_$name")()),
            refs => fin(refs.head)))
        fn match {
          case c: Count =>
            one(c, ref => Coalesce(Seq(completeAgg(Sum(ref)), Literal(0L, LongType))))
          case s: Sum if s.child.dataType.isInstanceOf[DecimalType] =>
            // Slice partials sum over the operand WIDENED to Decimal(38)
            // — maximum precision — so a slice partial overflows only
            // past 38 digits instead of the one-level p+10; the outer
            // re-sum casts back to the one-level Sum's result type (null
            // on overflow, non-ANSI), so genuine whole-group overflow
            // still nulls identically. The cancellation corner (a slice
            // overflows where the whole-group one-level sum would not)
            // needs >38-digit slice sums now — and the per-slice
            // non-null count guard still catches it conservatively: an
            // overflowed partial is null with count > 0 (an all-null
            // slice has count == 0), and the group nulls out rather than
            // silently skipping the slice.
            val dt = s.child.dataType.asInstanceOf[DecimalType]
            val wide = DecimalType(38, dt.scale)
            Some(Piece(
              Seq(Alias(completeAgg(Sum(Cast(s.child, wide))),
                  s"_rollup_$name")(),
                Alias(completeAgg(Count(Seq(s.child))), s"_rollup_nn_$name")()),
              refs => decimalOverflowGuard(refs(0), refs(1),
                Cast(completeAgg(Sum(refs(0))), s.dataType), s.dataType)))
          case s: Sum => one(s, ref => completeAgg(Sum(ref)))
          case m: Min => one(m, ref => completeAgg(Min(ref)))
          case m: Max => one(m, ref => completeAgg(Max(ref)))
          case a: Average =>
            // avg = Σ slice sums / Σ slice non-null counts — exactly
            // Spark's own partial-average decomposition, re-associated
            // once more. All-null groups: sum is null → division null,
            // matching Average. Decimal divides over operands cast to
            // the SAME (sum-buffer, long-decimal) types the one-level
            // Average divides, so result type and rounding match.
            val (sumChild, fin): (Expression, Seq[Attribute] => Expression) =
              a.child.dataType match {
                case dt: DecimalType =>
                  // Sum's buffer type: precision + 10, capped at 38
                  val sumType =
                    DecimalType(math.min(dt.precision + 10, 38), dt.scale)
                  // slice partials at max precision — same corner-
                  // shrinking widening as the decimal Sum piece above
                  (Cast(a.child, DecimalType(38, dt.scale)),
                    refs => decimalOverflowGuard(refs(0), refs(1),
                      Cast(
                        Divide(
                          Cast(completeAgg(Sum(refs(0))), sumType),
                          Cast(completeAgg(Sum(refs(1))), DecimalType(20, 0))),
                        a.dataType),
                      a.dataType))
                case _ =>
                  (a.child,
                    refs => Divide(
                      Cast(completeAgg(Sum(refs(0))), DoubleType),
                      Cast(completeAgg(Sum(refs(1))), DoubleType)))
              }
            Some(Piece(
              Seq(Alias(completeAgg(Sum(sumChild)), s"_rollup_sum_$name")(),
                Alias(completeAgg(Count(Seq(a.child))), s"_rollup_cnt_$name")()),
              fin))
          case _ => None
        }
    }

    val decomposed: Seq[scala.util.Either[NamedExpression, (Alias, Seq[Piece])]] =
      agg.aggregateExpressions.map { ne =>
        val embedded = ne.collect { case ae: AggregateExpression => ae }
        if (embedded.isEmpty) {
          if (ne.references.subsetOf(groupSet)) scala.util.Left(ne)
          else return None
        } else ne match {
          case al @ Alias(body, name) =>
            // scalar context around the aggregates may only touch
            // grouping attrs (the outer aggregate's grouping covers them)
            val outside = body.references --
              AttributeSet(embedded.flatMap(_.references))
            if (!outside.subsetOf(groupSet)) return None
            if (embedded.exists(ae =>
                ae.mode != Complete || ae.isDistinct || ae.filter.isDefined))
              return None
            val ps = embedded.zipWithIndex.map { case (ae, i) =>
              decomposeFn(ae.aggregateFunction, s"${name}_$i")
                .getOrElse(return None)
            }
            scala.util.Right((al, ps))
          case _ => return None
        }
      }
    val pieces = decomposed.collect { case scala.util.Right((_, ps)) => ps }.flatten

    // ---- inner aggregate: partials per (slice, keys) ----
    val sliceAlias = Alias(sliceStruct, "_rollup_slice")()
    val inner = Aggregate(
      sliceStruct +: keyAttrs,
      (sliceAlias +: keyAttrs) ++ pieces.flatMap(_.partials),
      expand.child, None)

    // ---- outer expand: fan each aggregated slice to its N windows ----
    val sliceRef = sliceAlias.toAttribute
    val pieceRefs: Seq[Seq[Attribute]] = pieces.map(_.partials.map(_.toAttribute))
    val partialRefs = pieceRefs.flatten
    def windowStruct(i: Int): Expression = {
      val startUs = Subtract(
        PreciseTimestampConversion(
          GetStructField(sliceRef, 0, Some("start")), tsType, LongType),
        Literal(i.toLong * slideUs, LongType))
      CreateNamedStruct(Seq(
        Literal("start"), PreciseTimestampConversion(startUs, LongType, tsType),
        Literal("end"), PreciseTimestampConversion(
          Add(startUs, Literal(sizeUs, LongType)), LongType, tsType)))
    }
    val outerExpand = Expand(
      (0 until n).map(i => windowStruct(i) +: (keyAttrs ++ partialRefs: Seq[Expression])),
      windowAttr +: (keyAttrs ++ partialRefs),
      inner)

    // ---- outer aggregate: original grouping attrs + re-reduced partials ----
    // Each output alias is rebuilt with its embedded aggregates swapped for
    // their re-aggregated finals. collect (pre-order) and transformUp
    // (post-order) enumerate SIBLING matches in the same left-to-right
    // order, and aggregates never nest, so the iterator lines up.
    var pi = -1
    val outerAggExprs: Seq[NamedExpression] = decomposed.map {
      case scala.util.Left(a) => a
      case scala.util.Right((al, ps)) =>
        val finals = ps.map { p => pi += 1; p.finalFor(pieceRefs(pi)) }.iterator
        val newBody = al.child.transformUp {
          case _: AggregateExpression => finals.next()
        }
        Alias(newBody, al.name)(exprId = al.exprId)
    }
    Some(Aggregate(groupAttrs, outerAggExprs, outerExpand, None))
  }
}
