package graft.plans

import graft.core.TsdbSchema
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/**
 * Segment-pruning optimizer rule — the one piece of query planning the
 * built-in optimizer genuinely cannot do for us: `segment_start` is
 * defined as `ts - ts % segmentSeconds`, so any range predicate on `ts`
 * implies a range predicate on the partition column, but Spark has no
 * way to know that functional relationship. This rule derives it:
 *
 *   ts >= a  ⇒  segment_start >= floor(a / seg) * seg
 *   ts <  b  ⇒  segment_start <  b
 *
 * With the derived conjunct in place, `PruneFileSourcePartitions` skips
 * whole 2h-segment directories — the reference's `getSegmentTimes`
 * segment skipping (core/.../core/LongRunningStorage.java:66-120) —
 * without queries having to spell the partition predicate manually.
 *
 * The rule is idempotent (it skips filters that already constrain
 * `segment_start`) and purely additive (the derived predicate is implied
 * by the original, so semantics are unchanged on any source, partitioned
 * or not).
 *
 * graft's own readers (`Lake.points`, `IngestJob.points`) pass the
 * declared `TsdbSchema.points`, so `segment_start` arrives as a long. A
 * lake read without a schema gets an inferred partition type instead —
 * `int` for epoch seconds below 2^31 — so the rule accepts any integral
 * `segment_start` and compares it through a cast to long.
 */
object SegmentPruning extends Rule[LogicalPlan] with PredicateHelper {

  private val Seg = TsdbSchema.SegmentSeconds

  private val Integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val tsAttr = child.output.find(a => a.name == "ts" && a.dataType == LongType)
      val segAttr = child.output.find(a => a.name == "segment_start" && Integral(a.dataType))
      (tsAttr, segAttr) match {
        case (Some(ts), Some(segCol)) if !cond.references.contains(segCol) =>
          val seg = if (segCol.dataType == LongType) segCol else Cast(segCol, LongType)
          val conjuncts = splitConjunctivePredicates(cond)
          val lower = conjuncts.collectFirst {
            case GreaterThanOrEqual(a: AttributeReference, Literal(v: Long, LongType))
              if a.semanticEquals(ts) && v >= 0 => v
            case GreaterThan(a: AttributeReference, Literal(v: Long, LongType))
              if a.semanticEquals(ts) && v >= 0 && v < Long.MaxValue => v + 1
          }
          val upper = conjuncts.collectFirst {
            case LessThan(a: AttributeReference, Literal(v: Long, LongType))
              if a.semanticEquals(ts) && v >= 0 => v
            // v + 1 would wrap on Long.MaxValue, deriving `segment_start <
            // Long.MinValue` (always false); an open-ended upper bound
            // simply derives no conjunct instead.
            case LessThanOrEqual(a: AttributeReference, Literal(v: Long, LongType))
              if a.semanticEquals(ts) && v >= 0 && v < Long.MaxValue => v + 1
          }
          val derived = Seq(
            lower.map(a => GreaterThanOrEqual(seg, Literal((a / Seg) * Seg))),
            upper.map(b => LessThan(seg, Literal(b)))).flatten
          if (derived.isEmpty) f
          else Filter(And(cond, derived.reduce[Expression](And)), child)
        case _ => f
      }
  }
}

/** Session extensions: the segment-pruning rule + native functions.
 *  Activated via `spark.sql.extensions=graft.plans.GraftExtensions`
 *  (GraftSession sets it by default). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // RollupRouting first: it must see range filters before SegmentPruning
    // adds derived segment_start conjuncts (which the rollup store does
    // not carry — routing would bail on them)
    ext.injectOptimizerRule(_ => RollupRouting)
    ext.injectOptimizerRule(_ => SegmentPruning)
    ext.injectFunction((
      new FunctionIdentifier("md5prefix28"),
      new ExpressionInfo(classOf[graft.functions.Md5Prefix28].getName, "md5prefix28"),
      (children: Seq[Expression]) => graft.functions.Md5Prefix28(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("dotp"),
      new ExpressionInfo(classOf[graft.functions.DotProduct].getName, "dotp"),
      (children: Seq[Expression]) =>
        graft.functions.DotProduct(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("text_stats"),
      new ExpressionInfo(classOf[graft.functions.TextStats].getName, "text_stats"),
      (children: Seq[Expression]) => graft.functions.TextStats(children.head)))
    // Spark's own bloom-filter pair (the machinery behind runtime join
    // filtering), surfaced as callable functions: graft_bloom_agg(longCol,
    // expectedItems) builds a serialized bloom; graft_might_contain(bloom,
    // longCol) probes it. Used by Dedup.dedupAgainstReference to avoid
    // shuffling a reference corpus.
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (children: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, "graft_might_contain"),
      (children: Seq[Expression]) => BloomFilterMightContain(children(0), children(1))))
  }
}
