package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule: turn a naive interval-overlap theta-join
  * (`aStart <= bEnd AND bStart <= aEnd`) into the bucketed equi join.
  *
  * Without an equi key, OSS Catalyst plans the overlap join as
  * BroadcastNestedLoopJoin or CartesianProduct.  This rule replicates each
  * side's interval across the fixed-width buckets it spans
  * (`Generate(Explode(Sequence(...)))`), joins on bucket equality, and
  * keeps a pair only in its OVERLAP-START bucket
  * (`bucket == floor(max(aStart, bStart) / w)`) — exactly-once without a
  * distinct.  The rewrite itself is [[Bucketing.overlap]], shared with
  * [[graft.joins.NonEquiJoins.intervalOverlapJoinVar]].
  *
  * Correctness does not depend on which crossing inequality pair is
  * matched (see [[Bucketing.overlap]]): matching a different conjunct
  * pair can only change replication cost, never results.
  *
  * The bucket width is data-dependent (an interval spans len/w + 1
  * buckets), so the rule only fires when the session sets
  * `graft.interval.rewrite.bucketWidth` to a positive long — the same
  * posture as AQE's size thresholds.  Integral (int/long) bound
  * expressions only; NULL bounds generate no buckets, matching the naive
  * join's NULL-comparison semantics.
  */
object IntervalOverlapAutoRewrite extends Rule[LogicalPlan] with PredicateHelper {

  val WidthConf = "graft.interval.rewrite.bucketWidth"

  /** (aStart, aEnd, bStart, bEnd) from two crossing integral inequalities
    * `aStart <= bEnd` and `bStart <= aEnd` (strict or flipped forms too),
    * a* reading only the left side and b* only the right. */
  private def findOverlap(cond: Expression, left: LogicalPlan, right: LogicalPlan)
      : Option[(Expression, Expression, Expression, Expression)] = {
    def integral(e: Expression): Boolean = e.dataType match {
      case LongType | IntegerType => true
      case _ => false
    }
    val ineqs = splitConjunctivePredicates(cond).collect {
      case LessThanOrEqual(a, b) => (a, b)
      case LessThan(a, b) => (a, b)
      case GreaterThanOrEqual(a, b) => (b, a)
      case GreaterThan(a, b) => (b, a)
    }.filter { case (lo, hi) => integral(lo) && integral(hi) }
    def crossing(loLeft: Boolean) = ineqs.find { case (lo, hi) =>
      Bucketing.sideOf(lo, left, right).contains(loLeft) &&
        Bucketing.sideOf(hi, left, right).contains(!loLeft)
    }
    for ((aStart, bEnd) <- crossing(true); (bStart, aEnd) <- crossing(false))
      yield (aStart, aEnd, bStart, bEnd)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val w = SQLConf.get.getConfString(WidthConf, "0").toLong
    if (w <= 0) plan
    else plan.transform {
      case j @ Join(left, right, Inner, Some(cond), _)
          if !Bucketing.hasEquiKey(cond, left, right) =>
        findOverlap(cond, left, right)
          .map { case (aStart, aEnd, bStart, bEnd) =>
            Bucketing.overlap(j, aStart, aEnd, bStart, bEnd, w) }
          .getOrElse(j)
    }
  }
}
