package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** Optimizer rule: turn a naive band theta-join into the bucketed equi join.
  *
  * OSS Catalyst plans an inner join whose only condition is
  * `abs(l - r) <= eps` as BroadcastNestedLoopJoin (small side) or
  * CartesianProduct (otherwise) — both fatal at 100 TB.  This rule detects
  * the band conjunct, synthesizes an `eps`-wide bucket id on each side
  * (left side replicated to bucket-1/bucket/bucket+1 via Generate+Explode),
  * and rewrites the join into an equi join on the bucket plus the original
  * predicate.  Result sets are identical: every qualifying pair meets in
  * exactly the right row's bucket, and the exact predicate is re-checked.
  *
  * The rewrite itself is [[Bucketing.band]], shared with
  * [[graft.joins.NonEquiJoins.bandJoin]]: with the rule installed, a user
  * writing the naive `a.join(b, abs(a("v") - b("v")) <= 0.5)` gets the
  * scalable plan with no API change.  Install per session via
  * `GraftExtensions.addRule(spark, BandJoinAutoRewrite)`, or for
  * every session with
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  */
object BandJoinAutoRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** (leftValue, rightValue, bucketizer) for the first rewritable band
    * conjunct: `abs(l - r) <= eps` (or `<`, or flipped `>=`) with both
    * values double, or both integral with an integral eps literal.  Type
    * coercion has already run, so mixed int/long sides appear as casts to a
    * common integral type and int literals against long values are already
    * long — matching the coerced literal type is the general case. */
  private def findBand(cond: Expression, left: LogicalPlan, right: LogicalPlan)
      : Option[(Expression, Expression, Expression => Expression)] =
    splitConjunctivePredicates(cond).iterator.collect {
      case LessThanOrEqual(Abs(Subtract(x, y, _), _), l: Literal) => (x, y, l)
      case LessThan(Abs(Subtract(x, y, _), _), l: Literal) => (x, y, l)
      case GreaterThanOrEqual(l: Literal, Abs(Subtract(x, y, _), _)) => (x, y, l)
    }.flatMap { case (x, y, eps) =>
      if (x.dataType != y.dataType) None
      else Bucketing.bandBucket(x.dataType, eps.value).flatMap { mk =>
        (Bucketing.sideOf(x, left, right), Bucketing.sideOf(y, left, right)) match {
          case (Some(true), Some(false)) => Some((x, y, mk))
          case (Some(false), Some(true)) => Some((y, x, mk))
          case _ => None
        }
      }
    }.nextOption()

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), _)
        if !Bucketing.hasEquiKey(cond, left, right) =>
      findBand(cond, left, right)
        .map { case (lVal, rVal, mk) => Bucketing.band(j, lVal, rVal, mk) }
        .getOrElse(j)
  }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` installs the graft
  * planner extensions into every new SparkSession. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => BandJoinAutoRewrite)
    e.injectOptimizerRule(_ => IntervalOverlapAutoRewrite)
    e.injectPlannerStrategy(_ => TopKStrategy)
    e.injectPlannerStrategy(_ => IEJoinStrategy)
  }
}

/** The same pieces installed into one running session, each at most once.
  * `spark.experimental` is session-global mutable state, so the
  * check-then-append is synchronized: concurrent callers cannot drop each
  * other's entry. */
object GraftExtensions {
  def addRule(spark: SparkSession, rule: Rule[LogicalPlan]): Unit =
    spark.experimental.synchronized {
      if (!spark.experimental.extraOptimizations.contains(rule))
        spark.experimental.extraOptimizations :+= rule
    }

  def addStrategy(spark: SparkSession, strategy: SparkStrategy): Unit =
    spark.experimental.synchronized {
      if (!spark.experimental.extraStrategies.contains(strategy))
        spark.experimental.extraStrategies :+= strategy
    }
}
