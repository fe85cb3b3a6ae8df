package graft.plans

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}

/** The one move of the theta-join family (Okcan & Riedewald, SIGMOD 2011):
  * bucket both sides, equi-join on the bucket, re-check the exact
  * predicate.  Each rewrite here takes an inner [[Join]] whose condition
  * is the exact predicate and returns the bucketed plan with the same
  * output; both the public [[graft.joins.NonEquiJoins]] operators and the
  * optimizer rules ([[BandJoinAutoRewrite]], [[IntervalOverlapAutoRewrite]])
  * call them, so the API and the planner build identical plans.
  */
object Bucketing extends PredicateHelper {

  /** Exact `Math.floorDiv(v, d)` as expressions: truncating integral
    * divide, minus 1 when the remainder is negative.  Overflow-free over
    * the whole long range (d > 0), where a double quotient would
    * mis-bucket values above 2^53 (epoch-micros are already past 2^50). */
  def floorDiv(v: Expression, d: Long): Expression = {
    val l = Cast(v, LongType)
    Subtract(
      IntegralDivide(l, Literal(d)),
      If(LessThan(Remainder(l, Literal(d)), Literal(0L)), Literal(1L), Literal(0L)))
  }

  /** The bucket of a band of half-width `eps` over values of type `t`:
    * exact [[floorDiv]] for integral values with an integral eps, else
    * `floor(v / eps)` in doubles.  None unless eps is a positive number. */
  def bandBucket(t: DataType, eps: Any): Option[Expression => Expression] = (t, eps) match {
    case (LongType | IntegerType, e: Long) if e > 0 => Some(floorDiv(_, e))
    case (LongType | IntegerType, e: Int) if e > 0 => Some(floorDiv(_, e.toLong))
    case (_, e: Double) if e > 0 =>
      Some(v => Floor(Divide(if (v.dataType == DoubleType) v else Cast(v, DoubleType), Literal(e))))
    case _ => None
  }

  /** Some(true) if `e` reads only the left side, Some(false) only the
    * right, None otherwise (constants included). */
  def sideOf(e: Expression, left: LogicalPlan, right: LogicalPlan): Option[Boolean] = {
    val refs = e.references
    if (refs.isEmpty) None
    else if (refs.subsetOf(left.outputSet)) Some(true)
    else if (refs.subsetOf(right.outputSet)) Some(false)
    else None
  }

  /** True if the condition already has an equi conjunct across the sides
    * (Catalyst picks a hash/sort-merge join by itself). */
  def hasEquiKey(cond: Expression, left: LogicalPlan, right: LogicalPlan): Boolean =
    splitConjunctivePredicates(cond).exists {
      case EqualTo(a, b) =>
        val (sa, sb) = (sideOf(a, left, right), sideOf(b, left, right))
        sa.isDefined && sb.isDefined && sa != sb
      case _ => false
    }

  /** Band rewrite of `j` (condition includes |lVal − rVal| ≤ eps, or <):
    * the left side is replicated to its bucket ±1 (Generate+Explode), the
    * right keeps its single bucket, and the join becomes an equi join on
    * the bucket plus the original condition.  Every qualifying pair meets
    * in exactly the right row's bucket, so no dedup is needed. */
  def band(j: Join, lVal: Expression, rVal: Expression,
      bucket: Expression => Expression): LogicalPlan = {
    val bL = bucket(lVal)
    val gb = AttributeReference("__graft_gb", LongType)()
    val gbr = Alias(bucket(rVal), "__graft_gbr")()
    val leftGen = Generate(
      Explode(CreateArray(Seq(Subtract(bL, Literal(1L)), bL, Add(bL, Literal(1L))))),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(gb), child = j.left)
    val rightProj = Project(j.right.output :+ gbr, j.right)
    Project(j.output, Join(leftGen, rightProj, Inner,
      Some(And(EqualTo(gb, gbr.toAttribute), j.condition.get)), j.hint))
  }

  /** Interval-overlap rewrite of `j` with bucket width `w`: each side is
    * replicated across every bucket from its start to its last covered
    * point (`aLast`, `bLast`), and a pair is kept only in the bucket of
    * its overlap start `greatest(aStart, bStart)` — exactly once, without
    * a distinct.  For any pair with aStart <= bLast and bStart <= aLast
    * the overlap start is an endpoint of one side's range and inside the
    * other's, so both replicas exist there; the two-argument Sequence
    * yields the same bucket set for descending ranges.  NULL bounds
    * generate no buckets, matching the NULL comparisons of the naive join.
    */
  def overlap(j: Join, aStart: Expression, aLast: Expression,
      bStart: Expression, bLast: Expression, w: Long): LogicalPlan = {
    // Sequence is a TimeZoneAwareExpression: an unset zone leaves the
    // rewritten plan unresolved even for integral bounds
    val tz = Some(SQLConf.get.sessionLocalTimeZone)
    def spans(start: Expression, last: Expression, name: String, child: LogicalPlan) = {
      val gb = AttributeReference(name, LongType)()
      (gb, Generate(Explode(Sequence(floorDiv(start, w), floorDiv(last, w), None, tz)),
        unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = Seq(gb), child = child))
    }
    val (gbL, leftGen) = spans(aStart, aLast, "__graft_ivl", j.left)
    val (gbR, rightGen) = spans(bStart, bLast, "__graft_ivr", j.right)
    val startBucket = floorDiv(Greatest(Seq(Cast(aStart, LongType), Cast(bStart, LongType))), w)
    Project(j.output, Join(leftGen, rightGen, Inner,
      Some(And(And(EqualTo(gbL, gbR), EqualTo(gbL, startBucket)), j.condition.get)), j.hint))
  }

  /** Up to `buckets - 1` cell boundaries from `approxQuantile` over the
    * union of both value columns, distinct and sorted (duplicate quantiles
    * on heavy hitters would create zero-width cells). */
  def quantileBounds(left: DataFrame, right: DataFrame,
      lVal: String, rVal: String, buckets: Int): Array[Double] = {
    val vals = left.select(F.col(lVal).cast("double").as("v"))
      .unionByName(right.select(F.col(rVal).cast("double").as("v")))
    val probes = (1 until buckets).map(_.toDouble / buckets).toArray
    vals.stat.approxQuantile("v", probes, 0.001).distinct.sorted
  }
}
