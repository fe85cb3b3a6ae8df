package graft.plans

import org.apache.spark.sql.{Column, DataFrame, functions => F}
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

  /** The output attribute of `plan` named `n`. */
  def attr(plan: LogicalPlan)(n: String): Attribute = plan.output.find(_.name == n)
    .getOrElse(throw new IllegalArgumentException(
      s"column '$n' not in ${plan.output.map(_.name).mkString(", ")}"))

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

  /** Values the statistics job samples per side. */
  val SampleSize = 2048

  /** One side's statistics: the number of rows whose value is non-null,
    * and a uniform sample of at most [[SampleSize]] of those values. */
  final case class SideSample(rows: Long, values: Array[Double])

  /** The one driver-side statistics job of the theta family: a single
    * pass over the tagged value columns of all `sides` returning, per
    * side, its non-null row count and a bounded uniform sample of its
    * values (as doubles: a routing-only view, since the exact predicate is
    * always re-applied).  The sample is bottom-k by a seeded hash of
    * (partition, row position), so it is deterministic for a given input
    * and partitioning, and bounded on every executor and on the driver —
    * M-Bucket-I's sampling pre-job (OR11 §5). */
  def sample(sides: Seq[(DataFrame, Column)]): Seq[SideSample] = {
    val tagged = sides.zipWithIndex
      .map { case ((df, v), i) => df.select(F.lit(i).as("s"), v.cast(DoubleType).as("v")) }
      .reduce(_ union _)
    val (n, k) = (sides.length, SampleSize)
    val parts = tagged.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
      // SplitMix64 from a per-partition seed: the i-th draw hashes (pid, i)
      val hash = new java.util.SplittableRandom(0x5eed1e55L + pid)
      val counts = new Array[Long](n)
      // max-heaps on the hash: the root is the first value to evict
      val heaps = Array.fill(n)(new java.util.PriorityQueue[(Long, Double)](k + 1,
        Ordering.by[(Long, Double), Long](_._1).reverse))
      rows.foreach { row =>
        val h = hash.nextLong()
        if (!row.isNullAt(1)) {
          val s = row.getInt(0)
          counts(s) += 1
          heaps(s).add((h, row.getDouble(1)))
          if (heaps(s).size > k) heaps(s).poll()
        }
      }
      Iterator.single((counts, heaps.map(_.toArray(Array.empty[(Long, Double)]))))
    }.collect()
    (0 until n).map { s =>
      SideSample(parts.map(_._1(s)).sum, parts.flatMap(_._2(s)).sortBy(_._1).take(k).map(_._2))
    }
  }

  /** Up to `buckets - 1` equi-depth cell boundaries over the union of the
    * sides, each sampled value weighted by its side's rows per sample
    * value; distinct and sorted (duplicate quantiles on heavy hitters
    * would create zero-width cells). */
  def quantileBounds(sides: Seq[SideSample], buckets: Int): Seq[Double] = {
    val weighted = sides.flatMap(s => s.values.map(v => (v, s.rows.toDouble / s.values.length)))
      .sortBy(_._1)
    val cum = weighted.scanLeft(0.0)(_ + _._2).tail
    val total = cum.lastOption.getOrElse(0.0)
    (1 until buckets).flatMap(j => weighted.lift(cum.indexWhere(_ >= total * j / buckets)))
      .map(_._1).distinct
  }
}
