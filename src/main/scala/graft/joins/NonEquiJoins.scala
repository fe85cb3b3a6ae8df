package graft.joins

import graft.plans.Bucketing
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Cast, Expression, Literal, Subtract}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Shuffle-parallel non-equi (theta) join operators — the core capability of
  * the reference engine (a Hadoop MapReduce implementation of the
  * 1-Bucket-Theta / M-Bucket algorithm family of Okcan & Riedewald,
  * "Processing Theta-Joins using MapReduce", SIGMOD 2011), re-expressed
  * Spark-first.
  *
  * Design note (100 TB posture): OSS Catalyst plans a bare non-equi
  * `join(cond)` as BroadcastNestedLoopJoin (if one side fits in memory) or
  * CartesianProduct (if not).  Both are fatal at scale.  Every operator here
  * therefore rewrites the theta predicate into an *equi* join on a synthetic
  * bucket key — the Spark-native analog of M-Bucket candidate-cell pruning:
  * only join-matrix cells that can satisfy the predicate are materialized,
  * and the work is hash-partitioned across the cluster by bucket.  The exact
  * predicate is re-applied after the equi join, so bucketing affects only
  * performance, never results.  Callers must pre-rename columns so the two
  * sides share no names (self-join safe).
  */
object NonEquiJoins {

  /** Rows each driver-side statistics pass samples per side. */
  private val SampleSize = 2048

  /** [[Bucketing.floorDiv]] over a DataFrame column. */
  private def floorDiv(c: Column, d: Long): Column =
    GraftSqlBridge.column(Bucketing.floorDiv(GraftSqlBridge.expression(c), d))

  /** `left.join(right, cond)` rebuilt by a [[Bucketing]] rewrite of its
    * analyzed Join; the rewrite gets the join plus a lookup of each
    * side's columns by name.  Dataset.join has already de-duplicated the
    * attributes of self-joins. */
  private def rewriteJoin(left: DataFrame, right: DataFrame, cond: Column)(
      rewrite: (Join, String => Attribute, String => Attribute) => LogicalPlan): DataFrame = {
    val j = left.join(right, cond).queryExecution.analyzed.asInstanceOf[Join]
    def attr(plan: LogicalPlan)(n: String): Attribute = plan.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(
        s"column '$n' not in ${plan.output.map(_.name).mkString(", ")}"))
    GraftSqlBridge.ofRows(left.sparkSession.asInstanceOf[SparkSession],
      rewrite(j, attr(j.left), attr(j.right)))
  }

  /** Band join: pairs with |left(lVal) − right(rVal)| ≤ eps (< eps if
    * `strict`), optionally under extra equi keys.
    *
    * Rewrite ([[Bucketing.band]], the same one [[graft.plans.BandJoinAutoRewrite]]
    * applies to a naive join): bucket width = eps; the left side is
    * replicated to its bucket ±1, the right side keeps its single bucket,
    * and the join is a plain shuffle equi join on (bucket, extraKeys).
    * Any qualifying pair lands in exactly one bucket (the right row's), so
    * no dedup is needed.  Replication factor is a constant 3 — at 100 TB
    * this is a single hash-partitioned shuffle, never a nested loop.
    *
    * Integral values with a whole eps (e.g. epoch-micros) bucket by exact
    * long floor-division — overflow-free over the whole long range, where
    * a double quotient would mis-bucket values above 2^53; any other value
    * type buckets by `floor(v / eps)`.
    */
  def bandJoin(
      left: DataFrame, right: DataFrame,
      lVal: String, rVal: String, eps: Double,
      extraKeys: Seq[(String, String)] = Nil,
      strict: Boolean = false,
      bucketWithKeys: Boolean = false): DataFrame = {
    require(eps > 0, s"eps must be > 0, got $eps")
    def integral(df: DataFrame, c: String) =
      Seq(LongType, IntegerType).contains(df.schema(c).dataType)
    val epsVal: Any =
      if (eps.isWhole && integral(left, lVal) && integral(right, rVal)) eps.toLong else eps
    val diff = abs(col(lVal) - col(rVal))
    val band = if (strict) diff < lit(epsVal) else diff <= lit(epsVal)
    val cond = extraKeys.map { case (a, b) => col(a) === col(b) }.foldLeft(band)(_ && _)
    // With a selective equi key the bucket only triples the shuffle: join
    // on the keys and re-check the band.  Set bucketWithKeys=true when the
    // keys are coarse (few distinct values) so the bucket still prunes
    // within each key group.
    if (extraKeys.nonEmpty && !bucketWithKeys) left.join(right, cond)
    else rewriteJoin(left, right, cond) { (j, l, r) =>
      val (la, ra) = (l(lVal), r(rVal))
      Bucketing.band(j, la, ra, Bucketing.bandBucket(la.dataType, epsVal).get)
    }
  }

  /** Inequality (theta) join: pairs with left(lVal) < right(rVal).
    *
    * Rewrite (M-Bucket-I analog): range-bucket the value domain into
    * `buckets` uniform cells; a left row in bucket b can only match right
    * rows in buckets ≥ b, so the left side is replicated to its suffix of
    * buckets (`sequence` + `explode`) and joined equi on the bucket id.
    * The empty half of the join matrix is never materialized.  `lo`/`hi`
    * only tune bucket balance — rows outside are clamped and still join
    * correctly because the exact predicate is re-applied.
    *
    * At 100 TB, replace the static [lo,hi] with `approxQuantile` boundaries
    * per relation (same plan shape, skew-proof); AQE then splits any hot
    * bucket.
    */
  def lessThanJoin(
      left: DataFrame, right: DataFrame,
      lVal: String, rVal: String,
      lo: Double, hi: Double, buckets: Int = 32): DataFrame =
    suffixJoin(left, right, lVal, rVal, buckets, c =>
      least(greatest(width_bucket(c, lit(lo), lit(hi), lit(buckets)), lit(1L)), lit(buckets.toLong)))

  /** The inequality rewrite shared by the bucketed shapes: a left row in
    * bucket b can only match right rows in buckets ≥ b, so it is
    * replicated to its suffix of buckets up to `last`; equi join on the
    * bucket, exact predicate re-applied. */
  private def suffixJoin(left: DataFrame, right: DataFrame, lVal: String, rVal: String,
      last: Long, bucketOf: Column => Column): DataFrame = {
    val lb = left.withColumn("__tb", explode(sequence(bucketOf(col(lVal)), lit(last))))
    val rb = right.withColumn("__tb", bucketOf(col(rVal)))
    lb.join(rb, lb("__tb") === rb("__tb"))
      .filter(col(lVal) < col(rVal))
      .drop("__tb")
  }

  /** Interval-overlap join on integer endpoints (e.g. epoch micros):
    * pairs whose [start, start+len) windows overlap, under extra equi keys.
    * Overlap with equal fixed lengths reduces to a strict band on the
    * starts, which reuses the band rewrite.  Time-style keys (e.g.
    * user_id) are usually coarse, so the bucket is kept alongside them.
    */
  def intervalOverlapJoin(
      left: DataFrame, right: DataFrame,
      lStart: String, rStart: String, len: Long,
      extraKeys: Seq[(String, String)] = Nil): DataFrame =
    bandJoin(left, right, lStart, rStart, len.toDouble, extraKeys, strict = true,
      bucketWithKeys = true)

  /** Inequality join with DATA-DRIVEN bucket boundaries — the skew-proof
    * form of [[lessThanJoin]] and the full Spark analog of M-Bucket-I's
    * statistics-driven candidate cells [OR11 §5]: boundaries come from
    * `approxQuantile` over the union of both value distributions, so every
    * bucket holds ~|data|/buckets rows no matter how skewed the values
    * (uniform [lo,hi] cells degrade to one hot bucket on zipfian data).
    * Same join shape after planning: left replicated to its suffix of
    * buckets, equi join on bucket id, exact predicate re-applied.
    * The quantile scan is one extra pass (at 100 TB: run it on a sample or
    * reuse table statistics); the join itself is unchanged.
    */
  def lessThanJoinQuantile(
      left: DataFrame, right: DataFrame,
      lVal: String, rVal: String, buckets: Int = 32): DataFrame = {
    val bounds = Bucketing.quantileBounds(left, right, lVal, rVal, buckets)
    suffixJoin(left, right, lVal, rVal, bounds.length.toLong, c =>
      bounds.zipWithIndex.foldLeft(lit(0L)) { case (acc, (b, i)) =>
        when(c > b, lit(i.toLong + 1)).otherwise(acc)
      })
  }

  /** Driver-side sampled statistics feeding [[lessThanStrategy]]: input
    * cardinalities, the mass fraction of the hottest uniform value cell
    * (the skew signal), the estimated output pair count (sample-estimated
    * P(a < b) × nL × nR — the density signal), the sampled value range
    * (reused as static bucket bounds), and whether the key types admit the
    * sort-merge operator. */
  final case class LessThanStats(
      nLeft: Long, nRight: Long, hotCellFrac: Double, estPairs: Double,
      typesOk: Boolean, lo: Double, hi: Double)

  /** One deterministic sample pass per side (seeded, bounded driver
    * footprint).  Cardinalities come from `count()` here — one scan each;
    * a 100 TB deployment substitutes catalog statistics for the counts and
    * a TABLESAMPLE for the value sample, leaving the routing logic
    * unchanged. */
  def lessThanStats(
      left: DataFrame, right: DataFrame,
      lVal: String, rVal: String,
      buckets: Int = 32): LessThanStats = {
    val nL = left.count()
    val nR = right.count()
    def sampleVals(df: DataFrame, c: String, n: Long): Array[Double] = {
      val frac =
        if (n <= SampleSize) 1.0
        else math.min(1.0, SampleSize * 4.0 / n)
      df.select(col(c).cast("double").as("v")).filter(col("v").isNotNull)
        .sample(withReplacement = false, frac, 42L)
        .limit(SampleSize).collect().map(_.getDouble(0))
    }
    val sl = sampleVals(left, lVal, nL)
    val sr = sampleVals(right, rVal, nR)
    val all = sl ++ sr
    val (lo, hi) =
      if (all.isEmpty) (0.0, 0.0) else (all.min, all.max)
    val hotFrac =
      if (all.isEmpty) 0.0
      else if (lo == hi) 1.0
      else {
        val counts = new Array[Long](buckets)
        all.foreach { v =>
          val i = math.min(buckets - 1, ((v - lo) / (hi - lo) * buckets).toInt)
          counts(i) += 1
        }
        counts.max.toDouble / all.length
      }
    val srSorted = sr.sorted
    val p =
      if (sl.isEmpty || sr.isEmpty) 0.0
      else {
        var hits = 0L
        sl.foreach { a =>
          var i = java.util.Arrays.binarySearch(srSorted, a)
          if (i < 0) i = -i - 1
          else { while (i < srSorted.length && srSorted(i) == a) i += 1 }
          hits += (srSorted.length - i)
        }
        hits.toDouble / (sl.length.toDouble * srSorted.length)
      }
    val typesOk = left.schema(lVal).dataType == right.schema(rVal).dataType &&
      graft.plans.IEJoin.KeyTypes.contains(left.schema(lVal).dataType)
    LessThanStats(nL, nR, hotFrac, p * nL * nR, typesOk, lo, hi)
  }

  /** Route an inequality join to its measured-best physical shape
    * (BASELINE.md head-to-heads, rounds 3/8):
    *
    *  - "quantile" ([[lessThanJoinQuantile]]) when the hottest uniform
    *    value cell would hold more build rows than `cellRowBudget` —
    *    planned balance is a MEMORY guarantee at the 100 TB margin (a hot
    *    cell whose hash/sort buffer exceeds executor memory spills or
    *    OOMs), which the measurements show is the only regime where the
    *    quantile pass earns its extra scan;
    *  - "iejoin" ([[graft.plans.IEJoin]]) otherwise while the estimated
    *    output stays under `densePairBar` — the regime where the
    *    sort-merge sweep's zero per-pair predicate work measured 25-30%
    *    faster than the bucketed rewrite;
    *  - "static" ([[lessThanJoin]] + AQE) for larger outputs, where the
    *    shapes measured at parity and the bucketed equi join stays inside
    *    WholeStageCodegen for fused join+agg pipelines (and when the key
    *    types rule the custom operator out).
    */
  def lessThanStrategy(
      stats: LessThanStats,
      cellRowBudget: Long = 4000000L,
      densePairBar: Long = 500000000L): String = {
    val hotRows = stats.hotCellFrac * math.max(stats.nLeft, stats.nRight)
    if (hotRows > cellRowBudget) "quantile"
    else if (stats.typesOk && stats.estPairs <= densePairBar) "iejoin"
    else "static"
  }

  /** Stats-driven inequality join `left(lVal) < right(rVal)`: samples both
    * sides, routes via [[lessThanStrategy]], and dispatches to the chosen
    * shape.  All three shapes are exact (the predicate is re-applied or
    * natively merged), so routing affects only performance — the chooser
    * spec asserts both the routing and result equality across shapes. */
  def lessThanJoinAuto(
      left: DataFrame, right: DataFrame,
      lVal: String, rVal: String): DataFrame = {
    val st = lessThanStats(left, right, lVal, rVal)
    lessThanJoinRouted(lessThanStrategy(st), st, left, right, lVal, rVal)
  }

  /** The inequality join through one named route of [[lessThanStrategy]]. */
  private[joins] def lessThanJoinRouted(route: String, st: LessThanStats,
      left: DataFrame, right: DataFrame, lVal: String, rVal: String): DataFrame =
    route match {
      case "quantile" => lessThanJoinQuantile(left, right, lVal, rVal)
      case "iejoin" => graft.plans.IEJoin(left, right, lVal, rVal)
      case _ =>
        val (lo, hi) =
          if (st.lo < st.hi) (st.lo, st.hi) else (st.lo - 1.0, st.hi + 1.0)
        lessThanJoin(left, right, lVal, rVal, lo, hi)
    }

  /** Point-in-interval join with VARIABLE-length intervals: each point row
    * (pCol) matches interval rows with startCol <= p < endCol, under extra
    * equi keys.
    *
    * Rewrite: intervals are replicated across every fixed-width bucket they
    * span (`sequence` over exact long floor-div bucket ids); points keep
    * their single bucket; equi join on (bucket, keys); exact predicate
    * re-applied.  Replication is O(len / bucketWidth) per interval — pick
    * bucketWidth near the median interval length so replication stays a
    * small constant while each point probes exactly one bucket.  This is
    * the general form of the fixed-length interval overlap join (which
    * reduces to a band).
    */
  def pointInIntervalJoin(
      points: DataFrame, intervals: DataFrame,
      pCol: String, startCol: String, endCol: String,
      bucketWidth: Long,
      extraKeys: Seq[(String, String)] = Nil): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be > 0, got $bucketWidth")
    def bucketOf(c: Column): Column = floorDiv(c, bucketWidth)
    val ib = intervals.withColumn("__pb",
      explode(sequence(bucketOf(col(startCol)), bucketOf(col(endCol)))))
    val pb = points.withColumn("__pb", bucketOf(col(pCol)))
    val keyCond = extraKeys.map { case (a, b) => pb(a) === ib(b) }
      .foldLeft(pb("__pb") === ib("__pb"))(_ && _)
    pb.join(ib, keyCond)
      .filter(col(pCol) >= col(startCol) && col(pCol) < col(endCol))
      .drop("__pb")
  }

  /** Sampled median interval length — the bucket-width statistic for the
    * interval-join family.  Replication per interval is O(len / width), so
    * width ≈ the median length keeps replication a small constant for the
    * typical row while each point still probes exactly one bucket; a
    * caller-guessed width that is 100× too small replicates every interval
    * 100×, and 100× too large degrades bucketing to an all-in-one-cell
    * join.  One deterministic bounded sample (same posture as
    * [[lessThanStats]]; a 100 TB deployment substitutes TABLESAMPLE or
    * column statistics). */
  def medianIntervalWidth(
      intervals: DataFrame, startCol: String, endCol: String): Long = {
    val lens = intervals
      .select((col(endCol).cast(LongType) - col(startCol).cast(LongType)).as("len"))
      .filter(col("len") > 0)
    val n = lens.count()
    if (n == 0) return 1L
    val frac = if (n <= SampleSize) 1.0 else math.min(1.0, SampleSize * 4.0 / n)
    val sample = lens.sample(withReplacement = false, frac, 42L)
      .limit(SampleSize).collect().map(_.getLong(0)).sorted
    if (sample.isEmpty) 1L else math.max(1L, sample(sample.length / 2))
  }

  /** [[pointInIntervalJoin]] with a STATS-DRIVEN bucket width (the sampled
    * median interval length) — the interval-family counterpart of
    * [[lessThanJoinAuto]]: callers get the replication/probe balance the
    * operator's scaladoc prescribes without supplying the tuning knob.
    * Exactness is unaffected (the width only moves cost). */
  def pointInIntervalJoinAuto(
      points: DataFrame, intervals: DataFrame,
      pCol: String, startCol: String, endCol: String,
      extraKeys: Seq[(String, String)] = Nil): DataFrame =
    pointInIntervalJoin(points, intervals, pCol, startCol, endCol,
      medianIntervalWidth(intervals, startCol, endCol), extraKeys)

  /** Interval-interval overlap join with VARIABLE lengths on BOTH sides:
    * pairs whose half-open windows [lStart, lEnd) and [rStart, rEnd)
    * overlap, under extra equi keys.  The general form of the theta-join
    * family (fixed-length overlap reduces to a band; point-in-interval is
    * the one-sided case).
    *
    * Rewrite ([[Bucketing.overlap]], the same one
    * [[graft.plans.IntervalOverlapAutoRewrite]] applies to a naive join):
    * BOTH sides are replicated across every fixed-width bucket their
    * interval spans; equi join on (bucket, keys); exact overlap predicate
    * re-applied.  Exactly-once emission without a distinct: a
    * qualifying pair is kept only in the bucket containing the overlap
    * start `greatest(lStart, rStart)` — a point both intervals span, so
    * both replicas exist there and nowhere else is the pair accepted.
    * Replication is O(len / bucketWidth) per row; pick bucketWidth near
    * the median interval length.
    */
  def intervalOverlapJoinVar(
      left: DataFrame, right: DataFrame,
      lStart: String, lEnd: String, rStart: String, rEnd: String,
      bucketWidth: Long,
      extraKeys: Seq[(String, String)] = Nil): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be > 0, got $bucketWidth")
    val overlap = col(lStart) < col(rEnd) && col(rStart) < col(lEnd)
    val cond = extraKeys.map { case (a, b) => col(a) === col(b) }.foldLeft(overlap)(_ && _)
    rewriteJoin(left, right, cond) { (j, l, r) =>
      // end is exclusive: an interval ending exactly on a bucket boundary
      // does not occupy the next bucket
      def last(e: Expression) = Subtract(Cast(e, LongType), Literal(1L))
      Bucketing.overlap(j, l(lStart), last(l(lEnd)), r(rStart), last(r(rEnd)), bucketWidth)
    }
  }

  /** As-of join: for each left row, the single latest right row with
    * right(ts) strictly before left(ts), per key.
    *
    * Spark-first plan: tag both inputs, union them, and resolve the match
    * with one window pass (`max(struct(ts, id)) OVER (... RANGE BETWEEN
    * UNBOUNDED PRECEDING AND 1 PRECEDING)`).  One shuffle on the key, no
    * join matrix at all — this is the scalable shape for 100 TB (vs the
    * naive non-equi join + row_number which shuffles |L|·|R| candidates).
    *
    * Inputs: `probe`(key, ts, probeId) and `quote`(key, ts, quoteId) with
    * the given column names; returns (key, probeId, probeTs, quoteId,
    * quoteTs) where quote columns are null when no earlier quote exists.
    */
  def asofJoin(
      probe: DataFrame, quote: DataFrame,
      key: String, ts: String, probeId: String, quoteId: String): DataFrame =
    asofPick(asofUnion(probe, quote, key, ts, probeId, quoteId),
      quoteMatch(backward = true), key, ts, probeId, quoteId)

  /** Forward as-of join: the single EARLIEST right row with right(ts)
    * strictly after left(ts), per key — the "next event" resolution
    * (e.g. next fill after an order, next click after an impression).
    * Identical one-shuffle union+window shape as [[asofJoin]], with the
    * frame reflected (`min(struct) OVER (... RANGE BETWEEN 1 FOLLOWING
    * AND UNBOUNDED FOLLOWING)`); ties on ts break to the smallest id. */
  def asofJoinFwd(
      probe: DataFrame, quote: DataFrame,
      key: String, ts: String, probeId: String, quoteId: String): DataFrame =
    asofPick(asofUnion(probe, quote, key, ts, probeId, quoteId),
      quoteMatch(backward = false), key, ts, probeId, quoteId)

  /** Nearest as-of join: the single right row CLOSEST in time to each
    * probe row, in EITHER direction (strictly earlier or strictly later —
    * equal timestamps are excluded, like both directional variants) —
    * the sensor/series alignment resolution.  One union + ONE window
    * shuffle computes both directional candidates ([[asofJoin]]'s
    * backward frame and [[asofJoinFwd]]'s forward frame over the same
    * sorted partition), then a row-local comparison keeps the nearer.
    * Ties: equal distance prefers the BACKWARD match; equal timestamps
    * within a direction keep that direction's deterministic id
    * (backward: largest; forward: smallest).  Output adds the matched
    * timestamp and the absolute gap. */
  def asofJoinNearest(
      probe: DataFrame, quote: DataFrame,
      key: String, ts: String, probeId: String, quoteId: String): DataFrame = {
    val withBoth = asofUnion(probe, quote, key, ts, probeId, quoteId)
      .withColumn("__bwd", quoteMatch(backward = true))
      .withColumn("__fwd", quoteMatch(backward = false))
    val pickBwd = col("__fwd").isNull || (col("__bwd").isNotNull &&
      (col("__t") - col("__bwd.t")) <= (col("__fwd.t") - col("__t")))
    asofPick(withBoth, when(pickBwd, col("__bwd")).otherwise(col("__fwd")),
      key, ts, probeId, quoteId, abs(col("__match.t") - col("__t")).as("gap"))
  }

  /** Probe and quote rows as one tagged union (__k, __t, __pid, __isProbe,
    * __qid): probe rows carry a null __qid, quote rows a null __pid. */
  private def asofUnion(probe: DataFrame, quote: DataFrame,
      key: String, ts: String, probeId: String, quoteId: String): DataFrame =
    probe.select(col(key).as("__k"), col(ts).as("__t"),
        col(probeId).as("__pid"), lit(true).as("__isProbe"))
      .unionByName(quote.select(col(key).as("__k"), col(ts).as("__t"),
        col(quoteId).as("__qid"), lit(false).as("__isProbe")), allowMissingColumns = true)

  /** Over the tagged union, per key in time order: the (t, id) of the
    * latest quote strictly before each row (`backward`), or of the
    * earliest quote strictly after it; ties on t keep the largest
    * (backward) or smallest (forward) id. */
  private def quoteMatch(backward: Boolean): Column = {
    val q = when(!col("__isProbe"), struct(col("__t").as("t"), col("__qid").as("id")))
    val w = Window.partitionBy(col("__k")).orderBy(col("__t"))
    if (backward) max(q).over(w.rangeBetween(Window.unboundedPreceding, -1))
    else min(q).over(w.rangeBetween(1, Window.unboundedFollowing))
  }

  /** The probe rows with their chosen (t, id) `__match`: (key, probeId,
    * ts, quoteId, quoteId_ts, extra...), quote columns null when nothing
    * matched. */
  private def asofPick(union: DataFrame, chosen: Column,
      key: String, ts: String, probeId: String, quoteId: String,
      extra: Column*): DataFrame =
    union.withColumn("__match", chosen)
      .filter(col("__isProbe"))
      .select(Seq(
        col("__k").as(key), col("__pid").as(probeId), col("__t").as(ts),
        col("__match.id").as(quoteId), col("__match.t").as(s"${quoteId}_ts")) ++ extra: _*)

  /** Guarded cross join (the degenerate all-pairs theta join). Broadcast the
    * smaller side explicitly so the plan is BroadcastNestedLoopJoin, not a
    * shuffled CartesianProduct. */
  def crossJoinSmall(big: DataFrame, small: DataFrame): DataFrame =
    big.crossJoin(broadcast(small))

  /** Skew-proof equi join (B3j): salt the skewed (left) side's key into
    * `factor` sub-keys and replicate the right side across all salts — the
    * manual fallback when AQE's runtime skew splitting isn't available
    * (e.g. a static plan, or skew on the build side of a non-AQE stage).
    * Results are identical to a plain equi join; cost is |R|·factor
    * replication traded for an even shuffle of the hot keys.
    */
  def saltedEquiJoin(
      skewed: DataFrame, other: DataFrame,
      leftKey: String, rightKey: String, factor: Int): DataFrame = {
    val l = skewed.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(factor.toLong)))
    val r = other.withColumn("__salt",
      explode(array((0 until factor).map(i => lit(i.toLong)): _*)))
    l.join(r, l(leftKey) === r(rightKey) && l("__salt") === r("__salt"))
      .drop("__salt")
  }

  /** Edit-distance ≤ 2 self-join via the position-keyed FastSS 2-deletion
    * index: rows (ka, kb, d) with ka < kb and d = levenshtein ≤ 2.  One
    * map-only index build ([[graft.fns.TextKernels.deletionVariantPos2]]),
    * one shuffle-hash bucket join whose residual
    * [[graft.fns.TextKernels.fastssCompat]] prunes the ed > 2 variant
    * collisions with integer compares (sound + complete over true variant
    * equality — see the kernel's proof sketch), a banded levenshtein as
    * the hash-collision guard, and one distinct over true memberships.
    * See `q_join_fuzzy2`'s scaladoc for the measured stage costs. */
  def fuzzySelfJoin2(df: DataFrame, keyCol: String, strCol: String): DataFrame = {
    val spark = df.sparkSession
    val idx = df
      .select(col(keyCol), col(strCol),
        explode(graft.fns.TextKernelCols.deletionVariantPos2(spark, col(strCol)))
          .as("x")) // map-only: the kernel groups positions per variant
      .select(col(keyCol), col(strCol), col("x.v").as("v"), col("x.pc").as("pc"))
    val a = idx.select(col(keyCol).as("ka"), col(strCol).as("na"),
      col("v"), col("pc").as("pca"))
    val b = idx.select(col(keyCol).as("kb"), col(strCol).as("nb"),
      col("v"), col("pc").as("pcb"))
    // shuffle_hash, explicitly: Catalyst can't see through the explode's
    // ~L²/2 fan-out, estimates the index at the BASE table's size, and
    // broadcasts millions of index rows (measured 20x slower).  A hash
    // join beats sort-merge here because variant buckets are
    // duplicate-heavy — SMJ would buffer each equal-key group anyway.
    a.join(b.hint("shuffle_hash"), Seq("v"))
      .filter(col("ka") < col("kb") &&
        graft.fns.TextKernelCols.fastssCompat(spark, col("pca"), col("pcb")))
      .select(col("ka"), col("kb"),
        levenshtein(col("na"), col("nb"), 2).cast("long").as("d"))
      .filter(col("d") >= 0) // hash-collision guard; banded O(L·k) form
      .distinct() // one row per true pair (d is determined by the pair)
  }

  /** Reference-shape fallback: 1-Bucket-Theta for an *arbitrary* theta
    * predicate with no exploitable structure.  Partitions the |S|×|T| join
    * matrix into an rS×rT grid: S rows are assigned a deterministic matrix
    * row (hash, not random — results must be reproducible) and replicated
    * across the rT grid columns; T rows symmetrically.  Every pair meets in
    * exactly one grid cell; cells are hash-partitioned across the cluster.
    * Cost is |S|·rT + |T|·rS replicated rows — use only when no bucketed
    * rewrite applies.  Requires rS, rT >= 1.
    */
  def oneBucketThetaJoin(
      s: DataFrame, t: DataFrame, sKey: String, tKey: String,
      rS: Int, rT: Int, theta: Column): DataFrame = {
    require(rS >= 1 && rT >= 1, s"grid must be at least 1x1, got rS=$rS rT=$rT")
    val sRep = s
      .withColumn("__row", pmod(xxhash64(col(sKey)), lit(rS.toLong)))
      .withColumn("__col", explode(array((0 until rT).map(lit(_)): _*)))
    val tRep = t
      .withColumn("__col", pmod(xxhash64(col(tKey)), lit(rT.toLong)).cast("int"))
      .withColumn("__row", explode(array((0 until rS).map(i => lit(i.toLong)): _*)))
    sRep.join(tRep, sRep("__row") === tRep("__row") && sRep("__col") === tRep("__col"))
      .filter(theta)
      .drop("__row").drop("__col")
  }
}
