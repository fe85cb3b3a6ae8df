package graft.plans

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, functions => F}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, BindReferences, Expression, JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, ShortType}

/** Sort-based inequality join (IEJoin-family, after Khayyat et al.,
  * "Lightning Fast and Space Efficient Inequality Joins", VLDB 2015) —
  * a whole-operator physical plan for `L.x < R.y`.
  *
  * The bucketed rewrite ([[graft.joins.NonEquiJoins.lessThanJoinQuantile]])
  * evaluates the predicate once per *candidate pair* after an equi join on
  * bucket ids.  This operator instead range-partitions both sides on
  * quantile boundaries and runs a per-partition SORT-MERGE: left rows
  * sorted by x, right rows by y, one monotone pointer sweep.  Each output
  * pair is emitted by pure pointer arithmetic — zero per-pair predicate
  * evaluations, zero per-pair hashing — which is the win for DENSE outputs
  * (an avg suffix join emits ~|L|·|R|/2 pairs; saving a branch+hash per
  * pair dominates).  The shuffle shape is identical to the bucketed
  * rewrite (left rows replicated to their suffix of range cells — provably
  * minimal for emit-all-pairs inequality joins), so the improvement is CPU,
  * not network.
  *
  * Scale posture: partition sizes are balanced by the data-driven quantile
  * boundaries (skew-proof like the M-Bucket-I analog), and NOTHING is
  * array-buffered in memory: the per-cell sort rides the shuffle
  * (repartitionAndSortWithinPartitions → ExternalSorter, spills), and the
  * growing left prefix lives in the same spillable buffer WindowExec uses
  * (ExternalAppendOnlyUnsafeRowArray via graft's sql bridge) — a hot cell
  * degrades to disk instead of OOM, honoring the windowExec buffer
  * spill-threshold confs.
  */
case class LessThanJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    lKey: Expression, rKey: Expression,
    boundaries: Seq[Double]) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

object IEJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case LessThanJoinNode(l, r, lk, rk, b) =>
      LessThanJoinExec(lk, rk, b, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Key ordering for the shuffle sort: by cell, then by the join key in
  * its NATIVE type ordering (exact past 2^53 for longs).  The interpreted
  * ordering is re-derived per JVM from the serializable DataType. */
private final class CellKeyOrdering(keyType: org.apache.spark.sql.types.DataType)
    extends Ordering[(Int, Any)] with Serializable {
  @transient private lazy val ord =
    TypeUtils.getInterpretedOrdering(keyType).asInstanceOf[Ordering[Any]]
  override def compare(a: (Int, Any), b: (Int, Any)): Int = {
    val c = Integer.compare(a._1, b._1)
    if (c != 0) c else ord.compare(a._2, b._2)
  }
}

case class LessThanJoinExec(
    lKey: Expression, rKey: Expression, boundaries: Seq[Double],
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {
  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def doExecute(): RDD[InternalRow] = {
    val bounds = boundaries.toArray
    val numCells = bounds.length + 1
    val keyType = lKey.dataType
    // CELL ROUTING may use a lossy double view of the key: casting a
    // numeric to double is monotonic (x < y => xd <= yd), so a qualifying
    // pair still lands with the right row's cell in the left row's suffix
    // even when two distinct longs collapse to one double.  The MERGE
    // COMPARISON below never goes through double — it uses the native
    // type's ordering, so keys past 2^53 stay exact.
    def cellOf(v: Double): Int = {
      val i = java.util.Arrays.binarySearch(bounds, v)
      if (i >= 0) i else -i - 1
    }
    def toDouble(k: Any): Double = k match {
      case d: java.lang.Double  => d
      case f: java.lang.Float   => f.toDouble
      case n: java.lang.Number  => n.longValue().toDouble
    }
    val part = new Partitioner {
      override def numPartitions: Int = numCells
      override def getPartition(key: Any): Int = key.asInstanceOf[(Int, Any)]._1
    }
    val lOut = left.output
    val rOut = right.output
    val lk = BindReferences.bindReference(lKey, lOut)
    val rk = BindReferences.bindReference(rKey, rOut)
    // spill thresholds: the same knobs WindowExec's buffer honors
    val sqlConf = org.apache.spark.sql.internal.SQLConf.get
    val inMemRows = sqlConf.windowExecBufferInMemoryThreshold
    val spillRows = sqlConf.windowExecBufferSpillThreshold
    val spillBytes = sqlConf.windowExecBufferSpillSizeThreshold

    // left row with x in cell c can only match right rows in cells >= c
    // (right cell r holds y > bounds(r-1) >= any x of cells < r): replicate
    // left to its suffix of cells, right keeps its single cell.  Keys carry
    // (cell, joinKey) so the SHUFFLE performs the per-cell sort — Spark's
    // sort-based shuffle (ExternalSorter) spills it, so no side is ever
    // array-buffered in memory for sorting.
    val lTagged: RDD[((Int, Any), UnsafeRow)] = left.execute().mapPartitions { iter =>
      val toUnsafe = UnsafeProjection.create(lOut.map(_.dataType).toArray)
      iter.flatMap { row =>
        val k = lk.eval(row)
        if (k == null) Iterator.empty
        else {
          val u = toUnsafe(row).copy()
          (cellOf(toDouble(k)) until numCells).iterator.map(c => ((c, k), u))
        }
      }
    }
    val rTagged: RDD[((Int, Any), UnsafeRow)] = right.execute().mapPartitions { iter =>
      val toUnsafe = UnsafeProjection.create(rOut.map(_.dataType).toArray)
      iter.flatMap { row =>
        val k = rk.eval(row)
        if (k == null) Iterator.empty
        else Iterator.single(((cellOf(toDouble(k)), k), toUnsafe(row).copy()))
      }
    }
    implicit val kOrd: Ordering[(Int, Any)] = new CellKeyOrdering(keyType)
    import org.apache.spark.rdd.RDD.rddToOrderedRDDFunctions
    val lCells = lTagged.repartitionAndSortWithinPartitions(part)
    val rCells = rTagged.repartitionAndSortWithinPartitions(part)
    val outSchema = (lOut ++ rOut).map(_.dataType).toArray
    lCells.zipPartitions(rCells) { (lIt, rIt) =>
      val ord = TypeUtils.getInterpretedOrdering(keyType).asInstanceOf[Ordering[Any]]
      val project = UnsafeProjection.create(outSchema)
      val joined = new JoinedRow
      val lBuf = lIt.buffered
      val rBuf = rIt.buffered
      // The growing left prefix lives in a SPILLABLE buffer (the WindowExec
      // buffer), so a hot cell degrades to disk instead of OOM; right rows
      // are consumed in prefix-constant RUNS of <= RunSize so one replay of
      // the (possibly spilled) prefix serves the whole run — the replay
      // cost amortizes to 1/RunSize per emitted pair.
      val buf = new org.apache.spark.sql.SpillableRowBuffer(inMemRows, spillRows, spillBytes)
      val RunSize = 4096
      new scala.collection.AbstractIterator[InternalRow] {
        private var cur: Iterator[InternalRow] = Iterator.empty
        @annotation.tailrec
        private def advance(): Boolean =
          if (cur.hasNext) true
          else if (!rBuf.hasNext) false
          else {
            val y = rBuf.head._1._2
            while (lBuf.hasNext && ord.compare(lBuf.head._1._2, y) < 0)
              buf.add(lBuf.next()._2)
            if (buf.isEmpty) { rBuf.next(); advance() }
            else {
              // run: consecutive right rows admitting no further left rows
              val run = new scala.collection.mutable.ArrayBuffer[UnsafeRow](16)
              var grow = true
              while (grow && rBuf.hasNext && run.length < RunSize) {
                val k = rBuf.head._1._2
                if (lBuf.hasNext && ord.compare(lBuf.head._1._2, k) < 0) grow = false
                else run += rBuf.next()._2
              }
              cur = buf.iterator.flatMap(lRow =>
                run.iterator.map(rRow => project(joined(lRow, rRow))))
              advance()
            }
          }
        override def hasNext: Boolean = advance()
        override def next(): InternalRow =
          if (advance()) cur.next() else throw new NoSuchElementException
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

object IEJoin {
  /** Key types the operator merges on.  Comparisons run in the NATIVE key
    * type (exact past 2^53 for longs); only cell routing uses a double
    * view.  Both sides must agree on the type — mixed-type joins should
    * cast explicitly first. */
  val KeyTypes: Seq[DataType] = Seq(LongType, IntegerType, ShortType, ByteType, DoubleType, FloatType)

  /** Inequality join left(lVal) < right(rVal) through the sort-merge
    * operator.  The cell boundaries come from one statistics job
    * ([[Bucketing.sample]] + [[Bucketing.quantileBounds]]), the same ones
    * [[graft.joins.NonEquiJoins.lessThanJoinQuantile]] uses; only the
    * physical execution differs.  Missing columns and mismatched key types
    * fail before that job.  Sides must share no column names (callers
    * pre-rename, like every NonEquiJoins operator). */
  def apply(left: DataFrame, right: DataFrame,
      lVal: String, rVal: String, buckets: Int = 32): DataFrame = {
    val join = onBounds(left, right, lVal, rVal)
    join(Bucketing.quantileBounds(
      Bucketing.sample(Seq(left -> F.col(lVal), right -> F.col(rVal))), buckets))
  }

  /** Checks the key columns now (no job) and returns the join over given
    * cell boundaries. */
  private[graft] def onBounds(left: DataFrame, right: DataFrame,
      lVal: String, rVal: String): Seq[Double] => DataFrame = {
    val spark = left.sparkSession.asInstanceOf[SparkSession]
    val (lPlan, rPlan) = (left.queryExecution.analyzed, right.queryExecution.analyzed)
    val (la, ra) = (Bucketing.attr(lPlan)(lVal), Bucketing.attr(rPlan)(rVal))
    require(la.dataType == ra.dataType && KeyTypes.contains(la.dataType),
      s"IEJoin requires matching numeric key types, got ${la.dataType.sql} vs ${ra.dataType.sql}")
    GraftExtensions.addStrategy(spark, IEJoinStrategy)
    bounds => GraftSqlBridge.ofRows(spark, LessThanJoinNode(lPlan, rPlan, la, ra, bounds))
  }
}
