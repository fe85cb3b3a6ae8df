package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Whole-operator custom plan (the §4.3(c) path): per-group top-k without
  * sorting.
  *
  * Catalyst plans `row_number() OVER (PARTITION BY g ORDER BY o) <= k` as
  * Exchange -> full Sort of every partition -> WindowExec -> Filter: the
  * sort is O(n log n) per partition and materializes every row.  This
  * operator keeps a bounded k-heap per group instead — O(n log k), memory
  * O(groups·k) — the right shape when k << group size (top-k per user over
  * a 100 TB event log).  It declares ClusteredDistribution on the group
  * keys, so the planner inserts only the hash Exchange; no sort anywhere.
  * Memory posture at scale: the final pass holds
  * (total groups / shuffle partitions)·k rows per task — bounded by
  * RAISING `spark.sql.shuffle.partitions`, the same knob that sizes every
  * hash aggregate; k-heaps never hold more than k rows per group by
  * construction, so there is no skew amplification to spill for (a hot
  * GROUP costs k rows regardless of its row count — unlike a hash
  * aggregate whose hot-key state can grow).
  *
  * Pieces: logical node + planner Strategy (injected via GraftExtensions or
  * `GraftExtensions.addStrategy`) + physical exec with a codegen'd
  * row ordering.  `TopKPerGroup.apply` is the user-facing API.
  */
case class TopKPerGroupNode(
    group: Seq[Expression], order: Seq[SortOrder], k: Int, child: LogicalPlan,
    partial: Boolean = false)
    extends UnaryNode {
  require(k >= 1, s"k must be >= 1, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

case class TopKPerGroupExec(
    group: Seq[Expression], order: Seq[SortOrder], k: Int, child: SparkPlan,
    partial: Boolean = false)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output

  // partial = map-side pre-prune: heaps run inside whatever partitioning
  // the child already has (NO exchange) and emit each partition's k best
  // per group; the final (non-partial) pass then clusters on the group
  // keys and sees only partitions*k rows per group instead of the whole
  // group.  Min-k of partition-wise min-ks == global min-k, so results
  // are identical — this is the partial/final aggregate pattern applied
  // to top-k.
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution :: Nil
    else ClusteredDistribution(group) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val groupExprs = group
    val sortOrder = order
    val limit = k
    val childOutput = child.output
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(groupExprs, childOutput)
      val rowOrd = GenerateOrdering.generate(sortOrder, childOutput)
      // per group: bounded heap holding the current top k (heap head = the
      // *worst* of the kept rows, so it can be evicted in O(log k))
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      val reverse = rowOrd.reverse
      iter.foreach { row =>
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[InternalRow](limit + 1, reverse)
          heaps.put(key.copy(), heap)
        }
        if (heap.size() < limit) heap.add(row.copy())
        else if (rowOrd.compare(row, heap.peek()) < 0) {
          heap.poll()
          heap.add(row.copy())
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.values().asScala.iterator.flatMap(_.iterator().asScala)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

object TopKStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupNode(g, o, k, child, partial) =>
      TopKPerGroupExec(g, o, k, planLater(child), partial) :: Nil
    case _ => Nil
  }
}

object TopKPerGroup {
  /** Top `k` rows per group of `groupCols`, "top" = smallest under `order`
    * ((name, ascending) pairs; include a unique tiebreaker for
    * deterministic results).  Equivalent to filtering
    * `row_number() OVER (PARTITION BY group ORDER BY order) <= k`,
    * minus the sort. */
  def apply(df: DataFrame, groupCols: Seq[String],
      order: Seq[(String, Boolean)], k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession.asInstanceOf[SparkSession]
    GraftExtensions.addStrategy(spark, TopKStrategy)
    val plan = df.queryExecution.analyzed
    def attr(n: String): Attribute = plan.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(
        s"column '$n' not in ${plan.output.map(_.name).mkString(", ")}"))
    val sortOrders = order.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) org.apache.spark.sql.catalyst.expressions.Ascending
      else org.apache.spark.sql.catalyst.expressions.Descending)
    }
    // two-level: a partial (exchange-free, map-side) prune feeds the
    // clustered final pass — the shuffle carries partitions*k rows per
    // group instead of every row
    GraftSqlBridge.ofRows(spark,
      TopKPerGroupNode(groupCols.map(attr), sortOrders, k,
        TopKPerGroupNode(groupCols.map(attr), sortOrders, k, plan, partial = true)))
  }
}
