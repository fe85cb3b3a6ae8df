package graft.joins

import graft.GraftQuery
import graft.io.Tables._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Codegen'd bloom-filter membership probe: `bloom.mightContainLong(key)`
  * as a Catalyst Expression, so a pre-built sketch can prune a scan *before*
  * the shuffle of an exact join.
  *
  * The sketch object rides into generated code via `addReferenceObj` — the
  * same mechanism Spark's own runtime row-level filtering uses — so the
  * probe stays inside WholeStageCodegen (one virtual call per row, no UDF
  * serialization).  May return false positives by construction, never false
  * negatives; callers must re-verify with an exact join when exactness is
  * required (see [[BloomPrune.bloomPrunedSemiJoin]]).
  */
case class BloomMightContainLong(child: Expression, bloom: BloomFilter)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a bigint key, got ${other.sql}")
  }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_might_contain"

  override def nullSafeEval(v: Any): Any =
    bloom.mightContainLong(v.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bf = ctx.addReferenceObj("bloomFilter", bloom, classOf[BloomFilter].getName)
    defineCodeGen(ctx, ev, c => s"$bf.mightContainLong($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Bloom-filter join pruning: build a compact membership sketch of the
  * build side's keys, prefilter the probe side with it, then run the exact
  * join on the survivors.
  *
  * 100 TB posture: when the build side is selective but too large to
  * broadcast as a hash relation (say 10^8 distinct keys), a shuffled join
  * must move the ENTIRE probe side.  A bloom filter of those keys at 1% fpp
  * is ~120 MB — broadcastable — and drops ~99% of non-matching probe rows
  * at the scan, so the shuffle carries only (matches + fpp·misses) rows.
  * The exact join afterwards removes the false positives, so results are
  * bit-identical to the plain join: the sketch affects performance only.
  * Spark's AQE has an automatic version of this (runtime row-level
  * filtering); this operator makes it explicit, sized by the caller, and
  * reusable across multiple probe-side scans of the same build keys.
  *
  * The build is `df.stat.bloomFilter` — a distributed `treeAggregate`, one
  * pass, no collect of raw keys to the driver.
  */
object BloomPrune {

  /** The probe column: true iff `key` might be in `bloom`. */
  def mightContain(bloom: BloomFilter, key: Column): Column =
    GraftSqlBridge.column(
      BloomMightContainLong(GraftSqlBridge.expression(key.cast(LongType)), bloom))

  /** Exact left-semi join of `large` to `small`'s keys, with a bloom
    * prefilter on the large side.  Output ≡ plain left-semi join. */
  def bloomPrunedSemiJoin(
      large: DataFrame, small: DataFrame,
      largeKey: String, smallKey: String,
      expectedItems: Long): DataFrame = {
    val bloom = small.stat.bloomFilter(smallKey, expectedItems, 0.01)
    val pruned = large.filter(mightContain(bloom, col(largeKey)))
    pruned.join(small.select(col(smallKey)), col(largeKey) === col(smallKey), "left_semi")
  }

  /** Lineitem rows for PROMO parts via the bloom-pruned exact semi join;
    * the oracle is the plain IN-subquery — the sketch must not change the
    * result. */
  val joinBloomPrune: GraftQuery = GraftQuery("q_join_bloom_prune",
    """SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
      |FROM lineitem
      |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')"""
      .stripMargin) { (spark, sfDir) =>
    val promo = part(spark, sfDir).filter(col("p_type") === "PROMO")
    bloomPrunedSemiJoin(
      lineitem(spark, sfDir).select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"),
      promo, "l_partkey", "p_partkey", expectedItems = 100000L)
  }

  val all: Seq[GraftQuery] = Seq(joinBloomPrune)
}
