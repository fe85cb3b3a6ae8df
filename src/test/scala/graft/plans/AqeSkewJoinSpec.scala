package graft.plans

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** The skew posture (SURVEY B3j) leans on three legs: the salted join,
  * the quantile-partitioned theta path, and AQE's runtime skew-join
  * splitting.  The first two are oracle- and property-tested; this spec
  * closes the loop on the third — a planted zipfian join must make
  * `OptimizeSkewedJoin` actually fire (the final adaptive plan carries a
  * `skew=true` sort-merge join), not merely be enabled in config.  At
  * 100 TB this is the difference between one straggler task holding a
  * 90%-hot key and AQE splitting it across the cluster.
  */
class AqeSkewJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("planted zipfian join: OptimizeSkewedJoin splits the hot partition") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val keep = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // production defaults detect skew at 256 MB partitions; scale the
      // thresholds to test-sized data, keeping their required ordering
      // (skew threshold >= advisory target size)
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "128KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // force a sort-merge join: skew splitting applies to shuffle joins
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

      // 90% of the left rides key 0 -> one shuffle partition holds ~9 MB
      // while the median holds a few KB
      val left = spark.range(0, 200000).select(
        when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id") % 997).as("k"),
        concat(lit("x"), lpad(col("id").cast("string"), 48, "0")).as("payload"))
      val right = spark.range(0, 997).select(col("id").as("k"),
        col("id").cast("string").as("dim"))
      val joined = left.join(right, "k")
      // collect() (not count()) so the inspected QueryExecution is the one
      // that ran — count() plans a separate query and the original plan
      // would stay isFinalPlan=false
      val n = joined.collect().length
      assert(n == 200000, s"inner join must preserve every left row, got $n")
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"OptimizeSkewedJoin did not fire — no skew=true in final plan:\n$finalPlan")
    } finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("planted hot eps-bucket: band-join rewrite splits under AQE skew") {
    // The bucketed band join turns |l - r| <= eps into an equi join on the
    // bucket id.  A value distribution massed inside ONE eps-window defeats
    // the bucketing (every hot row lands in the same bucket = the same
    // shuffle partition) — exactly the planted-zipfian shape above, but
    // arising INSIDE the rewrite's derived key rather than a user key.
    // AQE's skew split must fire on the rewritten plan, and the result
    // must stay exact.
    import org.apache.spark.sql.functions._
    val keep = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "128KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

      val eps = 100L
      // 90% of the left is massed in eps-window [0, 100) -> bucket 0; the
      // rest spreads over buckets 1..996 at offset 7
      val left = spark.range(0, 200000).select(
        when(col("id") % 10 =!= 0, col("id") % 100)
          .otherwise((lit(1L) + (col("id") / 10).cast("long") % 996) * 100 + 7).as("lv"),
        concat(lit("x"), lpad(col("id").cast("string"), 48, "0")).as("payload"))
      // one right row per bucket, mid-bucket
      val right = spark.range(0, 997).select((col("id") * 100 + 50).as("rv"),
        col("id").cast("string").as("dim"))
      val joined = graft.joins.NonEquiJoins.bandJoin(left, right, "lv", "rv", eps.toDouble)
      val n = joined.collect().length
      // closed form: hot rows (1800 per v in 0..99) match the bucket-0 row
      // always and the bucket-1 row iff v >= 50: 180000 + 50*1800 = 270000;
      // each spread row (20000) matches its own and the previous bucket's
      // row: +40000
      assert(n == 310000, s"band join must stay exact under the skew split, got $n")
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"OptimizeSkewedJoin did not fire on the hot eps-bucket:\n$finalPlan")
    } finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
