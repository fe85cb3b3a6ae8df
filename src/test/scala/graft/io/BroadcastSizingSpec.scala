package graft.io

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Manifest-driven BROADCAST SIZING: a versioned dim whose LIVE row
  * count is small broadcasts into a fact join with no manual hint, even
  * when its file footprint (the only thing Catalyst's static sizing can
  * see through the deletion-vector anti join) is far over the
  * threshold.  The commit log already paid for the exact cardinality —
  * readAt just hands it to the planner. */
class BroadcastSizingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newRoot() =
    s"/tmp/graft_bcast_spec/${java.util.UUID.randomUUID()}"

  private def withConfs(pairs: (String, String)*)(body: => Unit): Unit = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("a small-live versioned dim broadcasts from manifest counts alone") {
    val root = newRoot()
    // big file footprint (high-entropy padding defeats compression), tiny
    // LIVE set after a MOR delete: static sizing sees megabytes, the
    // manifest knows better
    val dim = spark.range(300000).select(col("id").as("k"),
      md5(col("id").cast("string")).as("p1"),
      md5((col("id") + 7).cast("string")).as("p2"))
    Versioned.commit(spark, root, dim)
    val v = Versioned.commitDeleteMOR(spark, root, col("k") >= 400L)
    val fact = spark.range(200000).select((col("id") % 400L).as("k"), col("id").as("m"))
    withConfs(
      "spark.sql.adaptive.enabled" -> "false", // isolate PLANNER-time sizing
      "spark.sql.autoBroadcastJoinThreshold" -> "1048576") {
      val hinted = fact.join(Versioned.readAt(spark, root, v), "k")
      hinted.collect()
      // NB: the deletion-vector anti join inside the dim legitimately
      // broadcasts its tiny sidecar, so "contains BroadcastHashJoin" is
      // not discriminating — the DIM-vs-FACT join shape is: hinted must
      // not shuffle, the unhinted control must
      val hp = hinted.queryExecution.executedPlan.toString
      assert(hp.contains("BroadcastHashJoin") && !hp.contains("SortMergeJoin"),
        s"the manifest count (400 live rows) must plan a broadcast join:\n$hp")
      // control: the same relation WITHOUT the manifest hint (raw
      // readDirs) exceeds the static threshold and shuffles instead —
      // proving the hint, not the file size, made the plan
      val raw = fact.join(Versioned.readDirs(spark, root, v,
        Versioned.manifest(spark, root, v)), "k")
      raw.collect()
      assert(raw.queryExecution.executedPlan.toString.contains("SortMergeJoin"),
        "control: static sizing alone must NOT broadcast this footprint")
      // and the answers agree
      assert(hinted.count() == raw.count())
    }
  }

  test("wide rows are sized by real bytes, not schema width: no forced broadcast") {
    val root = newRoot()
    // 2000 live rows of ~2KB incompressible text: a schema-width guess
    // (20 B/string) would call this 56 KB and force-broadcast ~4 MB
    val wide = spark.range(2000).select(col("id").as("k"),
      concat((0 until 64).map(i => md5((col("id") * 100 + i).cast("string"))): _*).as("body"))
    Versioned.commit(spark, root, wide)
    withConfs(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "1048576") {
      // fact big enough that Catalyst won't broadcast IT either (its own
      // static estimate > threshold): the join shape then isolates the
      // dim-side decision
      val fact = spark.range(2000000).select((col("id") % 2000L).as("k"))
      val j = fact.join(Versioned.readAt(spark, root, 1), "k")
      // run the plan without shipping its ~4 GB of joined rows to the driver
      j.write.format("noop").mode("overwrite").save()
      assert(j.queryExecution.executedPlan.toString.contains("SortMergeJoin"),
        "real on-disk bytes over the threshold must refuse the hint")
    }
  }

  test("a dim over the live-size threshold does not get the hint") {
    val root = newRoot()
    Versioned.commit(spark, root, spark.range(300000).select(col("id").as("k"),
      md5(col("id").cast("string")).as("p1")))
    withConfs(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "1048576") {
      // 300k live rows x ~28B width > 1 MB: no hint, and the footprint
      // is over the static threshold too -> shuffle join
      val fact = spark.range(200000).select((col("id") % 400L).as("k"))
      val j = fact.join(Versioned.readAt(spark, root, 1), "k")
      j.collect()
      assert(j.queryExecution.executedPlan.toString.contains("SortMergeJoin"),
        "an over-threshold live count must not force a broadcast")
    }
  }

  test("spark.graft.readAtBroadcastHint=false suppresses the hint") {
    val root = newRoot()
    // tiny live set — WOULD be hinted (first test proves it); a consumer
    // that explodes the frame before joining opts out so the forced
    // broadcast cannot bind to the expanded plan
    val dim = spark.range(300000).select(col("id").as("k"),
      md5(col("id").cast("string")).as("p1"),
      md5((col("id") + 7).cast("string")).as("p2"))
    Versioned.commit(spark, root, dim)
    val v = Versioned.commitDeleteMOR(spark, root, col("k") >= 400L)
    val fact = spark.range(200000).select((col("id") % 400L).as("k"), col("id").as("m"))
    withConfs(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "1048576",
      "spark.graft.readAtBroadcastHint" -> "false") {
      val j = fact.join(Versioned.readAt(spark, root, v), "k")
      j.collect()
      assert(j.queryExecution.executedPlan.toString.contains("SortMergeJoin"),
        "the opt-out must leave the join to static sizing (shuffle)")
    }
  }
}
