package graft.plans

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The auto-rewrite must (a) remove the nested-loop/cartesian plan for a
  * naive band join, and (b) preserve results exactly.  The public
  * `bandJoin` shares the rewrite, so on the same inputs it must return the
  * same rows through the same plan shape. */
class BandJoinAutoRewriteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withRule[A](f: => A): A = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ BandJoinAutoRewrite
    try f
    finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == BandJoinAutoRewrite)
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** The naive join under the rule and the API operator agree on rows and
    * on plan shape, and neither plans a nested loop. */
  private def assertApiParity(naive: => org.apache.spark.sql.DataFrame,
      api: org.apache.spark.sql.DataFrame): Unit = {
    val (ruleRows, ruleShape) = withRule { val df = naive; (pairs(df), PlanShape(df)) }
    val apiShape = PlanShape(api)
    assert(pairs(api) == ruleRows)
    assert(apiShape == ruleShape, s"api $apiShape vs rule $ruleShape")
    assert(apiShape.nestedLoops == 0 && apiShape.generates == 1, apiShape.toString)
  }

  private lazy val a = {
    val r = new scala.util.Random(21)
    (1 to 300).map(i => (i.toLong, r.nextDouble() * 500)).toDF("ida", "va")
  }
  private lazy val b = {
    val r = new scala.util.Random(22)
    (1 to 300).map(i => (i.toLong, r.nextDouble() * 500)).toDF("idb", "vb")
  }

  test("naive band join is rewritten to an equi join on buckets") {
    val naive = a.join(b, abs($"va" - $"vb") <= 10.0)
    val before = naive.queryExecution.executedPlan.toString
    assert(before.contains("BroadcastNestedLoop") || before.contains("CartesianProduct"))
    withRule {
      val rewritten = a.join(b, abs($"va" - $"vb") <= 10.0)
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
        s"rewrite did not fire:\n$plan")
    }
  }

  test("rewritten band join returns exactly the naive rows") {
    val expected = a.join(b, abs($"va" - $"vb") <= 10.0)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = withRule {
      a.join(b, abs($"va" - $"vb") <= 10.0)
        .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(got == expected)
    assert(got.nonEmpty)
    assertApiParity(a.join(b, abs($"va" - $"vb") <= 10.0),
      graft.joins.NonEquiJoins.bandJoin(a, b, "va", "vb", 10.0))
  }

  test("joins with an existing equi key are left alone") {
    withRule {
      val plan = a.join(b, $"ida" === $"idb" && abs($"va" - $"vb") <= 10.0)
        .queryExecution.optimizedPlan.toString
      assert(!plan.contains("__graft_gb"))
    }
  }

  test("integral (epoch-micros) band is rewritten and results match naive") {
    // long timestamps incl. negatives (pre-epoch): floor-div bucketing must
    // not truncate toward zero at the boundary
    val r = new scala.util.Random(23)
    val ta = (1 to 300).map(i => (i.toLong, r.nextLong() % 1000000L)).toDF("ida", "ta")
    val tb = (1 to 300).map(i => (1000L + i, r.nextLong() % 1000000L)).toDF("idb", "tb")
    val naive = ta.join(tb, abs($"ta" - $"tb") <= 50000L)
    val expected = naive.select("ida", "idb").collect()
      .map(row => (row.getLong(0), row.getLong(1))).toSet
    assert(expected.nonEmpty)
    withRule {
      val rewritten = ta.join(tb, abs($"ta" - $"tb") <= 50000L)
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
        s"long-band rewrite did not fire:\n$plan")
      val got = rewritten.select("ida", "idb").collect()
        .map(row => (row.getLong(0), row.getLong(1))).toSet
      assert(got == expected)
    }
  }

  test("integral band is exact above 2^53 (double bucketing would drift)") {
    val base = (1L << 55)
    val xs = Seq((1L, base), (2L, base + 3L), (3L, base + 20L)).toDF("ida", "ta")
    val ys = Seq((10L, base + 1L), (11L, base + 9L)).toDF("idb", "tb")
    withRule {
      val got = xs.join(ys, abs($"ta" - $"tb") <= 5L)
        .select("ida", "idb").collect()
        .map(row => (row.getLong(0), row.getLong(1))).toSet
      assert(got == Set((1L, 10L), (2L, 10L)), s"got $got")
    }
    assertApiParity(xs.join(ys, abs($"ta" - $"tb") <= 5L),
      graft.joins.NonEquiJoins.bandJoin(xs, ys, "ta", "tb", 5.0))
  }

  test("int-typed band values with an int literal are rewritten") {
    val ia = (1 to 200).map(i => (i.toLong, i * 7 % 500)).toDF("ida", "va")
    val ib = (1 to 200).map(i => (1000L + i, i * 13 % 500)).toDF("idb", "vb")
    val expected = ia.join(ib, abs($"va" - $"vb") <= 3)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    withRule {
      val rewritten = ia.join(ib, abs($"va" - $"vb") <= 3)
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
        s"int-band rewrite did not fire:\n$plan")
      val got = rewritten.select("ida", "idb").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected)
    }
  }

  test("strict and reversed-literal band forms are also rewritten") {
    withRule {
      val p1 = a.join(b, abs($"va" - $"vb") < 10.0)
        .queryExecution.executedPlan.toString
      assert(!p1.contains("BroadcastNestedLoop") && !p1.contains("CartesianProduct"))
      val p2 = a.join(b, lit(10.0) >= abs($"va" - $"vb"))
        .queryExecution.executedPlan.toString
      assert(!p2.contains("BroadcastNestedLoop") && !p2.contains("CartesianProduct"))
    }
  }
}
