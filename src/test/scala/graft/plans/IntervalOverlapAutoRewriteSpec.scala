package graft.plans

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The interval-overlap auto-rewrite must remove the nested-loop plan for
  * a naive `sa <= eb AND sb <= ea` join and preserve results exactly —
  * including degenerate (end < start) intervals, negatives, and NULL
  * bounds.  The public `intervalOverlapJoinVar` shares the rewrite, so on
  * the same inputs it must return the same rows through the same plan
  * shape. */
class IntervalOverlapAutoRewriteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Other suites (the judged q_join_interval_rule) install the rule and
    * width conf on the SHARED test session — strip both so each test
    * states its own preconditions. */
  private def bare[A](f: => A): A = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == IntervalOverlapAutoRewrite)
    spark.conf.unset(IntervalOverlapAutoRewrite.WidthConf)
    f
  }

  private def withRule[A](width: Long)(f: => A): A = bare {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ IntervalOverlapAutoRewrite
    spark.conf.set(IntervalOverlapAutoRewrite.WidthConf, width.toString)
    try f
    finally {
      spark.conf.unset(IntervalOverlapAutoRewrite.WidthConf)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == IntervalOverlapAutoRewrite)
    }
  }

  private def intervals(seed: Int, n: Int, idBase: Long) = {
    val r = new scala.util.Random(seed)
    (1 to n).map { i =>
      val s = r.nextLong() % 100000L // negatives included
      val len = r.nextInt(3000).toLong - 200L // some end < start
      (idBase + i,
        if (r.nextInt(50) == 0) None else Some(s),
        if (r.nextInt(50) == 0) None else Some(s + len))
    }.toDF("id", "s", "e")
  }

  private lazy val a = intervals(41, 400, 0)
    .select($"id".as("ia"), $"s".as("sa"), $"e".as("ea"))
  private lazy val b = intervals(42, 400, 1000)
    .select($"id".as("ib"), $"s".as("sb"), $"e".as("eb"))

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("naive overlap join is rewritten to a bucketed equi join") {
    val cond = $"sa" <= $"eb" && $"sb" <= $"ea"
    val before = bare { a.join(b, cond).queryExecution.executedPlan.toString }
    assert(before.contains("BroadcastNestedLoop") || before.contains("CartesianProduct"))
    withRule(1024L) {
      val plan = a.join(b, cond).queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
        s"rewrite did not fire:\n$plan")
    }
  }

  test("rewritten overlap join returns exactly the naive rows (incl. degenerate/null)") {
    val cond = $"sa" <= $"eb" && $"sb" <= $"ea"
    val expected = bare { pairs(a.join(b, cond)) }
    assert(expected.nonEmpty)
    // the API takes half-open [s, e): e + 1 closes the same intervals
    val ah = a.select($"ia", $"sa", ($"ea" + 1).as("ea1"))
    val bh = b.select($"ib", $"sb", ($"eb" + 1).as("eb1"))
    for (w <- Seq(64L, 1024L, 1000000L)) {
      val (got, ruleShape) = withRule(w) { val df = a.join(b, cond); (pairs(df), PlanShape(df)) }
      assert(got == expected, s"width=$w: missing=${expected.diff(got).take(3)}")
      val api = bare {
        graft.joins.NonEquiJoins.intervalOverlapJoinVar(ah, bh, "sa", "ea1", "sb", "eb1", w)
      }
      val apiShape = PlanShape(api)
      assert(pairs(api) == expected, s"width=$w: api rows differ")
      assert(apiShape == ruleShape, s"width=$w: api $apiShape vs rule $ruleShape")
      assert(apiShape.nestedLoops == 0 && apiShape.generates == 2, apiShape.toString)
    }
  }

  test("strict and flipped comparison forms are rewritten and exact") {
    val cond = $"eb" >= $"sa" && $"sb" < $"ea"
    val expected = bare { pairs(a.join(b, cond)) }
    val got = withRule(512L) {
      val df = a.join(b, cond)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"))
      pairs(df)
    }
    assert(got == expected)
  }

  test("joins with an equi key, and sessions without the width conf, are left alone") {
    withRule(1024L) {
      val plan = a.join(b, $"ia" === $"ib" && $"sa" <= $"eb" && $"sb" <= $"ea")
        .queryExecution.optimizedPlan.toString
      assert(!plan.contains("__graft_iv"))
    }
    // rule installed but conf unset -> no rewrite
    bare {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ IntervalOverlapAutoRewrite
      try {
        val plan = a.join(b, $"sa" <= $"eb" && $"sb" <= $"ea")
          .queryExecution.optimizedPlan.toString
        assert(!plan.contains("__graft_iv"))
      } finally spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == IntervalOverlapAutoRewrite)
    }
  }

  test("extra conjuncts ride along unchanged") {
    val cond = $"sa" <= $"eb" && $"sb" <= $"ea" && $"ia" =!= $"ib"
    val expected = bare { pairs(a.join(b, cond)) }
    val got = withRule(2048L) { pairs(a.join(b, cond)) }
    assert(got == expected)
  }
}
