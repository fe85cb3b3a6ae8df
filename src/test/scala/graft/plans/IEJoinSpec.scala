package graft.plans

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** The custom sort-merge inequality join must (a) actually plan through
  * LessThanJoinExec, and (b) return exactly the rows of the naive
  * (nested-loop) inequality join on every data shape. */
class IEJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("ida", "idb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("plans through LessThanJoinExec, no cartesian/BNLJ") {
    val a = (1 to 50).map(i => (i.toLong, i * 3.0)).toDF("ida", "va")
    val b = (1 to 50).map(i => (100L + i, i * 5.0)).toDF("idb", "vb")
    val plan = IEJoin(a, b, "va", "vb").queryExecution.executedPlan.toString
    assert(plan.contains("LessThanJoin"), s"custom exec missing:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
  }

  test("matches the naive inequality join on random data (with duplicates)") {
    val r = new scala.util.Random(31)
    // duplicate values on both sides exercise the strict-< boundary
    val a = (1 to 400).map(i => (i.toLong, (r.nextInt(80) * 2).toDouble)).toDF("ida", "va")
    val b = (1 to 400).map(i => (1000L + i, (r.nextInt(80) * 2).toDouble)).toDF("idb", "vb")
    val expected = pairsOf(a.join(b, $"va" < $"vb"))
    val got = pairsOf(IEJoin(a, b, "va", "vb"))
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("skewed distribution (zipf-ish): still exact") {
    val r = new scala.util.Random(32)
    def zipf(): Double = math.floor(math.pow(r.nextDouble(), 4) * 100)
    val a = (1 to 300).map(i => (i.toLong, zipf())).toDF("ida", "va")
    val b = (1 to 300).map(i => (1000L + i, zipf())).toDF("idb", "vb")
    assert(pairsOf(IEJoin(a, b, "va", "vb")) == pairsOf(a.join(b, $"va" < $"vb")))
  }

  test("degenerate shapes: single value, empty side, long keys") {
    val one = Seq((1L, 5.0), (2L, 5.0)).toDF("ida", "va")
    val oneB = Seq((10L, 5.0)).toDF("idb", "vb")
    assert(pairsOf(IEJoin(one, oneB, "va", "vb")).isEmpty) // strict <
    val empty = Seq.empty[(Long, Double)].toDF("idb", "vb")
    assert(pairsOf(IEJoin(one, empty, "va", "vb")).isEmpty)
    // integral keys merge in their native type
    val la = Seq((1L, 10L), (2L, 20L)).toDF("ida", "va")
    val lb = Seq((10L, 15L)).toDF("idb", "vb")
    assert(pairsOf(IEJoin(la, lb, "va", "vb")) == Set((1L, 10L)))
  }

  test("spill path: tiny window-buffer thresholds force disk, results stay exact") {
    // the left-prefix buffer honors the windowExec buffer confs; pinning
    // them to a handful of rows forces BOTH the in-memory->sorter handoff
    // and sorter spills, on a join whose prefix buffer (hundreds of rows
    // per cell) far exceeds them — the run-replay merge must read back
    // identical rows from the spill files
    val keys = Seq(
      "spark.sql.windowExec.buffer.in.memory.threshold" -> "4",
      "spark.sql.windowExec.buffer.spill.threshold" -> "8")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      val r = new scala.util.Random(33)
      val a = (1 to 500).map(i => (i.toLong, (r.nextInt(60) * 2).toDouble)).toDF("ida", "va")
      val b = (1 to 500).map(i => (1000L + i, (r.nextInt(60) * 2).toDouble)).toDF("idb", "vb")
      val got = pairsOf(IEJoin(a, b, "va", "vb"))
      val expected = pairsOf(a.join(b, $"va" < $"vb"))
      assert(got == expected && got.size > 10000,
        s"spilled merge diverged: got=${got.size} expected=${expected.size}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("long keys past 2^53 compare exactly (double view is routing-only)") {
    // adjacent longs above 2^53 collapse to one double; the merge must
    // still see base < base+1 (and NOT base+1 < base+1)
    val base = (1L << 55) + 1L
    val xs = Seq((1L, base), (2L, base + 1L)).toDF("ida", "va")
    val ys = Seq((10L, base + 1L)).toDF("idb", "vb")
    assert(pairsOf(IEJoin(xs, ys, "va", "vb")) == Set((1L, 10L)))
    // mixed-type keys are rejected, not silently double-cast, and before
    // any job scans the data; so is a missing column
    val ints = Seq((20L, 5)).toDF("idb", "vb")
    assert(graft.JobCount(spark)(
      intercept[IllegalArgumentException](IEJoin(xs, ints, "va", "vb"))) == 0)
    assert(graft.JobCount(spark)(
      intercept[IllegalArgumentException](IEJoin(xs, ys, "va", "nope"))) == 0)
  }
}
