package graft.joins

import graft.TestSpark
import graft.joins.NonEquiJoins._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cross-checks: every bucketed non-equi rewrite must produce exactly the
  * rows of the naive (BNLJ) formulation — on the driver fixtures and on
  * seeded random frames (including bucket-boundary values, the classic
  * off-by-one source).
  */
class NonEquiJoinsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    val cols = a.columns.sorted.map(col(_))
    val d1 = a.select(cols: _*).exceptAll(b.select(cols: _*)).count()
    val d2 = b.select(cols: _*).exceptAll(a.select(cols: _*)).count()
    assert(d1 == 0 && d2 == 0, s"row multisets differ: aOnly=$d1 bOnly=$d2")
  }

  private lazy val rnd = {
    val r = new scala.util.Random(42)
    // values clustered + exact bucket-boundary hits (multiples of eps=10)
    (1 to 400).map(i =>
      (i.toLong, if (r.nextBoolean()) r.nextInt(40) * 10.0 else r.nextDouble() * 400))
      .toDF("id", "v")
  }

  test("bandJoin == naive cross filter (seeded frame, boundary values)") {
    val a = rnd.select($"id".as("ida"), $"v".as("va"))
    val b = rnd.select($"id".as("idb"), $"v".as("vb"))
    val fast = bandJoin(a, b, "va", "vb", 10.0)
    val naive = a.crossJoin(b).filter(abs($"va" - $"vb") <= 10.0)
    assertSameRows(fast, naive)
  }

  test("bandJoin strict == naive strict") {
    val a = rnd.select($"id".as("ida"), $"v".as("va"))
    val b = rnd.select($"id".as("idb"), $"v".as("vb"))
    assertSameRows(
      bandJoin(a, b, "va", "vb", 10.0, strict = true),
      a.crossJoin(b).filter(abs($"va" - $"vb") < 10.0))
  }

  test("bandJoin on lineitem == naive (driver fixture)") {
    val li = spark.read.parquet(s"${TestSpark.sf}/lineitem.parquet")
    val a = li.select($"l_orderkey".as("ok"), $"l_linenumber".as("ln_a"),
      $"l_extendedprice".as("pa"))
    val b = li.select($"l_orderkey".as("ok_b"), $"l_linenumber".as("ln_b"),
      $"l_extendedprice".as("pb"))
    val fast = bandJoin(a, b, "pa", "pb", 100.0, extraKeys = Seq("ok" -> "ok_b"))
      .filter($"ln_a" < $"ln_b")
    val naive = a.join(b, $"ok" === $"ok_b" && $"ln_a" < $"ln_b" &&
      abs($"pa" - $"pb") <= 100.0)
    assertSameRows(fast, naive)
  }

  test("bandJoin with keys: bucketed and key-only paths agree with naive") {
    val li = spark.read.parquet(s"${TestSpark.sf}/lineitem.parquet")
    val a = li.select($"l_orderkey".as("ok"), $"l_linenumber".as("ln_a"),
      $"l_extendedprice".as("pa"))
    val b = li.select($"l_orderkey".as("ok_b"), $"l_linenumber".as("ln_b"),
      $"l_extendedprice".as("pb"))
    val naive = a.join(b, $"ok" === $"ok_b" && abs($"pa" - $"pb") <= 100.0)
    assertSameRows(
      bandJoin(a, b, "pa", "pb", 100.0, Seq("ok" -> "ok_b"), bucketWithKeys = true),
      naive)
    assertSameRows(
      bandJoin(a, b, "pa", "pb", 100.0, Seq("ok" -> "ok_b"), bucketWithKeys = false),
      naive)
  }

  test("lessThanJoin == naive, including values outside [lo,hi] clamp") {
    val a = rnd.select($"id".as("ida"), ($"v" - 200).as("va")) // some < lo
    val b = rnd.select($"id".as("idb"), ($"v" * 2).as("vb"))   // some > hi
    val fast = lessThanJoin(a, b, "va", "vb", lo = 0, hi = 300, buckets = 8)
    val naive = a.crossJoin(b).filter($"va" < $"vb")
    assertSameRows(fast, naive)
  }

  test("lessThanJoinQuantile == naive on a skewed (zipfian-ish) distribution") {
    val r = new scala.util.Random(11)
    // 80% of mass on a single hot value + a long tail: uniform buckets
    // would put everything in one cell; quantile buckets must still agree
    val skewed = (1 to 500).map { i =>
      (i.toLong, if (r.nextInt(5) > 0) 42.0 else r.nextDouble() * 10000)
    }.toDF("id", "v")
    val a = skewed.select($"id".as("ida"), $"v".as("va"))
    val b = skewed.select($"id".as("idb"), $"v".as("vb"))
    val fast = lessThanJoinQuantile(a, b, "va", "vb", buckets = 8)
    val naive = a.crossJoin(b).filter($"va" < $"vb")
    assertSameRows(fast, naive)
  }

  test("bandJoin on longs: exact buckets above 2^53") {
    // a double quotient would mis-bucket here
    // offsets near 2^62: double arithmetic has 512-ulp granularity here, so
    // a cast-to-double bucket would shift by more than the ±1 replication
    val base = 1L << 62
    val vals = Seq(0L, 1L, 999L, 1000L, 1001L, 123456L, 123457L, -999L, -1000L, -1001L)
      .zipWithIndex.map { case (d, i) => (i.toLong, base + d) }
    val a = vals.toDF("ida", "va")
    val b = vals.toDF("idb", "vb")
    val fast = bandJoin(a, b, "va", "vb", 1000.0)
    val naive = a.crossJoin(b).filter(abs($"va" - $"vb") <= 1000L)
    assertSameRows(fast, naive)
  }

  test("bandJoin on longs at the Long.MinValue edge") {
    // a pmod-subtraction bucket would wrap here
    // all values clustered near MinValue so the naive |va-vb| never overflows
    val vals = Seq(Long.MinValue + 800, Long.MinValue + 900, Long.MinValue + 2000,
      Long.MinValue, Long.MinValue + 999, Long.MinValue + 1000)
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val a = vals.toDF("ida", "va")
    val b = vals.toDF("idb", "vb")
    val fast = bandJoin(a, b, "va", "vb", 1000.0)
    val naive = a.crossJoin(b).filter(abs($"va" - $"vb") <= 1000L)
    assertSameRows(fast, naive)
  }

  test("bandJoin rejects a non-positive eps when called") {
    val a = rnd.select($"id".as("ida"), $"v".as("va"))
    val b = rnd.select($"id".as("idb"), $"v".as("vb"))
    intercept[IllegalArgumentException](bandJoin(a, b, "va", "vb", 0.0))
    intercept[IllegalArgumentException](bandJoin(a, b, "va", "vb", -1.0))
  }

  test("intervalOverlapJoin == naive overlap predicate") {
    val r = new scala.util.Random(7)
    val ev = (1 to 300).map(i => (i.toLong, i.toLong % 5, r.nextInt(100000).toLong))
      .toDF("id", "k", "s")
    val a = ev.select($"id".as("ida"), $"k".as("ka"), $"s".as("sa"))
    val b = ev.select($"id".as("idb"), $"k".as("kb"), $"s".as("sb"))
    val len = 5000L
    val fast = intervalOverlapJoin(a, b, "sa", "sb", len, extraKeys = Seq("ka" -> "kb"))
    // [sa, sa+len) overlaps [sb, sb+len)  <=>  |sa-sb| < len
    val naive = a.join(b, $"ka" === $"kb" && $"sa" < $"sb" + len && $"sb" < $"sa" + len)
    assertSameRows(fast, naive)
  }

  test("pointInIntervalJoin == naive, variable lengths spanning many buckets") {
    val r = new scala.util.Random(21)
    // interval lengths 0..20000 vs bucketWidth 1000: spans up to 20 buckets;
    // include zero-length and boundary-aligned intervals
    val iv = (1 to 200).map { i =>
      val s = r.nextInt(100000).toLong
      val len = if (i % 7 == 0) 0L else (r.nextInt(20) * 1000 + r.nextInt(3) - 1).toLong.max(0L)
      (i.toLong, i.toLong % 4, s, s + len)
    }.toDF("ivid", "ki", "s", "e")
    val pt = (1 to 300).map(i =>
      (i.toLong, i.toLong % 4, (r.nextInt(110) * 1000 + r.nextInt(3) - 1).toLong))
      .toDF("pid", "kp", "p")
    val fast = pointInIntervalJoin(pt, iv, "p", "s", "e",
      bucketWidth = 1000L, extraKeys = Seq("kp" -> "ki"))
    val naive = pt.join(iv, $"kp" === $"ki" && $"p" >= $"s" && $"p" < $"e")
    assertSameRows(fast, naive)
  }

  test("asofJoin == naive window formulation (ties broken by max id)") {
    val r = new scala.util.Random(13)
    // duplicate timestamps on purpose: tie-break must be deterministic
    val probe = (1 to 200).map(i => (i.toLong % 7, (r.nextInt(50) * 10).toLong, i.toLong))
      .toDF("k", "t", "pid")
    val quote = (1 to 200).map(i => (i.toLong % 7, (r.nextInt(50) * 10).toLong, (1000 + i).toLong))
      .toDF("k", "t", "qid")
    val fast = asofJoin(probe, quote, "k", "t", "pid", "qid")
      .select($"pid", $"qid")
    val naive = probe.as("p").join(quote.as("q"),
        $"p.k" === $"q.k" && $"q.t" < $"p.t", "left")
      .groupBy($"p.pid".as("pid"))
      .agg(max(when($"q.qid".isNotNull, struct($"q.t", $"q.qid"))).as("m"))
      .select($"pid", $"m.qid".as("qid"))
    assertSameRows(fast, naive)
  }

  test("asofJoinFwd == naive window formulation (ties broken by min id)") {
    val r = new scala.util.Random(17)
    val probe = (1 to 200).map(i => (i.toLong % 7, (r.nextInt(50) * 10).toLong, i.toLong))
      .toDF("k", "t", "pid")
    val quote = (1 to 200).map(i => (i.toLong % 7, (r.nextInt(50) * 10).toLong, (1000 + i).toLong))
      .toDF("k", "t", "qid")
    val fast = asofJoinFwd(probe, quote, "k", "t", "pid", "qid")
      .select($"pid", $"qid")
    val naive = probe.as("p").join(quote.as("q"),
        $"p.k" === $"q.k" && $"q.t" > $"p.t", "left")
      .groupBy($"p.pid".as("pid"))
      .agg(min(when($"q.qid".isNotNull, struct($"q.t", $"q.qid"))).as("m"))
      .select($"pid", $"m.qid".as("qid"))
    assertSameRows(fast, naive)
  }

  test("asofJoinNearest == naive argmin over |gap| (tie → backward, then direction id)") {
    val r = new scala.util.Random(19)
    // duplicate timestamps + equidistant pairs on purpose: the coarse t
    // grid makes |gap| ties common, exercising every tie-break tier
    val probe = (1 to 200).map(i => (i.toLong % 7, (r.nextInt(50) * 10).toLong, i.toLong))
      .toDF("k", "t", "pid")
    val quote = (1 to 200).map(i => (i.toLong % 7, (r.nextInt(50) * 10).toLong, (1000 + i).toLong))
      .toDF("k", "t", "qid")
    val fast = asofJoinNearest(probe, quote, "k", "t", "pid", "qid")
      .select($"pid", $"qid", $"qid_ts", $"gap")
    // argmin by (|gap|, backward-first, backward max id / forward min id):
    // encode backward candidates with id NEGATED so min(struct) picks
    // (smallest gap, backward before forward at equal gap, largest
    // backward id / smallest forward id)
    val naive = probe.as("p").join(quote.as("q"),
        $"p.k" === $"q.k" && $"q.t" =!= $"p.t", "left")
      .groupBy($"p.pid".as("pid"))
      .agg(min(when($"q.qid".isNotNull, struct(
        abs($"q.t" - $"p.t").as("gap"),
        when($"q.t" < $"p.t", lit(0)).otherwise(lit(1)).as("dir"),
        when($"q.t" < $"p.t", -$"q.qid").otherwise($"q.qid").as("sid"),
        $"q.t".as("t")))).as("m"))
      .select($"pid", abs($"m.sid").as("qid"), $"m.t".as("qid_ts"), $"m.gap".as("gap"))
    assertSameRows(fast, naive)
  }

  test("saltedEquiJoin == plain equi join on a skewed key distribution") {
    val r = new scala.util.Random(31)
    // 80% of left rows share one hot key
    val skewed = (1 to 500).map(i =>
      (i.toLong, if (r.nextInt(5) < 4) 7L else r.nextInt(50).toLong)).toDF("id", "k")
    val other = (0 until 50).map(i => (i.toLong, s"v$i")).toDF("k2", "payload")
    val fast = saltedEquiJoin(skewed, other, "k", "k2", factor = 8)
      .select("id", "k", "payload")
    val naive = skewed.join(other, $"k" === $"k2").select("id", "k", "payload")
    assertSameRows(fast, naive)
  }

  test("oneBucketThetaJoin covers every pair exactly once (arbitrary theta)") {
    val a = rnd.limit(80).select($"id".as("ida"), $"v".as("va"))
    val b = rnd.limit(80).select($"id".as("idb"), $"v".as("vb"))
    val theta = ($"va" * 2 < $"vb" + 30) && (pmod($"ida" + $"idb", lit(3)) === 0)
    val fast = oneBucketThetaJoin(a, b, "ida", "idb", rS = 4, rT = 4, theta = theta)
      .select("ida", "idb", "va", "vb")
    val naive = a.crossJoin(b).filter(theta).select("ida", "idb", "va", "vb")
    assertSameRows(fast, naive)
  }

  test("oneBucketThetaJoin rejects an empty grid dimension when called") {
    val a = rnd.select($"id".as("ida"), $"v".as("va"))
    val b = rnd.select($"id".as("idb"), $"v".as("vb"))
    val theta = $"va" < $"vb"
    intercept[IllegalArgumentException](oneBucketThetaJoin(a, b, "ida", "idb", rS = 0, rT = 4, theta))
    intercept[IllegalArgumentException](oneBucketThetaJoin(a, b, "ida", "idb", rS = 4, rT = 0, theta))
    intercept[IllegalArgumentException](oneBucketThetaJoin(a, b, "ida", "idb", rS = -1, rT = 4, theta))
  }

  test("fuzzySelfJoin2 == naive levenshtein ≤ 2 (varied lengths, runs, indels)") {
    // The judged TPC-H oracle only exercises EQUAL-length names, but the
    // position-compatibility pruning has length-sensitive tiers (d2×d1
    // aligned, d2×d0) and run-of-equal-chars edge cases — so this property
    // runs on a small alphabet with lengths 0..10: substitutions, indels,
    // shifts, and repeated-char runs all occur.
    for (seed <- Seq(7, 101, 9001)) {
      val r = new scala.util.Random(seed)
      val strs = (1 to 250).map { i =>
        val len = r.nextInt(11)
        (i.toLong, (1 to len).map(_ => "abc".charAt(r.nextInt(3))).mkString)
      }.toDF("k", "s")
      val fast = NonEquiJoins.fuzzySelfJoin2(strs, "k", "s")
      val x = strs.select($"k".as("ka"), $"s".as("sa"))
      val y = strs.select($"k".as("kb"), $"s".as("sb"))
      val naive = x.crossJoin(y)
        .filter($"ka" < $"kb" && levenshtein($"sa", $"sb") <= 2)
        .select($"ka", $"kb", levenshtein($"sa", $"sb").cast("long").as("d"))
      assertSameRows(fast, naive)
    }
  }

  test("fuzzySelfJoin2 plans one shuffle-hash bucket join — no Cartesian/BNLJ") {
    val strs = (1 to 60).map(i => (i.toLong, f"item$i%04d")).toDF("k", "s")
    val plan = NonEquiJoins.fuzzySelfJoin2(strs, "k", "s")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"quadratic shuffle:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"expected the variant bucket join to shuffle-hash:\n$plan")
  }

  test("oneBucketThetaJoin plans the grid equi join — never CartesianProduct/BNLJ") {
    // force the shuffle path (no auto-broadcast of the tiny test side):
    // the judged q_join_theta_1bucket must survive at a scale where
    // NEITHER side broadcasts — the grid replication equi join on
    // (__row, __col) is the only shuffle
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val a = rnd.limit(80).select($"id".as("ida"), $"v".as("va"))
      val b = rnd.limit(80).select($"id".as("idb"), $"v".as("vb"))
      val theta = pmod($"ida" * 13, lit(97)) === pmod($"idb" * 29, lit(97))
      val plan = oneBucketThetaJoin(a, b, "ida", "idb", rS = 4, rT = 4, theta = theta)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"quadratic shuffle:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected the grid equi join to shuffle-hash or sort-merge:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  // ---- stats-driven inequality-join chooser (lessThanJoinAuto): each
  // input shape must route to the BASELINE.md-measured winner, and the
  // routed join must stay exact.

  test("chooser routes a hot-cell-over-budget (zipfian) input to quantile bucketing") {
    // u^8 zipfian: the hottest of 32 uniform cells carries most of the
    // mass (measured 65-84% in SkewStress).  With the cell-row budget
    // below hotFrac*n — the executor-memory margin at 100 TB — planned
    // balance is mandatory.
    val r = new scala.util.Random(7)
    val z = (1 to 2000).map(i => (i.toLong, math.pow(r.nextDouble(), 8) * 1000))
      .toDF("idz", "vz")
    val u = (1 to 500).map(i => (i.toLong, r.nextDouble() * 1000)).toDF("idu", "vu")
    val st = lessThanStats(u, z, "vu", "vz")
    assert(st.hotCellFrac > 0.5, s"zipfian sample should concentrate: $st")
    assert(lessThanStrategy(st, cellRowBudget = st.nRight / 4) == "quantile", st.toString)
  }

  test("chooser routes a moderate uniform input to the IEJoin sort-merge") {
    val r = new scala.util.Random(8)
    val a = (1 to 800).map(i => (i.toLong, r.nextDouble() * 1000)).toDF("ida", "va")
    val b = (1 to 800).map(i => (i.toLong, r.nextDouble() * 1000)).toDF("idb", "vb")
    val st = lessThanStats(a, b, "va", "vb")
    assert(st.hotCellFrac < 0.25, s"uniform sample should spread: $st")
    // ~n²/2 estimated pairs sit far under the default dense bar
    assert(lessThanStrategy(st) == "iejoin", st.toString)
  }

  test("chooser routes an over-dense output to the codegen-fusable static bucketing") {
    val r = new scala.util.Random(9)
    val a = (1 to 800).map(i => (i.toLong, r.nextDouble() * 1000)).toDF("ida", "va")
    val b = (1 to 800).map(i => (i.toLong, r.nextDouble() * 1000)).toDF("idb", "vb")
    val st = lessThanStats(a, b, "va", "vb")
    // past the bar where the shapes measured at parity, prefer the shape
    // that fuses with downstream aggregation
    assert(lessThanStrategy(st, densePairBar = 1000L) == "static", st.toString)
  }

  test("medianIntervalWidth recovers the median length; auto interval join stays exact") {
    val r = new scala.util.Random(11)
    // lengths 10..1000, median ~500; zero/negative-length rows are ignored
    val iv = (1 to 600).map { i =>
      val s = r.nextInt(100000).toLong
      (i.toLong, s, s + 10 + r.nextInt(991))
    }.toDF("iid", "s", "e")
      .unionByName(Seq((9999L, 50L, 50L)).toDF("iid", "s", "e")) // zero-length
    val w = medianIntervalWidth(iv, "s", "e")
    assert(w >= 300 && w <= 700, s"median-length width out of band: $w")
    val pts = (1 to 400).map(i => (10000L + i, r.nextInt(101000).toLong)).toDF("pid", "p")
    val fast = pointInIntervalJoinAuto(pts, iv, "p", "s", "e")
      .select("pid", "iid")
    val naive = pts.crossJoin(iv).filter($"p" >= $"s" && $"p" < $"e")
      .select("pid", "iid")
    assertSameRows(fast, naive)
  }

  test("lessThanJoinAuto is exact under every routing") {
    val r = new scala.util.Random(10)
    val a = (1 to 300).map(i => (i.toLong, r.nextDouble() * 100)).toDF("ida", "va")
    val b = (1 to 300).map(i => (i.toLong, r.nextDouble() * 100)).toDF("idb", "vb")
    val naive = a.crossJoin(b).filter($"va" < $"vb")
    val st = lessThanStats(a, b, "va", "vb")
    assert(lessThanStrategy(st) == "iejoin", st.toString)
    assertSameRows(lessThanJoinAuto(a, b, "va", "vb"), naive) // iejoin
    // the same input forced through each of the other two routes
    assertSameRows(lessThanJoinRouted("static", st, a, b, "va", "vb"), naive)
    assertSameRows(lessThanJoinRouted("quantile", st, a, b, "va", "vb"), naive)
  }
}
