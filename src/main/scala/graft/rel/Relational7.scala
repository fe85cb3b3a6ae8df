package graft.rel

import graft.GraftQuery
import graft.fns.Exact
import graft.io.Tables._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Round-4 additions: data-layout clustering (z-order) and the remaining
  * feasible TPC-H surface.
  */
object Relational7 {

  /** Bit-interleave two `bits`-wide non-negative keys into a Morton
    * (z-order) value — pure shift/mask/or arithmetic, identical in both
    * engines. */
  private[graft] def zInterleave(x: Column, y: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  private def zInterleaveSql(x: String, y: String, bits: Int): String =
    (0 until bits).map { i =>
      s"(((($x) >> $i) & 1) << ${2 * i}) | (((($y) >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " | ", ")")

  /** Z-order (Morton) layout clustering: interleave the bits of two join
    * dimensions into one sort key, then bin rows into target files by
    * z-range.  Sorting by z-value is THE multi-dimensional data-layout
    * primitive at 100 TB: each output file covers a small rectangle of the
    * (part, supp) space, so min/max footer stats prune scans filtered on
    * EITHER dimension — a linear sort (here: integer arithmetic + one
    * range partition) standing in for a quadratic clustering problem.  The
    * query emits each z-file's row count and bounding box — the stats a
    * reader would prune with; the oracle recomputes the identical
    * arithmetic. */
  val layoutZorder: GraftQuery = {
    val zSql = zInterleaveSql("l_partkey % 256", "l_suppkey % 256", 8)
    GraftQuery("q_layout_zorder",
      s"""WITH z AS (
         |  SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y,
         |         $zSql AS zval
         |  FROM lineitem)
         |SELECT zval // 256 AS zfile, CAST(count(*) AS BIGINT) AS cnt,
         |       min(x) AS min_x, max(x) AS max_x,
         |       min(y) AS min_y, max(y) AS max_y
         |FROM z GROUP BY zval // 256""".stripMargin) { (spark, sfDir) =>
      val x = col("l_partkey") % 256L
      val y = col("l_suppkey") % 256L
      lineitem(spark, sfDir)
        .select(x.as("x"), y.as("y"),
          zInterleave(col("l_partkey") % 256L, col("l_suppkey") % 256L, 8).as("zval"))
        .groupBy(call_function("div", col("zval"), lit(256L)).as("zfile"))
        .agg(count(lit(1)).as("cnt"),
          min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"))
    }
  }

  private def registerViews(spark: org.apache.spark.sql.SparkSession, sfDir: String): Unit =
    Seq("customer", "orders", "lineitem", "part", "supplier", "nation", "region")
      .foreach(t => table(spark, sfDir, t).createOrReplaceTempView(t))

  /** TPC-H Q7 shape (volume shipping between two nations): 6-way join with
    * the nation table aliased twice, grouped by shipping year.  One SQL
    * text runs on both engines; year() is cast to BIGINT for type parity
    * and revenue uses the scaled-integer exact sum. */
  val sqlTpchQ7: GraftQuery = {
    val sql =
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |       CAST(year(l_shipdate) AS BIGINT) AS l_year,
         |       count(*) AS n_rows,
         |       ${Exact.exactSumSql("l_extendedprice * (1 - l_discount)", 4)} AS revenue
         |FROM supplier
         |JOIN lineitem ON s_suppkey = l_suppkey
         |JOIN orders   ON o_orderkey = l_orderkey
         |JOIN customer ON c_custkey = o_custkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
         |    OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
         |  AND l_shipdate >= TIMESTAMP '1995-01-01'
         |  AND l_shipdate < TIMESTAMP '1998-01-01'
         |GROUP BY n1.n_name, n2.n_name, CAST(year(l_shipdate) AS BIGINT)""".stripMargin
    GraftQuery("q_sql_tpch_q7", sql) { (spark, sfDir) =>
      registerViews(spark, sfDir)
      spark.sql(sql)
    }
  }

  /** TPC-H Q8 shape (national market share): 8-way join, ratio of two
    * scaled-integer sums divided as doubles (the Q14 parity trick) so the
    * share is bit-identical across engines. */
  val sqlTpchQ8: GraftQuery = {
    val sv = Exact.scaledSql("l_extendedprice * (1 - l_discount)", 4)
    val sql =
      s"""SELECT o_year,
         |  CAST(sum(CASE WHEN nation = 'NATION_3' THEN sv ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(sv) AS DOUBLE) AS mkt_share,
         |  count(*) AS n_rows
         |FROM (
         |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |         $sv AS sv,
         |         n2.n_name AS nation
         |  FROM part
         |  JOIN lineitem ON p_partkey = l_partkey
         |  JOIN supplier ON s_suppkey = l_suppkey
         |  JOIN orders   ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |  JOIN region   ON n1.n_regionkey = r_regionkey
         |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |  WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
         |    AND o_orderdate >= TIMESTAMP '1995-01-01'
         |    AND o_orderdate < TIMESTAMP '1998-01-01'
         |) t GROUP BY o_year""".stripMargin
    GraftQuery("q_sql_tpch_q8", sql) { (spark, sfDir) =>
      registerViews(spark, sfDir)
      spark.sql(sql)
    }
  }

  /** TPC-H Q13 shape (customer order-count distribution): LEFT JOIN keeps
    * zero-order customers, double aggregation.  Fixture has no o_comment,
    * so the NOT LIKE filter of the spec is omitted. */
  val sqlTpchQ13: GraftQuery = {
    val sql =
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |      GROUP BY c_custkey) t
        |GROUP BY c_count""".stripMargin
    GraftQuery("q_sql_tpch_q13", sql) { (spark, sfDir) =>
      registerViews(spark, sfDir)
      spark.sql(sql)
    }
  }

  /** TPC-H Q15 shape (top supplier by quarterly revenue): CTE referenced
    * twice, scalar-subquery max; revenue doubles derive from the identical
    * scaled-integer sums so the max-equality predicate agrees exactly. */
  val sqlTpchQ15: GraftQuery = {
    val rev = Exact.exactSumSql("l_extendedprice * (1 - l_discount)", 4)
    val sql =
      s"""WITH revenue AS (
         |  SELECT l_suppkey AS supplier_no, $rev AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |    AND l_shipdate < TIMESTAMP '1996-04-01'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM supplier JOIN revenue ON s_suppkey = supplier_no
         |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)""".stripMargin
    GraftQuery("q_sql_tpch_q15", sql) { (spark, sfDir) =>
      registerViews(spark, sfDir)
      spark.sql(sql)
    }
  }

  /** TPC-H Q17 shape (small-quantity revenue): the correlated
    * 0.2·avg(l_quantity) subquery is decorrelated into a per-part
    * aggregate join, and the fractional predicate is cross-multiplied into
    * pure integral-double arithmetic (`qty · 5 · count < sum`) — exact in
    * both engines, no float-division drift.  Fixture has no p_container,
    * so selectivity comes from p_brand alone. */
  val sqlTpchQ17: GraftQuery = {
    val sql =
      s"""WITH pq AS (
         |  SELECT l_partkey AS pk, CAST(sum(l_quantity) AS DOUBLE) AS sq,
         |         count(*) AS cq
         |  FROM lineitem GROUP BY l_partkey)
         |SELECT count(*) AS n_small,
         |       ${Exact.exactSumSql("l_extendedprice", 4)} AS total_price
         |FROM lineitem
         |JOIN part ON p_partkey = l_partkey
         |JOIN pq ON pk = l_partkey
         |WHERE p_brand = 'Brand#1' AND l_quantity * 5 * cq < sq""".stripMargin
    GraftQuery("q_sql_tpch_q17", sql) { (spark, sfDir) =>
      registerViews(spark, sfDir)
      spark.sql(sql)
    }
  }

  /** Recursive CTE surface (Spark 4 WITH RECURSIVE): a date spine unfolded
    * by recursion, left-joined to orders for a zero-filled daily series.
    * One SQL text runs on both engines; the recursion is bounded (31
    * steps) and each step is a constant-size frame, so the plan is a
    * chain of unions — at scale the spine stays driver-thin while the
    * probe side remains one distributed join. */
  val sqlRecursive: GraftQuery = {
    val sql =
      """WITH RECURSIVE days(d) AS (
        |  SELECT CAST('1996-01-01' AS DATE) AS d
        |  UNION ALL
        |  SELECT CAST(d + INTERVAL 1 DAY AS DATE) AS d
        |  FROM days WHERE d < CAST('1996-01-31' AS DATE))
        |SELECT d, CAST(count(o_orderkey) AS BIGINT) AS n_orders
        |FROM days LEFT JOIN orders ON CAST(o_orderdate AS DATE) = d
        |GROUP BY d""".stripMargin
    GraftQuery("q_sql_recursive", sql) { (spark, sfDir) =>
      registerViews(spark, sfDir)
      spark.sql(sql)
    }
  }

  /** Exact statistical outlier detection: rows more than 1.5 population
    * standard deviations from their group mean (the fixture prices are
    * uniform per group, so max |z| ~ sqrt(3) and a 3-sigma cut is empty).  The z-score test is
    * cross-multiplied into pure integer arithmetic on scaled values —
    * `4·(n·x − s)² > 9·(n·ss − s²)` ⟺ `(x − mean)² > 2.25·var` — so there is no
    * sqrt, no float division, and no order-dependent double summation:
    * both engines agree bit-for-bit.  One window pass per group (at scale:
    * one shuffle keyed by the group column); magnitudes are bounded by the
    * price domain (≤3·10¹⁷, ×9 ≪ 2⁶³ — overflow-checked in ANSI mode). */
  val qualityOutliers: GraftQuery = {
    val xs = Exact.scaledSql("l_extendedprice", 2)
    val sql =
      s"""WITH st AS (
         |  SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice,
         |         $xs AS xs,
         |         CAST(sum($xs) OVER (PARTITION BY l_partkey) AS BIGINT) AS s,
         |         CAST(sum($xs * $xs) OVER (PARTITION BY l_partkey) AS BIGINT) AS ss,
         |         CAST(count(*) OVER (PARTITION BY l_partkey) AS BIGINT) AS n
         |  FROM lineitem)
         |SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice
         |FROM st
         |WHERE 4 * (n * xs - s) * (n * xs - s) > 9 * (n * ss - s * s)""".stripMargin
    GraftQuery("q_quality_outliers", sql) { (spark, sfDir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("l_partkey")
      val xsc = Exact.scaled(col("l_extendedprice"), 2)
      val st = lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_extendedprice"), xsc.as("xs"))
        .withColumn("s", sum(col("xs")).over(w))
        .withColumn("ss", sum(col("xs") * col("xs")).over(w))
        .withColumn("n", count(lit(1)).over(w))
      st.filter(lit(4L) * (col("n") * col("xs") - col("s")) * (col("n") * col("xs") - col("s")) >
          lit(9L) * (col("n") * col("ss") - col("s") * col("s")))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")
    }
  }

  /** TPC-H Q19 shape (disjunctive brand/size/quantity predicates): one
    * scan, three OR'd conjunct groups — the classic test that a planner
    * pushes a disjunction into the join instead of a cross filter.
    * Fixture has no p_container, so size bands stand in for containers. */
  val sqlTpchQ19: GraftQuery = {
    val sql =
      s"""SELECT count(*) AS n_rows,
         |       ${Exact.exactSumSql("l_extendedprice * (1 - l_discount)", 4)} AS revenue
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
         |       AND l_quantity >= 1 AND l_quantity <= 11)
         |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
         |       AND l_quantity >= 10 AND l_quantity <= 20)
         |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
         |       AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin
    GraftQuery("q_sql_tpch_q19", sql) { (spark, sfDir) =>
      registerViews(spark, sfDir)
      spark.sql(sql)
    }
  }

  /** TPC-H Q22 shape (global sales opportunity): customers above the
    * positive-balance average with no URGENT orders, grouped by
    * country code (every fixture customer has orders, so the anti leg
    * filters on priority to stay non-degenerate).
    * Fixture has no c_phone, so cntrycode := c_nationkey % 5.  The scalar
    * average is the exact scaled-integer form, so the `>` cut agrees
    * bit-for-bit; the anti join is NOT EXISTS. */
  val sqlTpchQ22: GraftQuery = {
    val sql =
      s"""SELECT cntrycode, count(*) AS numcust,
         |       ${Exact.exactSumSql("c_acctbal", 2)} AS totacctbal
         |FROM (
         |  SELECT c_nationkey % 5 AS cntrycode, c_acctbal
         |  FROM customer
         |  WHERE c_acctbal > (SELECT ${Exact.exactAvgSql("c_acctbal", 2)}
         |                     FROM customer WHERE c_acctbal > CAST(0 AS DOUBLE))
         |    AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
         |                    AND o_orderpriority = '1-URGENT')
         |) t GROUP BY cntrycode""".stripMargin
    GraftQuery("q_sql_tpch_q22", sql) { (spark, sfDir) =>
      registerViews(spark, sfDir)
      spark.sql(sql)
    }
  }

  private def installIntervalRule(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.plans.GraftExtensions.addRule(spark, graft.plans.IntervalOverlapAutoRewrite)

  /** Planner-integrated interval-overlap rewrite, judged end to end: the
    * query writes the NAIVE overlap join (`sa <= eb AND sb <= ea`, no equi
    * key — Catalyst alone would plan BNLJ/CartesianProduct) and
    * [[graft.plans.IntervalOverlapAutoRewrite]] compiles it to the
    * bucket-replicated equi join with exactly-once overlap-start
    * emission.  Purchase windows vs error windows over the event stream;
    * variable interval lengths (600-900 s) against a 2³⁰ µs bucket. */
  val joinIntervalRule: GraftQuery = GraftQuery("q_join_interval_rule",
    """WITH w AS (SELECT event_id, event_type, epoch_us(ts) AS s,
      |                  epoch_us(ts) + (600 + event_id % 300) * 1000000 AS e
      |           FROM events),
      |a AS (SELECT event_id AS ia, s AS sa, e AS ea FROM w WHERE event_type = 'purchase'),
      |b AS (SELECT event_id AS ib, s AS sb, e AS eb FROM w WHERE event_type = 'error')
      |SELECT ia, ib, greatest(sa, sb) AS ov_start,
      |       least(ea, eb) - greatest(sa, sb) AS ov_us
      |FROM a JOIN b ON sa <= eb AND sb <= ea""".stripMargin) { (spark, sfDir) =>
    installIntervalRule(spark)
    spark.conf.set(graft.plans.IntervalOverlapAutoRewrite.WidthConf,
      (1L << 30).toString) // ~18 min buckets in µs
    val w = eventsUs(spark, sfDir).select(col("event_id"), col("event_type"),
      col("ts_us").as("s"),
      (col("ts_us") + (lit(600L) + pmod(col("event_id"), lit(300L))) * 1000000L).as("e"))
    val a = w.filter(col("event_type") === "purchase")
      .select(col("event_id").as("ia"), col("s").as("sa"), col("e").as("ea"))
    val b = w.filter(col("event_type") === "error")
      .select(col("event_id").as("ib"), col("s").as("sb"), col("e").as("eb"))
    a.join(b, col("sa") <= col("eb") && col("sb") <= col("ea"))
      .select(col("ia"), col("ib"),
        greatest(col("sa"), col("sb")).as("ov_start"),
        (least(col("ea"), col("eb")) - greatest(col("sa"), col("sb"))).as("ov_us"))
  }

  /** Wide-to-long unpivot (the inverse of q_agg_pivot): per-flag exact
    * sums melted into (flag, measure, value) rows via `Dataset.unpivot`;
    * the oracle is the portable UNION ALL formulation. */
  val aggUnpivot: GraftQuery = {
    val qty = Exact.exactSumSql("l_quantity", 2)
    val price = Exact.exactSumSql("l_extendedprice", 2)
    GraftQuery("q_agg_unpivot",
      s"""WITH w AS (SELECT l_returnflag, $qty AS qty, $price AS price
         |           FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, 'qty' AS measure, qty AS val FROM w
         |UNION ALL
         |SELECT l_returnflag, 'price' AS measure, price AS val FROM w""".stripMargin) {
      (spark, sfDir) =>
        lineitem(spark, sfDir)
          .groupBy("l_returnflag")
          .agg(Exact.exactSum(col("l_quantity"), 2).as("qty"),
            Exact.exactSum(col("l_extendedprice"), 2).as("price"))
          .unpivot(Array(col("l_returnflag")), Array(col("qty"), col("price")),
            "measure", "val")
    }
  }

  /** Salted equi join, judged end to end: the left side is scattered
    * across `factor` salt values and the right side replicated to all of
    * them, so a single hot key spreads over `factor` reducers instead of
    * one — the manual skew remedy when AQE's split sizes don't fit.
    * Salting is performance-only: each qualifying pair still meets exactly
    * once, so the oracle is the PLAIN join. */
  val joinSalted: GraftQuery = GraftQuery("q_join_salted",
    """SELECT l_orderkey, l_linenumber, o_totalprice, o_orderstatus
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin) {
    (spark, sfDir) =>
      graft.joins.NonEquiJoins.saltedEquiJoin(
        lineitem(spark, sfDir).select("l_orderkey", "l_linenumber"),
        orders(spark, sfDir).select("o_orderkey", "o_totalprice", "o_orderstatus"),
        "l_orderkey", "o_orderkey", factor = 8)
        .select("l_orderkey", "l_linenumber", "o_totalprice", "o_orderstatus")
  }

  val all: Seq[GraftQuery] =
    Seq(layoutZorder, sqlTpchQ7, sqlTpchQ8, sqlTpchQ13, sqlTpchQ15, sqlTpchQ17,
      sqlRecursive, qualityOutliers, sqlTpchQ19, sqlTpchQ22, joinIntervalRule,
      aggUnpivot, joinSalted)
}
