package graft.rel

import graft.GraftQuery
import graft.io.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fifth wave: gap-and-island sessionization as a pure window computation
  * (per-row session ids, vs the session_window aggregate), and grouped
  * histograms.
  */
object Relational5 {

  /** Per-event session sequence number: a session breaks where the gap to
    * the previous event of the same user exceeds 30 min; the running sum of
    * break flags is the classic gap-and-island id.  Unlike
    * `session_window` aggregation this keeps every event row and gives it a
    * stable (user_id, session_seq) key — the shape downstream feature
    * pipelines join against.  One shuffle (window partition by user). */
  val windowSessionId: GraftQuery = GraftQuery("q_window_sessionid",
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
      |x AS (SELECT user_id, event_id, ts_us,
      |        CASE WHEN lag(ts_us) OVER w IS NULL
      |               OR ts_us - lag(ts_us) OVER w >= 1800000000
      |             THEN 1 ELSE 0 END AS brk
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
      |SELECT user_id, event_id, ts_us,
      |  CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      |FROM x""".stripMargin) { (spark, sfDir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col("ts_us"), 1).over(w)
    eventsUs(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts_us"))
      .withColumn("brk",
        when(prev.isNull || col("ts_us") - prev >= 1800000000L, 1L).otherwise(0L))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        sum(col("brk")).over(wRun).cast(LongType).as("session_seq"))
  }

  /** Grouped equi-width histogram: price decile buckets per returnflag with
    * count and exact bucket bounds — floor-division bucketing (DuckDB 1.0
    * has no width_bucket; `//` is its integer division). */
  val aggHistogram: GraftQuery = GraftQuery("q_agg_histogram",
    """SELECT l_returnflag,
      |  CAST(floor(l_extendedprice / 10000.0) AS BIGINT) AS bucket,
      |  count(*) AS n,
      |  CAST(min(round(l_extendedprice * 100, 0)) AS BIGINT) AS min_cents,
      |  CAST(max(round(l_extendedprice * 100, 0)) AS BIGINT) AS max_cents
      |FROM lineitem
      |GROUP BY l_returnflag, CAST(floor(l_extendedprice / 10000.0) AS BIGINT)""".stripMargin) { (spark, sfDir) =>
    val bucket = floor(col("l_extendedprice") / 10000.0).cast(LongType)
    lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"), bucket.as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(round(col("l_extendedprice") * 100)).cast(LongType).as("min_cents"),
        max(round(col("l_extendedprice") * 100)).cast(LongType).as("max_cents"))
  }

  /** The auto-rewrite rule as a judged end-to-end path: the query is the
    * NAIVE band join syntax (no bucketing in user code); with
    * BandJoinAutoRewrite installed the optimizer compiles it to the
    * bucketed equi join — PlanGuardSpec proves no BNLJ/CartesianProduct
    * appears, and the oracle proves the rewrite preserves results. */
  val joinBandRule: GraftQuery = GraftQuery("q_join_band_rule",
    """SELECT s_suppkey, c_custkey, s_acctbal, c_acctbal
      |FROM supplier JOIN customer ON abs(s_acctbal - c_acctbal) <= 50.0""".stripMargin) { (spark, sfDir) =>
    graft.plans.GraftExtensions.addRule(spark, graft.plans.BandJoinAutoRewrite)
    supplier(spark, sfDir).select("s_suppkey", "s_acctbal")
      .join(customer(spark, sfDir).select("c_custkey", "c_acctbal"),
        abs(col("s_acctbal") - col("c_acctbal")) <= 50.0)
      .select("s_suppkey", "c_custkey", "s_acctbal", "c_acctbal")
  }

  /** Approximate percentiles (Greenwald-Khanna sketch, like the engine's
    * approx_count_distinct = HLL): mergeable partial sketches, so the
    * shuffle carries one sketch per (group, partition) — the 100 TB
    * alternative to exact percentile's full sort.  Approximate => no SQL
    * oracle; the error bound vs exact interpolated percentiles is
    * property-tested. */
  val aggApproxPercentile: GraftQuery =
    GraftQuery.noOracle("q_agg_approx_percentile") { (spark, sfDir) =>
      lineitem(spark, sfDir).groupBy("l_returnflag").agg(
        approx_percentile(col("l_extendedprice"), lit(0.5), lit(1000)).as("p50_approx"),
        approx_percentile(col("l_extendedprice"), lit(0.9), lit(1000)).as("p90_approx"))
    }

  private def registerViews(spark: org.apache.spark.sql.SparkSession, sfDir: String): Unit =
    Seq("customer", "orders", "lineitem")
      .foreach(t => table(spark, sfDir, t).createOrReplaceTempView(t))

  /** TPC-H Q6 (forecasting revenue change): the pure scan-filter-aggregate
    * hot path — every predicate must reach the parquet scan as a pushed
    * filter.  One SQL text runs on both engines. */
  val sqlTpchQ6: GraftQuery = {
    val sql =
      s"""SELECT ${graft.fns.Exact.exactSumSql("l_extendedprice * l_discount", 4)} AS revenue,
         |       count(*) AS n
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
         |  AND l_shipdate < TIMESTAMP '1996-01-01'
         |  AND l_discount BETWEEN 0.05 AND 0.07
         |  AND l_quantity < 24""".stripMargin
    GraftQuery("q_sql_tpch_q6", sql) { (spark, sfDir) =>
      registerViews(spark, sfDir)
      spark.sql(sql)
    }
  }

  /** TPC-H Q18 (large-volume customers): aggregate-HAVING subquery feeding
    * a join — the group-filter-join shape with an exact integer HAVING
    * threshold. */
  val sqlTpchQ18: GraftQuery = {
    val sumQty = graft.fns.Exact.exactSumSql("l_quantity", 2)
    val sql =
      s"""WITH big AS (SELECT l_orderkey, $sumQty AS sum_qty
         |             FROM lineitem GROUP BY l_orderkey
         |             HAVING $sumQty > 200)
         |SELECT c_custkey, c_name, o_orderkey,
         |       CAST(o_orderdate AS DATE) AS odate, sum_qty
         |FROM big
         |JOIN orders   ON o_orderkey = l_orderkey
         |JOIN customer ON c_custkey = o_custkey""".stripMargin
    GraftQuery("q_sql_tpch_q18", sql) { (spark, sfDir) =>
      registerViews(spark, sfDir)
      spark.sql(sql)
    }
  }

  /** Conditional-expression family: searched + simple CASE, nullif/coalesce,
    * greatest/least — values pass through untouched, so doubles stay
    * bit-identical. */
  val scalarConditional: GraftQuery = GraftQuery("q_scalar_conditional",
    """SELECT o_orderkey,
      |  CASE WHEN o_totalprice > 200000 THEN 'big'
      |       WHEN o_totalprice > 100000 THEN 'mid'
      |       ELSE 'small' END AS size_band,
      |  coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_adj,
      |  greatest(o_totalprice, 150000.0) AS hi_clamp,
      |  least(o_totalprice, 150000.0) AS lo_clamp,
      |  CAST(CASE o_orderstatus WHEN 'F' THEN 1 ELSE 0 END AS BIGINT) AS is_f
      |FROM orders""".stripMargin) { (spark, sfDir) =>
    orders(spark, sfDir).select(
      col("o_orderkey"),
      when(col("o_totalprice") > 200000, "big")
        .when(col("o_totalprice") > 100000, "mid")
        .otherwise("small").as("size_band"),
      coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status_adj"),
      greatest(col("o_totalprice"), lit(150000.0)).as("hi_clamp"),
      least(col("o_totalprice"), lit(150000.0)).as("lo_clamp"),
      when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("is_f"))
  }

  /** Deterministic per-group mode: the built-in `mode()` breaks frequency
    * ties arbitrarily in both engines, so compute it as count + rank with a
    * total order (count DESC, value ASC) — reproducible on any cluster
    * layout and in the oracle. */
  val aggMode: GraftQuery = GraftQuery("q_agg_mode",
    """WITH c AS (SELECT l_returnflag, l_linenumber, count(*) AS n
      |           FROM lineitem GROUP BY 1, 2)
      |SELECT l_returnflag, CAST(l_linenumber AS BIGINT) AS mode_ln, n AS mode_count
      |FROM c QUALIFY row_number() OVER (PARTITION BY l_returnflag
      |                                  ORDER BY n DESC, l_linenumber) = 1""".stripMargin) { (spark, sfDir) =>
    val c = lineitem(spark, sfDir)
      .groupBy("l_returnflag", "l_linenumber").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("n").desc, col("l_linenumber"))
    c.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_linenumber").cast(LongType).as("mode_ln"),
        col("n").as("mode_count"))
  }

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): null keys
    * MATCH each other instead of vanishing — the semantics plain equality
    * joins silently drop.  Null group keys are labeled for the comparator. */
  val joinNullSafe: GraftQuery = GraftQuery("q_join_null_safe",
    """WITH a AS (SELECT o_orderkey, nullif(o_orderstatus, 'O') AS k FROM orders),
      |     b AS (SELECT DISTINCT k AS kb FROM a)
      |SELECT coalesce(k, 'NULLGRP') AS grp, count(*) AS n
      |FROM a JOIN b ON k IS NOT DISTINCT FROM kb
      |GROUP BY coalesce(k, 'NULLGRP')""".stripMargin) { (spark, sfDir) =>
    val a = orders(spark, sfDir)
      .select(col("o_orderkey"), nullif(col("o_orderstatus"), lit("O")).as("k"))
    val b = a.select(col("k").as("kb")).distinct()
    a.join(b, col("k") <=> col("kb"))
      .groupBy(coalesce(col("k"), lit("NULLGRP")).as("grp"))
      .agg(count(lit(1)).as("n"))
  }

  /** Upsert / latest-wins merge (the MERGE INTO shape without a table
    * format): base rows unioned with an update set under a version tag,
    * one window pass keeps the newest row per key.  One shuffle on the
    * key; at 100 TB this is the standard pre-Delta compaction merge. */
  val upsertMerge: GraftQuery = GraftQuery("q_upsert_merge",
    """WITH base AS (SELECT o_orderkey, o_totalprice, 0 AS v FROM orders),
      |     upd AS (SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice, 1 AS v
      |             FROM orders WHERE o_orderkey % 10 = 0),
      |     u AS (SELECT * FROM base UNION ALL SELECT * FROM upd)
      |SELECT o_orderkey, o_totalprice, CAST(v AS BIGINT) AS v FROM u
      |QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY v DESC) = 1""".stripMargin) { (spark, sfDir) =>
    val base = orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"), lit(0L).as("v"))
    val upd = orders(spark, sfDir)
      .filter(pmod(col("o_orderkey"), lit(10L)) === 0)
      .select(col("o_orderkey"), (col("o_totalprice") * 1.1).as("o_totalprice"),
        lit(1L).as("v"))
    val w = Window.partitionBy(col("o_orderkey")).orderBy(col("v").desc)
    base.unionByName(upd)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("o_orderkey", "o_totalprice", "v")
  }

  val all: Seq[GraftQuery] =
    Seq(windowSessionId, aggHistogram, joinBandRule, aggApproxPercentile,
      sqlTpchQ6, sqlTpchQ18, scalarConditional, aggMode, joinNullSafe,
      upsertMerge)
}
