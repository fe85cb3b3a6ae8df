package graft.rel

import graft.GraftQuery
import graft.io.Tables._
import graft.joins.NonEquiJoins._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-3 additions: the skew-proof quantile theta join as a judged path,
  * and the integral (epoch-micros) band auto-rewrite end to end. */
object Relational6 {

  private def installBandRule(spark: SparkSession): Unit =
    graft.plans.GraftExtensions.addRule(spark, graft.plans.BandJoinAutoRewrite)

  /** The statistics-driven inequality join (M-Bucket-I analog) as a judged
    * query: bucket boundaries come from `approxQuantile` over both inputs,
    * so the plan stays balanced no matter how skewed the value
    * distributions — the static-bounds variant (q_join_theta_ineq) would
    * degrade to one hot bucket on zipfian data.  Same results, same oracle
    * shape; only the physical bucketing differs. */
  val joinThetaIneqQuantile: GraftQuery = GraftQuery("q_join_theta_ineq_quantile",
    """SELECT s_suppkey, count(*) AS n_richer, max(c_acctbal) AS max_cbal
      |FROM supplier JOIN customer ON s_acctbal < c_acctbal
      |GROUP BY s_suppkey""".stripMargin) { (spark, sfDir) =>
    val s = supplier(spark, sfDir).select("s_suppkey", "s_acctbal")
    val c = customer(spark, sfDir).select("c_custkey", "c_acctbal")
    lessThanJoinQuantile(s, c, "s_acctbal", "c_acctbal")
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_richer"), max("c_acctbal").as("max_cbal"))
  }

  /** The band auto-rewrite on an INTEGRAL (epoch-micros) band — the common
    * real-world case (`abs(a.ts - b.ts) <= 60s`): naive syntax with a long
    * literal; BandJoinAutoRewrite compiles it to the exact floor-div
    * bucketed equi join (PlanGuardSpec proves no BNLJ), where the
    * double-only rule would have left a nested loop. */
  val joinBandRuleLong: GraftQuery = GraftQuery("q_join_band_rule_long",
    """SELECT p.event_id AS pid, c.event_id AS cid,
      |       epoch_us(p.ts) AS pts, epoch_us(c.ts) AS cts
      |FROM events p JOIN events c
      |  ON p.event_type = 'purchase' AND c.event_type = 'click'
      | AND abs(epoch_us(p.ts) - epoch_us(c.ts)) <= 60000000""".stripMargin) { (spark, sfDir) =>
    installBandRule(spark)
    val ev = eventsUs(spark, sfDir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("ts_us").as("pts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("cid"), col("ts_us").as("cts"))
    p.join(c, abs(col("pts") - col("cts")) <= 60000000L)
      .select("pid", "cid", "pts", "cts")
  }

  /** The same inequality join through the custom SORT-MERGE physical
    * operator (graft.plans.IEJoin): range-partition on quantile boundaries,
    * then a per-cell monotone pointer sweep emits each pair with zero
    * per-pair predicate evaluations — the dense-output counterpart of the
    * bucketed rewrite (identical shuffle, cheaper CPU).  Oracle is the same
    * inequality-join SQL, proving the custom operator exact. */
  val joinThetaIneqSorted: GraftQuery = GraftQuery("q_join_theta_ineq_sorted",
    """SELECT s_suppkey, count(*) AS n_richer, max(c_acctbal) AS max_cbal
      |FROM supplier JOIN customer ON s_acctbal < c_acctbal
      |GROUP BY s_suppkey""".stripMargin) { (spark, sfDir) =>
    val s = supplier(spark, sfDir).select("s_suppkey", "s_acctbal")
    val c = customer(spark, sfDir).select("c_custkey", "c_acctbal")
    graft.plans.IEJoin(s, c, "s_acctbal", "c_acctbal")
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_richer"), max("c_acctbal").as("max_cbal"))
  }

  /** Map column type end to end: construct (map), access ([key]), and
    * introspect (size / map_keys) — the typed-dictionary surface a config/
    * metadata column needs.  All map machinery runs Spark-side; the oracle
    * recomputes the extracted scalars directly, so a map encoding bug
    * breaks the hash. */
  val scalarMap: GraftQuery = GraftQuery("q_scalar_map",
    """SELECT o_orderkey, o_orderstatus AS status_via_map,
      |       CAST(2 AS INTEGER) AS msize,
      |       'status,key' AS mkeys,
      |       CAST(o_orderkey AS VARCHAR) AS key_via_map
      |FROM orders WHERE o_orderkey % 7 = 0""".stripMargin) { (spark, sfDir) =>
    val m = map(lit("status"), col("o_orderstatus"),
      lit("key"), col("o_orderkey").cast("string"))
    orders(spark, sfDir)
      .filter(pmod(col("o_orderkey"), lit(7)) === 0)
      .withColumn("m", m)
      .select(col("o_orderkey"),
        col("m")(lit("status")).as("status_via_map"),
        size(col("m")).as("msize"),
        concat_ws(",", map_keys(col("m"))).as("mkeys"),
        element_at(col("m"), lit("key")).as("key_via_map"))
  }

  /** Lateral explode WITH ordinality (posexplode) — one row per token with
    * its 0-based position, the LATERAL VIEW / UNNEST WITH ORDINALITY shape.
    * DuckDB zips parallel unnests of equal length, which is exactly
    * posexplode's contract. */
  val lateralExplode: GraftQuery = GraftQuery("q_lateral_explode",
    """WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      |              FROM documents WHERE doc_id % 20 = 0)
      |SELECT doc_id, CAST(unnest(range(0, len(t))) AS INTEGER) AS pos, unnest(t) AS tok
      |FROM toks""".stripMargin) { (spark, sfDir) =>
    documents(spark, sfDir)
      .filter(pmod(col("doc_id"), lit(20)) === 0)
      .select(col("doc_id"),
        posexplode(filter(split(col("text"), " "), w => w =!= "")).as(Seq("pos", "tok")))
  }

  /** Variable-length interval OVERLAP join on both sides — the general
    * theta case (fixed-length overlap is a band; point-in-interval is one-
    * sided).  Each event opens a window whose length depends on its user
    * ((1 + user_id % 3) × 20 min), and same-user pairs with overlapping
    * windows join.  Exactly-once bucket assignment (the overlap-start
    * bucket), no DISTINCT needed — see
    * [[graft.joins.NonEquiJoins.intervalOverlapJoinVar]]. */
  val joinIntervalVar: GraftQuery = GraftQuery("q_join_interval_var",
    """WITH w AS (SELECT user_id, event_id, epoch_us(ts) AS s,
      |                  epoch_us(ts) + (1 + user_id % 3) * 1200000000 AS e
      |           FROM events)
      |SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
      |       b.s - a.s AS start_gap_us
      |FROM w a JOIN w b
      |  ON a.user_id = b.user_id AND a.event_id < b.event_id
      | AND a.s < b.e AND b.s < a.e""".stripMargin) { (spark, sfDir) =>
    val w = eventsUs(spark, sfDir).select(col("user_id"), col("event_id"),
      col("ts_us").as("s"),
      (col("ts_us") + (lit(1) + pmod(col("user_id"), lit(3))) * 1200000000L).as("e"))
    val a = w.select(col("user_id"), col("event_id").as("id_a"),
      col("s").as("sa"), col("e").as("ea"))
    val b = w.select(col("user_id").as("uid_b"), col("event_id").as("id_b"),
      col("s").as("sb"), col("e").as("eb"))
    intervalOverlapJoinVar(a, b, "sa", "ea", "sb", "eb",
      bucketWidth = 1200000000L, extraKeys = Seq("user_id" -> "uid_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("user_id"), col("id_a"), col("id_b"),
        (col("sb") - col("sa")).as("start_gap_us"))
  }

  /** Fuzzy (edit-distance ≤ 1) self-join on customer names via
    * POSITION-KEYED deletion neighborhoods (the FastSS "Mod" variant):
    * each name is indexed under itself (pos 0) and under every
    * single-character deletion keyed by its position.  Two strings are
    * within one edit iff they share a (variant, SAME position) key — a
    * substitution — or one string equals a deletion variant of the other —
    * an indel.  Both are plain equi joins whose every match is a TRUE
    * d ≤ 1 pair by construction, so there is no per-candidate levenshtein
    * verify at all: the position restriction eliminates the false
    * candidates (share a variant from different positions => d = 2) that
    * make unkeyed FastSS verify-bound.  O(len·n) index rows vs the
    * oracle's O(n²) levenshtein scan. */
  val joinFuzzy: GraftQuery = GraftQuery("q_join_fuzzy",
    """SELECT a.c_custkey AS ka, b.c_custkey AS kb,
      |       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS d
      |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
      |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin) { (spark, sfDir) =>
    // one codegen'd kernel call per name (self + every deletion variant)
    // instead of an interpreted transform/substr/concat chain
    val e = customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"),
        explode(graft.fns.TextKernelCols.deletionVariants(spark, col("c_name"))).as("x"))
      .select(col("c_custkey"), col("c_name"),
        col("x.pos").as("pos"), col("x.key").as("key"))
      .localCheckpoint() // referenced four times below
    val va = e.filter(col("pos") >= 1)
      .select(col("c_custkey").as("ka"), col("c_name").as("na"),
        col("pos"), col("key"))
    val vb = e.filter(col("pos") >= 1)
      .select(col("c_custkey").as("kb"), col("c_name").as("nb"),
        col("pos").as("pos_b"), col("key").as("key_b"))
    // substitution (or identical): same variant at the SAME position
    val sub = va.join(vb,
        col("key") === col("key_b") && col("pos") === col("pos_b") && col("ka") < col("kb"))
      .select(col("ka"), col("kb"),
        when(col("na") === col("nb"), 0L).otherwise(1L).as("d"))
    // indel: one full name equals the other's deletion variant
    val s0 = e.filter(col("pos") === 0)
      .select(col("c_custkey").as("ks"), col("key"))
    val vv = e.filter(col("pos") >= 1)
      .select(col("c_custkey").as("kv"), col("key").as("key_v"))
    val indel = s0.join(vv, col("key") === col("key_v") && col("ks") =!= col("kv"))
      .select(least(col("ks"), col("kv")).as("ka"),
        greatest(col("ks"), col("kv")).as("kb"), lit(1L).as("d"))
    sub.unionByName(indel).distinct()
  }

  /** Fuzzy join at edit distance ≤ 2 — FastSS extended to 2-DELETION
    * neighborhoods.  Each name is indexed under every string reachable by
    * deleting ≤ 2 characters (the same codegen'd 1-deletion kernel applied
    * twice; requiring the second deletion index >= the first enumerates
    * each unordered deletion pair exactly once).  If ed(a,b) <= 2, deleting
    * the <= 2 edited characters from each side leaves a common string, so
    * every true pair shares a variant key and candidate generation is a
    * plain equi join; unlike the position-keyed d<=1 index, sharing a
    * variant is NOT sufficient at d = 2, so candidates verify with one
    * codegen'd `levenshtein` call per DISTINCT pair.
    *
    * Index size: 1 + L + L(L-1)/2 variants per name (~172 before per-row
    * hash-grouping) — O(n·L²) total, vs the oracle's O(n²·L²) full
    * levenshtein matrix.  One codegen'd kernel
    * ([[graft.fns.TextKernels.deletionVariantPos2]]) emits the whole
    * neighborhood map-only as 64-bit hashes WITH their deletion-position
    * codes — no global distinct, no checkpoint — and the bucket join's
    * residual condition is [[graft.fns.TextKernels.fastssCompat]]: a few
    * integer compares that are SOUND AND COMPLETE for ed ≤ 2 over true
    * variant equality (d1×d1 any position = delete+insert; d2×d2 same
    * position pair = ≤2 substitutions; d2×d1 aligned p ∈ {x, y−1} =
    * delete+substitute; d2×d0 = two deletions).  Unkeyed FastSS at d = 2
    * is verify-bound — at sf0.1 the bucket join matches 31.7 M candidate
    * memberships of which 55 % are false — but the position predicate
    * prunes them DURING the join at ~ns each, so the banded
    * `levenshtein(na, nb, 2)` (the collision guard and the output's d
    * value) runs only on the ~4.6 M surviving true memberships and the
    * only post-join shuffle is the final (ka, kb, d) distinct over those
    * survivors — the 31.7 M-row candidate-pair dedup of the unkeyed
    * formulation never exists. */
  val joinFuzzy2: GraftQuery = GraftQuery("q_join_fuzzy2",
    """SELECT a.c_custkey AS ka, b.c_custkey AS kb,
      |       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS d
      |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
      |WHERE levenshtein(a.c_name, b.c_name) <= 2""".stripMargin) { (spark, sfDir) =>
    graft.joins.NonEquiJoins.fuzzySelfJoin2(
      customer(spark, sfDir).select("c_custkey", "c_name"), "c_custkey", "c_name")
  }

  /** Deterministic STRATIFIED sampling: per-stratum rates (10% of BUILDING,
    * 50% of MACHINERY, 100% of FURNITURE customers) via an md5-derived hash
    * threshold — reproducible across engines and runs, unlike rng-based
    * `sample()`, and exactly the shape a training pipeline uses to rebalance
    * sources.  Map-only (no shuffle); the oracle applies the identical hash
    * arithmetic. */
  val sampleStratified: GraftQuery = GraftQuery("q_sample_stratified",
    s"""SELECT c_custkey, c_mktsegment
       |FROM customer
       |WHERE ${graft.fns.Exact.md5LongSql("CAST(c_custkey AS VARCHAR)")} % 100 <
       |  CASE c_mktsegment WHEN 'BUILDING' THEN 10 WHEN 'MACHINERY' THEN 50
       |       WHEN 'FURNITURE' THEN 100 ELSE 0 END""".stripMargin) { (spark, sfDir) =>
    val rate = when(col("c_mktsegment") === "BUILDING", 10)
      .when(col("c_mktsegment") === "MACHINERY", 50)
      .when(col("c_mktsegment") === "FURNITURE", 100)
      .otherwise(0)
    customer(spark, sfDir)
      .filter(pmod(graft.fns.Exact.md5Long(col("c_custkey").cast("string")), lit(100L)) < rate)
      .select("c_custkey", "c_mktsegment")
  }

  /** TWO-predicate theta join — both conjuncts inequalities, no equi key
    * (the full IEJoin problem shape: s_acctbal < c_acctbal AND s_nationkey
    * > c_nationkey).  Spark-first composition: the more selective
    * inequality drives the suffix-bucket equi rewrite; the second is
    * re-applied as a filter on the bucketed candidates.  Candidate count
    * is the FIRST predicate's output — already sub-matrix — and the plan
    * stays a hash equi join; a native 2D-grid operator would only pay off
    * when both predicates are individually unselective. */
  val joinTheta2pred: GraftQuery = GraftQuery("q_join_theta_2pred",
    """SELECT s_suppkey, count(*) AS n_matches, max(c_custkey) AS max_cust
      |FROM supplier JOIN customer
      |  ON s_acctbal < c_acctbal AND s_nationkey > c_nationkey
      |GROUP BY s_suppkey""".stripMargin) { (spark, sfDir) =>
    val s = supplier(spark, sfDir).select("s_suppkey", "s_acctbal", "s_nationkey")
    val c = customer(spark, sfDir).select("c_custkey", "c_acctbal", "c_nationkey")
    lessThanJoinQuantile(s, c, "s_acctbal", "c_acctbal")
      .filter(col("s_nationkey") > col("c_nationkey"))
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_matches"), max("c_custkey").as("max_cust"))
  }

  private def registerViews(spark: SparkSession, sfDir: String): Unit =
    Seq("customer", "orders", "lineitem", "part", "nation")
      .foreach(t => table(spark, sfDir, t).createOrReplaceTempView(t))

  /** TPC-H Q10 shape (returned-item revenue): 4-table join, grouped exact
    * revenue, deterministic top-20 (revenue DESC with a key tiebreak so the
    * LIMIT set is engine-independent).  One SQL text runs on both engines;
    * Catalyst broadcasts nation/customer and shuffles only lineitem. */
  val sqlTpchQ10: GraftQuery = {
    val sql =
      s"""SELECT c_custkey, c_name,
         |       ${graft.fns.Exact.exactSumSql("l_extendedprice * (1 - l_discount)", 4)} AS revenue,
         |       c_acctbal, n_name
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1996-04-01'
         |  AND l_returnflag = 'R'
         |GROUP BY c_custkey, c_name, c_acctbal, n_name
         |ORDER BY revenue DESC, c_custkey
         |LIMIT 20""".stripMargin
    GraftQuery("q_sql_tpch_q10", sql) { (spark, sfDir) =>
      registerViews(spark, sfDir)
      spark.sql(sql)
    }
  }

  /** TPC-H Q14 shape (promo revenue share): conditional aggregation ratio.
    * Both sums are scaled-integer exact; the final ratio divides the two
    * identical BIGINTs as doubles, so the percentage is bit-identical
    * across engines. */
  val sqlTpchQ14: GraftQuery = {
    val scaledRev = graft.fns.Exact.scaledSql("l_extendedprice * (1 - l_discount)", 4)
    val sql =
      s"""SELECT CAST(100 AS DOUBLE)
         |         * CAST(sum(CASE WHEN p_type = 'PROMO' THEN $scaledRev ELSE 0 END) AS DOUBLE)
         |         / CAST(sum($scaledRev) AS DOUBLE) AS promo_pct,
         |       count(*) AS n
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1997-01-01'""".stripMargin
    GraftQuery("q_sql_tpch_q14", sql) { (spark, sfDir) =>
      registerViews(spark, sfDir)
      spark.sql(sql)
    }
  }

  /** The same inequality join through the STATS-DRIVEN CHOOSER
    * (graft.joins.NonEquiJoins.lessThanJoinAuto): one sampled-stats pass
    * routes to static-bucket / quantile-bucket / IEJoin sort-merge per the
    * BASELINE.md head-to-head measurements, so a caller gets the
    * measured-best physical shape without reading the benchmarks.  Oracle
    * is the same inequality-join SQL — whichever shape the stats pick,
    * results are identical (NonEquiJoinsSpec asserts the routing itself on
    * skewed / dense / moderate inputs). */
  val joinThetaAuto: GraftQuery = GraftQuery("q_join_theta_auto",
    """SELECT s_suppkey, count(*) AS n_richer, max(c_acctbal) AS max_cbal
      |FROM supplier JOIN customer ON s_acctbal < c_acctbal
      |GROUP BY s_suppkey""".stripMargin) { (spark, sfDir) =>
    val s = supplier(spark, sfDir).select("s_suppkey", "s_acctbal")
    val c = customer(spark, sfDir).select("c_custkey", "c_acctbal")
    graft.joins.NonEquiJoins.lessThanJoinAuto(s, c, "s_acctbal", "c_acctbal")
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_richer"), max("c_acctbal").as("max_cbal"))
  }

  val all: Seq[GraftQuery] =
    Seq(joinThetaIneqQuantile, joinBandRuleLong, joinThetaIneqSorted,
      scalarMap, lateralExplode, joinIntervalVar, joinFuzzy, joinFuzzy2,
      sampleStratified,
      sqlTpchQ10, sqlTpchQ14, joinTheta2pred, joinThetaAuto)
}
