package graft.graph

import graft.GraftQuery
import graft.io.Tables
import graft.joins.NonEquiJoins
import org.apache.spark.sql.functions._

/** Graph analytics over relations — PageRank and triangle counting, the two
  * canonical "many rounds of self-join" distributed-graph operators.
  *
  * Both are expressed as plain DataFrame joins/aggregations so Catalyst
  * plans every round (shuffle on the edge key, partial aggregation
  * map-side), and both are *all-integer* end to end so the DuckDB oracle
  * hash-matches bit for bit: PageRank ranks are fixed-point longs with
  * floor division at every step (no float sum anywhere), triangle counting
  * is pure counting over an integer-cents band graph.
  *
  * Scale posture — BOTH iterative operators are size-thresholded hybrids
  * (the DedupCluster.connectedComponents pattern), so no step broadcasts
  * an O(|V|)/O(|E|) table once the graph outgrows the threshold:
  *  - PageRank ([[pageRankRanks]]): below MaxBroadcastNodes the per-round
  *    rank join broadcasts (map-side, edges never move); above it edges
  *    co-partition on `src` once (checkpoint pins the partitioning) and
  *    each round shuffles only the O(|V|) rank rows into a SHUFFLE_HASH
  *    join — the same structure Pregel/GraphX use.
  *  - Triangle counting orients edges (u < v), which bounds the wedge join
  *    by the *oriented* out-degree; candidate wedges close against the
  *    edge set via [[closeWedges]] — broadcast below MaxBroadcastEdges,
  *    shuffled hash join on (a, c) above (linear in wedges either way).
  *    The edge set itself comes from the bucketed band join
  *    (graft.joins.NonEquiJoins.bandJoin, exact long buckets), never a cross product.
  */
object Graphs {

  private val Scale = 1000000000000L // fixed-point 1e12 rank units
  private val Rounds = 5

  /** Above this many vertices the per-round rank join stops broadcasting:
    * a 2M-node rank table is ~32 MB serialized per round per executor —
    * past that the loop switches to co-partitioned shuffle joins where the
    * edge table never moves and only the O(|V|) rank rows shuffle. */
  private[graft] val MaxBroadcastNodes = 2000000L

  /** `rounds` of damped PageRank (d = 0.85) as a SIZE-THRESHOLDED hybrid
    * (same shape as DedupCluster.connectedComponents' driver/distributed
    * split):
    *
    *  - |V| <= maxBroadcastNodes: degrees and per-round ranks broadcast
    *    onto the edge scan — each round is one map-side join + partial
    *    agg; the edge table never shuffles.
    *  - |V| >  maxBroadcastNodes (the 100 TB graph): edges are hash-
    *    partitioned on `src` ONCE and checkpointed — the checkpoint pins
    *    the partitioning, so every round's rank join reuses it and only
    *    the O(|V|) rank table moves.  The SHUFFLE_HASH hint on the rank
    *    side outranks broadcast selection (Catalyst tries the broadcast
    *    HINT first, then shuffle-hash hint, and only falls back to
    *    size-based broadcast when nothing is hinted), so no
    *    BroadcastExchange appears anywhere in the loop at any size
    *    estimate — asserted by GraphsSpec and exercised at 100M+ edges by
    *    graft.GraphStress.
    *
    * Both paths run identical integer arithmetic and return identical
    * ranks (GraphsSpec proves equality on the judged graph).
    * Input: directed `edges(src, dst)`.  Output: `(node, r)` fixed-point
    * ranks after `rounds` iterations. */
  private[graft] def pageRankRanks(edges: org.apache.spark.sql.DataFrame,
      rounds: Int = Rounds,
      maxBroadcastNodes: Long = MaxBroadcastNodes): org.apache.spark.sql.DataFrame = {
    // Degrees are O(|V|): checkpoint them so n is a cheap count and the
    // loop below re-reads materialized rows, not the edge aggregation.
    val deg = edges.groupBy("src").agg(count(lit(1)).as("d")).localCheckpoint()
    val n = deg.count()
    val teleport = (Scale * 15L / 100L) / n // 0.15/n in rank units
    val useBroadcast = n <= maxBroadcastNodes
    val ed =
      if (useBroadcast) edges.join(broadcast(deg), "src")
      else
        // Co-partition edges with degrees on src (deg is already hash-
        // partitioned on src by its groupBy, so only edges shuffle — once);
        // the checkpoint preserves the output partitioning for every round.
        edges.repartition(col("src"))
          .join(deg.hint("shuffle_hash"), "src")
          .localCheckpoint()

    var r = deg.select(col("src").as("node"), lit(Scale / n).as("r"))
    for (_ <- 1 to rounds) {
      // No checkpoint between rounds: round k's ranks exist only inside
      // round k+1's join, which executes once, so the whole chain is one
      // linear execution (`rounds` scans of ed).
      val rSide = if (useBroadcast) broadcast(r) else r.hint("shuffle_hash")
      r = ed.join(rSide, col("src") === col("node"))
        .groupBy("dst")
        .agg(sum(expr("r div d")).as("inflow"))
        .select(col("dst").as("node"),
          (lit(teleport) + expr("(85 * inflow) div 100")).as("r"))
    }
    r
  }

  /** 5 rounds of damped PageRank (d = 0.85) over the symmetric
    * supplier<->part bipartite graph from lineitem. All arithmetic is long
    * floor division on positive values, so Spark `div` == DuckDB `//` ==
    * exact, and the final ranks hash-match the chained-CTE oracle. */
  val pagerank: GraftQuery = GraftQuery("q_graph_pagerank", pagerankSql) {
    (spark, sfDir) =>
      // Materialize the distinct bipartite pairs once (the only full-data
      // shuffle); edges/degrees/rounds all derive from this checkpoint.
      val bi = Tables.lineitem(spark, sfDir)
        .select(col("l_suppkey").cast("long").as("s"),
          (lit(1000000000L) + col("l_partkey")).as("p"))
        .distinct().localCheckpoint()
      val edges = bi.select(col("s").as("src"), col("p").as("dst"))
        .unionByName(bi.select(col("p").as("src"), col("s").as("dst")))
      pageRankRanks(edges, Rounds)
        .orderBy(desc("r"), asc("node")).limit(20)
        .select(col("node"), col("r").as("rank_scaled"))
  }

  private lazy val pagerankSql: String = {
    def iter(prev: String, i: Int): String =
      s"""it$i AS (
         |  SELECT e.dst AS node,
         |         CAST((SELECT 150000000000 // n FROM nn)
         |              + (85 * CAST(sum(r.r // d.d) AS BIGINT)) // 100 AS BIGINT) AS r
         |  FROM edges e JOIN ${prev} r ON r.node = e.src
         |               JOIN deg d ON d.src = e.src
         |  GROUP BY e.dst)""".stripMargin
    val chain = (1 to Rounds)
      .map(i => iter(if (i == 1) "r0" else s"it${i - 1}", i)).mkString(",\n")
    s"""WITH bi AS (SELECT DISTINCT l_suppkey AS s, 1000000000 + l_partkey AS p FROM lineitem),
       |edges AS (SELECT s AS src, p AS dst FROM bi UNION ALL SELECT p AS src, s AS dst FROM bi),
       |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
       |nn AS (SELECT count(*) AS n FROM deg),
       |r0 AS (SELECT src AS node, CAST((SELECT 1000000000000 // n FROM nn) AS BIGINT) AS r FROM deg),
       |$chain
       |SELECT node, r AS rank_scaled FROM it$Rounds
       |ORDER BY rank_scaled DESC, node LIMIT 20""".stripMargin
  }

  private val TriEps = 2000L // band width in acctbal cents ($20)

  /** Above this many oriented edges the wedge-closing join stops
    * broadcasting the edge set and shuffles instead. */
  private[graft] val MaxBroadcastEdges = 2000000L

  /** Close wedges (a->b->c) of the oriented edge set `e(u, v)` against the
    * edges themselves, yielding one row per triangle keyed at its lowest
    * vertex `a` — as a size-thresholded hybrid:
    *
    *  - |E| <= maxBroadcastEdges: the closer side broadcasts, so the wedge
    *    stream (the biggest intermediate, sum of in*out degree products) is
    *    produced and consumed map-side without ever shuffling.
    *  - |E| >  maxBroadcastEdges (the 100 TB graph): the wedge stream
    *    shuffles on (a, c) into a SHUFFLE_HASH join against the edge set —
    *    still linear in wedges, one partition-local probe per wedge, and
    *    no BroadcastExchange at any size estimate (the hint outranks
    *    size-based broadcast selection).  Asserted by GraphsSpec and
    *    exercised at 100M+ edges by graft.GraphStress.
    *
    * `e` must be materialized (checkpointed) by the caller — it is scanned
    * by both wedge sides, the closer, and the size probe.  The probe is a
    * limit-count, so it scans only until the threshold is exceeded. */
  private[graft] def closeWedges(e: org.apache.spark.sql.DataFrame,
      maxBroadcastEdges: Long = MaxBroadcastEdges): org.apache.spark.sql.DataFrame = {
    val out = e.select(col("u").as("a"), col("v").as("b"))
    val in = e.select(col("u").as("b"), col("v").as("c"))
    val closer = e.select(col("u").as("a"), col("v").as("c"))
    // probe size clamped so thresholds above Int.MaxValue cannot wrap the
    // limit negative (they just degrade to an Int.MaxValue-row probe)
    val probeRows = (math.min(maxBroadcastEdges, Int.MaxValue - 1L).max(-1L) + 1L).toInt
    val small = e.limit(probeRows).count() <= maxBroadcastEdges
    if (small) out.join(in, "b").join(broadcast(closer), Seq("a", "c"))
    else
      // Both wedge sides are O(|E|) too — the wedge-building join must
      // also shuffle (hash-partition both sides on b), not broadcast.
      out.join(in.hint("shuffle_hash"), "b")
        .join(closer.hint("shuffle_hash"), Seq("a", "c"))
  }

  /** Triangle count per nation over the customer similarity graph: an edge
    * joins two customers whose account balances differ by <= $20 (exact
    * integer cents through the bucketed band join). Edges are oriented
    * low-key -> high-key, wedges (a->b->c) close against the edge set with
    * an equi join, and each triangle is counted once at its lowest vertex.
    */
  val triangles: GraftQuery = GraftQuery("q_graph_triangles",
    s"""WITH c AS (SELECT c_custkey k, CAST(round(c_acctbal*100, 0) AS BIGINT) v, c_nationkey nk
       |           FROM customer),
       |e AS (SELECT a.k u, b.k v FROM c a JOIN c b
       |      ON a.k < b.k AND b.v BETWEEN a.v - $TriEps AND a.v + $TriEps),
       |t AS (SELECT e1.u a FROM e e1
       |      JOIN e e2 ON e2.u = e1.v
       |      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
       |SELECT n.n_name, count(*) AS n_triangles
       |FROM t JOIN c ON c.k = t.a JOIN nation n ON n.n_nationkey = c.nk
       |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin) { (spark, sfDir) =>
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("k"),
        round(col("c_acctbal") * 100).cast("long").as("v"),
        col("c_nationkey").as("nk"))
    val a = cust.select(col("k").as("u"), col("v").as("uv"))
    val b = cust.select(col("k").as("w"), col("v").as("wv"))
    // Oriented edge set, built once and reused by both sides of the wedge
    // join and by the closing semi join (three scans of one checkpoint).
    val e = NonEquiJoins.bandJoin(a, b, "uv", "wv", TriEps.toDouble)
      .filter(col("u") < col("w"))
      .select(col("u"), col("w").as("v"))
      .localCheckpoint()
    // Wedge closure is the hybrid: broadcast closer below the edge-count
    // threshold (map-side, wedge stream never shuffles), shuffled hash join
    // on (a, c) above it — see closeWedges.
    val tri = closeWedges(e)
    tri.join(cust, tri("a") === cust("k"))
      .join(Tables.nation(spark, sfDir), col("nk") === col("n_nationkey"))
      .groupBy("n_name").agg(count(lit(1)).as("n_triangles"))
      .orderBy("n_name")
  }

  private val CcEps = 200L // band width in acctbal cents ($2)

  /** Connected components of the customer acctbal band graph through the
    * SIZE-THRESHOLDED hybrid the dedup-cluster path uses: below the edge
    * threshold a driver union-find collapses the graph in one collect
    * (the bench-SF shape — the O(log n) large-star/small-star rounds'
    * per-round fixed cost dominates a small graph, measured 3.3 s of
    * mostly round overhead at sf0.1); above it the distributed
    * large-star/small-star path runs exactly as before (the 100 TB
    * shape; LlmSpec pins the two paths label-identical, and GraphsSpec
    * pins this query's output).  Labels = component-minimum custkey.
    * The judged output is one row per component (label, size).
    *
    * The oracle exploits that a band graph on a line is an interval graph:
    * components are exactly the maximal runs of sorted distinct values
    * with consecutive gaps <= eps (gaps-and-islands, no recursion) — so
    * the generic distributed algorithm is checked against an analytically
    * independent formulation, not a re-implementation of itself.
    * Isolated nodes (no edge) appear in neither. */
  val components: GraftQuery = GraftQuery("q_graph_components",
    s"""WITH c AS (SELECT c_custkey AS k, CAST(round(c_acctbal * 100, 0) AS BIGINT) AS v
       |           FROM customer),
       |vals AS (SELECT DISTINCT v FROM c),
       |m AS (SELECT v, CASE WHEN v - lag(v) OVER (ORDER BY v) <= $CcEps
       |                     THEN 0 ELSE 1 END AS brk FROM vals),
       |isl AS (SELECT v, sum(brk) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS island
       |        FROM m),
       |n AS (SELECT c.k, isl.island FROM c JOIN isl ON c.v = isl.v)
       |SELECT CAST(min(k) AS BIGINT) AS component, CAST(count(*) AS BIGINT) AS csize
       |FROM n GROUP BY island HAVING count(*) >= 2""".stripMargin) { (spark, sfDir) =>
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey").cast("long").as("k"),
        round(col("c_acctbal") * 100).cast("long").as("v"))
    val a = cust.select(col("k").as("u"), col("v").as("uv"))
    val b = cust.select(col("k").as("w"), col("v").as("wv"))
    val edges = NonEquiJoins.bandJoin(a, b, "uv", "wv", CcEps.toDouble)
      .filter(col("u") < col("w"))
      .select(col("u").as("ia"), col("w").as("ib"))
      .localCheckpoint()
    graft.llm.DedupCluster.connectedComponents(edges)
      .groupBy("comp")
      .agg(count(lit(1)).as("csize"))
      .select(col("comp").as("component"), col("csize"))
  }

  val all: Seq[GraftQuery] = Seq(pagerank, triangles, components)
}
