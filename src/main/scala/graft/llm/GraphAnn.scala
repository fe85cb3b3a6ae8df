package graft.llm

import graft.GraftQuery
import graft.fns.VecExpressions.vecDot
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Graph-based ANN — the one major public ANN family the engine lacked
  * (HNSW/NSW/NN-descent lineage: Malkov & Yashunin 2016, Dong et al.
  * WWW'11).  A faithful single-node HNSW is a pointer-chasing structure
  * Spark cannot host; the DISTRIBUTED re-expression keeps the two ideas
  * that matter and drops the rest:
  *
  *  - **Index = a bounded-degree k-NN graph** refined by NN-DESCENT: seed
  *    candidate edges from the sign-block join (the same blocking as
  *    `q_llm_knn_join`), then iterate "my neighbors' neighbors are
  *    candidate neighbors" — one equi self-join of the edge list per
  *    round, re-ranked to the best m per node.  Every round is
  *    join + window, shuffle-parallel, no pointer chasing; candidate
  *    volume is O(n·m²) per round by construction.
  *  - **Search = beam walk over the graph**: start every query at fixed
  *    entry points (the lowest vec_ids — the HNSW entry-point analog),
  *    expand the frontier's adjacency one hop at a time (equi join on the
  *    node id), keep the best `beam` visited per query, stop after
  *    `hops`.  Each hop touches beam·m candidate rows per query — the
  *    scan never sees the whole corpus, which is the family's point.
  *
  * Approximate by construction (recall < 1 is possible) ⇒ no SQL oracle,
  * per the same carve-out as IVF/LSH/PQ; GraphAnnSpec pins recall against
  * the exact brute top-k, degree bounds, determinism, and that NN-descent
  * rounds only improve the graph.  BASELINE.md ("Round-11: graph ANN")
  * records the build and the sublinear search at deployment scale,
  * measured by the former GraphAnnStress driver (see git history).
  *
  * 100 TB posture: the adjacency is a staged artifact (built once,
  * republished like the IVF/PQ indexes); build rounds are bounded-degree
  * self-joins; search cost is hops·beam·m lookups per query against a
  * hash-partitioned edge table — independent of corpus size once the
  * graph exists.
  */
object GraphAnn {

  private val BITS = 4
  private val M = 8       // graph degree bound
  private val Rounds = 2  // NN-descent refinement rounds
  private val TargetSeed = 48L // expected seed candidates per node per table
  private val EntryK = 8
  private val Beam = 8
  private val Hops = 5

  private def simCol(spark: SparkSession) =
    vecDot(spark, col("qa"), col("qb")).cast(DoubleType) /
      (sqrt(col("na")) * sqrt(col("nb")))

  /** 0-based rank of `ids` (a vec_id frame) in hash-random order, computed
    * DISTRIBUTED via [[graft.fns.TotalOrder.globalRank]] (range-partitioned
    * sort + exact per-partition offsets).  The previous shape — a
    * partitionless `Window.orderBy(...)` row_number — planned an
    * `Exchange SinglePartition`: a one-task sort of the full id set, which
    * at 10⁹ vectors is exactly the bottleneck class TotalOrder was built
    * to remove from pack/select_budget/SNM.  Rank values are identical
    * (total order by (xxhash64(id), id)); GraphAnnSpec pins the plan. */
  private[graft] def hashOrderRank(spark: SparkSession, ids: DataFrame): DataFrame =
    graft.fns.TotalOrder.globalRank(ids,
        graft.fns.TotalOrder.defaultParts(spark),
        xxhash64(col("vec_id")), col("vec_id"))
      .withColumn("rn", col("rn") - 1)

  /** Score candidate (src, dst) pairs against `base` and keep the best
    * `m` per src (ties to the lower dst id). */
  private def topMEdges(spark: SparkSession, cand: DataFrame, base: DataFrame,
      m: Int): DataFrame = {
    val a = base.select(col("vec_id").as("src"), col("qv").as("qa"), col("nrm").as("na"))
    val b = base.select(col("vec_id").as("dst2"), col("qv").as("qb"), col("nrm").as("nb"))
    val w = Window.partitionBy(col("src")).orderBy(col("sim").desc, col("dst"))
    cand.distinct()
      .join(a, "src")
      .join(b, col("dst") === col("dst2"))
      .withColumn("sim", simCol(spark))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= m)
      .select("src", "dst", "sim")
  }

  /** Bounded-degree navigable graph: sign-block seed + NN-descent rounds
    * for the SIMILARITY links (≤ m per node), plus 2 STRUCTURAL
    * small-world links per node — a cycle through the hash-random node
    * order and a half-way skip.  The similarity links alone fragment into
    * per-cluster cliques (measured recall 0.22 at judged scale: global
    * entry points could not escape their own cluster); the backbone is
    * what NSW gets from random insertion order and HNSW from its upper
    * layers — guaranteed connectivity plus O(log n)-ish reach, at +2
    * degree.  Staged per (tag, m, rounds) — the republishable artifact.
    * The backbone's hash-order rank is DISTRIBUTED ([[hashOrderRank]] —
    * range-partitioned, no single-task sort anywhere in the build). */
  private[graft] def knnGraphOn(spark: SparkSession, tag: String, base: DataFrame,
      blocked: DataFrame, m: Int = M, rounds: Int = Rounds): DataFrame =
    graft.io.Staged(spark, s"graphann|$tag|$m|$rounds") {
      // Occupancy-capped seed: a sign block cannot subdivide a tight
      // cluster (every member shares the signs), so block occupancy — and
      // with it the seed join — goes quadratic exactly on clustered data
      // (measured: the 100 k stress corpus put ~n/32 members per block
      // and the seed exploded to ~1.2 B pairs).  A per-pair hash coin at
      // rate TargetSeed/occupancy bounds expected seed degree per table;
      // blocks already at or under the target keep EVERY pair (the coin's
      // threshold ≥ its modulus), so judged-scale results are unchanged.
      val occ = blocked.groupBy("tb", "blk").agg(count(lit(1)).as("occ"))
      val bl = blocked.join(broadcast(occ), Seq("tb", "blk"))
      val seedCand = bl.select(col("vec_id").as("src"), col("tb"), col("blk"), col("occ"))
        .join(bl.select(col("vec_id").as("dst"), col("tb").as("tb2"),
          col("blk").as("blk2")),
          col("tb") === col("tb2") && col("blk") === col("blk2") &&
            col("src") =!= col("dst"))
        .filter(pmod(xxhash64(col("src") * 1000003L + col("dst")), lit(1000000L)) <
          lit(1000000L) * TargetSeed / col("occ"))
        .select("src", "dst")
      var adj = topMEdges(spark, seedCand, base, m).localCheckpoint(true)
      for (_ <- 1 to rounds) {
        // candidate neighbors = current edges (both directions) plus
        // neighbors-of-neighbors through the undirected edge set
        val und = adj.select("src", "dst")
          .unionByName(adj.select(col("dst").as("src"), col("src").as("dst")))
          .distinct().localCheckpoint(true)
        val non = und.select(col("src"), col("dst").as("mid"))
          .join(und.select(col("src").as("mid"), col("dst")), "mid")
          .filter(col("src") =!= col("dst"))
          .select("src", "dst")
        adj = topMEdges(spark, und.unionByName(non), base, m).localCheckpoint(true)
      }
      val n = base.count()
      val ranked = hashOrderRank(spark, base.select(col("vec_id")))
        .localCheckpoint(true)
      def skipLinks(step: Long): DataFrame =
        ranked.select(col("vec_id").as("src"), col("rn"))
          .join(ranked.select(col("vec_id").as("dst"), col("rn").as("rn2")),
            col("rn2") === pmod(col("rn") + step, lit(n)))
          .filter(col("src") =!= col("dst"))
          .select("src", "dst")
      val backbone = skipLinks(1L).unionByName(skipLinks(n / 2 + 1))
      val a = base.select(col("vec_id").as("src"), col("qv").as("qa"), col("nrm").as("na"))
      val b = base.select(col("vec_id").as("dst2"), col("qv").as("qb"), col("nrm").as("nb"))
      val scoredBackbone = backbone.join(a, "src")
        .join(b, col("dst") === col("dst2"))
        .withColumn("sim", simCol(spark))
        .select("src", "dst", "sim")
      adj.unionByName(scoredBackbone).dropDuplicates("src", "dst")
    }

  /** Beam search over a staged adjacency: per query, greedy frontier
    * expansion from fixed entry points; returns top-k of all visited.
    * The family's query convention (vec_id < 10). */
  private[graft] def searchGraphOn(spark: SparkSession, base: DataFrame,
      adj: DataFrame, beam: Int = Beam): DataFrame =
    searchOn(spark, base,
      base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("qv").as("qa"), col("nrm").as("na")),
      adj, beam = beam)

  /** Beam search for an ARBITRARY query frame (qid, qa, na) — also the
    * append path's neighbor finder (each new node queries the frozen
    * graph).  `base` supplies node vectors and entry points; queries need
    * not be graph members.  `entryPool` (a vec_id frame) restricts entry
    * points to a subset of `base` — the append path passes the frozen
    * adjacency's OWN nodes, because an entry point absent from the
    * adjacency is a dead beam slot (nothing to expand) that quietly
    * weakens the searched neighbor set. */
  private[graft] def searchOn(spark: SparkSession, base: DataFrame,
      queries: DataFrame, adj: DataFrame, k: Int = 5, beam: Int = Beam,
      entryPool: Option[DataFrame] = None): DataFrame = {
    // hash-spread entry points (not the lowest ids — those can all fall
    // in one cluster and strand the walk)
    val entryBase = entryPool
      .map(p => base.join(p.select("vec_id").distinct(), "vec_id"))
      .getOrElse(base)
    val entries = entryBase.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(EntryK)
      .select(col("vec_id").as("node"))
    def score(cand: DataFrame): DataFrame = {
      val b = base.select(col("vec_id").as("node2"), col("qv").as("qb"),
        col("nrm").as("nb"))
      cand.join(queries, "qid")
        .join(b, col("node") === col("node2"))
        .withColumn("sim", simCol(spark))
        .select("qid", "node", "sim")
    }
    // navigation uses the UNDIRECTED edge set: a directed top-m graph is
    // navigable backwards too (HNSW keeps reverse links for the same
    // reason); without them recall at judged scale measured 0.26
    val und = adj.select(col("src").as("node"), col("dst"))
      .unionByName(adj.select(col("dst").as("node"), col("src").as("dst")))
      .distinct().localCheckpoint(true)
    var visited = score(queries.select("qid").crossJoin(broadcast(entries)))
      .localCheckpoint(true)
    var expanded = visited.select(col("qid"), col("node")).limit(0)
      .localCheckpoint(true)
    val wBeam = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("node"))
    for (_ <- 1 to Hops) {
      // best-first with an EXPANDED set (the HNSW ef-search discipline):
      // each hop expands the best `beam` visited-but-unexpanded nodes.
      // Without the expanded tracking, already-expanded nodes permanently
      // occupy the beam once they outrank everything newly found and the
      // walk stalls hops early (measured: a query landing near the entry
      // cluster stopped improving after hop 2).
      val frontier = visited
        .join(expanded, Seq("qid", "node"), "left_anti")
        .withColumn("rn", row_number().over(wBeam)).filter(col("rn") <= beam)
        .select(col("qid"), col("node"))
        .localCheckpoint(true)
      val expand = frontier
        .join(und, "node")
        .select(col("qid"), col("dst").as("node"))
        .join(visited.select(col("qid"), col("node")), Seq("qid", "node"), "left_anti")
        .distinct()
      expanded = expanded.unionByName(frontier).localCheckpoint(true)
      visited = visited.unionByName(score(expand)).localCheckpoint(true)
    }
    visited.filter(col("qid") =!= col("node"))
      .withColumn("rn", row_number().over(wBeam).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("node").as("nid"), col("rn"), col("sim"))
  }

  /** Judged graph-ANN query: NN-descent graph + beam search, top-5 for
    * the family's query convention (vec_id < 10).  Approximate ⇒
    * no-oracle; recall/degree/determinism spec'd in GraphAnnSpec. */
  /** Multi-table sign blocking for the seed: T disjoint 4-dim sign
    * buckets (an LSH-table union).  A SINGLE blocking measurably starves
    * the graph — true neighbors differing in those 4 sign bits are never
    * candidates and NN-descent cannot invent connectivity the seed never
    * had (measured: true top-5 absent even from the 2-hop neighborhood). */
  private[graft] def multiBlocked(spark: SparkSession, sfDir: String,
      tables: Int = 4): DataFrame = {
    val emb = graft.io.Tables.embeddings(spark, sfDir)
    (0 until tables).map { t =>
      val blkT = (0 until BITS)
        .map(d => when(element_at(col("embedding"), t * BITS + d + 1) >= 0,
          lit(1L << d)).otherwise(lit(0L)))
        .reduce(_ + _)
      emb.select(col("vec_id"), lit(t).as("tb"), blkT.as("blk"))
    }.reduce(_ unionByName _)
  }

  /** Day-2 graph accretion — the graph-ANN member of the engine's
    * incremental-index family (pqAppendOn / lshPostingsAppendOn /
    * ivfPqAppendOn / DedupIncr.compactIndex): day-1 edges are FROZEN
    * byte-identical; each batch node finds its neighbors by beam-searching
    * the frozen graph (hops·beam·degree lookups — batch-linear, never a
    * rebuild), gets a hash-order cycle through the batch for
    * connectivity, and one NN-descent-style re-rank over its candidate
    * pool bounds its degree to m.  Day-1 nodes keep their out-edges
    * unchanged; batch nodes are reachable through UNDIRECTED navigation
    * of their own out-edges (the search walks both directions by
    * design). */
  private[graft] def graphAppendOn(spark: SparkSession, newTag: String,
      baseFull: DataFrame, adj1: DataFrame, batch: DataFrame,
      m: Int = M): DataFrame =
    // "2" is a builder-semantics version token: round 12 changed the
    // output (entry points restricted to adj1 nodes) without changing the
    // tag, so a persistent staging root would have served the OLD
    // artifact and silently masked the fix.  Bump it whenever this
    // builder's semantics change.
    graft.io.Staged(spark, s"graphannIncr2|$newTag|$m") {
      val batchQ = batch.select(col("vec_id").as("qid"), col("qv").as("qa"),
        col("nrm").as("na"))
      // entry points from the ADJACENCY's own nodes, not baseFull: batch
      // nodes are in baseFull but absent from the frozen day-1 graph, and
      // a batch-node entry point cannot expand (no out-edges) — a dead
      // beam slot that quietly weakens every appended node's neighbors
      val found = searchOn(spark, baseFull, batchQ, adj1, k = m,
          entryPool = Some(adj1.select(col("src").as("vec_id"))))
        .select(col("qid").as("src"), col("nid").as("dst"))
      // batch-internal hash cycle: same-day near-duplicates may be each
      // other's true neighbors, and the cycle guarantees the batch joins
      // the connected component even if every search went far afield
      val nB = batch.count()
      val ranked = hashOrderRank(spark, batch.select(col("vec_id")))
      val cycle = ranked.select(col("vec_id").as("src"), col("rn"))
        .join(ranked.select(col("vec_id").as("dst"), col("rn").as("rn2")),
          col("rn2") === pmod(col("rn") + 1, lit(nB)))
        .filter(col("src") =!= col("dst"))
        .select("src", "dst")
      // one bounded refinement: candidates = searched + cycle + their
      // neighbors-of-neighbors through the combined undirected edges
      val startEdges = found.unionByName(cycle)
      val und = adj1.select("src", "dst").unionByName(startEdges)
        .unionByName(adj1.select(col("dst").as("src"), col("src").as("dst")))
        .unionByName(startEdges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val batchIds = batch.select(col("vec_id").as("src"))
      val non = und.join(batchIds, "src")
        .select(col("src"), col("dst").as("mid"))
        .join(und.select(col("src").as("mid"), col("dst")), "mid")
        .filter(col("src") =!= col("dst"))
        .select("src", "dst")
      val batchAdj = topMEdges(spark,
        startEdges.unionByName(non).join(batchIds, "src"), baseFull, m)
      adj1.unionByName(batchAdj)
    }

  /** Blocking off the QUANTIZED vectors for corpora with no raw-float
    * embedding column (the ANN chooser's graph route); `bits` is the
    * occupancy knob — size it to log₂(n / target-block-occupancy) so seed
    * candidate volume stays n·occupancy, not n²/2^bits with runaway
    * blocks. */
  private[graft] def blockedOfQv(df: DataFrame, bits: Int, tables: Int): DataFrame =
    (0 until tables).map { t =>
      val blkT = (0 until bits)
        .map(d => when(element_at(col("qv"), t * bits + d + 1) >= 0,
          lit(1L << d)).otherwise(lit(0L)))
        .reduce(_ + _)
      df.select(col("vec_id"), lit(t).as("tb"), blkT.as("blk"))
    }.reduce(_ unionByName _)

  val annGraph: GraftQuery = GraftQuery.noOracle("q_llm_ann_graph") { (spark, sfDir) =>
    val base = Similarity.quantized(spark, sfDir)
    val adj = knnGraphOn(spark, sfDir, base, multiBlocked(spark, sfDir))
    searchGraphOn(spark, base, adj)
  }

  val all: Seq[GraftQuery] = Seq(annGraph)
}
