package graft.llm

import graft.GraftQuery
import graft.llm.TextOps._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dedup CLUSTERING (B10 follow-on): near-dup pairs only say "a ~ b"; to
  * pick one canonical doc per duplicate *group* you need the connected
  * components of the similarity graph (a ~ b ~ c must collapse to one
  * cluster even when a ̸~ c directly).
  *
  * Edges: 3-gram-shingle Jaccard >= 0.2 via the df-capped inverted-index
  * equi join (same machinery as q_llm_dedup_ngram, looser threshold for a
  * denser graph; the cap bounds candidate generation at DF_CAP·|postings|
  * instead of sum(df²)).  Components: a hybrid — driver union-find when the
  * edge list is small, and alternating large-star/small-star contraction
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC 2014) when it is not.  Large/small-star converges in O(log n)
  * rounds even on adversarial long-chain graphs, where plain min-label
  * propagation needs O(diameter) rounds; each round is a constant number of
  * hash-partitioned shuffles, so the 100 TB cost is O(log n) passes over
  * the edge list.
  *
  * The oracle computes the same components by transitive closure
  * (recursive CTE, min reachable id).
  */
object DedupCluster {

  private val TAU = 0.2

  val dedupCluster: GraftQuery = GraftQuery("q_llm_dedup_cluster",
    s"""WITH RECURSIVE toks AS (SELECT doc_id, $toksSql AS t FROM documents),
       |${Dedup.pairCtesSql},
       |pairs AS (SELECT ia, ib
       |          FROM p JOIN sz x ON ia = x.doc_id JOIN sz y ON ib = y.doc_id
       |          WHERE common / (x.n + y.n - common) >= $TAU),
       |edges AS (SELECT ia AS a, ib AS b FROM pairs
       |          UNION ALL SELECT ib, ia FROM pairs),
       |nodes AS (SELECT DISTINCT a AS id FROM edges),
       |reach(a, b) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a)
       |SELECT c.doc_id, c.component, s.csize
       |FROM comp c JOIN (SELECT component, count(*) AS csize
       |                  FROM comp GROUP BY 1) s
       |  ON c.component = s.component""".stripMargin) { (spark, sfDir) =>
    val pairs = Dedup.jaccardPairs(cappedShingles(spark, sfDir))
      .filter(col("jacc") >= TAU)
      .select("ia", "ib")
    val comp = connectedComponents(pairs)
    val sizes = comp.groupBy(col("comp").as("component")).agg(count(lit(1)).as("csize"))
    comp.select(col("id").as("doc_id"), col("comp").as("component"))
      .join(sizes, "component")
      .select("doc_id", "component", "csize")
  }

  /** Edges already materialized -> above this size stay distributed. */
  private val DRIVER_CC_MAX_EDGES = 1000000L

  /** Connected components of an undirected pair list (ia, ib) -> (id, comp)
    * with comp = min doc_id of the component.
    *
    * Hybrid: the pair list is the output of candidate generation and is
    * normally orders of magnitude smaller than the corpus; when it fits the
    * driver (<= [[DRIVER_CC_MAX_EDGES]]) a local union-find collapses it in
    * one pass — no per-round Spark jobs.  Larger graphs take
    * [[largeSmallStar]] (O(log n) rounds).  Both paths produce identical
    * labels.
    *
    * The input pipeline runs EXACTLY ONCE: it is checkpointed up front, and
    * the size probe, the driver collect, and the star rounds all read the
    * materialized copy (a plain limit-probe on the raw plan would compute
    * the candidate-generation join twice — once to be counted, once for
    * real). */
  private[graft] def connectedComponents(
      pairs: DataFrame,
      maxDriverEdges: Long = DRIVER_CC_MAX_EDGES): DataFrame = {
    val p = pairs.localCheckpoint()
    val spark = p.sparkSession
    // probe reads the checkpoint, and only until maxDriverEdges+1 rows exist
    val probeRows = (math.min(maxDriverEdges, Int.MaxValue - 1L).max(-1L) + 1L).toInt
    val small = p.limit(probeRows).count() <= maxDriverEdges
    if (small) {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      p.collect().foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { val lo = math.min(ra, rb); parent(math.max(ra, rb)) = lo }
      }
      import spark.implicits._
      parent.keys.toSeq.sorted.map(id => (id, find(id))).toDF("id", "comp")
    } else largeSmallStar(p)._1
  }

  /** Alternating large-star/small-star connected components (Kiveris et
    * al., SoCC 2014) — the distributed path.
    *
    * Each round rewires the graph toward per-component stars:
    *   - large-star: every node's strictly-larger neighbors are re-pointed
    *     at the minimum of its closed neighborhood;
    *   - small-star: every node's smaller-or-equal neighbors (edges
    *     directed high -> low) are re-pointed at that minimum.
    * Both steps preserve connectivity and never raise any node's minimum
    * reachable label; the edge set converges in O(log n) rounds to stars
    * (child -> component-min), even on chain graphs where min-label
    * propagation needs O(diameter) rounds.  Each step is one groupBy-join
    * pair (two shuffles) over the current edge list.
    *
    * Returns (labels, rounds): labels (id, comp) for every node appearing
    * in `pairs`, comp = component minimum. */
  private[graft] def largeSmallStar(pairs: DataFrame): (DataFrame, Int) = {
    // Neighbor-minimum helper: for edges (u, v) grouped by u,
    // m(u) = min(min(v), u).
    def nbrMin(e: DataFrame): DataFrame =
      e.groupBy("u").agg(least(min(col("v")), first(col("u"))).as("m"))

    // large-star input: symmetric closure; emit (v, m(u)) for v > u.
    // The closure is an explode of both directions, NOT union(e, flip(e)):
    // a Union whose children share the checkpointed frame's lineage trips
    // Spark's UnionBase.rewriteConstraints on the self-joined aggregate
    // below (key-not-found on a stale exprId once DeduplicateRelations
    // rewrites one side) — found at the 100 M-edge shape by the former
    // CCStress driver (BASELINE.md, "Connected components at cluster
    // shape").
    // explode keeps the round a single linear projection, no Union node.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(explode(array(
          struct(col("u"), col("v")),
          struct(col("v").as("u"), col("u").as("v")))).as("s"))
        .select(col("s.u").as("u"), col("s.v").as("v"))
      sym.join(nbrMin(sym), "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }

    // small-star input: direct each edge high -> low; emit (v, m(u)) for
    // every low neighbor v plus u itself, minus the self-loop on m
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      dir.join(nbrMin(dir), "u")
        .select(explode(array(col("v"), col("u"))).as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    var edges = pairs.select(col("ia").as("u"), col("ib").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    var rounds = 0
    // Convergence check: the (directed high->low) edge SET is unchanged.
    // Compared by commutative signature — (count, xor of 64-bit edge
    // hashes, xor of an INDEPENDENTLY seeded second hash), the
    // q_table_checksum trick: one map-side-combined aggregate per round
    // instead of a union+distinct over both edge sets (which re-shuffled
    // ~2|E| rows per round just to answer yes/no).  A false "converged"
    // needs different equal-count sets to collide in BOTH xor folds
    // simultaneously (~2^-128; the salted tuple makes the second hash
    // independent of the first) — same shuffle cost, both ride one
    // aggregate.  (A wrapping-sum second fold would be equally good but
    // long-sum overflow throws under ANSI mode.)  The closed-form/
    // union-find equality specs pin the labels themselves.
    def sig(e: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
      val r = e.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v"))),
        bit_xor(xxhash64(lit(0x9E3779B97F4A7C15L), col("u"), col("v")))).head
      (r.getLong(0),
       if (r.isNullAt(1)) 0L else r.getLong(1),
       if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    // initial edges are undirected; rounds emit high->low directed sets,
    // so normalize once for the first comparison
    var prevSig = sig(edges.select(greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v")).distinct())
    var done = edges.isEmpty
    while (!done) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      rounds += 1
      val nextSig = sig(next) // next is directed high->low + distinct already
      done = nextSig == prevSig
      prevSig = nextSig
      edges = next
    }
    // post-convergence the edges are stars child -> component-min; roots
    // (the minima themselves, nodes with no outgoing star edge) label
    // themselves.  Expressed as node-set left-join rather than
    // children ∪ roots — union-free for the same reason as largeStar.
    val children = edges.select(col("u").as("id"), col("v").as("comp"))
    val nodes = edges
      .select(explode(array(col("u"), col("v"))).as("id")).distinct()
    val labels = nodes.join(children, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    (labels, rounds)
  }

  val all: Seq[GraftQuery] = Seq(dedupCluster)
}
