package graft.llm

import graft.{Queries, TestSpark}
import graft.llm.AnnAuto.{AnnStats, annStats, annStrategy, annTopkAuto}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Gates for the ANN strategy chooser (q_llm_ann_auto): every routing
  * branch of the pure law, the clusteredness statistic against planted
  * clustered/isotropic extremes (the [[graft.StressCorpora]] shapes),
  * judged-SF routing to the exact brute path, and forced-route
  * dispatch recall on the shapes each index is built for. */
class AnnAutoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def st(n: Long, clust: Double, d: Int = 64, q: Long = 10L) =
    AnnStats(n, q, d, clust, sampleSize = 512)

  test("routing law: every branch fires where the measured tables say") {
    // sub-crossover work => brute regardless of geometry (exact and cheapest)
    assert(annStrategy(st(2000L, 0.99)) == "brute")
    assert(annStrategy(st(2000L, Double.NaN)) == "brute")
    // above the crossover: geometry decides ivf vs lsh — the clustered
    // branch stays ivf only while the probe scan Q·N·d/8 is under the
    // walk bar (1.1e9 madds ⇒ N ≲ 1.4e7 at Q=10, d=64)
    assert(annStrategy(st(12000000L, 0.95)) == "ivf")
    assert(annStrategy(st(100000000L, 0.30)) == "lsh")
    // past the walk bar the clustered branch hands over to the beam walk
    // (corpus-size-independent candidates); isotropic keeps lsh at EVERY
    // n — a measured exclusion (BASELINE.md round-14 isotropic rows: recall
    // 0.42@20k → 0.10@100k at the family-gate walk, 0.28 with a 2×
    // heavier walk, vs sign-LSH's 0.98 on the same geometry)
    assert(annStrategy(st(15000000L, 0.95)) == "graph")
    assert(annStrategy(st(100000000L, 0.95)) == "graph")
    assert(annStrategy(st(15000000L, 0.30)) == "lsh")
    // byte-budget exceeded: PQ family, residual-encoded iff clustered,
    // and it preempts even sub-crossover flops (the axis is memory) AND
    // the graph route (the walk re-ranks on raw vectors)
    val budget = 1e6
    assert(annStrategy(st(100000000L, 0.95), scanBytesBudget = budget) == "ivfpq")
    assert(annStrategy(st(100000000L, 0.30), scanBytesBudget = budget) == "pq")
    assert(annStrategy(st(100000L, 0.95), scanBytesBudget = budget) == "ivfpq")
    // the bar itself is (1 + isotropic ceiling)/2 — a d=64, S=512 corpus
    // at the ceiling (~0.44) routes lsh, one near 1.0 routes ivf
    val ceiling = st(100000000L, 0.0).isotropicCeiling
    assert(ceiling > 0.3 && ceiling < 0.6, s"ceiling=$ceiling")
    assert(annStrategy(st(100000000L, ceiling)) == "lsh")
  }

  /** Shared generators — see [[graft.StressCorpora]]. */
  private def clusteredBase(n: Long): DataFrame =
    graft.StressCorpora.clustered(spark, n)
  private def isotropicBase(n: Long): DataFrame =
    graft.StressCorpora.isotropic(spark, n, seed = 13L)

  test("clusteredness statistic separates the planted extremes around the bar") {
    val cl = annStats(clusteredBase(4000L))
    val iso = annStats(isotropicBase(4000L))
    assert(cl.dim == 64 && cl.nCorpus == 4000L)
    assert(cl.clusteredness >= cl.clusterBar,
      s"clustered stat ${cl.clusteredness} under bar ${cl.clusterBar}")
    assert(iso.clusteredness < iso.clusterBar,
      s"isotropic stat ${iso.clusteredness} over bar ${iso.clusterBar}")
    // and the isotropic measurement sits near its concentration ceiling,
    // not just anywhere under the bar
    assert(iso.clusteredness < iso.isotropicCeiling + 0.15,
      s"isotropic stat ${iso.clusteredness} vs ceiling ${iso.isotropicCeiling}")
  }

  test("judged query routes to brute at judged SFs and equals the exact top-k") {
    val auto = Queries.queries("q_llm_ann_auto")(spark, TestSpark.sf)
    val routes = auto.select("route").distinct().as[String].collect().toSeq
    assert(routes == Seq("brute"))
    val exact = Queries.queries("q_llm_similarity_topk")(spark, TestSpark.sf)
      .select("qid", "nid", "rn").as[(Long, Long, Long)].collect().toSet
    val got = auto.select("qid", "nid", "rn").as[(Long, Long, Long)].collect().toSet
    assert(got == exact, "auto(brute) must be bit-identical to the exact baseline")
  }

  test("forced routes dispatch to the right index and keep recall on their shape") {
    val n = 4000L
    val cl = clusteredBase(n).localCheckpoint()
    val iso = isotropicBase(n).localCheckpoint()
    def topSet(df: DataFrame) =
      df.select("qid", "nid").as[(Long, Long)].collect().toSet
    // flopsBar = 0 pushes both corpora above the crossover: geometry routes
    val autoCl = annTopkAuto(spark, "annauto:cl", cl, flopsBar = 0.0)
    assert(autoCl.select("route").distinct().as[String].collect().toSeq == Seq("ivf"))
    val autoIso = annTopkAuto(spark, "annauto:iso", iso, flopsBar = 0.0)
    assert(autoIso.select("route").distinct().as[String].collect().toSeq == Seq("lsh"))
    // each routed index keeps recall on the shape it was chosen for
    val bruteCl = topSet(Similarity.bruteTopkOn(spark, cl))
    val bruteIso = topSet(Similarity.bruteTopkOn(spark, iso))
    val rCl = (bruteCl & topSet(autoCl)).size.toDouble / bruteCl.size
    val rIso = (bruteIso & topSet(autoIso)).size.toDouble / bruteIso.size
    assert(rCl >= 0.8, s"ivf-routed recall $rCl")
    assert(rIso >= 0.6, s"lsh-routed recall $rIso")
    // byte-budget forces the PQ family on the clustered corpus — residuals
    val autoPq = annTopkAuto(spark, "annauto:cl", cl, flopsBar = 0.0,
      scanBytesBudget = 1e3)
    assert(autoPq.select("route").distinct().as[String].collect().toSeq == Seq("ivfpq"))
    // spec-scale recall floors are smoke checks (8-byte codes on a 4k
    // synthetic corpus quantize coarsely); the deployment-scale recall
    // rows per route live in BASELINE.md ("ANN chooser routes at
    // deployment scale", 1M vectors, former AnnAutoStress driver)
    val rIvfPq = (bruteCl & topSet(autoPq)).size.toDouble / bruteCl.size
    assert(rIvfPq >= 0.4, s"ivfpq-routed recall $rIvfPq")
    // ...and flat PQ on the isotropic corpus
    val autoPqIso = annTopkAuto(spark, "annauto:iso", iso, flopsBar = 0.0,
      scanBytesBudget = 1e3)
    assert(autoPqIso.select("route").distinct().as[String].collect().toSeq == Seq("pq"))
    val rPq = (bruteIso & topSet(autoPqIso)).size.toDouble / bruteIso.size
    assert(rPq >= 0.3, s"pq-routed recall $rPq")
    // ...and the walk bar forced to 0 pushes the clustered corpus past
    // the graph crossover: the chooser builds the staged NN-descent
    // graph and beam-searches it — all five non-brute routes now execute
    // end-to-end through the chooser
    val autoGraph = annTopkAuto(spark, "annauto:cl", cl, flopsBar = 0.0,
      walkBar = 0.0)
    assert(autoGraph.select("route").distinct().as[String].collect().toSeq ==
      Seq("graph"))
    val rGraph = (bruteCl & topSet(autoGraph)).size.toDouble / bruteCl.size
    assert(rGraph >= 0.8, s"graph-routed recall $rGraph")
  }
}
