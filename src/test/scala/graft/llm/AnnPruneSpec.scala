package graft.llm

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** ANN probe-scan pruning (round 11): both index artifacts are published
  * SORTED by their probe key — LSH postings by `tb = t·2^planes + bucket`,
  * the IVF inverted file by `cell` — and the steady-state query pushes the
  * collected probe keys into the artifact scan as an `IN` filter.  The
  * filter is a strict superset of the join keys, so it may only change
  * COST, never the result.  This spec pins both halves of that claim:
  *
  *  1. pruned and unpruned paths return identical rows (on a durable
  *     staging-dir artifact — the deployment shape the pruning targets);
  *  2. the filter actually reaches the parquet scan (`PushedFilters`
  *     carries the probe-key `In`), i.e. the pruning is stats-eligible,
  *     not a post-scan residual.
  *
  * BASELINE.md records the wall-clock payoff at 1 M / 4 M vectors,
  * measured by the former LshStress / IvfStress drivers (see git
  * history).
  */
class AnnPruneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Deterministic xxhash corpus, the isotropic [[graft.StressCorpora]]
    * shape at test scale. */
  private def syntheticBase(s: org.apache.spark.sql.SparkSession, n: Long): DataFrame =
    graft.StressCorpora.isotropic(s, n).localCheckpoint()

  private def withStaging[A](f: org.apache.spark.sql.SparkSession => A): A = {
    // sibling session: isolates the staging-dir conf from every other suite
    // sharing TestSpark.spark (Staged keys its cache by (session, root, tag))
    val s = spark.newSession()
    val root = java.nio.file.Files.createTempDirectory("graft_ann_prune").toString
    s.conf.set("spark.graft.staging.dir", root)
    try f(s)
    finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  private def scanString(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("LSH: pruned candidates == unpruned candidates, probe keys pushed to the scan") {
    withStaging { s =>
      val base = syntheticBase(s, 2000L)
      val tag = "annprune:lsh"
      val pruned = Similarity.lshCandidatesOn(s, tag, base, nprobe = 4, tables = 4)
      val full = Similarity.lshCandidatesOn(s, tag, base, nprobe = 4, tables = 4,
        prune = false)
      val a = pruned.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val b = full.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(a == b, s"prune changed the candidate set: ${a.size} vs ${b.size}")
      assert(a.nonEmpty, "degenerate test: no candidates at all")

      val plan = scanString(pruned)
      assert(plan.contains("In(tb"),
        s"probe-key IN filter must be pushed to the postings scan; got:\n$plan")
      // and the artifact really is the durable parquet (not a checkpoint)
      assert(plan.contains("FileScan parquet") || plan.contains("Scan parquet"),
        s"expected a parquet artifact scan in:\n$plan")
    }
  }

  test("IVF: pruned top-k == unpruned top-k, probed cells pushed to the inverted file") {
    withStaging { s =>
      val base = syntheticBase(s, 2000L)
      val tag = "annprune:ivf"
      val pruned = Similarity.ivfTopkOn(s, tag, base, nprobe = 2)
      val full = Similarity.ivfTopkOn(s, tag, base, nprobe = 2, prune = false)
      val a = pruned.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val b = full.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(a == b, s"prune changed the IVF result: ${a.size} vs ${b.size}")
      assert(a.nonEmpty, "degenerate test: empty IVF result")

      val plan = scanString(pruned)
      assert(plan.contains("In(cell"),
        s"probed-cell IN filter must be pushed to the inverted-file scan; got:\n$plan")
    }
  }

  test("localCheckpoint mode (no staging dir): pruning is still result-identical") {
    // the judged queries run without a staging dir — the filter then
    // evaluates row-wise over the checkpointed postings; same rows out
    val base = syntheticBase(spark, 1000L)
    val tag = "annprune:mem"
    val a = Similarity.lshCandidatesOn(spark, tag, base, nprobe = 2, tables = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Similarity.lshCandidatesOn(spark, tag, base, nprobe = 2, tables = 4,
      prune = false).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }
}
