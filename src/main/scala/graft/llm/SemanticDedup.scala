package graft.llm

import graft.GraftQuery
import graft.fns.VecExpressions.vecDot
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Semantic (cluster-then-prune) deduplication — the SemDeDup shape
  * (Abbas et al., 2023, arXiv:2303.09540): instead of pairing the whole
  * corpus, assign every embedding to a coarse cell of a quantizer and
  * prune ONLY within cells, keeping one representative per group of
  * semantically redundant members.  This differs from `q_llm_dedup_embed`
  * (pairwise near-identical detection blocked on a metadata label) on
  * both axes that matter at 100 TB: the blocking is DATA-DRIVEN (content
  * geometry, no label needed) and the output is the curation DECISION
  * (kept / dropped per row), not a pair list.
  *
  * Judged variant is fully deterministic and oracle-twinned in DuckDB:
  *
  *  - sketch = the corpus's informative 16-dim prefix of the scaled-int
  *    quantized embedding (same convention as `q_llm_dedup_embed`; exact
  *    integer dots < 2^53 keep every cosine bit-identical across engines);
  *  - cells = nearest of K=16 FIXED seed vectors (the K lowest vec_ids),
  *    ties to the lowest cell — the zero-iteration quantizer is what makes
  *    the assignment SQL-expressible; the trained-kmeans variant below
  *    swaps in the IVF coarse quantizer for deployments;
  *  - prune rule = "leader by id": a row is dropped iff SOME lower-id
  *    member of its cell has cosine ≥ τ = 0.7 to it; the cell's lowest
  *    id is always kept.
  *
  * 100 TB posture: seed/centroid assignment is a broadcast map-only pass
  * (K centroids against the corpus); within-cell pairing is O(occupancy²)
  * per cell, and occupancy is a CONTROLLED quantity — SemDeDup grows K
  * with the corpus (N/K held roughly constant, the paper uses K ≈ 10⁵ at
  * web scale), which in this engine is the IVF trainer's sample-capped
  * k-means (`Similarity.ivfCellsOn`) whose cost is bounded by the cap,
  * not N.  No all-pairs step anywhere.
  */
object SemanticDedup {

  private val K = 16
  private val Prefix = 16
  private val Tau = 0.7

  /** Sketch base: (vec_id, qv = prefix-16 scaled ints, nrm). */
  private def sketch(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame =
    Similarity.quantized(spark, sfDir)
      .select(col("vec_id"), slice(col("qv"), 1, Prefix).as("qv"))
      .withColumn("nrm", vecDot(spark, col("qv"), col("qv")).cast(DoubleType))

  /** Assign every row of `base` (vec_id, qv, nrm) to the nearest of the K
    * lowest-id seed vectors by cosine (ties to the lowest cell).  One
    * broadcast of K rows; map-only over the corpus. */
  private[graft] def seedCells(base: DataFrame, k: Int = K): DataFrame = {
    val seeds = base.orderBy(col("vec_id")).limit(k)
      .withColumn("cell",
        (row_number().over(Window.orderBy(col("vec_id"))) - 1).cast(LongType))
      .select(col("cell"), col("qv").as("sv"), col("nrm").as("snrm"))
    val spark = base.sparkSession
    val sim = vecDot(spark, col("qv"), col("sv")).cast(DoubleType) /
      (sqrt(col("nrm")) * sqrt(col("snrm")))
    val rank = Window.partitionBy(col("vec_id")).orderBy(col("qsim").desc, col("cell"))
    base.crossJoin(broadcast(seeds))
      .withColumn("qsim", sim)
      .withColumn("rn", row_number().over(rank))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cell"), col("qv"), col("nrm"))
  }

  /** The judged fixed-seed cell assignments (vec_id, cell, qv, nrm) as a
    * STAGED artifact — the frozen day-1 state `q_llm_curate_incremental`
    * probes: a day-2 batch is assigned against these cells and pruned
    * against these members, never re-clustering the corpus.  Tag folds
    * the embeddings fingerprint (regenerated corpus republishes). */
  private[graft] def stagedAssignments(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = {
    val fp = graft.io.Staged.fingerprint(spark, s"$sfDir/embeddings.parquet")
    graft.io.Staged(spark, s"semassign|$sfDir|$fp") {
      seedCells(sketch(spark, sfDir))
    }
  }

  /** The kept/dropped decision per row under the leader-by-id rule over
    * an assigned base (vec_id, cell, qv, nrm). */
  private[graft] def pruneWithinCells(assigned: DataFrame): DataFrame = {
    val spark = assigned.sparkSession
    val a = assigned.select(col("cell"), col("vec_id").as("ia"),
      col("qv").as("qa"), col("nrm").as("na"))
    val b = assigned.select(col("cell").as("cell_b"), col("vec_id").as("ib"),
      col("qv").as("qb"), col("nrm").as("nb"))
    val sim = vecDot(spark, col("qa"), col("qb")).cast(DoubleType) /
      (sqrt(col("na")) * sqrt(col("nb")))
    val dropped = a.join(b, col("cell") === col("cell_b") && col("ia") < col("ib"))
      .withColumn("sim", sim)
      .filter(col("sim") >= Tau)
      .select(col("ib").as("dup_id")).distinct()
    assigned.select(col("vec_id"), col("cell"))
      .join(dropped, col("vec_id") === col("dup_id"), "left")
      .select(col("vec_id"), col("cell"), col("dup_id").isNull.as("kept"))
  }

  /** Trained coarse cells (K of them): the trainer cost is bounded by the
    * k-means sample cap regardless of N. */
  private[graft] def trainedCellsK(spark: org.apache.spark.sql.SparkSession,
      tag: String, base: DataFrame): DataFrame =
    graft.io.Staged(spark, s"semCells|$tag|$K") {
      val cent = Similarity.kmeans(Similarity.trainSample(base), K, iters = 1)._2
      Similarity.assignCells(base, cent).select("vec_id", "cell")
    }

  /** Two-level (hierarchical) cell assignment for the large-K regime —
    * the composition path BASELINE.md's cost anatomy calls for: flat
    * assignment costs n·K·d cosine work, which at deployment K (~1e5)
    * dwarfs the prune itself.  Here the K fine centroids (same flat
    * sample-capped trainer — the index is unchanged) are grouped under
    * c ≈ √K coarse centroids, and each corpus row resolves its coarse
    * group first (n·c·d), then argmaxes only that group's fine centroids
    * (n·(K/c)·d average) — total n·(c + K/c)·d, a √K-factor saving.  The
    * approximation (a row whose true best fine centroid lives outside
    * its coarse group mis-assigns) was MEASURED by the former
    * SemDedupStress driver (BASELINE.md, "Two-level assignment
    * crossover"): recall impact at 1 M×1000 cells is within noise of
    * flat.  Both levels are broadcast joins; the corpus stays map-only. */
  private[graft] def trainedCellsHierK(spark: org.apache.spark.sql.SparkSession,
      tag: String, base: DataFrame, k: Int, coarse: Int = 0): DataFrame =
    graft.io.Staged(spark, s"semCellsHier|$tag|$k|$coarse") {
      val c = if (coarse > 0) coarse else math.max(4, math.round(math.sqrt(k.toDouble)).toInt)
      val kc = math.max(1, k / c)
      val sample = Similarity.trainSample(base).localCheckpoint(eager = true)
      val coarseCent = Similarity.kmeans(sample, c, iters = 1)._2
        .select(col("cell").as("gcell"), col("cv").as("gcv"), col("cnrm").as("gcnrm"))
        .localCheckpoint(eager = true)
      def toCoarse(vecs: DataFrame): DataFrame = {
        val qgdot = graft.fns.VecExpressions.numVecDot(spark, col("qv"), col("gcv"))
        vecs.crossJoin(broadcast(coarseCent))
          .withColumn("gcos", qgdot / (sqrt(col("nrm")) * sqrt(col("gcnrm"))))
          .groupBy(col("vec_id"))
          .agg(first(col("qv")).as("qv"), first(col("nrm")).as("nrm"),
            max(struct(col("gcos"), (-col("gcell")).as("ng"))).as("bg"))
          .select(col("vec_id"), col("qv"), col("nrm"), (-col("bg.ng")).as("gcell"))
      }
      // fine centroids are TRAINED WITHIN each coarse group (true two-level
      // k-means): init = the group's kc lowest-id sample members, one Lloyd
      // pass restricted to the group.  Membership of a fine cell in its
      // group holds by construction — no cross-group leakage, so occupancy
      // balance mirrors the flat trainer's instead of collapsing onto the
      // few fine cells that survive a centroid-centroid regrouping (the
      // rejected first cut of this path measured occMax ≈ 10× avg).
      val sampleG = toCoarse(sample).localCheckpoint(eager = true)
      val wInit = Window.partitionBy(col("gcell")).orderBy(col("vec_id"))
      val fineInit = sampleG.withColumn("rn", row_number().over(wInit))
        .filter(col("rn") <= kc)
        .select(col("gcell"), col("vec_id").as("cell"),
          transform(col("qv"), x => x.cast(DoubleType)).as("cv"))
        .withColumn("cnrm", graft.fns.VecExpressions.numVecDot(spark, col("cv"), col("cv")))
        .localCheckpoint(eager = true)
      val cellGroups = fineInit.select(col("cell").as("cell2"), col("gcell").as("g2"))
      def toFine(withGroup: DataFrame, fine: DataFrame): DataFrame = {
        val fdot = graft.fns.VecExpressions.numVecDot(spark, col("qv"), col("cv"))
        withGroup.join(broadcast(fine), "gcell")
          .withColumn("fcos", fdot / (sqrt(col("nrm")) * sqrt(col("cnrm"))))
          .groupBy(col("vec_id"))
          .agg(first(col("qv")).as("qv"),
            max(struct(col("fcos"), (-col("cell")).as("nc"))).as("bf"))
          .select(col("vec_id"), col("qv"), (-col("bf.nc")).as("cell"))
      }
      // one Lloyd update of the fine level on the sample, group-preserving
      val assigned0 = toFine(sampleG, fineInit)
      val fineCent = Similarity.centroidsOf(assigned0)
        .join(broadcast(cellGroups), col("cell") === col("cell2"))
        .select(col("g2").as("gcell"), col("cell"), col("cv"), col("cnrm"))
        .localCheckpoint(eager = true)
      // Every coarse group MUST own at least one fine centroid: Lloyd
      // re-assignment of the sample can leave a coarse cell with zero
      // sample members (post-update centroids attract away every former
      // member), and a corpus row whose coarse argmax lands in such a
      // group would be silently eliminated by the inner in-group join
      // below — data loss inside a dedup decision.  Fall back to the
      // coarse centroid itself as that group's single fine cell; the
      // negative id keeps fallback cells disjoint from the sample vec_ids
      // that name trained fine cells.  (SemanticDedupDriftSpec engineers
      // exactly this sample/corpus drift and pins row conservation.)
      val fallback = coarseCent
        .join(fineCent.select(col("gcell")).distinct(), Seq("gcell"), "left_anti")
        .select(col("gcell"), (-col("gcell") - 1).as("cell"),
          col("gcv").as("cv"), col("gcnrm").as("cnrm"))
      val fineAll = fineCent.unionByName(fallback).localCheckpoint(eager = true)
      // corpus: coarse pass (n·c·d) then in-group fine pass (n·(K/c)·d)
      toFine(toCoarse(base), fineAll).select("vec_id", "cell")
    }

  /** Deployment variant: same prune rule over the TRAINED coarse
    * quantizer's cells (sample-capped k-means) instead of fixed seeds —
    * no SQL oracle (the trainer is not SQL-expressible); spec'd for
    * consistency against the judged rule; BASELINE.md ("Semantic
    * (cluster-then-prune) dedup at scale") records its scale
    * measurements, made by the former SemDedupStress driver (see git
    * history). */
  private[graft] def semanticDedupTrained(spark: org.apache.spark.sql.SparkSession,
      tag: String, base: DataFrame, hier: Boolean = false): DataFrame = {
    val cells =
      if (hier) trainedCellsHierK(spark, tag, base, K)
      else trainedCellsK(spark, tag, base)
    pruneWithinCells(base.join(cells, "vec_id")
      .select(col("vec_id"), col("cell"), col("qv"), col("nrm")))
  }

  val dedupSemantic: GraftQuery = GraftQuery("q_llm_dedup_semantic",
    s"""WITH q AS (SELECT vec_id,
       |  list_transform(embedding[1:$Prefix],
       |                 x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS qv
       |  FROM embeddings),
       |n AS (SELECT vec_id, qv, list_dot_product(qv, qv) AS nrm FROM q),
       |s AS (SELECT qv AS sv, nrm AS snrm,
       |             row_number() OVER (ORDER BY vec_id) - 1 AS cell
       |      FROM (SELECT * FROM n ORDER BY vec_id LIMIT $K)),
       |a AS (SELECT vec_id, cell, qv, nrm FROM (
       |        SELECT n.vec_id, s.cell, n.qv, n.nrm,
       |          row_number() OVER (PARTITION BY n.vec_id
       |            ORDER BY list_dot_product(n.qv, s.sv) / (sqrt(n.nrm) * sqrt(s.snrm)) DESC,
       |                     s.cell) AS rn
       |        FROM n CROSS JOIN s) WHERE rn = 1),
       |d AS (SELECT DISTINCT y.vec_id AS dup_id
       |      FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
       |      WHERE list_dot_product(x.qv, y.qv) / (sqrt(x.nrm) * sqrt(y.nrm)) >= $Tau)
       |SELECT a.vec_id, a.cell, d.dup_id IS NULL AS kept
       |FROM a LEFT JOIN d ON a.vec_id = d.dup_id""".stripMargin) { (spark, sfDir) =>
    pruneWithinCells(stagedAssignments(spark, sfDir))
  }

  val all: Seq[GraftQuery] = Seq(dedupSemantic)
}
