package graft.llm

import graft.GraftQuery
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stats-driven ANN strategy chooser — the similarity-search counterpart of
  * [[graft.joins.NonEquiJoins.lessThanJoinAuto]]: the engine ships five
  * measured top-k shapes (exact brute scan, IVF cell probe, multi-table
  * sign-LSH, PQ/IVFADC byte-bound scan, NN-descent graph + beam walk;
  * BASELINE.md "ANN" sections) chosen by the caller; this entry point
  * samples the corpus and routes to the measured-best shape so the 100 TB
  * user gets the right plan without reading the crossover tables.
  *
  * Routing law (each constant is a MEASURED number from BASELINE.md, not a
  * guess):
  *
  *  - "brute" while the scan work Q·N·d stays under `flopsBar` — below the
  *    measured LSH/brute crossover (a·Q·N·d·(1−frac) > C₀ with
  *    a ≈ 5×10⁻⁹ s/multiply-add, C₀ ≈ 20 s, frac ≈ 0.4 ⇒
  *    Q·N·d ≳ 7×10⁹) every index's fixed cost exceeds the scan it saves,
  *    and brute is also EXACT — never pay recall for negative savings;
  *  - above the bar, "ivf" when the sampled geometry says k-means cells
  *    separate neighbors (clusteredness ≥ bar: scan ≈ nprobe/k of the
  *    corpus with a small trainer cost — the measured first choice on
  *    clustered corpora), else "lsh" (sign-LSH is the isotropic fallback
  *    where coarse cells cannot separate, BASELINE.md crossover section);
  *  - on the clustered branch, "graph" once even the IVF PROBE outgrows
  *    the beam walk's fixed cost — Q·N·d·(nprobe/k) > `walkBar`, the
  *    walk's measured corpus-size-independent per-batch cost in the same
  *    madd currency (see [[annStrategy]]'s scaladoc for the derivation);
  *    bounded candidates per query is the graph family's scale claim and
  *    the regime no scanning index can reach;
  *  - the "ivfpq"/"pq" pair replaces either once the RAW VECTOR scan bytes
  *    N·d·8 exceed `scanBytesBudget` — the memory axis: the ADC pass reads
  *    an 8-byte code word per vector instead of d·8 bytes, so a corpus
  *    whose vectors no longer fit the scan budget still gets a bounded
  *    candidate pass (BASELINE.md PQ section; the same clusteredness test
  *    picks residual-encoded IVFADC vs flat PQ, because raw-code PQ
  *    measurably saturates on clustered data).
  *
  * The clusteredness statistic is the SAMPLED 1-NN COSINE: over a
  * deterministic hash-sample of S vectors, the mean over points of the
  * best cosine to another sample point.  On clustered corpora this
  * estimates the intra-cluster cosine (≈ 1 for tight clusters); on an
  * isotropic corpus concentration of measure caps it near
  * √(2·ln S / d) (the expected max of S standard-normal-ish cosines with
  * σ = 1/√d).  The routing bar is the midpoint between that isotropic
  * ceiling and 1 — principled for any (S, d), not tuned to a generator;
  * AnnAutoSpec measures both planted extremes against it.
  *
  * 100 TB posture: the chooser itself costs one `count` and one bounded
  * S-row sample (same stance as `lessThanStats`; a deployment substitutes
  * table statistics for the count).  Every route it dispatches to is the
  * already-measured implementation — routing affects recall/cost only
  * through which measured curve the query lands on.
  */
object AnnAuto {

  /** Sampled routing statistics for one (corpus, query set) pair. */
  final case class AnnStats(
      nCorpus: Long, nQueries: Long, dim: Int, clusteredness: Double,
      sampleSize: Int) {
    /** Multiply-adds of the exact brute scan — the crossover currency. */
    def flops: Double = nQueries.toDouble * nCorpus.toDouble * dim.toDouble
    /** Bytes a raw-vector candidate scan reads (the PQ routing axis). */
    def rawScanBytes: Double = nCorpus.toDouble * dim.toDouble * 8.0
    /** Isotropic ceiling of the 1-NN-cosine statistic (max of ~S cosines
      * concentrated at σ = 1/√d), clamped into [0, 1]. */
    def isotropicCeiling: Double =
      math.min(1.0, math.sqrt(2.0 * math.log(math.max(2, sampleSize)) / math.max(1, dim)))
    /** Midpoint between the isotropic ceiling and perfect intra-cluster
      * cosine — the clustered/isotropic routing bar. */
    def clusterBar: Double = (1.0 + isotropicCeiling) / 2.0
  }

  /** Compute [[AnnStats]] with one count and one deterministic hash-ordered
    * sample of ≤ S = 512 vectors (O(S²·d) driver arithmetic ≈ 17 M
    * multiply-adds at S=512, d=64 — negligible against any corpus this
    * chooser exists for).  `withClusteredness = false` skips the sample
    * (clusteredness NaN) when the caller already knows the work is
    * sub-crossover — the judged small-SF query pays only the count. */
  def annStats(base: DataFrame, withClusteredness: Boolean = true): AnnStats = {
    val nQueries = 10L // the family's query convention: vec_id < 10
    val sampleSize = 512
    val n = base.count()
    val rows =
      if (n == 0) Array.empty[org.apache.spark.sql.Row]
      else base.select(col("vec_id"), col("qv"))
        .orderBy(xxhash64(col("vec_id")), col("vec_id"))
        .limit(if (withClusteredness) sampleSize else 1)
        .collect()
    val vecs = rows.map(_.getSeq[Long](1).toArray)
    val dim = if (vecs.nonEmpty) vecs(0).length else 0
    val stat =
      if (!withClusteredness || vecs.length < 2) Double.NaN
      else {
        val nrm = vecs.map(v => math.sqrt(v.map(x => x.toDouble * x.toDouble).sum))
        val best = Array.fill(vecs.length)(-1.0)
        var i = 0
        while (i < vecs.length) {
          var j = i + 1
          while (j < vecs.length) {
            var d = 0.0; var k = 0
            while (k < dim) { d += vecs(i)(k).toDouble * vecs(j)(k).toDouble; k += 1 }
            val c = if (nrm(i) > 0 && nrm(j) > 0) d / (nrm(i) * nrm(j)) else 0.0
            if (c > best(i)) best(i) = c
            if (c > best(j)) best(j) = c
            j += 1
          }
          i += 1
        }
        best.sum / best.length
      }
    AnnStats(n, nQueries, dim, stat, math.min(sampleSize, vecs.length))
  }

  /** Probed fraction of the corpus the judged IVF settings scan per query
    * (nprobe=2 of k=16 cells — BASELINE.md IVF sections: ≈ nprobe/k on a
    * clustered corpus).  The graph-route crossover is computed against
    * THIS scan, because the graph route only competes on the clustered
    * branch (see [[annStrategy]]). */
  private val IvfProbeFrac = 2.0 / 16.0

  /** Pure routing law over the sampled stats — unit-tested against every
    * branch in AnnAutoSpec; see the object scaladoc for the measured
    * provenance of each constant.
    *
    * `walkBar` is the graph route's crossover: the beam walk's measured
    * per-batch cost (BASELINE.md "Round-11: graph ANN" table, measured by
    * the former GraphAnnStress driver, see git history: steady search
    * 4.6–6.0 s FLAT from 20 k to 100 k vectors — hops·beam·degree
    * lookups, corpus-size independent once the graph artifact exists)
    * expressed in the same multiply-add currency as `flopsBar` via the
    * a ≈ 5×10⁻⁹ s/madd constant: ≈ 5.7 s / a ≈ 1.1×10⁹.  On a CLUSTERED
    * corpus above the brute bar, once the IVF probe's scan work
    * Q·N·d·(nprobe/k) exceeds the walk's fixed cost, the bounded-candidate
    * beam walk is the measured-cheaper shape at family-gate recall
    * (rounds=6/beam=24 row: recall 0.800 at 100 k — level with the IVF
    * property gate) — at Q=10, d=64 the crossover sits at N ≈ 1.4×10⁷
    * vectors.  The ISOTROPIC branch keeps sign-LSH — now a MEASURED
    * exclusion, not an absence of data (BASELINE.md "Round-14: isotropic
    * graph-ANN recall", 2026-08-15): at the family-gate walk
    * (rounds=6/beam=24) recall is 0.420 at 20 k and collapses to 0.100
    * at 100 k, and a ~2× heavier walk (rounds=8/beam=48/hops=7) only
    * reaches 0.280 — NN-descent's neighbors-of-neighbors refinement has
    * no gradient to climb when true neighbors sit at the isotropic
    * concentration cosine, and the failure grows with n, the opposite of
    * a curve the chooser could buy with rounds.  Sign-LSH measures 0.980
    * on the same geometry (BASELINE.md round-10 LSH table).  The memory
    * axis still preempts everything — the beam walk re-ranks on raw
    * vectors, so a corpus over the byte budget belongs to the PQ family
    * regardless of walk economics. */
  def annStrategy(st: AnnStats,
      flopsBar: Double = 7e9,
      scanBytesBudget: Double = Double.MaxValue,
      walkBar: Double = 1.1e9): String = {
    val clustered = !st.clusteredness.isNaN && st.clusteredness >= st.clusterBar
    if (st.rawScanBytes > scanBytesBudget) { if (clustered) "ivfpq" else "pq" }
    else if (st.flops <= flopsBar) "brute"
    else if (clustered) { if (st.flops * IvfProbeFrac > walkBar) "graph" else "ivf" }
    else "lsh"
  }

  /** Route a top-5 ANN query (family convention: query vectors vec_id < 10)
    * over an arbitrary quantized base to the measured-best shape.  Output
    * carries the chosen route as a column, so the decision is part of the
    * verified result, not a log line.  The clusteredness sample is only
    * paid when the work is above the brute bar and geometry matters. */
  def annTopkAuto(spark: org.apache.spark.sql.SparkSession, tag: String,
      base: DataFrame,
      flopsBar: Double = 7e9,
      scanBytesBudget: Double = Double.MaxValue,
      walkBar: Double = 1.1e9): DataFrame = {
    val cheap = annStats(base, withClusteredness = false)
    val needGeometry =
      cheap.flops > flopsBar || cheap.rawScanBytes > scanBytesBudget
    val st = if (needGeometry) annStats(base) else cheap
    val route = annStrategy(st, flopsBar, scanBytesBudget, walkBar)
    // topR = 64 matches the judged PQ queries.  It is the PQ family's
    // measured escape knob (BASELINE.md noise-floor law: on a worst-case
    // corpus recall@5 ≈ topR/occupancy until topR reaches the cell
    // population, where the exact re-rank recovers recall 1.0 at cost
    // still below brute).
    val out = route match {
      case "brute" => Similarity.bruteTopkOn(spark, base)
      case "ivf" => Similarity.ivfTopkOn(spark, tag, base, nprobe = 2)
      case "lsh" => Similarity.lshTopkOn(spark, tag, base, nprobe = 8, tables = 16)
      case "pq" => Similarity.pqTopkOn(spark, tag, base, topR = 64)
      case "ivfpq" => Similarity.ivfPqTopkOn(spark, tag, base, nprobe = 2, topR = 64)
      case "graph" =>
        // Seed-block bits sized for ~100-row expected occupancy — the
        // sizing convention of BASELINE.md's graph ANN rows (occupancy ≈
        // n / 2^bits; those rows use bits=10 at 100 k; recall is
        // insensitive to one bit either way: 0.640 at bits=11 vs 0.620 at
        // bits=10, rounds=4), capped so 4 tables of `bits` sign dims fit
        // the CORPUS dimensionality (st.dim / tables, not a hardcoded 64 —
        // blockedOfQv's element_at past the vector end yields null →
        // constant sign bits → collapsed block selectivity).  rounds=6 /
        // beam=24 are the measured family-gate row (recall 0.800 at
        // 100 k, re-measured 2026-08-15); the graph artifact is staged per
        // tag like every other index this chooser dispatches to.
        val bits = math.min(math.min(14, math.max(1, st.dim / 4)), math.max(4,
          math.ceil(math.log(math.max(2L, st.nCorpus) / 100.0) / math.log(2.0)).toInt))
        val blocked = GraphAnn.blockedOfQv(base, bits, tables = 4)
        val adj = GraphAnn.knnGraphOn(spark, s"auto|$tag|$bits", base, blocked,
          rounds = 6)
        GraphAnn.searchGraphOn(spark, base, adj, beam = 24)
    }
    out.withColumn("route", lit(route))
  }

  /** Judged chooser query.  At every judged SF the stats are deterministic
    * (N ≤ 2000, Q = 10, d = 64 ⇒ Q·N·d ≤ 1.3×10⁶ ≪ 7×10⁹) so the route is
    * provably "brute" — which is EXACT, so this chooser query is the one
    * ANN family member with a full DuckDB oracle, and the oracle pins the
    * ROUTING DECISION (the literal 'brute' column) along with the top-k. */
  val annAuto: GraftQuery = GraftQuery("q_llm_ann_auto",
    """WITH q AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS qv
      |  FROM embeddings),
      |n AS (SELECT vec_id, qv, list_dot_product(qv, qv) AS nrm FROM q)
      |SELECT qid, nid, rn, sim, 'brute' AS route FROM (
      |  SELECT a.vec_id AS qid, b.vec_id AS nid,
      |    list_dot_product(a.qv, b.qv) / (sqrt(a.nrm) * sqrt(b.nrm)) AS sim,
      |    row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_dot_product(a.qv, b.qv) / (sqrt(a.nrm) * sqrt(b.nrm)) DESC,
      |               b.vec_id) AS rn
      |  FROM n a, n b WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id)
      |WHERE rn <= 5""".stripMargin) { (spark, sfDir) =>
    annTopkAuto(spark, sfDir, Similarity.quantized(spark, sfDir))
  }

  val all: Seq[GraftQuery] = Seq(annAuto)
}
