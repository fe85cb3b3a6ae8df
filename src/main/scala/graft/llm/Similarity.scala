package graft.llm

import graft.GraftQuery
import graft.fns.VecExpressions.vecDot
import graft.io.Tables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search (B10): brute-force cosine top-k as the exact baseline,
  * and an IVF-style (inverted-file / coarse-quantizer) variant as the scale
  * path.
  *
  * Numerics: embeddings are quantized to scaled integers (round(x*1e6)) so
  * dot products are exact (< 2^53) and the resulting doubles — and
  * therefore the top-k ranking — are bit-identical between Spark and the
  * DuckDB oracle. Ties broken by neighbor id.
  *
  * 100 TB posture: the brute-force path broadcasts the (small) query set and
  * scans the corpus once — a map-only BroadcastNestedLoopJoin, no shuffle of
  * the corpus.  The IVF path prunes the scan to the best nprobe cells via an
  * equi join on the cell id, with centroids from a deterministic mini
  * k-means; the same plan shape applies at any corpus size.
  */
object Similarity {

  /** Quantized embedding base (vec_id, label, qv, nrm) — materialized once
    * per session via [[graft.io.Staged]] and shared by every similarity /
    * ANN / embedding-dedup consumer (each self-joins or re-reads it). */
  private[graft] def quantized(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame =
    graft.io.Staged(spark, s"quantized|$sfDir") {
      val qv = transform(col("embedding"), x => round(x.cast(DoubleType) * 1000000).cast(LongType))
      val base = embeddings(spark, sfDir).select(col("vec_id"), col("label"), qv.as("qv"))
      base.withColumn("nrm", vecDot(base.sparkSession, col("qv"), col("qv")).cast(DoubleType))
    }

  /** Exact cosine top-5 for query vectors vec_id < 10 over the full corpus. */
  val similarityTopk: GraftQuery = GraftQuery("q_llm_similarity_topk",
    """WITH q AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS qv
      |  FROM embeddings),
      |n AS (SELECT vec_id, qv, list_dot_product(qv, qv) AS nrm FROM q)
      |SELECT qid, nid, rn, sim FROM (
      |  SELECT a.vec_id AS qid, b.vec_id AS nid,
      |    list_dot_product(a.qv, b.qv) / (sqrt(a.nrm) * sqrt(b.nrm)) AS sim,
      |    row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_dot_product(a.qv, b.qv) / (sqrt(a.nrm) * sqrt(b.nrm)) DESC,
      |               b.vec_id) AS rn
      |  FROM n a, n b WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id)
      |WHERE rn <= 5""".stripMargin) { (spark, sfDir) =>
    bruteTopkOn(spark, quantized(spark, sfDir))
  }

  /** Exact brute-force cosine top-5 over an arbitrary quantized base
    * (vec_id, qv, nrm) for the family's query convention (vec_id < 10) —
    * the map-only baseline every ANN variant is recall-gated against, and
    * the "small-work" route of [[AnnAuto.annTopkAuto]]. */
  private[graft] def bruteTopkOn(spark: org.apache.spark.sql.SparkSession,
      base: DataFrame): DataFrame = {
    val queries = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("qv").as("qq"), col("nrm").as("qn"))
    val sim = vecDot(spark, col("qq"), col("qv")).cast(DoubleType) /
      (sqrt(col("qn")) * sqrt(col("nrm")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    base.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .withColumn("sim", sim)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("vec_id").as("nid"), col("rn"), col("sim"))
  }

  /** Deterministic mini k-means (Lloyd's) over the quantized vectors — the
    * IVF coarse quantizer.  Init = the k lowest vec_ids; assignment by max
    * cosine; centroid update via exact integer component sums (sum of longs
    * / count), so every iteration is bit-deterministic across partitionings.
    * Returns (assignment: vec_id -> cell, centroids: cell -> cv/cnrm).
    * At 100 TB the trainer runs on a sample; assignment stays a broadcast
    * join of k centroids against the full corpus — one map-side pass. */
  /** Mean centroid per cell over (cell, qv) rows, with its norm.  Exact
    * integer component sums / count => bit-deterministic doubles. */
  private[graft] def centroidsOf(assigned: DataFrame): DataFrame = {
    val spark = assigned.sparkSession
    assigned
      .select(col("cell"), posexplode(col("qv")).as(Seq("i", "v")))
      .groupBy("cell", "i").agg((sum(col("v")) / count(lit(1))).as("c"))
      .groupBy("cell").agg(array_sort(collect_list(struct(col("i"), col("c")))).as("ic"))
      .select(col("cell"), transform(col("ic"), s => s.getField("c")).as("cv"))
      .withColumn("cnrm", graft.fns.VecExpressions.numVecDot(spark, col("cv"), col("cv")))
  }

  /** Deterministic trainer sample: at most ~[[TrainCap]] rows via an
    * xxhash64 filter (rate from one metadata-cheap count).  Quantizer
    * codebooks and coarse centroids trained on a representative sample
    * are statistically equivalent at any corpus size, so the trainers
    * below stay bounded at 100 TB while encode/assignment remain full
    * map passes — this turns the long-standing "at 100 TB the trainer
    * runs on a sample" scaladoc claim into behavior.  Below the cap the
    * corpus passes through UNCHANGED (identical training to before). */
  private val TrainCap = 262144L
  private[graft] def trainSample(base: DataFrame): DataFrame = {
    val n = base.count()
    if (n <= TrainCap) base
    else {
      val den = math.max(2L, n / TrainCap)
      base.filter(pmod(xxhash64(col("vec_id")), lit(den)) === 0L)
    }
  }

  /** Argmax-by-cosine assignment of (vec_id, qv, nrm) rows to broadcast
    * centroids, via one aggregate (map-side combining) instead of a
    * row_number window: max of (cos, -cell) breaks ties toward the lower
    * cell id, matching ORDER BY cos DESC, cell ASC.  The shared map-only
    * pass of the trainer, the full-corpus assignment, and the
    * incremental batch append. */
  private[graft] def assignCells(vecs: DataFrame, cent: DataFrame): DataFrame = {
    val spark = vecs.sparkSession
    val qdot = graft.fns.VecExpressions.numVecDot(spark, col("qv"), col("cv"))
    vecs.crossJoin(broadcast(cent))
      .withColumn("cos", qdot / (sqrt(col("nrm")) * sqrt(col("cnrm"))))
      .groupBy(col("vec_id"))
      .agg(first(col("qv")).as("qv"),
        max(struct(col("cos"), (-col("cell")).as("negcell"))).as("best"))
      .select(col("vec_id"), col("qv"), (-col("best.negcell")).as("cell"))
  }

  /** Re-plan a (small, bounded-by-k) centroid frame as a LocalRelation:
    * every later action joining `broadcast(cent)` then builds the
    * broadcast DRIVER-SIDE with no per-action Spark job — the kNN ingest
    * paths used to rebuild the centroid broadcast (and re-run its
    * distributed agg) once per action (74 of q_table_knn_optimize's 80
    * jobs were such builds, measured).  Centroids are k×(dim+2) doubles
    * — k is a caller-chosen handful, so the collect is always tiny. */
  private[graft] def localCent(cent: DataFrame): DataFrame = {
    val spark = cent.sparkSession
    val rows = cent.collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), cent.schema)
  }

  private[graft] def kmeans(base: DataFrame, k: Int, iters: Int): (DataFrame, DataFrame) = {
    val spark = base.sparkSession
    // All dots via the codegen'd NumVecDot — the zip_with/aggregate lambda
    // formulation is interpreted and was the trainer's dominant cost.
    def toCent(assigned: DataFrame): DataFrame = centroidsOf(assigned)
    var cent = base.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("cell"),
        transform(col("qv"), x => x.cast(DoubleType)).as("cv"))
    cent = cent.withColumn("cnrm",
      graft.fns.VecExpressions.numVecDot(spark, col("cv"), col("cv")))
    var assigned: DataFrame = null
    for (_ <- 0 until iters) {
      assigned = assignCells(base, cent).localCheckpoint(eager = true)
      cent = toCent(assigned)
    }
    // the final centroids are what every consumer joins against, action
    // after action — hand them back LOCALIZED so those joins broadcast
    // without re-running the centroid agg per action
    (assigned.select("vec_id", "cell"), localCent(cent))
  }

  /** IVF ANN: k-means coarse cells (k=16, 2 Lloyd iterations), query probes
    * its nprobe=2 nearest centroids, exact re-rank inside probed cells only
    * (an equi join on the cell id — the corpus is scanned once, never
    * all-pairs).  Approximate by construction (recall < 1), so no SQL
    * oracle — the scalatest suite checks recall against the brute-force
    * baseline. */
  val annIvf: GraftQuery = GraftQuery.noOracle("q_llm_ann_ivf") {
    (spark, sfDir) => ivfTopkOn(spark, sfDir, quantized(spark, sfDir), nprobe = 2)
  }

  /** The staged IVF coarse-quantizer assignment (vec_id -> cell). */
  private[graft] def ivfCellsOn(spark: org.apache.spark.sql.SparkSession, tag: String,
      base: DataFrame): DataFrame =
    graft.io.Staged(spark, s"ivfCells|$tag") {
      // Lloyd on the (capped) sample, then ONE full-corpus broadcast
      // assignment — identical to the previous kmeans(base, 16, 2)._1
      // whenever the corpus is under the cap (the final assignment uses
      // the once-updated centroids either way), and bounded-trainer at
      // any scale beyond it.
      val cent = kmeans(trainSample(base), k = 16, iters = 1)._2
      assignCells(base, cent).select("vec_id", "cell")
    }

  /** The staged INVERTED FILE: the corpus vectors joined to their cell
    * assignment and PUBLISHED CLUSTERED BY cell (range partitioning +
    * within-partition sort) — the literal IVF layout.  In staging-dir
    * mode a probe's pushed `cell IN (…)` filter then prunes the vector
    * scan itself to the probed cells via file/row-group stats: the
    * steady-state query reads ≈ nprobe/k of the corpus instead of all of
    * it.  Built once per corpus; every query batch reuses it. */
  private def ivfIndexedOn(spark: org.apache.spark.sql.SparkSession, tag: String,
      base: DataFrame): DataFrame = {
    val cells = ivfCellsOn(spark, tag, base)
    graft.io.Staged(spark, s"ivfIndexed|$tag") {
      base.join(cells.withColumnRenamed("vec_id", "vid2"),
          col("vec_id") === col("vid2")).drop("vid2")
        .repartitionByRange(col("cell"))
        .sortWithinPartitions("cell")
    }
  }

  /** The staged IVF centroid table — identical to kmeans' returned
    * centroids: they are centroidsOf(the final assignment), which is
    * exactly the staged cell column.  Shared by the plain IVF query and
    * the IVF-PQ composition. */
  private def ivfCentroidsOn(spark: org.apache.spark.sql.SparkSession, tag: String,
      base: DataFrame): DataFrame =
    graft.io.Staged(spark, s"ivfCent|$tag") {
      centroidsOf(ivfIndexedOn(spark, tag, base).select(col("cell"), col("qv")))
    }

  /** The full IVF pipeline over an arbitrary quantized base (vec_id, qv,
    * nrm) — `tag` keys the staged trainer artifacts (the judged query
    * passes sfDir, preserving its staging tags).  `prune = false` skips
    * the pushed probed-cell filter (the equality spec checks both
    * paths). */
  private[graft] def ivfTopkOn(spark: org.apache.spark.sql.SparkSession, tag: String,
      base: DataFrame, nprobe: Int, prune: Boolean = true): DataFrame = {
    // The IVF index is a per-corpus artifact, not a per-query one: train
    // the coarse quantizer once per session (graft.io.Staged) and derive
    // the centroid table from the staged inverted file — on a cluster this
    // is the persisted index every query reuses.  Probe cost is all that
    // remains per query.
    val indexed = ivfIndexedOn(spark, tag, base)
    val cent = ivfCentroidsOn(spark, tag, base)
    val queries = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("qv").as("qq"), col("nrm").as("qn"))
    val qdot = graft.fns.VecExpressions.numVecDot(spark, col("qq"), col("cv"))
    val cellRank = Window.partitionBy(col("qid"))
      .orderBy((qdot / (sqrt(col("qn")) * sqrt(col("cnrm")))).desc, col("cell"))
    val probed = queries.crossJoin(broadcast(cent))
      .withColumn("cr", row_number().over(cellRank))
      .filter(col("cr") <= nprobe)
      .select(col("qid"), col("qq"), col("qn"), col("cell").as("pcell"))
    // Probed-cell pruning, mirroring the LSH probe filter: ≤ Q·nprobe
    // cell ids (tiny — one aggregate job over Q·k rows) pushed into the
    // inverted-file scan.  A superset of the join keys → identical rows.
    val scanned =
      if (!prune) indexed
      else {
        val pcells = probed.select(col("pcell")).distinct()
          .limit(ProbePruneCap + 1).collect().map(_.getLong(0))
        if (pcells.length > ProbePruneCap) indexed
        else indexed.filter(col("cell").isin(pcells.map(Long.box): _*))
      }
    val sim = vecDot(spark, col("qq"), col("qv")).cast(DoubleType) /
      (sqrt(col("qn")) * sqrt(col("nrm")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    scanned.join(broadcast(probed), col("cell") === col("pcell") && col("vec_id") =!= col("qid"))
      .withColumn("sim", sim)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("vec_id").as("nid"), col("rn"), col("sim"))
  }

  /** Random-hyperplane LSH ANN (the sibling scale path to IVF), as a real
    * vector-database index:
    *
    *  - OR-construction over [[LshTables]] independent 8-plane tables —
    *    the corpus embeddings here are near-isotropic (top-5 neighbors at
    *    cosine ~0.32 => per-plane collision probability only ~0.6), so a
    *    single table caps out at poor recall no matter how many buckets it
    *    probes; L independent tables drive the miss probability down
    *    geometrically (the standard (p^b, L)-OR amplification);
    *  - QUERY-DIRECTED multi-probe inside each table (Lv et al.,
    *    "Multi-Probe LSH", VLDB 2007): a query ranks flip masks by the
    *    summed |margin| of the hyperplanes it would have to cross — a near
    *    neighbor overwhelmingly sits across the planes the query is CLOSE
    *    to — and probes the `nprobe` cheapest buckets, far better per
    *    probe than a blind hamming ball;
    *  - the staged index is POSTINGS ONLY (table, bucket, vec_id — three
    *    longs per entry per table, never the vectors): candidates from all
    *    tables are deduped per (query, candidate) BEFORE the embeddings
    *    are fetched (one equi join back to the corpus) and exactly
    *    re-ranked, so each distinct candidate's vector is touched once no
    *    matter how many tables surfaced it.
    *
    * Hyperplane components are md5-derived {-1,+1}, so index and probes
    * are reproducible across runs/clusters.  Approximate => no SQL oracle;
    * recall is property-tested (>= 0.8 gate; BASELINE.md records the
    * measured sweep). */
  val annLsh: GraftQuery = GraftQuery.noOracle("q_llm_ann_lsh") {
    (spark, sfDir) => lshTopkOn(spark, sfDir, quantized(spark, sfDir), nprobe = 8,
      tables = LshTables)
  }

  private val LshPlanes = 8
  private val LshTables = 16
  private val EmbedDim = 64

  /** The deduped (qid, vec_id) candidate set the re-rank will fetch over
    * an arbitrary base — the index's true scan cost.  `prune = false`
    * bypasses the pushed probe-key filter (the equality spec checks both
    * paths). */
  private[graft] def lshCandidatesOn(spark: org.apache.spark.sql.SparkSession, tag: String,
      base: DataFrame, nprobe: Int, tables: Int, prune: Boolean = true): DataFrame =
    lshPartsOn(spark, tag, base, nprobe, tables, prune)

  /** The full LSH top-5 pipeline over an arbitrary quantized base (vec_id,
    * qv, nrm) — `tag` keys the staged postings index.  q_llm_ann_lsh
    * probes the best 8 of 256 buckets in each of the 16 tables
    * (BASELINE.md records the recall/cost curve across budgets, measured
    * by the former RecallSweep driver; see git history).  Probe generation
    * enumerates all 2^planes flip masks per (query, table) and keeps the
    * `nprobe` cheapest — a 256-row map-side expansion ranked by an integer
    * cost with deterministic tie-break, before anything touches the
    * corpus. */
  private[graft] def lshTopkOn(spark: org.apache.spark.sql.SparkSession, tag: String,
      base: DataFrame, nprobe: Int, tables: Int, prune: Boolean = true): DataFrame = {
    val cand = lshPartsOn(spark, tag, base, nprobe, tables, prune)
    // exact re-rank: one vector fetch per distinct candidate + per query
    val qvecs = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid2"), col("qv").as("qq"), col("nrm").as("qn"))
    val sim = vecDot(spark, col("qq"), col("qv")).cast(DoubleType) /
      (sqrt(col("qn")) * sqrt(col("nrm")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    cand.join(base, "vec_id")
      .join(broadcast(qvecs), col("qid") === col("qid2"))
      .withColumn("sim", sim)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("vec_id").as("nid"), col("rn"), col("sim"))
  }

  // hyperplane component p_ij of table t in {-1, +1} from md5
  private def planeSign(t: Int, p: Int, i: Int): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$t|$p|$i".getBytes("UTF-8"))
    if ((hex(0) & 1) == 1) 1 else -1
  }
  /** Flattened ±1 hyperplane matrix, [((t·planes)+p)·dim + i] — shipped to
    * executors once as a codegen reference object (graft.fns.LshBuckets /
    * LshPlaneDots).  The earlier formulation — tables×planes separate
    * literal-vector dots chained through `when` sums — built a ~10⁵-node
    * expression tree that evaluated at ~66 ns/multiply-add and was the
    * entire measured "C₀" fixed cost of the LSH index (135 s per 250 k
    * vectors, BASELINE.md); the single-loop kernel removes it. */
  private lazy val lshSigns: Array[Long] = {
    val arr = new Array[Long](LshTables * LshPlanes * EmbedDim)
    for (t <- 0 until LshTables; p <- 0 until LshPlanes; i <- 0 until EmbedDim)
      arr(((t * LshPlanes) + p) * EmbedDim + i) = planeSign(t, p, i).toLong
    arr
  }

  /** The staged postings index: (vec_id, tb) for every table, where
    * `tb = t·2^planes + bucket` — a single long key per posting, no
    * embeddings inside.  One codegen'd kernel call per vector computes all
    * table buckets; posexplode of its result IS the postings table.
    *
    * PUBLISHED SORTED BY tb (range partitioning + within-partition sort),
    * with small row groups, so in staging-dir mode a probe's pushed
    * `tb IN (…)` filter prunes the artifact scan via file/row-group/page
    * stats: the per-batch index term drops from O(index) to O(probed
    * buckets).  In localCheckpoint mode the same filter evaluates
    * row-wise (no stats to prune with) and merely pre-thins the join —
    * results are identical either way. */
  /** Raw (vec_id, tb) postings of `vecs` — the bucketize step shared by
    * the full build and the incremental append (the hyperplanes are
    * global md5-derived constants, so postings never depend on what else
    * is in the corpus). */
  private def lshPostingsDf(spark: org.apache.spark.sql.SparkSession,
      vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"),
        posexplode(graft.fns.LshExpressions.lshBuckets(spark, col("qv"),
          lshSigns, LshTables, LshPlanes, EmbedDim)).as(Seq("t", "bucket")))
      .select(col("vec_id"),
        (col("t").cast(LongType) * (1L << LshPlanes) + col("bucket")).as("tb"))

  private val LshPostingsWriteOptions =
    Map("parquet.block.size" -> (8 * 1024 * 1024).toString)

  private[graft] def lshPostingsOn(spark: org.apache.spark.sql.SparkSession, tag: String,
      base: DataFrame): DataFrame =
    graft.io.Staged(spark, s"lshPostings$LshPlanes/$LshTables|tb|$tag",
        writeOptions = LshPostingsWriteOptions) {
      lshPostingsDf(spark, base)
        .repartitionByRange(col("tb"))
        .sortWithinPartitions("tb")
    }

  /** Fold a new vector batch into the durable LSH postings index: the
    * hyperplanes are corpus-independent constants, so the append IS the
    * full rebuild restricted to new rows — bucketize the batch (map-only),
    * union with the old artifact, re-sort by tb and republish under
    * `newTag` (same atomic-rename arbitration and same tag-resolution
    * trick as [[pqAppendOn]]: `lshTopkOn(spark, newTag, combined, …)`
    * serves day-2 queries, probe-prune intact, with no index rebuild).
    * Spec-asserted equal to the from-scratch build of old ∪ batch. */
  private[graft] def lshPostingsAppendOn(spark: org.apache.spark.sql.SparkSession,
      tag: String, newTag: String, base: DataFrame, batch: DataFrame): DataFrame =
    graft.io.Staged(spark, s"lshPostings$LshPlanes/$LshTables|tb|$newTag",
        writeOptions = LshPostingsWriteOptions) {
      lshPostingsOn(spark, tag, base)
        .unionByName(lshPostingsDf(spark, batch))
        .repartitionByRange(col("tb"))
        .sortWithinPartitions("tb")
    }

  /** Probe-key count above which the pushed `IN` prune is skipped: the
    * key list is collected to the driver and inlined into the scan
    * filter, so it must stay small.  4096 matches the
    * `spark.sql.parquet.pushdown.inFilterThreshold` our session builders
    * set — beyond the threshold Spark falls back to a min/max range
    * filter, which prunes nothing on a probe set spread across tables. */
  private val ProbePruneCap = 4096

  private def lshPartsOn(spark: org.apache.spark.sql.SparkSession, tag: String,
      base: DataFrame, nprobe: Int, tables: Int, prune: Boolean): DataFrame = {
    require(nprobe >= 1 && nprobe <= (1 << LshPlanes),
      s"nprobe must be in [1, ${1 << LshPlanes}], got $nprobe")
    require(tables >= 1 && tables <= LshTables,
      s"tables must be in [1, $LshTables], got $tables")
    val postings = lshPostingsOn(spark, tag, base)
    // query-side: one kernel call yields all tables×planes raw dots; the
    // per-table bucket (sign bits) and multi-probe |margin|s are cheap
    // element_at derivations over that array
    def dotAt(p: Int) =
      element_at(col("dots"), (col("t") * LshPlanes + lit(p + 1)).cast("int"))
    val qbucket = (0 until LshPlanes).map { p =>
      when(dotAt(p) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    val queries = base.filter(col("vec_id") < 10)
      .withColumn("dots", graft.fns.LshExpressions.lshPlaneDots(spark, col("qv"),
        lshSigns, LshTables, LshPlanes, EmbedDim))
      .select(col("vec_id").as("qid"), col("dots"),
        explode(array((0 until tables).map(t => lit(t.toLong)): _*)).as("t"))
      .select(col("qid"), col("t"), qbucket.as("qbucket"),
        array((0 until LshPlanes).map(p => abs(dotAt(p))): _*).as("margins"))
    // all flip masks, costed by the margins of their set bits, best n kept
    val maskCost = (0 until LshPlanes).map { p =>
      when(lit(1L << p).bitwiseAND(col("__mask")) =!= 0L,
        element_at(col("margins"), p + 1)).otherwise(lit(0L))
    }.reduce(_ + _)
    val pw = Window.partitionBy(col("qid"), col("t")).orderBy(col("__cost"), col("__mask"))
    val probes = queries
      .crossJoin(broadcast(spark.range(1L << LshPlanes).select(col("id").as("__mask"))))
      .withColumn("__cost", maskCost)
      .withColumn("__pr", row_number().over(pw))
      .filter(col("__pr") <= nprobe)
      .select(col("qid"),
        (col("t") * (1L << LshPlanes) +
          col("qbucket").bitwiseXOR(col("__mask"))).as("ptb"))
    // Probe-scan pruning: the distinct probed bucket keys — bounded by
    // Q·tables·nprobe, and the query set is broadcast-small by design —
    // are collected (one tiny window job over Q·2^planes rows) and pushed
    // into the postings scan as an `IN` filter.  A strict superset of the
    // join keys, so the candidate set is unchanged; over the cap the
    // filter is skipped and the join alone does the matching.
    val scanned =
      if (!prune) postings
      else {
        val keys = probes.select(col("ptb")).distinct()
          .limit(ProbePruneCap + 1).collect().map(_.getLong(0))
        if (keys.length > ProbePruneCap) postings
        else postings.filter(col("tb").isin(keys.map(Long.box): _*))
      }
    // candidates deduped across tables BEFORE any vector is fetched
    val bProbes = broadcast(probes)
    val cand = scanned.join(bProbes,
        col("tb") === col("ptb") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id")).distinct()
    cand
  }

  // ---------------------------------------------------------------------
  // Product quantization (PQ) ANN — the memory-side scale path.
  // ---------------------------------------------------------------------

  private val PqM = 8     // subspaces
  private val PqK = 16    // centroids per subspace (power of two)
  private val PqSub = EmbedDim / PqM

  /** Deterministic per-subspace Lloyd trainer: the 64-dim quantized vector
    * splits into 8 subspaces of 8 dims, each quantized to 16 centroids.
    * Init = sub-vectors of the PqK lowest vec_ids; per iteration ONE
    * map-only encode pass (codegen'd [[graft.fns.PqEncode]], codebook as a
    * reference object) plus one map-side-combined mean job whose output is
    * m·k·dsub = 1024 rows — the codebook lives on the driver (8 KiB), like
    * ExactQuantiles' boundary rows, and empty cells keep their previous
    * centroid.  At 100 TB the trainer runs on a hash-sample of the corpus;
    * encode stays a single map pass over everything.  (BASELINE.md,
    * "Product quantization", records the k=16 vs k=256 code-bits sweep,
    * measured by the former PqStress driver; see git history.) */
  private def pqTrain(base: DataFrame, tag: String, iters: Int): Array[Double] = {
    val spark = base.sparkSession
    val bits = Integer.numberOfTrailingZeros(PqK)
    val init = base.orderBy("vec_id").limit(PqK).select("qv").collect()
    require(init.length == PqK, s"PQ needs >= $PqK vectors, got ${init.length}")
    val cents = new Array[Double](PqM * PqK * PqSub)
    for (j <- 0 until PqK; sub <- 0 until PqM; i <- 0 until PqSub)
      cents((sub * PqK + j) * PqSub + i) =
        init(j).getSeq[Long](0)(sub * PqSub + i).toDouble
    for (it <- 0 until iters) {
      // snapshot: the registered kernel closes over the array, and plans
      // evaluate lazily — never hand it the mutable working copy
      val snap = cents.clone()
      val cw = graft.fns.PqExpressions.pqEncode(spark, col("qv"), snap,
        s"$tag|it$it", PqM, PqK, PqSub)
      val means = base.select(col("qv"), cw.as("cw"))
        .select(col("cw"), posexplode(transform(sequence(lit(0), lit(PqM - 1)),
          sub => slice(col("qv"), sub * PqSub + 1, lit(PqSub)))).as(Seq("m", "sv")))
        .withColumn("code", expr(s"shiftrightunsigned(cw, m * $bits) & ${PqK - 1}"))
        .select(col("m"), col("code"), posexplode(col("sv")).as(Seq("i", "v")))
        .groupBy("m", "code", "i")
        .agg((sum(col("v")) / count(lit(1))).as("c"))
        .collect()
      means.foreach { r =>
        cents((r.getInt(0) * PqK + r.getLong(1).toInt) * PqSub + r.getInt(2)) =
          r.getDouble(3)
      }
    }
    cents
  }

  /** The staged PQ codebook (m, code, cv) — trained once per corpus and
    * durable in staging-dir mode; consumers collect its m·k rows back to a
    * flattened driver array for the codegen kernels. */
  private[graft] def pqCodebookOn(spark: org.apache.spark.sql.SparkSession, tag: String,
      base: DataFrame): DataFrame =
    graft.io.Staged(spark, s"pqCodebook$PqM/$PqK|$tag") {
      val cents = pqTrain(trainSample(base), tag, iters = 2)
      import spark.implicits._
      (for (sub <- 0 until PqM; j <- 0 until PqK) yield
        (sub, j, (0 until PqSub).map(i => cents((sub * PqK + j) * PqSub + i))))
        .toDF("m", "code", "cv")
    }

  private def pqCodebookArr(cb: DataFrame): Array[Double] = {
    val cents = new Array[Double](PqM * PqK * PqSub)
    cb.collect().foreach { r =>
      val off = (r.getInt(0) * PqK + r.getInt(1)) * PqSub
      val cv = r.getSeq[Double](2)
      var i = 0
      while (i < PqSub) { cents(off + i) = cv(i); i += 1 }
    }
    cents
  }

  /** One map-pass encode of `vecs` under a FIXED codebook: packed code
    * word + reconstruction norm (selected from the centroid-norm LUT by
    * the same ADC kernel).  No shuffle, no explode. */
  private def pqEncodeDf(spark: org.apache.spark.sql.SparkSession, vecs: DataFrame,
      cents: Array[Double], kernelTag: String): DataFrame = {
    val normLut = Array.tabulate(PqM * PqK) { mj =>
      (0 until PqSub).map(i => cents(mj * PqSub + i) * cents(mj * PqSub + i)).sum
    }
    vecs.select(col("vec_id"),
        graft.fns.PqExpressions.pqEncode(spark, col("qv"), cents, kernelTag,
          PqM, PqK, PqSub).as("cw"))
      .withColumn("anrm2", graft.fns.PqExpressions.pqScore(spark, col("cw"),
        typedLit(normLut.toSeq), PqM, PqK))
  }

  /** The staged packed-code artifact (vec_id, cw, anrm2): ONE long of code
    * word per vector — 8 bytes vs the 512-byte raw vector, the compression
    * that lets the ANN candidate pass scan a 100 TB corpus's codes without
    * touching its vectors. */
  private[graft] def pqCodesOn(spark: org.apache.spark.sql.SparkSession, tag: String,
      base: DataFrame): DataFrame = {
    val cents = pqCodebookArr(pqCodebookOn(spark, tag, base))
    graft.io.Staged(spark, s"pqCodes$PqM/$PqK|$tag") {
      pqEncodeDf(spark, base, cents, tag)
    }
  }

  /** Fold a new vector batch into the durable PQ artifacts with the day-1
    * codebook FROZEN — PQ is naturally incremental (encode is codebook
    * lookup only): day-N cost is one map pass over the BATCH plus one
    * union-republish, no retrain, no corpus re-encode.  Publishes the
    * frozen codebook and the merged codes under `newTag` through Staged's
    * atomic rename arbitration (readers of the previous artifact are
    * never disturbed; the version chain is append-only and crash-safe, as
    * with [[DedupIncr.compactIndex]]) — and because every PQ consumer
    * resolves artifacts by tag, `pqTopkOn(spark, newTag, combined, …)`
    * serves day-2 queries from the appended index with no rebuild.  The
    * result is bit-identical to encoding old ∪ batch under the same
    * codebook (spec-asserted), NOT to a from-scratch retrain: freezing
    * the quantizer is the standard vector-database contract, revisited
    * only by an offline re-index. */
  private[graft] def pqAppendOn(spark: org.apache.spark.sql.SparkSession, tag: String,
      newTag: String, base: DataFrame, batch: DataFrame): DataFrame = {
    val cb = pqCodebookOn(spark, tag, base)
    graft.io.Staged(spark, s"pqCodebook$PqM/$PqK|$newTag")(cb)
    val cents = pqCodebookArr(cb)
    graft.io.Staged(spark, s"pqCodes$PqM/$PqK|$newTag") {
      pqCodesOn(spark, tag, base)
        .unionByName(pqEncodeDf(spark, batch, cents, newTag))
    }
  }

  /** PQ/ADC ANN: score every packed code word against the query's m×k
    * lookup table (map-only over the codes artifact, LUTs broadcast), keep
    * the best `topR` per query via the exchange-light TopKPerGroup exec,
    * then exact-re-rank only those candidates' true vectors to top-5.
    * Approximate by construction => no SQL oracle; recall is gated in the
    * suite; BASELINE.md ("Product quantization") records the
    * million-vector measurements of the former PqStress driver (see git
    * history). */
  private[graft] def pqTopkOn(spark: org.apache.spark.sql.SparkSession, tag: String,
      base: DataFrame, topR: Int): DataFrame = {
    val codes = pqCodesOn(spark, tag, base)
    val cents = pqCodebookArr(pqCodebookOn(spark, tag, base))
    val luts = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"),
        graft.fns.PqExpressions.pqLuts(spark, col("qv"), cents, tag,
          PqM, PqK, PqSub).as("lut"))
    val scored = codes.crossJoin(broadcast(luts))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("ascore", graft.fns.PqExpressions.pqScore(spark, col("cw"), col("lut"),
        PqM, PqK) / sqrt(greatest(col("anrm2"), lit(1e-12))))
    val cand = graft.plans.TopKPerGroup(scored.select("qid", "vec_id", "ascore"),
      Seq("qid"), Seq(("ascore", false), ("vec_id", true)), topR)
      .select("qid", "vec_id")
    val qvecs = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid2"), col("qv").as("qq"), col("nrm").as("qn"))
    val sim = vecDot(spark, col("qq"), col("qv")).cast(DoubleType) /
      (sqrt(col("qn")) * sqrt(col("nrm")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    cand.join(base, "vec_id")
      .join(broadcast(qvecs), col("qid") === col("qid2"))
      .withColumn("sim", sim)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("vec_id").as("nid"), col("rn"), col("sim"))
  }

  /** Judged PQ ANN over the corpus embeddings (topR=64 candidates per
    * query before the exact re-rank). */
  val annPq: GraftQuery = GraftQuery.noOracle("q_llm_ann_pq") {
    (spark, sfDir) => pqTopkOn(spark, sfDir, quantized(spark, sfDir), topR = 64)
  }

  /** The staged RESIDUALS of the IVF coarse quantizer: each vector minus
    * its cell's centroid, re-quantized to scaled longs (the rounding is
    * < 1 part in 1e6 of unit scale).  This is what IVFADC actually
    * PQ-encodes: residual variance is a fraction of vector variance on
    * clustered data, so the 32-bit code spends its resolution on the
    * intra-cell geometry that actually ranks neighbors — raw-vector PQ
    * collapses every tight cluster to ONE code word and mass-ties the
    * ADC scores (measured: recall 0.56 isotropic → 0.000 clustered at
    * 1 M×64; the residual encoding below restores the clustered case). */
  private def ivfPqResidualsOn(spark: org.apache.spark.sql.SparkSession, tag: String,
      base: DataFrame): DataFrame = {
    val cells = ivfCellsOn(spark, tag, base)
    val cent = ivfCentroidsOn(spark, tag, base)
    graft.io.Staged(spark, s"ivfPqRes|$tag") {
      base.join(cells.withColumnRenamed("vec_id", "vid2"),
          col("vec_id") === col("vid2")).drop("vid2")
        .join(broadcast(cent), "cell")
        .select(col("vec_id"), col("cell"),
          zip_with(col("qv"), col("cv"),
            (x, c) => round(x.cast(DoubleType) - c).cast(LongType)).as("qv"))
    }
  }

  /** The staged IVF-PQ inverted file — the FAISS IVFADC layout: per
    * vector its coarse cell, the packed RESIDUAL code word, and the exact
    * reconstruction norm |c + r̂|² (= cnrm + 2·c·r̂ + |r̂|², the cross term
    * from a per-cell LUT selected by the same ADC kernel).  PUBLISHED
    * CLUSTERED BY cell, so in staging-dir mode a probe's pushed
    * `cell IN (…)` filter prunes the code scan to the probed cells via
    * parquet stats: the candidate pass over a 100 TB corpus reads
    * nprobe/k of an artifact that is itself ~1.6% of the vectors. */
  /** One encode pass of residual rows (vec_id, cell, qv) under frozen
    * codebooks: packed residual code word + exact reconstruction norm
    * |c + r̂|² = cnrm + 2·c·r̂ + |r̂|², the cross term from a per-cell LUT
    * (dlut[cell][m·k+j] = c_cell,m · r_mj — k coarse cells × m·k entries,
    * built on the driver from the two tiny codebooks and broadcast back)
    * and the last term from the residual-norm LUT, both selected by the
    * same ADC kernel. */
  private def ivfPqEncodeDf(spark: org.apache.spark.sql.SparkSession, res: DataFrame,
      rcArr: Array[Double], cent: DataFrame, kernelTag: String): DataFrame = {
    val nlut = Array.tabulate(PqM * PqK) { mj =>
      (0 until PqSub).map(i => rcArr(mj * PqSub + i) * rcArr(mj * PqSub + i)).sum
    }
    val dlutRows = cent.collect().map { r =>
      val cv = r.getSeq[Double](1)
      val dlut = Array.tabulate(PqM * PqK) { mj =>
        val m = mj / PqK
        (0 until PqSub).map(i => cv(m * PqSub + i) * rcArr(mj * PqSub + i)).sum
      }
      (r.getLong(0), r.getDouble(2), dlut.toSeq)
    }.toSeq
    import spark.implicits._
    val dlutDf = dlutRows.toDF("cell", "cnrm", "dlut")
    res.select(col("vec_id"), col("cell"),
        graft.fns.PqExpressions.pqEncode(spark, col("qv"), rcArr, kernelTag,
          PqM, PqK, PqSub).as("cw"))
      .join(broadcast(dlutDf), "cell")
      .withColumn("anrm2", col("cnrm")
        + lit(2.0) * graft.fns.PqExpressions.pqScore(spark, col("cw"), col("dlut"), PqM, PqK)
        + graft.fns.PqExpressions.pqScore(spark, col("cw"), typedLit(nlut.toSeq), PqM, PqK))
      .select("vec_id", "cell", "cw", "anrm2")
  }

  private[graft] def ivfPqCodesOn(spark: org.apache.spark.sql.SparkSession, tag: String,
      base: DataFrame): DataFrame = {
    val res = ivfPqResidualsOn(spark, tag, base)
    val rcArr = pqCodebookArr(pqCodebookOn(spark, s"$tag|res", res))
    val cent = ivfCentroidsOn(spark, tag, base)
    graft.io.Staged(spark, s"ivfPqCodes$PqM/$PqK|$tag") {
      ivfPqEncodeDf(spark, res, rcArr, cent, s"$tag|res")
        .repartitionByRange(col("cell"))
        .sortWithinPartitions("cell")
    }
  }

  /** Fold a new vector batch into the IVFADC artifacts with BOTH
    * quantizers frozen: one broadcast argmax pass assigns the batch to
    * the day-1 coarse centroids, one map pass residual-encodes it under
    * the day-1 residual codebook (reconstruction norms from the same
    * LUTs), and the merged inverted file republishes clustered by cell
    * under `newTag` — alongside frozen copies of the centroid/assignment/
    * residual/codebook artifacts, so `ivfPqTopkOn(spark, newTag,
    * combined, …)` serves day-2 queries with probe-prune intact and no
    * retrain and no corpus re-encode.  As with [[pqAppendOn]], the
    * result for day-1 vectors is bit-identical to their day-1 rows
    * (spec-asserted): accretion never drifts the index. */
  private[graft] def ivfPqAppendOn(spark: org.apache.spark.sql.SparkSession, tag: String,
      newTag: String, base: DataFrame, batch: DataFrame): DataFrame = {
    val cent = ivfCentroidsOn(spark, tag, base)
    graft.io.Staged(spark, s"ivfCent|$newTag")(cent)
    val batchCells = assignCells(batch, cent).select("vec_id", "cell")
    graft.io.Staged(spark, s"ivfCells|$newTag") {
      ivfCellsOn(spark, tag, base).unionByName(batchCells)
    }
    val batchRes = batch
      .join(batchCells.withColumnRenamed("vec_id", "vid2").withColumnRenamed("cell", "bcell"),
        col("vec_id") === col("vid2")).drop("vid2")
      .join(broadcast(cent), col("bcell") === col("cell"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("qv"), col("cv"),
          (x, c) => round(x.cast(DoubleType) - c).cast(LongType)).as("qv"))
    graft.io.Staged(spark, s"ivfPqRes|$newTag") {
      ivfPqResidualsOn(spark, tag, base).unionByName(batchRes)
    }
    val rcb = pqCodebookOn(spark, s"$tag|res", ivfPqResidualsOn(spark, tag, base))
    graft.io.Staged(spark, s"pqCodebook$PqM/$PqK|$newTag|res")(rcb)
    val rcArr = pqCodebookArr(rcb)
    graft.io.Staged(spark, s"ivfPqCodes$PqM/$PqK|$newTag") {
      ivfPqCodesOn(spark, tag, base)
        .unionByName(ivfPqEncodeDf(spark, batchRes, rcArr, cent, s"$newTag|res"))
        .repartitionByRange(col("cell"))
        .sortWithinPartitions("cell")
    }
  }

  /** IVF-PQ (IVFADC) ANN: the two pruning mechanisms composed — the IVF
    * coarse quantizer picks WHICH cells are scanned (nprobe of k, pushed
    * `cell IN` prune), PQ/ADC bounds WHAT is read per surviving vector
    * (one 8-byte residual code word scored by m table adds).  The ADC
    * dot decomposes as q·x̂ = q·c_cell + q·r̂: the first term rides along
    * from the centroid probe, the second is the residual-LUT sum.
    * Candidates re-rank exactly from the true vectors, as everywhere in
    * the ANN family. */
  private[graft] def ivfPqTopkOn(spark: org.apache.spark.sql.SparkSession, tag: String,
      base: DataFrame, nprobe: Int, topR: Int, prune: Boolean = true): DataFrame = {
    val indexed = ivfPqCodesOn(spark, tag, base)
    val cent = ivfCentroidsOn(spark, tag, base)
    val rcArr = pqCodebookArr(
      pqCodebookOn(spark, s"$tag|res", ivfPqResidualsOn(spark, tag, base)))
    val qdot = graft.fns.VecExpressions.numVecDot(spark, col("qq"), col("cv"))
    val cellRank = Window.partitionBy(col("qid"))
      .orderBy((qdot / sqrt(col("cnrm"))).desc, col("cell"))
    val probed = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("qv").as("qq"))
      .crossJoin(broadcast(cent))
      .withColumn("qcdot", qdot.cast(DoubleType))
      .withColumn("cr", row_number().over(cellRank))
      .filter(col("cr") <= nprobe)
      .select(col("qid"), col("cell").as("pcell"), col("qcdot"))
    val scanned =
      if (!prune) indexed
      else {
        val pcells = probed.select(col("pcell")).distinct()
          .limit(ProbePruneCap + 1).collect().map(_.getLong(0))
        if (pcells.length > ProbePruneCap) indexed
        else indexed.filter(col("cell").isin(pcells.map(Long.box): _*))
      }
    val luts = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid2"),
        graft.fns.PqExpressions.pqLuts(spark, col("qv"), rcArr, s"$tag|res",
          PqM, PqK, PqSub).as("lut"))
    val scored = scanned.join(broadcast(probed), col("cell") === col("pcell"))
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(luts), col("qid") === col("qid2"))
      .withColumn("ascore",
        (col("qcdot") + graft.fns.PqExpressions.pqScore(spark, col("cw"), col("lut"),
          PqM, PqK)) / sqrt(greatest(col("anrm2"), lit(1e-12))))
    val cand = graft.plans.TopKPerGroup(scored.select("qid", "vec_id", "ascore"),
      Seq("qid"), Seq(("ascore", false), ("vec_id", true)), topR)
      .select("qid", "vec_id")
    val qvecs = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid3"), col("qv").as("qq"), col("nrm").as("qn"))
    val sim = vecDot(spark, col("qq"), col("qv")).cast(DoubleType) /
      (sqrt(col("qn")) * sqrt(col("nrm")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    cand.join(base, "vec_id")
      .join(broadcast(qvecs), col("qid") === col("qid3"))
      .withColumn("sim", sim)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("vec_id").as("nid"), col("rn"), col("sim"))
  }

  /** Judged IVF-PQ ANN (nprobe=2 cells, topR=64 ADC candidates). */
  val annIvfPq: GraftQuery = GraftQuery.noOracle("q_llm_ann_ivfpq") {
    (spark, sfDir) => ivfPqTopkOn(spark, sfDir, quantized(spark, sfDir),
      nprobe = 2, topR = 64)
  }

  /** Multimodal join: text + embedding modalities co-located by id; the
    * output row carries scalar metadata from both. */
  val multimodalJoin: GraftQuery = GraftQuery("q_llm_multimodal_join",
    """SELECT doc_id, lang, source, n_chars, label,
      |  CAST(len(embedding) AS BIGINT) AS dim,
      |  list_dot_product(
      |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)),
      |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)))
      |    / 1000000000000.0 AS norm2
      |FROM documents JOIN embeddings ON doc_id = vec_id""".stripMargin) { (spark, sfDir) =>
    val qv = transform(col("embedding"), x => round(x.cast(DoubleType) * 1000000).cast(LongType))
    val e = embeddings(spark, sfDir).select(col("vec_id"), col("label"),
      size(col("embedding")).cast(LongType).as("dim"),
      (vecDot(spark, qv, qv).cast(DoubleType) / lit(1000000000000.0)).as("norm2"))
    documents(spark, sfDir).select("doc_id", "lang", "source", "n_chars")
      .join(e, col("doc_id") === col("vec_id"))
      .select("doc_id", "lang", "source", "n_chars", "label", "dim", "norm2")
  }

  /** Per-vector int8 quantization — the vector-database compression step:
    * each embedding is scaled by its own max-abs to the [-127, 127] range
    * (amax emitted as a scaled integer, codes as a CSV string per the
    * array-output convention).  Every step is IEEE basic arithmetic on
    * identical inputs plus a positive-value round, so both engines agree
    * bit-for-bit; at 100 TB this is a map-only pass that cuts vector
    * storage 4× ahead of the ANN index build. */
  val embedQuantize: GraftQuery = GraftQuery("q_llm_quantize",
    """WITH a AS (
      |  SELECT vec_id, embedding,
      |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
      |  FROM embeddings)
      |SELECT vec_id,
      |  CAST(round(amax * 1000000, 0) AS BIGINT) AS amax_micro,
      |  array_to_string(list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 127 / amax, 0) AS BIGINT)), ',') AS q8
      |FROM a WHERE amax > 0""".stripMargin) { (spark, sfDir) =>
    embeddings(spark, sfDir)
      .withColumn("amax",
        array_max(transform(col("embedding"), x => abs(x.cast(DoubleType)))))
      .filter(col("amax") > 0)
      .select(col("vec_id"),
        round(col("amax") * 1000000, 0).cast(LongType).as("amax_micro"),
        concat_ws(",", transform(col("embedding"),
          x => round(x.cast(DoubleType) * 127 / col("amax"), 0).cast(LongType)
            .cast(StringType))).as("q8"))
  }

  val all: Seq[GraftQuery] =
    Seq(similarityTopk, annIvf, annLsh, annPq, annIvfPq, multimodalJoin, embedQuantize)
}
