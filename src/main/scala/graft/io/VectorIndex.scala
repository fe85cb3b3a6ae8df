package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** EXACT k-NN search over a versioned embedding table with metadata
  * pruning — the branch-and-bound alternative to approximate ANN when
  * the answer must be the true top-k (eval-set contamination checks,
  * nearest-duplicate adjudication, legal/audit retrieval).
  *
  * [[commitClustered]] k-means-clusters the vectors into per-cell data
  * dirs and records, INSIDE each dir, a `_vec.json` sidecar holding the
  * cell's centroid direction and its minimum member cosine (the cell's
  * angular radius).  [[searchTopk]] then runs two phases: (1) scan each
  * query's most-aligned cell to get a kth-best similarity floor, and
  * (2) scan only the cells whose angular bound could still beat that
  * floor — for any member x of a cell with centroid c and angular
  * radius α, cos(q,x) ≤ cos(max(0, θ(q,c) − α)), the spherical
  * triangle inequality.  Every other cell is provably unable to hold a
  * top-k neighbor, so skipping it cannot change the answer: the result
  * is bit-identical to the brute-force scan (the final re-rank uses the
  * same exact integer-dot arithmetic) while reading a fraction of the
  * dirs.  Sidecars ride inside their dirs — carried by clones and
  * branches, reclaimed by vacuum, invisible to parquet scans; dirs
  * without one (plain appends) are read unconditionally, so composition
  * degrades to extra reads, never to a wrong neighbor.
  *
  * The 100 TB shape: centroid metadata is O(cells × dim) on the driver,
  * the phase scans are ordinary pruned dir reads, and clustering cost
  * amortizes exactly like any other layout decision (train on a sample,
  * assign in one map pass). */
object VectorIndex {

  import graft.fns.VecExpressions.vecDot

  private final case class Meta(cv: Array[Double], cnrm: Double, minCos: Double)

  /** Cluster `base` (vec_id, qv: array<long>, nrm: double) into `cells`
    * k-means cells and commit one data dir per non-empty cell, each
    * carrying its centroid/radius sidecar.  Snapshot semantics (the
    * manifest is exactly these dirs), like [[Versioned.commit]]. */
  def commitClustered(spark: SparkSession, root: String, base: DataFrame,
      cells: Int = 16, iters: Int = 2): Int = {
    require(Seq("vec_id", "qv", "nrm").forall(base.columns.contains),
      "vector table needs (vec_id, qv, nrm)")
    require(!base.columns.contains("_c"),
      "column _c collides with the cell partitioner")
    require(!base.columns.contains("cell"),
      "column cell collides with the assignment")
    // PAYLOAD columns (label, lang, ts, ...) ride along into the cell
    // dirs untouched — what makes FILTERED kNN (see searchTopkFor's
    // pred) answerable inside the per-cell scan instead of by
    // over-fetching and post-filtering
    val b = base.select(col("vec_id"), col("qv"), col("nrm"))
    // train on a bounded sample, assign the full corpus in one map pass
    // AGAINST THE FINAL centroids — the sidecar bounds below are measured
    // from this same assignment, so they hold whatever the trainer did
    val (_, cent) = graft.llm.Similarity.kmeans(
      graft.llm.Similarity.trainSample(b), cells, iters)
    val assigned = graft.llm.Similarity.assignCells(b, cent)
      .select(col("vec_id"), col("cell"))
    val rows = base.join(assigned, "vec_id")
    val (rels, rowsMap) = writeAssigned(spark, root, rows, cent)
    Versioned.publish(spark, root, _ => rels, precomputedRows = rowsMap,
      op = "commit")
  }

  /** The shared write path of [[commitClustered]] and
    * [[commitAppendAssigned]]: land `rows` (vec_id, qv, nrm, cell) as
    * one `partitionBy(_c)` write, measure each cell's angular radius +
    * row count in ONE job against the broadcast centroids, and drop a
    * `_vec.json` sidecar into every non-empty cell dir.  Returns
    * (manifest dirs, per-dir row counts). */
  private def writeAssigned(spark: SparkSession, root: String,
      rows: DataFrame, cent: DataFrame): (Seq[String], Map[String, Long]) = {
    val rel = s"data/${java.util.UUID.randomUUID()}"
    rows.withColumn("_c", col("cell")).drop("cell")
      .repartition(col("_c"))
      .write.mode("errorifexists").partitionBy("_c").parquet(s"$root/$rel")
    val bp = new org.apache.hadoop.fs.Path(s"$root/$rel")
    val rels = Versioned.fs(spark, bp).listStatus(bp).filter(_.isDirectory)
      .map(st => s"$rel/${st.getPath.getName}").sorted.toSeq
    // leaf files carry rows' columns minus the cell/_c partitioner —
    // cache so later cell reads skip footer inference
    val leafSchema = org.apache.spark.sql.types.StructType(
      rows.schema.fields.filterNot(f => f.name == "cell" || f.name == "_c"))
    rels.foreach(d => Versioned.cacheDirSchema(Versioned.dataPath(root, d), leafSchema))
    // per-cell angular radius + row count in ONE job — over the STAGED
    // FILES the write just flushed (explicit schema, `_c` = the cell
    // partitioner), NOT a second evaluation of the assignment plan: the
    // assignment chain (centroid cross-join + argmax agg + corpus join)
    // used to re-run in full for this measurement, rebuilding its
    // broadcasts as extra jobs.  One columnar read-back of what was just
    // written measures exactly the same rows.
    val qdot = graft.fns.VecExpressions.numVecDot(spark, col("qv"), col("cv"))
    val staged = spark.read.schema(org.apache.spark.sql.types.StructType(
        leafSchema.fields :+ org.apache.spark.sql.types.StructField("_c",
          org.apache.spark.sql.types.LongType)))
      .parquet(s"$root/$rel")
    val stats = staged.select(col("_c").as("cell"), col("qv"), col("nrm"))
      .join(broadcast(cent), "cell")
      .withColumn("cos", qdot / (sqrt(col("nrm")) * sqrt(col("cnrm"))))
      .groupBy(col("cell"))
      .agg(min(col("cos")).as("minCos"), count(lit(1)).as("n"))
      .collect().map(r => r.get(0).toString ->
        (r.getDouble(1), r.getLong(2))).toMap
    val cents = cent.collect().map { r =>
      r.get(0).toString ->
        (r.getSeq[Double](1).toArray, r.getDouble(2))
    }.toMap
    val rowsMap = rels.map { d =>
      val cell = d.substring(d.lastIndexOf("=") + 1)
      d -> stats.get(cell).map(_._2).getOrElse(0L)
    }.toMap
    rels.foreach { d =>
      val cell = d.substring(d.lastIndexOf("=") + 1)
      (cents.get(cell), stats.get(cell)) match {
        case (Some((cv, cnrm)), Some((minCos, _))) =>
          val p = new org.apache.hadoop.fs.Path(s"$root/$d/_vec.json")
          val out = Versioned.fs(spark, p).create(p, false)
          val json = s"""{"cv":[${cv.mkString(",")}],"cnrm":$cnrm,"minCos":$minCos}"""
          try out.write(json.getBytes("UTF-8")) finally out.close()
        case _ => () // a cell the trainer kept but assignment left empty
      }
    }
    (rels, rowsMap)
  }

  /** Incremental ingest: assign `batch` rows to the EXISTING cell
    * centroids (read from the head's sidecars) and append one new dir
    * per touched cell — each with the inherited centroid direction but
    * its OWN freshly measured angular radius, so the bounds stay tight
    * on exactly the rows the dir holds.  No rewrite, no retrain: the
    * day-2 shape of a 100 TB vector corpus is appends that cost
    * O(batch), while [[searchTopk]] keeps its exactness guarantee
    * because every dir's sidecar bounds its own members.  Re-clustering
    * (a fresh [[commitClustered]]) is the compaction knob when drift
    * makes the inherited centroids loose. */
  def commitAppendAssigned(spark: SparkSession, root: String, batch: DataFrame): Int = {
    require(Seq("vec_id", "qv", "nrm").forall(batch.columns.contains),
      "vector table needs (vec_id, qv, nrm)")
    val head = Versioned.currentVersion(spark, root)
    require(head >= 1, s"no committed version at $root; bootstrap with commitClustered")
    val centDirs = Versioned.manifest(spark, root, head)
      .flatMap(d => metaOf(spark, root, d).map(m => (d, m)))
    require(centDirs.nonEmpty,
      s"$root carries no _vec.json sidecars; bootstrap with commitClustered")
    // distinct centroid DIRECTIONS become the assignment cells (dirs from
    // different appends share their cell's centroid verbatim)
    val cents = centDirs.map(_._2).map(m => (m.cv.toSeq, m.cnrm)).distinct
    import spark.implicits._
    val centDf = cents.zipWithIndex
      .map { case ((cv, cnrm), i) => (i.toLong, cv, cnrm) }
      .toDF("cell", "cv", "cnrm")
    require(!batch.columns.contains("_c") && !batch.columns.contains("cell"),
      "columns _c/cell collide with the cell partitioner")
    val b = batch.select(col("vec_id"), col("qv"), col("nrm"))
    val assigned = graft.llm.Similarity.assignCells(b, centDf)
      .select(col("vec_id"), col("cell"))
    val rows = batch.join(assigned, "vec_id") // payload columns ride along
    val (rels, rowsMap) = writeAssigned(spark, root, rows, centDf)
    Versioned.publish(spark, root, _.dirs ++ rels,
      precomputedRows = rowsMap, op = "append")
  }

  /** RE-INDEX: restore kNN pruning after ingest decay, without the full
    * retrain of a fresh [[commitClustered]].  Two decay modes, one knob:
    *
    *  - '''accretion''' — [[commitAppendAssigned]] lands one dir per
    *    touched cell per batch, so a year of daily ingest leaves ~365
    *    dirs per hot cell; search exactness never suffered (each dir
    *    bounds its own members) but phase-2 reads grow with the dir
    *    count.  Each multi-dir cell folds back to ONE dir with a fresh
    *    angular radius over the union — rows KEEP their cell, so the
    *    fold is O(accreted cells' data) and touches nothing healthy.
    *  - '''orphaned dirs''' — a non-vector rewrite path (e.g.
    *    [[Versioned.optimizeSmall]]) that folded cell dirs destroyed
    *    their `_vec.json` sidecars; search legally degrades to reading
    *    those dirs always.  Orphan rows must MOVE into cells to become
    *    prunable again, so their presence triggers a full re-land:
    *    every row reassigned to its nearest existing centroid, one dir
    *    per cell (exactness is indifferent to WHICH cell a row lands
    *    in — every dir's sidecar is measured from the rows it actually
    *    holds — so reassignment is safe and tightest).
    *
    * Deletion vectors on folded dirs retire with the fold (the read is
    * DV-applied); concurrent commits follow the [[Versioned.optimizeSmall]]
    * abort discipline — a fold dir replaced or newly vectored underneath
    * aborts and reclaims the staged fold.  Returns None when the layout
    * is already one healthy dir per cell (the steady state — safe to
    * run after every batch), or when NO sidecar survives anywhere (no
    * centroids to restore against: rebuild with [[commitClustered]]). */
  def optimizeCells(spark: SparkSession, root: String): Option[Int] = {
    val head0 = Versioned.currentVersion(spark, root)
    require(head0 >= 1, s"no committed version at $root")
    val h0 = Versioned.record(spark, root, head0)
    val dirs0 = h0.dirs
    val metas = dirs0.map(d => d -> metaOf(spark, root, d))
    val withMeta = metas.collect { case (d, Some(m)) => (d, m) }
    val orphans = metas.collect { case (d, None) => d }
    if (withMeta.isEmpty) return None // no surviving centroid: full rebuild territory
    val groups: Seq[(Seq[Double], Seq[(String, Meta)])] =
      withMeta.groupBy(_._2.cv.toSeq).map { case (cv, g) => cv -> g.toSeq }.toSeq
    val multi = groups.filter(_._2.size >= 2)
    if (multi.isEmpty && orphans.isEmpty) return None
    import spark.implicits._
    val cents = groups.map { case (cv, g) => (cv, g.head._2.cnrm) }
    val centDf = cents.zipWithIndex
      .map { case ((cv, cnrm), i) => (i.toLong, cv, cnrm) }
      .toDF("cell", "cv", "cnrm")
    val cellOf: Map[Seq[Double], Long] =
      cents.zipWithIndex.map { case ((cv, _), i) => cv -> i.toLong }.toMap
    val fold: Seq[String] =
      if (orphans.nonEmpty) dirs0
      else multi.flatMap(_._2.map(_._1))
    val rows =
      if (orphans.nonEmpty) {
        // full re-land: nearest-centroid assignment in one map pass
        // (payload columns ride the fold untouched)
        val full = Versioned.readDirs(spark, root, head0, fold)
        val b = full.select(col("vec_id"), col("qv"), col("nrm"))
        full.join(graft.llm.Similarity.assignCells(b, centDf)
          .select(col("vec_id"), col("cell")), "vec_id")
      } else
        // accretion fold: rows keep their dir's cell — nothing moves
        // between cells, so healthy cells stay untouched.  ONE scan leg
        // per CELL (a group's dirs share the literal), not per dir: a
        // year of daily accretion is ~365 dirs per hot cell, and a
        // per-dir union would blow up the plan on the driver.
        multi.map { case (cv, g) =>
          Versioned.readDirs(spark, root, head0, g.map(_._1))
            .withColumn("cell", lit(cellOf(cv)))
        }.reduce(_.unionByName(_))
    val (rels, rowsMap) = writeAssigned(spark, root, rows, centDf)
    val foldSet = fold.toSet
    val v = Versioned.publishRecord(spark, root,
      head => {
        val ht = Versioned.record(spark, root, head)
        Versioned.extraFields(spark, root, ht, ht.dirs.filterNot(foldSet) ++ rels, None,
          precomputedRows = rowsMap)
      },
      abortIf = head => Versioned.rewriteConflicts(spark, root, head, h0, fold))
    if (v.isEmpty && rels.nonEmpty) { // aborted: reclaim the staged fold
      val p = new org.apache.hadoop.fs.Path(
        Versioned.dataPath(root, rels.head.split("/").take(2).mkString("/")))
      Versioned.fs(spark, p).delete(p, true)
    }
    v
  }

  private def metaOf(spark: SparkSession, root: String, d: String): Option[Meta] = {
    val p = new org.apache.hadoop.fs.Path(s"${Versioned.dataPath(root, d)}/_vec.json")
    val f = Versioned.fs(spark, p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      val cv = """"cv":\[([^\]]*)\]""".r.findFirstMatchIn(txt).get
        .group(1).split(",").map(_.toDouble)
      val cnrm = """"cnrm":([-0-9.eE]+)""".r.findFirstMatchIn(txt).get.group(1).toDouble
      val minCos = """"minCos":([-0-9.eE]+)""".r.findFirstMatchIn(txt).get.group(1).toDouble
      Some(Meta(cv, cnrm, minCos))
    }
  }

  /** Exact top-`k` cosine neighbors (excluding self) for the query rows
    * `vec_id < nQueries` of version `v`, reading only the dirs the
    * angular bounds cannot rule out.  Output (qid, nid, rn, sim) equals
    * the brute-force scan bit-for-bit. */
  def searchTopk(spark: SparkSession, root: String, v: Int,
      k: Int = 5, nQueries: Int = 10,
      pred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val queries = Versioned.readAt(spark, root, v)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("qv"), col("nrm"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getDouble(2)))
    searchTopkFor(spark, root, v, queries, k, pred)
  }

  /** [[searchTopk]] with caller-supplied query vectors — the deployment
    * shape (queries rarely live in the corpus), and what the bounded
    * phases cost without the convention's query-row scan.
    *
    * FILTERED kNN: `pred` is a row predicate over the corpus table's
    * columns (the payload columns [[commitClustered]] carries — "top-k
    * neighbors WHERE lang = 'en'", the RAG staple), applied INSIDE each
    * per-cell scan BEFORE the kth-best floor is taken.  Exactness is
    * untouched: a cell's angular upper bound holds for every member, so
    * it holds for the filtered subset, and a floor measured on filtered
    * rows is only ever LOWER than the unfiltered one — pruning stays
    * conservative.  An under-filled promising cell (fewer than k
    * matches) leaves its query's floor at -2, so every other cell
    * survives the bound test and the search WIDENS instead of returning
    * short — post-filtering a fixed over-fetch cannot promise that. */
  def searchTopkFor(spark: SparkSession, root: String, v: Int,
      queries: Array[(Long, Array[Long], Double)], k: Int = 5,
      pred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val dirs = Versioned.manifest(spark, root, v)
    val metas: Map[String, Option[Meta]] =
      dirs.map(d => d -> metaOf(spark, root, d)).toMap
    require(queries.nonEmpty, "no query vectors supplied")
    import spark.implicits._
    val qDf = broadcast(queries.toSeq
      .toDF("qid", "qq", "qn"))

    def topkOver(ds: Seq[String]): DataFrame = {
      val scanned = Versioned.readDirs(spark, root, v, ds)
      val base = pred.map(scanned.filter).getOrElse(scanned)
        .select(col("vec_id"), col("qv"), col("nrm"))
      val sim = vecDot(spark, col("qq"), col("qv")).cast(DoubleType) /
        (sqrt(col("qn")) * sqrt(col("nrm")))
      val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
      base.join(qDf, col("vec_id") =!= col("qid"))
        .withColumn("sim", sim)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= k)
        .select(col("qid"), col("vec_id").as("nid"), col("rn"), col("sim"))
    }

    def clamp(x: Double) = math.max(-1.0, math.min(1.0, x))
    def cosTo(q: (Long, Array[Long], Double), m: Meta): Double = {
      var dot = 0.0; var i = 0
      while (i < q._2.length) { dot += q._2(i) * m.cv(i); i += 1 }
      dot / (math.sqrt(q._3) * math.sqrt(m.cnrm))
    }
    // spherical triangle inequality: no member of the cell can be more
    // aligned with q than the cell's edge nearest q.  Computed in COSINE
    // space — cos(θ−α) = cosθ·cosα + sinθ·sinα — never through acos,
    // which is ill-conditioned near ±1: ~1e-15 rounding in cosTo (double
    // centroid means, different summation order than the executor floor)
    // would inflate to ~1e-7 through acos∘cos and could falsely prune a
    // cell holding a true top-k neighbor.  The expansion's own error is
    // a few ulps except when 1−cos² cancels near ±1, where it stays
    // under ~1e-9; the comparison slack below covers it with margin.
    def upperBound(q: (Long, Array[Long], Double), m: Meta): Double = {
      val cosT = clamp(cosTo(q, m))
      val cosA = clamp(m.minCos)
      if (cosT >= cosA) 1.0
      else cosT * cosA +
        math.sqrt(math.max(0.0, (1 - cosT * cosT) * (1 - cosA * cosA)))
    }

    val unpruned = dirs.filter(d => metas(d).isEmpty) // no sidecar: must read
    val withMeta = dirs.filter(d => metas(d).isDefined)
    // a table whose every dir lost its sidecar (full compaction through
    // a non-vector path) degrades to the documented conservative scan
    if (withMeta.isEmpty) return topkOver(dirs)
    val phase1 = (unpruned ++ queries.map(q =>
      withMeta.maxBy(d => cosTo(q, metas(d).get)))).distinct
    // kth-best floor per query from the most promising dirs alone
    val floors: Map[Long, Double] = topkOver(phase1)
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n"), min(col("sim")).as("kth"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.getLong(1) >= k) r.getDouble(2) else -2.0))
      .toMap
    val survivors = withMeta.filterNot(phase1.contains).filter { d =>
      val m = metas(d).get
      queries.exists { q =>
        // 1e-6 slack (was 1e-9): a false KEEP costs one extra dir read;
        // a false prune breaks the bit-identical-to-brute-force contract.
        // 1e-6 dominates every driver-side rounding path by ≥3 orders
        // while staying far below real inter-cell bound gaps.
        upperBound(q, m) > floors.getOrElse(q._1, -2.0) - 1e-6
      }
    }
    topkOver(phase1 ++ survivors)
  }

  /** Judged query: exact k-NN through the clustered table + angular
    * bounds — must equal the brute-force oracle bit-for-bit (same
    * quantized integer dot products, same tie order). */
  val tableKnnExact: graft.GraftQuery = graft.GraftQuery("q_table_knn_exact",
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
    val root = graft.streaming.StreamSink.newRunDir()
    val base = graft.llm.Similarity.quantized(spark, sfDir)
      .select(col("vec_id"), col("qv"), col("nrm"))
    commitClustered(spark, root, base, cells = 16)
    searchTopk(spark, root, Versioned.currentVersion(spark, root))
  }

  /** Judged query: the incremental lifecycle — bootstrap clustering on
    * 80% of the corpus, one assigned append of the rest — searched
    * exactly.  Same brute-force oracle: appends must not cost recall
    * (here: must not cost ANYTHING — the answer is exact). */
  val tableKnnIncr: graft.GraftQuery = graft.GraftQuery("q_table_knn_incr",
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
    val root = graft.streaming.StreamSink.newRunDir()
    val base = graft.llm.Similarity.quantized(spark, sfDir)
      .select(col("vec_id"), col("qv"), col("nrm"))
    val n = base.count()
    val cut = lit(n * 4 / 5)
    commitClustered(spark, root, base.filter(col("vec_id") < cut), cells = 16)
    commitAppendAssigned(spark, root, base.filter(col("vec_id") >= cut))
    searchTopk(spark, root, Versioned.currentVersion(spark, root))
  }

  /** Judged query: the RE-INDEX lifecycle — bootstrap clustering on 60%
    * of the corpus, two assigned appends (accreting up to 3 dirs per hot
    * cell), then [[optimizeCells]] folds each cell back to one dir with
    * a fresh angular radius.  In-query assertions: the fold strictly
    * shrinks the manifest, and the post-fold search READS no more dirs
    * than the accreted search did.  Same brute-force oracle as
    * q_table_knn_exact: the fold must not move a single neighbor. */
  val tableKnnOptimize: graft.GraftQuery = graft.GraftQuery("q_table_knn_optimize",
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
    val root = graft.streaming.StreamSink.newRunDir()
    val base = graft.llm.Similarity.quantized(spark, sfDir)
      .select(col("vec_id"), col("qv"), col("nrm"))
    val n = base.count()
    val (c1, c2) = (lit(n * 3 / 5), lit(n * 4 / 5))
    commitClustered(spark, root, base.filter(col("vec_id") < c1), cells = 16)
    commitAppendAssigned(spark, root,
      base.filter(col("vec_id") >= c1 && col("vec_id") < c2))
    commitAppendAssigned(spark, root, base.filter(col("vec_id") >= c2))
    val vPre = Versioned.currentVersion(spark, root)
    def nDirs(df: DataFrame): Int =
      df.inputFiles.map(f => f.split("/").dropRight(1).mkString("/")).distinct.length
    val preDirs = nDirs(searchTopk(spark, root, vPre))
    val vf = optimizeCells(spark, root).get
    require(Versioned.manifest(spark, root, vf).size <
      Versioned.manifest(spark, root, vPre).size,
      "the fold must strictly shrink the manifest")
    val out = searchTopk(spark, root, vf)
    require(nDirs(out) <= preDirs,
      s"post-fold search must read <= pre-fold dirs (${nDirs(out)} vs $preDirs)")
    out
  }

  /** Judged query: FILTERED exact kNN — "top-k neighbors WHERE label=1",
    * the RAG-retrieval staple.  The corpus lands clustered WITH its
    * payload column; the predicate is applied inside each per-cell scan
    * BEFORE the kth-best floor, so under-filled cells widen the search
    * (see [[searchTopkFor]]) and the answer equals the brute-force
    * filtered oracle bit-for-bit — no over-fetch-and-post-filter
    * heuristics, no recall loss. */
  val tableKnnFiltered: graft.GraftQuery = graft.GraftQuery("q_table_knn_filtered",
    """WITH q AS (SELECT vec_id, label,
      |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS qv
      |  FROM embeddings),
      |n AS (SELECT vec_id, label, qv, list_dot_product(qv, qv) AS nrm FROM q)
      |SELECT qid, nid, rn, sim FROM (
      |  SELECT a.vec_id AS qid, b.vec_id AS nid,
      |    list_dot_product(a.qv, b.qv) / (sqrt(a.nrm) * sqrt(b.nrm)) AS sim,
      |    row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_dot_product(a.qv, b.qv) / (sqrt(a.nrm) * sqrt(b.nrm)) DESC,
      |               b.vec_id) AS rn
      |  FROM n a, n b WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id AND b.label = 1)
      |WHERE rn <= 5""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val base = graft.llm.Similarity.quantized(spark, sfDir)
      .select(col("vec_id"), col("label"), col("qv"), col("nrm"))
    commitClustered(spark, root, base, cells = 16)
    val out = searchTopk(spark, root, Versioned.currentVersion(spark, root),
      pred = Some(col("label") === 1))
    out
  }

  val all: Seq[graft.GraftQuery] =
    Seq(tableKnnExact, tableKnnIncr, tableKnnOptimize, tableKnnFiltered)
}
