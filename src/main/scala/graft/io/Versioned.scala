package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Versioned tables — the lakehouse commit-log primitive a training-data
  * pipeline needs for reproducibility: "train run X read corpus version
  * 12" must stay answerable (and re-readable) after versions 13..N land.
  *
  * Layout under a table root:
  *
  * {{{
  *   <root>/data/<uuid>/part-*.parquet   immutable data dirs (+ _SUCCESS)
  *   <root>/log/v00012.json              one commit record per version
  * }}}
  *
  * A commit record is a dir-level MANIFEST: `{"version":12,
  * "dirs":["data/<uuid>", ...], "ts":<epochMs>}` plus, when the table
  * declares a zone-map column, per-dir `"stats"` [min,max] entries
  * ([[readRange]] prunes on them before any file listing), and the
  * `"batchId"` fence for streaming ingest.  [[Record]] is the one
  * definition of the format: writers build a `Record`, readers decode
  * each version's file once ([[record]]); its on-disk shape is the one
  * the log has always had, so every existing log reads unchanged.
  * Data dirs are write-once and never mutated or deleted by commits, so
  *
  *  - **time travel** is just reading an old manifest's dir list;
  *  - **append is O(new data)**: [[commitAppend]] writes ONLY the new
  *    rows' dir and records parent.dirs :+ newDir — at 100 TB the daily
  *    ingest never rewrites history (the same day-2 economics as the
  *    staged ANN/dedup indexes), while [[commit]] is the full-snapshot
  *    (compaction) path;
  *  - the manifest is O(#dirs) driver-side metadata, not O(rows).
  *
  * **Atomicity + concurrency**: the record is written to a temp file and
  * renamed into `log/vNNNNN.json` through `FileContext` — the
  * POSIX-strict API whose no-OVERWRITE rename THROWS if the destination
  * exists (the [[Staged]] publication discipline; `FileSystem.rename`
  * cannot arbitrate).  Exactly one writer lands any given version; a
  * loser re-resolves the new head and retries against it, so concurrent
  * committers serialize into consecutive versions and no update is lost
  * (optimistic concurrency, spec-driven by two racing threads).  Readers
  * only ever see fully-written manifests, and a crashed writer leaves an
  * orphan data dir that no manifest references — garbage, never
  * corruption.  On rename-is-copy object stores, set
  * `spark.graft.commitAdapter = create-exclusive` to claim version
  * slots with the store's atomic conditional-PUT instead of a rename
  * (see [[CommitAdapterConf]]), or front an atomic-commit layer, as
  * with [[Staged]].
  *
  * [[diff]] is the snapshot comparator (multiset `EXCEPT ALL` both ways,
  * tagged added/removed) — the review primitive for "what changed
  * between corpus v1 and v2" and the judged `q_table_diff` below. */
object Versioned {

  private[graft] def fs(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The CHECKSUM-FREE view of the filesystem, for the commit-log
    * records.  Hadoop's local FS is a ChecksumFileSystem: every file
    * gets a `.crc` sidecar, and a RENAME moves crc and data as two
    * separate operations — so two publishers racing the same version
    * can interleave as (loser renames crc) → (winner renames crc+data)
    * → (loser's data rename throws FileAlreadyExists), leaving the
    * WINNER's record bytes under the LOSER's checksum: every later read
    * of that version dies with ChecksumException (observed ~1-in-3 under
    * the threaded race specs).  Records are written raw — no sidecar, so
    * the FileContext rename is single-file atomic and the no-OVERWRITE
    * arbitration is airtight.  HDFS/object stores are unaffected (their
    * FileSystem is not a ChecksumFileSystem; checksums live below the
    * rename primitive). */
  private[io] def logFs(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    fs(spark, p) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }

  private def logDir(root: String) = new org.apache.hadoop.fs.Path(s"$root/log")

  private val V = """v(\d{5})\.json""".r

  /** The HEAD-HINT checkpoint: `log/_head` holds the version the last
    * publish landed (best-effort, atomic overwrite-rename).  Without it
    * every `currentVersion` call LISTS the whole log dir — O(versions)
    * per metadata op, the next "footer inference"-shaped tax on a
    * long-retention table at object-store latency.  With it the head
    * resolves in O(1 + lag) existence probes: verify the hinted record
    * exists, then probe forward until the first miss.  Probing forward
    * is SOUND because version slots are consecutive by construction
    * (publish always claims head+1) and nothing ever deletes records
    * from the TOP of the log — restore publishes a new version, vacuum
    * reclaims strictly from the bottom.  The hint can only be stale-LOW
    * (it is written after the record lands; a racing writer advances the
    * log before the hint), which the forward probe absorbs; a hint whose
    * record is missing (outside interference, log wiped) falls back to
    * the full listing.  A failed hint write never fails a publish. */
  private def headHintPath(ld: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(ld, "_head")

  private def writeHeadHint(spark: SparkSession,
      ld: org.apache.hadoop.fs.Path, v: Int): Unit =
    try {
      val f = logFs(spark, ld)
      val tmp = new org.apache.hadoop.fs.Path(ld,
        s"._head-${java.util.UUID.randomUUID()}")
      val out = f.create(tmp, false)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        ld.toUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, headHintPath(ld),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch { case NonFatal(_) => () } // a hint, never a publish failure

  private def readHeadHint(f: org.apache.hadoop.fs.FileSystem,
      ld: org.apache.hadoop.fs.Path): Int =
    try {
      val hp = headHintPath(ld)
      if (!f.exists(hp)) -1
      else {
        val in = f.open(hp)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        txt.trim.toInt
      }
    } catch { case NonFatal(_) => -1 } // unreadable hint = no hint

  /** Highest committed version, 0 if the table has none.  Resolves via
    * the `_head` hint (O(1 + lag) probes) when one is present and its
    * record exists; full log listing otherwise — identical answers. */
  def currentVersion(spark: SparkSession, root: String): Int = {
    val ld = logDir(root)
    val f = fs(spark, ld)
    val hinted = readHeadHint(f, ld)
    if (hinted >= 1 &&
        f.exists(new org.apache.hadoop.fs.Path(ld, f"v$hinted%05d.json"))) {
      var v = hinted
      while (f.exists(new org.apache.hadoop.fs.Path(ld, f"v${v + 1}%05d.json")))
        v += 1
      v
    } else if (!f.exists(ld)) 0
    else f.listStatus(ld).map(_.getPath.getName).collect {
      case V(n) => n.toInt
    }.foldLeft(0)(math.max)
  }

  /** Lowest SURVIVING log record (vacuum reclaims from the bottom), so
    * every log-scanning iterator must stop here, not at v1 — after a
    * retention sweep the records below the floor are gone and opening
    * them throws.  Returns 1 for an empty table, so both scan shapes —
    * `(floor to head)` and `(head to floor by -1)` — are empty ranges
    * when head == 0. */
  private[graft] def lowestVersion(spark: SparkSession, root: String, head: Int): Int = {
    val ld = logDir(root)
    val f = fs(spark, ld)
    if (head == 0 || !f.exists(ld)) 1
    else f.listStatus(ld).map(_.getPath.getName).collect { case V(n) => n.toInt }
      .foldLeft(head)(math.min)
  }

  /** ANSI-safe numeric view of a column: non-castable values become
    * NULL (counted by callers to void the stat) instead of throwing —
    * Spark 4 runs ANSI mode, where a plain cast on "x" kills the job. */
  private def tryLong(name: String): Column = expr(s"try_cast(`$name` AS BIGINT)")

  /** A 2-D zone map's pseudo stats column: `_z2(xCol,yCol,bits)` — the
    * Morton interleave of two coordinate columns.  Encoding the spec in
    * the statsCol string lets the ENTIRE 1-D manifest machinery (stats
    * carry-forward, per-dir measurement, inheritance) serve the 2-D map
    * unchanged; only the PRUNING test differs (see [[Zonemap2D]]). */
  private[graft] val Z2 = """_z2\(([^,()]+),([^,()]+),(\d+)\)""".r

  /** The row expression a stats column measures: the Morton code for a
    * `_z2(...)` pseudo column, the ANSI-safe long cast otherwise. */
  private[graft] def statsExpr(colName: String): Column = colName match {
    case Z2(x, y, b) => graft.rel.Relational7.zInterleave(col(x), col(y), b.toInt)
    case _           => tryLong(colName)
  }

  /** True rows are non-ignorable stat violations (a non-null value that
    * failed the cast).  Morton codes are pure arithmetic — null only
    * from null coordinates, which range filters drop anyway. */
  private def statsBad(colName: String, c: Column): Column = colName match {
    case Z2(_, _, _) => lit(false)
    case _           => c.isNull && col(colName).isNotNull
  }

  /** Resolve a manifest dir entry to a filesystem path.  Entries are
    * normally root-relative (`data/<uuid>`); a shallow CLONE (see
    * [[cloneAt]]) records ABSOLUTE paths into the source table's data
    * dirs — zero-copy by construction, and [[vacuum]] can never reclaim
    * them because it only sweeps under this table's own `data/`. */
  private[graft] def dataPath(root: String, d: String): String =
    if (d.startsWith("/") || d.contains(":/")) d
    else s"${root.stripSuffix("/")}/$d"

  /** Does `file` (a fully-qualified task-side file name) live inside
    * manifest dir `d` of `root`?  Handles both relative and absolute
    * (clone) entries. */
  private def fileInDir(root: String, file: String, d: String): Boolean =
    file.contains(s"${dataPath(root, d).stripSuffix("/")}/") ||
      (!d.startsWith("/") && file.contains(s"/$d/"))

  /** Version `v`'s commit record, read and decoded ONCE: a caller that
    * needs several fields of one version reads its record once and uses
    * the fields — one metadata GET per version, not one per field (the
    * commit path needs ~12).  Version 0 is the canonical empty table (no
    * dirs), so diffing from birth — `diff(root, 0, v)` — needs no
    * special case. */
  private[io] def record(spark: SparkSession, root: String, v: Int): Record =
    if (v == 0) Record.empty
    else {
      val p = new org.apache.hadoop.fs.Path(logDir(root), f"v$v%05d.json")
      val in = fs(spark, p).open(p)
      Record.decode(
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close())
    }

  // One-field views of a version's record, for callers that need one.

  /** Dir list of a committed version (paths relative to the root). */
  private[graft] def manifest(spark: SparkSession, root: String, v: Int): Seq[String] =
    record(spark, root, v).dirs

  /** Commit-time wall clock of a version (epoch ms, monotone along the
    * log: a commit stamps max(now, parent's ts)). */
  private[graft] def tsOf(spark: SparkSession, root: String, v: Int): Long =
    record(spark, root, v).ts

  /** Schema-evolution events at version `v`, in commit order: (column,
    * SQL type / `#drop` / `#rename`, the data dirs that PREDATE the event
    * — null-filled, projected out or renamed on read).  Copied verbatim
    * by every later commit; entries referencing dirs no longer in a
    * manifest are inert (reads intersect with the manifest), so
    * compaction naturally retires them. */
  private[io] def altersOf(spark: SparkSession, root: String, v: Int): Seq[Record.Alter] =
    record(spark, root, v).alters

  /** Rename events recorded at version `v` as `(old, new)` pairs, in
    * commit order (chains `a>b` then `b>c` compose by folding) — how a
    * cross-alter consumer ([[ChangeFeed.changesByCommit]]) maps an
    * older step's column names forward to the head's. */
  private[graft] def renameEventsOf(spark: SparkSession, root: String,
      v: Int): Seq[(String, String)] =
    altersOf(spark, root, v).collect { case (n, "#rename", _) =>
      val i = n.indexOf('>'); (n.substring(0, i), n.substring(i + 1)) }

  /** The table's designated zone-map column, if any version declared one. */
  private[graft] def statsColOf(spark: SparkSession, root: String, v: Int): Option[String] =
    record(spark, root, v).statsCol

  /** Per-dir [min,max] zone map of the stats column at version `v`. */
  private[graft] def dirStats(spark: SparkSession, root: String, v: Int): Map[String, (Long, Long)] =
    record(spark, root, v).stats

  /** The table's declared MULTI-COLUMN zone-map columns at version `v`
    * (see [[commitDeclareStatsCols]]) — independent of (and composable
    * with) the single clustered [[statsColOf]] column. */
  private[graft] def statsColsOf(spark: SparkSession, root: String, v: Int): Seq[String] =
    record(spark, root, v).statsCols

  /** Per-(column, dir) [min,max] entries of the multi-column zone map at
    * version `v` (a (col, dir) pair with no entry is conservatively
    * read by [[readRangeAll]]). */
  private[graft] def dirMstats(spark: SparkSession, root: String,
      v: Int): Map[(String, String), (Long, Long)] =
    record(spark, root, v).mstats

  /** The table's bloom-index column and filter size in bits, if any
    * version declared one (see [[BloomIndex]]). */
  private[graft] def bloomColOf(spark: SparkSession, root: String, v: Int): Option[(String, Int)] =
    record(spark, root, v).bloomCol

  /** Per-dir base64 bloom bitsets at version `v` (a dir with no entry is
    * conservatively read by [[BloomIndex.readPoint]]). */
  private[graft] def dirBlooms(spark: SparkSession, root: String, v: Int): Map[String, String] =
    record(spark, root, v).bloom

  /** Per-dir row counts at version `v` (absent for dirs committed before
    * this field existed — callers fall back to scanning those). */
  private[graft] def dirRows(spark: SparkSession, root: String, v: Int): Map[String, Long] =
    record(spark, root, v).rows.getOrElse(Map.empty)

  /** Merge-on-read DELETION VECTORS at version `v`: per data dir, the
    * delete-sidecar dirs whose (file, row position) pairs are
    * anti-joined out on every read of that dir.  Entries are scoped to
    * the dir they delete from, so any commit that REPLACES or folds a
    * dir (CoW update, MERGE, compaction, OPTIMIZE) retires its vectors
    * for free: the rewrite reads DV-applied content and the new dir
    * starts clean.  See [[commitDeleteMOR]]. */
  private[graft] def dvOf(spark: SparkSession, root: String, v: Int): Map[String, Seq[String]] =
    record(spark, root, v).dv

  /** Per data dir, how many rows its deletion vectors remove — so
    * [[countAt]]/[[history]] stay metadata-only under MOR deletes. */
  private[graft] def dvRowsOf(spark: SparkSession, root: String, v: Int): Map[String, Long] =
    record(spark, root, v).dvRows

  /** The table's declared metadata-SUM column, if any version declared
    * one (see [[commitDeclareSum]]). */
  private[graft] def sumColOf(spark: SparkSession, root: String, v: Int): Option[String] =
    record(spark, root, v).sumCol

  /** Dirs marked UNSUMMABLE (all-null column, failed cast, pre-alter
    * generation): recorded so later commits never re-scan them — the
    * void marker is metadata like the sums themselves. */
  private[graft] def sumVoidOf(spark: SparkSession, root: String, v: Int): Set[String] =
    record(spark, root, v).sumsVoid

  /** `SELECT count(*)` at version `v` from manifest METADATA — zero data
    * or footer I/O for dirs whose commit recorded a row count (every
    * commit does; only legacy dirs fall back to a parquet count, which
    * parquet answers from footers).  The 100 TB shape: row counts are the
    * most-asked table question (monitoring, planning, sanity gates), and
    * a metadata answer costs O(#dirs) driver-side instead of listing and
    * opening a million files.  Deletion-vector rows subtract from the
    * metadata side (each dir's dvRows entry was measured against its
    * LIVE rows at delete time, so the arithmetic is exact). */
  def countAt(spark: SparkSession, root: String, v: Int): Long = {
    val r = record(spark, root, v)
    val known = r.rows.getOrElse(Map.empty[String, Long])
    val (have, missing) = r.dirs.partition(known.contains)
    have.map(known).sum - r.dirs.flatMap(r.dvRows.get).sum +
      (if (missing.isEmpty) 0L
       else readParquetDirs(spark, missing.map(dataPath(root, _))).count())
  }

  /** `SELECT min(statsCol), max(statsCol)` at version `v` from manifest
    * METADATA — defined only when EVERY dir carries a stats entry (a
    * statless dir might hide the extremum; callers fall back to the
    * scan) and the map is 1-D (a Morton min/max is meaningless to
    * users).  All-null dirs carry no entry, matching SQL min/max
    * null-ignoring semantics conservatively. */
  def statsRangeAt(spark: SparkSession, root: String, v: Int): Option[(Long, Long)] = {
    val r = record(spark, root, v)
    val sc = r.statsCol
    if (sc.isEmpty || Z2.findFirstIn(sc.get).nonEmpty) return None
    // deletion vectors make per-dir [min,max] a conservative ENVELOPE
    // (sound for pruning, wrong as an exact answer: the extremum row may
    // be deleted) — fall back to the scan while any vector is live
    if (r.dv.nonEmpty) return None
    val st = r.stats
    val dirs = r.dirs
    // an alters generation mentioning the column voids the exact answer:
    // pre-generation dirs may physically carry values that are not the
    // column's logical content (drop-then-re-add), so a recorded extremum
    // could be stale even though range PRUNING on it stays row-safe
    if (alterMentions(r, sc.get)) return None
    if (dirs.isEmpty || !dirs.forall(st.contains)) None
    else Some((dirs.map(st(_)._1).min, dirs.map(st(_)._2).max))
  }

  /** Does any schema-evolution generation of `r` mention `colName` over
    * a dir still in its manifest?  If so the column's physical bytes in
    * those dirs are not its logical values, and every exact metadata
    * aggregate on the column must decline. */
  private def alterMentions(r: Record, colName: String): Boolean = {
    val ds = r.dirs.toSet
    // rename generations don't count: their carried entries are valid
    // verbatim (same bytes, new name) — see the extraFields taint rule
    r.alters.exists { case (evCol, ty, touched) =>
      ty != "#rename" && evCol == colName && touched.exists(ds) }
  }

  /** `SELECT min(col), max(col)` for a MULTI-COLUMN zone-map member at
    * version `v` from manifest METADATA — [[statsRangeAt]]'s contract on
    * any [[commitDeclareStatsCols]] column: defined only when EVERY dir
    * carries an entry for the column (a statless dir might hide the
    * extremum) and no deletion vectors are live (the per-dir envelope is
    * sound for pruning but the extremum row may be deleted).  Completes
    * the zero-data-I/O metadata family: count, sum, and now min/max on
    * every declared column. */
  def statsRangeOn(spark: SparkSession, root: String, v: Int,
      colName: String): Option[(Long, Long)] = {
    val r = record(spark, root, v)
    if (!r.statsCols.contains(colName)) return None
    if (r.dv.nonEmpty) return None
    val m = r.mstats
    val dirs = r.dirs
    // see statsRangeAt: alters generations void the exact answer (the
    // commit path also refuses to measure such dirs, so this guard is
    // belt-and-braces for records written before that discipline)
    if (alterMentions(r, colName)) return None
    if (dirs.isEmpty || !dirs.forall(d => m.contains((colName, d)))) None
    else Some((dirs.map(d => m((colName, d))._1).min,
      dirs.map(d => m((colName, d))._2).max))
  }

  /** Min/max of `colName` in one data dir — O(new data), and parquet
    * aggregate pushdown usually answers it from the footers. None for an
    * empty dir (absent stats = conservatively read). */
  private def statsFor(spark: SparkSession, root: String, rel: String,
      colName: String): Option[(Long, Long)] = {
    // cast PER ROW, not after min/max: string extrema are lexicographic
    // ("10" < "9"), so casting the string min/max would record inverted
    // or wrong bounds.  Any NON-null value that fails the cast voids the
    // stat (conservative read); rows that are null are safely ignorable
    // because readRange's BETWEEN filter drops nulls regardless.
    // a dir written before the stats column's current PHYSICAL name
    // existed (pre-rename generation, or pre-add) lacks the raw column:
    // no entry, read conservatively — its parent entry normally carries
    val need = colName match {
      case Z2(x, y, _) => Seq(x, y)
      case _           => Seq(colName)
    }
    val df = readParquetDirs(spark, Seq(dataPath(root, rel)))
    if (!need.forall(df.columns.contains)) return None
    val c = statsExpr(colName)
    val r = df.agg(min(c), max(c), count(when(statsBad(colName, c), 1))).head()
    if (r.isNullAt(0) || r.getLong(2) > 0) None else Some((r.getLong(0), r.getLong(1)))
  }

  /** Exact [min,max] of `colName` per dir, all `rels` in ONE batched
    * narrow-column job (per-file extrema grouped driver-side — the
    * sumsFor pattern; parquet aggregate pushdown usually answers the
    * per-file leg from footers).  A dir lacking the column, holding a
    * non-null value that fails the long cast, or entirely null yields
    * no entry (conservative read). */
  private def mstatsForCol(spark: SparkSession, root: String,
      rels: Seq[String], colName: String): Map[String, (Long, Long)] = {
    val ok = rels.filter(r =>
      dirSchemaOf(spark, dataPath(root, r)).fieldNames.contains(colName))
    if (ok.isEmpty) return Map.empty
    val c = statsExpr(colName)
    val perFile = readParquetDirs(spark, ok.map(dataPath(root, _)))
      .select(input_file_name().as("f"), c.as("v"),
        statsBad(colName, c).as("bad"))
      .groupBy(col("f"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
        count(when(col("bad"), 1)).as("nbad"))
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2))),
        r.getLong(3)))
    def combine(mine: Array[(String, Option[(Long, Long)], Long)]): Option[(Long, Long)] = {
      val vals = mine.flatMap(_._2)
      if (mine.exists(_._3 > 0) || vals.isEmpty) None
      else Some((vals.map(_._1).min, vals.map(_._2).max))
    }
    // attribute each file to exactly one dir; on any mismatch fall back
    // to per-dir jobs rather than recording silently-narrow bounds
    if (perFile.exists(fc => !ok.exists(fileInDir(root, fc._1, _))))
      ok.flatMap(d => statsFor(spark, root, d, colName).map(d -> _)).toMap
    else ok.flatMap { d =>
      combine(perFile.filter(fc => fileInDir(root, fc._1, d))).map(d -> _)
    }.toMap
  }

  /** Schema of one IMMUTABLE data dir, cached for the JVM's lifetime.
    * Data dirs are write-once by the layout contract (never mutated;
    * vacuum deletes whole dirs, after which nothing reads them), so a
    * footer-inferred schema can be reused across every later commit's
    * metadata pass instead of re-running datasource resolution — at an
    * object store that is one GET per dir per commit chain, and on the
    * driver it removes the per-call listing + footer read that
    * dominated the commit path's between-job gaps.  Bounded: cleared
    * wholesale past 8192 entries (a cache rebuild is one footer read
    * per live dir — correctness never depends on a hit). */
  private val dirSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Parquet read-back view of a written schema: every field (and nested
    * element) nullable — byte-identical to what footer inference returns
    * for files this engine wrote (probed: flat, nested, array, and
    * partition-leaf reads all agree). */
  private def nullableType(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = nullableType(f.dataType), nullable = true)))
      case a: ArrayType => a.copy(elementType = nullableType(a.elementType), containsNull = true)
      case m: MapType => m.copy(keyType = nullableType(m.keyType),
        valueType = nullableType(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** Record the schema a data dir was WRITTEN with (as its read-back
    * nullable view), so later reads of the immutable dir skip footer
    * inference — every plain `spark.read.parquet` without a schema runs
    * a one-task "parquet at ..." inference JOB per call (24 such jobs in
    * one judged CDC query, measured), all re-deriving what the writer
    * knew.  Bounded: cleared wholesale past 8192 entries (a miss only
    * costs the inference the read would have done anyway). */
  private[graft] def cacheDirSchema(path: String, schema: org.apache.spark.sql.types.StructType): Unit = {
    if (dirSchemaCache.size > 8192) dirSchemaCache.clear()
    dirSchemaCache.put(path, nullableType(schema).asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  private[graft] def dirSchemaOf(spark: SparkSession, path: String): org.apache.spark.sql.types.StructType = {
    val cached = dirSchemaCache.get(path)
    if (cached != null) return cached
    val s = spark.read.parquet(path).schema
    if (dirSchemaCache.size > 8192) dirSchemaCache.clear()
    dirSchemaCache.put(path, s)
    s
  }

  /** Read immutable data dirs, passing the cached write-side schema when
    * every requested dir is cached and they all agree — the inference
    * skip above.  Any miss or disagreement falls back to plain inference
    * (exactly the read this replaces). */
  private[io] def readParquetDirs(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val cached = paths.map(p => Option(dirSchemaCache.get(p)))
    if (cached.nonEmpty && cached.forall(_.isDefined) && cached.flatten.distinct.size == 1)
      spark.read.schema(cached.head.get).parquet(paths: _*)
    else spark.read.parquet(paths: _*)
  }

  /** Everything a commit record must measure about its NEW dirs, in ONE
    * batched job per distinct dir schema (almost always exactly one):
    * per-dir row counts, [min,max] for the clustered statsCol and every
    * declared statsCols member, and the declared sum column's exact sum
    * — the same per-file-then-combine discipline as [[mstatsForCol]] /
    * [[sumsFor]], with identical void semantics (a column absent from a
    * dir, any non-null value failing the long cast, or an all-null dir
    * yields NO entry — conservative reads).  Replaces the one-job-per-
    * field commit tax (rows + statsFor + one job per statsCols member +
    * sums = up to 4+k jobs) with one narrow-column pass over the new
    * data — at 100 TB that is one read of the ingest batch instead of
    * several.  Returns None when any file fails dir attribution; the
    * caller falls back to the legacy per-field jobs. */
  private case class NewDirMeasures(
      rows: Map[String, Long],
      stats: Map[(String, String), (Long, Long)],
      sums: Map[String, Long])
  private def measureNewDirs(spark: SparkSession, root: String,
      rowsDirs0: Seq[String], statNeed0: Map[String, Seq[String]],
      sumCol: Option[String], sumDirs0: Seq[String]): Option[NewDirMeasures] = {
    // write-time observed measurements first: a dir written by this JVM
    // already carries rows/stats/sums from its write job's observe —
    // consume them and measure only the remainder (usually nothing)
    val obsRows = scala.collection.mutable.Map[String, Long]()
    val obsStats = scala.collection.mutable.Map[(String, String), (Long, Long)]()
    val obsSums = scala.collection.mutable.Map[String, Long]()
    val rowsDirs = rowsDirs0.filter { d =>
      Option(observedCache.get(dataPath(root, d))) match {
        case Some(o) => obsRows(d) = o.rows; false
        case None    => true
      }
    }
    val statNeed = statNeed0.map { case (c, ds) =>
      c -> ds.filter { d =>
        Option(observedCache.get(dataPath(root, d))).flatMap(_.stats.get(c)) match {
          case Some(Some(e)) => obsStats((c, d)) = e; false
          case Some(None)    => false // measured void: no entry, no re-scan
          case None          => true
        }
      }
    }.filter(_._2.nonEmpty)
    val sumDirs = sumDirs0.filter { d =>
      sumCol.flatMap(c =>
        Option(observedCache.get(dataPath(root, d))).flatMap(_.sum.get(c))) match {
        case Some(Some(s)) => obsSums(d) = s; false
        case Some(None)    => false // measured void: the void marker below
        case None          => true
      }
    }
    val allDirs = (rowsDirs ++ statNeed.values.flatten ++ sumDirs).distinct
    if (allDirs.isEmpty)
      return Some(NewDirMeasures(obsRows.toMap, obsStats.toMap, obsSums.toMap))
    // a fileless dir (zero-row write under some planners) has no schema
    // to infer: it contributes rows=0 and no stats/sum entries, exactly
    // the legacy semantics ("no files = an empty dir")
    val schemas: Map[String, org.apache.spark.sql.types.StructType] =
      allDirs.flatMap(d =>
        try Some(d -> dirSchemaOf(spark, dataPath(root, d)))
        catch { case _: org.apache.spark.sql.AnalysisException => None }).toMap
    def physCols(c: String): Seq[String] =
      c match { case Z2(x, y, _) => Seq(x, y); case _ => Seq(c) }
    def hasCol(d: String, c: String): Boolean = {
      val names = schemas(d).fieldNames.toSet
      physCols(c).forall(names)
    }
    val rows = scala.collection.mutable.Map[String, Long]()
    val stats = scala.collection.mutable.Map[(String, String), (Long, Long)]()
    val sums = scala.collection.mutable.Map[String, Long]()
    // one job per distinct schema group; the common commit has one group
    for ((schema, gdirs) <- allDirs.filter(schemas.contains).groupBy(schemas)) {
      val statCols = statNeed.collect {
        case (c, ds) if ds.exists(gdirs.contains) && gdirs.exists(hasCol(_, c)) => c
      }.toSeq.distinct
      val doSum = sumCol.filter(c =>
        sumDirs.exists(gdirs.contains) && gdirs.exists(hasCol(_, c)))
      var aggs = Seq(count(lit(1)).as("_n"))
      statCols.zipWithIndex.foreach { case (c, i) =>
        val e = statsExpr(c)
        aggs ++= Seq(min(e).as(s"_lo$i"), max(e).as(s"_hi$i"),
          count(when(statsBad(c, e), 1)).as(s"_bad$i"))
      }
      doSum.foreach { c =>
        val e = tryLong(c)
        aggs ++= Seq(sum(e).as("_s"),
          count(when(e.isNull && col(c).isNotNull, 1)).as("_sbad"))
      }
      // explicit schema: identical to inference (the group IS this
      // schema), skips the per-read footer resolution
      val perFile = spark.read.schema(schema)
        .parquet(gdirs.map(dataPath(root, _)): _*)
        .groupBy(input_file_name().as("_f"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
      // every file must attribute to exactly one dir (the dirRows
      // discipline); any miss voids the whole fused pass
      if (perFile.exists(r => !gdirs.exists(fileInDir(root, r.getString(0), _))))
        return None
      val byDir = gdirs.map(d =>
        d -> perFile.filter(r => fileInDir(root, r.getString(0), d))).toMap
      for (d <- gdirs) {
        val mine = byDir(d)
        rows(d) = mine.map(_.getAs[Long]("_n")).sum // no files = empty dir = 0
        statCols.zipWithIndex.foreach { case (c, i) =>
          if (statNeed.getOrElse(c, Seq.empty).contains(d) && hasCol(d, c)) {
            val vals = mine.filter(r => !r.isNullAt(r.fieldIndex(s"_lo$i")))
            val anyBad = mine.exists(_.getAs[Long](s"_bad$i") > 0)
            if (!anyBad && vals.nonEmpty)
              stats((c, d)) = (vals.map(_.getAs[Long](s"_lo$i")).min,
                vals.map(_.getAs[Long](s"_hi$i")).max)
          }
        }
        doSum.foreach { c =>
          if (sumDirs.contains(d) && hasCol(d, c)) {
            val withVal = mine.filter(r => !r.isNullAt(r.fieldIndex("_s")))
            val anyBad = mine.exists(_.getAs[Long]("_sbad") > 0)
            if (!anyBad && withVal.nonEmpty)
              sums(d) = withVal.map(_.getAs[Long]("_s")).sum
          }
        }
      }
    }
    Some(NewDirMeasures(rows.toMap ++ obsRows, stats.toMap ++ obsStats,
      sums.toMap ++ obsSums))
  }

  /** The record a commit publishes over `dirs`, given its parent record
    * `ht` (the head it lands on): the monotone commit timestamp, and
    * every carried field — zone maps, row counts, bytes, sums, blooms,
    * alters, checks, policy, deletion vectors — with parent entries
    * reused verbatim for carried dirs and only new dirs measured.  The
    * arguments override or extend what the parent carries. */
  private[io] def extraFields(spark: SparkSession, root: String, ht: Record,
      dirs: Seq[String], statsCol: Option[String],
      precomputed: Map[String, (Long, Long)] = Map.empty,
      alters: Option[Seq[Record.Alter]] = None,
      precomputedRows: Map[String, Long] = Map.empty,
      blooms: Option[(String, Int, Map[String, String])] = None,
      dvAdd: Map[String, (Seq[String], Long)] = Map.empty,
      sumCol: Option[String] = None,
      checksArg: Option[Seq[(String, String)]] = None,
      statsColsArg: Option[Seq[String]] = None,
      suppressSum: Boolean = false,
      opArg: String = "",
      policyArg: Option[MaintenancePolicy] = None): Record = {
    // dirs whose PHYSICAL parquet bytes for a column are not its LOGICAL
    // values: any dir listed in an alters generation mentioning the
    // column (add → null-filled on read; drop-then-re-add → the pre-drop
    // physical values are dead; rename → the bytes live under the other
    // name).  Measuring the raw parquet for such a (col, dir) pair would
    // bake stale extrema/sums into carried metadata — those pairs stay
    // entry-less instead (conservative reads; the exact-aggregate APIs
    // decline via their every-dir-has-an-entry guards).
    // RENAME events do NOT taint: a pre-rename dir's physical old-name
    // bytes ARE the new name's logical values (mapped forward on read),
    // and the rename commit carries the old entries verbatim — only
    // add (null-fill) and drop (dead bytes) generations lie
    val altersR = alters.getOrElse(ht.alters)
    val altNull: Map[String, Set[String]] = altersR
      .flatMap { case (evCol, ty, ds) =>
        if (ty == "#rename") Seq.empty else Seq(evCol -> ds) }
      .groupBy(_._1).map { case (c, es) => c -> es.flatMap(_._2).toSet }
    def logicallyNull(c: String, d: String): Boolean = {
      val phys = c match { case Z2(x, y, _) => Seq(x, y); case _ => Seq(c) }
      phys.exists(pc => altNull.getOrElse(pc, Set.empty).contains(d))
    }
    val parentSc = ht.statsCol
    val sc = statsCol.orElse(parentSc)
    val ts = math.max(System.currentTimeMillis(), ht.ts)
    // ---- need-lists for every measured field, computed up front so ONE
    // fused job (measureNewDirs) serves them all; each field keeps its
    // legacy per-field job as the fallback when file→dir attribution
    // fails (the same discipline the fields ran individually)
    val scParent: Map[String, (Long, Long)] = sc.map { c =>
      // parent entries are only reusable when they were measured under
      // the SAME column: re-declaring a different statsCol must NOT
      // inherit the old column's ranges (readRange would prune carried
      // dirs by the wrong values — silently losing rows); instead each
      // carried dir is re-measured or, lacking the new column, left
      // entry-less and read conservatively
      if (parentSc.forall(_ == c)) ht.stats else Map.empty[String, (Long, Long)]
    }.getOrElse(Map.empty)
    val scNeed: Seq[String] = sc.toSeq.flatMap { c =>
      dirs.filter(d => !logicallyNull(c, d) && !scParent.contains(d) &&
        !precomputed.contains(d))
    }
    val mcols = statsColsArg.getOrElse(ht.statsCols)
    val parentM = ht.mstats
    val mcolNeed: Map[String, Seq[String]] = mcols.map(c =>
      c -> dirs.filterNot(d => parentM.contains((c, d)) || logicallyNull(c, d)))
      .filter(_._2.nonEmpty).toMap
    val parentRows = ht.rows.getOrElse(Map.empty[String, Long])
    val missing = dirs.filterNot(d =>
      parentRows.contains(d) || precomputedRows.contains(d))
    val sumColR = if (suppressSum) None else sumCol.orElse(ht.sumCol)
    val missingSum: Seq[String] = sumColR.toSeq.flatMap(mc =>
      dirs.filterNot(d =>
        ht.sums.contains(d) || ht.sumsVoid(d) || logicallyNull(mc, d)))
    // the fused pass: per-column need lists merged (the clustered
    // statsCol may also be a declared statsCols member)
    val statNeed: Map[String, Seq[String]] =
      (sc.toSeq.map(c => c -> scNeed) ++ mcolNeed.toSeq)
        .groupBy(_._1).map { case (c, es) => c -> es.flatMap(_._2).distinct }
    val fused = measureNewDirs(spark, root, missing, statNeed, sumColR, missingSum)
    val stats: Map[String, (Long, Long)] = sc.map { c =>
      val freshSc: String => Option[(Long, Long)] = fused match {
        case Some(m) => d => m.stats.get((c, d))
        case None    => d => statsFor(spark, root, d, c)
      }
      dirs.flatMap { d =>
        // an alter-mentioned dir's physical bytes are not its logical
        // values: no entry (conservative read), never a stale measure
        if (logicallyNull(c, d)) None
        else scParent.get(d).orElse(precomputed.get(d)).orElse(freshSc(d)).map(d -> _)
      }.toMap
    }.getOrElse(Map.empty)
    // MULTI-COLUMN zone map: entries are keyed (column, dir), so a
    // re-declaration that adds a column reuses the carried columns'
    // entries verbatim and measures only the new column; a dropped
    // column's entries simply stop being serialized.  New or rewritten
    // dirs are measured for every declared column — via the fused job,
    // never a job per dir — which is what keeps the map live across
    // EVERY rewrite path (CoW, MERGE, compaction, OPTIMIZE) for free:
    // they all publish through here.
    val mstats: Map[(String, String), (Long, Long)] = if (mcols.isEmpty) Map.empty else {
      val fresh: Map[(String, String), (Long, Long)] = fused match {
        case Some(m) => mcolNeed.keys.flatMap(c =>
          mcolNeed(c).flatMap(d => m.stats.get((c, d)).map((c, d) -> _))).toMap
        case None => mcolNeed.keys.flatMap(c =>
          mstatsForCol(spark, root, mcolNeed(c), c)
            .map { case (d, e) => (c, d) -> e }).toMap
      }
      (for {
        c <- mcols; d <- dirs
        if !logicallyNull(c, d) // drop-then-re-add: stale physical bytes
        e <- parentM.get((c, d)).orElse(fresh.get((c, d)))
      } yield (c, d) -> e).toMap
    }
    // per-dir row counts: parent entries carried verbatim, only new or
    // rewritten dirs counted — ALL missing dirs in the fused job (per-
    // file counts grouped driver-side), not a job per dir
    val counted: Map[String, Long] = fused match {
      case Some(m) => missing.map(d => d -> m.rows.getOrElse(d, 0L)).toMap
      case None =>
        if (missing.isEmpty) Map.empty
        else {
          val perFile = readParquetDirs(spark, missing.map(dataPath(root, _)))
            .groupBy(input_file_name().as("f")).count()
            .collect().map(r => (r.getString(0), r.getLong(1)))
          // every file must attribute to exactly one dir; if any doesn't
          // (a path-form mismatch), fall back to direct per-dir counts —
          // a silently-wrong 0 would poison the carried metadata forever
          if (perFile.exists(fc => !missing.exists(fileInDir(root, fc._1, _))))
            missing.map(d =>
              d -> readParquetDirs(spark, Seq(dataPath(root, d))).count()).toMap
          else missing.map(d =>
            d -> perFile.filter(fc => fileInDir(root, fc._1, d)).map(_._2).sum).toMap
        }
    }
    val rows = dirs.map(d => d -> parentRows.get(d).orElse(precomputedRows.get(d))
      .getOrElse(counted.getOrElse(d, 0L))).toMap // no files = an empty dir
    // per-dir on-disk BYTES: parent entries carried verbatim, new dirs
    // measured with one driver-side content summary each (no Spark job)
    // — the accurate size feed for readAt's broadcast sizing, where a
    // schema-width guess would under-estimate wide text rows into a
    // forced-broadcast OOM
    val parentBytes = ht.bytes.getOrElse(Map.empty[String, Long])
    val bytes = dirs.map { d =>
      d -> parentBytes.getOrElse(d, {
        val p = new org.apache.hadoop.fs.Path(dataPath(root, d))
        try fs(spark, p).getContentSummary(p).getLength
        catch { case _: java.io.FileNotFoundException => 0L }
      })
    }.toMap
    // metadata sums: parent entries carried verbatim for carried dirs;
    // new or rewritten dirs measured in the fused job.  A dir is
    // entry-less when the column is absent (pre-alter generation), any
    // non-null value fails the long cast, or every row is null — sumAt
    // then falls back to the scan, never answers wrong.  A dir that
    // measured unsummable is marked VOID so no later commit ever
    // re-scans it (the probe is a data read, not a footer read).
    val (sums, sumsVoid) = sumColR.map { mc =>
      val fresh: Map[String, Long] = fused match {
        case Some(m) => missingSum.flatMap(d => m.sums.get(d).map(d -> _)).toMap
        case None =>
          if (missingSum.isEmpty) Map.empty[String, Long]
          else sumsFor(spark, root, missingSum, mc)
      }
      (dirs.flatMap(d =>
        if (logicallyNull(mc, d)) None // stale physical bytes: no entry
        else ht.sums.get(d).orElse(fresh.get(d)).map(d -> _)).toMap,
        dirs.filter(d => ht.sumsVoid(d) ||
          (missingSum.contains(d) && !fresh.contains(d))).toSet)
    }.getOrElse((Map.empty[String, Long], Set.empty[String]))
    // bloom index: parent entries carried for carried dirs; new dirs get
    // entries from the bloom-aware ingest paths AND from every rewrite/
    // fold/clustered path (bloomsForStaged / bloomForDir), so the index
    // survives CoW/MERGE/OPTIMIZE churn; only plain appends leave their
    // dirs entry-less (absent = read conservatively, so they compose —
    // they just don't prune)
    val bloomDecl = blooms.map(b => (b._1, b._2)).orElse(ht.bloomCol)
    val bloom: Map[String, String] = bloomDecl.map { decl =>
      // parent entries are only reusable under the SAME (column, bits)
      // declaration — a mismatched carry would probe old bitsets with
      // the wrong hashes (false pruning = lost rows), the exact trap
      // the stats path already guards
      val parent = if (ht.bloomCol.forall(_ == decl)) ht.bloom else Map.empty[String, String]
      blooms.map(_._3).getOrElse(Map.empty) ++ parent
    }.getOrElse(Map.empty)
    // deletion vectors: parent entries carried for carried dirs (a
    // replaced/folded dir's entries drop WITH the dir — the rewrite read
    // DV-applied content, so its vectors are retired, not lost), plus the
    // new sidecars a commitDeleteMOR contributes via dvAdd
    val dvDirs = dirs.filter(d => ht.dv.contains(d) || dvAdd.contains(d))
    // the OPERATION label (DESCRIBE HISTORY parity) is stamped per commit,
    // deliberately NOT carried from the parent — each record names what
    // produced IT; replay records (restore/clone) stamp their own.
    // Alters, checks and the maintenance policy ride along verbatim, so
    // a parameterless maintain() always sees the declared policy.
    Record(ht.version + 1, dirs, ts, op = Some(opArg).filter(_.nonEmpty),
      statsCol = sc, stats = stats, statsCols = mcols, mstats = mstats,
      rows = Some(rows), bytes = Some(bytes),
      sumCol = sumColR, sums = sums, sumsVoid = sumsVoid,
      bloomCol = bloomDecl, bloom = bloom, alters = altersR,
      checks = checksArg.getOrElse(ht.checks), policy = policyArg.orElse(ht.policy),
      dv = dvDirs.map(d => d -> (ht.dv.getOrElse(d, Seq.empty) ++
        dvAdd.get(d).map(_._1).getOrElse(Seq.empty))).toMap,
      dvRows = dvDirs.map(d => d -> (ht.dvRows.getOrElse(d, 0L) +
        dvAdd.get(d).map(_._2).getOrElse(0L))).toMap)
  }

  /** A table's declared maintenance knobs ([[commitDeclarePolicy]]) —
    * what a parameterless [[maintain]] resolves before falling back to
    * the global defaults. */
  final case class MaintenancePolicy(smallRows: Long, targetRows: Long,
      buckets: Int, maxCover: Int, maxDvFraction: Double)

  /** The declared maintenance policy at version `v`, if any. */
  private[graft] def policyOf(spark: SparkSession, root: String,
      v: Int): Option[MaintenancePolicy] =
    record(spark, root, v).policy

  /** Declare the table's MAINTENANCE POLICY: the [[maintain]] knobs
    * (`smallRows`/`targetRows` small-dir folding, `buckets`/`maxCover`
    * re-clustering, `maxDvFraction` deletion-vector rewrite) persisted
    * in the commit log and carried by every later commit — so a
    * parameterless `maintain(root)` does THIS table's right thing, and
    * [[TxnCatalog.maintainMembers]] heals heterogeneous members each
    * under its own policy instead of forcing one parameter set on all.
    * An operator schedules ONE sweep; each table remembers its own
    * thresholds (the statsCol declaration discipline).  Explicit
    * `maintain` arguments still override per call; re-declaring
    * replaces the policy.  Validation re-runs inside the publish
    * closure (per retry — the declaration TOCTOU discipline). */
  def commitDeclarePolicy(spark: SparkSession, root: String,
      smallRows: Long = 0L, targetRows: Long = 0L, buckets: Int = 16,
      maxCover: Int = 2, maxDvFraction: Double = 0.3): Int =
    publishRecord(spark, root, head => {
      require(head > 0, s"no committed version at $root")
      require(smallRows >= 0 && targetRows >= 0 &&
        (targetRows == 0 || targetRows >= smallRows),
        s"bad policy: smallRows=$smallRows targetRows=$targetRows " +
          "(targetRows must be 0 or >= smallRows)")
      require(buckets >= 1 && maxCover >= 1,
        s"bad policy: buckets=$buckets maxCover=$maxCover")
      require(maxDvFraction >= 0.0 && maxDvFraction <= 1.0,
        s"bad policy: maxDvFraction=$maxDvFraction")
      val ht = record(spark, root, head)
      extraFields(spark, root, ht, ht.dirs, None,
        policyArg = Some(MaintenancePolicy(smallRows, targetRows, buckets,
          maxCover, maxDvFraction)),
        opArg = "declare")
    }).get

  /** The persisted CHECK constraints at version `v`: (name, SQL boolean
    * expression), in declaration order. */
  private[graft] def checksOf(spark: SparkSession, root: String, v: Int): Seq[(String, String)] =
    record(spark, root, v).checks

  /** Exact long sums of `colName` per dir, all missing dirs in ONE
    * narrow-column job (per-file partials grouped driver-side, the row
    * counting pattern).  Dirs lacking the column, holding a failed
    * non-null cast, or entirely null yield no entry. */
  private def sumsFor(spark: SparkSession, root: String,
      rels: Seq[String], colName: String): Map[String, Long] = {
    val ok = rels.filter(r =>
      dirSchemaOf(spark, dataPath(root, r)).fieldNames.contains(colName))
    if (ok.isEmpty) return Map.empty
    val c = tryLong(colName)
    val perFile = readParquetDirs(spark, ok.map(dataPath(root, _)))
      .select(input_file_name().as("f"), c.as("v"),
        (c.isNull && col(colName).isNotNull).as("bad"))
      .groupBy(col("f"))
      .agg(sum(col("v")).as("s"), count(when(col("bad"), 1)).as("nbad"))
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2)))
    // attribute each file to exactly one dir; on any mismatch fall back
    // to per-dir jobs rather than recording a silently-short sum
    if (perFile.exists(fc => !ok.exists(fileInDir(root, fc._1, _))))
      ok.flatMap { d =>
        val r = readParquetDirs(spark, Seq(dataPath(root, d)))
          .agg(sum(c), count(when(c.isNull && col(colName).isNotNull, 1))).head()
        if (r.isNullAt(0) || r.getLong(1) > 0) None else Some(d -> r.getLong(0))
      }.toMap
    else ok.flatMap { d =>
      val mine = perFile.filter(fc => fileInDir(root, fc._1, d))
      val vals = mine.flatMap(_._2)
      if (mine.exists(_._3 > 0) || vals.isEmpty) None
      else Some(d -> vals.sum)
    }.toMap
  }

  /** Declare (or confirm) the table's metadata-SUM column and measure
    * every current dir's entry in one batched job — after this commit,
    * every later commit carries entries for carried dirs and measures
    * only its new ones, and [[sumAt]] answers `SELECT sum(col)` with
    * zero data I/O.  Declare on exact long measures (counts, scaled
    * integers); the entries sum with plain long arithmetic. */
  def commitDeclareSum(spark: SparkSession, root: String, colName: String): Int = {
    requireColName(colName)
    publishRecord(spark, root, head => {
      require(head > 0, s"no committed version at $root")
      val ht = record(spark, root, head)
      ht.sumCol.foreach(c0 =>
        require(c0 == colName,
          s"$root already keeps metadata sums on $c0; " +
            s"re-declaring $colName would corrupt carried entries"))
      extraFields(spark, root, ht, ht.dirs, None,
        sumCol = Some(colName), opArg = "declare")
    }).get
  }

  /** Declare the table's MULTI-COLUMN zone map: per-dir [min,max] for
    * EVERY column in `cols`, measured over all current dirs in one
    * batched narrow-column job per column — after this commit, every
    * later commit carries entries for carried dirs and measures only
    * its new ones (every rewrite path re-measures its fresh dirs for
    * free, so the map survives CoW/MERGE/compaction churn), and
    * [[readRangeAll]] prunes on ANY declared column.  This is the
    * single most common lakehouse pruning shape: real scans filter on
    * several columns (`WHERE ship_date BETWEEN … AND qty < …`), and a
    * one-column map leaves every other predicate scanning.
    *
    * Declarations are validated per publish retry (the declaration-
    * style TOCTOU discipline): re-declaring may only EXTEND the set —
    * carried entries are keyed (column, dir), so extension reuses them
    * verbatim and measures just the new column.  Composable with (and
    * independent of) the clustered single-column [[readRange]] map and
    * the 2-D Morton map; columns must be long-castable (the same
    * ANSI-safe measurement [[readRange]] uses). */
  def commitDeclareStatsCols(spark: SparkSession, root: String,
      cols: Seq[String]): Int = {
    require(cols.nonEmpty, "declare at least one zone-map column")
    require(cols.distinct == cols, s"duplicate zone-map columns in $cols")
    cols.foreach(c => require(Z2.findFirstIn(c).isEmpty,
      s"Morton pseudo-columns belong to the clustered map (statsCol), not statsCols"))
    cols.foreach(requireColName)
    publishRecord(spark, root, head => {
      require(head > 0, s"no committed version at $root")
      val ht = record(spark, root, head)
      require(ht.statsCols.forall(cols.contains),
        s"$root already keeps zone maps on ${ht.statsCols}; re-declaring may only extend the set")
      extraFields(spark, root, ht, ht.dirs, None,
        statsColsArg = Some(cols), opArg = "declare")
    }).get
  }

  /** Retire the metadata-SUM declaration: the per-dir sum entries stop
    * being serialized and the column becomes rename/drop-eligible again
    * ([[sumAt]] then declines; readers fall back to the scan).  The
    * explicit-shrink twin of [[commitDeclareSum]], mirroring
    * [[commitRetireStatsCols]]. */
  def commitRetireSum(spark: SparkSession, root: String): Int =
    publishRecord(spark, root, head => {
      require(head > 0, s"no committed version at $root")
      val ht = record(spark, root, head)
      require(ht.sumCol.isDefined, s"$root declares no metadata-sum column")
      // suppressing the parent sum-column carry IS the retirement; every
      // other field is reconstructed as usual
      extraFields(spark, root, ht, ht.dirs, None,
        suppressSum = true, opArg = "retire")
    }).get

  /** Retire columns from the multi-column zone map: re-declare to a
    * SUBSET of the prior set (empty retires the map entirely).  The
    * dropped columns' (col, dir) entries simply stop being serialized —
    * safe by construction — and the column becomes rename/drop-eligible
    * again.  The deliberate-shrink twin of the extend-only
    * [[commitDeclareStatsCols]] guard: accidental narrowing stays
    * refused there, intentional retirement is one explicit call. */
  def commitRetireStatsCols(spark: SparkSession, root: String,
      cols: Seq[String]): Int = {
    require(cols.distinct == cols, s"duplicate zone-map columns in $cols")
    publishRecord(spark, root, head => {
      require(head > 0, s"no committed version at $root")
      val ht = record(spark, root, head)
      require(cols.forall(ht.statsCols.contains) && cols != ht.statsCols,
        s"retire must name a strict subset of the declared set ${ht.statsCols}")
      extraFields(spark, root, ht, ht.dirs, None,
        statsColsArg = Some(cols), opArg = "retire")
    }).get
  }

  /** Zone-map-pruned MULTI-PREDICATE range read: the conjunction of
    * `col BETWEEN lo AND hi` over version `v`, reading ONLY the dirs no
    * predicate's per-dir [min,max] entry can rule out — driver-side
    * manifest metadata, zero file listing for pruned dirs, exactly like
    * [[readRange]] but on ANY combination of declared columns (each
    * predicate's column must be in [[commitDeclareStatsCols]]'s set, or
    * be the table's clustered statsCol).  Pruning intersects: a dir
    * survives only if EVERY predicate's range overlaps its entry, so a
    * two-predicate probe over a layout tight on both columns prunes
    * multiplicatively.  The row filter is still applied, so the result
    * is correct whatever the map prunes. */
  def readRangeAll(spark: SparkSession, root: String, v: Int,
      preds: Seq[(String, Long, Long)]): DataFrame = {
    require(preds.nonEmpty, "readRangeAll needs at least one predicate")
    val r = record(spark, root, v)
    val legacy = r.statsCol.filter(c => Z2.findFirstIn(c).isEmpty)
    preds.foreach { case (c, _, _) =>
      require(r.statsCols.contains(c) || legacy.contains(c),
        s"$root declares no zone map on $c; commitDeclareStatsCols first") }
    val keep = r.dirs.filter(d => preds.forall { case (c, lo, hi) =>
      val e = if (r.statsCols.contains(c)) r.mstats.get((c, d)) else r.stats.get(d)
      e.forall { case (a, b) => b >= lo && a <= hi }
    })
    val base = readPruned(spark, root, r, keep)
    // same ANSI-safe cast the map was measured with (see readRange)
    preds.foldLeft(base) { case (df, (c, lo, hi)) =>
      df.filter(tryLong(c).between(lo, hi))
    }
  }

  /** Single-predicate [[readRangeAll]] on any declared column. */
  def readRangeOn(spark: SparkSession, root: String, v: Int,
      colName: String, lo: Long, hi: Long): DataFrame =
    readRangeAll(spark, root, v, Seq((colName, lo, hi)))

  /** `SELECT sum(sumCol)` at version `v` from manifest METADATA — zero
    * data I/O.  None (callers fall back to the scan) when no sum column
    * is declared, any dir lacks an entry (all-null dir, failed cast,
    * pre-alter generation — unless its recorded row count is 0, which
    * contributes nothing), or deletion vectors are live (the deleted
    * rows' contribution is unknown until the next fold). */
  def sumAt(spark: SparkSession, root: String, v: Int): Option[Long] = {
    val r = record(spark, root, v)
    if (r.sumCol.isEmpty || r.dv.nonEmpty) return None
    // alters generations void the exact answer (see statsRangeAt)
    if (alterMentions(r, r.sumCol.get)) return None
    val rows = r.rows.getOrElse(Map.empty[String, Long])
    if (r.dirs.nonEmpty &&
        r.dirs.forall(d => r.sums.contains(d) || rows.get(d).contains(0L)))
      Some(r.dirs.flatMap(r.sums.get).sum)
    else None
  }

  /** Measurements taken DURING a data dir's write (an `observe` on the
    * write job): per measured column Some(bounds)/None(void — bad cast,
    * all-null, or column absent), the sum column likewise, and the row
    * count.  The commit path used to RE-READ every dir it had just
    * written to record these — a second full pass over the ingest batch
    * at any scale; observing the write job computes them on the rows as
    * they stream to the files, for free.  Keyed by absolute dir path
    * (write-once dirs, same discipline as the schema cache). */
  private case class ObservedDir(rows: Long,
      stats: Map[String, Option[(Long, Long)]],
      sum: Map[String, Option[Long]])
  private val observedCache =
    new java.util.concurrent.ConcurrentHashMap[String, ObservedDir]()

  /** Row count observed at write time for a dir this JVM wrote, if any —
    * lets sibling index paths (bloom/text) skip their post-write count. */
  private[io] def observedRowsOf(path: String): Option[Long] =
    Option(observedCache.get(path)).map(_.rows)

  /** Write `df` as one immutable data dir; returns the root-relative path.
    * The write job is OBSERVED: the row count plus min/max for the
    * table's declared stats columns (and `extraStatsCols` a caller is
    * about to declare) and the declared sum column are measured on the
    * stream of written rows and cached for [[extraFields]] — the commit
    * that publishes this dir then needs NO second pass over it. */
  private[graft] def writeDataDir(spark: SparkSession, root: String, df: DataFrame,
      extraStatsCols: Seq[String] = Seq.empty): String = {
    val rel = s"data/${java.util.UUID.randomUUID()}"
    val ht = record(spark, root, currentVersion(spark, root))
    val declStats = (ht.statsCol.toSeq ++ ht.statsCols ++ extraStatsCols).distinct
    val declSum = ht.sumCol.toSeq
    val cols = df.columns.toSet
    def present(c: String): Boolean = c match {
      case Z2(x, y, _) => cols.contains(x) && cols.contains(y)
      case _           => cols.contains(c)
    }
    val (obsStats, absentStats) = declStats.partition(present)
    val (obsSums, absentSums) = declSum.partition(present)
    var aggs: Seq[Column] = Seq(count(lit(1)).as("_g_n"))
    obsStats.zipWithIndex.foreach { case (c, i) =>
      val e = statsExpr(c)
      aggs ++= Seq(min(e).as(s"_g_lo$i"), max(e).as(s"_g_hi$i"),
        count(when(statsBad(c, e), 1)).as(s"_g_bad$i"))
    }
    obsSums.zipWithIndex.foreach { case (c, i) =>
      val e = tryLong(c)
      aggs ++= Seq(sum(e).as(s"_g_s$i"),
        count(when(e.isNull && col(c).isNotNull, 1)).as(s"_g_sbad$i"))
    }
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, aggs.head, aggs.tail: _*)
      .write.mode("errorifexists").parquet(s"$root/$rel")
    cacheDirSchema(dataPath(root, rel), df.schema)
    val m = obs.get
    def longOpt(k: String): Option[Long] =
      Option(m.getOrElse(k, null)).map(_.asInstanceOf[Long])
    val statsM: Map[String, Option[(Long, Long)]] =
      obsStats.zipWithIndex.map { case (c, i) =>
        val lo = longOpt(s"_g_lo$i"); val hi = longOpt(s"_g_hi$i")
        val bad = longOpt(s"_g_bad$i").getOrElse(0L)
        c -> (if (bad > 0 || lo.isEmpty) None else Some((lo.get, hi.get)))
      }.toMap ++ absentStats.map(_ -> None)
    val sumM: Map[String, Option[Long]] =
      obsSums.zipWithIndex.map { case (c, i) =>
        val s = longOpt(s"_g_s$i"); val bad = longOpt(s"_g_sbad$i").getOrElse(0L)
        c -> (if (bad > 0 || s.isEmpty) None else s)
      }.toMap ++ absentSums.map(_ -> None)
    if (observedCache.size > 8192) observedCache.clear()
    observedCache.put(dataPath(root, rel),
      ObservedDir(longOpt("_g_n").getOrElse(0L), statsM, sumM))
    rel
  }

  /** Per-root publish locks: on the LOCAL filesystem Hadoop's
    * no-overwrite rename is an exists-check followed by a POSIX rename
    * (which silently overwrites), so two publishers racing the same
    * version inside that microsecond window could lose a record —
    * realistic only for pure-metadata commits (the txn catalog, restore),
    * where no Spark job separates closure from rename.  Same-JVM
    * committers serialize on this monitor; CROSS-PROCESS committers on a
    * `file:` store additionally serialize on an OS-level advisory file
    * lock ([[withLocalLock]]) held across the whole publish attempt loop
    * — a kernel lock, released automatically when the holder dies, so a
    * crashed committer can never wedge the log.  On HDFS/object stores
    * the rename itself is atomic no-overwrite and no extra lock is
    * taken. */
  private val publishLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Cross-process exclusion for publishes on a raw LOCAL filesystem:
    * an exclusive `java.nio` FileLock on `<log>/.commit.lock`.  Taken
    * only when the log's FS scheme is `file` (where Hadoop's
    * no-overwrite rename is not atomic across processes); the kernel
    * releases it with the process, so there is no stale-lock protocol
    * to run.  Must be called INSIDE the per-root JVM monitor — two
    * threads of one JVM would otherwise hit
    * OverlappingFileLockException instead of queueing. */
  private def withLocalLock[T](f: org.apache.hadoop.fs.FileSystem,
      ld: org.apache.hadoop.fs.Path)(body: => T): T = {
    // NB getUri, not getScheme: RawLocalFileSystem never overrides the
    // latter (it throws UnsupportedOperationException)
    if (f.getUri.getScheme != "file") return body
    val lockFile = new java.io.File(s"${org.apache.hadoop.fs.Path
      .getPathWithoutSchemeAndAuthority(ld)}/.commit.lock")
    val raf = new java.io.RandomAccessFile(lockFile, "rw")
    try {
      val lock = raf.getChannel.lock() // blocks until the peer releases
      try body finally lock.release()
    } finally raf.close()
  }

  /** The COMMIT ADAPTER conf: how a record claims its version slot.
    *
    *  - `"rename"` (default): write a tmp file, then a no-overwrite
    *    FileContext rename — atomic on HDFS and (under the per-root
    *    locks) on local filesystems.
    *  - `"create-exclusive"`: write the record DIRECTLY at its final
    *    name with `create(overwrite = false)` — the primitive for
    *    rename-is-copy object stores, whose conditional-PUT /
    *    if-none-match create is atomic per whole object while their
    *    rename is a copy+delete no arbitration can be built on.  The
    *    record becomes visible only when the exclusive create COMPLETES
    *    (object-store PUT semantics); do not select this on plain HDFS,
    *    where a crashed writer could leave a partial visible file that
    *    the rename discipline is designed to prevent. */
  private[io] val CommitAdapterConf = "spark.graft.commitAdapter"

  /** Land `rec` at `dst`, claiming version slot `dst` exclusively.
    * Returns true when this writer's record landed, false when a racer
    * already claimed the slot (caller re-resolves the head and
    * retries).  Any other I/O failure propagates. */
  private[io] def landRecord(f: org.apache.hadoop.fs.FileSystem,
      fc: org.apache.hadoop.fs.FileContext, ld: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path, rec: String, adapter: String): Boolean =
    adapter match {
      case "create-exclusive" =>
        try {
          val out = f.create(dst, false) // atomic claim on conditional-PUT stores
          try out.write(rec.getBytes("UTF-8")) finally out.close()
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          // some FileSystems signal the exists-conflict as a plain IOE
          case e: java.io.IOException => if (f.exists(dst)) false else throw e
        }
      case "rename" =>
        val tmp = new org.apache.hadoop.fs.Path(ld, s".tmp-${java.util.UUID.randomUUID()}")
        val out = f.create(tmp, false)
        try out.write(rec.getBytes("UTF-8")) finally out.close()
        try { fc.rename(tmp, dst); true }
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
            f.delete(tmp, false); false // lost the race
          case e: java.io.IOException => f.delete(tmp, false); throw e
        }
      case other => throw new IllegalArgumentException(
        s"unknown $CommitAdapterConf '$other' (rename | create-exclusive)")
    }

  /** Publish the next version after the (re-resolved) head.  Retries
    * against the moving head until the rename lands (bounded); `recOf`
    * yields the record to publish on a given head (its `version` is set
    * here); `abortIf` lets a caller bail out when a racing commit made
    * this one redundant (the batchId fence) — None is returned ONLY on
    * abort. */
  private[io] def publishRecord(spark: SparkSession, root: String,
      recOf: Int => Record,
      abortIf: Int => Boolean = _ => false): Option[Int] = {
    val ld = logDir(root)
    val f = logFs(spark, ld) // raw: records carry no .crc sidecar (see logFs)
    f.mkdirs(ld)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      ld.toUri, spark.sparkContext.hadoopConfiguration)
    val adapter = spark.conf.get(CommitAdapterConf, "rename")
    val lock = publishLocks.computeIfAbsent(ld.toString, _ => new Object)
    lock.synchronized {
    withLocalLock(f, ld) {
    var attempt = 0
    while (attempt < 50) {
      attempt += 1
      val head = currentVersion(spark, root)
      if (abortIf(head)) return None
      val v = head + 1
      val rec = recOf(head).copy(version = v).encode
      val dst = new org.apache.hadoop.fs.Path(ld, f"v$v%05d.json")
      if (landRecord(f, fc, ld, dst, rec, adapter)) {
        writeHeadHint(spark, ld, v) // O(1) head resolution for readers
        return Some(v)
      }
      // lost the race: re-resolve head and retry
    }
    throw new IllegalStateException(s"commit contention not resolving at $root")
    }
    }
  }

  /** [[publishRecord]] of the standard commit record: `dirsOf` maps the
    * parent record to the new manifest, [[extraFields]] fills the rest. */
  private[io] def publish(spark: SparkSession, root: String,
      dirsOf: Record => Seq[String], statsCol: Option[String] = None,
      precomputed: Map[String, (Long, Long)] = Map.empty,
      precomputedRows: Map[String, Long] = Map.empty,
      blooms: Option[(String, Int, Map[String, String])] = None,
      op: String = "commit"): Int =
    publishRecord(spark, root, head => {
      val ht = record(spark, root, head)
      extraFields(spark, root, ht, dirsOf(ht), statsCol, precomputed,
        None, precomputedRows, blooms, opArg = op)
    }).get

  /** The conflict test of every dir-rewriting publish: has a commit since
    * `h0` (the head the rewrite read) replaced one of `dirs`, or changed
    * its deletion vectors?  Either invalidates the rewrite — publishing it
    * would resurrect the replaced or freshly deleted rows. */
  private[io] def rewriteConflicts(spark: SparkSession, root: String, head: Int,
      h0: Record, dirs: Iterable[String]): Boolean =
    head != h0.version && {
      val h = record(spark, root, head)
      val m = h.dirs.toSet
      dirs.exists(d => !m.contains(d) || h.dv.get(d) != h0.dv.get(d))
    }

  /** Full-snapshot commit (also the compaction path): the new version's
    * manifest references exactly one fresh data dir.  `statsCol`
    * declares (or re-declares) the table's zone-map column — see
    * [[readRange]]; once declared, later commits inherit it. */
  def commit(spark: SparkSession, root: String, df: DataFrame,
      statsCol: Option[String] = None): Int = {
    val rel = writeDataDir(spark, root, df, statsCol.toSeq)
    publish(spark, root, _ => Seq(rel), statsCol, op = "commit")
  }

  /** Append commit: writes ONLY `df`'s rows; the manifest is the current
    * head's dirs plus the new one — history is never rewritten.  Zone-map
    * entries for carried dirs are copied from the parent record; only the
    * new dir is measured. */
  def commitAppend(spark: SparkSession, root: String, df: DataFrame,
      statsCol: Option[String] = None): Int = {
    val rel = writeDataDir(spark, root, df, statsCol.toSeq)
    publish(spark, root, _.dirs :+ rel, statsCol, op = "append")
  }

  /** A [[commitAppendChecked]] audit failure: nothing was published, the
    * table head is unchanged, and the staged data was reclaimed. */
  final class CommitRejected(val violations: Map[String, Long])
    extends RuntimeException(
      s"commit rejected: ${violations.map { case (n, c) => s"$n ($c rows)" }.mkString(", ")}")

  /** Write-audit-publish append: stage `df` as a data dir, AUDIT the
    * staged files against the named CHECK constraints (one aggregate over
    * the written data — the audit sees exactly the bytes a reader would),
    * and publish the manifest ONLY if every check passes.  A violation
    * throws [[CommitRejected]] with per-check row counts, deletes the
    * staged dir, and leaves the head untouched — readers can never
    * observe a half-audited commit because visibility IS the manifest
    * rename.  This is the ingest quality gate a 100 TB pipeline runs at
    * the door: constraint enforcement costs one pass over the NEW data
    * only, never a table scan, and a bad upstream batch burns a staged
    * dir instead of poisoning the corpus. */
  def commitAppendChecked(spark: SparkSession, root: String, df: DataFrame,
      checks: Seq[(String, org.apache.spark.sql.Column)]): Int = {
    require(checks.nonEmpty, "commitAppendChecked with no checks is commitAppend")
    val rel = writeDataDir(spark, root, df)
    val staged = readParquetDirs(spark, Seq(dataPath(root, rel)))
    // SQL CHECK semantics: a row violates only when the predicate is
    // FALSE — NULL passes (reject nulls explicitly with c.isNotNull)
    val counts = staged.agg(
      count(lit(1)),
      checks.map { case (_, c) => count(when(coalesce(!c, lit(false)), 1)) }: _*).head()
    val bad = checks.zipWithIndex.collect {
      case ((name, _), i) if counts.getLong(i + 1) > 0 => name -> counts.getLong(i + 1)
    }.toMap
    if (bad.nonEmpty) {
      val p = new org.apache.hadoop.fs.Path(s"$root/$rel")
      fs(spark, p).delete(p, true)
      throw new CommitRejected(bad)
    }
    publish(spark, root, _.dirs :+ rel,
      precomputedRows = Map(rel -> counts.getLong(0)), op = "append")
  }

  /** Declare persisted CHECK constraints — the table's INGEST CONTRACT.
    * A pure metadata commit: the record carries `"checks":{name:expr}`;
    * every later commit copies it forward, and [[commitAppendGated]] /
    * [[commitAppendUnique]] enforce it without the caller restating the
    * rules (the declarative shape: the table owner sets the contract
    * once, every producer inherits it).  Declarations ACCUMULATE; names
    * must be fresh.  Expressions are SQL boolean predicates over the
    * row. */
  def commitDeclareChecks(spark: SparkSession, root: String,
      checks: Seq[(String, String)]): Int = {
    require(checks.nonEmpty, "no checks to declare")
    require(checks.forall(_._1.nonEmpty), "check names must be non-empty")
    publishRecord(spark, root, head => {
      require(head > 0, s"no committed version at $root")
      val ht = record(spark, root, head)
      val clash = checks.map(_._1).toSet intersect ht.checks.map(_._1).toSet
      require(clash.isEmpty, s"checks already declared: ${clash.mkString(", ")}")
      extraFields(spark, root, ht, ht.dirs, None,
        checksArg = Some(ht.checks ++ checks), opArg = "declare")
    }).get
  }

  /** Append `df` under the PERSISTED contract: audit the staged bytes
    * against every declared check (see [[commitDeclareChecks]]) and
    * publish only if clean — [[commitAppendChecked]] with the rules
    * loaded from the table instead of the call site. */
  def commitAppendGated(spark: SparkSession, root: String, df: DataFrame): Int = {
    val head = currentVersion(spark, root)
    val declared = checksOf(spark, root, head)
    require(declared.nonEmpty, s"$root declares no checks; use commitAppend")
    commitAppendChecked(spark, root, df,
      declared.map { case (n, e) => n -> expr(e) })
  }

  /** UNIQUE-KEY ingest: append `df` only if (a) the batch carries no
    * duplicate `key` values, (b) no batch key already exists in the
    * table, and (c) every persisted CHECK passes — the idempotent-event
    * / primary-key door for a 100 TB ingest.  The existing-key probe is
    * ONE semi join confined by the zone map when the table is clustered
    * on `key` (the probe range is the batch's key span, so a day's
    * batch probes a day's dirs); deletion vectors apply, so a deleted
    * key is legitimately re-insertable.  A violation throws
    * [[CommitRejected]] and reclaims the staged dir.  Concurrency: a
    * commit landing between probe and publish aborts the publish and
    * re-probes against the new head (bounded retries) — two racing
    * batches sharing a key can never both land. */
  def commitAppendUnique(spark: SparkSession, root: String, df: DataFrame,
      key: String): Int = {
    val rel = writeDataDir(spark, root, df)
    val staged = readParquetDirs(spark, Seq(dataPath(root, rel)))
    def reject(violations: Map[String, Long]): Nothing = {
      val p = new org.apache.hadoop.fs.Path(s"$root/$rel")
      fs(spark, p).delete(p, true)
      throw new CommitRejected(violations)
    }
    val nDupKeys = staged.groupBy(col(key)).count()
      .filter(col("count") > 1).count()
    if (nDupKeys > 0) reject(Map("duplicate_key_in_batch" -> nDupKeys))
    val n = staged.count()
    var attempt = 0
    while (attempt < 5) {
      attempt += 1
      val head0 = currentVersion(spark, root)
      val h0 = record(spark, root, head0)
      // persisted contract rides along (audited on the staged bytes)
      val declared = h0.checks
      if (declared.nonEmpty) {
        val cs = declared.map { case (nm, e) => nm -> expr(e) }
        val counts = staged.agg(count(lit(1)),
          cs.map { case (_, c) => count(when(coalesce(!c, lit(false)), 1)) }: _*).head()
        val bad = cs.zipWithIndex.collect {
          case ((nm, _), i) if counts.getLong(i + 1) > 0 => nm -> counts.getLong(i + 1)
        }.toMap
        if (bad.nonEmpty) reject(bad)
      }
      if (head0 > 0) {
        val keys = staged.select(col(key)).distinct()
        // The zone-map shortcut (readRange on the key) drops existing
        // rows whose key fails try_cast, so it is only sound when the
        // STAGED batch has zero null-cast keys — a non-castable staged
        // key could otherwise clash with a non-castable existing key
        // that the BETWEEN row filter never sees.  Count the null
        // casts alongside the bounds in the same aggregate.
        val bounds = staged.agg(min(tryLong(key)), max(tryLong(key)),
          count(when(tryLong(key).isNull && col(key).isNotNull, 1))).head()
        val existing =
          if (h0.statsCol.contains(key) &&
              !bounds.isNullAt(0) && !bounds.isNullAt(1) &&
              bounds.getLong(2) == 0L)
            readRange(spark, root, head0, bounds.getLong(0), bounds.getLong(1))
          else if (h0.statsCols.contains(key) &&
              !bounds.isNullAt(0) && !bounds.isNullAt(1) &&
              bounds.getLong(2) == 0L)
            readRangeOn(spark, root, head0, key, bounds.getLong(0), bounds.getLong(1))
          else readAt(spark, root, head0)
        val nClash = existing.select(col(key))
          .join(broadcast(keys), Seq(key), "left_semi").count()
        if (nClash > 0) reject(Map("key_exists" -> nClash))
      }
      val v = publishRecord(spark, root,
        head => {
          val ht = record(spark, root, head)
          extraFields(spark, root, ht, ht.dirs :+ rel, None,
            precomputedRows = Map(rel -> n), opArg = "append")
        },
        abortIf = head => head != head0) // new head: re-probe its keys
      v match {
        case Some(ver) => return ver
        case None => () // retry loop re-probes against the moved head
      }
    }
    reject(Map("commit_contention" -> 5L))
  }

  /** Copy-on-write update: rewrite ONLY the data dirs containing rows
    * matching `pred`; every other dir carries into the new manifest
    * verbatim.  `transform` receives a touched dir's FULL content and
    * returns its replacement — apply the update with
    * `when(pred, ...).otherwise(...)`, or `filter(!pred)` for a delete.
    * Cost is O(touched dirs) read + write, never O(table): at 100 TB an
    * upsert confined to yesterday's ingest rewrites yesterday's dirs
    * only.  Touched-dir discovery is one pruned scan (`pred` pushes to
    * the parquet row groups) collecting DISTINCT file names — bounded
    * by file count, not row count.  Concurrent APPENDS compose (publish
    * re-resolves the head, and an appended dir contains no `pred` rows
    * this update saw, so it carries through the untouched set); two
    * updates rewriting the same dir are a write-write conflict this log
    * does not arbitrate — coordinate above it, as the lakehouse formats
    * do. */
  def commitUpdate(spark: SparkSession, root: String, pred: org.apache.spark.sql.Column,
      transform: DataFrame => DataFrame): Int = {
    var attempt = 0
    while (attempt < 5) {
      attempt += 1
      val head0 = currentVersion(spark, root)
      require(head0 > 0, s"no committed version at $root")
      val h0 = record(spark, root, head0)
      val dirs0 = h0.dirs
      // file identity comes from the _metadata projection, not
      // input_file_name(): under live deletion vectors the read is a
      // JOINED plan, where input_file_name() is undefined (it could name
      // the sidecar, or nothing — silently touching zero dirs)
      val touchedFiles = readDirsDv(spark, root, h0, dirs0, keepPos = true, h0)
        .filter(pred).select(col("_dvf").as("f"))
        .distinct().collect().map(_.getString(0))
      val touched = dirs0.filter(d => touchedFiles.exists(fileInDir(root, _, d))).toSet
      // `transform` is applied PER DIR (each dir's full content, read
      // through the evolved-schema view so a rewritten pre-alter dir comes
      // out carrying the full schema), but all rewrites land in ONE
      // partitioned write — dir boundaries preserved as _d=i subdirs, so
      // a clustered layout keeps its per-dir [min,max] tightness and the
      // commit costs 2 jobs, not 2 per touched dir.  A dir whose rows all
      // vanish writes no partition and drops from the manifest.
      val rewritten = rewriteDirs(spark, root, h0, dirs0.filter(touched).map(d =>
        transform(readDirsDv(spark, root, h0, Seq(d), keepPos = false, h0))))
      // CONFLICT DETECTION (snapshot isolation): concurrent appends and
      // CoW commits on OTHER dirs compose (their dirs carry through the
      // re-resolved head), but a concurrent commit that replaced or
      // folded one of OUR touched dirs invalidates this rewrite —
      // publishing it would resurrect pre-conflict rows next to their
      // successors.  A concurrent MOR delete is the same conflict in
      // metadata clothing: it changes a touched dir's VECTOR state
      // without moving the manifest, and our rewrite (computed under the
      // old vectors, dropping the dir and its entries) would resurrect
      // the freshly-deleted rows.  Abort on either, reclaim the staged
      // rewrite, and RETRY the whole update against the new head.
      val v = publishRecord(spark, root,
        head => {
          val ht = record(spark, root, head)
          extraFields(spark, root, ht, ht.dirs.filterNot(touched) ++ rewritten._1,
            None, rewritten._2, None, rewritten._3, rewritten._4, opArg = "update")
        },
        abortIf = head => rewriteConflicts(spark, root, head, h0, touched))
      v match {
        case Some(ver) => return ver
        case None => reclaimStaged(spark, root, rewritten._1)
      }
    }
    throw new IllegalStateException(s"update conflict not resolving at $root")
  }

  /** Delete the staged base dirs behind a set of `_d=i` rewrite entries
    * (and/or plain dirs) after a lost publish race. */
  private def reclaimStaged(spark: SparkSession, root: String, rels: Seq[String]): Unit =
    rels.map(_.split("/").take(2).mkString("/")).distinct.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(dataPath(root, d))
      fs(spark, p).delete(p, true)
    }

  /** MERGE-ON-READ delete: remove the rows matching `pred` WITHOUT
    * rewriting any data dir.  The matched rows' (file, row position)
    * identities land as ONE small delete-sidecar dir; the commit is pure
    * metadata over the same manifest, attaching the sidecar to each dir
    * it deletes from (`"dv"` entries).  Readers anti-join the vectors
    * out ([[readDirsDv]]); [[countAt]]/[[history]] subtract the recorded
    * cardinalities with zero I/O.
    *
    * Positional, not keyed: exactly the rows `pred` matched die — a
    * later append of identical values is untouched, and no key column
    * is required.  Cost shape vs the copy-on-write delete
    * ([[commitUpdate]] with `filter(!pred)`): CoW pays O(touched dirs)
    * read + WRITE — deleting 0.01% of rows scattered across every dir
    * rewrites the whole table; MOR pays the same pruned read but writes
    * O(deleted rows) — the sidecar — deferring the rewrite to the next
    * compaction/OPTIMIZE/CoW touch of each dir, which reads DV-applied
    * content and so retires the vectors for free.  The read-side tax
    * until then is one anti join against the sidecar (broadcast while
    * small).  This is the Delta/Iceberg deletion-vector trade, chosen
    * per delete: frequent small deletes → MOR; bulk deletes confined to
    * few dirs → CoW.
    *
    * Concurrency: appends and commits on OTHER dirs compose; a
    * concurrent commit that replaced one of OUR touched dirs — or raced
    * another MOR delete onto it — aborts and retries against the new
    * head (fresh positions, disjoint vectors).  Returns the new version,
    * or the unchanged head when `pred` matched nothing. */
  def commitDeleteMOR(spark: SparkSession, root: String,
      pred: org.apache.spark.sql.Column): Int = {
    var attempt = 0
    while (attempt < 5) {
      attempt += 1
      val head0 = currentVersion(spark, root)
      require(head0 > 0, s"no committed version at $root")
      val h0 = record(spark, root, head0)
      val dirs0 = h0.dirs
      val rel = s"data/${java.util.UUID.randomUUID()}"
      readDirsDv(spark, root, h0, dirs0, keepPos = true, h0)
        .filter(pred).select(col("_dvf"), col("_dvp"))
        .write.mode("errorifexists").parquet(s"$root/$rel")
      cacheDirSchema(dataPath(root, rel),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("_dvf", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("_dvp", org.apache.spark.sql.types.LongType))))
      // per-dir deleted counts from the staged sidecar: one tiny job
      // grouped by file (bounded by file count), attributed driver-side
      val perFile = readParquetDirs(spark, Seq(dataPath(root, rel)))
        .groupBy(col("_dvf")).count()
        .collect().map(r => (r.getString(0), r.getLong(1)))
      if (perFile.isEmpty) { reclaimStaged(spark, root, Seq(rel)); return head0 }
      val perDir: Map[String, Long] = perFile.groupBy { case (f, _) =>
        dirs0.find(fileInDir(root, f, _)).getOrElse(throw new IllegalStateException(
          s"matched file $f attributes to no manifest dir of $root"))
      }.map { case (d, fc) => d -> fc.map(_._2).sum }
      val v = publishRecord(spark, root,
        head => {
          val ht = record(spark, root, head)
          extraFields(spark, root, ht, ht.dirs, None,
            dvAdd = perDir.map { case (d, n) => d -> (Seq(rel), n) }, opArg = "delete")
        },
        // our positions are only valid against head0's copy AND head0's
        // vector state of each touched dir: a concurrent rewrite orphans
        // them (silent resurrect), a concurrent MOR delete could list
        // the same position twice (dvRows double-count) — retry on both
        abortIf = head => rewriteConflicts(spark, root, head, h0, perDir.keySet))
      v match {
        case Some(ver) => return ver
        case None => reclaimStaged(spark, root, Seq(rel))
      }
    }
    throw new IllegalStateException(s"MOR delete conflict not resolving at $root")
  }

  /** INDEX MAINTENANCE for rewrite/fold paths: when the table declares a
    * bloom index — a value bloom or a `_tok(col)` token bloom — compute
    * fresh per-subdir filter entries over one staged partitioned write
    * in ONE distinct-positions job, mirroring the ingest-side build
    * expressions exactly (same canonical-string hashing / tokenizer, so
    * probe and filter can never drift).  Without this, every CoW update,
    * MERGE and OPTIMIZE fold would leave its output dirs entry-less and
    * point/token-probe pruning would decay toward full scans with churn
    * — correct, but the pruning sharpness a 100 TB point-read budget
    * depends on.  A subdir that contributes no positions (all-null /
    * token-less text) gets the EMPTY filter — it genuinely holds no
    * probe-able value, so pruning it is exact.  Returns None when no
    * index is declared or the staged data lacks the indexed column
    * (absent entries are read conservatively, never wrongly). */
  /** Read a `partitionBy(part)` staged base dir under an EXPLICIT schema
    * (the leaf columns the writer just flushed + the int partitioner all
    * staged writes use) — skips the per-call footer-inference job the
    * plain read pays; the data read is identical. */
  private def readStagedPartitioned(spark: SparkSession, root: String,
      base: String, part: String,
      leaf: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(org.apache.spark.sql.types.StructType(
        leaf.fields.filterNot(_.name == part) :+
          org.apache.spark.sql.types.StructField(part,
            org.apache.spark.sql.types.IntegerType)))
      .parquet(s"$root/$base")

  private def bloomsForStaged(spark: SparkSession, root: String, h0: Record,
      base: String, part: String, rels: Seq[String],
      leafSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : Option[(String, Int, Map[String, String])] = {
    h0.bloomCol.flatMap { case (decl, bits) =>
      val Tok = """_tok\(([^()]+)\)""".r
      val df = leafSchema
        .map(readStagedPartitioned(spark, root, base, part, _))
        .getOrElse(spark.read.parquet(s"$root/$base"))
      val needCol = decl match { case Tok(c) => c; case c => c }
      if (!df.columns.contains(needCol)) None
      else {
        val positions = decl match {
          case Tok(c) => df
            .select(col(part).as("_pd"), explode(TextIndex.tokensOf(col(c))).as("_t"))
            .select(col("_pd"), explode(BloomIndex.positions(col("_t"), bits)).as("_p"))
          case c => df
            .select(col(part).as("_pd"), explode(BloomIndex.positions(col(c), bits)).as("_p"))
        }
        val perDir: Map[String, Array[Long]] = positions.distinct()
          .groupBy(col("_pd")).agg(collect_list(col("_p")).as("ps"))
          .collect()
          .map(r => s"$base/$part=${r.get(0)}" -> r.getSeq[Long](1).toArray)
          .toMap
        val entries = rels.map { rel =>
          rel -> BloomIndex.storeBitset(spark, root, rel,
            perDir.getOrElse(rel, Array.empty[Long]), bits)
        }.toMap
        Some((decl, bits, entries))
      }
    }
  }

  /** [[bloomsForStaged]] for ONE plain staged dir (a merge's upsert
    * set): the ingest-side filter build verbatim. */
  private def bloomForDir(spark: SparkSession, root: String, h0: Record,
      rel: String): Option[(String, Int, Map[String, String])] = {
    h0.bloomCol.flatMap { case (decl, bits) =>
      val Tok = """_tok\(([^()]+)\)""".r
      val df = readParquetDirs(spark, Seq(dataPath(root, rel)))
      val needCol = decl match { case Tok(c) => c; case c => c }
      if (!df.columns.contains(needCol)) None
      else {
        import spark.implicits._
        val positions = decl match {
          case Tok(c) => df.select(explode(TextIndex.tokensOf(col(c))).as("_t"))
            .select(explode(BloomIndex.positions(col("_t"), bits)).as("_p"))
          case c => df.select(explode(BloomIndex.positions(col(c), bits)).as("_p"))
        }
        val set = positions.distinct().as[Long].collect()
        Some((decl, bits, Map(rel -> BloomIndex.storeBitset(spark, root, rel, set, bits))))
      }
    }
  }

  /** Union two bloom-entry contributions of the same declaration. */
  private def bloomUnion(a: Option[(String, Int, Map[String, String])],
      b: Option[(String, Int, Map[String, String])])
      : Option[(String, Int, Map[String, String])] = (a, b) match {
    case (Some((c, m, x)), Some((_, _, y))) => Some((c, m, x ++ y))
    case (x, None) => x
    case (None, y) => y
  }

  /** Land N per-dir replacement frames as ONE partitioned write
    * (`_d=i` subdirs) and measure each surviving subdir's stats + row
    * count — and, on a bloom-indexed table, its fresh filter entry
    * ([[bloomsForStaged]]) — in batched jobs.  Returns (dirs, stats,
    * rows, blooms). */
  private def rewriteDirs(spark: SparkSession, root: String, h0: Record,
      frames: Seq[DataFrame])
      : (Seq[String], Map[String, (Long, Long)], Map[String, Long],
         Option[(String, Int, Map[String, String])]) = {
    if (frames.isEmpty) return (Seq.empty, Map.empty, Map.empty, None)
    require(!frames.head.columns.contains("_d"),
      "table column _d collides with the rewrite partitioner")
    val base = s"data/${java.util.UUID.randomUUID()}"
    frames.zipWithIndex
      .map { case (df, i) => df.withColumn("_d", lit(i)) }
      .reduce(_.unionByName(_))
      .write.mode("errorifexists").partitionBy("_d").parquet(s"$root/$base")
    val bp = new org.apache.hadoop.fs.Path(s"$root/$base")
    val rels = fs(spark, bp).listStatus(bp).filter(_.isDirectory)
      .map(st => s"$base/${st.getPath.getName}").sorted.toSeq
    if (rels.isEmpty) return (Seq.empty, Map.empty, Map.empty, None)
    // leaf files carry the frame columns minus the _d partitioner
    rels.foreach(r => cacheDirSchema(dataPath(root, r),
      org.apache.spark.sql.types.StructType(
        frames.head.schema.fields.filterNot(_.name == "_d"))))
    val scOpt = h0.statsCol
    val c = scOpt.map(statsExpr).getOrElse(lit(0L))
    val bad = scOpt.map(sc => statsBad(sc, c)).getOrElse(lit(true))
    val agg = readStagedPartitioned(spark, root, base, "_d", frames.head.schema)
      .groupBy(col("_d"))
      .agg(min(c).as("lo"), max(c).as("hi"),
        count(when(bad, 1)).as("b"), count(lit(1)).as("n"))
      .collect()
    val stats = agg.flatMap { r =>
      if (scOpt.isEmpty || r.isNullAt(1) || r.isNullAt(2) || r.getLong(3) > 0) None
      else Some(s"$base/_d=${r.get(0)}" -> (r.getLong(1), r.getLong(2)))
    }.toMap
    val rows = agg.map(r => s"$base/_d=${r.get(0)}" -> r.getLong(4)).toMap
    (rels, stats, rows, bloomsForStaged(spark, root, h0, base, "_d", rels,
      leafSchema = Some(frames.head.schema)))
  }

  /** Keyed MERGE (upsert): head rows whose `key` matches an update row
    * are REPLACED by it, unmatched update rows are INSERTED, and every
    * other row carries through untouched — `MERGE INTO ... WHEN MATCHED
    * THEN UPDATE WHEN NOT MATCHED THEN INSERT`, copy-on-write at dir
    * granularity.  `updates` must share the table schema, with at most
    * one row per key.
    *
    * Cost shape at 100 TB: matched-dir discovery is one key semi-join
    * collecting distinct file names (bounded by file count; on a
    * key-clustered table the zone-map layout confines it to the
    * overlapping dirs); each touched dir is rewritten with its matched
    * keys anti-joined out; the update set lands as ONE new dir —
    * O(touched dirs + updates) I/O, never O(table).  Concurrent appends
    * compose exactly as for [[commitUpdate]]. */
  def commitMerge(spark: SparkSession, root: String, updates: DataFrame,
      key: String): Int =
    mergeImpl(spark, root, updates, updates.select(col(key)).distinct(), key).get

  /** Exactly-once STREAMING MERGE: the keyed upsert as the commit for
    * micro-batch `batchId`, skipped when a commit carrying this (or a
    * later) batchId already landed — `foreachBatch { (b, id) =>
    * commitMergeBatch(root, id, b, key) }` is the transactional
    * streaming-upsert sink (the Delta foreachBatch-MERGE deployment
    * shape), idempotent across replays exactly like [[commitBatch]]:
    * the fence piggybacks on the manifest rename.  A replayed batch is
    * SKIPPED, so the CoW rewrite cost is paid once per batch, not once
    * per replay. */
  def commitMergeBatch(spark: SparkSession, root: String, batchId: Long,
      updates: DataFrame, key: String): Option[Int] = {
    if (lastBatchId(spark, root).exists(_ >= batchId)) return None
    mergeImpl(spark, root, updates, updates.select(col(key)).distinct(), key,
      batchId = Some(batchId))
  }

  /** The shared MERGE body: evict every head row whose `key` is in
    * `keysDf` (dir-granular CoW, zone-map-confined discovery), land
    * `upserts` as one new dir.  [[commitMerge]] passes the upserts' own
    * keys; [[ChangeFeed.applyChanges]] passes upsert ∪ delete keys, so
    * a CDC delete evicts without reinserting. */
  /** The dirs whose zone-map entry for `key` — the clustered statsCol
    * or any declared multi-column statsCols entry — overlaps the
    * touched-key range: the SHARED discovery confinement of the
    * CoW/MOR merge paths.  Conservative (all dirs) when the key keeps
    * no map, any entry is missing for a dir, or ANY touched key fails
    * the long cast — a null-casting key is invisible to min/max, its
    * matched dirs would be pruned, and those rows would silently
    * survive the merge as duplicates. */
  private def keyConfinedDirs(h0: Record,
      dirs0: Seq[String], keysDf: DataFrame, key: String,
      keysLocal: Option[Array[org.apache.spark.sql.Row]] = None): Seq[String] = {
    val entryOf: String => Option[(Long, Long)] =
      if (h0.statsCol.contains(key)) h0.stats.get
      else if (h0.statsCols.contains(key)) d => h0.mstats.get((key, d))
      else return dirs0
    // the touched-key [min,max]: the agg's semantics are "any key whose
    // try_cast is null (including a null key) voids the confinement".
    // Over a LOCALIZED key set with an INTEGRAL key column the same
    // answer is a driver-side fold — zero Spark jobs (the widening cast
    // cannot fail, so only a null key voids); other types keep the agg
    // (over the localized frame it is a tiny local-scan job).
    def aggRange(): Option[(Long, Long)] = {
      val ck = tryLong(key)
      val r = keysDf.agg(min(ck), max(ck), count(when(ck.isNull, 1))).head()
      if (r.isNullAt(0) || r.getLong(2) > 0) None
      else Some((r.getLong(0), r.getLong(1)))
    }
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val range: Option[(Long, Long)] = keysLocal match {
      case Some(rows) =>
        val i = keysDf.schema.fieldIndex(key)
        keysDf.schema(i).dataType match {
          case LongType | IntegerType | ShortType | ByteType =>
            if (rows.isEmpty || rows.exists(_.isNullAt(i))) None
            else {
              var lo = Long.MaxValue; var hi = Long.MinValue
              rows.foreach { r =>
                val v = r.get(i) match {
                  case l: java.lang.Long    => l.longValue
                  case n: java.lang.Integer => n.longValue
                  case s: java.lang.Short   => s.longValue
                  case b: java.lang.Byte    => b.longValue
                }
                if (v < lo) lo = v
                if (v > hi) hi = v
              }
              Some((lo, hi))
            }
          case _ => aggRange()
        }
      case None => aggRange()
    }
    range match {
      case None => dirs0
      case Some((klo, khi)) =>
        dirs0.filter(d => entryOf(d).forall { case (a, b) => b >= klo && a <= khi })
    }
  }

  /** Dirs that NULL-FILL one of the merge `keys` (an add event recorded
    * them): no row there can match, so discovery skips them unscanned. */
  private def keylessDirs(h0: Record, keys: Seq[String]): Set[String] =
    h0.alters.filter(a => keys.contains(a._1) && a._2 != "#rename" && a._2 != "#drop")
      .flatMap(_._3).toSet

  /** Rows under which a merge's touched-key set is LOCALIZED: collected
    * to the driver once and re-planned as a broadcast LocalRelation.
    * The merge body evaluates the key set in SEVERAL actions (zone-map
    * confinement agg, matched-file semi-join, per-dir eviction
    * anti-joins), and each action re-scans the keys' plan AND rebuilds
    * its BroadcastExchange as a separate Spark job (~45 ms each,
    * 25–44 such jobs per judged CDC/streaming query, measured) — a
    * LocalRelation broadcast instead builds driver-side with NO job, so
    * one bounded probe replaces every per-action rebuild.  Scale-safe:
    * the probe is `limit(cap+1)` (≈ the cost of ONE of the broadcast
    * builds it replaces), and past the cap the distributed path runs
    * verbatim.  Session conf `spark.graft.mergeLocalKeysCap` (rows,
    * default 100000 ≈ single-digit MB localized; ≤ 0 disables). */
  private[io] val LocalKeysCapConf = "spark.graft.mergeLocalKeysCap"
  private def localizeKeys(spark: SparkSession, keysDf: DataFrame)
      : Option[(DataFrame, Array[org.apache.spark.sql.Row])] = {
    val cap = try spark.conf.get(LocalKeysCapConf, "100000").toInt
      catch { case _: NumberFormatException => 100000 }
    if (cap <= 0) return None
    val rows = keysDf.limit(cap + 1).collect()
    if (rows.length > cap) None
    else {
      // the broadcast hint keeps the LOCALIZED side the build side
      // whatever its row-size estimate: the bounded collect above just
      // proved it fits on the driver, and without the hint a wide-typed
      // key could flip the planner to a shuffle of the BIG side
      val local = broadcast(spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), keysDf.schema))
      Some((local, rows))
    }
  }

  private[graft] def mergeImpl(spark: SparkSession, root: String,
      upserts: DataFrame, keysDf: DataFrame, key: String,
      batchId: Option[Long] = None, attempt: Int = 0): Option[Int] =
    mergeKeysImpl(spark, root, upserts, keysDf, Seq(key), batchId, attempt)

  private[graft] def mergeKeysImpl(spark: SparkSession, root: String,
      upserts: DataFrame, keysDf: DataFrame, keys: Seq[String],
      batchId: Option[Long] = None, attempt: Int = 0): Option[Int] = {
    // REPLAY SHORT-CIRCUIT: a batch whose fence already landed is
    // skipped BEFORE any discovery/rewrite/write work — the
    // commitMergeBatch pre-check, inside the shared body so the
    // ChangeFeed apply paths get it too (a wiped-checkpoint replay used
    // to pay the full merge just to abort at publish).  The
    // authoritative check remains publishRecord's abortIf under the
    // publish lock; this is purely the cheap exit.
    if (batchId.exists(b => lastBatchId(spark, root).exists(_ >= b)))
      return None
    val head0 = currentVersion(spark, root)
    require(head0 > 0, s"no committed version at $root")
    val h0 = record(spark, root, head0)
    val dirs0 = h0.dirs
    // LOCALIZE a provably-small key set once (see localizeKeys): every
    // action below then broadcasts it driver-side with no per-action
    // rebuild job; past the cap the distributed plan runs verbatim
    val (keysDfX, keysLocal) = localizeKeys(spark, keysDf) match {
      case Some((df, rows)) => (df, Some(rows))
      case None             => (keysDf, None)
    }
    // when a merge key HAS a zone map — the clustered statsCol OR any
    // column of the multi-column map — discovery only needs the dirs
    // overlapping the TOUCHED-KEY range (upserts AND deletes — a delete
    // key outside the upserts' span must still evict) — O(overlapping
    // dirs) instead of a full key-column pass; COMPOSITE keys confine
    // CONJUNCTIVELY (a match needs every column equal, so a dir missing
    // any key's touched range cannot hold one)
    val candidates = keys.foldLeft(dirs0)((ds, k) =>
      keyConfinedDirs(h0, ds, keysDfX, k, keysLocal))
    // matched-file discovery runs over the EVOLVED, vector-applied view
    // (readDirsDv with the position columns kept): renamed generations
    // resolve the key under its current name, deleted rows cannot
    // re-mark their dir, and the file identity comes from the _metadata
    // projection (reliable where input_file_name is not).  Dirs that
    // NULL-FILL the merge key — an add event recorded them — can never
    // match and are skipped without scanning.
    val scanDirs = candidates.filterNot(keylessDirs(h0, keys))
    val touchedFiles =
      if (scanDirs.isEmpty) Array.empty[String]
      else readDirsDv(spark, root, h0, scanDirs, keepPos = true, h0)
        .select(keys.map(col) :+ col("_dvf").as("f"): _*)
        .join(keysDfX, keys, "left_semi")
        .select("f").distinct()
        .collect().map(_.getString(0))
    val touched = dirs0.filter(d => touchedFiles.exists(fileInDir(root, _, d))).toSet
    // all matched-key evictions land in ONE partitioned write (see
    // rewriteDirs) — 2 jobs however many dirs the keys touch
    val rewritten = rewriteDirs(spark, root, h0,
      dirs0.filter(touched).map(d =>
        readDirsDv(spark, root, h0, Seq(d), keepPos = false, h0)
          .join(keysDfX, keys, "left_anti")))
    val newDir = writeDataDir(spark, root, upserts)
    // index maintenance: the upsert dir gets its own filter entry, so a
    // merged-in key stays point-probeable without a conservative read
    val bloomAdd = bloomUnion(rewritten._4, bloomForDir(spark, root, h0, newDir))
    // abort on (a) a racing replay carrying our batch fence, or (b) a
    // concurrent commit that replaced one of OUR touched dirs — or
    // changed their deletion-vector state (the rewrite would resurrect
    // those deletes) — the commitUpdate conflict discipline: (a) is
    // terminal, (b) retries
    val v = publishRecord(spark, root, head => {
        val ht = record(spark, root, head)
        extraFields(spark, root, ht, ht.dirs.filterNot(touched) ++ rewritten._1 :+ newDir,
          None, rewritten._2, None, rewritten._3, bloomAdd, opArg = "merge")
          .copy(batchId = batchId)
      },
      abortIf = head =>
        batchId.exists(b => lastBatchId(spark, root).exists(_ >= b)) ||
          rewriteConflicts(spark, root, head, h0, touched))
    v match {
      case Some(_) => v
      case None =>
        reclaimStaged(spark, root, rewritten._1 :+ newDir)
        if (batchId.exists(b => lastBatchId(spark, root).exists(_ >= b))) None // fenced
        else if (attempt < 5)
          mergeKeysImpl(spark, root, upserts, keysDf, keys, batchId, attempt + 1)
        else throw new IllegalStateException(s"merge conflict not resolving at $root")
    }
  }

  /** [[commitMerge]] on a COMPOSITE key: a head row is replaced when
    * EVERY column in `keys` matches its update row (`MERGE ON a.x = b.x
    * AND a.y = b.y` — the natural-key shape single-column merges force
    * users to concat around).  Same cost discipline: discovery is one
    * multi-column semi-join, zone-map confinement applies CONJUNCTIVELY
    * on every mapped key, and `updates` must carry at most one row per
    * composite key. */
  def commitMergeKeys(spark: SparkSession, root: String, updates: DataFrame,
      keys: Seq[String]): Int = {
    require(keys.nonEmpty && keys.distinct == keys, s"bad merge keys $keys")
    mergeKeysImpl(spark, root, updates,
      updates.select(keys.map(col): _*).distinct(), keys).get
  }

  /** Exactly-once streaming twin of [[commitMergeKeys]] (the
    * [[commitMergeBatch]] fence). */
  def commitMergeBatchKeys(spark: SparkSession, root: String, batchId: Long,
      updates: DataFrame, keys: Seq[String]): Option[Int] = {
    require(keys.nonEmpty && keys.distinct == keys, s"bad merge keys $keys")
    if (lastBatchId(spark, root).exists(_ >= batchId)) return None
    mergeKeysImpl(spark, root, updates,
      updates.select(keys.map(col): _*).distinct(), keys,
      batchId = Some(batchId))
  }

  /** [[commitMergeMOR]] on a COMPOSITE key — the zero-rewrite upsert
    * with every-column matching. */
  def commitMergeKeysMOR(spark: SparkSession, root: String,
      updates: DataFrame, keys: Seq[String]): Int = {
    require(keys.nonEmpty && keys.distinct == keys, s"bad merge keys $keys")
    mergeMorKeysImpl(spark, root, updates, keys, batchId = None).get
  }

  /** MERGE-ON-READ keyed upsert: the [[commitMerge]] semantics (matched
    * keys replaced, unmatched inserted) with ZERO dir rewrites — matched
    * rows are evicted as positional deletion vectors (one semi-join scan
    * writing an O(matched rows) sidecar; zone-map-confined when the key
    * is the stats column) and the update set lands as one clean new dir.
    * Write cost is O(new data + matched rows) however WIDE the touched
    * dirs are — the CoW merge pays O(touched dirs) read+write, so on a
    * 100 TB table where each daily upsert brushes thousands of dirs the
    * MOR merge is the difference between rewriting terabytes and writing
    * megabytes.  The read-side tax and its retirement are exactly the
    * [[commitDeleteMOR]] story: vectored dirs pay one anti join until
    * any rewrite path folds them.  Chained MOR merges compose: the next
    * merge's scan sees the PREVIOUS upsert dir as a candidate and
    * vectors its superseded rows.  `updates` must carry at most one row
    * per key (the commitMerge contract). */
  def commitMergeMOR(spark: SparkSession, root: String, updates: DataFrame,
      key: String): Int =
    mergeMorImpl(spark, root, updates, key, batchId = None).get

  /** Exactly-once STREAMING MOR merge: [[commitMergeMOR]] fenced by
    * `batchId` exactly like [[commitMergeBatch]] — the cheap
    * transactional streaming-upsert sink: each micro-batch costs one
    * confined semi-join scan + two small writes, never a dir rewrite;
    * compaction amortizes the deferred rewrites on ITS schedule. */
  def commitMergeBatchMOR(spark: SparkSession, root: String, batchId: Long,
      updates: DataFrame, key: String): Option[Int] = {
    if (lastBatchId(spark, root).exists(_ >= batchId)) return None
    mergeMorImpl(spark, root, updates, key, batchId = Some(batchId))
  }

  /** Exactly-once streaming twin of [[commitMergeKeysMOR]] — the
    * composite-key MOR merge under the batchId fence (the registered
    * sink's `merge-mor` mode on a comma-separated key). */
  def commitMergeBatchKeysMOR(spark: SparkSession, root: String,
      batchId: Long, updates: DataFrame, keys: Seq[String]): Option[Int] = {
    require(keys.nonEmpty && keys.distinct == keys, s"bad merge keys $keys")
    if (lastBatchId(spark, root).exists(_ >= batchId)) return None
    mergeMorKeysImpl(spark, root, updates, keys, batchId = Some(batchId))
  }

  /** Fenced keyed merge with EXPLICIT EVICTIONS: every key in `keysDf`
    * is evicted — CoW rewrite or MOR deletion vectors per `mor` — and
    * `updates`' rows re-land; a key present in `keysDf` but absent from
    * `updates` is a TRUE delete (physically gone from the next CoW
    * snapshot; vectored until the next fold under MOR).  The
    * [[ChangeFeed.applyChangesBatch]] shape for callers that already
    * split deletes from upserts — the registered sink's `deleteOn`
    * path.  None when the fence voids a replay. */
  private[graft] def mergeEvictBatch(spark: SparkSession, root: String,
      batchId: Long, updates: DataFrame, keysDf: DataFrame,
      keys: Seq[String], mor: Boolean): Option[Int] = {
    if (lastBatchId(spark, root).exists(_ >= batchId)) return None
    if (mor) mergeMorKeysImpl(spark, root, updates, keys,
      batchId = Some(batchId), keysDf0 = Some(keysDf))
    else mergeKeysImpl(spark, root, updates, keysDf, keys, Some(batchId))
  }

  private def mergeMorImpl(spark: SparkSession, root: String,
      updates: DataFrame, key: String, batchId: Option[Long],
      attempt: Int = 0): Option[Int] =
    mergeMorKeysImpl(spark, root, updates, Seq(key), batchId, attempt)

  private def mergeMorKeysImpl(spark: SparkSession, root: String,
      updates: DataFrame, keys: Seq[String], batchId: Option[Long],
      attempt: Int = 0, keysDf0: Option[DataFrame] = None): Option[Int] = {
    // replay short-circuit before any work — see mergeKeysImpl
    if (batchId.exists(b => lastBatchId(spark, root).exists(_ >= b)))
      return None
    val head0 = currentVersion(spark, root)
    require(head0 > 0, s"no committed version at $root")
    val h0 = record(spark, root, head0)
    val dirs0 = h0.dirs
    // an EXPLICIT key set may exceed the updates' own keys: the extras
    // are true deletes — vectored wherever they live, never re-landed
    // (the applyChanges eviction semantics, merge-on-read form)
    val keysDf = keysDf0.getOrElse(updates.select(keys.map(col): _*).distinct())
    // localized small key set: no per-action broadcast rebuild jobs
    // (see localizeKeys); past the cap the distributed plan runs verbatim
    val (keysDfX, keysLocal) = localizeKeys(spark, keysDf) match {
      case Some((df, rows)) => (df, Some(rows))
      case None             => (keysDf, None)
    }
    // zone-map confinement + null-cast conservatism: the commitMerge
    // discovery discipline verbatim (clustered OR multi-column map),
    // composite keys confining conjunctively
    val candidates = keys.foldLeft(dirs0)((ds, k) =>
      keyConfinedDirs(h0, ds, keysDfX, k, keysLocal))
    val scanDirs = candidates.filterNot(keylessDirs(h0, keys))
    val rel = s"data/${java.util.UUID.randomUUID()}"
    val perDir: Map[String, Long] =
      if (scanDirs.isEmpty) Map.empty
      else {
        readDirsDv(spark, root, h0, scanDirs, keepPos = true, h0)
          .join(keysDfX, keys, "left_semi")
          .select(col("_dvf"), col("_dvp"))
          .write.mode("errorifexists").parquet(s"$root/$rel")
        cacheDirSchema(dataPath(root, rel),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("_dvf", org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("_dvp", org.apache.spark.sql.types.LongType))))
        val perFile = readParquetDirs(spark, Seq(dataPath(root, rel)))
          .groupBy(col("_dvf")).count()
          .collect().map(r => (r.getString(0), r.getLong(1)))
        perFile.groupBy { case (f, _) =>
          dirs0.find(fileInDir(root, f, _)).getOrElse(throw new IllegalStateException(
            s"matched file $f attributes to no manifest dir of $root"))
        }.map { case (d, fc) => d -> fc.map(_._2).sum }
      }
    // a scan that matched nothing leaves an EMPTY staged sidecar: no
    // manifest will ever reference it, reclaim it now rather than
    // leaving it for vacuum
    if (scanDirs.nonEmpty && perDir.isEmpty) reclaimStaged(spark, root, Seq(rel))
    val newDir = writeDataDir(spark, root, updates)
    // index maintenance: the MOR upsert dir gets its own filter entry
    val bloomAdd = bloomForDir(spark, root, h0, newDir)
    val v = publishRecord(spark, root,
      head => {
        val ht = record(spark, root, head)
        extraFields(spark, root, ht, ht.dirs :+ newDir, None,
          blooms = bloomAdd,
          dvAdd = perDir.map { case (d, n) => d -> (Seq(rel), n) }, opArg = "merge")
          .copy(batchId = batchId)
      },
      abortIf = head =>
        batchId.exists(b => lastBatchId(spark, root).exists(_ >= b)) ||
          rewriteConflicts(spark, root, head, h0, perDir.keySet))
    v match {
      case Some(_) => v
      case None =>
        reclaimStaged(spark, root,
          (if (perDir.isEmpty) Seq(newDir) else Seq(rel, newDir)))
        if (batchId.exists(b => lastBatchId(spark, root).exists(_ >= b))) None // fenced
        else if (attempt < 5)
          mergeMorKeysImpl(spark, root, updates, keys, batchId, attempt + 1, keysDf0)
        else throw new IllegalStateException(s"MOR merge conflict not resolving at $root")
    }
  }

  /** Schema evolution: publish a new version with the SAME data (no dir
    * is touched or rewritten — the alter is a pure metadata commit) plus
    * a new column of `sqlType`.  Every dir in the current manifest
    * predates the column and is recorded for null-filling on read; all
    * data written AFTER the alter (appends, updates, merges) must carry
    * the full evolved schema.  Time travel to a pre-alter version
    * returns the old schema untouched — the alter entry lives only in
    * records from this version on. */
  def commitAlterAdd(spark: SparkSession, root: String, colName: String,
      sqlType: String): Int = {
    requireColName(colName)
    require(!sqlType.startsWith("#"), s"unsupported SQL type $sqlType")
    publishRecord(spark, root, head => {
      require(head > 0, s"no committed version at $root")
      val ht = record(spark, root, head)
      // a duplicate add would make readDirs null-fill OVER the real
      // column values of every pre-alter dir — silent data loss.
      // Re-adding a DROPPED name is legal: the per-generation event
      // order (drop, then fresh null-fill) keeps the old values dead.
      val events = ht.alters.filter(_._1 == colName)
      require(events.isEmpty || events.last._2 == "#drop",
        s"column $colName was already altered into $root")
      require(!readAt(spark, root, head).columns.contains(colName),
        s"column $colName already exists in $root's schema")
      extraFields(spark, root, ht, ht.dirs, None,
        alters = Some(ht.alters :+ ((colName, sqlType, ht.dirs))), opArg = "alter")
    }).get
  }

  /** The one guard on column names that enter the record's compound
    * encodings — `"alters"` keys `col|type` and `old>new|#rename`,
    * `"statsCols"` `a,b`, `"mstats"` keys `col|dir` — so a name may not
    * hold their delimiters, nor shadow the internal partitioner and
    * deletion-vector columns.  Any other character is fine: the record
    * codec escapes every string. */
  private def requireColName(n: String): Unit =
    require(n.nonEmpty && !n.exists(c => c == '|' || c == ',' || c == '>') &&
      !Seq("_dvf", "_dvp", "_d", "_b", "_sc").contains(n),
      s"unsupported characters in column name '$n'")

  /** Does the table's zone-map / bloom metadata reference `colName`?
    * Renaming or dropping such a column would desynchronize the pruning
    * surfaces from the data — callers must retire or migrate those
    * first (a plain 1-D statsCol RENAME is the exception: the rename
    * commit rewrites the field, see [[commitAlterRename]]). */
  private def indexReferences(ht: Record, colName: String): Boolean = {
    val z2Ref = ht.statsCol.exists {
      case Z2(x, y, _) => x == colName || y == colName
      case _           => false
    }
    // a MULTI-COLUMN zone-map member counts too: renaming it would
    // orphan its (col, dir) entries under the old name (new dirs then
    // measure nothing — the physical column changed names — and the map
    // silently degrades); dropping it would leave a declaration that
    // probes a ghost.  Retire the column first (commitRetireStatsCols).
    // The declared metadata-SUM column joins the same discipline: its
    // per-dir entries were measured under this physical name, and a
    // drop-then-re-add would leave sumAt answering from stale bytes.
    z2Ref || ht.bloomCol.exists(_._1 == colName) ||
      ht.statsCols.contains(colName) || ht.sumCol.contains(colName)
  }

  /** Schema evolution: RENAME a column — a pure metadata commit.  Dirs
    * written before the rename keep the old physical name and are
    * mapped forward on read (an ordered `#rename` event in the alters
    * log); data written after must carry the new name.  Time travel to
    * a pre-rename version returns the old name.  A 1-D zone map ON the
    * renamed column follows it (the commit rewrites `statsCol`; the
    * per-dir [min,max] values are name-independent); renaming a column
    * referenced by a 2-D Morton spec or a bloom index is refused —
    * retire those first. */
  def commitAlterRename(spark: SparkSession, root: String, oldName: String,
      newName: String): Int = {
    requireColName(oldName)
    requireColName(newName)
    publishRecord(spark, root, head => {
      require(head > 0, s"no committed version at $root")
      val ht = record(spark, root, head)
      val cols = readAt(spark, root, head).columns
      require(cols.contains(oldName), s"no column $oldName in $root's schema")
      require(!cols.contains(newName), s"column $newName already exists in $root")
      require(!indexReferences(ht, oldName),
        s"$oldName is referenced by $root's zone maps or bloom index; retire it first")
      // the 1-D zone map follows the rename in the SAME commit.  The
      // parent's per-dir [min,max] are passed as PRECOMPUTED entries:
      // the extraFields re-declaration guard rightly refuses to carry
      // parent stats across a statsCol name change, but a rename is the
      // one case where the old entries stay valid verbatim — same
      // measurements, new name
      val statsFollow = ht.statsCol.filter(_ == oldName).map(_ => newName)
      extraFields(spark, root, ht, ht.dirs, statsFollow,
        if (statsFollow.isDefined) ht.stats else Map.empty,
        Some(ht.alters :+ ((s"$oldName>$newName", "#rename", ht.dirs))), opArg = "alter")
    }).get
  }

  /** Schema evolution: DROP a column — a pure metadata commit.  Dirs
    * that carry the column physically keep their bytes (time travel to
    * a pre-drop version still reads them); the head projects it out per
    * generation (an ordered `#drop` event).  Re-adding the same name
    * later is safe: the event order (drop, then a fresh null-fill)
    * means pre-drop values can never leak into the re-added column.
    * Dropping the zone-map or bloom column is refused — the pruning
    * surfaces would point at a ghost. */
  def commitAlterDrop(spark: SparkSession, root: String, colName: String): Int = {
    requireColName(colName)
    publishRecord(spark, root, head => {
      require(head > 0, s"no committed version at $root")
      val ht = record(spark, root, head)
      require(readAt(spark, root, head).columns.contains(colName),
        s"no column $colName in $root's schema")
      require(!ht.statsCol.contains(colName) && !indexReferences(ht, colName),
        s"$colName is a $root zone-map/bloom column; retire or re-cluster first")
      extraFields(spark, root, ht, ht.dirs, None,
        alters = Some(ht.alters :+ ((colName, "#drop", ht.dirs))), opArg = "alter")
    }).get
  }

  /** Read a dir subset under version `v`'s schema: dirs predating an
    * altered-in column are scanned per missing-column GENERATION and
    * null-filled, then aligned by name — so a filter on an original
    * column pushes into every generation's scan, and a filter on an
    * added column constant-folds the pre-alter generations to an empty
    * relation (the scan is pruned entirely, not read-and-dropped). */
  private[graft] def readDirs(spark: SparkSession, root: String, v: Int,
      dirs: Seq[String]): DataFrame = {
    val r = record(spark, root, v)
    readDirsDv(spark, root, r, dirs, keepPos = false, r)
  }

  /** [[readDirs]] body with deletion-vector control: the dirs read under
    * `at`'s schema with `dvAt`'s vectors applied (readers pass the same
    * record; [[diff]] reads each side's dirs under the NEWER schema but
    * its OWN vectors), and
    * `keepPos = true` retains the `_dvf`/`_dvp` (file, row position)
    * identity columns — how [[commitDeleteMOR]] addresses the rows it
    * deletes.  With no vectors on the requested dirs this is exactly
    * the plain scan: zero overhead on tables that never MOR-delete. */
  private def readDirsDv(spark: SparkSession, root: String, at: Record,
      dirs: Seq[String], keepPos: Boolean, dvAt: Record): DataFrame = {
    val dv = dvAt.dv.filter { case (d, _) => dirs.contains(d) }
    // generation-grouped scan of a dir subset, optionally carrying the
    // (file, row position) identity columns
    def scanGens(ds: Seq[String], withPos: Boolean): DataFrame = {
      def proj(df: DataFrame): DataFrame =
        if (!withPos) df
        else {
          require(!df.columns.contains("_dvf") && !df.columns.contains("_dvp"),
            "table columns _dvf/_dvp collide with the deletion-vector reader")
          df.select(col("*"), col("_metadata.file_path").as("_dvf"),
            col("_metadata.row_index").as("_dvp"))
        }
      val alters = at.alters.map { case (c, t, ads) => (c, t, ads.toSet) }
      if (alters.isEmpty) proj(readParquetDirs(spark, ds.map(dataPath(root, _))))
      else {
        val groups = ds.groupBy(d => alters.filter(_._3.contains(d)).map(a => (a._1, a._2)))
          .toSeq // oldest generation first, so output column order is stable
          .sortBy { case (missing, _) => (-missing.size, missing.map(_._1).mkString(",")) }
        // events apply in COMMIT ORDER per generation: an add null-fills
        // (withColumn REPLACES a stale physical column of the same name,
        // so drop-then-re-add can never leak pre-drop values), a rename
        // maps the old physical name forward, a drop projects it out —
        // chains (a>b then b>c, rename-of-added, drop-of-renamed)
        // compose because each event sees the previous events' output
        groups.map { case (missing, gds) =>
          missing.foldLeft(proj(readParquetDirs(spark, gds.map(dataPath(root, _))))) {
            case (df, (n, "#rename")) =>
              val i = n.indexOf('>')
              df.withColumnRenamed(n.substring(0, i), n.substring(i + 1))
            case (df, (n, "#drop")) => df.drop(n)
            case (df, (c, t)) => df.withColumn(c, lit(null).cast(t))
          }
        }.reduce(_.unionByName(_))
      }
    }
    if (dv.isEmpty) return scanGens(dirs, keepPos)
    // ONLY the vectored dirs pay the anti join (~200ns/row of (path,pos)
    // hashing, measured); clean dirs take the plain scan — so at scale
    // the read tax is proportional to the vectored FRACTION of the
    // table, not to the table, and is zero again after the next fold
    val (vecDirs, cleanDirs) = dirs.partition(dv.contains)
    val sides = dv.values.flatten.toSeq.distinct
    val del = readParquetDirs(spark, sides.map(dataPath(root, _)))
      .select(col("_dvf"), col("_dvp"))
    // sidecars are O(deleted rows); broadcast while the metadata says
    // they are small, fall back to a shuffled anti join past that
    val nDel = dvAt.dvRows
      .filter { case (d, _) => dirs.contains(d) }.values.sum
    val delB = if (nDel <= 2000000L) broadcast(del) else del
    val vecApplied = scanGens(vecDirs, withPos = true)
      .join(delB, Seq("_dvf", "_dvp"), "left_anti")
    val vec = if (keepPos) vecApplied else vecApplied.drop("_dvf", "_dvp")
    if (cleanDirs.isEmpty) vec
    else scanGens(cleanDirs, keepPos).unionByName(vec)
  }

  /** Time-travel read of version `v` (dir-list union; schema from the
    * footers, with pre-alter generations null-filled — see
    * [[commitAlterAdd]]).
    *
    * MANIFEST-DRIVEN BROADCAST SIZING: the commit log already paid for
    * exact per-dir row counts AND on-disk byte sizes, so when the
    * LIVE-byte estimate (recorded bytes × live-row fraction — deletion
    * vectors kill rows without touching files) lands under the session's
    * `spark.sql.autoBroadcastJoinThreshold`, the read carries a
    * broadcast hint — a versioned dim joined to a fact plans a
    * BroadcastHashJoin with no manual hint, even when the plan above
    * the scan (the deletion-vector anti join, the schema-evolution
    * union) would otherwise blind Catalyst's file-size estimate.  This
    * replays exactly the decision Catalyst would have made had it known
    * the true live size; with the threshold disabled (≤ 0) or any dir
    * missing a count/bytes entry, no hint attaches.
    *
    * CAVEAT — the hint binds to the PLAN BUILT ON TOP of this read, not
    * to the scan: the nearest downstream join broadcasts whatever the
    * frame has become by then, and an explode / wide projection / union
    * stacked on the read can expand it far past the measured on-disk
    * bytes — and a hint, unlike Catalyst's own estimate, is never
    * demoted by AQE.  Consumers that transform the frame before joining
    * should suppress the hint with the session conf
    * `spark.graft.readAtBroadcastHint=false` (default true). */
  def readAt(spark: SparkSession, root: String, v: Int): DataFrame = {
    require(v > 0, s"version $v of $root has no record")
    // ONE record read serves the manifest, the schema generations, the
    // vectors AND the sizing fields below
    val r = record(spark, root, v)
    val dirs = r.dirs
    require(dirs.nonEmpty, s"version $v of $root has no data")
    val df = readDirsDv(spark, root, r, dirs, keepPos = false, r)
    val thresh = try spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      .replace("b", "").replace("B", "") match {
        case s if s.endsWith("k") || s.endsWith("K") => s.dropRight(1).toLong << 10
        case s if s.endsWith("m") || s.endsWith("M") => s.dropRight(1).toLong << 20
        case s if s.endsWith("g") || s.endsWith("G") => s.dropRight(1).toLong << 30
        case s => s.toLong
      } catch { case _: NumberFormatException => -1L }
    if (thresh <= 0) return df
    // opt-out for consumers that expand the frame before joining (see
    // the scaladoc caveat): a forced-broadcast hint on an exploded read
    // is an executor OOM AQE cannot demote its way out of
    if (!spark.conf.get("spark.graft.readAtBroadcastHint", "true").toBoolean)
      return df
    val known = r.rows.getOrElse(Map.empty[String, Long])
    val bytes = r.bytes.getOrElse(Map.empty[String, Long])
    if (!dirs.forall(d => known.contains(d) && bytes.contains(d))) return df
    // LIVE bytes = recorded on-disk bytes scaled by the live-row fraction
    // (deletion vectors kill rows without touching files).  Real file
    // bytes, not a schema-width guess: rows × defaultSize prices a
    // multi-KB text column at 20 bytes and would force-broadcast
    // gigabytes.  Compressed parquet bytes is the same currency
    // Catalyst's own file-size estimate uses for this threshold.
    val total = dirs.map(known).sum
    val live = total - dirs.flatMap(r.dvRows.get).sum
    val estBytes =
      if (total <= 0 || live < 0) Long.MaxValue
      else (dirs.map(bytes).sum.toDouble * live / total).toLong
    if (estBytes <= thresh) df.hint("broadcast") else df
  }

  /** Zone-map-pruned range read: `statsCol BETWEEN lo AND hi` over
    * version `v`, reading ONLY the dirs whose manifest [min,max] entry
    * overlaps the range (a dir with no entry is conservatively read).
    * The pruning happens on driver-side manifest metadata BEFORE any
    * file listing or footer I/O — at 10⁵ dirs that listing is itself the
    * scan bottleneck parquet row-group stats can't save you from.  The
    * range filter is still applied to the rows read, so the result is
    * correct whatever the zone map prunes. */
  def readRange(spark: SparkSession, root: String, v: Int, lo: Long, hi: Long): DataFrame = {
    val r = record(spark, root, v)
    val colName = r.statsCol.getOrElse(
      throw new IllegalArgumentException(s"$root has no zone-map column; commit with statsCol"))
    require(Z2.findFirstIn(colName).isEmpty,
      s"$root keeps a 2-D zone map ($colName); use Zonemap2D.readRange2")
    val base = readPruned(spark, root, r,
      r.dirs.filter(d => r.stats.get(d).forall { case (a, b) => b >= lo && a <= hi }))
    // the row filter goes through the SAME ANSI-safe cast the zone map
    // was measured with: a non-castable value is outside every long
    // range by definition (and a plain cast would ERROR under ANSI the
    // moment an unpruned dir holds one)
    base.filter(tryLong(colName).between(lo, hi))
  }

  /** The dirs `keep` (a pruned subset of `r`'s manifest) read under `r`'s
    * schema and vectors; when pruning kept nothing, an empty frame that
    * still carries the schema. */
  private[io] def readPruned(spark: SparkSession, root: String, r: Record,
      keep: Seq[String]): DataFrame = {
    require(r.dirs.nonEmpty, s"version ${r.version} of $root has no data")
    if (keep.isEmpty) readDirsDv(spark, root, r, r.dirs, keepPos = false, r).limit(0)
    else readDirsDv(spark, root, r, keep, keepPos = false, r)
  }

  /** Highest version whose commit timestamp is ≤ `ts` (epoch ms) — the
    * `AS OF TIMESTAMP` resolution.  Commit timestamps are monotone along
    * the log by construction (each stamps max(now, parent ts)), so the
    * scan-from-head finds the unique boundary. */
  def versionAt(spark: SparkSession, root: String, ts: Long): Int = {
    val head = currentVersion(spark, root)
    val floor = lowestVersion(spark, root, head)
    (head to floor by -1).find(v => tsOf(spark, root, v) <= ts).getOrElse(
      throw new IllegalArgumentException(
        s"no surviving version of $root existed at $ts (retention floor v$floor)"))
  }

  /** Time-travel read by wall clock: the snapshot live at `ts`. */
  def readAsOf(spark: SparkSession, root: String, ts: Long): DataFrame =
    readAt(spark, root, versionAt(spark, root, ts))

  /** The commit history as a DataFrame (DESCRIBE HISTORY parity):
    * version, commit timestamp, OPERATION label (append / merge /
    * update / delete / optimize / reorg / alter / restore / clone /
    * stream-append / declare / … — stamped by the commit path that
    * produced the record; null for pre-label records), dir count,
    * metadata row count, batchId if the commit was streaming-fenced.
    * O(#surviving versions) driver-side record reads — records below
    * the vacuum retention floor are gone, not listed. */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val head = currentVersion(spark, root)
    (lowestVersion(spark, root, head) to head).map { v =>
      val r = record(spark, root, v)
      // metadata row count when every dir carries one (legacy dirs don't);
      // deletion-vector cardinalities subtract, as in countAt
      val known = r.rows.getOrElse(Map.empty[String, Long])
      val nRows =
        if (r.dirs.forall(known.contains))
          Some(r.dirs.map(known).sum - r.dirs.flatMap(r.dvRows.get).sum)
        else None
      (v, Option(r.ts), r.op, r.dirs.size, nRows, r.batchId)
    }.toDF("version", "ts_ms", "op", "n_dirs", "n_rows", "batch_id")
  }

  /** Range-clustered append: ONE range shuffle on the zone-map column,
    * then each range bucket lands as its OWN manifest dir — so the
    * manifest carries `buckets` tight, near-disjoint [min,max] entries
    * and [[readRange]] prunes at dir level even inside a single ingest.
    * The zone map is only as good as the layout under it (the z-order
    * reasoning, one column at a time): a hash-shuffled plain append
    * would give every dir the full value span and prune nothing.
    * Cost over a plain append: the range exchange plus `buckets` min/max
    * footer reads. */
  def commitAppendClustered(spark: SparkSession, root: String, df: DataFrame,
      statsCol: String, buckets: Int = 16): Int = {
    val (rels, pre, rows, blooms) = writeClustered(spark, root, df, statsCol, buckets)
    publish(spark, root, _.dirs ++ rels, Some(statsCol), pre, rows, blooms, op = "append")
  }

  /** Clustering-preserving compaction: rewrite the ENTIRE head snapshot
    * as `buckets` fresh range-clustered dirs and publish a manifest of
    * only those — history is untouched (old versions stay readable until
    * [[vacuum]]), and unlike the single-dir [[commit]] compaction this
    * keeps [[readRange]] pruning sharp afterwards.  The weekly step of
    * the append-daily / compact-weekly / vacuum-past-retention budget. */
  def compactClustered(spark: SparkSession, root: String, statsCol: String,
      buckets: Int = 16): Option[Int] = {
    val head0 = currentVersion(spark, root)
    require(head0 > 0, s"no committed version at $root")
    val h0 = record(spark, root, head0)
    val dirs0 = h0.dirs.toSet
    val (rels, pre, rows, blooms) = writeClustered(spark, root,
      readAt(spark, root, head0), statsCol, buckets)
    // concurrent appends carry through; a concurrent CoW commit that
    // replaced one of the compacted dirs aborts (publishing would
    // resurrect its pre-CoW rows), and so does a concurrent MOR delete
    // attaching a vector to one (the fold read the OLD vector state and
    // would drop the new entry with the dir) — same discipline as
    // optimize
    val v = publishRecord(spark, root,
      head => {
        val ht = record(spark, root, head)
        extraFields(spark, root, ht, ht.dirs.filterNot(dirs0) ++ rels, Some(statsCol),
          pre, None, rows, blooms, opArg = "optimize")
      },
      abortIf = head => rewriteConflicts(spark, root, head, h0, dirs0))
    if (v.isEmpty) {
      val p = new org.apache.hadoop.fs.Path(
        dataPath(root, rels.head.split("/").take(2).mkString("/")))
      fs(spark, p).delete(p, true)
    }
    v
  }

  /** Self-scheduling OPTIMIZE: fold only the dirs that actually hurt.
    *
    * A range-clustered table stays prunable as long as dir [min,max]
    * ranges are near-disjoint; every clustered APPEND of
    * domain-spanning data adds another full-width layer, so a point
    * probe's touched-dir count grows with the append count — the decay
    * the weekly `compactClustered` used to fix by rewriting the whole
    * head on a calendar schedule.  This policy replaces the calendar
    * with the zone map itself: group the manifest's dirs into CONNECTED
    * OVERLAPPING COMPONENTS (interval sweep over the driver-side stats
    * — no data I/O), and fold only components deeper than `maxCover`,
    * each into `buckets` fresh near-disjoint dirs.  Dirs with no stats
    * are unprunable and ride along whenever anything folds.
    *
    * The shape this buys at 100 TB: time-keyed ingest (each day's
    * append covers a NEW key range) produces singleton components and
    * the policy never rewrites anything — compaction cost is zero
    * because pruning never decayed; domain-spanning ingest triggers a
    * fold only once `maxCover` layers have accrued, so write
    * amplification is bounded by 1/maxCover of the rewrite-daily
    * discipline while point reads stay ≤ maxCover dirs.  Concurrent
    * appends compose: publish re-resolves the head and carries dirs
    * this optimize never saw.  Returns the new version, or None when
    * the layout is already healthy (the common case — and the reason
    * this can run after EVERY commit). */
  def optimizeClustered(spark: SparkSession, root: String, statsCol: String,
      buckets: Int = 16, maxCover: Int = 2): Option[Int] = {
    val head0 = currentVersion(spark, root)
    require(head0 > 0, s"no committed version at $root")
    val h0 = record(spark, root, head0)
    // the overlap sweep reads the manifest's [min,max] entries, which
    // are only meaningful for the column they were measured under
    require(h0.statsCol.forall(_ == statsCol),
      s"$root's zone map is on ${h0.statsCol.get}; " +
        "re-cluster via compactClustered before optimizing on a different column")
    val dirs0 = h0.dirs
    val st = h0.stats
    val known = dirs0.flatMap(d => st.get(d).map(d -> _)).sortBy(_._2._1)
    val comps = scala.collection.mutable.ArrayBuffer[Vector[String]]()
    var cur = Vector.empty[String]
    var curHi = Long.MinValue
    known.foreach { case (d, (lo, hi)) =>
      if (cur.isEmpty || lo <= curHi) { cur :+= d; curHi = math.max(curHi, hi) }
      else { comps += cur; cur = Vector(d); curHi = hi }
    }
    if (cur.nonEmpty) comps += cur
    val statless = dirs0.filterNot(st.contains)
    val fold: Seq[String] = comps.filter(_.size > maxCover).flatten.toSeq ++
      (if (comps.exists(_.size > maxCover)) statless else Seq.empty)
    if (fold.isEmpty) return None
    val (rels, pre, rows, blooms) = writeClustered(spark, root,
      readDirsDv(spark, root, h0, fold, keepPos = false, h0), statsCol, buckets)
    val foldSet = fold.toSet
    // concurrent APPENDS compose (their dirs carry through), but a
    // concurrent CoW commit REPLACING a fold dir must abort this
    // optimize: blindly publishing would re-add the folded copy of the
    // pre-CoW rows next to their rewritten successors (resurrected
    // deletes / duplicate keys).  A concurrent MOR delete VECTORING a
    // fold dir is the same hazard without a manifest change — the fold
    // read the old vector state, so publishing would resurrect the new
    // deletes.  Both checks re-evaluate against the head the rename
    // will land on.
    val v = publishRecord(spark, root,
      head => {
        val ht = record(spark, root, head)
        extraFields(spark, root, ht, ht.dirs.filterNot(foldSet) ++ rels, Some(statsCol),
          pre, None, rows, blooms, opArg = "optimize")
      },
      abortIf = head => rewriteConflicts(spark, root, head, h0, fold))
    if (v.isEmpty) { // aborted: reclaim the staged fold
      val p = new org.apache.hadoop.fs.Path(
        dataPath(root, rels.head.split("/").take(2).mkString("/")))
      fs(spark, p).delete(p, true)
    }
    v
  }

  /** The OTHER decay mode OPTIMIZE must police: not overlap, but
    * FRAGMENTATION.  Time-keyed ingest (each commit a new disjoint key
    * range) never triggers [[optimizeClustered]] — by design, pruning
    * never decays — but a year of hourly micro-batches leaves ~10⁴ tiny
    * dirs whose LISTING and per-dir metadata become the read cost.
    * This policy folds every dir smaller than `smallRows` (plus
    * count-less legacy dirs) into ~`sum/targetRows` fresh clustered
    * dirs in ONE range shuffle — adjacency emerges from the range
    * partitioning itself, so the fold both defragments AND preserves
    * zone-map tightness.  Decision is pure manifest metadata (the
    * per-dir row counts); healthy layouts return None at zero I/O, so
    * this too can run after every commit.  Deletion vectors on folded
    * dirs are retired by the fold (DV-applied read), exactly as for
    * the overlap policy. */
  def optimizeSmall(spark: SparkSession, root: String, statsCol: String,
      smallRows: Long, targetRows: Long): Option[Int] = {
    require(smallRows <= targetRows, "smallRows must not exceed targetRows")
    val head0 = currentVersion(spark, root)
    require(head0 > 0, s"no committed version at $root")
    val h0 = record(spark, root, head0)
    require(h0.statsCol.forall(_ == statsCol),
      s"$root's zone map is on ${h0.statsCol.get}; " +
        "re-cluster via compactClustered before optimizing on a different column")
    smallFoldImpl(spark, root, statsCol, smallRows, targetRows,
      declare = true, h0)
  }

  /** Small-file defrag for tables with NO clustered 1-D statsCol but a
    * declared MULTI-COLUMN zone map ([[commitDeclareStatsCols]]): fold
    * sub-threshold dirs by range-shuffling on `colName` — any declared
    * member works; the shuffle just needs *a* measured expression to
    * give the fresh dirs locality — WITHOUT declaring a 1-D map (the
    * table's layout contract is the multi-column map, and the commit
    * path re-measures every declared column's mstats on the fresh dirs
    * for free).  Same decision/abort discipline as [[optimizeSmall]];
    * [[maintain]] routes here when a statsCols-only table fragments. */
  def optimizeSmallOn(spark: SparkSession, root: String, colName: String,
      smallRows: Long, targetRows: Long): Option[Int] = {
    require(smallRows <= targetRows, "smallRows must not exceed targetRows")
    val head0 = currentVersion(spark, root)
    require(head0 > 0, s"no committed version at $root")
    val h0 = record(spark, root, head0)
    require(h0.statsCol.isEmpty, s"$root has a clustered statsCol; use optimizeSmall")
    require(h0.statsCols.contains(colName),
      s"$colName is not a declared zone-map member of $root")
    smallFoldImpl(spark, root, colName, smallRows, targetRows,
      declare = false, h0)
  }

  private def smallFoldImpl(spark: SparkSession, root: String,
      foldCol: String, smallRows: Long, targetRows: Long,
      declare: Boolean, h0: Record): Option[Int] = {
    val dirs0 = h0.dirs
    val rows = h0.rows.getOrElse(Map.empty[String, Long])
    val fold = dirs0.filter(d => rows.get(d).forall(_ < smallRows))
    if (fold.size < 2) return None // nothing to defragment
    val sum = fold.flatMap(rows.get).sum
    val buckets = math.max(1, math.ceil(sum.toDouble / targetRows).toInt)
    // idempotence: a fold that would not REDUCE the dir count is a
    // rewrite loop, not a defragmentation (N small dirs re-landing as N
    // small dirs forever) — the policy only fires when it converges
    if (buckets >= fold.size) return None
    val (rels, pre, nRows, blooms) = writeClustered(spark, root,
      readDirsDv(spark, root, h0, fold, keepPos = false, h0), foldCol, buckets)
    val foldSet = fold.toSet
    val v = publishRecord(spark, root,
      head => {
        val ht = record(spark, root, head)
        extraFields(spark, root, ht, ht.dirs.filterNot(foldSet) ++ rels,
          if (declare) Some(foldCol) else None, pre,
          None, nRows, blooms, opArg = "optimize")
      },
      // same conflict discipline as optimizeClustered: a concurrent
      // commit replacing a fold dir, or vectoring one, aborts
      abortIf = head => rewriteConflicts(spark, root, head, h0, fold))
    if (v.isEmpty) {
      val p = new org.apache.hadoop.fs.Path(
        dataPath(root, rels.head.split("/").take(2).mkString("/")))
      fs(spark, p).delete(p, true)
    }
    v
  }

  /** DELETION-VECTOR REWRITE policy (the REORG/PURGE shape): rewrite —
    * DV-applied — every dir whose recorded deleted fraction
    * `dvRows/rows` exceeds `maxDvFraction`, retiring its sidecars.
    * This is the ONE decay mode the fold policies cannot reach: MOR
    * deletes defer rewrites as positional sidecars and the folds retire
    * vectors only INCIDENTALLY (a dir must first qualify as overlapping
    * or fragmented) — a layout-less table, or big clustered dirs that
    * never qualify, accrete vectors forever: the per-read anti-join tax
    * and the sidecar count grow without bound.  This policy is the
    * bound: past the threshold the dir pays its rewrite once and reads
    * clean again.
    *
    * The decision is PURE MANIFEST METADATA (`dvRows`/`rows` entries) —
    * a table with no live vectors returns None at zero I/O, so
    * [[maintain]] routes here on every sweep.  Each flagged dir
    * re-lands 1:1 as its own fresh dir (one staged job for all of
    * them), preserving whatever range locality the old layout had:
    * zone-map, multi-column, row-count and bloom entries are
    * re-measured for the fresh dirs through the standard commit path.
    * A dir whose rows are ALL deleted simply leaves the manifest.
    * Same abort discipline as the folds: a concurrent commit replacing
    * or re-vectoring a flagged dir aborts the rewrite (the staged copy
    * read stale vector state).
    *
    * NOT for vector-index tables — their cell dirs carry `_vec.json`
    * sidecars a generic rewrite would orphan; [[VectorIndex.optimizeCells]]
    * is their (sidecar-aware) rewrite path, and [[maintain]] routes
    * vector tables there before ever reaching this policy. */
  def rewriteVectored(spark: SparkSession, root: String,
      maxDvFraction: Double = 0.3): Option[Int] = {
    require(maxDvFraction > 0.0 && maxDvFraction < 1.0,
      s"maxDvFraction must be in (0,1), got $maxDvFraction")
    val head0 = currentVersion(spark, root)
    require(head0 > 0, s"no committed version at $root")
    val h0 = record(spark, root, head0)
    val deleted = h0.dvRows
    if (deleted.isEmpty) return None // healthy: zero I/O
    val dirs0 = h0.dirs
    require(!dirs0.exists { d =>
      val p = new org.apache.hadoop.fs.Path(s"${dataPath(root, d)}/_vec.json")
      fs(spark, p).exists(p)
    }, s"$root is a vector-index table; its cell rewrite is " +
      "VectorIndex.optimizeCells — a generic rewrite would orphan the sidecars")
    val rows = h0.rows.getOrElse(Map.empty[String, Long])
    // a dir with vectors but no recorded row count (legacy) is flagged
    // too: its fraction is unprovable without I/O and it pays the
    // anti-join tax on every read
    val flagged = dirs0.filter(d => deleted.get(d).exists(dv => dv > 0 &&
      rows.get(d).forall(n => dv.toDouble / math.max(n, 1L) > maxDvFraction)))
    if (flagged.isEmpty) return None
    val headFrame = readDirsDv(spark, root, h0, Seq(flagged.head), keepPos = false, h0)
    require(!headFrame.columns.contains("_rw"),
      "table column _rw collides with the rewrite partitioner")
    // ONE staged job: each flagged dir's DV-APPLIED content lands under
    // its own `_rw=i` partition — 1:1, never a cross-dir shuffle
    val base = s"data/${java.util.UUID.randomUUID()}"
    flagged.zipWithIndex.map { case (d, i) =>
        readDirsDv(spark, root, h0, Seq(d), keepPos = false, h0).withColumn("_rw", lit(i)) }
      .reduce(_ unionByName _)
      .write.mode("errorifexists").partitionBy("_rw").parquet(s"$root/$base")
    val bp = new org.apache.hadoop.fs.Path(s"$root/$base")
    val rels = fs(spark, bp).listStatus(bp).filter(_.isDirectory)
      .map(st => s"$base/${st.getPath.getName}").sorted.toSeq
    // per-new-dir stats + row counts in ONE batched job (the
    // writeClustered pattern); bloom entries via the shared staged path
    val sc = h0.statsCol
    val (pre, nRows) = if (rels.isEmpty) {
      // every flagged dir was fully deleted: nothing staged, the dirs
      // simply leave the manifest below
      (Map.empty[String, (Long, Long)], Map.empty[String, Long])
    } else {
      val staged = readStagedPartitioned(spark, root, base, "_rw", headFrame.schema)
      val c = sc.map(statsExpr).getOrElse(lit(null).cast("long"))
      val bad = sc.map(s => statsBad(s, c)).getOrElse(lit(false))
      val agg = staged.groupBy(col("_rw"))
        .agg(min(c).as("lo"), max(c).as("hi"),
          count(when(bad, 1)).as("nbad"), count(lit(1)).as("n"))
        .collect()
      val p = if (sc.isEmpty) Map.empty[String, (Long, Long)]
        else agg.flatMap { r =>
          if (r.isNullAt(1) || r.isNullAt(2) || r.getLong(3) > 0) None
          else Some(s"$base/_rw=${r.get(0)}" -> (r.getLong(1), r.getLong(2)))
        }.toMap
      (p, agg.map(r => s"$base/_rw=${r.get(0)}" -> r.getLong(4)).toMap)
    }
    val blooms = if (rels.isEmpty) None
      else bloomsForStaged(spark, root, h0, base, "_rw", rels,
        leafSchema = Some(headFrame.schema))
    val flaggedSet = flagged.toSet
    val v = publishRecord(spark, root,
      head => {
        val ht = record(spark, root, head)
        extraFields(spark, root, ht, ht.dirs.filterNot(flaggedSet) ++ rels, None, pre,
          None, nRows, blooms, opArg = "reorg")
      },
      // a concurrent commit REPLACING a flagged dir, or changing its
      // vector state, invalidates the staged copy — abort, reclaim
      abortIf = head => rewriteConflicts(spark, root, head, h0, flagged))
    if (v.isEmpty) {
      val p = new org.apache.hadoop.fs.Path(s"$root/$base")
      fs(spark, p).delete(p, true)
    }
    v
  }

  /** INDEX BACKFILL — the bloom/token-bloom decay mode the rewrite-path
    * maintenance cannot reach: a PLAIN append (commitAppend, a
    * non-indexed streaming sink) lands its dir with no filter entry, and
    * since the dir is immutable no later rewrite ever re-measures it —
    * point/token probes read it conservatively forever.  This op builds
    * the declared filter for every entry-less dir that carries the
    * indexed column (one distinct-positions job per backfilled dir —
    * O(unindexed data), nothing else read) and publishes ONE metadata
    * commit attaching the entries; dirs lacking the column (pre-alter
    * generations) stay conservatively read.  None when the table
    * declares no filter or every eligible dir already has an entry —
    * zero data I/O on healthy layouts, so [[maintain]] routes here on
    * every sweep. */
  def optimizeIndex(spark: SparkSession, root: String): Option[Int] = {
    val head0 = currentVersion(spark, root)
    require(head0 > 0, s"no committed version at $root")
    val h0 = record(spark, root, head0)
    val (decl, bits) = h0.bloomCol.getOrElse(return None)
    val missing = h0.dirs.filterNot(h0.bloom.contains)
    if (missing.isEmpty) return None
    val entries = missing.flatMap(d =>
      bloomForDir(spark, root, h0, d).map(_._3).getOrElse(Map.empty))
    if (entries.isEmpty) return None // nothing eligible (column absent)
    // pure metadata publish: dirs are immutable, so the entries stay
    // valid whatever head the rename lands on (the record serializes
    // only the dirs still in that manifest)
    Some(publishRecord(spark, root, head => {
      val ht = record(spark, root, head)
      extraFields(spark, root, ht, ht.dirs, None,
        blooms = Some((decl, bits, entries.toMap)), opArg = "optimize")
    }).get)
  }

  /** UNIFIED MAINTENANCE SWEEP — the one call an operator schedules
    * instead of diagnosing four decay modes by hand.  ONE head-record
    * inspection routes to the policies this table's layout declares:
    *
    *  - a VECTOR table (any dir carries a `_vec.json` sidecar) →
    *    [[VectorIndex.optimizeCells]]: accreted cell dirs fold back to
    *    one dir per cell, orphaned rows re-land — never the clustered
    *    folds below, which would destroy the sidecars;
    *  - a ZONE-MAPPED table (1-D or 2-D Morton statsCol declared) →
    *    [[optimizeClustered]] (overlap decay), then — when `smallRows`
    *    > 0 — [[optimizeSmall]] (fragmentation decay); both folds
    *    operate on the measured expression, so Morton tables heal
    *    through the same path that built them;
    *  - a statsCols-ONLY table (multi-column map, no clustered layout)
    *    → [[optimizeSmallOn]] when `smallRows` > 0 (fragmentation is
    *    the decay mode such tables actually suffer — their map never
    *    promised disjoint ranges, so there is no overlap law to heal);
    *  - ANY table with live deletion vectors → [[rewriteVectored]]
    *    (read-tax decay): dirs past `maxDvFraction` deleted rows are
    *    rewritten clean — the policy that works even on layout-less
    *    tables, run after the folds so dirs they already folded (and
    *    thereby cleaned) are not rewritten twice;
    *  - a bloom/token-indexed table → [[optimizeIndex]] (entry backfill
    *    for plain-append dirs), run LAST so the rewrites above have
    *    already measured their own fresh dirs;
    *  - anything else (no declared layout, no live vectors, no index
    *    to backfill) → None.
    *
    * Every routed policy is itself None-at-zero-data-I/O on a healthy
    * layout (their decisions are manifest metadata), so `maintain` is
    * safe to schedule after every batch; bloom and token-index entries
    * need no routing at all — every rewrite a policy lands re-measures
    * them in [[extraFields]].  Knobs left unset (-1) resolve through
    * the table's DECLARED policy ([[commitDeclarePolicy]]) before the
    * global defaults, so a parameterless call does each table's right
    * thing.  Returns the last new version, or None when the table was
    * already healthy. */
  def maintain(spark: SparkSession, root: String,
      smallRows: Long = -1L, targetRows: Long = -1L,
      buckets: Int = -1, maxCover: Int = -1,
      maxDvFraction: Double = -1.0): Option[Int] = {
    val head0 = currentVersion(spark, root)
    require(head0 > 0, s"no committed version at $root")
    // knob resolution: explicit argument > the table's DECLARED policy
    // ([[commitDeclarePolicy]], carried in the head record) > global
    // default — so `maintain(root)` with no knobs does each table's
    // right thing, and a catalog sweep needs no per-member parameters
    val h0 = record(spark, root, head0)
    val pol = h0.policy
    val smallRowsR = if (smallRows >= 0L) smallRows
                     else pol.map(_.smallRows).getOrElse(0L)
    val targetRowsR = if (targetRows >= 0L) targetRows
                      else pol.map(_.targetRows).getOrElse(0L)
    val bucketsR = if (buckets >= 1) buckets else pol.map(_.buckets).getOrElse(16)
    val maxCoverR = if (maxCover >= 1) maxCover else pol.map(_.maxCover).getOrElse(2)
    val maxDvFractionR = if (maxDvFraction >= 0.0) maxDvFraction
                         else pol.map(_.maxDvFraction).getOrElse(0.3)
    val isVector = h0.dirs.exists { d =>
      val p = new org.apache.hadoop.fs.Path(s"${dataPath(root, d)}/_vec.json")
      fs(spark, p).exists(p)
    }
    if (isVector) {
      var last = VectorIndex.optimizeCells(spark, root)
      optimizeIndex(spark, root).foreach(v => last = Some(v))
      return last
    }
    // the one-call API's most natural partial invocation is
    // maintain(root, smallRows = N): default the fold target to the
    // threshold instead of tripping optimizeSmall's ordering require
    val tgtRows = math.max(smallRowsR, targetRowsR)
    // 2-D Morton tables route through the SAME folds: the overlap sweep
    // and range shuffle operate on the Morton code — exactly how the
    // layout was built (Zonemap2DSpec proves box reads stay sharp)
    val sc = h0.statsCol
    var last: Option[Int] = None
    if (sc.isDefined) {
      last = optimizeClustered(spark, root, sc.get, bucketsR, maxCoverR)
      if (smallRowsR > 0)
        optimizeSmall(spark, root, sc.get, smallRowsR, tgtRows)
          .foreach(v => last = Some(v))
    } else if (smallRowsR > 0) {
      // statsCols-only tables (multi-column map, no clustered layout)
      // still fragment: defrag on the FIRST declared column — the fold
      // needs *a* measured expression, and the multi-column map
      // re-measures every member on the fresh dirs
      h0.statsCols.headOption.foreach { c =>
        optimizeSmallOn(spark, root, c, smallRowsR, tgtRows)
          .foreach(v => last = Some(v))
      }
    }
    // DV rewrite AFTER the folds: dirs they folded already read clean,
    // so only the survivors past the threshold pay a rewrite — the one
    // policy with reach on layout-less tables and never-fragmenting
    // big dirs
    rewriteVectored(spark, root, maxDvFractionR).foreach(v => last = Some(v))
    // bloom/token-bloom BACKFILL runs last: the folds above already
    // built entries for their fresh dirs, so only plain-append survivors
    // remain — and on a table with no declared layout at all, this is
    // the one policy with something to do
    optimizeIndex(spark, root).foreach(v => last = Some(v))
    last
  }

  /** One range shuffle, each bucket its own dir, ALL bucket [min,max]
    * entries in ONE job over the partitioned write (per-dir footer
    * probes would cost `buckets` scheduler round-trips).  On a
    * bloom-indexed table the buckets also get fresh filter entries
    * ([[bloomsForStaged]]) — clustered appends, compaction and both
    * OPTIMIZE policies all maintain the index through this one path,
    * so point/token pruning survives every fold. */
  private def writeClustered(spark: SparkSession, root: String, df: DataFrame,
      statsCol: String, buckets: Int)
      : (Seq[String], Map[String, (Long, Long)], Map[String, Long],
         Option[(String, Int, Map[String, String])]) = {
    require(!df.columns.contains("_b") && !df.columns.contains("_sc"),
      "table columns _b/_sc collide with the clustered-write partitioner")
    val base = s"data/${java.util.UUID.randomUUID()}"
    // range-shuffle on the MEASURED expression (for a plain column the
    // ANSI-safe long view; for a `_z2(x,y,bits)` pseudo column the
    // Morton code) — so clustering, compaction, and OPTIMIZE all serve
    // 2-D zone-mapped tables through the same path
    df.withColumn("_sc", statsExpr(statsCol))
      .repartitionByRange(buckets, col("_sc")).drop("_sc")
      .withColumn("_b", spark_partition_id())
      .write.mode("errorifexists").partitionBy("_b").parquet(s"$root/$base")
    val bp = new org.apache.hadoop.fs.Path(s"$root/$base")
    val rels = fs(spark, bp).listStatus(bp).filter(_.isDirectory)
      .map(st => s"$base/${st.getPath.getName}").sorted.toSeq
    // leaf files carry df's columns (the _sc/_b partitioners are gone)
    rels.foreach(r => cacheDirSchema(dataPath(root, r), df.schema))
    val c = statsExpr(statsCol)
    val agg = readStagedPartitioned(spark, root, base, "_b", df.schema)
      .groupBy(col("_b"))
      .agg(min(c).as("lo"), max(c).as("hi"),
        count(when(statsBad(statsCol, c), 1)).as("bad"),
        count(lit(1)).as("n"))
      .collect()
    val pre = agg.flatMap { r =>
        // an all-NULL bucket (repartitionByRange sorts nulls together)
        // has null aggregates, and a bucket holding any non-castable
        // value has no trustworthy bounds: omit the entry — absent
        // stats are read conservatively, matching statsFor's None
        if (r.isNullAt(1) || r.isNullAt(2) || r.getLong(3) > 0) None
        else Some(s"$base/_b=${r.get(0)}" -> (r.getLong(1), r.getLong(2)))
      }.toMap
    val rows = agg.map(r => s"$base/_b=${r.get(0)}" -> r.getLong(4)).toMap
    (rels, pre, rows, bloomsForStaged(spark, root,
      record(spark, root, currentVersion(spark, root)), base, "_b", rels))
  }

  /** Zero-copy shallow CLONE: publish `dstRoot`'s v1 as a manifest of
    * ABSOLUTE references into the source table's data dirs at version
    * `v` — no byte of data moves, the clone is O(metadata).  Stats, row
    * counts, bloom entries, and schema-evolution records carry over
    * (remapped to the absolute names), so pruned reads and metadata
    * counts work on the clone immediately.  Writes to the clone are
    * copy-on-write AGAINST THE CLONE: a rewritten or appended dir lands
    * under the clone's own `data/`, the carried absolute refs stay
    * untouched, and [[vacuum]] on the clone can never reclaim source
    * data (it only sweeps the clone's `data/`).  The 100 TB use: an
    * instant dev/test sandbox or an experiment branch of a petabyte
    * corpus.  Retention contract (as for Delta/Iceberg shallow clones):
    * vacuuming the SOURCE past `v` invalidates clones taken at `v` —
    * keep sources within clone lifetimes, or compact the clone to
    * materialize it. */
  def cloneAt(spark: SparkSession, srcRoot: String, dstRoot: String, v: Int): Int = {
    require(srcRoot.startsWith("/") || srcRoot.contains(":/"),
      s"clone source must be an absolute path: $srcRoot")
    val src = record(spark, srcRoot, v)
    val orig = src.dirs
    require(orig.nonEmpty, s"version $v of $srcRoot has no data")
    // replay-pin the SOURCE dirs across the clone's publish (restore's
    // discipline): a concurrent vacuum on the source past v must either
    // see the pins or make this throw loudly — never a clone record
    // referencing reclaimed source data
    withReplayPins(srcRoot, orig) {
      orig.foreach { d =>
        val p = new org.apache.hadoop.fs.Path(dataPath(srcRoot, d))
        require(fs(spark, p).exists(p),
          s"version $v of $srcRoot was vacuumed during the clone ($d is gone)")
      }
      val remap: String => String = d => dataPath(srcRoot, d)
      val carried = src.replayed(remap, remap)
      publishRecord(spark, dstRoot, head => {
        require(head == 0, s"clone target $dstRoot is not empty")
        carried.copy(ts = System.currentTimeMillis(), op = Some("clone"))
      }).get
    }
  }

  /** RESTORE: make the head snapshot equal version `v` again — rollback
    * expressed as a FORWARD commit (`RESTORE TABLE ... TO VERSION AS OF`).
    * Pure metadata: the new record re-publishes v's manifest, zone-map
    * stats, row counts, bloom entries, schema-evolution state, and
    * deletion vectors verbatim (data dirs are write-once, so they are
    * all still there — within vacuum retention, which is the natural
    * restore window).  History is preserved: the bad versions remain
    * time-travelable for the post-mortem, `history()` shows the restore
    * as its own commit, and an MV diff across the restore heals the
    * rolled-back aggregates exactly.  The batchId fence is deliberately
    * NOT carried: [[lastBatchId]] scans PAST the restore record to the
    * original fences, so a restored ingest table neither re-admits a
    * replayed batch (the old fence still wins) nor invents a fake one.
    * The 100 TB use: un-shipping a poisoned ingest in O(metadata)
    * instead of re-materializing a petabyte snapshot. */
  def restore(spark: SparkSession, root: String, v: Int): Int = {
    val head0 = currentVersion(spark, root)
    require(head0 > 0, s"no committed version at $root")
    require(v >= 1 && v <= head0, s"cannot restore $root to nonexistent version $v")
    val src = record(spark, root, v) // throws if v's record was vacuumed
    val dirs = src.dirs
    require(dirs.nonEmpty, s"version $v of $root has no data")
    // PIN the referenced dirs across the WHOLE publish, then verify they
    // still exist: a concurrent vacuum whose retention floor passed v
    // would otherwise reclaim them between this manifest read and the
    // record rename — the grace window cannot help (the dirs are old),
    // only the pin can.  The pin/sweep monitor makes the outcome binary:
    // pinned-then-kept, or swept-then-this-throws — never a published
    // record pointing at deleted data.  (Same-JVM; cross-process
    // restore-past-retention remains the documented retention contract.)
    withReplayPins(root, dirs) {
      dirs.foreach { d =>
        val p = new org.apache.hadoop.fs.Path(dataPath(root, d))
        require(fs(spark, p).exists(p),
          s"version $v of $root was vacuumed during the restore ($d is gone)")
      }
      publishRecord(spark, root, head => src.replayed().copy(
        ts = math.max(System.currentTimeMillis(), tsOf(spark, root, head)),
        op = Some("restore"))).get
    }
  }

  /** Same-JVM REPLAY PINS: dirs a snapshot-replay publish (restore,
    * clone) is about to reference, pinned against a concurrent
    * [[vacuum]] whose retention floor no longer covers their version —
    * the branch-adoption `pinnedByRefs` discipline generalized.
    * Refcounted (concurrent replays of the same dir compose); released
    * in `finally`, so an aborted publish never leaks a pin.
    *
    * Pin INSERTION and vacuum's per-dir check-and-delete both hold the
    * per-root [[vacuumMonitor]], so exactly one of two orders exists:
    * the pin lands first and the sweep skips the dir, or the delete
    * lands first and the replay's post-pin existence check fails LOUDLY
    * — a torn replay record is impossible either way.  Callers must
    * verify their dirs still exist AFTER pinning (see [[restore]]). */
  private val replayPins =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Integer]()
  private val vacuumMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def vacuumMonitor(rootN: String): Object =
    vacuumMonitors.computeIfAbsent(rootN, _ => new Object)

  private[io] def withReplayPins[T](root: String, dirs: Seq[String])(body: => T): T = {
    val rootN = root.stripSuffix("/")
    vacuumMonitor(rootN).synchronized {
      dirs.foreach(d => replayPins.merge((rootN, d), 1, (a, b) => a + b))
    }
    try body
    finally dirs.foreach(d => replayPins.computeIfPresent((rootN, d),
      (_, n) => if (n <= 1) null else n - 1))
  }

  private def replayPinnedDirs(root: String): Set[String] = {
    val rootN = root.stripSuffix("/")
    import scala.jdk.CollectionConverters._
    replayPins.keySet.asScala.filter(_._1 == rootN).map(_._2).toSet
  }

  /** Default staged-commit grace window for [[vacuum]] (ms).  Every
    * commit stages its data dir BEFORE publishing the record that makes
    * it referenced, so an unreferenced dir younger than the longest
    * plausible stage-to-publish gap may be an IN-FLIGHT commit, not an
    * orphan — reclaiming it would let the commit publish a manifest
    * pointing at deleted data (the Delta/Iceberg file-retention
    * discipline guards exactly this window). */
  val VacuumGraceMs: Long = 20L * 60 * 1000

  /** Retention: keep the newest `keep` versions' manifests; delete older
    * log records and every data dir no surviving manifest references.
    * Data dirs are write-once, so the only deletable state is (a) log
    * records past retention and (b) orphaned dirs — a crashed writer's
    * leftovers or dirs only historical manifests referenced.  Readers of
    * surviving versions are untouched (their dirs are all retained); at
    * 100 TB this is the storage-reclaim knob that makes copy-on-write
    * snapshots affordable.
    *
    * `graceMs` (default [[VacuumGraceMs]]) is the in-flight-commit
    * shield: an unreferenced dir whose newest file landed within the
    * window is SKIPPED — it may be a commit's staged data that has not
    * published its record yet (stage-to-publish is seconds; the window
    * is minutes).  Pass 0 only when no writer can be concurrent (tests,
    * single-writer maintenance stops). */
  def vacuum(spark: SparkSession, root: String, keep: Int,
      floorCap: Int = Int.MaxValue, graceMs: Long = VacuumGraceMs): Unit = {
    require(keep >= 1, "must keep at least the head version")
    val head = currentVersion(spark, root)
    if (head == 0) return
    // floorCap pins a version ABSOLUTELY (TxnCatalog.vacuumMember):
    // computing a keep-count from a head read OUTSIDE this method races
    // with concurrent commits — the head re-resolved here could have
    // advanced, shifting a count-based floor past the pin
    val floor = math.min(math.max(1, head - keep + 1), floorCap)
    // delete sidecars are manifest state too: a surviving version's dv
    // entries reference them, so they live exactly as long as a record
    // pointing at them does.  Branch refs under refs/ pin parent dirs:
    // their manifests hold ABSOLUTE paths into this root's data/ (the
    // zero-copy fork), so reclaiming those would break every branch —
    // the refs walk below adds them to the live set.
    val live: Set[String] =
      (floor to head).flatMap { v =>
        val r = record(spark, root, v); r.dirs ++ r.dv.values.flatten }.toSet ++
        Branches.pinnedByRefs(spark, root)
    val dataDir = new org.apache.hadoop.fs.Path(s"$root/data")
    val f = fs(spark, dataDir)
    val cutoff = System.currentTimeMillis() - math.max(0L, graceMs)
    // newest mtime anywhere under the dir tree: a clustered stage writes
    // bucket subdirs, so the TOP dir's mtime stops moving once the last
    // subdir is created — only the leaves tell when writing finished.
    // Walked only for the (few) non-live candidates, never for live dirs.
    def newest(p: org.apache.hadoop.fs.Path): Long = try {
      val kids = f.listStatus(p)
      val own = f.getFileStatus(p).getModificationTime
      val sub = kids.map(k =>
        if (k.isDirectory) newest(k.getPath) else k.getModificationTime)
      (sub :+ own).max
    } catch {
      // a concurrent sweep (second vacuum, a fold's own staged-dir
      // reclaim) deleted the candidate mid-walk: it is already
      // reclaimed — report it too-new so THIS sweep skips it instead
      // of aborting the whole pass
      case _: java.io.FileNotFoundException => Long.MaxValue
    }
    val rootN = root.stripSuffix("/")
    if (f.exists(dataDir))
      f.listStatus(dataDir).foreach { st =>
        // a top-level dir is live if any surviving manifest references it
        // directly OR one of its clustered bucket subdirs ("data/<uuid>/_b=N")
        val rel = s"data/${st.getPath.getName}"
        if (!live.contains(rel) && !live.exists(_.startsWith(s"$rel/")) &&
            newest(st.getPath) < cutoff)
          // check-and-delete under the pin monitor: an in-flight replay
          // (restore/clone) pins its dirs, and the monitor makes this a
          // binary outcome — see withReplayPins.  Pins are re-read HERE,
          // per dir, never folded into `live` upfront: a pin taken after
          // the live-set computation must still be honored.
          vacuumMonitor(rootN).synchronized {
            val pins = replayPinnedDirs(rootN)
            if (!pins.contains(rel) && !pins.exists(_.startsWith(s"$rel/")))
              f.delete(st.getPath, true)
          }
      }
    val ld = logDir(root)
    f.listStatus(ld).foreach { st =>
      st.getPath.getName match {
        case V(n) if n.toInt < floor => f.delete(st.getPath, false)
        case _ => ()
      }
    }
  }

  /** DRY-RUN of [[vacuum]] — the operator's look-before-you-delete:
    * every data dir and log record the sweep WOULD touch, with its
    * size and the action the real sweep would take (`reclaim`,
    * `keep-grace` for possible in-flight commit stages inside the
    * grace window, `keep-pinned` for dirs a live replay pins).  Reads
    * only metadata plus one content summary per CANDIDATE (live dirs
    * are never walked, exactly like the sweep).  Deletes nothing. */
  def vacuumPreview(spark: SparkSession, root: String, keep: Int,
      floorCap: Int = Int.MaxValue,
      graceMs: Long = VacuumGraceMs): DataFrame = {
    import spark.implicits._
    require(keep >= 1, "must keep at least the head version")
    val rows = scala.collection.mutable.ArrayBuffer[(String, String, Long, String)]()
    val head = currentVersion(spark, root)
    if (head != 0) {
      val floor = math.min(math.max(1, head - keep + 1), floorCap)
      // same live-set construction as the sweep (dv sidecars + branch
      // refs pin exactly as there)
      val live: Set[String] =
        (floor to head).flatMap { v =>
          val r = record(spark, root, v); r.dirs ++ r.dv.values.flatten }.toSet ++
          Branches.pinnedByRefs(spark, root)
      val dataDir = new org.apache.hadoop.fs.Path(s"$root/data")
      val f = fs(spark, dataDir)
      val cutoff = System.currentTimeMillis() - math.max(0L, graceMs)
      def newest(p: org.apache.hadoop.fs.Path): Long = try {
        val kids = f.listStatus(p)
        val own = f.getFileStatus(p).getModificationTime
        (kids.map(k => if (k.isDirectory) newest(k.getPath)
                       else k.getModificationTime) :+ own).max
      } catch { case _: java.io.FileNotFoundException => Long.MaxValue }
      val rootN = root.stripSuffix("/")
      val pins = replayPinnedDirs(rootN)
      if (f.exists(dataDir))
        f.listStatus(dataDir).foreach { st =>
          val rel = s"data/${st.getPath.getName}"
          if (!live.contains(rel) && !live.exists(_.startsWith(s"$rel/"))) {
            val bytes = try f.getContentSummary(st.getPath).getLength
              catch { case _: java.io.FileNotFoundException => 0L }
            val action =
              if (pins.contains(rel) || pins.exists(_.startsWith(s"$rel/")))
                "keep-pinned"
              else if (newest(st.getPath) >= cutoff) "keep-grace"
              else "reclaim"
            rows += (("data-dir", rel, bytes, action))
          }
        }
      val ld = logDir(root)
      f.listStatus(ld).foreach { st =>
        st.getPath.getName match {
          case V(n) if n.toInt < floor =>
            rows += (("log-record", s"log/${st.getPath.getName}",
              st.getLen, "reclaim"))
          case _ => ()
        }
      }
    }
    rows.toSeq.toDF("kind", "path", "bytes", "action")
  }

  /** Wall-clock retention: keep every version committed at or after
    * `ts` (epoch ms) — plus the head, always — and reclaim the rest.
    * The deployment knob ("retain 30 days") expressed on the same
    * monotone commit timestamps AS-OF reads resolve against, so a
    * readAsOf inside the retention window keeps working after the
    * sweep. */
  def vacuumOlderThan(spark: SparkSession, root: String, ts: Long,
      graceMs: Long = VacuumGraceMs): Unit = {
    val head = currentVersion(spark, root)
    if (head == 0) return
    // earlier sweeps may have reclaimed low log records — scan survivors
    val floor = (lowestVersion(spark, root, head) to head)
      .find(v => tsOf(spark, root, v) >= ts).getOrElse(head)
    vacuum(spark, root, keep = head - floor + 1, graceMs = graceMs)
  }

  /** Exactly-once streaming ingest: append `df` as the commit for
    * micro-batch `batchId`, SKIPPING the write if a commit carrying this
    * (or a later) batchId already landed — the transactional-sink fence
    * that makes `foreachBatch { (b, id) => commitBatch(root, id, b) }`
    * idempotent across micro-batch replays after a crash between sink
    * write and checkpoint advance.  The fence piggybacks on the manifest
    * (`"batchId":N` in the record), so it needs no extra storage and is
    * arbitration-safe: the rename that publishes the version also
    * publishes the fence. */
  def commitBatch(spark: SparkSession, root: String, batchId: Long,
      df: DataFrame): Option[Int] = {
    if (lastBatchId(spark, root).exists(_ >= batchId)) return None
    val rel = writeDataDir(spark, root, df)
    val v = publishRecord(spark, root, head => {
        val ht = record(spark, root, head)
        extraFields(spark, root, ht, ht.dirs :+ rel, None, opArg = "stream-append")
          .copy(batchId = Some(batchId))
      },
      abortIf = head => lastBatchId(spark, root).exists(_ >= batchId))
    if (v.isEmpty) { // lost to a racing replay that carried our batch
      val p = new org.apache.hadoop.fs.Path(s"$root/$rel")
      fs(spark, p).delete(p, true)
    }
    v
  }

  /** [[commitBatch]] that MAINTAINS the table's declared bloom index
    * (value or `_tok` token) — the transactional streaming ingest for an
    * indexed table: the fenced append plus the declared filter's build
    * aggregate over the NEW dir only, so point/token probes stay
    * dir-pruned under the highest-volume ingest path instead of decaying
    * one unindexed dir per micro-batch.  The ingest tax is exactly
    * [[BloomIndex.commitAppendBloom]] / [[TextIndex.commitAppendIndexed]]'s
    * (chosen by declaring the index, paid per batch); with no index
    * declared this IS commitBatch.  A replayed batch is SKIPPED before
    * any work, so the filter build is paid once per batch, never per
    * replay. */
  def commitBatchIndexed(spark: SparkSession, root: String, batchId: Long,
      df: DataFrame): Option[Int] = {
    if (lastBatchId(spark, root).exists(_ >= batchId)) return None
    val rel = writeDataDir(spark, root, df)
    val blooms = bloomForDir(spark, root, record(spark, root, currentVersion(spark, root)), rel)
    val v = publishRecord(spark, root, head => {
        val ht = record(spark, root, head)
        extraFields(spark, root, ht, ht.dirs :+ rel, None,
          blooms = blooms, opArg = "stream-append").copy(batchId = Some(batchId))
      },
      abortIf = head => lastBatchId(spark, root).exists(_ >= batchId))
    if (v.isEmpty) { // lost to a racing replay that carried our batch
      val p = new org.apache.hadoop.fs.Path(s"$root/$rel")
      fs(spark, p).delete(p, true)
    }
    v
  }

  /** Fenced full-snapshot commit: like [[commit]] but carrying the
    * batchId fence — the derived-table counterpart of [[commitBatch]].
    * A materialized view refreshed to source version N commits its new
    * snapshot with batchId = N: [[lastBatchId]] then IS the durable
    * "applied source version", so a crash between the source commit and
    * the view refresh is healed by the next catch-up instead of losing
    * the delta (see [[IncrementalView.refreshTo]]). */
  def commitSnapshotBatch(spark: SparkSession, root: String, batchId: Long,
      df: DataFrame): Option[Int] = {
    if (lastBatchId(spark, root).exists(_ >= batchId)) return None
    val rel = writeDataDir(spark, root, df)
    val v = publishRecord(spark, root, head =>
        extraFields(spark, root, record(spark, root, head), Seq(rel), None,
          opArg = "stream-snapshot").copy(batchId = Some(batchId)),
      abortIf = _ => lastBatchId(spark, root).exists(_ >= batchId))
    if (v.isEmpty) {
      val p = new org.apache.hadoop.fs.Path(s"$root/$rel")
      fs(spark, p).delete(p, true)
    }
    v
  }

  /** Exactly-once CLUSTERED streaming ingest: [[commitBatch]]'s fence
    * with [[commitAppendClustered]]'s layout — each micro-batch lands
    * as range buckets with tight per-dir [min,max] entries, so a
    * STREAMING table keeps its zone map live at ingest time instead of
    * needing a separate re-cluster pass (the fold policies then only
    * handle cross-batch overlap, which time-keyed streams never
    * produce).  Skipped (None) when the fence already covers
    * `batchId`, exactly like [[commitBatch]]. */
  def commitBatchClustered(spark: SparkSession, root: String, batchId: Long,
      df: DataFrame, statsCol: String, buckets: Int = 16): Option[Int] = {
    if (lastBatchId(spark, root).exists(_ >= batchId)) return None
    val (rels, pre, rows, blooms) = writeClustered(spark, root, df, statsCol, buckets)
    val v = publishRecord(spark, root, head => {
        val ht = record(spark, root, head)
        extraFields(spark, root, ht, ht.dirs ++ rels, Some(statsCol), precomputed = pre,
          precomputedRows = rows, blooms = blooms, opArg = "stream-append")
          .copy(batchId = Some(batchId))
      },
      abortIf = _ => lastBatchId(spark, root).exists(_ >= batchId))
    if (v.isEmpty) reclaimStaged(spark, root, rels)
    v
  }

  /** Highest batchId any SURVIVING manifest carries, scanning
    * newest-first down to the vacuum retention floor — so streaming
    * ingest into a table vacuumed past its last fenced record degrades
    * to "no fence" (a fresh stream re-ingests) instead of crashing on a
    * reclaimed log record. */
  private[graft] def lastBatchId(spark: SparkSession, root: String): Option[Long] =
    lastBatchIdAt(spark, root, currentVersion(spark, root))

  /** True when a commit carrying `batchId` (or a later fence) already
    * landed — the replay pre-check shared by the fenced sink paths, so
    * a replayed micro-batch is skipped before any staging or Spark
    * work.  Metadata-only (one log scan). */
  private[io] def replaySkipped(spark: SparkSession, root: String,
      batchId: Long): Boolean =
    lastBatchId(spark, root).exists(_ >= batchId)

  /** [[lastBatchId]] as of version `from` — for readers that must pair
    * the fence with the SAME version's content (a concurrent commit
    * between two separate reads would make the pair inconsistent). */
  private[graft] def lastBatchIdAt(spark: SparkSession, root: String, from: Int): Option[Long] = {
    val head = currentVersion(spark, root)
    (math.min(from, head) to lowestVersion(spark, root, head) by -1).iterator
      .flatMap(v => record(spark, root, v).batchId).nextOption()
  }

  /** Row-level snapshot diff `va → vb`: multiset EXCEPT ALL both ways,
    * tagged with `op` ∈ {added, removed}.
    *
    * MANIFEST-PRUNED: a dir present in BOTH manifests contributes the
    * identical row multiset to both sides, and identical multisets
    * cancel exactly under EXCEPT ALL — so only the non-shared dirs are
    * read.  This is what makes the 100 TB day-2 case affordable: diffing
    * an append commit against its parent reads ONLY the appended dirs
    * (zero full-table scan), while two unrelated full snapshots degrade
    * gracefully to the complete compare. */
  def diff(spark: SparkSession, root: String, va: Int, vb: Int): DataFrame = {
    val (ra, rb) = (record(spark, root, va), record(spark, root, vb))
    require((ra.dirs ++ rb.dirs).nonEmpty, s"diff of two empty versions of $root")
    // a dir shared by both manifests cancels ONLY if its deletion-vector
    // state also matches: a MOR delete between va and vb changes the
    // dir's live rows without changing the manifest entry, and each side
    // must be read under ITS OWN vectors to surface those removals
    val cancel = ra.dirs.toSet.intersect(rb.dirs.toSet)
      .filter(d => ra.dv.get(d) == rb.dv.get(d))
    diffRecords(spark, root, ra, rb, ra.dirs.filterNot(cancel), rb.dirs.filterNot(cancel))
  }

  /** [[diff]] restricted to EXPLICIT dir subsets — `aDirs` read at `va`
    * (under `va`'s vectors), `bDirs` at `vb` — the primitive behind
    * row-capped change-feed chunks ([[ChangeFeed.nextBatchCapped]]):
    * a chunk diffs a bounded subset of the changed dirs, and rows the
    * subset shares still cancel under EXCEPT ALL.  `vMax`'s schema
    * governs both sides, exactly as in [[diff]]. */
  private[graft] def diffOn(spark: SparkSession, root: String, va: Int,
      vb: Int, aDirs: Seq[String], bDirs: Seq[String]): DataFrame =
    diffRecords(spark, root, record(spark, root, va), record(spark, root, vb), aDirs, bDirs)

  private def diffRecords(spark: SparkSession, root: String, ra: Record,
      rb: Record, aDirs: Seq[String], bDirs: Seq[String]): DataFrame = {
    // both sides read under the NEWER version's schema, so a diff across
    // an alter compares null-filled old rows against full-schema rows
    // and rows untouched but for the schema change still cancel
    val rMax = if (ra.version >= rb.version) ra else rb
    def read(only: Seq[String], dvAt: Record): DataFrame =
      if (only.isEmpty) { // schema from whichever side has data dirs
        val any = (ra.dirs ++ rb.dirs).distinct
        readDirsDv(spark, root, rMax, any, keepPos = false, rMax).limit(0)
      } else readDirsDv(spark, root, rMax, only, keepPos = false, dvAt)
    val a = read(aDirs, ra)
    val b = read(bDirs, rb)
    b.exceptAll(a).withColumn("op", lit("added"))
      .unionByName(a.exceptAll(b).withColumn("op", lit("removed")))
  }

  /** Judged query: documents v1 = the corpus slice, v2 = an upsert (every
    * 7th doc's text rewritten + the day-2 batch inserted) committed
    * through the REAL log (temp root per run, cleaned at JVM exit via the
    * stream-sink dir tracker); output = the row-level diff.  The oracle
    * reconstructs both versions by expression — the machinery under test
    * is the commit/time-travel path producing the same relation. */
  val tableDiff: graft.GraftQuery = graft.GraftQuery("q_table_diff",
    """WITH v1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 < 8),
      |v2 AS (SELECT doc_id,
      |         CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END AS text
      |       FROM documents WHERE doc_id % 10 < 8
      |       UNION ALL
      |       SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8)
      |SELECT 'added' AS op, doc_id, md5(text) AS text_md5
      |FROM (FROM v2 EXCEPT ALL FROM v1)
      |UNION ALL
      |SELECT 'removed' AS op, doc_id, md5(text) AS text_md5
      |FROM (FROM v1 EXCEPT ALL FROM v2)""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val v1 = docs.filter(col("doc_id") % 10 < 8)
    Versioned.commit(spark, root, v1)
    val v2 = v1.withColumn("text",
      when(col("doc_id") % 7 === 0, upper(col("text"))).otherwise(col("text")))
      .unionByName(docs.filter(col("doc_id") % 10 >= 8))
    Versioned.commit(spark, root, v2)
    Versioned.diff(spark, root, 1, 2)
      .select(col("op"), col("doc_id"), md5(col("text")).as("text_md5"))
  }

  /** Judged query: the zone-map ingest + read path.  ONE clustered
    * append lands the hash-ordered corpus as eight doc_id-range bucket
    * dirs with tight per-dir [min,max]; `readRange` over a narrow
    * window prunes the non-overlapping buckets on driver-side manifest
    * metadata BEFORE any file listing (the spec asserts the pruned scan
    * via inputFiles).  The oracle is the plain range filter over the
    * same relation — pruning must never change rows. */
  val tableZonemap: graft.GraftQuery = graft.GraftQuery("q_table_zonemap",
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id >= 260 AND doc_id <= 490""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val v = Versioned.commitAppendClustered(spark, root, docs, "doc_id", buckets = 8)
    Versioned.readRange(spark, root, v, 260L, 490L)
  }

  /** Judged query: keyed MERGE through the real log.  v1 = the base
    * slice (doc_id % 10 < 8) clustered into 8 doc_id-bucket dirs;
    * updates = the [260,490] window's base rows with n_chars bumped
    * (matched → replaced; the clustered layout confines the rewrite to
    * the 1–2 overlapping bucket dirs) plus the day-2 slice (unmatched →
    * inserted).  Output = the merged head; the oracle recomputes the
    * final relation by expression over the full table. */
  val tableMerge: graft.GraftQuery = graft.GraftQuery("q_table_merge",
    """SELECT doc_id, lang,
      |       CASE WHEN doc_id % 10 < 8 AND doc_id BETWEEN 260 AND 490
      |            THEN n_chars + 1000 ELSE n_chars END AS n_chars
      |FROM documents""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val base = docs.filter(col("doc_id") % 10 < 8)
    Versioned.commitAppendClustered(spark, root, base, "doc_id", buckets = 8)
    val updates = base.filter(col("doc_id").between(260, 490))
      .withColumn("n_chars", col("n_chars") + 1000)
      .unionByName(docs.filter(col("doc_id") % 10 >= 8))
    val v = Versioned.commitMerge(spark, root, updates, "doc_id")
    Versioned.readAt(spark, root, v)
  }

  /** Judged query: MERGE-ON-READ keyed upsert through the real log —
    * the same relation as `q_table_merge`, produced with ZERO dir
    * rewrites: matched keys evicted as positional vectors (the [260,490]
    * window, zone-map-confined to the overlapping bucket dirs), the
    * update set landed as one clean dir.  The in-query assertion pins
    * the no-rewrite law: every base dir carries into the head manifest
    * verbatim. */
  val tableMergeMor: graft.GraftQuery = graft.GraftQuery("q_table_merge_mor",
    """SELECT doc_id, lang,
      |       CASE WHEN doc_id % 10 < 8 AND doc_id BETWEEN 260 AND 490
      |            THEN n_chars + 1000 ELSE n_chars END AS n_chars
      |FROM documents""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val base = docs.filter(col("doc_id") % 10 < 8)
    val v1 = Versioned.commitAppendClustered(spark, root, base, "doc_id", buckets = 8)
    val updates = base.filter(col("doc_id").between(260, 490))
      .withColumn("n_chars", col("n_chars") + 1000)
      .unionByName(docs.filter(col("doc_id") % 10 >= 8))
    val v = Versioned.commitMergeMOR(spark, root, updates, "doc_id")
    require(Versioned.manifest(spark, root, v1)
        .forall(Versioned.manifest(spark, root, v).contains),
      "MOR merge must rewrite no base dir")
    Versioned.readAt(spark, root, v)
  }

  /** Judged query: transactional streaming ingest through the real log.
    * The day-2 slice lands as parquet files; a file-source stream
    * (maxFilesPerTrigger=1, so SEVERAL micro-batches exercise the fence)
    * ingests each batch via [[commitBatch]] under AvailableNow; output =
    * the head snapshot.  The batchId fence is what makes this judgeable:
    * whatever the micro-batch planning or any replay does, the head must
    * hold each input row exactly once — the oracle is simply the slice. */
  val tableStreamIngest: graft.GraftQuery = graft.GraftQuery("q_table_stream_ingest",
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id % 10 >= 8""".stripMargin) { (spark, sfDir) =>
    val run = graft.streaming.StreamSink.newRunDir()
    val src = s"$run/src"; val table = s"$run/table"; val ckpt = s"$run/ckpt"
    val day2 = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 10 >= 8)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    day2.repartition(3).write.parquet(src)
    // the writer just flushed src — its schema is known, no inference job
    cacheDirSchema(src, day2.schema)
    val q = spark.readStream.schema(dirSchemaOf(spark, src))
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        Versioned.commitBatch(spark, table, id, b); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    readAt(spark, table, currentVersion(spark, table))
  }

  /** Judged query: schema evolution through the real log.  v1 = the
    * base slice; v2 = `commitAlterAdd("quality", bigint)` — a pure
    * metadata commit, no dir rewritten; v3 appends the day-2 slice
    * WITH the new column populated.  Reading the head must null-fill
    * the pre-alter generation and carry the appended values — the
    * oracle expresses exactly that relation. */
  val tableSchemaEvolution: graft.GraftQuery = graft.GraftQuery("q_table_schema_evolution",
    """SELECT doc_id, lang, n_chars,
      |       CASE WHEN doc_id % 10 >= 8 THEN n_chars % 97 ELSE NULL END AS quality
      |FROM documents""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    Versioned.commit(spark, root, docs.filter(col("doc_id") % 10 < 8))
    Versioned.commitAlterAdd(spark, root, "quality", "bigint")
    Versioned.commitAppend(spark, root,
      docs.filter(col("doc_id") % 10 >= 8)
        .withColumn("quality", col("n_chars") % 97))
    Versioned.readAt(spark, root, 3)
  }

  /** Judged query: DELETE + vacuum through the real log.  The base
    * corpus lands range-clustered; the copy-on-write delete
    * (`commitUpdate(pred, filter(!pred))`) rewrites only the dirs
    * holding matched rows; vacuum(keep=1) then reclaims the replaced
    * dirs and v1's record while every carried dir stays live.  Output =
    * the head; oracle = the filtered recompute. */
  val tableDelete: graft.GraftQuery = graft.GraftQuery("q_table_delete",
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE NOT (doc_id % 7 = 0 OR doc_id BETWEEN 260 AND 340)""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    Versioned.commitAppendClustered(spark, root, docs, "doc_id", buckets = 8)
    val pred = col("doc_id") % 7 === 0 || col("doc_id").between(260, 340)
    Versioned.commitUpdate(spark, root, pred, d => d.filter(!pred))
    // graceMs = 0: single-writer in-query maintenance — no commit can be
    // in flight, so the staged-dir shield may stand down
    Versioned.vacuum(spark, root, keep = 1, graceMs = 0)
    Versioned.readAt(spark, root, Versioned.currentVersion(spark, root))
  }

  /** Judged query: column RENAME + DROP through the real log — the rest
    * of the schema-evolution lifecycle after `q_table_schema_evolution`'s
    * add.  v1 = the base slice under the ORIGINAL names; v2 renames
    * `lang` to `language` (pure metadata; v1's dirs keep the old
    * physical name and map forward on read); v3 appends the day-2 slice
    * carrying the NEW name physically; v4 drops `n_chars` — both
    * generations project it out, no byte rewritten.  Output = the head:
    * every row under (doc_id, language), whichever generation it lives
    * in.  Time travel below v2 still shows `lang`/`n_chars` (spec'd). */
  val tableSchemaRenameDrop: graft.GraftQuery = graft.GraftQuery("q_table_schema_rename_drop",
    """SELECT doc_id, lang AS language FROM documents""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    Versioned.commit(spark, root, docs.filter(col("doc_id") % 10 < 8))
    Versioned.commitAlterRename(spark, root, "lang", "language")
    Versioned.commitAppend(spark, root,
      docs.filter(col("doc_id") % 10 >= 8).withColumnRenamed("lang", "language"))
    Versioned.commitAlterDrop(spark, root, "n_chars")
    Versioned.readAt(spark, root, 4)
  }

  /** Judged query: MERGE-ON-READ delete (deletion vectors) through the
    * real log.  The base slice lands range-clustered; `commitDeleteMOR`
    * removes the scattered pred rows WITHOUT rewriting a single data dir
    * (pure metadata + one O(deleted rows) sidecar — the spec asserts the
    * manifest dirs are untouched); a day-2 append then lands rows that
    * OVERLAP the deleted predicate (every doc_id % 10 >= 8, including
    * % 7 == 0 ones) — they must all survive, because vectors are
    * POSITIONAL, scoped to the files that existed at delete time, not
    * keyed.  Output = the head read, vectors anti-joined out. */
  val tableDeleteMor: graft.GraftQuery = graft.GraftQuery("q_table_delete_mor",
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id % 10 < 8
      |  AND NOT (doc_id % 7 = 0 OR doc_id BETWEEN 260 AND 340)
      |UNION ALL
      |SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id % 10 >= 8""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    Versioned.commitAppendClustered(spark, root,
      docs.filter(col("doc_id") % 10 < 8), "doc_id", buckets = 8)
    val pred = col("doc_id") % 7 === 0 || col("doc_id").between(260, 340)
    Versioned.commitDeleteMOR(spark, root, pred)
    Versioned.commitAppend(spark, root, docs.filter(col("doc_id") % 10 >= 8))
    Versioned.readAt(spark, root, Versioned.currentVersion(spark, root))
  }

  /** Judged query: RESTORE through the real log.  v1 = the base corpus;
    * v2 MOR-deletes every 7th doc (the "bad" operation); v3 appends a
    * poisoned day-2 batch; `restore(1)` then un-ships both in ONE pure
    * metadata commit — the head must read byte-identically to v1 while
    * v2/v3 stay time-travelable underneath.  Oracle = the v1 slice by
    * expression. */
  val tableRestore: graft.GraftQuery = graft.GraftQuery("q_table_restore",
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id % 10 < 8""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    Versioned.commit(spark, root, docs.filter(col("doc_id") % 10 < 8))
    Versioned.commitDeleteMOR(spark, root, col("doc_id") % 7 === 0)
    Versioned.commitAppend(spark, root,
      docs.filter(col("doc_id") % 10 >= 8).withColumn("n_chars", -col("n_chars")))
    val v = Versioned.restore(spark, root, 1)
    Versioned.readAt(spark, root, v)
  }

  /** Judged query: AS-OF read through the real log.  v1 = the base
    * slice; the query waits out the millisecond so v2's monotone stamp
    * strictly exceeds t1, appends the day-2 slice, then resolves
    * `readAsOf(t1)` — which must land on v1 exactly, whatever v2 did.
    * Oracle = the v1 slice by expression. */
  val tableAsOf: graft.GraftQuery = graft.GraftQuery("q_table_asof",
    """SELECT doc_id, n_chars FROM documents WHERE doc_id % 10 < 8""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("n_chars"))
    Versioned.commit(spark, root, docs.filter(col("doc_id") % 10 < 8))
    val t1 = Versioned.tsOf(spark, root, 1)
    while (System.currentTimeMillis() <= t1) Thread.sleep(1)
    Versioned.commitAppend(spark, root, docs.filter(col("doc_id") % 10 >= 8))
    Versioned.readAsOf(spark, root, t1)
  }

  /** Judged query: the self-scheduling OPTIMIZE.  Three clustered
    * appends of interleaved corpus slices (each spanning the full
    * doc_id domain) decay the layout to cover-3; `optimizeClustered`
    * detects the overlap from the manifest stats alone and folds the
    * component back to 8 near-disjoint dirs; the output is a pruned
    * range read over the optimized head.  The oracle is the plain
    * range filter — folding must never change rows. */
  val tableOptimize: graft.GraftQuery = graft.GraftQuery("q_table_optimize",
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id BETWEEN 260 AND 490""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    (0 until 3).foreach { r =>
      Versioned.commitAppendClustered(spark, root,
        docs.filter(col("doc_id") % 3 === r), "doc_id", buckets = 8)
    }
    val v = Versioned.optimizeClustered(spark, root, "doc_id", buckets = 8)
      .getOrElse(sys.error("3 spanning layers must trigger a fold"))
    Versioned.readRange(spark, root, v, 260L, 490L)
  }

  /** Judged query: the small-file OPTIMIZE policy.  Ten tiny
    * DISJOINT-range plain appends (the hourly-micro-batch year in
    * miniature — the layout [[optimizeClustered]] deliberately never
    * touches, since pruning hasn't decayed) fragment the manifest;
    * `optimizeSmall` detects the fragmentation from the metadata row
    * counts alone and folds the tiny dirs into a handful of fresh
    * clustered dirs in ONE range shuffle.  Output = a pruned range read
    * over the defragmented head; the oracle is the plain range filter —
    * folding must never change rows. */
  val tableOptimizeSmall: graft.GraftQuery = graft.GraftQuery("q_table_optimize_small",
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id BETWEEN 260 AND 490""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    val width = mx / 10 + 1
    // PLAIN appends, as real micro-batch ingest arrives — no shuffle,
    // no layout; the optimizer imposes the clustering at fold time
    (0 until 10).foreach { i =>
      Versioned.commitAppend(spark, root,
        docs.filter(col("doc_id") >= i * width && col("doc_id") < (i + 1) * width))
    }
    val total = Versioned.countAt(spark, root, 10)
    val before = Versioned.manifest(spark, root, 10).size
    // each slice holds ~total/10 rows < total/5 = the fragment
    // threshold; the fold lands them as ~4 target-sized dirs
    val v = Versioned.optimizeSmall(spark, root, "doc_id",
      smallRows = math.max(2, total / 5), targetRows = math.max(3, total / 4))
      .getOrElse(sys.error("20 tiny dirs must trigger a defragmentation"))
    require(Versioned.manifest(spark, root, v).size < before,
      "the fold must shrink the manifest")
    Versioned.readRange(spark, root, v, 260L, 490L)
  }

  /** Judged query: transactional STREAMING MERGE through the real log.
    * The full corpus lands clustered; the [100,700] window's rows with
    * n_chars bumped are split across several files, and a file-source
    * stream (maxFilesPerTrigger=1 → several micro-batches) merges each
    * batch via the batchId-fenced [[commitMergeBatch]] under
    * AvailableNow.  Keys are disjoint across batches, so the head is
    * batch-order-independent: the base with every update applied,
    * whatever the planner did — the oracle is that expression. */
  val tableStreamUpsert: graft.GraftQuery = graft.GraftQuery("q_table_stream_upsert",
    """SELECT doc_id, lang,
      |       CASE WHEN doc_id BETWEEN 100 AND 700
      |            THEN n_chars + 1000 ELSE n_chars END AS n_chars
      |FROM documents""".stripMargin) { (spark, sfDir) =>
    val run = graft.streaming.StreamSink.newRunDir()
    val src = s"$run/src"; val table = s"$run/table"; val ckpt = s"$run/ckpt"
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    Versioned.commitAppendClustered(spark, table, docs, "doc_id", buckets = 8)
    val ups = docs.filter(col("doc_id").between(100, 700))
      .withColumn("n_chars", col("n_chars") + 1000)
    ups.repartition(3).write.parquet(src)
    // the writer just flushed src — its schema is known, no inference job
    cacheDirSchema(src, ups.schema)
    val q = spark.readStream.schema(dirSchemaOf(spark, src))
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        Versioned.commitMergeBatch(spark, table, id, b, "doc_id"); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    readAt(spark, table, currentVersion(spark, table))
  }

  /** Judged query: metadata-only row counts across the table's life.
    * v1 = the base slice (clustered — counts ride the one stats job),
    * v2 appends the day-2 slice, v3 is a copy-on-write delete; the
    * output is `countAt` for every version, answered from the manifest
    * row-count entries with ZERO data I/O (the spec proves it by
    * deleting every parquet file and asking again).  The oracle
    * recomputes each version's cardinality by expression. */
  val tableRowCounts: graft.GraftQuery = graft.GraftQuery("q_table_row_counts",
    """SELECT 1 AS version, count(*) AS n_rows FROM documents WHERE doc_id % 10 < 8
      |UNION ALL
      |SELECT 2 AS version, count(*) AS n_rows FROM documents
      |UNION ALL
      |SELECT 3 AS version, count(*) AS n_rows FROM documents
      |WHERE NOT (doc_id % 7 = 0)""".stripMargin) { (spark, sfDir) =>
    import spark.implicits._
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    Versioned.commitAppendClustered(spark, root,
      docs.filter(col("doc_id") % 10 < 8), "doc_id", buckets = 8)
    Versioned.commitAppend(spark, root, docs.filter(col("doc_id") % 10 >= 8))
    val pred = col("doc_id") % 7 === 0
    Versioned.commitUpdate(spark, root, pred, d => d.filter(!pred))
    (1 to 3).map(v => (v, Versioned.countAt(spark, root, v)))
      .toDF("version", "n_rows")
  }

  /** Judged query: the write-audit-publish gate.  v1 = the base slice;
    * a poisoned day-2 batch (every 3rd row's n_chars negated) is staged,
    * audited, REJECTED — head must stay at v1 with the staged dir
    * reclaimed; the clean day-2 batch then passes the same checks.
    * Output = the head after both attempts; the oracle is the full
    * corpus — i.e. exactly one of the two day-2 attempts landed. */
  val tableWap: graft.GraftQuery = graft.GraftQuery("q_table_wap",
    """SELECT doc_id, lang, n_chars FROM documents""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val checks = Seq(
      "n_chars_nonneg" -> (col("n_chars") >= 0),
      "doc_id_present" -> col("doc_id").isNotNull)
    Versioned.commitAppendChecked(spark, root,
      docs.filter(col("doc_id") % 10 < 8), checks)
    val day2 = docs.filter(col("doc_id") % 10 >= 8)
    val poisoned = day2.withColumn("n_chars",
      when(col("doc_id") % 3 === 0, -col("n_chars") - 1).otherwise(col("n_chars")))
    val rejected =
      try { Versioned.commitAppendChecked(spark, root, poisoned, checks); false }
      catch { case _: CommitRejected => true }
    require(rejected, "the poisoned batch must be rejected")
    Versioned.commitAppendChecked(spark, root, day2, checks)
    Versioned.readAt(spark, root, Versioned.currentVersion(spark, root))
  }

  /** Judged query: metadata-only aggregates.  The clustered corpus plus
    * a day-2 clustered append; `countAt` + `statsRangeAt` answer
    * count/min/max of the zone-map column from the manifest with zero
    * data I/O.  Oracle = the plain aggregate. */
  val tableStatsMeta: graft.GraftQuery = graft.GraftQuery("q_table_stats_meta",
    """SELECT count(*) AS n_rows, CAST(min(doc_id) AS BIGINT) AS min_id,
      |       CAST(max(doc_id) AS BIGINT) AS max_id
      |FROM documents""".stripMargin) { (spark, sfDir) =>
    import spark.implicits._
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"))
    Versioned.commitAppendClustered(spark, root,
      docs.filter(col("doc_id") % 10 < 8), "doc_id", buckets = 8)
    val v = Versioned.commitAppendClustered(spark, root,
      docs.filter(col("doc_id") % 10 >= 8), "doc_id", buckets = 4)
    val (lo, hi) = Versioned.statsRangeAt(spark, root, v)
      .getOrElse(sys.error("a fully-clustered table must carry full stats"))
    Seq((Versioned.countAt(spark, root, v), lo, hi))
      .toDF("n_rows", "min_id", "max_id")
  }

  /** Judged query: the metadata-aggregate family completed — count, sum,
    * min, max all answered from the manifest with zero data I/O.  A
    * clustered base, a sum declaration, then a day-2 plain append whose
    * entry the commit measures automatically.  Oracle = the plain
    * aggregates. */
  val tableSumMeta: graft.GraftQuery = graft.GraftQuery("q_table_sum_meta",
    """SELECT count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |       CAST(min(doc_id) AS BIGINT) AS min_id,
      |       CAST(max(doc_id) AS BIGINT) AS max_id
      |FROM documents""".stripMargin) { (spark, sfDir) =>
    import spark.implicits._
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("n_chars"))
    Versioned.commitAppendClustered(spark, root,
      docs.filter(col("doc_id") % 10 < 8), "doc_id", buckets = 8)
    Versioned.commitDeclareSum(spark, root, "n_chars")
    val v = Versioned.commitAppend(spark, root, docs.filter(col("doc_id") % 10 >= 8))
    val sum = Versioned.sumAt(spark, root, v)
      .getOrElse(sys.error("a fully-summed table must answer from metadata"))
    val (lo, hi) = Versioned.statsRangeAt(spark, root, v)
      .getOrElse(sys.error("a fully-clustered table must carry full stats"))
    Seq((Versioned.countAt(spark, root, v), sum, lo, hi))
      .toDF("n_rows", "sum_chars", "min_id", "max_id")
  }

  /** Judged query: the persisted INGEST CONTRACT end-to-end — declared
    * CHECK constraints plus unique-key ingest.  The table owner declares
    * the rules once; then a value-poisoned batch, a replayed
    * (key-clashing) batch and a self-duplicated batch are each rejected
    * with their staged dirs reclaimed, and the clean day-2 batch lands.
    * Oracle = base ∪ clean batch. */
  val tableContract: graft.GraftQuery = graft.GraftQuery("q_table_contract",
    """SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 10 < 8""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    Versioned.commitAppendClustered(spark, root,
      docs.filter(col("doc_id") % 10 < 6), "doc_id", buckets = 8)
    Versioned.commitDeclareChecks(spark, root, Seq(
      "n_chars_nonneg" -> "n_chars >= 0",
      "doc_id_present" -> "doc_id IS NOT NULL"))
    val day2 = docs.filter(col("doc_id") % 10 === 6 || col("doc_id") % 10 === 7)
    def rejected(f: => Int): Boolean =
      try { f; false } catch { case _: CommitRejected => true }
    require(rejected(Versioned.commitAppendUnique(spark, root,
      day2.withColumn("n_chars", -col("n_chars") - 1), "doc_id")),
      "the value-poisoned batch must be rejected by the persisted checks")
    require(rejected(Versioned.commitAppendUnique(spark, root,
      docs.filter(col("doc_id") % 10 === 3), "doc_id")),
      "the replayed batch must be rejected (keys exist)")
    require(rejected(Versioned.commitAppendUnique(spark, root,
      day2.unionAll(day2), "doc_id")),
      "the self-duplicated batch must be rejected")
    val v = Versioned.commitAppendUnique(spark, root, day2, "doc_id")
    Versioned.readAt(spark, root, v)
  }

  /** Judged query: zero-copy clone + copy-on-write isolation.  The
    * corpus lands clustered in a SOURCE table; a shallow clone (pure
    * metadata — absolute refs, no data copied) is then MERGED into (the
    * [260,490] window's n_chars bumped): the CoW rewrite lands under
    * the clone's own data/, the source head must stay byte-identical
    * (asserted in-query via the metadata row counts + a diff of the
    * source against its own pre-clone version).  Output = the clone's
    * head; oracle = the bump by expression. */
  val tableClone: graft.GraftQuery = graft.GraftQuery("q_table_clone",
    """SELECT doc_id, lang,
      |       CASE WHEN doc_id BETWEEN 260 AND 490
      |            THEN n_chars + 1000 ELSE n_chars END AS n_chars
      |FROM documents""".stripMargin) { (spark, sfDir) =>
    val run = graft.streaming.StreamSink.newRunDir()
    val src = s"$run/src"; val dst = s"$run/clone"
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val vs = Versioned.commitAppendClustered(spark, src, docs, "doc_id", buckets = 8)
    Versioned.cloneAt(spark, src, dst, vs)
    val updates = docs.filter(col("doc_id").between(260, 490))
      .withColumn("n_chars", col("n_chars") + 1000)
    val vc = Versioned.commitMerge(spark, dst, updates, "doc_id")
    require(Versioned.currentVersion(spark, src) == vs
        && Versioned.countAt(spark, src, vs) == docs.count(),
      "the clone-side merge must not touch the source")
    Versioned.readAt(spark, dst, vc)
  }

  /** Judged query: the MULTI-COLUMN zone-map path.  Ingest arrives in
    * doc_id windows, and within each window short and long documents
    * land as separate batches (the realistic multi-source shape), so
    * every dir is tight on BOTH columns; `commitDeclareStatsCols`
    * measures the current dirs once, and the two-predicate
    * [[readRangeAll]] prunes the manifest on the conjunction — the
    * in-query assertion pins that the SECOND predicate prunes dirs the
    * doc_id map alone must keep.  Oracle = the plain two-predicate
    * filter: pruning must never change rows. */
  val tableZonemapMulti: graft.GraftQuery = graft.GraftQuery("q_table_zonemap_multi",
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id >= 100 AND doc_id <= 240
      |  AND n_chars >= 150 AND n_chars <= 290""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val w = maxId / 4 + 1
    for (win <- 0L until 4L; short <- Seq(true, false)) {
      val slice = docs.filter(col("doc_id") >= win * w && col("doc_id") < (win + 1) * w)
        .filter(if (short) col("n_chars") < 300 else col("n_chars") >= 300)
      Versioned.commitAppend(spark, root, slice)
    }
    val v = Versioned.commitDeclareStatsCols(spark, root, Seq("doc_id", "n_chars"))
    val pruned = Versioned.readRangeAll(spark, root, v,
      Seq(("doc_id", 100L, 240L), ("n_chars", 150L, 290L)))
    def dirsRead(df: org.apache.spark.sql.DataFrame): Int =
      df.inputFiles.map(f => f.split("/").dropRight(1).mkString("/")).distinct.length
    val idOnly = Versioned.readRangeAll(spark, root, v, Seq(("doc_id", 100L, 240L)))
      .filter(col("n_chars").between(150, 290))
    require(dirsRead(pruned) < dirsRead(idOnly),
      s"the second predicate must prune dirs the doc_id map keeps " +
        s"(${dirsRead(pruned)} vs ${dirsRead(idOnly)})")
    pruned
  }

  /** Judged query: the UNIFIED MAINTENANCE sweep end-to-end.  The table
    * suffers the realistic mixed decay — a clustered base, then two
    * full-span appends (overlap decay: every range probe now covers
    * every dir) and a MOR delete (live vectors) — and ONE `maintain`
    * call must restore the overlap law (asserted in-query on the
    * manifest's [min,max] entries), retire the deletion vectors with
    * the fold, and reach the steady state (the second call answers
    * None).  Oracle = the content recompute: maintenance must never
    * change a row. */
  val tableMaintain: graft.GraftQuery = graft.GraftQuery("q_table_maintain",
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id % 11 <> 3""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    Versioned.commitAppendClustered(spark, root,
      docs.filter(col("doc_id") % 2 === 0), "doc_id", buckets = 8)
    Versioned.commitAppend(spark, root,
      docs.filter(col("doc_id") % 2 === 1 && col("doc_id") % 10 < 5))
    Versioned.commitAppend(spark, root,
      docs.filter(col("doc_id") % 2 === 1 && col("doc_id") % 10 >= 5))
    Versioned.commitDeleteMOR(spark, root, col("doc_id") % 11 === 3)
    val v = Versioned.maintain(spark, root).get
    val r = record(spark, root, v)
    val spans = r.dirs.flatMap(r.stats.get).sortBy(_._1)
    val worst = spans.map { case (lo, _) =>
      spans.count { case (a, b) => a <= lo && lo <= b } }.max
    require(worst <= 2, s"maintain must restore the overlap law (cover $worst)")
    require(r.dv.isEmpty,
      "the fold must retire the deletion vectors")
    require(Versioned.maintain(spark, root).isEmpty,
      "the steady state must answer None")
    Versioned.readAt(spark, root, v)
  }

  /** Judged query: the DELETION-VECTOR REWRITE policy (REORG/PURGE)
    * end-to-end.  A LAYOUT-LESS table (no zone map — the shape no fold
    * policy reaches) suffers an MOR-heavy chain: two delete generations
    * accrete positional sidecars on the same dirs, so every read pays
    * the anti-join tax and the sidecar count can only grow.  ONE
    * `maintain` call must route [[rewriteVectored]]: every flagged dir
    * re-lands DV-applied, ALL sidecars retire (asserted in-query, along
    * with the metadata row-count agreeing with the scan — the read-tax
    * gone), and the steady state answers None.  Oracle = the content
    * recompute: the rewrite must never change a row. */
  val tableReorg: graft.GraftQuery = graft.GraftQuery("q_table_reorg",
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id % 10 < 8 AND doc_id % 5 <> 0 AND n_chars < 300""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    Versioned.commitAppend(spark, root, docs.filter(col("doc_id") % 10 < 4))
    Versioned.commitAppend(spark, root,
      docs.filter(col("doc_id") % 10 >= 4 && col("doc_id") % 10 < 8))
    Versioned.commitDeleteMOR(spark, root, col("doc_id") % 5 === 0)
    Versioned.commitDeleteMOR(spark, root, col("n_chars") >= 300)
    val h = Versioned.currentVersion(spark, root)
    val sidecars = Versioned.dvOf(spark, root, h).values.map(_.size).sum
    require(sidecars >= 2, s"the chain must accrete sidecars (got $sidecars)")
    val v = Versioned.maintain(spark, root, maxDvFraction = 0.1).get
    val r = record(spark, root, v)
    require(r.dv.isEmpty && r.dvRows.isEmpty,
      "the rewrite must retire every sidecar")
    // read-tax gone: the metadata count is plain row arithmetic again
    // and matches the scan exactly
    require(Versioned.countAt(spark, root, v) ==
      Versioned.readAt(spark, root, v).count(),
      "post-reorg metadata count must equal the scan")
    require(Versioned.maintain(spark, root, maxDvFraction = 0.1).isEmpty,
      "the steady state must answer None")
    Versioned.readAt(spark, root, v)
  }

  /** Judged query: DESCRIBE HISTORY with OPERATION labels.  A realistic
    * chain — clustered append, keyed MERGE, MOR delete, one maintain()
    * sweep — must read back as the labeled, metadata-only audit trail
    * (version, op, exact row count per version, deletion-vector
    * cardinalities subtracted), the observability surface an operator
    * actually debugs a table with.  The oracle derives every row count
    * by expression; the op labels are the contract under test. */
  val tableHistory: graft.GraftQuery = graft.GraftQuery("q_table_history",
    """SELECT 1 AS version, 'append' AS op,
      |       (SELECT count(*) FROM documents WHERE doc_id % 10 < 8) AS n_rows
      |UNION ALL
      |SELECT 2 AS version, 'merge' AS op,
      |       (SELECT count(*) FROM documents) AS n_rows
      |UNION ALL
      |SELECT 3 AS version, 'delete' AS op,
      |       (SELECT count(*) FROM documents WHERE doc_id % 9 <> 0) AS n_rows
      |UNION ALL
      |SELECT 4 AS version, 'optimize' AS op,
      |       (SELECT count(*) FROM documents WHERE doc_id % 9 <> 0) AS n_rows""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val base = docs.filter(col("doc_id") % 10 < 8)
    Versioned.commitAppendClustered(spark, root, base, "doc_id", buckets = 8)
    val updates = base.filter(col("doc_id").between(260, 490))
      .withColumn("n_chars", col("n_chars") + 1000)
      .unionByName(docs.filter(col("doc_id") % 10 >= 8))
    Versioned.commitMerge(spark, root, updates, "doc_id")
    Versioned.commitDeleteMOR(spark, root, col("doc_id") % 9 === 0)
    val v = Versioned.maintain(spark, root).get
    require(v == 4, s"the sweep must publish exactly one optimize commit, got $v")
    Versioned.history(spark, root)
      .select(col("version"), col("op"), col("n_rows"))
  }

  /** Judged query: COMPOSITE-KEY MERGE.  The corpus keyed by the
    * natural pair (hi, lo) = (doc_id div 100, doc_id mod 100) — unique
    * together, wildly non-unique apart, so a single-column merge on
    * either piece would evict entire stripes (the trap this API
    * closes).  The base slice takes a keyed MERGE bumping a window's
    * n_chars and inserting the day-2 slice, matching on BOTH columns;
    * oracle = the whole corpus with the window bumped, recomputed by
    * expression. */
  val tableMergeKeys: graft.GraftQuery = graft.GraftQuery("q_table_merge_keys",
    """SELECT doc_id // 100 AS hi, doc_id % 100 AS lo, lang,
      |       CASE WHEN doc_id % 10 < 8 AND doc_id BETWEEN 260 AND 490
      |            THEN n_chars + 1000 ELSE n_chars END AS n_chars
      |FROM documents""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val t = Tables.documents(spark, sfDir)
      .select(expr("doc_id div 100").as("hi"), (col("doc_id") % 100).as("lo"),
        col("lang"), col("n_chars"), col("doc_id"))
    val base = t.filter(col("doc_id") % 10 < 8)
    Versioned.commitAppend(spark, root, base.drop("doc_id"))
    val updates = base.filter(col("doc_id").between(260, 490))
      .withColumn("n_chars", col("n_chars") + 1000)
      .unionByName(t.filter(col("doc_id") % 10 >= 8))
      .drop("doc_id")
    val v = Versioned.commitMergeKeys(spark, root, updates, Seq("hi", "lo"))
    Versioned.readAt(spark, root, v)
  }

  val all: Seq[graft.GraftQuery] =
    Seq(tableDiff, tableZonemap, tableZonemapMulti, tableMaintain, tableReorg,
      tableHistory, tableMergeKeys,
      tableMerge, tableMergeMor,
      tableStreamIngest, tableSchemaEvolution, tableSchemaRenameDrop,
      tableDelete, tableDeleteMor, tableRestore, tableAsOf,
      tableOptimize, tableOptimizeSmall, tableRowCounts, tableWap,
      tableClone, tableStreamUpsert, tableStatsMeta, tableSumMeta,
      tableContract)
}
