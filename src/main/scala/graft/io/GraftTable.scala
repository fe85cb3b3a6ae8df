package graft.io

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** The registered BATCH read path over a [[Versioned]] table — the last
  * quadrant of the API matrix (streaming read = ChangeFeedSourceProvider,
  * streaming write = GraftSinkProvider, batch write = the commit*
  * family):
  *
  * {{{
  * spark.read.format("graft-table").load(tableRoot)      // head snapshot
  *   .where($"doc_id".between(200, 480) && $"n_chars" < 4000)
  * // time travel:
  *   .option("version", "3")          // or .option("asOfTimestamp", ms)
  * }}}
  *
  * A plain `.load().where(...)` user gets every declared index FOR FREE:
  * Catalyst pushes the conjunctive predicates into
  * [[GraftTableRelation.buildScan]] as `sources.Filter`s, and
  * [[GraftTable.pruneDirs]] translates them into the existing manifest
  * machinery — range/equality bounds on the clustered column or any
  * [[Versioned.commitDeclareStatsCols]] column prune dirs on the
  * driver-side [min,max] entries (intersecting across predicates, so a
  * two-column probe prunes multiplicatively — the [[Versioned.readRangeAll]]
  * semantics), and point equality / IN on the table's
  * [[BloomIndex]] column prunes on the per-dir filters.  Dirs without an
  * entry are conservatively read, EVERY filter is re-applied by Spark
  * above the scan (`unhandledFilters` returns all of them), and column
  * pruning reaches the parquet scan through `requiredColumns` — so the
  * result is correct whatever the metadata prunes, and the pruning is
  * pure driver-side record reads before any file listing.  Deletion
  * vectors and schema-evolution generations apply exactly as in
  * [[Versioned.readAt]] (the scan goes through the same readDirs core).
  *
  * At 100 TB this is the difference between "the caller must know the
  * bespoke `readRangeAll`/`readPoint` API" and "any SQL-generating tool
  * pointed at the table prunes through the manifest automatically". */
object GraftTable {

  /** (kept dirs, manifest dirs) of the LAST buildScan in this JVM —
    * pruning observability for specs and in-query assertions (judged
    * queries force a scan with `.count()` and read it immediately; the
    * bench runs queries sequentially). */
  @volatile private[graft] var lastScanDirs: (Int, Int) = (0, 0)

  private def longOf(value: Any): Option[Long] = value match {
    case b: Byte  => Some(b.toLong)
    case s: Short => Some(s.toLong)
    case i: Int   => Some(i.toLong)
    case l: Long  => Some(l)
    case _        => None
  }

  /** The canonical string form bloom filters hash ([[BloomIndex.positions]]
    * casts the column to string): integral values render as their decimal
    * string, strings are themselves; anything else declines (no pruning —
    * a float's rendering could drift from the column's). */
  private def canonical(value: Any): Option[String] = value match {
    case s: String => Some(s)
    case b: Byte   => Some(b.toString)
    case s: Short  => Some(s.toString)
    case i: Int    => Some(i.toString)
    case l: Long   => Some(l.toString)
    case _         => None
  }

  /** Conjunctive per-column [lo, hi] long bounds implied by the pushed
    * filters.  Only shapes whose satisfying rows MUST carry a non-null
    * castable value inside the bound contribute (equality, comparisons,
    * IN); Or / IsNull / string predicates prune nothing here and are
    * re-applied row-level above the scan. */
  private def boundsOf(filters: Seq[Filter]): Map[String, (Long, Long)] = {
    val acc = scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()
    def tighten(c: String, lo: Long, hi: Long): Unit = {
      val (l0, h0) = acc.getOrElse(c, (Long.MinValue, Long.MaxValue))
      acc(c) = (math.max(l0, lo), math.min(h0, hi))
    }
    def walk(f: Filter): Unit = f match {
      case EqualTo(c, v)            => longOf(v).foreach(x => tighten(c, x, x))
      case EqualNullSafe(c, v)      => longOf(v).foreach(x => tighten(c, x, x))
      case GreaterThan(c, v)        => longOf(v).foreach(x =>
        if (x < Long.MaxValue) tighten(c, x + 1, Long.MaxValue))
      case GreaterThanOrEqual(c, v) => longOf(v).foreach(x => tighten(c, x, Long.MaxValue))
      case LessThan(c, v)           => longOf(v).foreach(x =>
        if (x > Long.MinValue) tighten(c, Long.MinValue, x - 1))
      case LessThanOrEqual(c, v)    => longOf(v).foreach(x => tighten(c, Long.MinValue, x))
      case In(c, vs)                =>
        val xs = vs.toSeq.flatMap(longOf(_))
        if (xs.nonEmpty && xs.size == vs.length) tighten(c, xs.min, xs.max)
      case And(l, r)                => walk(l); walk(r)
      case _                        => ()
    }
    filters.foreach(walk)
    acc.toMap
  }

  /** The bloom-probe value set implied by the pushed filters for
    * `bloomCol`: a top-level (or AND-nested) equality / IN.  Pruning
    * with ONE conjunct keeps a superset of the conjunction's dirs —
    * always sound. */
  private def pointsOf(filters: Seq[Filter], bloomCol: String): Option[Seq[String]] = {
    def walk(f: Filter): Option[Seq[String]] = f match {
      case EqualTo(c, v) if c == bloomCol       => canonical(v).map(Seq(_))
      case EqualNullSafe(c, v) if c == bloomCol => canonical(v).map(Seq(_))
      case In(c, vs) if c == bloomCol           =>
        val cs = vs.toSeq.map(canonical(_))
        if (cs.nonEmpty && cs.forall(_.isDefined)) Some(cs.flatten) else None
      case And(l, r)                            => walk(l).orElse(walk(r))
      case _                                    => None
    }
    filters.iterator.map(walk).collectFirst { case Some(vals) => vals }
  }

  /** Translate pushed Catalyst filters into manifest dir pruning at
    * version `v`: zone-map bounds on the clustered statsCol or any
    * declared statsCols member intersect per dir; a bloom equality/IN
    * probe intersects on top.  Dirs without an entry survive
    * (conservative read) — pruning may only drop dirs that cannot hold
    * a satisfying row. */
  def pruneDirs(spark: SparkSession, root: String, v: Int,
      filters: Seq[Filter]): Seq[String] = {
    val r = Versioned.record(spark, root, v)
    val dirs = r.dirs
    if (filters.isEmpty) return dirs
    val declared = r.statsCols
    val legacy = r.statsCol.filter(c => Versioned.Z2.findFirstIn(c).isEmpty)
    val bounds = boundsOf(filters).filter { case (c, _) =>
      declared.contains(c) || legacy.contains(c) }
    val zoneKeep =
      if (bounds.isEmpty) dirs
      else {
        dirs.filter { d =>
          bounds.forall { case (c, (lo, hi)) =>
            val e = if (declared.contains(c)) r.mstats.get((c, d)) else r.stats.get(d)
            e.forall { case (a, b) => b >= lo && a <= hi }
          }
        }
      }
    r.bloomCol
      .filter(bc => !bc._1.startsWith("_tok("))
      .flatMap(bc => pointsOf(filters, bc._1)) match {
        case Some(vals) =>
          val bk = BloomIndex.pruneDirsPoint(spark, root, r, vals).toSet
          zoneKeep.filter(bk)
        case None => zoneKeep
      }
  }

  /** Resolve the read version from the options: `version` (exact) XOR
    * `asOfTimestamp` (epoch ms, [[Versioned.versionAt]]), default the
    * head. */
  private[io] def versionOf(spark: SparkSession, root: String,
      parameters: Map[String, String]): Int = {
    val v = parameters.get("version").orElse(parameters.get("versionAsOf"))
      .map(_.toInt)
    val ts = parameters.get("asOfTimestamp").orElse(parameters.get("timestampAsOf"))
      .map(_.toLong)
    require(v.isEmpty || ts.isEmpty,
      "pick ONE of option 'version' / 'asOfTimestamp'")
    v.orElse(ts.map(Versioned.versionAt(spark, root, _)))
      .getOrElse(Versioned.currentVersion(spark, root))
  }

  /** Judged query: the STANDARD-API pruned read.  Table A is
    * doc_id-clustered (8 range buckets) with a declared n_chars zone
    * map: a plain `spark.read.format("graft-table")` two-predicate
    * `.where` must prune dirs through the pushed filters (asserted
    * in-query: kept < manifest).  Table B holds four interleaved
    * appends — every dir spans the full doc_id range, a zone map
    * prunes nothing — each with a bloom entry: the pushed IN probe
    * must bloom-prune (asserted).  Oracle = the plain expression
    * recompute of both parts. */
  val tableReadPushdown: graft.GraftQuery = graft.GraftQuery("q_table_read_pushdown",
    """SELECT doc_id, lang, n_chars, 'range' AS part FROM documents
      |WHERE doc_id BETWEEN 120 AND 260 AND n_chars BETWEEN 100 AND 400
      |UNION ALL
      |SELECT doc_id, lang, n_chars, 'point' AS part FROM documents
      |WHERE doc_id IN (17, 138, 422)""".stripMargin) { (spark, sfDir) =>
    val run = graft.streaming.StreamSink.newRunDir()
    val ra = s"$run/clustered"; val rb = s"$run/bloomed"
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    Versioned.commitAppendClustered(spark, ra, docs, "doc_id", buckets = 8)
    Versioned.commitDeclareStatsCols(spark, ra, Seq("n_chars"))
    (0 until 4).foreach { r =>
      BloomIndex.commitAppendBloom(spark, rb,
        docs.filter(col("doc_id") % 4 === r), "doc_id")
    }
    def std(root: String): DataFrame =
      spark.read.format("graft-table").option("path", root).load()
    val range = std(ra)
      .where(col("doc_id").between(120, 260) && col("n_chars").between(100, 400))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        lit("range").as("part"))
    range.count() // force one scan to observe its pruning
    val (rk, rt) = lastScanDirs
    require(rk < rt, s"range read must dir-prune on the standard API ($rk/$rt)")
    val point = std(rb).where(col("doc_id").isin(17L, 138L, 422L))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        lit("point").as("part"))
    point.count()
    val (pk, pt) = lastScanDirs
    require(pk < pt, s"point read must bloom-prune on the standard API ($pk/$pt)")
    range.unionByName(point)
  }

  val all: Seq[graft.GraftQuery] = Seq(tableReadPushdown)
}

/** The V1 relation behind `spark.read.format("graft-table")`:
  * `PrunedFilteredScan` whose buildScan routes pushed filters through
  * [[GraftTable.pruneDirs]] and projects `requiredColumns` before the
  * scan materializes (column pruning reaches the parquet reader).
  * `sizeInBytes` reports the manifest's recorded on-disk bytes, so a
  * versioned dim table read through the standard API broadcast-joins
  * on Catalyst's own estimate — no hint needed. */
private[io] class GraftTableRelation(override val sqlContext: SQLContext,
    root: String, v: Int) extends BaseRelation with PrunedFilteredScan {
  private def spark: SparkSession = sqlContext.sparkSession

  override val schema: StructType = {
    val dirs = Versioned.manifest(spark, root, v)
    require(v > 0 && dirs.nonEmpty, s"version $v of $root has no data")
    Versioned.readDirs(spark, root, v, dirs).schema
  }

  override def sizeInBytes: Long = {
    val r = Versioned.record(spark, root, v)
    val bytes = r.bytes.getOrElse(Map.empty[String, Long])
    if (r.dirs.nonEmpty && r.dirs.forall(bytes.contains)) r.dirs.map(bytes).sum
    else super.sizeInBytes
  }

  // dir-level pruning only: every filter is re-applied by Spark above
  // the scan, so a conservative (entry-less) dir can never leak rows
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] = filters

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val all = Versioned.manifest(spark, root, v)
    val keep = GraftTable.pruneDirs(spark, root, v, filters.toSeq)
    GraftTable.lastScanDirs = (keep.size, all.size)
    val base =
      if (keep.isEmpty) Versioned.readDirs(spark, root, v, all).limit(0)
      else Versioned.readDirs(spark, root, v, keep)
    val projected =
      if (requiredColumns.isEmpty) base.select()
      else base.select(requiredColumns.toSeq.map(col): _*)
    projected.rdd
  }

  override def toString: String = s"GraftTable[$root@v$v]"
}
