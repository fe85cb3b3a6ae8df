package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 2-D zone maps over the [[Versioned]] commit log: range-cluster an
  * ingest on the MORTON INTERLEAVE of two coordinate columns, record
  * per-dir [zmin,zmax] in the manifest, and answer box queries
  * `x BETWEEN loX AND hiX AND y BETWEEN loY AND hiY` by pruning dirs on
  * driver-side metadata — the multi-dimensional counterpart of
  * [[Versioned.readRange]], with the same economics: at 10⁵ dirs the
  * file LISTING is the scan bottleneck, and a 1-D zone map on x reads
  * every dir once the query also constrains y (each x-clustered dir
  * spans the full y domain).  Z-ordering gives each dir a small
  * RECTANGLE of the (x,y) space, so a point-ish probe touches O(1)
  * dirs whatever dimension it constrains.
  *
  * The pruning test is EXACT, not the coarse z-envelope: a dir's
  * [zmin,zmax] interval is intersected with the query box by quadtree
  * descent (the BIGMIN/LITMAX idea expressed recursively), so the
  * z-curve's jump artifacts — interval ranges that enter and leave the
  * box — produce no false-positive reads beyond a bounded node budget.
  * The box filter still applies to the rows read, so results are
  * correct whatever the pruning keeps.
  *
  * The statsCol is the pseudo column `_z2(xCol,yCol,bits)` (see
  * [[Versioned.Z2]]), so stats carry-forward, inheritance and per-dir
  * measurement reuse the 1-D manifest machinery verbatim.  Coordinates
  * must be non-negative and < 2^bits for a box to SEE them: rows
  * outside that domain get consistent-but-wrapped codes and can never
  * satisfy an in-domain box filter (queries are required in-domain),
  * so correctness degrades to invisibility, never to wrong rows. */
object Zonemap2D {

  /** Range-clustered 2-D append: ONE range shuffle on the Morton code,
    * each z-range bucket its own manifest dir with tight [zmin,zmax]
    * measured in ONE job over the written data.  Buckets are z-curve
    * segments = unions of small (x,y) rectangles. */
  def commitAppendClustered2(spark: SparkSession, root: String, df: DataFrame,
      xCol: String, yCol: String, bits: Int = 16, buckets: Int = 16): Int = {
    require(bits >= 1 && bits <= 31, s"bits out of range: $bits")
    // the `_z2` pseudo statsCol routes the shared clustered-write path
    // (and compaction/OPTIMIZE with the same statsCol) through the
    // Morton code — one machinery for 1-D and 2-D layouts
    Versioned.commitAppendClustered(spark, root, df,
      s"_z2($xCol,$yCol,$bits)", buckets)
  }

  /** Box read `xCol BETWEEN loX AND hiX AND yCol BETWEEN loY AND hiY`
    * over version `v`, reading ONLY the dirs whose manifest [zmin,zmax]
    * provably contains a Morton code inside the box (a dir with no
    * entry is conservatively read).  Driver-side pruning before any
    * file listing; the box filter is re-applied to the rows read. */
  def readRange2(spark: SparkSession, root: String, v: Int,
      loX: Long, hiX: Long, loY: Long, hiY: Long): DataFrame = {
    val r = Versioned.record(spark, root, v)
    val sc = r.statsCol.getOrElse(
      throw new IllegalArgumentException(s"$root has no zone-map column"))
    val (xc, yc, bits) = sc match {
      case Versioned.Z2(x, y, b) => (x, y, b.toInt)
      case other => throw new IllegalArgumentException(
        s"$root keeps a 1-D zone map on $other; use readRange")
    }
    val side = 1L << bits
    require(0 <= loX && hiX < side && 0 <= loY && hiY < side,
      s"box out of the z-domain [0, $side): ($loX,$hiX)x($loY,$hiY)")
    val keep = r.dirs.filter(d =>
      r.stats.get(d).forall { case (zlo, zhi) =>
        zRangeOverlapsBox(zlo, zhi, loX, hiX, loY, hiY, bits)
      })
    Versioned.readPruned(spark, root, r, keep)
      .filter(col(xc).between(loX, hiX) && col(yc).between(loY, hiY))
  }

  /** Does the z-interval [zlo,zhi] contain any Morton code whose
    * decoded (x,y) lies in the box?  Quadtree descent: a node is a
    * 2^level-side square covering one CONTIGUOUS z-range; reject it if
    * its z-range misses the interval or its square misses the box,
    * accept if both are fully contained, else split into the four
    * z-ordered quadrants (x in even bits: quadrant order is (x0,y0),
    * (x1,y0), (x0,y1), (x1,y1)).  Nodes needing descent hug the
    * interval endpoints and the box boundary, so the visit count stays
    * small; a defensive budget caps pathological cases at conservative
    * `true` (read the dir — never wrong, only unpruned). */
  private[graft] def zRangeOverlapsBox(zlo: Long, zhi: Long,
      loX: Long, hiX: Long, loY: Long, hiY: Long, bits: Int): Boolean = {
    var budget = 10000
    def rec(zbase: Long, xlo: Long, ylo: Long, level: Int): Boolean = {
      budget -= 1
      if (budget <= 0) return true
      val size = 1L << level
      val zspan = size * size
      if (zbase > zhi || zbase + zspan - 1 < zlo) return false
      if (xlo > hiX || xlo + size - 1 < loX ||
          ylo > hiY || ylo + size - 1 < loY) return false
      if (zbase >= zlo && zbase + zspan - 1 <= zhi &&
          xlo >= loX && xlo + size - 1 <= hiX &&
          ylo >= loY && ylo + size - 1 <= hiY) return true
      if (level == 0) return true // single in-interval, in-box cell
      val h = size / 2; val q = zspan / 4
      rec(zbase, xlo, ylo, level - 1) ||
        rec(zbase + q, xlo + h, ylo, level - 1) ||
        rec(zbase + 2 * q, xlo, ylo + h, level - 1) ||
        rec(zbase + 3 * q, xlo + h, ylo + h, level - 1)
    }
    rec(0L, 0L, 0L, bits)
  }

  /** Judged query: the 2-D ingest + box-read path.  One clustered
    * append lands the corpus as 16 z-range bucket dirs over
    * (doc_id, n_chars); the box probe prunes every dir whose z-interval
    * provably misses the box (the spec asserts the pruned scan via
    * inputFiles and the point-probe advantage over the 1-D map).  The
    * oracle is the plain conjunctive range filter. */
  val tableZonemap2d: graft.GraftQuery = graft.GraftQuery("q_table_zonemap2d",
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id BETWEEN 120 AND 380 AND n_chars BETWEEN 100 AND 400""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val v = commitAppendClustered2(spark, root, docs, "doc_id", "n_chars",
      bits = 16, buckets = 16)
    readRange2(spark, root, v, 120L, 380L, 100L, 400L)
  }

  /** Judged query: self-scheduling OPTIMIZE on the 2-D layout.  Three
    * z-clustered appends of interleaved slices (each spanning the full
    * Morton curve) decay the layout to cover-3; `optimizeClustered` on
    * the `_z2` pseudo statsCol folds the component back to near-disjoint
    * z-segments through the SAME machinery as the 1-D path; the output
    * is a box read over the optimized head — folding must never change
    * rows (the oracle is the plain conjunctive filter). */
  val tableOptimize2d: graft.GraftQuery = graft.GraftQuery("q_table_optimize_2d",
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id BETWEEN 120 AND 380 AND n_chars BETWEEN 100 AND 400""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    (0 until 3).foreach { r =>
      commitAppendClustered2(spark, root,
        docs.filter(col("doc_id") % 3 === r), "doc_id", "n_chars",
        bits = 16, buckets = 8)
    }
    val sc = Versioned.statsColOf(spark, root, 3).get
    val v = Versioned.optimizeClustered(spark, root, sc, buckets = 8)
      .getOrElse(sys.error("3 spanning z-layers must trigger a fold"))
    readRange2(spark, root, v, 120L, 380L, 100L, 400L)
  }

  /** Judged query: the UNIFIED MAINTENANCE sweep on a 2-D Morton table
    * — the routing hole the round-17 code documented ("2-D maps keep
    * their own compaction") now closed.  Mixed churn: three interleaved
    * z-clustered slices (overlap decay — every box probe covers every
    * dir), two plain appends (fragmentation + wide z-spans), and an MOR
    * delete (live vectors).  ONE `maintain` call must fold the layout
    * back to near-disjoint z-segments (overlap law asserted in-query on
    * the Morton [min,max] entries), retire the vectors with the fold,
    * and reach the steady state (second call None).  Oracle = the
    * content recompute: maintenance must never change a row. */
  val tableMaintain2d: graft.GraftQuery = graft.GraftQuery("q_table_maintain_2d",
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id % 13 <> 5""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    (0 until 3).foreach { r =>
      commitAppendClustered2(spark, root,
        docs.filter(col("doc_id") % 10 < 8 && col("doc_id") % 3 === r),
        "doc_id", "n_chars", bits = 16, buckets = 8)
    }
    Versioned.commitAppend(spark, root, docs.filter(col("doc_id") % 10 === 8))
    Versioned.commitAppend(spark, root, docs.filter(col("doc_id") % 10 === 9))
    Versioned.commitDeleteMOR(spark, root, col("doc_id") % 13 === 5)
    val v = Versioned.maintain(spark, root, buckets = 8).get
    val r = Versioned.record(spark, root, v)
    val spans = r.dirs.flatMap(r.stats.get).sortBy(_._1)
    val worst = spans.map { case (lo, _) =>
      spans.count { case (a, b) => a <= lo && lo <= b } }.max
    require(worst <= 2,
      s"maintain must restore the 2-D overlap law (z-cover $worst)")
    require(r.dv.isEmpty,
      "the fold must retire the deletion vectors")
    require(Versioned.maintain(spark, root, buckets = 8).isEmpty,
      "the steady state must answer None")
    Versioned.readAt(spark, root, v)
  }

  val all: Seq[graft.GraftQuery] =
    Seq(tableZonemap2d, tableOptimize2d, tableMaintain2d)
}
