package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-dir bloom filters in the [[Versioned]] manifest: dir-level point
  * pruning on a column the LAYOUT does not order.  A zone map serves
  * exactly one clustering order; every other high-cardinality column
  * (the doc fingerprint, the user id, the upstream batch key) sees its
  * values scattered across all dirs, so a point lookup must read the
  * whole table — unless each dir carries a membership sketch.  The
  * commit records `"bloomCol","bloomBits"` and a per-dir base64 bitset;
  * [[readPoint]] hashes the probe values driver-side and keeps only the
  * dirs whose filter claims a hit (absent entry = conservatively read).
  * False positives cost an extra dir read, never a wrong row — the
  * equality filter is re-applied to whatever is read.
  *
  * Sizing: k=3 hashes into `bits` (default 2^16 = 8 KB per dir).  Size
  * `bits` to ~10 per expected distinct key per dir (2^24 = 2 MB/dir for
  * 10⁶ keys, fpp ≈ 1.4%).  Small filters inline in the record; large
  * ones become `_bloom.bin` sidecars inside the dir with only a marker
  * in the log, so commit records stay O(dirs) at any filter size and a
  * probe's driver I/O is bounded by dirs × filter bytes (BASELINE.md,
  * "Round-15: bloom dir-index", measured by the former BloomStress
  * driver; see git history).  The filter build is one aggregation over the NEW
  * dir only (distinct bit positions, ≤ `bits` longs to the driver),
  * carried verbatim by every later commit exactly like zone-map stats.
  * CoW updates, MERGEs (including the MOR upsert dir), compaction and
  * both OPTIMIZE policies RE-MEASURE filters for the dirs they produce
  * (one batched distinct-positions job, exactly as they re-measure
  * [min,max]/rows/sums), so pruning sharpness survives churn; only
  * plain appends leave their new dirs unindexed — composition degrades
  * to conservative reads, never to wrong pruning. */
object BloomIndex {

  private val K = 3

  /** Bit positions of one value.  Hashes the CANONICAL STRING form:
    * xxhash64 folds the input type into the hash, so an INT column
    * probed with a LONG literal would otherwise hash differently and
    * the filter would wrongly prune dirs that hold the value. */
  private[io] def positions(c: Column, bits: Int): Column =
    array((0 until K).map(i =>
      pmod(xxhash64(lit(i), c.cast("string")), lit(bits.toLong))): _*)

  /** Filters at or below this size are inlined (base64) in the commit
    * record; larger ones land as a `_bloom.bin` SIDECAR inside the data
    * dir (underscore files are invisible to parquet scans, ride along
    * with shallow clones, and vacuum reclaims them with their dir) and
    * the record carries only the `"@"` marker — the log stays O(dirs)
    * however large the filters grow. */
  private[io] val InlineMaxBits = 1 << 17 // 16 KB

  /** Fold a distinct-bit-position set into a bitset and store it: inline
    * base64 at or below [[InlineMaxBits]], else a `_bloom.bin` sidecar
    * inside the dir with the `"@"` marker in the record. */
  private[io] def storeBitset(spark: SparkSession, root: String, rel: String,
      set: Array[Long], bits: Int): String = {
    val bytes = new Array[Byte](bits / 8)
    set.foreach { pl =>
      val p = pl.toInt
      bytes(p >> 3) = (bytes(p >> 3) | (1 << (p & 7))).toByte
    }
    if (bits <= InlineMaxBits) java.util.Base64.getEncoder.encodeToString(bytes)
    else {
      val p = new org.apache.hadoop.fs.Path(s"$root/$rel/_bloom.bin")
      val out = Versioned.fs(spark, p).create(p, false)
      try out.write(bytes) finally out.close()
      "@"
    }
  }

  /** Load a dir's bitset: inline entry or `_bloom.bin` sidecar. */
  private[io] def loadBitset(spark: SparkSession, root: String, d: String,
      entry: String): Array[Byte] =
    if (entry == "@") {
      val p = new org.apache.hadoop.fs.Path(s"${Versioned.dataPath(root, d)}/_bloom.bin")
      val f = Versioned.fs(spark, p)
      val in = f.open(p)
      try {
        val buf = new Array[Byte](f.getFileStatus(p).getLen.toInt)
        in.readFully(buf); buf
      } finally in.close()
    } else java.util.Base64.getDecoder.decode(entry)

  /** Append `df` with a bloom entry for the new dir, declaring (or
    * re-declaring) `bloomCol`/`bits` for the table. */
  def commitAppendBloom(spark: SparkSession, root: String, df: DataFrame,
      bloomCol: String, bits: Int = 1 << 16): Int = {
    require(Integer.bitCount(bits) == 1 && bits >= 64, s"bits must be a power of 2 >= 64: $bits")
    val rel = Versioned.writeDataDir(spark, root, df)
    val staged = Versioned.readParquetDirs(spark, Seq(Versioned.dataPath(root, rel)))
    val n = Versioned.observedRowsOf(Versioned.dataPath(root, rel))
      .getOrElse(staged.count())
    import spark.implicits._
    val set = staged.select(explode(positions(col(bloomCol), bits)).as("p"))
      .distinct().as[Long].collect()
    val entry = storeBitset(spark, root, rel, set, bits)
    // the declaration is table-wide: probes hash with the HEAD record's
    // (col, bits) against every carried bitset, so a re-declaration with
    // different values would silently mis-prune (smaller bits) or crash
    // (larger bits) on the old dirs.  Validated INSIDE the publish
    // closure — it re-runs against the resolved head on every retry, so
    // a racing first declaration cannot slip a second, different one in
    try Versioned.publish(spark, root, head => {
      head.bloomCol.foreach { case (c0, m0) =>
        require(c0 == bloomCol && m0 == bits,
          s"$root already keeps a bloom index on ($c0, $m0 bits); " +
            s"re-declaring ($bloomCol, $bits) would corrupt pruning")
      }
      head.dirs :+ rel
    },
      precomputedRows = Map(rel -> n),
      blooms = Some((bloomCol, bits, Map(rel -> entry))), op = "append")
    catch { case e: IllegalArgumentException =>
      val p = new org.apache.hadoop.fs.Path(s"$root/$rel")
      Versioned.fs(spark, p).delete(p, true) // reclaim the staged dir
      throw e
    }
  }

  /** Point read `bloomCol IN (values)` over version `v`, reading only
    * the dirs whose bloom filter claims at least one probe value (or
    * that carry no filter).  Probe hashing runs through the SAME Spark
    * expressions as the build — one 1-row local job — so driver and
    * executor hashing can never drift. */
  def readPoint(spark: SparkSession, root: String, v: Int,
      values: Seq[Long]): DataFrame =
    readPointCanonical(spark, root, v, values.map(_.toString))

  /** Point read by canonical string form — for string keys (document
    * fingerprints, ids); a numeric column's canonical form is its
    * decimal rendering, so `readPoint(Seq(17L))` ≡
    * `readPointStrings(Seq("17"))`. */
  def readPointStrings(spark: SparkSession, root: String, v: Int,
      values: Seq[String]): DataFrame =
    readPointCanonical(spark, root, v, values)

  /** The dirs of record `r` whose bloom filter claims at least one of
    * `values` (canonical string form), plus the filter-less dirs
    * (conservatively kept) — the dir-pruning core of [[readPoint]],
    * shared with the registered batch source's pushed-equality path
    * ([[GraftTable.pruneDirs]]).  Probe hashing runs through the SAME
    * Spark expressions as the build — one 1-row local job — so driver
    * and executor hashing can never drift. */
  private[io] def pruneDirsPoint(spark: SparkSession, root: String, r: Record,
      values: Seq[String]): Seq[String] = {
    require(values.nonEmpty, "empty probe set")
    val (c, bits) = r.bloomCol.getOrElse(
      throw new IllegalArgumentException(s"$root has no bloom index"))
    require(!c.startsWith("_tok("),
      s"$root keeps a TOKEN index ($c); probe it with TextIndex.readToken")
    import spark.implicits._
    val probes: Array[Array[Int]] = values.toDF("v")
      .select(positions(col("v"), bits).as("ps")).collect()
      .map(_.getSeq[Long](0).map(_.toInt).toArray)
    def hits(d: String, entry: String): Boolean = {
      val bytes = loadBitset(spark, root, d, entry)
      probes.exists(_.forall(p => (bytes(p >> 3) & (1 << (p & 7))) != 0))
    }
    r.dirs.filter(d => r.bloom.get(d).forall(hits(d, _)))
  }

  private def readPointCanonical(spark: SparkSession, root: String, v: Int,
      values: Seq[String]): DataFrame = {
    val r = Versioned.record(spark, root, v)
    val keep = pruneDirsPoint(spark, root, r, values)
    // filter on the SAME canonical string form the hashes use
    Versioned.readPruned(spark, root, r, keep)
      .filter(col(r.bloomCol.get._1).cast("string").isin(values: _*))
  }

  /** Judged query: bloom-pruned point lookup on an UNCLUSTERED key.
    * Four appends of interleaved corpus slices (doc_id % 4) give every
    * dir the full doc_id span — a zone map would prune nothing — and
    * each dir a bloom entry; the 3-key probe must read only the dirs
    * whose filter fires (the spec asserts ≤ expected dirs via
    * inputFiles).  Oracle = the plain IN filter. */
  val tableBloomPoint: graft.GraftQuery = graft.GraftQuery("q_table_bloom_point",
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id IN (17, 138, 422)""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    (0 until 4).foreach { r =>
      commitAppendBloom(spark, root, docs.filter(col("doc_id") % 4 === r), "doc_id")
    }
    readPoint(spark, root, Versioned.currentVersion(spark, root), Seq(17L, 138L, 422L))
  }

  val all: Seq[graft.GraftQuery] = Seq(tableBloomPoint)
}
