package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MULTI-TABLE atomic commits: one fence publishing a data table and its
  * derived table (an index, a materialized view, a feature store) as a
  * single visible event — the data+derived-artifact transaction every
  * real pipeline needs and single-table logs cannot express.
  *
  * Design (the lakehouse-catalog shape, cf. multi-table transactions in
  * catalog-governed table formats): the catalog is its OWN commit log
  * whose records carry no data dirs — only a PIN MAP `{"pins":{"name":
  * version,...}}` from table name to table version.  [[commitAtomic]]
  * first runs each member table's ordinary commit (those versions become
  * table-log heads but stay INVISIBLE to catalog readers), then
  * publishes ONE catalog record pinning the new versions — the
  * no-overwrite rename that is already this repo's single-record
  * arbitration primitive.  The catalog record is therefore the
  * transaction's only commit point:
  *
  *  - a crash after some member commits but BEFORE the catalog record
  *    leaves catalog readers on the previous pin set — a CONSISTENT
  *    pair; the orphaned table versions are benign (superseded by the
  *    next transaction, reclaimable by vacuum past retention);
  *  - concurrent transactions on DISJOINT member sets compose: the pin
  *    closure re-reads the resolved catalog head per publish retry and
  *    overlays only its own tables;
  *  - concurrent transactions on the SAME table serialize on the member
  *    table's own log first, and the catalog guard below refuses to pin
  *    a version that is no longer the member's latest-from-this-txn.
  *
  * Readers who need cross-table consistency read THROUGH the catalog
  * ([[readTable]] = time-travel at the pinned version); readers of a
  * single table may keep reading its head as always — the catalog adds
  * a consistency lens, it does not slow the tables down.  At 100 TB the
  * transaction costs its member commits plus ONE metadata record. */
object TxnCatalog {

  private def norm(root: String): String = root.stripSuffix("/")

  private def tablesFile(cat: String) =
    new org.apache.hadoop.fs.Path(s"${norm(cat)}/tables.json")

  /** Same-JVM creator serialization (mirrors Versioned.publishLocks):
    * two threads racing [[create]] on one catalog would otherwise race
    * the mapping-file write-then-rename below inside one process. */
  private val createLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Create a catalog over `tables` (name → table root).  Roots may be
    * empty (version 0) — the initial pin set records their CURRENT
    * versions. */
  def create(spark: SparkSession, cat: String, tables: Map[String, String]): Int = {
    require(tables.nonEmpty, "a catalog needs at least one table")
    tables.keys.foreach(n => require(n.nonEmpty && n.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-'), s"bad table name '$n'"))
    val catN = norm(cat)
    val tf = tablesFile(cat)
    // RAW (checksum-free) filesystem, mirroring publishRecord's record
    // discipline: through the checksummed local FS the mapping file
    // would carry a `.crc` sidecar, and the FileContext rename moves crc
    // and data as TWO operations — racing creators can interleave them
    // and leave tables.json under a mismatched checksum, wedging every
    // later read with ChecksumException.  Written raw there is no
    // sidecar and the no-overwrite rename is single-file atomic.
    val f = Versioned.logFs(spark, tf)
    f.mkdirs(new org.apache.hadoop.fs.Path(catN))
    // ARBITRATE ON THE CREATE-ONCE MAPPING FILE FIRST: exactly one
    // creator's table map can survive (`create(overwrite = false)` is
    // the same no-overwrite primitive the log renames use), and the pin
    // record is published only FOR the surviving map — two racing
    // creators with different maps can no longer both land pin records
    // (the old pins-first order let catalog v1 and v2 pin tables absent
    // from whichever mapping file won).  A crash between the two halves
    // stays heal-able: re-running create with the same map finds the
    // mapping present and head 0, and publishes the missing pins.
    val mine = tables.map { case (n, r) => n -> norm(r) }
    createLocks.computeIfAbsent(catN, _ => new Object).synchronized {
      if (!f.exists(tf)) {
        val body = mine.toSeq.sortBy(_._1)
          .map { case (n, r) => s""""$n":"$r"""" }.mkString(",")
        val tmp = new org.apache.hadoop.fs.Path(s"$catN/.tables-${java.util.UUID.randomUUID()}")
        val out = f.create(tmp, false)
        try out.write(s"{$body}".getBytes("UTF-8")) finally out.close()
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          tf.toUri, spark.sparkContext.hadoopConfiguration)
        try fc.rename(tmp, tf) // no-overwrite: the loser keeps the winner's map
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => f.delete(tmp, false)
          case e: java.io.IOException => f.delete(tmp, false); throw e
        }
      }
    }
    val won = tablesOf(spark, cat)
    require(won == mine,
      s"catalog $cat already exists with a different table map")
    require(Versioned.currentVersion(spark, catN) == 0,
      s"catalog $cat already exists")
    // initial pins for the WINNING map — and the emptiness check re-runs
    // INSIDE the publish arbitration (per retry against the re-resolved
    // head), so a second creator racing this window aborts instead of
    // stacking a duplicate pin record on v2
    val pins = won.map { case (n, r) => n -> Versioned.currentVersion(spark, r) }
    val v = Versioned.publishRecord(spark, catN,
      head => {
        require(head == 0, s"catalog $cat already exists")
        Record(1, Seq.empty, System.currentTimeMillis(), pins = pins)
      },
      abortIf = head => head >= 1)
      .getOrElse(Versioned.currentVersion(spark, catN))
    // POST-PUBLISH validation: on a raw local FS the no-overwrite rename
    // that arbitrated the mapping file has a microsecond exists-then-
    // rename window, so a racer's map could in principle have replaced
    // ours between the read above and this point.  A pin record naming
    // tables absent from the surviving mapping would be silent
    // corruption; re-reading turns that residue into a loud failure.
    require(tablesOf(spark, cat) == mine,
      s"catalog $cat create raced a different table map; inspect $tf before retrying")
    v
  }

  /** The catalog's table name → root mapping. */
  def tablesOf(spark: SparkSession, cat: String): Map[String, String] = {
    val p = tablesFile(cat)
    val f = Versioned.logFs(spark, p) // raw: the map carries no .crc sidecar
    require(f.exists(p), s"no catalog at $cat")
    val in = f.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    """"([^"]+)":"([^"]+)"""".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  /** The pin map at catalog version `v` (head by default). */
  def pinsAt(spark: SparkSession, cat: String, v: Int = -1): Map[String, Int] = {
    val catN = norm(cat)
    val at = if (v >= 1) v else Versioned.currentVersion(spark, catN)
    val pins = Versioned.record(spark, catN, at).pins
    if (pins.isEmpty)
      throw new IllegalStateException(s"catalog record $at at $cat has no pins")
    pins
  }

  /** Consistent read of member `name`: time travel at the pinned
    * version.  Pin 0 (a member that was empty at create and never
    * committed through the catalog) reads as an empty relation is not
    * expressible without a schema — callers commit through the catalog
    * first. */
  def readTable(spark: SparkSession, cat: String, name: String): DataFrame = {
    val (root, pin) = pinOf(spark, cat, name)
    Versioned.readAt(spark, root, pin)
  }

  /** Member `name`'s (root, pinned version) — the handle every pruned
    * read API composes with: `readRange(root, pin, ...)`,
    * `BloomIndex.readPoint(root, pin, ...)`, `TextIndex.readToken`,
    * `VectorIndex.searchTopk` all accept an explicit version, so the
    * catalog's consistency lens costs nothing in read capability. */
  def pinOf(spark: SparkSession, cat: String, name: String): (String, Int) = {
    val root = tablesOf(spark, cat).getOrElse(name,
      throw new IllegalArgumentException(s"catalog $cat has no table '$name'"))
    val pin = pinsAt(spark, cat).getOrElse(name,
      throw new IllegalStateException(s"catalog $cat pins no version for '$name'"))
    require(pin >= 1, s"table '$name' has no catalog-visible version yet")
    (root, pin)
  }

  /** CROSS-TABLE time travel: member `name` as pinned by catalog
    * version `catV` — "the data AND its MV exactly as transaction N
    * left them", which per-table `AS OF` cannot express (the tables'
    * own version numbers advance independently, orphans included).
    * Subject to member retention: vacuum members with [[vacuumMember]]
    * or keep windows covering the catalog history you query. */
  def readTableAt(spark: SparkSession, cat: String, name: String,
      catV: Int): DataFrame = {
    val root = tablesOf(spark, cat).getOrElse(name,
      throw new IllegalArgumentException(s"catalog $cat has no table '$name'"))
    val pin = pinsAt(spark, cat, catV).getOrElse(name,
      throw new IllegalStateException(
        s"catalog $cat v$catV pins no version for '$name'"))
    require(pin >= 1, s"table '$name' had no catalog-visible version at catalog v$catV")
    Versioned.readAt(spark, root, pin)
  }

  /** Catalog-wide maintenance: run [[Versioned.maintain]] over every
    * member table — the operator's one scheduled sweep for a whole
    * catalog (each member's routed policies are None-at-zero-data-I/O
    * when healthy, so this is safe after every transaction).  Member
    * maintenance rewrites are ordinary table commits: they stay
    * INVISIBLE to catalog readers until a transaction re-pins, exactly
    * like any out-of-band member commit — reads through the catalog
    * keep their pinned versions.  Knobs left UNSET resolve per member
    * through each table's declared policy
    * ([[Versioned.commitDeclarePolicy]]) — ONE parameterless sweep
    * heals heterogeneous members each under its own thresholds;
    * explicit arguments here override every member alike.  Returns
    * name → new version for the members that needed work (empty = the
    * whole catalog was healthy). */
  def maintainMembers(spark: SparkSession, cat: String,
      smallRows: Long = -1L, targetRows: Long = -1L,
      maxDvFraction: Double = -1.0): Map[String, Int] =
    tablesOf(spark, cat).flatMap { case (n, r) =>
      Versioned.maintain(spark, r, smallRows, targetRows,
        maxDvFraction = maxDvFraction).map(n -> _)
    }

  /** The catalog's transaction history: (catalog version, pin map),
    * newest first — each row is one atomic cross-table state. */
  def history(spark: SparkSession, cat: String): Seq[(Int, Map[String, Int])] = {
    val catN = norm(cat)
    val head = Versioned.currentVersion(spark, catN)
    (head to 1 by -1).map(v => v -> pinsAt(spark, catN, v))
  }

  /** Vacuum member `name` with retention FLOORED at its catalog pin —
    * the pin-safe sweep.  `Versioned.vacuum(keep = N)` counts back from
    * the member's own head, which may have advanced past the catalog's
    * pin (orphaned txn halves, out-of-band commits); sweeping past the
    * pin would break every catalog reader exactly like vacuuming a
    * shallow-cloned version breaks the clone.  This wrapper widens
    * `keep` so the pinned version always survives.  (Members also
    * written OUTSIDE this catalog inherit the clone-style retention
    * contract: keep sources within pin lifetimes.) */
  def vacuumMember(spark: SparkSession, cat: String, name: String, keep: Int,
      graceMs: Long = Versioned.VacuumGraceMs): Unit = {
    val (root, pin) = pinOf(spark, cat, name)
    // the cap (not a keep-count) makes this race-proof: however far the
    // head advances before vacuum re-resolves it, the retention floor
    // can never pass the pin
    Versioned.vacuum(spark, root, keep, floorCap = pin, graceMs = graceMs)
  }

  /** ONE atomic transaction: run each member's table-level commit (the
    * supplied function returns the member's NEW version), then publish a
    * single catalog record pinning them all.  The catalog record is the
    * commit point — until it lands, catalog readers stay on the previous
    * consistent pin set, whatever the member logs already show.
    *
    * The pin closure re-runs against the resolved catalog head on every
    * arbitration retry, so independent transactions on other tables
    * compose; if ANOTHER transaction pinned one of OUR tables past the
    * version we just produced (same-table race lost at the member log),
    * this transaction aborts with [[TxnConflict]] rather than pinning a
    * stale version backwards. */
  final class TxnConflict(msg: String) extends RuntimeException(msg)

  def commitAtomic(spark: SparkSession, cat: String,
      work: Seq[(String, SparkSession => Int)]): Int = {
    val catN = norm(cat)
    val known = tablesOf(spark, catN)
    work.foreach { case (n, _) => require(known.contains(n),
      s"catalog $cat has no table '$n'") }
    require(work.map(_._1).distinct.size == work.size,
      "one commit per member table per transaction")
    // member commits run IN THE GIVEN ORDER (a Seq, deliberately not a
    // Map — immutable.Map iteration order is unspecified past 4 entries,
    // and the canonical data→MV pattern reads the data member's fresh
    // version inside the MV's closure); table-log heads move, the
    // catalog view does not
    val fresh: Map[String, Int] = work.map { case (n, fn) => n -> fn(spark) }.toMap
    Versioned.publishRecord(spark, catN, head => {
      val prev = pinsAt(spark, catN, head)
      fresh.foreach { case (n, v) =>
        if (prev.getOrElse(n, 0) >= v)
          throw new TxnConflict(
            s"another transaction already pinned '$n' at ${prev(n)} >= $v")
      }
      Record(head + 1, Seq.empty, System.currentTimeMillis(), pins = prev ++ fresh)
    }).get
  }

  /** Judged query: the data+MV transaction under a TORN write.  A
    * documents table and its by-lang count MV advance through two
    * atomic transactions; then a third writer commits a slice to the
    * DATA table only and dies before the catalog fence (injected crash).
    * Catalog readers must still see a CONSISTENT pair — the in-query
    * assertion recomputes the counts from the pinned data read and
    * requires them equal to the pinned MV — and the torn slice is
    * invisible.  Oracle = the by-lang counts of the two FENCED batches
    * only. */
  val tableTxnPair: graft.GraftQuery = graft.GraftQuery("q_table_txn_pair",
    """SELECT lang, count(*) AS n_docs FROM documents
      |WHERE doc_id % 10 < 8 GROUP BY lang""".stripMargin) { (spark, sfDir) =>
    val base = graft.streaming.StreamSink.newRunDir()
    val (cat, rootD, rootM) = (s"$base/cat", s"$base/docs", s"$base/mv")
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"))
    def mvOf(upToV: Int): DataFrame =
      Versioned.readAt(spark, rootD, upToV)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    // txn 1: first batch + its MV, one fence
    val v1 = Versioned.commitAppend(spark, rootD, docs.filter(col("doc_id") % 10 < 4))
    Versioned.commit(spark, rootM, mvOf(v1))
    create(spark, cat, Map("docs" -> rootD, "mv" -> rootM))
    // txn 2 through the catalog
    commitAtomic(spark, cat, Seq(
      "docs" -> (s => Versioned.commitAppend(s, rootD,
        docs.filter(col("doc_id") % 10 >= 4 && col("doc_id") % 10 < 8))),
      "mv" -> (s => Versioned.commit(s, rootM,
        mvOf(Versioned.currentVersion(s, rootD))))))
    // INJECTED CRASH: a third batch lands on the DATA table log but the
    // writer dies before the catalog fence
    Versioned.commitAppend(spark, rootD, docs.filter(col("doc_id") % 10 === 8))
    // catalog readers: still the consistent fenced pair
    val d = readTable(spark, cat, "docs")
    val m = readTable(spark, cat, "mv")
    val recount = d.groupBy(col("lang")).agg(count(lit(1)).as("n2"))
    val torn = m.join(recount, Seq("lang"), "full_outer")
      .filter(coalesce(col("n_docs"), lit(-1L)) =!= coalesce(col("n2"), lit(-2L)))
      .count()
    require(torn == 0, "catalog view must never expose a torn data/MV pair")
    m.select(col("lang"), col("n_docs"))
  }

  val all: Seq[graft.GraftQuery] = Seq(tableTxnPair)
}
