package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** Named BRANCHES on the versioned commit log — git-style refs over the
  * same write-once data dirs.
  *
  * A branch is a zero-copy fork: [[create]] clones the parent's head
  * manifest (absolute refs into the parent's `data/`, no bytes moved)
  * into `root/refs/<name>`, which is itself a full table root — every
  * Versioned operation (append, CoW update, MERGE, MOR delete, OPTIMIZE,
  * schema alters, time travel) works on the branch unchanged, in total
  * isolation from `main`.  [[Versioned.vacuum]] on the parent walks
  * `refs/` (see [[pinnedByRefs]]) so a branch can never have its
  * inherited dirs reclaimed out from under it; vacuum on the branch only
  * sweeps the branch's own `data/`.
  *
  * [[merge]] consumes the branch back into the parent:
  *
  *  - '''fast-forward append''' — when the branch only ADDED data (its
  *    head manifest still carries every fork dir, with unchanged
  *    deletion-vector state and no schema alters of its own), the
  *    branch-local dirs are ADOPTED into the parent's `data/` by O(1)
  *    filesystem renames and appended onto whatever the parent's head is
  *    NOW — concurrent parent commits since the fork compose, exactly
  *    like a plain append.  Zone-map stats, row counts and bloom entries
  *    recorded by the branch carry over without re-measurement; parent
  *    schema alters made SINCE the fork apply to the adopted dirs (they
  *    predate those alters, so they join the alters' null-fill/rename/
  *    drop dir sets).
  *  - '''snapshot merge''' — when the branch rewrote history (updates,
  *    deletes, compaction), its head snapshot replaces the parent's ONLY
  *    if the parent has not advanced past the fork point; otherwise both
  *    sides changed the same rows' ancestry and the merge throws
  *    [[MergeConflict]] (resolve by re-branching and replaying).
  *
  * The 100 TB use: an experiment branch over a petabyte corpus costs one
  * metadata record to open, isolates a risky backfill or re-labelling
  * run from production readers, and lands atomically as ONE parent
  * commit — or is deleted for the cost of its own new files only.
  */
object Branches {

  final class MergeConflict(msg: String) extends RuntimeException(msg)

  private def norm(root: String): String = root.stripSuffix("/")

  private[io] def branchRoot(root: String, name: String): String = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-' || c == '.'),
      s"branch name must be [A-Za-z0-9_.-]+: '$name'")
    s"${norm(root)}/refs/$name"
  }

  private def forkFile(b: String) = new Path(s"$b/fork.json")

  /** Create branch `name` at version `v` of `root` (head by default).
    * Pure metadata: one cloned manifest + a fork pointer. */
  def create(spark: SparkSession, root: String, name: String, v: Int = -1): Int = {
    val b = branchRoot(root, name)
    val at = if (v >= 1) v else Versioned.currentVersion(spark, root)
    require(at >= 1, s"no committed version at $root to branch from")
    val f = Versioned.fs(spark, forkFile(b))
    require(!f.exists(new Path(s"$b/log")), s"branch '$name' already exists at $root")
    // fork pointer FIRST, overwrite=false: exactly one writer ever owns
    // the pointer, so two racing create()s can never pair the surviving
    // clone with the LOSER's pointer (a later snapshot merge keyed on a
    // wrong forkV could replace the parent head and drop post-fork
    // commits).  A pointer with no log is the stub of a CRASHED create;
    // it is deliberately NOT auto-reclaimed here — any reclaim re-opens
    // the pairing race (delete the winner's pointer after its post-check
    // and the branch is silently re-targeted).  `Branches.delete(name)`
    // clears a stub explicitly, and the error below says so.
    if (f.exists(forkFile(b)))
      throw new IllegalStateException(
        s"branch '$name' of $root has a fork pointer but no log — the stub of a " +
          "crashed create; run Branches.delete to clear it, then re-create")
    val out = f.create(forkFile(b), false)
    try out.write(s"""{"srcVersion":$at}""".getBytes("UTF-8")) finally out.close()
    Versioned.cloneAt(spark, root, b, at)
    at
  }

  private def writePointer(spark: SparkSession, b: String, json: String): Unit = {
    val f = Versioned.fs(spark, forkFile(b))
    val out = f.create(forkFile(b), true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  private def forkText(spark: SparkSession, root: String, name: String): String = {
    val p = forkFile(branchRoot(root, name))
    val f = Versioned.fs(spark, p)
    require(f.exists(p), s"branch '$name' of $root has no fork pointer")
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** The parent version branch `name` was forked at (or last rebased
    * onto — see [[rebase]]). */
  def forkVersion(spark: SparkSession, root: String, name: String): Int =
    """"srcVersion":\s*(\d+)""".r.findFirstMatchIn(forkText(spark, root, name))
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(
        s"malformed fork pointer for branch '$name' of $root"))

  /** The BRANCH-log version holding the clean fork snapshot: 1 for a
    * created branch (the cloneAt record), the snapshot record a
    * [[rebase]] published otherwise.  Everything [[merge]] compares
    * against "the fork" reads this version, so rebases compose. */
  private def forkLocalV(spark: SparkSession, root: String, name: String): Int =
    """"forkLocalV":\s*(\d+)""".r.findFirstMatchIn(forkText(spark, root, name))
      .map(_.group(1).toInt).getOrElse(1)

  /** Head read of a branch (plain [[Versioned.readAt]] of its root). */
  def read(spark: SparkSession, root: String, name: String): DataFrame = {
    val b = branchRoot(root, name)
    Versioned.readAt(spark, b, Versioned.currentVersion(spark, b))
  }

  def list(spark: SparkSession, root: String): Seq[String] = {
    val refs = new Path(s"${norm(root)}/refs")
    val f = Versioned.fs(spark, refs)
    if (!f.exists(refs)) Seq.empty
    else f.listStatus(refs).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted
  }

  /** Drop branch `name`: its own data dirs and log, recursively.  The
    * parent is untouched (branch-local files are never referenced by
    * parent manifests until a merge ADOPTS them out of the branch). */
  def delete(spark: SparkSession, root: String, name: String): Unit = {
    val b = new Path(branchRoot(root, name))
    Versioned.fs(spark, b).delete(b, true)
  }

  /** Every parent-relative `data/...` entry some branch (at any depth of
    * refs nesting, any retained version) still references — the pin set
    * the parent's vacuum must not reclaim. */
  private[io] def pinnedByRefs(spark: SparkSession, root: String): Set[String] = {
    val rootN = norm(root)
    val pref = s"$rootN/data/"
    def walk(sub: String): Set[String] = {
      val refs = new Path(s"$sub/refs")
      val f = Versioned.fs(spark, refs)
      if (!f.exists(refs)) Set.empty
      else f.listStatus(refs).filter(_.isDirectory).flatMap { st =>
        // keep the scheme/authority: on s3a://, hdfs:// roots the walk
        // must resolve against the table's own filesystem, and manifest
        // entry strings were written from the user's root spelling
        val b = st.getPath.toString
        val head = Versioned.currentVersion(spark, b)
        val here: Set[String] =
          if (head == 0) Set.empty
          else (Versioned.lowestVersion(spark, b, head) to head).flatMap { v =>
            val r = Versioned.record(spark, b, v)
            r.dirs ++ r.dv.values.flatten
          }.toSet
        here ++ walk(b)
      }.toSet
    }
    walk(rootN).collect {
      case d if d.startsWith(pref) => d.stripPrefix(s"$rootN/")
      // branch-RELATIVE entries (the branch's own data/... dirs) pin the
      // SAME relative name under the parent: during an in-flight merge a
      // branch dir is renamed into the parent's data/ before the parent
      // record publishes, and in that window it appears in no parent
      // manifest — without this pin a concurrent parent vacuum could
      // reclaim it mid-merge.  Pinning a name that does not (yet) exist
      // under the parent costs nothing; dir names are UUIDs, so no
      // legitimate parent dir is ever shadowed.
      case d if !d.startsWith("/") && !d.contains(":/") => d
    }
  }

  /** Merge branch `name` into the parent and CONSUME it.  Fast-forward
    * append when the branch is append-only (see object doc), snapshot
    * replace when the parent is still at the fork point; otherwise
    * throws [[MergeConflict]] and leaves both refs untouched.  Returns
    * the parent's new version. */
  def merge(spark: SparkSession, root: String, name: String): Int = {
    val rootN = norm(root)
    val b = branchRoot(root, name)
    if (forkText(spark, root, name).contains(""""rebasing":"""))
      throw new MergeConflict(
        s"branch '$name' has an interrupted rebase; run Branches.rebase to heal, then merge")
    val forkV = forkVersion(spark, root, name)
    val fl = forkLocalV(spark, root, name)
    val bh = Versioned.currentVersion(spark, b)
    require(bh >= fl, s"branch '$name' of $root has no committed version")
    val bRec = Versioned.record(spark, b, bh)
    val forkRec = Versioned.record(spark, b, fl)
    val bDirs = bRec.dirs
    val forkDirs = forkRec.dirs.toSet

    // a branch dir is parent-inherited iff its manifest entry is an
    // absolute path into the parent's data/ (how cloneAt records them)
    val pref = s"$rootN/data/"
    def r(d: String): String = if (d.startsWith(pref)) d.stripPrefix(s"$rootN/") else d
    val newDirs = bDirs.filterNot(forkDirs.contains)
    // absolute dirs beyond the fork snapshot mean the head references a
    // parent version the pointer does not name — the signature of an
    // INTERRUPTED rebase (crash before its pointer write); rebase()
    // detects and heals exactly this state
    if (!newDirs.forall(d => !d.startsWith("/") && !d.contains(":/")))
      throw new MergeConflict(
        s"branch '$name' carries parent-absolute dirs beyond its fork snapshot " +
          "(an interrupted rebase); run Branches.rebase to heal, then merge")

    val bDv = bRec.dv
    val forkEvents = forkRec.alters.map(e => (e._1, e._2))
    // alters compare by EVENT KEYS (did the branch add its own schema
    // events?), not by full dir lists: a rebase legitimately extends
    // post-fork events' dir sets with the branch's own dirs
    val appendOnly =
      forkDirs.subsetOf(bDirs.toSet) &&
        forkDirs.forall(d => bDv.get(d) == forkRec.dv.get(d)) &&
        bRec.alters.map(e => (e._1, e._2)) == forkEvents

    // deletion-vector sidecars address rows by ABSOLUTE file path, so
    // they cannot ride the rename: each branch-local sidecar is REWRITTEN
    // under the parent with its `_dvf` paths remapped from the branch's
    // data/ to the parent's (O(deleted rows) — the sidecar is tiny by
    // construction; the data dirs themselves still move by O(1) rename)
    val carryDv: Map[String, Seq[String]] =
      if (appendOnly) bDv.filter { case (d, _) => newDirs.contains(d) } else bDv
    val sidecars = carryDv.values.flatten.toSeq.distinct
      .filter(s => !s.startsWith("/") && !s.contains(":/"))
    val sideMap: Map[String, String] = sidecars.map { s =>
      val out = s"data/${java.util.UUID.randomUUID()}"
      val pat = java.util.regex.Pattern.quote(s"/refs/$name/data/")
      spark.read.parquet(s"$b/$s")
        .withColumn("_dvf", regexp_replace(col("_dvf"), pat, "/data/"))
        .write.mode("errorifexists").parquet(s"$rootN/$out")
      s -> out
    }.toMap
    def rs(d: String): String = sideMap.getOrElse(d, r(d))

    val f = Versioned.fs(spark, new Path(rootN))
    f.mkdirs(new Path(s"$rootN/data"))
    def moveAll(): Unit = newDirs.foreach { rel =>
      val from = new Path(s"$b/$rel"); val to = new Path(s"$rootN/$rel")
      require(!f.exists(to), s"merge target collision at $to")
      require(f.rename(from, to), s"could not adopt $from into $rootN")
    }
    def moveBack(): Unit = {
      // safe under PARTIAL (or zero) adoption: only un-move what moved
      newDirs.foreach { rel =>
        val adopted = new Path(s"$rootN/$rel")
        if (f.exists(adopted) && !f.exists(new Path(s"$b/$rel")))
          f.rename(adopted, new Path(s"$b/$rel"))
      }
      sideMap.values.foreach(s => f.delete(new Path(s"$rootN/$s"), true))
    }

    val merged: Int =
      try {
      if (appendOnly) {
        moveAll()
        val bStats = bRec.stats.filter { case (d, _) => newDirs.contains(d) }
        val bRows = bRec.rows.getOrElse(Map.empty[String, Long])
          .filter { case (d, _) => newDirs.contains(d) }
        val dvAdd: Map[String, (Seq[String], Long)] =
          carryDv.map { case (d, sides) =>
            d -> (sides.map(rs), bRec.dvRows.getOrElse(d, 0L)) }
        Versioned.publishRecord(spark, rootN, head => {
          val mh = Versioned.record(spark, rootN, head)
          val pre = if (mh.statsCol.isDefined && mh.statsCol == bRec.statsCol) bStats
            else Map.empty[String, (Long, Long)]
          val blooms = mh.bloomCol match {
            case Some((c, m)) if bRec.bloomCol.contains((c, m)) =>
              Some((c, m, bRec.bloom.filter { case (d, _) => newDirs.contains(d) }))
            case _ => None
          }
          // adopted dirs predate every parent alter made SINCE the fork:
          // they join those events' dir sets (events are append-only, so
          // the fork's events are a prefix of the parent's)
          Versioned.extraFields(spark, rootN, mh, mh.dirs ++ newDirs, None,
            pre, Some(adoptedAlters(rootN, name, mh.alters, forkEvents, newDirs)),
            bRows, blooms, dvAdd)
        }).get
      } else {
        // snapshot merge: the branch head replaces the parent wholesale,
        // legal only while the parent still sits at the fork point
        if (Versioned.currentVersion(spark, rootN) != forkV)
          throw new MergeConflict(
            s"branch '$name' rewrote history and parent $rootN advanced past fork v$forkV")
        moveAll()
        // ONE replay with every snapshot path (restore, clone): stats,
        // rows, sums, blooms, alters, checks, dv all carry remapped
        val carried = bRec.replayed(r, rs).copy(ts = math.max(
          System.currentTimeMillis(), Versioned.tsOf(spark, rootN, forkV)))
        Versioned.publishRecord(spark, rootN, _ => carried,
          abortIf = head => head != forkV) match {
          case Some(v) => v
          case None =>
            throw new MergeConflict(
              s"parent $rootN advanced past fork v$forkV while merging '$name'")
        }
      }
      } catch {
        // ANY failure mid-merge — a conflict, an IO error, publish
        // contention exhaustion — un-adopts the renamed dirs and reclaims
        // the remapped sidecars, leaving both refs intact: the documented
        // contract of a refused merge.  moveBack is safe under partial
        // adoption (renames of un-moved dirs fail silently).
        case e: Throwable => moveBack(); throw e
      }
    // the merge CONSUMES the branch; a commit that raced the merge onto
    // the branch would reference adopted (moved) dirs, so refuse to
    // destroy it silently — the caller re-branches and replays
    if (Versioned.currentVersion(spark, b) == bh) delete(spark, root, name)
    else throw new IllegalStateException(
      s"branch '$name' advanced during its merge; merged through v$bh, branch left in place (now broken) for manual salvage")
    merged
  }

  /** The parent's schema events `mainEvents` with the `adopted` branch
    * dirs joined to every event made since the fork (they predate those
    * events); the fork's events must still be a prefix of the parent's. */
  private def adoptedAlters(rootN: String, name: String,
      mainEvents: Seq[Record.Alter], forkEvents: Seq[(String, String)],
      adopted: Seq[String]): Seq[Record.Alter] = {
    if (mainEvents.take(forkEvents.size).map(e => (e._1, e._2)) != forkEvents)
      throw new MergeConflict(
        s"parent $rootN rewrote schema history since the fork of '$name'")
    mainEvents.zipWithIndex.map { case ((c, t, ds), i) =>
      (c, t, (if (i < forkEvents.size) ds else ds ++ adopted).distinct.sorted) }
  }

  /** REBASE branch `name` onto the parent's CURRENT head — the way out
    * of the [[MergeConflict]] a moved main forces on history-rewriting
    * merges, without abandoning the branch's work.  Git semantics: the
    * branch's post-fork commits are REPLAYED on top of main@head, and
    * the fork pointer moves there, so a snapshot merge (main unmoved
    * since the rebase) or a fast-forward (append-only delta) then
    * lands.
    *
    * What replays: '''appends''' (the branch's own dirs ride over —
    * zero data movement, their stats/rows/bloom entries carry verbatim)
    * and '''MOR deletes''' (the branch's positional sidecars re-attach
    * to the inherited dirs — legal because positions address absolute
    * file paths, verified unchanged).  What conflicts (throws
    * [[MergeConflict]], both refs untouched): the branch rewrote or
    * re-altered fork history (a CoW update/compaction/schema event of
    * its own — positions and dir identities can't replay over a moved
    * base), main rewrote or re-vectored a dir the branch deleted from,
    * or main rewrote its schema-event history.
    *
    * Mechanics: the fork pointer FIRST gains a `rebasing` intent
    * recording the pre-rebase head, then two branch-log publishes land —
    * a clean fork snapshot of main@head (exactly the
    * [[Versioned.cloneAt]] record, becoming the new `forkLocalV` every
    * later merge compares against) and the snapshot-plus-delta head —
    * and the final pointer write CLEARS the intent (the rebase's commit
    * point).  A crash anywhere in between loses nothing: [[merge]]
    * refuses a branch with a live intent, and the next rebase reads the
    * intent's `preHead` and restarts from the real pre-rebase state,
    * superseding any orphaned publishes.  Cost is O(branch delta +
    * manifests): no data dir moves or rewrites. */
  def rebase(spark: SparkSession, root: String, name: String): Int = {
    val rootN = norm(root)
    val b = branchRoot(root, name)
    val forkV = forkVersion(spark, root, name)
    val fl = forkLocalV(spark, root, name)
    val bh0 = Versioned.currentVersion(spark, b)
    require(bh0 >= fl, s"branch '$name' of $root has no committed version")
    val head = Versioned.currentVersion(spark, rootN)
    // INTERRUPTED-REBASE HEALING, intent-based: before publishing
    // anything, rebase stamps the pointer with `"rebasing":{...,
    // "preHead":N}` — the branch's real pre-rebase head.  A crash at ANY
    // later point (between the two publishes, or before the final
    // pointer) leaves that intent in place; the next rebase reads it and
    // simply restarts from preHead, treating every later version as a
    // superseded artifact.  No guessing from manifest shapes — the
    // intent IS the recovery record.
    val preHeadOpt = """"preHead":(\d+)""".r
      .findFirstMatchIn(forkText(spark, root, name)).map(_.group(1).toInt)
    val bh = preHeadOpt match {
      case Some(p) =>
        require(p >= fl && p <= bh0,
          s"corrupt rebase intent on branch '$name' (preHead $p outside [$fl,$bh0])")
        // SUPERSEDE ONLY THE REBASE'S OWN ARTIFACTS: every version past
        // preHead must carry the `rebaseSnap` stamp the two rebase
        // publishes write.  An ORDINARY branch commit that landed while
        // the intent was live (racing the crashed rebase, or made after
        // the crash) is legitimate work — restarting from preHead would
        // silently exclude it from the replay and the following merge
        // would consume the branch, losing it permanently.  Refuse
        // loudly instead: the operator folds the stray commit back
        // (re-commit it on a fresh branch) or deletes it deliberately.
        ((p + 1) to bh0).foreach { v =>
          if (!Versioned.record(spark, b, v).rebaseSnap)
            throw new IllegalStateException(
              s"branch '$name' carries a non-rebase commit (v$v) made while a " +
                s"rebase intent was live; healing would drop it — salvage v$v " +
                s"manually before rebasing again")
        }
        p
      case None => bh0
    }
    if (head == forkV && preHeadOpt.isEmpty) return bh0 // already on main's head
    val forkRec = Versioned.record(spark, b, fl)
    val bRec = Versioned.record(spark, b, bh)
    val forkDirs = forkRec.dirs
    val forkSet = forkDirs.toSet
    val bDirs = bRec.dirs
    if (!forkSet.subsetOf(bDirs.toSet))
      throw new MergeConflict(
        s"branch '$name' rewrote fork history; rebase replays appends and MOR deletes only")
    val forkKeys = forkRec.alters.map(e => (e._1, e._2))
    if (bRec.alters.map(e => (e._1, e._2)) != forkKeys)
      throw new MergeConflict(
        s"branch '$name' added schema events of its own; rebase cannot replay alters")
    val added = bDirs.filterNot(forkSet)
    require(added.forall(d => !d.startsWith("/") && !d.contains(":/")),
      s"branch '$name' carries foreign absolute dirs; rebase cannot adopt them")

    val bDv = bRec.dv
    val bDvRows = bRec.dvRows
    val mRec = Versioned.record(spark, rootN, head)
    val mDirs = mRec.dirs
    val mSet = mDirs.toSet
    val dvAtFork = Versioned.dvOf(spark, rootN, forkV)
    def relOf(d: String) = d.stripPrefix(s"$rootN/")
    // the branch's vector SUFFIX per inherited dir (vectors accumulate
    // append-only until a rewrite, which the subset check excluded)
    val deltas: Map[String, (Seq[String], Long)] = forkDirs.flatMap { d =>
      val pre = forkRec.dv.getOrElse(d, Seq.empty)
      val post = bDv.getOrElse(d, Seq.empty)
      if (post.size <= pre.size) None
      else {
        val relD = relOf(d)
        if (!mSet.contains(relD))
          throw new MergeConflict(s"main rewrote $relD since the fork and branch " +
            s"'$name' deleted from it; positional vectors cannot replay")
        if (mRec.dv.get(relD) != dvAtFork.get(relD))
          throw new MergeConflict(s"main changed deletion vectors on $relD since " +
            s"the fork; branch '$name' deltas would double-count")
        Some(d -> (post.drop(pre.size),
          bDvRows.getOrElse(d, 0L) - forkRec.dvRows.getOrElse(d, 0L)))
      }
    }.toMap

    // INTENT first: any crash from here on is healed by the next rebase
    // restarting from preHead (see the healing block above); the old
    // srcVersion/forkLocalV ride along so the retry sees the same fork
    val prevPointer = forkText(spark, root, name)
    writePointer(spark, b,
      s"""{"srcVersion":$forkV,"forkLocalV":$fl,"rebasing":{"src":$head,"preHead":$bh}}""")

    // publish 1: the clean fork snapshot of main@head — the cloneAt
    // record, on the branch's own log.  Both rebase publishes are
    // stamped `"rebaseSnap":true` so the heal path can tell the rebase's
    // own superseded artifacts from a legitimate branch commit that
    // raced the intent (see the healing block above).
    //
    // A CLEAN IN-PROCESS FAILURE before anything was published (the
    // h != bh0 guard firing on a racing branch commit, an IO error
    // writing the record) must NOT leave the intent behind: the prior
    // pointer state is known and nothing is on the log, so restore it —
    // intent-based healing is reserved for real crashes, where the
    // process died and no cleanup could run.  Once publish 1 has landed
    // the intent MUST stay on failure: the snapshot record is already on
    // the branch log, and only the heal path knows to supersede it.
    val abs: String => String = d => Versioned.dataPath(rootN, d)
    val snap = mRec.replayed(abs, abs).copy(ts = math.max(
      System.currentTimeMillis(), Versioned.tsOf(spark, b, bh0)), rebaseSnap = true)
    val vf =
      try Versioned.publishRecord(spark, b,
        h => {
          if (h != bh0) throw new MergeConflict(
            s"branch '$name' advanced during its rebase")
          snap
        }).get
      catch { case e: Throwable =>
        try writePointer(spark, b, prevPointer)
        catch { case r: Throwable => e.addSuppressed(r) }
        throw e
      }

    val merged: Int =
      if (added.isEmpty && deltas.isEmpty) vf
      else {
        // publish 2: snapshot + the branch's replayed delta.  Added dirs
        // carry their recorded stats/rows/blooms; they also join main's
        // post-fork schema events' dir sets (they predate those events).
        val bStats = bRec.stats.filter { case (d, _) => added.contains(d) }
        val bRows = bRec.rows.getOrElse(Map.empty[String, Long])
          .filter { case (d, _) => added.contains(d) }
        // vf's record IS the snapshot just published
        val alters = adoptedAlters(rootN, name, snap.alters, forkKeys, added)
        val bloomArg = snap.bloomCol match {
          case Some((c, m)) if bRec.bloomCol.contains((c, m)) =>
            val e = bRec.bloom.filter { case (d, _) => added.contains(d) }
            if (e.isEmpty) None else Some((c, m, e))
          case _ => None
        }
        val dvAdd: Map[String, (Seq[String], Long)] = deltas ++
          added.flatMap(d => bDv.get(d).map(s => d -> (s, bDvRows.getOrElse(d, 0L))))
        val snapAbs = mDirs.map(abs)
        Versioned.publishRecord(spark, b,
          h => {
            // h == vf in the quiet case.  h > vf means an ordinary
            // branch commit landed BETWEEN the two rebase publishes — it
            // read vf's manifest (the clean snapshot) as its parent, so
            // appending the replayed delta to ITS manifest folds it in
            // instead of wedging the branch: an append race costs
            // nothing.  Only a mid-rebase REWRITE of snapshot dirs
            // (which would orphan the delta's DV targets) still
            // conflicts — the intent stays and the heal path surfaces it.
            val base = Versioned.record(spark, b, h)
            if (!snapAbs.forall(base.dirs.contains)) throw new MergeConflict(
              s"branch '$name' rewrote the rebase snapshot mid-rebase; " +
                "positional deltas cannot replay")
            Versioned.extraFields(spark, b, base,
              base.dirs ++ added.filterNot(base.dirs.toSet), None,
              bStats, Some(alters), bRows, bloomArg, dvAdd).copy(rebaseSnap = true)
          }).get
      }
    // final pointer LAST: clearing the rebasing intent is the rebase's
    // commit point — until it lands, merge refuses and rebase heals
    writePointer(spark, b, s"""{"srcVersion":$head,"forkLocalV":$vf}""")
    merged
  }

  /** Judged query: the branch lifecycle end-to-end.  Main ingests 60% of
    * the corpus clustered by doc_id; an experiment branch forks head,
    * ingests its own 20% slice (clustered, zone-map stats recorded by
    * the BRANCH commit); meanwhile main advances with another 10%.  The
    * merge fast-forwards: branch dirs are adopted by rename — no data
    * rewritten — landing as one atomic parent commit on top of main's
    * concurrent append, with the branch's zone-map stats and row counts
    * carried (asserted: countAt answers from metadata).  Isolation is
    * asserted pre-merge (main's head count unchanged by branch commits);
    * the branch is consumed.  Output = merged head; oracle = the three
    * slices' union. */
  val tableBranchMerge: graft.GraftQuery = graft.GraftQuery("q_table_branch_merge",
    """SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 10 <> 8""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val v1 = Versioned.commitAppendClustered(spark, root,
      docs.filter(col("doc_id") % 10 < 6), "doc_id", buckets = 8)
    create(spark, root, "exp", v1)
    val bRoot = branchRoot(root, "exp")
    Versioned.commitAppendClustered(spark, bRoot,
      docs.filter(col("doc_id") % 10 === 6 || col("doc_id") % 10 === 7),
      "doc_id", buckets = 4)
    // main advances concurrently with the branch's work
    Versioned.commitAppend(spark, root, docs.filter(col("doc_id") % 10 === 9))
    val mainBefore = Versioned.countAt(spark, root, Versioned.currentVersion(spark, root))
    val vm = merge(spark, root, "exp")
    require(list(spark, root).isEmpty, "the merge must consume the branch")
    val nAfter = Versioned.countAt(spark, root, vm)
    require(nAfter > mainBefore, "the merge must add the branch's rows")
    Versioned.readAt(spark, root, vm)
  }

  /** Judged query: the SNAPSHOT-merge path — the branch rewrites
    * history (a CoW window update) while main stands still, so the
    * merge replaces main's head with the branch snapshot; isolation is
    * asserted pre-merge.  Oracle = the update by expression. */
  val tableBranchRewrite: graft.GraftQuery = graft.GraftQuery("q_table_branch_rewrite",
    """SELECT doc_id, lang,
      |       CASE WHEN doc_id BETWEEN 100 AND 299
      |            THEN n_chars + 5000 ELSE n_chars END AS n_chars
      |FROM documents""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val v1 = Versioned.commitAppendClustered(spark, root, docs, "doc_id", buckets = 8)
    create(spark, root, "fix", v1)
    val bRoot = branchRoot(root, "fix")
    Versioned.commitUpdate(spark, bRoot, col("doc_id").between(100, 299),
      df => df.withColumn("n_chars",
        when(col("doc_id").between(100, 299), col("n_chars") + 5000)
          .otherwise(col("n_chars"))))
    // main untouched while the branch rewrote
    require(Versioned.countAt(spark, root, Versioned.currentVersion(spark, root))
      == Versioned.countAt(spark, root, v1), "main must stand still")
    val vm = merge(spark, root, "fix")
    require(list(spark, root).isEmpty, "the merge must consume the branch")
    Versioned.readAt(spark, root, vm)
  }

  /** Judged query: the REBASE workflow — the case both merge paths
    * refuse.  Main ingests 60% clustered; a branch appends its 10% slice
    * AND MOR-deletes a doc_id window from the rows it sees; meanwhile
    * main advances with another 10%.  The direct merge must conflict
    * (the branch changed inherited vector state, and main moved past
    * the fork); [[rebase]] replays the branch's append + delete deltas
    * onto main's head, after which the merge lands atomically.  Rows of
    * main's concurrent slice inside the deleted window survive — the
    * branch never saw them, and positional vectors delete exactly what
    * was seen (keyed CDC semantics would not).  Oracle = the expression
    * recompute of that composition. */
  val tableBranchRebase: graft.GraftQuery = graft.GraftQuery("q_table_branch_rebase",
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE (doc_id % 10 <= 6 AND doc_id NOT BETWEEN 100 AND 199)
      |   OR doc_id % 10 = 9""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val v1 = Versioned.commitAppendClustered(spark, root,
      docs.filter(col("doc_id") % 10 < 6), "doc_id", buckets = 8)
    create(spark, root, "exp", v1)
    val bRoot = branchRoot(root, "exp")
    Versioned.commitAppend(spark, bRoot, docs.filter(col("doc_id") % 10 === 6))
    Versioned.commitDeleteMOR(spark, bRoot, col("doc_id").between(100, 199))
    // main advances concurrently: the fork is stale on both sides
    Versioned.commitAppend(spark, root, docs.filter(col("doc_id") % 10 === 9))
    val conflicted =
      try { merge(spark, root, "exp"); false } catch { case _: MergeConflict => true }
    require(conflicted, "a diverged vector-changing branch must refuse the direct merge")
    val forkBefore = forkVersion(spark, root, "exp")
    rebase(spark, root, "exp")
    require(forkVersion(spark, root, "exp") > forkBefore,
      "the rebase must advance the fork pointer to main's head")
    val vm = merge(spark, root, "exp")
    require(list(spark, root).isEmpty, "the merge must consume the branch")
    Versioned.readAt(spark, root, vm)
  }

  val all: Seq[graft.GraftQuery] =
    Seq(tableBranchMerge, tableBranchRewrite, tableBranchRebase)
}
