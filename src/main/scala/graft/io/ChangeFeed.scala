package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Keyed change data feed over the [[Versioned]] commit log: the CDC
  * relation `va → vb` with `_change_type ∈ {insert, delete,
  * update_preimage, update_postimage}` — what a downstream consumer
  * (an index, an MV, a replica, a feature store) subscribes to instead
  * of re-diffing snapshots itself.
  *
  * Derivation: [[Versioned.diff]] yields the row-level multiset delta,
  * MANIFEST-PRUNED — dirs shared by both manifests cancel without being
  * read, so a day-2 append/merge/delete chain feeds the CDC from the
  * touched dirs only, never a table scan.  The delta's two sides are
  * then aligned on `key` with ONE full-outer join: a key present only
  * in the new side is an insert, only in the old side a delete, and in
  * both an update emitting its pre- and post-image (rows whose payload
  * did not change cancelled inside the diff and emit nothing).  Keys
  * must be unique per snapshot and non-null — the same contract a keyed
  * [[Versioned.commitMerge]] table already lives under; a key-changing
  * rewrite surfaces as delete + insert, the standard CDC convention. */
object ChangeFeed {

  /** The change rows `va → vb`, schema = table columns + `_change_type`. */
  def changes(spark: SparkSession, root: String, va: Int, vb: Int,
      key: String): DataFrame =
    changesKeys(spark, root, va, vb, Seq(key))

  /** [[changes]] on a COMPOSITE key: a row is the same logical entity
    * when EVERY column in `keys` matches — the natural-key shape
    * [[Versioned.commitMergeKeys]] serves on the write side, now
    * symmetric on the CDC side (no concat workarounds).  Single-key
    * calls delegate here; every feed/apply/follow entry point has a
    * `*Keys` twin built on this. */
  def changesKeys(spark: SparkSession, root: String, va: Int, vb: Int,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty && keys.distinct == keys, s"bad CDC keys $keys")
    // BOOTSTRAP FAST PATH: a diff from the canonical empty v0 has a
    // structurally EMPTY removed side, so under the CDC unique-key
    // contract every row is an INSERT — the keyed full-outer alignment
    // (a shuffle of the WHOLE BASE on the initial sync, the biggest
    // batch a consumer ever sees) is the identity and is skipped.
    if (va == 0) oneSided(Versioned.diff(spark, root, va, vb), keys, "insert")
    else align(Versioned.diff(spark, root, va, vb), keys)
  }

  /** The alignment of a diff whose OTHER side is structurally empty:
    * every surviving row carries the one possible change type — same
    * columns, same rows as [[align]] (keys unique per snapshot, so a
    * one-sided key is exactly one insert/delete), no join. */
  private def oneSided(d: DataFrame, keys: Seq[String], t: String): DataFrame = {
    val op = if (t == "insert") "added" else "removed"
    val payload = d.columns.filterNot(c => c == "op" || keys.contains(c))
    d.filter(col("op") === op)
      .select(keys.map(col) ++ payload.map(col): _*)
      .withColumn("_change_type", lit(t))
  }

  /** Keyed alignment of a row-level diff (`op` ∈ {added, removed})
    * into CDC change rows — the shared tail of [[changes]] and the
    * row-capped chunk feeds.  Composite keys join conjunctively. */
  private def align(d: DataFrame, keys: Seq[String]): DataFrame = {
    val payload = d.columns.filterNot(c => c == "op" || keys.contains(c))
    def side(op: String) = d.filter(col("op") === op)
      .select(keys.map(col) :+ struct(payload.map(col): _*).as(s"_$op"): _*)
    val j = side("removed").join(side("added"), keys, "full_outer")
    // each joined key explodes into its 1-or-2 change rows
    val tagged = j.select(keys.map(col) :+ explode(
      when(col("_removed").isNull, array(struct(col("_added").as("img"), lit("insert").as("t"))))
        .when(col("_added").isNull, array(struct(col("_removed").as("img"), lit("delete").as("t"))))
        .otherwise(array(
          struct(col("_removed").as("img"), lit("update_preimage").as("t")),
          struct(col("_added").as("img"), lit("update_postimage").as("t"))))).as("ch"): _*)
    payload.foldLeft(tagged)((df, c) => df.withColumn(c, col(s"ch.img.$c")))
      .withColumn("_change_type", col("ch.t"))
      .drop("ch")
  }

  /** The change rows `va → vb` PER COMMIT: the union of each
    * single-version feed `changes(v-1, v)` stamped with its commit
    * provenance — `_commit_version` (the version that produced the
    * change) and `_commit_timestamp` (that record's monotone commit
    * wall clock, TIMESTAMP-typed — the upstream change-data-feed
    * convention, so ported pipelines see the type they expect) — the
    * Delta-CDF provenance columns.  Unlike [[changes]] (the NET jump,
    * where a row inserted then deleted inside the window cancels —
    * what replication wants), the per-commit relation preserves
    * intra-window history, so a consumer can attribute every change to
    * its commit and window changes by time.  Cost: one manifest-pruned
    * diff per version — a day's jump reads each commit's touched dirs
    * once, never a table scan; the per-version records are already in
    * the log, so the stamps are metadata-only.
    *
    * A window SPANNING a schema-evolution commit yields per-step feeds
    * under differing schemas (each step reads under its own newer-side
    * schema): every feed is projected to the HEAD (`vb`) column set
    * before the union — renames map forward in commit order (pre-rename
    * steps carry their values under the new name), columns `vb` added
    * are null-filled, columns `vb` dropped are projected out.  Without
    * the projection the strict union would throw on the first evolved
    * window. */
  def changesByCommit(spark: SparkSession, root: String, va: Int, vb: Int,
      key: String): DataFrame =
    changesByCommitKeys(spark, root, va, vb, Seq(key))

  /** [[changesByCommit]] on a composite key. */
  def changesByCommitKeys(spark: SparkSession, root: String, va: Int,
      vb: Int, keys: Seq[String]): DataFrame = {
    require(va < vb, s"changesByCommit needs va < vb, got $va >= $vb")
    val steps = (va + 1 to vb).map { v =>
      changesKeys(spark, root, v - 1, v, keys)
        .withColumn("_commit_version", lit(v))
        .withColumn("_commit_timestamp",
          timestamp_millis(lit(Versioned.tsOf(spark, root, v))))
    }
    val target = steps.last.schema
    val renames = Versioned.renameEventsOf(spark, root, vb)
    steps.map { f =>
      val renamed = renames.foldLeft(f) { case (df, (o, n)) =>
        if (df.columns.contains(o) && !df.columns.contains(n))
          df.withColumnRenamed(o, n) else df }
      val filled = target.fields.foldLeft(renamed)((df, fld) =>
        if (df.columns.contains(fld.name)) df
        else df.withColumn(fld.name, lit(null).cast(fld.dataType)))
      filled.select(target.fieldNames.toSeq.map(col): _*)
    }.reduce(_ unionByName _)
  }

  /** Apply a change feed to a keyed REPLICA table: one CoW commit that
    * evicts every delete/update key and lands the insert + post-image
    * rows as the new dir (pre-images are ignored — they exist for
    * consumers that need the old value, not for replay).  Applying
    * `changes(va, vb)` to a replica holding snapshot `va` lands it
    * bit-exactly on snapshot `vb` — CDC replication, the consume side
    * of the feed; on a key-clustered replica the eviction is zone-map
    * confined exactly like a MERGE.  At 100 TB the feed is day-2
    * sized, so replication cost is O(changed dirs), never O(table). */
  def applyChanges(spark: SparkSession, root: String, ch: DataFrame,
      key: String): Int =
    applyImpl(spark, root, ch, Seq(key), batchId = None).get

  /** [[applyChanges]] on a composite key. */
  def applyChangesKeys(spark: SparkSession, root: String, ch: DataFrame,
      keys: Seq[String]): Int =
    applyImpl(spark, root, ch, keys, batchId = None).get

  /** [[applyChanges]] with the batchId FENCE: the exactly-once CDC
    * apply for [[nextBatch]] consumers whose downstream state is itself
    * a keyed table — delete rows evict without reinsertion, post-images
    * upsert, and fence + visibility share one manifest rename.  None
    * when the fence voids a replay. */
  def applyChangesBatch(spark: SparkSession, root: String, ch: DataFrame,
      key: String, batchId: Long): Option[Int] =
    applyImpl(spark, root, ch, Seq(key), batchId = Some(batchId))

  /** [[applyChangesBatch]] on a composite key. */
  def applyChangesBatchKeys(spark: SparkSession, root: String, ch: DataFrame,
      keys: Seq[String], batchId: Long): Option[Int] =
    applyImpl(spark, root, ch, keys, batchId = Some(batchId))

  private def applyImpl(spark: SparkSession, root: String, ch: DataFrame,
      keys: Seq[String], batchId: Option[Long]): Option[Int] = {
    require(keys.nonEmpty && keys.distinct == keys, s"bad CDC keys $keys")
    // replay short-circuit BEFORE the stage write: a fence that already
    // landed voids this batch, so computing + staging the feed would be
    // pure waste (a wiped-checkpoint replay redelivers every batch; the
    // merge body's own fence check would catch it, but only after the
    // staged feed was written).  Metadata-only: one log scan.
    if (batchId.exists(b => Versioned.lastBatchId(spark, root).exists(_ >= b)))
      return None
    // STAGE the feed once: the merge body evaluates its inputs in four
    // separate actions (key-range agg, discovery semi-join, eviction
    // anti-join, upsert write) — an unstaged feed plan (a diff chain, a
    // stream batch) would recompute for each
    val tmp = s"$root/tmp/${java.util.UUID.randomUUID()}"
    ch.write.parquet(tmp)
    Versioned.cacheDirSchema(tmp, ch.schema)
    try {
      val staged = Versioned.readParquetDirs(spark, Seq(tmp))
      val ups = staged.filter(col("_change_type").isin("insert", "update_postimage"))
        .drop("_change_type")
      val keysDf = staged.filter(col("_change_type") =!= "update_preimage")
        .select(keys.map(col): _*).distinct()
      Versioned.mergeKeysImpl(spark, root, ups, keysDf, keys, batchId)
    } finally {
      val p = new org.apache.hadoop.fs.Path(tmp)
      Versioned.fs(spark, p).delete(p, true)
    }
  }

  /** CDC FOLLOW: catch a replica up to its source's head in ONE fenced
    * merge.  Progress is durable and replay-safe without extra state:
    * the replica's applied-source-version rides the batchId fence (the
    * same manifest field streaming ingest uses — a followed replica
    * must not double as a streaming-ingest sink, the namespaces would
    * collide).  `clonedAt` bootstraps a fresh clone that carries no
    * fence yet.  The jump feed `changes(applied, head)` is manifest-
    * pruned, so a day's catch-up reads the day's dirs; source retention
    * must cover the replica's lag (a vacuumed-away `applied` manifest
    * fails loudly, never silently).  Returns the new replica version,
    * or None when already current — safe to call on every poll. */
  def follow(spark: SparkSession, srcRoot: String, repRoot: String,
      key: String, clonedAt: Int): Option[Int] =
    followKeys(spark, srcRoot, repRoot, Seq(key), clonedAt)

  /** [[follow]] on a composite key. */
  def followKeys(spark: SparkSession, srcRoot: String, repRoot: String,
      keys: Seq[String], clonedAt: Int): Option[Int] = {
    val head = Versioned.currentVersion(spark, srcRoot)
    val applied = Versioned.lastBatchId(spark, repRoot).getOrElse(clonedAt.toLong)
    if (applied >= head) None
    else applyImpl(spark, repRoot,
      changesKeys(spark, srcRoot, applied.toInt, head, keys), keys,
      batchId = Some(head.toLong))
  }

  /** STREAMING CHANGE-FEED SOURCE (pull form): the next pending change
    * batch for consumer `dstRoot` — the fenced jump `changes(applied,
    * upTo)` where `applied` is the consumer's own batchId fence
    * (`bootstrapV` before its first fenced commit) and `upTo` caps at
    * `applied + maxVersions` for per-commit micro-batches.  Returns the
    * batch plus the FENCE the consumer must commit its downstream state
    * with (any `commitBatch` / `commitMergeBatch(MOR)` /
    * `commitBatchIndexed` call): state visibility and feed progress
    * then share one manifest rename, so a crash anywhere between apply
    * and commit simply redelivers the batch and the fence voids the
    * replay — exactly-once consumption with NO checkpoint directory to
    * wipe or lose.  This generalizes [[follow]] (whose downstream is a
    * replica) to ANY incremental consumer: an aggregate, an index, a
    * feature store.  The jump is manifest-pruned, so a day's catch-up
    * reads the day's dirs; source retention must cover the consumer's
    * lag (a vacuumed-away `applied` manifest fails loudly). */
  def nextBatch(spark: SparkSession, srcRoot: String, dstRoot: String,
      key: String, bootstrapV: Int = 0,
      maxVersions: Int = Int.MaxValue): Option[(DataFrame, Long)] =
    nextBatchKeys(spark, srcRoot, dstRoot, Seq(key), bootstrapV, maxVersions)

  /** [[nextBatch]] on a composite key. */
  def nextBatchKeys(spark: SparkSession, srcRoot: String, dstRoot: String,
      keys: Seq[String], bootstrapV: Int = 0,
      maxVersions: Int = Int.MaxValue): Option[(DataFrame, Long)] = {
    val head = Versioned.currentVersion(spark, srcRoot)
    val applied = Versioned.lastBatchId(spark, dstRoot).getOrElse(bootstrapV.toLong)
    if (applied >= head) None
    else {
      val upTo = math.min(head.toLong, applied + math.max(1, maxVersions)).toInt
      Some((changesKeys(spark, srcRoot, applied.toInt, upTo, keys), upTo.toLong))
    }
  }

  /** Fence granularity of the ROW-CAPPED source: `fence = version *
    * ChunkBase + chunksApplied` — up to ~1 M chunks per version. */
  val ChunkBase: Long = 1L << 20

  /** The deterministic chunk plan for one version step `va → vb`:
    * changed dirs (added / removed / dv-changed), KIND-ordered then
    * name-sorted, greedily packed so each chunk's manifest row-count
    * metadata stays within `maxRows` — decided at ZERO data I/O.  A
    * single dir larger than `maxRows` is its own chunk (dir granularity
    * is the floor); a dir with no recorded count (legacy) conservatively
    * fills a chunk.
    *
    * DELETES PRECEDE INSERTS ACROSS CHUNKS: removed dirs pack first,
    * then dv-changed dirs (which under forward flow contribute only
    * delete rows — the same dir under grown deletion vectors), then
    * added dirs.  An updated key whose pre- and post-image dirs
    * straddle a chunk boundary therefore always arrives delete-first,
    * so a KEYED replica consumer ([[applyChangesBatch]], the merge
    * sink) applies the eviction before the re-insert and the split is
    * state-equivalent for keyed consumers too, not only for commutative
    * folds.  (Name-only ordering could deliver the insert chunk first
    * and let the later delete chunk evict the freshly-landed key —
    * silent row loss.) */
  private[io] def versionChunks(spark: SparkSession, root: String,
      va: Int, vb: Int, maxRows: Long): Seq[Seq[(String, String)]] = {
    val (ra, rb) = (Versioned.record(spark, root, va), Versioned.record(spark, root, vb))
    val (da, db) = (ra.dirs, rb.dirs)
    val shared = da.toSet.intersect(db.toSet)
    val cancel = shared.filter(d => ra.dv.get(d) == rb.dv.get(d))
    val rowsA = ra.rows.getOrElse(Map.empty[String, Long])
    val rowsB = rb.rows.getOrElse(Map.empty[String, Long])
    val kindRank = Map("removed" -> 0, "changed" -> 1, "added" -> 2)
    val items: Seq[(String, String, Long)] =
      (da.filterNot(d => shared(d)).map(d =>
         (d, "removed", rowsA.getOrElse(d, maxRows))) ++
       db.filterNot(d => shared(d)).map(d =>
         (d, "added", rowsB.getOrElse(d, maxRows))) ++
       shared.filterNot(cancel).toSeq.sorted.map(d =>
         (d, "changed", rowsB.getOrElse(d, maxRows)))
      ).sortBy(t => (kindRank(t._2), t._1))
    val chunks = scala.collection.mutable.ArrayBuffer[Vector[(String, String)]]()
    var cur = Vector.empty[(String, String)]
    var w = 0L
    items.foreach { case (d, kind, n) =>
      if (cur.nonEmpty && w + n > maxRows) { chunks += cur; cur = Vector.empty; w = 0L }
      cur :+= ((d, kind)); w += n
    }
    if (cur.nonEmpty) chunks += cur
    chunks.toSeq
  }

  /** Guard against the row cap changing WHILE a version drains.  Chunk
    * boundaries are recomputed per call from (manifests, row counts,
    * maxRows): a mid-drain cap change remaps chunk index `k` to a
    * different dir subset — a SMALLER cap (more chunks) even passes the
    * `k < nChunks` range check while silently redelivering or skipping
    * rows.  So when a multi-chunk version STARTS draining (`k == 0`)
    * the plan fingerprint `version:maxRows:nChunks` is pinned at
    * `planPath` (atomic tmp+rename — a torn pin can never parse
    * plausibly-small); every mid-drain call (`k > 0`) recomputes and
    * must match the pin EXACTLY or fails loudly.  Single-chunk versions
    * drain atomically and need no pin.  Used by both capped feeds:
    * [[nextBatchCapped]] pins next to the consumer's own commit log,
    * the registered source next to its pacing watermark in the
    * engine-assigned metadata dir. */
  private[io] def chunkPlanCheck(spark: SparkSession,
      planPath: org.apache.hadoop.fs.Path, v: Int, k: Int, maxRows: Long,
      nChunks: Int): Unit = {
    if (nChunks <= 1 && k == 0) return
    val f = planPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val want = s"$v:$maxRows:$nChunks"
    if (k == 0) {
      val tmp = new org.apache.hadoop.fs.Path(planPath.getParent,
        s".${planPath.getName}-${java.util.UUID.randomUUID()}")
      val out = f.create(tmp, false)
      try out.write(want.getBytes("UTF-8")) finally out.close()
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        planPath.toUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, planPath, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } else {
      if (!f.exists(planPath)) throw new IllegalStateException(
        s"version $v is mid-drain (chunk $k) but no chunk plan is pinned " +
          s"at $planPath — the consumer's pacing state was deleted while " +
          "a version drained; finish or restart the drain from a clean slate")
      val in = f.open(planPath)
      val got = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      if (got != want) throw new IllegalStateException(
        s"chunk plan changed mid-drain: pinned '$got' at $planPath, " +
          s"recomputed '$want' — maxRows must stay FIXED while a version " +
          "drains (a changed cap remaps chunk indexes to different dirs); " +
          "finish the version under the original cap first")
    }
  }

  /** ROW-CAPPED streaming change-feed source: [[nextBatch]] at
    * per-commit granularity, but a commit whose changed dirs exceed
    * `maxRows` drains as SEVERAL bounded chunks — each a deterministic
    * subset of the commit's changed dirs ([[versionChunks]], manifest
    * metadata only, zero extra I/O).  The fence encodes mid-version
    * progress (`version * ChunkBase + chunksApplied`), so a crash
    * redelivers exactly the pending chunk and consumer state stays
    * exactly-once through the same batchId discipline.  A consumer
    * root uses EITHER this mode or [[nextBatch]]'s version-granular
    * fences, never both — the encodings share the batchId namespace.
    *
    * Relaxation a consumer must accept: a key whose pre- and
    * post-image dirs land in different chunks arrives as delete +
    * insert instead of an update pair — delivered DELETE-FIRST by the
    * [[versionChunks]] kind ordering, so the split is state-equivalent
    * for keyed replica consumers as well as commutative folds; rows a
    * chunk's own dirs share still cancel exactly.  `maxRows` must stay
    * fixed while a version drains: chunk boundaries are recomputed per
    * call, and a mid-drain cap change fails loudly against the pinned
    * plan fingerprint ([[chunkPlanCheck]], kept next to the consumer's
    * commit log). */
  def nextBatchCapped(spark: SparkSession, srcRoot: String, dstRoot: String,
      key: String, maxRows: Long, bootstrapV: Int = 0)
      : Option[(DataFrame, Long)] =
    nextBatchCappedKeys(spark, srcRoot, dstRoot, Seq(key), maxRows, bootstrapV)

  /** [[nextBatchCapped]] on a composite key. */
  def nextBatchCappedKeys(spark: SparkSession, srcRoot: String,
      dstRoot: String, keys: Seq[String], maxRows: Long, bootstrapV: Int = 0)
      : Option[(DataFrame, Long)] = {
    require(maxRows >= 1, s"maxRows must be positive, got $maxRows")
    val head = Versioned.currentVersion(spark, srcRoot)
    val raw = Versioned.lastBatchId(spark, dstRoot)
      .getOrElse(bootstrapV.toLong * ChunkBase)
    val av = (raw / ChunkBase).toInt
    val k = (raw % ChunkBase).toInt
    if (av >= head) return None
    val v = av + 1
    val chunks = versionChunks(spark, srcRoot, av, v, maxRows)
    chunkPlanCheck(spark,
      new org.apache.hadoop.fs.Path(s"$dstRoot/log/.cdc-chunkplan"),
      v, k, maxRows, chunks.size)
    require(chunks.isEmpty || k < chunks.size,
      s"fence $raw points past version $v's ${chunks.size} chunks — " +
        "was maxRows changed while the version drained?")
    val cur = if (chunks.isEmpty) Seq.empty else chunks(k)
    val feed = chunkFeed(spark, srcRoot, av, v, keys, cur)
    val fence = if (chunks.isEmpty || k + 1 == chunks.size) v.toLong * ChunkBase
                else av.toLong * ChunkBase + (k + 1)
    Some((feed, fence))
  }

  /** The CDC rows of ONE chunk of the version step `va → vb` — the
    * [[versionChunks]] dir subset diffed ([[Versioned.diffOn]]) and
    * key-aligned; shared by [[nextBatchCapped]] and the registered
    * source's `maxRowsPerTrigger` mode. */
  private[io] def chunkFeed(spark: SparkSession, root: String, va: Int,
      vb: Int, keys: Seq[String], chunk: Seq[(String, String)]): DataFrame = {
    val aDirs = chunk.collect { case (d, kind) if kind != "added" => d }
    val bDirs = chunk.collect { case (d, kind) if kind != "removed" => d }
    val d = Versioned.diffOn(spark, root, va, vb, aDirs, bDirs)
    // one-kind chunks (common: versionChunks packs removed dirs first,
    // added last) have a structurally empty other side — skip the
    // alignment join exactly like the bootstrap fast path
    if (aDirs.isEmpty) oneSided(d, keys, "insert")
    else if (bDirs.isEmpty) oneSided(d, keys, "delete")
    else align(d, keys)
  }

  /** Drain the row-capped feed until current — [[consume]]'s loop over
    * [[nextBatchCapped]] fences. */
  def consumeCapped(spark: SparkSession, srcRoot: String, dstRoot: String,
      key: String, maxRows: Long, bootstrapV: Int = 0)
      (apply: (DataFrame, Long) => Unit): Int =
    consumeCappedKeys(spark, srcRoot, dstRoot, Seq(key), maxRows, bootstrapV)(apply)

  /** [[consumeCapped]] on a composite key. */
  def consumeCappedKeys(spark: SparkSession, srcRoot: String, dstRoot: String,
      keys: Seq[String], maxRows: Long, bootstrapV: Int = 0)
      (apply: (DataFrame, Long) => Unit): Int = {
    var n = 0
    var batch = nextBatchCappedKeys(spark, srcRoot, dstRoot, keys, maxRows, bootstrapV)
    while (batch.isDefined) {
      val (feed, fence) = batch.get
      apply(feed, fence)
      if (!Versioned.lastBatchId(spark, dstRoot).exists(_ >= fence))
        throw new IllegalStateException(
          s"change-feed consumer at $dstRoot did not commit batch fence $fence; " +
            "apply must land state with a batchId-fenced commit")
      n += 1
      batch = nextBatchCappedKeys(spark, srcRoot, dstRoot, keys, maxRows, bootstrapV)
    }
    n
  }

  /** Drain the change feed through `apply` until the consumer is
    * current — the foreachBatch loop over the commit log.  `apply(batch,
    * fence)` MUST land downstream state with a batchId = fence commit
    * (see [[nextBatch]]); an apply that fails to advance the fence
    * throws rather than spinning.  Returns the number of batches
    * delivered (0 = already current — safe to call on every poll). */
  def consume(spark: SparkSession, srcRoot: String, dstRoot: String,
      key: String, bootstrapV: Int = 0, maxVersions: Int = Int.MaxValue)
      (apply: (DataFrame, Long) => Unit): Int =
    consumeKeys(spark, srcRoot, dstRoot, Seq(key), bootstrapV, maxVersions)(apply)

  /** [[consume]] on a composite key. */
  def consumeKeys(spark: SparkSession, srcRoot: String, dstRoot: String,
      keys: Seq[String], bootstrapV: Int = 0, maxVersions: Int = Int.MaxValue)
      (apply: (DataFrame, Long) => Unit): Int = {
    var n = 0
    var batch = nextBatchKeys(spark, srcRoot, dstRoot, keys, bootstrapV, maxVersions)
    while (batch.isDefined) {
      val (feed, fence) = batch.get
      apply(feed, fence)
      if (!Versioned.lastBatchId(spark, dstRoot).exists(_ >= fence))
        throw new IllegalStateException(
          s"change-feed consumer at $dstRoot did not commit batch fence $fence; " +
            "apply must land state with a batchId-fenced commit")
      n += 1
      batch = nextBatchKeys(spark, srcRoot, dstRoot, keys, bootstrapV, maxVersions)
    }
    n
  }

  /** Judged query: CDC replication round-trip.  The source table runs
    * the realistic write chain (clustered base → keyed MERGE → CoW
    * delete); the REPLICA is a zero-copy clone of v1; `changes(1, 3)`
    * applied to the replica must land it bit-exactly on the source
    * head.  Output = the replica's head; the oracle recomputes the
    * source head by expression — the whole produce-and-consume CDC
    * loop is hash-checked. */
  val tableReplica: graft.GraftQuery = graft.GraftQuery("q_table_replica",
    """SELECT doc_id, lang,
      |       CASE WHEN doc_id % 10 < 8 AND doc_id BETWEEN 260 AND 490
      |            THEN n_chars + 1000 ELSE n_chars END AS n_chars
      |FROM documents WHERE doc_id % 9 <> 0""".stripMargin) { (spark, sfDir) =>
    val run = graft.streaming.StreamSink.newRunDir()
    val src = s"$run/src"; val rep = s"$run/replica"
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val base = docs.filter(col("doc_id") % 10 < 8)
    Versioned.commitAppendClustered(spark, src, base, "doc_id", buckets = 8)
    Versioned.cloneAt(spark, src, rep, 1)
    val updates = base.filter(col("doc_id").between(260, 490))
      .withColumn("n_chars", col("n_chars") + 1000)
      .unionByName(docs.filter(col("doc_id") % 10 >= 8))
    Versioned.commitMerge(spark, src, updates, "doc_id")
    val pred = col("doc_id") % 9 === 0
    Versioned.commitUpdate(spark, src, pred, d => d.filter(!pred))
    val v = applyChanges(spark, rep, changes(spark, src, 1, 3, "doc_id"), "doc_id")
    Versioned.readAt(spark, rep, v)
  }

  /** Judged query: STREAMING replication.  A file-source stream ingests
    * the day-2 slice into the source table through the batchId-fenced
    * `commitBatch`; after every micro-batch the replica (a zero-copy
    * clone of v1) is caught up via [[follow]] — ingest and replication
    * both exactly-once, the replica's progress durable in its own
    * commit log.  Output = the replica's head, which must equal the
    * full corpus whatever the micro-batch planning did. */
  val streamReplica: graft.GraftQuery = graft.GraftQuery("q_stream_replica",
    """SELECT doc_id, lang, n_chars FROM documents""".stripMargin) { (spark, sfDir) =>
    val run = graft.streaming.StreamSink.newRunDir()
    val srcFiles = s"$run/files"; val src = s"$run/src"
    val rep = s"$run/replica"; val ckpt = s"$run/ckpt"
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    Versioned.commitAppendClustered(spark, src,
      docs.filter(col("doc_id") % 10 < 8), "doc_id", buckets = 8)
    Versioned.cloneAt(spark, src, rep, 1)
    docs.filter(col("doc_id") % 10 >= 8).repartition(3).write.parquet(srcFiles)
    // the writer just flushed srcFiles — schema known, no inference job
    Versioned.cacheDirSchema(srcFiles, docs.schema)
    val q = spark.readStream.schema(Versioned.dirSchemaOf(spark, srcFiles))
      .option("maxFilesPerTrigger", 1).parquet(srcFiles)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        Versioned.commitBatch(spark, src, id, b)
        follow(spark, src, rep, "doc_id", clonedAt = 1); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    follow(spark, src, rep, "doc_id", clonedAt = 1) // idempotent final poll
    Versioned.readAt(spark, rep, Versioned.currentVersion(spark, rep))
  }

  /** Judged query: the CDC relation across a realistic day-2 write
    * chain, WITH commit provenance.  v1 = the clustered base slice;
    * v2 = keyed MERGE (the [260,490] window's n_chars bumped + the
    * day-2 slice inserted); v3 = copy-on-write DELETE of every 9th
    * doc.  [[changesByCommit]] must emit each commit's own changes
    * stamped `_commit_version` — so a day-2 row inserted at v2 and
    * deleted at v3 appears as insert@2 + delete@3 (intra-window
    * history the NET [[changes]] jump deliberately cancels), and every
    * update pre/post image attributes to the merge.  The monotone
    * `_commit_timestamp` is asserted in-query (wall clock cannot be
    * oracled); the oracle derives the per-commit relation by
    * expression over the raw corpus. */
  val tableCdf: graft.GraftQuery = graft.GraftQuery("q_table_cdf",
    """WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
      |v2 AS (SELECT doc_id, lang,
      |         CASE WHEN doc_id % 10 < 8 AND doc_id BETWEEN 260 AND 490
      |              THEN n_chars + 1000 ELSE n_chars END AS n_chars
      |       FROM base)
      |SELECT doc_id, lang, n_chars, 'insert' AS _change_type,
      |       2 AS _commit_version
      |FROM base WHERE doc_id % 10 >= 8
      |UNION ALL
      |SELECT doc_id, lang, n_chars, 'update_preimage' AS _change_type,
      |       2 AS _commit_version
      |FROM base WHERE doc_id % 10 < 8 AND doc_id BETWEEN 260 AND 490
      |UNION ALL
      |SELECT doc_id, lang, n_chars + 1000 AS n_chars,
      |       'update_postimage' AS _change_type, 2 AS _commit_version
      |FROM base WHERE doc_id % 10 < 8 AND doc_id BETWEEN 260 AND 490
      |UNION ALL
      |SELECT doc_id, lang, n_chars, 'delete' AS _change_type,
      |       3 AS _commit_version
      |FROM v2 WHERE doc_id % 9 = 0""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val base = docs.filter(col("doc_id") % 10 < 8)
    Versioned.commitAppendClustered(spark, root, base, "doc_id", buckets = 8)
    val updates = base.filter(col("doc_id").between(260, 490))
      .withColumn("n_chars", col("n_chars") + 1000)
      .unionByName(docs.filter(col("doc_id") % 10 >= 8))
    Versioned.commitMerge(spark, root, updates, "doc_id")
    val pred = col("doc_id") % 9 === 0
    Versioned.commitUpdate(spark, root, pred, d => d.filter(!pred))
    val ch = changesByCommit(spark, root, 1, 3, "doc_id")
    // provenance sanity, in-query (timestamps are wall clock — spec'd
    // monotone, not oracle-able): every change attributes to a commit
    // whose stamp is within the log's [ts(2), ts(3)] window
    val bad = ch.filter(col("_commit_timestamp") <
        timestamp_millis(lit(Versioned.tsOf(spark, root, 2))) ||
        col("_commit_timestamp") >
        timestamp_millis(lit(Versioned.tsOf(spark, root, 3))))
      .count()
    require(bad == 0, "commit timestamps must lie in the log's window")
    ch.drop("_commit_timestamp")
  }

  /** Judged query: an incremental AGGREGATE maintained from the change
    * feed — the [[nextBatch]]/[[consume]] source consumed by something
    * that is NOT a replica.  The source runs the realistic chain
    * (clustered base → keyed MERGE → CoW delete); the consumer drains
    * per-commit batches (maxVersions = 1, so THREE fenced applies
    * exercise the protocol) folding ±deltas into a per-lang (count,
    * sum) table via fenced merges.  A second drain must deliver zero
    * batches (the replay shield).  Output = the aggregate head, which
    * must equal the oracle's RECOMPUTE over the final snapshot — the
    * incremental fold and the batch recompute agree to the row. */
  val streamCdfConsume: graft.GraftQuery = graft.GraftQuery("q_stream_cdf_consume",
    """WITH f AS (
      |  SELECT doc_id, lang,
      |         CASE WHEN doc_id % 10 < 8 AND doc_id BETWEEN 260 AND 490
      |              THEN n_chars + 1000 ELSE n_chars END AS n_chars
      |  FROM documents WHERE doc_id % 9 <> 0)
      |SELECT lang, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM f GROUP BY lang""".stripMargin) { (spark, sfDir) =>
    val run = graft.streaming.StreamSink.newRunDir()
    val src = s"$run/src"; val agg = s"$run/agg"
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val base = docs.filter(col("doc_id") % 10 < 8)
    Versioned.commitAppendClustered(spark, src, base, "doc_id", buckets = 8)
    val updates = base.filter(col("doc_id").between(260, 490))
      .withColumn("n_chars", col("n_chars") + 1000)
      .unionByName(docs.filter(col("doc_id") % 10 >= 8))
    Versioned.commitMerge(spark, src, updates, "doc_id")
    val pred = col("doc_id") % 9 === 0
    Versioned.commitUpdate(spark, src, pred, d => d.filter(!pred))
    def applyBatch(feed: DataFrame, fence: Long): Unit = {
      val add = col("_change_type").isin("insert", "update_postimage")
      val d = feed.groupBy(col("lang")).agg(
        sum(when(add, 1L).otherwise(-1L)).as("d_cnt"),
        sum(when(add, col("n_chars").cast("long"))
          .otherwise(-col("n_chars").cast("long"))).as("d_chars"))
      val headA = Versioned.currentVersion(spark, agg)
      if (headA == 0)
        Versioned.commitBatch(spark, agg, fence, d.select(col("lang"),
          col("d_cnt").as("cnt"), col("d_chars").as("sum_chars")))
      else {
        val cur = Versioned.readAt(spark, agg, headA)
        val merged = d.join(cur, Seq("lang"), "left")
          .select(col("lang"),
            (coalesce(col("cnt"), lit(0L)) + col("d_cnt")).as("cnt"),
            (coalesce(col("sum_chars"), lit(0L)) + col("d_chars")).as("sum_chars"))
        // a group whose running count reaches ZERO must be DELETED from
        // the aggregate, not upserted as a zero row the recompute oracle
        // has no group for: express the batch as CDC (post-images for
        // live groups, deletes for emptied ones) and land it with the
        // same fenced merge the replica path uses — eviction without
        // reinsertion (this is also what IncrementalView.refresh does)
        val ch = merged.withColumn("_change_type",
          when(col("cnt") === 0L, lit("delete"))
            .otherwise(lit("update_postimage")))
        applyChangesBatch(spark, agg, ch, "lang", fence)
      }
      ()
    }
    val n = consume(spark, src, agg, "doc_id", maxVersions = 1)(applyBatch)
    require(n == 3, s"expected 3 per-commit batches, drained $n")
    require(consume(spark, src, agg, "doc_id", maxVersions = 1)(applyBatch) == 0,
      "a drained feed must deliver nothing on the next poll")
    Versioned.readAt(spark, agg, Versioned.currentVersion(spark, agg))
  }

  /** Judged query: the REGISTERED streaming source end-to-end.  The
    * same realistic source chain as [[streamCdfConsume]], but consumed
    * through `spark.readStream.format("graft.io.ChangeFeedSourceProvider")`
    * — the standard Structured Streaming API over the commit log.
    * Three checkpointed runs: (1) the clustered base streams in, (2)
    * the merge + CoW delete arrive as a resumed DELTA batch (the
    * checkpoint carries the source offset = table version), (3) the
    * checkpoint is WIPED and the full feed replays — every fence it
    * carries is already applied, so the fold must not move (in-query
    * assertion).  Output = the per-lang aggregate head; oracle = the
    * recompute over the final snapshot. */
  val streamCdfSource: graft.GraftQuery = graft.GraftQuery("q_stream_cdf_source",
    """WITH f AS (
      |  SELECT doc_id, lang,
      |         CASE WHEN doc_id % 10 < 8 AND doc_id BETWEEN 260 AND 490
      |              THEN n_chars + 1000 ELSE n_chars END AS n_chars
      |  FROM documents WHERE doc_id % 9 <> 0)
      |SELECT lang, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM f GROUP BY lang""".stripMargin) { (spark, sfDir) =>
    val run = graft.streaming.StreamSink.newRunDir()
    val src = s"$run/src"; val agg = s"$run/agg"; val ckpt = s"$run/ckpt"
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val base = docs.filter(col("doc_id") % 10 < 8)
    def applyBatch(feed: DataFrame, fence: Long): Unit = {
      val add = col("_change_type").isin("insert", "update_postimage")
      val d = feed.groupBy(col("lang")).agg(
        sum(when(add, 1L).otherwise(-1L)).as("d_cnt"),
        sum(when(add, col("n_chars").cast("long"))
          .otherwise(-col("n_chars").cast("long"))).as("d_chars"))
      val headA = Versioned.currentVersion(spark, agg)
      if (headA == 0)
        Versioned.commitBatch(spark, agg, fence, d.select(col("lang"),
          col("d_cnt").as("cnt"), col("d_chars").as("sum_chars")))
      else {
        val cur = Versioned.readAt(spark, agg, headA)
        val merged = d.join(cur, Seq("lang"), "left")
          .select(col("lang"),
            (coalesce(col("cnt"), lit(0L)) + col("d_cnt")).as("cnt"),
            (coalesce(col("sum_chars"), lit(0L)) + col("d_chars")).as("sum_chars"))
        val ch = merged.withColumn("_change_type",
          when(col("cnt") === 0L, lit("delete"))
            .otherwise(lit("update_postimage")))
        applyChangesBatch(spark, agg, ch, "lang", fence)
      }
      ()
    }
    def drain(): Unit = {
      val q = spark.readStream
        .format("graft.io.ChangeFeedSourceProvider")
        .option("path", src).option("key", "doc_id")
        .load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch((b: DataFrame, id: Long) => applyBatch(b, id))
        .start()
      try { q.processAllAvailable() } finally q.stop()
    }
    Versioned.commitAppendClustered(spark, src, base, "doc_id", buckets = 8)
    drain() // run 1: the base streams in
    val updates = base.filter(col("doc_id").between(260, 490))
      .withColumn("n_chars", col("n_chars") + 1000)
      .unionByName(docs.filter(col("doc_id") % 10 >= 8))
    Versioned.commitMerge(spark, src, updates, "doc_id")
    val pred = col("doc_id") % 9 === 0
    Versioned.commitUpdate(spark, src, pred, d => d.filter(!pred))
    drain() // run 2: checkpointed resume folds exactly the delta
    val settled = Versioned.currentVersion(spark, agg)
    val cp = new org.apache.hadoop.fs.Path(ckpt)
    Versioned.fs(spark, cp).delete(cp, true)
    drain() // run 3: wiped checkpoint — the replayed fences are all applied
    require(Versioned.currentVersion(spark, agg) == settled,
      "a wiped-checkpoint replay must not move the fold")
    Versioned.readAt(spark, agg, settled)
  }

  val all: Seq[graft.GraftQuery] =
    Seq(tableCdf, tableReplica, streamReplica, streamCdfConsume,
      streamCdfSource)
}
