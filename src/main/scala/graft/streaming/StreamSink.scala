package graft.streaming

import graft.GraftQuery
import graft.fns.Exact.exactSumSql
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The JUDGED streaming query: a Structured Streaming pipeline with a real
  * file source, a durable parquet sink, and a checkpoint — driven to
  * bounded completion with `Trigger.AvailableNow` and oracled against the
  * batch twin's SQL (`q_stream_tumbling`'s tumbling-window aggregate).
  * The B9 rows before this one prove stream-batch parity on MemoryStream
  * inside specs; this query makes a persisted streaming run part of the
  * driver-scored inventory.
  *
  * Sink pattern: per-micro-batch DYNAMIC PARTITION OVERWRITE keyed by the
  * FULL aggregation key — (window start, event_type) — via `foreachBatch`
  * in update output mode.  Each batch rewrites exactly the group
  * partitions it updated — the classic streaming-upsert-to-lake shape:
  * restarts are exactly-once because replaying a batch overwrites the
  * same partitions with the same rows (idempotent), and the sink's total
  * size is the aggregate's, never the stream's.  The partition key MUST
  * cover the whole group key: partitioning by window alone measurably
  * loses rows — a batch updating only (W, 'error') would rewrite
  * partition W and delete W's other event_types (caught by
  * StreamSinkSpec's incremental run while building this).  At 100 TB/day
  * this is the pattern's real deployment: partitions are bounded by
  * groups touched per batch, state by the watermark horizon.
  *
  * Watermark: 35 days — deliberately ≥ the full span of the `events`
  * table, because the file source imposes no cross-FILE event-time order
  * (a later-listed file may hold earlier events, and incremental day-N
  * catch-up runs replay whole directories).  A production stream with
  * bounded disorder would use minutes; the knob is the SAME code path,
  * and StreamSinkSpec drives the multi-batch + restart semantics.
  *
  * The streaming run executes on EVERY call (the pipeline is the judged
  * operator — memoizing it would time a parquet re-read instead); out/
  * checkpoint dirs are per-run temporaries.
  */
object StreamSink {

  /** Per-run out/checkpoint dirs are temporaries, but the judged query's
    * RESULT is a lazy read over the sink — deleting eagerly after the
    * call would pull the files out from under the not-yet-consumed
    * DataFrame.  Instead every run dir is tracked and a single JVM
    * shutdown hook removes them: a 3-rep bench plus warm-up and outlier
    * re-runs no longer accumulates dozens of abandoned checkpoint dirs
    * per round (they previously leaked until /tmp was cleared). */
  private val runDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val cleanupHookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val it = runDirs.iterator()
      while (it.hasNext) {
        val root = java.nio.file.Paths.get(it.next())
        // per-dir try so one failed walk doesn't abandon the rest, and the
        // walk stream is CLOSED (Files.walk holds an open dir handle)
        try {
          if (java.nio.file.Files.exists(root)) {
            val walk = java.nio.file.Files.walk(root)
            try walk
              .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
              .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
            finally walk.close()
          }
        } catch { case _: Throwable => () } // best-effort: never fail exit
      }
    }))
    true
  }
  private[graft] def newRunDir(): String = {
    require(cleanupHookInstalled)
    val d = s"/tmp/graft_stream_sink/${java.util.UUID.randomUUID()}"
    runDirs.add(d)
    d
  }

  /** The GRAFT_STREAM_SHUFFLE_PARTITIONS override: a positive count, or
    * an error naming the variable and the value. */
  private[graft] def shufflePartitionsOverride(value: String): Int =
    value.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"GRAFT_STREAM_SHUFFLE_PARTITIONS must be a positive integer, got '$value'"))

  /** SCALE-ADAPTIVE state/shuffle partitioning for the streaming runs.
    * A Structured Streaming query pins its STATEFUL-operator partition
    * count to `spark.sql.shuffle.partitions` at first start, and every
    * micro-batch then pays one state-store load + commit PER PARTITION
    * per stateful operator — a per-batch cost that scales with the
    * partition count, not the data (the stream-stream join keeps four
    * stores per partition).  Inheriting the session default (= core
    * count in the bench) prices a 2 MB source at 32 partitions × stores:
    * measured, the join sink runs FASTER at 8 cores than 32 (driver
    * scaling ratio 0.45) — pure orchestration tax.  Like the session
    * sink's bucket count, the right number tracks STATE SIZE, not cores:
    * derive from the source's on-disk bytes (~32 MB of input per
    * partition, floor 4), capped at the session default so a big source
    * keeps its parallelism; the GRAFT_STREAM_SHUFFLE_PARTITIONS
    * deployment knob wins verbatim (at 100 TB the operator sizes state
    * partitions to the watermark-horizon state, exactly as before).
    * The session default is restored after the run — batch queries are
    * untouched.  AQE cannot do this: stateful partitions are exempt
    * from coalescing by design (state-store identity). */
  private[graft] def withStreamShufflePartitions[T](spark: SparkSession,
      eventsPath: String)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevN = try prev.toInt catch { case _: NumberFormatException => -1 }
    if (prevN <= 0) return body // non-numeric session setting: leave it be
    val n = sys.env.get("GRAFT_STREAM_SHUFFLE_PARTITIONS").map(shufflePartitionsOverride)
      .getOrElse {
        val p = new org.apache.hadoop.fs.Path(eventsPath)
        val bytes =
          try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .getContentSummary(p).getLength
          catch { case _: java.io.IOException => return body }
        math.max(4, math.min(prevN, (bytes / (32L << 20)).toInt + 1))
      }
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private def runTumblingSink(spark: SparkSession, eventsPath: String,
      outDir: String, ckptDir: String, maxFilesPerTrigger: Option[Int]): Unit = {
    // schema comes from a metadata-only batch read; nanosAsLong must be on
    // before either read so both see the same `ts` type
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the landing dir's path is CONTENT-ADDRESSED (stagedEventsDir folds
    // the source fingerprint into it), so the path-keyed schema cache is
    // honest: one inference job per source content instead of one per run
    val batchShape = graft.io.Versioned.dirSchemaOf(spark, eventsPath)
    var reader = spark.readStream.schema(batchShape)
    maxFilesPerTrigger.foreach(n => reader = reader.option("maxFilesPerTrigger", n))
    val raw = reader.parquet(eventsPath)
    val ev = raw
      .withColumn("ts_us", graft.io.Tables.tsUsColFor(raw))
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "35 days")
    val agg = graft.time.EventWindows.tumblingOnTs(ev)
    withStreamShufflePartitions(spark, eventsPath) {
      val q = agg.writeStream
        .outputMode("update")
        .option("checkpointLocation", ckptDir)
        .foreachBatch { (b: DataFrame, _: Long) =>
          // no emptiness pre-check: `isEmpty` would execute the batch's
          // aggregation a second time, and an empty frame under dynamic
          // partition overwrite touches zero partitions anyway
          b.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("wstart_us", "event_type")
            .parquet(outDir)
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
  }

  /** Drive the tumbling pipeline over `eventsPath` to completion and read
    * the sink back.  Exposed for the spec's staged/incremental runs (which
    * pass their own dirs + per-file batching); the judged query uses fresh
    * temp dirs and the default one-batch AvailableNow plan. */
  private[graft] def tumblingViaSink(spark: SparkSession, eventsPath: String,
      outDir: String, ckptDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    runTumblingSink(spark, eventsPath, outDir, ckptDir, maxFilesPerTrigger)
    // the partition column comes back typed by inference; cast to the batch
    // twin's BIGINT and column order so the two frames are interchangeable
    spark.read.parquet(outDir)
      .select(col("wstart_us").cast("long"), col("event_type"), col("n"),
        col("sum_val"))
  }

  /** The file stream source requires a DIRECTORY (its file index treats
    * the path as a basePath); driver testdata ships `events.parquet` as a
    * single file, so it is byte-copied once per source CONTENT into a
    * /tmp landing directory — exactly the landing-zone layout a
    * production file stream watches.  The landing key folds in
    * [[graft.io.Staged.fingerprint]] (size+mtime+count) so a regenerated
    * testdata file restages instead of being served stale to the judged
    * query while the oracle reads the fresh bytes.  A directory-shaped
    * events table streams as-is. */
  private val srcCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def stagedEventsDir(spark: SparkSession, sfDir: String): String = {
    val srcPath = s"$sfDir/events.parquet"
    val fp = graft.io.Staged.fingerprint(spark, srcPath)
    srcCache.computeIfAbsent(s"$srcPath|$fp", _ => {
      val src = new java.io.File(srcPath)
      if (src.isDirectory) src.getAbsolutePath
      else {
        val key = java.util.Base64.getUrlEncoder.withoutPadding
          .encodeToString(s"$srcPath|$fp".getBytes("UTF-8"))
        val dir = new java.io.File(s"/tmp/graft_stream_src/$key")
        val target = new java.io.File(dir, "events-000.parquet")
        if (!target.exists()) {
          val tmp = new java.io.File(s"/tmp/graft_stream_src/.tmp-${java.util.UUID.randomUUID()}")
          tmp.mkdirs()
          java.nio.file.Files.copy(src.toPath,
            new java.io.File(tmp, "events-000.parquet").toPath)
          if (!tmp.renameTo(dir) && !target.exists())
            throw new IllegalStateException(s"staging rename failed for $dir")
        }
        dir.getAbsolutePath
      }
    })
  }

  val tumblingSink: GraftQuery = GraftQuery("q_stream_tumbling_sink",
    s"""SELECT (epoch_us(ts) // 86400000000) * 86400000000 AS wstart_us,
       |  event_type, count(*) AS n, ${exactSumSql("value", 4)} AS sum_val
       |FROM events GROUP BY 1, 2""".stripMargin) { (spark, sfDir) =>
    val run = newRunDir()
    tumblingViaSink(spark, stagedEventsDir(spark, sfDir), s"$run/out", s"$run/ckpt")
  }

  /** Persisted STREAM-STREAM NON-EQUI join — the reference's theta-join
    * semantics on live streams, driver-scored: purchases and clicks are
    * two independent file-source streams over the same landing dir, both
    * watermarked, joined on user + an event-time RANGE (click within the
    * hour before the purchase), written through Spark's NATIVE append
    * file sink (the `_spark_metadata` commit log makes the sink
    * exactly-once across restarts — the second sink shape next to
    * `tumblingSink`'s foreachBatch upsert).  Inner stream-stream joins
    * emit matches as soon as both rows have arrived, so a bounded
    * `AvailableNow` run produces exactly the batch join; the watermarks
    * bound STATE, not emission.  StreamSink2Spec drives the day-2 resume:
    * day-1 purchases held in checkpointed state match day-2 clicks. */
  private[graft] def joinViaSink(spark: SparkSession, eventsPath: String,
      outDir: String, ckptDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // content-addressed landing dir: cached schema (see runTumblingSink)
    val shape = graft.io.Versioned.dirSchemaOf(spark, eventsPath)
    def src(): DataFrame = {
      var reader = spark.readStream.schema(shape)
      maxFilesPerTrigger.foreach(n => reader = reader.option("maxFilesPerTrigger", n))
      val raw = reader.parquet(eventsPath)
      raw.withColumn("ts_us", graft.io.Tables.tsUsColFor(raw))
        .withColumn("ts", timestamp_micros(col("ts_us")))
    }
    val p = src().filter(col("event_type") === "purchase")
      .withWatermark("ts", "35 days")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    val c = src().filter(col("event_type") === "click")
      .withWatermark("ts", "35 days")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
    val joined = p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") < col("p_ts"))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"),
        unix_micros(col("p_ts")).as("p_ts_us"), unix_micros(col("c_ts")).as("c_ts_us"))
    withStreamShufflePartitions(spark, eventsPath) {
      val q = joined.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckptDir)
        .option("path", outDir)
        .format("parquet")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.read.parquet(outDir)
      .select("user_id", "purchase_id", "click_id", "p_ts_us", "c_ts_us")
  }

  val streamJoinSink: GraftQuery = GraftQuery("q_stream_join_sink",
    """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
      |       epoch_us(p.ts) AS p_ts_us, epoch_us(c.ts) AS c_ts_us
      |FROM events p JOIN events c
      |  ON p.user_id = c.user_id
      | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
      |WHERE p.event_type = 'purchase' AND c.event_type = 'click'""".stripMargin) {
    (spark, sfDir) =>
      val run = newRunDir()
      joinViaSink(spark, stagedEventsDir(spark, sfDir), s"$run/out", s"$run/ckpt")
  }

  /** Persisted SESSION-WINDOW aggregation — the third and hardest judged
    * sink shape.  Session windows break BOTH simpler sink disciplines:
    *
    *  - `tumblingSink`'s full-group-key dynamic overwrite (partition by
    *    (user, session_start)) fails on MERGES: when a late event bridges
    *    two already-written sessions, update mode emits only the MERGED
    *    row (whose start equals the earlier session's) and never retracts
    *    the swallowed sibling — the (user, later_start) partition goes
    *    permanently stale (measured while building this: the merge spec's
    *    user kept 2 rows where the batch twin has 1).
    *  - Partitioning by user alone and writing just the batch's rows
    *    deletes the user's UNTOUCHED sessions (the tumbling sink's
    *    documented sibling-row-deletion trap, one level up).
    *
    * The correct shape is a per-user MERGE under a BOUNDED partition
    * key: the sink is partitioned by `bucket = pmod(hash(user_id),
    * [[SessionSinkBuckets]])` — NOT by user_id.  Partitioning by raw
    * user_id is the 100 TB scale-killer the round-13 review flagged:
    * one directory per user is 10⁷–10⁹ directories at deployment
    * cardinality, a file-system-metadata explosion no object store
    * survives.  A fixed bucket count caps the sink directory count
    * forever, at the cost of per-batch write amplification bounded by
    * (touched buckets) × (bucket size) — the standard lakehouse
    * bucketed-merge trade.  The count is a DEPLOYMENT knob
    * (≈ table size / target bucket size, via GRAFT_SESSION_SINK_BUCKETS):
    * more buckets = finer sparse-batch merges but more per-batch file
    * opens and partition-commit moves — measured at sf0.1 (95 k
    * sessions, every bucket touched): 4096 buckets = 10.3 s warm,
    * 1024 = 6.3 s, 512 = 5.2 s; 1024 is the judged default.
    *
    * Per micro-batch: rewrite each TOUCHED bucket with (its existing
    * rows that do NOT time-overlap an updated session of the same user)
    * ∪ (the updated rows).  Untouched users sharing a touched bucket
    * never match the user-equality overlap anti-join, so they are
    * carried through verbatim.  Overlap is the exact stale test —
    * Spark's merged session interval contains every swallowed sibling's
    * interval, and distinct final sessions of one user never overlap
    * (next.start ≥ prev.end by the gap definition), so replaying a
    * batch replaces bucket contents with identical contents (idempotent,
    * exactly-once across restarts).  This is `foreachBatch` + MERGE INTO
    * re-expressed on plain parquet partitions — the lakehouse-native
    * sibling of the same pattern.
    *
    * 100 TB posture: per batch the sink reads and rewrites only the
    * touched buckets (the collected bucket list is bounded control data
    * — at most [[SessionSinkBuckets]] ints regardless of stream size,
    * strictly tighter than the per-user id list it replaces, and the
    * explicit IN filter on the partition column is what guarantees
    * partition PRUNING on the read-back); state is bounded by the
    * watermark horizon; the merged frame is localCheckpointed because
    * its plan reads the same files the write replaces. */
  private[graft] val SessionSinkBuckets =
    sys.env.getOrElse("GRAFT_SESSION_SINK_BUCKETS", "1024").toInt

  /** SCALE-ADAPTIVE bucket count: the explicit deployment knob
    * (GRAFT_SESSION_SINK_BUCKETS) wins verbatim when set; otherwise the
    * count derives from the SOURCE's on-disk bytes (~32 MB of input per
    * bucket, floor 32, cap [[SessionSinkBuckets]]).  A fixed 1024 was
    * tuned for neither end: at bench scale (2 MB of events, ~95 k
    * sessions) it produced 1024 directories of ~3 KB files — the
    * small-files tax on every batch write AND on the read-back's
    * partition discovery (measured: the sink read-back alone cost 1.5 s
    * of a 8.2 s query) — while a 100 TB stream wants the operator-set
    * knob anyway.  Deriving from input size keeps per-bucket output in a
    * sane file-size band at any scale the default serves. */
  private[graft] def sessionSinkBucketsFor(spark: SparkSession,
      eventsPath: String): Int =
    sys.env.get("GRAFT_SESSION_SINK_BUCKETS").map(_.toInt).getOrElse {
      val p = new org.apache.hadoop.fs.Path(eventsPath)
      val bytes =
        try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength
        catch { case _: java.io.IOException => 0L }
      math.max(32, math.min(SessionSinkBuckets, (bytes / (32L << 20)).toInt + 1))
    }

  private[graft] def sessionViaSink(spark: SparkSession, eventsPath: String,
      outDir: String, ckptDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // content-addressed landing dir: cached schema (see runTumblingSink)
    val shape = graft.io.Versioned.dirSchemaOf(spark, eventsPath)
    var reader = spark.readStream.schema(shape)
    maxFilesPerTrigger.foreach(n => reader = reader.option("maxFilesPerTrigger", n))
    val raw = reader.parquet(eventsPath)
    val ev = raw
      .withColumn("ts_us", graft.io.Tables.tsUsColFor(raw))
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "35 days")
    // NOT sessionOnTs: session_window streaming aggregation is
    // append-only (Spark rejects update mode), and append's
    // emit-on-finalize never flushes under this source's long watermark.
    // The upsert emitter is the custom-state escalation — see
    // EventStreams.sessionizeUpserts for the full contract.
    import spark.implicits._
    val agg = EventStreams.sessionizeUpserts(
      ev.select(col("user_id"), col("ts")).as[EventStreams.SEv]).toDF()
    val nBuckets = sessionSinkBucketsFor(spark, eventsPath)
    withStreamShufflePartitions(spark, eventsPath) {
    val q = agg.writeStream
      .outputMode("update")
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val ss = b.sparkSession
        // two consumers (touched buckets + union) ⇒ materialize once;
        // also pins the batch's rows before the partition rewrite below
        val updates = b.select("user_id", "session_start_us",
          "session_end_us", "n_events")
          .withColumn("bucket", pmod(hash(col("user_id")), lit(nBuckets)))
          .localCheckpoint(true)
        val touched = updates.select("bucket").distinct()
          .collect().map(_.getInt(0)).toSeq
        if (touched.nonEmpty) {
          val outPath = new org.apache.hadoop.fs.Path(outDir)
          val fs = outPath.getFileSystem(ss.sparkContext.hadoopConfiguration)
          val existing =
            if (fs.exists(outPath))
              ss.read.parquet(outDir)
                .filter(col("bucket").isInCollection(touched))
                .select(col("user_id").cast("long"),
                  col("session_start_us").cast("long"),
                  col("session_end_us").cast("long"),
                  col("n_events").cast("long"),
                  col("bucket").cast("int"))
            else updates.limit(0)
          val stale = updates.select(col("user_id").as("u_uid"),
            col("session_start_us").as("u_s"), col("session_end_us").as("u_e"))
          val keep = existing.join(stale,
            col("user_id") === col("u_uid") &&
              col("session_start_us") < col("u_e") &&
              col("u_s") < col("session_end_us"), "left_anti")
          keep.unionByName(updates)
            .localCheckpoint(true) // source files == overwrite target
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(outDir)
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    }
    spark.read.parquet(outDir)
      .select(col("user_id").cast("long"), col("session_start_us"),
        col("session_end_us"), col("n_events"))
  }

  /** Judged session-window sink — oracle is `q_stream_session`'s
    * gap-and-island twin (EventWindows.scala), sink semantics above. */
  val sessionSink: GraftQuery = GraftQuery("q_stream_session_sink",
    """WITH x AS (SELECT user_id, epoch_us(ts) AS t FROM events),
      |y AS (SELECT user_id, t,
      |        CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
      |                  >= 1800000000
      |               OR lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
      |             THEN 1 ELSE 0 END AS brk
      |      FROM x),
      |z AS (SELECT user_id, t,
      |        sum(brk) OVER (PARTITION BY user_id ORDER BY t
      |                       ROWS UNBOUNDED PRECEDING) AS sid
      |      FROM y)
      |SELECT user_id, min(t) AS session_start_us,
      |       max(t) + 1800000000 AS session_end_us, count(*) AS n_events
      |FROM z GROUP BY user_id, sid""".stripMargin) { (spark, sfDir) =>
    val run = newRunDir()
    sessionViaSink(spark, stagedEventsDir(spark, sfDir), s"$run/out", s"$run/ckpt")
  }

  val all: Seq[GraftQuery] = Seq(tumblingSink, streamJoinSink, sessionSink)
}
