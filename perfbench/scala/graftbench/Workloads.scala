package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.Versioned
import graft.joins.NonEquiJoins

/** What an op's action produced: row count plus an order-independent
  * checksum (or the rows themselves for approximate ops), the executed
  * plan for tracing, and workload-specific fields for the oracle. */
final case class Outcome(count: Long, chk: Long, rows: Seq[Seq[Long]] = Nil,
    plan: Option[SparkPlan] = None, extra: Map[String, Any] = Map.empty)

/** One benchmark operation.  `call` is the call into the layer's public
  * function (plan construction plus any eager jobs); `act` runs the
  * result to its fixed aggregate. */
final case class Op(name: String, cls: String, layer: String,
    call: () => AnyRef, act: AnyRef => Outcome)

trait Workload {
  def setup(): Unit
  /** Ops of the set-up phase whose results the oracle also checks. */
  def setupOps: Seq[Op] = Nil
  /** The ops of round `r`; negative rounds are the warm-up. */
  def round(r: Int): Seq[Op]
  /** Measurements of the traced run taken outside the timed ops. */
  def traceExtras(): Map[String, Any] = Map.empty
  /** Work after the timed phase that the oracle needs. */
  def finish(): Map[String, Any] = Map.empty
}

/** Order-independent checksum shared with the DuckDB twins in oracle.py:
  * per row h = fold((h * M + coalesce(c, NULL_V)) % P) over the integral
  * columns, summed over rows. */
object Chk {
  val P = 2147483647L
  val M = 1000003L
  val NullV = 2147483646L

  def row(cols: Seq[Column]): Column =
    cols.foldLeft(lit(0L))((h, c) => (h * M + coalesce(c.cast(LongType), lit(NullV))) % P)

  def of(df: DataFrame, cols: Seq[String]): Outcome = {
    val a = df.agg(count(lit(1)).as("n"), coalesce(sum(row(cols.map(col))), lit(0L)).as("c"))
    val r = a.collect()(0)
    Outcome(r.getLong(0), r.getLong(1), plan = Some(a.queryExecution.executedPlan))
  }

  def integralCols(df: DataFrame): Seq[String] = df.schema.fields.collect {
    case f if Seq(LongType, IntegerType, ShortType, ByteType).contains(f.dataType) => f.name
  }.toSeq
}

final class ThetaWorkload(spark: SparkSession, in: String, p: Map[String, String])
    extends Workload {
  private def pi(k: String) = p(k).toInt
  private var l: DataFrame = _
  private var r: DataFrame = _

  def setup(): Unit = {
    l = spark.read.parquet(s"$in/l.parquet")
    r = spark.read.parquet(s"$in/r.parquet")
    l.createOrReplaceTempView("bench_l")
    r.createOrReplaceTempView("bench_r")
  }

  private def pairs(df: AnyRef) = Chk.of(df.asInstanceOf[DataFrame], Seq("lid", "rid"))
  private def ineqSides = (l.filter(col("lid") < pi("ineq_rows")).select("lid", "lz"),
    r.filter(col("rid") < pi("ineq_rows")).select("rid", "rz"))

  /** The route lessThanJoinAuto takes on the given value columns. */
  private def route(lc: String, rc: String): String = {
    val (a, b) = (l.filter(col("lid") < pi("ineq_rows")).select("lid", lc),
      r.filter(col("rid") < pi("ineq_rows")).select("rid", rc))
    NonEquiJoins.lessThanStrategy(NonEquiJoins.lessThanStats(a, b, lc, rc))
  }

  private val ops: Seq[Op] = Seq(
    Op("band", "band", "joins", () => NonEquiJoins.bandJoin(
      l.select("lid", "lv"), r.select("rid", "rv"), "lv", "rv", p("band_eps").toDouble), pairs),
    Op("band_sql", "band", "plans", () => spark.sql(
      s"SELECT lid, rid FROM bench_l JOIN bench_r ON abs(lz - rz) <= ${p("sql_eps")}"), pairs),
    Op("ineq", "ineq", "joins", () => {
      val (a, b) = ineqSides
      NonEquiJoins.lessThanJoinAuto(a, b, "lz", "rz")
    }, pairs),
    Op("interval", "interval", "joins", () => {
      val ri = r.select("rid", "rt", "rend")
      val w = NonEquiJoins.medianIntervalWidth(ri, "rt", "rend")
      NonEquiJoins.intervalOverlapJoinVar(l.select("lid", "lt", "lend"), ri,
        "lt", "lend", "rt", "rend", w)
    }, pairs),
    Op("point_in_interval", "interval", "joins", () => NonEquiJoins.pointInIntervalJoinAuto(
      l.select("lid", "lt"), r.select("rid", "rt", "rend"), "lt", "rt", "rend"), pairs),
    Op("asof", "asof", "joins", () => NonEquiJoins.asofJoin(
      l.select(col("lk").as("k"), col("lt").as("t"), col("lid")),
      r.select(col("rk").as("k"), col("rt").as("t"), col("rid")), "k", "t", "lid", "rid"), pairs),
    Op("theta1b", "theta1b", "joins", () => NonEquiJoins.oneBucketThetaJoin(
      l.filter(col("lid") < pi("theta_rows")).select("lid", "lv"),
      r.filter(col("rid") < pi("theta_rows")).select("rid", "rv"), "lid", "rid", 2, 2,
      (col("lid") * 31 + col("rid") * 17) % 1000 < 2 && col("lv") < col("rv")), pairs))

  def round(rd: Int): Seq[Op] = ops

  override def traceExtras(): Map[String, Any] = Map(
    "routes" -> Map("skewed" -> route("lz", "rz"), "uniform" -> route("lv", "rv")))
}

/** q_llm_ann_lsh is left out: it fails now and then with a stack overflow
  * in the scan of its staged postings (see README.md). */
final class LlmWorkload(spark: SparkSession, in: String) extends Workload {
  private val dedup = Seq("q_llm_dedup_exact", "q_llm_dedup_near", "q_llm_dedup_simhash")
  private val ann = Seq("q_llm_ann_ivf")

  def setup(): Unit = ()

  private def q(name: String): () => AnyRef = () => graft.SparkEntry.queries(name)(spark, in)

  private def checked(df: AnyRef): Outcome = {
    val d = df.asInstanceOf[DataFrame]
    val cols = Chk.integralCols(d)
    Chk.of(d, cols).copy(extra = Map("chk_cols" -> cols))
  }

  private def neighbours(df: AnyRef): Outcome = {
    val d = df.asInstanceOf[DataFrame].select("qid", "nid")
    val rows = d.collect().map(x => Seq(x.getLong(0), x.getLong(1))).toSeq
    Outcome(rows.length, 0L, rows, Some(d.queryExecution.executedPlan))
  }

  private val ops: Seq[Op] =
    dedup.map(n => Op(n.stripPrefix("q_llm_"), "dedup", "llm", q(n), checked)) ++
      Seq(Op("similarity_topk", "ann", "llm", q("q_llm_similarity_topk"), checked)) ++
      ann.map(n => Op(n.stripPrefix("q_llm_"), "ann", "llm", q(n), neighbours))

  def round(rd: Int): Seq[Op] = ops

  /** A scan evaluating one kernel over the corpus, median of three. */
  private def scanSeconds(df: DataFrame): Double = {
    val ts = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      df.collect()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(1)
  }

  override def traceExtras(): Map[String, Any] = {
    val docs = spark.read.parquet(s"$in/documents.parquet")
    val shingle = docs.select(sum(size(
      graft.fns.TextKernelCols.shingleHashes(spark, col("text")))))
    val qv = spark.read.parquet(s"$in/embeddings.parquet")
      .select(transform(col("embedding"),
        x => org.apache.spark.sql.functions.round(x.cast(DoubleType) * 1000000).cast(LongType)).as("qv"))
      .localCheckpoint()
    val dot = qv.select(sum(graft.fns.VecExpressions.vecDot(spark, col("qv"), col("qv"))
      .cast(DoubleType)))
    Map("shingle_s" -> scanSeconds(shingle), "vecdot_s" -> scanSeconds(dot))
  }

  override def finish(): Map[String, Any] = Map(
    "oracle_sql" -> (dedup :+ "q_llm_similarity_topk").map(n => n.stripPrefix("q_llm_") ->
      graft.SparkEntry.oracleSql(n)).toMap)
}

/** The result of one commit, kept for the oracle's replay. */
final case class Commit(kind: String, idx: Int, nextKey: Long, version: Option[Int])

final class IngestWorkload(spark: SparkSession, root: String, baseline: String,
    seed: Long, p: Map[String, String]) extends Workload {
  private def pl(k: String) = p(k).toLong
  private val seedm = seed % 1000003L
  private val batchRows = pl("batch_rows")
  private var nextKey = 0L
  private var idx = 0
  private var head = 0
  private val ingested = scala.collection.mutable.ArrayBuffer[(String, Int, Long)]()

  private def lehmer(c: Column): Column = (c * 48271L) % 2147483647L
  private def lehmerL(x: Long): Long = (x * 48271L) % 2147483647L

  /** Micro-batch `i` of `kind` from key slot `next`; oracle.py replays the
    * same formulas. */
  private def batch(kind: String, i: Int, next: Long): DataFrame = {
    val b = if (kind == "base") pl("base_rows") else batchRows
    val j = col("id")
    val newKey = lit(next) + j
    val key =
      if (kind != "merge") newKey
      else {
        val nk = math.max(1L, next)
        val start = lehmerL(lehmerL(i + seedm)) % nk
        val hit = lehmer(lehmer(lit(i.toLong * b) + j + seedm)) % 100 < pl("hit_pct")
        when(hit, (lit(start) + j * 7) % nk).otherwise(newKey)
      }
    spark.range(b).select(key.as("key"))
      .select(col("key"),
        (lehmer(lehmer(col("key") + i.toLong * 104729 + seedm)) % pl("vdom")).as("v"),
        ((col("key") * 31 + i) % 1000003).as("p"))
  }

  private def commit(kind: String): () => AnyRef = () => {
    val (i, next) = (idx, nextKey)
    val df = batch(kind, i, next)
    val v = kind match {
      case "merge" => Versioned.commitMerge(spark, root, df, "key")
      case _ => Versioned.commitAppendClustered(spark, root, df, "v", p("buckets").toInt)
    }
    ingested += ((kind, i, next))
    idx += 1
    nextKey += (if (kind == "base") pl("base_rows") else batchRows)
    head = v
    Commit(kind, i, next, Some(v))
  }

  private def committed(c: AnyRef): Outcome = {
    val x = c.asInstanceOf[Commit]
    Outcome(-1L, 0L, extra = Map("kind" -> x.kind, "idx" -> x.idx, "next_key" -> x.nextKey,
      "version" -> x.version))
  }

  private val optimize = Op("optimize", "optimize", "io", () => {
    val v = Versioned.optimizeClustered(spark, root, "v", p("buckets").toInt, 2)
    v.foreach(head = _)
    Commit("optimize", -1, nextKey, v)
  }, committed)

  private def range(rd: Int): Op = {
    val lo = lehmerL(lehmerL(rd + 1000L + seedm)) % pl("vdom")
    val hi = lo + pl("range_width")
    var at = 0
    Op("range", "read", "io", () => { at = head; Versioned.readRange(spark, root, at, lo, hi) },
      df => {
        val o = Chk.of(df.asInstanceOf[DataFrame], Seq("key", "v", "p"))
        o.copy(extra = Map("read_version" -> at, "lo" -> lo, "hi" -> hi))
      })
  }

  private def travel: Op = {
    var at = 0
    Op("time_travel", "read", "io", () => {
      at = math.max(1, head - pl("travel_back").toInt)
      Versioned.readAt(spark, root, at)
    }, df => Chk.of(df.asInstanceOf[DataFrame], Seq("key", "v", "p"))
      .copy(extra = Map("read_version" -> at)))
  }

  def setup(): Unit = ()
  override def setupOps: Seq[Op] = Seq(Op("base", "base", "io", commit("base"), committed))

  def round(rd: Int): Seq[Op] =
    Seq(Op("append", "commit", "io", commit("append"), committed),
      Op("merge", "commit", "io", commit("merge"), committed),
      range(rd), travel, optimize)

  /** Every ingested batch written once as plain parquet (one file per
    * batch): the denominator of the write amplification. */
  override def finish(): Map[String, Any] = {
    ingested.map { case (kind, i, next) => batch(kind, i, next).withColumn("batch", lit(i)) }
      .reduce(_ unionByName _)
      .repartition(col("batch"))
      .write.partitionBy("batch").parquet(baseline)
    val h = Versioned.readAt(spark, root, head)
    val fin = Chk.of(h, Seq("key", "v", "p"))
    Map("head" -> head, "final_count" -> fin.count, "final_chk" -> fin.chk)
  }
}
