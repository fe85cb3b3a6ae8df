package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark harness: one closed-loop client against a local session.
  *
  * Arguments are `key=value` pairs written by run.py: workload, seed,
  * seconds, trace, cpus, in, stage, local, warehouse, table, baseline, out,
  * spans, plus the workload's size parameters.
  *
  * Phases: set-up (session, inputs, table), `WarmupRounds` untimed rounds of
  * every op type, run exactly like a timed round, then whole rounds until
  * `seconds` have passed and at least `MinRounds` rounds ran.  With
  * trace=1 untraced and traced rounds (job groups, spans, plan metrics)
  * interleave, so the tracing overhead is measured inside one run.  The
  * raw per-op records go to `out` as JSON; run.py checks them against the
  * oracle and derives the metrics.
  */
object Main {
  final class Rec(val op: Op, val phase: String, val round: Int, val group: String) {
    var startS = 0.0
    var latS = 0.0
    var callS = 0.0
    var execS = 0.0
    var outcome: Option[Outcome] = None
    var error: Option[String] = None
    var traced = false
    var planFields: Map[String, Any] = Map.empty
    var ioFields: Map[String, Any] = Map.empty
  }

  private def dirUsage(root: String): (Long, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (files.map(Files.size(_: Path)).sum, files.size.toLong)
      } finally s.close()
    }
  }

  private def parse(kv: Seq[String]): Map[String, String] =
    kv.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap

  /** Fewest timed rounds of a run, so its medians have real samples; a
    * traced run needs three untraced and two traced rounds (u t u t u). */
  val MinRounds = 4
  val MinTracedRounds = 5
  /** Untimed rounds before the timed phase: the first pays for the staged
    * builds and cold start, the second lets the JIT catch up, so the timed
    * rounds do not start on the steep part of the warming curve. */
  val WarmupRounds = 2

  def main(args: Array[String]): Unit = {
    val jvmT0 = System.nanoTime()
    val a = parse(args.toSeq)
    val workloadName = a("workload")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus")
    val minRounds = if (trace) MinTracedRounds else MinRounds
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workloadName")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "4096")
      .config("spark.graft.staging.dir", a("stage"))
      .config("spark.local.dir", a("local"))
      .config("spark.sql.warehouse.dir", a("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.DevSession.quietHints()
    val sessionS = (System.nanoTime() - jvmT0) / 1e9

    val workload: Workload = workloadName match {
      case "theta_join" => new ThetaWorkload(spark, a("in"), a)
      case "llm_curation" => new LlmWorkload(spark, a("in"))
      case "table_ingest" =>
        new IngestWorkload(spark, a("table"), a("baseline"), a("seed").toLong, a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val walkRoot = if (workloadName == "table_ingest") Some(a("table")) else None
    val tracer = new Tracer(spark, on = false)
    val recs = mutable.ArrayBuffer[Rec]()

    def runOp(op: Op, phase: String, rd: Int): Rec = {
      val id = tracer.newId()
      val rec = new Rec(op, phase, rd, s"$phase:$rd:${op.name}:$id")
      rec.traced = tracer.on
      val before = if (tracer.on) walkRoot.map(dirUsage) else None
      val t0 = System.nanoTime()
      rec.startS = (t0 - jvmT0) / 1e9
      try {
        tracer.withGroup(rec.group) {
          tracer.span(id, -1, op.name, op.layer, "op") {
            val c0 = System.nanoTime()
            val res = tracer.span(tracer.newId(), id, op.name, op.layer, "call")(op.call())
            val c1 = System.nanoTime()
            val out = tracer.span(tracer.newId(), id, op.name, op.layer, "action")(op.act(res))
            val c2 = System.nanoTime()
            rec.callS = (c1 - c0) / 1e9
            rec.execS = (c2 - c1) / 1e9
            rec.outcome = Some(out)
          }
        }
      } catch {
        case e: Throwable =>
          rec.error = Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
          System.err.println(s"[perfbench] ${op.name} failed: ${rec.error.get}")
      }
      rec.latS = (System.nanoTime() - t0) / 1e9
      if (tracer.on) {
        rec.outcome.flatMap(_.plan).foreach { pl =>
          rec.planFields = Map("gen_rows" -> Plans.generatedRows(pl),
            "join_rows" -> Plans.maxJoinRows(pl), "files_read" -> Plans.filesRead(pl),
            "rewrite" -> Plans.showsRewrite(pl))
        }
        for ((b0, f0) <- before; (b1, f1) <- walkRoot.map(dirUsage))
          rec.ioFields = Map("bytes_written" -> (b1 - b0), "files_written" -> (f1 - f0))
      }
      recs += rec
      rec
    }

    workload.setup()
    workload.setupOps.foreach(runOp(_, "setup", -1))
    for (rd <- -WarmupRounds until 0) workload.round(rd).foreach(runOp(_, "warmup", rd))

    // ---- timed phase: whole rounds, closed loop, one client.  A traced run
    // alternates untraced and traced rounds (u t u t u ...), starting and
    // ending untraced: the median untraced round skips the first, coldest
    // round, each traced round sits between two untraced ones, and the
    // difference of the medians is the tracing overhead.
    val firstTimedMs = System.currentTimeMillis()
    val rounds = mutable.ArrayBuffer[(String, Int, Double)]()
    def phaseOf(rd: Int) =
      if (!trace) "timed" else if (rd % 2 == 0) "untraced" else "traced"
    if (trace) tracer.register()
    val t0 = System.nanoTime()
    var rd = 0
    while (rd < minRounds || (System.nanoTime() - t0) / 1e9 < seconds ||
        (trace && rd % 2 == 0)) {
      val phase = phaseOf(rd)
      tracer.on = phase == "traced"
      val r0 = System.nanoTime()
      workload.round(rd).foreach(runOp(_, phase, rd))
      rounds += ((phase, rd, (System.nanoTime() - r0) / 1e9))
      rd += 1
    }
    tracer.on = false
    val phaseWall = rounds.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var extras: Map[String, Any] = Map.empty
    var plans: Map[String, Any] = Map.empty
    if (trace) {
      tracer.drain()
      plans = Map("nested_loops" -> tracer.planListener.nestedLoops)
      extras = workload.traceExtras()
    }
    val fin = workload.finish()
    val hostSpeed = graft.BenchProbe.hostSpeedSeconds()

    def groupFields(r: Rec): Map[String, Any] =
      if (!r.traced) Map.empty
      else {
        val g = tracer.listener.synchronized(tracer.listener.groups.get(r.group))
        val s = g.getOrElse(new GroupStats)
        Map("jobs" -> s.jobs, "tasks" -> s.tasks, "cpu_s" -> s.cpuNs / 1e9, "gc_s" -> s.gcMs / 1e3,
          "sched_delay_s" -> s.schedMs / 1e3, "shuffle_bytes" -> s.shuffleWriteBytes,
          "spill_bytes" -> s.spillBytes, "task_skew" -> s.taskSkew)
      }

    val recJson = recs.map { r =>
      val o = r.outcome
      scala.collection.immutable.ListMap[String, Any](
        "op" -> r.op.name, "cls" -> r.op.cls, "layer" -> r.op.layer, "phase" -> r.phase,
        "round" -> r.round, "start_s" -> r.startS, "lat_s" -> r.latS, "call_s" -> r.callS,
        "exec_s" -> r.execS, "count" -> o.map(_.count), "chk" -> o.map(_.chk),
        "rows" -> o.map(_.rows).getOrElse(Nil), "error" -> r.error, "traced" -> r.traced) ++
        o.map(_.extra).getOrElse(Map.empty) ++ r.planFields ++ r.ioFields ++ groupFields(r)
    }
    val rt = Runtime.getRuntime
    val result = Json.render(scala.collection.immutable.ListMap(
      "workload" -> workloadName,
      "first_timed_ms" -> firstTimedMs,
      "session_s" -> sessionS,
      "host" -> Map("cpus" -> cpus.toInt, "jvm_max_mem_mb" -> rt.maxMemory / (1 << 20),
        "host_speed_s" -> hostSpeed),
      "phase_wall_s" -> phaseWall,
      "rounds" -> rounds.map { case (ph, rd, s) => Map("phase" -> ph, "round" -> rd, "s" -> s) },
      "records" -> recJson,
      "plans" -> plans,
      "extras" -> extras,
      "finish" -> fin))
    Files.write(Paths.get(a("out")), result.getBytes("UTF-8"))
    if (trace) Files.write(Paths.get(a("spans")), tracer.spanLines().asJava)
    spark.stop()
  }
}
