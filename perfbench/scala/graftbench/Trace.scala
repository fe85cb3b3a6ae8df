package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op totals of the Spark task metrics, keyed by the op's job group
  * (`setJobGroup`). */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** task durations (ms) per stage, for the skew of the heaviest stage */
  val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  /** Slowest task over the median task of the stage with the most task
    * time; 1.0 when there is nothing to compare. */
  def taskSkew: Double =
    if (stageTasks.isEmpty) 1.0
    else {
      val heavy = stageTasks.values.maxBy(_.sum).sorted
      val med = heavy(heavy.length / 2).max(1L)
      heavy.last.toDouble / med
    }
}

/** Spark listener that attributes jobs and tasks to job groups from the
  * outside: the job group travels in the job properties, stages map back
  * to their job's group. */
final class BenchListener extends SparkListener {
  private val stageGroup = mutable.Map[Int, String]()
  val groups = mutable.Map[String, GroupStats]()
  @volatile var events = 0L

  private def group(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    e.stageIds.foreach(s => stageGroup(s) = g)
    group(g).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val g = stageGroup.getOrElse(e.stageId, "-")
    val info = e.taskInfo
    val m = e.taskMetrics
    val s = group(g)
    s.tasks += 1
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.schedMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    s.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += info.duration
  }
}

/** Counts the executed SQL queries and the nested-loop join nodes in their
  * executed plans. */
final class PlanListener extends QueryExecutionListener {
  @volatile var queries = 0L
  @volatile var nestedLoops = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      queries += 1
      nestedLoops += Plans.nestedLoops(qe.executedPlan)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { queries += 1 }
}

/** Physical-plan inspection through public plan and SQL-metric APIs. */
object Plans {
  /** Every node of a (possibly adaptive) executed plan. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case other => other +: other.children.flatMap(nodes)
  }

  private def named(p: SparkPlan, names: String*): Boolean =
    names.contains(p.getClass.getSimpleName)

  def nestedLoops(p: SparkPlan): Long =
    nodes(p).count(named(_, "BroadcastNestedLoopJoinExec", "CartesianProductExec")).toLong

  def isJoin(p: SparkPlan): Boolean = named(p, "SortMergeJoinExec", "ShuffledHashJoinExec",
    "BroadcastHashJoinExec", "BroadcastNestedLoopJoinExec", "CartesianProductExec")

  def isEquiJoin(p: SparkPlan): Boolean =
    named(p, "SortMergeJoinExec", "ShuffledHashJoinExec", "BroadcastHashJoinExec")

  def metric(p: SparkPlan, key: String): Long =
    p.metrics.get(key).map(_.value).getOrElse(0L)

  /** Rows out of every Generate (explode) node. */
  def generatedRows(p: SparkPlan): Long =
    nodes(p).filter(named(_, "GenerateExec")).map(metric(_, "numOutputRows")).sum

  /** Largest output of any join node. */
  def maxJoinRows(p: SparkPlan): Long =
    (0L +: nodes(p).filter(isJoin).map(metric(_, "numOutputRows"))).max

  def filesRead(p: SparkPlan): Long =
    nodes(p).filter(n => n.getClass.getSimpleName.contains("FileSourceScan"))
      .map(metric(_, "numFiles")).sum

  /** The bucketed rewrite shows as an explode feeding an equi join. */
  def showsRewrite(p: SparkPlan): Boolean = {
    val ns = nodes(p)
    ns.exists(named(_, "GenerateExec")) && ns.exists(isEquiJoin) && nestedLoops(p) == 0
  }
}

/** One timed span; `parent` is -1 for an op's root span. */
final case class Span(id: Long, parent: Long, op: String, layer: String, kind: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Tracing state of one run.  With `on = false` the hooks record nothing:
  * no job group, no span. */
final class Tracer(spark: SparkSession, var on: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0L
  lazy val listener: BenchListener = new BenchListener
  lazy val planListener: PlanListener = new PlanListener
  private var registered = false

  def register(): Unit = {
    if (!registered) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(planListener)
      registered = true
    }
  }

  def newId(): Long = synchronized { nextId += 1; nextId }

  def span[T](id: Long, parent: Long, op: String, layer: String, kind: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally if (on) spans += Span(id, parent, op, layer, kind, t0, System.nanoTime())
  }

  def withGroup[T](group: String)(body: => T): T =
    if (!on) body
    else {
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
      try body finally spark.sparkContext.clearJobGroup()
    }

  /** Listener events arrive asynchronously; wait until the counters stop
    * moving before reading them. */
  def drain(): Unit = if (registered) {
    var last = -1L
    var stable = 0
    while (stable < 5) {
      Thread.sleep(100)
      val now = listener.events + planListener.queries
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
  }

  /** Spans as JSON lines with self time = span minus its children. */
  def spanLines(): Seq[String] = {
    val child = spans.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum).toMap
    spans.toSeq.sortBy(_.startNs).map { s =>
      val self = s.seconds - child.getOrElse(s.id, 0.0)
      Json.render(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
        "kind" -> s.kind, "start_ns" -> s.startNs, "dur_s" -> s.seconds, "self_s" -> self))
    }
  }
}
