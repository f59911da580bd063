package riskbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** One timed interval: a whole op (parent -1) or a layer call inside it. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long, rows: Long) {
  def durNs: Long = endNs - startNs
}

object Span {

  /** Self time per span: its duration minus the part of it that its
   * direct children cover (overlapping children are merged first). */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** Task-level counts of the jobs run under one job group. */
final class Counts {
  var jobs, stages, stagesRun, tasks, taskMs, gcMs = 0L
  var shuffleWrite, spill, bytesRead, bytesWritten, rowsWritten, writeTasks = 0L
}

/** Sums task metrics per job group: the runner gives each span (or each
 * phase, untraced) its own group, so counts land on the layer that ran
 * them. Listener events are handled on Spark's bus thread; read the
 * counts only after [[drain]]. */
final class JobCounters extends SparkListener {
  private val groups = new ConcurrentHashMap[String, Counts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  def apply(group: String): Counts = groups.computeIfAbsent(group, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    val c = apply(g)
    c.jobs += 1
    c.stages += e.stageInfos.size
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach(apply(_).stagesRun += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = apply(Option(stageGroup.get(e.stageId)).getOrElse("none"))
      c.tasks += 1
      c.taskMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.bytesRead += m.inputMetrics.bytesRead
      c.bytesWritten += m.outputMetrics.bytesWritten
      c.rowsWritten += m.outputMetrics.recordsWritten
      // a write task with rows writes exactly one file (no maxRecordsPerFile,
      // no dynamic partitions in the warehouse tables)
      if (m.outputMetrics.recordsWritten > 0) c.writeTasks += 1
    }
  }
}

/** Sum of analysis + optimization + planning time over every query the
 * session runs, from each query's planning tracker. */
final class PlanTime extends org.apache.spark.sql.util.QueryExecutionListener {
  @volatile var ns = 0L
  private def add(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
    ns += qe.tracker.phases.values.map(p => p.durationMs * 1000000L).sum
  override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
      d: Long): Unit = add(qe)
  override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
      e: Exception): Unit = add(qe)
}

/**
 * Wraps the benchmark's calls into each layer. Untraced it only sets the
 * phase's job group and runs the call. Traced, each call becomes a span
 * with its own job group, and a DataFrame result is materialized (persist
 * + count) before the span closes, so the next layer starts from computed
 * input and each layer's time is its own.
 */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = ArrayBuffer[Span]()
  /** Scan file counts of each traced Warehouse.read span, by span id. */
  val filesRead = scala.collection.mutable.Map[Int, (Long, Long)]()
  private val held = ArrayBuffer[DataFrame]()
  private var nextId = 0
  private var stack = List.empty[Int]
  private var opId = -1
  private var phaseGroup = "none"

  def group(g: String): Unit = {
    phaseGroup = g
    spark.sparkContext.setJobGroup(g, g)
  }

  private def open(): Int = {
    val id = nextId
    nextId += 1
    spark.sparkContext.setJobGroup(s"span-$id", s"span-$id")
    id
  }

  private def close(id: Int, name: String, t0: Long, rows: Long): Unit = {
    spans += Span(id, name, stack.headOption.getOrElse(-1), opId, t0, System.nanoTime(), rows)
    spark.sparkContext.setJobGroup(
      stack.headOption.map(p => s"span-$p").getOrElse(phaseGroup), "")
  }

  /** Run one op (or, named "setup", the workload's setup) under a root
   * span and return its wall time. An op's boundary caches are dropped
   * when it ends; setup's are the state the ops use, so they stay. */
  def op[T](id: Int, name: String = "op")(body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    if (!enabled) { val r = body; return (r, System.nanoTime() - t0) }
    opId = id
    val sid = open()
    stack = sid :: stack
    val r = try body finally { stack = stack.tail; close(sid, name, t0, 0L) }
    val wall = System.nanoTime() - t0
    if (name != "setup") held.foreach(_.unpersist(blocking = true))
    held.clear()
    (r, wall)
  }

  /** A layer call producing a DataFrame: materialized when traced. */
  def layer(name: String)(df: => DataFrame): DataFrame =
    if (!enabled) df
    else {
      val t0 = System.nanoTime()
      val sid = open()
      stack = sid :: stack
      var rows = 0L
      val out = try {
        val d = df.persist(StorageLevel.MEMORY_AND_DISK)
        held += d
        rows = d.count()
        if (name == "Warehouse.read") filesRead(sid) = Trace.scanFiles(d)
        d
      } finally { stack = stack.tail; close(sid, name, t0, rows) }
      out
    }

  /** A layer call that is an action (or a write); `rows` counts its output. */
  def call[T](name: String, rows: T => Long = (_: T) => 0L)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val sid = open()
      stack = sid :: stack
      var n = 0L
      try { val r = body; n = rows(r); r } finally { stack = stack.tail; close(sid, name, t0, n) }
    }
}

object Trace {

  /** (files read, files listed) over the file scans in a persisted plan. */
  def scanFiles(df: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case s: FileSourceScanExec => Seq(s)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
      case other => other.children.flatMap(scans)
    }
    val ss = scans(df.queryExecution.executedPlan)
    val read = ss.flatMap(_.metrics.get("numFiles")).map(_.value).sum
    val listed = ss.map(s => s.relation.location.inputFiles.length.toLong).sum
    (read, listed)
  }
}
