package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval around a call into a layer's public function. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    startNs: Long, endNs: Long)

/** The traced run's instruments: spans recorded by the harness around
  * each call into a layer, plus Spark's own listeners (task metrics,
  * query-execution plans and SQL metrics). Everything is kept in
  * memory and returned by [[report]] at the end of the run. A
  * disabled tracer runs every body untouched and attaches nothing,
  * which is what the end-to-end (untraced) runs use.
  */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  /** Time `body` as a span under the innermost open span, between
    * [[start]] and [[stop]] (spans are opened from one thread).
    */
  def span[A](name: String, layer: String)(body: => A): A =
    if (!active) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, layer, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  private val tasks = new TaskStats
  private val plans = new PlanStats
  private var windowNs = (0L, 0L)
  private var windowMs = (0L, 0L)
  private var active = false

  /** Attach the listeners: the per-layer counters cover what runs from
    * here to [[stop]].
    */
  def start(): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(tasks)
    spark.listenerManager.register(plans)
    windowNs = (System.nanoTime(), 0L)
    windowMs = (System.currentTimeMillis(), 0L)
    active = true
  }

  def stop(): Unit = if (enabled) {
    active = false
    windowNs = (windowNs._1, System.nanoTime())
    windowMs = (windowMs._1, System.currentTimeMillis())
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(tasks)
    spark.listenerManager.unregister(plans)
  }

  /** Per-layer counters of the traced window and the raw spans. */
  def report: Map[String, Any] =
    if (!enabled) Map.empty
    else Map(
      "window_s" -> (windowNs._2 - windowNs._1) / 1e9,
      "cores" -> spark.sparkContext.defaultParallelism,
      "tasks" -> tasks.snapshot(windowMs._1, windowMs._2),
      "plans" -> plans.snapshot,
      // global since JVM start: the warm-up's compiles are set-up cost
      "codegen_compile_s" -> WholeStageCodegenExec.codeGenTime / 1e9,
      "spans" -> spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer,
        "start_s" -> (s.startNs - windowNs._1) / 1e9,
        "end_s" -> (s.endNs - windowNs._1) / 1e9)))
}

/** Task-level totals from the scheduler's task-end events. */
private final class TaskStats extends SparkListener {
  private val c = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      c("tasks") += 1
      c("run_ms") += m.executorRunTime
      c("cpu_ns") += m.executorCpuTime
      c("gc_ms") += m.jvmGCTime
      c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("shuffle_write_ns") += m.shuffleWriteMetrics.writeTime
      c("fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
      c("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      if (m.inputMetrics.recordsRead > 0 || m.inputMetrics.bytesRead > 0) {
        c("scan_tasks") += 1
        c("scan_bytes") += m.inputMetrics.bytesRead
        c("scan_rows") += m.inputMetrics.recordsRead
      }
      intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }

  /** Counters plus the time inside [t0, t1] during which no task ran. */
  def snapshot(t0: Long, t1: Long): Map[String, Any] = synchronized {
    var covered = 0L
    var end = t0
    for ((s, f) <- intervals.sortBy(_._1)) {
      val a = math.max(s, end)
      val b = math.min(f, t1)
      if (b > a) { covered += b - a; end = b }
    }
    c.toMap ++ Map("driver_only_ms" -> math.max(0L, t1 - t0 - covered))
  }
}

/** Planning-phase times, executed-plan node counts and SQL-metric
  * totals of every query execution that completes while attached.
  */
private final class PlanStats extends QueryExecutionListener {
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val CustomNodes = Set("TopKPerKeyExec", "AsofJoinExec", "RangeJoinExec")
  private val Phases = Seq(QueryPlanningTracker.ANALYSIS,
    QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
  /** SQL metric name -> reported counter, per node kind. */
  private def timing(node: SparkPlan, metric: String): Option[String] =
    (node.nodeName, metric) match {
      case (n, "scanTime") if n.contains("Scan") => Some("scan_s")
      case (_, "pipelineTime") => Some("codegen_stage_s")
      case (_, "sortTime") => Some("sort_s")
      case (_, "aggTime") => Some("agg_build_s")
      case (_, "buildTime") => Some("join_build_s")
      case _ => None
    }

  private def walk(p: SparkPlan): Iterator[SparkPlan] = Iterator(p) ++ (p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case s: QueryStageExec => walk(s.plan)
    case _ => (p.children ++ p.subqueries).iterator.flatMap(walk)
  })

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      counts("executions") += 1
      counts("planning_s") +=
        Phases.flatMap(qe.tracker.phases.get).map(_.durationMs).sum / 1e3
      walk(qe.executedPlan).foreach { node =>
        if (CustomNodes.contains(node.getClass.getSimpleName)) counts("custom_nodes") += 1
        if (node.isInstanceOf[Exchange]) counts("exchanges") += 1
        node.metrics.foreach { case (k, m) =>
          timing(node, k).foreach { out =>
            m.metricType match {
              case "timing" => counts(out) += m.value / 1e3
              case "nsTiming" => counts(out) += m.value / 1e9
              case _ =>
            }
          }
        }
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    synchronized { counts("failed_executions") += 1 }

  def snapshot: Map[String, Double] = synchronized(counts.toMap)
}
