package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed interval around a call into a module's public API. `op` is the
  * client operation the span belongs to; `parent` is the enclosing span (-1
  * at the top of an operation). Times are ns since the tracer was created.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long,
                      var end: Long = -1L, var codegenCompiles: Long = 0L)

/** Job, stage and task counters summed for one span. */
final class SpanStats {
  var jobs = 0L; var schemaJobs = 0L; var stages = 0L; var tasks = 0L
  var failedTasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var scanBytes = 0L; var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L
  var spillBytes = 0L; var peakMemBytes = 0L
  var queries = 0L; var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
  var exchanges = 0L; var aqeReplans = 0L; var kernelQueries = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "schema_jobs" -> schemaJobs, "stages" -> stages, "tasks" -> tasks,
    "failed_tasks" -> failedTasks, "run_ms" -> runMs, "cpu_ms" -> cpuNs / 1e6,
    "gc_ms" -> gcMs, "scan_bytes" -> scanBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "peak_mem_bytes" -> peakMemBytes, "sql_queries" -> queries,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs, "exchanges" -> exchanges, "aqe_replans" -> aqeReplans,
    "kernel_queries" -> kernelQueries)
}

/** Spans kept in memory, plus a SparkListener that attributes every job,
  * stage, task and SQL execution to the span whose job group was set when it
  * started. Jobs started with no group of ours are counted under the
  * `unattributed` key instead of being dropped. A QueryExecutionListener
  * would hand over the same QueryExecution but not its execution id, which
  * the attribution needs, so the plan counters are read from the
  * execution-end event instead.
  *
  * Spans are opened and closed by the single client thread; listener
  * callbacks arrive on the listener-bus thread and only touch the
  * synchronized maps below. Call [[drain]] before reading the results.
  */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  private val t0 = System.nanoTime()
  private val groupPrefix = "perfbench-span-"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var on = false

  private val stats = mutable.Map.empty[String, SpanStats] // span key -> counters
  private val stageKey = mutable.Map.empty[Int, String]
  private val executionKey = mutable.Map.empty[Long, String]
  private val aqeUpdates = mutable.Map.empty[Long, Int]

  private def statsOf(key: String): SpanStats = stats.getOrElseUpdate(key, new SpanStats)
  private def keyOfGroup(group: String): String =
    if (group != null && group.startsWith(groupPrefix)) group.stripPrefix(groupPrefix)
    else "unattributed"

  /** Kernel expressions are the ones `graft.functions` defines. */
  private def usesKernel(plan: SparkPlan): Boolean =
    collectWithSubqueries(plan) { case p => p }.exists(_.expressions.exists(
      _.exists(_.getClass.getName.startsWith("graft.functions."))))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      val key = keyOfGroup(props.map(_.getProperty("spark.jobGroup.id")).orNull)
      e.stageIds.foreach(stageKey(_) = key)
      val s = statsOf(key)
      s.jobs += 1
      val site = props.map(_.getProperty("callSite.short", "")).getOrElse("") +
        e.stageInfos.map(_.name).mkString(" ")
      if (site.contains("Tables.scala")) s.schemaJobs += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      statsOf(stageKey.getOrElse(e.stageInfo.stageId, "unattributed")).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val s = statsOf(stageKey.getOrElse(e.stageId, "unattributed"))
      s.tasks += 1
      if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) s.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.scanBytes += m.inputMetrics.bytesRead
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakMemBytes = math.max(s.peakMemBytes, m.peakExecutionMemory)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        executionKey(s.executionId) = keyOfGroup(s.jobGroupId.orNull)
      }
      case u: SparkListenerSQLAdaptiveExecutionUpdate => Tracer.this.synchronized {
        aqeUpdates(u.executionId) = aqeUpdates.getOrElse(u.executionId, 0) + 1
      }
      case end: SparkListenerSQLExecutionEnd =>
        PerfbenchAccess.queryExecution(end).foreach(qe => executionEnded(end.executionId, qe))
      case _ =>
    }
  }

  /** Plan-layer counters of one finished SQL execution: planning phase
    * times, exchanges and kernel expressions in the final (adaptive) plan,
    * and the number of adaptive re-plans it went through. */
  private def executionEnded(id: Long, qe: QueryExecution): Unit = {
    val plan = qe.executedPlan
    val exchanges = collectWithSubqueries(plan) { case x: Exchange => x }.size
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    val kernel = usesKernel(plan)
    synchronized {
      val s = statsOf(executionKey.getOrElse(id, "unattributed"))
      s.queries += 1
      s.exchanges += exchanges
      s.aqeReplans += aqeUpdates.remove(id).getOrElse(0)
      if (kernel) s.kernelQueries += 1
      s.analysisMs += phases.getOrElse("analysis", 0L)
      s.optimizationMs += phases.getOrElse("optimization", 0L)
      s.planningMs += phases.getOrElse("planning", 0L)
    }
  }

  def enable(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(listener)
    on = true
  }

  def disable(): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    on = false
  }

  def enabled: Boolean = on

  /** Run `body` inside a span; a no-op wrapper while tracing is off. */
  def span[T](name: String, op: Int)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), op,
        System.nanoTime() - t0)
      spans += s
      stack.push(s)
      sc.setJobGroup(groupPrefix + s.id, name, interruptOnCancel = false)
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      try body
      finally {
        s.codegenCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
        s.end = System.nanoTime() - t0
        stack.pop()
        stack.headOption match {
          case Some(p) => sc.setJobGroup(groupPrefix + p.id, p.name, interruptOnCancel = false)
          case None    => sc.clearJobGroup()
        }
      }
    }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = PerfbenchAccess.drain(spark.sparkContext)

  /** Spans with their own counters, then the unattributed counters. */
  def snapshot(): (Seq[Map[String, Any]], Map[String, Any]) = {
    drain()
    synchronized {
      val rows = spans.toSeq.map { s =>
        Map[String, Any]("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
          "start_ms" -> s.start / 1e6, "end_ms" -> s.end / 1e6,
          "codegen_compiles" -> s.codegenCompiles,
          "stats" -> stats.get(s.id.toString).map(_.toMap).getOrElse(new SpanStats().toMap))
      }
      (rows, stats.get("unattributed").map(_.toMap).getOrElse(new SpanStats().toMap))
    }
  }
}
