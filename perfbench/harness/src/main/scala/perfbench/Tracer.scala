package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are microseconds on the harness clock;
  * `parent` is 0 for a root span.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startUs: Long, endUs: Long)

/** Work done by the tasks and jobs of one phase (one job group). */
final class PhaseCounters {
  var jobs, schemaJobs, stages, tasks, failedTasks = 0L
  var taskMs, cpuNs, schedMs = 0L
  var shuffleWrite, shuffleRead, spill, inputRecords = 0L
  var outBytes, outRecords = 0L

  def fields: Seq[(String, Long)] = Seq(
    "jobs" -> jobs, "schema_jobs" -> schemaJobs, "stages" -> stages,
    "tasks" -> tasks, "failed_tasks" -> failedTasks, "task_ms" -> taskMs,
    "cpu_ns" -> cpuNs, "sched_ms" -> schedMs,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "input_records" -> inputRecords,
    "output_bytes" -> outBytes, "output_records" -> outRecords)
}

/** Catalyst phase times and plan shape of every QueryExecution that one
  * query execution ran (construct-time actions and the materializing write),
  * and the files their file-format write commands wrote.
  */
final class PlanCounters {
  var logicalNodes, exchanges, filesWritten = 0L
  var analysisMs, optimizationMs, planningMs = 0L

  def fields: Seq[(String, Long)] = Seq(
    "analysis_ms" -> analysisMs,
    "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs,
    "logical_nodes" -> logicalNodes, "exchanges" -> exchanges,
    "files_written" -> filesWritten)
}

/** Microsecond clock shared by harness spans and Spark's millisecond event
  * times: anchored once to the wall clock, advanced by `nanoTime`.
  */
object Clock {
  private val anchorUs = System.currentTimeMillis() * 1000L
  private val anchorNs = System.nanoTime()
  def nowUs: Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L
  def ofEpochMs(ms: Long): Long = ms * 1000L
}

/** The traced run's recorder: one SparkListener (jobs, stages, tasks) and
  * one QueryExecutionListener (plan phases). Job events carry the job
  * group the harness set for the phase that launched them; plan events
  * carry none, so they go to `current`, which is valid because the
  * harness drains the listener bus after every query execution.
  * Everything stays in memory until the run ends.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val ids = new AtomicLong(0)
  val spans = mutable.ArrayBuffer.empty[Span]
  val phases = mutable.LinkedHashMap.empty[String, PhaseCounters]
  val plans = mutable.LinkedHashMap.empty[String, PlanCounters]
  private val groupSpan = mutable.Map.empty[String, Long]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobOpen = mutable.Map.empty[Int, (Long, String, String)]
  @volatile var current: String = null

  def nextId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = synchronized { spans += s }

  /** Declare the span that jobs of `group` are children of. */
  def openGroup(group: String, spanId: Long): Unit = synchronized {
    groupSpan(group) = spanId
    phases.getOrElseUpdate(group, new PhaseCounters)
  }

  private def counters(group: String): Option[PhaseCounters] =
    Option(group).flatMap(phases.get)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .map(_.getProperty(Tracer.JobGroupKey)).orNull
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    jobOpen(e.jobId) = (Clock.ofEpochMs(e.time), group, site)
    e.stageIds.foreach(stageGroup(_) = group)
    counters(group).foreach { c =>
      c.jobs += 1
      // Schema inference of an un-schema'd parquet read runs as a job
      // whose only stage is named after the `parquet` call site.
      if (e.stageInfos.headOption.exists(_.name.startsWith("parquet at")))
        c.schemaJobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOpen.remove(e.jobId).foreach { case (startUs, group, site) =>
      spans += Span(nextId(), groupSpan.getOrElse(group, 0L), "job",
        s"job ${e.jobId} $site", startUs, Clock.ofEpochMs(e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      counters(stageGroup.getOrElse(e.stageInfo.stageId, null))
        .foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    counters(stageGroup.getOrElse(e.stageId, null)).foreach { c =>
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.inputRecords += m.inputMetrics.recordsRead
        c.outBytes += m.outputMetrics.bytesWritten
        c.outRecords += m.outputMetrics.recordsWritten
        val i = e.taskInfo
        val gettingResult =
          if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
        // The Spark UI's scheduler delay: task wall not spent running,
        // deserializing, serializing the result or fetching it.
        c.schedMs += math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)

  /** The constructed frame was analyzed eagerly, outside any action the
    * listener sees; its analysis time is read here. */
  def constructed(key: String, qe: QueryExecution): Unit = {
    val ms = qe.tracker.phases.get(QueryPlanningTracker.ANALYSIS).map(_.durationMs)
    synchronized {
      plans.getOrElseUpdate(key, new PlanCounters).analysisMs += ms.getOrElse(0L)
    }
  }

  private def planned(qe: QueryExecution): Unit = {
    val key = current
    if (key == null) return
    val ph = qe.tracker.phases
    def ms(phase: String): Long = ph.get(phase).map(_.durationMs).getOrElse(0L)
    val nodes = qe.optimizedPlan.collectWithSubqueries { case p => p }.size
    val exchanges = Tracer.AqeWalk.collectWithSubqueries(qe.executedPlan) {
      case x: Exchange => x
    }.size
    // A write command runs eagerly; its plan sits inside the command result.
    val command = qe.executedPlan match {
      case c: CommandResultExec => c.commandPhysicalPlan
      case p => p
    }
    val files = Tracer.AqeWalk.collect(command) { case w: DataWritingCommandExec => w }
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum
    synchronized {
      val p = plans.getOrElseUpdate(key, new PlanCounters)
      p.analysisMs += ms(QueryPlanningTracker.ANALYSIS)
      p.optimizationMs += ms(QueryPlanningTracker.OPTIMIZATION)
      p.planningMs += ms(QueryPlanningTracker.PLANNING)
      p.logicalNodes += nodes
      p.exchanges += exchanges
      p.filesWritten += files
    }
  }
}

object Tracer {
  /** Local property holding the job group (`SparkContext.SPARK_JOB_GROUP_ID`). */
  val JobGroupKey = "spark.jobGroup.id"

  /** Walks into adaptive plans and their query stages. */
  object AqeWalk extends AdaptiveSparkPlanHelper
}
