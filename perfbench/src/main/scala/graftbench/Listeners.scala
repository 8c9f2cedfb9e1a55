package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** What one Spark job did, summed over its tasks. `span` is the bench call
 *  whose tag the job carried (0 = none). */
final class JobRec(val id: Int, val span: Int, val startMs: Long, val sqlExec: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputRecords = 0L
}

/** One finished SQL query execution: Catalyst phase times, exchange count
 *  and the graft scan's driver metrics, read from the executed plan. */
final case class QueryRec(
    id: Long, startMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long,
    exchanges: Int, filesListed: Long, filesPlanned: Long, bytesPlanned: Long,
    rowsScanned: Long)

/** Bench-owned Spark listener: jobs, stages and tasks by job tag. */
class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  /** SQL execution id → bench span, from the tags the execution started with. */
  val execSpan = mutable.Map.empty[Long, Int]

  private def spanOf(tags: Iterable[String]): Int =
    tags.collectFirst { case t if t.startsWith(Trace.TagPrefix) =>
      t.stripPrefix(Trace.TagPrefix).toInt }.getOrElse(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val rec = new JobRec(e.jobId, spanOf(tags), e.time, exec)
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (job <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      job.tasks += 1
      job.taskMs += m.executorRunTime
      job.cpuNs += m.executorCpuTime
      job.gcMs += m.jvmGCTime
      job.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      job.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      job.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      job.inputRecords += m.inputMetrics.recordsRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execSpan(s.executionId) = spanOf(s.jobTags)
    }
    case _ =>
  }
}

/** Bench-owned query listener: one [[QueryRec]] per successful execution. */
class QueryListener extends QueryExecutionListener {
  val queries = mutable.ArrayBuffer.empty[QueryRec]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    val start = phases.values.map(_.startTimeMs).minOption.getOrElse(0L)
    val nodes = QueryListener.allNodes(qe.executedPlan)
    def metric(n: String): Long =
      nodes.flatMap(_.metrics.get(n)).map(_.value).sum
    val scans = nodes.filter(_.metrics.contains("graftFilesPlanned"))
    val rec = QueryRec(qe.id, start, ms("analysis"), ms("optimization"), ms("planning"),
      nodes.count(_.isInstanceOf[Exchange]),
      metric("graftFilesListed"), metric("graftFilesPlanned"), metric("graftBytesPlanned"),
      scans.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum)
    synchronized { queries += rec }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object QueryListener {
  /** Every node of a physical plan, looking through adaptive wrappers,
   *  query stages and subqueries. */
  def allNodes(plan: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other =>
        out += other
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }
}
