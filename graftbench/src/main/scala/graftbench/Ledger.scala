package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's own record of what Spark did during a traced phase.
  *
  * Stages are attributed to jobs through `SparkListenerJobStart.stageIds`
  * (never "the job that started last", which misattributes stages as
  * soon as two actions overlap). A job is attributed to a graft module
  * through its SQL execution's call site — or, for plain RDD jobs, its
  * first stage's call site — taking the innermost `graft.*` frame.
  *
  * Everything is kept in memory; callers read totals after draining the
  * listener bus ([[Ledger.drain]]). */
final class Ledger(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Ledger._

  case class Job(id: Int, start: Long, var end: Long, module: String, group: Option[String])
  case class Stage(id: Int, jobId: Int, submitted: Long, completed: Long, module: String)

  private val sqlCallSites = mutable.Map.empty[Long, String]
  private val stageToJob = mutable.Map.empty[Int, Int]
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.ArrayBuffer.empty[Stage]

  var jobsStarted = 0L
  var inputRecords = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  /** Per query execution: (planning ms over the tracker phases, files
    * read by its scans). Drained by the caller between client ops. */
  val queryExecs = mutable.ArrayBuffer.empty[(Double, Long)]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlCallSites(s.executionId) = s.details
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val sqlSite = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => sqlCallSites.get(id.toLong))
    val site = sqlSite.orElse(e.stageInfos.sortBy(_.stageId).headOption.map(_.details))
      .getOrElse("")
    e.stageIds.foreach(s => stageToJob.getOrElseUpdate(s, e.jobId))
    jobsStarted += 1
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, moduleOf(site),
      props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val jobId = stageToJob.getOrElse(info.stageId, -1)
    stages += Stage(info.stageId, jobId, info.submissionTime.getOrElse(0L),
      info.completionTime.getOrElse(0L),
      jobs.get(jobId).map(_.module).getOrElse("unattributed"))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      taskRunMs += m.executorRunTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      inputRecords += m.inputMetrics.recordsRead
      outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val planningMs = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
      queryExecs += planningMs -> filesRead(qe.executedPlan)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private case class Snapshot(jobs: Long, stages: Int, queryExecs: Int, tasks: Long,
                                    taskRunMs: Long, shuffle: Long, spill: Long,
                                    input: Long, records: Long, output: Long)

  private def snapshot(): Snapshot = synchronized {
    Snapshot(jobsStarted, stages.size, queryExecs.size, tasks, taskRunMs,
      shuffleWriteBytes, spillBytes, inputBytes, inputRecords, outputBytes)
  }

  /** Call before an operation; the returned function, called after it,
    * yields the Spark work the operation caused: its planning time, the
    * files its scans read, its driver gap and its stage seconds per
    * attributed module (`stage_s:<module>`). */
  def measure(): () => Map[String, Double] = {
    drain(spark)
    val s0 = snapshot()
    val t0 = System.currentTimeMillis()
    () => {
      drain(spark)
      val t1 = System.currentTimeMillis()
      val s1 = snapshot()
      val (newStages, newExecs) = synchronized {
        (stages.slice(s0.stages, s1.stages).toSeq, queryExecs.slice(s0.queryExecs, s1.queryExecs).toSeq)
      }
      val mb = 1e6
      Map("jobs" -> (s1.jobs - s0.jobs).toDouble,
        "stages" -> newStages.size.toDouble,
        "tasks" -> (s1.tasks - s0.tasks).toDouble,
        "task_run_s" -> (s1.taskRunMs - s0.taskRunMs) / 1e3,
        "shuffle_write_mb" -> (s1.shuffle - s0.shuffle) / mb,
        "spill_mb" -> (s1.spill - s0.spill) / mb,
        "input_mb" -> (s1.input - s0.input) / mb,
        "input_records" -> (s1.records - s0.records).toDouble,
        "output_mb" -> (s1.output - s0.output) / mb,
        "planning_ms" -> newExecs.map(_._1).sum,
        "files_read" -> newExecs.map(_._2).sum.toDouble,
        "driver_gap_s" -> driverGapSeconds(t0, t1)) ++
        newStages.groupBy(_.module).map { case (m, ss) =>
          s"stage_s:$m" -> ss.map(s => (s.completed - s.submitted).max(0L)).sum / 1e3
        }
    }
  }

  /** Seconds in [from, to] (epoch ms) during which no job was running. */
  def driverGapSeconds(from: Long, to: Long): Double = synchronized {
    val spans = jobs.values.filter(_.end > 0)
      .map(j => (j.start.max(from), j.end.min(to))).filter(s => s._1 < s._2)
      .toSeq.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    spans.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = curE.max(e)
    }
    if (curE > curS) covered += curE - curS
    ((to - from) - covered) / 1000.0
  }

}

object Ledger extends AdaptiveSparkPlanHelper {

  private val graftFrame = """(?:^|[\s/])(graft\.[\w$.]+)\.[\w$]+\(""".r

  /** Module of the innermost `graft.*` frame in a call-site long form. */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.flatMap(l => graftFrame.findFirstMatchIn(l.trim).map(_.group(1)))
      .nextOption().map(moduleOfClass).getOrElse("client")

  def moduleOfClass(cls: String): String = {
    val c = cls.stripSuffix("$").takeWhile(_ != '$')
    c.split('.').toList match {
      case "graft" :: "operators" :: op :: _ => "operators." + snake(op)
      case "graft" :: "sources" :: _ => "sources"
      case "graft" :: "schema" :: _ => "schema"
      case "graft" :: "pipeline" :: _ => "pipeline"
      case "graft" :: "plans" :: _ => "plans"
      case "graft" :: "LongTable" :: Nil => "longtable"
      case _ => "other"
    }
  }

  private def snake(s: String): String =
    s.replaceAll("([a-z0-9])([A-Z])", "$1_$2").toLowerCase

  private def filesRead(plan: SparkPlan): Long =
    collect(plan) { case s: FileSourceScanExec => s }
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum

  /** Block until every event posted so far has reached every listener. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
}
