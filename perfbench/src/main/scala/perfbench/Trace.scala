package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * the benchmark's own spans line up with the epoch-millisecond
  * timestamps Spark puts on listener events. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Local properties the benchmark sets on its own threads; Spark copies
  * them onto every job the thread submits, which is how the listener
  * ties a job to the span (and the role) that launched it. */
object Props {
  val Span = "perfbench.span"
  val Role = "perfbench.role"
}

final case class Span(id: Long, name: String, parent: Long, start: Double,
    end: Double, attrs: Map[String, Any] = Map.empty) {
  def toMap: Map[String, Any] = Map("id" -> id, "name" -> name,
    "parent" -> parent, "start" -> start, "end" -> end) ++ attrs
}

/** In-memory span store: spans are only kept when tracing is on, and are
  * written once, at the end of the run. */
final class Spans(val enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  private val done = new ConcurrentLinkedQueue[Span]()

  def newId(): Long = ids.incrementAndGet()

  def add(id: Long, name: String, parent: Long, start: Double, end: Double,
      attrs: Map[String, Any] = Map.empty): Unit =
    if (enabled) done.add(Span(id, name, parent, start, end, attrs))

  def all: Seq[Span] = done.asScala.toSeq
}

/** Passive SparkListener: job and stage spans plus per-stage task
  * aggregates. Spark delivers events on one listener thread, so the
  * mutable state needs no locking; read it only after draining the bus. */
final class StageRecorder extends SparkListener {
  final class Job(val id: Int, val start: Double, val span: Long,
      val role: String, val stages: Seq[Int]) { var end: Double = Double.NaN }

  final class Stage(val id: Int, val job: Int, val span: Long, val role: String,
      val submit: Double) {
    var end: Double = Double.NaN
    var tasks = 0
    val runMs = mutable.ArrayBuffer.empty[Double]
    var waitMs, cpuMs, gcMs, shuffleReadB, shuffleWriteB, spillB = 0.0
    var peakMemB = 0L
  }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = prop(e.properties, Props.Span).map(_.toLong).getOrElse(0L)
    val role = prop(e.properties, Props.Role).getOrElse("")
    e.stageIds.foreach(stageJob(_) = e.jobId)
    jobs(e.jobId) = new Job(e.jobId, e.time.toDouble, span, role, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    val job = stageJob.getOrElse(i.stageId, -1)
    val span = prop(e.properties, Props.Span).map(_.toLong).getOrElse(0L)
    val role = prop(e.properties, Props.Role).getOrElse("")
    stages((i.stageId, i.attemptNumber())) = new Stage(i.stageId, job, span,
      role, i.submissionTime.getOrElse(System.currentTimeMillis()).toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      s.tasks += 1
      s.waitMs += math.max(0.0, e.taskInfo.launchTime - s.submit)
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime.toDouble
        s.cpuMs += m.executorCpuTime / 1e6
        s.gcMs += m.jvmGCTime.toDouble
        s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead.toDouble
        s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten.toDouble
        s.spillB += (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble
        s.peakMemB = math.max(s.peakMemB, m.peakExecutionMemory)
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach(s =>
      s.end = i.completionTime.getOrElse(System.currentTimeMillis()).toDouble)
  }

  def jobRecords: Seq[Map[String, Any]] = jobs.values.toSeq.map(j => Map(
    "id" -> j.id, "start" -> j.start, "end" -> j.end, "span" -> j.span,
    "role" -> j.role, "stages" -> j.stages))

  def stageRecords: Seq[Map[String, Any]] = stages.values.toSeq.map(s => Map(
    "id" -> s.id, "job" -> s.job, "span" -> s.span, "role" -> s.role,
    "start" -> s.submit, "end" -> s.end, "tasks" -> s.tasks,
    "run_ms" -> s.runMs.toSeq, "wait_ms" -> s.waitMs, "cpu_ms" -> s.cpuMs,
    "gc_ms" -> s.gcMs, "shuffle_read_b" -> s.shuffleReadB,
    "shuffle_write_b" -> s.shuffleWriteB, "spill_b" -> s.spillB,
    "peak_mem_b" -> s.peakMemB))
}

/** Planning-phase timings of every executed QueryExecution, plus the
  * write command's own metrics (commit times, files, bytes) when the
  * execution was a file write. */
final class PlanRecorder extends QueryExecutionListener {
  private val done = new ConcurrentLinkedQueue[Map[String, Any]]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    done.add(record(funcName, qe, durationNs, ok = true))

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    done.add(record(funcName, qe, 0L, ok = false))

  private def record(funcName: String, qe: QueryExecution, durationNs: Long,
      ok: Boolean): Map[String, Any] = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> Map("start" -> p.startTimeMs.toDouble, "end" -> p.endTimeMs.toDouble)
    }
    val write = scala.util.Try(qe.executedPlan.collectFirst {
      case w: DataWritingCommandExec => w
    }).toOption.flatten.map { w =>
      def metric(k: String): Long = w.cmd.metrics.get(k).map(_.value).getOrElse(0L)
      val path = w.cmd match {
        case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
        case _ => ""
      }
      Map("job_commit_ms" -> metric("jobCommitTime"),
        "task_commit_ms" -> metric("taskCommitTime"),
        "files" -> metric("numFiles"), "bytes" -> metric("numOutputBytes"),
        "rows" -> metric("numOutputRows"), "path" -> path)
    }
    Map("func" -> funcName, "ok" -> ok, "duration_ms" -> durationNs / 1e6,
      "end" -> System.currentTimeMillis().toDouble, "phases" -> phases,
      "write" -> write)
  }

  def records: Seq[Map[String, Any]] = done.asScala.toSeq
}
