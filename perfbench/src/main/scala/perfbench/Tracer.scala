package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did in one window (a pass or a micro-batch), read from
  * the public listener APIs. Times are epoch milliseconds. */
final case class Window(
    jobs: Int, buildJobs: Int,
    stages: Seq[(String, Long, Long)], // (job group, submitted, completed)
    tasks: Int, taskMs: Long, scanTasks: Int, scanTaskMs: Long, inputBytes: Long,
    outputBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long, fetchWaitMs: Long, catalystMs: Long, codegenCompiles: Long)

/** Collects per-window Spark activity for the traced run. Registered
  * only when tracing is on, so the timed run carries no listener of
  * the benchmark's own. Stages are attached to the query that ran
  * them through the job-group property the workloads set. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobGroup = mutable.Map[Int, String]()   // stage id -> job group
  private var jobs, buildJobs, tasks, scanTasks = 0
  private var taskMs, scanTaskMs, inputBytes, outputBytes, shuffleRead, shuffleWrite,
    spill, fetchWait, catalystMs = 0L
  private val stages = mutable.ArrayBuffer[(String, Long, Long)]()
  private var compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs += 1
    if (group.endsWith(Tracer.Build)) buildJobs += 1
    e.stageIds.foreach(id => jobGroup(id) = group)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stages += ((jobGroup.getOrElse(i.stageId, ""), s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    tasks += 1
    if (m != null) {
      taskMs += m.executorRunTime
      if (m.inputMetrics.bytesRead > 0) {
        scanTasks += 1
        scanTaskMs += m.executorRunTime
        inputBytes += m.inputMetrics.bytesRead
      }
      outputBytes += m.outputMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      fetchWait += m.shuffleReadMetrics.fetchWaitTime
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    catalystMs += qe.tracker.phases.values.map(_.durationMs).sum
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  /** Drain the listener bus, then return and reset what the window since
    * the last call recorded. */
  def take(): Window = {
    Bus.settle(spark.sparkContext)
    synchronized {
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val w = Window(jobs, buildJobs, stages.toList, tasks, taskMs, scanTasks, scanTaskMs,
        inputBytes, outputBytes, shuffleRead, shuffleWrite, spill, fetchWait, catalystMs,
        compiles - compiles0)
      jobs = 0; buildJobs = 0; tasks = 0; scanTasks = 0
      taskMs = 0; scanTaskMs = 0; inputBytes = 0; outputBytes = 0; shuffleRead = 0
      shuffleWrite = 0; spill = 0; fetchWait = 0; catalystMs = 0
      stages.clear(); jobGroup.clear()
      compiles0 = compiles
      w
    }
  }
}

object Tracer {
  /** Job-group suffixes: a query's DataFrame build and its execution. */
  val Build = "/build"
  val Exec = "/exec"
}
