package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the scheduler reported it; times are epoch ms. */
final case class JobRec(id: Int, group: String, start: Long, end: Long)

/** What the tracer saw between two [[Tracer.take]] calls. */
final case class Window(
    jobs: Seq[JobRec],
    stages: Int,
    tasks: Long,
    cpuNs: Long,
    runMs: Long,
    straggleMs: Long,
    peakMemBytes: Long,
    shuffleWrite: Long,
    shuffleRead: Long,
    fetchWaitMs: Long,
    spillBytes: Long,
    inputBytes: Long,
    inputRows: Long,
    aqeUpdates: Int,
    executions: Int,
    analysisMs: Long,
    optimizationMs: Long,
    planningMs: Long)

/** Reads the public scheduler and SQL listener events of one session and
  * folds them into a [[Window]]. Registered only for traced passes; the
  * runner drains the listener bus before each [[take]], so a window holds
  * exactly the events of the key that just ran.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val starts = mutable.Map[Int, (String, Long)]()
  private val jobs = mutable.ArrayBuffer[JobRec]()
  private val taskRun = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()
  private var stages, aqe, execs = 0
  private var tasks, cpuNs, runMs, straggleMs, peakMem = 0L
  private var shW, shR, fetchMs, spill, inB, inR = 0L
  private var anaMs, optMs, planMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    starts(e.jobId) = (group.getOrElse(""), e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).foreach { case (g, t) => jobs += JobRec(e.jobId, g, t, e.time) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    Option(e.taskMetrics).foreach { m =>
      taskRun.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer()) +=
        m.executorRunTime
      peakMem = math.max(peakMem, m.peakExecutionMemory)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stages += 1
    tasks += info.numTasks
    taskRun.remove((info.stageId, info.attemptNumber())).filter(_.nonEmpty).foreach { ts =>
      val sorted = ts.sorted
      straggleMs += sorted.last - sorted(sorted.length / 2)
    }
    Option(info.taskMetrics).foreach { m =>
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      shW += m.shuffleWriteMetrics.bytesWritten
      shR += m.shuffleReadMetrics.totalBytesRead
      fetchMs += m.shuffleReadMetrics.fetchWaitTime
      spill += m.diskBytesSpilled
      inB += m.inputMetrics.bytesRead
      inR += m.inputMetrics.recordsRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate => synchronized { aqe += 1 }
    case _ =>
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(name: String): Long = p.get(name).map(_.durationMs).getOrElse(0L)
    execs += 1
    anaMs += ms("analysis")
    optMs += ms("optimization")
    planMs += ms("planning")
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  /** Returns the events seen since the last call and starts a new window. */
  def take(): Window = synchronized {
    val w = Window(jobs.toList, stages, tasks, cpuNs, runMs, straggleMs, peakMem,
      shW, shR, fetchMs, spill, inB, inR, aqe, execs, anaMs, optMs, planMs)
    jobs.clear(); taskRun.clear()
    stages = 0; aqe = 0; execs = 0
    tasks = 0; cpuNs = 0; runMs = 0; straggleMs = 0; peakMem = 0
    shW = 0; shR = 0; fetchMs = 0; spill = 0; inB = 0; inR = 0
    anaMs = 0; optMs = 0; planMs = 0
    w
  }
}
