package graft

import org.apache.spark.GraftBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The one metrics listener (CatalogSpec fails on any other): Bench, Probe
  * and the byte-budget specs measure through [[QueryMetrics.measure]]. The
  * bus is drained before the listener is added and before it is read, so a
  * snapshot holds exactly the events posted while the body ran.
  */
object QueryMetrics {
  /** One driver job: scheduler times in epoch ms (`end` = `start` if the
    * job never ended), tasks summed over its stages, stage names (the last
    * one carries the action's call site). */
  final case class Job(id: Int, start: Long, end: Long, tasks: Int, stages: Seq[String])

  /** Counters sum `stageInfo.taskMetrics` of every stage that completed. */
  final case class Snapshot(
      jobs: Seq[Job], shuffleWriteBytes: Long, inputRecords: Long, cpuNs: Long)

  def measure[A](spark: SparkSession)(body: => A): (A, Snapshot) = {
    val sc = spark.sparkContext
    val c = new Collector
    GraftBus.drain(sc)
    sc.addSparkListener(c)
    try {
      val a = body
      GraftBus.drain(sc)
      (a, c.snapshot)
    } finally sc.removeSparkListener(c)
  }

  private final class Collector extends SparkListener {
    private val jobs = mutable.Map[Int, Job]()
    private var shuffle, records, cpu = 0L
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      val stages = j.stageInfos
      jobs(j.jobId) = Job(j.jobId, j.time, j.time, stages.map(_.numTasks).sum, stages.map(_.name))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(j.jobId).foreach(r => jobs(j.jobId) = r.copy(end = j.time))
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      val m = s.stageInfo.taskMetrics
      shuffle += m.shuffleWriteMetrics.bytesWritten
      records += m.inputMetrics.recordsRead
      cpu += m.executorCpuTime
    }
    def snapshot: Snapshot =
      synchronized(Snapshot(jobs.values.toSeq.sortBy(_.id), shuffle, records, cpu))
  }
}
