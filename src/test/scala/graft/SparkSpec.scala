package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session — Test/fork),
  * built by the same [[Sessions.build]] the driver mains use, at a fixed
  * local[4] so suite results do not depend on the host's core count.
  */
object TestSession {
  lazy val spark: SparkSession = Sessions.build("4")
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sfDir: String = TestSession.sfDir
  def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-$name").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** Total shuffle-write bytes across all stages of `action` (the measured
    * backbone of ShuffleBudgetSpec/RuntimeFilterSpec). Listener delivery is
    * async, so poll until the sum stabilizes.
    */
  protected def shuffleBytes(action: => Unit): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        acc.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      var prev = -1L
      var tries = 0
      while (acc.get != prev && tries < 50) { prev = acc.get; Thread.sleep(100); tries += 1 }
    } finally spark.sparkContext.removeSparkListener(listener)
    acc.get
  }
}
