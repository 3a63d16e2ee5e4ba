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

  /** A fresh directory under java.io.tmpdir, deleted with its contents when
    * the test JVM exits (`deleteOnExit` skips non-empty directories). */
  def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-$name")
    SparkSpec.tmpDirs.add(d)
    d.toAbsolutePath.toString
  }

  /** Total shuffle-write bytes across all stages of `action` (the measured
    * backbone of ShuffleBudgetSpec/RuntimeFilterSpec/ScalingLawSpec).
    */
  protected def shuffleBytes(action: => Unit): Long =
    QueryMetrics.measure(spark)(action)._2.shuffleWriteBytes
}

object SparkSpec {
  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  sys.addShutdownHook {
    tmpDirs.forEach { d =>
      if (java.nio.file.Files.exists(d)) {
        val paths = java.nio.file.Files.walk(d)
        try paths.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally paths.close()
      }
    }
  }
}
