package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Dev instrument (r16): run one declared query and print its job count,
  * wall time and every driver job's call site, duration and task count —
  * the "where do the 100+ jobs of the semantic keys come from" question.
  * The query is fully materialized into the `noop` sink: a `count()` lets
  * Catalyst prune the query's own work (agg_corr_exact at sf0.1 on a
  * 4-core host: 0.22 s under `count()`, 7.5 s materialized). Not part of
  * the driver contract.
  *
  * Usage: runMain graft.JobTrace <key> [sfDir]
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val key = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Sessions.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), "ERROR")
    val q = SparkEntry.queries(key)
    def run(): Unit = q(spark, sfDir).write.format("noop").mode("overwrite").save()
    run() // warm-up: fills session caches, JIT
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String, Int)]()
    val jobEnd = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        // the final stage's name carries the action's call site
        val site = j.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')).getOrElse("?")
        val tasks = j.stageInfos.map(_.numTasks).sum
        jobs.add((j.jobId, j.time, site, tasks))
        ()
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        jobEnd.put(e.jobId, e.time)
        ()
      }
    })
    val t0 = System.nanoTime()
    run()
    val secs = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500)
    import scala.jdk.CollectionConverters._
    val all = jobs.asScala.toSeq.sortBy(_._1)
    println(f"[jobtrace] $key: ${all.size} jobs in $secs%.2f s")
    var prevEnd = 0L
    all.foreach { case (id, start, site, tasks) =>
      val end = Option(jobEnd.get(id)).map(_.longValue).getOrElse(start)
      val gap = if (prevEnd == 0) 0.0 else (start - prevEnd) / 1e3
      prevEnd = end
      println(f"  job $id%4d  ${(end - start) / 1e3}%7.3fs  gap=$gap%7.3fs tasks=$tasks%4d  $site")
    }
    spark.stop()
  }
}
