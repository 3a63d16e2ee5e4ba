package graft

/** Dev instrument, not part of the driver contract: times declared keys
  * under a session-conf variant and lists their driver jobs. Each run is
  * written to the `noop` sink, since `count()` lets Catalyst prune the
  * query's work (agg_corr_exact at sf0.1, 4 cores: 0.22 s vs 7.5 s). One
  * warm-up round per key and variant, then three interleaved base/conf
  * rounds; prints per key and variant the median wall time and the last
  * run's [[QueryMetrics.Snapshot]], then the last base run's jobs.
  *
  * Usage: runMain graft.Probe <sfDir> <confKey=val[,key=val...]|-> <key> [key...]
  *   ("-" = no conf override, i.e. a plain A/A control)
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val confs = args(1).split(',').toSeq.filter(_ != "-").map(_.split("=", 2))
      .map { case Array(k, v) => (k, v) }
    val keys = args.drop(2).toSeq
    val spark = Sessions.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), "ERROR")
    val base = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    def setAll(on: Boolean): Unit =
      if (on) confs.foreach { case (k, v) => spark.conf.set(k, v) }
      else base.foreach { case (k, ov) => ov.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    val runs = for (round <- 0 to 3; variant <- Seq("base", "conf"); k <- keys) yield {
      setAll(variant == "conf")
      val (secs, m) = QueryMetrics.measure(spark) {
        val t0 = System.nanoTime()
        SparkEntry.queries(k)(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      setAll(false)
      (round, variant, k, secs, m)
    }
    for (k <- keys; variant <- Seq("base", "conf")) {
      val rs = runs.filter(r => r._1 > 0 && r._2 == variant && r._3 == k)
      val (ts, m) = (rs.map(_._4).sorted, rs.last._5)
      println(f"$k%-28s $variant med=${ts(1)}%6.2f s (${ts.map(t => f"$t%.2f").mkString(",")})  " +
        f"jobs=${m.jobs.size} shuffle_write=${m.shuffleWriteBytes} B " +
        f"input_records=${m.inputRecords} cpu=${m.cpuNs / 1e9}%.2f s")
    }
    keys.foreach { k =>
      val jobs = runs.filter(r => r._2 == "base" && r._3 == k).last._5.jobs
      println(s"[probe] $k: ${jobs.size} jobs in the last base run")
      jobs.zip(0L +: jobs.map(_.end)).foreach { case (j, prevEnd) =>
        val gap = if (prevEnd == 0) 0.0 else (j.start - prevEnd) / 1e3
        val site = j.stages.lastOption.map(_.takeWhile(_ != '\n')).getOrElse("?")
        println(f"  job ${j.id}%4d  ${(j.end - j.start) / 1e3}%7.3fs  gap=$gap%7.3fs " +
          f"tasks=${j.tasks}%4d  $site")
      }
    }
    spark.stop()
  }
}
