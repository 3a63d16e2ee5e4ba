package graft

/** [[QueryMetrics.measure]] drains the listener bus instead of waiting for
  * a counter to stop moving, so back-to-back measurements with no pause
  * must agree exactly and must not leak events into each other.
  */
class QueryMetricsSpec extends SparkSpec {

  private def shuffleJob(): Unit =
    spark.range(0, 200000).repartition(4).write.format("noop").mode("overwrite").save()

  test("20 back-to-back measurements of one job report the same jobs and shuffle bytes") {
    val snaps = (1 to 20).map(_ => QueryMetrics.measure(spark)(shuffleJob())._2)
    val seen = snaps.map(s => (s.jobs.size, s.shuffleWriteBytes)).distinct
    assert(seen.size == 1, s"measurements disagree: $seen")
    val (jobs, bytes) = seen.head
    assert(jobs >= 1 && bytes > 0, s"$jobs jobs, $bytes shuffle bytes")
    assert(snaps.forall(_.jobs.forall(j => j.end >= j.start && j.tasks > 0)))
  }

  test("a body that runs no action reports no jobs and no bytes") {
    val (df, s) = QueryMetrics.measure(spark)(spark.range(0, 1000).repartition(4))
    assert(df.rdd.getNumPartitions == 4)
    assert(s.jobs.isEmpty && s.shuffleWriteBytes == 0 && s.inputRecords == 0 && s.cpuNs == 0, s"$s")
  }

  test("executor CPU is positive and at most wall time times the session's 4 cores") {
    val t0 = System.nanoTime()
    val s = QueryMetrics.measure(spark)(shuffleJob())._2
    val wallNs = System.nanoTime() - t0
    assert(s.cpuNs > 0 && s.cpuNs <= wallNs * 4, s"cpu ${s.cpuNs} ns, wall $wallNs ns")
  }
}
