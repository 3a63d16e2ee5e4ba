package graft

import org.apache.spark.sql.functions.desc

/** [[Bench.timeKey]] times a key's full result, not a plan Catalyst pruned
  * for `count()`, and returns a snapshot of the work it ran; the record's
  * `pass` text says which estimate the finished sweeps give.
  */
class BenchSpec extends SparkSpec {
  test("timeKey writes the sort that count() lets the optimizer drop") {
    val df = spark.range(200000).orderBy(desc("id")).toDF()
    val countBytes = QueryMetrics.measure(spark)(df.count())._2.shuffleWriteBytes
    val (_, m) = Bench.timeKey(spark, df).get
    assert(m.shuffleWriteBytes > 0 && m.shuffleWriteBytes >= 10 * countBytes,
      s"timeKey wrote ${m.shuffleWriteBytes} shuffle bytes, count() $countBytes")
  }

  test("a key that ran reports at least one job and 0 < CPU-s <= wall x cores") {
    val (secs, m) = Bench.timeKey(spark, SparkEntry.queries("agg_groupby_pricing")(spark, sfDir)).get
    val cores = spark.sparkContext.defaultParallelism
    assert(m.jobs.nonEmpty, s"$m")
    assert(m.cpuNs > 0 && m.cpuNs / 1e9 <= secs * cores, s"cpu ${m.cpuNs} ns, wall $secs s, $cores cores")
  }

  test("the pass text names the estimate that the finished sweeps give") {
    assert(Bench.passText(1) == "1 warm sample per key into the noop sink, after 1 warm-up sweep")
    assert(Bench.passText(2) == "min of 2 interleaved warm sweeps into the noop sink, after 1 warm-up sweep")
    assert(Bench.passText(3) == "median of 3 interleaved warm sweeps (min of 2 for sub-1.0s keys) " +
      "into the noop sink, after 1 warm-up sweep")
  }

  test("a query that fails on a live context is None, not a time") {
    assert(Bench.timeKey(spark, spark.table("graft_no_such_table")).isEmpty)
    assert(!spark.sparkContext.isStopped)
  }
}
