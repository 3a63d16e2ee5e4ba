package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Perf gate: times every declared query at SPARK_GRAFT_SF_DIR on
  * [[Sessions.hostCpus]] cores and prints one JSON line, the gate's record.
  * SPARK_GRAFT_BENCH_KEYS (comma-separated) restricts the run to a subset.
  *
  * Every key is timed by [[timeKey]]: its query is built and its full
  * result written to Spark's `noop` sink, so the time is the cost of the
  * result, not of a plan Catalyst pruned for `count()`.
  *
  * Passes: one untimed warm-up sweep (JIT and codegen class loading say
  * nothing about plan quality), then up to three timed sweeps, each
  * covering every key before any key runs again, so the samples of one key
  * are minutes apart and one slow host phase hits at most one of them. The
  * estimate is the median of three samples; a key whose first two samples
  * are both under 1 s skips the third sweep and reports the min of two
  * (residual JIT and slow-phase outliers are always high, and these keys
  * carry little of the total).
  *
  * Wall-clock budget: the run aims to end within 1500 s. The warm-up is
  * capped at 30 % of it; before each timed sweep the measured cost of the
  * last one is checked against what is left, and a sweep that would not
  * fit is shed (3 → 2 → 1 sweeps), keeping a fixed reserve for the record.
  * After every sweep the estimates so far go to bench.json and to a compact
  * stdout line, so a killed run still leaves a parseable record in the
  * last 2000 chars of stdout, the window the gate's caller parses.
  *
  * A query failure counts only while the SparkContext is alive; a dead
  * context aborts at once with the partial record. Failed queries are left
  * out of the total and listed in `"failures"`.
  */
object Bench {
  /** Thrown (as a control signal, not an error) when a query fails because
    * the SparkContext itself is gone — external kill or fatal executor
    * error. Everything after it would be a spurious failure. */
  private object ContextDead extends RuntimeException("SparkContext shut down")

  /** Builds `df` and writes its full result to the `noop` sink inside
    * [[QueryMetrics.measure]]; returns the wall seconds of build and write
    * with the run's snapshot, or None if the query failed. `count()` is no
    * substitute: Catalyst prunes the plan under it (agg_corr_exact at sf0.1
    * on 4 cores: 0.22 s against 7.5 s). Throws [[ContextDead]] when the
    * failure is the SparkContext stopping. */
  private[graft] def timeKey(spark: SparkSession, df: => DataFrame)
      : Option[(Double, QueryMetrics.Snapshot)] =
    try {
      Some(QueryMetrics.measure(spark) {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      })
    } catch {
      case _: Throwable =>
        if (spark.sparkContext.isStopped) throw ContextDead
        None
    }

  /** Median for 3+ samples; the min for 2 (outliers are always high, so
    * on two samples the min tracks the median of three where the mean
    * would inflate every sub-second key); the sample itself for 1. */
  private def estimate(xs: List[Double]): Double = {
    val s = xs.sorted
    if (s.size <= 2) s.head
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** A >3× spread between a key's fastest and slowest sample is the
    * signature of a slow host phase, not of the plan; the estimate already
    * discards it, the record only names it. The 0.5 s floor keeps
    * millisecond jitter of tiny runs out. */
  private def isThrottled(xs: List[Double]): Boolean =
    xs.nonEmpty && xs.max > 0.5 && xs.max / xs.min > 3.0

  private val budgetSec = 1500.0
  private val reserveSec = 15.0 // final record write and session stop
  private val fastCut = 1.0 // below this, 2 samples suffice (see scaladoc)

  /** The record's `pass` text: what each key's estimate is, given the
    * number of timed sweeps the run finished. A run on few cores sheds
    * sweep 3 at the full catalog, and its estimates are then mins of 2. */
  private[graft] def passText(sweepsDone: Int): String = {
    val what = sweepsDone match {
      case n if n <= 1 => "1 warm sample per key"
      case 2 => "min of 2 interleaved warm sweeps"
      case _ => s"median of 3 interleaved warm sweeps (min of 2 for sub-${fastCut}s keys)"
    }
    s"$what into the noop sink, after 1 warm-up sweep"
  }

  def main(args: Array[String]): Unit = {
    val wallT0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - wallT0) / 1e9
    def remaining: Double = budgetSec - elapsed
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.hostCpus
    val names = sys.env.get("SPARK_GRAFT_BENCH_KEYS") match {
      case Some(ks) =>
        val want = ks.split(',').map(_.trim).filter(_.nonEmpty)
        val unknown = want.filterNot(SparkEntry.queries.contains)
        require(unknown.isEmpty, s"unknown bench keys: ${unknown.mkString(",")}")
        want.toSeq
      case None => SparkEntry.queries.keys.toSeq
    }
    val spark = Sessions.build(cpus)
    def run(k: String) = timeKey(spark, SparkEntry.queries(k)(spark, sfDir))

    val samples = mutable.LinkedHashMap.empty[String, List[Double]].withDefaultValue(Nil)
    val errors = mutable.LinkedHashSet.empty[String]
    // Sweep 1's snapshot per key (a degraded run always finishes sweep 1):
    // shuffle bytes are the scale signal, jobs and CPU the first layers.
    val firstRun = mutable.Map.empty[String, QueryMetrics.Snapshot]
    val sheds = mutable.ArrayBuffer.empty[String]
    var sweepsDone = 0
    def measured: Seq[String] = names.filter(k => samples(k).nonEmpty && !errors(k))
    def r3(x: Double) = math.rint(x * 1000) / 1000
    def str(s: String) = "\"" + s + "\""
    def obj(kvs: Seq[(String, Any)]) = kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
    def arr(xs: Iterable[String]) = xs.map(str).mkString("[", ",", "]")

    /** Writes the full record to bench.json and a compact line (sized to
      * a 2000-char stdout tail) to stdout. Called after every
      * sweep, on abort, and at the end — the last call wins both channels. */
    def emit(phase: String, aborted: Option[String]): Unit = {
      val est = measured.map(k => k -> estimate(samples(k))).toMap
      val total = est.values.sum
      val throttled = arr(measured.filter(k => isThrottled(samples(k))))
      val failures = arr(errors)
      val abortedJson = aborted.map(str).getOrElse("null")
      val snaps = measured.flatMap(k => firstRun.get(k).map(k -> _))
      val passDesc = passText(sweepsDone)
      val line =
        s"""{"metric":"total","value":$total,"unit":"sec",""" +
          s""""queries":${obj(names.map(k => k -> est.get(k).fold("null")(_.toString)))},""" +
          s""""sf":"$sfDir","cpus":$cpus,"pass":"$passDesc","n_queries":${names.size},""" +
          s""""value_normalized":$total,"phase":"$phase","sweeps_done":$sweepsDone,""" +
          s""""budget_sec":$budgetSec,"elapsed_sec":${r3(elapsed)},"sheds":${arr(sheds)},""" +
          s""""aborted":$abortedJson,"passes":${obj(measured.map(k => k -> samples(k).map(r3).mkString("[", ",", "]")))},""" +
          s""""shuffle_bytes":${obj(snaps.map { case (k, m) => k -> m.shuffleWriteBytes })},""" +
          s""""jobs":${obj(snaps.map { case (k, m) => k -> m.jobs.size })},""" +
          s""""cpu_s":${obj(snaps.map { case (k, m) => k -> r3(m.cpuNs / 1e9) })},""" +
          s""""throttled":$throttled,"failures":$failures}"""
      Files.writeString(Paths.get("bench.json"), line + "\n")
      // The caller parses a JSON line out of the last 2000 chars of stdout,
      // which the full line above outgrows, so stdout gets a compact variant:
      // the slowest keys first, as many as a 1700-char budget allows.
      val head =
        s"""{"metric":"total","value":${r3(total)},"unit":"sec","sf":"$sfDir","cpus":$cpus,""" +
          s""""n_queries":${names.size},"pass":"$passDesc","detail":"bench.json",""" +
          s""""phase":"$phase","sweeps_done":$sweepsDone,"aborted":$abortedJson,""" +
          s""""value_normalized":${r3(total)},"canary_drift":null,""" +
          s""""throttled":$throttled,"failures":$failures,"queries":{"""
      val budget = 1700
      val kept = mutable.ArrayBuffer.empty[String]
      var len = head.length + 40 // closing braces + queries_omitted suffix
      est.toSeq.sortBy { case (k, t) => (-t, k) }.foreach { case (k, t) =>
        val entry = str(k) + ":" + r3(t)
        if (len + entry.length + 1 <= budget) { kept += entry; len += entry.length + 1 }
      }
      println(head + kept.mkString(",") + s"""},"queries_omitted":${est.size - kept.size}}""")
      System.out.flush()
    }

    try {
      // Warm-up, capped at 30 % of the budget (two interleaved timed sweeps
      // beat one fully warmed sweep: min-of-2 and median-of-3 discard a
      // cold sample, a lone sample discards nothing). Its wall time is the
      // first estimate of a sweep's cost, on the high side since it pays
      // the one-time codegen.
      val warmCap = math.min(0.3 * budgetSec, 480.0)
      val warmT0 = elapsed
      val warmIt = names.iterator
      var warmed = 0
      while (warmIt.hasNext && elapsed - warmT0 < warmCap) { run(warmIt.next()); warmed += 1 }
      if (warmed < names.size)
        sheds += s"warmup:${names.size - warmed} of ${names.size} keys unwarmed (cap ${warmCap.toInt}s)"
      var sweepCost = (elapsed - warmT0) * names.size / math.max(1, warmed)

      var halted = false
      for (p <- 1 to 3 if !halted) {
        // sweep 3 only re-times keys with a sample >= fastCut (or that lost
        // a sample to a mid-sweep halt)
        val due = names.filter { k =>
          !errors(k) && (p < 3 || samples(k).size < 2 || samples(k).exists(_ >= fastCut))
        }
        // the upcoming sweep's cost ≈ the last sweep's, scaled by the due
        // keys' share of measured time (not count: sweep 3's due keys are
        // exactly the slow ones)
        val timeShare = {
          val all = measured.map(k => estimate(samples(k))).sum
          val dueT = due.filter(k => samples(k).nonEmpty).map(k => estimate(samples(k))).sum
          if (all > 0 && due.size < names.size) math.min(1.0, dueT / all) else 1.0
        }
        if (p > 1 && remaining < sweepCost * timeShare * 1.1 + reserveSec) {
          sheds += s"sweep$p:budget"
          halted = true
        } else {
          val sweepT0 = elapsed
          if (p == 3 && due.size < names.size)
            sheds += s"sweep3:${names.size - due.size} sub-${fastCut}s keys kept 2 samples"
          val it = due.iterator
          while (it.hasNext && !halted) {
            val k = it.next()
            if (remaining < reserveSec) {
              sheds += s"sweep$p:halted mid-sweep at $k"
              halted = true
            } else run(k) match {
              case Some((t, m)) =>
                samples(k) = samples(k) :+ t
                if (p == 1) firstRun(k) = m
              case None => errors += k
            }
          }
          if (!halted) {
            sweepsDone = p
            sweepCost = elapsed - sweepT0
          }
          emit(s"partial:sweep$p", None)
        }
      }
      emit("final", None)
      spark.stop()
    } catch {
      case ContextDead =>
        // SIGTERM or fatal context loss: the remaining queries would all be
        // spurious failures. Write what we have.
        emit("aborted", Some("context-shutdown"))
        sys.exit(3)
    }
  }
}
