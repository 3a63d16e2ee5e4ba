package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Perf gate: times every declared query at SPARK_GRAFT_SF_DIR and prints one
  * JSON line (driver contract).
  *
  * Pass discipline (r7): one untimed warm-up sweep over the whole catalog
  * (JIT + codegen class-loading say nothing about plan quality), then up to
  * THREE timed sweeps, each covering every query before any query runs
  * again — so the samples of one key are separated by minutes of other
  * work. The reported per-key time is the MEDIAN of its samples. Rationale:
  * this host has documented multi-minute throttle windows (PERF.md:
  * identical code measured at 1.9 s and 10.9 s on consecutive passes); with
  * back-to-back sampling one window can span ALL passes of a key.
  * Interleaving makes a window hit at most one sample per key, and the
  * median discards that outlier without the optimistic bias of a min.
  *
  * Fast-key economy (r15 verdict #2): ~190 of 263 keys have sub-second
  * medians — their contribution to the total is noise-dominated either way,
  * so keys whose first two samples are both < 1 s SKIP the third sweep
  * (estimate = min of 2). Median-of-3 is reserved for the keys where the
  * estimand matters. This sheds most of a full-catalog sweep of wall time.
  *
  * Wall-clock budget (r15 verdict #1 — the round-15 record was lost to
  * rc=124): the whole protocol runs against SPARK_GRAFT_BENCH_BUDGET_SEC
  * (default 1500 s; the r15 kill fired ~30 min in, so 25 min + margin).
  * Before each stage the harness checks remaining budget against the
  * measured cost of the last sweep and DEGRADES instead of overrunning:
  * 3→2→1 timed sweeps, then requeue extras, then the drift retry are shed
  * in that order; the end canary and the record write are always reserved.
  * After EVERY completed sweep the current medians-so-far are written to
  * bench.json and printed as a compact stdout line, so even a killed run
  * leaves a parseable record in the driver's 2000-char tail (WindowExec
  * warnings are silenced in [[Sessions]] so the tail stays JSON).
  *
  * Context-shutdown abort (r15: SIGTERM stopped the SparkContext while the
  * loop raced through 22 spurious "failures" for 14 more minutes): a query
  * failure is only counted as a failure if the context is still alive;
  * a dead context aborts immediately with the partial record.
  *
  * Failed queries are excluded from the total and counted in `"failures"`
  * (a broken query must not silently lower the perf metric). The JSON line
  * is also written to bench.json in the working directory — round 1's stdout
  * line was buried in sbt's [info] prefixes and the driver recorded
  * parsed:null, so the file is the machine-readable channel.
  */
object Bench {
  /** Thrown (as a control signal, not an error) when a query fails because
    * the SparkContext itself is gone — external kill or fatal executor
    * error. Everything after it would be a spurious failure. */
  private object ContextDead extends RuntimeException("SparkContext shut down")

  /** Whether a run can be divided by the canary's quiet reference: only
    * the run that reference was measured on — the sf0.1 tables (exact
    * basename; r8 ADVICE: a substring match took sf0.125 too) at local[32].
    * Any other core count reports its raw time as `value_normalized`.
    */
  private[graft] def normalizable(sfDir: String, cpus: String): Boolean =
    new java.io.File(sfDir).getName == "sf0.1" && cpus == "32"

  def main(args: Array[String]): Unit = {
    val wallT0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - wallT0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val budgetSec =
      sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SEC").map(_.toDouble).getOrElse(1500.0)
    // Footgun guard (r13 verdict #7): an unset SPARK_GRAFT_CPUS silently
    // runs local[4], producing numbers incomparable with the official
    // local[32] BENCH/PERF rows. A SUBSET run (dev loop) may proceed with a
    // loud warning; a FULL-catalog sweep — the kind that gets recorded —
    // refuses, unless explicitly overridden.
    if (!sys.env.contains("SPARK_GRAFT_CPUS")) {
      val fullCatalog = !sys.env.contains("SPARK_GRAFT_BENCH_KEYS")
      if (fullCatalog && !sys.env.contains("SPARK_GRAFT_ALLOW_DEFAULT_CPUS")) {
        System.err.println(
          "[bench] REFUSING full-catalog sweep: SPARK_GRAFT_CPUS is unset " +
          s"(would default to local[$cpus], incomparable with the official " +
          "local[32] rows). Set SPARK_GRAFT_CPUS=32, or " +
          "SPARK_GRAFT_ALLOW_DEFAULT_CPUS=1 to proceed anyway.")
        sys.exit(2)
      }
      System.err.println(s"[bench] WARNING: SPARK_GRAFT_CPUS unset — running " +
        s"local[$cpus]; do not compare with official local[32] rows.")
    }
    val spark = Sessions.build(cpus)
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case _: Throwable =>
          if (spark.sparkContext.isStopped) throw ContextDead
          return None
      }
      Some((System.nanoTime() - t0) / 1e9)
    }
    // Optional key filter (r10, for the sf1 scale-stress): a comma-separated
    // SPARK_GRAFT_BENCH_KEYS restricts the run to a subset — benching all
    // 263 keys at sf1 would take hours; the growth study needs only the
    // top-shuffle ~25. Unset (the driver contract) = full catalog.
    val names = sys.env.get("SPARK_GRAFT_BENCH_KEYS") match {
      case Some(ks) =>
        val want = ks.split(',').map(_.trim).filter(_.nonEmpty)
        val unknown = want.filterNot(SparkEntry.queries.contains)
        require(unknown.isEmpty, s"unknown bench keys: ${unknown.mkString(",")}")
        want.toSeq
      case None => SparkEntry.queries.keys.toSeq
    }
    // Drift canary (r8): the BENCH totals moved 81 → 109 s across two rounds
    // on plan-identical code because this host settles into documented slow
    // states (PERF.md "Host-drift evidence"). The fix is protocol, not plans:
    // time a fixed 5-key sweep at the start and end of the run and report
    // every key BOTH raw and normalized by run_canary/quiet_canary, where
    // quiet_canary is the pinned quiet-window reference for these five keys
    // (PERF.md r7 quiet profile: 0.141 + 0.561 + 0.238 + 0.260 + 0.399 s at
    // sf0.1 / 32 cpus). Round-over-round comparisons quote the normalized
    // numbers; the raw ones remain the driver contract.
    val canaryKeys = Seq(
      "agg_groupby_pricing", "join_multiway_star", "win_topk_per_group",
      "stream_session_5m", "sim_topk_cosine")
    val canaryQuietRef = 1.599 // sum of the five quiet-window medians above
    val canNormalize = normalizable(sfDir, cpus)
    // Per-key canary timings (r8 ADVICE): a canary that fails or goes
    // missing must be VISIBLE (null in the JSON) and must disable
    // normalization — the old flatMap(...).sum silently dropped it and
    // deflated run_canary, skewing every normalized number.
    def canarySweep(): Map[String, Option[Double]] =
      canaryKeys.map(k => k -> SparkEntry.queries.get(k).flatMap(timeOnce)).toMap
    val fastCut = 1.0 // below this, 2 samples suffice (see scaladoc)
    def r3(x: Double) = math.rint(x * 1000) / 1000

    /** One attempt's mutable record: samples, canaries, requeue extras.
      * All record emission reads from here so partial and final records
      * share one code path. */
    final class Attempt {
      val samples = mutable.LinkedHashMap.empty[String, List[Double]].withDefaultValue(Nil)
      val errors = mutable.LinkedHashSet.empty[String]
      val bytesOf = mutable.Map.empty[String, Long]
      var canaryStart: Map[String, Option[Double]] = canaryKeys.map(_ -> None).toMap
      var canaryEnd: Map[String, Option[Double]] = canaryKeys.map(_ -> None).toMap
      var extra: Map[String, Double] = Map.empty
      var throttledInitial: Seq[String] = Nil
      var sweepsDone = 0
      val sheds = mutable.ArrayBuffer.empty[String]
      var wallSec = 0.0

      def canaryOk: Boolean = (canaryStart.values ++ canaryEnd.values).forall(_.isDefined)
      def canaryStartSum: Double = canaryStart.values.flatten.sum
      def canaryEndSum: Double = canaryEnd.values.flatten.sum
      // normalization is only meaningful against the sf0.1 / 32-cpu quiet
      // reference (see [[normalizable]]) and only when every canary key
      // succeeded at both ends. Mid-run
      // (before the end canary exists) a PROVISIONAL start-only factor keeps
      // partial records normalizable; the final record always uses both.
      def driftFactor: Option[Double] =
        if (!canNormalize) None
        else if (canaryOk) Some(((canaryStartSum + canaryEndSum) / 2) / canaryQuietRef)
        else if (canaryStart.values.forall(_.isDefined) && sweepsDone < 3)
          Some(canaryStartSum / canaryQuietRef)
        else None

      /** Samples used for the estimate: the requeue extra (if any) replaces
        * the slowest original — throttle outliers are always high, so a
        * throttled requeue sample self-discards and the original median
        * stands. */
      def keptSamples(k: String): List[Double] = extra.get(k) match {
        case Some(e) => (samples(k) :+ e).sorted.take(samples(k).size)
        case None    => samples(k)
      }
      /** Median for 3+ samples; MIN for 2 (fast keys — residual JIT and
        * throttle outliers are both always HIGH, so on two samples the min
        * tracks the old median-of-3 where the mean would inflate every
        * sub-1s key and break round-over-round total comparisons); the
        * sample itself for 1. */
      def estimate(xs: List[Double]): Double = {
        val s = xs.sorted
        if (s.size <= 2) s.head
        else if (s.size % 2 == 1) s(s.size / 2)
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      }
      def measured: Seq[String] = names.filter(k => samples(k).nonEmpty && !errors(k))
      // Self-annotating throttle evidence: a >3× spread between the fastest
      // and slowest of a key's interleaved samples is the signature of this
      // host's throttle windows, not a plan property; the median estimator
      // already discards the outlier, the annotation just makes it visible.
      // The 0.5 s floor keeps millisecond-scale scheduling jitter (tiny sf
      // runs) from flooding the annotation.
      def isThrottled(xs: List[Double]): Boolean =
        xs.nonEmpty && xs.max > 0.5 && xs.max / xs.min > 3.0
    }

    def optJson(o: Option[Double]) = o.map(f => r3(f).toString).getOrElse("null")

    /** Emit the full record to bench.json and a compact line (sized to the
      * driver's 2000-char stdout window) to stdout. Called after every
      * sweep, on abort, and at the end — the last call wins both channels. */
    def emit(a: Attempt, phase: String, attemptDrifts: List[Option[Double]],
             aborted: Option[String]): Unit = {
      val med = a.measured.map(k => k -> a.estimate(a.keptSamples(k))).toMap
      val medBefore = a.measured.map(k => k -> a.estimate(a.samples(k))).toMap
      val qs = names.map { k =>
        if (med.contains(k)) "\"" + k + "\":" + med(k) else "\"" + k + "\":null"
      }.mkString("{", ",", "}")
      val ps = a.measured.map { k =>
        "\"" + k + "\":[" + a.samples(k).map(r3).mkString(",") + "]"
      }.mkString("{", ",", "}")
      val sb = a.measured.flatMap(k => a.bytesOf.get(k).map(b => "\"" + k + "\":" + b))
        .mkString("{", ",", "}")
      val total = med.values.sum
      val requeueJson = a.throttledInitial.map { k =>
        "\"" + k + "\":{\"extra\":" + a.extra.get(k).map(e => r3(e).toString).getOrElse("null") +
          ",\"median_before\":" + r3(medBefore(k)) + ",\"median_after\":" + r3(med(k)) + "}"
      }.mkString("{", ",", "}")
      val throttled = a.measured.collect {
        case k if a.isThrottled(a.keptSamples(k)) => "\"" + k + "\""
      }
      val driftFactor = a.driftFactor
      val normOf: Double => Double = t => driftFactor.fold(t)(f => t / f)
      val qsNorm = a.measured.map { k =>
        "\"" + k + "\":" + r3(normOf(med(k)))
      }.mkString("{", ",", "}")
      val perKeyCanary = canaryKeys.map { k =>
        "\"" + k + "\":[" + optJson(a.canaryStart(k)) + "," + optJson(a.canaryEnd(k)) + "]"
      }.mkString("{", ",", "}")
      val canaryJson =
        s"""{"keys":[${canaryKeys.map("\"" + _ + "\"").mkString(",")}],""" +
          s""""start_sec":${r3(a.canaryStartSum)},"end_sec":${r3(a.canaryEndSum)},""" +
          s""""quiet_ref_sec":$canaryQuietRef,"per_key":$perKeyCanary,""" +
          s""""attempt_drifts":[${attemptDrifts.map(optJson).mkString(",")}],""" +
          s""""drift_factor":${optJson(driftFactor)}}"""
      val abortedJson = aborted.map("\"" + _ + "\"").getOrElse("null")
      val shedsJson = a.sheds.map("\"" + _ + "\"").mkString("[", ",", "]")
      val passDesc = s"median of up to 3 interleaved warm sweeps (after 1 warm-up sweep; " +
        s"2 samples for sub-${fastCut}s keys)"
      val line =
        s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
          s""""sf":"$sfDir","cpus":$cpus,"pass":"$passDesc","n_queries":${names.size},""" +
          s""""value_normalized":${r3(normOf(total))},"queries_normalized":$qsNorm,"canary":$canaryJson,""" +
          s""""phase":"$phase","sweeps_done":${a.sweepsDone},"budget_sec":$budgetSec,""" +
          s""""elapsed_sec":${r3(elapsed)},"sheds":$shedsJson,"aborted":$abortedJson,""" +
          s""""passes":$ps,"shuffle_bytes":$sb,"throttled":[${throttled.mkString(",")}],""" +
          s""""throttled_initial":[${a.throttledInitial.map("\"" + _ + "\"").mkString(",")}],"requeue":$requeueJson,""" +
          s""""failures":[${a.errors.map("\"" + _ + "\"").mkString(",")}]}"""
      Files.writeString(Paths.get("bench.json"), line + "\n")
      // The driver records only the LAST 2000 chars of stdout and parses a
      // JSON line out of that window: the full per-query line above outgrew
      // it every round (r1-r3 all recorded parsed:null), so it goes to
      // bench.json only, and the stdout line is a compact variant sized to
      // fit — canary keys first, then the slowest queries, as many as a
      // 1700-char budget allows. Printed after EVERY sweep so a killed run
      // still leaves a parseable line in the tail.
      val prio =
        (canaryKeys ++ med.toSeq.sortBy { case (k, t) => (-t, k) }.map(_._1))
          .distinct.filter(med.contains)
      val head =
        s"""{"metric":"total","value":${r3(total)},"unit":"sec","sf":"$sfDir","cpus":$cpus,""" +
          s""""n_queries":${names.size},"pass":"median of interleaved warm sweeps","detail":"bench.json",""" +
          s""""phase":"$phase","sweeps_done":${a.sweepsDone},"aborted":$abortedJson,""" +
          s""""value_normalized":${r3(normOf(total))},""" +
          s""""canary_drift":${optJson(driftFactor)},""" +
          s""""throttled":[${throttled.mkString(",")}],""" +
          s""""failures":[${a.errors.map("\"" + _ + "\"").mkString(",")}],"queries":{"""
      val budget = 1700
      val kept = mutable.ArrayBuffer.empty[String]
      var len = head.length + 40 // closing braces + queries_omitted suffix
      prio.foreach { k =>
        val entry = "\"" + k + "\":" + r3(med(k))
        if (len + entry.length + 1 <= budget) { kept += entry; len += entry.length + 1 }
      }
      println(head + kept.mkString(",") + s"""},"queries_omitted":${med.size - kept.size}}""")
      System.out.flush()
    }

    // ---- protocol ------------------------------------------------------
    // Reserve: end canary + record write, estimated from the start canary
    // (throttle-proportional) with a 15 s floor.
    var attemptDrifts: List[Option[Double]] = Nil
    var current: Attempt = new Attempt
    val preSheds = mutable.ArrayBuffer.empty[String]
    try {
      // warm-up sweep (untimed) — its wall time is also the first estimate
      // of a full-sweep cost for the budget ledger (an over-estimate: it
      // pays one-time codegen compilation, which is the conservative side).
      //
      // CAPPED at 30% of the budget (r16: a deep-throttle window put the
      // full warm-up at 19 of the 24 available minutes, leaving ONE timed
      // sweep whose single samples carried JIT/stall outliers straight into
      // the record — two degraded-but-interleaved sweeps beat one fully
      // warmed sweep, because min-of-2/median-of-3 discard the cold sample
      // and a lone sample discards nothing). Canary keys warm FIRST so the
      // start canary never measures JIT.
      val warmCap = math.min(0.3 * budgetSec, 480.0)
      val warmT0 = elapsed
      val warmOrder = canaryKeys.filter(names.contains) ++
        names.filterNot(canaryKeys.contains)
      var warmed = 0
      val wit = warmOrder.iterator
      while (wit.hasNext && elapsed - warmT0 < warmCap) {
        timeOnce(SparkEntry.queries(wit.next())); warmed += 1
      }
      if (warmed < names.size)
        preSheds += s"warmup:${names.size - warmed} of ${names.size} keys unwarmed (cap ${warmCap.toInt}s)"
      // full-sweep cost estimate: extrapolate if the warm-up was cut short
      var sweepCost = (elapsed - warmT0) * names.size / math.max(1, warmed)

      def reserve(a: Attempt): Double = math.max(15.0, 3 * a.canaryStartSum)
      def remaining: Double = budgetSec - elapsed

      /** Timed sweeps + requeue for one attempt, shedding against the
        * deadline. Mutates `a`; emits a record after each sweep. */
      def measure(a: Attempt): Unit = {
        a.sheds ++= preSheds
        val t0 = elapsed
        a.canaryStart = canarySweep()
        var halted = false
        for (p <- 1 to 3 if !halted) {
          // fast-key shedding: sweep 3 only re-times keys that have shown
          // a >= fastCut sample (or lost a sample to a mid-sweep halt)
          val due = names.filter { k =>
            !a.errors(k) && (p < 3 || a.samples(k).size < 2 || a.samples(k).exists(_ >= fastCut))
          }
          // cost of the upcoming sweep ≈ last full sweep scaled by the due
          // keys' share of measured TIME (not count — the due keys of sweep
          // 3 are exactly the slow ones)
          val timeShare = {
            val all = a.measured.map(k => a.estimate(a.samples(k))).sum
            val dueT = due.filter(k => a.samples(k).nonEmpty)
              .map(k => a.estimate(a.samples(k))).sum
            if (all > 0 && due.size < names.size) math.min(1.0, dueT / all) else 1.0
          }
          if (p > 1 && remaining < sweepCost * timeShare * 1.1 + reserve(a)) {
            a.sheds += s"sweep$p:budget"
            halted = true
          } else {
            val sweepT0 = elapsed
            if (p == 3 && due.size < names.size)
              a.sheds += s"sweep3:${names.size - due.size} sub-${fastCut}s keys kept 2 samples"
            val it = due.iterator
            while (it.hasNext && !halted) {
              val k = it.next()
              if (remaining < reserve(a)) {
                a.sheds += s"sweep$p:halted mid-sweep at $k"
                halted = true
              } else {
                // Shuffle-write bytes, kept from sweep 1 (bytes barely move
                // between passes; a degraded run always finishes sweep 1): the
                // scale signal. A query whose time looks fine at sf0.1 but
                // whose shuffle grows super-linearly dies at 100 TB.
                val (time, m) = QueryMetrics.measure(spark)(timeOnce(SparkEntry.queries(k)))
                time match {
                  case Some(t) =>
                    a.samples(k) = a.samples(k) :+ t
                    if (p == 1) a.bytesOf(k) = m.shuffleWriteBytes
                  case None => a.errors += k
                }
              }
            }
            if (!halted) {
              a.sweepsDone = p
              sweepCost = elapsed - sweepT0
            }
            emit(a, s"partial:sweep$p", attemptDrifts :+ a.driftFactor, None)
          }
        }
        // Auto-requeue (r14 verdict #4): each throttle-flagged key gets ONE
        // extra timed sample — minutes after its flagged sweep by
        // construction — and its estimate becomes the median of its fastest
        // samples (dropping the max). Budget-gated per key: requeue is the
        // first stage shed under pressure after sweep 3.
        a.throttledInitial = a.measured.filter(k => a.isThrottled(a.samples(k)))
        val extras = mutable.Map.empty[String, Double]
        for (k <- a.throttledInitial) {
          val est = a.estimate(a.samples(k))
          if (remaining > reserve(a) + est * 4) {
            timeOnce(SparkEntry.queries(k)).foreach(extras(k) = _)
          } else if (!a.sheds.exists(_.startsWith("requeue"))) {
            a.sheds += s"requeue:budget (from $k)"
          }
        }
        a.extra = extras.toMap
        a.canaryEnd = canarySweep()
        a.wallSec = elapsed - t0
        attemptDrifts = attemptDrifts :+ a.driftFactor
      }

      measure(current)
      // Canary-gated retry (r8 verdict #7): a drift factor > 1.3 means the
      // host was in a documented slow window for the whole record — re-run
      // the timed sweeps once and keep the quieter attempt. Gated on wall
      // budget (r15: on a throttled host the retry is the difference
      // between finishing and rc=124).
      if (current.driftFactor.exists(_ > 1.3)) {
        if (remaining > current.wallSec * 1.1 + reserve(current)) {
          val second = new Attempt
          measure(second)
          // r9 ADVICE: prefer canary-ok attempts — an attempt whose canary
          // failed must not beat a normalizable drifted one, else the
          // record silently loses normalization. Sweep count breaks ties:
          // a 3-sweep drifted record beats a 1-sweep quiet one only if its
          // drift is also lower — compare (canaryOk, sweeps, drift).
          val best = Seq(current, second).minBy(a =>
            (if (a.canaryOk) 0 else 1, -a.sweepsDone, a.driftFactor.getOrElse(Double.MaxValue)))
          current = best
        } else current.sheds += "drift-retry:budget"
      }
      emit(current, "final", attemptDrifts, None)
      spark.stop()
    } catch {
      case ContextDead =>
        // SIGTERM or fatal context loss: the remaining queries would all be
        // spurious failures (r15 recorded 22 of them). Write what we have.
        emit(current, "aborted", attemptDrifts :+ current.driftFactor,
          Some("context-shutdown"))
        sys.exit(3)
    }
  }
}
