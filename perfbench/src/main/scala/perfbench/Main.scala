package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{QueryDef, Sessions}

/** JVM side of the benchmark; `run.py` is the command that drives it.
  *
  *   run     --workload W --modules M,.. --keys K,.. --seed S --passes P
  *           --trace 0|1 --data DIR --launch-ns N --out FILE [--spans FILE]
  *   setup   --launch-ns N
  *   digest  --verify DIR --keys K,.. --out FILE
  */
object Main {
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("run") => new Runner(Opts(args.tail)).run()
    case Some("setup") => setupOnly(Opts(args.tail))
    case Some("digest") => verifyDigests(Opts(args.tail))
    case _ =>
      System.err.println("usage: perfbench.Main run|setup|digest ...")
      sys.exit(2)
  }

  def cores: Int = Runtime.getRuntime.availableProcessors

  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** Every module a workload may draw keys from. */
  lazy val modules: Map[String, Seq[QueryDef]] = {
    import graft.ops._
    Map(
      "Relational" -> Relational.entries, "Events" -> Events.entries,
      "Scalars" -> Scalars.entries, "Sources" -> Sources.entries,
      "Udaf" -> Udaf.entries, "Warehouse" -> Warehouse.entries,
      "Graph" -> Graph.entries, "Reach" -> Reach.entries,
      "MinHashDedup" -> MinHashDedup.entries, "Text" -> Text.entries,
      "IvfAnn" -> IvfAnn.entries, "SemDedup" -> SemDedup.entries)
  }

  /** Resolves the requested keys against the declared keys of the modules. */
  def resolve(mods: Seq[String], keys: Seq[String]): Seq[QueryDef] = {
    val declared = mods.flatMap { m =>
      modules.getOrElse(m, sys.error(s"unknown module $m")).filter(_.oracle.isDefined)
    }.map(q => q.name -> q).toMap
    keys.map(k => declared.getOrElse(k, sys.error(s"$k is not declared by ${mods.mkString(",")}")))
  }

  /** One more set-up sample: prints the seconds from launch until
    * `Sessions.build` returns, then stops the session.
    */
  private def setupOnly(o: Opts): Unit = {
    val spark = Sessions.build(cores.toString)
    println((epochNs() - o.long("launch-ns")) / 1e9)
    spark.stop()
  }

  /** Digests of the result tables `graft.Verify` wrote, for the expected file. */
  private def verifyDigests(o: Opts): Unit = {
    val spark = Sessions.build(cores.toString)
    val out = o.list("keys").map { k =>
      k -> Digest.of(spark.read.parquet(s"${o("verify")}/$k"))
    }.toMap
    Files.writeString(Paths.get(o("out")), Json(out))
    spark.stop()
  }
}

final case class Opts(args: Seq[String]) {
  private val m: Map[String, String] =
    args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
  def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  def get(k: String): Option[String] = m.get(k)
  def long(k: String): Long = apply(k).toLong
  def list(k: String): Seq[String] = apply(k).split(',').toSeq.map(_.trim).filter(_.nonEmpty)
}

/** A traced interval; times are epoch ms, `parent` is -1 for the root. */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double)

/** One closed-loop client: it submits one key at a time and waits for its
  * result to be fully materialised into the `noop` sink.
  */
final class Runner(o: Opts) {
  private val seed = o.long("seed")
  private val traced = o("trace") == "1"
  private val dataDir = o("data")
  private val cores = Main.cores

  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def nowMs: Double = (System.nanoTime() + base) / 1e6

  private val spans = mutable.ArrayBuffer[Span]()
  private def span(parent: Int, name: String, start: Double, end: Double): Int = {
    spans += Span(spans.length, parent, name, start, end)
    spans.length - 1
  }

  private val errors = mutable.LinkedHashMap[String, String]()
  private val cold = mutable.LinkedHashMap[String, Double]()
  // warm samples per key, split by whether the pass was traced
  private val warm = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val warmTraced = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val violations = mutable.ArrayBuffer[String]()

  // per-layer sums: "cold" holds the first pass (recorded whole, as
  // `cold_layers`), "warm" the traced warm passes
  private val layer =
    Map("cold" -> mutable.Map[String, Double](), "warm" -> mutable.Map[String, Double]())
  // the same sums per key, over the traced warm passes, for attribution
  private val perKey = mutable.LinkedHashMap[String, mutable.Map[String, Double]]()
  private var currentKey = ""
  private def add(phase: String, k: String, v: Double): Unit = {
    layer(phase)(k) = layer(phase).getOrElse(k, 0.0) + v
    if (phase == "warm") {
      val m = perKey.getOrElseUpdate(currentKey, mutable.LinkedHashMap())
      m(k) = m.getOrElse(k, 0.0) + v
    }
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => sys.error("process CPU time is not available on this JVM")
  }

  def run(): Unit = {
    val launchMs = o.long("launch-ns") / 1e6
    val b0 = nowMs
    val spark = Sessions.build(cores.toString)
    val b1 = nowMs
    val setupS = (Main.epochNs() - o.long("launch-ns")) / 1e9
    val root = span(-1, "run", launchMs, Double.NaN)
    span(root, "sessions.build", b0, b1)
    val keys = Main.resolve(o.list("modules"), o.list("keys"))
    val tracer = new Tracer
    def tracing(on: Boolean): Unit =
      if (on) {
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      } else {
        spark.sparkContext.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }
    val rng = new scala.util.Random(seed)

    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    // The cold pass runs in the declared order, as a one-shot job runs its
    // steps: the first key pays most of the JVM's warm-up, and how much
    // depends on the key, so a permuted cold pass would make cold_s follow
    // the seed rather than the program.
    if (traced) tracing(true)
    keys.foreach { q =>
      runKey(spark, q, 0, if (traced) Some(tracer) else None, root).foreach(cold(q.name) = _)
    }
    if (traced) tracing(false)

    // A fixed number of warm passes. The first is a warm-up and is not
    // recorded: it is by far the slowest, as the JIT compiles what the cold
    // pass made hot. A traced run then traces passes in the order untraced,
    // traced, traced, untraced (repeated), so that drift cancels out of the
    // overhead.
    val passes = o("passes").toInt
    def tracedPass(p: Int): Boolean = traced && p >= 2 && Set(1, 2).contains((p - 2) % 4)
    val cpuPerPass = mutable.ArrayBuffer[Double]()
    for (pass <- 1 to passes) {
      val cpu0 = cpuNs
      val on = tracedPass(pass)
      if (on) tracing(true)
      rng.shuffle(keys).foreach { q =>
        runKey(spark, q, pass, if (on) Some(tracer) else None, root).foreach { s =>
          if (pass >= 2)
            (if (on) warmTraced else warm).getOrElseUpdate(q.name, mutable.ArrayBuffer()) += s
        }
      }
      if (on) tracing(false)
      if (pass >= 2) cpuPerPass += (cpuNs - cpu0) / 1e9
    }
    val measuredS = elapsed

    // untimed output check
    val digests = keys.filterNot(q => errors.contains(q.name)).flatMap { q =>
      try Some(q.name -> Digest.of(q.fn(spark, dataDir)))
      catch { case e: Exception => errors(q.name) = s"digest: ${e.getMessage}"; None }
    }.toMap
    val master = spark.sparkContext.master
    spans(root) = spans(root).copy(end = nowMs)
    if (traced) checkSpans()
    spark.stop()

    val tracedPasses = (1 to passes).count(tracedPass)
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> o("workload"), "seed" -> seed, "trace" -> traced,
      "nproc" -> cores, "master" -> master,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("-Xmx") || a.startsWith("-XX:")).toSeq,
      "data_dir" -> dataDir, "keys" -> keys.map(_.name),
      "setup_s" -> setupS, "sessions_build_s" -> (b1 - b0) / 1e3,
      "cold" -> cold, "warm" -> warm, "warm_traced" -> warmTraced,
      "warm_passes" -> passes, "traced_passes" -> tracedPasses,
      "measured_s" -> measuredS, "cpu_s_per_pass" -> cpuPerPass,
      "errors" -> errors, "digests" -> digests)
    if (traced) {
      rec("layers") = layers(tracedPasses, (b1 - b0) / 1e3)
      rec("per_key_layers") = perKey
      rec("cold_layers") = layer("cold")
      rec("violations") = violations.take(20)
      rec("spans") = spans.length
    }
    Files.writeString(Paths.get(o("out")), Json(rec))
    o.get("spans").foreach { f =>
      Files.writeString(Paths.get(f), spans.map(s => Json(Map("id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start" -> s.start, "end" -> s.end)))
        .mkString("", "\n", "\n"))
    }
  }

  /** Times one key: the `ops` build call, then the full materialisation. */
  private def runKey(spark: SparkSession, q: QueryDef, pass: Int, tracer: Option[Tracer],
      root: Int): Option[Double] = {
    val sc = spark.sparkContext
    val group = s"${q.name}#$pass"
    val phase = if (pass == 0) "cold" else "warm"
    val cg0 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    val gc0 = if (tracer.isDefined) gcMs else 0L
    val k0 = nowMs
    val n0 = System.nanoTime()
    var k1 = k0
    var dfAnalysisMs = 0L
    val ok = try {
      sc.setJobGroup(s"$group/build", q.name, interruptOnCancel = false)
      val df: DataFrame = q.fn(spark, dataDir)
      k1 = nowMs
      if (tracer.isDefined) dfAnalysisMs =
        df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
      sc.setJobGroup(s"$group/action", q.name, interruptOnCancel = false)
      df.write.format("noop").mode("overwrite").save()
      true
    } catch {
      case e: Exception =>
        if (sc.isStopped) throw e
        errors.getOrElseUpdate(q.name, s"pass $pass: ${e.getClass.getSimpleName}: ${e.getMessage}")
        false
    } finally sc.clearJobGroup()
    val wall = (System.nanoTime() - n0) / 1e9
    val k2 = nowMs
    tracer.foreach { t =>
      currentKey = q.name
      BenchBus.drain(sc)
      val w = t.take()
      val cg1 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
      val key = span(root, "key", k0, k2)
      val build = span(key, "ops.build", k0, k1)
      val action = span(key, "action", k1, k2)
      w.jobs.foreach { j =>
        span(if (j.group.endsWith("/build")) build else action, s"job ${j.id}",
          j.start.toDouble, j.end.toDouble)
      }
      if (ok && w.jobs.isEmpty) violations += s"${q.name} pass $pass ran no job"
      if (w.cpuNs / 1e9 > wall * cores * 1.01 + 0.005)
        violations += f"${q.name} pass $pass: executor cpu ${w.cpuNs / 1e9}%.3f s > wall × cores"
      if (w.jobs.exists(j => j.group != s"$group/build" && j.group != s"$group/action"))
        violations += s"${q.name} pass $pass: a job of another group ran inside the key"
      add(phase, "wall_s", wall)
      add(phase, "ops.build_s", (k1 - k0) / 1e3)
      add(phase, "ops.build_jobs", w.jobs.count(_.group.endsWith("/build")))
      add(phase, "catalyst.analysis_s", (w.analysisMs + dfAnalysisMs) / 1e3)
      add(phase, "catalyst.optimization_s", w.optimizationMs / 1e3)
      add(phase, "catalyst.planning_s", w.planningMs / 1e3)
      add(phase, "catalyst.executions", w.executions)
      add(phase, "codegen.compile_s", (cg1._1 - cg0._1) / 1e9)
      add(phase, "codegen.compiles", cg1._2 - cg0._2)
      add(phase, "scheduler.jobs", w.jobs.size)
      add(phase, "scheduler.stages", w.stages)
      add(phase, "scheduler.tasks", w.tasks)
      add(phase, "scheduler.aqe_updates", w.aqeUpdates)
      add(phase, "scheduler.driver_gap_s", math.max(0.0, wall - covered(w.jobs) / 1e3))
      add(phase, "executor.cpu_s", w.cpuNs / 1e9)
      add(phase, "executor.run_s", w.runMs / 1e3)
      add(phase, "executor.gc_s", (gcMs - gc0) / 1e3)
      add(phase, "executor.straggler_s", w.straggleMs / 1e3)
      layer(phase)("executor.peak_mem_mb") =
        math.max(layer(phase).getOrElse("executor.peak_mem_mb", 0.0), w.peakMemBytes / 1048576.0)
      add(phase, "shuffle.write_mb", w.shuffleWrite / 1048576.0)
      add(phase, "shuffle.read_mb", w.shuffleRead / 1048576.0)
      add(phase, "shuffle.fetch_wait_s", w.fetchWaitMs / 1e3)
      add(phase, "shuffle.spill_mb", w.spillBytes / 1048576.0)
      add(phase, "tables.read_mb", w.inputBytes / 1048576.0)
      add(phase, "tables.read_rows", w.inputRows)
    }
    if (ok) Some(wall) else None
  }

  /** Milliseconds of the interval covered by at least one job. */
  private def covered(jobs: Seq[JobRec]): Long = {
    var total = 0L
    var (s, e) = (Long.MinValue, Long.MinValue)
    jobs.sortBy(_.start).foreach { j =>
      if (j.start > e) { if (e > s) total += e - s; s = j.start; e = j.end }
      else e = math.max(e, j.end)
    }
    if (e > s) total += e - s
    total
  }

  /** Children lie inside their parent, within the 1 ms grain of the clocks
    * involved, and self time is never negative. Self time is the duration
    * minus the children, taken as they were recorded: the children of `run`
    * and `key` run one after another, so they are summed and an overlap
    * shows; Spark jobs may run side by side, so their union is taken.
    */
  private def checkSpans(): Unit = {
    val tol = 3.0
    val kids = spans.groupBy(_.parent)
    spans.foreach { s =>
      if (s.end < s.start) violations += s"span ${s.id} ${s.name} ends before it starts"
      if (s.parent >= 0) {
        val p = spans(s.parent)
        if (s.start < p.start - tol || s.end > p.end + tol)
          violations += f"span ${s.id} ${s.name} [${s.start}%.1f, ${s.end}%.1f] outside ${p.name}"
      }
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      val children =
        if (s.name == "run" || s.name == "key") cs.map(c => c._2 - c._1).sum
        else {
          var cov = 0.0
          var (a, b) = (Double.NegativeInfinity, Double.NegativeInfinity)
          cs.sortBy(_._1).foreach { case (x, y) =>
            if (x > b) { if (b > a) cov += b - a; a = x; b = y } else b = math.max(b, y)
          }
          if (b > a) cov += b - a
          cov
        }
      if (s.end - s.start - children < -tol)
        violations += f"span ${s.id} ${s.name} has negative self time ${s.end - s.start - children}%.1f ms"
    }
  }

  /** Per-layer metrics per traced warm pass and the tracing overhead. The
    * codegen time and count are the cold pass's: once the session's class
    * cache holds a plan, warm passes compile nothing, so only their count
    * (`codegen.warm_compiles`) is reported.
    */
  private def layers(passes: Int, buildS: Double): Map[String, Double] = {
    val w = layer("warm").map { case (k, v) =>
      k -> (if (k == "executor.peak_mem_mb") v else v / math.max(passes, 1))
    }.toMap
    val c = layer("cold")
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
    def total(m: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]): Double =
      m.values.map(v => median(v.toSeq)).sum
    val overhead = if (warm.isEmpty || warmTraced.isEmpty) Double.NaN
      else total(warmTraced) / total(warm) - 1
    w -- Seq("wall_s", "codegen.compile_s", "codegen.compiles") ++ Map(
      "sessions.build_s" -> buildS,
      "executor.util" -> w.getOrElse("executor.run_s", 0.0) / (w.getOrElse("wall_s", 0.0) * cores),
      "codegen.compile_s" -> c.getOrElse("codegen.compile_s", 0.0),
      "codegen.compiles" -> c.getOrElse("codegen.compiles", 0.0),
      "codegen.warm_compiles" -> w.getOrElse("codegen.compiles", 0.0),
      "trace.total_s" -> total(warmTraced),
      "trace.overhead" -> overhead)
  }
}

/** Minimal JSON writer for the record files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
