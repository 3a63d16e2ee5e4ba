package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev scratch A/B harness (r16): time declared keys under session-conf
  * variants (e.g. AQE on/off) to attribute fixed overhead, in interleaved
  * passes. Each run fully materializes the query into the `noop` sink, as
  * JobTrace does. Not part of the driver contract.
  *
  * Usage: runMain graft.AbTest <sfDir> <confKey=val[,key=val...]|-> <key> [key...]
  *   ("-" = no conf override, i.e. a plain A/A control)
  */
object AbTest {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val confs = if (args(1) == "-") Nil else args(1).split(',').toSeq.map { kv =>
      val Array(k, v) = kv.split("=", 2); (k, v)
    }
    val keys = args.drop(2).toSeq
    val spark = Sessions.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), "ERROR")
    val base = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    def setAll(on: Boolean): Unit =
      if (on) confs.foreach { case (k, v) => spark.conf.set(k, v) }
      else base.foreach { case (k, ov) => ov.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    val fns = keys.map(k => k -> SparkEntry.queries(k))
    def run(f: (SparkSession, String) => DataFrame): Unit =
      f(spark, sfDir).write.format("noop").mode("overwrite").save()
    // warm both variants
    fns.foreach { case (_, f) => run(f) }
    setAll(true); fns.foreach { case (_, f) => run(f) }; setAll(false)
    val times = collection.mutable.Map[(String, String), Vector[Double]]().withDefaultValue(Vector())
    (1 to 3).foreach { _ =>
      for ((variant, on) <- Seq("base" -> false, "conf" -> true); (k, f) <- fns) {
        setAll(on)
        val t0 = System.nanoTime()
        run(f)
        times((k, variant)) :+= (System.nanoTime() - t0) / 1e9
        setAll(false)
      }
    }
    keys.foreach { k =>
      val b = times((k, "base")).sorted
      val c = times((k, "conf")).sorted
      println(f"$k%-28s base med=${b(b.size / 2)}%6.2f  conf med=${c(c.size / 2)}%6.2f  " +
        f"(base ${b.mkString(",")} | conf ${c.mkString(",")})")
    }
    spark.stop()
  }
}
