package graft

import org.apache.spark.sql.SparkSession

/** The one session builder: every main (Bench, Verify, GenData and the dev
  * tools PlanDump, Probe, SemProbe, CrossCheck) and the test suites'
  * TestSession get their session here, and CatalogSpec fails on any other
  * `SparkSession.builder` call. Inline copies of the config had
  * drifted (other core counts, no codegen cache, no nanosAsLong), and a
  * drifted dev session times and dumps plans that are unrepresentative of
  * the sessions the driver actually measures. The config lives here once:
  *
  *  - `spark.sql.shuffle.partitions` = cpus, not the 200 default — a
  *    local[N] box has N cores; 200 partitions is pure task-scheduling
  *    overhead at this scale (cluster sizing is a deploy-time knob).
  *  - UTC + `nanosAsLong`: events.ts is INT64 TIMESTAMP(NANOS); set at
  *    construction so behavior doesn't depend on which loader runs first.
  *  - codegen cache 2000: the full catalog × several codegen-built stages
  *    per pass overflows the default 100-entry generated-class cache, so
  *    every pass re-runs janino on every stage (the wide MinHash signature
  *    aggregate alone re-compiles for ~13 s). Static conf — must be set at
  *    session build.
  *  - WindowExec logger → ERROR: the catalog carries 9 allowlisted
  *    global-window frames whose boundedness is proven in
  *    PlanInvariantsSpec; their per-execution WARN flooded the driver's
  *    2000-char stdout tail with zero information (r15 verdict #7).
  *  - Reliable-checkpoint mode: SPARK_GRAFT_CHECKPOINT_DIR (env) arms the
  *    cluster-safe durable-checkpoint path used with
  *    -Dspark.graft.reliableCheckpoints=true (see Checkpoints.stable).
  */
object Sessions {
  def build(cpus: String, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR")
      .foreach(spark.sparkContext.setCheckpointDir)
    spark
  }
}
