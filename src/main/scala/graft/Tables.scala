package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.util.concurrent.ConcurrentHashMap

/** One loader per test table (SURVEY.md §7.1).
  *
  * All reads go through here so scale-relevant read behavior (schema
  * expectations, the nanosecond-timestamp workaround for `events`) lives in
  * exactly one place. Loaders return plain lazy DataFrames and run no
  * action, so each query plan owns its scan and Catalyst can push
  * filters/projections into the Parquet scan per query.
  *
  * The one thing cached is each table's schema: the first read of a path
  * in a session infers it with Spark's own reader (one footer job); every
  * later read passes it back through `.schema(...)` and runs no job. File
  * listing, rows and plans stay per read, and no DataFrame or relation is
  * shared between reads (a shared relation would hand repeated reads the
  * same attribute ids and break self-joins). So the loaders serve
  * READ-ONLY inputs: a table rewritten in place mid-session keeps its old
  * schema here until [[invalidateSessionSchemas]] runs (GenData.writeTable
  * calls it). The write-then-read paths in `Sources` and `Streaming` read
  * through `spark.read` directly, never through this cache.
  */
object Tables {

  /** Build-time read probe: while a [[recordReads]] body runs on this
    * thread, every loader that resolves a table path logs its table name.
    * Exists for catalog enumeration (e.g. StreamingParitySpec finding every
    * event-input key mechanically) — `inputFiles` can't do it because
    * checkpoint-truncated plans (ScaleRank, the fixpoint loops) replace the
    * file relations with a LogicalRDD. Thread-local and nil-cost when no
    * recording is active.
    */
  private val readLog = new ThreadLocal[scala.collection.mutable.Set[String]]

  /** Record which tables `body` requests through these loaders. */
  def recordReads[A](body: => A): Set[String] = {
    val acc = scala.collection.mutable.Set.empty[String]
    readLog.set(acc)
    try { body; acc.toSet }
    finally readLog.remove()
  }

  /** Inferred schemas per session, keyed by path and the values of the
    * parquet confs that shape inference, so a session that flips one of
    * them gets the schema its own reader would infer. WEAKLY keyed on the
    * SparkSession like IvfAnn's centroid cache; a StructType holds no
    * reference back to the session, so a dead session's entries go with it.
    */
  private val schemaCache =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[Seq[String], StructType]]()

  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
  )

  /** Dev hook for the regenerate-in-place hazard: forget every schema this
    * session has resolved, so the next read infers again from disk. */
  private[graft] def invalidateSessionSchemas(s: SparkSession): Unit =
    schemaCache.synchronized { schemaCache.remove(s); () }

  /** Read one table, inferring its schema only on the session's first read
    * of the path (two racing first reads both infer, harmlessly). */
  private def read(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = p(dir, name)
    val key = path +: inferenceConfs.map(k => s.conf.getOption(k).orNull)
    val schemas = schemaCache.synchronized(
      schemaCache.computeIfAbsent(s, _ => new ConcurrentHashMap[Seq[String], StructType]()))
    Option(schemas.get(key)) match {
      case Some(schema) => s.read.schema(schema).parquet(path)
      case None =>
        val df = s.read.parquet(path)
        schemas.put(key, df.schema)
        df
    }
  }

  private def p(dir: String, name: String): String = {
    Option(readLog.get()).foreach(_ += name)
    s"$dir/$name.parquet"
  }

  def region(s: SparkSession, dir: String): DataFrame     = read(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame     = read(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame   = read(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame   = read(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame       = read(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame     = read(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame   = read(s, dir, "lineitem")
  def documents(s: SparkSession, dir: String): DataFrame  = read(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = read(s, dir, "embeddings")

  /** On-disk bytes of one table — a driver-side filesystem listing, no
    * Spark job. Scale-adaptive plans (Modeling.pairAggPartitions, r14) use
    * this as their cheap "is this input big enough to bother?" gate so
    * that small-sf plans stay BYTE-IDENTICAL to the pre-gate plans (the
    * bench rows and plan-invariant specs at dev scales must not move when
    * a scale path is added). Goes through the same Hadoop FS abstraction
    * as the reads, so it answers for any supported filesystem, not just
    * local disk. A missing table reads as 0 bytes.
    */
  def inputBytes(s: SparkSession, dir: String, name: String): Long = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L
  }

  /** The task-floor gate, the one place its rule lives:
    * true when `table` is smaller than defaultParallelism × the 4 MB
    * open-cost split floor, i.e. when its scan yields fewer splits than
    * cores. Below it a byte-tiny but compute-dense input (per-row crypto
    * hashes, regex, shingle hashing, 64-d dot products, iterative graph
    * rounds) would run its map stages on one or two tasks while the other
    * cores idle — guide §2.5's "bytes are the wrong work proxy" case — so
    * callers add an explicit spread, broadcast hint or co-partitioning.
    * At cluster scale the input outgrows the gate and those plans are
    * byte-identical to the ungated ones: no extra exchange on a scan that
    * already has thousands of splits.
    */
  def belowTaskFloor(s: SparkSession, dir: String, table: String): Boolean =
    inputBytes(s, dir, table) < s.sparkContext.defaultParallelism.toLong * 4L * 1024 * 1024

  /** Below the [[belowTaskFloor]] gate, hash-repartition `df` on `keys` to
    * defaultParallelism (REPARTITION_BY_NUM: exempt from AQE's byte
    * coalescing and kept by every narrow op downstream, so the work
    * spreads across the machine); above it, return `df` itself.
    */
  def spreadSmallScan(
      s: SparkSession,
      dir: String,
      table: String,
      df: DataFrame,
      keys: org.apache.spark.sql.Column*,
  ): DataFrame =
    if (belowTaskFloor(s, dir, table)) df.repartition(s.sparkContext.defaultParallelism, keys: _*)
    else df

  /** `events.ts` has shipped in two encodings across driver testdata
    * generations: Parquet INT64 TIMESTAMP(NANOS) (rounds 1-5; Spark's
    * vectorized reader rejects it, so the nanosAsLong legacy conf reads it
    * as a nanosecond LONG) and plain TIMESTAMP(MICROS) (round 6+; reads as
    * a Spark timestamp directly). This loader normalizes BOTH to the same
    * contract every downstream query was written against:
    *
    *   - `ts`    — nanosecond-epoch LONG (µs encoding is scaled ×1000, an
    *     exact integer op; `unix_micros` is tz-free on TimestampType and the
    *     NTZ→TZ cast is identity under the UTC session zone all entrypoints
    *     pin).
    *   - `etime` — TimestampType truncated to microseconds via *integer*
    *     division (`ts div 1000`). Integer div matters for the nanos
    *     generation: `(ts / 1000).cast("long")` would round-trip ~1.7e18
    *     through double and lose the low bits, shifting µs boundaries.
    *
    * DuckDB sees TIMESTAMP_NS (truncates to µs on CAST) or TIMESTAMP
    * respectively, so `etime` here ≡ `CAST(ts AS TIMESTAMP)` in oracle SQL
    * under either generation. Scale note: normalizing `ts` means a filter
    * written against the normalized long is an EXPRESSION over the raw
    * column for the µs generation and cannot reach the parquet scan —
    * watermark-style bounds must go through [[eventsSince]], which applies
    * the bound on the raw column (row-group stat skipping) before
    * normalizing.
    */
  def events(s: SparkSession, dir: String): DataFrame =
    normalizeEvents(rawEvents(s, dir))

  /** Events with `ts > watermarkNanos`, the bound applied to the RAW parquet
    * column so it pushes into the scan under either encoding — at 100 TB an
    * incremental read must touch only new row groups, which requires the
    * predicate to be a plain comparison on the stored column, not on the
    * normalized derivation. For the µs encoding the equivalent bound is
    * `raw_ts > floor(W / 1000) µs`: with integral stored µs,
    * `us·1000 > W  ⟺  us > floor(W/1000)` for any integer W ≥ 0, so the cut
    * lands on exactly the same event either way. The literal is built in the
    * raw column's own type (NTZ vs TZ) so no cast blocks the pushdown.
    */
  def eventsSince(s: SparkSession, dir: String, watermarkNanos: Long): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = rawEvents(s, dir)
    val bounded = raw.schema("ts").dataType match {
      case LongType => raw.filter(col("ts") > watermarkNanos)
      case TimestampNTZType =>
        val us = Math.floorDiv(watermarkNanos, 1000L)
        raw.filter(
          col("ts") > lit(
            java.time.LocalDateTime.ofEpochSecond(
              Math.floorDiv(us, 1000000L),
              (Math.floorMod(us, 1000000L) * 1000L).toInt,
              java.time.ZoneOffset.UTC,
            )
          )
        )
      case _ =>
        val us = Math.floorDiv(watermarkNanos, 1000L)
        raw.filter(col("ts") > lit(java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS)))
    }
    normalizeEvents(bounded)
  }

  private def rawEvents(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    read(s, dir, "events")
  }

  private def normalizeEvents(raw: DataFrame): DataFrame = {
    val df = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case _ =>
        raw.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000L"))
    }
    df.withColumn("etime", expr("timestamp_micros(ts div 1000)"))
  }
}
