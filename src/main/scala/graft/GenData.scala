package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-data generator for scale-stress runs above the
  * driver-provided sf0.1 (PERF.md "r9 sf1 scale-stress").
  *
  * The driver ships read-only parquet at sf ∈ {0.001, 0.01, 0.1}; every
  * 100 TB scaling claim before round 9 extrapolated from sf0.1. This
  * generator produces schema-identical, distribution-matched tables at any
  * sf (sf=1 → 6M lineitem / 1M events / 50k docs / 20k embeddings, 10× the
  * bench scale) so the full catalog can be hash-gated and benched one
  * decade higher. Correctness at a generated sf is self-consistent: the
  * DuckDB oracle runs the same SQL over the same parquet, so data
  * provenance doesn't weaken the gate.
  *
  * Everything is a pure hash of (table-tag, row id) — `xxhash64` uniforms,
  * no RNG state, no driver-side loops — so generation is embarrassingly
  * parallel, reproducible at any partition count, and would scale to the
  * 100 TB shape this library targets (a generator that used
  * `scala.util.Random` per partition would not be re-partition-stable).
  * Distributions mirror the driver tables as profiled in round 9:
  *   - region/nation copied verbatim from the source sf dir (tiny dims,
  *     name-sensitive queries);
  *   - TPC-H-ish scale columns (counts, key ranges, value ranges, date
  *     ranges, status/priority/segment alphabets) matched to sf0.1;
  *   - documents: the same 31-word vocabulary, 10..100 words/doc,
  *     source = src{id%20}, lang mix ~40% en / 15% each zh-es-fr-de,
  *     plus injected exact dups (~0.2%, copy of previous doc) and
  *     near-dups (~3%, previous doc + one appended out-of-vocab token →
  *     word-set jaccard m/(m+1), m = 10..100 words) so the dedup family
  *     has real work at every sf; a dup flag is suppressed when the
  *     predecessor is itself flagged, so every injected dup pairs with a
  *     real document (the injected rates dilute by ~3.2% accordingly);
  *   - embeddings: unit-norm 64-dim floats around 10 hashed label
  *     centroids (clusterable for knn/ivf), vec_id-keyed;
  *   - events: ts strictly monotonic in event_id (matches driver data; the
  *     incremental_read bookmark semantics rely on it).
  */
object GenData {

  private def u(tag: String, keys: Column*): Column =
    pmod(xxhash64((lit(tag) +: keys): _*), lit(1000000L)).cast("double") / 1000000.0

  private def pick(tag: String, options: Seq[String], keys: Column*): Column = {
    val arr = array(options.map(lit): _*)
    element_at(arr, (pmod(xxhash64((lit(tag) +: keys): _*), lit(options.size.toLong)) + 1).cast("int"))
  }

  private def r2(c: Column): Column = round(c, 2)

  val vocab: Seq[String] = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  def customer(s: SparkSession, n: Long, nNation: Int): DataFrame =
    s.range(n).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pmod(xxhash64(lit("cnat"), col("id")), lit(nNation.toLong)).cast("int").as("c_nationkey"),
      r2(u("cbal", col("id")) * 10999.8 - 999.9).as("c_acctbal"),
      pick("cseg", Seq("AUTOMOBILE", "MACHINERY", "BUILDING", "FURNITURE", "HOUSEHOLD"),
        col("id")).as("c_mktsegment"))

  def supplier(s: SparkSession, n: Long, nNation: Int): DataFrame =
    s.range(n).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pmod(xxhash64(lit("snat"), col("id")), lit(nNation.toLong)).cast("int").as("s_nationkey"),
      r2(u("sbal", col("id")) * 10999.8 - 999.9).as("s_acctbal"))

  def part(s: SparkSession, n: Long): DataFrame =
    s.range(n).select(
      col("id").as("p_partkey"),
      concat_ws(" ",
        pick("padj", Seq("blue", "red", "green", "hot", "cold", "large", "small", "round"), col("id")),
        pick("pnoun", Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"), col("id")))
        .as("p_name"),
      concat(lit("Brand#"), pmod(xxhash64(lit("pbr"), col("id")), lit(25L))).as("p_brand"),
      pick("ptyp", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), col("id"))
        .as("p_type"),
      (pmod(xxhash64(lit("psz"), col("id")), lit(50L)) + 1).cast("int").as("p_size"),
      r2(lit(900.0) + pmod(col("id"), lit(1000L)) * 0.1).as("p_retailprice"))

  def orders(s: SparkSession, n: Long, nCust: Long): DataFrame =
    s.range(n).select(
      col("id").as("o_orderkey"),
      pmod(xxhash64(lit("ocst"), col("id")), lit(nCust)).as("o_custkey"),
      pick("ost", Seq("F", "O", "P"), col("id")).as("o_orderstatus"),
      r2(u("otot", col("id")) * 499000.0 + 1000.0).as("o_totalprice"),
      // day-grain timestamps over 1995-01-01 .. 2001-08-01 (2404 days)
      date_add(to_date(lit("1995-01-01")),
        pmod(xxhash64(lit("odt"), col("id")), lit(2405L)).cast("int"))
        .cast("timestamp_ntz").as("o_orderdate"),
      pick("opri", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), col("id"))
        .as("o_orderpriority"))

  /** ~4 lines/order (uniform 1..7), keys within the part/supplier ranges. */
  def lineitem(s: SparkSession, nOrders: Long, nPart: Long, nSupp: Long): DataFrame = {
    val k = col("l_orderkey"); val ln = col("l_linenumber")
    s.range(nOrders)
      .select(col("id").as("l_orderkey"),
        explode(sequence(lit(1),
          (pmod(xxhash64(lit("lnl"), col("id")), lit(7L)) + 1).cast("int")))
          .as("l_linenumber"))
      .select(
        k,
        pmod(xxhash64(lit("lpk"), k, ln), lit(nPart)).as("l_partkey"),
        pmod(xxhash64(lit("lsk"), k, ln), lit(nSupp)).as("l_suppkey"),
        ln,
        (pmod(xxhash64(lit("lqt"), k, ln), lit(50L)) + 1).cast("double").as("l_quantity"),
        r2(u("lpr", k, ln) * 104100.0 + 900.0).as("l_extendedprice"),
        (pmod(xxhash64(lit("lds"), k, ln), lit(11L)).cast("double") / 100.0).as("l_discount"),
        (pmod(xxhash64(lit("ltx"), k, ln), lit(9L)).cast("double") / 100.0).as("l_tax"),
        pick("lrf", Seq("A", "N", "R"), k, ln).as("l_returnflag"),
        pick("lls", Seq("F", "O"), k, ln).as("l_linestatus"),
        date_add(to_date(lit("1995-01-02")),
          pmod(xxhash64(lit("lsd"), k, ln), lit(2499L)).cast("int"))
          .cast("timestamp_ntz").as("l_shipdate"))
  }

  /** Strictly ts-monotonic in event_id over 30 days of 2024-01. */
  def events(s: SparkSession, n: Long, nUsers: Long): DataFrame = {
    val spanUs = 30L * 24 * 3600 * 1000000 // 30 days in µs
    val gap = spanUs / n
    val startUs = 1704067200000000L // 2024-01-01T00:00:00Z
    s.range(n).select(
      col("id").as("event_id"),
      timestamp_micros(lit(startUs) + col("id") * gap +
        pmod(xxhash64(lit("ets"), col("id")), lit(math.max(gap, 1L))))
        .cast("timestamp_ntz").as("ts"),
      pmod(xxhash64(lit("eus"), col("id")), lit(nUsers)).as("user_id"),
      pick("ety", Seq("view", "click", "purchase", "signup", "error"), col("id"))
        .as("event_type"),
      r2(u("evl", col("id")) * 560.0).as("value"),
      format_string("{\"k\": %d}", pmod(xxhash64(lit("epr"), col("id")), lit(100L)))
        .as("props"))
  }

  /** `vocabSize = 0` (default): the closed 31-word vocabulary — the r9
    * mode every published artifact used; byte-identical output. `> 0`:
    * VOCABULARY-OPEN mode (r10 verdict #3) — words drawn Zipf(s≈1) from a
    * vocabulary of `vocabSize` ranks via a log-uniform rank draw
    * (rank = floor(V^u): P(rank ≤ x) = log x / log V ⇒ density ∝ 1/rank,
    * which IS Zipf s=1), rendered "w<rank>". Real crawl corpora grow
    * vocabulary with volume (Heaps' law), making per-shingle df sublinear
    * in corpus size; the closed mode instead saturates a 31-word shingle
    * space and drives the shingle-pair keys into their Σdf² worst case —
    * this mode measures the growth law users actually see. Same dup
    * injection either way ("zzgraftzz" stays out-of-vocab: open-mode
    * words are all "w"+digits).
    */
  def documents(s: SparkSession, n: Long, vocabSize: Long = 0L): DataFrame = {
    val id = col("id")
    // dup structure: ~0.2% exact copies of the previous doc, ~3% near-dups
    // of the previous doc (same words + one appended OOV token → word-set
    // jaccard m/(m+1) ∈ [0.91, 0.99]). r9 ADVICE fixes: (a) a dup flag is
    // suppressed when the PREDECESSOR is itself flagged — otherwise the
    // copy reproduces the predecessor's BASE text, not its actual text, and
    // matches no real document; (b) the appended token is out-of-vocab
    // ("zzgraftzz"), so a base doc can never already contain it and the
    // near-dup jaccard is exactly m/(m+1), never 1.0.
    def flaggedDup(i: Column): Column =
      i > 0 && (pmod(xxhash64(lit("dxd"), i), lit(500L)) === 0 ||
        pmod(xxhash64(lit("dnd"), i), lit(33L)) === 0)
    val predClean = !flaggedDup(id - 1)
    val exactDup = predClean && id > 0 && pmod(xxhash64(lit("dxd"), id), lit(500L)) === 0
    val nearDup = predClean && id > 0 && pmod(xxhash64(lit("dnd"), id), lit(33L)) === 0
    val tid = when(exactDup || nearDup, id - 1).otherwise(id)
    val vocabArr = array(vocab.map(lit): _*)
    val nWords = (pmod(xxhash64(lit("dnw"), tid), lit(91L)) + 10).cast("int")
    def word(i: Column): Column =
      if (vocabSize <= 0)
        element_at(vocabArr,
          (pmod(xxhash64(lit("dwd"), tid, i), lit(vocab.size.toLong)) + 1).cast("int"))
      else
        // log-uniform rank: floor(V^u) ∈ [1, V-1] for u ∈ [0,1) — Zipf s=1
        concat(lit("w"),
          least(lit(vocabSize), floor(pow(lit(vocabSize.toDouble), u("dwd", tid, i))).cast("long")))
    val baseText = concat_ws(" ", transform(sequence(lit(1), nWords), word(_)))
    val text = when(nearDup && !exactDup, concat(baseText, lit(" zzgraftzz"))).otherwise(baseText)
    s.range(n).select(
      id.as("doc_id"),
      text.as("text"),
      pick("dlg", Seq("en", "en", "en", "en", "en", "en", "en", "en",
        "zh", "zh", "zh", "es", "es", "es", "fr", "fr", "fr", "de", "de", "de"), id).as("lang"),
      concat(lit("src"), pmod(id, lit(20L))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Unit-norm 64-dim floats around 10 hashed centroids. */
  def embeddings(s: SparkSession, n: Long, dim: Int = 64, nLabels: Int = 10): DataFrame = {
    val id = col("id")
    val label = pmod(xxhash64(lit("elb"), id), lit(nLabels.toLong)).cast("int")
    // centroid(l,d) and noise(id,d), both in [-1,1]; centroid weighted 1.0,
    // noise 0.9 → clusters separable but overlapping (mirrors driver data)
    val raw = transform(sequence(lit(1), lit(dim)), d =>
      (u("ect", col("label"), d) * 2.0 - 1.0) + (u("ens", id, d) * 2.0 - 1.0) * 0.9)
    val norm = sqrt(aggregate(col("raw"), lit(0.0), (acc, x) => acc + x * x))
    s.range(n)
      .select(id.as("vec_id"), id, label.as("label"))
      .withColumn("raw", raw)
      .withColumn("nrm", norm)
      .select(
        col("vec_id"),
        transform(col("raw"), x => (x / col("nrm")).cast("float")).as("embedding"),
        col("label"))
  }

  /** Write one generated table — and DISARM the session caches (r14
    * verdict #7): regenerating parquet in place is exactly the dev flow
    * that triggers the regenerate-in-place hazard documented on
    * IvfAnn.cachedCentroids (dir-keyed session caches silently serving the
    * OLD corpus), so every write through GenData invalidates the writing
    * session's centroid frames, pair-volume estimates and table schemas
    * itself instead of relying on the developer to remember the hook.
    * Production paths are unaffected — a deployment versions its data dirs
    * and never writes through GenData.
    */
  def writeTable(outDir: String, name: String, df: DataFrame): Unit = {
    df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    graft.ops.IvfAnn.invalidateSessionCaches(df.sparkSession)
    graft.ops.PairBudget.invalidateSessionEstimates(df.sparkSession)
    Tables.invalidateSessionSchemas(df.sparkSession)
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sf = args(1).toDouble // e.g. 1.0 → 10× the bench scale
    val srcDims = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val spark = Sessions.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    // writer-only runtime conf: events.ts is written as TIMESTAMP(MICROS)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    def emit(name: String, df: DataFrame): Unit = {
      writeTable(outDir, name, df)
      println(s"[gen] $name done")
    }
    def cnt(base: Long): Long = math.max(1L, (base * sf).toLong)
    // tiny name-sensitive dims: copy from the driver's data
    emit("region", spark.read.parquet(s"$srcDims/region.parquet").coalesce(1))
    emit("nation", spark.read.parquet(s"$srcDims/nation.parquet").coalesce(1))
    val nCust = cnt(150000); val nSupp = cnt(10000); val nPart = cnt(200000)
    val nOrders = cnt(1500000)
    emit("customer", customer(spark, nCust, 25))
    emit("supplier", supplier(spark, nSupp, 25))
    emit("part", part(spark, nPart))
    emit("orders", orders(spark, nOrders, nCust))
    emit("lineitem", lineitem(spark, nOrders, nPart, nSupp))
    emit("events", events(spark, cnt(1000000), cnt(15000)))
    // SPARK_GRAFT_VOCAB_OPEN=1 → vocabulary-open documents: vocab ∝ sf
    // (20k ranks at sf1), the realistic sublinear-df regime for the
    // shingle-pair growth study. Default (unset) stays byte-identical to
    // every published artifact.
    val openV =
      if (sys.env.get("SPARK_GRAFT_VOCAB_OPEN").contains("1"))
        math.max(31L, (20000 * sf).toLong)
      else 0L
    emit("documents", documents(spark, cnt(50000), openV))
    emit("embeddings", embeddings(spark, cnt(20000)))
    spark.stop()
  }
}
