package graft

import org.apache.spark.sql.functions._

/** Unit tests for the determinism helpers and the table loaders. */
class QfTablesSpec extends SparkSpec {
  import spark.implicits._

  test("dsum is partitioning-invariant (the property plain double sum lacks)") {
    val xs = (1 to 10000).map(i => i * 0.01 + 0.001)
    val df1 = xs.toDF("x").repartition(1)
    val df7 = xs.toDF("x").repartition(7)
    val a = df1.agg(Qf.dsum(col("x"), 4)).collect()(0).getDouble(0)
    val b = df7.agg(Qf.dsum(col("x"), 4)).collect()(0).getDouble(0)
    assert(a == b, "dsum must be bit-identical across partitionings")
  }

  test("davg = exact sum / count") {
    val df = Seq(1.0, 2.0, 4.0).toDF("x")
    assert(df.agg(Qf.davg(col("x"), 2)).collect()(0).getDouble(0) == 7.0 / 3)
  }

  test("events loader: etime is the microsecond truncation of ts") {
    val e = Tables
      .events(spark, sfDir)
      .select(col("ts"), col("etime"), unix_micros(col("etime")).as("us"))
      .collect()
    assert(e.nonEmpty)
    e.foreach { r =>
      assert(r.getAs[Long]("us") == r.getAs[Long]("ts") / 1000L, "etime must equal ts div 1000 µs")
    }
  }

  test("star tables load with expected key columns") {
    assert(Tables.region(spark, sfDir).columns.contains("r_regionkey"))
    assert(Tables.lineitem(spark, sfDir).columns.contains("l_orderkey"))
    assert(Tables.documents(spark, sfDir).columns.sorted.sameElements(
      Array("doc_id", "lang", "n_chars", "source", "text")))
    assert(Tables.embeddings(spark, sfDir).columns.contains("embedding"))
  }

  test("task-floor gate: below it, spreadSmallScan hash-repartitions to defaultParallelism on the key") {
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
    val p = spark.sparkContext.defaultParallelism
    assert(Tables.belowTaskFloor(spark, sfDir, "lineitem"))
    val out = Tables.spreadSmallScan(
      spark, sfDir, "lineitem", Tables.lineitem(spark, sfDir), col("l_orderkey"))
    out.queryExecution.analyzed match {
      case r: RepartitionByExpression =>
        assert(r.optNumPartitions.contains(p))
        assert(r.partitionExpressions.flatMap(_.references.map(_.name)) == Seq("l_orderkey"))
      case other => fail(s"expected a hash repartition on top, got:\n$other")
    }
  }

  test("task-floor gate: above it, spreadSmallScan returns the frame itself") {
    // 300k rows of 64 hash bytes: incompressible, ~19 MB on disk, above the
    // 4 cores × 4 MB gate of the suite session
    val dir = tmpDir("gate-above")
    try {
      spark.range(300000).select(unhex(sha2(col("id").cast("string"), 512)).as("b"))
        .write.parquet(s"$dir/blob.parquet")
      val bytes = Tables.inputBytes(spark, dir, "blob")
      assert(bytes > spark.sparkContext.defaultParallelism.toLong * 4 * 1024 * 1024, s"only $bytes bytes")
      assert(!Tables.belowTaskFloor(spark, dir, "blob"))
      val df = spark.read.parquet(s"$dir/blob.parquet")
      assert(Tables.spreadSmallScan(spark, dir, "blob", df, col("b")) eq df)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("task-floor gate: a missing table reads as 0 bytes and is below the gate") {
    val dir = tmpDir("gate-missing")
    assert(Tables.inputBytes(spark, dir, "absent") == 0L)
    assert(Tables.belowTaskFloor(spark, dir, "absent"))
  }
}
