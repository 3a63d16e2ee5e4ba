package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** [[Tables]] infers each table's schema once per session and passes it
  * back on every later read: the cached read must give the schema and rows
  * of Spark's own inference, run no job, and never hand a schema to a
  * different path or conf setting.
  */
class TablesSpec extends SparkSpec {

  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings")

  private def load(name: String, dir: String = sfDir): DataFrame = name match {
    case "region" => Tables.region(spark, dir)
    case "nation" => Tables.nation(spark, dir)
    case "customer" => Tables.customer(spark, dir)
    case "supplier" => Tables.supplier(spark, dir)
    case "part" => Tables.part(spark, dir)
    case "orders" => Tables.orders(spark, dir)
    case "lineitem" => Tables.lineitem(spark, dir)
    case "documents" => Tables.documents(spark, dir)
    case "embeddings" => Tables.embeddings(spark, dir)
    case "events" => Tables.events(spark, dir)
    case "eventsSince" => Tables.eventsSince(spark, dir, 0L)
  }

  /** Row count and an order-free, overflow-free sum of per-row hashes. */
  private def digest(df: DataFrame): Row =
    df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)"))).head()

  private def jobs(body: => Unit): Int = QueryMetrics.measure(spark)(body)._2.jobs.size

  test("every loader's cached read has the inferred schema and the same rows") {
    (tables ++ Seq("events", "eventsSince")).foreach { name =>
      Tables.invalidateSessionSchemas(spark)
      val inferred = load(name)
      val cached = load(name)
      assert(cached.schema == inferred.schema, s"$name: ${cached.schema} vs ${inferred.schema}")
      assert(digest(cached) == digest(inferred), name)
    }
    tables.foreach { name =>
      val plain = spark.read.parquet(s"$sfDir/$name.parquet")
      val cached = load(name)
      assert(cached.schema == plain.schema, name)
      assert(digest(cached) == digest(plain), name)
    }
  }

  test("the first read of a table runs a schema job, a repeat read runs none") {
    val dir = tmpDir("tables-jobs")
    spark.range(5).toDF("r_regionkey").write.parquet(s"$dir/region.parquet")
    assert(jobs(Tables.region(spark, dir)) >= 1)
    assert(jobs(Tables.region(spark, dir)) == 0)
    assert(jobs(Tables.region(spark, dir)) == 0)
  }

  test("a table written with another schema under another path gets its own schema") {
    val a = tmpDir("tables-a")
    val b = tmpDir("tables-b")
    spark.range(3).toDF("id").write.parquet(s"$a/part.parquet")
    spark.range(3).select(col("id"), col("id").cast("string").as("name"))
      .write.parquet(s"$b/part.parquet")
    Seq(a, b).foreach { d =>
      load("part", d); load("part", d)
      assert(load("part", d).schema == spark.read.parquet(s"$d/part.parquet").schema, d)
    }
    assert(load("part", a).columns.toSeq == Seq("id"))
    assert(load("part", b).columns.toSeq == Seq("id", "name"))
  }

  test("a rewrite through GenData.writeTable drops the session's schemas") {
    val dir = tmpDir("tables-rewrite")
    GenData.writeTable(dir, "nation", spark.range(2).toDF("n_nationkey"))
    assert(load("nation", dir).columns.toSeq == Seq("n_nationkey"))
    GenData.writeTable(dir, "nation", spark.range(2).select(col("id").as("n_nationkey"), lit("x").as("n_name")))
    assert(load("nation", dir).columns.toSeq == Seq("n_nationkey", "n_name"))
  }

  test("an inference conf is part of the key: unannotated binary follows binaryAsString") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    import org.apache.spark.sql.types.{BinaryType, StringType}
    // written without Spark's footer schema, which would override inference
    val dir = tmpDir("tables-binary")
    val schema = MessageTypeParser.parseMessageType("message m { required binary s_name; }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/supplier.parquet/part-0.parquet"))
      .withType(schema)
      .build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("s_name", "x"))
    finally w.close()
    val conf = "spark.sql.parquet.binaryAsString"
    val prior = spark.conf.getOption(conf)
    def nameType = load("supplier", dir).schema("s_name").dataType
    try {
      Seq("false" -> BinaryType, "true" -> StringType, "false" -> BinaryType).foreach { case (v, t) =>
        spark.conf.set(conf, v)
        assert(spark.read.parquet(s"$dir/supplier.parquet").schema("s_name").dataType == t)
        assert(nameType == t && nameType == t, s"binaryAsString=$v")
      }
    } finally prior.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
  }

  test("two reads of one table are distinct relations, so a self-join resolves") {
    val a = Tables.orders(spark, sfDir)
    val b = Tables.orders(spark, sfDir)
    val n = a.join(b, a("o_orderkey") === b("o_orderkey")).count()
    assert(n == a.count() && n > 0)
  }
}
