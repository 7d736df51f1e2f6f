package graft

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, DOUBLE, INT64}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.sources.{JdbcBinding, ParquetBinding, SourceBinding, SourceSchemaMismatch, Tables}
import graft.streaming.EventStream

/** Source-layer checks mirroring the reference's own row-count validation
  * (reference README.md:596-597, 876-877) and the lower-case normalization
  * that fixes its one real bug surface (README.md:708). */
class TablesSpec extends SparkSpec {

  val expectedCounts = Map(
    "region" -> 5L, "nation" -> 25L, "customer" -> 150L,
    "supplier" -> 10L, "part" -> 200L, "orders" -> 1500L,
    "lineitem" -> 6000L, "documents" -> 500L, "embeddings" -> 500L,
    "events" -> 1000L)

  test("row counts at sf0.001 match FIXTURES.md") {
    expectedCounts.foreach { case (name, n) =>
      assert(Tables.load(spark, sf1, name).count() === n, name)
    }
  }

  test("all column names are lower-case after load") {
    Tables.names.foreach { name =>
      val cols = Tables.load(spark, sf1, name).columns
      assert(cols.forall(c => c == c.toLowerCase), s"$name: ${cols.toSeq}")
    }
  }

  test("events.ts is a usable TimestampType whatever the parquet encoding") {
    val events = Tables.load(spark, sf1, "events")
    assert(events.schema("ts").dataType === TimestampType)
    import org.apache.spark.sql.functions._
    val r = events.agg(
      min(year(col("ts"))).as("y0"), max(year(col("ts"))).as("y1")).head()
    assert(r.getInt(0) === 2024 && r.getInt(1) === 2024)
  }

  // Schema-drift SENTINEL (VERDICT r6 item 4): the driver regenerates
  // testdata between rounds and has already changed events.ts encoding
  // once (parquet NANOS → micros TIMESTAMP_NTZ), which surfaced as 31
  // scattered failures. This single test pins the POST-LOAD contract —
  // the one downstream operators actually consume — so the next
  // encoding change fails here first, by name.
  test("SENTINEL: post-load column types match the engine's assumptions") {
    val expected = Map(
      "region" -> Seq("r_regionkey:int", "r_name:string"),
      "nation" -> Seq(
        "n_nationkey:int", "n_name:string", "n_regionkey:int"),
      "customer" -> Seq("c_custkey:bigint", "c_name:string",
        "c_nationkey:int", "c_acctbal:double", "c_mktsegment:string"),
      "supplier" -> Seq("s_suppkey:bigint", "s_name:string",
        "s_nationkey:int", "s_acctbal:double"),
      "part" -> Seq("p_partkey:bigint", "p_name:string", "p_brand:string",
        "p_type:string", "p_size:int", "p_retailprice:double"),
      "orders" -> Seq("o_orderkey:bigint", "o_custkey:bigint",
        "o_orderstatus:string", "o_totalprice:double",
        "o_orderdate:timestamp_ntz", "o_orderpriority:string"),
      "lineitem" -> Seq("l_orderkey:bigint", "l_partkey:bigint",
        "l_suppkey:bigint", "l_linenumber:int", "l_quantity:double",
        "l_extendedprice:double", "l_discount:double", "l_tax:double",
        "l_returnflag:string", "l_linestatus:string",
        "l_shipdate:timestamp_ntz"),
      "documents" -> Seq("doc_id:bigint", "text:string", "lang:string",
        "source:string", "n_chars:bigint"),
      "embeddings" -> Seq(
        "vec_id:bigint", "embedding:array<float>", "label:int"),
      "events" -> Seq("event_id:bigint", "ts:timestamp", "user_id:bigint",
        "event_type:string", "value:double", "props:string"))
    expected.foreach { case (name, cols) =>
      val actual = Tables.load(spark, sf1, name).schema
        .map(f => s"${f.name}:${f.dataType.simpleString}").toSeq
      assert(actual === cols, s"schema drift in table '$name'")
    }
  }

  // ------------------------------------------------ declared schemas

  /** Write `df` as the single parquet FILE `$dir/$name.parquet`, the way
    * the sf tables are laid out, replacing whatever file is there. */
  private def writeTableFile(df: DataFrame, dir: String, name: String): Unit = {
    val staging = Files.createTempDirectory("graft-staging").toString
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new File(staging).listFiles()
      .filter(f => f.getName.startsWith("part-")).head
    Files.move(part.toPath, Paths.get(s"$dir/$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def customer: DataFrame = Tables.load(spark, sf1, "customer")

  test("a column of the wrong type fails at load, naming table, column, " +
    "declared type and found type") {
    val dir = Files.createTempDirectory("graft-badtype").toString
    writeTableFile(customer
      .withColumn("c_custkey", col("c_custkey").cast("string")),
      dir, "customer")
    val e = intercept[SourceSchemaMismatch] {
      Tables.load(spark, dir, "customer")
    }
    assert((e.table, e.column, e.declared, e.found) ===
      (("customer", "c_custkey", "bigint", "string")))
    Seq("customer", "c_custkey", "bigint", "string").foreach(w =>
      assert(e.getMessage.contains(w), e.getMessage))
  }

  test("a missing column fails at load by name") {
    val dir = Files.createTempDirectory("graft-missing").toString
    writeTableFile(customer.drop("c_name"), dir, "customer")
    val e = intercept[SourceSchemaMismatch] {
      Tables.load(spark, dir, "customer")
    }
    assert((e.table, e.column, e.declared, e.found) ===
      (("customer", "c_name", "string", "missing")))
  }

  test("a file rewritten at the same path is checked again") {
    val dir = Files.createTempDirectory("graft-rewrite").toString
    writeTableFile(customer, dir, "customer")
    assert(Tables.load(spark, dir, "customer").count() === 150L)
    writeTableFile(customer
      .withColumn("c_acctbal", col("c_acctbal").cast("string")),
      dir, "customer")
    val e = intercept[SourceSchemaMismatch] {
      Tables.load(spark, dir, "customer")
    }
    assert((e.column, e.declared, e.found) ===
      (("c_acctbal", "double", "string")))
    writeTableFile(customer, dir, "customer")
    assert(Tables.load(spark, dir, "customer").count() === 150L)
  }

  test("loading every table runs no Spark job, first check included") {
    val dir = Files.createTempDirectory("graft-nojob").toString
    Tables.names.foreach(n => Files.copy(
      Paths.get(s"$sf1/$n.parquet"), Paths.get(s"$dir/$n.parquet")))
    val (_, jobs) = jobsOf {
      Tables.names.foreach(n => Tables.load(spark, dir, n).schema)
      Tables.names.foreach(n => Tables.load(spark, dir, n).schema)
    }
    assert(jobs.isEmpty, "a Tables.load ran a Spark job (schema inference?)")
  }

  test("events.ts as parquet TIMESTAMP(NANOS) loads, and only that " +
    "encoding sets nanosAsLong on the session") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    Tables.load(spark, sf1, "events").schema
    assert(spark.conf.get(key) === "false",
      "a micros events file must not flip nanosAsLong")

    val dir = Files.createTempDirectory("graft-nanos").toString
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .optional(INT64).as(LogicalTypeAnnotation.timestampType(
        false, LogicalTypeAnnotation.TimeUnit.NANOS)).named("ts")
      .optional(INT64).named("user_id")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType())
      .named("event_type")
      .optional(DOUBLE).named("value")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    val conf = spark.sparkContext.hadoopConfiguration
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new Path(s"$dir/events.parquet"), conf)).withType(schema).build()
    // 2024-01-15T10:30:00.123456789Z
    val nanos = 1705314600123456789L
    writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", nanos).append("user_id", 7L)
      .append("event_type", "click").append("value", 1.5)
      .append("props", "{\"k\": 1}"))
    writer.close()

    val events = Tables.load(spark, dir, "events")
    assert(spark.conf.get(key) === "true")
    assert(events.schema("ts").dataType === TimestampType)
    assert(events.head().getAs[java.sql.Timestamp]("ts").toInstant ===
      java.time.Instant.parse("2024-01-15T10:30:00.123456Z"))
    assert(EventStream.readStream(spark, dir, "events").schema("ts")
      .dataType === TimestampType)
  }

  test("customer schema keeps int64 custkey") {
    assert(Tables.load(spark, sf1, "customer")
      .schema("c_custkey").dataType === LongType)
  }

  test("registerAll exposes every table to spark.sql") {
    Tables.registerAll(spark, sf1)
    val n = spark.sql("SELECT count(*) FROM nation").head().getLong(0)
    assert(n === 25L)
  }

  test("ParquetBinding serves the same contract as Tables.load") {
    val binding: SourceBinding = new ParquetBinding(sf1)
    assert(binding.table(spark, "region").count() === 5L)
  }

  test("SparkEntry.entry (driver smoke contract) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0L)
  }

  // S5 catalog listing (reference README.md:210-223: `user_tables` → the
  // schema's table names). Filtered to our names — the shared test
  // session may hold other suites' temp views.
  test("catalog lists all 10 registered tables") {
    Tables.registerAll(spark, sf1)
    val listed = spark.catalog.listTables()
      .collect().map(_.name).toSet
    assert(Tables.names.forall(listed.contains),
      s"missing: ${Tables.names.filterNot(listed.contains)}")
  }

  // Nullability inference at the source boundary (reference
  // README.md:480-493: JDBC marks nullable=false exactly where Oracle
  // had NOT NULL; parquet footers carry no constraint, so load
  // re-asserts it).
  test("key columns are non-nullable after load") {
    Tables.names.foreach { name =>
      val schema = Tables.load(spark, sf1, name).schema
      Tables.keyColumns(name).foreach { k =>
        assert(!schema(k).nullable, s"$name.$k should be non-nullable")
      }
    }
  }

  test("IsNotNull on a key column is optimized away") {
    import org.apache.spark.sql.functions.col
    val plan = Tables.load(spark, sf1, "customer")
      .filter(col("c_custkey").isNotNull)
      .queryExecution.optimizedPlan.toString()
    assert(!plan.toLowerCase.contains("isnotnull"),
      s"IsNotNull survived optimization:\n$plan")
  }

  test("key-column predicate pushdown survives the nullability project") {
    import org.apache.spark.sql.functions.col
    val plan = Tables.load(spark, sf1, "customer")
      .filter(col("c_custkey") === 5L)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo"),
      s"point-lookup filter not pushed to the parquet scan:\n$plan")
  }

  // S2 stride-partitioned JDBC scan: the option plumbing is testable
  // without a database (reference README.md:539-543 — bounds set STRIDE,
  // all-or-none with the partition column).
  test("JdbcBinding plain form carries no partition options") {
    val opts = new JdbcBinding("jdbc:h2:mem:x", "org.h2.Driver")
      .readerOptions("orders")
    assert(opts("dbtable") === "orders" && opts("fetchsize") === "1000")
    assert(!opts.contains("partitionColumn") && !opts.contains("lowerBound")
      && !opts.contains("upperBound") && !opts.contains("numPartitions"))
  }

  test("JdbcBinding partitioned form carries all four options") {
    val opts = new JdbcBinding("jdbc:h2:mem:x", "org.h2.Driver",
      fetchSize = 500, partition = Some(("o_orderkey", 0L, 6000000L, 32)))
      .readerOptions("orders")
    assert(opts("partitionColumn") === "o_orderkey")
    assert(opts("lowerBound") === "0" && opts("upperBound") === "6000000")
    assert(opts("numPartitions") === "32" && opts("fetchsize") === "500")
  }

  test("JdbcBinding rejects inverted bounds and non-positive partitions") {
    intercept[IllegalArgumentException] {
      new JdbcBinding("u", "d", partition = Some(("k", 10L, 10L, 4)))
    }
    intercept[IllegalArgumentException] {
      new JdbcBinding("u", "d", partition = Some(("k", 0L, 10L, 0)))
    }
    intercept[IllegalArgumentException] { new JdbcBinding("u", "d", 0) }
  }

  // S1/S2 LIVE: Derby ships with the Spark distribution (the Hive
  // metastore's embedded store), so an in-memory Derby database
  // exercises the REAL JDBC read path — driver registration, dialect,
  // stride query generation — with zero network access.
  private val derbyUrl = "jdbc:derby:memory:grafttest;create=true"
  private val derbyDriver = "org.apache.derby.jdbc.EmbeddedDriver"

  private def seedDerbyCustomer(): org.apache.spark.sql.DataFrame = {
    val src = Tables.load(spark, sf1, "customer")
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
    // write through Spark's own JDBC sink (DerbyDialect): creates the
    // table and inserts all rows — the S3 write side of the round-trip
    src.write.format("jdbc")
      .option("url", derbyUrl).option("driver", derbyDriver)
      .option("dbtable", "customer").mode("overwrite").save()
    src
  }

  test("JdbcBinding live plain read against embedded Derby equals " +
    "the parquet table") {
    val src = seedDerbyCustomer()
    val back = new JdbcBinding(derbyUrl, derbyDriver)
      .table(spark, "customer")
    assert(back.columns.toSeq ===
      Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal"),
      "Derby upper-cases identifiers; normalize must lower them back")
    assert(back.collect().map(_.toString).sorted.toSeq ===
      src.collect().map(_.toString).sorted.toSeq)
  }

  test("JdbcBinding live stride-partitioned read returns EVERY row — " +
    "bounds set stride, not a filter — across the declared partitions") {
    val src = seedDerbyCustomer()
    val n = src.count()
    // bounds deliberately NARROWER than the real key range: rows with
    // c_custkey outside [40, 100) must still come back (reference
    // README.md:539-543 semantics, previously only documented)
    val part = new JdbcBinding(derbyUrl, derbyDriver,
      partition = Some(("C_CUSTKEY", 40L, 100L, 4)))
      .table(spark, "customer")
    assert(part.rdd.getNumPartitions === 4,
      "numPartitions must drive the scan's parallelism")
    assert(part.count() === n,
      "a stride-partitioned read filtered rows — bounds are NOT a filter")
    assert(part.collect().map(_.toString).sorted.toSeq ===
      src.collect().map(_.toString).sorted.toSeq)
  }

  test("Spark's JDBC source enforces all-or-none partition options " +
    "(partitionColumn without bounds raises)") {
    seedDerbyCustomer()
    val e = intercept[IllegalArgumentException] {
      spark.read.format("jdbc")
        .option("url", derbyUrl).option("driver", derbyDriver)
        .option("dbtable", "customer")
        .option("partitionColumn", "C_CUSTKEY")
        .load()
    }
    assert(e.getMessage.toLowerCase.contains("partitioncolumn"),
      s"unexpected error surface: ${e.getMessage}")
  }
}
