package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables.{load => t}

/** The reference's demonstrated capability surface (SURVEY.md §2.1),
  * re-expressed Spark-first over the driver's TPC-H-ish testdata. The HR
  * schema maps onto customer→nation→region (SURVEY.md §2.2): `customer`
  * plays employees (fact/entity), `nation` plays departments (small dim),
  * `nation→region` plays the locations→countries→regions dim chain.
  *
  * Every query is a pure `(SparkSession, sfDir) => DataFrame`, deterministic
  * as a multiset, with engine-portable column types (SURVEY.md §5.2). Scale
  * discipline: dims (`nation` 25 rows, `region` 5 rows) are explicitly
  * `broadcast()`; fact-fact joins shuffle on their keys and rely on AQE for
  * skew; filters/projects stay declarative so Catalyst pushes them into the
  * parquet scan.
  */
object Core {

  // S1/S2 — JDBC full scan (reference README.md:462-467, 549-558).
  // Parquet binding; the stride-partitioned variant (S2) is content-identical
  // and modeled by parquet's native split planning.
  def q01FullScan(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")

  // S4 — pruned read-back with the decimal→bigint narrowing the reference
  // observes on the Cassandra round trip (README.md:867-889; §1.2 T1).
  def q02ReadbackProjection(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(
      col("c_custkey"),
      col("c_name"),
      col("c_nationkey").cast("bigint").as("c_nationkey"))

  // P1/P2 — projection dropping FK-ish columns (README.md:781, 804). The
  // SQL-string and DataFrame-method forms compile to the same plan; the test
  // suite asserts that equivalence (README.md:801-833).
  def q03Projection(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(
      "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
      "l_returnflag", "l_linestatus")

  /** SQL-string twin of q03 (same optimized plan; unit-tested). */
  def q03ProjectionSql(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
    s.sql("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
             l_returnflag, l_linestatus FROM lineitem_v""")
  }

  // P3 — bulk rename via toDF (README.md:733-739).
  def q04RenameLowercase(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .toDF("custkey", "name", "nationkey", "acctbal", "mktsegment")

  // F1 — point lookup on the numeric PK (README.md:338).
  def q05PointLookup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").filter(col("c_custkey") === 42L)

  // F2 — equality filter on a non-key column (README.md:321-333).
  def q06FilterNonkey(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").filter(col("c_nationkey") === 7)

  // F3 — equality filter on a string key (README.md:347, 379); p_brand is
  // the analog of HR job_id='ST_MAN'.
  def q07FilterString(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .filter(col("p_brand") === "Brand#12")
      .select("p_partkey", "p_name", "p_brand", "p_size")

  // F4 — partition-restricted projection on the denormalized table
  // (README.md:1005-1022: employees_by_dept WHERE department_id=50).
  def q08PartitionScan(s: SparkSession, dir: String): DataFrame =
    denorm(s, dir)
      .filter(col("n_nationkey") === 7L)
      .select("n_name", "c_custkey", "c_name")

  /** J1 feed — the flagship denormalization join (README.md:931): fact ⋈
    * broadcast(dim) with T1's bigint narrowing at the sink boundary. */
  private def denorm(s: SparkSession, dir: String): DataFrame = {
    val customer = t(s, dir, "customer")
    val nation = t(s, dir, "nation")
    customer
      .join(broadcast(nation),
        customer("c_nationkey") === nation("n_nationkey"), "inner")
      .select(
        col("n_nationkey").cast("bigint").as("n_nationkey"),
        col("n_name"),
        col("c_custkey").cast("bigint").as("c_custkey"),
        col("c_name"))
  }

  // J1 — inner equi-join building the employees_by_dept analog.
  def q09DenormJoin(s: SparkSession, dir: String): DataFrame =
    denorm(s, dir)

  // J2 — equi-join on a string key (README.md:1024-1027). The string-keyed
  // dim is derived from the fact itself (priority → order count), the
  // testdata analog of the jobs table.
  def q10JoinStringkey(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val dim = orders.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
    orders.join(broadcast(dim), Seq("o_orderpriority"), "inner")
      .select("o_orderkey", "o_orderpriority", "n_orders")
  }

  // J3 — self-join (README.md:1029-1032: reports ⋈ managers on
  // manager_id = employee_id). Testdata self-FK: each customer's "manager"
  // is the customer whose custkey equals their nationkey.
  def q11SelfJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val e = c.as("e")
    val m = c.as("m")
    e.join(m, col("e.c_nationkey").cast("bigint") === col("m.c_custkey"),
        "inner")
      .select(
        col("e.c_custkey").as("c_custkey"),
        col("e.c_name").as("c_name"),
        col("m.c_custkey").as("mgr_custkey"),
        col("m.c_name").as("mgr_name"))
  }

  // J4 — multi-way join: the relational answer to F5's 6-hop FK walk
  // (README.md:317-394 + schema PNG). Left-deep: the two fact-fact joins
  // shuffle on their keys; the dim chain is broadcast.
  def q12MultiwayJoin(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("c_custkey"), col("n_name"), col("r_name"))
  }

  // A1 — count as a one-row result (README.md:596-597, 876-877).
  def q13Count(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").agg(count(lit(1)).as("n"))

  // A2 — DISTINCT over the denormalized partition key + static column
  // (README.md:988-1001: distinct department_id, department_name → 11 rows).
  def q14Distinct(s: SparkSession, dir: String): DataFrame =
    denorm(s, dir).select("n_nationkey", "n_name").distinct()

  // L2 — clustering order made queryable: rank within partition
  // (README.md:909, 913 — PRIMARY KEY (dept, emp) ordering semantics).
  def q15ClusterOrder(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey")).orderBy(col("c_custkey"))
    t(s, dir, "customer")
      .select(col("c_nationkey"), col("c_custkey"))
      .withColumn("rn", row_number().over(w).cast("bigint"))
  }

  // T2 — timestamp rendered to text at the sink boundary (README.md:691 vs
  // 720; rendered value README.md:702).
  def q16TimestampFormat(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(
      col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss")
        .as("o_date_str"))

  /** q213 — SINK ORDER CONTRACT under the differential: materializes
    * [[graft.Sink.writeClustered]]'s output (orders clustered by
    * pk=o_custkey, ck=o_orderkey — the reference's `PRIMARY KEY (pk, ck)`
    * layout, README.md:902-909) and reads it BACK, verifying from file
    * geometry alone (the parquet `_metadata` hidden column) the two
    * physical guarantees a Cassandra reader relies on:
    *  - co-location: every partition key lives in exactly ONE file
    *    (`repartition(pk)` ⇒ one task ⇒ one file) — `split_keys` counts
    *    keys spanning >1 file, pinned to 0;
    *  - clustering order: within a file, a pk's rows appear in ascending
    *    ck order (`sortWithinPartitions`) — `viol` counts adjacent
    *    inversions by `_metadata.row_index`, pinned to 0.
    * The DuckDB oracle states the CONTRACT from the source table (per-
    * bucket row/key census + zero violations); dropping either sink
    * clause flips a pinned 0 and fails the hash. This is S3/D2's write
    * path under the cross-engine gate rather than unit-only (round-7
    * verdict item 5). Scale shape: the write IS the one pk shuffle; the
    * read-back audit is a narrow scan + one (file,pk)-keyed window + two
    * partial+final aggs — no joins, nothing corpus². */
  def q213SinkOrder(s: SparkSession, dir: String): DataFrame = {
    val out = graft.Sink.scratch("q213_sink")
    graft.Sink.writeClustered(
      t(s, dir, "orders"), "o_custkey", "o_orderkey", out)
    graft.Sink.auditClustered(s, out, "o_custkey", "o_orderkey")
      .groupBy(pmod(col("o_custkey"), lit(16L)).as("bucket"))
      .agg(sum("nr").as("n_rows"),
        count(lit(1)).as("n_keys"),
        sum("inv").as("viol"),
        sum(when(col("nf") > 1, 1L).otherwise(0L)).as("split_keys"))
  }

  /** q271 — PARTITIONED-WRITE LAYOUT CONTRACT (the S5/S3 family's
    * directory-partitioning member next to q213's within-file
    * clustering: `partitionBy` is how a lake co-locates a tenant's /
    * source's data for partition pruning, and the contract that
    * matters is that the round trip through the partition-encoded
    * directory tree loses NOTHING — the partition column comes back
    * from directory names, not file contents): documents written
    * `partitionBy(source)`, read back, and audited as a per-source
    * census (count + doc_id checksum + char mass) that the
    * differential compares against the SOURCE table — equal iff the
    * layout round trip is lossless. The pruning contract itself
    * (reading one partition scans one directory) is plan-asserted in
    * the spec, where `.explain` output is available.
    *
    * Scale shape: the write is one hash-partitioned pass; the audit a
    * map-side census over the read-back. */
  def q271PartitionedWrite(s: SparkSession, dir: String): DataFrame = {
    val out = graft.Sink.scratch("q271_part")
    t(s, dir, "documents").select("doc_id", "source", "n_chars")
      .write.mode("overwrite").partitionBy("source").parquet(out)
    s.read.parquet(out)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
        sum("n_chars").as("char_sum"))
  }

  private def q271OracleSql: String =
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       CAST(sum(n_chars) AS BIGINT) AS char_sum
       FROM documents GROUP BY source"""

  /** q272 — SCHEMA-EVOLUTION MERGE (the lake reality every long-lived
    * dataset hits: yesterday's writer didn't have the column, today's
    * does, and the reader must see ONE table with NULLs where history
    * is silent — `mergeSchema` is Spark's contract for exactly this):
    * the even half of documents written with the legacy (doc_id,
    * source) schema, the odd half appended with an evolved integer
    * `quality` column, read back through `mergeSchema=true` and
    * audited per source: total rows, legacy (NULL-quality) rows, and
    * the evolved column's checksum — the differential derives the
    * same censuses from the source table, so a reader that dropped
    * rows, mis-aligned the evolved column, or defaulted NULLs to 0
    * fails the hash.
    *
    * Scale shape: two narrow writes + one merged-footer read; audit
    * is one map-side census. */
  def q272SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val out = graft.Sink.scratch("q272_evo")
    val d = t(s, dir, "documents")
    d.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("source"))
      .write.mode("overwrite").parquet(out)
    d.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("source"),
        (col("n_chars") % 100L).as("quality"))
      .write.mode("append").parquet(out)
    s.read.option("mergeSchema", "true").parquet(out)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("quality").isNull, 1L).otherwise(0L))
          .as("n_legacy"),
        coalesce(sum("quality"), lit(0L)).as("quality_sum"))
  }

  private def q272OracleSql: String =
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_legacy,
       CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars % 100 ELSE 0 END)
         AS BIGINT) AS quality_sum
       FROM documents GROUP BY source"""

  /** q291 — CSV ROUND-TRIP CONTRACT as a declared query (the text-
    * format sibling of q271/q272's parquet contracts, under the
    * differential instead of unit-only: CSV is where round trips
    * actually die — delimiters inside text, quoting, type re-parse —
    * and the documents table carries free text, so the contract is
    * exercised where it can break): documents written as quoted CSV
    * with headers, read back under the explicit schema, and audited
    * as a (source, lang) census over counts, id checksum, char mass,
    * and re-measured text length — compared by the oracle against the
    * SOURCE table, so any quoting or parse loss fails the hash.
    *
    * Scale shape: one write + one read + a map-side census. */
  def q291CsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = graft.Sink.scratch("q291_csv")
    val src = t(s, dir, "documents")
      .select("doc_id", "source", "lang", "n_chars", "text")
    src.write.mode("overwrite").option("header", "true").csv(out)
    // multiLine: a corpus text containing a newline is WRITTEN as a
    // quoted multi-line field; without this option the line-splitting
    // reader could not reassemble it and the round trip would break on
    // valid input. Cost at scale: multiLine reads each FILE as one
    // split — parallelism becomes #files, which the partitioned writer
    // already provides, so nothing is lost here.
    s.read.option("header", "true").option("multiLine", "true")
      .schema(src.schema).csv(out)
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
        sum("n_chars").as("char_sum"),
        sum(length(col("text")).cast("bigint")).as("len_sum"))
  }

  private def q291OracleSql: String =
    """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       CAST(sum(n_chars) AS BIGINT) AS char_sum,
       CAST(sum(strlen(text)) AS BIGINT) AS len_sum
       FROM documents GROUP BY source, lang"""

  /** q294 profiled columns: (table, column) — integer/string only so
    * the min/max string rendering is engine-identical. */
  val AnalyzeCols: Seq[(String, String)] = Seq(
    ("customer", "c_nationkey"), ("customer", "c_mktsegment"),
    ("orders", "o_orderpriority"), ("orders", "o_custkey"),
    ("lineitem", "l_partkey"), ("documents", "lang"),
    ("events", "event_type"))

  /** q294 — CATALOG STATISTICS COLLECTION (ANALYZE TABLE as a
    * declared operator: row counts, null counts, EXACT distinct
    * cardinalities, and min/max per profiled column — the statistics
    * every cost-based planner decision in the suite implicitly leans
    * on (broadcast thresholds, q223's join-size estimates, q158's
    * zone maps), here produced as data so the catalog itself is under
    * the differential): seven (table, column) pairs, numeric and
    * string columns only so the min/max string rendering is
    * engine-identical; ndv is exact (the approx variant is q47's
    * HLL — the two bracket the accuracy/cost tradeoff).
    *
    * Scale shape: one aggregate per profiled column (exact distinct =
    * one extra exchange each — the price of exactness, paid per
    * ANALYZE run, not per query; production defaults to q47's sketch
    * for wide tables); 7 one-row frames unioned. */
  def q294AnalyzeStats(s: SparkSession, dir: String): DataFrame =
    AnalyzeCols.map { case (tbl, cn) =>
      t(s, dir, tbl).agg(count(lit(1)).as("n_rows"),
        sum(when(col(cn).isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct(col(cn)).as("ndv"),
        min(col(cn)).cast("string").as("min_val"),
        max(col(cn)).cast("string").as("max_val"))
        .select(lit(tbl).as("table_name"), lit(cn).as("column_name"),
          col("n_rows"), col("n_nulls"), col("ndv"), col("min_val"),
          col("max_val"))
    }.reduce(_ unionByName _)

  private def q294OracleSql: String =
    AnalyzeCols.map { case (tbl, cn) =>
      s"""SELECT '$tbl' AS table_name, '$cn' AS column_name,
          CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(CASE WHEN $cn IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_nulls,
          CAST(count(DISTINCT $cn) AS BIGINT) AS ndv,
          CAST(min($cn) AS VARCHAR) AS min_val,
          CAST(max($cn) AS VARCHAR) AS max_val
        FROM $tbl"""
    }.mkString("\n UNION ALL\n ")

  /** q296 — DATE-DIMENSION BUILD (the calendar spine every warehouse
    * keeps next to its facts: day-grain attributes — ISO weekday,
    * week, month, quarter, month-end flag — precomputed once so
    * every seasonal/fiscal query joins instead of re-deriving
    * calendar math, and so the calendar LOGIC itself sits under the
    * differential where the engines' dayofweek/week conventions
    * notoriously disagree; q196 already normalizes one such
    * divergence by hand — this table is where that normalization
    * lives at scale): one row per day spanning the orders table,
    * generated from the data's own min/max (replay-stable), weekday
    * normalized to the 0=Sunday convention.
    *
    * Scale shape: a 1-row min/max aggregate exploded into the
    * ~2500-day spine — domain-sized by construction; built once,
    * broadcast everywhere. */
  def q296DateDim(s: SparkSession, dir: String): DataFrame = {
    val span = t(s, dir, "orders")
      .agg(min(col("o_orderdate").cast("date")).as("d0"),
        max(col("o_orderdate").cast("date")).as("d1"))
    span.select(explode(expr("sequence(d0, d1, interval 1 day)"))
        .as("day"))
      .select(col("day"),
        expr("CAST(dayofweek(day) - 1 AS BIGINT)").as("dow"),
        expr("CAST(weekofyear(day) AS BIGINT)").as("iso_week"),
        expr("CAST(month(day) AS BIGINT)").as("month"),
        expr("CAST(quarter(day) AS BIGINT)").as("quarter"),
        (col("day") === last_day(col("day"))).as("is_month_end"))
  }

  private def q296OracleSql: String =
    """WITH span AS (SELECT CAST(min(o_orderdate) AS DATE) AS d0,
          CAST(max(o_orderdate) AS DATE) AS d1 FROM orders),
        days AS (SELECT CAST(unnest(generate_series(d0, d1,
          INTERVAL 1 DAY)) AS DATE) AS day FROM span)
        SELECT day, CAST(dayofweek(day) AS BIGINT) AS dow,
          CAST(weekofyear(day) AS BIGINT) AS iso_week,
          CAST(month(day) AS BIGINT) AS month,
          CAST(quarter(day) AS BIGINT) AS quarter,
          day = last_day(day) AS is_month_end
        FROM days"""

  /** Declared query map for this module. */
  // ------------------------------------------------------------ q453

  /** q453 — ORC ROUND-TRIP (the columnar-format sibling of q291's CSV
    * escape-hatch test: ORC is the OTHER columnar format a Spark-native
    * engine must interoperate with — Hive-era warehouses hand exactly
    * this off — and Spark ships the reader/writer natively; the
    * round-trip pins type fidelity for timestamps, doubles-as-cents,
    * and strings through the ORC writer's own encoders). Orders
    * written to ORC, read back WITHOUT a user-supplied schema (the
    * footer's own types must reconstruct the frame), then aggregated
    * per (status, priority) with exact cents — a result that can only
    * match the oracle (which reads the original parquet) if every
    * value survived the format conversion bit-exactly.
    *
    * Scale shape: one write + one scan; the aggregate is a 15-row
    * census. At 100 TB this is the migration-bridge pattern: ORC in,
    * parquet out, no driver-side data movement. */
  def q453OrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = graft.Sink.scratch("q453_orc")
    t(s, dir, "orders").write.mode("overwrite").orc(out)
    s.read.orc(out)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
          .as("cents"),
        sum(expr("CAST(floor(o_custkey) AS BIGINT)")).as("cust_sum"),
        max(expr("date_format(o_orderdate, 'yyyy-MM-dd')"))
          .as("max_day"))
  }

  private def q453OracleSql: String =
    """SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents,
       CAST(sum(CAST(floor(o_custkey) AS BIGINT)) AS BIGINT)
         AS cust_sum,
       max(strftime(o_orderdate, '%Y-%m-%d')) AS max_day
       FROM orders GROUP BY 1, 2"""

  // ------------------------------------------------------------ q477

  /** q477's planted malformed lines (after a dummy header the reader
    * skips): a type failure, a truncated row with a type failure, and
    * an unterminated quote — the three corruption classes a CSV
    * ingest actually sees. */
  val MalformedLines: Seq[String] = Seq(
    "doc_id,source,lang,n_chars,text",
    "notanumber,srcX,xx,12,hello world",
    "b4d,srcY",
    "77,\"unterminated quote,zz,9,boom")

  /** q477 — MALFORMED-INPUT AUDIT through PERMISSIVE CSV ingest (the
    * source-hardening counterpart of q291's happy-path round trip:
    * real feeds carry type garbage, truncated rows and broken quoting,
    * and the ingest contract every production reader runs is
    * PERMISSIVE + a corrupt-record column — load what parses, QUARANTINE
    * what doesn't, and REPORT the split; a reader that silently drops
    * or nulls bad rows is how corpora rot). The corpus is written to
    * CSV, three [[MalformedLines]] are planted in a sidecar file, and
    * the read-back releases {n_rows, n_good, n_corrupt,
    * corrupt_ppm} — the planted count recovered exactly.
    *
    * Scale shape: one write + one scan; the corrupt-column projection
    * is per-row, map-side combined to one row. */
  def q477MalformedCsvAudit(s: SparkSession, dir: String): DataFrame = {
    val out = graft.Sink.scratch("q477_csv")
    val src = t(s, dir, "documents")
      .select("doc_id", "source", "lang", "n_chars", "text")
    src.write.mode("overwrite").option("header", "true").csv(out)
    import s.implicits._
    MalformedLines.toDF("value").coalesce(1)
      .write.mode("append").text(out)
    val schema = org.apache.spark.sql.types.StructType(
      src.schema.fields :+ org.apache.spark.sql.types
        .StructField("_corrupt_record",
          org.apache.spark.sql.types.StringType, nullable = true))
    val back = s.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema).csv(out)
      .cache()
    back.agg(count(lit(1)).as("n_rows"),
        sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L))
          .as("n_good"),
        sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
          .as("n_corrupt"))
      .select(col("n_rows"), col("n_good"), col("n_corrupt"),
        expr("n_corrupt * 1000000 div n_rows").as("corrupt_ppm"))
  }

  private def q477OracleSql: String =
    s"""SELECT CAST(count(*) + ${MalformedLines.size - 1} AS BIGINT)
          AS n_rows,
        CAST(count(*) AS BIGINT) AS n_good,
        CAST(${MalformedLines.size - 1} AS BIGINT) AS n_corrupt,
        CAST(CAST(${MalformedLines.size - 1} AS HUGEINT) * 1000000
          // (count(*) + ${MalformedLines.size - 1}) AS BIGINT)
          AS corrupt_ppm
        FROM documents"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q477_malformed_csv_audit" -> (q477MalformedCsvAudit _),
    "q453_orc_roundtrip" -> (q453OrcRoundtrip _),
    "q296_date_dim" -> (q296DateDim _),
    "q294_analyze_stats" -> (q294AnalyzeStats _),
    "q291_csv_roundtrip" -> (q291CsvRoundtrip _),
    "q271_partitioned_write" -> (q271PartitionedWrite _),
    "q272_schema_evolution" -> (q272SchemaEvolution _),
    "q01_full_scan" -> (q01FullScan _),
    "q02_readback_projection" -> (q02ReadbackProjection _),
    "q03_projection" -> (q03Projection _),
    "q04_rename_lowercase" -> (q04RenameLowercase _),
    "q05_point_lookup" -> (q05PointLookup _),
    "q06_filter_nonkey" -> (q06FilterNonkey _),
    "q07_filter_string" -> (q07FilterString _),
    "q08_partition_scan" -> (q08PartitionScan _),
    "q09_denorm_join" -> (q09DenormJoin _),
    "q10_join_stringkey" -> (q10JoinStringkey _),
    "q11_self_join" -> (q11SelfJoin _),
    "q12_multiway_join" -> (q12MultiwayJoin _),
    "q13_count" -> (q13Count _),
    "q14_distinct" -> (q14Distinct _),
    "q15_cluster_order" -> (q15ClusterOrder _),
    "q16_timestamp_format" -> (q16TimestampFormat _),
    "q213_sink_order" -> (q213SinkOrder _))

  /** DuckDB oracles (ANSI SQL over the same parquet tables). */
  val oracleSql: Map[String, String] = Map(
    "q477_malformed_csv_audit" -> q477OracleSql,
    "q453_orc_roundtrip" -> q453OracleSql,
    "q296_date_dim" -> q296OracleSql,
    "q294_analyze_stats" -> q294OracleSql,
    "q291_csv_roundtrip" -> q291OracleSql,
    "q271_partitioned_write" -> q271OracleSql,
    "q272_schema_evolution" -> q272OracleSql,
    "q01_full_scan" ->
      "SELECT * FROM customer",
    "q02_readback_projection" ->
      """SELECT c_custkey, c_name, CAST(c_nationkey AS BIGINT) AS c_nationkey
         FROM customer""",
    "q03_projection" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
         l_returnflag, l_linestatus FROM lineitem""",
    "q04_rename_lowercase" ->
      """SELECT c_custkey AS custkey, c_name AS name,
         c_nationkey AS nationkey, c_acctbal AS acctbal,
         c_mktsegment AS mktsegment FROM customer""",
    "q05_point_lookup" ->
      "SELECT * FROM customer WHERE c_custkey = 42",
    "q06_filter_nonkey" ->
      "SELECT * FROM customer WHERE c_nationkey = 7",
    "q07_filter_string" ->
      """SELECT p_partkey, p_name, p_brand, p_size FROM part
         WHERE p_brand = 'Brand#12'""",
    "q08_partition_scan" ->
      """SELECT n_name, CAST(c_custkey AS BIGINT) AS c_custkey, c_name
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         WHERE n_nationkey = 7""",
    "q09_denorm_join" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
         CAST(c_custkey AS BIGINT) AS c_custkey, c_name
         FROM customer JOIN nation ON c_nationkey = n_nationkey""",
    "q10_join_stringkey" ->
      """SELECT o_orderkey, o.o_orderpriority, d.n_orders
         FROM orders o JOIN (SELECT o_orderpriority, count(*) AS n_orders
                             FROM orders GROUP BY o_orderpriority) d
         ON o.o_orderpriority = d.o_orderpriority""",
    "q11_self_join" ->
      """SELECT e.c_custkey AS c_custkey, e.c_name AS c_name,
         m.c_custkey AS mgr_custkey, m.c_name AS mgr_name
         FROM customer e JOIN customer m
         ON CAST(e.c_nationkey AS BIGINT) = m.c_custkey""",
    "q12_multiway_join" ->
      """SELECT l_orderkey, l_linenumber, c_custkey, n_name, r_name
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey""",
    "q13_count" ->
      "SELECT count(*) AS n FROM orders",
    "q14_distinct" ->
      """SELECT DISTINCT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name
         FROM customer JOIN nation ON c_nationkey = n_nationkey""",
    "q15_cluster_order" ->
      """SELECT c_nationkey, c_custkey,
         row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey)
           AS rn
         FROM customer""",
    "q16_timestamp_format" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
         AS o_date_str FROM orders""",
    // The oracle states the sink's order CONTRACT from the source table:
    // the per-bucket census must survive the write+read-back unchanged and
    // both violation counters must be exactly zero.
    "q213_sink_order" ->
      """WITH k AS (SELECT o_custkey, count(*) AS nr
                    FROM orders GROUP BY o_custkey)
         SELECT CAST(o_custkey % 16 AS BIGINT) AS bucket,
                CAST(sum(nr) AS BIGINT) AS n_rows,
                CAST(count(*) AS BIGINT) AS n_keys,
                CAST(0 AS BIGINT) AS viol,
                CAST(0 AS BIGINT) AS split_keys
         FROM k GROUP BY 1""")
}
