package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builder-side scale-factor extrapolator: writes an sf1-equivalent
  * fixture (10× the shipped sf0.1) under the SAME generator contracts as
  * FIXTURES.md, so `graft.Scaling` can resolve the exponents whose sf0.01
  * data cost sits under the wall-clock noise floor (SCALING.md's
  * "unresolved in time" rows need a 10× step ABOVE sf0.1, not below).
  *
  * The laws below were measured from the shipped fixtures (DuckDB over
  * sf0.001/0.01/0.1 parquet; see SCALING.md round-9 notes) and are
  * extrapolated, not copied: same domains, same distribution families,
  * same growth rules, fresh deterministic draws.
  *  - row counts ×(sf/0.1) over sf0.1: customer 15k·x, supplier 1k·x,
  *    part 20k·x, orders 150k·x, lineitem ~4/order (Poisson(4), zero-line
  *    orders legal), events 100k·x over 1.5k·x users, documents 5k·x,
  *    embeddings 2k·x; region/nation fixed (5/25).
  *  - documents.text: iid word soup over the 30-word fixed vocabulary
  *    plus the rare token 'dup' at p≈0.001; length uniform 10..100
  *    words; n_chars = strlen(text); lang ∈ {en .4, es/fr/de/zh .15};
  *    source = 'src' + (doc_id mod 20). The FIXED vocabulary is the
  *    load-bearing property: it's what makes shingle df grow ∝ n and
  *    keeps the q101/q110 quadratic pressure REAL at sf1.
  *  - events: ts uniform over 2024-01-01..31 (the fixed 30-day span —
  *    the property that densifies per-user activity as users grow),
  *    event_id = ts-rank, user uniform, type uniform over 5, value
  *    Exp(mean 50) rounded to cents, props = single-key JSON k∈0..99.
  *  - embeddings: iid unit-normalized 64-dim float32, label uniform
  *    0..9 (no planted near-dups — the dedup queries plant their own).
  *
  * Determinism: every row's draws come from a Random seeded by
  * mix(SEED, table, row id) — independent of partitioning, stable across
  * runs. Output parquet lands under the target dir (default
  * `testdata_sf1/`, git-ignored; regenerate with
  * `sbt "runMain graft.GenData"`).
  */
object GenData {
  val Seed = 42L

  private def rng(table: Long, i: Long): java.util.Random = {
    // splitmix64 finalizer over (seed, table, i): partitioning-immune
    var z = Seed ^ (table * 0x9e3779b97f4a7c15L) ^ (i * 0xbf58476d1ce4e5b9L)
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    new java.util.Random(z ^ (z >>> 31))
  }

  val Vocab: Seq[String] = Seq("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")
  val Langs: Seq[(String, Double)] =
    Seq("en" -> 0.40, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.15, "zh" -> 0.15)
  val Segments: Seq[String] =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities: Seq[String] =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val PTypes: Seq[String] =
    Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  val PAdj: Seq[String] =
    Seq("large", "hot", "blue", "red", "dark", "light", "small", "round")
  val PNoun: Seq[String] =
    Seq("ring", "bolt", "case", "drum", "plate", "wheel", "cog", "pin")

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("testdata_sf1")
    val mult = sys.env.getOrElse("SPARK_GRAFT_GEN_MULT", "10").toInt
    val spark = GraftSession()
    import spark.implicits._

    val nCust = 15000L * mult
    val nSupp = 1000L * mult
    val nPart = 20000L * mult
    val nOrders = 150000L * mult
    val nEvents = 100000L * mult
    val nUsers = 1500L * mult
    val nDocs = 5000L * mult
    val nVecs = 2000L * mult

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[gendata] wrote $name")
    }

    write("region", Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"),
      (3, "EUROPE"), (4, "MIDDLE EAST"))
      .toDF("r_regionkey", "r_name"))

    write("nation", (0 until 25).map(i =>
      (i, f"NATION_$i%02d", i % 5)).toDF(
      "n_nationkey", "n_name", "n_regionkey"))

    write("customer", spark.range(nCust).map { i =>
      val r = rng(1, i)
      (i, f"Customer#$i%09d", r.nextInt(25),
        math.floor((r.nextDouble() * 11000.0 - 1000.0) * 100) / 100,
        Segments(r.nextInt(5)))
    }.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
      "c_mktsegment")
      .withColumn("c_nationkey", col("c_nationkey").cast("int")))

    write("supplier", spark.range(nSupp).map { i =>
      val r = rng(2, i)
      (i, f"Supplier#$i%09d", r.nextInt(25),
        math.floor((r.nextDouble() * 11000.0 - 1000.0) * 100) / 100)
    }.toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .withColumn("s_nationkey", col("s_nationkey").cast("int")))

    write("part", spark.range(nPart).map { i =>
      val r = rng(3, i)
      (i, s"${PAdj(r.nextInt(8))} ${PNoun(r.nextInt(8))}",
        s"Brand#${1 + r.nextInt(25)}", PTypes(r.nextInt(6)),
        1 + r.nextInt(50),
        math.floor((900.0 + r.nextDouble() * 100.0) * 100) / 100)
    }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
      "p_retailprice")
      .withColumn("p_size", col("p_size").cast("int")))

    // o_orderdate: uniform day in 1995-01-01 .. 2001-08-01 (2405 days)
    val epochDay0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay
    write("orders", spark.range(nOrders).map { i =>
      val r = rng(4, i)
      val day = epochDay0 + r.nextInt(2405)
      (i, math.floorMod(r.nextLong(), nCust), "POF" (r.nextInt(3)).toString,
        math.floor((1000.0 + r.nextDouble() * 499000.0) * 100) / 100,
        java.sql.Timestamp.valueOf(
          java.time.LocalDate.ofEpochDay(day).atStartOfDay()),
        Priorities(r.nextInt(5)))
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority"))

    // lines per order ~ Poisson(4) (zero-line orders legal, as shipped);
    // l_shipdate independent uniform day over 1995-01-02 .. 2001-11-04
    write("lineitem", spark.range(nOrders).flatMap { i =>
      val r = rng(5, i)
      val lam = math.exp(-4.0)
      var k = 0; var p = 1.0
      while (p > lam) { k += 1; p *= r.nextDouble() }
      (1 to (k - 1)).map { ln =>
        val day = epochDay0 + 1 + r.nextInt(2405 + 95)
        (i, math.floorMod(r.nextLong(), nPart),
          math.floorMod(r.nextLong(), nSupp), ln,
          (1 + r.nextInt(50)).toDouble,
          math.floor((900.0 + r.nextDouble() * 104100.0) * 100) / 100,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          "ANR" (r.nextInt(3)).toString, "FO" (r.nextInt(2)).toString,
          java.sql.Timestamp.valueOf(
            java.time.LocalDate.ofEpochDay(day).atStartOfDay()))
      }
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
      .withColumn("l_linenumber", col("l_linenumber").cast("int")))

    // events: ts uniform over the FIXED 30-day span; event_id = ts rank
    val t0us = java.time.Instant.parse("2024-01-01T00:00:00Z")
      .getEpochSecond * 1000000L
    val spanUs = 30L * 86400L * 1000000L
    val raw = spark.range(nEvents).map { i =>
      val r = rng(6, i)
      val tsUs = t0us + math.floorMod(r.nextLong(), spanUs)
      (tsUs, math.floorMod(r.nextLong(), nUsers),
        Seq("signup", "click", "view", "purchase", "error")(r.nextInt(5)),
        math.rint(-50.0 * math.log1p(-r.nextDouble()) * 100) / 100,
        s"""{"k": ${r.nextInt(100)}}""")
    }.toDF("ts_us", "user_id", "event_type", "value", "props")
    write("events", raw
      .withColumn("event_id", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(
          col("ts_us"), col("user_id"), col("props"))).cast("long") - 1)
      .select(col("event_id"),
        expr("timestamp_micros(ts_us)").as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props")))

    write("documents", spark.range(nDocs).map { i =>
      val r = rng(7, i)
      val len = 10 + r.nextInt(91)
      val words = (0 until len).map { _ =>
        if (r.nextDouble() < 0.001) "dup" else Vocab(r.nextInt(30))
      }
      val text = words.mkString(" ")
      val u = r.nextDouble()
      var acc = 0.0
      val lang = Langs.collectFirst {
        case (l, p) if { acc += p; u < acc } => l
      }.getOrElse("zh")
      (i, text, lang, s"src${i % 20}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars"))

    write("embeddings", spark.range(nVecs).map { i =>
      val r = rng(8, i)
      val g = Array.fill(64)(r.nextGaussian())
      val nrm = math.sqrt(g.map(x => x * x).sum)
      (i, g.map(x => (x / nrm).toFloat), r.nextInt(10))
    }.toDF("vec_id", "embedding", "label")
      .withColumn("label", col("label").cast("int")))

    spark.stop()
  }
}
