package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables.{load => t}

/** TPC-H join-shape portfolio COMPLETION (q370–q380): with the eleven
  * shapes already declared (Q1 = q20, Q3 = q328/q107, Q5 = q311, Q7 =
  * q360, Q8 = q305, Q10 = q329, Q14 = q312, Q17 = q361, Q18 = q362,
  * Q19 = q363, Q22 = q364), these eleven analogs put ALL 22 classic
  * TPC-H join/aggregation shapes under the differential. The testdata
  * schema has no `partsupp` and no `l_commitdate`/`l_receiptdate`/
  * `l_shipmode`, so Q2/Q4/Q9/Q11/Q12/Q16/Q20/Q21 are ADAPTED — each
  * scaladoc states the substitution and why the SHAPE (the join
  * topology + aggregate structure the optimizer must handle, which is
  * what the portfolio exists to pin) is preserved. Same contract as
  * [[Stats]]: exact integer arithmetic on the cents/bp grid,
  * decimal(38,0)-widened sums narrowed on release, broadcast-pruned
  * build sides, one fact scan wherever the shape allows.
  */
object Portfolio {

  // ------------------------------------------------------------ q370

  /** q370 region slice (Q2's region leg; EUROPE carries ~1/5 of the
    * 100 suppliers at every SF). */
  val MinCostRegion = "EUROPE"

  /** q370 — MIN-COST SUPPLIER PER PART, the TPC-H Q2 shape (for every
    * part, the supplier in one region offering it cheapest — the
    * portfolio's CORRELATED-MIN member: the probe joins back on
    * equality with a per-group aggregate, so ties release multiple
    * rows and the optimizer must not collapse the re-join). Adapted:
    * no `partsupp`, so the "offer" is the minimum observed line price
    * min(floor(l_extendedprice·100)) per (part, supplier) — the same
    * correlated-min-over-a-join topology on the fact table itself.
    *
    * Scale shape: region→nation→supplier is a broadcast dim chain
    * pruning lineitem BEFORE its first shuffle; offers group on
    * (partkey, suppkey); the per-part min re-groups on partkey (the
    * prefix of the same key — no wider exchange) and the verdict join
    * is partkey-keyed. Output is O(parts-in-region), output-bound. */
  def q370MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    val sup = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")
          .filter(col("r_name") === MinCostRegion)),
          col("n_regionkey") === col("r_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"))
    val offers = t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("price_c"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy("l_partkey", "s_name")
      .agg(min("price_c").as("offer_c"))
    val best = offers.groupBy("l_partkey")
      .agg(min("offer_c").as("min_c"))
    offers.join(best, Seq("l_partkey"))
      .filter(col("offer_c") === col("min_c"))
      .select(col("l_partkey").as("p_partkey"), col("s_name"),
        col("offer_c"))
  }

  private def q370OracleSql: String =
    s"""WITH sup AS (SELECT s_suppkey, s_name FROM supplier
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = '$MinCostRegion'),
        off AS (SELECT l_partkey, s_name,
            CAST(min(CAST(floor(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS offer_c
          FROM lineitem JOIN sup ON l_suppkey = s_suppkey
          GROUP BY 1, 2),
        m AS (SELECT l_partkey, min(offer_c) AS min_c FROM off GROUP BY 1)
        SELECT l_partkey AS p_partkey, s_name, offer_c
        FROM off JOIN m USING (l_partkey) WHERE offer_c = min_c"""

  // ------------------------------------------------------------ q371

  /** q371 window: one calendar year mid-span (orders run 1995..2001). */
  val PriorityYearLo = "1997-01-01"
  val PriorityYearHi = "1998-01-01"

  /** q371 — ORDER PRIORITY CHECKING, the TPC-H Q4 shape (orders in a
    * date window with AT LEAST ONE problem line, counted by priority —
    * the portfolio's EXISTS-SEMI-JOIN member: the probe must not
    * double-count orders with several qualifying lines). Adapted: no
    * `l_commitdate`/`l_receiptdate`, so "problem line" is a returned
    * line (l_returnflag = 'R') — the semi-join topology and the
    * dedup-before-count hazard are identical.
    *
    * Scale shape: the date filter pushes into the orders scan; the
    * semi-join shuffles date-pruned orders against the R-filtered
    * lineitem projection on orderkey (LEFT SEMI — Spark never
    * materializes the multiplicity); one 5-row aggregate. */
  def q371PriorityCheck(s: SparkSession, dir: String): DataFrame = {
    val returned = t(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R").select("l_orderkey")
    t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit(PriorityYearLo).cast("timestamp")
        && col("o_orderdate") < lit(PriorityYearHi).cast("timestamp"))
      .join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
  }

  private def q371OracleSql: String =
    s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '$PriorityYearLo 00:00:00'
          AND o_orderdate < TIMESTAMP '$PriorityYearHi 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY 1"""

  // ------------------------------------------------------------ q372

  /** q372 predicate band (Q6's literals rescaled to this generator's
    * uniform-bp discount and 1..50 quantity). */
  val ForecastDiscLo = 400L
  val ForecastDiscHi = 700L
  val ForecastQtyMax = 24L

  /** q372 — FORECAST REVENUE CHANGE, the TPC-H Q6 shape (revenue that
    * would vanish if discounts in a band were dropped: one scan, three
    * range predicates, one sum — the portfolio's PURE-PUSHDOWN member;
    * its entire 100 TB cost is how much of the scan the predicates
    * prune, so the plan contract IS the operator). Revenue term is
    * floor(ep·100)·disc_bp, exact cents·bp.
    *
    * Scale shape: all three predicates (shipdate range, discount-bp
    * band, quantity cap) push into the parquet scan as min/max-pruning
    * filters; the aggregate is map-side combined to ONE row; no
    * shuffle wider than the single-row fold. PortfolioSpec pins the
    * pushed-filter plan. */
  def q372ForecastRevenue(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit(PriorityYearLo).cast("timestamp")
        && col("l_shipdate") < lit(PriorityYearHi).cast("timestamp")
        && col("l_quantity") < ForecastQtyMax)
      .select(
        (expr("CAST(floor(l_extendedprice * 100) AS BIGINT)") *
          expr("CAST(floor(l_discount * 10000) AS BIGINT)")).as("rev"),
        expr("CAST(floor(l_discount * 10000) AS BIGINT)").as("d_bp"))
      .filter(col("d_bp").between(ForecastDiscLo, ForecastDiscHi))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("rev").cast("decimal(38,0)")).as("r38"))
      .select(col("n_lines"), col("r38").cast("bigint").as("revenue"))
  }

  private def q372OracleSql: String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_lines,
          CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
            * CAST(floor(l_discount * 10000) AS BIGINT)) AS BIGINT)
            AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '$PriorityYearLo 00:00:00'
          AND l_shipdate < TIMESTAMP '$PriorityYearHi 00:00:00'
          AND l_quantity < $ForecastQtyMax
          AND CAST(floor(l_discount * 10000) AS BIGINT)
            BETWEEN $ForecastDiscLo AND $ForecastDiscHi"""

  // ------------------------------------------------------------ q373

  /** q373 cost model: no `ps_supplycost`, so cost = 80% of the part's
    * retail price on the same cents·bp grid (8000 bp of
    * floor(p_retailprice·100) per unit) — a fixed-margin stand-in that
    * keeps profit sign-varying across rows like Q9's. */
  val ProfitCostBp = 8000L

  /** q373 part-name word (p_name is "adjective noun"; 'red' selects a
    * stable ~1/11 slice at every SF). */
  val ProfitNamePrefix = "red "

  /** q373 — PRODUCT-TYPE PROFIT, the TPC-H Q9 shape (profit by
    * supplier nation × order year over parts matching a name pattern —
    * the portfolio's LARGEST JOIN: five tables meet one fact row, and
    * the profit expression mixes columns from three of them, so no
    * single join can be eliminated). Adapted cost per [[ProfitCostBp]].
    * profit = floor(ep·100)·(10000−d_bp) − floor(rp·100)·qty·8000,
    * exact cents·bp, decimal(38,0)-summed.
    *
    * Scale shape: the name filter prunes part to a broadcast build
    * (carrying retailprice into the profit term); supplier⋈nation is
    * a second broadcast chain; the only wide exchange is
    * lineitem⋈orders on orderkey; |nations × years| rows out. */
  def q373ProductProfit(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
      .filter(col("p_name").startsWith(ProfitNamePrefix))
      .select(col("p_partkey"),
        expr("CAST(floor(p_retailprice * 100) AS BIGINT)").as("rp_c"))
    val sup = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    t(s, dir, "lineitem")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(t(s, dir, "orders").select(col("o_orderkey"),
        year(col("o_orderdate")).cast("bigint").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("n_name"), col("o_year"),
        (expr("CAST(floor(l_extendedprice * 100) AS BIGINT)") *
          (lit(10000L) - expr("CAST(floor(l_discount * 10000) AS BIGINT)"))
          - col("rp_c") * expr("CAST(l_quantity AS BIGINT)")
            * lit(ProfitCostBp)).as("profit"))
      .groupBy("n_name", "o_year")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("profit").cast("decimal(38,0)")).as("p38"))
      .select(col("n_name"), col("o_year"), col("n_lines"),
        col("p38").cast("bigint").as("profit"))
  }

  private def q373OracleSql: String =
    s"""SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
          CAST(count(*) AS BIGINT) AS n_lines,
          CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
              * (10000 - CAST(floor(l_discount * 10000) AS BIGINT))
            - CAST(floor(p_retailprice * 100) AS BIGINT)
              * CAST(l_quantity AS BIGINT) * $ProfitCostBp)
            AS BIGINT) AS profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE p_name LIKE '$ProfitNamePrefix%'
        GROUP BY 1, 2"""

  // ------------------------------------------------------------ q374

  /** q374 nation + threshold multiple: parts holding more than
    * [[ImportantMeanMult]]× the MEAN per-part share of one nation's
    * shipped value. Q11's fixed fraction (0.0001/SF — the spec itself
    * scales it!) would go empty or explode as the part count grows;
    * the mean-relative test is the scale-invariant formulation
    * (2/49/442 qualifiers at sf0.001/0.01/0.1 — fraction-stable). */
  val ImportantNationKey = 3
  val ImportantMeanMult = 3L

  /** q374 — IMPORTANT INVENTORY VALUE, the TPC-H Q11 shape (the parts
    * whose value held by one nation's suppliers exceeds a threshold
    * fraction of that nation's total — the portfolio's
    * GROUP-VS-GLOBAL-SCALAR member: the HAVING threshold is an
    * aggregate over the SAME frame being grouped, so the plan needs
    * the frame twice at two granularities). Adapted: no `partsupp`
    * stock, so value is shipped value Σ qty·floor(ep·100) from
    * lineitem, and the fraction is mean-relative per
    * [[ImportantMeanMult]]. The test is exact cross-multiplication:
    * val·n_parts > M·total — no division enters.
    *
    * Scale shape: the nation's suppliers are a broadcast build pruning
    * lineitem before its one partkey shuffle; the global {total,
    * n_parts} is a single-row fold of the per-part frame, broadcast
    * back via cross join; output is threshold-bound. */
  def q374ImportantParts(s: SparkSession, dir: String): DataFrame = {
    val sup = t(s, dir, "supplier")
      .filter(col("s_nationkey") === ImportantNationKey)
      .select("s_suppkey")
    val perPart = t(s, dir, "lineitem")
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy("l_partkey")
      .agg(sum(expr("CAST(l_quantity AS BIGINT)") *
        expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")).as("val"))
    val total = perPart.agg(
      sum(col("val").cast("decimal(38,0)")).cast("bigint").as("tv"),
      count(lit(1)).as("np"))
    perPart.crossJoin(broadcast(total))
      .filter(col("val").cast("decimal(38,0)") * col("np") >
        col("tv").cast("decimal(38,0)") * ImportantMeanMult)
      .select(col("l_partkey").as("p_partkey"), col("val"))
  }

  private def q374OracleSql: String =
    s"""WITH v AS (SELECT l_partkey,
          CAST(sum(CAST(l_quantity AS BIGINT)
            * CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
            AS val
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        WHERE s_nationkey = $ImportantNationKey GROUP BY 1),
        tot AS (SELECT CAST(sum(val) AS BIGINT) AS tv,
          CAST(count(*) AS BIGINT) AS np FROM v)
        SELECT l_partkey AS p_partkey, val FROM v CROSS JOIN tot
        WHERE CAST(val AS HUGEINT) * np
          > CAST(tv AS HUGEINT) * $ImportantMeanMult"""

  // ------------------------------------------------------------ q375

  /** q375 — SHIPPING CLASSES VS ORDER PRIORITY, the TPC-H Q12 shape
    * (per line class, how many lines belong to high- vs low-priority
    * orders — the portfolio's CONDITIONAL-AGGREGATION-AFTER-JOIN
    * member: the CASE mix over the joined row is what Q12 exists to
    * exercise). Adapted: no `l_shipmode`, so the class is the return
    * disposition (A/R; N excluded as Q12 restricts to two modes), over
    * one ship-year.
    *
    * Scale shape: shipdate + returnflag predicates push into the
    * lineitem scan; one orderkey shuffle joins the priority column in;
    * 2-row conditional aggregate, map-side combined. */
  def q375ReturnPriorityMix(s: SparkSession, dir: String): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    t(s, dir, "lineitem")
      .filter(col("l_returnflag").isin("A", "R")
        && col("l_shipdate") >= lit("1998-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
      .select("l_orderkey", "l_returnflag")
      .join(t(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(sum(when(hi, 1L).otherwise(0L)).as("high_count"),
        sum(when(hi, 0L).otherwise(1L)).as("low_count"))
  }

  private def q375OracleSql: String =
    """SELECT l_returnflag,
          CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
            THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
          CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
            THEN 0 ELSE 1 END) AS BIGINT) AS low_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag IN ('A', 'R')
          AND l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
        GROUP BY 1"""

  // ------------------------------------------------------------ q376

  /** q376 exclusion (Q13 drops orders matching a comment pattern; this
    * schema's analog drops one priority class). */
  val CustDistExcluded = "4-NOT SPECIFIED"

  /** q376 — CUSTOMER ORDER-COUNT DISTRIBUTION, the TPC-H Q13 shape
    * (how many customers placed 0, 1, 2, … qualifying orders — the
    * portfolio's OUTER-JOIN + DOUBLE-AGGREGATION member: the filter
    * must ride the JOIN CONDITION, not a WHERE, or zero-order
    * customers vanish; the second aggregate then groups the first's
    * result). Lost-customer accounting no inner join can produce.
    *
    * Scale shape: one custkey shuffle for the outer join + count
    * (orders filter applied pre-shuffle as a pushed scan predicate —
    * legal because it's on the non-preserved side); the second
    * aggregate rides the |customers|-row frame down to the ≤(max
    * orders per customer)-row distribution. */
  def q376CustDist(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
      .filter(col("o_orderpriority") =!= CustDistExcluded)
      .select("o_custkey", "o_orderkey")
    t(s, dir, "customer").select("c_custkey")
      .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
  }

  private def q376OracleSql: String =
    s"""WITH c AS (SELECT c_custkey,
          CAST(count(o_orderkey) AS BIGINT) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          AND o_orderpriority <> '$CustDistExcluded'
        GROUP BY 1)
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        FROM c GROUP BY 1"""

  // ------------------------------------------------------------ q377

  /** q377 window: one quarter (Q15's three months). */
  val TopSupplierLo = "1996-01-01"
  val TopSupplierHi = "1996-04-01"

  /** q377 — TOP SUPPLIER, the TPC-H Q15 shape (the supplier(s) whose
    * quarterly revenue equals the maximum — the portfolio's
    * AGGREGATE-THEN-SCALAR-MAX member: the verdict join compares each
    * group row against an aggregate OF the aggregate, and ties must
    * all surface). Revenue exact cents·bp.
    *
    * Scale shape: the date window pushes into the scan; one suppkey
    * shuffle builds the revenue frame (|suppliers| rows); the max is a
    * single-row fold broadcast back; output is the argmax set. */
  def q377TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit(TopSupplierLo).cast("timestamp")
        && col("l_shipdate") < lit(TopSupplierHi).cast("timestamp"))
      .groupBy("l_suppkey")
      .agg(sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)") *
        (lit(10000L) - expr("CAST(floor(l_discount * 10000) AS BIGINT)")))
        .cast("bigint").as("total_rev"))
    val mx = rev.agg(max("total_rev").as("max_rev"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_rev") === col("max_rev"))
      .join(broadcast(t(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev"))
  }

  private def q377OracleSql: String =
    s"""WITH r AS (SELECT l_suppkey,
          CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
            * (10000 - CAST(floor(l_discount * 10000) AS BIGINT)))
            AS BIGINT) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '$TopSupplierLo 00:00:00'
          AND l_shipdate < TIMESTAMP '$TopSupplierHi 00:00:00'
        GROUP BY 1)
        SELECT s_suppkey, s_name, total_rev
        FROM r JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_rev = (SELECT max(total_rev) FROM r)"""

  // ------------------------------------------------------------ q378

  /** q378 exclusions (Q16's 'Brand#45' + complaint suppliers; the
    * complaint analog is a negative account balance). */
  val SupplierCountExcludedBrand = "Brand#1"

  /** q378 — SUPPLIER COUNT BY PART ATTRIBUTES, the TPC-H Q16 shape
    * (how many DISTINCT qualifying suppliers can furnish parts of each
    * (brand, type, size), excluding one brand and excluding suppliers
    * with complaints — the portfolio's COUNT-DISTINCT-AFTER-ANTI
    * member: the distinct is over the JOIN KEY itself, so duplicate
    * supply relationships must collapse before counting). Adapted: the
    * supply relation is the DISTINCT (part, supplier) pairs observed
    * in lineitem (no `partsupp`), and "complaint" is s_acctbal < 0.
    *
    * Scale shape: the pair-distinct is one (part, supp) shuffle
    * (map-side combined); the negative-balance exclusion is a
    * broadcast anti/semi against the tiny supplier frame; part
    * attributes broadcast in; the count-distinct groups the distinct
    * pair frame — already unique, so no second expansion. */
  def q378SupplierCounts(s: SparkSession, dir: String): DataFrame = {
    val ok = t(s, dir, "supplier")
      .filter(col("s_acctbal") >= 0).select("s_suppkey")
    val pairs = t(s, dir, "lineitem")
      .select("l_partkey", "l_suppkey").distinct()
      .join(broadcast(ok), col("l_suppkey") === col("s_suppkey"), "left_semi")
    pairs
      .join(broadcast(t(s, dir, "part")
        .filter(col("p_brand") =!= SupplierCountExcludedBrand)),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct("l_suppkey").as("supplier_cnt"))
  }

  private def q378OracleSql: String =
    s"""WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        ok AS (SELECT s_suppkey FROM supplier WHERE s_acctbal >= 0)
        SELECT p_brand, p_type, p_size,
          CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM ps JOIN ok ON l_suppkey = s_suppkey
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> '$SupplierCountExcludedBrand'
        GROUP BY 1, 2, 3"""

  // ------------------------------------------------------------ q379

  /** q379 — EXCESS-VOLUME SUPPLIERS, the TPC-H Q20 shape (suppliers
    * who shipped MORE THAN HALF of some part's total volume in a year,
    * over one part-name slice — the portfolio's NESTED-AGGREGATE-
    * SEMI-JOIN member: the qualifying condition compares a
    * (supplier, part) aggregate against a (part) aggregate of the
    * same frame, then collapses to distinct suppliers). Adapted: no
    * `partsupp.ps_availqty`, so "excess" is majority share of the
    * shipped volume: 2·q(s,p) > Σ_s q(s,p), exact on integral units.
    *
    * Scale shape: name + date predicates prune the fact before its one
    * (supp, part) shuffle; the per-part total re-groups the SAME frame
    * on the key prefix; verdict join is partkey-keyed; the distinct
    * supplier collapse rides |suppliers|; supplier names broadcast. */
  def q379ExcessSuppliers(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
      .filter(col("p_name").startsWith(ProfitNamePrefix))
      .select("p_partkey")
    val sq = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit(PriorityYearLo).cast("timestamp")
        && col("l_shipdate") < lit(PriorityYearHi).cast("timestamp"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy("l_suppkey", "l_partkey")
      .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("q"))
    val tot = sq.groupBy("l_partkey").agg(sum("q").as("tq"))
    sq.join(tot, Seq("l_partkey"))
      .filter(col("q") * 2 > col("tq"))
      .groupBy("l_suppkey")
      .agg(countDistinct("l_partkey").as("n_excess_parts"))
      .join(broadcast(t(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("n_excess_parts"))
  }

  private def q379OracleSql: String =
    s"""WITH sq AS (SELECT l_suppkey, l_partkey,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE '$ProfitNamePrefix%'
          AND l_shipdate >= TIMESTAMP '$PriorityYearLo 00:00:00'
          AND l_shipdate < TIMESTAMP '$PriorityYearHi 00:00:00'
        GROUP BY 1, 2),
        tot AS (SELECT l_partkey, CAST(sum(q) AS BIGINT) AS tq
          FROM sq GROUP BY 1)
        SELECT s_name,
          CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_excess_parts
        FROM sq JOIN tot USING (l_partkey)
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE 2 * q > tq GROUP BY 1"""

  // ------------------------------------------------------------ q380

  /** q380 — SOLE-FAILING SUPPLIER, the TPC-H Q21 shape (suppliers who
    * were the ONLY one to fail on a multi-supplier order — the
    * portfolio's EXISTS + NOT-EXISTS-ON-THE-SAME-FACT member, the
    * classic "suppliers who kept orders waiting"). Adapted: no
    * `l_receiptdate`, so "failed" is a returned line (returnflag 'R').
    * Implemented as the AGGREGATE REWRITE rather than two correlated
    * self-joins: per order, n_supp = distinct suppliers and n_r_supp =
    * distinct suppliers with an R line; a supplier s qualifies on
    * order o  ⇔  s has R on o ∧ n_supp > 1 ∧ n_r_supp = 1 (if exactly
    * one supplier failed and s failed, s IS that supplier — the
    * EXISTS pair and the flag test are logically identical, and the
    * oracle keeps the textbook correlated form to pin the equivalence
    * under the differential). One orderkey shuffle instead of two
    * fact-scale self-joins — the rewrite IS the 100 TB plan.
    *
    * Scale shape: one (orderkey) aggregate over the projected fact
    * (map-side combined distinct-ish counts via the two-level group);
    * the R-supplier pairs re-join that |orders|-row frame on the same
    * key; final |suppliers|-row count. */
  def q380SoleFailingSupplier(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_returnflag") === "R").as("r"))
    // distinct (order, supplier, failed-on-this-order) triples: the
    // two counts below then need no count-distinct shuffle state
    val osr = li.groupBy("l_orderkey", "l_suppkey")
      .agg(max(when(col("r"), 1L).otherwise(0L)).as("has_r"))
    val perOrder = osr.groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_supp"), sum("has_r").as("n_r_supp"))
    osr.filter(col("has_r") === 1L)
      .join(perOrder, Seq("l_orderkey"))
      .filter(col("n_supp") > 1L && col("n_r_supp") === 1L)
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(t(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
  }

  private def q380OracleSql: String =
    """SELECT s_name, CAST(count(DISTINCT l1.l_orderkey) AS BIGINT)
          AS numwait
        FROM lineitem l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        WHERE l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_returnflag = 'R')
        GROUP BY 1"""

  // ------------------------------------------------------------ maps

  // ------------------------------------------------------------ q472

  /** q472 — YEAR-OVER-YEAR REVENUE GROWTH per month (the comp-sales
    * readout every revenue dashboard leads with, and the one classic
    * BI shape the portfolio lacked: q298 slices by weekday, q325 by
    * cohort — YoY is the SELF-JOIN ON THE CALENDAR, month m vs
    * m − 12, where seasonality cancels and trend remains). Exact
    * cents per (year, month) census; growth released as
    * yoy_milli = (rev − prev)·10³ div prev on the 12-month-lag join;
    * months without a prior-year partner are released with NULL
    * growth (the first year — a COALESCE would fake a number).
    *
    * Scale shape: one fact scan map-side combined to the ~80-row
    * month census; the YoY join is census × census on (year−1,
    * month). */
  def q472YoyGrowth(s: SparkSession, dir: String): DataFrame = {
    val census = t(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
        .as("rev"))
      .localCheckpoint(true)
    census.join(census.select((col("yr") + 1).as("yr"),
        col("mo"), col("rev").as("prev")),
      Seq("yr", "mo"), "left")
      .select(col("yr").cast("bigint").as("yr"),
        col("mo").cast("bigint").as("mo"), col("rev"),
        col("prev"),
        expr("""CASE WHEN prev IS NULL OR prev = 0 THEN NULL
             ELSE (rev - prev) * 1000 div prev END""").as("yoy_milli"))
  }

  private def q472OracleSql: String =
    """WITH census AS (SELECT
          CAST(date_part('year', o_orderdate) AS BIGINT) AS yr,
          CAST(date_part('month', o_orderdate) AS BIGINT) AS mo,
          CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
            AS BIGINT) AS rev
        FROM orders GROUP BY 1, 2)
        SELECT a.yr, a.mo, a.rev, b.rev AS prev,
          CASE WHEN b.rev IS NULL OR b.rev = 0 THEN NULL
            ELSE (a.rev - b.rev) * 1000 // b.rev END AS yoy_milli
        FROM census a LEFT JOIN census b
          ON b.yr = a.yr - 1 AND b.mo = a.mo"""

  // ------------------------------------------------------------ q473

  /** q473's comparison years (both complete in the 1995–2001 span). */
  val PvYear0 = 1996
  val PvYear1 = 1997

  /** q473 — PRICE–VOLUME DECOMPOSITION of revenue change per brand
    * (the index-number analysis behind every "why did revenue move"
    * meeting — Laspeyres decomposition: Δrev splits into a VOLUME
    * effect Σp₀·(q₁−q₀) priced at old prices, a PRICE effect
    * Σq₀·(p₁−p₀) at old volumes, and the joint term
    * Σ(p₁−p₀)·(q₁−q₀); the three sum EXACTLY to Δrev, which is the
    * auditable identity a float pipeline always violates). Per
    * (brand, part): q = Σ quantity (integer), p = average unit cents
    * — to keep EXACT integer arithmetic the decomposition is computed
    * on the cents·quantity grid with p as a RATIONAL (rev/qty), i.e.
    * effects are evaluated as integer cross products of (rev, qty)
    * pairs: vol = rev0·(q1−q0) div q0 ... declared with the per-part
    * guard q0 > 0 AND q1 > 0 (parts traded in both years — entry/exit
    * is its own MIX row = Δrev − matched Δ).
    *
    * Scale shape: one fact⋈part join (broadcast dim), (brand, part,
    * year) census; the decomposition rides the matched-part frame;
    * released per brand {dr, vol_eff, price_eff, joint, mix} — all
    * cents. */
  def q473PriceVolumeDecomposition(s: SparkSession,
      dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part").select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"), col("l_partkey").as("pk"),
        year(col("l_shipdate")).as("yr"),
        expr("CAST(floor(l_quantity) AS BIGINT)").as("q"),
        expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("rc"))
      .filter(col("yr") === PvYear0 || col("yr") === PvYear1)
    val cells = li.groupBy("brand", "pk", "yr")
      .agg(sum("q").as("qty"), sum("rc").as("rev"))
    val piv = cells.groupBy("brand", "pk")
      .agg(sum(when(col("yr") === PvYear0, col("qty")).otherwise(0L))
        .as("q0"),
        sum(when(col("yr") === PvYear0, col("rev")).otherwise(0L))
          .as("r0"),
        sum(when(col("yr") === PvYear1, col("qty")).otherwise(0L))
          .as("q1"),
        sum(when(col("yr") === PvYear1, col("rev")).otherwise(0L))
          .as("r1"))
      .localCheckpoint(true)
    val matched = piv.filter(col("q0") > 0 && col("q1") > 0)
      .select(col("brand"), (col("r1") - col("r0")).as("dr"),
        // p0 = r0/q0 rational: vol = p0*(q1-q0) as r0*(q1-q0) div q0
        expr("""CAST(CAST(r0 AS DECIMAL(38,0)) * (q1 - q0) div q0
             AS BIGINT)""").as("vol"),
        // price = q0*(p1-p0) = q0*r1 div q1 - r0
        expr("""CAST(CAST(q0 AS DECIMAL(38,0)) * r1 div q1 - r0
             AS BIGINT)""").as("price"))
      .groupBy("brand")
      .agg(sum("dr").as("dr_matched"), sum("vol").as("vol_eff"),
        sum("price").as("price_eff"))
    val total = piv.groupBy("brand")
      .agg(sum(expr("r1 - r0")).as("dr_total"))
    total.join(matched, Seq("brand"), "left")
      .select(col("brand"), col("dr_total"),
        coalesce(col("vol_eff"), lit(0L)).as("vol_eff"),
        coalesce(col("price_eff"), lit(0L)).as("price_eff"),
        (coalesce(col("dr_matched"), lit(0L))
          - coalesce(col("vol_eff"), lit(0L))
          - coalesce(col("price_eff"), lit(0L))).as("joint_eff"),
        (col("dr_total") - coalesce(col("dr_matched"), lit(0L)))
          .as("mix_eff"))
  }

  private def q473OracleSql: String =
    s"""WITH li AS (SELECT p.p_brand AS brand, l.l_partkey AS pk,
          CAST(date_part('year', l.l_shipdate) AS BIGINT) AS yr,
          CAST(floor(l.l_quantity) AS BIGINT) AS q,
          CAST(floor(l.l_extendedprice * 100) AS BIGINT) AS rc
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE date_part('year', l.l_shipdate) IN ($PvYear0, $PvYear1)),
        cells AS (SELECT brand, pk, yr, CAST(sum(q) AS BIGINT) AS qty,
          CAST(sum(rc) AS BIGINT) AS rev
          FROM li GROUP BY 1, 2, 3),
        piv AS (SELECT brand, pk,
          CAST(sum(CASE WHEN yr = $PvYear0 THEN qty ELSE 0 END)
            AS BIGINT) AS q0,
          CAST(sum(CASE WHEN yr = $PvYear0 THEN rev ELSE 0 END)
            AS BIGINT) AS r0,
          CAST(sum(CASE WHEN yr = $PvYear1 THEN qty ELSE 0 END)
            AS BIGINT) AS q1,
          CAST(sum(CASE WHEN yr = $PvYear1 THEN rev ELSE 0 END)
            AS BIGINT) AS r1
          FROM cells GROUP BY 1, 2),
        matched AS (SELECT brand,
          CAST(sum(r1 - r0) AS BIGINT) AS dr_matched,
          CAST(sum(CAST(r0 AS HUGEINT) * (q1 - q0) // q0) AS BIGINT)
            AS vol_eff,
          CAST(sum(CAST(q0 AS HUGEINT) * r1 // q1 - r0) AS BIGINT)
            AS price_eff
          FROM piv WHERE q0 > 0 AND q1 > 0 GROUP BY brand),
        total AS (SELECT brand, CAST(sum(r1 - r0) AS BIGINT)
            AS dr_total
          FROM piv GROUP BY brand)
        SELECT t.brand, t.dr_total,
          coalesce(m.vol_eff, 0) AS vol_eff,
          coalesce(m.price_eff, 0) AS price_eff,
          coalesce(m.dr_matched, 0) - coalesce(m.vol_eff, 0)
            - coalesce(m.price_eff, 0) AS joint_eff,
          t.dr_total - coalesce(m.dr_matched, 0) AS mix_eff
        FROM total t LEFT JOIN matched m ON t.brand = m.brand"""

  // ------------------------------------------------------------ q486

  /** q486's cumulative-share class bounds (ppm): A ≤ 80%, B ≤ 95%. */
  val AbcABoundPpm = 800000L
  val AbcBBoundPpm = 950000L

  /** q486 — ABC REVENUE CLASSIFICATION of parts (the inventory-
    * management classic Pareto operationalized: q201's Lorenz curve
    * DESCRIBES concentration, ABC DECIDES — rank parts by revenue,
    * cut the cumulative share at 80/95%, and the three classes drive
    * three different stocking policies; the census per class is the
    * readout). Exact integers: revenue cents per part, ONE
    * total-order window for the cumulative share (rank tie-broken by
    * partkey), class by [[AbcABoundPpm]]/[[AbcBBoundPpm]] on the
    * EXCLUSIVE prefix share (a part belongs to A while the prefix
    * BEFORE it is under the bound — the standard inclusive-boundary
    * convention, declared); released per class {n_parts,
    * rev_share_ppm}.
    *
    * Scale shape: one fact scan → part revenue census; ONE
    * total-order window over \|parts\| (the q393/q471 pattern); 3-row
    * census. */
  def q486AbcClassification(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("pk"))
      .agg(sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)"))
        .as("rev"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rev").desc, col("pk"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val tot = rev.agg(sum("rev").as("tot"))
    val classed = rev.crossJoin(broadcast(tot))
      .withColumn("prefix", coalesce(sum("rev").over(w), lit(0L)))
      .withColumn("cls",
        expr(s"""CASE WHEN CAST(prefix AS DECIMAL(38,0)) * 1000000
               div tot < $AbcABoundPpm THEN 'A'
             WHEN CAST(prefix AS DECIMAL(38,0)) * 1000000
               div tot < $AbcBBoundPpm THEN 'B'
             ELSE 'C' END"""))
    classed.groupBy("cls")
      .agg(count(lit(1)).as("n_parts"), sum("rev").as("cls_rev"),
        max("tot").as("tot"))
      .select(col("cls"), col("n_parts"),
        expr("""CAST(CAST(cls_rev AS DECIMAL(38,0)) * 1000000
             div tot AS BIGINT)""").as("rev_share_ppm"))
  }

  private def q486OracleSql: String =
    s"""WITH rev AS (SELECT l_partkey AS pk,
          CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
            AS BIGINT) AS rev
          FROM lineitem GROUP BY 1),
        tot AS (SELECT CAST(sum(rev) AS BIGINT) AS tot FROM rev),
        classed AS (SELECT pk, rev, tot,
            CAST(coalesce(sum(rev) OVER (ORDER BY rev DESC, pk
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS prefix
          FROM rev CROSS JOIN tot),
        labeled AS (SELECT pk, rev, tot,
            CASE WHEN CAST(prefix AS HUGEINT) * 1000000
              // tot < $AbcABoundPpm THEN 'A'
              WHEN CAST(prefix AS HUGEINT) * 1000000
                // tot < $AbcBBoundPpm THEN 'B'
              ELSE 'C' END AS cls
          FROM classed)
        SELECT cls, CAST(count(*) AS BIGINT) AS n_parts,
          CAST(CAST(sum(rev) AS HUGEINT) * 1000000 // max(tot)
            AS BIGINT) AS rev_share_ppm
        FROM labeled GROUP BY cls"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q486_abc_classification" -> (q486AbcClassification _),
    "q472_yoy_growth" -> (q472YoyGrowth _),
    "q473_price_volume_decomposition" ->
      (q473PriceVolumeDecomposition _),
    "q370_min_cost_supplier" -> (q370MinCostSupplier _),
    "q371_priority_check" -> (q371PriorityCheck _),
    "q372_forecast_revenue" -> (q372ForecastRevenue _),
    "q373_product_profit" -> (q373ProductProfit _),
    "q374_important_parts" -> (q374ImportantParts _),
    "q375_return_priority_mix" -> (q375ReturnPriorityMix _),
    "q376_custdist" -> (q376CustDist _),
    "q377_top_supplier" -> (q377TopSupplier _),
    "q378_supplier_counts" -> (q378SupplierCounts _),
    "q379_excess_suppliers" -> (q379ExcessSuppliers _),
    "q380_sole_failing_supplier" -> (q380SoleFailingSupplier _))

  val oracleSql: Map[String, String] = Map(
    "q486_abc_classification" -> q486OracleSql,
    "q472_yoy_growth" -> q472OracleSql,
    "q473_price_volume_decomposition" -> q473OracleSql,
    "q370_min_cost_supplier" -> q370OracleSql,
    "q371_priority_check" -> q371OracleSql,
    "q372_forecast_revenue" -> q372OracleSql,
    "q373_product_profit" -> q373OracleSql,
    "q374_important_parts" -> q374OracleSql,
    "q375_return_priority_mix" -> q375OracleSql,
    "q376_custdist" -> q376OracleSql,
    "q377_top_supplier" -> q377OracleSql,
    "q378_supplier_counts" -> q378OracleSql,
    "q379_excess_suppliers" -> q379OracleSql,
    "q380_sole_failing_supplier" -> q380OracleSql)
}
