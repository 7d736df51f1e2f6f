package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables.{load => t}

/** Round-9 statistics + entity-resolution surface: rank-based two-sample
  * testing (Mann–Whitney), time-series autocorrelation, the TPC-H Q8-style
  * market-share star join, and sorted-neighborhood blocking — declared with
  * the same contract as [[Analytics]] (Spark impl + DuckDB oracle,
  * deterministic multiset output, integer-exact arithmetic wherever a float
  * fold would diverge across engines; doubles only as single shared-text
  * expressions over exact integer operands, per the q242/q266 discipline).
  */
object Stats {

  // ------------------------------------------------------------ q303

  /** q303 z numerator/denominator as ONE shared-text double expression
    * over the exact integer sufficient stats {u2 = 2U, n1, n2, ties =
    * Σ(t³−t)}: z = (U − n1·n2/2) / sqrt(n1·n2/12 · (N+1 − T/(N(N−1))))
    * with N = n1+n2 — the normal approximation with the standard tie
    * correction. Every operand is a bit-identical integer on both
    * engines, so floor(z·10⁶) is deterministic cross-engine. */
  private def mwZExpr: String =
    s"""((CAST(u2 AS DOUBLE) - CAST(n1 AS DOUBLE) * n2) / 2.0
       / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
         * ((n1 + n2 + 1.0)
            - CAST(ties AS DOUBLE) / (CAST(n1 + n2 AS DOUBLE)
                                      * (n1 + n2 - 1.0)))))"""

  /** q303 — MANN–WHITNEY U / WILCOXON RANK-SUM between purchase and
    * click event values (the nonparametric sibling of q266's Welch t:
    * heavy-tailed revenue-per-event data violates the t-test's
    * normal-enough assumption badly in the tail, and the rank-sum test
    * is the standard robust alternative an experimentation platform
    * runs next to it). Values are ranked on the exact cents grid with
    * midrank tie handling, carried as INTEGERS doubled (2·rank is
    * integral even for .5 midranks): for a tie group of size m with cb
    * items strictly below, 2·avgrank = 2·cb + m + 1. Emits n1, n2,
    * u2 = 2·U_purchase, the tie term Σ(m³−m), and the tie-corrected
    * normal z ×10⁶ through [[mwZExpr]].
    *
    * Scale shape: one hash aggregate to the distinct-cents frame, one
    * ordered window OVER THAT FRAME (value-domain-bounded — the cents
    * grid of an Exp(50) payload, ~10⁴ rows regardless of corpus size;
    * the q168 distinct-value-frame convention), one scalar aggregate.
    * The corpus is touched exactly once, map-side combined. */
  def q303MannWhitney(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .select((col("event_type") === "purchase").as("arm"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
    val grp = ev.groupBy("vc").agg(
      sum(when(col("arm"), 1L).otherwise(0L)).as("na"),
      count(lit(1)).as("m"))
    val w = Window.orderBy("vc")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = grp
      .withColumn("cb", coalesce(sum(col("m")).over(w), lit(0L)))
    ranked.agg(
      sum(col("na")).as("n1"),
      sum(col("m") - col("na")).as("n2"),
      sum(col("na") * (lit(2L) * col("cb") + col("m") + 1)).as("sr2"),
      sum(expr("m * m * m - m")).as("ties"))
      .select(col("n1"), col("n2"),
        (col("sr2") - col("n1") * (col("n1") + 1)).as("u2"),
        col("ties"))
      .select(col("n1"), col("n2"), col("u2"), col("ties"),
        expr(s"CAST(floor($mwZExpr * 1000000) AS BIGINT)").as("z_ppm"))
  }

  private def q303OracleSql: String =
    s"""WITH ev AS (SELECT event_type = 'purchase' AS arm,
          CAST(floor(value * 100) AS BIGINT) AS vc
        FROM events WHERE event_type IN ('purchase', 'click')),
        grp AS (SELECT vc,
          CAST(sum(CASE WHEN arm THEN 1 ELSE 0 END) AS BIGINT) AS na,
          CAST(count(*) AS BIGINT) AS m FROM ev GROUP BY vc),
        rk AS (SELECT *, CAST(coalesce(sum(m) OVER (ORDER BY vc
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS cb FROM grp),
        ag AS (SELECT CAST(sum(na) AS BIGINT) AS n1,
          CAST(sum(m - na) AS BIGINT) AS n2,
          CAST(sum(na * (2 * cb + m + 1)) AS BIGINT) AS sr2,
          CAST(sum(m * m * m - m) AS BIGINT) AS ties FROM rk),
        u AS (SELECT n1, n2, sr2 - n1 * (n1 + 1) AS u2, ties FROM ag)
        SELECT n1, n2, u2, ties,
          CAST(floor($mwZExpr * 1000000) AS BIGINT) AS z_ppm
        FROM u"""

  // ------------------------------------------------------------ q304

  /** Autocorrelation lag range: 1..7 days (a week) over the generator's
    * fixed 30-day event span. */
  val AcfMaxLag = 7

  /** q304 — AUTOCORRELATION FUNCTION of the daily event-count series at
    * lags 1..7 (the seasonality detector upstream of q252's Holt
    * smoothing and q265's seasonal decomposition: a spike at lag 7 says
    * "weekly", a slow decay says "trend — difference first"; this is
    * the statistic that DECIDES whether those models apply). Exact
    * integer form: with n days and S = Σx, the n-scaled residual
    * y_t = n·x_t − S is integral, and the lag-k products
    * num_k = Σ_t y_t·y_{t+k} and den = Σ_t y_t² are emitted as exact
    * BIGINTs — the consumer divides (acf_k = num_k/den) in whatever
    * precision it wants; no float enters the differential. Magnitude:
    * |y| ≤ n·max(x) ≈ 30·(corpus/30) = corpus, so den ≤ n·corpus² —
    * BIGINT-safe through ~sf100; a larger corpus would widen to
    * decimal(38,0) (q268 discipline).
    *
    * Scale shape: one map-side-combined daily aggregate (30 rows — the
    * fixed event span), then lag joins on the 30-row frame. Corpus cost
    * = one scan; everything after is O(days·lags). */
  def q304Acf(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val g = daily.agg(count(lit(1)).as("n"), sum("x").as("sx"))
    val y = daily.crossJoin(broadcast(g))
      .select(col("day"), (col("n") * col("x") - col("sx")).as("y"))
    val den = y.agg(sum(expr("y * y")).as("den"))
    val lags = s.range(1, AcfMaxLag + 1L).select(col("id").as("lag"))
    val pairs = y.crossJoin(broadcast(lags))
      .select(col("lag"), col("y"),
        date_add(col("day"), col("lag").cast("int")).as("day_k"))
      .join(y.select(col("day").as("day_k"), col("y").as("y_k")), "day_k")
    pairs.groupBy("lag")
      .agg(sum(expr("y * y_k")).as("num"))
      .crossJoin(broadcast(den))
      .select(col("lag"), col("num"), col("den"))
  }

  private def q304OracleSql: String =
    s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        g AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS BIGINT) AS sx FROM daily),
        y AS (SELECT day, n * x - sx AS y FROM daily CROSS JOIN g),
        den AS (SELECT CAST(sum(y * y) AS BIGINT) AS den FROM y),
        lags AS (SELECT CAST(x AS BIGINT) AS lag
          FROM generate_series(1, $AcfMaxLag) AS t(x))
        SELECT l.lag, CAST(sum(a.y * b.y) AS BIGINT) AS num, d.den
        FROM y a CROSS JOIN lags l
        JOIN y b ON b.day = a.day + CAST(l.lag AS INTEGER)
        CROSS JOIN den d
        GROUP BY l.lag, d.den"""

  // ------------------------------------------------------------ q305

  /** q305's focal brand (market-share numerator) and region scope. */
  val ShareBrand = "Brand#7"
  val ShareRegion = "ASIA"

  /** q305 — MARKET SHARE (the TPC-H Q8 shape: a focal supplier-brand's
    * revenue share within one region, per order year — the conditional-
    * aggregation star join every BI deployment runs, and the classic
    * join-ordering stress test: fact⋈fact⋈dims with the selective
    * filter three hops from the fact table). Revenue is carried exactly
    * as cents·bp: floor(price·100) · (10000 − floor(disc·10⁴)) — the
    * q107 discipline — summed in decimal(38,0) (DuckDB: native int128)
    * and released as BIGINT plus share_ppm = brand·10⁶ div total.
    *
    * Scale shape: lineitem⋈part and lineitem⋈orders are shuffle
    * equi-joins on their keys (both sides fact-sized at 100 TB — no
    * broadcast pretense); orders⋈customer shuffles on custkey;
    * nation⋈region fold into one broadcast dim chain onto customer
    * (q12's pattern). The region filter prunes BEFORE the fact join —
    * customer keeps only ASIA rows, so the orders join's build side is
    * pre-filtered. Final aggregate: |years| rows. */
  def q305MarketShare(s: SparkSession, dir: String): DataFrame = {
    val reg = t(s, dir, "region")
      .filter(col("r_name") === ShareRegion).select("r_regionkey")
    val nat = t(s, dir, "nation")
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey")
    val cust = t(s, dir, "customer")
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey")
    val ord = t(s, dir, "orders")
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), year(col("o_orderdate")).as("yr"))
    val part = t(s, dir, "part")
      .select(col("p_partkey"), (col("p_brand") === ShareBrand).as("hit"))
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"),
        (expr("CAST(floor(l_extendedprice * 100) AS BIGINT)") *
          (lit(10000L) - expr("CAST(floor(l_discount * 10000) AS BIGINT)")))
          .as("rev"))
      .join(part, col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("yr")
      .agg(
        sum(when(col("hit"), col("rev")).otherwise(0L)
          .cast("decimal(38,0)")).as("b38"),
        sum(col("rev").cast("decimal(38,0)")).as("t38"))
      .select(col("yr"),
        col("b38").cast("bigint").as("brand_rev"),
        col("t38").cast("bigint").as("total_rev"),
        expr("CAST(b38 * 1000000 div t38 AS BIGINT)").as("share_ppm"))
  }

  private def q305OracleSql: String =
    s"""WITH cust AS (SELECT c_custkey FROM customer
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = '$ShareRegion'),
        ord AS (SELECT o_orderkey, year(o_orderdate) AS yr
          FROM orders JOIN cust ON o_custkey = c_custkey),
        li AS (SELECT l_orderkey, l_partkey,
          CAST(floor(l_extendedprice * 100) AS BIGINT)
            * (10000 - CAST(floor(l_discount * 10000) AS BIGINT)) AS rev
          FROM lineitem)
        SELECT CAST(yr AS BIGINT) AS yr,
          CAST(sum(CASE WHEN p_brand = '$ShareBrand' THEN rev
            ELSE 0 END) AS BIGINT) AS brand_rev,
          CAST(sum(rev) AS BIGINT) AS total_rev,
          CAST(sum(CASE WHEN p_brand = '$ShareBrand' THEN rev
              ELSE 0 END) * 1000000
            // sum(rev) AS BIGINT) AS share_ppm
        FROM li JOIN part ON l_partkey = p_partkey
        JOIN ord ON l_orderkey = o_orderkey
        GROUP BY yr"""

  // ------------------------------------------------------------ q306

  /** Sorted-neighborhood window: each record pairs with the next w
    * records in blocking-key order (Hernández & Stolfo's classic ER
    * parameter; pairs per corpus = n·w, linear by construction). */
  val SnWindow = 4
  /** Blocking-key text prefix length. */
  val SnPrefixLen = 16

  /** q306 — SORTED-NEIGHBORHOOD BLOCKING (the third classic entity-
    * resolution candidate generator next to q230's key blocking and
    * q30's LSH banding: sort the corpus by a blocking key — language,
    * then a text prefix — and pair each record with its w successors.
    * Where key blocking misses pairs that disagree on the key and LSH
    * is probabilistic, sorted neighborhood catches prefix-adjacent
    * near-matches DETERMINISTICALLY at exactly n·w candidates). Each
    * candidate pair is released with its rank gap and its exact
    * token-set Jaccard ×10⁴ (integer: inter·10⁴ div union over
    * distinct-word sets) — the score a match-rule learner consumes.
    *
    * Scale shape: the global blocking-key order comes from the repo's
    * canonical two-pass distributed rank (range-repartition + sort
    * within partitions + O(partitions) collected offsets — the q221
    * dense-id machinery generalized to string keys; no single-partition
    * window anywhere). Neighbor pairing is an EQUI-join on rank+j with
    * j ≤ w (explode of a w-literal), so the pair frame is n·w rows by
    * construction; the Jaccard verify fetches each side's token set by
    * doc_id equi-join. At 100 TB every stage is a bounded-fan-out
    * shuffle — the operator the ER literature runs at exactly this
    * scale. */
  def q306SortedNeighborhood(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        concat_ws("|", col("lang"),
          substring(col("text"), 1, SnPrefixLen),
          lpad(col("doc_id").cast("string"), 12, "0")).as("skey"),
        array_distinct(split(col("text"), " ")).as("toks"))
      .cache()
    // two-pass distributed rank over the STRING blocking key (q221's
    // denseIds pattern; key is unique by the doc_id suffix, so the
    // order — and the rank — is total and deterministic)
    val parts = s.sessionState.conf.numShufflePartitions
    val sorted = docs.select(col("skey"), col("doc_id"))
      .repartitionByRange(parts, col("skey"))
      .sortWithinPartitions("skey")
      .withColumn("pid", spark_partition_id())
      .as[(String, Long, Int)]
      .localCheckpoint(true)
    val counts = sorted.toDF().groupBy("pid")
      .agg(count(lit(1)).as("c")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (pid, c) =>
      val r = (pid, acc); acc += c; r
    }.toMap
    val bc = s.sparkContext.broadcast(offsets)
    val ranked = sorted.mapPartitions { it =>
      var cur = -1
      var i = 0L
      it.map { case (_, id, pid) =>
        if (pid != cur) { cur = pid; i = bc.value.getOrElse(pid, 0L) }
        i += 1
        (id, i)
      }
    }.toDF("doc_id", "rn")
    val js = (1 to SnWindow).map(j => lit(j.toLong))
    val pairs = ranked
      .select(col("doc_id").as("doc_id_1"), col("rn"),
        explode(array(js: _*)).as("gap"))
      .select(col("doc_id_1"), col("gap"), (col("rn") + col("gap")).as("rn"))
      .join(ranked.select(col("doc_id").as("doc_id_2"), col("rn")), "rn")
    pairs
      .join(docs.select(col("doc_id").as("doc_id_1"),
        col("toks").as("t1")), "doc_id_1")
      .join(docs.select(col("doc_id").as("doc_id_2"),
        col("toks").as("t2")), "doc_id_2")
      .select(col("doc_id_1"), col("doc_id_2"), col("gap"),
        size(array_intersect(col("t1"), col("t2")))
          .cast("bigint").as("n_inter"),
        (size(col("t1")) + size(col("t2")) -
          size(array_intersect(col("t1"), col("t2"))))
          .cast("bigint").as("n_union"))
      .select(col("doc_id_1"), col("doc_id_2"), col("gap"),
        expr("n_inter * 10000 div n_union").as("jaccard_bp"))
  }

  private def q306OracleSql: String =
    s"""WITH d AS (SELECT doc_id,
          concat_ws('|', lang, substr(text, 1, $SnPrefixLen),
            lpad(CAST(doc_id AS VARCHAR), 12, '0')) AS skey
        FROM documents),
        r AS (SELECT doc_id,
          CAST(row_number() OVER (ORDER BY skey) AS BIGINT) AS rn FROM d),
        p AS (SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
            b.rn - a.rn AS gap
          FROM r a JOIN r b
            ON b.rn > a.rn AND b.rn <= a.rn + $SnWindow),
        tok AS (SELECT doc_id, w FROM (SELECT doc_id,
            unnest(string_split(text, ' ')) AS w FROM documents)
          GROUP BY doc_id, w),
        sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
          FROM tok GROUP BY doc_id),
        inter AS (SELECT p.doc_id_1, p.doc_id_2,
            CAST(count(*) AS BIGINT) AS n_inter
          FROM p JOIN tok a ON a.doc_id = p.doc_id_1
          JOIN tok b ON b.doc_id = p.doc_id_2 AND b.w = a.w
          GROUP BY 1, 2)
        SELECT p.doc_id_1, p.doc_id_2, p.gap,
          coalesce(i.n_inter, 0) * 10000
            // (s1.n + s2.n - coalesce(i.n_inter, 0)) AS jaccard_bp
        FROM p
        LEFT JOIN inter i ON i.doc_id_1 = p.doc_id_1
          AND i.doc_id_2 = p.doc_id_2
        JOIN sz s1 ON s1.doc_id = p.doc_id_1
        JOIN sz s2 ON s2.doc_id = p.doc_id_2"""

  // ------------------------------------------------------------ q307

  /** q307 reference window: the first `PsiSplitDays` days of the event
    * span are the reference distribution; the rest is current. */
  val PsiSplitDays = 15
  /** Decile bins (9 interior edges from the reference distribution). */
  val PsiBins = 10

  /** q307's per-bin contribution as ONE shared-text double expression
    * over the exact integer counts: (p − q)·ln(p/q) with p = ref
    * share, q = current share, and the standard zero-count smoothing
    * greatest(n, 1) applied IDENTICALLY on both engines (an empty bin
    * otherwise sends ln to ±∞; the 1-count floor is the conventional
    * PSI guard and changes nothing when every bin is populated, which
    * the differential pins for this corpus). */
  private[graft] def psiContribExpr: String =
    s"""((CAST(greatest(n_ref, 1) AS DOUBLE) / nr
        - CAST(greatest(n_cur, 1) AS DOUBLE) / nc)
       * ln((CAST(greatest(n_ref, 1) AS DOUBLE) / nr)
           / (CAST(greatest(n_cur, 1) AS DOUBLE) / nc)))"""

  /** q307 — POPULATION STABILITY INDEX between the event stream's first
    * and second half (the drift monitor scorecards run on every model
    * input: PSI < 0.1 stable, 0.1–0.25 watch, > 0.25 retrain — the
    * binned, asymmetry-free cousin of q132's KS and q229's TV distance,
    * and the one with the industry-standard decile convention): decile
    * edges are EXACT integer percentiles of the reference half on the
    * cents grid (edge_f = min{v : cum(v) ≥ ⌈f·N/10⌉} — no interpolation,
    * no approx sketch, deterministic cross-engine), bins are shared by
    * both halves, and each bin releases its exact counts plus its PSI
    * contribution ×10⁹ through [[psiContribExpr]].
    *
    * Scale shape: ONE corpus scan, map-side combined to the
    * (cents × span-day) grid (value-domain-bounded, q303's convention);
    * the reference split, edge derivation (9-row frame from the
    * cumulative window), bin assignment, and ≤10-row census all ride
    * that checkpointed domain frame. */
  def q307Psi(s: SparkSession, dir: String): DataFrame = {
    // ONE corpus scan: census to the (value, day) grid first (domain-
    // bounded: cents-grid × span-days), so the reference-window split —
    // which needs the global min day — never rescans the corpus
    val grid = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .agg(count(lit(1)).as("k"))
      .localCheckpoint(true)
    val d0 = grid.agg(min(col("day")).as("d0"))
    val sides = grid.crossJoin(broadcast(d0))
      .select(col("vc"), col("k"),
        (col("day") < date_add(col("d0"), PsiSplitDays)).as("is_ref"))
    val refg = sides.filter(col("is_ref"))
      .groupBy("vc").agg(sum(col("k")).as("m"))
    val w = Window.orderBy("vc")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = refg.withColumn("cum", sum(col("m")).over(w))
    val nrefF = refg.agg(sum("m").as("nr"))
    val fs = s.range(1, PsiBins.toLong).select(col("id").as("f"))
    // edge_f = the unique reference block whose cumulative range
    // [cum - m + 1, cum] contains the threshold ceil(f*N/10)
    val edges = cum.crossJoin(broadcast(nrefF))
      .crossJoin(broadcast(fs))
      .filter(col("cum") >= expr(s"(f * nr + ${PsiBins - 1}) div $PsiBins")
        && col("cum") - col("m") <
          expr(s"(f * nr + ${PsiBins - 1}) div $PsiBins"))
      .select(col("f"), col("vc").as("edge"))
    // bin(v) = 1 + |{f : v > edge_f}| — assigned on the distinct-value
    // frame (union of both halves), then joined back to the counts
    val allv = sides.select("vc").distinct()
    val binMap = allv.crossJoin(broadcast(edges))
      .groupBy("vc")
      .agg(sum(when(col("vc") > col("edge"), 1L).otherwise(0L)).as("b0"))
      .select(col("vc"), (col("b0") + 1).as("bin"))
    val curg = sides.filter(!col("is_ref"))
      .groupBy("vc").agg(sum(col("k")).as("mc"))
    val joined = refg.withColumnRenamed("m", "mr")
      .join(curg, Seq("vc"), "full_outer")
      .join(binMap, "vc")
      .groupBy("bin")
      .agg(sum(coalesce(col("mr"), lit(0L))).as("n_ref"),
        sum(coalesce(col("mc"), lit(0L))).as("n_cur"))
    val totals = joined.agg(sum("n_ref").as("nr"), sum("n_cur").as("nc"))
    joined.crossJoin(broadcast(totals))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        expr(s"CAST(floor($psiContribExpr * 1000000000) AS BIGINT)")
          .as("psi_ppb"))
  }

  private def q307OracleSql: String =
    s"""WITH ev AS (SELECT CAST(ts AS DATE) AS day,
          CAST(floor(value * 100) AS BIGINT) AS vc FROM events),
        d0 AS (SELECT min(day) AS d0 FROM ev),
        sides AS (SELECT vc,
          day < d0 + CAST($PsiSplitDays AS INTEGER) AS is_ref
          FROM ev CROSS JOIN d0),
        refg AS (SELECT vc, CAST(count(*) AS BIGINT) AS m
          FROM sides WHERE is_ref GROUP BY vc),
        cum AS (SELECT vc, m, CAST(sum(m) OVER (ORDER BY vc
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum FROM refg),
        nr0 AS (SELECT CAST(sum(m) AS BIGINT) AS nr FROM refg),
        fs AS (SELECT CAST(x AS BIGINT) AS f
          FROM generate_series(1, ${PsiBins - 1}) AS t(x)),
        edges AS (SELECT f, vc AS edge FROM cum CROSS JOIN nr0
          CROSS JOIN fs
          WHERE cum >= (f * nr + ${PsiBins - 1}) // $PsiBins
            AND cum - m < (f * nr + ${PsiBins - 1}) // $PsiBins),
        allv AS (SELECT DISTINCT vc FROM sides),
        binmap AS (SELECT vc, 1 + CAST(sum(CASE WHEN vc > edge
            THEN 1 ELSE 0 END) AS BIGINT) AS bin
          FROM allv CROSS JOIN edges GROUP BY vc),
        curg AS (SELECT vc, CAST(count(*) AS BIGINT) AS mc
          FROM sides WHERE NOT is_ref GROUP BY vc),
        census AS (SELECT b.bin,
          CAST(sum(coalesce(r.m, 0)) AS BIGINT) AS n_ref,
          CAST(sum(coalesce(c.mc, 0)) AS BIGINT) AS n_cur
          FROM binmap b
          LEFT JOIN refg r ON r.vc = b.vc
          LEFT JOIN curg c ON c.vc = b.vc
          GROUP BY b.bin),
        tot AS (SELECT CAST(sum(n_ref) AS BIGINT) AS nr,
          CAST(sum(n_cur) AS BIGINT) AS nc FROM census)
        SELECT bin, n_ref, n_cur,
          CAST(floor($psiContribExpr * 1000000000) AS BIGINT) AS psi_ppb
        FROM census CROSS JOIN tot"""

  // ------------------------------------------------------------ q308

  /** Microseconds per day — the duration grid of the KM risk table. */
  val UsPerDay = 86400000000L

  /** Remint every output attribute id via a self-alias. A
    * `localCheckpoint` keeps its input's exprIds in the materialized
    * LogicalRDD; when the SAME upstream frame (here `ev`) also feeds a
    * non-checkpointed branch that later joins the checkpoint, both join
    * sides carry the same ids — an AQE-off session then fails analysis
    * with "conflicting references" (PlanLedger caught this; AQE-on
    * sessions happened to dedup it). Fresh aliases make the checkpoint
    * id-disjoint by construction. */
  private def remintIds(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).as(c)).toSeq: _*)

  /** q308 — KAPLAN–MEIER RISK TABLE for signup→purchase conversion (the
    * survival-analysis primitive a growth team runs on activation
    * delays: "what fraction has converted by day d", computed CORRECTLY
    * under right-censoring — users whose window ended before they
    * converted contribute risk-time up to the cut, not a fake
    * non-conversion; naive conversion-by-day curves (q200) understate
    * the tail exactly there). Per user: t0 = first signup, tp = first
    * purchase AT OR AFTER t0; converted users yield an event at
    * duration ⌊(tp−t0)/day⌋, the rest are censored at the observation
    * end. Declared output is the day-grain risk table — n_risk (users
    * whose duration ≥ d), n_event, n_censored per duration day — the
    * exact integer sufficient statistics from which Ŝ(t) = Π(1 − d/n)
    * follows by a 30-term product the consumer takes in whatever
    * precision it wants (the q304 "release the integers" doctrine:
    * a 30-fold float product would be the only cross-engine-unsafe
    * step, so it is not declared).
    *
    * Scale shape: one user-keyed corpus aggregate (which also carries
    * the observation-end partial — no separate max-ts scan), one
    * purchase-filtered scan joined user-wise against it, then a census
    * on the ≤|span-days| frame with the cumulative window over that
    * DOMAIN-bounded frame. */
  def q308KaplanMeier(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
    // one user-keyed aggregate carries BOTH the signup epoch and this
    // user's max-ts partial; the global observation end folds from the
    // per-user frame instead of a second corpus scan
    val perUser = ev.groupBy("user_id")
      .agg(min(when(col("event_type") === "signup", col("us")))
        .as("t0"), max("us").as("umax"))
      .localCheckpoint(true)
      .transform(remintIds)
    val su = perUser.filter(col("t0").isNotNull).select("user_id", "t0")
    val firstP = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us"))
      .join(su, "user_id")
      .filter(col("us") >= col("t0"))
      .groupBy("user_id").agg(min("us").as("tp"))
    val endF = perUser.agg(max("umax").as("te"))
    val obs = su.join(firstP, Seq("user_id"), "left")
      .crossJoin(broadcast(endF))
      .select(
        // integer floor division — a double `/` then cast could round a
        // boundary quotient up where DuckDB's `//` floors it
        when(col("tp").isNotNull, expr(s"(tp - t0) div $UsPerDay"))
          .otherwise(expr(s"(te - t0) div $UsPerDay")).as("d"),
        when(col("tp").isNotNull, 1L).otherwise(0L).as("e"))
    val census = obs.groupBy("d")
      .agg(sum("e").as("n_event"),
        sum(lit(1L) - col("e")).as("n_censored"))
    val w = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, -1)
    val totalF = census
      .agg(sum(col("n_event") + col("n_censored")).as("n_total"))
    census
      .withColumn("before",
        coalesce(sum(col("n_event") + col("n_censored")).over(w), lit(0L)))
      .crossJoin(broadcast(totalF))
      .select(col("d"), (col("n_total") - col("before")).as("n_risk"),
        col("n_event"), col("n_censored"))
  }

  private def q308OracleSql: String =
    s"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us
          FROM events),
        su AS (SELECT user_id, CAST(min(us) AS BIGINT) AS t0
          FROM ev WHERE event_type = 'signup' GROUP BY user_id),
        fp AS (SELECT e.user_id, CAST(min(e.us) AS BIGINT) AS tp
          FROM ev e JOIN su ON e.user_id = su.user_id
          WHERE e.event_type = 'purchase' AND e.us >= su.t0
          GROUP BY e.user_id),
        te AS (SELECT CAST(max(us) AS BIGINT) AS te FROM ev),
        obs AS (SELECT CASE WHEN fp.tp IS NOT NULL
            THEN (fp.tp - su.t0) // $UsPerDay
            ELSE (te.te - su.t0) // $UsPerDay END AS d,
          CASE WHEN fp.tp IS NOT NULL THEN 1 ELSE 0 END AS e
          FROM su LEFT JOIN fp ON su.user_id = fp.user_id CROSS JOIN te),
        census AS (SELECT CAST(d AS BIGINT) AS d,
          CAST(sum(e) AS BIGINT) AS n_event,
          CAST(sum(1 - e) AS BIGINT) AS n_censored
          FROM obs GROUP BY d),
        tot AS (SELECT CAST(sum(n_event + n_censored) AS BIGINT)
          AS n_total FROM census)
        SELECT d, n_total - CAST(coalesce(sum(n_event + n_censored)
            OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
              AND 1 PRECEDING), 0) AS BIGINT) AS n_risk,
          n_event, n_censored
        FROM census CROSS JOIN tot"""

  // ------------------------------------------------------------ q309

  /** q309's z statistic as ONE shared-text double expression over the
    * exact integers {s, n, tt}: the Mann–Kendall normal approximation
    * with continuity correction — z = (S∓1)/√Var, Var = [n(n−1)(2n+5)
    * − Σ t(t−1)(2t+5)]/18 (tie-corrected). */
  private def mkZExpr: String =
    s"""((CASE WHEN s > 0 THEN CAST(s AS DOUBLE) - 1.0
          WHEN s < 0 THEN CAST(s AS DOUBLE) + 1.0
          ELSE 0.0 END)
       / sqrt((CAST(n AS DOUBLE) * (n - 1.0) * (2.0 * n + 5.0)
          - CAST(tt AS DOUBLE)) / 18.0))"""

  /** q309 — MANN–KENDALL TREND TEST on the daily event-count series
    * (the nonparametric "is this metric actually trending" test a
    * monitoring stack runs before it pages anyone: q304's ACF describes
    * the correlation structure, this one DECIDES monotone trend, robust
    * to the spikes that wreck a least-squares slope — and its slope
    * companion is exactly q256's Theil–Sen): S = Σ_{i<j} sign(x_j−x_i)
    * over day pairs, the tie term Σ t(t−1)(2t+5) over tied counts, and
    * the continuity-corrected z ×10⁶ through [[mkZExpr]] — all from
    * exact integers.
    *
    * Scale shape: one map-side daily census (the generator's fixed
    * ≤31-day span), then an O(days²) pair join on that domain-bounded
    * frame — ~450 sign evaluations regardless of corpus size. */
  def q309MannKendall(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val pairs = daily.select(col("day").as("d1"), col("x").as("x1"))
      .crossJoin(broadcast(daily.select(col("day").as("d2"),
        col("x").as("x2"))))
      .filter(col("d1") < col("d2"))
    val sF = pairs.agg(sum(signum(col("x2") - col("x1"))
      .cast("bigint")).as("s"))
    val nF = daily.agg(count(lit(1)).as("n"))
    val tiesF = daily.groupBy("x").agg(count(lit(1)).as("tc"))
      .agg(sum(expr("tc * (tc - 1) * (2 * tc + 5)")).as("tt"))
    sF.crossJoin(broadcast(nF)).crossJoin(broadcast(tiesF))
      .select(col("n"), col("s"), col("tt"),
        expr(s"CAST(floor($mkZExpr * 1000000) AS BIGINT)").as("z_ppm"))
  }

  private def q309OracleSql: String =
    s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        sp AS (SELECT CAST(sum(sign(b.x - a.x)) AS BIGINT) AS s
          FROM daily a JOIN daily b ON a.day < b.day),
        np AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
        tp AS (SELECT CAST(coalesce(sum(tc * (tc - 1) * (2 * tc + 5)), 0)
            AS BIGINT) AS tt
          FROM (SELECT CAST(count(*) AS BIGINT) AS tc
            FROM daily GROUP BY x) g)
        SELECT n, s, tt,
          CAST(floor($mkZExpr * 1000000) AS BIGINT) AS z_ppm
        FROM sp CROSS JOIN np CROSS JOIN tp"""

  // ------------------------------------------------------------ q311

  /** q311 — LOCAL SUPPLIER VOLUME, the TPC-H Q5 shape (revenue within a
    * region from lineitems whose CUSTOMER and SUPPLIER share a nation —
    * the two-fact-dimension star join with the non-key θ-condition
    * c_nationkey = s_nationkey that defeats naive join planners: the
    * condition links two different dimension paths of the same fact
    * row): per nation name, exact cents·bp revenue (q305 discipline).
    *
    * Scale shape: region→nation broadcasts; orders⋈customer and
    * lineitem⋈orders shuffle on their keys; lineitem⋈supplier is a
    * shuffle equi-join on suppkey (supplier is fact-scale in TPC-H at
    * 100 TB — no broadcast pretense, though AQE will broadcast it at
    * test scale); the nation-equality condition is a post-join filter
    * on two already-resident int columns. One |nations|-row aggregate. */
  def q311LocalSupplierVolume(s: SparkSession, dir: String): DataFrame = {
    val reg = t(s, dir, "region")
      .filter(col("r_name") === ShareRegion).select("r_regionkey")
    val nat = t(s, dir, "nation")
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = t(s, dir, "customer")
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
    val ord = t(s, dir, "orders")
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"), col("n_name"))
    val sup = t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        (expr("CAST(floor(l_extendedprice * 100) AS BIGINT)") *
          (lit(10000L) - expr("CAST(floor(l_discount * 10000) AS BIGINT)")))
          .as("rev"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg(sum(col("rev").cast("decimal(38,0)")).as("r38"))
      .select(col("n_name"), col("r38").cast("bigint").as("revenue"))
  }

  private def q311OracleSql: String =
    s"""SELECT n_name,
        CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
          * (10000 - CAST(floor(l_discount * 10000) AS BIGINT)))
          AS BIGINT) AS revenue
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = '$ShareRegion'
        AND c_nationkey = s_nationkey
      GROUP BY n_name"""

  // ------------------------------------------------------------ q312

  /** q312 — PROMO REVENUE SHARE per ship-month, the TPC-H Q14 shape
    * (what fraction of each month's revenue came from promotional
    * parts — the conditional-aggregation fact⋈dimension join that
    * marketing reads as campaign yield; Q14 asks one month, this
    * releases the whole monthly series so the differential pins ~80
    * month rows instead of one): exact cents·bp revenue split by
    * p_type = 'PROMO', share in ppm.
    *
    * Scale shape: ONE shuffle equi-join lineitem⋈part on partkey (both
    * fact-sized at 100 TB), month derived from l_shipdate in-row,
    * |months|-row aggregate. The promo flag folds into the join
    * projection, so the aggregate carries one boolean — not the part
    * row. */
  def q312PromoRevenue(s: SparkSession, dir: String): DataFrame = {
    val part = t(s, dir, "part")
      .select(col("p_partkey"), (col("p_type") === "PROMO").as("hit"))
    t(s, dir, "lineitem")
      .select(col("l_partkey"),
        date_format(col("l_shipdate"), "yyyy-MM").as("month"),
        (expr("CAST(floor(l_extendedprice * 100) AS BIGINT)") *
          (lit(10000L) - expr("CAST(floor(l_discount * 10000) AS BIGINT)")))
          .as("rev"))
      .join(part, col("l_partkey") === col("p_partkey"))
      .groupBy("month")
      .agg(
        sum(when(col("hit"), col("rev")).otherwise(0L)
          .cast("decimal(38,0)")).as("p38"),
        sum(col("rev").cast("decimal(38,0)")).as("t38"))
      .select(col("month"),
        col("p38").cast("bigint").as("promo_rev"),
        col("t38").cast("bigint").as("total_rev"),
        expr("CAST(p38 * 1000000 div t38 AS BIGINT)").as("share_ppm"))
  }

  private def q312OracleSql: String =
    s"""WITH li AS (SELECT l_partkey, strftime(l_shipdate, '%Y-%m')
          AS month,
          CAST(floor(l_extendedprice * 100) AS BIGINT)
            * (10000 - CAST(floor(l_discount * 10000) AS BIGINT)) AS rev
        FROM lineitem)
        SELECT month,
          CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END)
            AS BIGINT) AS promo_rev,
          CAST(sum(rev) AS BIGINT) AS total_rev,
          CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END)
            * 1000000 // sum(rev) AS BIGINT) AS share_ppm
        FROM li JOIN part ON l_partkey = p_partkey
        GROUP BY month"""

  // ------------------------------------------------------------ q316

  /** q316 HLL geometry: 2⁶ = 64 registers, 48-bit hash (q181/q236's
    * LCG convention widened), register value = trailing-zero rank of
    * the remaining 42 bits, capped at 43 for the all-zero remainder. */
  val HllBuckets = 64L
  val HllHashMod = 281474976710656L // 2^48

  /** q316 — HLL REGISTER TABLE per day (the OTHER mergeable
    * cardinality sketch next to q181/q236's KMV, and the one real
    * warehouses deploy because its state is FIXED at 2^p registers —
    * KMV's k values shrink-to-fit but must be k·8 bytes even for tiny
    * sets, HLL is 64 ranks no matter what): per (day, register) the
    * max trailing-zero rank of the deterministic 48-bit user-id hash.
    * The harmonic estimate Σ2^−M looks like a 64-term float fold, so
    * this query releases the REGISTERS: they merge by max (the
    * defining sketch property, pinned by the spec), and any consumer
    * finishes the estimate in one line. (Round 11's q496 showed the
    * fold can in fact be declared — each term is an exact power of
    * two, so Σ2^(25−M) is an INTEGER sum and only the final division
    * is a double — and releases the finished estimate; this query
    * keeps the register-table contract as the mergeable-state view.) Rank extraction is
    * pure integer arithmetic plus one log2 of an exact power of two
    * (lowbit = rest & −rest), rounded-to-nearest before CAST so a
    * ±ulp libm difference cannot shift the floor.
    *
    * Scale shape: one corpus scan, map-side combined max to
    * |days|×64 rows — the fixed-state census; nothing else. */
  def q316HllRegisters(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events")
      .select(to_date(col("ts")).as("day"),
        expr(s"(user_id * 1103515245 + 12345) % $HllHashMod").as("h"))
      .select(col("day"), (col("h") % HllBuckets).as("register"),
        expr(s"h div $HllBuckets").as("rest"))
      .select(col("day"), col("register"),
        expr("""CASE WHEN rest = 0 THEN CAST(43 AS BIGINT)
             ELSE CAST(floor(log2(rest & -rest) + 0.5) AS BIGINT) + 1
             END""").as("rho"))
      .groupBy("day", "register")
      .agg(max("rho").as("max_rho"))
  }

  private def q316OracleSql: String =
    s"""WITH hv AS (SELECT CAST(ts AS DATE) AS day,
          (user_id * 1103515245 + 12345) % $HllHashMod AS h
        FROM events),
        rr AS (SELECT day, h % $HllBuckets AS register,
          h // $HllBuckets AS rest FROM hv),
        rho AS (SELECT day, CAST(register AS BIGINT) AS register,
          CASE WHEN rest = 0 THEN CAST(43 AS BIGINT)
            ELSE CAST(floor(log2(rest & -rest) + 0.5) AS BIGINT) + 1
          END AS rho FROM rr)
        SELECT day, register, CAST(max(rho) AS BIGINT) AS max_rho
        FROM rho GROUP BY day, register"""

  // ------------------------------------------------------------ q317

  /** q317's per-cell MI contribution as ONE shared-text double
    * expression over exact integer counts: (n_xy/n)·ln(n·n_xy/(n_x·n_y))
    * — absent cells contribute exactly 0 and are simply not emitted, so
    * no smoothing is needed (unlike q307's PSI, where an empty bin sits
    * under a log RATIO of probabilities rather than inside x·ln x). */
  private def miContribExpr: String =
    s"""((CAST(n_xy AS DOUBLE) / n)
       * ln(CAST(n AS DOUBLE) * n_xy
           / (CAST(n_x AS DOUBLE) * n_y)))"""

  /** q317 — MUTUAL INFORMATION feature screen between order priority
    * and customer market segment (the model-free dependence measure a
    * feature pipeline ranks candidate columns by BEFORE training:
    * q247's χ² answers "is there dependence at all" as a test, MI
    * answers "how many bits does knowing X give about Y" as a
    * QUANTITY — the number feature selection actually thresholds;
    * near-zero here, which is itself the generator finding: priority
    * is drawn independently of segment): per observed (priority,
    * segment) cell the exact joint and marginal counts plus the MI
    * contribution ×10⁹ through [[miContribExpr]] — Σ over the released
    * rows IS the MI estimate in nats, reconstructible to the last bit
    * from the released integers.
    *
    * Scale shape: one orders⋈customer shuffle equi-join on custkey
    * (both fact-sized at 100 TB), map-side combined to the
    * |priorities|×|segments| = 25-cell census; margins and total ride
    * the census frame. */
  def q317MutualInformation(s: SparkSession, dir: String): DataFrame = {
    val cells = t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderpriority").as("x"))
      .join(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("y")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("x", "y").agg(count(lit(1)).as("n_xy"))
      .localCheckpoint(true)
    val mx = cells.groupBy("x").agg(sum("n_xy").as("n_x"))
    val my = cells.groupBy("y").agg(sum("n_xy").as("n_y"))
    val nF = cells.agg(sum("n_xy").as("n"))
    cells.join(broadcast(mx), "x").join(broadcast(my), "y")
      .crossJoin(broadcast(nF))
      .select(col("x"), col("y"), col("n_xy"), col("n_x"), col("n_y"),
        expr(s"CAST(floor($miContribExpr * 1000000000) AS BIGINT)")
          .as("mi_ppb"))
  }

  private def q317OracleSql: String =
    s"""WITH cells AS (SELECT o_orderpriority AS x, c_mktsegment AS y,
          CAST(count(*) AS BIGINT) AS n_xy
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2),
        mx AS (SELECT x, CAST(sum(n_xy) AS BIGINT) AS n_x
          FROM cells GROUP BY x),
        my AS (SELECT y, CAST(sum(n_xy) AS BIGINT) AS n_y
          FROM cells GROUP BY y),
        nt AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM cells)
        SELECT c.x, c.y, c.n_xy, mx.n_x, my.n_y,
          CAST(floor($miContribExpr * 1000000000) AS BIGINT) AS mi_ppb
        FROM cells c JOIN mx ON c.x = mx.x JOIN my ON c.y = my.y
        CROSS JOIN nt"""

  // ------------------------------------------------------------ q320

  /** q320's ρ as ONE shared-text double expression over the exact
    * decimal(38,0) sufficient statistics: num / sqrt(den_x · den_y),
    * with num = N·Σnuxuy − Σnux·Σnuy etc. — Pearson over doubled
    * midranks (the 4× scale cancels between num and den). Every
    * operand is bit-identical on both engines, so floor(ρ·10⁶) is
    * deterministic cross-engine (q303 discipline). */
  private def spearmanRhoExpr: String =
    s"""(CAST(num AS DOUBLE)
       / sqrt(CAST(den_x AS DOUBLE) * CAST(den_y AS DOUBLE)))"""

  /** q320 — SPEARMAN RANK CORRELATION between lineitem quantity and
    * discount (the monotone-association member completing the
    * correlation family: q180's Pearson sees only LINEAR association
    * and is wrecked by heavy tails, q264's Kendall is O(n·band) and
    * pays a window-join — Spearman is Pearson ON MIDRANKS, robust to
    * any monotone transform and, over a bounded value domain, computable
    * entirely on censuses with zero row-level ranking). Both variables
    * live on tiny exact grids (quantity 1..50, discount cents 0..10),
    * so the joint census is ≤ 550 cells and the midranks come from the
    * MARGINAL censuses: for a tie group of size m with cb strictly
    * below, the doubled midrank 2·r̄ = 2·cb + m + 1 is integral (q303).
    * The moment sums are carried in decimal(38,0)/int128 (n·ux·uy
    * products reach 4N³ ≈ 10²⁷ at sf100 — int64 wraps, q268
    * discipline) and stay INTERNAL per the q180/q315 release rule
    * (int128 lands as float under the driver's pandas read-back);
    * released are N and ρ ×10⁶ through [[spearmanRhoExpr]]. Expected
    * ≈ 0 here — quantity and discount are drawn independently, which
    * is itself the generator finding (q317).
    *
    * Scale shape: ONE corpus scan map-side combined to the ≤550-cell
    * joint census; marginals, midranks, and the scalar fold all ride
    * that census frame (the q168 value-domain convention — no global
    * sort, no row-level window, at any corpus size). */
  def q320Spearman(s: SparkSession, dir: String): DataFrame = {
    val cells = t(s, dir, "lineitem")
      .select(expr("CAST(l_quantity AS BIGINT)").as("q"),
        expr("CAST(floor(l_discount * 100) AS BIGINT)").as("d"))
      .groupBy("q", "d").agg(count(lit(1)).as("n_qd"))
      .localCheckpoint(true)
    val wq = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, -1)
    val mq = cells.groupBy("q").agg(sum("n_qd").as("mq"))
      .withColumn("cbq", coalesce(sum(col("mq")).over(wq), lit(0L)))
      .select(col("q"), (lit(2L) * col("cbq") + col("mq") + 1).as("ux"))
    val wd = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    val md = cells.groupBy("d").agg(sum("n_qd").as("md"))
      .withColumn("cbd", coalesce(sum(col("md")).over(wd), lit(0L)))
      .select(col("d"), (lit(2L) * col("cbd") + col("md") + 1).as("uy"))
    cells.join(broadcast(mq), "q").join(broadcast(md), "d")
      .agg(
        sum("n_qd").as("n"),
        sum(expr("CAST(n_qd AS DECIMAL(38,0)) * ux")).as("sx"),
        sum(expr("CAST(n_qd AS DECIMAL(38,0)) * uy")).as("sy"),
        sum(expr("CAST(n_qd AS DECIMAL(38,0)) * ux * ux")).as("sxx"),
        sum(expr("CAST(n_qd AS DECIMAL(38,0)) * uy * uy")).as("syy"),
        sum(expr("CAST(n_qd AS DECIMAL(38,0)) * ux * uy")).as("sxy"))
      .select(col("n"),
        expr("CAST(n AS DECIMAL(38,0)) * sxy - sx * sy").as("num"),
        expr("CAST(n AS DECIMAL(38,0)) * sxx - sx * sx").as("den_x"),
        expr("CAST(n AS DECIMAL(38,0)) * syy - sy * sy").as("den_y"))
      .select(col("n"),
        expr(s"CAST(floor($spearmanRhoExpr * 1000000) AS BIGINT)")
          .as("rho_ppm"))
  }

  private def q320OracleSql: String =
    s"""WITH cells AS (SELECT CAST(l_quantity AS BIGINT) AS q,
          CAST(floor(l_discount * 100) AS BIGINT) AS d,
          CAST(count(*) AS BIGINT) AS n_qd
        FROM lineitem GROUP BY 1, 2),
        mq AS (SELECT q, 2 * CAST(coalesce(sum(mq) OVER (ORDER BY q
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) + mq + 1 AS ux
          FROM (SELECT q, CAST(sum(n_qd) AS BIGINT) AS mq
                FROM cells GROUP BY q)),
        md AS (SELECT d, 2 * CAST(coalesce(sum(md) OVER (ORDER BY d
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) + md + 1 AS uy
          FROM (SELECT d, CAST(sum(n_qd) AS BIGINT) AS md
                FROM cells GROUP BY d)),
        ag AS (SELECT CAST(sum(n_qd) AS BIGINT) AS n,
          sum(CAST(n_qd AS HUGEINT) * ux) AS sx,
          sum(CAST(n_qd AS HUGEINT) * uy) AS sy,
          sum(CAST(n_qd AS HUGEINT) * ux * ux) AS sxx,
          sum(CAST(n_qd AS HUGEINT) * uy * uy) AS syy,
          sum(CAST(n_qd AS HUGEINT) * ux * uy) AS sxy
          FROM cells JOIN mq USING (q) JOIN md USING (d)),
        fin AS (SELECT n,
          CAST(n AS HUGEINT) * sxy - sx * sy AS num,
          CAST(n AS HUGEINT) * sxx - sx * sx AS den_x,
          CAST(n AS HUGEINT) * syy - sy * sy AS den_y FROM ag)
        SELECT n,
          CAST(floor($spearmanRhoExpr * 1000000) AS BIGINT) AS rho_ppm
        FROM fin"""

  // ------------------------------------------------------------ q321

  /** q321 — TWO-SAMPLE KOLMOGOROV–SMIRNOV between purchase and click
    * event values (the distribution-level drift/AB test completing the
    * two-sample family: q266's Welch t compares MEANS, q303's rank-sum
    * compares LOCATIONS — KS is sensitive to ANY distributional
    * difference, shape included, and is the standard gate before
    * pooling two traffic segments). Fully integer: on the exact cents
    * grid, D = max_v |F₁(v) − F₂(v)| = d_num / (n₁·n₂) with
    * d_num = max_v |n₂·c₁(v) − n₁·c₂(v)| over the cumulative census —
    * no float touches the differential, even the released KS statistic
    * is the exact integer (d_num·10⁶) div (n₁·n₂) in decimal(38,0)
    * (int64 wraps at sf100: d_num ≤ n₁n₂ ≈ 4·10¹⁴ and ×10⁶ overflows —
    * q315's decimal-div pattern). Also released: the cents value where
    * the sup is attained (smallest such, exact tie-break).
    *
    * Scale shape: one map-side hash agg to the distinct-cents census
    * (value-domain-bounded ~10⁴ rows, q168/q303 convention), one
    * ordered window over that frame, one scalar aggregate + the
    * argmax re-join on the tiny census. The corpus is touched once. */
  def q321KsTest(s: SparkSession, dir: String): DataFrame = {
    val grp = t(s, dir, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .select((col("event_type") === "purchase").as("arm"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .groupBy("vc").agg(
        sum(when(col("arm"), 1L).otherwise(0L)).as("na"),
        sum(when(col("arm"), 0L).otherwise(1L)).as("nb"))
      .localCheckpoint(true)
    val w = Window.orderBy("vc")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grp
      .select(col("vc"), sum("na").over(w).as("c1"),
        sum("nb").over(w).as("c2"))
    val tot = grp.agg(sum("na").as("n1"), sum("nb").as("n2"))
    val diffs = cum.crossJoin(broadcast(tot))
      .select(col("vc"), col("n1"), col("n2"),
        abs(col("n2") * col("c1") - col("n1") * col("c2")).as("diff"))
      .localCheckpoint(true)
    val dmax = diffs.agg(max("diff").as("d_num"))
    diffs.join(broadcast(dmax), col("diff") === col("d_num"))
      .groupBy("n1", "n2", "d_num")
      .agg(min("vc").as("vc_at"))
      .select(col("n1"), col("n2"), col("d_num"), col("vc_at"),
        expr("""CAST((CAST(d_num AS DECIMAL(38,0)) * 1000000)
                div (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)""")
          .as("ks_ppm"))
  }

  private def q321OracleSql: String =
    """WITH ev AS (SELECT event_type = 'purchase' AS arm,
          CAST(floor(value * 100) AS BIGINT) AS vc
        FROM events WHERE event_type IN ('purchase', 'click')),
        grp AS (SELECT vc,
          CAST(sum(CASE WHEN arm THEN 1 ELSE 0 END) AS BIGINT) AS na,
          CAST(sum(CASE WHEN arm THEN 0 ELSE 1 END) AS BIGINT) AS nb
          FROM ev GROUP BY vc),
        cum AS (SELECT vc,
          CAST(sum(na) OVER (ORDER BY vc) AS BIGINT) AS c1,
          CAST(sum(nb) OVER (ORDER BY vc) AS BIGINT) AS c2 FROM grp),
        tot AS (SELECT CAST(sum(na) AS BIGINT) AS n1,
          CAST(sum(nb) AS BIGINT) AS n2 FROM grp),
        diffs AS (SELECT vc, n1, n2, abs(n2 * c1 - n1 * c2) AS diff
          FROM cum CROSS JOIN tot),
        dmax AS (SELECT max(diff) AS d_num FROM diffs)
        SELECT n1, n2, d_num, min(vc) AS vc_at,
          CAST((CAST(d_num AS HUGEINT) * 1000000)
               // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS ks_ppm
        FROM diffs JOIN dmax ON diff = d_num
        GROUP BY n1, n2, d_num"""

  // ------------------------------------------------------------ q322

  /** The five event types, the FIXED pivot domain of q322 (asserting it
    * fixed is what lets H be one shared-text expression — a float Σ
    * over a dynamic group set would fold in engine-dependent order). */
  val KwTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** q322's H as ONE shared-text double expression over the pivoted
    * exact integers {n, ties, n_g, r2_g}: with R_g = r2_g/2,
    * H = [12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1)] / (1 − T/(N³−N)).
    * The Σ over the five groups is written out term by term in fixed
    * order, so every float op is position-identical on both engines. */
  private def kwHExpr: String = {
    val terms = KwTypes.map(g =>
      s"(CAST(r2_$g AS DOUBLE) * r2_$g / 4.0 / n_$g)").mkString("\n + ")
    s"""((12.0 / (CAST(n AS DOUBLE) * (n + 1)) * ($terms)
        - 3.0 * (n + 1.0))
       / (1.0 - CAST(ties AS DOUBLE)
           / (CAST(n AS DOUBLE) * n * n - n)))"""
  }

  /** q322 — KRUSKAL–WALLIS H across ALL FIVE event types (the k-sample
    * nonparametric ANOVA: q190's F test assumes normal-ish residuals
    * the Exp(50) payload violates, q303's rank-sum only handles two
    * arms — KW is the omnibus "does value differ by type at all" gate
    * run before any pairwise drill-down). Midranks on the exact cents
    * grid over the POOLED census, doubled to stay integral (2·r̄ =
    * 2·cb + m + 1, q303); per type the count n_g and doubled rank-sum
    * r2_g = Σ n_{g,v}·(2·cb_v + m_v + 1) are exact BIGINTs, pivoted
    * into ONE row over the declared fixed type domain [[KwTypes]] so
    * the tie-corrected H ×10⁶ folds in fixed term order through
    * [[kwHExpr]]. Near-zero expected — value is drawn independently of
    * type (q317's generator-finding pattern).
    *
    * Scale shape: one map-side hash agg to the (type, cents) census,
    * the rank window rides the ~10⁴-row pooled-cents frame, the pivot
    * is a 5-way conditional aggregation to a single row. Corpus
    * touched once, nothing downstream scales with it. */
  def q322KruskalWallis(s: SparkSession, dir: String): DataFrame = {
    val cells = t(s, dir, "events")
      .select(col("event_type").as("g"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .groupBy("g", "vc").agg(count(lit(1)).as("ng"))
    val w = Window.orderBy("vc")
      .rowsBetween(Window.unboundedPreceding, -1)
    val pooled = cells.groupBy("vc").agg(sum("ng").as("m"))
      .withColumn("cb", coalesce(sum(col("m")).over(w), lit(0L)))
      .select(col("vc"), col("m"),
        (lit(2L) * col("cb") + col("m") + 1).as("u"))
    val joined = cells.join(broadcast(pooled), "vc")
    val pivotCols =
      KwTypes.flatMap(g => Seq(
        sum(when(col("g") === g, col("ng")).otherwise(0L)).as(s"n_$g"),
        sum(when(col("g") === g, col("ng") * col("u")).otherwise(0L))
          .as(s"r2_$g")))
    val tiesF = pooled.agg(sum(expr("m * m * m - m")).as("ties"))
    joined.agg(sum("ng").as("n"), pivotCols: _*)
      .crossJoin(broadcast(tiesF))
      .select(col("n") +: col("ties") +:
        KwTypes.flatMap(g => Seq(col(s"n_$g"), col(s"r2_$g"))) :+
        expr(s"CAST(floor($kwHExpr * 1000000) AS BIGINT)").as("h_ppm"): _*)
  }

  private def q322OracleSql: String = {
    val pivotSel = KwTypes.map(g =>
      s"""CAST(sum(CASE WHEN g = '$g' THEN ng ELSE 0 END) AS BIGINT)
            AS n_$g,
          CAST(sum(CASE WHEN g = '$g' THEN ng * u ELSE 0 END) AS BIGINT)
            AS r2_$g""").mkString(",\n          ")
    val outCols = KwTypes.map(g => s"n_$g, r2_$g").mkString(", ")
    s"""WITH cells AS (SELECT event_type AS g,
          CAST(floor(value * 100) AS BIGINT) AS vc,
          CAST(count(*) AS BIGINT) AS ng
        FROM events GROUP BY 1, 2),
        pooled AS (SELECT vc, m,
          2 * CAST(coalesce(sum(m) OVER (ORDER BY vc
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) + m + 1 AS u
          FROM (SELECT vc, CAST(sum(ng) AS BIGINT) AS m
                FROM cells GROUP BY vc)),
        tt AS (SELECT CAST(sum(m * m * m - m) AS BIGINT) AS ties
          FROM pooled),
        piv AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
          $pivotSel
          FROM cells JOIN pooled USING (vc))
        SELECT n, ties, $outCols,
          CAST(floor($kwHExpr * 1000000) AS BIGINT) AS h_ppm
        FROM piv CROSS JOIN tt"""
  }

  // ------------------------------------------------------------ q326

  /** q326's F as ONE shared-text double expression over the pivoted
    * exact integers {n, n_g, sz_g, szz_g}: the one-way ANOVA F on the
    * absolute deviations, between = Σ sz_g²/n_g − (Σ sz_g)²/N,
    * within = Σ szz_g − Σ sz_g²/n_g, F = (between/(k−1)) /
    * (within/(N−k)). Terms are written out in fixed [[KwTypes]] order
    * (q322's pivot-determinism move). */
  private def bfFExpr: String = {
    val k = KwTypes.size
    val sq = KwTypes.map(g =>
      s"(CAST(sz_$g AS DOUBLE) * sz_$g / n_$g)").mkString("\n + ")
    val szsum = KwTypes.map(g => s"CAST(sz_$g AS DOUBLE)").mkString(" + ")
    val szzsum = KwTypes.map(g => s"CAST(szz_$g AS DOUBLE)").mkString(" + ")
    s"""(((($sq) - ($szsum) * ($szsum) / n) / ${k - 1}.0)
       / ((($szzsum) - ($sq)) / (CAST(n AS DOUBLE) - $k)))"""
  }

  /** q326 — BROWN–FORSYTHE VARIANCE-EQUALITY TEST across the five event
    * types (the homoscedasticity GATE in front of q190's ANOVA F, whose
    * equal-variance assumption is exactly what heavy-tailed payloads
    * break; Brown–Forsythe is Levene's test made robust by deviating
    * from the MEDIAN — the recommended form for skewed data): per type
    * the median on the exact cents grid is carried DOUBLED
    * (med2 = lo + hi from the two order statistics, integral for any
    * group size — the q303 doubling trick applied to medians), the
    * deviations z = |2·vc − med2| are exact integers on the doubled
    * grid, and the per-type {n_g, Σz, Σz²} pivot into one row over the
    * fixed [[KwTypes]] domain; F ×10⁶ folds through [[bfFExpr]] in
    * fixed term order. Σz² reaches ~2·10¹⁹ near sf100 — past the int64
    * release bound, documented per the q304 convention (internally the
    * agg would widen to decimal(38,0) first).
    *
    * Scale shape: one map-side hash agg to the (type, cents) census;
    * the per-type cumulative window and the two order-statistic
    * lookups ride that ~10⁴-row frame; one 5-way conditional agg to a
    * single row. Corpus touched once. */
  def q326BrownForsythe(s: SparkSession, dir: String): DataFrame = {
    val cells = t(s, dir, "events")
      .select(col("event_type").as("g"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .groupBy("g", "vc").agg(count(lit(1)).as("m"))
      .localCheckpoint(true)
    val wc = Window.partitionBy("g").orderBy("vc")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cells.withColumn("cum", sum("m").over(wc))
    val ng = cells.groupBy("g").agg(sum("m").as("n_g"))
    val meds = cum.join(broadcast(ng), "g")
      .groupBy("g")
      .agg(
        min(when(col("cum") >= expr("(n_g + 1) div 2"), col("vc")))
          .as("lo"),
        min(when(col("cum") >= expr("n_g div 2 + 1"), col("vc")))
          .as("hi"))
      .select(col("g"), (col("lo") + col("hi")).as("med2"))
    val z = cells.join(broadcast(meds), "g")
      .select(col("g"), col("m"),
        abs(lit(2L) * col("vc") - col("med2")).as("z"))
    val pivotCols = KwTypes.flatMap(g => Seq(
      sum(when(col("g") === g, col("m")).otherwise(0L)).as(s"n_$g"),
      sum(when(col("g") === g, col("m") * col("z")).otherwise(0L))
        .as(s"sz_$g"),
      sum(when(col("g") === g, col("m") * col("z") * col("z"))
        .otherwise(0L)).as(s"szz_$g")))
    z.agg(sum("m").as("n"), pivotCols: _*)
      .select(col("n") +:
        KwTypes.flatMap(g =>
          Seq(col(s"n_$g"), col(s"sz_$g"), col(s"szz_$g"))) :+
        expr(s"CAST(floor($bfFExpr * 1000000) AS BIGINT)").as("f_ppm"): _*)
  }

  private def q326OracleSql: String = {
    val pivotSel = KwTypes.map(g =>
      s"""CAST(sum(CASE WHEN g = '$g' THEN m ELSE 0 END) AS BIGINT)
            AS n_$g,
          CAST(sum(CASE WHEN g = '$g' THEN m * z ELSE 0 END) AS BIGINT)
            AS sz_$g,
          CAST(sum(CASE WHEN g = '$g' THEN m * z * z ELSE 0 END)
            AS BIGINT) AS szz_$g""").mkString(",\n          ")
    val outCols = KwTypes.map(g => s"n_$g, sz_$g, szz_$g").mkString(", ")
    s"""WITH cells AS (SELECT event_type AS g,
          CAST(floor(value * 100) AS BIGINT) AS vc,
          CAST(count(*) AS BIGINT) AS m
        FROM events GROUP BY 1, 2),
        cum AS (SELECT g, vc, m, CAST(sum(m) OVER (PARTITION BY g
            ORDER BY vc ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS cum FROM cells),
        ng AS (SELECT g, CAST(sum(m) AS BIGINT) AS n_g
          FROM cells GROUP BY g),
        meds AS (SELECT cum.g,
          min(CASE WHEN cum >= (n_g + 1) // 2 THEN vc END)
            + min(CASE WHEN cum >= n_g // 2 + 1 THEN vc END) AS med2
          FROM cum JOIN ng ON ng.g = cum.g GROUP BY cum.g),
        z AS (SELECT c.g, c.m, abs(2 * c.vc - meds.med2) AS z
          FROM cells c JOIN meds ON meds.g = c.g),
        piv AS (SELECT CAST(sum(m) AS BIGINT) AS n,
          $pivotSel
          FROM z)
        SELECT n, $outCols,
          CAST(floor($bfFExpr * 1000000) AS BIGINT) AS f_ppm
        FROM piv"""
  }

  // ------------------------------------------------------------ q328

  /** q328's focal segment and date cutoff (the Q3 parameter pair; the
    * generator's order span is 1995–2001, so 1998-01-01 splits it). */
  val ShipSegment = "BUILDING"
  val ShipCutoff = "1998-01-01"

  /** q328 — SHIPPING-PRIORITY TOP ORDERS (the TPC-H Q3 shape, adapted
    * to this schema's columns: the unshipped-revenue ranking — orders
    * from one market segment placed BEFORE the cutoff with lineitems
    * shipping AFTER it, ranked by outstanding revenue; the classic
    * "which in-flight orders matter most" operational query and, with
    * Q5/Q8/Q14 (q311/q305/q312), the fourth member of the join-shape
    * portfolio). Revenue exact as cents·bp (q305 discipline), top 10
    * by revenue DESC with o_orderkey ASC tie-break — a deterministic
    * LIMIT under the differential.
    *
    * Scale shape: the segment filter prunes customer BEFORE its join
    * (broadcast-sized build side), the date filters push into both
    * fact scans; lineitem⋈orders shuffles on orderkey co-partitioned;
    * the top-10 is TakeOrdered — k rows per partition cross the wire,
    * never the ranked frame. */
  def q328ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .filter(col("c_mktsegment") === ShipSegment).select("c_custkey")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") < lit(ShipCutoff).cast("timestamp"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") > lit(ShipCutoff).cast("timestamp"))
      .select(col("l_orderkey"),
        (expr("CAST(floor(l_extendedprice * 100) AS BIGINT)") *
          (lit(10000L) - expr("CAST(floor(l_discount * 10000) AS BIGINT)")))
          .as("rev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate").cast("date")
        .as("order_date"), col("o_orderpriority"))
      .agg(sum(col("rev").cast("decimal(38,0)")).as("r38"))
      .select(col("o_orderkey"), col("order_date"),
        col("o_orderpriority"), col("r38").cast("bigint").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  private def q328OracleSql: String =
    s"""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
          o_orderpriority,
          CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
            * (10000 - CAST(floor(l_discount * 10000) AS BIGINT)))
            AS BIGINT) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = '$ShipSegment'
          AND o_orderdate < TIMESTAMP '$ShipCutoff 00:00:00'
          AND l_shipdate > TIMESTAMP '$ShipCutoff 00:00:00'
        GROUP BY o_orderkey, order_date, o_orderpriority
        ORDER BY revenue DESC, o_orderkey LIMIT 10"""

  // ------------------------------------------------------------ q329

  /** q329 — RETURNED-ITEM REPORTING (the TPC-H Q10 shape: which
    * customers returned the most revenue in a quarter — the churn-risk
    * / fraud-triage ranking run against every retail fact table; with
    * q328 it completes the top-k-over-star-join pair, this one keyed on
    * the CUSTOMER so the aggregate is customer-grained, not
    * order-grained). Return flag 'R', order quarter pinned to the
    * cutoff quarter; revenue exact cents·bp; top 20 by lost revenue
    * DESC, c_custkey ASC tie-break.
    *
    * Scale shape: the quarter filter pushes into the orders scan, the
    * flag filter into lineitem; lineitem⋈orders co-partition on
    * orderkey, the customer join shuffles on custkey with the nation
    * name broadcast onto it; TakeOrdered releases 20 rows. */
  def q329ReturnedItems(s: SparkSession, dir: String): DataFrame = {
    val nat = t(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit(ShipCutoff).cast("timestamp") &&
        col("o_orderdate") <
          add_months(lit(ShipCutoff).cast("timestamp"), 3))
      .select("o_orderkey", "o_custkey")
    t(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (expr("CAST(floor(l_extendedprice * 100) AS BIGINT)") *
          (lit(10000L) - expr("CAST(floor(l_discount * 10000) AS BIGINT)")))
          .as("rev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(sum(col("rev").cast("decimal(38,0)")).as("r38"))
      .join(t(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("r38").cast("bigint").as("lost_revenue"))
      .orderBy(col("lost_revenue").desc, col("c_custkey"))
      .limit(20)
  }

  private def q329OracleSql: String =
    s"""WITH agg AS (SELECT o_custkey,
          CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
            * (10000 - CAST(floor(l_discount * 10000) AS BIGINT)))
            AS BIGINT) AS lost_revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '$ShipCutoff 00:00:00'
          AND o_orderdate < TIMESTAMP '$ShipCutoff 00:00:00'
            + INTERVAL 3 MONTH
        GROUP BY o_custkey)
        SELECT c_custkey, c_name, n_name, lost_revenue
        FROM agg JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        ORDER BY lost_revenue DESC, c_custkey LIMIT 20"""

  // ------------------------------------------------------------ q330

  /** q330 — DISTRIBUTION-FREE MEDIAN CONFIDENCE INTERVAL per event type
    * (the robust-location release an experimentation platform pairs
    * with q240's bootstrap mean CI: the median needs NO bootstrap —
    * order statistics give an exact nonparametric CI, since the count
    * of observations below the median is Binomial(n, ½) regardless of
    * the distribution; the interval is [x_(k+1), x_(n−k)] with
    * k = ⌊n/2 − z·√n/2⌋ at z = 1.96). The rank k folds through one
    * shared-text double expression over the exact n (floor at a
    * non-integer point — √n is irrational for non-square n — so the
    * ±ulp hazard of the q316 doctrine does not bite, and square n at
    * z·√n/2 half-integral cannot make n/2 − z·√n/2 integral). Median
    * carried DOUBLED (q326's med2 = lo + hi convention); bounds are
    * exact cents order statistics from the same cumulative census.
    *
    * Scale shape: one map-side hash agg to the (type, cents) census,
    * one per-type cumulative window over the ~10⁴-row frame, one
    * order-statistic lookup agg. Corpus touched once. */
  def q330MedianCi(s: SparkSession, dir: String): DataFrame = {
    val cells = t(s, dir, "events")
      .select(col("event_type").as("g"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .groupBy("g", "vc").agg(count(lit(1)).as("m"))
      .localCheckpoint(true)
    val wc = Window.partitionBy("g").orderBy("vc")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cells.withColumn("cum", sum("m").over(wc))
    val ng = cells.groupBy("g").agg(sum("m").as("n_g"))
    cum.join(broadcast(ng), "g")
      .withColumn("k", expr(
        "CAST(floor(n_g / 2.0 - 1.96 * sqrt(CAST(n_g AS DOUBLE)) / 2.0)" +
          " AS BIGINT)"))
      .groupBy(col("g").as("event_type"))
      .agg(
        max(col("n_g")).as("n"),
        (min(when(col("cum") >= expr("(n_g + 1) div 2"), col("vc"))) +
          min(when(col("cum") >= expr("n_g div 2 + 1"), col("vc"))))
          .as("median2_cents"),
        min(when(col("cum") >= col("k") + 1, col("vc"))).as("ci_lo_cents"),
        min(when(col("cum") >= col("n_g") - col("k"), col("vc")))
          .as("ci_hi_cents"))
  }

  private def q330OracleSql: String =
    """WITH cells AS (SELECT event_type AS g,
          CAST(floor(value * 100) AS BIGINT) AS vc,
          CAST(count(*) AS BIGINT) AS m
        FROM events GROUP BY 1, 2),
        cum AS (SELECT g, vc, m, CAST(sum(m) OVER (PARTITION BY g
            ORDER BY vc ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS cum FROM cells),
        ng AS (SELECT g, CAST(sum(m) AS BIGINT) AS n_g
          FROM cells GROUP BY g),
        jj AS (SELECT cum.g, vc, cum, ng.n_g,
          CAST(floor(n_g / 2.0 - 1.96 * sqrt(CAST(n_g AS DOUBLE)) / 2.0)
            AS BIGINT) AS k
          FROM cum JOIN ng ON ng.g = cum.g)
        SELECT g AS event_type, CAST(max(n_g) AS BIGINT) AS n,
          min(CASE WHEN cum >= (n_g + 1) // 2 THEN vc END)
            + min(CASE WHEN cum >= n_g // 2 + 1 THEN vc END)
            AS median2_cents,
          min(CASE WHEN cum >= k + 1 THEN vc END) AS ci_lo_cents,
          min(CASE WHEN cum >= n_g - k THEN vc END) AS ci_hi_cents
        FROM jj GROUP BY g"""

  // ------------------------------------------------------------ q332

  /** q332 — INTER-ARRIVAL DISPERSION per event type (the Poissonity
    * check that CALIBRATES the burst/rate machinery: q219's burst
    * thresholds and q267's token-bucket refill both implicitly assume
    * near-Poisson arrivals, and CV² of the inter-event gaps is the
    * test — 1 for Poisson, >1 bursty, <1 regular; q262 runs the same
    * dispersion logic on token COUNTS, this runs it on event TIMES).
    * Gaps are exact integer seconds between a user's consecutive
    * events of a type, ordered by the collision-free epoch·scale +
    * event_id key (q92/q182 convention — same-second pairs order
    * deterministically and contribute gap 0). Σg² reaches ~10²¹ at
    * sf100, so moments fold in decimal(38,0)/int128 INTERNAL
    * (q180/q315 release rule); released per type: n_gaps, sum_gap_s,
    * mean_gap_s (exact truncated div) and CV² ×10⁶ as one shared-text
    * expression (n·Σg² − (Σg)²)/(Σg)² over the exact moments.
    *
    * Scale shape: one (user, type)-partitioned lag window (the
    * shuffle co-partitions with every other user-keyed pass), then a
    * map-side combined scalar aggregate per type. No global sort. */
  def q332InterarrivalCv(s: SparkSession, dir: String): DataFrame = {
    val sc = Extensions.AttribKeyScale
    val w = Window.partitionBy("user_id", "event_type").orderBy("k")
    t(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        (unix_timestamp(col("ts")) * sc + col("event_id")).as("k"))
      .withColumn("ts_s", expr(s"k div $sc"))
      .withColumn("g", col("ts_s") - lag("ts_s", 1).over(w))
      .filter(col("g").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("g").cast("decimal(38,0)")).as("sg38"),
        sum(expr("CAST(g AS DECIMAL(38,0)) * g")).as("sg2"))
      .select(col("event_type"), col("n_gaps"),
        col("sg38").cast("bigint").as("sum_gap_s"),
        expr("CAST(sg38 div n_gaps AS BIGINT)").as("mean_gap_s"),
        expr("""CAST(floor(((CAST(n_gaps AS DOUBLE) * CAST(sg2 AS DOUBLE)
             - CAST(sg38 AS DOUBLE) * CAST(sg38 AS DOUBLE))
             / (CAST(sg38 AS DOUBLE) * CAST(sg38 AS DOUBLE)))
             * 1000000) AS BIGINT)""").as("cv2_ppm"))
  }

  private def q332OracleSql: String = {
    val sc = Extensions.AttribKeyScale
    s"""WITH e AS (SELECT user_id, event_type,
          (epoch_ns(ts) // 1000000000) * $sc + event_id AS k
        FROM events),
        g AS (SELECT event_type,
          k // $sc - lag(k) OVER (PARTITION BY user_id, event_type
            ORDER BY k) // $sc AS g
          FROM e),
        ag AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
          CAST(sum(g) AS HUGEINT) AS sg38,
          CAST(sum(CAST(g AS HUGEINT) * g) AS HUGEINT) AS sg2
          FROM g WHERE g IS NOT NULL GROUP BY event_type)
        SELECT event_type, n_gaps, CAST(sg38 AS BIGINT) AS sum_gap_s,
          CAST(sg38 // n_gaps AS BIGINT) AS mean_gap_s,
          CAST(floor(((CAST(n_gaps AS DOUBLE) * CAST(sg2 AS DOUBLE)
            - CAST(sg38 AS DOUBLE) * CAST(sg38 AS DOUBLE))
            / (CAST(sg38 AS DOUBLE) * CAST(sg38 AS DOUBLE)))
            * 1000000) AS BIGINT) AS cv2_ppm
        FROM ag"""
  }

  // ------------------------------------------------------------ q333

  /** Two-sided trim fraction for q333, in percent (5% per tail). */
  val TrimPct = 5L

  /** q333 — TRIMMED AND WINSORIZED MEANS per event type (the
    * outlier-robust metric pair experiment platforms deploy when q266's
    * raw mean is whipped around by the tail: trimming DROPS the top and
    * bottom 5%, winsorizing CLAMPS them to the cut points — both are
    * L-statistics, so on the cents census they are EXACT integer
    * arithmetic, no float anywhere; the third member next to the
    * median (q330) on the robustness-efficiency curve). Per type:
    * k = n·5 div 100, kept mass per census cell =
    * max(min(cum, n−k) − max(cum−m, k), 0) — the sorted-multiset
    * window — plus the two cut-point order statistics for the
    * winsorized tail clamp. Released: n, k, both exact cent sums and
    * both truncated-div means — all BIGINT (Σ kept cents ≤ n·10⁵,
    * int64-safe through sf10⁴).
    *
    * Scale shape: one map-side hash agg to the (type, cents) census,
    * one per-type cumulative window over the ~10⁴-row frame, one
    * order-statistic aggregate. Corpus touched once (q330's frame,
    * different L-statistic). */
  def q333TrimmedMean(s: SparkSession, dir: String): DataFrame = {
    val cells = t(s, dir, "events")
      .select(col("event_type").as("g"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .groupBy("g", "vc").agg(count(lit(1)).as("m"))
      .localCheckpoint(true)
    val wc = Window.partitionBy("g").orderBy("vc")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cells.withColumn("cum", sum("m").over(wc))
    val ng = cells.groupBy("g").agg(sum("m").as("n_g"))
    cum.join(broadcast(ng), "g")
      .withColumn("k", expr(s"n_g * $TrimPct div 100"))
      .withColumn("mkept", greatest(
        least(col("cum"), col("n_g") - col("k")) -
          greatest(col("cum") - col("m"), col("k")), lit(0L)))
      .groupBy(col("g").as("event_type"))
      .agg(
        max(col("n_g")).as("n"),
        max(col("k")).as("k"),
        sum(col("mkept") * col("vc")).as("sum_trim_cents"),
        min(when(col("cum") >= col("k") + 1, col("vc"))).as("lo_cut"),
        min(when(col("cum") >= col("n_g") - col("k"), col("vc")))
          .as("hi_cut"))
      .select(col("event_type"), col("n"), col("k"),
        col("sum_trim_cents"),
        expr("sum_trim_cents div (n - 2 * k)").as("trim_mean_cents"),
        (col("sum_trim_cents") + col("k") * (col("lo_cut") + col("hi_cut")))
          .as("sum_winsor_cents"),
        expr("(sum_trim_cents + k * (lo_cut + hi_cut)) div n")
          .as("winsor_mean_cents"))
  }

  private def q333OracleSql: String =
    s"""WITH cells AS (SELECT event_type AS g,
          CAST(floor(value * 100) AS BIGINT) AS vc,
          CAST(count(*) AS BIGINT) AS m
        FROM events GROUP BY 1, 2),
        cum AS (SELECT g, vc, m, CAST(sum(m) OVER (PARTITION BY g
            ORDER BY vc ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS cum FROM cells),
        ng AS (SELECT g, CAST(sum(m) AS BIGINT) AS n_g
          FROM cells GROUP BY g),
        jj AS (SELECT cum.g, vc, m, cum, ng.n_g,
          n_g * $TrimPct // 100 AS k,
          greatest(least(cum, n_g - n_g * $TrimPct // 100)
            - greatest(cum - m, n_g * $TrimPct // 100), 0) AS mkept
          FROM cum JOIN ng ON ng.g = cum.g),
        ag AS (SELECT g AS event_type, CAST(max(n_g) AS BIGINT) AS n,
          CAST(max(k) AS BIGINT) AS k,
          CAST(sum(mkept * vc) AS BIGINT) AS sum_trim_cents,
          min(CASE WHEN cum >= k + 1 THEN vc END) AS lo_cut,
          min(CASE WHEN cum >= n_g - k THEN vc END) AS hi_cut
          FROM jj GROUP BY g)
        SELECT event_type, n, k, sum_trim_cents,
          sum_trim_cents // (n - 2 * k) AS trim_mean_cents,
          sum_trim_cents + k * (lo_cut + hi_cut) AS sum_winsor_cents,
          (sum_trim_cents + k * (lo_cut + hi_cut)) // n
            AS winsor_mean_cents
        FROM ag"""

  // ------------------------------------------------------------ q339

  /** q339's per-day log-rank terms as shared-text expressions over the
    * exact integers {n_event, n_risk, n_risk_1}: the hypergeometric
    * expectation E₁ⱼ = dⱼ·n₁ⱼ/nⱼ and variance
    * Vⱼ = dⱼ(nⱼ−dⱼ)n₁ⱼ(nⱼ−n₁ⱼ)/(nⱼ²(nⱼ−1)), each ×10⁹ in PURE integer
    * arithmetic (widened before multiplying, truncated div) — no float
    * fold anywhere, so both engines agree bit-for-bit. greatest(nⱼ−1, 1)
    * guards the final-day singleton risk set (q292/q181 convention; when
    * nⱼ = 1 the true variance is 0 and the numerator vanishes anyway). */
  private def lrTermExprs(divOp: String, bigT: String,
      d: String = "n_event", n1: String = "n_risk_1",
      n: String = "n_risk"): Seq[String] = Seq(
    s"""CAST(CAST($d AS $bigT) * $n1 * 1000000000
          $divOp $n AS BIGINT) AS e1_ppb""",
    s"""CAST(CAST($d AS $bigT) * ($n - $d)
            * $n1 * ($n - $n1) * 1000000000
          $divOp (CAST($n AS $bigT) * $n
                  * greatest($n - 1, 1)) AS BIGINT) AS v1_ppb""")

  /** q339 — TWO-SAMPLE LOG-RANK TEST between the experiment arms'
    * signup→first-purchase survival curves (the inferential companion
    * q308's Kaplan-Meier table cannot answer alone: q308 DESCRIBES one
    * pooled curve; a launch decision needs "is arm 1's time-to-convert
    * distribution DIFFERENT?", and the log-rank test is the standard
    * answer under right-censoring — comparing naive conversion rates
    * would throw away censoring and bias toward whichever arm has older
    * signups). Same observation scheme as q308 (first purchase at or
    * after signup = event, observation end = censor), arms by q174's
    * user_id % 2 split. Per conversion-day row: the pooled and arm-1
    * risk sets and event counts (exact integers) plus the
    * [[lrTermExprs]] expectation/variance terms ×10⁹ — the consumer's
    * z = (Σd₁ⱼ − ΣE₁ⱼ)/√ΣVⱼ, a three-column sum over a ≤|days| frame;
    * the spec pins that z against a brute-force survival model.
    *
    * Scale shape: q308's exactly — one user-keyed aggregate carrying
    * signup epoch and max-ts partials, a user-co-partitioned first-
    * purchase join, then a day census; the risk sets are reverse
    * cumsums over the domain-bounded (≤ observation-span days) frame,
    * the q198/q132 Window.orderBy argument. */
  def q339LogRank(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
    val perUser = ev.groupBy("user_id")
      .agg(min(when(col("event_type") === "signup", col("us")))
        .as("t0"), max("us").as("umax"))
      .localCheckpoint(true)
      .transform(remintIds)
    val su = perUser.filter(col("t0").isNotNull).select("user_id", "t0")
    val firstP = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us"))
      .join(su, "user_id")
      .filter(col("us") >= col("t0"))
      .groupBy("user_id").agg(min("us").as("tp"))
    val endF = perUser.agg(max("umax").as("te"))
    val obs = su.join(firstP, Seq("user_id"), "left")
      .crossJoin(broadcast(endF))
      .select(
        when(col("tp").isNotNull, expr(s"(tp - t0) div $UsPerDay"))
          .otherwise(expr(s"(te - t0) div $UsPerDay")).as("d"),
        when(col("tp").isNotNull, 1L).otherwise(0L).as("e"),
        (col("user_id") % 2).as("g"))
    val census = obs.groupBy("d")
      .agg(sum("e").as("n_event"), count(lit(1)).as("o_all"),
        sum(col("e") * col("g")).as("n_event_1"), sum("g").as("o_1"))
    val w = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, -1)
    val totF = census
      .agg(sum("o_all").as("n_tot"), sum("o_1").as("n_tot1"))
    census
      .withColumn("b_all", coalesce(sum(col("o_all")).over(w), lit(0L)))
      .withColumn("b_1", coalesce(sum(col("o_1")).over(w), lit(0L)))
      .crossJoin(broadcast(totF))
      .select(Seq(col("d"),
        (col("n_tot") - col("b_all")).as("n_risk"),
        (col("n_tot1") - col("b_1")).as("n_risk_1"),
        col("n_event"), col("n_event_1")) ++
        lrTermExprs("div", "DECIMAL(38,0)").map(expr): _*)
  }

  private def q339OracleSql: String =
    s"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us
          FROM events),
        su AS (SELECT user_id, CAST(min(us) AS BIGINT) AS t0
          FROM ev WHERE event_type = 'signup' GROUP BY user_id),
        fp AS (SELECT e.user_id, CAST(min(e.us) AS BIGINT) AS tp
          FROM ev e JOIN su ON e.user_id = su.user_id
          WHERE e.event_type = 'purchase' AND e.us >= su.t0
          GROUP BY e.user_id),
        te AS (SELECT CAST(max(us) AS BIGINT) AS te FROM ev),
        obs AS (SELECT CASE WHEN fp.tp IS NOT NULL
            THEN (fp.tp - su.t0) // $UsPerDay
            ELSE (te.te - su.t0) // $UsPerDay END AS d,
          CASE WHEN fp.tp IS NOT NULL THEN 1 ELSE 0 END AS e,
          su.user_id % 2 AS g
          FROM su LEFT JOIN fp ON su.user_id = fp.user_id CROSS JOIN te),
        census AS (SELECT CAST(d AS BIGINT) AS d,
          CAST(sum(e) AS BIGINT) AS n_event,
          CAST(count(*) AS BIGINT) AS o_all,
          CAST(sum(e * g) AS BIGINT) AS n_event_1,
          CAST(sum(g) AS BIGINT) AS o_1
          FROM obs GROUP BY d),
        tot AS (SELECT CAST(sum(o_all) AS BIGINT) AS n_tot,
          CAST(sum(o_1) AS BIGINT) AS n_tot1 FROM census),
        rk AS (SELECT d, n_event, n_event_1,
          n_tot - CAST(coalesce(sum(o_all)
            OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
              AND 1 PRECEDING), 0) AS BIGINT) AS n_risk,
          n_tot1 - CAST(coalesce(sum(o_1)
            OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
              AND 1 PRECEDING), 0) AS BIGINT) AS n_risk_1
          FROM census CROSS JOIN tot)
        SELECT d, n_risk, n_risk_1, n_event, n_event_1,
          ${lrTermExprs("//", "HUGEINT").mkString(",\n          ")}
        FROM rk"""

  // ------------------------------------------------------------ q342

  /** q342's DiD estimate ×10⁶ as widened truncated-div integer
    * arithmetic over the six exact cell sums: DiD = (μ₁ᵖᵒˢᵗ−μ₁ᵖʳᵉ) −
    * (μ₀ᵖᵒˢᵗ−μ₀ᵖʳᵉ) = ((S₁ᵖ−S₁ʳ)·n₀ − (S₀ᵖ−S₀ʳ)·n₁)/(n₁·n₀). The
    * numerator may be negative — both engines' integer division
    * truncates toward zero (pinned by the differential), so the sign
    * needs no special-casing. */
  private def didExpr(divOp: String, bigT: String): String =
    s"""CAST(((CAST(s1_post AS $bigT) - s1_pre) * n0
            - (CAST(s0_post AS $bigT) - s0_pre) * n1) * 1000000
          $divOp (CAST(n1 AS $bigT) * n0) AS BIGINT)"""

  /** q342 — DIFFERENCE-IN-DIFFERENCES on per-user event value across
    * the [[Analytics.CupedSplit]] boundary (the quasi-experimental
    * counterpart of q174's lift and q259's CUPED: when the split date
    * coincides with a rollout to arm 1 only, the post−pre change in the
    * CONTROL arm estimates the secular trend, and subtracting it from
    * the treated arm's change removes any time-invariant level
    * difference between arms — the parallel-trends identification every
    * launch retro leans on when randomization wasn't clean). Cells: per
    * arm (q174's user_id % 2 split) the user count and the exact
    * pre/post cent sums (per-user totals, zero for inactive periods, so
    * both period means share one user denominator); released as ONE row
    * {n0, n1, s0_pre, s0_post, s1_pre, s1_post, did_ppm} with the
    * estimate through [[didExpr]]. The spec cross-checks the four cell
    * means and the identity against a brute-force model; under this
    * generator's null (no actual rollout) the estimate must sit near
    * zero relative to the outcome scale, which the spec also pins.
    *
    * Scale shape: one user-keyed aggregate (map-side combined) → one
    * 2-row arm aggregate → one scalar row. Nothing leaves the census
    * after the first combine. */
  def q342DiffInDiff(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "events")
      .select((col("user_id") % 2).as("arm"), col("user_id"),
        (col("ts") < lit(Analytics.CupedSplit).cast("timestamp"))
          .as("pre"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .groupBy("user_id", "arm")
      .agg(sum(when(col("pre"), col("vc")).otherwise(0L)).as("x"),
        sum(when(!col("pre"), col("vc")).otherwise(0L)).as("y"))
    per.groupBy("arm")
      .agg(count(lit(1)).as("n"), sum("x").as("s_pre"),
        sum("y").as("s_post"))
      .agg(
        max(when(col("arm") === 0, col("n"))).as("n0"),
        max(when(col("arm") === 1, col("n"))).as("n1"),
        max(when(col("arm") === 0, col("s_pre"))).as("s0_pre"),
        max(when(col("arm") === 0, col("s_post"))).as("s0_post"),
        max(when(col("arm") === 1, col("s_pre"))).as("s1_pre"),
        max(when(col("arm") === 1, col("s_post"))).as("s1_post"))
      .select(col("n0"), col("n1"), col("s0_pre"), col("s0_post"),
        col("s1_pre"), col("s1_post"),
        expr(didExpr("div", "DECIMAL(38,0)")).as("did_ppm"))
  }

  private def q342OracleSql: String =
    s"""WITH per AS (SELECT user_id, user_id % 2 AS arm,
          CAST(sum(CASE WHEN ts < TIMESTAMP '${Analytics.CupedSplit}'
              THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)
            AS BIGINT) AS x,
          CAST(sum(CASE WHEN ts < TIMESTAMP '${Analytics.CupedSplit}'
              THEN 0 ELSE CAST(floor(value * 100) AS BIGINT) END)
            AS BIGINT) AS y
          FROM events GROUP BY user_id),
        cells AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS BIGINT) AS s_pre,
          CAST(sum(y) AS BIGINT) AS s_post
          FROM per GROUP BY arm),
        wide AS (SELECT
          max(CASE WHEN arm = 0 THEN n END) AS n0,
          max(CASE WHEN arm = 1 THEN n END) AS n1,
          max(CASE WHEN arm = 0 THEN s_pre END) AS s0_pre,
          max(CASE WHEN arm = 0 THEN s_post END) AS s0_post,
          max(CASE WHEN arm = 1 THEN s_pre END) AS s1_pre,
          max(CASE WHEN arm = 1 THEN s_post END) AS s1_post
          FROM cells)
        SELECT n0, n1, s0_pre, s0_post, s1_pre, s1_post,
          ${didExpr("//", "HUGEINT")} AS did_ppm
        FROM wide"""

  // ------------------------------------------------------------ q345

  /** q345's Cramer-rule release as shared-text double expressions over
    * the ten exact integer moments {n, s1, s2, s11, s12, s22, sy, s1y,
    * s2y, syy}: for X'X = [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]] and
    * X'y = [sy,s1y,s2y], β_k = det(X'X with column k replaced by X'y)
    * / det(X'X), and R² = 1 − SSE/SST with SSE folded through the same
    * dets. det(X'X) = 0 only under exact feature collinearity —
    * impossible for this schema's (1, quantity, discount) design
    * matrix; the magnitude note stands in for a guard (a collinear
    * input yields NaN → the differential would catch the divergence
    * loudly, not silently). */
  private def olsExprs: Seq[String] = {
    val det =
      """(CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s12)
        - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s2)
        + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s12 - CAST(s11 AS DOUBLE) * s2))"""
    val det0 =
      """(CAST(sy AS DOUBLE) * (CAST(s11 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s12)
        - CAST(s1 AS DOUBLE) * (CAST(s1y AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s2y)
        + CAST(s2 AS DOUBLE) * (CAST(s1y AS DOUBLE) * s12 - CAST(s11 AS DOUBLE) * s2y))"""
    val det1 =
      """(CAST(n AS DOUBLE) * (CAST(s1y AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s2y)
        - CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s2)
        + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s2y - CAST(s1y AS DOUBLE) * s2))"""
    val det2 =
      """(CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * s2y - CAST(s1y AS DOUBLE) * s12)
        - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s2y - CAST(s1y AS DOUBLE) * s2)
        + CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * s12 - CAST(s11 AS DOUBLE) * s2))"""
    val sse = s"""(CAST(syy AS DOUBLE)
        - (($det0 / $det) * sy + ($det1 / $det) * s1y
           + ($det2 / $det) * s2y))"""
    val sst = """(CAST(syy AS DOUBLE)
        - CAST(sy AS DOUBLE) * sy / CAST(n AS DOUBLE))"""
    Seq(
      s"CAST(floor($det0 / $det * 1000000) AS BIGINT) AS beta0_ppm",
      s"CAST(floor($det1 / $det * 1000000) AS BIGINT) AS beta1_ppm",
      s"CAST(floor($det2 / $det * 1000000) AS BIGINT) AS beta2_ppm",
      s"CAST(floor((1.0 - $sse / $sst) * 1000000) AS BIGINT) AS r2_ppm")
  }

  /** q345 — CLOSED-FORM MULTIPLE REGRESSION VIA A ONE-PASS MOMENT
    * SKETCH: OLS of line price (cents) on (1, quantity, discount×100)
    * by the normal equations, the pattern that makes regression
    * DISTRIBUTABLE — X'X and X'y are ten commutative integer sums (a
    * mergeable sketch in q94's sense: map-side combine does almost all
    * the work, the reduce sees one partial per partition), and the
    * 3×3 solve is a constant-time Cramer evaluation on the driver-free
    * single-row frame. The established per-operator regressions (q210's
    * stump, q256's Theil–Sen, q203's target encoding) are all
    * single-feature; this is the multivariate member, and at 100 TB it
    * runs at scan speed with a 10-long reduce. Exactness: every moment
    * is an exact integer (prices as floor-cents, discount as
    * floor×100; y² widened to DECIMAL(38,0)/HUGEINT before summing —
    * Σy² ~ 6·10²⁰ at sf1 overflows int64); β_k and R² are single
    * shared-text double expressions over those ten integers
    * ([[olsExprs]]). Released: {n, beta0_ppm (cents), beta1_ppm
    * (cents/unit qty), beta2_ppm (cents per discount point), r2_ppm};
    * the spec pins a brute-force normal-equations model, R² ∈ [0, 1],
    * and the residuals-sum-to-zero invariant (fitted plane through the
    * mean point). NOTE on this generator: part price varies ~100× while
    * quantity spans 1–50, so quantity explains almost none of the line
    * price variance — the fit is honest, not impressive, and the spec
    * pins invariants rather than a fictional effect size. */
  def q345OlsMoments(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem")
      .select(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("y"),
        expr("CAST(l_quantity AS BIGINT)").as("x1"),
        expr("CAST(floor(l_discount * 100) AS BIGINT)").as("x2"))
      .agg(count(lit(1)).as("n"), sum("x1").as("s1"), sum("x2").as("s2"),
        sum(expr("x1 * x1")).as("s11"), sum(expr("x1 * x2")).as("s12"),
        sum(expr("x2 * x2")).as("s22"), sum("y").as("sy"),
        sum(expr("x1 * y")).as("s1y"), sum(expr("x2 * y")).as("s2y"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .select(col("n") +: olsExprs.map(expr): _*)
  }

  private def q345OracleSql: String =
    s"""WITH rows_ AS (SELECT
          CAST(floor(l_extendedprice * 100) AS BIGINT) AS y,
          CAST(l_quantity AS BIGINT) AS x1,
          CAST(floor(l_discount * 100) AS BIGINT) AS x2
          FROM lineitem),
        m AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
          CAST(sum(x1 * x1) AS BIGINT) AS s11,
          CAST(sum(x1 * x2) AS BIGINT) AS s12,
          CAST(sum(x2 * x2) AS BIGINT) AS s22,
          CAST(sum(y) AS BIGINT) AS sy,
          CAST(sum(x1 * y) AS BIGINT) AS s1y,
          CAST(sum(x2 * y) AS BIGINT) AS s2y,
          CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
          FROM rows_)
        SELECT n, ${olsExprs.mkString(",\n          ")}
        FROM m"""

  // ------------------------------------------------------------ q349

  /** SAX word length (PAA segments) and alphabet size. */
  val SaxSegments = 6L
  val SaxAlphabet = 4L

  /** q349 — SAX SYMBOLIC DISCRETIZATION of the daily event-count
    * series (Lin/Keogh/Lonardi/Chiu 2003's Symbolic Aggregate
    * approXimation — the representation that turns a numeric series
    * into a WORD so that series similarity becomes string machinery:
    * hashing, indexing, the same LSH/fingerprint toolbox this suite
    * already runs on text (q30/q102/q113); a fleet of metrics SAX-coded
    * per day is how series anomaly search scales past pairwise DTW).
    * PAA: the ≤|days| census dense-ranked and cut into [[SaxSegments]]
    * contiguous segments (lengths differ by ≤1); each segment's exact
    * {len, sum} released, means NEVER floated — the segment order
    * statistic uses mean_key = sum·10¹² div len (widened), which
    * separates any two distinct rationals at these magnitudes (len ≤
    * |days|, so distinct means differ by ≥ 1/|days|² ≫ 10⁻¹²·counts).
    * Symbols: EMPIRICAL rank breakpoints — symbol k = chr(97 +
    * rank·[[SaxAlphabet]] div [[SaxSegments]]) with ties broken by
    * segment position (the adaptive-quantile SAX variant; classic SAX's
    * Gaussian breakpoints assume a z-normalized series and an
    * irrational breakpoint table — rank breakpoints keep the
    * differential exact and equidistribute symbols, the property the
    * downstream indexer wants). Spec pins a brute-force model and the
    * symbol-equidistribution bound.
    *
    * Scale shape: one day census (map-side combined) → every window
    * rides the ≤|days| frame (q198/q132 argument); at fleet scale the
    * same plan runs per (metric, window) key with the window as the
    * partition key. */
  def q349SaxWords(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("day")
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val dF = daily.agg(count(lit(1)).as("nd"))
    val segs = daily
      .withColumn("di", row_number().over(w).cast("bigint") - 1L)
      .crossJoin(broadcast(dF))
      .select(expr(s"di * $SaxSegments div nd").as("seg"), col("x"))
      .groupBy("seg")
      .agg(count(lit(1)).as("seg_len"), sum("x").as("seg_sum"))
      .withColumn("mean_key",
        expr("""CAST(CAST(seg_sum AS DECIMAL(38,0)) * 1000000000000
                div seg_len AS BIGINT)"""))
    segs
      .withColumn("rk", row_number()
        .over(Window.orderBy("mean_key", "seg")).cast("bigint") - 1L)
      .select(col("seg"), col("seg_len"), col("seg_sum"), col("mean_key"),
        expr(s"chr(97 + CAST(rk * $SaxAlphabet div $SaxSegments AS INT))")
          .as("symbol"))
  }

  private def q349OracleSql: String =
    s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM daily),
        idx AS (SELECT x, CAST(row_number() OVER (ORDER BY day) AS BIGINT)
            - 1 AS di FROM daily),
        segs AS (SELECT di * $SaxSegments // nd AS seg,
            CAST(count(*) AS BIGINT) AS seg_len,
            CAST(sum(x) AS BIGINT) AS seg_sum
          FROM idx CROSS JOIN nd GROUP BY 1),
        keyed AS (SELECT seg, seg_len, seg_sum,
            CAST(CAST(seg_sum AS HUGEINT) * 1000000000000
              // seg_len AS BIGINT) AS mean_key
          FROM segs),
        rk AS (SELECT *, CAST(row_number()
            OVER (ORDER BY mean_key, seg) AS BIGINT) - 1 AS rk
          FROM keyed)
        SELECT seg, seg_len, seg_sum, mean_key,
          chr(97 + CAST(rk * $SaxAlphabet // $SaxSegments AS INT))
            AS symbol
        FROM rk"""

  // ------------------------------------------------------------ q352

  /** BH level as an inverse: α = 1/[[BhAlphaInv]]. */
  val BhAlphaInv = 20L

  /** Standard-normal upper-tail P(Z > z) for z ≥ 0 via Zelen & Severo's
    * polynomial (Abramowitz & Stegun 26.2.17, |ε| < 7.5·10⁻⁸ — far
    * below the released ppb resolution): φ(z)·Σbᵢtⁱ with
    * t = 1/(1 + 0.2316419z), Horner form, ONE shared text so both
    * engines run the identical double op sequence. */
  private def normTailExpr(zc: String): String =
    s"""(exp(-($zc) * ($zc) / 2.0) * 0.3989422804014327
       * (((((1.330274429 * (1.0 / (1.0 + 0.2316419 * ($zc)))
            - 1.821255978) * (1.0 / (1.0 + 0.2316419 * ($zc)))
            + 1.781477937) * (1.0 / (1.0 + 0.2316419 * ($zc)))
            - 0.356563782) * (1.0 / (1.0 + 0.2316419 * ($zc)))
            + 0.319381530) * (1.0 / (1.0 + 0.2316419 * ($zc)))))"""

  /** q352 — BENJAMINI–HOCHBERG FDR over the per-source mean-length
    * tests (Benjamini & Hochberg 1995 — the multiple-comparisons
    * control every per-segment dashboard needs and none of the suite's
    * single tests (q266 Welch, q303 rank-sum, q190 ANOVA) provide: 20
    * sources scanned at α = 0.05 each yields a false alarm EVERY run;
    * BH caps the expected FALSE-DISCOVERY fraction instead of the
    * familywise error, which is why it replaced Bonferroni in practice).
    * Per source: Welch z of token-count mean vs the COMPLEMENT (rest
    * stats = global − source, so one census pass yields all m tests),
    * two-sided p via [[normTailExpr]] ×10⁹, BH staircase on exact
    * integers (reject rank k iff p·[[BhAlphaInv]]·m ≤ k·10⁹ for some
    * k' ≥ k — implemented as rank ≤ k* = max passing rank). Released
    * per source: {source, ns, z_micro, p_ppb, rk, bh_reject}; under
    * this generator's null (iid sources) rejections should be rare —
    * the spec pins the brute-force staircase, the p-z consistency, and
    * monotonicity of rejection in rank.
    *
    * Scale shape: one corpus census pass (map-side combined) → every
    * window rides the \|sources\|-row frame. */
  def q352BhFdr(s: SparkSession, dir: String): DataFrame = {
    val welch = Analytics.welchTExpr("ns", "ss", "qs",
      "(n - ns)", "(st - ss)", "(qt - qs)")
    val per = t(s, dir, "documents")
      .select(col("source"),
        size(split(col("text"), " ")).cast("bigint").as("v"))
      .groupBy("source")
      .agg(count(lit(1)).as("ns"), sum("v").as("ss"),
        sum(expr("v * v")).as("qs"))
    val g = per.agg(sum("ns").as("n"), sum("ss").as("st"),
      sum("qs").as("qt"), count(lit(1)).as("m"))
    val zed = per.crossJoin(broadcast(g))
      .select(col("source"), col("ns"), col("m"),
        expr(s"CAST(floor(($welch) * 1000000) AS BIGINT)").as("z_micro"),
        expr(s"""CAST(floor(2.0 * ${normTailExpr(s"abs($welch)")}
                 * 1000000000) AS BIGINT)""").as("p_ppb"))
    val ranked = zed
      .withColumn("rk", row_number()
        .over(Window.orderBy("p_ppb", "source")).cast("bigint"))
      .withColumn("pass",
        when(col("p_ppb") * BhAlphaInv * col("m") <=
          col("rk") * 1000000000L, col("rk")).otherwise(0L))
      .localCheckpoint(true)
    val ks = ranked.agg(max("pass").as("kstar"))
    ranked.crossJoin(broadcast(ks))
      .select(col("source"), col("ns"), col("z_micro"), col("p_ppb"),
        col("rk"),
        (col("rk") <= col("kstar")).cast("bigint").as("bh_reject"))
  }

  private def q352OracleSql: String = {
    val welch = Analytics.welchTExpr("ns", "ss", "qs",
      "(n - ns)", "(st - ss)", "(qt - qs)")
    s"""WITH v AS (SELECT source,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS v
          FROM documents),
        per AS (SELECT source, CAST(count(*) AS BIGINT) AS ns,
          CAST(sum(v) AS BIGINT) AS ss,
          CAST(sum(v * v) AS BIGINT) AS qs
          FROM v GROUP BY source),
        g AS (SELECT CAST(sum(ns) AS BIGINT) AS n,
          CAST(sum(ss) AS BIGINT) AS st,
          CAST(sum(qs) AS BIGINT) AS qt,
          CAST(count(*) AS BIGINT) AS m FROM per),
        zed AS (SELECT source, ns, m,
          CAST(floor(($welch) * 1000000) AS BIGINT) AS z_micro,
          CAST(floor(2.0 * ${normTailExpr(s"abs($welch)")}
            * 1000000000) AS BIGINT) AS p_ppb
          FROM per CROSS JOIN g),
        ranked AS (SELECT *, CAST(row_number()
            OVER (ORDER BY p_ppb, source) AS BIGINT) AS rk
          FROM zed),
        flagged AS (SELECT *,
          CASE WHEN p_ppb * $BhAlphaInv * m <= rk * 1000000000
            THEN rk ELSE 0 END AS pass FROM ranked),
        ks AS (SELECT max(pass) AS kstar FROM flagged)
        SELECT source, ns, z_micro, p_ppb, rk,
          CAST(rk <= kstar AS BIGINT) AS bh_reject
        FROM flagged CROSS JOIN ks"""
  }

  // ------------------------------------------------------------ q354

  /** q354's shared expression pieces over the exact integers
    * {ss, ns, st, n, qt, m, t2s, ds}: pooled within-variance
    * σ̂² = (qt − Σss²/ns)/(n−m) with the Σ term carried as the exact
    * integer sum of per-source FLOORED micro cells (t2s — the
    * q331/q348 floor-at-cell convention, so the cross-source sum is
    * order-free), and the between-mean spread D = Σ(x̄ₛ−x̄)² carried
    * the same way at ppb (ds). */
  private def jsSigma2: String =
    """((CAST(qt AS DOUBLE) - CAST(t2s AS DOUBLE) / 1000000.0)
       / (n - m))"""

  /** The Efron–Morris positive-part shrink factor
    * c = 1 − (m−3)·(σ̂²/n₀)/D with n₀ = n/m (exact under this
    * generator's equal group sizes; the spec asserts the equal-n
    * precondition). */
  private def jsShrink: String =
    s"""(1.0 - (m - 3.0) * ($jsSigma2 * m / CAST(n AS DOUBLE))
        / (CAST(ds AS DOUBLE) / 1000000000.0))"""

  /** q354 — JAMES–STEIN / EFRON–MORRIS SHRINKAGE of the per-source
    * mean document lengths (Efron & Morris 1975's batting-average
    * estimator — THE empirical-Bayes result: when estimating m ≥ 4
    * group means simultaneously, shrinking every observed mean toward
    * the grand mean strictly dominates the raw means in total squared
    * error, no matter what the true means are; the per-segment
    * dashboard's antidote to chasing noise in small segments, and the
    * estimation-side complement of q352's testing-side FDR control).
    * Per source: the exact mean (ppm, truncated-div) and the shrunk
    * mean x̄ + c₊·(x̄ₛ−x̄) with the positive-part factor from
    * [[jsShrink]]; every cross-source aggregate needed by the factor
    * (Σss²/ns, Σ(x̄ₛ−x̄)²) is summed as exact integers of per-source
    * floored cells so no double fold ever crosses a shuffle. Released:
    * {source, ns, mean_ppm, c_ppm, shrunk_ppm}; spec pins a brute-force
    * model, the equal-n precondition, shrinkage toward the grand mean
    * (|shrunk − x̄| ≤ |mean − x̄| per source), and c ∈ [0, 1] on this
    * null generator.
    *
    * Scale shape: one corpus census pass (map-side combined) → the
    * \|sources\|-row frame carries everything; two broadcast scalars. */
  def q354JamesStein(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "documents")
      .select(col("source"),
        size(split(col("text"), " ")).cast("bigint").as("v"))
      .groupBy("source")
      .agg(count(lit(1)).as("ns"), sum("v").as("ss"),
        sum(expr("v * v")).as("qs"))
    val g = per.agg(sum("ns").as("n"), sum("ss").as("st"),
      sum("qs").as("qt"), count(lit(1)).as("m"))
    val cells = per.crossJoin(broadcast(g))
      .select(col("source"), col("ns"), col("ss"), col("n"), col("st"),
        col("qt"), col("m"),
        expr("""CAST(CAST(ss AS DECIMAL(38,0)) * ss * 1000000
                div ns AS BIGINT)""").as("t2_micro"),
        expr("""CAST(floor((CAST(ss AS DOUBLE) / ns
                  - CAST(st AS DOUBLE) / n)
                * (CAST(ss AS DOUBLE) / ns - CAST(st AS DOUBLE) / n)
                * 1000000000) AS BIGINT)""").as("d_ppb"))
      .localCheckpoint(true)
    val sums = cells.agg(sum("t2_micro").as("t2s"), sum("d_ppb").as("ds"))
    cells.crossJoin(broadcast(sums))
      .select(col("source"), col("ns"),
        expr("ss * 1000000 div ns").as("mean_ppm"),
        expr(s"CAST(floor(greatest($jsShrink, 0.0) * 1000000) AS BIGINT)")
          .as("c_ppm"),
        expr(s"""CAST(floor((CAST(st AS DOUBLE) / n
                 + greatest($jsShrink, 0.0)
                   * (CAST(ss AS DOUBLE) / ns - CAST(st AS DOUBLE) / n))
               * 1000000) AS BIGINT)""").as("shrunk_ppm"))
  }

  private def q354OracleSql: String =
    s"""WITH v AS (SELECT source,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS v
          FROM documents),
        per AS (SELECT source, CAST(count(*) AS BIGINT) AS ns,
          CAST(sum(v) AS BIGINT) AS ss,
          CAST(sum(v * v) AS BIGINT) AS qs
          FROM v GROUP BY source),
        g AS (SELECT CAST(sum(ns) AS BIGINT) AS n,
          CAST(sum(ss) AS BIGINT) AS st,
          CAST(sum(qs) AS BIGINT) AS qt,
          CAST(count(*) AS BIGINT) AS m FROM per),
        cells AS (SELECT source, ns, ss, n, st, qt, m,
          CAST(CAST(ss AS HUGEINT) * ss * 1000000 // ns AS BIGINT)
            AS t2_micro,
          CAST(floor((CAST(ss AS DOUBLE) / ns - CAST(st AS DOUBLE) / n)
            * (CAST(ss AS DOUBLE) / ns - CAST(st AS DOUBLE) / n)
            * 1000000000) AS BIGINT) AS d_ppb
          FROM per CROSS JOIN g),
        sums AS (SELECT CAST(sum(t2_micro) AS BIGINT) AS t2s,
          CAST(sum(d_ppb) AS BIGINT) AS ds FROM cells)
        SELECT source, ns, ss * 1000000 // ns AS mean_ppm,
          CAST(floor(greatest($jsShrink, 0.0) * 1000000) AS BIGINT)
            AS c_ppm,
          CAST(floor((CAST(st AS DOUBLE) / n
              + greatest($jsShrink, 0.0)
                * (CAST(ss AS DOUBLE) / ns - CAST(st AS DOUBLE) / n))
            * 1000000) AS BIGINT) AS shrunk_ppm
        FROM cells CROSS JOIN sums"""

  // ------------------------------------------------------------ q355

  /** Circular-block-bootstrap resample count (odd, so the 2.5%/97.5%
    * order statistics are clean ranks) and block length. */
  val CbbB = 199L
  val CbbL = 7L

  /** q355 — CIRCULAR BLOCK BOOTSTRAP CI for the mean daily event count
    * (Politis & Romano 1992's circular variant of Künsch's block
    * bootstrap — the resampling that q240's iid bootstrap gets WRONG on
    * a time series: daily counts are autocorrelated (q304 measures it),
    * and iid resampling destroys that dependence, understating the
    * variance of the mean; resampling whole L-day blocks, wrapped
    * circularly so every day has equal inclusion probability, preserves
    * the within-block dependence structure). Deterministic replicates:
    * block j of resample b starts at LCG(b·64+j) mod D (q240's shared-
    * text LCG discipline — no RNG, bit-identical across engines), the
    * resample takes ⌈D/L⌉ blocks truncated to exactly D positions, and
    * each replicate mean is the exact truncated-div sum·10⁶/D. CI =
    * order statistics 5 and 195 of the [[CbbB]] sorted replicate means
    * (2.5%/97.5%). Released: {n_days, block_len, point_mean_ppm,
    * ci_lo_ppm, ci_hi_ppm}; the spec replays the construction exactly
    * and pins the CI-brackets-point identity.
    *
    * Scale shape: one day census (map-side combined) → the replicate
    * spine is B·⌈D/L⌉·L rows built by in-row generators from ONE scalar
    * frame, joined to the ≤\|days\| census by broadcast; everything
    * after the census is day-domain-bounded (q198/q132 argument). */
  def q355BlockBootstrap(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("day")
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .withColumn("di", row_number().over(w).cast("bigint") - 1L)
      .localCheckpoint(true)
    val g = daily.agg(count(lit(1)).as("dd"), sum("x").as("st"))
    val picks = g.select(col("dd"), explode(expr(
        s"""flatten(transform(sequence(0, ${CbbB - 1}), bb ->
              flatten(transform(
                sequence(0, CAST(ceil(dd / $CbbL.0) AS INT) - 1), j ->
                transform(sequence(0, ${CbbL - 1}), k ->
                  struct(CAST(bb AS BIGINT) AS b,
                    CAST(j * $CbbL + k AS BIGINT) AS pos,
                    (((CAST(bb AS BIGINT) * 64 + j) * 1103515245
                      + 12345) % 2147483647 + k) % dd AS di))))))"""))
        .as("p"))
      .select(col("dd"), col("p.b").as("b"), col("p.pos").as("pos"),
        col("p.di").as("di"))
      .filter(col("pos") < col("dd"))
    val rmeans = picks
      .join(broadcast(daily.select("di", "x")), "di")
      .groupBy("b")
      .agg(expr("""CAST(CAST(sum(x) AS DECIMAL(38,0)) * 1000000
              div count(*) AS BIGINT)""").as("rmean"))
    rmeans.agg(sort_array(collect_list("rmean")).as("ls"))
      .crossJoin(broadcast(g))
      .select(col("dd").as("n_days"), lit(CbbL).as("block_len"),
        expr("CAST(CAST(st AS DECIMAL(38,0)) * 1000000 div dd AS BIGINT)")
          .as("point_mean_ppm"),
        expr("element_at(ls, 5)").as("ci_lo_ppm"),
        expr(s"element_at(ls, ${CbbB - 4})").as("ci_hi_ppm"))
  }

  private def q355OracleSql: String =
    s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        idx AS (SELECT x, CAST(row_number() OVER (ORDER BY day)
            AS BIGINT) - 1 AS di FROM daily),
        g AS (SELECT CAST(count(*) AS BIGINT) AS dd,
          CAST(sum(x) AS BIGINT) AS st FROM idx),
        picks AS (SELECT dd, bb.b AS b, jj.j * $CbbL + kk.k AS pos,
            (((bb.b * 64 + jj.j) * 1103515245 + 12345)
              % 2147483647 + kk.k) % dd AS di
          FROM g,
            (SELECT unnest(range(0, $CbbB)) AS b) bb,
            (SELECT unnest(range(0, 64)) AS j) jj,
            (SELECT unnest(range(0, $CbbL)) AS k) kk
          WHERE jj.j < CAST(ceil(dd / $CbbL.0) AS BIGINT)
            AND jj.j * $CbbL + kk.k < dd),
        rm AS (SELECT b,
            CAST(CAST(sum(x) AS HUGEINT) * 1000000 // count(*)
              AS BIGINT) AS rmean
          FROM picks JOIN idx ON idx.di = picks.di GROUP BY b),
        ci AS (SELECT list_sort(list(rmean)) AS ls FROM rm)
        SELECT dd AS n_days, CAST($CbbL AS BIGINT) AS block_len,
          CAST(CAST(st AS HUGEINT) * 1000000 // dd AS BIGINT)
            AS point_mean_ppm,
          ls[5] AS ci_lo_ppm, ls[${CbbB - 4}] AS ci_hi_ppm
        FROM ci CROSS JOIN g"""

  // ------------------------------------------------------------ q357

  /** Permutation-test replicate count (odd, like [[CbbB]]). */
  val PermB = 199L

  /** q357's mean-difference ×10⁶ as one shared-text double over the
    * exact integers {s1b, n1b, st, n}; greatest() guards the
    * all-one-side relabeling (probability 2^(1−n), unreachable at any
    * tested SF — the q292 NaN-hazard convention, not a live branch). */
  private def permDiffExpr: String =
    s"""CAST(floor((CAST(s1b AS DOUBLE) / greatest(n1b, 1)
          - (CAST(st AS DOUBLE) - s1b) / greatest(n - n1b, 1))
        * 1000000) AS BIGINT)"""

  /** q357 — PERMUTATION TEST for the arm difference in per-user spend
    * (Fisher's exact-logic test: under H₀ the arm labels are
    * exchangeable, so the observed mean difference is compared against
    * its own relabeling distribution — no normality, no variance
    * formula, the assumption-free companion to q266's Welch t and
    * q303's rank-sum, and the testing twin of q355's resampling CI).
    * Deterministic replicates: user u's label in replicate b is the
    * parity of the q240/q355 shared-text LCG at (u·64 + b) — no RNG,
    * bit-identical across engines; the inference quality rests on the
    * LCG's equidistribution (documented), the MECHANICS are exact: each
    * replicate's statistic is the floored-ppm mean difference from
    * exact integer sums, and p = (1 + #{|Δ_b| ≥ |Δ_obs|})/(B+1) is the
    * standard add-one permutation p-value in exact integers. Released:
    * {n_users, diff_obs_ppm, n_extreme, p_milli}; the spec replays the
    * construction and pins p against the null expectation (the q174
    * split is a true null, so p should not be extreme).
    *
    * Scale shape: one user-keyed aggregate (map-side combined) → a B-way
    * in-row label explode re-aggregated to B rows — corpus touched
    * once, replicate frame = B rows, everything else broadcast. */
  def q357PermutationTest(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "events")
      .select(col("user_id"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .groupBy("user_id").agg(sum("vc").as("x"))
      .localCheckpoint(true)
    val g = per.agg(count(lit(1)).as("n"), sum("x").as("st"),
      sum(when(col("user_id") % 2 === 1, col("x")).otherwise(0L))
        .as("s1o"),
      sum(when(col("user_id") % 2 === 1, 1L).otherwise(0L)).as("n1o"))
    val obs = g.select(col("n"), col("st"),
      expr("""CAST(floor((CAST(s1o AS DOUBLE) / greatest(n1o, 1)
            - (CAST(st AS DOUBLE) - s1o) / greatest(n - n1o, 1))
          * 1000000) AS BIGINT)""").as("diff_obs_ppm"))
    val reps = per
      .select(col("x"), explode(expr(
        s"""transform(sequence(0, ${PermB - 1}), bb ->
            struct(CAST(bb AS BIGINT) AS b,
              ((CAST(user_id AS BIGINT) * 64 + bb) * 1103515245
                + 12345) % 2147483647 % 2 AS arm))""")).as("r"))
      .groupBy(col("r.b").as("b"))
      .agg(sum(when(col("r.arm") === 1L, col("x")).otherwise(0L))
          .as("s1b"),
        sum(when(col("r.arm") === 1L, 1L).otherwise(0L)).as("n1b"))
      .crossJoin(broadcast(obs))
      .select(col("b"), col("diff_obs_ppm"),
        expr(permDiffExpr).as("diff_b_ppm"))
    reps
      .agg(max("diff_obs_ppm").as("diff_obs_ppm"),
        sum(when(abs(col("diff_b_ppm")) >= abs(col("diff_obs_ppm")), 1L)
          .otherwise(0L)).as("n_extreme"))
      .crossJoin(broadcast(g.select(col("n").as("n_users"))))
      .select(col("n_users"), col("diff_obs_ppm"), col("n_extreme"),
        expr(s"(1 + n_extreme) * 1000 div ${PermB + 1}").as("p_milli"))
  }

  private def q357OracleSql: String =
    s"""WITH per AS (SELECT user_id,
          CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS x
          FROM events GROUP BY user_id),
        g AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS BIGINT) AS st,
          CAST(sum(CASE WHEN user_id % 2 = 1 THEN x ELSE 0 END)
            AS BIGINT) AS s1o,
          CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n1o
          FROM per),
        obs AS (SELECT n, st,
          CAST(floor((CAST(s1o AS DOUBLE) / greatest(n1o, 1)
              - (CAST(st AS DOUBLE) - s1o) / greatest(n - n1o, 1))
            * 1000000) AS BIGINT) AS diff_obs_ppm
          FROM g),
        lab AS (SELECT p.x, bb.b,
            ((p.user_id * 64 + bb.b) * 1103515245 + 12345)
              % 2147483647 % 2 AS arm
          FROM per p, (SELECT unnest(range(0, $PermB)) AS b) bb),
        reps AS (SELECT b,
            CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT)
              AS s1b,
            CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n1b
          FROM lab GROUP BY b),
        dd AS (SELECT b, diff_obs_ppm, $permDiffExpr AS diff_b_ppm
          FROM reps CROSS JOIN obs),
        ex AS (SELECT CAST(max(diff_obs_ppm) AS BIGINT) AS diff_obs_ppm,
          CAST(sum(CASE WHEN abs(diff_b_ppm) >= abs(diff_obs_ppm)
            THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
          FROM dd)
        SELECT g.n AS n_users, diff_obs_ppm, n_extreme,
          (1 + n_extreme) * 1000 // ${PermB + 1} AS p_milli
        FROM ex CROSS JOIN g"""

  // ------------------------------------------------------------ q358

  /** q358's Mantel–Haenszel odds-ratio component ×10⁹ (a·d/nₜ or
    * b·c/nₜ, widened truncated div). */
  private def mhTermExpr(num1: String, num2: String, bigT: String,
      divOp: String): String =
    s"""CAST(CAST($num1 AS $bigT) * ($num2) * 1000000000
          $divOp nt AS BIGINT)"""

  /** q358 — COCHRAN–MANTEL–HAENSZEL STRATIFIED TEST of the arm →
    * purchase association, stratified by value band (CMH 1959 — the
    * inferential RESOLUTION of q258's Simpson audit: q258 detects that
    * pooled and per-stratum rates can disagree; CMH is what you compute
    * NEXT — each stratum contributes its own hypergeometric deviation
    * a−E and variance V, summed so confounding by the stratifier can't
    * reverse the verdict, plus the MH common odds ratio Σaᵢdᵢ/nᵢ /
    * Σbᵢcᵢ/nᵢ as the pooled effect size). Per stratum the exact 2×2
    * margins {a_11, r1, c1, nt} and the hypergeometric E/V terms ×10⁹ —
    * the SAME integer kernel as q339's log-rank (E = c₁r₁/nₜ,
    * V = c₁(nₜ−c₁)r₁(nₜ−r₁)/(nₜ²(nₜ−1)); [[lrTermExprs]] reused with
    * renamed margins), plus the MH numerator/denominator components —
    * consumer: χ²_CMH = (|Σa−ΣE|−½)²/ΣV and OR_MH = Σnum/Σden, each a
    * sum over the band-domain frame. Spec pins a brute-force stratum
    * model and an unremarkable χ² under the null split.
    *
    * Scale shape: ONE corpus scan map-side combined into the
    * value-band census; everything after is domain-bounded in-row
    * arithmetic. */
  def q358CmhTest(s: SparkSession, dir: String): DataFrame = {
    val cells = t(s, dir, "events")
      .select(expr("CAST(floor(value / 10) AS BIGINT)").as("stratum"),
        (col("user_id") % 2).as("arm"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("pos"))
      .groupBy("stratum")
      .agg(sum(when(col("arm") === 1, col("pos")).otherwise(0L))
          .as("a_11"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("r1"),
        sum("pos").as("c1"), count(lit(1)).as("nt"))
    cells.select(Seq(col("stratum"), col("a_11"), col("r1"), col("c1"),
      col("nt")) ++
      lrTermExprs("div", "DECIMAL(38,0)", "c1", "r1", "nt").map(expr) ++
      Seq(
        expr(mhTermExpr("a_11", "nt - r1 - c1 + a_11",
          "DECIMAL(38,0)", "div")).as("or_num_ppb"),
        expr(mhTermExpr("r1 - a_11", "c1 - a_11",
          "DECIMAL(38,0)", "div")).as("or_den_ppb")): _*)
  }

  private def q358OracleSql: String =
    s"""WITH ev AS (SELECT CAST(floor(value / 10) AS BIGINT) AS stratum,
          user_id % 2 AS arm,
          CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
          FROM events),
        cells AS (SELECT stratum,
          CAST(sum(CASE WHEN arm = 1 THEN pos ELSE 0 END) AS BIGINT)
            AS a_11,
          CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS r1,
          CAST(sum(pos) AS BIGINT) AS c1,
          CAST(count(*) AS BIGINT) AS nt
          FROM ev GROUP BY stratum)
        SELECT stratum, a_11, r1, c1, nt,
          ${lrTermExprs("//", "HUGEINT", "c1", "r1", "nt")
            .mkString(",\n          ")},
          ${mhTermExpr("a_11", "nt - r1 - c1 + a_11", "HUGEINT", "//")}
            AS or_num_ppb,
          ${mhTermExpr("r1 - a_11", "c1 - a_11", "HUGEINT", "//")}
            AS or_den_ppb
        FROM cells"""

  // ------------------------------------------------------------ q359

  /** q359's AUC as a double sub-expression over {u2, npos, nneg}. */
  private def aucExpr: String =
    "(CAST(u2 AS DOUBLE) / (2.0 * npos * nneg))"

  /** DeLong standard error over the exact moments: S₁₀ = (Σp² −
    * n·AUC²)/(n−1) with Σp² carried as the exact integer s10sq/(2m)²,
    * symmetrically for S₀₁; SE = √(S₁₀/n + S₀₁/m). */
  private def delongSeExpr: String =
    s"""sqrt(
        ((CAST(s10sq AS DOUBLE)
            / (4.0 * CAST(nneg AS DOUBLE) * nneg)
          - npos * ($aucExpr * $aucExpr)) / (npos - 1.0)) / npos
      + ((CAST(s01sq AS DOUBLE)
            / (4.0 * CAST(npos AS DOUBLE) * npos)
          - nneg * ($aucExpr * $aucExpr)) / (nneg - 1.0)) / nneg)"""

  /** q359 — DELONG VARIANCE AND CI FOR THE AUC (DeLong, DeLong &
    * Clarke-Pearson 1988 — the number q187's exact point estimate
    * lacks: an AUC of 0.61 means nothing without its standard error,
    * and DeLong's placement-value variance is the nonparametric
    * standard every model-eval report quotes). Exactness: each
    * positive's placement value (fraction of negatives below, ties ½)
    * is the integer (2·cnb + cn) over the common denominator 2m — so
    * Σp (= q187's u2 kernel) and Σp² (= s10sq, the NEW second moment:
    * Σ cp·(2·cnb + cn)², widened — it reaches ~10²⁰ at sf1) are EXACT
    * integers off the same value census, symmetrically for negatives
    * (2·(npos − cpb − cp) + cp over 2n); only the final SE/CI is a
    * shared-text double over those integers. Released: {npos, nneg,
    * u2, auc_ppb, se_ppb, ci_lo_ppb, ci_hi_ppb} (±1.96·SE). Spec pins
    * a brute-force per-observation placement model and the CI
    * bracketing.
    *
    * Scale shape: q187's exactly — ONE corpus scan map-side combined
    * into the value census; two cumsums and the moment fold ride the
    * domain-bounded frame (q198/q132 argument). */
  def q359AucDelong(s: SparkSession, dir: String): DataFrame = {
    val census = t(s, dir, "events")
      .select(floor(col("value") * 100).as("sc"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("pos"))
      .groupBy("sc")
      .agg(sum("pos").as("cp"), (count(lit(1)) - sum("pos")).as("cn"))
    val w = Window.orderBy("sc")
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = census.agg(sum("cp").as("npos"), sum("cn").as("nneg"))
    census
      .withColumn("cnb", coalesce(sum("cn").over(w), lit(0L)))
      .withColumn("cpb", coalesce(sum("cp").over(w), lit(0L)))
      .crossJoin(broadcast(tot))
      .agg(max("npos").as("npos"), max("nneg").as("nneg"),
        sum(expr("cp * (2 * cnb + cn)")).as("u2"),
        sum(expr("""CAST(cp AS DECIMAL(38,0))
            * (2 * cnb + cn) * (2 * cnb + cn)""")).as("s10sq"),
        sum(expr("""CAST(cn AS DECIMAL(38,0))
            * (2 * (npos - cpb - cp) + cp)
            * (2 * (npos - cpb - cp) + cp)""")).as("s01sq"))
      .select(col("npos"), col("nneg"), col("u2"),
        expr(s"CAST(floor($aucExpr * 1000000000) AS BIGINT)")
          .as("auc_ppb"),
        expr(s"CAST(floor($delongSeExpr * 1000000000) AS BIGINT)")
          .as("se_ppb"),
        expr(s"""CAST(floor(($aucExpr - 1.96 * $delongSeExpr)
               * 1000000000) AS BIGINT)""").as("ci_lo_ppb"),
        expr(s"""CAST(floor(($aucExpr + 1.96 * $delongSeExpr)
               * 1000000000) AS BIGINT)""").as("ci_hi_ppb"))
  }

  private def q359OracleSql: String =
    s"""WITH v AS (SELECT CAST(floor(value * 100) AS BIGINT) sc,
          CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END pos
        FROM events),
        census AS (SELECT sc, CAST(sum(pos) AS BIGINT) cp,
            CAST(count(*) - sum(pos) AS BIGINT) cn
          FROM v GROUP BY sc),
        cum AS (SELECT sc, cp, cn,
            CAST(COALESCE(sum(cn) OVER (ORDER BY sc
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cnb,
            CAST(COALESCE(sum(cp) OVER (ORDER BY sc
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cpb
          FROM census),
        tot AS (SELECT CAST(sum(cp) AS BIGINT) npos,
          CAST(sum(cn) AS BIGINT) nneg FROM census),
        agg AS (SELECT max(npos) AS npos, max(nneg) AS nneg,
            CAST(sum(cp * (2 * cnb + cn)) AS BIGINT) AS u2,
            CAST(sum(CAST(cp AS HUGEINT)
              * (2 * cnb + cn) * (2 * cnb + cn)) AS HUGEINT) AS s10sq,
            CAST(sum(CAST(cn AS HUGEINT)
              * (2 * (npos - cpb - cp) + cp)
              * (2 * (npos - cpb - cp) + cp)) AS HUGEINT) AS s01sq
          FROM cum CROSS JOIN tot)
        SELECT npos, nneg, u2,
          CAST(floor($aucExpr * 1000000000) AS BIGINT) AS auc_ppb,
          CAST(floor($delongSeExpr * 1000000000) AS BIGINT) AS se_ppb,
          CAST(floor(($aucExpr - 1.96 * $delongSeExpr) * 1000000000)
            AS BIGINT) AS ci_lo_ppb,
          CAST(floor(($aucExpr + 1.96 * $delongSeExpr) * 1000000000)
            AS BIGINT) AS ci_hi_ppb
        FROM agg"""

  // ------------------------------------------------------------ q360

  /** q360 nation pair: two fixed nations with supplier presence at
    * every SF (the generator seeds suppliers sparsely at sf0.001;
    * nations 3 and 13 both carry one there). */
  val TradeNationA = "NATION_3"
  val TradeNationB = "NATION_13"

  /** q360 — NATION TRADE VOLUME, the TPC-H Q7 shape (revenue shipped
    * between two specific nations, BOTH directions kept separate, by
    * ship year — the bilateral-flow report; with Q3/Q5/Q8/Q10/Q14
    * (q328/q311/q305/q329/q312) this completes the classic star-join
    * portfolio's two-dimension-path member: supplier nation AND
    * customer nation constrain the SAME fact row through different
    * join paths). Revenue exact as cents·bp (q305 discipline).
    *
    * Scale shape: nation is broadcast at both ends; the nation filter
    * prunes supplier to a broadcast-sized build side BEFORE lineitem
    * touches it (at 100 TB supplier is fact-scale, but the two-nation
    * slice of it is not — the filter, not the table, sizes the build);
    * customer prunes the orders side the same way; lineitem⋈orders
    * shuffles on orderkey. One |2×years|-row aggregate. */
  def q360TradeVolume(s: SparkSession, dir: String): DataFrame = {
    val nat = t(s, dir, "nation")
      .filter(col("n_name").isin(TradeNationA, TradeNationB))
      .select(col("n_nationkey"), col("n_name"))
    val sup = t(s, dir, "supplier")
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = t(s, dir, "customer")
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ord = t(s, dir, "orders")
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("bigint").as("l_year"),
        (expr("CAST(floor(l_extendedprice * 100) AS BIGINT)") *
          (lit(10000L) - expr("CAST(floor(l_discount * 10000) AS BIGINT)")))
          .as("rev"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("rev").cast("decimal(38,0)")).as("r38"))
      .select(col("supp_nation"), col("cust_nation"), col("l_year"),
        col("n_lines"), col("r38").cast("bigint").as("revenue"))
  }

  private def q360OracleSql: String =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          CAST(year(l_shipdate) AS BIGINT) AS l_year,
          CAST(count(*) AS BIGINT) AS n_lines,
          CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
            * (10000 - CAST(floor(l_discount * 10000) AS BIGINT)))
            AS BIGINT) AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name IN ('$TradeNationA', '$TradeNationB')
          AND n2.n_name IN ('$TradeNationA', '$TradeNationB')
          AND n1.n_name <> n2.n_name
        GROUP BY 1, 2, 3"""

  // ------------------------------------------------------------ q361

  /** q361 brand slice (Brand#7 carries ~140 lineitems at sf0.001). */
  val SmallQtyBrand = "Brand#7"

  /** q361 — SMALL-QUANTITY-ORDER REVENUE, the TPC-H Q17 shape (revenue
    * locked in below-average-quantity lines of one brand's parts: for
    * each part, lines with quantity under 20% of that part's average —
    * the "would consolidating small orders matter?" estimate, and the
    * portfolio's CORRELATED-AGGREGATE member: the filter threshold is
    * itself an aggregate of the filtered table). The 20%-of-average
    * comparison is exact integer cross-multiplication on the unit
    * grid: qty < sum/(5·n) ⇔ 5·n·qty < sum (quantities are integral
    * units; sums/counts exact BIGINTs) — no division enters.
    *
    * Scale shape: the brand filter prunes part to a broadcast build
    * side; the per-part average needs lineitem grouped by partkey —
    * the SAME key the verdict join uses, so the exchange is reused
    * (one partkey shuffle total, brand-pruned before it). Output is a
    * single audit row {n_small, revenue_cents}. */
  def q361SmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val pk = t(s, dir, "part")
      .filter(col("p_brand") === SmallQtyBrand).select("p_partkey")
    val li = t(s, dir, "lineitem")
      .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"),
        expr("CAST(l_quantity AS BIGINT)").as("qty"),
        expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("price_c"))
    val perPart = li.groupBy("l_partkey")
      .agg(count(lit(1)).as("n_l"), sum("qty").as("s_q"))
    li.join(perPart, Seq("l_partkey"))
      .filter(lit(5L) * col("n_l") * col("qty") < col("s_q"))
      .agg(count(lit(1)).as("n_small"),
        sum("price_c").as("revenue_cents"))
  }

  private def q361OracleSql: String =
    s"""WITH li AS (SELECT l_partkey,
          CAST(l_quantity AS BIGINT) AS qty,
          CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_c
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = '$SmallQtyBrand'),
        pp AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_l,
          CAST(sum(qty) AS BIGINT) AS s_q FROM li GROUP BY 1)
        SELECT CAST(count(*) AS BIGINT) AS n_small,
          CAST(sum(price_c) AS BIGINT) AS revenue_cents
        FROM li JOIN pp USING (l_partkey)
        WHERE 5 * n_l * qty < s_q"""

  // ------------------------------------------------------------ q362

  /** q362 threshold: 320 units keeps the census selective at every SF
    * (sum-of-quantity per order peaks near 475; ~0.1–0.4% qualify). */
  val LargeOrderQty = 320L

  /** q362 — LARGE-VOLUME ORDERS, the TPC-H Q18 shape (orders whose
    * TOTAL line quantity exceeds a threshold, with their customer —
    * the bulk-buyer audit, and the portfolio's HAVING-over-join
    * member: the group filter runs on the fact aggregate BEFORE the
    * dimension joins). Quantities integral units, sums exact.
    *
    * Scale shape: lineitem groups by orderkey (one shuffle, map-side
    * combined); the HAVING prunes to the qualifying sliver BEFORE
    * orders/customer join it (orders joins on the SAME orderkey
    * partitioning; the customer lookup joins a threshold-sized frame).
    * Output is the qualifying census — output-bounded by the
    * threshold, not the corpus. */
  def q362LargeOrders(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("sum_qty"))
      .filter(col("sum_qty") > LargeOrderQty)
    t(s, dir, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("total_c"),
        col("sum_qty"))
  }

  private def q362OracleSql: String =
    s"""WITH big AS (SELECT l_orderkey,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem GROUP BY 1
        HAVING sum(CAST(l_quantity AS BIGINT)) > $LargeOrderQty)
        SELECT c_name, o_orderkey,
          strftime(o_orderdate, '%Y-%m-%d') AS o_date,
          CAST(floor(o_totalprice * 100) AS BIGINT) AS total_c, sum_qty
        FROM orders JOIN big ON o_orderkey = l_orderkey
        JOIN customer ON o_custkey = c_custkey"""

  // ------------------------------------------------------------ q363

  /** q363 — DISJUNCTIVE-PREDICATE REVENUE, the TPC-H Q19 shape (sum of
    * discounted revenue over an OR of three (brand, size-range,
    * quantity-range) conjunct groups — the optimizer-stressing member
    * of the portfolio: a disjunction ACROSS join-side columns can't
    * collapse to one pushable range, so the planner must push the
    * union of the part-side slices into the build and leave the mixed
    * residual above the join). Revenue exact as cents·bp.
    *
    * Scale shape: the part-side union filter (three brands) prunes the
    * build to broadcast size; quantity conjuncts stay fact-side and
    * push into the lineitem scan as one OR-range; the full disjunct
    * evaluates post-join on resident columns. One audit row out. */
  def q363DisjunctiveRevenue(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
      .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#3"))
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    t(s, dir, "lineitem")
      .select(col("l_partkey"),
        expr("CAST(l_quantity AS BIGINT)").as("qty"),
        (expr("CAST(floor(l_extendedprice * 100) AS BIGINT)") *
          (lit(10000L) - expr("CAST(floor(l_discount * 10000) AS BIGINT)")))
          .as("rev"))
      .filter(col("qty").between(1, 30))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
          col("qty").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(10, 30) &&
          col("qty").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
          col("qty").between(20, 30)))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("rev").cast("decimal(38,0)")).as("r38"))
      .select(col("n_lines"), col("r38").cast("bigint").as("revenue"))
  }

  private def q363OracleSql: String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_lines,
          CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
            * (10000 - CAST(floor(l_discount * 10000) AS BIGINT)))
            AS BIGINT) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
            AND CAST(l_quantity AS BIGINT) BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
            AND CAST(l_quantity AS BIGINT) BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
            AND CAST(l_quantity AS BIGINT) BETWEEN 20 AND 30)"""

  // ------------------------------------------------------------ q364

  /** q364 lapse cutoff: no orders on/after this date = lapsed (the
    * order span runs 1995-01-01..2001-08-01; the last 2.5 years). */
  val LapsedCutoff = "1999-01-01"

  /** q364 — LAPSED HIGH-BALANCE CUSTOMERS, the TPC-H Q22 shape adapted
    * to this schema (customers whose balance beats the positive-balance
    * average but who placed NO order since [[LapsedCutoff]], counted
    * per nation — the sales-opportunity report; the portfolio's
    * ANTI-JOIN + SCALAR-SUBQUERY member; adapted because this
    * generator gives every customer at least one lifetime order, so
    * the idle test is time-windowed rather than existential). The
    * above-average comparison is exact cross-multiplication on the
    * cents grid: bal·n_pos > s_pos (both sides BIGINT).
    *
    * Scale shape: the scalar {n_pos, s_pos} is one map-side-combined
    * aggregate broadcast to the filter; the anti-join shuffles
    * customer against date-pruned orders on custkey (the date filter
    * pushes into the orders scan); nation is broadcast. |nations|-row
    * output. */
  def q364LapsedCustomers(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"),
        expr("CAST(floor(c_acctbal * 100) AS BIGINT)").as("bal_c"))
    val avgPos = cust.filter(col("bal_c") > 0)
      .agg(count(lit(1)).as("n_pos"), sum("bal_c").as("s_pos"))
    val recent = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit(LapsedCutoff).cast("timestamp"))
      .select("o_custkey")
    cust.crossJoin(broadcast(avgPos))
      .filter(col("bal_c") * col("n_pos") > col("s_pos"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_cust"), sum("bal_c").as("bal_cents"))
  }

  private def q364OracleSql: String =
    s"""WITH cust AS (SELECT c_custkey, c_nationkey,
          CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_c FROM customer),
        ap AS (SELECT CAST(count(*) AS BIGINT) AS n_pos,
          CAST(sum(bal_c) AS BIGINT) AS s_pos FROM cust WHERE bal_c > 0)
        SELECT n_name, CAST(count(*) AS BIGINT) AS n_cust,
          CAST(sum(bal_c) AS BIGINT) AS bal_cents
        FROM cust CROSS JOIN ap
        JOIN nation ON c_nationkey = n_nationkey
        WHERE bal_c * n_pos > s_pos
          AND NOT EXISTS (SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '$LapsedCutoff 00:00:00')
        GROUP BY n_name"""

  // ------------------------------------------------------------ q383

  /** q383's moment pipeline as shared-text doubles over the exact
    * integer power sums {n, s1..s4} (each HUGEINT/decimal → double
    * cast is one correctly-rounded IEEE operation on the same integer,
    * so every downstream double is bit-identical cross-engine; no
    * `pow` — multiplication and sqrt only, per the q303 discipline). */
  private val jbMu = "(CAST(s1 AS DOUBLE) / n)"
  private val jbM2 = "(CAST(s2 AS DOUBLE) / n - mu * mu)"
  private val jbM3 = ("(CAST(s3 AS DOUBLE) / n - 3.0 * mu * " +
    "(CAST(s2 AS DOUBLE) / n) + 2.0 * mu * mu * mu)")
  private val jbM4 = ("(CAST(s4 AS DOUBLE) / n - 4.0 * mu * " +
    "(CAST(s3 AS DOUBLE) / n) + 6.0 * mu * mu * " +
    "(CAST(s2 AS DOUBLE) / n) - 3.0 * mu * mu * mu * mu)")
  private val jbG1 = "(m3 / (m2 * sqrt(m2)))"
  private val jbG2 = "(m4 / (m2 * m2) - 3.0)"
  private val jbStat =
    "(CAST(n AS DOUBLE) / 6.0 * (g1 * g1 + g2 * g2 / 4.0))"

  /** q383 — JARQUE–BERA NORMALITY TEST of the per-type event values
    * (Jarque & Bera 1980 — the moment-based normality screen every
    * parametric pipeline should run BEFORE trusting q266's t or
    * q345's OLS errors: JB = n/6·(skew² + excess-kurtosis²/4), χ²(2)
    * under the null, and the χ²(2) tail has the closed form
    * exp(−JB/2) — one libm call, no incomplete-gamma). The four power
    * sums are EXACT integers on the cents grid (s4 per-row tops
    * ~10¹⁹ at the payload tail, so every power is HUGEINT/decimal(38,
    * 0)-widened BEFORE multiplication — the q190 rule); skewness,
    * kurtosis, JB, and the p-value are floored shared-text doubles
    * over them ([[jbMu]]..[[jbStat]]). Heavy-tailed Exp(50) payloads
    * should fail decisively (spec pins skew > 0 and p ≈ 0) — the
    * point of the screen.
    *
    * Scale shape: ONE corpus scan map-side combined to |event types|
    * rows of sufficient statistics; everything after is in-row
    * arithmetic on that frame. */
  def q383JarqueBera(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
    ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("vc").cast("decimal(38,0)")).as("s1"),
        sum((col("vc").cast("decimal(38,0)") * col("vc"))).as("s2"),
        sum((col("vc").cast("decimal(38,0)") * col("vc") * col("vc")))
          .as("s3"),
        sum((col("vc").cast("decimal(38,0)") * col("vc") * col("vc")
          * col("vc"))).as("s4"))
      .withColumn("mu", expr(jbMu))
      .withColumn("m2", expr(jbM2))
      .withColumn("m3", expr(jbM3))
      .withColumn("m4", expr(jbM4))
      .withColumn("g1", expr(jbG1))
      .withColumn("g2", expr(jbG2))
      .withColumn("jb", expr(jbStat))
      .select(col("event_type"), col("n"),
        expr("CAST(floor(g1 * 1000000) AS BIGINT)").as("skew_ppm"),
        expr("CAST(floor(g2 * 1000000) AS BIGINT)").as("kurt_ppm"),
        expr("CAST(floor(jb * 1000) AS BIGINT)").as("jb_milli"),
        expr("CAST(floor(exp(-jb / 2.0) * 1000000) AS BIGINT)")
          .as("p_ppm"))
  }

  private def q383OracleSql: String =
    s"""WITH ev AS (SELECT event_type,
          CAST(floor(value * 100) AS BIGINT) AS vc FROM events),
        m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          sum(CAST(vc AS HUGEINT)) AS s1,
          sum(CAST(vc AS HUGEINT) * vc) AS s2,
          sum(CAST(vc AS HUGEINT) * vc * vc) AS s3,
          sum(CAST(vc AS HUGEINT) * vc * vc * vc) AS s4
        FROM ev GROUP BY 1),
        c1 AS (SELECT event_type, n, s2, s3, s4, $jbMu AS mu FROM m),
        c2 AS (SELECT event_type, n, s2, s3, s4, mu, $jbM2 AS m2
          FROM c1),
        c3 AS (SELECT event_type, n, s2, s3, s4, mu, m2, $jbM3 AS m3
          FROM c2),
        c4 AS (SELECT event_type, n, m2, m3, $jbM4 AS m4 FROM c3),
        c5 AS (SELECT event_type, n, $jbG1 AS g1, $jbG2 AS g2 FROM c4),
        c6 AS (SELECT event_type, n, g1, g2, $jbStat AS jb FROM c5)
        SELECT event_type, n,
          CAST(floor(g1 * 1000000) AS BIGINT) AS skew_ppm,
          CAST(floor(g2 * 1000000) AS BIGINT) AS kurt_ppm,
          CAST(floor(jb * 1000) AS BIGINT) AS jb_milli,
          CAST(floor(exp(-jb / 2.0) * 1000000) AS BIGINT) AS p_ppm
        FROM c6"""

  // ------------------------------------------------------------ q389

  /** q389 — THEIL–SEN ROBUST SLOPE of the daily event-count series (the
    * ESTIMATION complement of q309's Mann–Kendall: MK answers "is there
    * a monotone trend?", Theil–Sen answers "how steep?" with a 29%
    * breakdown point — the median of all pairwise slopes shrugs off the
    * outlier days that wreck the OLS slope q345 fits). Days get a dense
    * rank index (engine-identical: ordered by calendar day, no ties);
    * each ordered pair (i < j) contributes slope_micro =
    * floor((x_j − x_i)·10⁶ / (j − i)) — the numerator·10⁶ stays exact
    * in a double up to ~3·10⁶ events/day (sf100), one IEEE division,
    * one floor, bit-identical cross-engine. The released estimate is
    * the lower median by (slope_micro, d1, d2) order — deterministic
    * under slope ties.
    *
    * Scale shape: ONE corpus scan map-side combined to the |days|
    * census; the pair generation and median rank ride the
    * domain-bounded day frame (≤ days²/2 rows — 435 at a 30-day span,
    * constant in corpus size). */
  def q389TheilSen(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .withColumn("d", row_number().over(Window.orderBy("day")))
    val pairs = daily.select(col("d").as("d1"), col("x").as("x1"))
      .crossJoin(broadcast(daily.select(col("d").as("d2"),
        col("x").as("x2"))))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), expr(
        """CAST(floor(CAST((x2 - x1) * 1000000 AS DOUBLE)
           / CAST(d2 - d1 AS DOUBLE)) AS BIGINT)""").as("slope_micro"))
    val np = pairs.agg(count(lit(1)).as("n_pairs"))
    val nd = daily.agg(count(lit(1)).as("n_days"))
    pairs
      .withColumn("rk", row_number().over(
        Window.orderBy(col("slope_micro"), col("d1"), col("d2"))))
      .crossJoin(broadcast(np)).crossJoin(broadcast(nd))
      .filter(col("rk") === expr("(n_pairs + 1) div 2"))
      .select(col("n_days"), col("n_pairs"),
        col("slope_micro").as("sen_slope_micro"))
  }

  private def q389OracleSql: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        idx AS (SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT)
            AS d, x FROM daily),
        pairs AS (SELECT a.d AS d1, b.d AS d2,
            CAST(floor(CAST((b.x - a.x) * 1000000 AS DOUBLE)
              / CAST(b.d - a.d AS DOUBLE)) AS BIGINT) AS slope_micro
          FROM idx a JOIN idx b ON a.d < b.d),
        np AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pairs),
        nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM idx),
        ranked AS (SELECT slope_micro,
            CAST(row_number() OVER (ORDER BY slope_micro, d1, d2)
              AS BIGINT) AS rk
          FROM pairs)
        SELECT n_days, n_pairs, slope_micro AS sen_slope_micro
        FROM ranked CROSS JOIN np CROSS JOIN nd
        WHERE rk = (n_pairs + 1) // 2"""

  // ------------------------------------------------------------ q390

  /** q390 — DELETE-ONE-GROUP JACKKNIFE standard error of a RATIO
    * metric (mean order value = Σ order cents / Σ orders, clusters =
    * customer nations): ratio metrics violate the i.i.d.-rows
    * assumption every naive SE formula makes — the unit of randomness
    * is the cluster, not the row — and the delete-one-group jackknife
    * is the standard large-data answer (one pass for per-cluster sums,
    * then g leave-one-out ratios from broadcast totals; no resampling
    * passes over the corpus, unlike the bootstrap). Per nation i:
    * θ₍ᵢ₎_milli = (R − rᵢ)·1000 div (N − nᵢ) — EXACT widened integer
    * division (decimal(38,0) ÷ bigint vs HUGEINT //). The jackknife
    * variance (g−1)/g · Σ(θ₍ᵢ₎ − θ̄₍.₎)² is cleared of the float fold:
    * devᵢ = g·θ₍ᵢ₎ − Σθ₍ⱼ₎ is an exact integer, Σdevᵢ² is an exact
    * decimal(38,0) sum, and se_milli = floor(√((g−1)·Σdev² / g³))
    * is one int→double cast + one IEEE sqrt, shared text.
    *
    * Scale shape: orders⋈customer shuffles on custkey (map-side
    * combined to per-customer sums first is unnecessary — the groupBy
    * nation absorbs it); everything after rides the |nations|-row
    * frame with two broadcast scalars. */
  def q390JackknifeRatio(s: SparkSession, dir: String): DataFrame = {
    val perNation = t(s, dir, "orders")
      .select(col("o_custkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_i"),
        sum("cents").as("r_i"))
    val tot = perNation.agg(sum("n_i").as("n_tot"),
      sum("r_i").as("r_tot"), count(lit(1)).as("g"))
    val loo = perNation.crossJoin(broadcast(tot))
      .withColumn("theta_loo_milli", expr(
        """CAST(CAST((r_tot - r_i) AS DECIMAL(38,0)) * 1000
           DIV (n_tot - n_i) AS BIGINT)"""))
    val spread = loo.agg(
      sum("theta_loo_milli").as("t_sum"),
      max("g").as("gg"))
    loo.crossJoin(broadcast(spread))
      .withColumn("dev", col("gg") * col("theta_loo_milli") -
        col("t_sum"))
      .withColumn("sd2", sum(col("dev").cast("decimal(38,0)") *
        col("dev")).over(Window.partitionBy()))
      .select(col("nationkey"), col("n_i").as("orders_n"),
        col("r_i").as("revenue_cents"), col("theta_loo_milli"),
        expr("""CAST(floor(sqrt(CAST((gg - 1) * sd2 AS DOUBLE)
          / CAST(gg * gg * gg AS DOUBLE))) AS BIGINT)""")
          .as("jk_se_milli"))
  }

  private def q390OracleSql: String =
    """WITH per_nation AS (SELECT c_nationkey AS nationkey,
          CAST(count(*) AS BIGINT) AS n_i,
          CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
            AS BIGINT) AS r_i
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1),
        tot AS (SELECT CAST(sum(n_i) AS BIGINT) AS n_tot,
          CAST(sum(r_i) AS BIGINT) AS r_tot,
          CAST(count(*) AS BIGINT) AS g FROM per_nation),
        loo AS (SELECT nationkey, n_i, r_i, g,
            CAST(CAST((r_tot - r_i) AS HUGEINT) * 1000
              // (n_tot - n_i) AS BIGINT) AS theta_loo_milli
          FROM per_nation CROSS JOIN tot),
        spread AS (SELECT CAST(sum(theta_loo_milli) AS BIGINT) AS t_sum,
          max(g) AS gg FROM loo),
        dev AS (SELECT nationkey, n_i, r_i, theta_loo_milli,
            gg * theta_loo_milli - t_sum AS dv, gg
          FROM loo CROSS JOIN spread),
        var_ AS (SELECT sum(CAST(dv AS HUGEINT) * dv) AS sd2,
          max(gg) AS gv FROM dev)
        SELECT nationkey, n_i AS orders_n, r_i AS revenue_cents,
          theta_loo_milli,
          CAST(floor(sqrt(CAST((gv - 1) * sd2 AS DOUBLE)
            / CAST(gv * gv * gv AS DOUBLE))) AS BIGINT) AS jk_se_milli
        FROM dev CROSS JOIN var_"""

  // ------------------------------------------------------------ q391

  /** q391's distribution-free separation certificate: with δ = 0.05
    * split evenly across the two arms, Hoeffding gives
    * P(|p̂ − p| ≥ √(ln(4/δ)/2n)) ≤ δ/2 per arm, so
    * |p̂ₐ − p̂ᵦ| > √(ln(80)/2nₐ) + √(ln(80)/2nᵦ) certifies a real
    * difference at confidence 1−δ — valid at EVERY peek, no
    * parametric model (the assumption-free cousin of q386's SPRT).
    * ln(80.0) is baked as a shortest-round-trip double literal (the
    * q403 Benford convention): JVM Math.log and DuckDB's C libm may
    * disagree in the last ulp, and the floored ×10⁶ release of the
    * bound would ship that disagreement as a differential flake. */
  private val hoeffC = "4.382026634673881"

  /** q391 — HOEFFDING SEQUENTIAL GATE on the A/B purchase-rate
    * difference (arms = q174's user_id parity split): per day, the
    * cumulative exact counts {nₐ, kₐ, nᵦ, kᵦ}, the observed
    * |p̂ₐ − p̂ᵦ|, and the anytime-valid Hoeffding bound
    * [[hoeffC]]-based — `separated` is the day the distribution-free
    * certificate fires. Where q386's SPRT needs the Bernoulli model
    * and two point hypotheses, this gate needs only boundedness —
    * the first screen a metrics platform can run on ANY [0,1] metric.
    * All rates/bounds are single shared-text double expressions over
    * exact cumulative integers; released ×10⁶ floored.
    *
    * Scale shape: ONE corpus scan map-side combined to the |days|×2
    * census; cumsums and the certificate CASE ride the domain-bounded
    * day frame. */
  def q391HoeffdingGate(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .select(col("ts").cast("date").as("day"),
        (col("user_id") % 2 === 1).as("arm"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("pos"))
      .groupBy("day")
      .agg(sum(when(col("arm"), 1L).otherwise(0L)).as("dna"),
        sum(when(col("arm"), col("pos")).otherwise(0L)).as("dka"),
        sum(when(col("arm"), 0L).otherwise(1L)).as("dnb"),
        sum(when(col("arm"), 0L).otherwise(col("pos"))).as("dkb"))
      .withColumn("na", sum("dna").over(w))
      .withColumn("ka", sum("dka").over(w))
      .withColumn("nb", sum("dnb").over(w))
      .withColumn("kb", sum("dkb").over(w))
      .withColumn("diff", expr(
        """abs(CAST(ka AS DOUBLE) / CAST(na AS DOUBLE)
           - CAST(kb AS DOUBLE) / CAST(nb AS DOUBLE))"""))
      .withColumn("bound", expr(
        s"""sqrt($hoeffC / (2.0 * CAST(na AS DOUBLE)))
           + sqrt($hoeffC / (2.0 * CAST(nb AS DOUBLE)))"""))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("na"), col("ka"), col("nb"), col("kb"),
        expr("CAST(floor(diff * 1000000) AS BIGINT)").as("diff_micro"),
        expr("CAST(floor(bound * 1000000) AS BIGINT)").as("bound_micro"),
        expr("""CASE WHEN na > 0 AND nb > 0 AND diff > bound
          THEN TRUE ELSE FALSE END""").as("separated"))
  }

  private def q391OracleSql: String =
    s"""WITH census AS (SELECT CAST(ts AS DATE) AS day,
          CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS dna,
          CAST(sum(CASE WHEN user_id % 2 = 1
              AND event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS dka,
          CAST(sum(CASE WHEN user_id % 2 = 1 THEN 0 ELSE 1 END)
            AS BIGINT) AS dnb,
          CAST(sum(CASE WHEN user_id % 2 = 1 OR event_type <> 'purchase'
              THEN 0 ELSE 1 END) AS BIGINT) AS dkb
        FROM events GROUP BY 1),
        cum AS (SELECT day,
          CAST(sum(dna) OVER (ORDER BY day) AS BIGINT) AS na,
          CAST(sum(dka) OVER (ORDER BY day) AS BIGINT) AS ka,
          CAST(sum(dnb) OVER (ORDER BY day) AS BIGINT) AS nb,
          CAST(sum(dkb) OVER (ORDER BY day) AS BIGINT) AS kb
        FROM census),
        scored AS (SELECT day, na, ka, nb, kb,
          abs(CAST(ka AS DOUBLE) / CAST(na AS DOUBLE)
            - CAST(kb AS DOUBLE) / CAST(nb AS DOUBLE)) AS diff,
          sqrt($hoeffC / (2.0 * CAST(na AS DOUBLE)))
            + sqrt($hoeffC / (2.0 * CAST(nb AS DOUBLE))) AS bound
        FROM cum)
        SELECT strftime(day, '%Y-%m-%d') AS day, na, ka, nb, kb,
          CAST(floor(diff * 1000000) AS BIGINT) AS diff_micro,
          CAST(floor(bound * 1000000) AS BIGINT) AS bound_micro,
          CASE WHEN na > 0 AND nb > 0 AND diff > bound
            THEN TRUE ELSE FALSE END AS separated
        FROM scored"""

  // ------------------------------------------------------------ q392

  /** q392's Wald ratio with engine-parameterized exact division — the
    * q342 didExpr pattern (Spark DIV / DECIMAL(38,0) vs DuckDB // /
    * HUGEINT; both truncate toward zero on a negative numerator,
    * tested there). Numerator/denominator are the cross-multiplied
    * ITT contrasts, so no per-arm mean ever floats. */
  private def waldExpr(divOp: String, bigT: String): String =
    s"""CASE WHEN (CAST(d1 AS $bigT) * n0 - CAST(d0 AS $bigT) * n1) = 0
        THEN NULL
        ELSE CAST((CAST(s1 AS $bigT) * n0 - CAST(s0 AS $bigT) * n1)
          * 1000
          $divOp (CAST(d1 AS $bigT) * n0 - CAST(d0 AS $bigT) * n1)
          AS BIGINT) END"""

  /** q392 — INSTRUMENTAL-VARIABLE (WALD) ESTIMATE of the effect of
    * engagement on spend, instrumented by the q174 arm assignment
    * (encouragement design — the causal-inference family's missing
    * leg next to q342's DiD and q259's CUPED: when uptake d is
    * SELF-SELECTED, regressing y on d is confounded; a random
    * instrument z that shifts uptake but touches y only THROUGH d
    * identifies the local average treatment effect as the ratio of
    * the two intention-to-treat contrasts, Wald 1940). Per user:
    * z = user_id parity, d = clicked at least once, y = exact
    * purchase cents; per arm the exact {n, Σd, Σy}; released as ONE
    * row with both ITT contrasts ×10⁶ (cross-multiplied exact
    * integers over the n1·n0 denominator) and late_cents_milli
    * through [[waldExpr]] — NULL when the first stage is exactly
    * flat (declared on both engines; under this generator's null
    * the first stage is weak by design, which the spec pins instead
    * of pretending otherwise).
    *
    * Scale shape: one user-keyed aggregate (map-side combined) →
    * one 2-row arm aggregate → one scalar row, the q342 plan. */
  def q392WaldIv(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "events")
      .select((col("user_id") % 2).as("arm"), col("user_id"),
        when(col("event_type") === "click", 1L).otherwise(0L)
          .as("clk"),
        when(col("event_type") === "purchase",
          expr("CAST(floor(value * 100) AS BIGINT)")).otherwise(0L)
          .as("vc"))
      .groupBy("user_id", "arm")
      .agg((max("clk") > 0).cast("long").as("d"), sum("vc").as("y"))
    per.groupBy("arm")
      .agg(count(lit(1)).as("n"), sum("d").as("sd"), sum("y").as("sy"))
      .agg(
        max(when(col("arm") === 0, col("n"))).as("n0"),
        max(when(col("arm") === 1, col("n"))).as("n1"),
        max(when(col("arm") === 0, col("sd"))).as("d0"),
        max(when(col("arm") === 1, col("sd"))).as("d1"),
        max(when(col("arm") === 0, col("sy"))).as("s0"),
        max(when(col("arm") === 1, col("sy"))).as("s1"))
      .select(col("n0"), col("n1"), col("d0"), col("d1"),
        col("s0"), col("s1"),
        expr("""CAST((CAST(d1 AS DECIMAL(38,0)) * n0 - CAST(d0 AS
          DECIMAL(38,0)) * n1) * 1000000 DIV (CAST(n1 AS DECIMAL(38,0))
          * n0) AS BIGINT)""").as("itt_d_ppm"),
        expr("""CAST((CAST(s1 AS DECIMAL(38,0)) * n0 - CAST(s0 AS
          DECIMAL(38,0)) * n1) * 1000000 DIV (CAST(n1 AS DECIMAL(38,0))
          * n0) AS BIGINT)""").as("itt_y_ppm"),
        expr(waldExpr("DIV", "DECIMAL(38,0)")).as("late_cents_milli"))
  }

  private def q392OracleSql: String =
    s"""WITH per AS (SELECT user_id, user_id % 2 AS arm,
          CAST(CASE WHEN max(CASE WHEN event_type = 'click' THEN 1
            ELSE 0 END) > 0 THEN 1 ELSE 0 END AS BIGINT) AS d,
          CAST(sum(CASE WHEN event_type = 'purchase'
            THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)
            AS BIGINT) AS y
        FROM events GROUP BY 1, 2),
        arms AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(d) AS BIGINT) AS sd, CAST(sum(y) AS BIGINT) AS sy
        FROM per GROUP BY 1),
        cells AS (SELECT
          max(CASE WHEN arm = 0 THEN n END) AS n0,
          max(CASE WHEN arm = 1 THEN n END) AS n1,
          max(CASE WHEN arm = 0 THEN sd END) AS d0,
          max(CASE WHEN arm = 1 THEN sd END) AS d1,
          max(CASE WHEN arm = 0 THEN sy END) AS s0,
          max(CASE WHEN arm = 1 THEN sy END) AS s1
        FROM arms)
        SELECT n0, n1, d0, d1, s0, s1,
          CAST((CAST(d1 AS HUGEINT) * n0 - CAST(d0 AS HUGEINT) * n1)
            * 1000000 // (CAST(n1 AS HUGEINT) * n0) AS BIGINT)
            AS itt_d_ppm,
          CAST((CAST(s1 AS HUGEINT) * n0 - CAST(s0 AS HUGEINT) * n1)
            * 1000000 // (CAST(n1 AS HUGEINT) * n0) AS BIGINT)
            AS itt_y_ppm,
          ${waldExpr("//", "HUGEINT")} AS late_cents_milli
        FROM cells"""

  // ------------------------------------------------------------ q393

  /** q393 — UPLIFT BY EXPOSURE QUINTILE (the Qini-style readout the
    * targeting team builds before any uplift MODEL: rank users by an
    * observable score — here view volume — bucket into quintiles, and
    * measure the treatment−control conversion difference inside each;
    * if uplift concentrates in the top buckets, targeted rollout beats
    * blanket rollout — the heterogeneous-treatment-effect question
    * q174's single average hides). Users keyed by exact view counts;
    * quintile = ntile(5) over (views DESC, user_id) — deterministic,
    * identical remainder semantics on both engines; per quintile the
    * exact {n_t, k_t, n_c, k_c} and uplift_ppm as the
    * cross-multiplied integer contrast (q342's tested DIV/`//`
    * truncation agreement; NULL-guarded empty cell).
    *
    * Scale shape: one user-keyed aggregate (map-side combined); the
    * ntile is ONE total-order pass over the user frame (corpus-scale
    * sort — the one unavoidable shuffle of any exact ranking; an
    * approximate-percentile bucketing would trade that away at 100×,
    * as q66 demonstrates) → a 5-row aggregate. */
  def q393UpliftQuintiles(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "events")
      .select(col("user_id"), (col("user_id") % 2 === 1).as("treat"),
        when(col("event_type") === "view", 1L).otherwise(0L).as("v"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("p"))
      .groupBy("user_id", "treat")
      .agg(sum("v").as("views"), (max("p") > 0).cast("long").as("conv"))
      .withColumn("quintile", ntile(5).over(
        Window.orderBy(col("views").desc, col("user_id"))))
    per.groupBy("quintile")
      .agg(
        sum(when(col("treat"), 1L).otherwise(0L)).as("n_t"),
        sum(when(col("treat"), col("conv")).otherwise(0L)).as("k_t"),
        sum(when(col("treat"), 0L).otherwise(1L)).as("n_c"),
        sum(when(col("treat"), 0L).otherwise(col("conv"))).as("k_c"))
      .select(col("quintile").cast("bigint").as("quintile"),
        col("n_t"), col("k_t"), col("n_c"), col("k_c"),
        expr("""CASE WHEN n_t = 0 OR n_c = 0 THEN NULL
          ELSE CAST((CAST(k_t AS DECIMAL(38,0)) * n_c
            - CAST(k_c AS DECIMAL(38,0)) * n_t) * 1000000
            DIV (CAST(n_t AS DECIMAL(38,0)) * n_c) AS BIGINT) END""")
          .as("uplift_ppm"))
  }

  private def q393OracleSql: String =
    """WITH per AS (SELECT user_id, user_id % 2 = 1 AS treat,
          CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
            AS BIGINT) AS views,
          CAST(CASE WHEN max(CASE WHEN event_type = 'purchase' THEN 1
            ELSE 0 END) > 0 THEN 1 ELSE 0 END AS BIGINT) AS conv
        FROM events GROUP BY 1, 2),
        bucketed AS (SELECT treat, conv,
            ntile(5) OVER (ORDER BY views DESC, user_id) AS quintile
          FROM per),
        cells AS (SELECT quintile,
          CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
          CAST(sum(CASE WHEN treat THEN conv ELSE 0 END) AS BIGINT)
            AS k_t,
          CAST(sum(CASE WHEN treat THEN 0 ELSE 1 END) AS BIGINT) AS n_c,
          CAST(sum(CASE WHEN treat THEN 0 ELSE conv END) AS BIGINT)
            AS k_c
        FROM bucketed GROUP BY 1)
        SELECT CAST(quintile AS BIGINT) AS quintile, n_t, k_t, n_c, k_c,
          CASE WHEN n_t = 0 OR n_c = 0 THEN NULL
            ELSE CAST((CAST(k_t AS HUGEINT) * n_c
              - CAST(k_c AS HUGEINT) * n_t) * 1000000
              // (CAST(n_t AS HUGEINT) * n_c) AS BIGINT) END
            AS uplift_ppm
        FROM cells"""

  // ------------------------------------------------------------ q394

  /** q394 — GAMMA-POISSON EMPIRICAL-BAYES SHRINKAGE of per-user
    * purchase rates (the COUNT-side member of the q354 shrinkage
    * family: James–Stein shrinks Gaussian means, this shrinks Poisson
    * rates toward a Gamma prior FITTED FROM THE CORPUS — the standard
    * answer to "this user bought 3 things in 30 days, is their rate
    * really 3×, or is that noise?"; posterior mean (α+k)/(β+1) with
    * method-of-moments α = m²/(v−m), β = m/(v−m)). Cleared to ONE
    * widened exact integer division per user by multiplying through
    * with g²(g−1): num = Sk²·(g−1) + k·g·(g·Sk2 − Sk² − Sk·(g−1)),
    * den = g·(g·Sk2 − Sk²), eb_rate_micro = num·10⁶ div den — every
    * operand an exact integer off one census. When the corpus is
    * UNDERDISPERSED (v ≤ m, the prior fit degenerates: den ≤
    * Sk·g(g−1)) the declared output falls back to the raw rate, the
    * CASE shared by both engines.
    *
    * Scale shape: one user-keyed aggregate (map-side combined) → one
    * 3-scalar broadcast → the per-user projection; output linear in
    * users, no second corpus pass. */
  def q394GammaPoissonEb(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "events")
      .select(col("user_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("p"))
      .groupBy("user_id")
      .agg(sum("p").as("k"))
    val moments = per.agg(count(lit(1)).as("g"),
      sum("k").as("sk"),
      sum(col("k").cast("decimal(38,0)") * col("k")).as("sk2"))
    per.crossJoin(broadcast(moments))
      .withColumn("overd", expr(
        """CAST(g AS DECIMAL(38,0)) * sk2 - CAST(sk AS DECIMAL(38,0))
           * sk - CAST(sk AS DECIMAL(38,0)) * (g - 1)"""))
      .select(col("user_id"), col("k"),
        expr("""CASE WHEN overd <= 0
          THEN CAST(k * 1000000 AS BIGINT)
          ELSE CAST((CAST(sk AS DECIMAL(38,0)) * sk * (g - 1)
            + CAST(k AS DECIMAL(38,0)) * g * overd) * 1000000
            DIV (CAST(g AS DECIMAL(38,0))
              * (CAST(g AS DECIMAL(38,0)) * sk2
                 - CAST(sk AS DECIMAL(38,0)) * sk)) AS BIGINT) END""")
          .as("eb_rate_micro"))
  }

  private def q394OracleSql: String =
    """WITH per AS (SELECT user_id,
          CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS k
        FROM events GROUP BY 1),
        moments AS (SELECT CAST(count(*) AS BIGINT) AS g,
          CAST(sum(k) AS BIGINT) AS sk,
          sum(CAST(k AS HUGEINT) * k) AS sk2 FROM per),
        scored AS (SELECT user_id, k, g, sk, sk2,
            CAST(g AS HUGEINT) * sk2 - CAST(sk AS HUGEINT) * sk
              - CAST(sk AS HUGEINT) * (g - 1) AS overd
          FROM per CROSS JOIN moments)
        SELECT user_id, k,
          CASE WHEN overd <= 0 THEN CAST(k * 1000000 AS BIGINT)
            ELSE CAST((CAST(sk AS HUGEINT) * sk * (g - 1)
              + CAST(k AS HUGEINT) * g * overd) * 1000000
              // (CAST(g AS HUGEINT)
                * (CAST(g AS HUGEINT) * sk2
                   - CAST(sk AS HUGEINT) * sk)) AS BIGINT) END
            AS eb_rate_micro
        FROM scored"""

  // ------------------------------------------------------------ q403

  /** q403's Benford expectations p_d = log10(1 + 1/d), baked as
    * ROUND-TRIP DOUBLE LITERALS rather than engine-side log10 calls:
    * JVM Math.log10 and DuckDB's C libm disagree in the last ulp for
    * some arguments, and the χ²'s (obs − np)²/np amplifies an ulp in
    * p into the released milli digits on a strongly non-Benford
    * census. A shortest-round-trip literal parses to the same IEEE
    * double on both engines — no libm anywhere in q403. */
  private val benfordPs: IndexedSeq[Double] =
    (1 to 9).map(d => math.log10(1.0 + 1.0 / d))

  /** p_digit as a generated CASE over the [[benfordPs]] literals. */
  private val benfordP: String =
    (1 to 9).map(d => s"WHEN $d THEN ${benfordPs(d - 1)}")
      .mkString("(CASE digit ", " ", " END)")

  /** q403's χ² as ONE generated 9-term expression over the pivoted
    * exact counts obs1..obs9 — a per-row double sum across the digit
    * frame would associate in engine-dependent order; the literal
    * left-to-right chain is the q31 generated-sum discipline. */
  private def benfordChi2: String =
    (1 to 9).map { d =>
      val p = benfordPs(d - 1).toString
      s"((CAST(obs$d AS DOUBLE) - CAST(nn AS DOUBLE) * $p) " +
        s"* (CAST(obs$d AS DOUBLE) - CAST(nn AS DOUBLE) * $p) " +
        s"/ (CAST(nn AS DOUBLE) * $p))"
    }.mkString("(", " + ", ")")

  /** q403 — BENFORD FIRST-DIGIT AUDIT of order totals (the
    * forensic-accounting screen and the data-quality smoke test a
    * platform runs on any money column: naturally-grown multiplicative
    * amounts follow P(d) = log₁₀(1+1/d); FABRICATED or
    * generator-uniform amounts don't — so on THIS corpus the test must
    * REJECT, which the spec pins as the honest readout rather than
    * pretending the fixture is Benford). Census: exact counts of the
    * first significant digit of the cent amount; expectations are the
    * [[benfordPs]] round-trip literals (NO engine-side log10 — see
    * there), the χ² one generated fixed-order 9-term expression over
    * the pivoted exact counts; released per digit with the 8-dof
    * χ²·10³ replicated (q390's broadcast-scalar convention).
    *
    * Scale shape: ONE corpus scan map-side combined to the 9-row
    * digit census; everything after rides the digit frame. */
  def q403Benford(s: SparkSession, dir: String): DataFrame = {
    val census = t(s, dir, "orders")
      .select(expr(
        """CAST(substring(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
           AS STRING), 1, 1) AS BIGINT)""").as("digit"))
      .groupBy("digit")
      .agg(count(lit(1)).as("obs"))
    val pivotCols = (1 to 9).map(d =>
      coalesce(max(when(col("digit") === d, col("obs"))), lit(0L))
        .as(s"obs$d"))
    val chi = census
      .agg(sum("obs").as("nn"), pivotCols: _*)
      .select(expr(s"CAST(floor($benfordChi2 * 1000) AS BIGINT)")
        .as("chi2_milli"))
    val tot = census.agg(sum("obs").as("n"))
    census.crossJoin(broadcast(tot)).crossJoin(broadcast(chi))
      .select(col("digit"), col("obs"),
        expr(s"CAST(floor(CAST(n AS DOUBLE) * $benfordP * 1000000) " +
          "AS BIGINT)").as("exp_micro"),
        col("chi2_milli"))
  }

  private def q403OracleSql: String = {
    val pivotCols = (1 to 9).map(d =>
      s"coalesce(max(CASE WHEN digit = $d THEN obs END), 0) AS obs$d")
      .mkString(", ")
    s"""WITH census AS (SELECT
          CAST(substring(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
            AS VARCHAR), 1, 1) AS BIGINT) AS digit,
          CAST(count(*) AS BIGINT) AS obs
        FROM orders GROUP BY 1),
        piv AS (SELECT CAST(sum(obs) AS BIGINT) AS nn, $pivotCols
          FROM census),
        chi AS (SELECT CAST(floor($benfordChi2 * 1000) AS BIGINT)
            AS chi2_milli FROM piv),
        tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM census)
        SELECT digit, obs,
          CAST(floor(CAST(n AS DOUBLE) * $benfordP * 1000000)
            AS BIGINT) AS exp_micro,
          chi2_milli
        FROM census CROSS JOIN tot CROSS JOIN chi"""
  }

  // ------------------------------------------------------------ q405

  /** q405 — FRIEDMAN TEST across event types blocked by day (the
    * repeated-measures member of the rank-test family: q303's
    * Mann–Whitney compares two independent samples, q322's
    * Kruskal–Wallis k independent samples — Friedman ranks WITHIN each
    * block, so day-level volume shifts cancel and only the relative
    * ordering of event types across days counts: "is the type mix
    * stable day over day?"). Within each day the k = |event types|
    * daily counts get integer DOUBLED midranks (2·midrank = 2·minrank
    * + ties − 1, the q303 trick — rank() and the tie count are both
    * window integers); R2ⱼ = Σ over days is exact; released per type
    * {event_type, r2_sum} plus the replicated q_milli from the
    * classic Q = 12/(n·k(k+1))·ΣR̄ⱼ² − 3n(k+1) as ONE shared-text
    * double expression over the exact integer rank sums.
    *
    * Scale shape: ONE corpus scan map-side combined to the
    * |days × types| census; rank windows and sums ride that
    * domain-bounded frame. */
  def q405Friedman(s: SparkSession, dir: String): DataFrame = {
    val census = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("x"))
    // Friedman REQUIRES complete day×type blocks: a day with zero
    // events of some type yields no census row, in-day ranks would
    // span k' < k while Q uses the global k — silently wrong, and
    // invisible to the differential because the oracle would share
    // the omission. Re-spine against distinct(day) × distinct(type)
    // with zero counts (which then rank as ordinary low ties). The
    // spine is |days|·|types| — domain-bounded, broadcast-sized.
    val spine = census.select("day").distinct()
      .crossJoin(broadcast(census.select("event_type").distinct()))
    val full = spine.join(census, Seq("day", "event_type"), "left")
      .withColumn("x", coalesce(col("x"), lit(0L)))
    val wDay = Window.partitionBy("day").orderBy("x")
    val wTie = Window.partitionBy("day", "x")
    val ranked = full
      .withColumn("r2",
        (rank().over(wDay).cast("bigint") * 2
          + count(lit(1)).over(wTie) - 1))
    val sums = ranked.groupBy("event_type")
      .agg(sum("r2").as("r2_sum"))
    val dims = census.agg(
      countDistinct(col("day")).as("n"),
      countDistinct(col("event_type")).as("k"))
    // Σ R2ⱼ² stays an EXACT integer (the 5-term double fold would
    // associate differently across engines and flip the floor);
    // Q = 3·S4/(n·k(k+1)) − 3n(k+1) is then ONE shared-text double
    val q = sums.agg(sum(col("r2_sum") * col("r2_sum")).as("s4"))
      .crossJoin(broadcast(dims))
      .select(expr(
        """CAST(floor((3.0 * CAST(s4 AS DOUBLE)
           / (CAST(n AS DOUBLE) * k * (k + 1.0))
           - 3.0 * CAST(n AS DOUBLE) * (k + 1.0)) * 1000) AS BIGINT)""")
        .as("q_milli"))
    sums.crossJoin(broadcast(q))
      .select(col("event_type"), col("r2_sum"), col("q_milli"))
  }

  private def q405OracleSql: String =
    """WITH census AS (SELECT CAST(ts AS DATE) AS day, event_type,
          CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        spine AS (SELECT d.day, t.event_type
          FROM (SELECT DISTINCT day FROM census) d
          CROSS JOIN (SELECT DISTINCT event_type FROM census) t),
        fullc AS (SELECT s.day, s.event_type,
            coalesce(c.x, 0) AS x
          FROM spine s LEFT JOIN census c
            ON s.day = c.day AND s.event_type = c.event_type),
        ranked AS (SELECT day, event_type,
            CAST(rank() OVER (PARTITION BY day ORDER BY x) AS BIGINT)
              * 2
              + CAST(count(*) OVER (PARTITION BY day, x) AS BIGINT) - 1
              AS r2
          FROM fullc),
        sums AS (SELECT event_type, CAST(sum(r2) AS BIGINT) AS r2_sum
          FROM ranked GROUP BY 1),
        dims AS (SELECT CAST(count(DISTINCT day) AS BIGINT) AS n,
          CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM census),
        s4 AS (SELECT CAST(sum(r2_sum * r2_sum) AS BIGINT) AS s4
          FROM sums),
        q AS (SELECT CAST(floor((3.0 * CAST(s4 AS DOUBLE)
              / (CAST(n AS DOUBLE) * k * (k + 1.0))
              - 3.0 * CAST(n AS DOUBLE) * (k + 1.0)) * 1000)
            AS BIGINT) AS q_milli
          FROM s4 CROSS JOIN dims)
        SELECT event_type, r2_sum, q_milli
        FROM sums CROSS JOIN q"""

  // ------------------------------------------------------------ q408

  /** q408's normal approximation over the exact integers {n1, n2, r}:
    * μ = 2n1n2/(n1+n2) + 1, σ² = 2n1n2(2n1n2−n1−n2) /
    * ((n1+n2)²(n1+n2−1)) — one shared-text double expression. */
  private val runsZ =
    """((CAST(r AS DOUBLE)
        - (2.0 * n1 * n2 / (CAST(n1 AS DOUBLE) + n2) + 1.0))
       / sqrt(2.0 * n1 * n2 * (2.0 * CAST(n1 AS DOUBLE) * n2 - n1 - n2)
         / ((CAST(n1 AS DOUBLE) + n2) * (CAST(n1 AS DOUBLE) + n2)
            * (CAST(n1 AS DOUBLE) + n2 - 1.0))))"""

  /** q408 — WALD–WOLFOWITZ RUNS TEST on the daily count series (the
    * RANDOMNESS member of the trend family: q309's Mann–Kendall asks
    * "is there a monotone drift?", the runs test asks "do the
    * above/below-median days CLUSTER?" — too few runs = regime
    * stickiness an iid model misses, too many = oscillation; the
    * classic nonparametric check behind control-chart rules): the
    * lower median of the daily counts splits days into above (n1) vs
    * at-or-below (n2, ties below — declared); r = number of maximal
    * same-side runs in day order, exact off one lag comparison;
    * released {n1, n2, r, z_ppm} through [[runsZ]]. Under the iid
    * generator |z| must stay inside the α = 0.001 band, which the
    * spec pins.
    *
    * Scale shape: ONE corpus scan map-side combined to the |days|
    * census; the median rank, the side flags, and the run-boundary
    * lag all ride the domain-bounded day frame. */
  def q408RunsTest(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val med = daily
      .withColumn("rk", row_number().over(Window.orderBy("x", "day")))
      .crossJoin(broadcast(daily.agg(count(lit(1)).as("n"))))
      .filter(col("rk") === expr("(n + 1) div 2"))
      .select(col("x").as("med"))
    val flagged = daily.crossJoin(broadcast(med))
      .withColumn("above", col("x") > col("med"))
      .withColumn("newrun", when(lag("above", 1).over(
        Window.orderBy("day")).isNull ||
        lag("above", 1).over(Window.orderBy("day")) =!= col("above"),
        1L).otherwise(0L))
    flagged.agg(
      sum(when(col("above"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("above"), 0L).otherwise(1L)).as("n2"),
      sum("newrun").as("r"))
      .select(col("n1"), col("n2"), col("r"),
        expr(s"CAST(floor($runsZ * 1000000) AS BIGINT)").as("z_ppm"))
  }

  private def q408OracleSql: String =
    s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        med AS (SELECT x AS med FROM
          (SELECT x, row_number() OVER (ORDER BY x, day) AS rk
           FROM daily) r CROSS JOIN
          (SELECT count(*) AS n FROM daily) c
          WHERE rk = (n + 1) // 2),
        flagged AS (SELECT day, x > med AS above,
            CASE WHEN lag(x > med) OVER (ORDER BY day) IS NULL
              OR lag(x > med) OVER (ORDER BY day) <> (x > med)
              THEN 1 ELSE 0 END AS newrun
          FROM daily CROSS JOIN med),
        agg AS (SELECT
          CAST(sum(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          CAST(sum(CASE WHEN above THEN 0 ELSE 1 END) AS BIGINT) AS n2,
          CAST(sum(newrun) AS BIGINT) AS r
        FROM flagged)
        SELECT n1, n2, r,
          CAST(floor($runsZ * 1000000) AS BIGINT) AS z_ppm
        FROM agg"""

  // ------------------------------------------------------------ q411

  /** q411 — SUCCESSIVE-HALVING REPLAY over the five event types as
    * arms (the BUDGETED-SELECTION member of the experimentation
    * family: q386/q391 test TWO arms sequentially — successive
    * halving is what a platform runs when there are MANY variants
    * and a fixed budget: split the horizon into phases, drop the
    * bottom half each phase, spend the budget on survivors;
    * Karnin et al. 2013's fixed-budget best-arm algorithm, here
    * replayed deterministically on the logged stream). Phases =
    * day index ≤10 / ≤20 / ≤30; per arm the EXACT cumulative cent
    * sums {cum1, cum2, cum3}; 5 → 3 → 2 → 1 by (cum DESC, type)
    * rank at each phase boundary. Released {event_type, cum1, cum2,
    * cum3, eliminated_phase} (0 = the selected arm) — every
    * comparison an exact integer rank.
    *
    * Scale shape: ONE corpus scan map-side combined to the
    * |days×types| census; the phase sums and the three rank windows
    * ride the 5-row arm frame. */
  def q411SuccessiveHalving(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(sum(expr("CAST(floor(value * 100) AS BIGINT)")).as("c"))
      .withColumn("d", dense_rank().over(Window.orderBy("day"))
        .cast("bigint"))
    val arms = daily.groupBy("event_type")
      .agg(sum(when(col("d") <= 10, col("c")).otherwise(0L)).as("cum1"),
        sum(when(col("d") <= 20, col("c")).otherwise(0L)).as("cum2"),
        sum(when(col("d") <= 30, col("c")).otherwise(0L)).as("cum3"))
    val r1 = arms.withColumn("r1", rank().over(
      Window.orderBy(col("cum1").desc, col("event_type"))))
    val s1 = r1.filter(col("r1") <= 3)
      .withColumn("r2", rank().over(
        Window.orderBy(col("cum2").desc, col("event_type"))))
    val s2 = s1.filter(col("r2") <= 2)
      .withColumn("r3", rank().over(
        Window.orderBy(col("cum3").desc, col("event_type"))))
    r1.join(s1.select(col("event_type"), col("r2")), Seq("event_type"),
        "left")
      .join(s2.select(col("event_type"), col("r3")), Seq("event_type"),
        "left")
      .select(col("event_type"), col("cum1"), col("cum2"), col("cum3"),
        expr("""CASE WHEN r1 > 3 THEN CAST(1 AS BIGINT)
          WHEN r2 > 2 THEN CAST(2 AS BIGINT)
          WHEN r3 > 1 THEN CAST(3 AS BIGINT)
          ELSE CAST(0 AS BIGINT) END""").as("eliminated_phase"))
  }

  /** q411's oracle, shared verbatim by the q412 streaming twin. */
  private[graft] def q411OracleSql2: String = q411OracleSql

  private def q411OracleSql: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS day, event_type,
          CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
        idx AS (SELECT event_type, c,
            CAST(dense_rank() OVER (ORDER BY day) AS BIGINT) AS d
          FROM daily),
        arms AS (SELECT event_type,
          CAST(sum(CASE WHEN d <= 10 THEN c ELSE 0 END) AS BIGINT)
            AS cum1,
          CAST(sum(CASE WHEN d <= 20 THEN c ELSE 0 END) AS BIGINT)
            AS cum2,
          CAST(sum(CASE WHEN d <= 30 THEN c ELSE 0 END) AS BIGINT)
            AS cum3
        FROM idx GROUP BY 1),
        p1 AS (SELECT *, rank() OVER (ORDER BY cum1 DESC, event_type)
            AS r1 FROM arms),
        p2 AS (SELECT event_type,
            rank() OVER (ORDER BY cum2 DESC, event_type) AS r2
          FROM p1 WHERE r1 <= 3),
        p3 AS (SELECT p2.event_type,
            rank() OVER (ORDER BY cum3 DESC, p2.event_type) AS r3
          FROM p2 JOIN p1 ON p2.event_type = p1.event_type
          WHERE r2 <= 2)
        SELECT p1.event_type, cum1, cum2, cum3,
          CASE WHEN r1 > 3 THEN CAST(1 AS BIGINT)
               WHEN r2 > 2 THEN CAST(2 AS BIGINT)
               WHEN r3 > 1 THEN CAST(3 AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS eliminated_phase
        FROM p1
        LEFT JOIN p2 ON p1.event_type = p2.event_type
        LEFT JOIN p3 ON p1.event_type = p3.event_type"""

  // ------------------------------------------------------------ q415

  /** q415's pooled two-proportion z over the exact cumulative cells,
    * one shared-text double expression: p̂ = (ka+kb)/(na+nb),
    * z = (ka/na − kb/nb) / √(p̂(1−p̂)(1/na + 1/nb)). */
  /** [[pocockZ]] exposed for the q419 streaming twin. */
  private[graft] def pocockZText: String = pocockZ

  private val pocockZ =
    """((CAST(ka AS DOUBLE) / CAST(na AS DOUBLE)
        - CAST(kb AS DOUBLE) / CAST(nb AS DOUBLE))
       / sqrt((CAST(ka + kb AS DOUBLE) / CAST(na + nb AS DOUBLE))
         * (1.0 - CAST(ka + kb AS DOUBLE) / CAST(na + nb AS DOUBLE))
         * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))))"""

  /** Pocock's constant critical value for K = 5 equally-spaced looks
    * at two-sided α = 0.05 (Pocock 1977, table 2) — baked as a
    * literal per the q403 no-libm-at-query-time discipline. */
  val PocockC5 = 2.413

  /** q415 — POCOCK GROUP-SEQUENTIAL MONITOR of the A/B purchase-rate
    * difference (the INTERIM-ANALYSIS member completing the sequential
    * family: q386's SPRT is fully sequential and parametric, q391's
    * Hoeffding gate is anytime and distribution-free — the Pocock
    * design is what a clinical-style experiment review board actually
    * schedules: K = 5 planned looks, each tested against ONE constant
    * boundary [[PocockC5]] chosen so the FAMILY-wise type-I error
    * stays 0.05 — the multiple-looks correction naive repeated
    * z-testing lacks). Looks at day index 6/12/18/24/30; per look the
    * exact cumulative cells {na, ka, nb, kb}, z through [[pocockZ]]
    * ×10⁶ floored, and `crossed`; under the null split the spec pins
    * no look crossing.
    *
    * Scale shape: ONE corpus scan map-side combined to the |days|×2
    * census; cumsums, the look filter, and the boundary CASE ride the
    * domain-bounded day frame. */
  def q415Pocock(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .select(col("ts").cast("date").as("day"),
        (col("user_id") % 2 === 1).as("arm"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("pos"))
      .groupBy("day")
      .agg(sum(when(col("arm"), 1L).otherwise(0L)).as("dna"),
        sum(when(col("arm"), col("pos")).otherwise(0L)).as("dka"),
        sum(when(col("arm"), 0L).otherwise(1L)).as("dnb"),
        sum(when(col("arm"), 0L).otherwise(col("pos"))).as("dkb"))
      .withColumn("na", sum("dna").over(w))
      .withColumn("ka", sum("dka").over(w))
      .withColumn("nb", sum("dnb").over(w))
      .withColumn("kb", sum("dkb").over(w))
      .withColumn("d", row_number().over(Window.orderBy("day"))
        .cast("bigint"))
      .filter(col("d") % 6 === 0)
      .select(expr("d DIV 6").as("look"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("na"), col("ka"), col("nb"), col("kb"),
        expr(s"CAST(floor($pocockZ * 1000000) AS BIGINT)").as("z_ppm"),
        expr(s"abs($pocockZ) > $PocockC5").as("crossed"))
  }

  /** q415's oracle, shared verbatim by the q419 streaming twin. */
  private[graft] def q415OracleSql2: String = q415OracleSql

  private def q415OracleSql: String =
    s"""WITH census AS (SELECT CAST(ts AS DATE) AS day,
          CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS dna,
          CAST(sum(CASE WHEN user_id % 2 = 1
              AND event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS dka,
          CAST(sum(CASE WHEN user_id % 2 = 1 THEN 0 ELSE 1 END)
            AS BIGINT) AS dnb,
          CAST(sum(CASE WHEN user_id % 2 = 1 OR event_type <> 'purchase'
              THEN 0 ELSE 1 END) AS BIGINT) AS dkb
        FROM events GROUP BY 1),
        cum AS (SELECT day,
          CAST(sum(dna) OVER (ORDER BY day) AS BIGINT) AS na,
          CAST(sum(dka) OVER (ORDER BY day) AS BIGINT) AS ka,
          CAST(sum(dnb) OVER (ORDER BY day) AS BIGINT) AS nb,
          CAST(sum(dkb) OVER (ORDER BY day) AS BIGINT) AS kb,
          CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS d
        FROM census)
        SELECT CAST(d // 6 AS BIGINT) AS look,
          strftime(day, '%Y-%m-%d') AS day, na, ka, nb, kb,
          CAST(floor($pocockZ * 1000000) AS BIGINT) AS z_ppm,
          abs($pocockZ) > $PocockC5 AS crossed
        FROM cum WHERE d % 6 = 0"""

  // ------------------------------------------------------------ q418

  /** O'Brien–Fleming boundaries for K = 5 equally-spaced looks at
    * two-sided α = 0.05: c·√(K/k) with c = 2.040 (O'Brien & Fleming
    * 1979 / Pocock 1982 table values) — the DECREASING ladder that
    * spends almost no α early. Baked as literals (q403 discipline);
    * the √(5/k) factors are exact-ratio doubles both engines compute
    * identically from the shared text. */
  val ObfC5 = 2.040

  /** q418 — O'BRIEN–FLEMING GROUP-SEQUENTIAL MONITOR (q415's
    * conservative twin and the design review boards usually prefer:
    * Pocock's constant boundary spends α evenly and pays with a
    * weaker final test — OBF's c·√(K/k) ladder starts near 4.6σ and
    * descends to ~2.04 at the last look, keeping the final analysis
    * almost at nominal strength; the two queries TOGETHER are the
    * textbook interim-monitoring trade-off, on the same exact
    * cumulative cells and the same pooled z). Released per look with
    * the look's boundary_milli and `crossed`; the spec pins the
    * ladder's monotone descent and no null crossing.
    *
    * Scale shape: q415's — ONE corpus scan to the |days|×2 census;
    * cumsums + the ladder CASE ride the day frame. */
  def q418ObrienFleming(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .select(col("ts").cast("date").as("day"),
        (col("user_id") % 2 === 1).as("arm"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("pos"))
      .groupBy("day")
      .agg(sum(when(col("arm"), 1L).otherwise(0L)).as("dna"),
        sum(when(col("arm"), col("pos")).otherwise(0L)).as("dka"),
        sum(when(col("arm"), 0L).otherwise(1L)).as("dnb"),
        sum(when(col("arm"), 0L).otherwise(col("pos"))).as("dkb"))
      .withColumn("na", sum("dna").over(w))
      .withColumn("ka", sum("dka").over(w))
      .withColumn("nb", sum("dnb").over(w))
      .withColumn("kb", sum("dkb").over(w))
      .withColumn("d", row_number().over(Window.orderBy("day"))
        .cast("bigint"))
      .filter(col("d") % 6 === 0)
      .withColumn("look", expr("d DIV 6"))
      .withColumn("bound", expr(
        s"$ObfC5 * sqrt(5.0 / CAST(look AS DOUBLE))"))
      .select(col("look"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("na"), col("ka"), col("nb"), col("kb"),
        expr(s"CAST(floor($pocockZ * 1000000) AS BIGINT)").as("z_ppm"),
        expr("CAST(floor(bound * 1000) AS BIGINT)")
          .as("boundary_milli"),
        expr(s"abs($pocockZ) > bound").as("crossed"))
  }

  private def q418OracleSql: String =
    s"""WITH census AS (SELECT CAST(ts AS DATE) AS day,
          CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS dna,
          CAST(sum(CASE WHEN user_id % 2 = 1
              AND event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS dka,
          CAST(sum(CASE WHEN user_id % 2 = 1 THEN 0 ELSE 1 END)
            AS BIGINT) AS dnb,
          CAST(sum(CASE WHEN user_id % 2 = 1 OR event_type <> 'purchase'
              THEN 0 ELSE 1 END) AS BIGINT) AS dkb
        FROM events GROUP BY 1),
        cum AS (SELECT day,
          CAST(sum(dna) OVER (ORDER BY day) AS BIGINT) AS na,
          CAST(sum(dka) OVER (ORDER BY day) AS BIGINT) AS ka,
          CAST(sum(dnb) OVER (ORDER BY day) AS BIGINT) AS nb,
          CAST(sum(dkb) OVER (ORDER BY day) AS BIGINT) AS kb,
          CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS d
        FROM census),
        looks AS (SELECT CAST(d // 6 AS BIGINT) AS look, day,
            na, ka, nb, kb,
            $ObfC5 * sqrt(5.0 / CAST(d // 6 AS DOUBLE)) AS bound
          FROM cum WHERE d % 6 = 0)
        SELECT look, strftime(day, '%Y-%m-%d') AS day, na, ka, nb, kb,
          CAST(floor($pocockZ * 1000000) AS BIGINT) AS z_ppm,
          CAST(floor(bound * 1000) AS BIGINT) AS boundary_milli,
          abs($pocockZ) > bound AS crossed
        FROM looks"""

  // ------------------------------------------------------------ q420

  /** q420 — TWO-SAMPLE CRAMÉR–VON MISES TEST on purchase vs click
    * event values (the L² member completing the EDF-test family:
    * q321's KS reads the WORST ECDF gap — one point decides it; CvM
    * integrates the SQUARED gap over the whole distribution, the
    * better-powered choice against spread/shape alternatives.
    * Anderson 1962's rank form: U = m·Σ(rᵢ−i)² + n·Σ(sⱼ−j)²,
    * T = U/(Nmn) − (4mn−1)/(6N)). Ties are resolved by the DECLARED
    * within-block order (sample 1 before sample 2 at equal value), so
    * every rank is deterministic — and within a tie block both r and
    * the per-sample index advance together, so the block's Σ(r−i)²
    * collapses to the CLOSED FORM c·(R₀−I₀)² on the (value, arm)
    * census: no per-point rank materialization at any scale. U is an
    * exact widened integer; T is one shared-text double over {U, m,
    * n} (U's int→double cast rounds identically on both engines).
    * Released {m, n, t_micro}.
    *
    * Scale shape: ONE corpus scan map-side combined to the
    * |values × 2| census; the block cumsums and the closed-form fold
    * ride that census frame. */
  def q420CramerVonMises(s: SparkSession, dir: String): DataFrame = {
    val census = t(s, dir, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .select(when(col("event_type") === "purchase", 1L).otherwise(2L)
          .as("arm"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .groupBy("vc", "arm")
      .agg(count(lit(1)).as("c"))
    val wAll = Window.orderBy("vc", "arm")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wArm = Window.partitionBy("arm").orderBy("vc")
      .rowsBetween(Window.unboundedPreceding, -1)
    val positioned = census
      .withColumn("r0", coalesce(sum("c").over(wAll), lit(0L)) + 1L)
      .withColumn("i0", coalesce(sum("c").over(wArm), lit(0L)) + 1L)
      .withColumn("dd", col("r0") - col("i0"))
    val sums = positioned.groupBy("arm")
      .agg(sum("c").as("sz"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * dd * dd")).as("sq"))
      .agg(
        max(when(col("arm") === 1, col("sz"))).as("m"),
        max(when(col("arm") === 2, col("sz"))).as("n"),
        max(when(col("arm") === 1, col("sq"))).as("sq1"),
        max(when(col("arm") === 2, col("sq"))).as("sq2"))
    sums.select(col("m"), col("n"),
      expr("""CAST(floor((CAST(m * sq1 + n * sq2 AS DOUBLE)
          / (CAST(m + n AS DOUBLE) * CAST(m AS DOUBLE)
             * CAST(n AS DOUBLE))
        - (4.0 * CAST(m AS DOUBLE) * CAST(n AS DOUBLE) - 1.0)
          / (6.0 * CAST(m + n AS DOUBLE))) * 1000000) AS BIGINT)""")
        .as("t_micro"))
  }

  private def q420OracleSql: String =
    """WITH census AS (SELECT
          CAST(floor(value * 100) AS BIGINT) AS vc,
          CASE WHEN event_type = 'purchase' THEN 1 ELSE 2 END AS arm,
          CAST(count(*) AS BIGINT) AS c
        FROM events WHERE event_type IN ('purchase', 'click')
        GROUP BY 1, 2),
        positioned AS (SELECT arm, c,
            coalesce(sum(c) OVER (ORDER BY vc, arm
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + 1 AS r0,
            coalesce(sum(c) OVER (PARTITION BY arm ORDER BY vc
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + 1 AS i0
          FROM census),
        sums AS (SELECT arm, CAST(sum(c) AS BIGINT) AS sz,
            sum(CAST(c AS HUGEINT) * (r0 - i0) * (r0 - i0)) AS sq
          FROM positioned GROUP BY 1),
        cells AS (SELECT
          max(CASE WHEN arm = 1 THEN sz END) AS m,
          max(CASE WHEN arm = 2 THEN sz END) AS n,
          max(CASE WHEN arm = 1 THEN sq END) AS sq1,
          max(CASE WHEN arm = 2 THEN sq END) AS sq2
        FROM sums)
        SELECT m, n,
          CAST(floor((CAST(m * sq1 + n * sq2 AS DOUBLE)
              / (CAST(m + n AS DOUBLE) * CAST(m AS DOUBLE)
                 * CAST(n AS DOUBLE))
            - (4.0 * CAST(m AS DOUBLE) * CAST(n AS DOUBLE) - 1.0)
              / (6.0 * CAST(m + n AS DOUBLE))) * 1000000) AS BIGINT)
            AS t_micro
        FROM cells"""

  // ------------------------------------------------------------ q421

  /** The event-type vocabulary in fixed alphabetical order — q421's
    * generated expressions enumerate the five groups literally so
    * every cross-group double sum associates identically on both
    * engines (the q403 generated-chain discipline). */
  private val Q421Types =
    Seq("click", "error", "purchase", "signup", "view")

  /** Per-group double building blocks over the pivoted exact cells
    * {n_g, s1_g, s2_g}: mean, variance (n−1 denominator), weight
    * w = n/s². */
  private def q421Mean(g: Int) =
    s"(CAST(s1_$g AS DOUBLE) / CAST(n_$g AS DOUBLE))"
  private def q421Var(g: Int) =
    s"""((CAST(s2_$g AS DOUBLE) - CAST(s1_$g AS DOUBLE)
        * ${q421Mean(g)}) / (CAST(n_$g AS DOUBLE) - 1.0))"""
  private def q421W(g: Int) =
    s"(CAST(n_$g AS DOUBLE) / ${q421Var(g)})"
  private def q421SumW =
    Q421Types.indices.map(q421W).mkString("(", " + ", ")")
  private def q421XW =
    Q421Types.indices.map(g => s"(${q421W(g)} * ${q421Mean(g)})")
      .mkString("(", " + ", ")") + s" / $q421SumW"
  private def q421A =
    Q421Types.indices.map(g =>
      s"(${q421W(g)} * (${q421Mean(g)} - xw) * (${q421Mean(g)} - xw))")
      .mkString("(", " + ", ")") + s" / ${Q421Types.size - 1}.0"
  private def q421H =
    Q421Types.indices.map(g =>
      s"""((1.0 - ${q421W(g)} / sw) * (1.0 - ${q421W(g)} / sw)
          / (CAST(n_$g AS DOUBLE) - 1.0))""")
      .mkString("(", " + ", ")")

  /** q421 — WELCH'S HETEROSCEDASTIC ONE-WAY ANOVA across the five
    * event types' cent values (the k-group UNEQUAL-VARIANCE member
    * completing the mean-comparison family: q190's classic F pools
    * variances — wrong when groups differ in spread, exactly the
    * regime q326's Brown–Forsythe gate detects; q266's Welch t is the
    * two-group fix, this is Welch 1951's k-group form: weights
    * wᵢ = nᵢ/sᵢ², F* = Σwᵢ(x̄ᵢ−x̄w)²/(k−1) over 1 + 2(k−2)/(k²−1)·Λ,
    * df₂ = (k²−1)/(3Λ), Λ = Σ(1−wᵢ/Σw)²/(nᵢ−1)). Cells are exact
    * integers off ONE census (n, Σv, Σv² per type, Σv² widened);
    * every cross-group sum is a GENERATED fixed-order 5-term chain —
    * no per-row double fold anywhere. Released
    * {n_total, f_star_milli, df2_milli}.
    *
    * Scale shape: ONE corpus scan map-side combined to the 5-type
    * census; the Welch algebra rides a 1-row pivot. */
  def q421WelchAnova(s: SparkSession, dir: String): DataFrame = {
    val census = t(s, dir, "events")
      .select(col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("vc").as("s1"),
        sum(col("vc").cast("decimal(38,0)") * col("vc")).as("s2"))
    val pivotCols = Q421Types.indices.flatMap { g =>
      Seq(
        coalesce(max(when(col("event_type") === Q421Types(g),
          col("n"))), lit(0L)).as(s"n_$g"),
        coalesce(max(when(col("event_type") === Q421Types(g),
          col("s1"))), lit(0L)).as(s"s1_$g"),
        coalesce(max(when(col("event_type") === Q421Types(g),
          col("s2"))), lit(0L).cast("decimal(38,0)")).as(s"s2_$g"))
    }
    val k = Q421Types.size
    census
      .agg(sum("n").as("n_total"), pivotCols: _*)
      .withColumn("sw", expr(q421SumW))
      .withColumn("xw", expr(q421XW))
      .withColumn("lam", expr(q421H))
      .select(col("n_total"),
        expr(s"""CAST(floor(($q421A)
          / (1.0 + 2.0 * ${k - 2}.0 / (${k * k - 1}.0) * lam)
          * 1000) AS BIGINT)""").as("f_star_milli"),
        expr(s"CAST(floor((${k * k - 1}.0 / (3.0 * lam)) * 1000) " +
          "AS BIGINT)").as("df2_milli"))
  }

  private def q421OracleSql: String = {
    val pivotCols = Q421Types.indices.flatMap { g =>
      Seq(
        s"""coalesce(max(CASE WHEN event_type = '${Q421Types(g)}'
            THEN n END), 0) AS n_$g""",
        s"""coalesce(max(CASE WHEN event_type = '${Q421Types(g)}'
            THEN s1 END), 0) AS s1_$g""",
        s"""coalesce(max(CASE WHEN event_type = '${Q421Types(g)}'
            THEN s2 END), 0) AS s2_$g""")
    }.mkString(", ")
    val k = Q421Types.size
    s"""WITH census AS (SELECT event_type,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
            AS s1,
          sum(CAST(CAST(floor(value * 100) AS BIGINT) AS HUGEINT)
            * CAST(floor(value * 100) AS BIGINT)) AS s2
        FROM events GROUP BY 1),
        piv AS (SELECT CAST(sum(n) AS BIGINT) AS n_total, $pivotCols
          FROM census),
        sw_ AS (SELECT *, $q421SumW AS sw FROM piv),
        xw_ AS (SELECT *, $q421XW AS xw FROM sw_),
        lam_ AS (SELECT *, $q421H AS lam FROM xw_)
        SELECT n_total,
          CAST(floor(($q421A)
            / (1.0 + 2.0 * ${k - 2}.0 / (${k * k - 1}.0) * lam)
            * 1000) AS BIGINT) AS f_star_milli,
          CAST(floor((${k * k - 1}.0 / (3.0 * lam)) * 1000) AS BIGINT)
            AS df2_milli
        FROM lam_"""
  }

  // ------------------------------------------------------------ q422

  /** q422 — McNEMAR'S PAIRED TEST on per-user conversion across the
    * [[Analytics.CupedSplit]] boundary (the PAIRED-DATA member the
    * experimentation family was missing: q174/q266 compare
    * independent groups — McNemar compares the SAME users before vs
    * after, so stable users cancel and only the b = pre-only vs
    * c = post-only DISCORDANT pairs carry information; the classic
    * before/after readout for a feature launch on a binary metric):
    * exact cells {n, both, pre_only, post_only, neither} off one
    * user-keyed aggregate; χ² = (b−c)²/(b+c) with continuity
    * correction EXCLUDED (declared — the corrected and uncorrected
    * forms differ and the uncorrected one is the cleaner integer
    * algebra: released chi2_milli = floor(1000·(b−c)²/(b+c)), the
    * numerator an exact integer square). Under the split-at-midpoint
    * null the discordant counts are near-symmetric, which the spec
    * pins.
    *
    * Scale shape: one user-keyed aggregate (map-side combined) → one
    * 5-cell scalar row. */
  def q422Mcnemar(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "events")
      .select(col("user_id"),
        (col("ts") < lit(Analytics.CupedSplit).cast("timestamp"))
          .as("pre"),
        (col("event_type") === "purchase").as("p"))
      .groupBy("user_id")
      .agg(max(col("pre") && col("p")).as("cpre"),
        max(!col("pre") && col("p")).as("cpost"))
    per.agg(count(lit(1)).as("n"),
        sum(when(col("cpre") && col("cpost"), 1L).otherwise(0L))
          .as("both_conv"),
        sum(when(col("cpre") && !col("cpost"), 1L).otherwise(0L))
          .as("pre_only"),
        sum(when(!col("cpre") && col("cpost"), 1L).otherwise(0L))
          .as("post_only"),
        sum(when(!col("cpre") && !col("cpost"), 1L).otherwise(0L))
          .as("neither"))
      .select(col("n"), col("both_conv"), col("pre_only"), col("post_only"),
        col("neither"),
        expr("""CASE WHEN pre_only + post_only = 0
          THEN CAST(0 AS BIGINT)
          ELSE CAST(floor(CAST((pre_only - post_only)
              * (pre_only - post_only) AS DOUBLE)
            / CAST(pre_only + post_only AS DOUBLE) * 1000) AS BIGINT)
          END""").as("chi2_milli"))
  }

  private def q422OracleSql: String =
    s"""WITH per AS (SELECT user_id,
          CAST(max(CASE WHEN ts < TIMESTAMP '${Analytics.CupedSplit}'
            AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
            AS cpre,
          CAST(max(CASE WHEN ts >= TIMESTAMP '${Analytics.CupedSplit}'
            AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
            AS cpost
        FROM events GROUP BY 1),
        cells AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN cpre = 1 AND cpost = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS both_conv,
          CAST(sum(CASE WHEN cpre = 1 AND cpost = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS pre_only,
          CAST(sum(CASE WHEN cpre = 0 AND cpost = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS post_only,
          CAST(sum(CASE WHEN cpre = 0 AND cpost = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS neither
        FROM per)
        SELECT n, both_conv, pre_only, post_only, neither,
          CASE WHEN pre_only + post_only = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(CAST((pre_only - post_only)
                * (pre_only - post_only) AS DOUBLE)
              / CAST(pre_only + post_only AS DOUBLE) * 1000) AS BIGINT)
          END AS chi2_milli
        FROM cells"""

  // ------------------------------------------------------------ q423

  /** q423's standardized mean difference over the exact sufficient
    * statistics: pooled s² = ((n1−1)s1² + (n2−1)s2²)/(n1+n2−2),
    * d = (m1−m2)/s_pooled — one shared-text double chain. */
  private val cohensD =
    """((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
       / sqrt((((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)
             * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))))
           + ((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE)
             * (CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)))))
         / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0)))"""

  /** q423 — EFFECT-SIZE PANEL for purchase vs click values (the
    * MAGNITUDE counterpart of the test family: q266/q303/q420 say
    * whether the groups differ, this says BY HOW MUCH in units a
    * reader can carry across experiments — Cohen's d in pooled-sd
    * units, Hedges' g = d·(1 − 3/(4N−9)) correcting d's small-sample
    * bias, and Cliff's δ = P(X>Y) − P(X<Y), the rank effect size
    * that survives outliers and non-normality). d and g ride the
    * exact {n, Σv, Σv²} cells; δ is EXACT integer algebra on the
    * (value, arm) census: U2 = Σ c1·(2·less2 + eq2) (wins doubled
    * plus ties, the q303 midrank convention), δ_ppm = (U2 − n1·n2)
    * ·10⁶ div (n1·n2). Released {n1, n2, d_milli, g_milli,
    * cliffs_delta_ppm}.
    *
    * Scale shape: ONE corpus scan map-side combined to the
    * |values×2| census; the δ cumsum and the d/g algebra ride that
    * frame and a 1-row pivot. */
  def q423EffectSizes(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .select(when(col("event_type") === "purchase", 1L).otherwise(2L)
          .as("arm"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
    val census = base.groupBy("vc")
      .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("c1"),
        sum(when(col("arm") === 2, 1L).otherwise(0L)).as("c2"))
    val wPrev = Window.orderBy("vc")
      .rowsBetween(Window.unboundedPreceding, -1)
    val u2 = census
      .withColumn("less2", coalesce(sum("c2").over(wPrev), lit(0L)))
      .agg(sum(expr(
        "CAST(c1 AS DECIMAL(38,0)) * (2 * less2 + c2)")).as("u2"))
    val cells = base.groupBy("arm")
      .agg(count(lit(1)).as("n"), sum("vc").as("s"),
        sum(col("vc").cast("decimal(38,0)") * col("vc")).as("q"))
      .agg(max(when(col("arm") === 1, col("n"))).as("n1"),
        max(when(col("arm") === 2, col("n"))).as("n2"),
        max(when(col("arm") === 1, col("s"))).as("s1"),
        max(when(col("arm") === 2, col("s"))).as("s2"),
        max(when(col("arm") === 1, col("q"))).as("q1"),
        max(when(col("arm") === 2, col("q"))).as("q2"))
    cells.crossJoin(broadcast(u2))
      .select(col("n1"), col("n2"),
        expr(s"CAST(floor($cohensD * 1000) AS BIGINT)").as("d_milli"),
        expr(s"""CAST(floor($cohensD
          * (1.0 - 3.0 / (4.0 * (CAST(n1 AS DOUBLE) + n2) - 9.0))
          * 1000) AS BIGINT)""").as("g_milli"),
        expr("""CAST((u2 - CAST(n1 AS DECIMAL(38,0)) * n2) * 1000000
          DIV (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)""")
          .as("cliffs_delta_ppm"))
  }

  private def q423OracleSql: String =
    s"""WITH base AS (SELECT
          CASE WHEN event_type = 'purchase' THEN 1 ELSE 2 END AS arm,
          CAST(floor(value * 100) AS BIGINT) AS vc
        FROM events WHERE event_type IN ('purchase', 'click')),
        census AS (SELECT vc,
          CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS c1,
          CAST(sum(CASE WHEN arm = 2 THEN 1 ELSE 0 END) AS BIGINT)
            AS c2
        FROM base GROUP BY 1),
        u AS (SELECT sum(CAST(c1 AS HUGEINT) * (2 * less2 + c2)) AS u2
          FROM (SELECT c1, c2,
              coalesce(sum(c2) OVER (ORDER BY vc
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS less2
            FROM census) p),
        cells AS (SELECT
          max(CASE WHEN arm = 1 THEN n END) AS n1,
          max(CASE WHEN arm = 2 THEN n END) AS n2,
          max(CASE WHEN arm = 1 THEN s END) AS s1,
          max(CASE WHEN arm = 2 THEN s END) AS s2,
          max(CASE WHEN arm = 1 THEN q END) AS q1,
          max(CASE WHEN arm = 2 THEN q END) AS q2
        FROM (SELECT arm, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(vc) AS BIGINT) AS s,
            sum(CAST(vc AS HUGEINT) * vc) AS q
          FROM base GROUP BY 1) g)
        SELECT n1, n2,
          CAST(floor($cohensD * 1000) AS BIGINT) AS d_milli,
          CAST(floor($cohensD
            * (1.0 - 3.0 / (4.0 * (CAST(n1 AS DOUBLE) + n2) - 9.0))
            * 1000) AS BIGINT) AS g_milli,
          CAST((u2 - CAST(n1 AS HUGEINT) * n2) * 1000000
            // (CAST(n1 AS HUGEINT) * n2) AS BIGINT)
            AS cliffs_delta_ppm
        FROM cells CROSS JOIN u"""

  // ------------------------------------------------------------ q425

  /** Studentized-range critical value q_{0.05, k=5, df=∞} = 3.858
    * (standard tables) — baked as a literal per the q403 discipline. */
  val TukeyQ5 = 3.858

  /** q425's pooled within-group MSE over the pivoted exact cells, a
    * GENERATED fixed-order 5-term chain (q421's discipline):
    * MSE = Σ_g (Q_g − S_g²/n_g) / (N − k). */
  private def q425Mse: String =
    Q421Types.indices.map { g =>
      s"""(CAST(s2_$g AS DOUBLE) - CAST(s1_$g AS DOUBLE)
          * (CAST(s1_$g AS DOUBLE) / CAST(n_$g AS DOUBLE)))"""
    }.mkString("(", " + ", ")") +
      s" / (CAST(n_total AS DOUBLE) - ${Q421Types.size}.0)"

  /** q425 — TUKEY–KRAMER POST-HOC PAIRS after the ANOVA (the
    * MULTIPLE-COMPARISONS completion of the mean-testing family:
    * q190/q421 say SOME group differs — the next question is always
    * WHICH pairs, and testing all 10 at per-pair α inflates the
    * familywise error; Tukey's studentized-range HSD with the Kramer
    * unequal-n extension HSD_ij = q·√(MSE/2·(1/nᵢ+1/nⱼ)) controls it
    * exactly for pairwise contrasts — the [[TukeyQ5]] critical value
    * baked as a literal). Cells exact off ONE census; MSE a generated
    * fixed-order chain; released per pair {t1, t2, diff_milli,
    * hsd_milli, significant}; under the exchangeable-types null the
    * spec pins no significant pair.
    *
    * Scale shape: ONE corpus scan map-side combined to the 5-type
    * census; the 10 pair rows are literal projections of a 1-row
    * pivot. */
  def q425TukeyHsd(s: SparkSession, dir: String): DataFrame = {
    val census = t(s, dir, "events")
      .select(col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("vc").as("s1"),
        sum(col("vc").cast("decimal(38,0)") * col("vc")).as("s2"))
    val pivotCols = Q421Types.indices.flatMap { g =>
      Seq(
        coalesce(max(when(col("event_type") === Q421Types(g),
          col("n"))), lit(0L)).as(s"n_$g"),
        coalesce(max(when(col("event_type") === Q421Types(g),
          col("s1"))), lit(0L)).as(s"s1_$g"),
        coalesce(max(when(col("event_type") === Q421Types(g),
          col("s2"))), lit(0L).cast("decimal(38,0)")).as(s"s2_$g"))
    }
    val piv = census.agg(sum("n").as("n_total"), pivotCols: _*)
      .withColumn("mse", expr(q425Mse))
    val pairs = for { i <- Q421Types.indices; j <- Q421Types.indices
                      if i < j } yield
      piv.select(lit(Q421Types(i)).as("t1"),
        lit(Q421Types(j)).as("t2"),
        expr(s"""CAST(floor((CAST(s1_$i AS DOUBLE) / CAST(n_$i
          AS DOUBLE) - CAST(s1_$j AS DOUBLE) / CAST(n_$j AS DOUBLE))
          * 1000) AS BIGINT)""").as("diff_milli"),
        expr(s"""CAST(floor($TukeyQ5 * sqrt(mse / 2.0
          * (1.0 / CAST(n_$i AS DOUBLE) + 1.0 / CAST(n_$j AS DOUBLE)))
          * 1000) AS BIGINT)""").as("hsd_milli"),
        expr(s"""abs(CAST(s1_$i AS DOUBLE) / CAST(n_$i AS DOUBLE)
          - CAST(s1_$j AS DOUBLE) / CAST(n_$j AS DOUBLE))
          > $TukeyQ5 * sqrt(mse / 2.0 * (1.0 / CAST(n_$i AS DOUBLE)
            + 1.0 / CAST(n_$j AS DOUBLE)))""").as("significant"))
    pairs.reduce(_ unionByName _)
  }

  private def q425OracleSql: String = {
    val pivotCols = Q421Types.indices.flatMap { g =>
      Seq(
        s"""coalesce(max(CASE WHEN event_type = '${Q421Types(g)}'
            THEN n END), 0) AS n_$g""",
        s"""coalesce(max(CASE WHEN event_type = '${Q421Types(g)}'
            THEN s1 END), 0) AS s1_$g""",
        s"""coalesce(max(CASE WHEN event_type = '${Q421Types(g)}'
            THEN s2 END), 0) AS s2_$g""")
    }.mkString(", ")
    val pairRows = (for { i <- Q421Types.indices
                          j <- Q421Types.indices if i < j } yield
      s"""SELECT '${Q421Types(i)}' AS t1, '${Q421Types(j)}' AS t2,
          CAST(floor((CAST(s1_$i AS DOUBLE) / CAST(n_$i AS DOUBLE)
            - CAST(s1_$j AS DOUBLE) / CAST(n_$j AS DOUBLE)) * 1000)
            AS BIGINT) AS diff_milli,
          CAST(floor($TukeyQ5 * sqrt(mse / 2.0
            * (1.0 / CAST(n_$i AS DOUBLE)
               + 1.0 / CAST(n_$j AS DOUBLE))) * 1000) AS BIGINT)
            AS hsd_milli,
          abs(CAST(s1_$i AS DOUBLE) / CAST(n_$i AS DOUBLE)
            - CAST(s1_$j AS DOUBLE) / CAST(n_$j AS DOUBLE))
            > $TukeyQ5 * sqrt(mse / 2.0 * (1.0 / CAST(n_$i AS DOUBLE)
              + 1.0 / CAST(n_$j AS DOUBLE))) AS significant
        FROM m""").mkString("\n        UNION ALL\n        ")
    s"""WITH census AS (SELECT event_type,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
            AS s1,
          sum(CAST(CAST(floor(value * 100) AS BIGINT) AS HUGEINT)
            * CAST(floor(value * 100) AS BIGINT)) AS s2
        FROM events GROUP BY 1),
        piv AS (SELECT CAST(sum(n) AS BIGINT) AS n_total, $pivotCols
          FROM census),
        m AS (SELECT *, $q425Mse AS mse FROM piv)
        $pairRows"""
  }

  // ------------------------------------------------------------ q416

  /** q416 — NELSON–AALEN CUMULATIVE HAZARD of time-to-first-purchase
    * (the HAZARD-side member completing the survival family: q308's
    * Kaplan–Meier estimates the survival CURVE, q339's log-rank
    * compares two of them — Nelson–Aalen estimates the cumulative
    * hazard H(t) = Σ dₜ/nₜ directly, the quantity hazard-ratio
    * models are built on and the better-behaved estimator under
    * small risk sets). Users enter at their first event day
    * (left truncation, declared) and exit at first purchase; per
    * calendar day index the EXACT {n_risk = entries≤t − purchases<t,
    * d = first purchases at t}; the per-day hazard is quantized
    * FIRST (h_micro = d·10⁶ div n_risk — the declared quantization
    * that keeps the cumulative sum a pure integer fold; summing raw
    * d/n rationals would need a common denominator no engine
    * carries), then cumhaz_micro = Σ h_micro.
    *
    * Scale shape: one user-keyed aggregate (map-side combined) → two
    * day-frame cumsums; everything after rides the ≤31-row day
    * spine. */
  def q416NelsonAalen(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events")
      .groupBy("user_id")
      .agg(min(to_date(col("ts"))).as("entry"),
        min(when(col("event_type") === "purchase", to_date(col("ts"))))
          .as("conv"))
    val spine = t(s, dir, "events")
      .select(to_date(col("ts")).as("day")).distinct()
    val entries = perUser.groupBy(col("entry").as("day"))
      .agg(count(lit(1)).as("e"))
    val convs = perUser.filter(col("conv").isNotNull)
      .groupBy(col("conv").as("day"))
      .agg(count(lit(1)).as("d"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    spine.join(entries, Seq("day"), "left")
      .join(convs, Seq("day"), "left")
      .withColumn("e", coalesce(col("e"), lit(0L)))
      .withColumn("d", coalesce(col("d"), lit(0L)))
      .withColumn("n_risk",
        sum("e").over(w) - coalesce(sum("d").over(wPrev), lit(0L)))
      .withColumn("h_micro", expr(
        "CASE WHEN n_risk = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE d * 1000000 DIV n_risk END"))
      .withColumn("cumhaz_micro", sum("h_micro").over(w))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_risk"), col("d"), col("h_micro"), col("cumhaz_micro"))
  }

  private def q416OracleSql: String =
    """WITH per_user AS (SELECT user_id,
          min(CAST(ts AS DATE)) AS entry,
          min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE)
            END) AS conv
        FROM events GROUP BY 1),
        spine AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
        entries AS (SELECT entry AS day, CAST(count(*) AS BIGINT) AS e
          FROM per_user GROUP BY 1),
        convs AS (SELECT conv AS day, CAST(count(*) AS BIGINT) AS d
          FROM per_user WHERE conv IS NOT NULL GROUP BY 1),
        joined AS (SELECT s.day, coalesce(e.e, 0) AS e,
            coalesce(c.d, 0) AS d
          FROM spine s LEFT JOIN entries e ON s.day = e.day
          LEFT JOIN convs c ON s.day = c.day),
        risked AS (SELECT day, d,
            CAST(sum(e) OVER (ORDER BY day) AS BIGINT)
              - CAST(coalesce(sum(d) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS n_risk
          FROM joined),
        hazard AS (SELECT day, n_risk, d,
            CASE WHEN n_risk = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(d * 1000000 // n_risk AS BIGINT) END AS h_micro
          FROM risked)
        SELECT strftime(day, '%Y-%m-%d') AS day, n_risk, d, h_micro,
          CAST(sum(h_micro) OVER (ORDER BY day) AS BIGINT)
            AS cumhaz_micro
        FROM hazard"""

  // ------------------------------------------------------------ q426

  /** q426 — TWO-SAMPLE ANDERSON–DARLING between purchase and click
    * event values (the TAIL-SENSITIVE completion of the two-sample
    * distribution tests: q321's KS weights every quantile equally and
    * is famously blind to tail divergence, q420's Cramér–von Mises
    * integrates squared distance uniformly — AD re-weights by
    * 1/(F(1−F)), the variance of the empirical process, which is what
    * makes it the test of record when the tails are the question, as
    * they are for heavy-tailed revenue payloads). Scholz–Stephens ties
    * form on the pooled cents grid: A² = (1/(n·m)) Σ_{cells, B<N}
    * l·(N·M − n·B)²/(B·(N−B)) with l the pooled cell count, B the
    * pooled cumulative, M the sample-1 cumulative. Each cell's term is
    * released at micro precision by EXACT integer division in
    * decimal(38,0) (truncation is part of the declared statistic — the
    * cross-engine float-fold discipline: a data-length double Σ would
    * be reduction-order-dependent), so the sum and the final
    * a2_micro = Σ div (n·m) are bit-identical on both engines.
    * Magnitude note (the q266 convention): Spark's `div` narrows the
    * per-cell quotient to BIGINT; under the null the quotient is tiny,
    * and the adversarial bound stays under int64 through ~sf10 —
    * beyond that a wrap would DIVERGE from DuckDB's HUGEINT `//` and
    * fail the differential loudly rather than silently (q492's
    * overflow was caught exactly this way).
    *
    * Scale shape: the q303/q321 value-domain census (cents grid of an
    * Exp(50) payload, ~10⁴ cells at any SF) — one corpus scan map-side
    * combined, ONE ordered window over the census, one scalar
    * aggregate. */
  def q426AndersonDarling(s: SparkSession, dir: String): DataFrame = {
    val grp = t(s, dir, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .select((col("event_type") === "purchase").as("arm"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .groupBy("vc").agg(
        sum(when(col("arm"), 1L).otherwise(0L)).as("na"),
        sum(when(col("arm"), 0L).otherwise(1L)).as("nb"))
    val w = Window.orderBy("vc")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grp.select(col("na") + col("nb") as "l",
      sum("na").over(w).as("cm"),
      sum(col("na") + col("nb")).over(w).as("cb"))
    val tot = grp.agg(sum("na").as("n1"), sum("nb").as("n2"))
    cum.crossJoin(broadcast(tot))
      .filter(col("cb") < col("n1") + col("n2"))
      .select(col("n1"), col("n2"),
        expr("""CAST(l AS DECIMAL(38,0))
             * ((n1 + n2) * cm - n1 * cb) * ((n1 + n2) * cm - n1 * cb)
             * 1000000 div (cb * ((n1 + n2) - cb))""").as("t_micro"))
      .groupBy("n1", "n2")
      .agg(count(lit(1)).as("cells"),
        sum("t_micro").as("tsum"))
      .select(col("n1"), col("n2"), col("cells"),
        expr("""CAST(CAST(tsum AS DECIMAL(38,0))
             div (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)""")
          .as("a2_micro"))
  }

  private def q426OracleSql: String =
    """WITH ev AS (SELECT event_type = 'purchase' AS arm,
          CAST(floor(value * 100) AS BIGINT) AS vc
        FROM events WHERE event_type IN ('purchase', 'click')),
        grp AS (SELECT vc,
          CAST(sum(CASE WHEN arm THEN 1 ELSE 0 END) AS BIGINT) AS na,
          CAST(sum(CASE WHEN arm THEN 0 ELSE 1 END) AS BIGINT) AS nb
          FROM ev GROUP BY vc),
        cum AS (SELECT na + nb AS l,
          CAST(sum(na) OVER (ORDER BY vc) AS BIGINT) AS cm,
          CAST(sum(na + nb) OVER (ORDER BY vc) AS BIGINT) AS cb
          FROM grp),
        tot AS (SELECT CAST(sum(na) AS BIGINT) AS n1,
          CAST(sum(nb) AS BIGINT) AS n2 FROM grp),
        terms AS (SELECT n1, n2,
          CAST(l AS HUGEINT)
            * ((n1 + n2) * cm - n1 * cb) * ((n1 + n2) * cm - n1 * cb)
            * 1000000 // (cb * ((n1 + n2) - cb)) AS t_micro
          FROM cum CROSS JOIN tot WHERE cb < n1 + n2)
        SELECT n1, n2, CAST(count(*) AS BIGINT) AS cells,
          CAST(sum(t_micro) // (CAST(n1 AS HUGEINT) * n2) AS BIGINT)
            AS a2_micro
        FROM terms GROUP BY n1, n2"""

  // ------------------------------------------------------------ q427

  /** q427's treatment count (the five event types). */
  val CochranK = 5L

  /** q427 — COCHRAN'S Q over per-user event-type incidence (the
    * k-correlated-proportions test the pairwise family can't express:
    * q422's McNemar compares TWO binary outcomes on matched users;
    * with five outcomes — "did this user ever click / error /
    * purchase / signup / view" — testing pairs inflates familywise
    * error and ignores the blocking, while Cochran's Q is exactly the
    * Friedman test specialized to binary data and tests all five
    * marginal proportions at once). Q = (k−1)·(k·ΣC_j² − S²) /
    * (k·S − ΣR_u²) with C_j the per-type user counts, R_u the
    * per-user type counts, S = ΣR_u — every operand an EXACT integer
    * off one census, released as q_milli by integer division
    * (NULL-guarded when all users hit all or no types).
    *
    * Scale shape: one corpus scan map-side combined to the per-user
    * flag frame (the q209/q422 per-user census), then one scalar
    * aggregate; the 5 column sums and ΣR² ride the same pass. */
  def q427CochranQ(s: SparkSession, dir: String): DataFrame = {
    val flags = Q421Types.zipWithIndex.map { case (tp, i) =>
      max(when(col("event_type") === tp, 1L).otherwise(0L)).as(s"f$i")
    }
    val per = t(s, dir, "events")
      .groupBy("user_id").agg(flags.head, flags.tail: _*)
      .withColumn("r", Q421Types.indices.map(i => col(s"f$i"))
        .reduce(_ + _))
    val cSums = Q421Types.indices.map(i => sum(s"f$i").as(s"c$i"))
    val g = per.agg(count(lit(1)).as("n_users"),
      (cSums :+ sum("r").as("s") :+
        sum(expr("r * r")).as("sum_r2")): _*)
    val sumC2 = Q421Types.indices
      .map(i => s"CAST(c$i AS DECIMAL(38,0)) * c$i")
      .mkString("(", " + ", ")")
    g.select(col("n_users"), col("s"), col("sum_r2"),
      expr(s"CAST($sumC2 AS BIGINT)").as("sum_c2"),
      expr(s"""CASE WHEN $CochranK * s - sum_r2 = 0 THEN NULL
           ELSE CAST((1000 * (${CochranK - 1})
             * ($CochranK * $sumC2 - CAST(s AS DECIMAL(38,0)) * s))
             div ($CochranK * CAST(s AS DECIMAL(38,0)) - sum_r2)
             AS BIGINT) END""").as("q_milli"))
  }

  private def q427OracleSql: String = {
    val flagCols = Q421Types.zipWithIndex.map { case (tp, i) =>
      s"""CAST(max(CASE WHEN event_type = '$tp' THEN 1 ELSE 0 END)
          AS BIGINT) AS f$i"""
    }.mkString(", ")
    val r = Q421Types.indices.map(i => s"f$i").mkString(" + ")
    val cCols = Q421Types.indices
      .map(i => s"CAST(sum(f$i) AS BIGINT) AS c$i").mkString(", ")
    val sumC2 = Q421Types.indices
      .map(i => s"CAST(c$i AS HUGEINT) * c$i").mkString("(", " + ", ")")
    s"""WITH per AS (SELECT user_id, $flagCols
          FROM events GROUP BY user_id),
        withr AS (SELECT *, $r AS r FROM per),
        g AS (SELECT CAST(count(*) AS BIGINT) AS n_users, $cCols,
          CAST(sum(r) AS BIGINT) AS s,
          CAST(sum(r * r) AS BIGINT) AS sum_r2 FROM withr)
        SELECT n_users, s, sum_r2, CAST($sumC2 AS BIGINT) AS sum_c2,
          CASE WHEN $CochranK * s - sum_r2 = 0 THEN NULL
            ELSE CAST((1000 * ${CochranK - 1}
              * ($CochranK * $sumC2 - CAST(s AS HUGEINT) * s))
              // ($CochranK * CAST(s AS HUGEINT) - sum_r2) AS BIGINT)
            END AS q_milli
        FROM g"""
  }

  // ------------------------------------------------------------ q428

  /** q428 — JONCKHEERE–TERPSTRA ordered-alternative test: does order
    * value trend MONOTONICALLY across the five priority classes
    * 1-URGENT → 5-LOW? (The ordered sibling of q322's Kruskal–Wallis:
    * KW asks "do the groups differ AT ALL" and burns power on
    * non-monotone patterns; when the alternative is ordered — priority
    * classes, dose levels, quality tiers — JT's sum of pairwise
    * Mann–Whitney counts in the hypothesized direction is the standard
    * test.) J is carried DOUBLED so midrank ties stay integral:
    * j2 = Σ_{g<h} Σ_cells c_h·(2·cumlt_g + c_g) over the whole-dollar
    * value census; e2 = n² − Σn_g² (= 4·E[J], so z's numerator is
    * 2·j2 − e2 over 4·σ); z through the no-tie
    * normal variance (n²(2n+3) − Σn_g²(2n_g+3))/72 as ONE shared-text
    * double expression over exact integers (documented: the tie
    * correction is negligible on this near-continuous grid and both
    * engines share the omission by construction).
    *
    * Scale shape: one corpus scan to the (whole-dollar × 5-group)
    * census — value-domain-bounded (~5·10⁵ cells at any SF); ONE
    * ordered window carrying five cumulative sums; one scalar
    * aggregate folding all ten group pairs. */
  def q428Jonckheere(s: SparkSession, dir: String): DataFrame = {
    val census = t(s, dir, "orders")
      .select(expr("CAST(substring(o_orderpriority, 1, 1) AS INT)")
        .as("g"),
        expr("CAST(floor(o_totalprice) AS BIGINT)").as("vd"))
      .groupBy("vd")
      .agg(sum(when(col("g") === 1, 1L).otherwise(0L)).as("c1"),
        (2 to 5).map(g =>
          sum(when(col("g") === g, 1L).otherwise(0L)).as(s"c$g")): _*)
    val w = Window.orderBy("vd")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = census.select(
      (1 to 5).flatMap(g => Seq(col(s"c$g"),
        (sum(s"c$g").over(w) - col(s"c$g")).as(s"lt$g"))): _*)
    val pairTerm = (for {
      g <- 1 to 5; h <- 1 to 5 if g < h
    } yield s"CAST(c$h AS DECIMAL(38,0)) * (2 * lt$g + c$g)")
      .mkString(" + ")
    val agg = cum.agg(
      expr(s"CAST(sum($pairTerm) AS BIGINT)").as("j2"),
      (1 to 5).map(g => sum(s"c$g").as(s"n$g")): _*)
    val n = (1 to 5).map(g => s"n$g").mkString("(", " + ", ")")
    val sn2 = (1 to 5).map(g => s"CAST(n$g AS DECIMAL(38,0)) * n$g")
      .mkString("(", " + ", ")")
    val varnum = s"""(CAST($n AS DECIMAL(38,0)) * $n * (2 * $n + 3)
      - ${(1 to 5).map(g =>
        s"CAST(n$g AS DECIMAL(38,0)) * n$g * (2 * n$g + 3)")
        .mkString("(", " + ", ")")})"""
    agg.select(col("j2"),
      expr(s"CAST(CAST($n AS DECIMAL(38,0)) * $n - $sn2 AS BIGINT)")
        .as("e2"),
      expr(s"CAST($n AS BIGINT)").as("n"),
      expr(s"""CAST(floor((2.0 * j2 - (CAST($n AS DOUBLE)
           * $n - CAST($sn2 AS DOUBLE)))
           / (4.0 * sqrt(CAST($varnum AS DOUBLE) / 72.0)) * 1000000)
           AS BIGINT)""").as("z_micro"))
  }

  private def q428OracleSql: String = {
    val cCols = (1 to 5).map(g =>
      s"CAST(sum(CASE WHEN g = $g THEN 1 ELSE 0 END) AS BIGINT) AS c$g")
      .mkString(", ")
    val ltCols = (1 to 5).map(g =>
      s"""CAST(sum(c$g) OVER (ORDER BY vd) - c$g AS BIGINT)
          AS lt$g""").mkString(", ")
    val pairTerm = (for {
      g <- 1 to 5; h <- 1 to 5 if g < h
    } yield s"CAST(c$h AS HUGEINT) * (2 * lt$g + c$g)").mkString(" + ")
    val nCols = (1 to 5).map(g =>
      s"CAST(sum(c$g) AS BIGINT) AS n$g").mkString(", ")
    val n = (1 to 5).map(g => s"n$g").mkString("(", " + ", ")")
    val sn2 = (1 to 5).map(g => s"CAST(n$g AS HUGEINT) * n$g")
      .mkString("(", " + ", ")")
    val varnum = s"""(CAST($n AS HUGEINT) * $n * (2 * $n + 3)
      - ${(1 to 5).map(g =>
        s"CAST(n$g AS HUGEINT) * n$g * (2 * n$g + 3)")
        .mkString("(", " + ", ")")})"""
    s"""WITH census AS (SELECT
          CAST(floor(o_totalprice) AS BIGINT) AS vd, $cCols
          FROM (SELECT CAST(substring(o_orderpriority, 1, 1) AS INT)
                  AS g, o_totalprice FROM orders) z
          GROUP BY 1),
        cum AS (SELECT ${(1 to 5).map(g => s"c$g").mkString(", ")},
          $ltCols FROM census),
        agg AS (SELECT CAST(sum($pairTerm) AS BIGINT) AS j2, $nCols
          FROM cum)
        SELECT j2,
          CAST(CAST($n AS HUGEINT) * $n - $sn2 AS BIGINT) AS e2,
          CAST($n AS BIGINT) AS n,
          CAST(floor((2.0 * j2 - (CAST($n AS DOUBLE) * $n
            - CAST($sn2 AS DOUBLE)))
            / (4.0 * sqrt(CAST($varnum AS DOUBLE) / 72.0)) * 1000000)
            AS BIGINT) AS z_micro
        FROM agg"""
  }

  // ------------------------------------------------------------ q429

  /** q429 — COCHRAN–ARMITAGE trend test: does the failed-order
    * proportion trend across the five ordered priority classes? (The
    * 2×k ORDERED counterpart of q247's chi-square independence: chi²
    * spends k−1 degrees of freedom on any deviation; when the columns
    * are ordered, the 1-df linear-trend contrast with scores
    * w = 1..5 is uniformly more powerful against monotone
    * alternatives — the standard dose-response / severity-gradient
    * test.) t_num = n·Σwr − R·Σwn on exact integer cells; z = t_num /
    * sqrt(R·(n−R)·(n·Σw²n − (Σwn)²)/n) as ONE shared-text double
    * expression over the same integers (spec replays the brute-force
    * 2×5 table).
    *
    * Scale shape: one corpus scan map-side combined to five sufficient
    * statistics — no census frame at all, a single-row aggregate. */
  def q429CochranArmitage(s: SparkSession, dir: String): DataFrame = {
    val agg = t(s, dir, "orders")
      .select(expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)")
        .as("w"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
      .agg(count(lit(1)).as("n"), sum("y").as("r"),
        sum("w").as("swn"), sum(expr("w * y")).as("swr"),
        sum(expr("w * w")).as("sw2n"))
    agg.select(col("n"), col("r"),
      expr("""CAST(CAST(n AS DECIMAL(38,0)) * swr
           - CAST(r AS DECIMAL(38,0)) * swn AS BIGINT)""").as("t_num"),
      expr("""CAST(floor((CAST(n AS DOUBLE) * swr
           - CAST(r AS DOUBLE) * swn)
           / sqrt(CAST(r AS DOUBLE) * (n - r)
             * (CAST(n AS DOUBLE) * sw2n
                - CAST(swn AS DOUBLE) * swn) / CAST(n AS DOUBLE))
           * 1000000) AS BIGINT)""").as("z_micro"))
  }

  private def q429OracleSql: String =
    """WITH cells AS (SELECT
          CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS w,
          CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders),
        agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(y) AS BIGINT) AS r,
          CAST(sum(w) AS BIGINT) AS swn,
          CAST(sum(w * y) AS BIGINT) AS swr,
          CAST(sum(w * w) AS BIGINT) AS sw2n FROM cells)
        SELECT n, r,
          CAST(CAST(n AS HUGEINT) * swr
            - CAST(r AS HUGEINT) * swn AS BIGINT) AS t_num,
          CAST(floor((CAST(n AS DOUBLE) * swr
            - CAST(r AS DOUBLE) * swn)
            / sqrt(CAST(r AS DOUBLE) * (n - r)
              * (CAST(n AS DOUBLE) * sw2n
                 - CAST(swn AS DOUBLE) * swn) / CAST(n AS DOUBLE))
            * 1000000) AS BIGINT) AS z_micro
        FROM agg"""

  // ------------------------------------------------------------ q430

  /** q430's block design: complete Monday-anchored weeks only (the
    * events generator starts 2024-01-01, a Monday; days 1–28 = 4
    * complete week blocks — the q405 complete-block lesson applied at
    * design time instead of patched after). */
  val PageWeeks = 4L
  val PageK = 7L

  /** q430 — PAGE'S TREND TEST for an ordered weekly profile: does
    * daily event volume trend monotonically across the day-of-week
    * positions Mon → Sun, using the 4 complete weeks as replicated
    * blocks? (The ordered-alternative sibling of q405's Friedman
    * exactly as q428 is to q322: Friedman spends k−1 df on ANY
    * within-block pattern; when the alternative is an ordered profile,
    * Page's L = Σ_j j·R_j against its null moments is the standard
    * test.) Ranks are within-block midranks carried DOUBLED
    * (2·avgrank = 2·cb + m + 1, the q303 integer-midrank identity);
    * the day spine is LEFT-JOINED against the daily census with zero
    * fill so an empty day cannot silently shrink the rank domain (the
    * q405 advisor lesson, applied at design time). Released: {l2, z_micro}
    * with z = (12L − 3bk(k+1)²)/(k(k+1)·√(b(k−1))) — all literals at
    * b = 4, k = 7, one engine-side sqrt of a literal.
    *
    * Scale shape: one corpus scan map-side combined to the 28-row
    * daily census; ranks ride a 28-row window. */
  def q430PageTrend(s: SparkSession, dir: String): DataFrame = {
    val nDays = PageWeeks * PageK
    val spine = s.range(nDays)
      .select(expr("date_add(DATE '2024-01-01', CAST(id AS INT))")
        .as("day"))
    val daily = t(s, dir, "events")
      .select(to_date(col("ts")).as("day"))
      .filter(col("day") < lit("2024-01-29").cast("date"))
      .groupBy("day").agg(count(lit(1)).as("cnt"))
    val cells = spine.join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("cnt"), lit(0L)).as("cnt"),
        expr("datediff(day, DATE '2024-01-01') div 7").as("wk"),
        (expr("datediff(day, DATE '2024-01-01') % 7") + 1).as("dow"))
    val r2 = cells
      .withColumn("rk", rank().over(
        Window.partitionBy("wk").orderBy("cnt")).cast("bigint"))
      .withColumn("m", count(lit(1)).over(
        Window.partitionBy("wk", "cnt")))
      .select(col("dow"), (lit(2L) * col("rk") + col("m") - 1L).as("r2"))
    val zNum = 3 * PageWeeks * PageK * (PageK + 1) * (PageK + 1)
    r2.agg(sum(expr("dow * r2")).as("l2"))
      .select(col("l2"),
        expr(s"""CAST(floor((6.0 * l2 - $zNum)
          / (${PageK * (PageK + 1)}.0
             * sqrt(${PageWeeks * (PageK - 1)}.0)) * 1000000)
          AS BIGINT)""").as("z_micro"))
  }

  private def q430OracleSql: String =
    s"""WITH spine AS (SELECT (DATE '2024-01-01'
          + CAST(x AS INTEGER)) AS day
          FROM generate_series(0, ${PageWeeks * PageK - 1}) AS t(x)),
        daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS cnt
          FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-29'
          GROUP BY 1),
        cells AS (SELECT s.day, coalesce(d.cnt, 0) AS cnt,
          (s.day - DATE '2024-01-01') // 7 AS wk,
          (s.day - DATE '2024-01-01') % 7 + 1 AS dow
          FROM spine s LEFT JOIN daily d ON s.day = d.day),
        ranked AS (SELECT dow,
          2 * CAST(rank() OVER (PARTITION BY wk ORDER BY cnt)
            AS BIGINT)
          + CAST(count(*) OVER (PARTITION BY wk, cnt) AS BIGINT) - 1
            AS r2
          FROM cells)
        SELECT CAST(sum(dow * r2) AS BIGINT) AS l2,
          CAST(floor((6.0 * sum(dow * r2)
            - ${3 * PageWeeks * PageK * (PageK + 1) * (PageK + 1)})
            / (${PageK * (PageK + 1)}.0
               * sqrt(${PageWeeks * (PageK - 1)}.0)) * 1000000)
            AS BIGINT) AS z_micro
        FROM ranked"""

  // ------------------------------------------------------------ q431

  /** Holm step-down critical |z| values ×10⁶ for two-sided α = 0.05
    * over m = 10 hypotheses: step k is tested at α/(m−k+1), i.e.
    * |z| ≥ Φ⁻¹(1 − 0.05/(2·(m−k+1))) — Φ⁻¹ baked as literals so no
    * engine-side inverse-normal runs at query time (the q403 Benford
    * discipline). */
  val HolmCritMicro: Seq[Long] = Seq(2807033L, 2772921L, 2734368L,
    2690109L, 2638257L, 2575829L, 2497705L, 2393979L, 2241402L,
    1959963L)

  /** q431 z text — the q303 [[mwZExpr]] arithmetic parameterized by
    * operand expressions, so all ten pairs share one formula text. */
  private def holmZText(u2: String, n1: String, n2: String,
      ties: String): String =
    s"""((CAST($u2 AS DOUBLE) - CAST($n1 AS DOUBLE) * $n2) / 2.0
       / sqrt(CAST($n1 AS DOUBLE) * $n2 / 12.0
         * (($n1 + $n2 + 1.0)
            - CAST($ties AS DOUBLE) / (CAST($n1 + $n2 AS DOUBLE)
                                       * ($n1 + $n2 - 1.0)))))"""

  /** q431 — HOLM STEP-DOWN over all ten pairwise Mann–Whitney tests
    * between the five event types (the FWER-controlling counterpart
    * of q352's BH-FDR: BH caps the expected false-discovery FRACTION,
    * appropriate for dashboards; when any single false rejection is
    * costly — shipping a treatment — familywise control is the
    * contract, and Holm dominates plain Bonferroni uniformly at no
    * cost). All ten pair z's come off ONE five-way value census: for
    * pair (a,b) the pooled midrank sum is assembled from per-type
    * cumulative counts (2R_a = Σ c_a·(2(lt_a+lt_b) + c_a + c_b + 1)),
    * u2 = 2R_a − n_a(n_a+1), ties Σ((c_a+c_b)³ − (c_a+c_b)) — exact
    * integers, z via the q303 normal approximation. Step-down: rank
    * by |z| desc, reject while every earlier step also rejected
    * (first failure fences all later ranks — [[HolmCritMicro]]).
    *
    * Scale shape: one corpus scan → the ~10⁴-cell cents census; ONE
    * ordered window carrying five cumulative sums; one scalar
    * aggregate folding all ten pairs; the step-down rides a 10-row
    * frame. */
  def q431HolmStepdown(s: SparkSession, dir: String): DataFrame = {
    val k = Q421Types.size
    val census = t(s, dir, "events")
      .select(col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .groupBy("vc")
      .agg(sum(when(col("event_type") === Q421Types.head, 1L)
        .otherwise(0L)).as("c0"),
        (1 until k).map(i =>
          sum(when(col("event_type") === Q421Types(i), 1L)
            .otherwise(0L)).as(s"c$i")): _*)
    val w = Window.orderBy("vc")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = census.select(
      (0 until k).flatMap(i => Seq(col(s"c$i"),
        (sum(s"c$i").over(w) - col(s"c$i")).as(s"lt$i"))): _*)
    val pairs = for (i <- 0 until k; j <- 0 until k if i < j)
      yield (i, j)
    val aggCols =
      pairs.flatMap { case (i, j) => Seq(
        sum(expr(s"c$i * (2 * (lt$i + lt$j) + c$i + c$j + 1)"))
          .as(s"r2_${i}_$j"),
        sum(expr(s"(c$i + c$j) * (c$i + c$j) * (c$i + c$j)"
          + s" - (c$i + c$j)")).as(s"tie_${i}_$j")) } ++
        (0 until k).map(i => sum(s"c$i").as(s"n$i"))
    // the ten pair projections below branch from g — pin the 1-row
    // aggregate so the census window runs once, not ten times
    val g = cum.agg(aggCols.head, aggCols.tail: _*).localCheckpoint(true)
    val rows = pairs.map { case (i, j) =>
      val z = holmZText(s"(r2_${i}_$j - n$i * (n$i + 1))",
        s"n$i", s"n$j", s"tie_${i}_$j")
      g.select(lit(Q421Types(i)).as("ta"), lit(Q421Types(j)).as("tb"),
        expr(s"CAST(floor(abs($z) * 1000000) AS BIGINT)")
          .as("zabs_micro"))
    }.reduce(_ unionByName _)
    val crit = HolmCritMicro.mkString("array(", "L, ", "L)")
    val ranked = rows
      .withColumn("rk", row_number().over(
        Window.orderBy(col("zabs_micro").desc, col("ta"), col("tb")))
        .cast("bigint"))
      .withColumn("crit_micro",
        expr(s"element_at($crit, CAST(rk AS INT))"))
      .withColumn("pass", col("zabs_micro") >= col("crit_micro"))
    ranked
      .withColumn("minfail",
        min(when(!col("pass"), col("rk"))).over(
          Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      .select(col("ta"), col("tb"), col("zabs_micro"), col("rk"),
        col("crit_micro"),
        (col("rk") < coalesce(col("minfail"), lit(11L)))
          .as("holm_reject"))
  }

  private def q431OracleSql: String = {
    val k = Q421Types.size
    val cCols = (0 until k).map(i =>
      s"""CAST(sum(CASE WHEN event_type = '${Q421Types(i)}'
          THEN 1 ELSE 0 END) AS BIGINT) AS c$i""").mkString(", ")
    val ltCols = (0 until k).map(i =>
      s"""CAST(sum(c$i) OVER (ORDER BY vc) - c$i AS BIGINT)
          AS lt$i""").mkString(", ")
    val pairs = for (i <- 0 until k; j <- 0 until k if i < j)
      yield (i, j)
    val aggCols = (pairs.flatMap { case (i, j) => Seq(
      s"""CAST(sum(c$i * (2 * (lt$i + lt$j) + c$i + c$j + 1))
          AS BIGINT) AS r2_${i}_$j""",
      s"""CAST(sum((c$i + c$j) * (c$i + c$j) * (c$i + c$j)
          - (c$i + c$j)) AS BIGINT) AS tie_${i}_$j""") } ++
      (0 until k).map(i => s"CAST(sum(c$i) AS BIGINT) AS n$i"))
      .mkString(", ")
    val pairRows = pairs.map { case (i, j) =>
      val z = holmZText(s"(r2_${i}_$j - n$i * (n$i + 1))",
        s"n$i", s"n$j", s"tie_${i}_$j")
      s"""SELECT '${Q421Types(i)}' AS ta, '${Q421Types(j)}' AS tb,
          CAST(floor(abs($z) * 1000000) AS BIGINT) AS zabs_micro
        FROM g"""
    }.mkString("\n        UNION ALL\n        ")
    val crit = HolmCritMicro.mkString("[", ", ", "]")
    s"""WITH census AS (SELECT CAST(floor(value * 100) AS BIGINT)
          AS vc, $cCols FROM events GROUP BY 1),
        cum AS (SELECT ${(0 until k).map(i => s"c$i").mkString(", ")},
          $ltCols FROM census),
        g AS (SELECT $aggCols FROM cum),
        rows_ AS ($pairRows),
        ranked AS (SELECT *, CAST(row_number() OVER (ORDER BY
            zabs_micro DESC, ta, tb) AS BIGINT) AS rk
          FROM rows_),
        crited AS (SELECT *, CAST($crit[CAST(rk AS INT)] AS BIGINT)
            AS crit_micro,
          zabs_micro >= CAST($crit[CAST(rk AS INT)] AS BIGINT) AS pass
          FROM ranked)
        SELECT ta, tb, zabs_micro, rk, crit_micro,
          rk < coalesce(min(CASE WHEN NOT pass THEN rk END) OVER (),
            11) AS holm_reject
        FROM crited"""
  }

  // ------------------------------------------------------------ q432

  /** q432's PACF depth. */
  val PacfMaxLag = 7

  /** q432's Durbin–Levinson recursion as an ORDERED list of
    * (column, defining expression) pairs over the ACF ratio columns
    * r1..rK — the SAME text drives Spark `withColumn` chains and the
    * oracle's generated CTE chain, so both engines execute the
    * identical IEEE +−×÷ sequence (the q405/q407 fixed-order-chain
    * discipline extended to a recursion: no engine-side libm at all,
    * and no data-length double fold — every operand is a 1-row
    * column). */
  private def pacfDefs: Seq[(String, String)] = {
    val defs = Seq.newBuilder[(String, String)]
    defs += (("p1_1", "r1"))
    for (k <- 2 to PacfMaxLag) {
      val num = (1 until k)
        .map(j => s"p${k - 1}_$j * r${k - j}").mkString(" + ")
      val den = (1 until k)
        .map(j => s"p${k - 1}_$j * r$j").mkString(" + ")
      defs += ((s"p${k}_$k", s"(r$k - ($num)) / (1.0 - ($den))"))
      for (j <- 1 until k)
        defs += ((s"p${k}_$j", s"p${k - 1}_$j - p${k}_$k * p${k - 1}_${k - j}"))
    }
    defs.result()
  }

  /** q432 — PARTIAL AUTOCORRELATION of the daily order-count series
    * at lags 1..7 (the model-identification completion of q304's ACF:
    * ACF alone cannot separate an AR(p) from longer memory because
    * low-lag correlation leaks into every higher lag; PACF — the
    * correlation at lag k AFTER regressing out lags 1..k−1, computed
    * by the Durbin–Levinson recursion on the ACF — is what an
    * order-selection step actually reads, AR(p) showing a sharp
    * cutoff after lag p). ACF moments are EXACT integers (q304's
    * n-scaled centering, decimal(38,0) products); the DL recursion
    * runs on a 1-row frame via [[pacfDefs]]' shared-text chain.
    * Released: {lag, pacf_micro} for lags 1..7. Pairs bridge calendar
    * gaps exactly as q304 does (lag-k pairs are day, day+k — a
    * missing day contributes no pair on either engine).
    *
    * Scale shape: one corpus scan to the ~2400-row daily census; the
    * 7 lag joins ride that census (broadcast lags frame); the
    * recursion is driver-free 1-row column algebra. */
  def q432Pacf(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("x"))
    val g = daily.agg(count(lit(1)).as("n"), sum("x").as("sx"))
    val y = daily.crossJoin(broadcast(g))
      .select(col("day"), (col("n") * col("x") - col("sx")).as("y"))
      .localCheckpoint(true)
    val den = y.agg(sum(expr("CAST(y AS DECIMAL(38,0)) * y"))
      .as("den"))
    val lags = s.range(1, PacfMaxLag + 1L).select(col("id").as("lag"))
    val nums = y.crossJoin(broadcast(lags))
      .select(col("lag"), col("y"),
        date_add(col("day"), col("lag").cast("int")).as("day_k"))
      .join(y.select(col("day").as("day_k"), col("y").as("y_k")),
        "day_k")
      .groupBy("lag")
      .agg(sum(expr("CAST(y AS DECIMAL(38,0)) * y_k")).as("num"))
    val piv = nums.agg(
      max(when(col("lag") === 1, col("num"))).as("num_1"),
      (2 to PacfMaxLag).map(kk =>
        max(when(col("lag") === kk, col("num"))).as(s"num_$kk")): _*)
      .crossJoin(broadcast(den))
    val withR = (1 to PacfMaxLag).foldLeft(piv) { (df, kk) =>
      df.withColumn(s"r$kk",
        expr(s"CAST(num_$kk AS DOUBLE) / CAST(den AS DOUBLE)"))
    }
    val solved = pacfDefs.foldLeft(withR) { case (df, (name, text)) =>
      df.withColumn(name, expr(text))
    }.localCheckpoint(true)
    (1 to PacfMaxLag).map { kk =>
      solved.select(lit(kk.toLong).as("lag"),
        expr(s"CAST(floor(p${kk}_$kk * 1000000) AS BIGINT)")
          .as("pacf_micro"))
    }.reduce(_ unionByName _)
  }

  private def q432OracleSql: String = {
    val numCols = (1 to PacfMaxLag).map(kk =>
      s"max(CASE WHEN lag = $kk THEN num END) AS num_$kk")
      .mkString(", ")
    val rCols = (1 to PacfMaxLag).map(kk =>
      s"CAST(num_$kk AS DOUBLE) / CAST(den AS DOUBLE) AS r$kk")
      .mkString(", ")
    val chain = pacfDefs.zipWithIndex.map { case ((name, text), i) =>
      val prev = if (i == 0) "withr" else s"c$i"
      s"c${i + 1} AS (SELECT *, $text AS $name FROM $prev)"
    }.mkString(",\n        ")
    val last = s"c${pacfDefs.size}"
    val rows = (1 to PacfMaxLag).map(kk =>
      s"""SELECT CAST($kk AS BIGINT) AS lag,
          CAST(floor(p${kk}_$kk * 1000000) AS BIGINT) AS pacf_micro
        FROM $last""").mkString("\n        UNION ALL\n        ")
    s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS x FROM orders GROUP BY 1),
        g AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS BIGINT) AS sx FROM daily),
        y AS (SELECT day, n * x - sx AS y FROM daily CROSS JOIN g),
        den AS (SELECT sum(CAST(y AS HUGEINT) * y) AS den FROM y),
        lags AS (SELECT CAST(x AS BIGINT) AS lag
          FROM generate_series(1, $PacfMaxLag) AS t(x)),
        nums AS (SELECT l.lag, sum(CAST(a.y AS HUGEINT) * b.y) AS num
          FROM y a CROSS JOIN lags l
          JOIN y b ON b.day = a.day + CAST(l.lag AS INTEGER)
          GROUP BY l.lag),
        piv AS (SELECT $numCols FROM nums),
        withr AS (SELECT $rCols FROM piv CROSS JOIN den),
        $chain
        $rows"""
  }

  // ------------------------------------------------------------ q433

  /** q433's trig weight tables: floor(cos/sin(2πk·m/7)·10³) for
    * harmonic k = 1..3, day-of-cycle m = 0..6 — shortest-round-trip
    * literals so no engine-side trig runs at query time (the q403
    * Benford discipline), and INTEGER weights so the day-census fold
    * is an exact decimal sum, not an order-dependent double Σ. */
  val PeriodogramWc: Map[Int, Seq[Long]] = Map(
    1 -> Seq(1000L, 623L, -223L, -901L, -901L, -223L, 623L),
    2 -> Seq(1000L, -223L, -901L, 623L, 623L, -901L, -223L),
    3 -> Seq(1000L, -901L, 623L, -223L, -223L, 623L, -901L))
  val PeriodogramWs: Map[Int, Seq[Long]] = Map(
    1 -> Seq(0L, 781L, 974L, 433L, -434L, -975L, -782L),
    2 -> Seq(0L, 974L, -434L, -782L, 781L, 433L, -975L),
    3 -> Seq(0L, 433L, -782L, 974L, -975L, 781L, -434L))

  private def pgCase(w: Seq[Long]): String =
    w.zipWithIndex.map { case (v, m) => s"WHEN $m THEN $v" }
      .mkString("CASE m ", " ", " ELSE 0 END")

  /** q433 — WEEKLY PERIODOGRAM of daily order revenue: the discrete
    * Fourier power at the period-7 harmonics k = 1..3 (the
    * frequency-domain completion of the seasonality family — q196
    * profiles the weekly MEANS, q265 removes them, q304/q432 measure
    * lagged self-similarity; the periodogram answers "HOW MUCH of the
    * variance is AT the weekly frequency", the quantity a seasonality
    * detector thresholds). Day phase m = (epoch-day offset) mod 7;
    * sc_k = Σ_d rev_d·wc_k[m], ss_k likewise over [[PeriodogramWc]]/
    * [[PeriodogramWs]]'s integer milli-weights — EXACT decimal(38,0)
    * folds (revenue in cents, so sc/ss are exact integers released as
    * BIGINT; fits through ~sf30, the q266 magnitude-note convention),
    * amplitude floor(√(sc² + ss²)) as one shared-text double chain.
    *
    * Scale shape: one corpus scan map-side combined to the ~2400-row
    * daily census; the three harmonics fold in the SAME aggregate
    * pass (six conditional sums), zero joins. */
  def q433Periodogram(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
        .as("rv"))
      .select(col("rv"),
        expr("datediff(day, DATE '1995-01-01') % 7").as("m"))
    val aggs = (1 to 3).flatMap { k => Seq(
      expr(s"""CAST(sum(CAST(rv AS DECIMAL(38,0))
           * (${pgCase(PeriodogramWc(k))})) AS BIGINT)""").as(s"sc$k"),
      expr(s"""CAST(sum(CAST(rv AS DECIMAL(38,0))
           * (${pgCase(PeriodogramWs(k))})) AS BIGINT)""").as(s"ss$k"))
    }
    val g = daily.agg(aggs.head, aggs.tail: _*).localCheckpoint(true)
    (1 to 3).map { k =>
      g.select(lit(k.toLong).as("k"), col(s"sc$k").as("sc"),
        col(s"ss$k").as("ss"),
        expr(s"""CAST(floor(sqrt(CAST(sc$k AS DOUBLE) * sc$k
             + CAST(ss$k AS DOUBLE) * ss$k)) AS BIGINT)""").as("amp"))
    }.reduce(_ unionByName _)
  }

  private def q433OracleSql: String = {
    val aggCols = (1 to 3).flatMap { k => Seq(
      s"""CAST(sum(CAST(rv AS HUGEINT)
          * (${pgCase(PeriodogramWc(k))})) AS BIGINT) AS sc$k""",
      s"""CAST(sum(CAST(rv AS HUGEINT)
          * (${pgCase(PeriodogramWs(k))})) AS BIGINT) AS ss$k""")
    }.mkString(", ")
    val rows = (1 to 3).map(k =>
      s"""SELECT CAST($k AS BIGINT) AS k, sc$k AS sc, ss$k AS ss,
          CAST(floor(sqrt(CAST(sc$k AS DOUBLE) * sc$k
            + CAST(ss$k AS DOUBLE) * ss$k)) AS BIGINT) AS amp
        FROM g""").mkString("\n        UNION ALL\n        ")
    s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
          CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
            AS BIGINT) AS rv
          FROM orders GROUP BY 1),
        phased AS (SELECT rv,
          (day - DATE '1995-01-01') % 7 AS m FROM daily),
        g AS (SELECT $aggCols FROM phased)
        $rows"""
  }

  // ------------------------------------------------------------ q443

  /** q443's closed-form constants as shortest-round-trip literals (the
    * q403 discipline — the only transcendentals are of LITERALS):
    * √6/π for the Gumbel method-of-moments scale, Euler–Mascheroni γ
    * for the location, and −ln(−ln(1−1/12)) for the 12-block return
    * level. */
  val GumbelSqrt6Pi = "0.779696801233676"
  val GumbelGamma = "0.5772156649015329"
  val GumbelC12 = "2.441716398881459"

  /** q443 — GUMBEL BLOCK-MAXIMA fit of monthly peak daily revenue
    * (the extreme-value completion of the risk family: q277's expected
    * shortfall and q297's drawdown describe the OBSERVED tail; capacity
    * planning needs the UNOBSERVED one — "what daily peak should we
    * expect once a year" — and the Fisher–Tippett theorem says block
    * maxima converge to a GEV, with Gumbel the light-tailed member the
    * method-of-moments fit targets: β = s·√6/π, μ = m̄ − γβ). Monthly
    * maxima of the daily revenue census (exact cents); moments exact
    * integers (Σmax, Σmax² in decimal(38,0)); μ, β and the 12-month
    * return level x₁₂ = μ + β·c₁₂ released ×10³ through ONE shared-text
    * double chain (sample sd via sqrt — IEEE-exact).
    *
    * Scale shape: one corpus scan map-side combined to the daily
    * census; block maxima ride the ~80-row month frame; one scalar
    * row. */
  def q443GumbelMaxima(s: SparkSession, dir: String): DataFrame = {
    val blocks = t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
        .as("rv"))
      .groupBy(expr("substring(CAST(day AS STRING), 1, 7)").as("month"))
      .agg(max("rv").as("mx"))
    val g = blocks.agg(count(lit(1)).as("nb"), sum("mx").as("s1"),
      sum(expr("CAST(mx AS DECIMAL(38,0)) * mx")).as("s2"))
    val sd = """sqrt((CAST(s2 AS DOUBLE)
      - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(nb AS DOUBLE)))
      / (CAST(nb AS DOUBLE) - 1.0))"""
    val beta = s"($sd * $GumbelSqrt6Pi)"
    val mu =
      s"(CAST(s1 AS DOUBLE) / CAST(nb AS DOUBLE) - $GumbelGamma * $beta)"
    g.select(col("nb"), col("s1"),
      expr(s"CAST(floor($mu * 1000) AS BIGINT)").as("mu_milli"),
      expr(s"CAST(floor($beta * 1000) AS BIGINT)").as("beta_milli"),
      expr(s"CAST(floor(($mu + $beta * $GumbelC12) * 1000) AS BIGINT)")
        .as("rl12_milli"))
  }

  private def q443OracleSql: String = {
    val sd = """sqrt((CAST(s2 AS DOUBLE)
      - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(nb AS DOUBLE)))
      / (CAST(nb AS DOUBLE) - 1.0))"""
    val beta = s"($sd * $GumbelSqrt6Pi)"
    val mu =
      s"(CAST(s1 AS DOUBLE) / CAST(nb AS DOUBLE) - $GumbelGamma * $beta)"
    s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
          CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
            AS BIGINT) AS rv
          FROM orders GROUP BY 1),
        blocks AS (SELECT substring(CAST(day AS VARCHAR), 1, 7)
            AS month, CAST(max(rv) AS BIGINT) AS mx
          FROM daily GROUP BY 1),
        g AS (SELECT CAST(count(*) AS BIGINT) AS nb,
          CAST(sum(mx) AS BIGINT) AS s1,
          sum(CAST(mx AS HUGEINT) * mx) AS s2 FROM blocks)
        SELECT nb, s1,
          CAST(floor($mu * 1000) AS BIGINT) AS mu_milli,
          CAST(floor($beta * 1000) AS BIGINT) AS beta_milli,
          CAST(floor(($mu + $beta * $GumbelC12) * 1000) AS BIGINT)
            AS rl12_milli
        FROM g"""
  }

  // ------------------------------------------------------------ q444

  /** χ²₀.₉₅ with 7 df, the [[PacfMaxLag]]-lag portmanteau gate. */
  val LjungBoxCrit = "14.067140449340169"

  /** q444 — LJUNG–BOX PORTMANTEAU TEST on the daily order-count series
    * (the WHITENESS gate closing the q304/q432 loop: ACF/PACF show the
    * correlogram, but "is there ANY autocorrelation in the first 7
    * lags" needs the joint test — Q = n(n+2)·Σ r_k²/(n−k), the
    * standard residual-diagnostics gate every forecasting pipeline
    * runs before trusting a model). ACF ratios from the EXACT q304
    * moment census (n-scaled centering, decimal products); Q ×10³ via
    * one shared-text double chain with the 7 terms unrolled in fixed
    * order; reject = Q > [[LjungBoxCrit]] (literal).
    *
    * Scale shape: q432's — one corpus scan to the daily census, 7 lag
    * joins on that census, scalar algebra on a 1-row frame. */
  def q444LjungBox(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("x"))
    val g = daily.agg(count(lit(1)).as("n"), sum("x").as("sx"))
    val y = daily.crossJoin(broadcast(g))
      .select(col("day"), col("n"),
        (col("n") * col("x") - col("sx")).as("y"))
      .localCheckpoint(true)
    val den = y.agg(max("n").as("n"),
      sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("den"))
    val lags = s.range(1, PacfMaxLag + 1L).select(col("id").as("lag"))
    val nums = y.crossJoin(broadcast(lags))
      .select(col("lag"), col("y"),
        date_add(col("day"), col("lag").cast("int")).as("day_k"))
      .join(y.select(col("day").as("day_k"), col("y").as("y_k")),
        "day_k")
      .groupBy("lag")
      .agg(sum(expr("CAST(y AS DECIMAL(38,0)) * y_k")).as("num"))
    val piv = nums.agg(
      max(when(col("lag") === 1, col("num"))).as("num_1"),
      (2 to PacfMaxLag).map(kk =>
        max(when(col("lag") === kk, col("num"))).as(s"num_$kk")): _*)
      .crossJoin(broadcast(den))
    val terms = (1 to PacfMaxLag).map { kk =>
      s"""((CAST(num_$kk AS DOUBLE) / CAST(den AS DOUBLE))
         * (CAST(num_$kk AS DOUBLE) / CAST(den AS DOUBLE))
         / (CAST(n AS DOUBLE) - $kk))"""
    }.mkString(" + ")
    val q = s"(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * ($terms))"
    piv.select(col("n"),
      expr(s"CAST(floor($q * 1000) AS BIGINT)").as("q_milli"),
      expr(s"$q > $LjungBoxCrit").as("reject"))
  }

  private def q444OracleSql: String = {
    val numCols = (1 to PacfMaxLag).map(kk =>
      s"max(CASE WHEN lag = $kk THEN num END) AS num_$kk")
      .mkString(", ")
    val terms = (1 to PacfMaxLag).map { kk =>
      s"""((CAST(num_$kk AS DOUBLE) / CAST(den AS DOUBLE))
         * (CAST(num_$kk AS DOUBLE) / CAST(den AS DOUBLE))
         / (CAST(n AS DOUBLE) - $kk))"""
    }.mkString(" + ")
    val q = s"(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * ($terms))"
    s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS x FROM orders GROUP BY 1),
        g AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS BIGINT) AS sx FROM daily),
        y AS (SELECT day, n, n * x - sx AS y FROM daily CROSS JOIN g),
        den AS (SELECT max(n) AS n,
          sum(CAST(y AS HUGEINT) * y) AS den FROM y),
        lags AS (SELECT CAST(x AS BIGINT) AS lag
          FROM generate_series(1, $PacfMaxLag) AS t(x)),
        nums AS (SELECT l.lag, sum(CAST(a.y AS HUGEINT) * b.y) AS num
          FROM y a CROSS JOIN lags l
          JOIN y b ON b.day = a.day + CAST(l.lag AS INTEGER)
          GROUP BY l.lag),
        piv AS (SELECT $numCols FROM nums)
        SELECT n, CAST(floor($q * 1000) AS BIGINT) AS q_milli,
          $q > $LjungBoxCrit AS reject
        FROM piv CROSS JOIN den"""
  }

  // ------------------------------------------------------------ q446

  /** q446 — POISSON OVERDISPERSION INDEX per event type (the
    * count-data diagnostic that decides which MODEL the rest of the
    * count family may assume: a Poisson arrival stream has VMR = 1 by
    * definition; real traffic is bursty (VMR > 1, q262's burstiness at
    * the token level) or quota-smoothed (VMR < 1), and the dispersion
    * test z = (VMR−1)·√((n−1)/2) is the standard screen before any
    * Poisson-assuming monitor — q394's Gamma–Poisson shrinkage
    * included — is trusted). Per type: daily-count census, exact
    * integer moments, vmr_milli = 1000·n·(n·Σx² − (Σx)²) div
    * ((n−1)·n·Σx) in exact integers, z ×10³ via one shared sqrt chain.
    *
    * Scale shape: one corpus scan map-side combined to the
    * (type × day) census (≤ 5·31 cells); moments and the 5-row panel
    * ride that frame. */
  def q446Dispersion(s: SparkSession, dir: String): DataFrame = {
    val census = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val m = census.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
    m.select(col("event_type"), col("n"), col("sx"),
      expr("""CAST((1000 * (CAST(n AS DECIMAL(38,0)) * sxx
           - CAST(sx AS DECIMAL(38,0)) * sx))
           div ((n - 1) * CAST(sx AS DECIMAL(38,0))) AS BIGINT)""")
        .as("vmr_milli"),
      expr("""CAST(floor(((CAST(n AS DOUBLE) * sxx
           - CAST(sx AS DOUBLE) * sx)
           / ((CAST(n AS DOUBLE) - 1.0) * CAST(sx AS DOUBLE)) - 1.0)
           * sqrt((CAST(n AS DOUBLE) - 1.0) / 2.0) * 1000)
           AS BIGINT)""").as("z_milli"))
  }

  /** q446's oracle, shared with its streaming twin q451. */
  private[graft] def q446OracleSql: String =
    """WITH census AS (SELECT event_type, CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2),
        m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS BIGINT) AS sx,
          sum(CAST(x AS HUGEINT) * x) AS sxx
          FROM census GROUP BY 1)
        SELECT event_type, n, sx,
          CAST((1000 * (CAST(n AS HUGEINT) * sxx
            - CAST(sx AS HUGEINT) * sx))
            // ((n - 1) * CAST(sx AS HUGEINT)) AS BIGINT) AS vmr_milli,
          CAST(floor(((CAST(n AS DOUBLE) * sxx
            - CAST(sx AS DOUBLE) * sx)
            / ((CAST(n AS DOUBLE) - 1.0) * CAST(sx AS DOUBLE)) - 1.0)
            * sqrt((CAST(n AS DOUBLE) - 1.0) / 2.0) * 1000)
            AS BIGINT) AS z_milli
        FROM m"""

  // ------------------------------------------------------------ q460

  /** q460 — WILCOXON SIGNED-RANK test on paired per-user spend before
    * vs after the CUPED split (the PAIRED member completing the
    * nonparametric family: q303's rank-sum assumes independent
    * samples — before/after measurements on the SAME users are
    * paired, and the signed-rank test is the standard robust
    * alternative to the paired t-test, using the magnitudes q422's
    * sign-information-only McNemar discards). Per user: d = post −
    * pre spend cents (exact); zero differences dropped (the standard
    * convention); |d| midranks carried DOUBLED off the value census
    * (the q303 identity), w2p = Σ_{d>0} 2·rank; z through the
    * tie-corrected normal approximation as ONE shared-text chain:
    * z = (w2p − n(n+1)/2) / (2·√(n(n+1)(2n+1)/24 − Σ(t³−t)/48)).
    *
    * Scale shape: one corpus scan → per-user frame (map-side
    * combined) → the |d|-cents value census; ONE ordered census
    * window; one scalar row. */
  def q460WilcoxonSignedRank(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "events")
      .select(col("user_id"),
        (col("ts") < lit(Analytics.CupedSplit).cast("timestamp"))
          .as("pre"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .groupBy("user_id")
      .agg((sum(when(!col("pre"), col("vc")).otherwise(0L))
        - sum(when(col("pre"), col("vc")).otherwise(0L))).as("d"))
      .filter(col("d") =!= 0L)
    val census = per.groupBy(abs(col("d")).as("ad"))
      .agg(sum(when(col("d") > 0, 1L).otherwise(0L)).as("np"),
        count(lit(1)).as("m"))
    val w = Window.orderBy("ad")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = census
      .withColumn("cb", sum("m").over(w) - col("m"))
      .select(col("np"), col("m"),
        (lit(2L) * col("cb") + col("m") + 1L).as("r2"))
    val g = ranked.agg(sum("m").as("n"),
      sum(expr("np * r2")).as("w2p"),
      sum(expr("CAST(m AS DECIMAL(38,0)) * m * m - m")).as("ties"))
    g.select(col("n"), col("w2p"),
      expr("""CAST(floor((CAST(w2p AS DOUBLE)
           - CAST(n AS DOUBLE) * (n + 1.0) / 2.0)
           / (2.0 * sqrt(CAST(n AS DOUBLE) * (n + 1.0)
              * (2.0 * n + 1.0) / 24.0
              - CAST(ties AS DOUBLE) / 48.0)) * 1000000)
           AS BIGINT)""").as("z_micro"))
  }

  private def q460OracleSql: String =
    s"""WITH per AS (SELECT user_id,
          CAST(sum(CASE WHEN ts >= TIMESTAMP
              '${Analytics.CupedSplit} 00:00:00'
            THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)
          - sum(CASE WHEN ts < TIMESTAMP
              '${Analytics.CupedSplit} 00:00:00'
            THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)
            AS BIGINT) AS d
          FROM events GROUP BY user_id),
        nz AS (SELECT d FROM per WHERE d <> 0),
        census AS (SELECT abs(d) AS ad,
          CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS np,
          CAST(count(*) AS BIGINT) AS m
          FROM nz GROUP BY 1),
        ranked AS (SELECT np, m,
          2 * (CAST(sum(m) OVER (ORDER BY ad) AS BIGINT) - m) + m + 1
            AS r2
          FROM census),
        g AS (SELECT CAST(sum(m) AS BIGINT) AS n,
          CAST(sum(np * r2) AS BIGINT) AS w2p,
          CAST(sum(CAST(m AS HUGEINT) * m * m - m) AS BIGINT) AS ties
          FROM ranked)
        SELECT n, w2p,
          CAST(floor((CAST(w2p AS DOUBLE)
            - CAST(n AS DOUBLE) * (n + 1.0) / 2.0)
            / (2.0 * sqrt(CAST(n AS DOUBLE) * (n + 1.0)
               * (2.0 * n + 1.0) / 24.0
               - CAST(ties AS DOUBLE) / 48.0)) * 1000000)
            AS BIGINT) AS z_micro
        FROM g"""

  // ------------------------------------------------------------ q474

  /** q474 — DESIGN EFFECT for user-clustered metrics (the
    * experiment-sizing number the A/B family silently assumes away:
    * event-LEVEL metrics under USER-level randomization are cluster
    * samples, and treating them as iid understates variance by
    * DEFF = 1 + (m₀ − 1)·ρ — the Kish correction every platform
    * applies to effective sample size; ρ is the one-way-ANOVA
    * intraclass correlation over users). Sufficient statistics are
    * EXACT: per-user {n_u, S_u}, with the between-cluster term
    * Σ S_u²·10⁶ div n_u released by declared per-user truncation (the
    * q426 discipline — a data-length double Σ would be
    * order-dependent); MSB/MSW/ρ/DEFF then ride ONE shared-text
    * double chain over {k, N, Σv², S, T, Σn²}. Released:
    * {k_users, n_events, icc_micro, deff_milli}.
    *
    * Scale shape: one corpus scan map-side combined to the per-user
    * frame; one scalar aggregate. */
  def q474DesignEffect(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "events")
      .select(col("user_id"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("nu"), sum("vc").as("su"),
        sum(expr("CAST(vc AS DECIMAL(38,0)) * vc")).as("qu"))
    val g = per.agg(count(lit(1)).as("k"), sum("nu").as("n"),
      sum("su").as("s"), sum("qu").as("q"),
      sum(expr("CAST(nu AS DECIMAL(38,0)) * nu")).as("sn2"),
      sum(expr("""CAST(CAST(su AS DECIMAL(38,0)) * su * 1000000
           div nu AS DECIMAL(38,0))""")).as("t_micro"))
    val msb = """((CAST(t_micro AS DOUBLE) / 1000000.0
      - CAST(s AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
      / (CAST(k AS DOUBLE) - 1.0))"""
    val msw = """((CAST(q AS DOUBLE)
      - CAST(t_micro AS DOUBLE) / 1000000.0)
      / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))"""
    val m0 = """((CAST(n AS DOUBLE)
      - CAST(sn2 AS DOUBLE) / CAST(n AS DOUBLE))
      / (CAST(k AS DOUBLE) - 1.0))"""
    val icc = s"(($msb - $msw) / ($msb + ($m0 - 1.0) * $msw))"
    g.select(col("k").as("k_users"), col("n").as("n_events"),
      expr(s"CAST(floor($icc * 1000000) AS BIGINT)").as("icc_micro"),
      expr(s"""CAST(floor((1.0 + ($m0 - 1.0) * $icc) * 1000)
           AS BIGINT)""").as("deff_milli"))
  }

  private def q474OracleSql: String = {
    val msb = """((CAST(t_micro AS DOUBLE) / 1000000.0
      - CAST(s AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
      / (CAST(k AS DOUBLE) - 1.0))"""
    val msw = """((CAST(q AS DOUBLE)
      - CAST(t_micro AS DOUBLE) / 1000000.0)
      / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))"""
    val m0 = """((CAST(n AS DOUBLE)
      - CAST(sn2 AS DOUBLE) / CAST(n AS DOUBLE))
      / (CAST(k AS DOUBLE) - 1.0))"""
    val icc = s"(($msb - $msw) / ($msb + ($m0 - 1.0) * $msw))"
    s"""WITH per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS nu,
          CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
            AS su,
          sum(CAST(CAST(floor(value * 100) AS BIGINT) AS HUGEINT)
            * CAST(floor(value * 100) AS BIGINT)) AS qu
          FROM events GROUP BY user_id),
        g AS (SELECT CAST(count(*) AS BIGINT) AS k,
          CAST(sum(nu) AS BIGINT) AS n,
          CAST(sum(su) AS BIGINT) AS s,
          sum(qu) AS q,
          sum(CAST(nu AS HUGEINT) * nu) AS sn2,
          sum(CAST(su AS HUGEINT) * su * 1000000 // nu) AS t_micro
          FROM per)
        SELECT k AS k_users, n AS n_events,
          CAST(floor($icc * 1000000) AS BIGINT) AS icc_micro,
          CAST(floor((1.0 + ($m0 - 1.0) * $icc) * 1000) AS BIGINT)
            AS deff_milli
        FROM g"""
  }

  // ------------------------------------------------------------ q480

  /** q480 — NEGATIVE-BINOMIAL FIT of daily counts per event type (the
    * MODEL step q446's dispersion screen gates into: once VMR > 1
    * says Poisson is wrong, the NB is the standard overdispersed
    * count model, and its method-of-moments fit is closed-form —
    * r = m²/(s² − m), p = m/s² — so no iteration and no likelihood
    * surface; a rate-limit or anomaly threshold calibrated on NB
    * quantiles starts from exactly these two numbers). Exact integer
    * moments off the (type × day) census; r ×10³ and p ×10⁶ through
    * ONE shared-text chain, NULL when s² ≤ m (under-dispersed — the
    * NB doesn't exist there and a clamped number would be a lie).
    *
    * Scale shape: q446's — one corpus scan to the ≤155-cell census,
    * 5-row panel. */
  def q480NegbinFit(s: SparkSession, dir: String): DataFrame = {
    val m = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
    // sample variance and mean as shared-text doubles over exact ints
    val mean = "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    val vr = """((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
      / (CAST(n AS DOUBLE) - 1.0))"""
    m.select(col("event_type"), col("n"),
      expr(s"CAST(floor($mean * 1000) AS BIGINT)").as("mean_milli"),
      expr(s"CAST(floor($vr * 1000) AS BIGINT)").as("var_milli"),
      expr(s"""CASE WHEN $vr <= $mean THEN NULL
           ELSE CAST(floor($mean * ($mean / ($vr - $mean)) * 1000)
             AS BIGINT) END""").as("r_milli"),
      expr(s"""CASE WHEN $vr <= $mean THEN NULL
           ELSE CAST(floor($mean / $vr * 1000000) AS BIGINT)
           END""").as("p_ppm"))
  }

  /** q480's oracle, shared with its streaming twin q484. */
  private[graft] def q480OracleSql: String = {
    val mean = "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    val vr = """((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
      / (CAST(n AS DOUBLE) - 1.0))"""
    s"""WITH census AS (SELECT event_type, CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS BIGINT) AS sx,
          sum(CAST(x AS HUGEINT) * x) AS sxx
          FROM census GROUP BY 1)
        SELECT event_type, n,
          CAST(floor($mean * 1000) AS BIGINT) AS mean_milli,
          CAST(floor($vr * 1000) AS BIGINT) AS var_milli,
          CASE WHEN $vr <= $mean THEN NULL
            ELSE CAST(floor($mean * ($mean / ($vr - $mean)) * 1000)
              AS BIGINT) END AS r_milli,
          CASE WHEN $vr <= $mean THEN NULL
            ELSE CAST(floor($mean / $vr * 1000000) AS BIGINT) END
            AS p_ppm
        FROM m"""
  }

  // ------------------------------------------------------------ q492

  /** q492 — WEEKLY SEASONALITY STRENGTH of daily revenue (Hyndman's
    * seasonal-strength readout by the ANOVA identity: the fraction of
    * daily-revenue variance EXPLAINED by day-of-week — η² = SSB/SST
    * over dow groups — what q433's periodogram measures spectrally
    * and q196's profile shows descriptively; the 0..1 scalar a
    * seasonality-aware forecaster gates on). The 7 dow groups are a
    * FIXED domain, so the census pivots to one row and the
    * between-group term Σ S_m²/n_m is a GENERATED fixed-order 7-term
    * double chain over exact integer cells (the q425 discipline — no
    * data-length fold, no integer-division overflow); strength_ppm
    * floored from the shared chain, NULL on a constant series.
    *
    * Scale shape: one fact scan → daily census → 1-row dow pivot →
    * scalar row. */
  def q492SeasonalStrength(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
        .as("rv"))
      .select(col("rv"),
        expr("datediff(day, DATE '1995-01-01') % 7").as("m"))
    val pivotCols = (0 until 7).flatMap { m => Seq(
      sum(when(col("m") === m, 1L).otherwise(0L)).as(s"nm_$m"),
      sum(when(col("m") === m, col("rv")).otherwise(0L)).as(s"sm_$m")) }
    val g = daily.agg(count(lit(1)).as("n"), (pivotCols :+
      sum("rv").as("sx") :+
      sum(expr("CAST(rv AS DECIMAL(38,0)) * rv")).as("sxx")): _*)
    val tTerm = (0 until 7).map(m =>
      s"""(CASE WHEN nm_$m = 0 THEN 0.0
         ELSE CAST(sm_$m AS DOUBLE)
           * (CAST(sm_$m AS DOUBLE) / CAST(nm_$m AS DOUBLE)) END)""")
      .mkString("(", " + ", ")")
    val ssb = s"""($tTerm - CAST(sx AS DOUBLE)
      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))"""
    val sst = """(CAST(sxx AS DOUBLE)
      - CAST(sx AS DOUBLE) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))"""
    g.select(col("n").as("n_days"),
      expr(s"""CASE WHEN $sst <= 0.0 THEN NULL
           ELSE CAST(floor($ssb / $sst * 1000000) AS BIGINT) END""")
        .as("strength_ppm"))
  }

  private def q492OracleSql: String = {
    val pivotCols = (0 until 7).flatMap { m => Seq(
      s"""CAST(sum(CASE WHEN m = $m THEN 1 ELSE 0 END) AS BIGINT)
          AS nm_$m""",
      s"""CAST(sum(CASE WHEN m = $m THEN rv ELSE 0 END) AS BIGINT)
          AS sm_$m""") }.mkString(", ")
    val tTerm = (0 until 7).map(m =>
      s"""(CASE WHEN nm_$m = 0 THEN 0.0
         ELSE CAST(sm_$m AS DOUBLE)
           * (CAST(sm_$m AS DOUBLE) / CAST(nm_$m AS DOUBLE)) END)""")
      .mkString("(", " + ", ")")
    val ssb = s"""($tTerm - CAST(sx AS DOUBLE)
      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))"""
    val sst = """(CAST(sxx AS DOUBLE)
      - CAST(sx AS DOUBLE) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))"""
    s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
          CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
            AS BIGINT) AS rv
          FROM orders GROUP BY 1),
        phased AS (SELECT rv,
          (day - DATE '1995-01-01') % 7 AS m FROM daily),
        g AS (SELECT CAST(count(*) AS BIGINT) AS n, $pivotCols,
          CAST(sum(rv) AS BIGINT) AS sx,
          sum(CAST(rv AS HUGEINT) * rv) AS sxx FROM phased)
        SELECT n AS n_days,
          CASE WHEN $sst <= 0.0 THEN NULL
            ELSE CAST(floor($ssb / $sst * 1000000) AS BIGINT) END
            AS strength_ppm
        FROM g"""
  }

  // ------------------------------------------------------------ maps

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q303_mann_whitney" -> (q303MannWhitney _),
    "q304_acf" -> (q304Acf _),
    "q305_market_share" -> (q305MarketShare _),
    "q306_sorted_neighborhood" -> (q306SortedNeighborhood _),
    "q307_psi" -> (q307Psi _),
    "q308_kaplan_meier" -> (q308KaplanMeier _),
    "q309_mann_kendall" -> (q309MannKendall _),
    "q311_local_supplier_volume" -> (q311LocalSupplierVolume _),
    "q312_promo_revenue" -> (q312PromoRevenue _),
    "q316_hll_registers" -> (q316HllRegisters _),
    "q317_mutual_information" -> (q317MutualInformation _),
    "q320_spearman" -> (q320Spearman _),
    "q321_ks_test" -> (q321KsTest _),
    "q322_kruskal_wallis" -> (q322KruskalWallis _),
    "q326_brown_forsythe" -> (q326BrownForsythe _),
    "q328_shipping_priority" -> (q328ShippingPriority _),
    "q329_returned_items" -> (q329ReturnedItems _),
    "q330_median_ci" -> (q330MedianCi _),
    "q332_interarrival_cv" -> (q332InterarrivalCv _),
    "q333_trimmed_mean" -> (q333TrimmedMean _),
    "q339_logrank" -> (q339LogRank _),
    "q342_diff_in_diff" -> (q342DiffInDiff _),
    "q345_ols_moments" -> (q345OlsMoments _),
    "q349_sax_words" -> (q349SaxWords _),
    "q352_bh_fdr" -> (q352BhFdr _),
    "q354_james_stein" -> (q354JamesStein _),
    "q355_block_bootstrap" -> (q355BlockBootstrap _),
    "q357_permutation_test" -> (q357PermutationTest _),
    "q358_cmh_test" -> (q358CmhTest _),
    "q359_auc_delong" -> (q359AucDelong _),
    "q360_trade_volume" -> (q360TradeVolume _),
    "q383_jarque_bera" -> (q383JarqueBera _),
    "q361_small_qty_revenue" -> (q361SmallQtyRevenue _),
    "q362_large_orders" -> (q362LargeOrders _),
    "q363_disjunctive_revenue" -> (q363DisjunctiveRevenue _),
    "q364_lapsed_customers" -> (q364LapsedCustomers _),
    "q389_theil_sen" -> (q389TheilSen _),
    "q390_jackknife_ratio" -> (q390JackknifeRatio _),
    "q391_hoeffding_gate" -> (q391HoeffdingGate _),
    "q392_wald_iv" -> (q392WaldIv _),
    "q393_uplift_quintiles" -> (q393UpliftQuintiles _),
    "q394_gamma_poisson_eb" -> (q394GammaPoissonEb _),
    "q403_benford" -> (q403Benford _),
    "q405_friedman" -> (q405Friedman _),
    "q408_runs_test" -> (q408RunsTest _),
    "q411_successive_halving" -> (q411SuccessiveHalving _),
    "q415_pocock" -> (q415Pocock _),
    "q416_nelson_aalen" -> (q416NelsonAalen _),
    "q418_obrien_fleming" -> (q418ObrienFleming _),
    "q420_cramer_von_mises" -> (q420CramerVonMises _),
    "q421_welch_anova" -> (q421WelchAnova _),
    "q422_mcnemar" -> (q422Mcnemar _),
    "q423_effect_sizes" -> (q423EffectSizes _),
    "q425_tukey_hsd" -> (q425TukeyHsd _),
    "q426_anderson_darling" -> (q426AndersonDarling _),
    "q427_cochran_q" -> (q427CochranQ _),
    "q428_jonckheere" -> (q428Jonckheere _),
    "q429_cochran_armitage" -> (q429CochranArmitage _),
    "q430_page_trend" -> (q430PageTrend _),
    "q431_holm_stepdown" -> (q431HolmStepdown _),
    "q432_pacf" -> (q432Pacf _),
    "q433_periodogram" -> (q433Periodogram _),
    "q443_gumbel_maxima" -> (q443GumbelMaxima _),
    "q460_wilcoxon_signed_rank" -> (q460WilcoxonSignedRank _),
    "q474_design_effect" -> (q474DesignEffect _),
    "q480_negbin_fit" -> (q480NegbinFit _),
    "q492_seasonal_strength" -> (q492SeasonalStrength _),
    "q444_ljung_box" -> (q444LjungBox _),
    "q446_dispersion" -> (q446Dispersion _))

  val oracleSql: Map[String, String] = Map(
    "q303_mann_whitney" -> q303OracleSql,
    "q304_acf" -> q304OracleSql,
    "q305_market_share" -> q305OracleSql,
    "q306_sorted_neighborhood" -> q306OracleSql,
    "q307_psi" -> q307OracleSql,
    "q308_kaplan_meier" -> q308OracleSql,
    "q309_mann_kendall" -> q309OracleSql,
    "q311_local_supplier_volume" -> q311OracleSql,
    "q312_promo_revenue" -> q312OracleSql,
    "q316_hll_registers" -> q316OracleSql,
    "q317_mutual_information" -> q317OracleSql,
    "q320_spearman" -> q320OracleSql,
    "q321_ks_test" -> q321OracleSql,
    "q322_kruskal_wallis" -> q322OracleSql,
    "q326_brown_forsythe" -> q326OracleSql,
    "q328_shipping_priority" -> q328OracleSql,
    "q329_returned_items" -> q329OracleSql,
    "q330_median_ci" -> q330OracleSql,
    "q332_interarrival_cv" -> q332OracleSql,
    "q333_trimmed_mean" -> q333OracleSql,
    "q339_logrank" -> q339OracleSql,
    "q342_diff_in_diff" -> q342OracleSql,
    "q345_ols_moments" -> q345OracleSql,
    "q349_sax_words" -> q349OracleSql,
    "q352_bh_fdr" -> q352OracleSql,
    "q354_james_stein" -> q354OracleSql,
    "q355_block_bootstrap" -> q355OracleSql,
    "q357_permutation_test" -> q357OracleSql,
    "q358_cmh_test" -> q358OracleSql,
    "q359_auc_delong" -> q359OracleSql,
    "q360_trade_volume" -> q360OracleSql,
    "q383_jarque_bera" -> q383OracleSql,
    "q361_small_qty_revenue" -> q361OracleSql,
    "q362_large_orders" -> q362OracleSql,
    "q363_disjunctive_revenue" -> q363OracleSql,
    "q364_lapsed_customers" -> q364OracleSql,
    "q389_theil_sen" -> q389OracleSql,
    "q390_jackknife_ratio" -> q390OracleSql,
    "q391_hoeffding_gate" -> q391OracleSql,
    "q392_wald_iv" -> q392OracleSql,
    "q393_uplift_quintiles" -> q393OracleSql,
    "q394_gamma_poisson_eb" -> q394OracleSql,
    "q403_benford" -> q403OracleSql,
    "q405_friedman" -> q405OracleSql,
    "q408_runs_test" -> q408OracleSql,
    "q411_successive_halving" -> q411OracleSql,
    "q415_pocock" -> q415OracleSql,
    "q416_nelson_aalen" -> q416OracleSql,
    "q418_obrien_fleming" -> q418OracleSql,
    "q420_cramer_von_mises" -> q420OracleSql,
    "q421_welch_anova" -> q421OracleSql,
    "q422_mcnemar" -> q422OracleSql,
    "q423_effect_sizes" -> q423OracleSql,
    "q425_tukey_hsd" -> q425OracleSql,
    "q426_anderson_darling" -> q426OracleSql,
    "q427_cochran_q" -> q427OracleSql,
    "q428_jonckheere" -> q428OracleSql,
    "q429_cochran_armitage" -> q429OracleSql,
    "q430_page_trend" -> q430OracleSql,
    "q431_holm_stepdown" -> q431OracleSql,
    "q432_pacf" -> q432OracleSql,
    "q433_periodogram" -> q433OracleSql,
    "q443_gumbel_maxima" -> q443OracleSql,
    "q460_wilcoxon_signed_rank" -> q460OracleSql,
    "q474_design_effect" -> q474OracleSql,
    "q480_negbin_fit" -> q480OracleSql,
    "q492_seasonal_strength" -> q492OracleSql,
    "q444_ljung_box" -> q444OracleSql,
    "q446_dispersion" -> q446OracleSql)
}
