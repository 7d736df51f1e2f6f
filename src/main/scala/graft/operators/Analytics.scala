package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables.{load => t}

/** Round-7 analytics surface: statistical profiling (correlation matrix),
  * mergeable cardinality sketches (KMV), sequence-pattern mining, graph
  * link prediction, curriculum ordering, and grid-bucketed spatial joins —
  * declared with the same contract as [[Extensions]] (Spark impl + DuckDB
  * oracle, deterministic multiset output, integer/decimal-exact arithmetic
  * wherever a float fold would diverge across engines).
  */
object Analytics {

  /** Exact decimal(38,0) sum — the order-independent carrier for sums of
    * integer products that overflow BIGINT (price-cents² sums reach ~6e19
    * at sf0.1; DuckDB's sum(BIGINT) widens to int128 natively, Spark gets
    * the same exactness from decimal). */
  private def s38(c: Column): Column = sum(c.cast("decimal(38,0)"))

  /** q180 — PEARSON CORRELATION MATRIX over the lineitem measures
    * (quantity, price-cents, discount-cents, tax-cents): every pairwise
    * corr from ONE corpus pass of exact integer sums — the feature-drift
    * and redundancy screen a feature pipeline runs before training, and
    * the textbook case for sufficient statistics: corr needs only
    * {n, Σx, Σx², Σxy}, all associative/commutative.
    *
    * Determinism: inputs are scaled to exact integers (cents via the
    * repo's floor(x·100) convention — identical double multiply then
    * floor on both engines); every sum is EXACT (decimal(38,0) here,
    * int128 in DuckDB), so the final corr is one double expression over
    * identical integers — no float fold order anywhere.
    *
    * Scale shape: one map-side-combined aggregate (15 sums) → a single
    * row; the 6-pair matrix is unpivoted from that row with `stack`.
    * Zero joins, zero windows; at 100 TB this is a single scan with a
    * 15-number partial per task — the cheapest possible full-corpus
    * statistic. Degenerate (zero-variance) columns would yield corr NULL
    * via 0/0 — none exist in these measures, and the differential pins
    * the live behavior. */
  def q180CorrMatrix(s: SparkSession, dir: String): DataFrame = {
    val m = t(s, dir, "lineitem").select(
      col("l_quantity").cast("bigint").as("q"),
      floor(col("l_extendedprice") * 100).as("p"),
      floor(col("l_discount") * 100).as("d"),
      floor(col("l_tax") * 100).as("tx"))
    val agg = m.agg(
      count(lit(1)).as("n"),
      s38(col("q")).as("sq"), s38(col("p")).as("sp"),
      s38(col("d")).as("sd"), s38(col("tx")).as("st"),
      s38(col("q") * col("q")).as("sqq"),
      s38(col("p") * col("p")).as("spp"),
      s38(col("d") * col("d")).as("sdd"),
      s38(col("tx") * col("tx")).as("stt"),
      s38(col("q") * col("p")).as("sqp"),
      s38(col("q") * col("d")).as("sqd"),
      s38(col("q") * col("tx")).as("sqt"),
      s38(col("p") * col("d")).as("spd"),
      s38(col("p") * col("tx")).as("spt"),
      s38(col("d") * col("tx")).as("sdt"))
    agg.selectExpr("n",
      """stack(6,
        'quantity', 'price',    n*sqp - sq*sp, n*sqq - sq*sq, n*spp - sp*sp,
        'quantity', 'discount', n*sqd - sq*sd, n*sqq - sq*sq, n*sdd - sd*sd,
        'quantity', 'tax',      n*sqt - sq*st, n*sqq - sq*sq, n*stt - st*st,
        'price', 'discount',    n*spd - sp*sd, n*spp - sp*sp, n*sdd - sd*sd,
        'price', 'tax',         n*spt - sp*st, n*spp - sp*sp, n*stt - st*st,
        'discount', 'tax',      n*sdt - sd*st, n*sdd - sd*sd, n*stt - st*st)
        AS (x_col, y_col, cov, vx, vy)""")
      .select(col("x_col"), col("y_col"), col("n"),
        (col("cov").cast("double") /
          sqrt(col("vx").cast("double") * col("vy").cast("double")))
          .as("corr"))
  }

  private def q180OracleSql: String =
    """WITH m AS (SELECT CAST(l_quantity AS BIGINT) AS q,
          CAST(floor(l_extendedprice*100) AS BIGINT) AS p,
          CAST(floor(l_discount*100) AS BIGINT) AS d,
          CAST(floor(l_tax*100) AS BIGINT) AS t
        FROM lineitem),
       s AS (SELECT count(*) n, sum(q) sq, sum(p) sp, sum(d) sd, sum(t) st,
          sum(q*q) sqq, sum(p*p) spp, sum(d*d) sdd, sum(t*t) stt,
          sum(q*p) sqp, sum(q*d) sqd, sum(q*t) sqt,
          sum(p*d) spd, sum(p*t) spt, sum(d*t) sdt FROM m),
       pairs AS (
        SELECT 'quantity' xc, 'price' yc, n,
               n*sqp - sq*sp AS cov, n*sqq-sq*sq vx, n*spp-sp*sp vy FROM s
        UNION ALL SELECT 'quantity','discount', n, n*sqd - sq*sd,
               n*sqq-sq*sq, n*sdd-sd*sd FROM s
        UNION ALL SELECT 'quantity','tax', n, n*sqt - sq*st,
               n*sqq-sq*sq, n*stt-st*st FROM s
        UNION ALL SELECT 'price','discount', n, n*spd - sp*sd,
               n*spp-sp*sp, n*sdd-sd*sd FROM s
        UNION ALL SELECT 'price','tax', n, n*spt - sp*st,
               n*spp-sp*sp, n*stt-st*st FROM s
        UNION ALL SELECT 'discount','tax', n, n*sdt - sd*st,
               n*sdd-sd*sd, n*stt-st*st FROM s)
       SELECT xc AS x_col, yc AS y_col, CAST(n AS BIGINT) AS n,
         CAST(cov AS DOUBLE)/sqrt(CAST(vx AS DOUBLE)*CAST(vy AS DOUBLE))
           AS corr
       FROM pairs"""

  /** KMV sketch size (number of minimum hash values kept). */
  val KmvK = 64

  /** Hash-space modulus for the portable LCG (2^31 − 1, prime — the LCG
    * x → (a·x + c) mod m is a BIJECTION on [0, m) for any a not divisible
    * by m, so distinct keys keep distinct hashes and the sketch's
    * "n_exact" column doubles as the true distinct count).
    *
    * Precondition: the bijection argument (and so "n_exact is the true
    * distinct count") holds only while the packed key
    * user_id·512 + dayofyear stays below m, i.e. user_id < ~4.19M
    * (2^31 div 512). Beyond that the hash is still uniform but packed
    * keys can collide mod m; the estimate stands, the exactness claim
    * doesn't. A hash of exactly 0 is possible (one key per residue), so
    * every divisor position guards with greatest(hv, 1) on both
    * engines — Spark's `div 0` is NULL while DuckDB's `// 0` raises. */
  val KmvM = 2147483647L

  /** q181 — K-MINIMUM-VALUES distinct sketch (daily-active-user
    * cardinality per event type): keep the K smallest hash values of the
    * distinct (user, day-of-year) keys; the Kth smallest estimates the
    * cardinality as (K−1)·M / h_K — the classic mergeable KMV/bottom-k
    * sketch (union = merge-and-truncate, the distributed-friendly
    * property HLL shares but with exact integer arithmetic a
    * differential can pin). Groups smaller than K fall back to the exact
    * count (the sketch IS the set below K).
    *
    * Portability: the repo's LCG hash convention (q159's constants) over
    * the injectively-packed key user·512 + dayofyear — identical integer
    * hashes on both engines, integer floor-division estimate.
    *
    * Scale shape: one distinct on (type, hash) — a map-side-combinable
    * exchange — then a window over the DISTINCT frame only. At 100 TB
    * the window's per-type sort is replaced by the mergeable form: a
    * typed Aggregator holding a K-sized max-heap per type (the
    * [[graft.functions.TopKAggregator]] shape, inverted), merged
    * associatively across partitions; output stays K rows per type. */
  def q181KmvSketch(s: SparkSession, dir: String): DataFrame = {
    val h = t(s, dir, "events")
      .select(col("event_type"),
        expr(s"((user_id * 512 + dayofyear(ts)) * 1103515245 + 12345)" +
          s" % $KmvM").as("hv"))
      .distinct()
    val r = h
      .withColumn("rn",
        row_number().over(
          Window.partitionBy("event_type").orderBy("hv")).cast("bigint"))
      .withColumn("nd",
        count(lit(1)).over(Window.partitionBy("event_type")))
    r.filter(col("rn") === least(lit(KmvK.toLong), col("nd")))
      .select(col("event_type"), col("nd").as("n_exact"),
        col("hv").cast("bigint").as("kth_hash"),
        when(col("nd") >= KmvK,
          expr(s"(CAST(${KmvK - 1} AS BIGINT) * ${KmvM - 1})" +
            " div greatest(hv, 1)"))
          .otherwise(col("nd")).as("est_distinct"))
  }

  private def q181OracleSql: String =
    s"""WITH h AS (SELECT DISTINCT event_type,
          ((user_id * 512 + dayofyear(ts)) * 1103515245 + 12345)
            % $KmvM AS hv
        FROM events),
        r AS (SELECT event_type, hv,
          row_number() OVER (PARTITION BY event_type ORDER BY hv) rn,
          count(*) OVER (PARTITION BY event_type) nd FROM h)
        SELECT event_type, CAST(nd AS BIGINT) AS n_exact,
          CAST(hv AS BIGINT) AS kth_hash,
          CAST(CASE WHEN nd >= $KmvK
            THEN (CAST(${KmvK - 1} AS BIGINT) * ${KmvM - 1})
              // greatest(hv, 1)
            ELSE nd END AS BIGINT) AS est_distinct
        FROM r WHERE rn = least($KmvK, nd)"""

  /** q182 — CONTIGUOUS SEQUENCE-PATTERN mining: per user, how many times
    * the exact consecutive run view→click→purchase occurs in the
    * event-time-ordered session string (no other event in between —
    * stricter than q134's funnel, which allows gaps, and than q150's
    * single-step transitions). Each event type's distinct first letter
    * encodes the sequence as a string; occurrences are counted by exact
    * substring census (len − len(replace))/|pat| — pure integer string
    * arithmetic, no regex-engine semantics to diverge across engines.
    *
    * Ordering rides q92's collision-free integer key (epoch-second ×
    * 10⁷ + event_id), so same-second events order identically on both
    * engines.
    *
    * Scale shape: ONE user-keyed exchange; the per-user string is built
    * in-row (array_sort of the collected (key, char) structs — the sort
    * is per-user-sized, not a window over the corpus) and scanned
    * in-row. Per-user state is bounded by that user's event count; a
    * production trajectory miner shards long histories by epoch before
    * the collect (q89's chunking discipline). */
  def q182SeqPattern(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("user_id"),
        substring(col("event_type"), 1, 1).as("c"),
        (unix_timestamp(col("ts")) * Extensions.AttribKeyScale
          + col("event_id")).as("k"))
      .groupBy("user_id")
      .agg(collect_list(struct(col("k"), col("c"))).as("lst"))
      .withColumn("sq",
        expr("array_join(transform(array_sort(lst), x -> x.c), '')"))
      .select(col("user_id"),
        expr("CAST((length(sq) - length(replace(sq, 'vcp', ''))) div 3" +
          " AS BIGINT)").as("n_matches"))
      .filter(col("n_matches") > 0)

  private def q182OracleSql: String =
    s"""WITH e AS (SELECT user_id, left(event_type, 1) c,
          (epoch_ns(ts) // 1000000000) * ${Extensions.AttribKeyScale}
            + event_id AS k
        FROM events),
        s AS (SELECT user_id, string_agg(c, '' ORDER BY k) AS sq
              FROM e GROUP BY user_id)
        SELECT user_id,
          CAST((len(sq) - len(replace(sq, 'vcp', ''))) // 3 AS BIGINT)
            AS n_matches
        FROM s WHERE len(sq) - len(replace(sq, 'vcp', '')) > 0"""

  /** Edge threshold for q183 in percent of the mean pair weight: a pair
    * of brands is an EDGE when its co-basket count is ≥ 1.04× the mean
    * over all observed pairs. Relative (scale-free) by construction —
    * the same graph density at every sf, no absolute count to re-tune. */
  val LinkEdgePct = 104L

  /** q183 — GRAPH LINK PREDICTION by common-neighbor scoring on the
    * brand co-purchase graph: brands are nodes, edges are pairs whose
    * co-basket support clears [[LinkEdgePct]] of the mean; for every
    * NON-edge pair, the number of shared neighbors — the classic
    * link-prediction baseline (common neighbors; Adamic-Adar divides
    * each wedge by log-degree) and the candidate generator a
    * recommender or knowledge-graph completion pipeline runs at scale.
    *
    * Scale shape: the co-basket census is q177's machinery (one
    * basket-keyed exchange, in-row pair generation bounded by basket
    * size — never a corpus self-join); everything after rides the
    * DOMAIN-sized pair frame (≤ |brands|²). Wedges are generated
    * IN-ROW from each node's sorted adjacency array (bounded by
    * degree², the same orientation discipline as q105's triangles);
    * the edge filter is a broadcast 1-row stat attach; the final
    * anti-join runs on the wedge frame. At crawl scale the adjacency
    * build adds a degree cap before pair generation. */
  /** Per-order sorted brand baskets (q177's build) — shared by q183's
    * graph construction and q193's itemset mining. */
  private def brandBaskets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey"))
      .join(broadcast(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand").as("b"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy("ok").agg(sort_array(collect_set("b")).as("bs"))

  /** The q183 brand co-purchase graph: (edges, und) where `edges` is the
    * oriented (b1 < b2) strong-pair set cleared by [[LinkEdgePct]] and
    * `und` its undirected adjacency — shared by q183's common-neighbor
    * scoring and q397's Adamic–Adar weighting. */
  private def brandGraph(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val baskets = brandBaskets(s, dir)
    val pair = baskets
      .select(explode(expr("flatten(transform(bs, (x, i) -> " +
        "transform(slice(bs, i + 2, size(bs)), " +
        "y -> struct(x AS b1, y AS b2))))")).as("p"))
      .select(col("p.b1"), col("p.b2"))
      .groupBy("b1", "b2").agg(count(lit(1)).as("n12"))
    val tot = pair.agg(count(lit(1)).as("np"), sum("n12").as("tw"))
    val edges = pair.crossJoin(broadcast(tot))
      .filter(col("n12") * col("np") * 100 >= col("tw") * LinkEdgePct)
      .select("b1", "b2")
    val und = edges.select(col("b1").as("src"), col("b2").as("nbr"))
      .unionByName(edges.select(col("b2").as("src"), col("b1").as("nbr")))
    (edges, und)
  }

  def q183LinkPrediction(s: SparkSession, dir: String): DataFrame = {
    val (edges, und) = brandGraph(s, dir)
    val wedges = und.groupBy("src")
      .agg(sort_array(collect_set("nbr")).as("ns"))
      .select(explode(expr("flatten(transform(ns, (x, i) -> " +
        "transform(slice(ns, i + 2, size(ns)), " +
        "y -> struct(x AS a, y AS b))))")).as("w"))
      .select(col("w.a"), col("w.b"))
      .groupBy("a", "b").agg(count(lit(1)).as("common"))
    wedges.join(edges,
        wedges("a") === edges("b1") && wedges("b") === edges("b2"),
        "left_anti")
      .select(col("a").as("b1"), col("b").as("b2"), col("common"))
  }

  private def q183OracleSql: String =
    s"""WITH bi AS (SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        pair AS (SELECT x.b AS b1, y.b AS b2,
            CAST(count(*) AS BIGINT) AS n12
          FROM bi x JOIN bi y ON x.ok = y.ok AND x.b < y.b GROUP BY 1, 2),
        tot AS (SELECT CAST(count(*) AS BIGINT) np,
                       CAST(sum(n12) AS BIGINT) tw FROM pair),
        eu AS (SELECT b1, b2 FROM pair, tot
               WHERE n12 * np * 100 >= tw * $LinkEdgePct),
        und AS (SELECT b1 AS src, b2 AS nbr FROM eu
                UNION ALL SELECT b2, b1 FROM eu),
        wedge AS (SELECT u1.nbr a, u2.nbr b, count(*) cn
          FROM und u1 JOIN und u2
          ON u1.src = u2.src AND u1.nbr < u2.nbr GROUP BY 1, 2)
        SELECT w.a AS b1, w.b AS b2, CAST(w.cn AS BIGINT) AS common
        FROM wedge w ANTI JOIN eu ON w.a = eu.b1 AND w.b = eu.b2"""

  /** Source-index stride in q184's order key — must exceed the source
    * count (20 here) so (rank, source) packs injectively. */
  val CurriculumStride = 100L

  /** q184 — CURRICULUM ORDERING with source interleaving: every document
    * gets a position in a single global training order that (a) goes
    * easy→hard (rank within source by length — the curriculum axis) and
    * (b) round-robins across sources at every difficulty level (no
    * thousand-doc runs of one source — the mixing a streaming data
    * loader needs). The order is emitted as an ORDER KEY
    * (rank·stride + source_index), not a materialized global row
    * number: the key is order-isomorphic to the interleaved curriculum,
    * and computing it needs NO global sort — the difference between a
    * per-source window and pulling the corpus through one partition.
    * Writing shards in key ranges (q172's assignment) yields the
    * curriculum order on read.
    *
    * Scale shape: ONE source-keyed exchange for the rank window; the
    * source index is a domain-sized (20-row) broadcast dim. The only
    * unpartitioned window in the plan runs over DISTINCT sources —
    * domain-sized, the q132 discipline. */
  def q184CurriculumOrder(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val rk = docs.select("doc_id", "source", "n_chars")
      .withColumn("rank_in_source",
        row_number().over(
          Window.partitionBy("source").orderBy("n_chars", "doc_id"))
          .cast("bigint"))
    val si = docs.select("source").distinct()
      .withColumn("sidx",
        (row_number().over(Window.orderBy("source")) - 1).cast("bigint"))
    rk.join(broadcast(si), "source")
      .select(col("doc_id"), col("source"), col("rank_in_source"),
        (col("rank_in_source") * CurriculumStride + col("sidx"))
          .as("order_key"))
  }

  private def q184OracleSql: String =
    s"""WITH r AS (SELECT doc_id, source,
          row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
            AS rk
        FROM documents),
        si AS (SELECT source, row_number() OVER (ORDER BY source) - 1
            AS sidx
          FROM (SELECT DISTINCT source FROM documents))
        SELECT r.doc_id, r.source, CAST(r.rk AS BIGINT) AS rank_in_source,
          CAST(r.rk * $CurriculumStride + si.sidx AS BIGINT) AS order_key
        FROM r JOIN si ON r.source = si.source"""

  /** q185 grid-join radius (squared) and cell size. Cell = radius is the
    * standard fixed-grid choice: all true pairs land in the 3×3 cell
    * neighborhood. */
  val GridR2 = 625L
  val GridCell = 25L

  /** q185 — GRID-BUCKETED SPATIAL SELF-JOIN (fixed-grid ε-neighborhood):
    * all part pairs within L2 distance 25 in the (price-cents,
    * scaled-size) plane — the distance-join every spatial/embedding-2D
    * workload needs, in the shape that scales: bucket each point into a
    * radius-sized grid cell, fan each point out to its 3×3 neighbor
    * cells on ONE side only, equi-join on the cell key, then verify the
    * exact distance in-row. A pair is emitted exactly once: the probe
    * copy that lands on its partner's home cell meets it there, and the
    * id1 < id2 canonicalization kills the mirror.
    *
    * Scale shape: the candidate set is |cell density|-bounded, not
    * |corpus|² — the fan-out is a constant 9×, the join is a plain hash
    * equi-join on (gx, gy), and the exact filter is integer arithmetic
    * in-row. Skewed cells (hot price points) salt like any hot join key
    * (q65/q163); at 100 TB the cell key doubles as the layout
    * partitioning (q129's z-order), making the join co-located. */
  /** The part table as integer points in the (price-cents, scaled-size)
    * plane — the shared input of q185/q186. */
  private def gridPoints(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
      col("p_partkey").as("id"),
      floor(col("p_retailprice") * 100).as("x"),
      (col("p_size") * 20).cast("bigint").as("y"))

  /** Canonical (id1 < id2) ε-neighborhood pairs via the fixed grid —
    * the library core shared by q185 (the join itself) and q186 (the
    * density labeling built on it). */
  private[graft] def gridPairs(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    val cells = gridPoints(s, dir)
      .withColumn("cx", expr(s"x div $GridCell"))
      .withColumn("cy", expr(s"y div $GridCell"))
    val off = Seq((-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 0), (0, 1),
      (1, -1), (1, 0), (1, 1)).toDF("dx", "dy")
    val probe = cells.crossJoin(broadcast(off))
      .select(col("id"), col("x"), col("y"),
        (col("cx") + col("dx")).as("gx"), (col("cy") + col("dy")).as("gy"))
    val home = cells.select(col("id").as("id2"), col("x").as("x2"),
      col("y").as("y2"), col("cx"), col("cy"))
    probe.join(home,
        probe("gx") === home("cx") && probe("gy") === home("cy") &&
          probe("id") < home("id2"))
      .withColumn("dist2",
        (col("x") - col("x2")) * (col("x") - col("x2")) +
          (col("y") - col("y2")) * (col("y") - col("y2")))
      .filter(col("dist2") <= GridR2)
      .select(col("id").as("id1"), col("id2"), col("dist2"))
  }

  def q185GridJoin(s: SparkSession, dir: String): DataFrame =
    gridPairs(s, dir)

  private def q185OracleSql: String =
    s"""WITH pt AS (SELECT p_partkey id,
          CAST(floor(p_retailprice*100) AS BIGINT) x,
          CAST(p_size*20 AS BIGINT) y FROM part),
        cells AS (SELECT *, x // $GridCell cx, y // $GridCell cy FROM pt),
        off AS (SELECT dx, dy FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
          (0,0),(0,1),(1,-1),(1,0),(1,1)) v(dx, dy)),
        probe AS (SELECT id, x, y, cx+dx AS gx, cy+dy AS gy
          FROM cells CROSS JOIN off),
        cand AS (SELECT p.id id1, c.id id2,
            (p.x-c.x)*(p.x-c.x)+(p.y-c.y)*(p.y-c.y) AS d2
          FROM probe p JOIN cells c
          ON p.gx = c.cx AND p.gy = c.cy AND p.id < c.id)
        SELECT id1, id2, CAST(d2 AS BIGINT) AS dist2 FROM cand
        WHERE d2 <= $GridR2"""

  /** DBSCAN core threshold: a point is CORE when its ε-neighborhood
    * (including itself) holds at least this many points. */
  val DbscanMinPts = 4L

  /** q186 — DBSCAN DENSITY LABELING (core / border / noise) over the
    * q185 grid: every point's ε-neighbor count from the canonical pair
    * set, core points by [[DbscanMinPts]], border points as non-core
    * points adjacent to a core, the rest noise — the density-clustering
    * front half (full DBSCAN = connected components over core-core
    * edges, which is q63's large-star/small-star machinery applied to
    * this edge set; the labeling is the part with per-point semantics a
    * differential can pin row-by-row).
    *
    * Scale shape: everything rides the grid join's cell-bounded pair
    * set — the neighbor census is one groupBy over it (map-side
    * combined), the border test is one semi-join of the pair set
    * against the (much smaller) core set, and the final label attach is
    * a left join back to the full point set. No step touches |corpus|²
    * beyond the pair volume itself (output-bound by the q185 volume
    * law). The pair frame is deliberately NOT checkpointed for its two
    * consumers: q185's pairs are output-scale (446M rows at sf10) and
    * the grid join that makes them is cell-local and cheap — the
    * round-12 endurance run measured the materialize-once version at
    * 515 s vs q185's own 19 s, i.e. the q177 checkpoint discipline
    * INVERTS when the shared frame is output-sized and regeneration is
    * a scan-speed pass; recomputing per consumer is the 100 TB-correct
    * trade here. */
  def q186DbscanLabels(s: SparkSession, dir: String): DataFrame = {
    val pairs = gridPairs(s, dir)
    val und = pairs.select(col("id1").as("id"), col("id2").as("nbr"))
      .unionByName(pairs.select(col("id2").as("id"), col("id1").as("nbr")))
    val cnt = gridPoints(s, dir).select("id")
      .join(und.groupBy("id").agg(count(lit(1)).as("n")), Seq("id"), "left")
      .select(col("id"), coalesce(col("n"), lit(0L)).as("n_nbrs"))
    val core = cnt.filter(col("n_nbrs") + 1 >= DbscanMinPts).select("id")
    val border = und
      .join(core.withColumnRenamed("id", "cid"),
        col("nbr") === col("cid"), "left_semi")
      .select("id").distinct()
      .join(core, Seq("id"), "left_anti")
      .withColumn("is_border", lit(true))
    cnt.join(border, Seq("id"), "left")
      .select(col("id"), col("n_nbrs"),
        when(col("n_nbrs") + 1 >= DbscanMinPts, "core")
          .when(col("is_border"), "border")
          .otherwise("noise").as("label"))
  }

  private def q186OracleSql: String =
    s"""WITH pt AS (SELECT p_partkey id,
          CAST(floor(p_retailprice*100) AS BIGINT) x,
          CAST(p_size*20 AS BIGINT) y FROM part),
        cells AS (SELECT *, x // $GridCell cx, y // $GridCell cy FROM pt),
        off AS (SELECT dx, dy FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
          (0,0),(0,1),(1,-1),(1,0),(1,1)) v(dx, dy)),
        probe AS (SELECT id, x, y, cx+dx AS gx, cy+dy AS gy
          FROM cells CROSS JOIN off),
        pairs AS (SELECT p.id id1, c.id id2
          FROM probe p JOIN cells c
          ON p.gx = c.cx AND p.gy = c.cy AND p.id < c.id
          WHERE (p.x-c.x)*(p.x-c.x)+(p.y-c.y)*(p.y-c.y) <= $GridR2),
        und AS (SELECT id1 AS id, id2 AS nbr FROM pairs
                UNION ALL SELECT id2, id1 FROM pairs),
        cnt AS (SELECT p.id, COALESCE(u.n, 0) AS n_nbrs
          FROM pt p LEFT JOIN (SELECT id, CAST(count(*) AS BIGINT) n
            FROM und GROUP BY id) u ON p.id = u.id),
        core AS (SELECT id FROM cnt WHERE n_nbrs + 1 >= $DbscanMinPts),
        border AS (SELECT DISTINCT u.id FROM und u
          JOIN core c ON u.nbr = c.id
          WHERE u.id NOT IN (SELECT id FROM core))
        SELECT c.id, c.n_nbrs,
          CASE WHEN c.n_nbrs + 1 >= $DbscanMinPts THEN 'core'
               WHEN b.id IS NOT NULL THEN 'border'
               ELSE 'noise' END AS label
        FROM cnt c LEFT JOIN border b ON c.id = b.id"""

  /** q187 — EXACT ROC AUC by rank-sum over a value census (Mann-Whitney
    * U with midrank tie handling): label = purchase vs not, score =
    * value-cents; AUC = U / (n⁺·n⁻) computed as the exact integer
    * U₂ = Σ_s c⁺(s)·(2·Σ_{s'<s} c⁻(s') + c⁻(s)) over 2·n⁺·n⁻ — the
    * doubled form keeps tie midranks integral, so the only float is the
    * final division of two exact integers. The model-eval metric every
    * training pipeline computes, in the form that doesn't sort the
    * corpus: rank sums need only the per-score census and its prefix
    * sums.
    *
    * Scale shape: ONE map-side-combined census groupBy (output =
    * |distinct scores| ≤ 10⁴ here — domain-sized, not corpus-sized);
    * the prefix sum is an unpartitioned window over that census, safe
    * by the q132 domain-size argument; the result is one row. */
  def q187AucExact(s: SparkSession, dir: String): DataFrame = {
    val census = t(s, dir, "events")
      .select(floor(col("value") * 100).as("sc"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .groupBy("sc")
      .agg(sum("pos").as("cp"), (count(lit(1)) - sum("pos")).as("cn"))
    val w = Window.orderBy("sc")
      .rowsBetween(Window.unboundedPreceding, -1)
    census
      .withColumn("cnb", coalesce(sum("cn").over(w), lit(0L)))
      .agg(
        sum(col("cp") * (col("cnb") * 2 + col("cn"))).as("u2"),
        sum("cp").as("npos"), sum("cn").as("nneg"))
      .select(col("u2"), col("npos"), col("nneg"),
        (col("u2").cast("double") /
          (lit(2.0) * col("npos") * col("nneg"))).as("auc"))
  }

  private def q187OracleSql: String =
    """WITH v AS (SELECT CAST(floor(value*100) AS BIGINT) sc,
          CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END pos
        FROM events),
        census AS (SELECT sc, CAST(sum(pos) AS BIGINT) cp,
            CAST(count(*) - sum(pos) AS BIGINT) cn
          FROM v GROUP BY sc),
        cum AS (SELECT sc, cp, cn,
            CAST(COALESCE(sum(cn) OVER (ORDER BY sc
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cnb
          FROM census),
        agg AS (SELECT CAST(sum(cp*(2*cnb + cn)) AS BIGINT) u2,
            CAST(sum(cp) AS BIGINT) npos, CAST(sum(cn) AS BIGINT) nneg
          FROM cum)
        SELECT u2, npos, nneg,
          CAST(u2 AS DOUBLE) / (2.0 * npos * nneg) AS auc
        FROM agg"""

  /** q189 — KMV SKETCH SET ALGEBRA (the property that makes bottom-k
    * sketches the distributed choice): the click-days and purchase-days
    * sketches of q181's keyed universe, MERGED — union estimate from
    * the bottom-K of the merged stream (merge-and-truncate, exactly how
    * shard sketches combine at 100 TB), intersection via the ratio
    * estimator ρ/K · |A∪B|est where ρ counts sketch keys below the
    * union threshold θ present in BOTH sketches. Exact counts ride
    * along for the differential (and double as the accuracy report).
    * All integer arithmetic: θ, the floor-division union estimate, and
    * the ρ-scaled intersection.
    *
    * Scale shape: two filtered distincts (map-side combinable), then
    * every downstream frame is K-sized (64 rows) — broadcast joins all
    * the way; the exact-count companions are the same distincts
    * re-aggregated. At production scale the bottom-K per shard merges
    * associatively instead of re-sorting the distinct frame. */
  def q189KmvSetOps(s: SparkSession, dir: String): DataFrame = {
    def sketch(typ: String): DataFrame =
      t(s, dir, "events").filter(col("event_type") === typ)
        .select(expr(s"((user_id * 512 + dayofyear(ts)) * 1103515245" +
          s" + 12345) % $KmvM").as("hv"))
        .distinct()
    val ka = sketch("click").localCheckpoint(true)
    val kb = sketch("purchase").localCheckpoint(true)
    def bottomK(df: DataFrame): DataFrame =
      df.withColumn("rn", row_number().over(Window.orderBy("hv")))
        .filter(col("rn") <= KmvK).drop("rn")
    val sa = bottomK(ka)
    val sb = bottomK(kb)
    val u = bottomK(sa.unionByName(sb).distinct())
    val theta = u.agg(max("hv").as("th"),
      count(lit(1)).cast("bigint").as("k"))
    val rho = sa.join(sb, "hv").crossJoin(broadcast(theta))
      .filter(col("hv") <= col("th"))
      .agg(count(lit(1)).as("rho"))
    val exact = ka.agg(count(lit(1)).as("n_a_exact"))
      .crossJoin(kb.agg(count(lit(1)).as("n_b_exact")))
      .crossJoin(ka.join(kb, "hv").agg(count(lit(1)).as("n_inter_exact")))
    theta.crossJoin(broadcast(rho)).crossJoin(broadcast(exact))
      .withColumn("union_est",
        expr(s"(CAST(${KmvK - 1} AS BIGINT) * ${KmvM - 1})" +
          " div greatest(th, 1)"))
      .select(col("k"), col("th").cast("bigint").as("theta"),
        col("union_est"), col("rho"),
        expr(s"rho * union_est div $KmvK").as("inter_est"),
        col("n_a_exact"), col("n_b_exact"), col("n_inter_exact"))
  }

  private def q189OracleSql: String =
    s"""WITH ka AS (SELECT DISTINCT ((user_id * 512 + dayofyear(ts))
            * 1103515245 + 12345) % $KmvM AS hv
          FROM events WHERE event_type = 'click'),
        kb AS (SELECT DISTINCT ((user_id * 512 + dayofyear(ts))
            * 1103515245 + 12345) % $KmvM AS hv
          FROM events WHERE event_type = 'purchase'),
        sa AS (SELECT hv FROM ka ORDER BY hv LIMIT $KmvK),
        sb AS (SELECT hv FROM kb ORDER BY hv LIMIT $KmvK),
        m AS (SELECT DISTINCT hv FROM
          (SELECT hv FROM sa UNION ALL SELECT hv FROM sb)),
        u AS (SELECT hv FROM m ORDER BY hv LIMIT $KmvK),
        theta AS (SELECT max(hv) AS th, CAST(count(*) AS BIGINT) AS k
          FROM u),
        rho AS (SELECT CAST(count(*) AS BIGINT) rho
          FROM sa JOIN sb USING (hv), theta WHERE sa.hv <= theta.th)
        SELECT t.k, CAST(t.th AS BIGINT) AS theta,
          CAST((CAST(${KmvK - 1} AS BIGINT) * ${KmvM - 1})
            // greatest(t.th, 1) AS BIGINT) AS union_est,
          r.rho,
          CAST(r.rho * ((CAST(${KmvK - 1} AS BIGINT) * ${KmvM - 1})
            // greatest(t.th, 1)) // $KmvK AS BIGINT) AS inter_est,
          (SELECT CAST(count(*) AS BIGINT) FROM ka) AS n_a_exact,
          (SELECT CAST(count(*) AS BIGINT) FROM kb) AS n_b_exact,
          (SELECT CAST(count(*) AS BIGINT) FROM ka JOIN kb USING (hv))
            AS n_inter_exact
        FROM theta t, rho r"""

  /** q190 — one-way ANOVA F screen (does value differ by event type?):
    * between/within mean squares from per-group sufficient statistics
    * {n_g, ΣS_g, ΣS_g²} over value-cents. The per-group quadratic term
    * S_g²/n_g is taken as the exact integer floor S_g² div n_g BEFORE
    * summing — summing doubles across groups would make the result
    * depend on each engine's fold order, while integer terms sum
    * exactly; the ≤1-unit-per-group floor bias is part of the declared
    * statistic (documented fixed-point semantics, the q171/q175
    * convention). The only floats are the final two divisions of exact
    * integers.
    *
    * Scale shape: one map-side-combined groupBy (5 rows out), one
    * 5-row total — the same single-scan sufficient-statistics shape as
    * q180; corpus-size-independent beyond the scan. */
  def q190AnovaF(s: SparkSession, dir: String): DataFrame = {
    val g = t(s, dir, "events")
      .select(col("event_type"),
        floor(col("value") * 100).as("v"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("v").as("sv"),
        sum(expr("CAST(v * v AS DECIMAL(38,0))")).as("svv"))
      .select(col("n"), col("sv"), col("svv"),
        expr("CAST(sv AS DECIMAL(38,0)) * sv div n").as("tg"))
    g.agg(sum("n").as("nn"), sum("sv").as("s"),
        sum("svv").as("ss"), count(lit(1)).as("k"),
        sum("tg").as("sg2"))
      .select(col("nn").as("n"), col("k"),
        ((col("sg2").cast("double") -
          col("s").cast("double") * col("s").cast("double") /
            col("nn").cast("double")) / (col("k") - 1).cast("double"))
          .as("msb"),
        ((col("ss").cast("double") - col("sg2").cast("double")) /
          (col("nn") - col("k")).cast("double")).as("msw"))
      .withColumn("f_stat", col("msb") / col("msw"))
  }

  private def q190OracleSql: String =
    """WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
          CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) sv,
          CAST(sum(CAST(floor(value*100) AS HUGEINT)
            * CAST(floor(value*100) AS HUGEINT)) AS HUGEINT) svv
        FROM events GROUP BY event_type),
        g2 AS (SELECT n, sv, svv,
          (CAST(sv AS HUGEINT) * sv) // n AS tg FROM g),
        tot AS (SELECT CAST(sum(n) AS BIGINT) nn,
            CAST(sum(sv) AS HUGEINT) s, CAST(sum(svv) AS HUGEINT) ss,
            CAST(count(*) AS BIGINT) k, CAST(sum(tg) AS HUGEINT) sg2
          FROM g2)
        SELECT nn AS n, k,
          (CAST(sg2 AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)
            / CAST(nn AS DOUBLE)) / (k - 1) AS msb,
          (CAST(ss AS DOUBLE) - CAST(sg2 AS DOUBLE)) / (nn - k) AS msw,
          ((CAST(sg2 AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)
            / CAST(nn AS DOUBLE)) / (k - 1))
            / ((CAST(ss AS DOUBLE) - CAST(sg2 AS DOUBLE)) / (nn - k))
            AS f_stat
        FROM tot"""

  /** Mutual-rank cutoff for q191. */
  val RnnTopK = 3

  /** q191 cell-ladder base: zero extra planes through [[RnnCellBase]]
    * vectors, one more per doubling. 2000 = the full sf0.1 corpus, so
    * every declared-correctness SF runs at 0 planes — one cell per
    * label, results IDENTICAL to the original whole-label declaration —
    * while each doubling beyond keeps expected in-cell size per label
    * ≈ RnnCellBase/|labels| = 200 vectors. */
  val RnnCellBase = 2000L

  /** q191 — RECIPROCAL NEAREST NEIGHBORS within adaptive cells: pairs
    * of embeddings that are EACH in the other's cosine top-K among
    * their cell's vectors — the mutual-rank filter that turns
    * one-directional similarity into high-precision match candidates
    * (re-ranking for entity resolution, SemDeDup-style pair
    * confirmation, citation matching). Output is ids + both integer
    * ranks — the established ids-only float discipline (cosines are
    * compared, never emitted), with the vec_dot/list_dot_product fold
    * keeping comparisons bit-identical across engines and ties broken
    * on vec_id.
    *
    * CELLS (re-declared round 12): cell = label × masked-SRP bucket on
    * the q501 prefix-stable plane family, plane count from the
    * [[RnnCellBase]] count ladder (0 planes through n = 2000 — every
    * declared-correctness corpus — so sf ≤ 0.1 results are IDENTICAL
    * to the original label-blocked declaration). Why: labels are a
    * FIXED partition (10 of them at every SF), so whole-label blocking
    * is Σ|label|² = Θ(n²/10) — the round-12 sf10 endurance run
    * measured the cliff at 1083 s / 1239× per 100× data, the suite's
    * worst superlinear residue. With one plane per doubling the
    * in-cell volume is n·(RnnCellBase/|labels|)/2 per direction —
    * LINEAR per decade, the q501/q127 adaptive-geometry rule applied
    * to the mutual-rank verb. Semantics note: mutual-top-K-in-cell is
    * the production form of this verb anyway — at 100 TB the cells
    * come from IVF assignment, and RNN re-ranks within a cell; the
    * SRP split only tightens "among the label's vectors" to "among
    * the label's vectors on the same side of log₂(n/2000)
    * hyperplanes", trading recall for the linear growth law exactly
    * like q501 vs q119.
    *
    * Scale shape: one 1-row broadcast geometry attach, a (label,
    * cell)-keyed self-join with ladder-bounded per-key volume, the
    * rank window riding the join's own v1-keyed partitioning, and the
    * mutuality test as an equi-join of the K-bounded directed frame
    * against itself. */
  def q191ReciprocalNn(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.vec_dot
    val base = t(s, dir, "embeddings")
      .withColumn("ed", col("embedding").cast("array<double>"))
      .withColumn("nrm", sqrt(vec_dot(col("ed"), col("ed"))))
      .select("vec_id", "label", "ed", "nrm")
    val geom = base.agg(count(lit(1)).as("n_vecs"))
      .withColumn("n_planes", expr(Dedup.srpPlaneLadder(RnnCellBase, 0)))
    val e = base.crossJoin(broadcast(geom))
      .withColumn("cell", expr(Dedup.adaptiveBucketExpr("spark")))
      .select("vec_id", "label", "ed", "nrm", "cell")
    val a = e.select(col("vec_id").as("v1"), col("label"), col("cell"),
      col("ed").as("ed1"), col("nrm").as("n1"))
    val b = e.select(col("vec_id").as("v2"), col("label"), col("cell"),
      col("ed").as("ed2"), col("nrm").as("n2"))
    val top = a.join(b, Seq("label", "cell"))
      .filter(col("v1") =!= col("v2"))
      .select(col("v1"), col("v2"),
        (vec_dot(col("ed1"), col("ed2")) / (col("n1") * col("n2")))
          .as("cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("v1").orderBy(col("cos").desc, col("v2")))
        .cast("bigint"))
      .filter(col("rn") <= RnnTopK)
      .select("v1", "v2", "rn")
    val t1 = top.select(col("v1"), col("v2"), col("rn").as("r12"))
    val t2 = top.select(col("v1").as("w1"), col("v2").as("w2"),
      col("rn").as("r21"))
    t1.join(t2, col("v1") === col("w2") && col("v2") === col("w1"))
      .filter(col("v1") < col("v2"))
      .select(col("v1").as("vec_id_1"), col("v2").as("vec_id_2"),
        col("r12"), col("r21"))
  }

  private def q191OracleSql: String =
    s"""WITH e0 AS (SELECT vec_id, label,
          CAST(embedding AS DOUBLE[]) ed FROM embeddings),
        geom AS (SELECT ${Dedup.srpPlaneLadder(RnnCellBase, 0)}
            AS n_planes
          FROM (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM e0)),
        e AS (SELECT vec_id, label, ed,
          sqrt(list_dot_product(ed, ed)) nrm,
          ${Dedup.adaptiveBucketExpr("duck")} AS cell
        FROM e0, geom),
        dir AS (SELECT a.vec_id v1, b.vec_id v2,
            row_number() OVER (PARTITION BY a.vec_id
              ORDER BY list_dot_product(a.ed, b.ed)/(a.nrm*b.nrm) DESC,
                b.vec_id) rn
          FROM e a JOIN e b
          ON a.label = b.label AND a.cell = b.cell
            AND a.vec_id <> b.vec_id),
        top AS (SELECT v1, v2, CAST(rn AS BIGINT) rn FROM dir
                WHERE rn <= $RnnTopK)
        SELECT t1.v1 AS vec_id_1, t1.v2 AS vec_id_2,
               t1.rn AS r12, t2.rn AS r21
        FROM top t1 JOIN top t2 ON t1.v1 = t2.v2 AND t1.v2 = t2.v1
        WHERE t1.v1 < t1.v2"""

  /** q192 half-life in days (decay = one bit shift per period). */
  val DecayPeriodDays = 7L

  /** q192 — TIME-DECAYED ENGAGEMENT score per user: each event's
    * value-cents halved for every [[DecayPeriodDays]] of age at the
    * corpus's newest day, summed per user — recency weighting for
    * ranking/retention features, in PURE INTEGER arithmetic: decay is a
    * right-shift by age div period (exact powers of two), so no exp()
    * transcendental whose libm rounding could diverge across engines —
    * the q171/q190 fixed-point discipline applied to time decay.
    *
    * Scale shape: one broadcast 1-row max-date attach, one map-side-
    * combined user groupBy — the decayed sum is associative because the
    * reference date is FIXED (corpus max), the property that lets
    * partials combine; a production variant pins the reference date per
    * run for the same reason. */
  def q192DecayedEngagement(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val md = ev.agg(max(col("ts").cast("date")).as("m"))
    ev.crossJoin(broadcast(md))
      .select(col("user_id"),
        floor(col("value") * 100).as("vc"),
        datediff(col("m"), col("ts").cast("date")).as("age"))
      .groupBy("user_id")
      // shift clamped to 63: Spark's shiftright masks the count to 6 bits
      // (shift 64 == shift 0) while DuckDB's >> yields 0 past 63 — ages
      // beyond 63 decay periods must saturate identically on both engines
      .agg(sum(expr(
        s"shiftright(vc, CAST(least(age div $DecayPeriodDays, 63) AS INT))"))
        .as("decayed_cents"),
        count(lit(1)).as("n_events"))
  }

  private def q192OracleSql: String =
    s"""WITH md AS (SELECT max(CAST(ts AS DATE)) m FROM events),
        e AS (SELECT user_id, CAST(floor(value*100) AS BIGINT) vc,
            date_diff('day', CAST(ts AS DATE), md.m) AS age
          FROM events, md)
        SELECT user_id,
          CAST(sum(vc >> CAST(least(age // $DecayPeriodDays, 63) AS INT))
            AS BIGINT) AS decayed_cents,
          CAST(count(*) AS BIGINT) AS n_events
        FROM e GROUP BY user_id"""

  /** q193 support denominator: a triple is frequent when it appears in
    * at least n_baskets / this many baskets. */
  val TriSupportDenom = 2000L

  /** q193 — FREQUENT 3-ITEMSETS (the Apriori step past q177's pairs):
    * brand triples co-occurring in at least n_baskets/[[TriSupportDenom]]
    * orders — the market-basket layer where naive enumeration starts to
    * hurt and the in-row discipline starts to matter: triples are
    * generated INSIDE each basket row from the sorted brand set
    * (bounded by C(|basket|,3) — ≤286 for the 13-brand max here), never
    * by the three-way basket self-join the oracle runs, which
    * re-shuffles the corpus twice more per arity. One basket-keyed
    * exchange total, identical to the pair census; the census output is
    * DOMAIN-bounded (≤ C(25,3) brand triples).
    *
    * At production arity the Apriori prune (only extend frequent
    * (k−1)-sets) cuts the in-row generation; here every triple fits the
    * census, so the prune is the support filter itself. */
  def q193FrequentTriples(s: SparkSession, dir: String): DataFrame = {
    val baskets = brandBaskets(s, dir)
    val nb = baskets.agg(count(lit(1)).as("n_baskets"))
    baskets
      .select(explode(expr(
        "flatten(flatten(transform(bs, (x, i) -> " +
          "transform(slice(bs, i + 2, size(bs)), (y, j) -> " +
          "transform(slice(bs, i + j + 3, size(bs)), " +
          "z -> struct(x AS b1, y AS b2, z AS b3))))))")).as("t"))
      .select(col("t.b1"), col("t.b2"), col("t.b3"))
      .groupBy("b1", "b2", "b3").agg(count(lit(1)).as("n123"))
      .crossJoin(broadcast(nb))
      .filter(col("n123") * TriSupportDenom >= col("n_baskets"))
      .select("b1", "b2", "b3", "n123")
  }

  private def q193OracleSql: String =
    s"""WITH bi AS (SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        nb AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_baskets
               FROM bi),
        tri AS (SELECT x.b b1, y.b b2, z.b b3,
            CAST(count(*) AS BIGINT) n123
          FROM bi x JOIN bi y ON x.ok = y.ok AND x.b < y.b
                    JOIN bi z ON y.ok = z.ok AND y.b < z.b
          GROUP BY 1, 2, 3)
        SELECT b1, b2, b3, n123 FROM tri, nb
        WHERE n123 * $TriSupportDenom >= n_baskets"""

  /** q194 — EDIT-DISTANCE-1 SIMILARITY JOIN via deletion-neighborhood
    * signatures (FastSS): every supplier-name pair within Levenshtein
    * distance 1, found WITHOUT the quadratic all-pairs scan — each
    * string fans out to itself plus its one-character deletions, pairs
    * sharing any signature are candidates (substitutions meet at the
    * same-position deletion, insert/delete pairs meet at the shorter
    * string itself), and the exact distance verifies in-row. The
    * record-linkage / entity-resolution candidate join over identifier
    * columns with typo-class noise.
    *
    * Scale shape: the signature fan-out is ×(len+1) — bounded, in-row;
    * candidates come from ONE hash equi-join on the signature key, and
    * verification is an in-row levenshtein (both engines' standard DP,
    * identical integers). Candidate volume is Σ per-signature-bucket²
    * — data-dependent like any LSH; hot signatures (shared long
    * prefixes) salt or cap like q71's df-capped bands. */
  def q194TypoJoin(s: SparkSession, dir: String): DataFrame = {
    val w = t(s, dir, "supplier").select(col("s_name").as("w")).distinct()
    val sigs = w.select(col("w"), explode(expr(
      "concat(array(w), transform(sequence(1, length(w)), " +
        "i -> concat(substring(w, 1, i - 1)," +
        " substring(w, i + 1, length(w)))))")).as("sg"))
    val a = sigs.select(col("w").as("w1"), col("sg"))
    val b = sigs.select(col("w").as("w2"), col("sg"))
    a.join(b, Seq("sg"))
      .filter(col("w1") < col("w2"))
      .select("w1", "w2").distinct()
      .filter(levenshtein(col("w1"), col("w2")) === 1)
  }

  private def q194OracleSql: String =
    """WITH w AS (SELECT DISTINCT s_name AS w FROM supplier),
       sig AS (SELECT w, w AS s FROM w
         UNION ALL
         SELECT w, substr(w, 1, i-1) || substr(w, i+1) AS s
         FROM w, (SELECT unnest(range(1,
           (SELECT max(len(w)) + 1 FROM w))) AS i) ix
         WHERE i <= len(w)),
       cand AS (SELECT DISTINCT a.w w1, b.w w2
         FROM sig a JOIN sig b ON a.s = b.s AND a.w < b.w)
       SELECT w1, w2 FROM cand WHERE levenshtein(w1, w2) = 1"""

  // ------------------------------------------------------------ q356

  /** q356 — TRANSPOSITION-AWARE TYPO JOIN: q194's deletion-signature
    * candidates verified with TRUE Damerau–Levenshtein ≤ 1 instead of
    * Levenshtein = 1 (Damerau 1964 measured ~80% of human typos as one
    * substitution, deletion, insertion OR adjacent transposition — the
    * last class has Levenshtein distance 2, so q194's gate silently
    * drops exactly the swapped-digit pairs these digit-tailed names
    * produce, e.g. #…012 vs #…021). The verifier is the repo's own
    * NATIVE codegen'd expression [[graft.functions.DamerauLevenshtein]]
    * (Lowrance–Wagner unrestricted variant), differentially pinned
    * against DuckDB's independent built-in `damerau_levenshtein` — a
    * CROSS-IMPLEMENTATION check, not a shared-text one. The candidate
    * generator needs NO widening: 1-deletion signatures are complete
    * for DL ≤ 1 — a substitution pair shares the signature deleting the
    * differing char, an insertion pair shares the shorter word itself,
    * and a transposition pair "xy"/"yx" shares BOTH one-sided deletions
    * (drop x from each side → suffix "y·rest" matches; drop y → "x·
    * rest"), so every DL ≤ 1 pair collides on at least one signature.
    *
    * Scale shape: q194's — signature explode is length-linear, the
    * equi-join on signature is the blocking, verification is one
    * codegen'd expression per candidate. */
  def q356TypoJoinDl(s: SparkSession, dir: String): DataFrame = {
    val w = t(s, dir, "supplier").select(col("s_name").as("w")).distinct()
    val sigs = w.select(col("w"), explode(expr(
      "concat(array(w), transform(sequence(1, length(w)), " +
        "i -> concat(substring(w, 1, i - 1)," +
        " substring(w, i + 1, length(w)))))")).as("sg"))
    val a = sigs.select(col("w").as("w1"), col("sg"))
    val b = sigs.select(col("w").as("w2"), col("sg"))
    a.join(b, Seq("sg"))
      .filter(col("w1") < col("w2"))
      .select("w1", "w2").distinct()
      .withColumn("dl", expr("damerau_lev(w1, w2)"))
      .filter(col("dl") <= 1L)
  }

  private def q356OracleSql: String =
    """WITH w AS (SELECT DISTINCT s_name AS w FROM supplier),
       sig AS (SELECT w, w AS s FROM w
         UNION ALL
         SELECT w, substr(w, 1, i-1) || substr(w, i+1) AS s
         FROM w, (SELECT unnest(range(1,
           (SELECT max(len(w)) + 1 FROM w))) AS i) ix
         WHERE i <= len(w)),
       cand AS (SELECT DISTINCT a.w w1, b.w w2
         FROM sig a JOIN sig b ON a.s = b.s AND a.w < b.w)
       SELECT w1, w2,
         CAST(damerau_levenshtein(w1, w2) AS BIGINT) AS dl
       FROM cand WHERE damerau_levenshtein(w1, w2) <= 1"""

  /** q195 — MODEL CALIBRATION TABLE: events bucketed by fixed-width
    * value band (10-unit bins), per-bin observed purchase rate in exact
    * ppm — the reliability-diagram input every scored-model pipeline
    * produces (is the score's implied rate the observed rate?), and
    * q187's AUC companion: AUC ranks, calibration levels. All integer:
    * bin by floor-division, rate as `n_pos · 10⁶ div n`.
    *
    * Scale shape: ONE map-side-combined groupBy to |bins| rows; the
    * rate is in-row arithmetic on the census. Nothing else. */
  def q195CalibrationBins(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(expr("CAST(floor(value / 10) AS BIGINT)").as("bin"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("n_pos * 1000000 div n").as("rate_ppm"))

  private def q195OracleSql: String =
    """WITH v AS (SELECT CAST(floor(value / 10) AS BIGINT) AS bin,
          CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END pos
        FROM events)
       SELECT bin, CAST(count(*) AS BIGINT) n,
         CAST(sum(pos) AS BIGINT) n_pos,
         CAST(sum(pos) AS BIGINT) * 1000000 // count(*) AS rate_ppm
       FROM v GROUP BY bin"""

  /** q196 — SEASONAL INTENSITY PROFILE: the (day-of-week × hour) event
    * census with each cell's share of total traffic in exact ppm — the
    * seasonality matrix capacity planning and anomaly baselines start
    * from (q198's changepoint detects when a day BREAKS this profile).
    * Day-of-week is normalized to DuckDB's 0=Sunday convention
    * (Spark's `dayofweek` is 1-based) — the kind of cross-engine
    * calendar divergence the differential exists to catch.
    *
    * Scale shape: one map-side-combined census to ≤168 rows, one
    * broadcast 1-row total attach; in-row share arithmetic. */
  def q196SeasonalProfile(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "events")
      .select((dayofweek(col("ts")) - 1).cast("bigint").as("dow"),
        hour(col("ts")).cast("bigint").as("hr"))
      .groupBy("dow", "hr").agg(count(lit(1)).as("n"))
    val tot = c.agg(sum("n").as("t"))
    c.crossJoin(broadcast(tot))
      .select(col("dow"), col("hr"), col("n"),
        expr("n * 1000000 div t").as("share_ppm"))
  }

  private def q196OracleSql: String =
    """WITH c AS (SELECT CAST(dayofweek(ts) AS BIGINT) dow,
          CAST(hour(ts) AS BIGINT) hr, CAST(count(*) AS BIGINT) n
        FROM events GROUP BY 1, 2),
       tot AS (SELECT CAST(sum(n) AS BIGINT) t FROM c)
       SELECT dow, hr, n, n * 1000000 // t AS share_ppm FROM c, tot"""

  /** q197 — TOP-K SESSION PATHS: the 10 most common within-session
    * event-type strings (30-minute gap sessions, q41's boundary rule,
    * q182's type-letter encoding) — the path-mining census behind
    * "what do sessions look like" product analytics and behavioral
    * sequence model prep; q150 counts single transitions, this counts
    * whole trajectories. Ties break on the path string.
    *
    * Scale shape: ONE user-keyed exchange carries both session windows
    * (gap flag + running session id share the (user, k) sort) and the
    * per-session string build (in-row array_sort, per-session-sized);
    * the path census partial-aggregates map-side (distinct paths ≪
    * sessions), and the top-10 is a TakeOrdered over the census. */
  def q197SessionPaths(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("k")
    val cum = Window.partitionBy("user_id").orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .select(col("user_id"),
        substring(col("event_type"), 1, 1).as("c"),
        date_trunc("second", col("ts")).as("ts_s"),
        (unix_timestamp(col("ts")) * Extensions.AttribKeyScale
          + col("event_id")).as("k"))
      .withColumn("brk",
        when(lag("ts_s", 1).over(w).isNull ||
          col("ts_s").cast("long") - lag("ts_s", 1).over(w).cast("long")
            > 1800L, 1L).otherwise(0L))
      .withColumn("sid", sum("brk").over(cum))
      .groupBy("user_id", "sid")
      .agg(collect_list(struct(col("k"), col("c"))).as("lst"))
      .select(expr("array_join(transform(array_sort(lst), x -> x.c), '')")
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(10)
  }

  private def q197OracleSql: String =
    s"""WITH e AS (SELECT user_id, left(event_type, 1) c,
          date_trunc('second', ts) ts_s,
          (epoch_ns(ts) // 1000000000) * ${Extensions.AttribKeyScale}
            + event_id AS k
        FROM events),
        o AS (SELECT user_id, c, k,
          CASE WHEN lag(ts_s) OVER w IS NULL
            OR ts_s - lag(ts_s) OVER w > INTERVAL 30 MINUTE
            THEN 1 ELSE 0 END AS brk
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY k)),
        s AS (SELECT user_id, c, k,
          sum(brk) OVER (PARTITION BY user_id ORDER BY k
            ROWS UNBOUNDED PRECEDING) sid
          FROM o),
        paths AS (SELECT user_id, sid,
            string_agg(c, '' ORDER BY k) AS path
          FROM s GROUP BY 1, 2),
        census AS (SELECT path, CAST(count(*) AS BIGINT) n
          FROM paths GROUP BY path)
        SELECT path, n FROM census ORDER BY n DESC, path LIMIT 10"""

  /** q198 — CUSUM CHANGEPOINT over the daily event series: the day
    * where the cumulative count deviates most from the uniform-rate
    * line — argmax |cum·k − i·total| over day index i (the
    * cross-multiplied CUSUM, exact integers with no rate division;
    * q132's KS trick applied to a time series against its own mean
    * rate). Detects WHEN behavior shifted; q132/q156 detect THAT two
    * samples differ. Ties break on the earlier day.
    *
    * Scale shape: corpus collapses map-side to the |days| census;
    * everything after (cumsum window, the 1-row argmax) rides the
    * domain-sized frame — the q132 unpartitioned-window argument. */
  def q198Changepoint(s: SparkSession, dir: String): DataFrame = {
    val dc = t(s, dir, "events")
      .select(col("ts").cast("date").as("d"))
      .groupBy("d").agg(count(lit(1)).as("n"))
    val w = Window.orderBy("d")
    val seq = dc
      .withColumn("i", row_number().over(w).cast("bigint"))
      .withColumn("cum", sum("n").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = dc.agg(count(lit(1)).as("k"), sum("n").as("t"))
    seq.crossJoin(broadcast(tot))
      .select(col("d"), col("i"), col("cum"),
        abs(col("cum") * col("k") - col("i") * col("t"))
          .as("dev_scaled"))
      .orderBy(col("dev_scaled").desc, col("d"))
      .limit(1)
  }

  private def q198OracleSql: String =
    """WITH dc AS (SELECT CAST(ts AS DATE) d, CAST(count(*) AS BIGINT) n
          FROM events GROUP BY 1),
        seq AS (SELECT d, n, row_number() OVER (ORDER BY d) i,
            sum(n) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) cum
          FROM dc),
        tot AS (SELECT CAST(count(*) AS BIGINT) k,
            CAST(sum(n) AS BIGINT) t FROM dc)
        SELECT d, CAST(i AS BIGINT) i, CAST(cum AS BIGINT) cum,
          CAST(abs(cum * k - i * t) AS BIGINT) AS dev_scaled
        FROM seq, tot ORDER BY dev_scaled DESC, d LIMIT 1"""

  /** q199 — NEIGHBORHOOD JACCARD per EDGE of the brand graph (q183's
    * complement: q183 scores NON-edges for link prediction, this
    * scores existing edges for community strength — low-Jaccard edges
    * are the inter-community bridges graph-partitioning and Louvain-
    * style methods cut first). Jaccard = common/(deg₁+deg₂−common) in
    * exact ppm over the same thresholded graph.
    *
    * Scale shape: identical to q183 — domain-sized graph frames after
    * the one-exchange basket census; wedge counts from in-row
    * adjacency pairs; degree attach is a broadcast join. */
  def q199EdgeJaccard(s: SparkSession, dir: String): DataFrame = {
    val baskets = brandBaskets(s, dir)
    val pair = baskets
      .select(explode(expr("flatten(transform(bs, (x, i) -> " +
        "transform(slice(bs, i + 2, size(bs)), " +
        "y -> struct(x AS b1, y AS b2))))")).as("p"))
      .select(col("p.b1"), col("p.b2"))
      .groupBy("b1", "b2").agg(count(lit(1)).as("n12"))
    val tot = pair.agg(count(lit(1)).as("np"), sum("n12").as("tw"))
    val edges = pair.crossJoin(broadcast(tot))
      .filter(col("n12") * col("np") * 100 >= col("tw") * LinkEdgePct)
      .select("b1", "b2").localCheckpoint(true)
    val und = edges.select(col("b1").as("src"), col("b2").as("nbr"))
      .unionByName(edges.select(col("b2").as("src"), col("b1").as("nbr")))
    val deg = und.groupBy("src").agg(count(lit(1)).as("deg"))
    val wedges = und.groupBy("src")
      .agg(sort_array(collect_set("nbr")).as("ns"))
      .select(explode(expr("flatten(transform(ns, (x, i) -> " +
        "transform(slice(ns, i + 2, size(ns)), " +
        "y -> struct(x AS a, y AS b))))")).as("w"))
      .select(col("w.a"), col("w.b"))
      .groupBy("a", "b").agg(count(lit(1)).as("common"))
    edges
      .join(wedges, edges("b1") === wedges("a") &&
        edges("b2") === wedges("b"), "left")
      .select(col("b1"), col("b2"),
        coalesce(col("common"), lit(0L)).as("common"))
      .join(broadcast(deg.select(col("src").as("b1"),
        col("deg").as("dg1"))), "b1")
      .join(broadcast(deg.select(col("src").as("b2"),
        col("deg").as("dg2"))), "b2")
      .select(col("b1"), col("b2"), col("common"),
        expr("common * 1000000 div (dg1 + dg2 - common)")
          .as("jaccard_ppm"))
  }

  private def q199OracleSql: String =
    s"""WITH bi AS (SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        pair AS (SELECT x.b AS b1, y.b AS b2,
            CAST(count(*) AS BIGINT) AS n12
          FROM bi x JOIN bi y ON x.ok = y.ok AND x.b < y.b GROUP BY 1, 2),
        tot AS (SELECT CAST(count(*) AS BIGINT) np,
            CAST(sum(n12) AS BIGINT) tw FROM pair),
        eu AS (SELECT b1, b2 FROM pair, tot
               WHERE n12 * np * 100 >= tw * $LinkEdgePct),
        und AS (SELECT b1 AS src, b2 AS nbr FROM eu
                UNION ALL SELECT b2, b1 FROM eu),
        deg AS (SELECT src, CAST(count(*) AS BIGINT) deg FROM und
                GROUP BY src),
        wedge AS (SELECT u1.nbr a, u2.nbr b, count(*) cn
          FROM und u1 JOIN und u2
          ON u1.src = u2.src AND u1.nbr < u2.nbr GROUP BY 1, 2),
        ej AS (SELECT e.b1, e.b2, COALESCE(w.cn, 0) AS common,
            d1.deg dg1, d2.deg dg2
          FROM eu e LEFT JOIN wedge w ON e.b1 = w.a AND e.b2 = w.b
          JOIN deg d1 ON e.b1 = d1.src JOIN deg d2 ON e.b2 = d2.src)
        SELECT b1, b2, CAST(common AS BIGINT) AS common,
          CAST(common * 1000000 // (dg1 + dg2 - common) AS BIGINT)
            AS jaccard_ppm
        FROM ej"""

  /** q200 — TIME-TO-EVENT CONVERSION CURVE (the empirical CDF behind
    * survival/retention analysis): per user, the gap in whole days from
    * first signup to first purchase strictly after it; released as the
    * per-gap-day census plus the cumulative count and cohort share in
    * exact ppm — the time-RESOLVED view q134's funnel counts collapse
    * (funnel says how many converted, this says how fast). Users who
    * never convert simply never enter the curve; the cohort denominator
    * keeps them visible as the gap to 10⁶ ppm (right-censoring made
    * explicit rather than modeled).
    *
    * Scale shape: two filtered user-keyed aggregates and one user-keyed
    * join (all map-side combinable); the curve itself rides the ≤|days|
    * gap census — cumsum window is domain-sized (q132 discipline);
    * cohort total is a broadcast 1-row attach. */
  def q200ConversionCurve(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"))
    val su = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("sec").as("st"))
    val pu = ev.filter(col("event_type") === "purchase")
      .join(su, "user_id").filter(col("sec") > col("st"))
      .groupBy("user_id").agg(min("sec").as("pt"), min("st").as("st0"))
    val cohort = su.agg(count(lit(1)).as("n_users"))
    val gc = pu
      .select(expr("(pt - st0) div 86400").as("gap_d"))
      .groupBy("gap_d").agg(count(lit(1)).as("n"))
    val w = Window.orderBy("gap_d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gc.withColumn("cum", sum("n").over(w))
      .crossJoin(broadcast(cohort))
      .select(col("gap_d"), col("n"), col("cum"),
        expr("cum * 1000000 div n_users").as("converted_ppm"))
  }

  private def q200OracleSql: String =
    """WITH s AS (SELECT user_id,
          min(epoch_ns(ts)//1000000000) st FROM events
        WHERE event_type = 'signup' GROUP BY user_id),
       p AS (SELECT e.user_id, min(epoch_ns(e.ts)//1000000000) pt,
           min(s.st) st0
         FROM events e JOIN s ON e.user_id = s.user_id
           AND epoch_ns(e.ts)//1000000000 > s.st
         WHERE e.event_type = 'purchase' GROUP BY e.user_id),
       cohort AS (SELECT CAST(count(*) AS BIGINT) n_users FROM s),
       gc AS (SELECT CAST((pt - st0) // 86400 AS BIGINT) gap_d,
           CAST(count(*) AS BIGINT) n
         FROM p GROUP BY 1),
       curve AS (SELECT gap_d, n,
           CAST(sum(n) OVER (ORDER BY gap_d ROWS UNBOUNDED PRECEDING)
             AS BIGINT) cum
         FROM gc)
       SELECT gap_d, n, cum, cum * 1000000 // n_users AS converted_ppm
       FROM curve, cohort"""

  /** q201 — LORENZ CURVE by spend decile (the distribution behind
    * q175's Gini scalar): suppliers ranked by exact revenue cents,
    * split into 10 equal-count deciles, each released with its member
    * count, exact cents, and the CUMULATIVE share of total spend in
    * ppm — the concentration curve procurement/risk dashboards plot,
    * and the decile-resolved complement of the single Gini number.
    *
    * Scale shape: the corpus collapses to the |suppliers| revenue
    * frame in one map-side-combined groupBy; rank/total windows ride
    * that dimension-sized frame (at a billion-key dimension the q168
    * equi-depth census replaces the rank sort — same boundaries, no
    * global sort); the final cumsum runs over 10 rows. */
  def q201LorenzCurve(s: SparkSession, dir: String): DataFrame = {
    val cs = t(s, dir, "lineitem")
      .select(col("l_suppkey").as("k"),
        floor(col("l_extendedprice") * 100).as("cents"))
      .groupBy("k").agg(sum("cents").as("cents"))
    val all = Window.partitionBy(lit(1))
    val rk = cs
      .withColumn("rn", row_number().over(
        Window.orderBy(col("cents"), col("k"))).cast("bigint"))
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("tot", sum("cents").over(all))
    val agg = rk
      .select(expr("((rn - 1) * 10) div n").as("decile"),
        col("cents"), col("n"), col("tot"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_members"), sum("cents").as("cents"),
        max("tot").as("tot"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    agg
      .withColumn("cum_cents", sum("cents").over(w))
      .select(col("decile"), col("n_members"), col("cents"),
        // widen BEFORE the ×10⁶: cum_cents reaches ~1.2e13 at sf1, so
        // the ppm product passes int64 where DuckDB's window sum is
        // already int128 (q268 discipline; caught by the sf1 sweep)
        expr("CAST(cum_cents AS DECIMAL(38,0)) * 1000000 div tot")
          .as("cum_share_ppm"))
  }

  private def q201OracleSql: String =
    """WITH cs AS (SELECT l_suppkey k,
          CAST(sum(CAST(floor(l_extendedprice*100) AS BIGINT)) AS BIGINT)
            cents
        FROM lineitem GROUP BY l_suppkey),
       rk AS (SELECT k, cents, row_number() OVER (ORDER BY cents, k) rn,
           CAST(count(*) OVER () AS BIGINT) n,
           CAST(sum(cents) OVER () AS BIGINT) tot FROM cs),
       dec AS (SELECT ((rn - 1) * 10) // n AS decile, cents, tot FROM rk),
       agg AS (SELECT CAST(decile AS BIGINT) decile,
           CAST(count(*) AS BIGINT) n_members,
           CAST(sum(cents) AS BIGINT) cents, max(tot) tot
         FROM dec GROUP BY decile)
       SELECT decile, n_members, cents,
         CAST(sum(cents) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
           * 1000000 // tot AS BIGINT) AS cum_share_ppm
       FROM agg"""

  /** q202 — DISTRIBUTION-SIMILARITY MATRIX via histogram intersection:
    * for every source pair, Σ min(share_a, share_b) over the shared
    * length-histogram bins — the distribution-overlap statistic
    * (1 − total-variation distance) that tells a mixture planner which
    * sources are interchangeable and a drift monitor which pair
    * diverged. Shares are compared via cross-multiplication
    * (min(n_a·T_b, n_b·T_a) over T_a·T_b) so the whole statistic is
    * exact integer ppm — no per-bin float shares to fold.
    *
    * Scale shape: corpus collapses map-side to the (source, bin)
    * census; the pairwise join runs on that domain-sized frame
    * (|sources|·|bins| rows, never corpus); totals broadcast. */
  def q202HistIntersection(s: SparkSession, dir: String): DataFrame = {
    val h = t(s, dir, "documents")
      .select(col("source"), expr("n_chars div 64").as("bin"))
      .groupBy("source", "bin").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val tot = h.groupBy("source").agg(sum("n").as("t"))
    val a = h.select(col("source").as("s1"), col("bin"), col("n").as("na"))
      .join(broadcast(tot.select(col("source").as("s1"),
        col("t").as("ta"))), "s1")
    val b = h.select(col("source").as("s2"), col("bin"), col("n").as("nb"))
      .join(broadcast(tot.select(col("source").as("s2"),
        col("t").as("tb"))), "s2")
    a.join(b, Seq("bin")).filter(col("s1") < col("s2"))
      .groupBy("s1", "s2")
      .agg(sum(least(col("na") * col("tb"), col("nb") * col("ta")))
        .as("num"), max(col("ta") * col("tb")).as("den"))
      .select(col("s1"), col("s2"),
        expr("num * 1000000 div den").as("overlap_ppm"))
  }

  private def q202OracleSql: String =
    """WITH h AS (SELECT source, n_chars // 64 AS bin,
          CAST(count(*) AS BIGINT) n
        FROM documents GROUP BY 1, 2),
       tot AS (SELECT source, CAST(sum(n) AS BIGINT) t FROM h
               GROUP BY source),
       p AS (SELECT a.source s1, b.source s2,
           CAST(sum(least(a.n * tb.t, b.n * ta.t)) AS BIGINT) AS num,
           CAST(max(ta.t) * max(tb.t) AS BIGINT) AS den
         FROM h a JOIN h b ON a.bin = b.bin AND a.source < b.source
         JOIN tot ta ON a.source = ta.source
         JOIN tot tb ON b.source = tb.source
         GROUP BY 1, 2)
       SELECT s1, s2, num * 1000000 // den AS overlap_ppm FROM p"""

  /** q203 smoothing pseudo-count (the prior's weight in observations). */
  val TargetEncM = 100L

  /** q203 — SMOOTHED TARGET ENCODING of market segment by order value:
    * the classic categorical-feature encoding
    * (Σtarget + m·prior)/(n + m) with the global mean as prior —
    * small categories shrink toward the prior, large ones keep their
    * mean (the leakage-prone feature engineered here deterministically:
    * exact cents, floor division, integer prior). Raw and smoothed
    * means released side by side so the shrinkage is auditable.
    *
    * Scale shape: one broadcast-dim join, one map-side-combined
    * category groupBy (|segments| rows), a 1-row global prior attach —
    * at any corpus size the encoding table is category-sized. */
  def q203TargetEncoding(s: SparkSession, dir: String): DataFrame = {
    val g = t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")
        .select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        floor(col("o_totalprice") * 100).as("cents"))
      .groupBy("seg")
      .agg(count(lit(1)).as("n"), sum("cents").as("s"))
    val gl = g.agg(expr("sum(s) div sum(n)").as("gm"))
    g.crossJoin(broadcast(gl))
      .select(col("seg"), col("n"),
        expr("s div n").as("raw_mean_cents"),
        expr(s"(s + $TargetEncM * gm) div (n + $TargetEncM)")
          .as("smoothed_mean_cents"))
  }

  private def q203OracleSql: String =
    s"""WITH j AS (SELECT c.c_mktsegment seg,
          CAST(floor(o.o_totalprice*100) AS BIGINT) cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
       g AS (SELECT seg, CAST(count(*) AS BIGINT) n,
           CAST(sum(cents) AS BIGINT) s
         FROM j GROUP BY seg),
       gl AS (SELECT CAST(sum(s) // sum(n) AS BIGINT) gm FROM g)
       SELECT seg, n, s // n AS raw_mean_cents,
         (s + $TargetEncM * gm) // (n + $TargetEncM)
           AS smoothed_mean_cents
       FROM g, gl"""

  /** Negatives drawn per user in q204. */
  val NegK = 3

  /** q204 — DETERMINISTIC NEGATIVE SAMPLING for contrastive /
    * recommender training: for every customer with purchase positives,
    * [[NegK]] candidate brands drawn by a portable keyed LCG over the
    * brand dictionary, minus any that are actually positives — the
    * (user, slot, negative-brand) table a two-tower or BPR trainer
    * consumes. Deterministic BECAUSE the differential must reproduce
    * the draw (the q171 seeded-noise convention); production swaps a
    * keyed PRF, pipeline shape unchanged. Collisions with positives
    * are DROPPED, not resampled — "up to K negatives" is the declared
    * contract, keeping the op one pass (resampling loops don't
    * partial-aggregate).
    *
    * Scale shape: positives = one distinct over the joined fact
    * (map-side combinable); the draw is an in-row ×K sequence explode
    * over the |users| frame joined to the broadcast brand dictionary;
    * the positive-collision filter is one user-keyed anti-join. */
  def q204NegativeSampling(s: SparkSession, dir: String): DataFrame = {
    val pos = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey").as("u"))
      .join(t(s, dir, "lineitem").select("l_orderkey", "l_partkey"),
        col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand").as("b"))),
        col("l_partkey") === col("p_partkey"))
      .select("u", "b").distinct()
      .localCheckpoint(true)
    val brands = t(s, dir, "part").select(col("p_brand").as("b"))
      .distinct()
      .withColumn("bid",
        (row_number().over(Window.orderBy("b")) - 1).cast("bigint"))
      .withColumn("nb", count(lit(1)).over(Window.partitionBy(lit(1))))
    val users = pos.select("u").distinct()
    val nb = brands.agg(max("nb").as("nbv"))
    val cand = users.crossJoin(broadcast(nb))
      .select(col("u"), explode(expr(s"sequence(1, $NegK)")).as("i"),
        col("nbv"))
      .select(col("u"), col("i").cast("bigint").as("i"),
        expr("CAST((u * 1103515245 + 12345 + i * 2654435761)" +
          " % 2147483647 AS BIGINT) % nbv").as("bid"))
    cand.join(broadcast(brands.select("bid", "b")), "bid")
      .join(pos, Seq("u", "b"), "left_anti")
      .select("u", "i", "b")
  }

  private def q204OracleSql: String =
    s"""WITH pos AS (SELECT DISTINCT o.o_custkey u, p.p_brand b
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
          JOIN part p ON l.l_partkey = p.p_partkey),
        brands AS (SELECT b, row_number() OVER (ORDER BY b) - 1 AS bid,
            CAST(count(*) OVER () AS BIGINT) nb
          FROM (SELECT DISTINCT p_brand b FROM part)),
        users AS (SELECT DISTINCT u FROM pos),
        cand AS (SELECT u, CAST(i AS BIGINT) i,
            CAST((u * 1103515245 + 12345 + i * 2654435761)
              % 2147483647 AS BIGINT)
              % (SELECT max(nb) FROM brands) AS bid
          FROM users, (SELECT unnest(range(1, ${NegK + 1})) i) ix),
        neg AS (SELECT c.u, c.i, br.b
          FROM cand c JOIN brands br ON c.bid = br.bid
          ANTI JOIN pos ON c.u = pos.u AND br.b = pos.b)
        SELECT u, i, b FROM neg"""

  /** The thresholded brand co-purchase graph (q183's edge rule) as a
    * canonical edge list — shared by the q205–q207 structure metrics. */
  private def brandEdges(s: SparkSession, dir: String): DataFrame = {
    val pair = brandBaskets(s, dir)
      .select(explode(expr("flatten(transform(bs, (x, i) -> " +
        "transform(slice(bs, i + 2, size(bs)), " +
        "y -> struct(x AS b1, y AS b2))))")).as("p"))
      .select(col("p.b1"), col("p.b2"))
      .groupBy("b1", "b2").agg(count(lit(1)).as("n12"))
    val tot = pair.agg(count(lit(1)).as("np"), sum("n12").as("tw"))
    pair.crossJoin(broadcast(tot))
      .filter(col("n12") * col("np") * 100 >= col("tw") * LinkEdgePct)
      .select("b1", "b2").localCheckpoint(true)
  }

  /** The declared community partition for q205/q206: brand number mod 5
    * — an arbitrary but DETERMINISTIC partition; the metrics grade any
    * given partition, and a fixed one keeps the differential exact
    * (production feeds Louvain/label-prop output, e.g. q147's). */
  private def brandComm(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(col("p_brand").as("b")).distinct()
      .withColumn("c", expr("CAST(substring(b, 7, 10) AS BIGINT) % 5"))

  /** q205 — GRAPH MODULARITY terms per community: for the declared
    * partition, each community's internal edge count L_c, degree volume
    * d_c, and the exact cross-multiplied modularity term
    * 4m·L_c − d_c² (so Q = Σ terms / 4m² — the single statistic
    * community-detection quality is judged by, released as exact
    * integers with no division). q147's label propagation produces
    * partitions; this scores them.
    *
    * Scale shape: all frames are DOMAIN-sized after q183's one-exchange
    * basket census (edges ≤ |brands|²); two broadcast community-attach
    * joins; one |communities|-row output. */
  def q205Modularity(s: SparkSession, dir: String): DataFrame = {
    val eu = brandEdges(s, dir)
    val comm = brandComm(s, dir)
    val und = eu.select(col("b1").as("src"))
      .unionByName(eu.select(col("b2").as("src")))
    val deg = und.groupBy("src").agg(count(lit(1)).as("deg"))
    val m = eu.agg(count(lit(1)).as("m"))
    val lab = eu
      .join(broadcast(comm.select(col("b").as("b1"), col("c").as("c1"))),
        "b1")
      .join(broadcast(comm.select(col("b").as("b2"), col("c").as("c2"))),
        "b2")
    val inc = lab.filter(col("c1") === col("c2"))
      .groupBy(col("c1").as("comm")).agg(count(lit(1)).as("lc"))
    val vol = deg
      .join(broadcast(comm.select(col("b").as("src"), col("c"))), "src")
      .groupBy(col("c").as("comm")).agg(sum("deg").as("dc"))
    vol.join(inc, Seq("comm"), "left")
      .select(col("comm"), coalesce(col("lc"), lit(0L)).as("lc"),
        col("dc"))
      .crossJoin(broadcast(m))
      .select(col("comm"), col("lc"), col("dc"),
        (lit(4L) * col("m") * col("lc") - col("dc") * col("dc"))
          .as("q_term_scaled"), col("m"))
  }

  private def q205OracleSql: String =
    s"""WITH bi AS (SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        pair AS (SELECT x.b AS b1, y.b AS b2,
            CAST(count(*) AS BIGINT) AS n12
          FROM bi x JOIN bi y ON x.ok = y.ok AND x.b < y.b GROUP BY 1, 2),
        tot AS (SELECT CAST(count(*) AS BIGINT) np,
            CAST(sum(n12) AS BIGINT) tw FROM pair),
        eu AS (SELECT b1, b2 FROM pair, tot
               WHERE n12 * np * 100 >= tw * $LinkEdgePct),
        comm AS (SELECT b,
            CAST(CAST(substr(b, 7) AS BIGINT) % 5 AS BIGINT) AS c
          FROM (SELECT DISTINCT p_brand b FROM part)),
        und AS (SELECT b1 AS src FROM eu UNION ALL SELECT b2 FROM eu),
        deg AS (SELECT src, CAST(count(*) AS BIGINT) deg FROM und
                GROUP BY src),
        m AS (SELECT CAST(count(*) AS BIGINT) m FROM eu),
        inc AS (SELECT c1.c AS comm, CAST(count(*) AS BIGINT) lc
          FROM eu JOIN comm c1 ON eu.b1 = c1.b
          JOIN comm c2 ON eu.b2 = c2.b
          WHERE c1.c = c2.c GROUP BY c1.c),
        vol AS (SELECT cm.c AS comm, CAST(sum(d.deg) AS BIGINT) dc
          FROM deg d JOIN comm cm ON d.src = cm.b GROUP BY cm.c)
        SELECT v.comm, COALESCE(i.lc, 0) AS lc, v.dc,
          CAST(4 * m.m * COALESCE(i.lc, 0) - v.dc * v.dc AS BIGINT)
            AS q_term_scaled,
          m.m
        FROM vol v LEFT JOIN inc i ON v.comm = i.comm, m"""

  /** q206 — COMMUNITY CONDUCTANCE (cut quality): per community, the
    * edges crossing its boundary over the smaller of its volume and the
    * rest's volume, in exact ppm — the partition-quality metric a
    * balanced min-cut / graph-partitioning pass optimizes (low
    * conductance = well-separated community; 10⁶ = every edge leaves).
    * Same declared partition as q205.
    *
    * Scale shape: identical domain-sized frames; the cut census is one
    * pass over the labeled edge list; volumes re-use the degree frame;
    * total volume is a 1-row broadcast attach. */
  def q206Conductance(s: SparkSession, dir: String): DataFrame = {
    val eu = brandEdges(s, dir)
    val comm = brandComm(s, dir)
    val lab = eu
      .join(broadcast(comm.select(col("b").as("b1"), col("c").as("c1"))),
        "b1")
      .join(broadcast(comm.select(col("b").as("b2"), col("c").as("c2"))),
        "b2")
    val cross = lab.filter(col("c1") =!= col("c2"))
    val cut = cross.select(col("c1").as("comm"))
      .unionByName(cross.select(col("c2").as("comm")))
      .groupBy("comm").agg(count(lit(1)).as("cut"))
    val und = eu.select(col("b1").as("src"))
      .unionByName(eu.select(col("b2").as("src")))
    val deg = und.groupBy("src").agg(count(lit(1)).as("deg"))
    val vol = deg
      .join(broadcast(comm.select(col("b").as("src"), col("c"))), "src")
      .groupBy(col("c").as("comm")).agg(sum("deg").as("dc"))
    val volTot = vol.agg(sum("dc").as("dall"))
    vol.join(cut, Seq("comm"), "left")
      .select(col("comm"), coalesce(col("cut"), lit(0L)).as("cut"),
        col("dc"))
      .crossJoin(broadcast(volTot))
      .select(col("comm"), col("cut"), col("dc"),
        expr("cut * 1000000 div least(dc, dall - dc)")
          .as("conductance_ppm"))
  }

  private def q206OracleSql: String =
    s"""WITH bi AS (SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        pair AS (SELECT x.b AS b1, y.b AS b2,
            CAST(count(*) AS BIGINT) AS n12
          FROM bi x JOIN bi y ON x.ok = y.ok AND x.b < y.b GROUP BY 1, 2),
        tot AS (SELECT CAST(count(*) AS BIGINT) np,
            CAST(sum(n12) AS BIGINT) tw FROM pair),
        eu AS (SELECT b1, b2 FROM pair, tot
               WHERE n12 * np * 100 >= tw * $LinkEdgePct),
        comm AS (SELECT b,
            CAST(CAST(substr(b, 7) AS BIGINT) % 5 AS BIGINT) AS c
          FROM (SELECT DISTINCT p_brand b FROM part)),
        cross_e AS (SELECT c1.c AS ca, c2.c AS cb
          FROM eu JOIN comm c1 ON eu.b1 = c1.b
          JOIN comm c2 ON eu.b2 = c2.b
          WHERE c1.c <> c2.c),
        cut AS (SELECT comm, CAST(count(*) AS BIGINT) cut FROM
          (SELECT ca AS comm FROM cross_e
           UNION ALL SELECT cb FROM cross_e) GROUP BY comm),
        und AS (SELECT b1 AS src FROM eu UNION ALL SELECT b2 FROM eu),
        deg AS (SELECT src, CAST(count(*) AS BIGINT) deg FROM und
                GROUP BY src),
        vol AS (SELECT cm.c AS comm, CAST(sum(d.deg) AS BIGINT) dc
          FROM deg d JOIN comm cm ON d.src = cm.b GROUP BY cm.c),
        vt AS (SELECT CAST(sum(dc) AS BIGINT) dall FROM vol)
        SELECT v.comm, COALESCE(c.cut, 0) AS cut, v.dc,
          CAST(COALESCE(c.cut, 0) * 1000000
            // least(v.dc, vt.dall - v.dc) AS BIGINT) AS conductance_ppm
        FROM vol v LEFT JOIN cut c ON v.comm = c.comm, vt"""

  /** q207 — DEGREE ASSORTATIVITY of the brand graph: the Pearson
    * correlation of endpoint degrees over the symmetrized edge list
    * (positive = hubs link hubs, negative = hub-and-spoke) — the
    * one-number structural fingerprint that predicts how a graph
    * partitions and how fast its CC/propagation iterations converge.
    * q180's sufficient-statistics discipline: exact integer sums, one
    * double expression at the end.
    *
    * Scale shape: degree attach is a broadcast join on the domain-sized
    * edge list; the correlation is a single map-side-combined 6-sum
    * aggregate → one row. */
  def q207Assortativity(s: SparkSession, dir: String): DataFrame = {
    val eu = brandEdges(s, dir)
    val und = eu.select(col("b1").as("src"))
      .unionByName(eu.select(col("b2").as("src")))
    val deg = und.groupBy("src").agg(count(lit(1)).as("deg"))
    val de = eu
      .join(broadcast(deg.select(col("src").as("b1"),
        col("deg").as("dx"))), "b1")
      .join(broadcast(deg.select(col("src").as("b2"),
        col("deg").as("dy"))), "b2")
      .select("dx", "dy")
    val sym = de.unionByName(de.select(col("dy").as("dx"),
      col("dx").as("dy")))
    sym.agg(count(lit(1)).as("n"), sum("dx").as("sx"), sum("dy").as("sy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"),
        sum(col("dx") * col("dy")).as("sxy"))
      .select(col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
            .cast("double") *
            (col("n") * col("syy") - col("sy") * col("sy"))
              .cast("double"))).as("r"))
  }

  private def q207OracleSql: String =
    s"""WITH bi AS (SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        pair AS (SELECT x.b AS b1, y.b AS b2,
            CAST(count(*) AS BIGINT) AS n12
          FROM bi x JOIN bi y ON x.ok = y.ok AND x.b < y.b GROUP BY 1, 2),
        tot AS (SELECT CAST(count(*) AS BIGINT) np,
            CAST(sum(n12) AS BIGINT) tw FROM pair),
        eu AS (SELECT b1, b2 FROM pair, tot
               WHERE n12 * np * 100 >= tw * $LinkEdgePct),
        und AS (SELECT b1 AS src FROM eu UNION ALL SELECT b2 FROM eu),
        deg AS (SELECT src, CAST(count(*) AS BIGINT) deg FROM und
                GROUP BY src),
        de AS (SELECT d1.deg AS dx, d2.deg AS dy
          FROM eu JOIN deg d1 ON eu.b1 = d1.src
          JOIN deg d2 ON eu.b2 = d2.src),
        sym AS (SELECT dx, dy FROM de UNION ALL SELECT dy, dx FROM de),
        ss AS (SELECT CAST(count(*) AS BIGINT) n,
            CAST(sum(dx) AS BIGINT) sx, CAST(sum(dy) AS BIGINT) sy,
            CAST(sum(dx*dx) AS BIGINT) sxx,
            CAST(sum(dy*dy) AS BIGINT) syy,
            CAST(sum(dx*dy) AS BIGINT) sxy FROM sym)
        SELECT n,
          CAST(n*sxy - sx*sy AS DOUBLE)
            / sqrt(CAST(n*sxx - sx*sx AS DOUBLE)
              * CAST(n*syy - sy*sy AS DOUBLE)) AS r
        FROM ss"""

  /** q208 — SAMPLE-RATIO-MISMATCH χ² (the A/B guardrail that runs
    * BEFORE q174's lift readout — a skewed assignment invalidates the
    * experiment no matter what the lift says): the 50/50 LCG arm split
    * of users (q174's split rule), arm counts, and the 1-dof χ² for a
    * balanced split, computed as (2n₀ − t)²/t — the integer square is
    * exact, the single division exactly rounded (no pow(), whose libm
    * could differ across engines).
    *
    * Scale shape: one distinct + one 2-row groupBy; the pivot is a
    * 2-row aggregate (q174 discipline). */
  def q208SrmCheck(s: SparkSession, dir: String): DataFrame = {
    val arms = t(s, dir, "events").select("user_id").distinct()
      .select(expr("CAST((user_id * 1103515245 + 12345) % 2147483647" +
        " AS BIGINT) % 2").as("arm"))
      .groupBy("arm").agg(count(lit(1)).as("n"))
    arms.agg(
        max(when(col("arm") === 0, col("n"))).as("n0"),
        max(when(col("arm") === 1, col("n"))).as("n1"),
        sum("n").as("t"))
      .select(col("n0"), col("n1"), col("t"),
        expr("CAST((2*n0 - t) * (2*n0 - t) AS DOUBLE) / t").as("chi2"))
  }

  private def q208OracleSql: String =
    """WITH arms AS (SELECT
          CAST((user_id * 1103515245 + 12345) % 2147483647 AS BIGINT)
            % 2 AS arm
        FROM (SELECT DISTINCT user_id FROM events)),
       c AS (SELECT arm, CAST(count(*) AS BIGINT) n FROM arms
             GROUP BY arm)
       SELECT max(CASE WHEN arm = 0 THEN n END) n0,
         max(CASE WHEN arm = 1 THEN n END) n1,
         CAST(sum(n) AS BIGINT) AS t,
         CAST((2*max(CASE WHEN arm = 0 THEN n END) - sum(n))
           * (2*max(CASE WHEN arm = 0 THEN n END) - sum(n)) AS DOUBLE)
           / sum(n) AS chi2
       FROM c"""

  /** q209 — STICKINESS (DAU/MAU) per event type: average daily active
    * users over monthly active users in exact ppm — THE engagement
    * ratio product analytics tracks, computed as
    * Σdau · 10⁶ div (days · mau) so the average needs no float. Uses
    * two distinct-cardinality passes (per-day and per-period), the
    * shape that swaps to q181's KMV sketches when exact distincts stop
    * fitting.
    *
    * Scale shape: both distincts are map-side combinable; everything
    * after rides the (type, day) census (≤ |types|·|days| rows). */
  def q209Stickiness(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val du = ev.select(col("event_type"), col("ts").cast("date").as("d"),
        col("user_id"))
      .distinct()
      .groupBy("event_type", "d").agg(count(lit(1)).as("dau"))
    val days = du.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum("dau").as("sdau"))
    val mau = ev.select("event_type", "user_id").distinct()
      .groupBy("event_type").agg(count(lit(1)).as("mau"))
    days.join(mau, "event_type")
      .select(col("event_type"), col("n_days"), col("sdau"), col("mau"),
        expr("sdau * 1000000 div (n_days * mau)").as("stickiness_ppm"))
  }

  private def q209OracleSql: String =
    """WITH du AS (SELECT event_type, CAST(ts AS DATE) d,
          CAST(count(DISTINCT user_id) AS BIGINT) dau
        FROM events GROUP BY 1, 2),
       days AS (SELECT event_type, CAST(count(*) AS BIGINT) n_days,
           CAST(sum(dau) AS BIGINT) sdau
         FROM du GROUP BY event_type),
       mau AS (SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) mau
         FROM events GROUP BY event_type)
       SELECT d.event_type, d.n_days, d.sdau, m.mau,
         d.sdau * 1000000 // (d.n_days * m.mau) AS stickiness_ppm
       FROM days d JOIN mau m ON d.event_type = m.event_type"""

  /** q210 — DECISION-STUMP SPLIT FINDING (the CART inner loop as a
    * relational operator): the value threshold that best separates
    * purchases from non-purchases by weighted Gini impurity — scanning
    * every candidate threshold via PREFIX SUMS over the score census
    * (left/right class counts per cut in O(|domain|), never a per-
    * threshold pass), and ranking cuts by the cross-multiplied purity
    * (A·n_R + B·n_L)·10⁶ div (n_L·n_R) where A, B are the squared
    * class-count sums — minimizing weighted Gini ⟺ maximizing this
    * integer, so argmax needs no float and ties break on the smaller
    * threshold. Arithmetic widens to decimal(38,0) (int128 in DuckDB)
    * before the 10⁶ scale — the products overflow int64 at sf0.1.
    *
    * Scale shape: one map-side-combined census (≤10⁴ rows); the prefix
    * sums and the 1-row argmax ride the census (q132 discipline). A
    * full tree = this operator per (node, feature) — each an
    * independent census, embarrassingly parallel. */
  def q210DecisionStump(s: SparkSession, dir: String): DataFrame = {
    val census = t(s, dir, "events")
      .select(floor(col("value") * 100).as("sc"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .groupBy("sc")
      .agg(sum("pos").as("cp"), (count(lit(1)) - sum("pos")).as("cn"))
    val tot = census.agg(sum("cp").as("tp"), sum("cn").as("tn"))
    val w = Window.orderBy("sc")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    census
      .withColumn("pl", sum("cp").over(w))
      .withColumn("nl", sum("cn").over(w))
      .crossJoin(broadcast(tot))
      .select(col("sc"), col("pl"), col("nl"),
        (col("tp") - col("pl")).as("pr"), (col("tn") - col("nl")).as("nr"),
        (col("pl") + col("nl")).as("n_left"),
        (col("tp") + col("tn") - col("pl") - col("nl")).as("n_right"))
      .filter(col("n_left") > 0 && col("n_right") > 0)
      .select(col("sc").as("threshold_cents"), col("n_left"),
        col("n_right"),
        expr("CAST(((CAST(pl AS DECIMAL(38,0))*pl" +
          " + CAST(nl AS DECIMAL(38,0))*nl) * n_right" +
          " + (CAST(pr AS DECIMAL(38,0))*pr" +
          " + CAST(nr AS DECIMAL(38,0))*nr) * n_left)" +
          " * 1000000 div (CAST(n_left AS DECIMAL(38,0)) * n_right)" +
          " AS BIGINT)").as("purity_ppm"))
      .orderBy(col("purity_ppm").desc, col("threshold_cents"))
      .limit(1)
  }

  private def q210OracleSql: String =
    """WITH v AS (SELECT CAST(floor(value*100) AS BIGINT) sc,
          CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END pos
        FROM events),
       census AS (SELECT sc, CAST(sum(pos) AS BIGINT) cp,
           CAST(count(*) - sum(pos) AS BIGINT) cn
         FROM v GROUP BY sc),
       tot AS (SELECT CAST(sum(cp) AS BIGINT) tp,
           CAST(sum(cn) AS BIGINT) tn FROM census),
       cum AS (SELECT sc,
           CAST(sum(cp) OVER (ORDER BY sc ROWS UNBOUNDED PRECEDING)
             AS BIGINT) pl,
           CAST(sum(cn) OVER (ORDER BY sc ROWS UNBOUNDED PRECEDING)
             AS BIGINT) nl
         FROM census),
       sc2 AS (SELECT c.sc, c.pl, c.nl, t.tp - c.pl AS pr,
           t.tn - c.nl AS nr, c.pl + c.nl AS n_left,
           (t.tp + t.tn) - (c.pl + c.nl) AS n_right
         FROM cum c, tot t
         WHERE c.pl + c.nl > 0
           AND (t.tp + t.tn) - (c.pl + c.nl) > 0)
       SELECT sc AS threshold_cents, n_left, n_right,
         CAST(((CAST(pl AS HUGEINT)*pl + CAST(nl AS HUGEINT)*nl)
             * n_right
           + (CAST(pr AS HUGEINT)*pr + CAST(nr AS HUGEINT)*nr) * n_left)
           * 1000000 // (CAST(n_left AS HUGEINT) * n_right) AS BIGINT)
           AS purity_ppm
       FROM sc2 ORDER BY purity_ppm DESC, sc LIMIT 1"""

  /** q211 — ROLLING 7-DAY ACTIVE USERS (the WAU curve; q209's
    * stickiness resolved over time): distinct users active in the
    * trailing 7 days, per day. Sliding DISTINCT cannot partially
    * aggregate, so the scalable shape is the bounded fan-out: each
    * (user, active-day) pair contributes to exactly 7 window-days
    * (in-row explode), and the per-window distinct runs as a normal
    * two-phase aggregate — ×7 data expansion instead of a per-day
    * re-scan of the corpus (O(w·activity), not O(days·corpus)).
    *
    * Scale shape: the distinct (user, day) frame partial-aggregates
    * map-side; the explode is in-row and bounded by the window length;
    * at sketch scale the per-window distinct swaps to q181's mergeable
    * KMV. Days past the data's end are clipped by a broadcast 1-row
    * max-date attach. */
  def q211RollingWau(s: SparkSession, dir: String): DataFrame = {
    val ud = t(s, dir, "events")
      .select(col("user_id"), col("ts").cast("date").as("d"))
      .distinct()
    val dr = ud.agg(max("d").as("d1"))
    ud.select(col("user_id"),
        explode(expr("sequence(0, 6)")).as("o"), col("d"))
      .select(col("user_id"), expr("date_add(d, o)").as("day"))
      .crossJoin(broadcast(dr))
      .filter(col("day") <= col("d1"))
      .groupBy("day")
      .agg(countDistinct("user_id").as("wau"))
  }

  private def q211OracleSql: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) d
          FROM events),
       expand AS (SELECT user_id, d + CAST(o AS INT) AS day
         FROM ud, (SELECT unnest(range(0, 7)) o) off),
       dr AS (SELECT max(d) d1 FROM ud)
       SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
       FROM expand, dr WHERE day <= dr.d1
       GROUP BY day"""

  /** Minimum share (percent) a language needs to keep its own label in
    * q212; below it the rows collapse into `__OTHER__`. */
  val RareKeepPct = 20L

  /** q212 — RARE-CATEGORY COLLAPSE (the cardinality-control step
    * before one-hot/target encoding, q203's upstream guard): languages
    * under [[RareKeepPct]]% of the corpus merge into a single
    * `__OTHER__` label; released as the collapsed census with how many
    * raw categories each label absorbed — deterministic relative
    * threshold (scale-free, the q183 convention), so the collapse set
    * is identical at every sf.
    *
    * Scale shape: one map-side category census, a broadcast 1-row
    * total, an in-row CASE relabel, and a census-sized re-aggregate —
    * the corpus is scanned once. */
  def q212RareCollapse(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "documents")
      .groupBy("lang").agg(count(lit(1)).as("n"))
    val tot = c.agg(sum("n").as("t"))
    c.crossJoin(broadcast(tot))
      .select(when(col("n") * 100 >= col("t") * RareKeepPct, col("lang"))
        .otherwise("__OTHER__").as("cat"), col("n"))
      .groupBy("cat")
      .agg(sum("n").as("n"), count(lit(1)).as("n_merged"))
  }

  private def q212OracleSql: String =
    s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) n
          FROM documents GROUP BY lang),
        tot AS (SELECT CAST(sum(n) AS BIGINT) t FROM c),
        lab AS (SELECT CASE WHEN n * 100 >= t * $RareKeepPct THEN lang
            ELSE '__OTHER__' END AS cat, n
          FROM c, tot)
        SELECT cat, CAST(sum(n) AS BIGINT) AS n,
          CAST(count(*) AS BIGINT) AS n_merged
        FROM lab GROUP BY cat"""

  // ------------------------------------------------------------ q230

  /** q230 — BLOCKING-SCHEME EVALUATION for record linkage (the
    * Christen-textbook quality pair every entity-resolution pipeline
    * reports before committing a blocking key): a multi-pass blocking
    * — pass A groups on the LAST-2-char suffix, pass B on the
    * drop-last-char prefix — generates candidate pairs; the scheme is
    * scored against q194's exact edit-distance-1 truth with REDUCTION
    * RATIO (pairs avoided vs all-pairs, the efficiency axis) and PAIR
    * COMPLETENESS (truth captured, the recall axis), both exact ppm.
    * The two keys deliberately leave a hole (a pair differing only at
    * the 2nd-to-last char matches neither) — the metric's job is to
    * MEASURE that hole, not hide it; the spec pins which truth pairs
    * escape. q194 is the verifier, this is the planner: at scale you
    * choose blocking keys by exactly this census.
    *
    * Scale shape: candidates come from two key-grouped self-joins of
    * the distinct-name frame (block-bounded, the LSH band-join shape;
    * at a larger corpus the keys LENGTHEN — last-3, first-(n−1) — the
    * same geometry-widening discipline as LshGeometry.forCorpus);
    * metrics are 1-row aggregates crossJoined (q139's shape). The
    * all-pairs number is arithmetic n(n−1)/2, never materialized. */
  def q230BlockingEval(s: SparkSession, dir: String): DataFrame = {
    val names = t(s, dir, "supplier")
      .select(col("s_name").as("w")).distinct().cache()
    q230BlockingEval(s, dir, names, q230SuffixLen(names.count()))
  }

  /** q230's key-geometry rule, in CODE (the q127 k ∝ n discipline
    * applied to blocking): the suffix key's block count is
    * 10^suffixLen on these digit-tailed names, so holding expected
    * block population near [[BlockTarget]] needs
    * suffixLen = ⌈log₁₀(n / target)⌉ — the "keys LENGTHEN with the
    * corpus" prescription executable instead of prose. The DECLARED
    * query pins suffixLen = 2 explicitly (the differential's test
    * seed; lengthening the key changes the measured completeness,
    * which is the operator's own output, not an implementation
    * detail). One planning-statistic pre-job sizes n. */
  def q230SuffixLen(n: Long): Int =
    math.max(2, math.ceil(math.log10(
      math.max(n, 1).toDouble / BlockTarget)).toInt)

  /** Target expected block population for the suffix key. */
  val BlockTarget = 10L

  /** Geometry-parameterized core: suffix blocking key of `suffixLen`
    * chars (pass A) + drop-last-char prefix key (pass B, block size
    * bounded by the 10-digit alphabet independent of n). */
  def q230BlockingEval(s: SparkSession, dir: String,
      names: DataFrame, suffixLen: Int): DataFrame = {
    def pairsOn(key: Column): DataFrame = {
      val k = names.select(col("w"), key.as("bk"))
      k.as("x").join(k.as("y"),
          col("x.bk") === col("y.bk") && col("x.w") < col("y.w"))
        .select(col("x.w").as("w1"), col("y.w").as("w2"))
    }
    val cand = pairsOn(expr(
        s"substring(w, length(w) - ${suffixLen - 1}, $suffixLen)"))
      .unionByName(pairsOn(expr("substring(w, 1, length(w) - 1)")))
      .distinct()
    val truth = q194TypoJoin(s, dir)
    val nNames = names.agg(count(lit(1)).as("n_names"))
    val nCand = cand.agg(count(lit(1)).as("n_candidates"))
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val nCap = truth.join(cand, Seq("w1", "w2"), "left_semi")
      .agg(count(lit(1)).as("n_captured"))
    nNames.crossJoin(nCand).crossJoin(nTruth).crossJoin(nCap)
      .select(col("n_names"),
        expr("n_names * (n_names - 1) div 2").as("n_allpairs"),
        col("n_candidates"), col("n_truth"), col("n_captured"),
        expr("""1000000 - n_candidates * 1000000
                div (n_names * (n_names - 1) div 2)""")
          .as("reduction_ppm"),
        expr("n_captured * 1000000 div greatest(n_truth, 1)")
          .as("completeness_ppm"))
  }

  private def q230OracleSql: String =
    """WITH w AS (SELECT DISTINCT s_name AS w FROM supplier),
       ka AS (SELECT w, substr(w, len(w) - 1, 2) AS bk FROM w),
       kb AS (SELECT w, substr(w, 1, len(w) - 1) AS bk FROM w),
       cand AS (SELECT DISTINCT w1, w2 FROM (
         SELECT x.w w1, y.w w2 FROM ka x JOIN ka y
           ON x.bk = y.bk AND x.w < y.w
         UNION ALL
         SELECT x.w w1, y.w w2 FROM kb x JOIN kb y
           ON x.bk = y.bk AND x.w < y.w) u),
       sig AS (SELECT w, w AS s FROM w
         UNION ALL
         SELECT w, substr(w, 1, i-1) || substr(w, i+1) AS s
         FROM w, (SELECT unnest(range(1,
           (SELECT max(len(w)) + 1 FROM w))) AS i) ix
         WHERE i <= len(w)),
       tcand AS (SELECT DISTINCT a.w w1, b.w w2
         FROM sig a JOIN sig b ON a.s = b.s AND a.w < b.w),
       truth AS (SELECT w1, w2 FROM tcand
                 WHERE levenshtein(w1, w2) = 1),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS n_names FROM w),
       nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
       nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
       np AS (SELECT CAST(count(*) AS BIGINT) AS n_captured
              FROM truth JOIN cand USING (w1, w2))
       SELECT n_names, n_names * (n_names - 1) // 2 AS n_allpairs,
         n_candidates, n_truth, n_captured,
         1000000 - n_candidates * 1000000
           // (n_names * (n_names - 1) // 2) AS reduction_ppm,
         n_captured * 1000000 // greatest(n_truth, 1)
           AS completeness_ppm
       FROM nn, nc, nt, np"""

  // ------------------------------------------------------------ q240

  /** q240 bootstrap replica count. */
  val BootB = 32
  /** Poisson(1) CDF quantized to ppm: P(0), P(0..1), P(0..2), P(0..3);
    * the tail (≥4) carries the remaining 18,988 ppm. */
  val BootP0 = 367879L
  val BootP1 = 735759L
  val BootP2 = 919699L
  val BootP3 = 981012L

  /** q240 — POISSON BOOTSTRAP CONFIDENCE INTERVALS (the distributed
    * bootstrap: Chamandy et al./Kleiner-era practice): classic
    * bootstrap resamples n rows per replica — unshardable; the Poisson
    * trick gives each (row, replica) an independent Poisson(1)
    * multiplicity instead, so ALL B replicas accumulate in ONE pass
    * with plain partial aggregation and no row ever moves. Declared
    * per event type: n, the point mean of value-cents (×10⁶ div n),
    * and a ~94% percentile interval — the 2nd smallest / 2nd largest
    * of 32 replica means. Randomness is the q171/q204 discipline: a
    * keyed LCG on (event_id, replica), so the differential reproduces
    * the draw bit-for-bit (production swaps a keyed PRF; the Poisson
    * quantization is exact ppm thresholds, no exp() at query time).
    *
    * Scale shape: ONE pass, ZERO extra rows — all B replicas
    * accumulate inside one typed [[graft.functions.PoissonBootstrap]]
    * aggregate (a fixed 2B-long buffer updated in a tight JVM loop,
    * map-side combinable like any TypedImperativeAggregate) riding the
    * SAME (type) groupBy as the point mean, so the corpus is scanned
    * once, nothing explodes ×B, there is no second shuffle and no
    * join; the interval is in-row order statistics of the 32-element
    * replica-mean array. (Two rejected formulations: explode→
    * re-aggregate materialized B× the rows — 3.4× slower; 2B
    * expression-level `sum(CASE ...)` columns broke whole-stage
    * codegen's method limits and dropped the stage to interpreted
    * eval — 2.4× slower.) */
  def q240BootstrapCi(s: SparkSession, dir: String): DataFrame = {
    val boot = udaf(
      new graft.functions.PoissonBootstrap(
        BootB, BootP0, BootP1, BootP2, BootP3),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
    val rmeans = (0 until BootB).map(b =>
      s"""CAST(CAST(element_at(sums, ${b + 1}) AS DECIMAL(38,0)) * 1000000
          div greatest(element_at(sums, ${BootB + b + 1}), 1)
          AS BIGINT)""").mkString(", ")
    t(s, dir, "events")
      .select(col("event_type"), col("event_id"),
        floor(col("value") * 100).as("vc"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        expr("""CAST(CAST(sum(vc) AS DECIMAL(38,0)) * 1000000
                div count(*) AS BIGINT)""").as("mean_cents_ppm"),
        boot(col("event_id"), col("vc")).as("sums"))
      .select(col("event_type"), col("n"), col("mean_cents_ppm"),
        expr(s"sort_array(array($rmeans))").as("ls"))
      .select(col("event_type"), col("n"), col("mean_cents_ppm"),
        expr("element_at(ls, 2)").as("ci_lo_ppm"),
        expr(s"element_at(ls, ${BootB - 1})").as("ci_hi_ppm"))
  }

  private def q240OracleSql: String =
    s"""WITH ev AS (SELECT event_type, event_id,
          CAST(floor(value * 100) AS BIGINT) AS vc FROM events),
        pt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(CAST(sum(vc) AS HUGEINT) * 1000000 // count(*)
              AS BIGINT) AS mean_cents_ppm
          FROM ev GROUP BY event_type),
        r AS (SELECT event_type, vc, bb.b AS b,
            ((event_id * 64 + bb.b) * 1103515245 + 12345)
              % 2147483647 % 1000000 AS u
          FROM ev, (SELECT unnest(range(0, $BootB)) AS b) bb),
        m AS (SELECT event_type, b, vc,
            CASE WHEN u < $BootP0 THEN 0 WHEN u < $BootP1 THEN 1
                 WHEN u < $BootP2 THEN 2 WHEN u < $BootP3 THEN 3
                 ELSE 4 END AS mlt
          FROM r),
        rm AS (SELECT event_type, b,
            CAST(CAST(sum(mlt * vc) AS HUGEINT) * 1000000
              // greatest(sum(mlt), 1) AS BIGINT) AS rmean
          FROM m GROUP BY event_type, b),
        ci AS (SELECT event_type, list_sort(list(rmean)) AS ls
          FROM rm GROUP BY event_type)
        SELECT pt.event_type, pt.n, pt.mean_cents_ppm,
          CAST(ci.ls[2] AS BIGINT) AS ci_lo_ppm,
          CAST(ci.ls[${BootB - 1}] AS BIGINT) AS ci_hi_ppm
        FROM pt JOIN ci ON pt.event_type = ci.event_type"""

  // ------------------------------------------------------------ q242

  /** Shared Wilson lower-bound expression text (z = 1.96): identical
    * string on both engines so every IEEE op — including the one
    * sqrt, which IEEE-754 requires correctly rounded — associates the
    * same way and the floor-ppm release is bit-equal cross-engine (the
    * bm25ScoreExpr discipline for a statistics formula). */
  private def wilsonExpr(k: String, n: String): String = {
    val z2 = "3.8416"
    s"(($k / $n + $z2 / (2.0 * $n)" +
      s" - 1.96 * sqrt(($k / $n * (1.0 - $k / $n)" +
      s" + $z2 / (4.0 * $n)) / $n))" +
      s" / (1.0 + $z2 / $n))"
  }

  /** q242 — WILSON LOWER-BOUND RANKING (the "how not to sort by
    * average rating" idiom): per value band, the purchase rate's 95%
    * Wilson score lower bound — a band with 2/2 purchases must NOT
    * outrank one with 90/100, and the raw rate q195 releases does
    * exactly that; the Wilson bound shrinks small samples toward zero
    * with the correct coverage. Ranked by the bound (desc, band asc).
    * The one statistics formula in the repo that keeps its floats:
    * every operand is an exact integer cast, the expression string is
    * SHARED verbatim across engines, and sqrt is IEEE-correctly-
    * rounded — so floor×10⁶ is still bit-deterministic.
    *
    * Scale shape: one map-side-combined (band) census; the bound is
    * in-row arithmetic on the census; rank is a window over the
    * |bands|-row frame. */
  def q242WilsonRank(s: SparkSession, dir: String): DataFrame = {
    val census = t(s, dir, "events")
      .select(expr("CAST(floor(value / 10) AS BIGINT)").as("band"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("pos"))
      .groupBy("band")
      .agg(count(lit(1)).as("n"), sum("pos").as("k"))
    census
      .withColumn("wilson_ppm", expr(
        s"""CAST(floor(${wilsonExpr("CAST(k AS DOUBLE)",
          "CAST(n AS DOUBLE)")} * 1000000) AS BIGINT)"""))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("wilson_ppm").desc, col("band")))
        .cast("bigint"))
  }

  private def q242OracleSql: String =
    s"""WITH c AS (SELECT CAST(floor(value / 10) AS BIGINT) AS band,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS k
        FROM events GROUP BY 1),
        w AS (SELECT band, n, k,
            CAST(floor(${wilsonExpr("CAST(k AS DOUBLE)",
              "CAST(n AS DOUBLE)")} * 1000000) AS BIGINT)
              AS wilson_ppm
          FROM c)
        SELECT band, n, k, wilson_ppm,
          CAST(row_number() OVER (ORDER BY wilson_ppm DESC, band)
            AS BIGINT) AS rank
        FROM w"""

  // ------------------------------------------------------------ q247

  /** q247 — CHI-SQUARED INDEPENDENCE TEST, source × lang over the
    * document corpus (the categorical-association screen a mixture
    * designer runs before trusting per-source language weights: if
    * source and language are independent, per-source lang filters are
    * redundant; if not, the largest cell contributions say WHERE the
    * association lives). One row per cell of the full cross domain —
    * including observed-zero cells, which still contribute r·c/n to
    * the statistic and vanish silently under a naive observed-only
    * census. Released per cell: observed o, margins r and c, corpus n,
    * and the cross-multiplied contribution
    * (n·o − r·c)²·10⁶ div (n·r·c) — exact integers end to end
    * (decimal(38,0) here, HUGEINT in the oracle: n·o reaches ~1e12 and
    * its square ~1e24, past int64). The total statistic is the sum of
    * the cell column; dof = (|sources|−1)(|langs|−1) is derivable from
    * the row count.
    *
    * Scale shape: three map-side-combined censuses (cell, row margin,
    * column margin) off one corpus scan + a domain-sized broadcast
    * cross join (|sources|×|langs| rows); all arithmetic in-row on the
    * cell frame. Zero corpus-sized shuffles beyond the census
    * aggregates themselves. */
  def q247Chi2Independence(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select("source", "lang")
    val obs = d.groupBy("source", "lang").agg(count(lit(1)).as("o"))
    val rm = d.groupBy("source").agg(count(lit(1)).as("r"))
    val cm = d.groupBy("lang").agg(count(lit(1)).as("c"))
    val tot = d.agg(count(lit(1)).as("n"))
    rm.crossJoin(broadcast(cm)).crossJoin(broadcast(tot))
      .join(obs, Seq("source", "lang"), "left")
      .na.fill(0L, Seq("o"))
      .withColumn("dev",
        expr("CAST(n AS DECIMAL(38,0)) * o - CAST(r AS DECIMAL(38,0)) * c"))
      .select(col("source"), col("lang"), col("o"), col("r"), col("c"),
        col("n"),
        expr("""CAST(dev * dev * 1000000
             div (CAST(n AS DECIMAL(38,0)) * r * c) AS BIGINT)""")
          .as("chi2_ppm"))
  }

  private def q247OracleSql: String =
    """WITH d AS (SELECT source, lang FROM documents),
       obs AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS o
         FROM d GROUP BY 1, 2),
       rm AS (SELECT source, CAST(count(*) AS BIGINT) AS r
         FROM d GROUP BY 1),
       cm AS (SELECT lang, CAST(count(*) AS BIGINT) AS c
         FROM d GROUP BY 1),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
       cells AS (SELECT rm.source, cm.lang,
           COALESCE(obs.o, 0) AS o, rm.r, cm.c, tot.n,
           CAST(tot.n AS HUGEINT) * COALESCE(obs.o, 0)
             - CAST(rm.r AS HUGEINT) * cm.c AS dev
         FROM rm CROSS JOIN cm CROSS JOIN tot
         LEFT JOIN obs ON obs.source = rm.source AND obs.lang = cm.lang)
       SELECT source, lang, o, r, c, n,
         CAST(dev * dev * 1000000
           // (CAST(n AS HUGEINT) * r * c) AS BIGINT) AS chi2_ppm
       FROM cells"""

  // ------------------------------------------------------------ q248

  /** Benford expectation per leading digit, in exact ppm: floor of
    * log10(1 + 1/d)·10⁶, computed ONCE here and embedded as the same
    * literal in both engines' plans — the expected distribution is a
    * constant of the law, not a per-engine float computation. */
  val BenfordPpm: IndexedSeq[Long] =
    (1 to 9).map(d => math.floor(math.log10(1.0 + 1.0 / d) * 1e6).toLong)

  /** q248 — BENFORD'S-LAW LEADING-DIGIT AUDIT over order totals (the
    * classic fabricated-data / unit-mix screen: organically generated
    * magnitudes spanning decades put digit 1 first ~30.1% of the time;
    * uniform or hand-made values don't — a cheap one-scan alarm on any
    * monetary or count column before it feeds training weights). Per
    * digit 1..9 (all nine always present, observed-zero included):
    * observed count, observed share in exact ppm, the Benford
    * expectation ppm (shared literal), the absolute deviation, and the
    * cross-multiplied Pearson contribution (o·10⁶ − n·b)² div (n·b) —
    * exact integers throughout (the square reaches ~1e24 at sf0.1:
    * decimal(38,0) / HUGEINT per the q210 convention). Whether this
    * synthetic corpus FOLLOWS Benford is irrelevant — the deviation
    * column is the audit's output either way.
    *
    * Determinism: the leading digit is extracted from the decimal
    * string of the exact cents integer — no logs, no float thresholds;
    * the expectation constants are literals shared across engines.
    *
    * Scale shape: one corpus scan collapsing map-side to a 9-row
    * census + a broadcast 1-row total; the digit domain is a 9-row
    * literal frame so zero-observed digits survive. The cheapest
    * possible full-corpus audit. */
  def q248Benford(s: SparkSession, dir: String): DataFrame = {
    val lead = t(s, dir, "orders")
      .select(expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      .filter(col("cents") > 0)
      .select(expr("CAST(substring(CAST(cents AS STRING), 1, 1) AS BIGINT)")
        .as("digit"))
    val census = lead.groupBy("digit").agg(count(lit(1)).as("o"))
    val tot = lead.agg(count(lit(1)).as("n"))
    val blit = BenfordPpm.mkString("array(", "L, ", "L)")
    s.range(1, 10).toDF("digit")
      .crossJoin(broadcast(tot))
      .join(census, Seq("digit"), "left")
      .na.fill(0L, Seq("o"))
      .withColumn("benford_ppm",
        expr(s"element_at($blit, CAST(digit AS INT))"))
      .select(col("digit"), col("o"), col("n"),
        expr("o * 1000000 div n").as("share_ppm"),
        col("benford_ppm"),
        expr("abs(o * 1000000 div n - benford_ppm)").as("dev_ppm"),
        expr("""CAST((CAST(o AS DECIMAL(38,0)) * 1000000
               - CAST(n AS DECIMAL(38,0)) * benford_ppm)
             * (CAST(o AS DECIMAL(38,0)) * 1000000
               - CAST(n AS DECIMAL(38,0)) * benford_ppm)
             div (CAST(n AS DECIMAL(38,0)) * benford_ppm) AS BIGINT)""")
          .as("chi2_ppm"))
  }

  private def q248OracleSql: String = {
    val blit = BenfordPpm.mkString("[", ", ", "]")
    s"""WITH lead AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice
            * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
          FROM orders WHERE CAST(floor(o_totalprice * 100) AS BIGINT) > 0),
        census AS (SELECT digit, CAST(count(*) AS BIGINT) AS o
          FROM lead GROUP BY 1),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lead),
        dom AS (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS digit),
        cells AS (SELECT dom.digit, COALESCE(census.o, 0) AS o, tot.n,
            CAST(($blit)[CAST(dom.digit AS INT)] AS BIGINT) AS benford_ppm
          FROM dom CROSS JOIN tot
          LEFT JOIN census ON census.digit = dom.digit)
        SELECT digit, o, n, o * 1000000 // n AS share_ppm, benford_ppm,
          abs(o * 1000000 // n - benford_ppm) AS dev_ppm,
          CAST((CAST(o AS HUGEINT) * 1000000 - CAST(n AS HUGEINT)
              * benford_ppm)
            * (CAST(o AS HUGEINT) * 1000000 - CAST(n AS HUGEINT)
              * benford_ppm)
            // (CAST(n AS HUGEINT) * benford_ppm) AS BIGINT) AS chi2_ppm
        FROM cells"""
  }

  // ------------------------------------------------------------ q252

  /** q252 — HOLT LINEAR-TREND SMOOTHING per nation (double exponential
    * smoothing, the level+trend forecaster one step up from q192's
    * plain decay — a level-only smoother lags every trending series by
    * construction; Holt carries an explicit trend term and forecasts
    * level + trend): weekly revenue cents per customer nation,
    * recurrences with α = β = ½ so each step is EXACT integer halving
    * — l_t = (x_t + l_{t−1} + b_{t−1}) div 2,
    * b_t = (l_t − l_{t−1} + b_{t−1}) div 2, seeded l₁ = x₁, b₁ = 0.
    * Both engines truncate integer division toward zero (the q246
    * verification; b goes negative on declining weeks, so the
    * differential exercises the signed case). Released per nation:
    * series length, final level, final trend, and the one-step
    * forecast level + trend.
    *
    * Scale shape: the corpus collapses map-side to the (nation, week)
    * census (time-domain bounded — 345 weeks here, never corpus-
    * sized); the fold runs in-row over each nation's sorted series
    * array. An inherently sequential recurrence made distributed by
    * keying on the series id — the same shape a per-key state machine
    * takes in production (and what mapGroupsWithState does on a
    * stream). Oracle: the identical recurrence as a recursive CTE. */
  def q252HoltSmoothing(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val wk = t(s, dir, "orders")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nationkey"),
        date_trunc("week", col("o_orderdate")).as("w"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
        .as("c"))
    wk.groupBy("nationkey")
      .agg(array_sort(collect_list(struct(col("w"), col("c"))))
        .as("xs"))
      .select(col("nationkey"), size(col("xs")).cast("bigint")
        .as("n_weeks"),
        expr("""aggregate(slice(xs, 2, size(xs) - 1),
             named_struct('l', element_at(xs, 1).c,
                          'b', CAST(0 AS BIGINT)),
             (acc, x) -> named_struct(
               'l', (x.c + acc.l + acc.b) div 2,
               'b', ((x.c + acc.l + acc.b) div 2 - acc.l + acc.b)
                 div 2))""").as("st"))
      .select(col("nationkey"), col("n_weeks"),
        col("st.l").as("level_cents"), col("st.b").as("trend_cents"),
        expr("st.l + st.b").as("forecast_cents"))
  }

  private def q252OracleSql: String =
    """WITH RECURSIVE wk AS (
          SELECT c_nationkey AS n, date_trunc('week', o_orderdate) AS w,
            CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS c
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY 1, 2),
        ser AS (SELECT n, c, row_number() OVER (
            PARTITION BY n ORDER BY w) AS rn FROM wk),
        mx AS (SELECT n, CAST(max(rn) AS BIGINT) AS n_weeks
          FROM ser GROUP BY 1),
        rec AS (
          SELECT n, rn, c AS l, CAST(0 AS BIGINT) AS b
          FROM ser WHERE rn = 1
          UNION ALL
          SELECT s.n, s.rn, (s.c + r.l + r.b) // 2,
            ((s.c + r.l + r.b) // 2 - r.l + r.b) // 2
          FROM rec r JOIN ser s ON s.n = r.n AND s.rn = r.rn + 1)
        SELECT r.n AS nationkey, mx.n_weeks, r.l AS level_cents,
          r.b AS trend_cents, r.l + r.b AS forecast_cents
        FROM rec r JOIN mx ON mx.n = r.n AND r.rn = mx.n_weeks"""

  // ------------------------------------------------------------ q319

  /** q319 — ROLLING-ORIGIN ONE-STEP BACKTEST of the Holt forecaster
    * (the evaluation q252 itself never gets: a smoother that fits
    * beautifully in-sample can still forecast badly, and the honest
    * score is the error of each one-step-AHEAD forecast made before
    * its target week arrived — for the recursive Holt filter the
    * whole rolling-origin backtest falls out of ONE pass, because the
    * forecast for week t is exactly l_{t−1} + b_{t−1}, state the
    * single filter run already produces): per (nation, week ≥ 2) the
    * actual cents, the forecast made a week earlier, and the signed
    * error — all exact integers under q252's α = β = ½ halving
    * recurrences. The released frame is what a forecast scorecard
    * aggregates into MAE/bias — left to the consumer (q304 doctrine).
    *
    * Scale shape: q252's shape exactly — map-side (nation, week)
    * census, in-row fold per series; the fold here carries the
    * running per-step forecasts in its accumulator array
    * (time-domain-bounded: ≤345 entries), posexploded to rows. */
  def q319HoltBacktest(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val wk = t(s, dir, "orders")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nationkey"),
        date_trunc("week", col("o_orderdate")).as("w"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
        .as("c"))
    wk.groupBy("nationkey")
      .agg(array_sort(collect_list(struct(col("w"), col("c"))))
        .as("xs"))
      .select(col("nationkey"),
        expr("""aggregate(slice(xs, 2, size(xs) - 1),
             named_struct('l', element_at(xs, 1).c,
                          'b', CAST(0 AS BIGINT),
                          'ev', CAST(array() AS
                            ARRAY<STRUCT<a: BIGINT, f: BIGINT>>)),
             (acc, x) -> named_struct(
               'l', (x.c + acc.l + acc.b) div 2,
               'b', ((x.c + acc.l + acc.b) div 2 - acc.l + acc.b)
                 div 2,
               'ev', concat(acc.ev,
                 array(named_struct('a', x.c, 'f', acc.l + acc.b)))))
             .ev""").as("ev"))
      .select(col("nationkey"), posexplode(col("ev")))
      .select(col("nationkey"), (col("pos") + 2).cast("bigint").as("rn"),
        col("col.a").as("actual_cents"),
        col("col.f").as("forecast_cents"),
        (col("col.a") - col("col.f")).as("err_cents"))
  }

  private def q319OracleSql: String =
    """WITH RECURSIVE wk AS (
          SELECT c_nationkey AS n, date_trunc('week', o_orderdate) AS w,
            CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS c
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY 1, 2),
        ser AS (SELECT n, c, row_number() OVER (
            PARTITION BY n ORDER BY w) AS rn FROM wk),
        rec AS (
          SELECT n, rn, c AS l, CAST(0 AS BIGINT) AS b
          FROM ser WHERE rn = 1
          UNION ALL
          SELECT s.n, s.rn, (s.c + r.l + r.b) // 2,
            ((s.c + r.l + r.b) // 2 - r.l + r.b) // 2
          FROM rec r JOIN ser s ON s.n = r.n AND s.rn = r.rn + 1)
        SELECT s.n AS nationkey, CAST(s.rn AS BIGINT) AS rn,
          s.c AS actual_cents,
          r.l + r.b AS forecast_cents,
          s.c - (r.l + r.b) AS err_cents
        FROM ser s JOIN rec r ON r.n = s.n AND r.rn = s.rn - 1"""

  // ------------------------------------------------------------ q255

  /** q255 smoothing pseudo-count (prior weight, the q203 convention). */
  val LooM = 10L

  /** q255 — LEAVE-ONE-OUT TARGET ENCODING (q203's encoding made
    * leakage-safe: plain target encoding feeds row i a statistic that
    * CONTAINS yᵢ — the classic train-time leak that collapses at
    * serving; the LOO form excludes the row's own target from its own
    * feature): per order, over the customer market segment,
    * enc = (Σ_seg − yᵢ + m·prior) div (n_seg − 1 + m) with y = exact
    * order cents, m = 10, prior = global mean cents (integer div).
    * Released PER ROW (orderkey, segment, own cents, LOO cents) — the
    * per-row exclusion is the operator, so the differential pins every
    * row's feature, not a category table. All-integer arithmetic.
    *
    * Scale shape: one map-side-combined |segments|-row census + 1-row
    * global prior, broadcast back onto the row stream — the encode
    * pass stays scan-speed with zero row-side shuffles (q203's shape,
    * plus the in-row subtraction). Degenerate n_seg = 1 still divides
    * safely through the m pseudo-count. */
  def q255LooEncoding(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val rows = t(s, dir, "orders")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_mktsegment").as("segment"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
    val seg = rows.groupBy("segment")
      .agg(count(lit(1)).as("n_seg"), sum("cents").as("sum_seg"))
    val prior = rows.agg(
      expr("sum(cents) div count(1)").as("prior_cents"))
    rows.join(broadcast(seg), "segment")
      .crossJoin(broadcast(prior))
      .select(col("o_orderkey"), col("segment"), col("cents"),
        expr(s"""(sum_seg - cents + $LooM * prior_cents)
             div (n_seg - 1 + $LooM)""").as("loo_cents"))
  }

  private def q255OracleSql: String =
    s"""WITH rows_ AS (SELECT o_orderkey, c_mktsegment AS segment,
          CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders JOIN customer ON o_custkey = c_custkey),
        seg AS (SELECT segment, CAST(count(*) AS BIGINT) AS n_seg,
            CAST(sum(cents) AS BIGINT) AS sum_seg
          FROM rows_ GROUP BY 1),
        prior AS (SELECT CAST(sum(cents) // count(*) AS BIGINT)
            AS prior_cents
          FROM rows_)
        SELECT r.o_orderkey, r.segment, r.cents,
          (s.sum_seg - r.cents + $LooM * p.prior_cents)
            // (s.n_seg - 1 + $LooM) AS loo_cents
        FROM rows_ r JOIN seg s ON r.segment = s.segment
        CROSS JOIN prior p"""

  // ------------------------------------------------------------ q256

  /** q256 — THEIL–SEN ROBUST TREND per nation (the median-of-pairwise-
    * slopes estimator: least squares hands one outlier week the whole
    * trend, the Theil–Sen median shrugs off up to ~29% corruption —
    * the robust-statistics family member for TRENDS next to q162's MAD
    * for location): over the q252 weekly-revenue census with dense
    * week indices, every i<j pair contributes slope
    * (cⱼ−cᵢ)·10⁶ div (j−i) (exact integers, negative slopes truncate
    * toward zero on both engines — verified), and the released trend
    * is the lower-median slope (position (n+1) div 2 of the sorted
    * pair list — a deterministic order statistic, no float averaging).
    *
    * Scale shape: the pair join and the median window ride the
    * TIME-DOMAIN census (345 weeks → ~59k pairs per nation), never the
    * corpus — O(weeks²) per series is corpus-size-independent, the
    * standard Theil–Sen deployment bound (sub-sampled pairs when the
    * series itself is long). */
  def q256TheilSen(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val idx = t(s, dir, "orders")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nationkey"),
        date_trunc("week", col("o_orderdate")).as("w"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
        .as("c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("nationkey").orderBy("w")).cast("bigint"))
    val nw = idx.groupBy("nationkey").agg(max("rn").as("n_weeks"))
    val a = idx.select(col("nationkey"), col("c").as("ca"),
      col("rn").as("ra"))
    val b = idx.select(col("nationkey").as("nk2"), col("c").as("cb"),
      col("rn").as("rb"))
    val pairs = a.join(b,
      col("nationkey") === col("nk2") && col("rb") > col("ra"))
      .select(col("nationkey"),
        expr("(cb - ca) * 1000000 div (rb - ra)").as("slope_ppm"))
    pairs
      .withColumn("rnk", row_number().over(
        Window.partitionBy("nationkey").orderBy("slope_ppm"))
        .cast("bigint"))
      .withColumn("n_pairs", count(lit(1)).over(
        Window.partitionBy("nationkey")))
      .filter(col("rnk") === expr("(n_pairs + 1) div 2"))
      .join(broadcast(nw), "nationkey")
      .select(col("nationkey"), col("n_weeks"), col("n_pairs"),
        col("slope_ppm").as("theil_slope_ppm"))
  }

  private def q256OracleSql: String =
    """WITH wk AS (SELECT c_nationkey AS n,
          date_trunc('week', o_orderdate) AS w,
          CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
            AS BIGINT) AS c
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2),
        idx AS (SELECT n, c, CAST(row_number() OVER (
            PARTITION BY n ORDER BY w) AS BIGINT) AS rn FROM wk),
        nw AS (SELECT n, CAST(max(rn) AS BIGINT) AS n_weeks
          FROM idx GROUP BY 1),
        p AS (SELECT a.n,
            (b.c - a.c) * 1000000 // (b.rn - a.rn) AS slope_ppm
          FROM idx a JOIN idx b ON a.n = b.n AND b.rn > a.rn),
        r AS (SELECT n, slope_ppm,
            CAST(row_number() OVER (PARTITION BY n ORDER BY slope_ppm)
              AS BIGINT) AS rnk,
            CAST(count(*) OVER (PARTITION BY n) AS BIGINT) AS np
          FROM p)
        SELECT r.n AS nationkey, nw.n_weeks, r.np AS n_pairs,
          r.slope_ppm AS theil_slope_ppm
        FROM r JOIN nw ON nw.n = r.n
        WHERE r.rnk = (r.np + 1) // 2"""

  // ------------------------------------------------------------ q258

  /** q258 — SIMPSON'S-PARADOX AUDIT over the order funnel (the
    * confounding screen every aggregate metric needs before anyone
    * acts on it: a pooled rate comparison can point the OPPOSITE way
    * from every customer segment's own comparison when segment mix
    * correlates with treatment — the audit makes the pooled and
    * per-segment directions simultaneously visible): treatment =
    * urgent/high order priority, outcome = fulfilled status, one row
    * per customer segment plus the pooled 'ALL' row; per row both
    * arms' n/k, both rates in exact ppm, the lift sign from the
    * cross-multiplied comparison sign(k_t·n_c − k_c·n_t) (no float
    * rates in the decision), and `reversed` = this row's sign
    * contradicts the pooled sign — nonzero signs only, the audit's
    * flag column.
    *
    * Scale shape: ONE map-side-combined (segment, treated) census off
    * the broadcast-dim join; pooled row and signs ride the
    * |segments|-row frame; zero corpus-side windows. */
  def q258SimpsonAudit(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val base = t(s, dir, "orders")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("treat"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
    def arms(df: DataFrame, seg: Column): DataFrame =
      df.groupBy(seg.as("segment"))
        .agg(sum(when(col("treat"), 1L).otherwise(0L)).as("n_treat"),
          sum(when(col("treat"), col("y")).otherwise(0L)).as("k_treat"),
          sum(when(!col("treat"), 1L).otherwise(0L)).as("n_ctrl"),
          sum(when(!col("treat"), col("y")).otherwise(0L)).as("k_ctrl"))
    val per = arms(base, col("segment"))
    val pooled = arms(base, lit("ALL"))
    val all = per.unionByName(pooled)
      .withColumn("lift_sign",
        expr("sign(k_treat * n_ctrl - k_ctrl * n_treat)")
          .cast("bigint"))
    val ps = pooled
      .select(expr("sign(k_treat * n_ctrl - k_ctrl * n_treat)")
        .cast("bigint").as("pooled_sign"))
    all.crossJoin(broadcast(ps))
      .select(col("segment"), col("n_treat"), col("k_treat"),
        col("n_ctrl"), col("k_ctrl"),
        expr("k_treat * 1000000 div n_treat").as("treat_rate_ppm"),
        expr("k_ctrl * 1000000 div n_ctrl").as("ctrl_rate_ppm"),
        col("lift_sign"),
        (col("lift_sign") * col("pooled_sign") === -1L).as("reversed"))
  }

  private def q258OracleSql: String =
    """WITH base AS (SELECT c_mktsegment AS segment,
          o_orderpriority IN ('1-URGENT', '2-HIGH') AS treat,
          CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders JOIN customer ON o_custkey = c_custkey),
        per AS (SELECT segment,
            CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT)
              AS n_treat,
            CAST(sum(CASE WHEN treat THEN y ELSE 0 END) AS BIGINT)
              AS k_treat,
            CAST(sum(CASE WHEN treat THEN 0 ELSE 1 END) AS BIGINT)
              AS n_ctrl,
            CAST(sum(CASE WHEN treat THEN 0 ELSE y END) AS BIGINT)
              AS k_ctrl
          FROM base GROUP BY segment),
        pooled AS (SELECT 'ALL' AS segment,
            CAST(sum(n_treat) AS BIGINT) AS n_treat,
            CAST(sum(k_treat) AS BIGINT) AS k_treat,
            CAST(sum(n_ctrl) AS BIGINT) AS n_ctrl,
            CAST(sum(k_ctrl) AS BIGINT) AS k_ctrl
          FROM per),
        u AS (SELECT * FROM per UNION ALL SELECT * FROM pooled),
        ps AS (SELECT CAST(sign(k_treat * n_ctrl - k_ctrl * n_treat)
            AS BIGINT) AS pooled_sign FROM pooled)
        SELECT u.segment, u.n_treat, u.k_treat, u.n_ctrl, u.k_ctrl,
          u.k_treat * 1000000 // u.n_treat AS treat_rate_ppm,
          u.k_ctrl * 1000000 // u.n_ctrl AS ctrl_rate_ppm,
          CAST(sign(u.k_treat * u.n_ctrl - u.k_ctrl * u.n_treat)
            AS BIGINT) AS lift_sign,
          CAST(sign(u.k_treat * u.n_ctrl - u.k_ctrl * u.n_treat)
            AS BIGINT) * ps.pooled_sign = -1 AS reversed
        FROM u CROSS JOIN ps"""

  // ------------------------------------------------------------ q259

  /** q259 pre/post boundary (events span 2024-01; mid-month split). */
  val CupedSplit = "2024-01-16"

  /** q259 — CUPED VARIANCE REDUCTION (the controlled-experiment
    * workhorse: adjust each user's experiment-period metric by their
    * PRE-period activity, y′ = y − θ(x − x̄), and the metric's variance
    * drops by ρ² — the same experiment reaches significance with
    * (1−ρ²)× the users; θ = cov(x,y)/var(x) from sufficient statistics
    * only): per user, pre/post value-cents sums split at the
    * [[CupedSplit]] literal; θ and ρ² from the five exact sums
    * {n, Σx, Σy, Σx², Σxy, Σy²} in decimal(38,0)/HUGEINT
    * (n·Σxy passes int64 at sf0.1); released per arm (the q174 user_id
    * parity assignment): user count, raw post mean, CUPED-adjusted
    * mean — plus the shared θ and ρ² in ppm. ρ² is released as the
    * PRODUCT of two ×10³ ratios so the intermediate never squares a
    * ~1e19 covariance past decimal(38,0) — compounded truncation,
    * identical expression text on both engines. Denominators wrapped
    * in greatest(·, 1): a zero pre-period variance would NULL on Spark
    * but raise in DuckDB (the q181 guard convention).
    *
    * Scale shape: ONE user-keyed map-side-combinable aggregate builds
    * the per-user frame; the global stats and both arm rows are
    * |arms|-sized aggregates over it; the stats attach by broadcast.
    * Corpus is touched once. */
  def q259Cuped(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "events")
      .select(col("user_id"),
        (col("ts") < lit(CupedSplit).cast("timestamp")).as("pre"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .groupBy("user_id")
      .agg(sum(when(col("pre"), col("vc")).otherwise(0L)).as("x"),
        sum(when(!col("pre"), col("vc")).otherwise(0L)).as("y"))
      .withColumn("arm", col("user_id") % 2 === 1)
    val g = per.agg(count(lit(1)).as("n"), s38(col("x")).as("sx"),
      s38(col("y")).as("sy"),
      // widen BEFORE multiplying (mirrors the oracle's CAST(x AS
      // HUGEINT) * x): an int64-first product would wrap silently
      // under non-ANSI Spark at scale factors where DuckDB stays exact
      s38(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
      s38(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
      s38(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .select(col("n"),
        expr("CAST(sx * 1000000 div n AS BIGINT)").as("xbar_ppm"),
        expr("""CAST((n * sxy - sx * sy) * 1000000
             div greatest(n * sxx - sx * sx, 1) AS BIGINT)""")
          .as("theta_ppm"),
        expr("""CAST(((n * sxy - sx * sy) * 1000
               div greatest(n * sxx - sx * sx, 1))
             * ((n * sxy - sx * sy) * 1000
               div greatest(n * syy - sy * sy, 1)) AS BIGINT)""")
          .as("rho2_ppm"))
    per.groupBy("arm")
      .agg(count(lit(1)).as("n_users"), sum("x").as("sxa"),
        sum("y").as("sya"))
      .crossJoin(broadcast(g))
      .select(col("arm"), col("n_users"),
        expr("sya * 1000000 div n_users").as("mean_post_ppm"),
        expr("""CAST(sya * 1000000 div n_users
             - CAST(theta_ppm AS DECIMAL(38,0))
               * (sxa * 1000000 div n_users - xbar_ppm)
               div 1000000 AS BIGINT)""").as("mean_adj_ppm"),
        col("theta_ppm"), col("rho2_ppm"))
  }

  private def q259OracleSql: String =
    s"""WITH per AS (SELECT user_id,
          CAST(sum(CASE WHEN ts < TIMESTAMP '$CupedSplit'
              THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)
            AS BIGINT) AS x,
          CAST(sum(CASE WHEN ts < TIMESTAMP '$CupedSplit'
              THEN 0 ELSE CAST(floor(value * 100) AS BIGINT) END)
            AS BIGINT) AS y,
          user_id % 2 = 1 AS arm
        FROM events GROUP BY user_id),
        g AS (SELECT CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
            CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
            CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
            CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
            CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
          FROM per),
        gs AS (SELECT n,
            CAST(sx * 1000000 // n AS BIGINT) AS xbar_ppm,
            CAST((n * sxy - sx * sy) * 1000000
              // greatest(n * sxx - sx * sx, 1) AS BIGINT)
              AS theta_ppm,
            CAST(((n * sxy - sx * sy) * 1000
                // greatest(n * sxx - sx * sx, 1))
              * ((n * sxy - sx * sy) * 1000
                // greatest(n * syy - sy * sy, 1)) AS BIGINT)
              AS rho2_ppm
          FROM g),
        a AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
            CAST(sum(x) AS BIGINT) AS sxa,
            CAST(sum(y) AS BIGINT) AS sya
          FROM per GROUP BY arm)
        SELECT a.arm, a.n_users,
          a.sya * 1000000 // a.n_users AS mean_post_ppm,
          CAST(a.sya * 1000000 // a.n_users
            - CAST(gs.theta_ppm AS HUGEINT)
              * (a.sxa * 1000000 // a.n_users - gs.xbar_ppm)
              // 1000000 AS BIGINT) AS mean_adj_ppm,
          gs.theta_ppm, gs.rho2_ppm
        FROM a CROSS JOIN gs"""

  // ------------------------------------------------------------ q264

  /** q264 grid geometry: 32 length bands × 26 uniqueness bands. */
  val TauB1 = 32L
  val TauB2 = 26L

  /** q264 — BANDED KENDALL RANK CORRELATION, length vs lexical
    * uniqueness (the rank-agreement primitive for "can the cheap proxy
    * replace the expensive score?": Pearson sees only linear
    * relationships and one heavy-tailed feature wrecks it, rank
    * correlation is what actually answers whether two orderings agree
    * — here, do longer documents rank as less lexically unique, the
    * repetition effect q72 measures doc-by-doc, as one corpus-level
    * coefficient): τ_b over banded scores — b1 = n_chars div 128
    * (capped), b2 = (distinct·100 div total whitespace tokens) div 4.
    * Naive Kendall is O(n²) pair comparisons; banding collapses the
    * corpus to a ≤32×26 cell census on which concordant/discordant
    * pair counts are EXACT 2D-prefix-sum algebra: C = Σ n(x)·(mass
    * strictly below-left of x), D = Σ n(x)·(mass above-left), ties
    * from row/column marginals — every count an exact integer, and
    * the one float is the shared-text τ_b = (C−D)·10⁶ /
    * √((P−Tx)(P−Ty)) whose operands all sit below 2⁵³ (exact doubles;
    * the sqrt is IEEE-correctly-rounded — the q242 Wilson discipline).
    *
    * Scale shape: one corpus scan → 832-cell census; every window
    * rides the DENSIFIED grid (zero-filled so prefix frames can't
    * skip cells), all domain-sized; the result is one row. */
  def q264KendallTau(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(
      expr(s"least(n_chars div 128, ${TauB1 - 1})").as("b1"),
      expr("""(size(array_distinct(split(text, ' '))) * 100
           div size(split(text, ' '))) div 4""").as("b2"))
    val census = d.groupBy("b1", "b2").agg(count(lit(1)).as("n"))
    val grid = s.range(0, TauB1).toDF("b1")
      .crossJoin(s.range(0, TauB2).toDF("b2"))
      .join(census, Seq("b1", "b2"), "left").na.fill(0L, Seq("n"))
    val wlt2 = Window.partitionBy("b1").orderBy("b2")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wgt2 = Window.partitionBy("b1").orderBy("b2")
      .rowsBetween(1, Window.unboundedFollowing)
    val wb1 = Window.partitionBy("b2").orderBy("b1")
      .rowsBetween(Window.unboundedPreceding, -1)
    val g2 = grid
      .withColumn("clt2", coalesce(sum("n").over(wlt2), lit(0L)))
      .withColumn("cgt2", coalesce(sum("n").over(wgt2), lit(0L)))
      .withColumn("lb", coalesce(sum("clt2").over(wb1), lit(0L)))
      .withColumn("gl", coalesce(sum("cgt2").over(wb1), lit(0L)))
    val cd = g2.agg(sum(expr("n * lb")).as("concordant"),
      sum(expr("n * gl")).as("discordant"))
    val tx = g2.groupBy("b1").agg(sum("n").as("r"))
      .agg(sum(expr("r * (r - 1) div 2")).as("ties_len"))
    val ty = g2.groupBy("b2").agg(sum("n").as("r"))
      .agg(sum(expr("r * (r - 1) div 2")).as("ties_uniq"))
    d.agg(count(lit(1)).as("n_docs"))
      .select(col("n_docs"),
        expr("n_docs * (n_docs - 1) div 2").as("n_pairs"))
      .crossJoin(broadcast(cd)).crossJoin(broadcast(tx))
      .crossJoin(broadcast(ty))
      .select(col("n_docs"), col("n_pairs"), col("concordant"),
        col("discordant"), col("ties_len"), col("ties_uniq"),
        expr("""CAST(floor((concordant - discordant) * 1000000
             / sqrt((CAST(n_pairs AS DOUBLE) - ties_len)
                  * (CAST(n_pairs AS DOUBLE) - ties_uniq)))
             AS BIGINT)""").as("tau_b_ppm"))
  }

  private def q264OracleSql: String =
    s"""WITH d AS (SELECT least(n_chars // 128, ${TauB1 - 1}) AS b1,
          (len(list_distinct(string_split(text, ' '))) * 100
            // len(string_split(text, ' '))) // 4 AS b2
        FROM documents),
        census AS (SELECT b1, b2, CAST(count(*) AS BIGINT) AS n
          FROM d GROUP BY 1, 2),
        grid AS (SELECT g1.b1, g2.b2, coalesce(census.n, 0) AS n
          FROM (SELECT unnest(range(0, $TauB1)) AS b1) g1
          CROSS JOIN (SELECT unnest(range(0, $TauB2)) AS b2) g2
          LEFT JOIN census ON census.b1 = g1.b1 AND census.b2 = g2.b2),
        p1 AS (SELECT b1, b2, n,
            coalesce(sum(n) OVER (PARTITION BY b1 ORDER BY b2
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS clt2,
            coalesce(sum(n) OVER (PARTITION BY b1 ORDER BY b2
              ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
              AS cgt2
          FROM grid),
        p2 AS (SELECT b1, b2, n,
            coalesce(sum(clt2) OVER (PARTITION BY b2 ORDER BY b1
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS lb,
            coalesce(sum(cgt2) OVER (PARTITION BY b2 ORDER BY b1
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS gl
          FROM p1),
        cd AS (SELECT CAST(sum(n * lb) AS BIGINT) AS concordant,
            CAST(sum(n * gl) AS BIGINT) AS discordant FROM p2),
        tx AS (SELECT CAST(sum(r * (r - 1) // 2) AS BIGINT)
            AS ties_len
          FROM (SELECT sum(n) AS r FROM p2 GROUP BY b1) z),
        ty AS (SELECT CAST(sum(r * (r - 1) // 2) AS BIGINT)
            AS ties_uniq
          FROM (SELECT sum(n) AS r FROM p2 GROUP BY b2) z),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
            CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS n_pairs
          FROM d)
        SELECT n_docs, n_pairs, concordant, discordant, ties_len,
          ties_uniq,
          CAST(floor((concordant - discordant) * 1000000
            / sqrt((CAST(n_pairs AS DOUBLE) - ties_len)
                 * (CAST(n_pairs AS DOUBLE) - ties_uniq)))
            AS BIGINT) AS tau_b_ppm
        FROM tot, cd, tx, ty"""

  // ------------------------------------------------------------ q265

  /** q265 — SEASONAL DECOMPOSITION + RESIDUAL ANOMALY FLAGS (STL-lite:
    * the additive decompose-then-flag loop behind every metrics-
    * monitoring page — a raw threshold alarms every December, a
    * seasonal baseline alarms only when a month breaks ITS OWN
    * pattern): monthly revenue cents; seasonal(m) = the lower-median
    * revenue of calendar month m across the ~7 observed years (the
    * q256 deterministic order statistic — a median baseline shrugs
    * off one anomalous year where a mean absorbs it); residual =
    * actual − seasonal(month); flag when |residual| > 3·MAD with MAD
    * the lower-median absolute residual (q162's robust scale, here on
    * the decomposed series). All-integer; released per (year, month)
    * with every intermediate so the decomposition is auditable.
    *
    * Scale shape: corpus collapses map-side to the (year, month)
    * census (~84 rows); medians, residuals, and the MAD window all
    * ride that domain-sized frame. */
  def q265SeasonalResidual(s: SparkSession, dir: String): DataFrame = {
    val monthly = t(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).cast("bigint").as("yr"),
        month(col("o_orderdate")).cast("bigint").as("mo"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
        .as("rev"))
    val seasonal = monthly
      .withColumn("rk", row_number().over(
        Window.partitionBy("mo").orderBy("rev", "yr")).cast("bigint"))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("mo")))
      .filter(col("rk") === expr("(cnt + 1) div 2"))
      .select(col("mo"), col("rev").as("seasonal"))
    val resid = monthly.join(broadcast(seasonal), "mo")
      .withColumn("resid", col("rev") - col("seasonal"))
    val mad = resid
      .withColumn("ar", abs(col("resid")))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("ar"), col("yr"), col("mo")))
        .cast("bigint"))
      .withColumn("cnt", count(lit(1)).over())
      .filter(col("rk") === expr("(cnt + 1) div 2"))
      .select(col("ar").as("mad"))
    resid.crossJoin(broadcast(mad))
      .select(col("yr"), col("mo"), col("rev").as("rev_cents"),
        col("seasonal").as("seasonal_cents"),
        col("resid").as("resid_cents"),
        (abs(col("resid")) > col("mad") * 3L).as("anomaly"))
  }

  private def q265OracleSql: String =
    """WITH monthly AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
          CAST(month(o_orderdate) AS BIGINT) AS mo,
          CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
            AS BIGINT) AS rev
        FROM orders GROUP BY 1, 2),
        seasonal AS (SELECT mo, rev AS seasonal FROM (
            SELECT mo, rev, yr,
              CAST(row_number() OVER (PARTITION BY mo
                ORDER BY rev, yr) AS BIGINT) AS rk,
              CAST(count(*) OVER (PARTITION BY mo) AS BIGINT) AS cnt
            FROM monthly) z
          WHERE rk = (cnt + 1) // 2),
        resid AS (SELECT m.yr, m.mo, m.rev, s.seasonal,
            m.rev - s.seasonal AS resid
          FROM monthly m JOIN seasonal s ON m.mo = s.mo),
        mad AS (SELECT ar AS mad FROM (
            SELECT abs(resid) AS ar, yr, mo,
              CAST(row_number() OVER (ORDER BY abs(resid), yr, mo)
                AS BIGINT) AS rk,
              CAST(count(*) OVER () AS BIGINT) AS cnt
            FROM resid) z
          WHERE rk = (cnt + 1) // 2)
        SELECT r.yr, r.mo, r.rev AS rev_cents,
          r.seasonal AS seasonal_cents, r.resid AS resid_cents,
          abs(r.resid) > mad.mad * 3 AS anomaly
        FROM resid r CROSS JOIN mad"""

  // ------------------------------------------------------------ q266

  /** Shared Welch t expression over exact integer sufficient stats —
    * identical text on both engines (the q242 Wilson discipline):
    * every +,−,×,÷,√ is IEEE-correctly-rounded over bit-identical
    * operands, so floor×10⁶ is deterministic cross-engine. Operand
    * magnitude bound: Σv² cents² ≈ 6e13 at sf0.1 — exact in a double
    * (< 2⁵³); a corpus past ~sf3 would need a rescale, noted here. */
  private[operators] def welchTExpr(n1: String, s1: String, q1: String,
      n2: String, s2: String, q2: String): String =
    s"""((CAST($s1 AS DOUBLE) / $n1 - CAST($s2 AS DOUBLE) / $n2)
       / sqrt(($n1 * CAST($q1 AS DOUBLE) - CAST($s1 AS DOUBLE) * $s1)
            / (CAST($n1 AS DOUBLE) * $n1 * ($n1 - 1.0))
          + ($n2 * CAST($q2 AS DOUBLE) - CAST($s2 AS DOUBLE) * $s2)
            / (CAST($n2 AS DOUBLE) * $n2 * ($n2 - 1.0))))"""

  /** q266 — WELCH'S TWO-SAMPLE t (the A/B means test the platform
    * runs next to q174's rate lift and q190's k-group ANOVA: Student's
    * pooled-variance t silently assumes equal variances — Welch
    * doesn't, which is why it's the modern default): purchase vs
    * click event values, t from the six exact sufficient statistics
    * {n, Σv, Σv²}×2 through ONE shared-text double expression;
    * released with both arms' n and exact ppm means plus t·10⁶. The
    * statistic is the effect-size-to-noise ratio — the number a
    * sequential-testing harness thresholds.
    *
    * Scale shape: one map-side-combined two-group aggregate (six
    * numbers) → a 1-row result. The cheapest possible corpus
    * statistic, like q180. */
  def q266WelchT(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .select((col("event_type") === "purchase").as("arm"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
    ev.agg(
      sum(when(col("arm"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("arm"), col("vc")).otherwise(0L)).as("s1"),
      sum(when(col("arm"), expr("vc * vc")).otherwise(0L)).as("q1"),
      sum(when(!col("arm"), 1L).otherwise(0L)).as("n2"),
      sum(when(!col("arm"), col("vc")).otherwise(0L)).as("s2"),
      sum(when(!col("arm"), expr("vc * vc")).otherwise(0L)).as("q2"))
      .select(col("n1"), col("n2"),
        expr("s1 * 1000000 div n1").as("mean1_ppm"),
        expr("s2 * 1000000 div n2").as("mean2_ppm"),
        expr(s"""CAST(floor(${welchTExpr("n1", "s1", "q1",
          "n2", "s2", "q2")} * 1000000) AS BIGINT)""").as("t_ppm"))
  }

  private def q266OracleSql: String =
    s"""WITH g AS (SELECT
          CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n1,
          CAST(sum(CASE WHEN event_type = 'purchase'
              THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)
            AS BIGINT) AS s1,
          CAST(sum(CASE WHEN event_type = 'purchase'
              THEN CAST(floor(value * 100) AS BIGINT)
                 * CAST(floor(value * 100) AS BIGINT) ELSE 0 END)
            AS BIGINT) AS q1,
          CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
            AS BIGINT) AS n2,
          CAST(sum(CASE WHEN event_type = 'click'
              THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)
            AS BIGINT) AS s2,
          CAST(sum(CASE WHEN event_type = 'click'
              THEN CAST(floor(value * 100) AS BIGINT)
                 * CAST(floor(value * 100) AS BIGINT) ELSE 0 END)
            AS BIGINT) AS q2
        FROM events WHERE event_type IN ('purchase', 'click'))
        SELECT n1, n2, s1 * 1000000 // n1 AS mean1_ppm,
          s2 * 1000000 // n2 AS mean2_ppm,
          CAST(floor(${welchTExpr("n1", "s1", "q1",
            "n2", "s2", "q2")} * 1000000) AS BIGINT) AS t_ppm
        FROM g"""

  // ------------------------------------------------------------ q268

  /** q268 z-sum literal: z(α/2 = 0.025) + z(β = 0.20) = 1.959964 +
    * 0.841621 — constants of the 95%-power-80% design, embedded as the
    * same literal in both engines (normal quantiles are NOT
    * computable deterministically cross-engine; these two numbers are
    * the entire table a power calculation needs). */
  val MdeZSum = "2.801585"

  /** q268 — MINIMUM DETECTABLE EFFECT / POWER ANALYSIS (the question
    * every experiment asks BEFORE running: with this traffic and this
    * variance, what's the smallest mean shift a 95%-confidence,
    * 80%-power A/B split can see? — the q259/q266 family's planning
    * member; an MDE below practical relevance means the test is a
    * formality, one above it means don't bother): per event type,
    * n, exact ppm mean, the exact integer sample variance
    * (n·Σv² − (Σv)²) div (n·(n−1)) in cents², and
    * MDE = z·√(2·s²/(n div 2)) through one shared-text double
    * expression over exact integers (q242 discipline), floored ×10⁶
    * (units: cents·10⁶). Arm size = n div 2, the even-split design.
    *
    * Scale shape: one map-side-combined per-type aggregate of three
    * numbers → |types| rows. */
  def q268MdePower(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events")
      .select(col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("vc").as("sv"),
        // widen BEFORE multiplying (q259 discipline: the oracle's
        // HUGEINT-first product) so n·qv never wraps int64 silently
        sum(expr("CAST(vc AS DECIMAL(38,0)) * vc")).as("qv"))
      .select(col("event_type"), col("n"),
        expr("sv * 1000000 div n").as("mean_ppm"),
        // greatest(·,1) guards the singleton-type edge (n = 1) where
        // Spark would NULL and DuckDB would raise (q181 convention)
        expr("""(n * qv - CAST(sv AS DECIMAL(38,0)) * sv)
             div greatest(n * (n - 1), 1)""").as("var_cents2"),
        expr(s"""CAST(floor($MdeZSum
             * sqrt(2.0 * ((n * CAST(qv AS DOUBLE)
                 - CAST(sv AS DOUBLE) * sv)
               / (CAST(n AS DOUBLE) * greatest(n - 1.0, 1.0)))
               / greatest(n div 2, 1))
             * 1000000) AS BIGINT)""").as("mde_fp"))
  }

  private def q268OracleSql: String =
    s"""WITH g AS (SELECT event_type,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
            AS sv,
          CAST(sum(CAST(CAST(floor(value * 100) AS BIGINT) AS HUGEINT)
             * CAST(floor(value * 100) AS BIGINT)) AS HUGEINT) AS qv
        FROM events GROUP BY event_type)
        SELECT event_type, n, sv * 1000000 // n AS mean_ppm,
          CAST((n * qv - CAST(sv AS HUGEINT) * sv)
            // greatest(n * (n - 1), 1) AS BIGINT) AS var_cents2,
          CAST(floor($MdeZSum
            * sqrt(2.0 * ((n * CAST(qv AS DOUBLE)
                - CAST(sv AS DOUBLE) * sv)
              / (CAST(n AS DOUBLE) * greatest(n - 1.0, 1.0)))
              / greatest(n // 2, 1))
            * 1000000) AS BIGINT) AS mde_fp
        FROM g"""

  // ------------------------------------------------------------ q277

  /** q277 — EXPECTED SHORTFALL / CVaR per event type (the tail-MEAN
    * statistic risk desks replaced VaR with, and what a capacity or
    * cost planner actually budgets against: the p95 quantile says
    * where the tail starts, the expected shortfall says how bad it is
    * ONCE you're in it — two corpora with identical p95 can have 2×
    * different tail means): VaR = the census p95 (smallest value with
    * cum·100 ≥ 95·n, the q253 discrete convention), tail = rows with
    * value ≥ VaR, ES = exact ppm mean of the tail. Released per type
    * with the tail population so the (~5%) mass is auditable.
    *
    * Scale shape: one map-side value census per type; VaR from a
    * census cumsum window (domain-sized, q132 discipline); the tail
    * mean re-reads the CENSUS, not the corpus. */
  def q277ExpectedShortfall(s: SparkSession, dir: String): DataFrame = {
    val census = t(s, dir, "events")
      .select(col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .groupBy("event_type", "vc").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("event_type").orderBy("vc")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy("event_type")
    val withVar = census
      .withColumn("cum", sum("c").over(w))
      .withColumn("n", sum("c").over(tot))
      .groupBy("event_type")
      .agg(max("n").as("n"),
        min(when(expr("cum * 100 >= n * 95"), col("vc")))
          .as("var_cents"))
    census.join(broadcast(withVar), "event_type")
      .filter(col("vc") >= col("var_cents"))
      .groupBy("event_type", "n", "var_cents")
      .agg(sum("c").as("n_tail"),
        expr("""CAST(CAST(sum(vc * c) AS DECIMAL(38,0)) * 1000000
             div sum(c) AS BIGINT)""").as("es_cents_ppm"))
      .select("event_type", "n", "var_cents", "n_tail", "es_cents_ppm")
  }

  private def q277OracleSql: String =
    """WITH census AS (SELECT event_type,
          CAST(floor(value * 100) AS BIGINT) AS vc,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
        cum AS (SELECT event_type, vc, c,
            CAST(sum(c) OVER (PARTITION BY event_type ORDER BY vc
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
            CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
          FROM census),
        v AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n,
            min(CASE WHEN cum * 100 >= n * 95 THEN vc END)
              AS var_cents
          FROM cum GROUP BY event_type)
        SELECT c.event_type, v.n, v.var_cents,
          CAST(sum(c.c) AS BIGINT) AS n_tail,
          CAST(CAST(sum(c.vc * c.c) AS HUGEINT) * 1000000
            // sum(c.c) AS BIGINT) AS es_cents_ppm
        FROM census c JOIN v ON c.event_type = v.event_type
        WHERE c.vc >= v.var_cents
        GROUP BY c.event_type, v.n, v.var_cents"""

  // ------------------------------------------------------------ q279

  /** q279 — PRECISION-RECALL CURVE over the value census (the eval
    * artifact that matters under class imbalance, where q187's ROC
    * flatters any classifier: with 20% positives a useless model gets
    * ROC 0.5 but precision 0.2 — the PR curve shows it; "does order
    * value predict purchase" scored at every census threshold): per
    * score band t (value cents div 100), TP/FP at the `score ≥ t`
    * decision from SUFFIX sums over the per-band class census, with
    * exact ppm precision and recall. Thresholds are the observed
    * bands, so the curve is the complete exact staircase, not a
    * sample.
    *
    * Scale shape: one map-side (band, class) census; suffix sums ride
    * the ≤|bands| frame (q132 discipline); output is the census-sized
    * curve. */
  def q279PrCurve(s: SparkSession, dir: String): DataFrame = {
    val census = t(s, dir, "events")
      .select(expr("CAST(floor(value) AS BIGINT)").as("band"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("pos"))
      .groupBy("band")
      .agg(sum("pos").as("p"), (count(lit(1)) - sum("pos")).as("q"))
    val w = Window.orderBy(col("band").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    census
      .withColumn("tp", sum("p").over(w))
      .withColumn("fp", sum("q").over(w))
      .withColumn("pos_total", sum("p").over(Window.partitionBy()))
      .select(col("band").as("threshold_band"), col("tp"), col("fp"),
        expr("tp * 1000000 div (tp + fp)").as("precision_ppm"),
        expr("tp * 1000000 div pos_total").as("recall_ppm"))
  }

  private def q279OracleSql: String =
    """WITH census AS (SELECT CAST(floor(value) AS BIGINT) AS band,
          CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS p,
          CAST(sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END)
            AS BIGINT) AS q
        FROM events GROUP BY 1),
        sfx AS (SELECT band, p, q,
            CAST(sum(p) OVER (ORDER BY band DESC
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
            CAST(sum(q) OVER (ORDER BY band DESC
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp,
            CAST(sum(p) OVER () AS BIGINT) AS pos_total
          FROM census)
        SELECT band AS threshold_band, tp, fp,
          tp * 1000000 // (tp + fp) AS precision_ppm,
          tp * 1000000 // pos_total AS recall_ppm
        FROM sfx"""

  // ------------------------------------------------------------ q281

  /** q281 — POISSON-BOOTSTRAP CI ON A DIFFERENCE OF MEANS (q240's
    * distributed-bootstrap machinery pointed at the question q266's
    * Welch t answers parametrically: how uncertain is the
    * purchase−click value gap, with NO normality assumption — the
    * nonparametric second opinion an experiment review asks for when
    * the metric is skewed): the same keyed-LCG Poisson multiplicities
    * (event-identity-seeded, so the draw is bit-reproducible
    * cross-engine), 32 replicas accumulated in ONE pass; per replica
    * the exact ppm difference of the two arms' resampled means; the
    * released interval is the 2nd-smallest / 2nd-largest replica
    * difference (~94% coverage) around the exact point difference.
    *
    * Scale shape: q240's — one ×32 in-row multiplicity explode into a
    * map-side-combined (arm, replica) aggregate; the replica-diff and
    * order-statistic work rides a 64-row frame. */
  def q281BootstrapDiff(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .select((col("event_type") === "purchase").as("arm"),
        col("event_id"),
        floor(col("value") * 100).as("vc"))
    val pt = ev.groupBy("arm")
      .agg(expr("""CAST(CAST(sum(vc) AS DECIMAL(38,0)) * 1000000
              div count(*) AS BIGINT)""").as("mean_ppm"))
    val point = pt.groupBy()
      .agg((max(when(col("arm"), col("mean_ppm")))
        - max(when(!col("arm"), col("mean_ppm"))))
        .as("point_diff_ppm"))
    val reps = ev
      .select(col("arm"), col("vc"),
        explode(expr(s"""transform(sequence(0, ${BootB - 1}), bb ->
          struct(bb AS b,
            ((event_id * 64 + bb) * 1103515245 + 12345)
              % 2147483647 % 1000000 AS u))""")).as("r"))
      .select(col("arm"), col("vc"), col("r.b").as("b"),
        expr(s"""CASE WHEN r.u < $BootP0 THEN 0
                 WHEN r.u < $BootP1 THEN 1
                 WHEN r.u < $BootP2 THEN 2
                 WHEN r.u < $BootP3 THEN 3 ELSE 4 END""").as("mlt"))
      .groupBy("arm", "b")
      .agg(expr("""CAST(CAST(sum(mlt * vc) AS DECIMAL(38,0)) * 1000000
              div greatest(sum(mlt), 1) AS BIGINT)""").as("rmean"))
    val diffs = reps.groupBy("b")
      .agg((max(when(col("arm"), col("rmean")))
        - max(when(!col("arm"), col("rmean")))).as("rdiff"))
      .agg(count(lit(1)).as("n_replicas"),
        sort_array(collect_list("rdiff")).as("ds"))
      .select(col("n_replicas"),
        expr("element_at(ds, 2)").as("ci_lo_ppm"),
        expr(s"element_at(ds, ${BootB - 1})").as("ci_hi_ppm"))
    point.crossJoin(broadcast(diffs))
      .select(col("point_diff_ppm"), col("n_replicas"),
        col("ci_lo_ppm"), col("ci_hi_ppm"))
  }

  private def q281OracleSql: String =
    s"""WITH ev AS (SELECT event_type = 'purchase' AS arm, event_id,
          CAST(floor(value * 100) AS BIGINT) AS vc
        FROM events WHERE event_type IN ('purchase', 'click')),
        pt AS (SELECT arm, CAST(CAST(sum(vc) AS HUGEINT) * 1000000
            // count(*) AS BIGINT) AS mean_ppm
          FROM ev GROUP BY arm),
        point AS (SELECT
            max(CASE WHEN arm THEN mean_ppm END)
              - max(CASE WHEN NOT arm THEN mean_ppm END)
              AS point_diff_ppm
          FROM pt),
        r AS (SELECT arm, vc, bb.b AS b,
            ((event_id * 64 + bb.b) * 1103515245 + 12345)
              % 2147483647 % 1000000 AS u
          FROM ev, (SELECT unnest(range(0, $BootB)) AS b) bb),
        m AS (SELECT arm, b, vc,
            CASE WHEN u < $BootP0 THEN 0 WHEN u < $BootP1 THEN 1
                 WHEN u < $BootP2 THEN 2 WHEN u < $BootP3 THEN 3
                 ELSE 4 END AS mlt
          FROM r),
        rm AS (SELECT arm, b,
            CAST(CAST(sum(mlt * vc) AS HUGEINT) * 1000000
              // greatest(sum(mlt), 1) AS BIGINT) AS rmean
          FROM m GROUP BY arm, b),
        rd AS (SELECT b, max(CASE WHEN arm THEN rmean END)
              - max(CASE WHEN NOT arm THEN rmean END) AS rdiff
          FROM rm GROUP BY b),
        ci AS (SELECT CAST(count(*) AS BIGINT) AS n_replicas,
            list_sort(list(rdiff)) AS ds FROM rd)
        SELECT point.point_diff_ppm, ci.n_replicas,
          CAST(ci.ds[2] AS BIGINT) AS ci_lo_ppm,
          CAST(ci.ds[${BootB - 1}] AS BIGINT) AS ci_hi_ppm
        FROM point CROSS JOIN ci"""

  // ------------------------------------------------------------ q286

  /** q286 — RFM FEATURE BUILD (recency / frequency / monetary — the
    * classic behavioral feature triple every churn, LTV, and
    * segmentation model starts from; the operator is the
    * feature-engineering pass itself, per-user and decile-ranked so
    * the features are model-ready): per user the days since their
    * last event (anchored at the corpus max day — a replay-stable
    * anchor, never wall-clock), event count, and exact value-cents
    * sum; each metric decile-ranked 1..10 with 1 = best (most recent,
    * most frequent, highest spend; ties broken by user_id so the
    * ranking is total). All-integer.
    *
    * Scale shape: ONE user-keyed map-side aggregate; the three decile
    * windows ride the user-domain frame (not the event corpus), and
    * at huge user counts each window swaps for q90's two-pass
    * histogram threshold without changing the decile contract. */
  def q286RfmFeatures(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "events")
      .groupBy("user_id")
      .agg(max(col("ts").cast("date")).as("last_day"),
        count(lit(1)).as("frequency"),
        sum(expr("CAST(floor(value * 100) AS BIGINT)"))
          .as("monetary_cents"))
    val anchor = per.agg(max("last_day").as("anchor"))
    val base = per.crossJoin(broadcast(anchor))
      .select(col("user_id"),
        datediff(col("anchor"), col("last_day")).cast("bigint")
          .as("recency_days"),
        col("frequency"), col("monetary_cents"))
    base
      .withColumn("nu", count(lit(1)).over(Window.partitionBy()))
      .withColumn("rr", row_number().over(
        Window.orderBy(col("recency_days"), col("user_id")))
        .cast("bigint"))
      .withColumn("rf", row_number().over(
        Window.orderBy(col("frequency").desc, col("user_id")))
        .cast("bigint"))
      .withColumn("rm", row_number().over(
        Window.orderBy(col("monetary_cents").desc, col("user_id")))
        .cast("bigint"))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary_cents"),
        expr("(rr - 1) * 10 div nu + 1").as("r_decile"),
        expr("(rf - 1) * 10 div nu + 1").as("f_decile"),
        expr("(rm - 1) * 10 div nu + 1").as("m_decile"))
  }

  private def q286OracleSql: String =
    """WITH per AS (SELECT user_id,
          CAST(max(ts) AS DATE) AS last_day,
          CAST(count(*) AS BIGINT) AS frequency,
          CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
            AS monetary_cents
        FROM events GROUP BY user_id),
        anchor AS (SELECT max(last_day) AS anchor FROM per),
        base AS (SELECT user_id,
            CAST(date_diff('day', per.last_day, anchor.anchor)
              AS BIGINT) AS recency_days,
            frequency, monetary_cents
          FROM per CROSS JOIN anchor),
        rk AS (SELECT base.*,
            CAST(count(*) OVER () AS BIGINT) AS nu,
            CAST(row_number() OVER (ORDER BY recency_days, user_id)
              AS BIGINT) AS rr,
            CAST(row_number() OVER (ORDER BY frequency DESC, user_id)
              AS BIGINT) AS rf,
            CAST(row_number() OVER (ORDER BY monetary_cents DESC,
              user_id) AS BIGINT) AS rm
          FROM base)
        SELECT user_id, recency_days, frequency, monetary_cents,
          (rr - 1) * 10 // nu + 1 AS r_decile,
          (rf - 1) * 10 // nu + 1 AS f_decile,
          (rm - 1) * 10 // nu + 1 AS m_decile
        FROM rk"""

  // ------------------------------------------------------------ q287

  /** q287 — F1-OPTIMAL THRESHOLD (the decision q279's curve feeds: a
    * deployed gate needs ONE threshold, and the F1 argmax is the
    * standard balanced pick — computed exactly on the same class
    * census, F1 = 2TP div (2TP + FP + FN), so the argmax needs no
    * float and ties break toward the smaller band): per observed
    * band the confusion counts, the exact ppm F1, and `chosen` on the
    * maximizer — the operator IS the threshold decision, released
    * with the evidence it was made on.
    *
    * Scale shape: q279's census + suffix sums; the argmax is a 1-row
    * broadcast comparison over the ≤|bands| frame. */
  def q287F1Optimizer(s: SparkSession, dir: String): DataFrame = {
    val census = t(s, dir, "events")
      .select(expr("CAST(floor(value) AS BIGINT)").as("band"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("pos"))
      .groupBy("band")
      .agg(sum("pos").as("p"), (count(lit(1)) - sum("pos")).as("q"))
    val w = Window.orderBy(col("band").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = census
      .withColumn("tp", sum("p").over(w))
      .withColumn("fp", sum("q").over(w))
      .withColumn("fn",
        sum("p").over(Window.partitionBy()) - col("tp"))
      .select(col("band").as("threshold_band"), col("tp"), col("fp"),
        col("fn"),
        expr("2 * tp * 1000000 div (2 * tp + fp + fn)").as("f1_ppm"))
    val best = scored
      .withColumn("rk", row_number().over(
        Window.orderBy(col("f1_ppm").desc, col("threshold_band"))))
      .filter(col("rk") === 1)
      .select(col("threshold_band").as("best_band"))
    scored.crossJoin(broadcast(best))
      .select(col("threshold_band"), col("tp"), col("fp"), col("fn"),
        col("f1_ppm"),
        (col("threshold_band") === col("best_band")).as("chosen"))
  }

  private def q287OracleSql: String =
    """WITH census AS (SELECT CAST(floor(value) AS BIGINT) AS band,
          CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS p,
          CAST(sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END)
            AS BIGINT) AS q
        FROM events GROUP BY 1),
        scored AS (SELECT band AS threshold_band,
            CAST(sum(p) OVER (ORDER BY band DESC
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
            CAST(sum(q) OVER (ORDER BY band DESC
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp,
            CAST(sum(p) OVER () - sum(p) OVER (ORDER BY band DESC
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fn
          FROM census),
        f AS (SELECT threshold_band, tp, fp, fn,
            2 * tp * 1000000 // (2 * tp + fp + fn) AS f1_ppm
          FROM scored),
        best AS (SELECT threshold_band AS best_band FROM f
          ORDER BY f1_ppm DESC, threshold_band LIMIT 1)
        SELECT f.threshold_band, f.tp, f.fp, f.fn, f.f1_ppm,
          f.threshold_band = best.best_band AS chosen
        FROM f CROSS JOIN best"""

  // ------------------------------------------------------------ q297

  /** q297 — MAXIMUM DRAWDOWN per nation (the sequential risk
    * statistic a mean or variance cannot see: two revenue series with
    * identical moments differ completely in how far and how long they
    * fall from their running peak — the number capacity planning and
    * finance both call "worst case to date"): over q252's weekly
    * revenue census, the cumulative series' running maximum and the
    * maximum peak-to-trough decline max_t(runmax_t − cum_t), plus the
    * week index where the trough hits (earliest on ties) — all exact
    * integers on the time-domain frame. A cumulative-revenue series
    * is non-decreasing, so the operator runs on the WEEKLY NET series
    * relative to its own mean (revenue − nation mean per week): the
    * demeaned walk is the standard "relative drawdown" form that
    * makes under-performance streaks visible.
    *
    * Scale shape: the (nation, week) census map-side; cumsum, running
    * max, and the argmax all ride the ≤345-row per-nation frame (one
    * nation-keyed exchange). */
  def q297MaxDrawdown(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val wk = t(s, dir, "orders")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nationkey"),
        date_trunc("week", col("o_orderdate")).as("w"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
        .as("c"))
    val mean = wk.groupBy("nationkey")
      .agg(expr("sum(c) div count(1)").as("mu"),
        count(lit(1)).as("n_weeks"))
    val ww = Window.partitionBy("nationkey").orderBy("w")
    val cum = wk.join(broadcast(mean), "nationkey")
      .withColumn("rn", row_number().over(ww).cast("bigint"))
      .withColumn("cum", sum(expr("c - mu")).over(
        ww.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("runmax", max("cum").over(
        ww.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("dd", col("runmax") - col("cum"))
    cum
      .withColumn("rk", row_number().over(
        Window.partitionBy("nationkey")
          .orderBy(col("dd").desc, col("rn"))))
      .filter(col("rk") === 1)
      .select(col("nationkey"), col("n_weeks"),
        col("dd").as("max_drawdown_cents"),
        col("rn").as("trough_week"))
  }

  private def q297OracleSql: String =
    """WITH wk AS (SELECT c_nationkey AS n,
          date_trunc('week', o_orderdate) AS w,
          CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
            AS BIGINT) AS c
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2),
        mean AS (SELECT n, CAST(sum(c) // count(*) AS BIGINT) AS mu,
            CAST(count(*) AS BIGINT) AS n_weeks
          FROM wk GROUP BY n),
        cum AS (SELECT wk.n, mean.n_weeks,
            CAST(row_number() OVER (PARTITION BY wk.n ORDER BY wk.w)
              AS BIGINT) AS rn,
            CAST(sum(wk.c - mean.mu) OVER (PARTITION BY wk.n
              ORDER BY wk.w ROWS UNBOUNDED PRECEDING) AS BIGINT)
              AS cum
          FROM wk JOIN mean ON wk.n = mean.n),
        dd AS (SELECT n, n_weeks, rn,
            CAST(max(cum) OVER (PARTITION BY n ORDER BY rn
              ROWS UNBOUNDED PRECEDING) - cum AS BIGINT) AS dd
          FROM cum)
        SELECT n AS nationkey, n_weeks, dd AS max_drawdown_cents,
          rn AS trough_week
        FROM (SELECT dd.*, row_number() OVER (PARTITION BY n
            ORDER BY dd DESC, rn) AS rk FROM dd) z
        WHERE rk = 1"""

  // ------------------------------------------------------------ q298

  /** q298 — WEEKDAY REVENUE PROFILE (q296's calendar convention put
    * to work on the money axis: the day-of-week mix every staffing
    * and cache-warmup plan reads, with the share in exact ppm so the
    * profile is comparable across corpora of any size; q196 profiles
    * EVENT intensity by hour — this profiles ORDER revenue by the
    * 0=Sunday weekday, the same normalized convention): per weekday
    * the order count, exact revenue cents, and both shares in ppm.
    *
    * Scale shape: one corpus scan collapsing map-side to a 7-row
    * census + a broadcast 1-row total. */
  def q298WeekdayRevenue(s: SparkSession, dir: String): DataFrame = {
    val census = t(s, dir, "orders")
      .select(expr("CAST(dayofweek(o_orderdate) - 1 AS BIGINT)")
        .as("dow"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      .groupBy("dow")
      .agg(count(lit(1)).as("n_orders"), sum("cents").as("rev_cents"))
    val tot = census.agg(sum("n_orders").as("tn"),
      sum("rev_cents").as("tr"))
    census.crossJoin(broadcast(tot))
      .select(col("dow"), col("n_orders"), col("rev_cents"),
        expr("n_orders * 1000000 div tn").as("order_share_ppm"),
        expr("""CAST(CAST(rev_cents AS DECIMAL(38,0)) * 1000000
             div tr AS BIGINT)""").as("rev_share_ppm"))
  }

  private def q298OracleSql: String =
    """WITH census AS (SELECT CAST(dayofweek(o_orderdate) AS BIGINT)
          AS dow,
          CAST(count(*) AS BIGINT) AS n_orders,
          CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
            AS BIGINT) AS rev_cents
        FROM orders GROUP BY 1),
        tot AS (SELECT CAST(sum(n_orders) AS BIGINT) AS tn,
            CAST(sum(rev_cents) AS BIGINT) AS tr FROM census)
        SELECT dow, n_orders, rev_cents,
          n_orders * 1000000 // tn AS order_share_ppm,
          CAST(CAST(rev_cents AS HUGEINT) * 1000000 // tr AS BIGINT)
            AS rev_share_ppm
        FROM census CROSS JOIN tot"""

  // ------------------------------------------------------------ q299

  /** q299 — QUANTITY → DISCOUNT PRICING PROFILE (the volume-discount
    * readout a pricing team checks its rule book against: does the
    * discount actually rise with quantity, and what does a line of
    * each size carry on average — the elasticity surface in census
    * form): per whole-unit quantity band, the line count, mean
    * discount in exact ppm of list price (Σ discount-cents·10⁶ div
    * Σ 1, both exact integers — discount is a fraction, scaled ×10⁴
    * to basis points then averaged exactly), and mean extended price
    * cents.
    *
    * Scale shape: one lineitem scan collapsing map-side to the
    * ≤|quantities| census; all ratios in-row on the census. */
  def q299QuantityDiscount(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem")
      .select(expr("CAST(floor(l_quantity) AS BIGINT)").as("qty"),
        expr("CAST(floor(l_discount * 10000) AS BIGINT)").as("disc_bp"),
        expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")
          .as("price_cents"))
      .groupBy("qty")
      .agg(count(lit(1)).as("n_lines"),
        expr("sum(disc_bp) * 100 div count(1)").as("mean_disc_ppm"),
        expr("""CAST(CAST(sum(price_cents) AS DECIMAL(38,0))
             div count(1) AS BIGINT)""").as("mean_price_cents"))
  }

  private def q299OracleSql: String =
    """SELECT CAST(floor(l_quantity) AS BIGINT) AS qty,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(floor(l_discount * 10000) AS BIGINT)) * 100
         // count(*) AS BIGINT) AS mean_disc_ppm,
       CAST(CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
         AS HUGEINT) // count(*) AS BIGINT) AS mean_price_cents
       FROM lineitem GROUP BY 1"""

  // ------------------------------------------------------------ q325

  /** q325 — COHORT RETENTION MATRIX (the product-analytics table every
    * growth team keeps open: users cohorted by SIGNUP week, each
    * cohort's share still active o weeks later — q308's Kaplan–Meier
    * answers time-to-ONE-event with censoring, q211's rolling WAU is a
    * calendar aggregate; the retention matrix is the per-cohort decay
    * CURVE, and reading down a diagonal separates product change from
    * cohort quality). Cohort = week of the user's FIRST signup event
    * (date_trunc('week'), the q252 convention); a user is active in
    * offset o if ANY event falls in cohort_week + o. Offset 0 contains
    * the signup itself, so retained = n_cohort there — the differential
    * pins that identity rather than special-casing it. Released per
    * (cohort_week, week_offset): cohort size, retained count, and
    * retention in exact ppm (retained·10⁶ div n_cohort).
    *
    * Scale shape: two user-keyed partial-aggregated shuffles (first
    * signup; distinct active weeks) that co-partition on user_id, one
    * broadcast-size census groupBy — O(users·weeks) rows into the
    * census, |weeks|² rows out. No windows, no self-joins. */
  def q325CohortRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val cohort = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(date_trunc("week", col("ts"))).as("cw"))
    val active = ev
      .select(col("user_id"), date_trunc("week", col("ts")).as("aw"))
      .distinct()
    val sizes = cohort.groupBy("cw").agg(count(lit(1)).as("n_cohort"))
    cohort.join(active, Seq("user_id"))
      .filter(col("aw") >= col("cw"))
      .select(col("cw"),
        (datediff(col("aw").cast("date"), col("cw").cast("date")) / 7)
          .cast("bigint").as("week_offset"))
      .groupBy("cw", "week_offset")
      .agg(count(lit(1)).as("retained"))
      .join(broadcast(sizes), "cw")
      .select(col("cw").cast("date").as("cohort_week"),
        col("week_offset"), col("n_cohort"), col("retained"),
        expr("retained * 1000000 div n_cohort").as("retention_ppm"))
  }

  private def q325OracleSql: String =
    """WITH cohort AS (SELECT user_id,
          min(date_trunc('week', ts)) AS cw
        FROM events WHERE event_type = 'signup' GROUP BY user_id),
        active AS (SELECT DISTINCT user_id,
          date_trunc('week', ts) AS aw FROM events),
        sizes AS (SELECT cw, CAST(count(*) AS BIGINT) AS n_cohort
          FROM cohort GROUP BY cw),
        ret AS (SELECT cw,
          CAST(date_diff('day', CAST(cw AS DATE), CAST(aw AS DATE)) // 7
            AS BIGINT) AS week_offset,
          CAST(count(*) AS BIGINT) AS retained
        FROM cohort JOIN active USING (user_id)
        WHERE aw >= cw GROUP BY 1, 2)
        SELECT CAST(ret.cw AS DATE) AS cohort_week, week_offset,
          n_cohort, retained,
          retained * 1000000 // n_cohort AS retention_ppm
        FROM ret JOIN sizes ON sizes.cw = ret.cw"""

  // ------------------------------------------------------------ q368

  /** q368 — ISOTONIC CALIBRATION (pool-adjacent-violators fit) of the
    * per-bin purchase rate from q195's reliability table (the
    * calibration REPAIR step after q195's diagnosis: a scored model
    * whose observed rate dips as the score rises violates monotonicity,
    * and the isotonic fit is the standard nonparametric recalibration
    * map — Zadrozny & Elkan's method, what sklearn's
    * CalibratedClassifierCV(method='isotonic') computes). Exact via the
    * min-max identity g(i) = min_{j≥i} max_{k≤i} mean(k..j) — PAV's
    * closed form, order-free: every candidate mean is ONE IEEE division
    * of two exact integers (weighted by bin counts through the prefix
    * sums), and min/max over a set are summation-order-insensitive, so
    * the fit is bit-deterministic cross-engine with no iterative pool
    * state. Released per bin: {bin, n, n_pos, rate_ppm, fit_ppm}; the
    * fit column is monotone nondecreasing by construction (spec pins
    * it, plus equality with an imperative PAV model).
    *
    * Scale shape: ONE corpus scan to the value-band census (q195's
    * frame); the (k,i,j) triple rides the census — |bins|³ with |bins|
    * ≈ value_max/10 (domain-bounded, ~50 at sf0.1 and growing only
    * with the payload tail, not the corpus), well under any shuffle
    * concern. */
  def q368IsotonicCalibration(s: SparkSession, dir: String): DataFrame = {
    val bins = t(s, dir, "events")
      .select(expr("CAST(floor(value / 10) AS BIGINT)").as("bin"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"))
    val w = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bins
      .select(col("bin"), col("n"), col("n_pos"),
        sum("n").over(w).as("cn"), sum("n_pos").over(w).as("cp"))
      .localCheckpoint(true)
    val k = cum.select(col("bin").as("kb"),
      (col("cn") - col("n")).as("ecn"), (col("cp") - col("n_pos")).as("ecp"))
    val j = cum.select(col("bin").as("jb"),
      col("cn").as("jcn"), col("cp").as("jcp"))
    val pairs = k.join(j, col("kb") <= col("jb"))
      .select(col("kb"), col("jb"),
        expr("CAST(jcp - ecp AS DOUBLE) / (jcn - ecn)").as("m"))
    val i = cum.select(col("bin").as("ib"))
    pairs.join(i, col("kb") <= col("ib") && col("ib") <= col("jb"))
      .groupBy("ib", "jb").agg(max("m").as("mk"))
      .groupBy("ib").agg(min("mk").as("fit"))
      .join(cum, col("ib") === col("bin"))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("n_pos * 1000000 div n").as("rate_ppm"),
        expr("CAST(floor(fit * 1000000) AS BIGINT)").as("fit_ppm"))
  }

  private def q368OracleSql: String =
    """WITH bins AS (SELECT CAST(floor(value / 10) AS BIGINT) AS bin,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pos
        FROM events GROUP BY 1),
        cum AS (SELECT bin, n, n_pos,
          CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
          CAST(sum(n_pos) OVER (ORDER BY bin) AS BIGINT) AS cp
        FROM bins),
        pairs AS (SELECT k.bin AS kb, j.bin AS jb,
            CAST(j.cp - (k.cp - k.n_pos) AS DOUBLE)
              / (j.cn - (k.cn - k.n)) AS m
          FROM cum k JOIN cum j ON k.bin <= j.bin),
        mk AS (SELECT i.bin AS ib, p.jb, max(p.m) AS mk
          FROM pairs p JOIN cum i ON p.kb <= i.bin AND i.bin <= p.jb
          GROUP BY 1, 2),
        fit AS (SELECT ib, min(mk) AS fit FROM mk GROUP BY ib)
        SELECT bin, n, n_pos, n_pos * 1000000 // n AS rate_ppm,
          CAST(floor(fit * 1000000) AS BIGINT) AS fit_ppm
        FROM fit JOIN cum ON ib = bin"""

  // ------------------------------------------------------------ q382

  /** q382's fixed scoring rule: p̂_ppm = min(999999, 20·value_cents) —
    * a deterministic monotone value→probability map standing in for a
    * model score (the eval needs SOME declared prediction; 20/cent
    * spans the ppm range over this payload's 0..~500 value domain). */
  val BrierScaler = 20L

  /** q382 — BRIER SCORE + EXPECTED CALIBRATION ERROR of a declared
    * scoring rule against the purchase outcome (the SCALAR legs
    * closing the calibration family: q195 diagnoses per-bin, q368
    * repairs the curve — Brier is the proper-score number a model
    * report quotes, ECE the one-line calibration-gap audit). Exact
    * integers throughout: per-event p̂ on the ppm grid per
    * [[BrierScaler]], Brier numerator Σ(p̂ − y·10⁶)² and the per-bin
    * ECE mass |Σp̂ − 10⁶·n_pos| (the algebra collapses ECE·N·10⁶ to
    * THAT sum over q195's value bins: Σ_b n_b·|mean p̂ − rate| =
    * Σ_b |p̂sum_b − 10⁶·pos_b| — no per-bin division survives).
    * Released {n, brier_mean_ppm2, ece_num, ece_ppm}: means by
    * declared integer division, numerators decimal(38,0)-folded so
    * sf100's ~10¹⁹ Brier mass cannot wrap (the q190 widening rule).
    *
    * Scale shape: ONE corpus scan map-side combined to the value-bin
    * census carrying {n, pos, p̂sum, brier partial}; the two scalars
    * fold the domain-bounded census. */
  def q382BrierEce(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(expr("CAST(floor(value / 10) AS BIGINT)").as("bin"),
        expr(s"least(999999, CAST(floor(value * 100) AS BIGINT) " +
          s"* $BrierScaler)").as("p_hat"),
        when(col("event_type") === "purchase", 1000000L)
          .otherwise(0L).as("y6"))
    val bins = ev.groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(expr("y6 div 1000000")).as("n_pos"),
        sum("p_hat").as("p_sum"),
        sum(((col("p_hat") - col("y6")) * (col("p_hat") - col("y6")))
          .cast("decimal(38,0)")).as("b38"))
    bins.agg(sum("n").as("n"),
        sum("b38").as("brier_num"),
        sum(abs(col("p_sum") - lit(1000000L) * col("n_pos"))
          .cast("decimal(38,0)")).as("e38"))
      .select(col("n"),
        (col("brier_num") / col("n").cast("decimal(38,0)"))
          .cast("bigint").as("brier_mean_ppm2"),
        col("e38").cast("bigint").as("ece_num"),
        (col("e38") / col("n").cast("decimal(38,0)"))
          .cast("bigint").as("ece_ppm"))
  }

  private def q382OracleSql: String =
    s"""WITH ev AS (SELECT CAST(floor(value / 10) AS BIGINT) AS bin,
          least(999999, CAST(floor(value * 100) AS BIGINT)
            * $BrierScaler) AS p_hat,
          CASE WHEN event_type = 'purchase' THEN 1000000 ELSE 0 END
            AS y6
        FROM events),
        bins AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(y6 // 1000000) AS BIGINT) AS n_pos,
          CAST(sum(p_hat) AS BIGINT) AS p_sum,
          sum(CAST(p_hat - y6 AS HUGEINT) * (p_hat - y6)) AS b38
        FROM ev GROUP BY 1)
        SELECT CAST(sum(n) AS BIGINT) AS n,
          CAST(sum(b38) // sum(n) AS BIGINT) AS brier_mean_ppm2,
          CAST(sum(abs(p_sum - 1000000 * n_pos)) AS BIGINT) AS ece_num,
          CAST(sum(CAST(abs(p_sum - 1000000 * n_pos) AS HUGEINT))
            // sum(n) AS BIGINT) AS ece_ppm
        FROM bins"""

  // ------------------------------------------------------------ q384

  /** q384 — WASSERSTEIN-1 (EARTH-MOVER) DISTANCE MATRIX between the
    * sources' document-length histograms (the TRANSPORT member closing
    * the histogram-distance family: q202's intersection scores
    * overlap, q229's total variation the worst bin — both are blind to
    * HOW FAR the mass moved; EMD integrates |CDF₁ − CDF₂| over the bin
    * axis, so a one-bin shift and a ten-bin shift finally differ,
    * which is what a mixture planner weighing "short-doc" vs
    * "long-doc" sources actually needs). Exact integers by
    * cross-multiplication: per union-spine cell
    * |F₁·T₂ − F₂·T₁|·gap with gap = next observed bin − bin (mass is
    * constant between observed bins, so sparse censuses integrate
    * EXACTLY — no dense grid materialized); released per unordered
    * pair {s1, s2, t1, t2, emd_num, emd_micro_bins =
    * num·10⁶ div (t1·t2), the mean transport distance in bin units}.
    *
    * Scale shape: corpus collapses map-side to the (source, bin)
    * census (q202's frame); the pair×union-bin spine, cumsums, and
    * the fold all ride that domain-sized frame (|sources|²·|bins|
    * rows, never corpus); totals broadcast. decimal(38,0) on the
    * num·10⁶ release per the q190 widening rule. */
  def q384HistEmd(s: SparkSession, dir: String): DataFrame = {
    val h = t(s, dir, "documents")
      .select(col("source"), expr("n_chars div 64").as("bin"))
      .groupBy("source", "bin").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val tot = h.groupBy("source").agg(sum("n").as("t"))
    val srcs = tot.select(col("source"), col("t"))
    val pairs = srcs.select(col("source").as("s1"), col("t").as("t1"))
      .crossJoin(srcs.select(col("source").as("s2"), col("t").as("t2")))
      .filter(col("s1") < col("s2"))
    val bins = h.select("bin").distinct()
    val spine = broadcast(pairs).crossJoin(broadcast(bins))
      .join(h.select(col("source").as("s1"), col("bin"),
        col("n").as("n1")), Seq("s1", "bin"), "left_outer")
      .join(h.select(col("source").as("s2"), col("bin"),
        col("n").as("n2")), Seq("s2", "bin"), "left_outer")
      .na.fill(0L, Seq("n1", "n2"))
    val w = Window.partitionBy("s1", "s2").orderBy("bin")
    val cum = spine
      .withColumn("f1", sum("n1").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("f2", sum("n2").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("gap", coalesce(lead("bin", 1).over(w) - col("bin"),
        lit(0L)))
    cum.groupBy("s1", "s2", "t1", "t2")
      .agg(sum((abs(col("f1") * col("t2") - col("f2") * col("t1"))
        * col("gap")).cast("decimal(38,0)")).as("e38"))
      .select(col("s1"), col("s2"), col("t1"), col("t2"),
        col("e38").cast("bigint").as("emd_num"),
        (col("e38") * lit(1000000L) /
          (col("t1").cast("decimal(38,0)") * col("t2")))
          .cast("bigint").as("emd_micro_bins"))
  }

  private def q384OracleSql: String =
    """WITH h AS (SELECT source, n_chars // 64 AS bin,
          CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2),
        tot AS (SELECT source, CAST(sum(n) AS BIGINT) AS t
          FROM h GROUP BY 1),
        pairs AS (SELECT a.source AS s1, b.source AS s2,
            a.t AS t1, b.t AS t2
          FROM tot a JOIN tot b ON a.source < b.source),
        bins AS (SELECT DISTINCT bin FROM h),
        spine AS (SELECT p.s1, p.s2, p.t1, p.t2, b.bin,
            COALESCE(h1.n, 0) AS n1, COALESCE(h2.n, 0) AS n2
          FROM pairs p CROSS JOIN bins b
          LEFT JOIN h h1 ON h1.source = p.s1 AND h1.bin = b.bin
          LEFT JOIN h h2 ON h2.source = p.s2 AND h2.bin = b.bin),
        cum AS (SELECT s1, s2, t1, t2, bin,
            CAST(sum(n1) OVER (PARTITION BY s1, s2 ORDER BY bin)
              AS BIGINT) AS f1,
            CAST(sum(n2) OVER (PARTITION BY s1, s2 ORDER BY bin)
              AS BIGINT) AS f2,
            COALESCE(lead(bin) OVER (PARTITION BY s1, s2 ORDER BY bin)
              - bin, 0) AS gap
          FROM spine)
        SELECT s1, s2, t1, t2,
          CAST(sum(CAST(abs(f1 * t2 - f2 * t1) AS HUGEINT) * gap)
            AS BIGINT) AS emd_num,
          CAST(sum(CAST(abs(f1 * t2 - f2 * t1) AS HUGEINT) * gap)
            * 1000000 // (CAST(t1 AS HUGEINT) * t2) AS BIGINT)
            AS emd_micro_bins
        FROM cum GROUP BY 1, 2, 3, 4"""

  // ------------------------------------------------------------ q386

  /** q386 hypotheses and error rates: H0 p = 0.19 vs H1 p = 0.21
    * straddle the generator's ~0.198 purchase share (the interesting
    * regime: a true rate BETWEEN the hypotheses keeps the walk near
    * the continue band longest); α = β = 0.05 → Wald bounds ±ln 19.
    * All four log constants are baked shortest-round-trip double
    * LITERALS (ln(0.21/0.19), ln(0.79/0.81), ±ln(19.0)) — the q403
    * discipline: shared-text `ln(...)` still routes each engine
    * through its own libm, whose last-ulp disagreement can flip the
    * floored llr_micro; a baked literal removes libm from query time
    * entirely on both engines. */
  private[graft] val sprtL1 = "0.10008345855698243" // ln(0.21/0.19)
  private[graft] val sprtL0 = "-0.02500130220541727" // ln(0.79/0.81)
  private[graft] val sprtHi = "2.9444389791664403" // ln(19), accept H1
  private[graft] val sprtLo = "(-2.9444389791664403)" // accept H0

  /** q386 — SPRT SEQUENTIAL A/B MONITOR at day granularity (Wald's
    * sequential probability ratio test — the OPTIONAL-STOPPING member
    * closing the experimentation family: q266/q303/q357 are
    * fixed-horizon tests, q268 plans the horizon, CUPED shrinks it —
    * SPRT is what a live dashboard should run INSTEAD of peeking at a
    * fixed-horizon p-value, the peeking that inflates false positives;
    * its LLR walk with Wald bounds keeps α/β by construction at ANY
    * stopping day). Tests H0: purchase rate = 0.19 vs H1: 0.21 on the
    * cumulative event stream; per day, LLR = k·ln(p₁/p₀) +
    * (n−k)·ln((1−p₁)/(1−p₀)) — cumulative k, n are EXACT integers off
    * one census, each term one int→double cast times a shared-text
    * log constant, so the whole trajectory is deterministic. Released
    * per day: {day, n, k, llr_micro, verdict} — the verdict string is
    * the decision an auto-stopper would take THAT day.
    *
    * Scale shape: ONE corpus scan map-side combined to the |days|
    * census; cumsums + the verdict CASE ride the domain-bounded day
    * frame. */
  def q386SprtMonitor(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .select(col("ts").cast("date").as("day"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("pos"))
      .groupBy("day")
      .agg(count(lit(1)).as("dn"), sum("pos").as("dk"))
      .withColumn("n", sum("dn").over(w))
      .withColumn("k", sum("dk").over(w))
      .withColumn("llr", expr(
        s"CAST(k AS DOUBLE) * $sprtL1 + CAST(n - k AS DOUBLE) * $sprtL0"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n"), col("k"),
        expr("CAST(floor(llr * 1000000) AS BIGINT)").as("llr_micro"),
        expr(s"""CASE WHEN llr >= $sprtHi THEN 'accept_h1'
             WHEN llr <= $sprtLo THEN 'accept_h0'
             ELSE 'continue' END""").as("verdict"))
  }

  /** q386's oracle, shared verbatim by the q388 streaming twin. */
  private[graft] def q386OracleSql2: String = q386OracleSql

  private def q386OracleSql: String =
    s"""WITH census AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS dn,
          CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS dk
        FROM events GROUP BY 1),
        cum AS (SELECT day,
          CAST(sum(dn) OVER (ORDER BY day) AS BIGINT) AS n,
          CAST(sum(dk) OVER (ORDER BY day) AS BIGINT) AS k
        FROM census),
        scored AS (SELECT day, n, k,
          CAST(k AS DOUBLE) * $sprtL1 + CAST(n - k AS DOUBLE) * $sprtL0
            AS llr
        FROM cum)
        SELECT strftime(day, '%Y-%m-%d') AS day, n, k,
          CAST(floor(llr * 1000000) AS BIGINT) AS llr_micro,
          CASE WHEN llr >= $sprtHi THEN 'accept_h1'
               WHEN llr <= $sprtLo THEN 'accept_h0'
               ELSE 'continue' END AS verdict
        FROM scored"""

  // ------------------------------------------------------------ q387

  /** q387's MCC pieces over the exact per-band confusion counts: the
    * numerator tp·tn − fp·fn stays in exact integers (released), the
    * denominator is the product of four sqrt's — each of one exact
    * int→double cast — shared text, so √(10³²)-scale products never
    * materialize as integers. */
  private val mccDen =
    """(sqrt(CAST(tp + fp AS DOUBLE)) * sqrt(CAST(tp + fn AS DOUBLE))
       * sqrt(CAST(tn + fp AS DOUBLE)) * sqrt(CAST(tn + fn AS DOUBLE)))"""

  /** q387 — MCC-OPTIMAL THRESHOLD (Matthews correlation over every
    * candidate value band — the BALANCED twin closing the
    * threshold-metric family: q287's F1 ignores true negatives
    * entirely, so on imbalanced data it rewards over-predicting the
    * positive class; MCC is the full-confusion-matrix correlation,
    * the metric that stays honest when 80% of events are negatives).
    * Per band (descending-threshold cumsum frame, q287's): exact
    * integer {tp, fp, fn, tn}, numerator tp·tn − fp·fn exact BIGINT
    * (counts ≤10⁸ at sf100 → products ≤10¹⁶, int64-safe, bound
    * documented), mcc_ppm = floor(num/[[mccDen]]·10⁶) with the
    * zero-denominator CASE declared; argmax band with the q287
    * smaller-band tie-break, released as the `chosen` flag.
    *
    * Scale shape: q287's plan — ONE corpus scan map-side combined to
    * the value-band census; cumsums, MCC arithmetic, and the argmax
    * all ride the domain-bounded band frame. */
  def q387MccThreshold(s: SparkSession, dir: String): DataFrame = {
    val census = t(s, dir, "events")
      .select(expr("CAST(floor(value) AS BIGINT)").as("band"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("pos"))
      .groupBy("band")
      .agg(sum("pos").as("p"), (count(lit(1)) - sum("pos")).as("q"))
    val w = Window.orderBy(col("band").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    val scored = census
      .withColumn("tp", sum("p").over(w))
      .withColumn("fp", sum("q").over(w))
      .withColumn("fn", sum("p").over(all) - col("tp"))
      .withColumn("tn", sum("q").over(all) - col("fp"))
      .select(col("band").as("threshold_band"),
        col("tp"), col("fp"), col("fn"), col("tn"),
        (col("tp") * col("tn") - col("fp") * col("fn")).as("mcc_num"))
      .withColumn("mcc_ppm", expr(
        s"""CASE WHEN $mccDen = 0.0 THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(CAST(mcc_num AS DOUBLE) / $mccDen * 1000000)
              AS BIGINT) END"""))
    val best = scored
      .withColumn("rk", row_number().over(
        Window.orderBy(col("mcc_ppm").desc, col("threshold_band"))))
      .filter(col("rk") === 1)
      .select(col("threshold_band").as("best_band"))
    scored.crossJoin(broadcast(best))
      .select(col("threshold_band"), col("tp"), col("fp"), col("fn"),
        col("tn"), col("mcc_num"), col("mcc_ppm"),
        (col("threshold_band") === col("best_band")).as("chosen"))
  }

  private def q387OracleSql: String =
    s"""WITH census AS (SELECT CAST(floor(value) AS BIGINT) AS band,
          CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS p,
          CAST(sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END)
            AS BIGINT) AS q
        FROM events GROUP BY 1),
        scored0 AS (SELECT band AS threshold_band,
            CAST(sum(p) OVER (ORDER BY band DESC
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
            CAST(sum(q) OVER (ORDER BY band DESC
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp,
            CAST(sum(p) OVER () AS BIGINT)
              - CAST(sum(p) OVER (ORDER BY band DESC
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fn,
            CAST(sum(q) OVER () AS BIGINT)
              - CAST(sum(q) OVER (ORDER BY band DESC
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tn
          FROM census),
        scored AS (SELECT threshold_band, tp, fp, fn, tn,
            CAST(tp * tn - fp * fn AS BIGINT) AS mcc_num,
            CASE WHEN $mccDen = 0.0 THEN CAST(0 AS BIGINT)
                 ELSE CAST(floor(CAST(tp * tn - fp * fn AS DOUBLE)
                   / $mccDen * 1000000) AS BIGINT) END AS mcc_ppm
          FROM scored0),
        best AS (SELECT threshold_band AS best_band FROM scored
          ORDER BY mcc_ppm DESC, threshold_band LIMIT 1)
        SELECT threshold_band, tp, fp, fn, tn, mcc_num, mcc_ppm,
          threshold_band = best_band AS chosen
        FROM scored CROSS JOIN best"""

  // ------------------------------------------------------------ q395

  /** q395 — EWMA SMOOTHING of the daily event-count series with
    * α = 1/2, EXACT (the level line every operations dashboard draws
    * over a noisy daily count — and the usual float-recursion trap:
    * e_t = αx_t + (1−α)e_{t−1} folded left-to-right is
    * order-dependent; with a DYADIC α the recursion clears to exact
    * integers: E_t := e_t·2^(t−1) = x_1 + Σ_{s=2..t} x_s·2^(s−2), a
    * plain cumulative sum of weighted terms, and
    * ewma_milli = E_t·1000 div 2^(t−1)). Weights are int64 shifts
    * (2^28 max on a 30-day span; the scheme carries spans to ~40 days
    * at int64 — longer windows restart in blocks, the sketch-merge
    * discipline); the cumulative sum is widened (decimal(38,0) /
    * HUGEINT) before the ·1000 division.
    *
    * Scale shape: ONE corpus scan map-side combined to the |days|
    * census; the weighting, cumsum, and division ride the
    * domain-bounded day frame. */
  def q395Ewma(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .withColumn("d", row_number().over(Window.orderBy("day"))
        .cast("bigint"))
      .withColumn("wt", expr("""CASE WHEN d = 1
        THEN CAST(1 AS BIGINT)
        ELSE shiftleft(CAST(1 AS BIGINT), CAST(d - 2 AS INT)) END"""))
      .withColumn("e", sum(expr(
        "CAST(x * wt AS DECIMAL(38,0))")).over(w))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("x"),
        expr("""CAST(e * 1000
          DIV shiftleft(CAST(1 AS BIGINT), CAST(d - 1 AS INT))
          AS BIGINT)""").as("ewma_milli"))
  }

  /** q395's oracle, shared verbatim by the q400 streaming twin. */
  private[graft] def q395OracleSql2: String = q395OracleSql

  private def q395OracleSql: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        idx AS (SELECT day, x,
            CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS d
          FROM daily),
        weighted AS (SELECT day, x, d,
            CASE WHEN d = 1 THEN CAST(1 AS BIGINT)
              ELSE CAST(1 AS BIGINT) << CAST(d - 2 AS INT) END AS wt
          FROM idx),
        cum AS (SELECT day, x, d,
            sum(CAST(x AS HUGEINT) * wt) OVER (ORDER BY d) AS e
          FROM weighted)
        SELECT strftime(day, '%Y-%m-%d') AS day, x,
          CAST(e * 1000
            // (CAST(1 AS HUGEINT) << CAST(d - 1 AS INT)) AS BIGINT)
            AS ewma_milli
        FROM cum"""

  // ------------------------------------------------------------ q396

  /** q396 — HERFINDAHL–HIRSCHMAN CONCENTRATION of supplier revenue
    * within each nation (the antitrust-grade concentration index —
    * Σ shareᵢ², 1/n for perfect competition, 1 for monopoly — and for
    * a data platform the skew EARLY-WARNING: a nation whose HHI
    * drifts up is a partition whose future hot-key problem is already
    * visible in this quarter's revenue mix; q83's histogram profiles
    * value skew, this profiles KEY-MASS skew). Exact: per (nation,
    * supplier) cent sums off one scan; HHI·10⁸ = Σsᵢ²·10⁸ div S²
    * with both operands widened (decimal(38,0) / HUGEINT) — sᵢ² at
    * sf100 reaches ~10²⁶, far past int64, in range for both carriers.
    *
    * Scale shape: lineitem⋈supplier shuffles on suppkey (supplier is
    * fact-scale at 100 TB — no broadcast pretense, q311's note; AQE
    * broadcasts at test scale), map-side combined to the
    * |nation×supplier| census, re-aggregated to |nations| rows; the
    * nation-name attach is a 25-row broadcast. */
  def q396Herfindahl(s: SparkSession, dir: String): DataFrame = {
    val perSupp = t(s, dir, "lineitem")
      .select(col("l_suppkey"),
        expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("cents"))
      .join(t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"), col("s_suppkey"))
      .agg(sum("cents").as("sc"))
    perSupp.groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_suppliers"),
        sum("sc").as("total_cents"),
        sum(col("sc").cast("decimal(38,0)") * col("sc")).as("ss2"))
      .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("n_suppliers"), col("total_cents"),
        expr("""CAST(ss2 * 100000000
          DIV (CAST(total_cents AS DECIMAL(38,0)) * total_cents)
          AS BIGINT)""").as("hhi_e8"))
  }

  private def q396OracleSql: String =
    """WITH per_supp AS (SELECT s_nationkey, s_suppkey,
          CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
            AS BIGINT) AS sc
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1, 2),
        per_nation AS (SELECT s_nationkey,
          CAST(count(*) AS BIGINT) AS n_suppliers,
          CAST(sum(sc) AS BIGINT) AS total_cents,
          sum(CAST(sc AS HUGEINT) * sc) AS ss2
        FROM per_supp GROUP BY 1)
        SELECT n_name, n_suppliers, total_cents,
          CAST(ss2 * 100000000
            // (CAST(total_cents AS HUGEINT) * total_cents) AS BIGINT)
            AS hhi_e8
        FROM per_nation JOIN nation ON s_nationkey = n_nationkey"""

  // ------------------------------------------------------------ q397

  /** q397's per-degree weight floor(10⁶ / ln(deg)) as a LITERAL table
    * for deg 2..32 (the q403 Benford convention): brand-graph degrees
    * are small integers bounded by |brands| − 1 = 24, and baking the
    * floored quotients removes the cross-libm ln ulp risk from the
    * released integers entirely. The ELSE keeps the computed form as a
    * documented fallback for out-of-table degrees (unreachable on this
    * 25-brand domain). Shared text between engine and oracle. */
  private def aaWeightSql(deg: String): String = {
    val table = Seq(
      2 -> 1442695L, 3 -> 910239L, 4 -> 721347L, 5 -> 621334L,
      6 -> 558110L, 7 -> 513898L, 8 -> 480898L, 9 -> 455119L,
      10 -> 434294L, 11 -> 417032L, 12 -> 402429L, 13 -> 389871L,
      14 -> 378923L, 15 -> 369269L, 16 -> 360673L, 17 -> 352956L,
      18 -> 345976L, 19 -> 339623L, 20 -> 333808L, 21 -> 328458L,
      22 -> 323515L, 23 -> 318928L, 24 -> 314657L, 25 -> 310667L,
      26 -> 306927L, 27 -> 303413L, 28 -> 300101L, 29 -> 296974L,
      30 -> 294014L, 31 -> 291206L, 32 -> 288539L)
      .map { case (d, w) => s"WHEN $d THEN CAST($w AS BIGINT)" }
      .mkString(" ")
    s"""CASE $deg $table
        ELSE CAST(floor(1000000.0 / ln(CAST($deg AS DOUBLE)))
          AS BIGINT) END"""
  }

  /** q397 — ADAMIC–ADAR LINK PREDICTION on the q183 brand graph (the
    * WEIGHTED leg of the link-prediction family: q183's common-neighbor
    * count treats a hub neighbor as strong evidence, but sharing a hub
    * is cheap — Adamic–Adar down-weights each wedge by the inverse log
    * degree of the common neighbor, the form that wins on real graphs).
    * Each node carries w = floor(10⁶ / ln(deg)) via [[aaWeightSql]]'s
    * literal table (a wedge center has deg ≥ 2, so ln > 0 by
    * construction); a non-edge pair's score
    * is the EXACT integer Σw over its wedge centers. Released: all
    * non-edge pairs with their common count and aa_score.
    *
    * Scale shape: [[brandGraph]]'s basket-keyed census (in-row pair
    * generation bounded by basket size); wedges generated IN-ROW from
    * sorted adjacency (degree²-bounded, q105's orientation discipline);
    * the degree weight is computed per node BEFORE wedge expansion so
    * the ln runs |nodes| times, not |wedges| times; the edge anti-join
    * rides the wedge frame. At crawl scale a degree cap precedes pair
    * generation (q183's note). */
  def q397AdamicAdar(s: SparkSession, dir: String): DataFrame = {
    val (edges, und) = brandGraph(s, dir)
    val wedges = und.groupBy("src")
      .agg(sort_array(collect_set("nbr")).as("ns"))
      // deg-1 nodes center no wedge — drop BEFORE the weight so the
      // ln(1) = 0 denominator never evaluates (ANSI division errors
      // eagerly on rows the explode would discard anyway)
      .filter(size(col("ns")) >= 2)
      .withColumn("w", expr(aaWeightSql("size(ns)")))
      .select(col("w"), explode(expr("flatten(transform(ns, (x, i) -> " +
        "transform(slice(ns, i + 2, size(ns)), " +
        "y -> struct(x AS a, y AS b))))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("common"), sum("w").as("aa_score"))
    wedges.join(edges,
        wedges("a") === edges("b1") && wedges("b") === edges("b2"),
        "left_anti")
      .select(col("a").as("b1"), col("b").as("b2"), col("common"),
        col("aa_score"))
  }

  private def q397OracleSql: String =
    s"""WITH bi AS (SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        pair AS (SELECT x.b AS b1, y.b AS b2,
            CAST(count(*) AS BIGINT) AS n12
          FROM bi x JOIN bi y ON x.ok = y.ok AND x.b < y.b GROUP BY 1, 2),
        tot AS (SELECT CAST(count(*) AS BIGINT) np,
                       CAST(sum(n12) AS BIGINT) tw FROM pair),
        eu AS (SELECT b1, b2 FROM pair, tot
               WHERE n12 * np * 100 >= tw * $LinkEdgePct),
        und AS (SELECT b1 AS src, b2 AS nbr FROM eu
                UNION ALL SELECT b2, b1 FROM eu),
        degw AS (SELECT src, ${aaWeightSql("count(*)")} AS w
          FROM und GROUP BY 1 HAVING count(*) >= 2),
        wedge AS (SELECT u1.nbr a, u2.nbr b,
            CAST(count(*) AS BIGINT) cn, CAST(sum(d.w) AS BIGINT) aa
          FROM und u1 JOIN und u2
            ON u1.src = u2.src AND u1.nbr < u2.nbr
          JOIN degw d ON d.src = u1.src
          GROUP BY 1, 2)
        SELECT w.a AS b1, w.b AS b2, w.cn AS common, w.aa AS aa_score
        FROM wedge w ANTI JOIN eu ON w.a = eu.b1 AND w.b = eu.b2"""

  // ------------------------------------------------------------ q399

  /** q399's 2-state HMM scoring, all exact integers in the max-plus
    * (tropical) semiring: state means in ppm of the daily purchase
    * share, emission score −|r_t − μ_state|, switch penalty in ppm.
    * Calibration: the generator's share sits near 198000 ppm with
    * day-level noise ~7000 ppm at sf0.1 — the means straddle it and
    * the penalty prices a switch at about one noise sd, so the decode
    * is non-degenerate across SFs (and deterministic at any SF). */
  val ViterbiMuHigh = 205000L
  val ViterbiMuLow = 191000L
  val ViterbiSwitch = 6000L

  /** q399 — VITERBI MAP DECODE of a 2-state HMM over the daily
    * purchase-share series (the sequence-DP member of the analytics
    * family: q297's drawdown and q368's PAV are order-folds with
    * scalar state — Viterbi carries a VECTOR of per-state optima plus
    * their argmax paths, the textbook regime-segmentation a metrics
    * platform runs to label "high/low conversion regimes" — and the
    * showcase that DP over a sequence is STILL a one-pass aggregate
    * when the step is an associative semiring product: max-plus 2×2
    * matrix multiplication is associative, so the fold could
    * tree-reduce; here the sequence is the day frame, so one in-row
    * fold suffices). Per day the exact rate r = k·10⁶ div n feeds
    * integer emission scores −|r − μ| ([[ViterbiMuHigh]]/[[ViterbiMuLow]]),
    * stay = 0, switch = −[[ViterbiSwitch]]; ties prefer staying —
    * shared CASE text. Released: {n_days, v_high, v_low, path} with
    * path the argmax state string (H/L per day).
    *
    * Scale shape: ONE corpus scan map-side combined to the |days|
    * census; the DP is an O(days) in-row fold over the sorted day
    * array — never a corpus-length recursion. The oracle is the same
    * recursion as a linear recursive CTE. */
  def q399Viterbi(s: SparkSession, dir: String): DataFrame = {
    val census = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("k"))
      .withColumn("d", row_number().over(Window.orderBy("day"))
        .cast("bigint"))
      .withColumn("r", expr("k * 1000000 DIV n"))
      .select(col("d"),
        expr(s"-abs(r - $ViterbiMuHigh)").as("eh"),
        expr(s"-abs(r - $ViterbiMuLow)").as("el"))
    census
      .agg(sort_array(collect_list(struct(col("d"), col("eh"),
        col("el")))).as("arr"))
      .select(size(col("arr")).cast("bigint").as("n_days"),
        expr(s"""aggregate(arr,
          named_struct('vh', CAST(0 AS BIGINT), 'vl', CAST(0 AS BIGINT),
            'ph', '', 'pl', ''),
          (acc, x) -> CASE WHEN acc.ph = ''
            THEN named_struct('vh', x.eh, 'vl', x.el, 'ph', 'H',
              'pl', 'L')
            ELSE named_struct(
              'vh', x.eh + greatest(acc.vh, acc.vl - $ViterbiSwitch),
              'vl', x.el + greatest(acc.vl, acc.vh - $ViterbiSwitch),
              'ph', concat(CASE WHEN acc.vh >= acc.vl - $ViterbiSwitch
                THEN acc.ph ELSE acc.pl END, 'H'),
              'pl', concat(CASE WHEN acc.vl >= acc.vh - $ViterbiSwitch
                THEN acc.pl ELSE acc.ph END, 'L')) END)""").as("res"))
      .select(col("n_days"), col("res.vh").as("v_high"),
        col("res.vl").as("v_low"),
        expr("CASE WHEN res.vh >= res.vl THEN res.ph ELSE res.pl END")
          .as("path"))
  }

  private def q399OracleSql: String =
    s"""WITH RECURSIVE census AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS k
        FROM events GROUP BY 1),
        idx AS (SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT)
            AS d, k * 1000000 // n AS r
          FROM census),
        em AS (SELECT d, -abs(r - $ViterbiMuHigh) AS eh,
            -abs(r - $ViterbiMuLow) AS el FROM idx),
        dp AS (
          SELECT d, eh AS vh, el AS vl, 'H' AS ph, 'L' AS pl
          FROM em WHERE d = 1
          UNION ALL
          SELECT x.d,
            x.eh + greatest(dp.vh, dp.vl - $ViterbiSwitch),
            x.el + greatest(dp.vl, dp.vh - $ViterbiSwitch),
            (CASE WHEN dp.vh >= dp.vl - $ViterbiSwitch
              THEN dp.ph ELSE dp.pl END) || 'H',
            (CASE WHEN dp.vl >= dp.vh - $ViterbiSwitch
              THEN dp.pl ELSE dp.ph END) || 'L'
          FROM dp JOIN em x ON x.d = dp.d + 1)
        SELECT d AS n_days, vh AS v_high, vl AS v_low,
          CASE WHEN vh >= vl THEN ph ELSE pl END AS path
        FROM dp WHERE d = (SELECT max(d) FROM em)"""

  // ------------------------------------------------------------ q401

  /** q401 — SLOPE-ONE DEVIATION TABLE over the customer×brand spend
    * matrix (the RATING-PREDICTION member of the recommender family:
    * q183/q397 score WHICH items relate, Slope One predicts HOW MUCH a
    * user will spend — Lemire & Maclachlan 2005's deliberately simple
    * item-item scheme whose entire model is the per-pair mean rating
    * difference dev(i,j), mergeable and updatable at scale where
    * factorization models need training): rating = per-(customer,
    * brand) mean line cents, QUANTIZED FIRST to an exact integer
    * (r_milli = cents·1000 div n — the declared quantization that
    * keeps the later sum a pure integer fold; summing raw rationals
    * with per-user denominators would be a float fold); released per
    * co-rated pair {b1, b2, n_co, dev_num, dev_milli} with dev_milli =
    * dev_num div n_co (negative numerators use the q342-tested
    * truncation agreement).
    *
    * Scale shape: lineitem⋈orders shuffles on orderkey (fact-fact),
    * part is a broadcast dim; one (customer, brand)-keyed aggregate;
    * pairs generated IN-ROW per customer from the sorted brand array
    * (bounded by the FIXED brand domain² — never a corpus self-join);
    * final aggregate rides the brand-pair frame. */
  def q401SlopeOne(s: SparkSession, dir: String): DataFrame = {
    val ratings = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"),
        expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("cents"))
      .join(t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand").as("b"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("o_custkey").as("u"), col("b"))
      .agg(expr("CAST(sum(cents) * 1000 DIV count(*) AS BIGINT)")
        .as("r"))
    ratings.groupBy("u")
      .agg(sort_array(collect_list(struct(col("b"), col("r"))))
        .as("bs"))
      .select(explode(expr("flatten(transform(bs, (x, i) -> " +
        "transform(slice(bs, i + 2, size(bs)), " +
        "y -> struct(x.b AS b1, y.b AS b2, x.r - y.r AS df))))"))
        .as("p"))
      .groupBy(col("p.b1").as("b1"), col("p.b2").as("b2"))
      .agg(count(lit(1)).as("n_co"), sum(col("p.df")).as("dev_num"))
      .select(col("b1"), col("b2"), col("n_co"), col("dev_num"),
        expr("CAST(dev_num DIV n_co AS BIGINT)").as("dev_milli"))
  }

  private def q401OracleSql: String =
    """WITH r AS (SELECT o_custkey AS u, p_brand AS b,
          CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
            * 1000 // count(*) AS BIGINT) AS r
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
        GROUP BY 1, 2)
        SELECT x.b AS b1, y.b AS b2,
          CAST(count(*) AS BIGINT) AS n_co,
          CAST(sum(x.r - y.r) AS BIGINT) AS dev_num,
          CAST(CAST(sum(x.r - y.r) AS BIGINT) // count(*) AS BIGINT)
            AS dev_milli
        FROM r x JOIN r y ON x.u = y.u AND x.b < y.b
        GROUP BY 1, 2"""

  // ------------------------------------------------------------ q404

  /** q404 — MASE FORECAST-QUALITY READOUT of the seasonal-naive
    * baseline (Hyndman & Koehler 2006's scale-free forecast error —
    * the metric that made "beat the naive forecast" measurable across
    * series of different scales, and the FIRST thing to compute before
    * shipping any demand model: MASE ≥ 1 means the model loses to
    * persistence): numerator = MAE of the lag-7 seasonal-naive
    * forecast, denominator = in-sample MAE of the lag-1 naive — both
    * EXACT integer |Δ| sums over the daily count census; released as
    * one row {n_days, sum_abs_7, n_7, sum_abs_1, n_1, mase_milli}
    * with mase_milli = (sum7·n1·1000) div (sum1·n7), one widened
    * exact division.
    *
    * Scale shape: ONE corpus scan map-side combined to the |days|
    * census; both lag joins ride the day frame. */
  def q404Mase(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .withColumn("d", row_number().over(Window.orderBy("day"))
        .cast("bigint"))
    val a = daily.select(col("d"), col("x"))
    val l1 = a.select((col("d") + 1).as("d"), col("x").as("x1"))
    val l7 = a.select((col("d") + 7).as("d"), col("x").as("x7"))
    a.join(l1, Seq("d"), "left").join(l7, Seq("d"), "left")
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("x") - col("x7"))).as("sum_abs_7"),
        sum(when(col("x7").isNotNull, 1L)).as("n_7"),
        sum(abs(col("x") - col("x1"))).as("sum_abs_1"),
        sum(when(col("x1").isNotNull, 1L)).as("n_1"))
      .select(col("n_days"), col("sum_abs_7"), col("n_7"),
        col("sum_abs_1"), col("n_1"),
        // the n_7 leg of the guard: on a corpus under 8 days every x7
        // is NULL, and without it the oracle's exact // would divide
        // by zero where Spark's DIV yields NULL — the differential
        // must compare NULLs, not crash (coalesce covers the
        // all-NULL-sum case where n_7 itself is NULL)
        expr("""CASE WHEN sum_abs_1 = 0 OR coalesce(n_7, 0) = 0
            THEN NULL
          ELSE CAST(CAST(sum_abs_7 AS DECIMAL(38,0)) * n_1 * 1000
            DIV (CAST(sum_abs_1 AS DECIMAL(38,0)) * n_7) AS BIGINT)
          END""").as("mase_milli"))
  }

  private def q404OracleSql: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        idx AS (SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT)
            AS d, x FROM daily),
        j AS (SELECT a.x, b.x AS x1, c.x AS x7
          FROM idx a
          LEFT JOIN idx b ON b.d = a.d - 1
          LEFT JOIN idx c ON c.d = a.d - 7),
        agg AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
          CAST(sum(abs(x - x7)) AS BIGINT) AS sum_abs_7,
          CAST(sum(CASE WHEN x7 IS NOT NULL THEN 1 END) AS BIGINT) AS n_7,
          CAST(sum(abs(x - x1)) AS BIGINT) AS sum_abs_1,
          CAST(sum(CASE WHEN x1 IS NOT NULL THEN 1 END) AS BIGINT) AS n_1
        FROM j)
        SELECT n_days, sum_abs_7, n_7, sum_abs_1, n_1,
          CASE WHEN sum_abs_1 = 0 OR coalesce(n_7, 0) = 0 THEN NULL
            ELSE CAST(CAST(sum_abs_7 AS HUGEINT) * n_1 * 1000
              // (CAST(sum_abs_1 AS HUGEINT) * n_7) AS BIGINT) END
            AS mase_milli
        FROM agg"""

  // ------------------------------------------------------------ q406

  /** q406's +∞ stand-in: far above any reachable path cost (≤ days ×
    * max daily count ≈ 10⁸ at sf100) yet far below int64 overflow
    * even after a few additions. */
  val DtwBig = 1000000000000000L

  /** q406 — DYNAMIC TIME WARPING distance between the two arms' daily
    * event-count series (the ALIGNMENT member of the time-series
    * family: q304's ACF and q369's monitor compare series point-by-
    * point — DTW allows elastic time shifts, the comparison a platform
    * runs when two rollout cohorts trace the same curve days apart;
    * and the suite's 2-D DP showcase: where q399's Viterbi folds a
    * 2-vector of state optima, DTW folds the WHOLE previous DP row —
    * the classic D(i,j) = |aᵢ−bⱼ| + min(D(i−1,j), D(i,j−1),
    * D(i−1,j−1)) recurrence expressed as one in-row nested aggregate
    * over the day-bounded arrays, costs exact integers throughout,
    * [[DtwBig]] as the boundary ∞). Released {n_days, dtw_cost,
    * per_step_milli = cost·1000 div 2n}.
    *
    * Scale shape: ONE corpus scan map-side combined to the |days|
    * census; the DP is O(days²) IN-ROW arithmetic on two collected
    * day arrays — never a join, never a corpus-length recursion. The
    * oracle runs the identical recurrence as a flattened (j,i)
    * recursive CTE carrying the two DP rows as lists. */
  def q406Dtw(s: SparkSession, dir: String): DataFrame = {
    val census = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L))
          .as("na"),
        sum(when(col("user_id") % 2 === 1, 1L).otherwise(0L)).as("nb"))
    census
      .agg(sort_array(collect_list(struct(col("day"), col("na"),
        col("nb")))).as("cs"))
      .select(
        expr("transform(cs, c -> c.na)").as("a"),
        expr("transform(cs, c -> c.nb)").as("b"))
      .select(size(col("a")).cast("bigint").as("n_days"), expr(
        s"""aggregate(
          b,
          transform(sequence(0, size(a)),
            i -> IF(i = 0, CAST(0 AS BIGINT), CAST($DtwBig AS BIGINT))),
          (prev, bj) -> aggregate(
            transform(a, (v, i) -> struct(i + 1 AS i, v AS v)),
            array(CAST($DtwBig AS BIGINT)),
            (row, x) -> concat(row, array(
              abs(x.v - bj) + least(
                element_at(prev, x.i),
                element_at(prev, x.i + 1),
                element_at(row, size(row)))))),
          fin -> element_at(fin, size(fin)))""").as("dtw_cost"))
      .select(col("n_days"), col("dtw_cost"),
        expr("""CAST(dtw_cost * 1000 DIV (2 * n_days) AS BIGINT)""")
          .as("per_step_milli"))
  }

  private def q406OracleSql: String =
    s"""WITH RECURSIVE census AS (SELECT CAST(ts AS DATE) AS day,
          CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS na,
          CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS nb
        FROM events GROUP BY 1),
        al AS (SELECT list(na ORDER BY day) AS a,
          list(nb ORDER BY day) AS b,
          CAST(count(*) AS BIGINT) AS n FROM census),
        dp AS (
          SELECT CAST(0 AS BIGINT) AS t,
            list_concat([CAST(0 AS BIGINT)],
              list_transform(range(n),
                x -> CAST($DtwBig AS BIGINT))) AS prev,
            [CAST($DtwBig AS BIGINT)] AS cur
          FROM al
          UNION ALL
          SELECT t + 1,
            CASE WHEN (t % n) + 1 = n
              THEN list_append(cur,
                abs(a[CAST(t % n AS INT) + 1]
                    - b[CAST(t // n AS INT) + 1])
                  + least(prev[CAST(t % n AS INT) + 1],
                      prev[CAST(t % n AS INT) + 2],
                      cur[CAST(t % n AS INT) + 1]))
              ELSE prev END,
            CASE WHEN (t % n) + 1 = n
              THEN [CAST($DtwBig AS BIGINT)]
              ELSE list_append(cur,
                abs(a[CAST(t % n AS INT) + 1]
                    - b[CAST(t // n AS INT) + 1])
                  + least(prev[CAST(t % n AS INT) + 1],
                      prev[CAST(t % n AS INT) + 2],
                      cur[CAST(t % n AS INT) + 1])) END
          FROM dp, al WHERE t < n * n)
        SELECT n AS n_days,
          prev[CAST(n AS INT) + 1] AS dtw_cost,
          CAST(prev[CAST(n AS INT) + 1] * 1000 // (2 * n) AS BIGINT)
            AS per_step_milli
        FROM dp, al WHERE t = n * n"""

  // ------------------------------------------------------------ q407

  /** The event-type vocabulary in its fixed alphabetical order —
    * q407's generated entropy expression enumerates these 25 cells
    * literally so the double chain associates identically on both
    * engines (the q403/q31 generated-sum discipline). */
  private val EventTypes =
    Seq("click", "error", "purchase", "signup", "view")

  /** q407's conditional entropy H(next|cur)·N as one generated
    * 25-term expression over the pivoted exact transition counts
    * c_st and row sums rs_s: Σ c_st·(log2 rs_s − log2 c_st) — each
    * log2 takes one exact integer cast, zero cells contribute 0 by
    * the shared CASE. */
  private def markovEntropyN: String =
    EventTypes.indices.flatMap { si =>
      EventTypes.indices.map { ti =>
        s"""(CASE WHEN c_${si}_$ti = 0 THEN 0.0
            ELSE CAST(c_${si}_$ti AS DOUBLE)
              * (log2(CAST(rs_$si AS DOUBLE))
                 - log2(CAST(c_${si}_$ti AS DOUBLE))) END)"""
      }
    }.mkString("(", " + ", ")")

  /** q407 — FIRST-ORDER MARKOV TRANSITION CENSUS + CONDITIONAL
    * ENTROPY of the per-user event-type process (the SEQUENCE-
    * STRUCTURE profile next to q317's static mutual information:
    * H(next|cur) in bits measures how predictable a user's next
    * action is given their last — the number a session-model or
    * next-event cache is calibrated against, and the drift signal
    * when bot traffic collapses it toward 0): per user the ts-ordered
    * (event_id tie-break) type sequence yields exact transition
    * counts; released per observed transition {from_type, to_type,
    * cnt} with h_cond_milli replicated — the entropy through
    * [[markovEntropyN]] div N, every count exact off one window pass.
    *
    * Scale shape: ONE user-keyed exchange for the lag window (the
    * sessionization shuffle, q41's shape); the census collapses to
    * ≤ |types|² rows and the entropy rides a 1-row pivot. */
  def q407MarkovEntropy(s: SparkSession, dir: String): DataFrame = {
    val trans = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("prev", lag("event_type", 1).over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("from_type"),
        col("event_type").as("to_type"))
      .agg(count(lit(1)).as("cnt"))
    val pivotCols = EventTypes.indices.flatMap { si =>
      EventTypes.indices.map { ti =>
        coalesce(max(when(col("from_type") === EventTypes(si) &&
          col("to_type") === EventTypes(ti), col("cnt"))), lit(0L))
          .as(s"c_${si}_$ti")
      }
    } ++ EventTypes.indices.map { si =>
      coalesce(sum(when(col("from_type") === EventTypes(si),
        col("cnt"))), lit(0L)).as(s"rs_$si")
    }
    val h = trans
      .agg(sum("cnt").as("nn"), pivotCols: _*)
      .select(expr(
        s"""CAST(floor($markovEntropyN / CAST(nn AS DOUBLE) * 1000)
           AS BIGINT)""").as("h_cond_milli"))
    trans.crossJoin(broadcast(h))
      .select(col("from_type"), col("to_type"), col("cnt"),
        col("h_cond_milli"))
  }

  private def q407OracleSql: String = {
    val pivotCols = (EventTypes.indices.flatMap { si =>
      EventTypes.indices.map { ti =>
        s"""coalesce(max(CASE WHEN from_type = '${EventTypes(si)}'
            AND to_type = '${EventTypes(ti)}' THEN cnt END), 0)
            AS c_${si}_$ti"""
      }
    } ++ EventTypes.indices.map { si =>
      s"""coalesce(sum(CASE WHEN from_type = '${EventTypes(si)}'
          THEN cnt END), 0) AS rs_$si"""
    }).mkString(", ")
    s"""WITH seq AS (SELECT user_id, event_type,
          lag(event_type) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS prev
        FROM events),
        trans AS (SELECT prev AS from_type, event_type AS to_type,
            CAST(count(*) AS BIGINT) AS cnt
          FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
        piv AS (SELECT CAST(sum(cnt) AS BIGINT) AS nn, $pivotCols
          FROM trans),
        h AS (SELECT CAST(floor($markovEntropyN / CAST(nn AS DOUBLE)
            * 1000) AS BIGINT) AS h_cond_milli FROM piv)
        SELECT from_type, to_type, cnt, h_cond_milli
        FROM trans CROSS JOIN h"""
  }

  // ------------------------------------------------------------ q413

  /** q413 — LONGEST INCREASING / DECREASING SUBSEQUENCE of the daily
    * count series (the third leg of the sequence-DP trio: q399's
    * Viterbi folds a state vector, q406's DTW folds a row — LIS folds
    * a growing table of (value, best-length) pairs, the classic
    * O(n²) recurrence len_i = 1 + max{len_j : j < i, x_j < x_i}; as
    * an ops metric the LIS is the longest improving run ALLOWING
    * INTERRUPTIONS, robust where q408's runs break on any dip, and
    * the Erdős–Szekeres bound lis·lds ≥ n makes the pair a
    * structural self-check). Exact integers throughout; strictly
    * increasing/decreasing, ties break nothing (equal values extend
    * neither). Released {n_days, lis_len, lds_len}.
    *
    * Scale shape: ONE corpus scan map-side combined to the |days|
    * census; both DPs are O(days²) in-row folds over the sorted day
    * array. The oracle runs the identical recurrence as a linear
    * recursive CTE carrying the length list. */
  def q413Lis(s: SparkSession, dir: String): DataFrame = {
    def foldExpr(cmp: String): String =
      s"""array_max(transform(
        aggregate(
          a,
          CAST(array() AS ARRAY<STRUCT<v: BIGINT, len: BIGINT>>),
          (acc, x) -> concat(acc, array(named_struct('v', x, 'len',
            1 + coalesce(array_max(transform(
              filter(acc, p -> p.v $cmp x), p -> p.len)), 0))))),
        p -> p.len))"""
    t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .agg(sort_array(collect_list(struct(col("day"), col("x"))))
        .as("cs"))
      .select(expr("transform(cs, c -> c.x)").as("a"))
      .select(size(col("a")).cast("bigint").as("n_days"),
        expr(foldExpr("<")).as("lis_len"),
        expr(foldExpr(">")).as("lds_len"))
  }

  private def q413OracleSql: String = {
    def lensCte(name: String, cmp: String): String =
      s"""$name AS (
          SELECT CAST(0 AS BIGINT) AS i, CAST([] AS BIGINT[]) AS lens
          FROM al
          UNION ALL
          SELECT i + 1, list_append(lens,
            1 + coalesce(list_max(list_filter(
              list_transform(range(CAST(i AS INT)),
                j -> CASE WHEN a[CAST(j AS INT) + 1]
                  $cmp a[CAST(i AS INT) + 1]
                  THEN lens[CAST(j AS INT) + 1] END),
              y -> y IS NOT NULL)), 0))
          FROM $name, al WHERE i < n)"""
    s"""WITH RECURSIVE daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        al AS (SELECT list(x ORDER BY day) AS a,
          CAST(count(*) AS BIGINT) AS n FROM daily),
        ${lensCte("inc", "<")},
        ${lensCte("dec", ">")}
        SELECT al.n AS n_days,
          (SELECT list_max(lens) FROM inc WHERE i = n) AS lis_len,
          (SELECT list_max(lens) FROM dec WHERE i = n) AS lds_len
        FROM al"""
  }

  // ------------------------------------------------------------ q414

  /** q414 — RESCALED-RANGE (R/S) BLOCKS of the daily count series
    * (Hurst's 1951 statistic — the long-memory probe: for a block of
    * w days, R = range of the cumulative deviations from the block
    * mean, S = the block std; R/S grows ∝ w^H with H = 1/2 for
    * short-memory processes and H > 1/2 under persistence — the
    * check behind capacity planning on "bursty" series where q304's
    * ACF sees only fixed lags). Exactness: the cumulative deviation
    * is cleared of the rational mean by scaling with w — D_t =
    * w·cum_t − t·total is an EXACT integer, R_scaled = max D − min D;
    * R/S = R_scaled / √(w·Σx² − (Σx)²) is then ONE shared-text double
    * over exact integers (the algebra: raw R = R_scaled/w, raw S =
    * √(wΣx²−(Σx)²)/w — the w's cancel). Released per (w ∈ {10, 30},
    * block) with rs_milli.
    *
    * Scale shape: ONE corpus scan map-side combined to the |days|
    * census; block cumsums and ranges ride the day frame at both
    * window sizes. */
  def q414RescaledRange(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .withColumn("d", row_number().over(Window.orderBy("day"))
        .cast("bigint"))
    // per block: totals first (one aggregate), then the exact integer
    // deviations D_t = w·cum_t − t·total off the block cumsum
    def blocks2(w: Int) = {
      val base = daily
        .withColumn("blk", expr(s"(d - 1) DIV $w"))
        .withColumn("t", expr(s"(d - 1) % $w + 1"))
      val tot = base.groupBy("blk")
        .agg(count(lit(1)).as("cnt"), sum("x").as("tot"),
          sum(col("x").cast("decimal(38,0)") * col("x")).as("sx2"))
        .filter(col("cnt") === w.toLong)
      val wnd = Window.partitionBy("blk").orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      base.withColumn("cum", sum("x").over(wnd))
        .join(tot, "blk")
        .withColumn("dev", expr(s"$w * cum - t * tot"))
        .groupBy("blk")
        .agg(max("dev").as("dmax"), min("dev").as("dmin"),
          max("tot").as("tot"), max("sx2").as("sx2"))
        .select(lit(w.toLong).as("w"), col("blk").cast("bigint")
            .as("block"),
          (col("dmax") - col("dmin")).as("r_scaled"),
          expr(s"""CAST(floor(CAST(dmax - dmin AS DOUBLE) * 1000
            / sqrt(CAST($w * sx2 - CAST(tot AS DECIMAL(38,0)) * tot
              AS DOUBLE))) AS BIGINT)""").as("rs_milli"))
    }
    blocks2(10).unionByName(blocks2(30))
  }

  private def q414OracleSql: String = {
    def blockSql(w: Int): String =
      s"""SELECT CAST($w AS BIGINT) AS w, blk AS block,
          CAST(max(dev) - min(dev) AS BIGINT) AS r_scaled,
          CAST(floor(CAST(max(dev) - min(dev) AS DOUBLE) * 1000
            / sqrt(CAST($w * max(sx2) - CAST(max(tot) AS HUGEINT)
              * max(tot) AS DOUBLE))) AS BIGINT) AS rs_milli
        FROM (
          SELECT i.blk, i.t,
            $w * sum(i.x) OVER (PARTITION BY i.blk ORDER BY i.t)
              - i.t * b.tot AS dev,
            b.tot, b.sx2
          FROM (SELECT x, (d - 1) // $w AS blk, (d - 1) % $w + 1 AS t
                FROM idx) i
          JOIN (SELECT (d - 1) // $w AS blk,
                  CAST(count(*) AS BIGINT) AS cnt,
                  CAST(sum(x) AS BIGINT) AS tot,
                  sum(CAST(x AS HUGEINT) * x) AS sx2
                FROM idx GROUP BY 1 HAVING count(*) = $w) b
            ON i.blk = b.blk) dv
        GROUP BY blk"""
    s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        idx AS (SELECT x, CAST(row_number() OVER (ORDER BY day)
            AS BIGINT) AS d FROM daily)
        ${blockSql(10)}
        UNION ALL
        ${blockSql(30)}"""
  }

  // ------------------------------------------------------------ q436

  /** q436's degree thresholds. */
  val RichClubKs: Seq[Long] = Seq(1L, 2L, 3L, 4L, 6L)

  /** The q183/q397 brand-graph CTE prefix shared by the session-8
    * topology queries (bi → pair → tot → eu edges → und adjacency). */
  private def brandGraphCtes: String =
    s"""bi AS (SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        pair AS (SELECT x.b AS b1, y.b AS b2,
            CAST(count(*) AS BIGINT) AS n12
          FROM bi x JOIN bi y ON x.ok = y.ok AND x.b < y.b GROUP BY 1, 2),
        tot AS (SELECT CAST(count(*) AS BIGINT) np,
                       CAST(sum(n12) AS BIGINT) tw FROM pair),
        eu AS (SELECT b1, b2 FROM pair, tot
               WHERE n12 * np * 100 >= tw * $LinkEdgePct),
        und AS (SELECT b1 AS src, b2 AS nbr FROM eu
                UNION ALL SELECT b2, b1 FROM eu)"""

  /** q436 — RICH-CLUB COEFFICIENT sweep on the q183 brand graph (the
    * hub-interconnection diagnostic the rest of the graph family
    * doesn't measure: q207's assortativity gives one signed scalar for
    * degree mixing, but a network can be globally disassortative yet
    * still hide a densely wired elite — φ(k) = 2·E_{>k} /
    * (N_{>k}(N_{>k}−1)) measures exactly how club-like the
    * above-degree-k subgraph is, per threshold). Per k in
    * [[RichClubKs]]: members = nodes with degree > k, e_club = edges
    * with BOTH endpoints members, φ released as ppm by exact integer
    * division (NULL below two members).
    *
    * Scale shape: degrees are a |nodes|-row aggregate off the
    * adjacency; the membership test is a broadcast join of the edge
    * list against the degree frame; the 5-threshold sweep folds in ONE
    * conditional aggregate over the |edges|-row frame (no per-k
    * rescan). */
  def q436RichClub(s: SparkSession, dir: String): DataFrame = {
    // pin the edge list once and derive the adjacency from it — edges
    // and und both forcing brandGraph would run the basket pair
    // generation twice
    val edges = brandGraph(s, dir)._1.localCheckpoint(true)
    val und = edges.select(col("b1").as("src"), col("b2").as("nbr"))
      .unionByName(edges.select(col("b2").as("src"),
        col("b1").as("nbr")))
    val deg = und.groupBy("src").agg(count(lit(1)).as("deg"))
    val withDegs = edges
      .join(broadcast(deg.select(col("src").as("b1"),
        col("deg").as("d1"))), "b1")
      .join(broadcast(deg.select(col("src").as("b2"),
        col("deg").as("d2"))), "b2")
      .localCheckpoint(true)
    val nodeCounts = deg.localCheckpoint(true)
    RichClubKs.map { k =>
      val e = withDegs
        .agg(sum(when(col("d1") > k && col("d2") > k, 1L)
          .otherwise(0L)).as("e_club"))
      val n = nodeCounts
        .agg(sum(when(col("deg") > k, 1L).otherwise(0L)).as("n_club"))
      e.crossJoin(n).select(lit(k).as("k"), col("n_club"),
        col("e_club"),
        expr("""CASE WHEN n_club < 2 THEN NULL
             ELSE 2 * e_club * 1000000 div (n_club * (n_club - 1))
             END""").as("phi_ppm"))
    }.reduce(_ unionByName _)
  }

  private def q436OracleSql: String = {
    val rows = RichClubKs.map(k =>
      s"""SELECT CAST($k AS BIGINT) AS k,
          (SELECT CAST(count(*) AS BIGINT) FROM deg WHERE deg > $k)
            AS n_club,
          (SELECT CAST(sum(CASE WHEN d1.deg > $k AND d2.deg > $k
              THEN 1 ELSE 0 END) AS BIGINT)
            FROM eu JOIN deg d1 ON eu.b1 = d1.src
            JOIN deg d2 ON eu.b2 = d2.src) AS e_club""")
      .mkString("\n        UNION ALL\n        ")
    s"""WITH $brandGraphCtes,
        deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
          FROM und GROUP BY src),
        sweep AS ($rows)
        SELECT k, n_club, e_club,
          CASE WHEN n_club < 2 THEN NULL
            ELSE 2 * e_club * 1000000 // (n_club * (n_club - 1)) END
            AS phi_ppm
        FROM sweep"""
  }

  // ------------------------------------------------------------ q437

  /** q437's attenuation: β = 0.1, so a direct edge scores 10⁵ and a
    * length-2 path 10⁴ per path — integer micro-units, β well under
    * 1/λ_max for a 25-node graph so the truncated series is the right
    * two-term read. */
  val KatzB1Micro = 100000L
  val KatzB2Micro = 10000L

  /** q437 — TRUNCATED KATZ INDEX on the q183 brand graph (the
    * path-counting member of the link-prediction family: q183's
    * common-neighbor count and q397's Adamic–Adar see ONLY length-2
    * evidence and treat an existing edge as out of scope; Katz
    * κ(a,b) = Σ β^ℓ·paths_ℓ(a,b) scores EVERY pair — including
    * existing edges — by attenuated path volume, the spectral-family
    * score that subsumes both as β → 0). Truncated at ℓ = 2 with
    * [[KatzB1Micro]]/[[KatzB2Micro]]: adj ∈ {0,1} from the edge set,
    * paths₂ = wedge counts through any center (a≠b), score_micro the
    * exact integer combination, released for every unordered pair with
    * a nonzero score.
    *
    * Scale shape: wedges generated IN-ROW from sorted adjacency
    * (q397's degree²-bounded orientation); the adjacency overlay is a
    * full outer join of two |pairs|-bounded frames — at crawl scale a
    * degree cap precedes pair generation (q183's note). */
  def q437KatzIndex(s: SparkSession, dir: String): DataFrame = {
    // same single-forcing discipline as q436
    val edges = brandGraph(s, dir)._1.localCheckpoint(true)
    val und = edges.select(col("b1").as("src"), col("b2").as("nbr"))
      .unionByName(edges.select(col("b2").as("src"),
        col("b1").as("nbr")))
    val wedges = und.groupBy("src")
      .agg(sort_array(collect_set("nbr")).as("ns"))
      .select(explode(expr("flatten(transform(ns, (x, i) -> " +
        "transform(slice(ns, i + 2, size(ns)), " +
        "y -> struct(x AS a, y AS b))))")).as("p"))
      .select(col("p.a"), col("p.b"))
      .groupBy("a", "b").agg(count(lit(1)).as("paths2"))
    val adj = edges.select(col("b1").as("a"), col("b2").as("b"),
      lit(1L).as("adj"))
    wedges.join(adj, Seq("a", "b"), "full_outer")
      .select(col("a").as("b1"), col("b").as("b2"),
        coalesce(col("adj"), lit(0L)).as("adj"),
        coalesce(col("paths2"), lit(0L)).as("paths2"))
      .withColumn("katz_micro",
        col("adj") * KatzB1Micro + col("paths2") * KatzB2Micro)
  }

  private def q437OracleSql: String =
    s"""WITH $brandGraphCtes,
        wedge AS (SELECT u1.nbr AS a, u2.nbr AS b,
            CAST(count(*) AS BIGINT) AS paths2
          FROM und u1 JOIN und u2
            ON u1.src = u2.src AND u1.nbr < u2.nbr
          GROUP BY 1, 2),
        adj AS (SELECT b1 AS a, b2 AS b, CAST(1 AS BIGINT) AS adj
          FROM eu),
        merged AS (SELECT coalesce(w.a, j.a) AS b1,
            coalesce(w.b, j.b) AS b2,
            coalesce(j.adj, 0) AS adj,
            coalesce(w.paths2, 0) AS paths2
          FROM wedge w FULL OUTER JOIN adj j
            ON w.a = j.a AND w.b = j.b)
        SELECT b1, b2, adj, paths2,
          adj * $KatzB1Micro + paths2 * $KatzB2Micro AS katz_micro
        FROM merged"""

  // ------------------------------------------------------------ q441

  /** q441 — EPIDEMIOLOGY RATIO PANEL for the 2×2 exposure table
    * urgent-priority × order-failure (the effect-MAGNITUDE counterpart
    * of q247's chi² exactly as q423 is to q266: the test says WHETHER
    * exposure and outcome associate, the panel says HOW MUCH in the
    * three units every observational readout reports — risk ratio,
    * odds ratio, risk difference). All three released as exact ppm
    * integer divisions over the {a,b,c,d} cells, plus the q247-form
    * chi² ×10³ as one shared-text double chain over decimal(38,0)
    * cross products; zero-margin cells NULL-guard the ratios.
    *
    * Scale shape: one corpus scan map-side combined to four cells —
    * single-row aggregate, no joins. */
  def q441EpiRatios(s: SparkSession, dir: String): DataFrame = {
    val cells = t(s, dir, "orders")
      .select((col("o_orderpriority") === "1-URGENT").as("ex"),
        (col("o_orderstatus") === "F").as("bad"))
      .agg(
        sum(when(col("ex") && col("bad"), 1L).otherwise(0L)).as("a"),
        sum(when(col("ex") && !col("bad"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("ex") && col("bad"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("ex") && !col("bad"), 1L).otherwise(0L)).as("d"))
    cells.select(col("a"), col("b"), col("c"), col("d"),
      expr("""CASE WHEN c = 0 OR a + b = 0 THEN NULL
           ELSE CAST(CAST(a AS DECIMAL(38,0)) * (c + d) * 1000000
             div (CAST(c AS DECIMAL(38,0)) * (a + b)) AS BIGINT)
           END""").as("rr_ppm"),
      expr("""CASE WHEN b = 0 OR c = 0 THEN NULL
           ELSE CAST(CAST(a AS DECIMAL(38,0)) * d * 1000000
             div (CAST(b AS DECIMAL(38,0)) * c) AS BIGINT)
           END""").as("or_ppm"),
      expr("""CASE WHEN a + b = 0 OR c + d = 0 THEN NULL
           ELSE CAST((CAST(a AS DECIMAL(38,0)) * (c + d)
             - CAST(c AS DECIMAL(38,0)) * (a + b)) * 1000000
             div (CAST(a + b AS DECIMAL(38,0)) * (c + d)) AS BIGINT)
           END""").as("rd_ppm"),
      expr("""CAST(floor((CAST(a AS DOUBLE) + b + c + d)
           * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
           * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
           / ((CAST(a AS DOUBLE) + b) * (c + d)
              * (CAST(a AS DOUBLE) + c) * (CAST(b AS DOUBLE) + d))
           * 1000) AS BIGINT)""").as("chi2_milli"))
  }

  private def q441OracleSql: String =
    """WITH cells AS (SELECT
          CAST(sum(CASE WHEN ex AND bad THEN 1 ELSE 0 END) AS BIGINT)
            AS a,
          CAST(sum(CASE WHEN ex AND NOT bad THEN 1 ELSE 0 END)
            AS BIGINT) AS b,
          CAST(sum(CASE WHEN NOT ex AND bad THEN 1 ELSE 0 END)
            AS BIGINT) AS c,
          CAST(sum(CASE WHEN NOT ex AND NOT bad THEN 1 ELSE 0 END)
            AS BIGINT) AS d
        FROM (SELECT o_orderpriority = '1-URGENT' AS ex,
                o_orderstatus = 'F' AS bad FROM orders) z)
        SELECT a, b, c, d,
          CASE WHEN c = 0 OR a + b = 0 THEN NULL
            ELSE CAST(CAST(a AS HUGEINT) * (c + d) * 1000000
              // (CAST(c AS HUGEINT) * (a + b)) AS BIGINT) END
            AS rr_ppm,
          CASE WHEN b = 0 OR c = 0 THEN NULL
            ELSE CAST(CAST(a AS HUGEINT) * d * 1000000
              // (CAST(b AS HUGEINT) * c) AS BIGINT) END AS or_ppm,
          CASE WHEN a + b = 0 OR c + d = 0 THEN NULL
            ELSE CAST((CAST(a AS HUGEINT) * (c + d)
              - CAST(c AS HUGEINT) * (a + b)) * 1000000
              // (CAST(a + b AS HUGEINT) * (c + d)) AS BIGINT) END
            AS rd_ppm,
          CAST(floor((CAST(a AS DOUBLE) + b + c + d)
            * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
            * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
            / ((CAST(a AS DOUBLE) + b) * (c + d)
               * (CAST(a AS DOUBLE) + c) * (CAST(b AS DOUBLE) + d))
            * 1000) AS BIGINT) AS chi2_milli
        FROM cells"""

  // ------------------------------------------------------------ q445

  /** q445 — GRANGER-STYLE LAG SCREEN: does yesterday's order COUNT
    * explain today's REVENUE beyond what yesterday's revenue already
    * does? (The cross-series completion of the q304/q432/q444 family —
    * those are all UNIVARIATE; the first question a metrics platform
    * asks about two related series is incremental lagged
    * explanatory power, the Granger screen: F-test of the restricted
    * regression y_t ~ y_{t−1} against the unrestricted
    * y_t ~ y_{t−1} + x_{t−1}.) Day-pair frame via one lag join;
    * ALL second moments exact integers (n-scaled centering
    * S_ab = n·Σab − Σa·Σb in decimal(38,0) — the shared n² scale
    * cancels in the F ratio); the two closed-form RSS's and
    * F = (RSSr − RSSu)·(n−3)/RSSu ride ONE shared-text double chain.
    * Released: {n, b2_sign (the direction of the incremental lag
    * effect), f_milli}.
    *
    * Scale shape: one corpus scan to the daily census; one lag
    * self-join on the census; a 1-row moment aggregate. */
  def q445GrangerLite(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("x"),
        sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("yv"))
      .localCheckpoint(true)
    val pairs = daily
      .select(col("day"), col("yv").as("yt"))
      .join(daily.select(date_add(col("day"), 1).as("day"),
        col("yv").as("ylag"), col("x").as("xlag")), "day")
    val m = pairs.agg(count(lit(1)).as("n"),
      sum("yt").as("sy"), sum("ylag").as("sa"), sum("xlag").as("sb"),
      sum(expr("CAST(yt AS DECIMAL(38,0)) * ylag")).as("sya"),
      sum(expr("CAST(yt AS DECIMAL(38,0)) * xlag")).as("syb"),
      sum(expr("CAST(ylag AS DECIMAL(38,0)) * xlag")).as("sab"),
      sum(expr("CAST(ylag AS DECIMAL(38,0)) * ylag")).as("saa"),
      sum(expr("CAST(xlag AS DECIMAL(38,0)) * xlag")).as("sbb"),
      sum(expr("CAST(yt AS DECIMAL(38,0)) * yt")).as("syy"))
    def cS(ab: String, a: String, b: String): String =
      s"""(CAST(n AS DOUBLE) * CAST($ab AS DOUBLE)
         - CAST($a AS DOUBLE) * CAST($b AS DOUBLE))"""
    val Say = cS("sya", "sy", "sa"); val Sby = cS("syb", "sy", "sb")
    val Sab = cS("sab", "sa", "sb"); val Saa = cS("saa", "sa", "sa")
    val Sbb = cS("sbb", "sb", "sb"); val Syy = cS("syy", "sy", "sy")
    val det = s"($Saa * $Sbb - $Sab * $Sab)"
    val b1 = s"(($Say * $Sbb - $Sby * $Sab) / $det)"
    val b2 = s"(($Sby * $Saa - $Say * $Sab) / $det)"
    val rssR = s"($Syy - $Say * ($Say / $Saa))"
    val rssU = s"($Syy - ($Say * $b1 + $Sby * $b2))"
    val f = s"(($rssR - $rssU) * (CAST(n AS DOUBLE) - 3.0) / $rssU)"
    m.select(col("n"),
      expr(s"CAST(CASE WHEN $b2 > 0.0 THEN 1 WHEN $b2 < 0.0 THEN -1 " +
        "ELSE 0 END AS BIGINT)").as("b2_sign"),
      expr(s"CAST(floor($f * 1000) AS BIGINT)").as("f_milli"))
  }

  private def q445OracleSql: String = {
    def cS(ab: String, a: String, b: String): String =
      s"""(CAST(n AS DOUBLE) * CAST($ab AS DOUBLE)
         - CAST($a AS DOUBLE) * CAST($b AS DOUBLE))"""
    val Say = cS("sya", "sy", "sa"); val Sby = cS("syb", "sy", "sb")
    val Sab = cS("sab", "sa", "sb"); val Saa = cS("saa", "sa", "sa")
    val Sbb = cS("sbb", "sb", "sb"); val Syy = cS("syy", "sy", "sy")
    val det = s"($Saa * $Sbb - $Sab * $Sab)"
    val b1 = s"(($Say * $Sbb - $Sby * $Sab) / $det)"
    val b2 = s"(($Sby * $Saa - $Say * $Sab) / $det)"
    val rssR = s"($Syy - $Say * ($Say / $Saa))"
    val rssU = s"($Syy - ($Say * $b1 + $Sby * $b2))"
    val f = s"(($rssR - $rssU) * (CAST(n AS DOUBLE) - 3.0) / $rssU)"
    s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS x,
          CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
            AS BIGINT) AS yv
          FROM orders GROUP BY 1),
        pairs AS (SELECT a.yv AS yt, b.yv AS ylag, b.x AS xlag
          FROM daily a JOIN daily b ON a.day = b.day + 1),
        m AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(yt) AS BIGINT) AS sy,
          CAST(sum(ylag) AS BIGINT) AS sa,
          CAST(sum(xlag) AS BIGINT) AS sb,
          sum(CAST(yt AS HUGEINT) * ylag) AS sya,
          sum(CAST(yt AS HUGEINT) * xlag) AS syb,
          sum(CAST(ylag AS HUGEINT) * xlag) AS sab,
          sum(CAST(ylag AS HUGEINT) * ylag) AS saa,
          sum(CAST(xlag AS HUGEINT) * xlag) AS sbb,
          sum(CAST(yt AS HUGEINT) * yt) AS syy
          FROM pairs)
        SELECT n,
          CAST(CASE WHEN $b2 > 0.0 THEN 1 WHEN $b2 < 0.0 THEN -1
            ELSE 0 END AS BIGINT) AS b2_sign,
          CAST(floor($f * 1000) AS BIGINT) AS f_milli
        FROM m"""
  }

  // ------------------------------------------------------------ q447

  /** q447's Shewhart chart constants for subgroup size n = 7 (standard
    * SPC tables — literals, the q403 discipline). */
  val SpcA2 = "0.419"
  val SpcD3 = "0.076"
  val SpcD4 = "1.924"

  /** q447 — SHEWHART X̄/R CONTROL CHART over weekly subgroups of daily
    * revenue (the PROCESS-CONTROL member of the monitoring family:
    * q198/q336 detect a changepoint after the fact, q219 flags bursts —
    * a control chart is the STANDING gate manufacturing-style ops put
    * on a metric, with limits derived from within-subgroup range so
    * slow drift can't inflate its own thresholds). Weeks = complete
    * 7-observed-day subgroups of the daily census (partial weeks
    * dropped — the q430 complete-block discipline); per week the exact
    * integer (Σrev, range); grand means and the A2/D3/D4 limits ride
    * one broadcast scalar row; released per week {week, sum_rv, r,
    * x_ooc, r_ooc}.
    *
    * Scale shape: one corpus scan → daily census → ~340-row week
    * frame; limits are one broadcast aggregate; flags are in-row. */
  def q447SpcControl(s: SparkSession, dir: String): DataFrame = {
    val weekly = t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
        .as("rv"))
      .groupBy(expr("datediff(day, DATE '1995-01-01') div 7").as("wk"))
      .agg(count(lit(1)).as("nd"), sum("rv").as("sum_rv"),
        (max("rv") - min("rv")).as("r"))
      .filter(col("nd") === 7)
      .localCheckpoint(true)
    val g = weekly.agg(count(lit(1)).as("nw"),
      sum("sum_rv").as("st"), sum("r").as("sr"))
    val xbar = "(CAST(sum_rv AS DOUBLE) / 7.0)"
    val center = "(CAST(st AS DOUBLE) / CAST(nw AS DOUBLE) / 7.0)"
    val rbar = "(CAST(sr AS DOUBLE) / CAST(nw AS DOUBLE))"
    weekly.crossJoin(broadcast(g))
      .select(col("wk"), col("sum_rv"), col("r"),
        expr(s"""$xbar > $center + $SpcA2 * $rbar
             OR $xbar < $center - $SpcA2 * $rbar""").as("x_ooc"),
        expr(s"""CAST(r AS DOUBLE) > $SpcD4 * $rbar
             OR CAST(r AS DOUBLE) < $SpcD3 * $rbar""").as("r_ooc"))
  }

  private def q447OracleSql: String = {
    val xbar = "(CAST(sum_rv AS DOUBLE) / 7.0)"
    val center = "(CAST(st AS DOUBLE) / CAST(nw AS DOUBLE) / 7.0)"
    val rbar = "(CAST(sr AS DOUBLE) / CAST(nw AS DOUBLE))"
    s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
          CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
            AS BIGINT) AS rv
          FROM orders GROUP BY 1),
        weekly AS (SELECT (day - DATE '1995-01-01') // 7 AS wk,
            CAST(count(*) AS BIGINT) AS nd,
            CAST(sum(rv) AS BIGINT) AS sum_rv,
            CAST(max(rv) - min(rv) AS BIGINT) AS r
          FROM daily GROUP BY 1),
        complete AS (SELECT * FROM weekly WHERE nd = 7),
        g AS (SELECT CAST(count(*) AS BIGINT) AS nw,
          CAST(sum(sum_rv) AS BIGINT) AS st,
          CAST(sum(r) AS BIGINT) AS sr FROM complete)
        SELECT wk, sum_rv, r,
          ($xbar > $center + $SpcA2 * $rbar
           OR $xbar < $center - $SpcA2 * $rbar) AS x_ooc,
          (CAST(r AS DOUBLE) > $SpcD4 * $rbar
           OR CAST(r AS DOUBLE) < $SpcD3 * $rbar) AS r_ooc
        FROM complete CROSS JOIN g"""
  }

  // ------------------------------------------------------------ q459

  /** q459's imbalance gate: |SMD| > 0.1 (the conventional threshold)
    * in milli units. */
  val SmdGateMilli = 100L

  /** q459 — COVARIATE BALANCE AUDIT (standardized mean differences)
    * for the q174/q259 user_id-parity experiment arms (the
    * experimental-hygiene step the A/B family assumes but never
    * checks: CUPED, uplift and lift readouts are only unbiased if the
    * arms are exchangeable BEFORE treatment — the SMD panel,
    * |μ_t − μ_c| / √((σ²_t + σ²_c)/2), is the standard table-one
    * screen, with |SMD| > 0.1 the conventional imbalance flag).
    * Four per-user covariates (events, purchases, spend cents, active
    * days); per-arm {n, Σx, Σx²} exact decimal integers off ONE
    * user census; SMD ×10³ via one shared sqrt chain per covariate.
    *
    * Scale shape: one corpus scan → per-user frame (map-side
    * combined) → a 1-row per-arm pivot; the 4-covariate panel is
    * literal projections. */
  def q459PropensityBalance(s: SparkSession, dir: String): DataFrame = {
    val covs = Seq("n_events", "n_purchases", "spend_cents",
      "active_days")
    val per = t(s, dir, "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"),
        sum(expr("CAST(floor(value * 100) AS BIGINT)"))
          .as("spend_cents"),
        countDistinct(to_date(col("ts"))).as("active_days"))
      .withColumn("arm", (col("user_id") % 2 === 1).cast("int"))
    val aggs = covs.flatMap { c => Seq(
      sum(when(col("arm") === 1, col(c)).otherwise(0L)).as(s"st_$c"),
      sum(when(col("arm") === 1,
        expr(s"CAST($c AS DECIMAL(38,0)) * $c")).otherwise(lit(0L)
        .cast("decimal(38,0)"))).as(s"qt_$c"),
      sum(when(col("arm") === 0, col(c)).otherwise(0L)).as(s"sc_$c"),
      sum(when(col("arm") === 0,
        expr(s"CAST($c AS DECIMAL(38,0)) * $c")).otherwise(lit(0L)
        .cast("decimal(38,0)"))).as(s"qc_$c")) } ++ Seq(
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nt"),
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("nc"))
    val g = per.agg(aggs.head, aggs.tail: _*).localCheckpoint(true)
    covs.map { c =>
      val vt = s"""((CAST(qt_$c AS DOUBLE) - CAST(st_$c AS DOUBLE)
        * (CAST(st_$c AS DOUBLE) / CAST(nt AS DOUBLE)))
        / (CAST(nt AS DOUBLE) - 1.0))"""
      val vc = s"""((CAST(qc_$c AS DOUBLE) - CAST(sc_$c AS DOUBLE)
        * (CAST(sc_$c AS DOUBLE) / CAST(nc AS DOUBLE)))
        / (CAST(nc AS DOUBLE) - 1.0))"""
      val smd = s"""(abs(CAST(st_$c AS DOUBLE) / CAST(nt AS DOUBLE)
        - CAST(sc_$c AS DOUBLE) / CAST(nc AS DOUBLE))
        / sqrt(($vt + $vc) / 2.0))"""
      g.select(lit(c).as("covariate"), col("nt"), col("nc"),
        expr(s"CAST(floor($smd * 1000) AS BIGINT)").as("smd_milli"),
        expr(s"CAST(floor($smd * 1000) AS BIGINT) > $SmdGateMilli")
          .as("imbalanced"))
    }.reduce(_ unionByName _)
  }

  private def q459OracleSql: String = {
    val covs = Seq("n_events", "n_purchases", "spend_cents",
      "active_days")
    val aggCols = (covs.flatMap { c => Seq(
      s"CAST(sum(CASE WHEN arm = 1 THEN $c ELSE 0 END) AS BIGINT) AS st_$c",
      s"sum(CASE WHEN arm = 1 THEN CAST($c AS HUGEINT) * $c ELSE 0 END) AS qt_$c",
      s"CAST(sum(CASE WHEN arm = 0 THEN $c ELSE 0 END) AS BIGINT) AS sc_$c",
      s"sum(CASE WHEN arm = 0 THEN CAST($c AS HUGEINT) * $c ELSE 0 END) AS qc_$c") }
      ++ Seq(
      "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt",
      "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc"))
      .mkString(", ")
    val rows = covs.map { c =>
      val vt = s"""((CAST(qt_$c AS DOUBLE) - CAST(st_$c AS DOUBLE)
        * (CAST(st_$c AS DOUBLE) / CAST(nt AS DOUBLE)))
        / (CAST(nt AS DOUBLE) - 1.0))"""
      val vc = s"""((CAST(qc_$c AS DOUBLE) - CAST(sc_$c AS DOUBLE)
        * (CAST(sc_$c AS DOUBLE) / CAST(nc AS DOUBLE)))
        / (CAST(nc AS DOUBLE) - 1.0))"""
      val smd = s"""(abs(CAST(st_$c AS DOUBLE) / CAST(nt AS DOUBLE)
        - CAST(sc_$c AS DOUBLE) / CAST(nc AS DOUBLE))
        / sqrt(($vt + $vc) / 2.0))"""
      s"""SELECT '$c' AS covariate, nt, nc,
          CAST(floor($smd * 1000) AS BIGINT) AS smd_milli,
          CAST(floor($smd * 1000) AS BIGINT) > $SmdGateMilli
            AS imbalanced
        FROM g"""
    }.mkString("\n        UNION ALL\n        ")
    s"""WITH per AS (SELECT user_id,
          CAST(count(*) AS BIGINT) AS n_events,
          CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purchases,
          CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
            AS spend_cents,
          CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT)
            AS active_days,
          CAST(max(user_id) % 2 AS INTEGER) AS arm
          FROM events GROUP BY user_id),
        g AS (SELECT $aggCols FROM per)
        $rows"""
  }

  // ------------------------------------------------------------ q469

  /** q469 — CHURN STEADY STATE from weekly activity transitions (the
    * RETENTION-FORECAST member of the state family: q150/q407 profile
    * event-type transitions; the question a growth model actually
    * asks is binary — active this week, active next week? — and for
    * a 2-state chain the stationary share has the EXACT closed form
    * π_active = p_ia / (p_ai + p_ia), no iteration and no float: both
    * transition rates are count ratios, so the steady state is one
    * integer division over exact cell counts). Weeks 0..3 of the
    * 28-day span (q430's complete blocks); a user's week-state =
    * had ≥1 event; transitions counted over the user × week spine
    * (0-filled — absent is a real inactive state). Released:
    * {n_users, aa, ai, ia, ii, churn_ppm = ai·10⁶ div (aa+ai),
    * revive_ppm = ia·10⁶ div (ia+ii), steady_active_ppm =
    * ia·10⁶ div (ai + ia)}.
    *
    * Scale shape: one corpus scan map-side combined to the
    * (user × week) census; the spine fill and lag ride a per-user
    * 4-row frame; four cells → one scalar row. */
  def q469ChurnSteadyState(s: SparkSession, dir: String): DataFrame = {
    val weeks = s.range(4).select(col("id").as("wk"))
    val users = t(s, dir, "events").select("user_id").distinct()
    val active = t(s, dir, "events")
      .select(col("user_id"),
        expr("datediff(CAST(ts AS DATE), DATE '2024-01-01') div 7")
          .as("wk"))
      .filter(col("wk") < 4)
      .distinct()
      .withColumn("a", lit(1L))
    val spine = users.crossJoin(broadcast(weeks))
      .join(active, Seq("user_id", "wk"), "left")
      .select(col("user_id"), col("wk"),
        coalesce(col("a"), lit(0L)).as("a"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("wk")
    val trans = spine
      .withColumn("prev", lag("a", 1).over(w))
      .filter(col("prev").isNotNull)
      .agg(
        sum(when(col("prev") === 1 && col("a") === 1, 1L)
          .otherwise(0L)).as("aa"),
        sum(when(col("prev") === 1 && col("a") === 0, 1L)
          .otherwise(0L)).as("ai"),
        sum(when(col("prev") === 0 && col("a") === 1, 1L)
          .otherwise(0L)).as("ia"),
        sum(when(col("prev") === 0 && col("a") === 0, 1L)
          .otherwise(0L)).as("ii"))
    trans.crossJoin(broadcast(users.agg(count(lit(1)).as("n_users"))))
      .select(col("n_users"), col("aa"), col("ai"), col("ia"),
        col("ii"),
        expr("""CASE WHEN aa + ai = 0 THEN NULL
             ELSE ai * 1000000 div (aa + ai) END""").as("churn_ppm"),
        expr("""CASE WHEN ia + ii = 0 THEN NULL
             ELSE ia * 1000000 div (ia + ii) END""").as("revive_ppm"),
        expr("""CASE WHEN ai + ia = 0 THEN NULL
             ELSE ia * 1000000 div (ai + ia) END""")
          .as("steady_active_ppm"))
  }

  private def q469OracleSql: String =
    """WITH users AS (SELECT DISTINCT user_id FROM events),
        weeks AS (SELECT CAST(x AS BIGINT) AS wk
          FROM generate_series(0, 3) t(x)),
        active AS (SELECT DISTINCT user_id,
          (CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS wk
          FROM events
          WHERE (CAST(ts AS DATE) - DATE '2024-01-01') // 7 < 4),
        spine AS (SELECT u.user_id, w.wk,
            CASE WHEN a.user_id IS NULL THEN 0 ELSE 1 END AS a
          FROM users u CROSS JOIN weeks w
          LEFT JOIN active a
            ON a.user_id = u.user_id AND a.wk = w.wk),
        lagged AS (SELECT a, lag(a) OVER (PARTITION BY user_id
            ORDER BY wk) AS prev FROM spine),
        cells AS (SELECT
          CAST(sum(CASE WHEN prev = 1 AND a = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS aa,
          CAST(sum(CASE WHEN prev = 1 AND a = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS ai,
          CAST(sum(CASE WHEN prev = 0 AND a = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS ia,
          CAST(sum(CASE WHEN prev = 0 AND a = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS ii
          FROM lagged WHERE prev IS NOT NULL),
        nu AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM users)
        SELECT n_users, aa, ai, ia, ii,
          CASE WHEN aa + ai = 0 THEN NULL
            ELSE ai * 1000000 // (aa + ai) END AS churn_ppm,
          CASE WHEN ia + ii = 0 THEN NULL
            ELSE ia * 1000000 // (ia + ii) END AS revive_ppm,
          CASE WHEN ai + ia = 0 THEN NULL
            ELSE ia * 1000000 // (ai + ia) END AS steady_active_ppm
        FROM cells CROSS JOIN nu"""

  // ------------------------------------------------------------ q471

  /** q471 — DECILE LIFT TABLE for purchase propensity (the campaign-
    * targeting readout the experiment family feeds: rank users by
    * PRE-period purchase share, split into deciles, read POST-period
    * conversion per decile — lift over the base rate and cumulative
    * gains are the two numbers a targeting decision uses, and the
    * table doubles as a calibration check on any propensity score).
    * Pre/post by the q259 CUPED split; deciles by ntile over (pre
    * purchase count, user_id) — deterministic total order; exact
    * integers: conv_ppm per decile, lift_milli vs the overall rate,
    * cumulative gain share of all converters captured through decile
    * d.
    *
    * Scale shape: one corpus scan → per-user frame; ntile is one
    * total-order window over users (the q393 pattern); the table is a
    * 10-row aggregate. */
  def q471DecileLift(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "events")
      .select(col("user_id"),
        (col("ts") < lit(CupedSplit).cast("timestamp")).as("pre"),
        (col("event_type") === "purchase").as("isp"))
      .groupBy("user_id")
      .agg(sum(when(col("pre") && col("isp"), 1L).otherwise(0L))
        .as("pre_p"),
        sum(when(!col("pre") && col("isp"), 1L).otherwise(0L))
          .as("post_p"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("pre_p").desc, col("user_id"))
    val tiled = per
      .withColumn("decile", ntile(10).over(w).cast("bigint"))
      .withColumn("conv", (col("post_p") > 0).cast("long"))
      .localCheckpoint(true)
    val g = tiled.agg(sum("conv").as("tot_conv"),
      count(lit(1)).as("tot_n"))
    val byDec = tiled.groupBy("decile")
      .agg(count(lit(1)).as("n"), sum("conv").as("n_conv"))
    val wc = org.apache.spark.sql.expressions.Window.orderBy("decile")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    byDec.crossJoin(broadcast(g))
      .withColumn("cum_conv", sum("n_conv").over(wc))
      .select(col("decile"), col("n"), col("n_conv"),
        expr("n_conv * 1000000 div n").as("conv_ppm"),
        expr("""CASE WHEN tot_conv = 0 THEN NULL
             ELSE (CAST(n_conv AS DECIMAL(38,0)) * tot_n * 1000)
               div (CAST(tot_conv AS DECIMAL(38,0)) * n) END""")
          .as("lift_milli"),
        expr("""CASE WHEN tot_conv = 0 THEN NULL
             ELSE cum_conv * 1000000 div tot_conv END""")
          .as("cum_gain_ppm"))
  }

  private def q471OracleSql: String =
    s"""WITH per AS (SELECT user_id,
          CAST(sum(CASE WHEN ts < TIMESTAMP '$CupedSplit 00:00:00'
            AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
            AS pre_p,
          CAST(sum(CASE WHEN ts >= TIMESTAMP '$CupedSplit 00:00:00'
            AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
            AS post_p
          FROM events GROUP BY user_id),
        tiled AS (SELECT user_id, pre_p,
          CASE WHEN post_p > 0 THEN 1 ELSE 0 END AS conv,
          CAST(ntile(10) OVER (ORDER BY pre_p DESC, user_id)
            AS BIGINT) AS decile
          FROM per),
        g AS (SELECT CAST(sum(conv) AS BIGINT) AS tot_conv,
          CAST(count(*) AS BIGINT) AS tot_n FROM tiled),
        bydec AS (SELECT decile, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(conv) AS BIGINT) AS n_conv
          FROM tiled GROUP BY decile)
        SELECT decile, n, n_conv,
          n_conv * 1000000 // n AS conv_ppm,
          CASE WHEN tot_conv = 0 THEN NULL
            ELSE CAST((CAST(n_conv AS HUGEINT) * tot_n * 1000)
              // (CAST(tot_conv AS HUGEINT) * n) AS BIGINT) END
            AS lift_milli,
          CASE WHEN tot_conv = 0 THEN NULL
            ELSE CAST(sum(n_conv) OVER (ORDER BY decile) AS BIGINT)
              * 1000000 // tot_conv END AS cum_gain_ppm
        FROM bydec CROSS JOIN g"""

  // ------------------------------------------------------------ q481

  /** q481 — CUSTOMER LIFETIME VALUE from churn and active-week spend
    * (the composition the retention family exists to feed: q469's
    * 2-state chain gives E[lifetime] = 1/churn in weeks — the
    * geometric-survival identity — and weekly monetization per
    * ACTIVE user-week prices it; LTV = spend-per-active-week ×
    * expected lifetime is the simplest defensible LTV every growth
    * model starts from). Same complete-week spine as q469; exact
    * integers end-to-end: spend_per_auw = cents div active
    * user-weeks, exp_lifetime_milli = (aa+ai)·10³ div ai (NULL when
    * no churn observed — infinite-lifetime would be a fake number),
    * ltv = spend_per_auw·(aa+ai) div ai.
    *
    * Scale shape: q469's census plus one spend fold on the same
    * scan; scalar row. */
  def q481CustomerLtv(s: SparkSession, dir: String): DataFrame = {
    val weeks = s.range(4).select(col("id").as("wk"))
    val users = t(s, dir, "events").select("user_id").distinct()
    val uw = t(s, dir, "events")
      .select(col("user_id"),
        expr("datediff(CAST(ts AS DATE), DATE '2024-01-01') div 7")
          .as("wk"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .filter(col("wk") < 4)
      .groupBy("user_id", "wk")
      .agg(count(lit(1)).as("ne"), sum("vc").as("spend"))
    val spine = users.crossJoin(broadcast(weeks))
      .join(uw, Seq("user_id", "wk"), "left")
      .select(col("user_id"), col("wk"),
        when(col("ne").isNotNull, 1L).otherwise(0L).as("a"),
        coalesce(col("spend"), lit(0L)).as("spend"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("wk")
    val g = spine
      .withColumn("prev", lag("a", 1).over(w))
      .agg(
        sum("a").as("active_uw"), sum("spend").as("spend_cents"),
        sum(when(col("prev") === 1 && col("a") === 1, 1L)
          .otherwise(0L)).as("aa"),
        sum(when(col("prev") === 1 && col("a") === 0, 1L)
          .otherwise(0L)).as("ai"))
    g.select(col("active_uw"), col("spend_cents"),
      expr("""CASE WHEN aa + ai = 0 THEN NULL
           ELSE ai * 1000000 div (aa + ai) END""").as("churn_ppm"),
      expr("""CASE WHEN ai = 0 THEN NULL
           ELSE (aa + ai) * 1000 div ai END""")
        .as("exp_lifetime_milli"),
      expr("""CASE WHEN ai = 0 OR active_uw = 0 THEN NULL
           ELSE (spend_cents div active_uw) * (aa + ai) div ai
           END""").as("ltv_cents"))
  }

  private def q481OracleSql: String =
    """WITH users AS (SELECT DISTINCT user_id FROM events),
        weeks AS (SELECT CAST(x AS BIGINT) AS wk
          FROM generate_series(0, 3) t(x)),
        uw AS (SELECT user_id,
            (CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS wk,
            CAST(count(*) AS BIGINT) AS ne,
            CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
              AS spend
          FROM events
          WHERE (CAST(ts AS DATE) - DATE '2024-01-01') // 7 < 4
          GROUP BY 1, 2),
        spine AS (SELECT u.user_id, w.wk,
            CASE WHEN x.ne IS NULL THEN 0 ELSE 1 END AS a,
            coalesce(x.spend, 0) AS spend
          FROM users u CROSS JOIN weeks w
          LEFT JOIN uw x ON x.user_id = u.user_id AND x.wk = w.wk),
        lagged AS (SELECT a, spend, lag(a) OVER (PARTITION BY user_id
            ORDER BY wk) AS prev FROM spine),
        g AS (SELECT CAST(sum(a) AS BIGINT) AS active_uw,
          CAST(sum(spend) AS BIGINT) AS spend_cents,
          CAST(sum(CASE WHEN prev = 1 AND a = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS aa,
          CAST(sum(CASE WHEN prev = 1 AND a = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS ai
          FROM lagged)
        SELECT active_uw, spend_cents,
          CASE WHEN aa + ai = 0 THEN NULL
            ELSE ai * 1000000 // (aa + ai) END AS churn_ppm,
          CASE WHEN ai = 0 THEN NULL
            ELSE (aa + ai) * 1000 // ai END AS exp_lifetime_milli,
          CASE WHEN ai = 0 OR active_uw = 0 THEN NULL
            ELSE (spend_cents // active_uw) * (aa + ai) // ai END
            AS ltv_cents
        FROM g"""

  // ------------------------------------------------------------ q493

  /** q493 — DAILY GROWTH ACCOUNTING (the new/retained/resurrected/
    * churned decomposition every growth team reads before anything
    * else — q211's rolling WAU gives the level, this gives the FLOWS,
    * with the accounting identity ΔDAU = new + resurrected − churned
    * that makes the decomposition auditable rather than four
    * independent counters). Per user: first active day; per (user,
    * day): active today vs yesterday via one census self-join on
    * (user, day−1); released per day 2.. : {day, dau, new_u,
    * retained, resurrected, churned} — exact integers, identity
    * pinned in the spec.
    *
    * Scale shape: one corpus scan → (user, day) distinct census; the
    * yesterday probe is a census self-join on its own key; per-day
    * aggregate. */
  def q493GrowthAccounting(s: SparkSession, dir: String): DataFrame = {
    val ud = t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .localCheckpoint(true)
    val first = ud.groupBy("user_id").agg(min("day").as("first_day"))
    val withPrev = ud
      .join(ud.select(col("user_id"),
        date_add(col("day"), 1).as("day"), lit(1L).as("was_active")),
        Seq("user_id", "day"), "left")
      .join(broadcast(first), "user_id")
    val daysFlows = withPrev
      .groupBy("day")
      .agg(count(lit(1)).as("dau"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
          .as("new_u"),
        sum(when(col("was_active").isNotNull, 1L).otherwise(0L))
          .as("retained"),
        sum(when(col("was_active").isNull &&
          col("day") =!= col("first_day"), 1L).otherwise(0L))
          .as("resurrected"))
    // churned_d = users active d-1 but not d = dau_{d-1} - retained_d
    val w = org.apache.spark.sql.expressions.Window.orderBy("day")
    daysFlows
      .withColumn("prev_dau", lag("dau", 1).over(w))
      .filter(col("prev_dau").isNotNull)
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau"), col("new_u"), col("retained"), col("resurrected"),
        (col("prev_dau") - col("retained")).as("churned"))
  }

  private def q493OracleSql: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
          FROM events),
        first_d AS (SELECT user_id, min(day) AS first_day
          FROM ud GROUP BY 1),
        flags AS (SELECT u.user_id, u.day, f.first_day,
            CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS was_active
          FROM ud u
          JOIN first_d f ON f.user_id = u.user_id
          LEFT JOIN ud p ON p.user_id = u.user_id
            AND p.day = u.day - 1),
        flows AS (SELECT day, CAST(count(*) AS BIGINT) AS dau,
            CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)
              AS BIGINT) AS new_u,
            CAST(sum(was_active) AS BIGINT) AS retained,
            CAST(sum(CASE WHEN was_active = 0 AND day <> first_day
              THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
          FROM flags GROUP BY day)
        SELECT strftime(day, '%Y-%m-%d') AS day, dau, new_u, retained,
          resurrected,
          CAST(lag(dau) OVER (ORDER BY day) - retained AS BIGINT)
            AS churned
        FROM flows QUALIFY lag(dau) OVER (ORDER BY day) IS NOT NULL"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q399_viterbi" -> (q399Viterbi _),
    "q401_slope_one" -> (q401SlopeOne _),
    "q404_mase" -> (q404Mase _),
    "q406_dtw" -> (q406Dtw _),
    "q407_markov_entropy" -> (q407MarkovEntropy _),
    "q413_lis" -> (q413Lis _),
    "q414_rescaled_range" -> (q414RescaledRange _),
    "q368_isotonic_calibration" -> (q368IsotonicCalibration _),
    "q395_ewma" -> (q395Ewma _),
    "q396_herfindahl" -> (q396Herfindahl _),
    "q397_adamic_adar" -> (q397AdamicAdar _),
    "q436_rich_club" -> (q436RichClub _),
    "q445_granger_lite" -> (q445GrangerLite _),
    "q459_propensity_balance" -> (q459PropensityBalance _),
    "q469_churn_steady_state" -> (q469ChurnSteadyState _),
    "q481_customer_ltv" -> (q481CustomerLtv _),
    "q493_growth_accounting" -> (q493GrowthAccounting _),
    "q471_decile_lift" -> (q471DecileLift _),
    "q447_spc_control" -> (q447SpcControl _),
    "q437_katz_index" -> (q437KatzIndex _),
    "q441_epi_ratios" -> (q441EpiRatios _),
    "q382_brier_ece" -> (q382BrierEce _),
    "q386_sprt_monitor" -> (q386SprtMonitor _),
    "q387_mcc_threshold" -> (q387MccThreshold _),
    "q384_hist_emd" -> (q384HistEmd _),
    "q325_cohort_retention" -> (q325CohortRetention _),
    "q298_weekday_revenue" -> (q298WeekdayRevenue _),
    "q299_quantity_discount" -> (q299QuantityDiscount _),
    "q297_max_drawdown" -> (q297MaxDrawdown _),
    "q286_rfm_features" -> (q286RfmFeatures _),
    "q287_f1_optimizer" -> (q287F1Optimizer _),
    "q281_bootstrap_diff" -> (q281BootstrapDiff _),
    "q277_expected_shortfall" -> (q277ExpectedShortfall _),
    "q279_pr_curve" -> (q279PrCurve _),
    "q268_mde_power" -> (q268MdePower _),
    "q265_seasonal_residual" -> (q265SeasonalResidual _),
    "q266_welch_t" -> (q266WelchT _),
    "q264_kendall_tau" -> (q264KendallTau _),
    "q259_cuped" -> (q259Cuped _),
    "q256_theil_sen" -> (q256TheilSen _),
    "q258_simpson_audit" -> (q258SimpsonAudit _),
    "q255_loo_encoding" -> (q255LooEncoding _),
    "q252_holt_smoothing" -> (q252HoltSmoothing _),
    "q319_holt_backtest" -> (q319HoltBacktest _),
    "q247_chi2_independence" -> (q247Chi2Independence _),
    "q248_benford" -> (q248Benford _),
    "q242_wilson_rank" -> (q242WilsonRank _),
    "q240_bootstrap_ci" -> (q240BootstrapCi _),
    // differential pins the fixed 2-char suffix key explicitly (the
    // no-arg operator applies the q230SuffixLen deployment rule;
    // lengthened keys change the measured completeness, the operator's
    // own subject, so the pin is a test seed)
    "q230_blocking_eval" -> ((s: SparkSession, d: String) =>
      q230BlockingEval(s, d,
        t(s, d, "supplier").select(col("s_name").as("w")).distinct(),
        2)),
    "q210_decision_stump" -> (q210DecisionStump _),
    "q211_rolling_wau" -> (q211RollingWau _),
    "q212_rare_collapse" -> (q212RareCollapse _),
    "q208_srm_check" -> (q208SrmCheck _),
    "q209_stickiness" -> (q209Stickiness _),
    "q205_modularity" -> (q205Modularity _),
    "q206_conductance" -> (q206Conductance _),
    "q207_assortativity" -> (q207Assortativity _),
    "q202_hist_intersection" -> (q202HistIntersection _),
    "q203_target_encoding" -> (q203TargetEncoding _),
    "q204_negative_sampling" -> (q204NegativeSampling _),
    "q200_conversion_curve" -> (q200ConversionCurve _),
    "q201_lorenz_curve" -> (q201LorenzCurve _),
    "q195_calibration_bins" -> (q195CalibrationBins _),
    "q196_seasonal_profile" -> (q196SeasonalProfile _),
    "q197_session_paths" -> (q197SessionPaths _),
    "q198_changepoint" -> (q198Changepoint _),
    "q199_edge_jaccard" -> (q199EdgeJaccard _),
    "q191_reciprocal_nn" -> (q191ReciprocalNn _),
    "q192_decayed_engagement" -> (q192DecayedEngagement _),
    "q193_frequent_triples" -> (q193FrequentTriples _),
    "q194_typo_join" -> (q194TypoJoin _),
    "q356_typo_join_dl" -> (q356TypoJoinDl _),
    "q180_corr_matrix" -> (q180CorrMatrix _),
    "q181_kmv_sketch" -> (q181KmvSketch _),
    "q182_seq_pattern" -> (q182SeqPattern _),
    "q183_link_prediction" -> (q183LinkPrediction _),
    "q184_curriculum_order" -> (q184CurriculumOrder _),
    "q185_grid_join" -> (q185GridJoin _),
    "q186_dbscan_labels" -> (q186DbscanLabels _),
    "q187_auc_exact" -> (q187AucExact _),
    "q189_kmv_setops" -> (q189KmvSetOps _),
    "q190_anova_f" -> (q190AnovaF _))

  val oracleSql: Map[String, String] = Map(
    "q368_isotonic_calibration" -> q368OracleSql,
    "q399_viterbi" -> q399OracleSql,
    "q401_slope_one" -> q401OracleSql,
    "q404_mase" -> q404OracleSql,
    "q406_dtw" -> q406OracleSql,
    "q407_markov_entropy" -> q407OracleSql,
    "q413_lis" -> q413OracleSql,
    "q414_rescaled_range" -> q414OracleSql,
    "q395_ewma" -> q395OracleSql,
    "q396_herfindahl" -> q396OracleSql,
    "q397_adamic_adar" -> q397OracleSql,
    "q436_rich_club" -> q436OracleSql,
    "q445_granger_lite" -> q445OracleSql,
    "q459_propensity_balance" -> q459OracleSql,
    "q469_churn_steady_state" -> q469OracleSql,
    "q481_customer_ltv" -> q481OracleSql,
    "q493_growth_accounting" -> q493OracleSql,
    "q471_decile_lift" -> q471OracleSql,
    "q447_spc_control" -> q447OracleSql,
    "q437_katz_index" -> q437OracleSql,
    "q441_epi_ratios" -> q441OracleSql,
    "q382_brier_ece" -> q382OracleSql,
    "q386_sprt_monitor" -> q386OracleSql,
    "q387_mcc_threshold" -> q387OracleSql,
    "q384_hist_emd" -> q384OracleSql,
    "q325_cohort_retention" -> q325OracleSql,
    "q298_weekday_revenue" -> q298OracleSql,
    "q299_quantity_discount" -> q299OracleSql,
    "q297_max_drawdown" -> q297OracleSql,
    "q286_rfm_features" -> q286OracleSql,
    "q287_f1_optimizer" -> q287OracleSql,
    "q281_bootstrap_diff" -> q281OracleSql,
    "q277_expected_shortfall" -> q277OracleSql,
    "q279_pr_curve" -> q279OracleSql,
    "q268_mde_power" -> q268OracleSql,
    "q265_seasonal_residual" -> q265OracleSql,
    "q266_welch_t" -> q266OracleSql,
    "q264_kendall_tau" -> q264OracleSql,
    "q259_cuped" -> q259OracleSql,
    "q256_theil_sen" -> q256OracleSql,
    "q258_simpson_audit" -> q258OracleSql,
    "q255_loo_encoding" -> q255OracleSql,
    "q252_holt_smoothing" -> q252OracleSql,
    "q319_holt_backtest" -> q319OracleSql,
    "q247_chi2_independence" -> q247OracleSql,
    "q248_benford" -> q248OracleSql,
    "q242_wilson_rank" -> q242OracleSql,
    "q240_bootstrap_ci" -> q240OracleSql,
    "q230_blocking_eval" -> q230OracleSql,
    "q210_decision_stump" -> q210OracleSql,
    "q211_rolling_wau" -> q211OracleSql,
    "q212_rare_collapse" -> q212OracleSql,
    "q208_srm_check" -> q208OracleSql,
    "q209_stickiness" -> q209OracleSql,
    "q205_modularity" -> q205OracleSql,
    "q206_conductance" -> q206OracleSql,
    "q207_assortativity" -> q207OracleSql,
    "q202_hist_intersection" -> q202OracleSql,
    "q203_target_encoding" -> q203OracleSql,
    "q204_negative_sampling" -> q204OracleSql,
    "q200_conversion_curve" -> q200OracleSql,
    "q201_lorenz_curve" -> q201OracleSql,
    "q195_calibration_bins" -> q195OracleSql,
    "q196_seasonal_profile" -> q196OracleSql,
    "q197_session_paths" -> q197OracleSql,
    "q198_changepoint" -> q198OracleSql,
    "q199_edge_jaccard" -> q199OracleSql,
    "q191_reciprocal_nn" -> q191OracleSql,
    "q192_decayed_engagement" -> q192OracleSql,
    "q193_frequent_triples" -> q193OracleSql,
    "q194_typo_join" -> q194OracleSql,
    "q356_typo_join_dl" -> q356OracleSql,
    "q180_corr_matrix" -> q180OracleSql,
    "q181_kmv_sketch" -> q181OracleSql,
    "q182_seq_pattern" -> q182OracleSql,
    "q183_link_prediction" -> q183OracleSql,
    "q184_curriculum_order" -> q184OracleSql,
    "q185_grid_join" -> q185OracleSql,
    "q186_dbscan_labels" -> q186OracleSql,
    "q187_auc_exact" -> q187OracleSql,
    "q189_kmv_setops" -> q189OracleSql,
    "q190_anova_f" -> q190OracleSql)
}
