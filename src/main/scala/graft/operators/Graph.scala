package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlBridge

import graft.sources.Tables.{load => t}

/** Iterative graph analytics beyond connected components: PageRank by
  * power iteration (reference analog: the entity-importance ranking a
  * data platform derives from its FK graph; here, the nation-level trade
  * graph customer-nation → supplier-nation induced by orders/lineitem).
  *
  * Scale design: each iteration is ONE shuffle (contributions grouped by
  * destination) plus a broadcast-sized rank frame join; the edge list —
  * the 100 TB side — is scanned once per iteration from cache and is
  * never collected or re-derived. Every loop runs through [[Iterate]],
  * whose periodic checkpoint truncates the logical plan, which otherwise
  * grows exponentially with iteration count (planning OOMs before
  * execution does).
  *
  * Determinism design: ranks are FIXED-POINT BIGINTs (scale 10⁶), and
  * every operation is integer (`div`, `+`, `*`): integer addition
  * commutes exactly, so per-destination sums are identical regardless of
  * partitioning or engine — what makes a DuckDB differential possible
  * where float PageRank would drift by summation order.
  */
object Graph {

  /** Fixed-point scale: rank 1.0 ≡ 10⁶. */
  val PrScale = 1000000L

  /** Damping 0.85 as integer ops: contrib = (rank·85 div 100) div deg;
    * every node's floor base = scale·15 div 100. */
  val PrIters = 5

  /** Library API: integer-arithmetic PageRank over (id) nodes and
    * (src, dst) edges. Dangling-node mass is dropped (not
    * redistributed), the standard simplification; isolated nodes keep
    * the damping floor. Returns (id, rank_scaled). */
  def pageRank(nodes: DataFrame, edges: DataFrame,
      iters: Int = PrIters, scale: Long = PrScale): DataFrame = {
    val base = scale * 15L / 100L
    // out-degree rides along each edge row so the per-iteration join
    // count stays at one; cached — every iteration rescans this frame
    val ed = edges.join(edges.groupBy("src")
        .agg(count(lit(1)).as("pr_deg")), "src")
      .select("src", "dst", "pr_deg").cache()
    // plan growth per round is linear (each round references the
    // previous once), so a checkpoint every 4th round suffices; an
    // every-round one costs a job per round for no planning benefit
    val (ranks, _, _) = Iterate("pagerank",
        nodes.select(col("id"), lit(scale).as("rank_scaled")), iters,
        checkpointEvery = 4) { (ranks, _) =>
      val contribs = ed
        .join(ranks, ed("src") === ranks("id"))
        .select(col("dst").as("id"),
          expr(s"((rank_scaled * 85) div 100) div pr_deg").as("c"))
        .groupBy("id").agg(sum("c").as("m"))
      nodes.select(col("id"))
        .join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(base) + coalesce(col("m"), lit(0L))).as("rank_scaled"))
    }()
    ed.unpersist()
    ranks
  }

  /** q99 — PageRank over the nation trade graph: an edge src→dst for
    * every distinct (customer-nation, supplier-nation) trade relation in
    * lineitem⋈orders⋈customer⋈supplier. Dimensions broadcast; the
    * fact-fact join shuffles on the order key it already shares. */
  def q99PageRank(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer")
        .select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "supplier")
        .select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .distinct()
    val nodes = t(s, dir, "nation").select(col("n_nationkey").as("id"))
    pageRank(nodes, edges)
  }

  private def q99OracleSql: String = {
    val base = PrScale * 15L / 100L
    val iterCtes = (1 to PrIters).map { i =>
      s"""c$i AS (SELECT e.dst AS id,
            CAST(sum(((r.rank_scaled * 85) // 100) // d.deg) AS BIGINT)
              AS m
          FROM edges e JOIN deg d ON e.src = d.src
          JOIN r${i - 1} r ON r.id = e.src
          GROUP BY e.dst),
        r$i AS (SELECT n.id,
            $base + COALESCE(c.m, CAST(0 AS BIGINT)) AS rank_scaled
          FROM r${i - 1} n LEFT JOIN c$i c ON n.id = c.id)"""
    }.mkString(",\n        ")
    s"""WITH edges AS (SELECT DISTINCT c.c_nationkey AS src,
          s.s_nationkey AS dst
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey),
        deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges
                GROUP BY src),
        r0 AS (SELECT n_nationkey AS id,
               CAST($PrScale AS BIGINT) AS rank_scaled FROM nation),
        $iterCtes
        SELECT id, rank_scaled FROM r$PrIters"""
  }

  /** Library API: per-node triangle participation counts over an
    * undirected edge frame, by ORIENTED wedge enumeration: canonicalize
    * each edge to (u < v), join wedges a<b<c through the middle node,
    * close them against the edge set, and credit all three corners.
    * Orientation is the thing that makes this scale: every triangle is
    * enumerated exactly once (no 6× duplication, no symmetric-join
    * blowup), so the wedge join's output is bounded by paths through
    * LOW-id nodes rather than all 2-paths. At crawl-graph scale the
    * standard refinement is ordering by (degree, id) instead of raw id
    * — it bounds wedges by O(m^1.5) on any graph — which is this same
    * code with the orientation key swapped. Both joins are equi-joins
    * on node ids: one shuffle each, never an all-pairs comparison.
    *
    * Caching contract: the canonicalized edge frame is `.cache()`d for
    * its three consumers and stays pinned until the session drops it —
    * the Verify/Bench drivers `spark.catalog.clearCache()` between
    * queries; library callers composing many invocations must do the
    * same (or unpersist) or cached edge plans accumulate. */
  def triangleCounts(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val e = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .cache() // three consumers below; drivers clearCache between queries
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.v") === col("e2.u")) // a<b ⋈ b<c
      .join(e.as("e3"),
        col("e1.u") === col("e3.u") && col("e2.v") === col("e3.v"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"),
        col("e2.v").as("c"))
    val counts = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
    nodes.join(counts, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** q105 — triangle counting on the nation trade graph (the clustering
    * /community signal next to q63's components and q99's ranks: CC
    * says WHICH nodes connect, PageRank says how central, triangles say
    * how CLIQUISH each neighborhood is). Same edge derivation as q99,
    * made undirected. */
  def q105TriangleCount(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer")
        .select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "supplier")
        .select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
    val nodes = t(s, dir, "nation").select(col("n_nationkey").as("id"))
    triangleCounts(nodes, edges)
  }

  private def q105OracleSql: String =
    """WITH raw AS (SELECT DISTINCT c.c_nationkey AS src,
          s.s_nationkey AS dst
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey),
        e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
              FROM raw WHERE src <> dst),
        tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
                FROM e e1
                JOIN e e2 ON e1.v = e2.u
                JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v),
        x AS (SELECT unnest([a, b, c]) AS id FROM tri),
        cnt AS (SELECT id, CAST(count(*) AS BIGINT) AS n_triangles
                FROM x GROUP BY id)
        SELECT n.n_nationkey AS id,
               COALESCE(cnt.n_triangles, CAST(0 AS BIGINT)) AS n_triangles
        FROM nation n LEFT JOIN cnt ON n.n_nationkey = cnt.id"""

  /** Edge budget for q131's sparse reachability graph: the rarest
    * trade corridors by exact (count, src, dst) rank. */
  val RareEdges = 100

  /** Hop bound for q131's recursive expansion (UNION ALL recursion
    * regenerates already-seen nodes at deeper hops on cyclic graphs, so
    * the step must be explicitly depth-bounded). */
  val MaxHops = 8

  /** The rarity-ranked corridor selection of q131 (shared text up to
    * table naming; results, not text, are what the differential
    * compares). */
  private def corridorSql(lineitem: String, orders: String,
      customer: String, supplier: String,
      budget: Int = RareEdges): String =
    s"""SELECT src, dst FROM (
          SELECT src, dst, row_number() OVER (ORDER BY cnt, src, dst)
            AS rn
          FROM (SELECT CAST(c.c_nationkey AS BIGINT) AS src,
                  CAST(s.s_nationkey AS BIGINT) AS dst,
                  count(*) AS cnt
                FROM $lineitem l
                JOIN $orders o ON l.l_orderkey = o.o_orderkey
                JOIN $customer c ON o.o_custkey = c.c_custkey
                JOIN $supplier s ON l.l_suppkey = s.s_suppkey
                WHERE c.c_nationkey <> s.s_nationkey
                GROUP BY 1, 2) g) rk
        WHERE rn <= $budget"""

  private def q131RecursionSql(corridors: String): String =
    s"""WITH RECURSIVE r(id, hops) AS (
          SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
          UNION ALL
          SELECT e.dst, r.hops + CAST(1 AS BIGINT)
          FROM r JOIN $corridors e ON e.src = r.id
          WHERE r.hops < $MaxHops)
        SELECT id, min(hops) AS hops FROM r GROUP BY id"""

  /** q131 — min-hop REACHABILITY by recursive CTE (`WITH RECURSIVE`,
    * the SQL surface Spark gained in 4.0 — `UnionLoop` under the hood):
    * BFS from nation 0 over the $RareEdges rarest directed trade
    * corridors (rarity-ranked exactly, so the sparse graph is
    * deterministic at every SF), hop-bounded at $MaxHops, min(hops)
    * per reached node. The declared query twins byte-identical SQL to
    * DuckDB's recursive CTE — the point is the ENGINE feature parity,
    * the iterative-plan twin being q63/q99's checkpointed loops.
    *
    * Scale notes: each recursion level is one equi-join of the frontier
    * against the edge frame — the same per-round shuffle the q63
    * contraction pays, but WITHOUT per-round checkpoint control or
    * frontier dedup under UNION ALL (Spark's current recursion doesn't
    * allow DISTINCT on the step), so walk count can grow with path
    * multiplicity — the hop bound caps it. For unbounded-diameter
    * graphs at corpus scale, use [[Dedup.connectedComponentsStar]] /
    * [[pageRank]]-style explicit iteration instead; this declares the
    * SQL-recursion surface, rarity-bounded by construction.
    *
    * The corridor frame is MATERIALIZED (localCheckpoint) before the
    * recursion: Spark inlines non-recursive CTE members into the loop
    * body, so the 4-table corridor derivation would otherwise re-run
    * on every one of the $MaxHops iterations (measured 7.4 s → 0.6 s
    * at sf0.1) — the same per-iteration lineage discipline as
    * [[pageRank]], expressed once up front. */
  def q131Reachability(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("g131_lineitem")
    t(s, dir, "orders").createOrReplaceTempView("g131_orders")
    t(s, dir, "customer").createOrReplaceTempView("g131_customer")
    t(s, dir, "supplier").createOrReplaceTempView("g131_supplier")
    s.sql(corridorSql("g131_lineitem", "g131_orders",
        "g131_customer", "g131_supplier"))
      .localCheckpoint(true)
      .createOrReplaceTempView("g131_corridors")
    s.sql(q131RecursionSql("g131_corridors"))
  }

  private def q131OracleSql: String =
    s"""WITH RECURSIVE corridors AS (
          ${corridorSql("lineitem", "orders", "customer", "supplier")}),
        r(id, hops) AS (
          SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
          UNION ALL
          SELECT e.dst, r.hops + CAST(1 AS BIGINT)
          FROM r JOIN corridors e ON e.src = r.id
          WHERE r.hops < $MaxHops)
        SELECT id, min(hops) AS hops FROM r GROUP BY id"""

  /** Synchronous rounds for q147. Label propagation has no convergence
    * guarantee on bipartite-ish structures (labels can oscillate), so a
    * FIXED round count is part of the declared semantics, not a fuel
    * limit — both engines run exactly this many rounds. */
  val LpRounds = 4

  /** Edge budget for q147's community graph: sparser than q131's 100
    * (avg degree 8 on 25 nations collapses to one blob — measured);
    * 20 edges leave 11-13 communities at the tested SFs. */
  val LpEdges = 20

  /** Library API: deterministic synchronous LABEL PROPAGATION over an
    * undirected (u, v) edge frame — each round every node adopts the
    * most frequent label among its neighbors (ties → smallest label;
    * isolated nodes keep their own), starting from label = id. The
    * community-detection complement to [[Dedup.connectedComponentsStar]]
    * (which finds components, not communities) and [[pageRank]]
    * (centrality): LPA splits dense regions INSIDE one component.
    *
    * Scale shape per round: one shuffle to census neighbor labels
    * (groupBy (node, label), partial-aggregated map-side) and one
    * window cut for the per-node argmax — both keyed on node id; the
    * edge frame is cached once and `localCheckpoint` truncates the
    * label lineage every round (the q99 iterative discipline). The
    * deterministic (count DESC, label ASC) tie-break is what makes a
    * cross-engine differential possible where textbook async LPA —
    * update order-dependent — would diverge run to run. */
  def labelPropagation(nodes: DataFrame, und: DataFrame,
      rounds: Int = LpRounds): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bi = und.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(und.select(col("v").as("src"), col("u").as("dst")))
      .cache() // one consumer per round; drivers clearCache between queries
    val w = Window.partitionBy("id")
      .orderBy(col("cnt").desc, col("lbl").asc)
    val (lbl, _, _) = Iterate("lpa",
        nodes.select(col("id"), col("id").as("lbl")), rounds,
        checkpointEvery = 2) { (lbl, _) =>
      val mode = bi
        .join(lbl.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("id"), col("lbl").as("new_lbl"))
      lbl.join(mode, Seq("id"), "left")
        .select(col("id"), coalesce(col("new_lbl"), col("lbl")).as("lbl"))
    }()
    bi.unpersist()
    lbl
  }

  /** q147 — label-propagation COMMUNITIES over the rare-corridor graph
    * (q131's rarity ranking at the tighter $LpEdges-edge budget —
    * sparse enough for real community structure where the dense full
    * trade graph is one blob), undirected, $LpRounds synchronous
    * rounds. Declared output = every nation's final label. */
  def q147LabelPropagation(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("g147_lineitem")
    t(s, dir, "orders").createOrReplaceTempView("g147_orders")
    t(s, dir, "customer").createOrReplaceTempView("g147_customer")
    t(s, dir, "supplier").createOrReplaceTempView("g147_supplier")
    val und = s.sql(s"""SELECT DISTINCT least(src, dst) AS u,
          greatest(src, dst) AS v
        FROM (${corridorSql("g147_lineitem", "g147_orders",
          "g147_customer", "g147_supplier", LpEdges)})
        WHERE src <> dst""")
      .localCheckpoint(true) // 4-table derivation; one materialization
    val nodes = t(s, dir, "nation")
      .select(col("n_nationkey").cast("bigint").as("id"))
    labelPropagation(nodes, und)
  }

  private def q147OracleSql: String = {
    val roundCtes = (1 to LpRounds).map { r =>
      s"""c$r AS (SELECT e.dst AS id, l.lbl, count(*) AS cnt
          FROM bi e JOIN l${r - 1} l ON l.id = e.src
          GROUP BY e.dst, l.lbl),
        p$r AS (SELECT id, lbl FROM (
            SELECT id, lbl, row_number() OVER (
                PARTITION BY id ORDER BY cnt DESC, lbl) AS rn
            FROM c$r) WHERE rn = 1),
        l$r AS MATERIALIZED (SELECT n.id, COALESCE(p.lbl, n.lbl) AS lbl
          FROM l${r - 1} n LEFT JOIN p$r p ON n.id = p.id)"""
    }.mkString(",\n        ")
    s"""WITH und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
            greatest(src, dst) AS v
          FROM (${corridorSql("lineitem", "orders",
            "customer", "supplier", LpEdges)})
          WHERE src <> dst),
        bi AS (SELECT u AS src, v AS dst FROM und
               UNION ALL SELECT v, u FROM und),
        l0 AS (SELECT CAST(n_nationkey AS BIGINT) AS id,
               CAST(n_nationkey AS BIGINT) AS lbl FROM nation),
        $roundCtes
        SELECT id, lbl FROM l$LpRounds"""
  }

  /** Core order for q155 (k=4 keeps a non-trivial 17–21-node core of
    * the 25 nations at the tested SFs; k=2 keeps everything on the
    * dense 100-edge graph). */
  val KCoreK = 4

  /** Synchronous peel rounds for q155. Peeling is MONOTONE (the active
    * set only shrinks) and CONFLUENT (the k-core is unique regardless of
    * removal order), so once the fixpoint is reached every further round
    * is a no-op — a fixed round count that exceeds the convergence point
    * computes the exact k-core, and both engines run the same count.
    * Worst case on an n-node graph is O(n) rounds (a path peels from
    * the ends inward); 10 covers the 25-node corridor graphs with the
    * measured fixpoint at ≤ 9 at every SF (GraphSpec pins round-9 ==
    * round-10 stability). */
  val KCoreRounds = 10

  /** Library API: the k-CORE of an undirected (u, v) edge frame by
    * synchronous peeling — each round drops every node whose degree
    * among still-active nodes is < k; what survives `rounds` rounds is
    * the maximal subgraph with minimum degree ≥ k (the density measure
    * next to q105's triangles: triangles score neighborhoods, the
    * k-core EXTRACTS the dense region — the standard graph-cleaning
    * pass before community detection at crawl scale).
    *
    * Scale shape per round: degrees come from TWO semi-joins of the
    * cached edge frame against the active set (src side, then dst side)
    * plus one node-keyed count — all equi-joins on node ids; at scale
    * the active set is the broadcast side once peeling bites.
    * The active set is checkpointed every round (the q99 discipline).
    * Returns (id, core_deg) for core members. */
  def kCore(und: DataFrame, k: Int = KCoreK,
      rounds: Int = KCoreRounds): DataFrame = {
    val bi = und.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(und.select(col("v").as("src"), col("u").as("dst")))
      .cache() // reused every round; drivers clearCache between queries
    def activeDegrees(active: DataFrame): DataFrame = bi
      .join(active.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(active.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      .groupBy("src").agg(count(lit(1)).as("deg"))
    // Early fixed-point exit (round 13): the active set SHRINKS
    // monotonically (a round-t+1 survivor needs an active edge, so it
    // was active at t), hence equal cardinality across a round proves
    // the set is unchanged — and an unchanged set makes every later
    // round the identity, so exiting early returns EXACTLY the
    // declared `rounds`-round result. The cardinality rides each
    // round's checkpoint job; on converged graphs this turns `rounds`
    // lazy-chained peels into the 2-4 that do work — the same saving at
    // 100 TB, where each skipped round is a real pass.
    val (active, _, _) = Iterate("kcore",
        bi.select(col("src").as("id")).distinct(), rounds) { (active, _) =>
      activeDegrees(active).filter(col("deg") >= k)
        .select(col("src").as("id"))
    }(r => r.nextCount == r.prevCount)
    val core = activeDegrees(active)
      .select(col("src").as("id"), col("deg").cast("bigint").as("core_deg"))
    bi.unpersist()
    core
  }

  /** q155 — k-core extraction over the full 100-edge rare-corridor
    * graph (q131's selection, undirected): nations surviving the
    * [[KCoreK]]-core peel with their within-core degree. */
  def q155KCore(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("g155_lineitem")
    t(s, dir, "orders").createOrReplaceTempView("g155_orders")
    t(s, dir, "customer").createOrReplaceTempView("g155_customer")
    t(s, dir, "supplier").createOrReplaceTempView("g155_supplier")
    val und = s.sql(s"""SELECT DISTINCT least(src, dst) AS u,
          greatest(src, dst) AS v
        FROM (${corridorSql("g155_lineitem", "g155_orders",
          "g155_customer", "g155_supplier")})
        WHERE src <> dst""")
      .localCheckpoint(true) // 4-table derivation; one materialization
    kCore(und)
  }

  private def q155OracleSql: String = {
    val roundCtes = (1 to KCoreRounds).map { r =>
      s"""d$r AS (SELECT e.src AS id, count(*) AS deg FROM bi e
            JOIN a${r - 1} x ON e.src = x.id
            JOIN a${r - 1} y ON e.dst = y.id
          GROUP BY e.src),
        a$r AS (SELECT id FROM d$r WHERE deg >= $KCoreK)"""
    }.mkString(",\n        ")
    s"""WITH und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
            greatest(src, dst) AS v
          FROM (${corridorSql("lineitem", "orders",
            "customer", "supplier")})
          WHERE src <> dst),
        bi AS MATERIALIZED (SELECT u AS src, v AS dst FROM und
               UNION ALL SELECT v, u FROM und),
        a0 AS (SELECT DISTINCT src AS id FROM bi),
        $roundCtes
        SELECT e.src AS id, CAST(count(*) AS BIGINT) AS core_deg
        FROM bi e
        JOIN a$KCoreRounds x ON e.src = x.id
        JOIN a$KCoreRounds y ON e.dst = y.id
        GROUP BY e.src"""
  }

  // ------------------------------------------------------------ q234

  /** Hop budget for q234: min cost over paths of ≤ 8 edges — the fixed
    * round count is part of the declared semantics (q131's MaxHops
    * discipline), which is what lets a synchronous relaxation and a
    * recursive-CTE oracle agree exactly. */
  val SsspHops = 8

  /** Weighted corridor graph for q234: q131's rarity-ranked corridor
    * edges, each carrying the integer scarcity cost
    * w = ceil(max_cnt / cnt) — the busiest corridor costs 1, rare ones
    * proportionally more. `intDiv` parameterizes the engine's integer
    * division spelling (`div` Spark, `//` DuckDB). */
  private def weightedCorridorSql(lineitem: String, orders: String,
      customer: String, supplier: String, intDiv: String,
      budget: Int = RareEdges): String =
    s"""SELECT src, dst, (mx + cnt - 1) $intDiv cnt AS w FROM (
          SELECT src, dst, cnt,
            row_number() OVER (ORDER BY cnt, src, dst) AS rn,
            max(cnt) OVER () AS mx
          FROM (SELECT CAST(c.c_nationkey AS BIGINT) AS src,
                  CAST(s.s_nationkey AS BIGINT) AS dst,
                  count(*) AS cnt
                FROM $lineitem l
                JOIN $orders o ON l.l_orderkey = o.o_orderkey
                JOIN $customer c ON o.o_custkey = c.c_custkey
                JOIN $supplier s ON l.l_suppkey = s.s_suppkey
                WHERE c.c_nationkey <> s.s_nationkey
                GROUP BY 1, 2) g) rk
        WHERE rn <= $budget"""

  /** q234 — HOP-BOUNDED WEIGHTED SHORTEST PATHS (single-source
    * Bellman-Ford, the weighted completion of q131's min-hop BFS): min
    * total corridor cost from nation 0 over paths of ≤ [[SsspHops]]
    * edges. Weights are exact integers (scarcity cost of the corridor
    * census), so relaxation minima are engine-exact where float edge
    * weights would tie-break on rounding.
    *
    * Spark side: synchronous relaxation — exactly [[SsspHops]] rounds
    * of dist' = min(dist, min over incoming (dist[src] + w)), which
    * computes the ≤-k-edge shortest path by induction. Each round is
    * ONE dst-keyed shuffle (relax + min) against the cached edge frame,
    * `localCheckpoint` truncating lineage (the q99/q147 iterative
    * discipline). At 100 TB the edge frame is the partitioned side and
    * the frontier-sized dist frame broadcasts — same shape as q131.
    *
    * Oracle: recursive CTE enumerating cost-accumulating walks to hop
    * < [[SsspHops]], then min per node — the same semantics by
    * exhaustion (bounded: walk count ≤ deg^hops on the domain-sized
    * corridor graph). */
  def q234Sssp(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("g234_lineitem")
    t(s, dir, "orders").createOrReplaceTempView("g234_orders")
    t(s, dir, "customer").createOrReplaceTempView("g234_customer")
    t(s, dir, "supplier").createOrReplaceTempView("g234_supplier")
    val edges = s.sql(weightedCorridorSql("g234_lineitem", "g234_orders",
        "g234_customer", "g234_supplier", "div"))
      .localCheckpoint(true)
    Iterate("sssp", edges.sparkSession
        .range(1).select(lit(0L).as("id"), lit(0L).as("cost")),
        SsspHops) { (dist, _) =>
      val relaxed = edges
        .join(dist, edges("src") === dist("id"))
        .select(col("dst").as("id"), (col("cost") + col("w")).as("cost"))
        .groupBy("id").agg(min("cost").as("cost"))
      dist.unionByName(relaxed)
        .groupBy("id").agg(min("cost").as("cost"))
    }()._1
  }

  private def q234OracleSql: String =
    s"""WITH RECURSIVE wc AS (
          ${weightedCorridorSql("lineitem", "orders", "customer",
            "supplier", "//")}),
        r(id, cost, hops) AS (
          SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), 0
          UNION ALL
          SELECT e.dst, r.cost + e.w, r.hops + 1
          FROM r JOIN wc e ON e.src = r.id
          WHERE r.hops < $SsspHops)
        SELECT id, CAST(min(cost) AS BIGINT) AS cost
        FROM r GROUP BY id"""

  /** q261 — 2-HOP HARMONIC CENTRALITY over the rare-corridor graph
    * (the bounded-radius centrality a web/crawl pipeline actually
    * computes: full harmonic centrality needs all-pairs distances —
    * HyperBall approximates it with HLL counters precisely because
    * exact BFS from every node is unaffordable; the EXACT 2-hop
    * truncation is the standard first rung, and this is it):
    * score = Σ_{d(u,v)≤2} 1/d(u,v) over q131's undirected 100-edge
    * corridor selection, released ×2 to stay integral —
    * harmonic_x2 = 2·|N₁| + |N₂| with N₂ the nodes at distance
    * EXACTLY 2 (two-step reachable, minus direct neighbors, minus
    * self). Per node: degree, |N₂|, the score.
    *
    * Scale shape: N₂ is one adjacency self-join (wedge volume Σdeg² —
    * bounded here by the corridor budget, and degree-capped at crawl
    * scale exactly like q183's wedges) followed by a distinct and an
    * anti-join against the edge set; every frame is edge-list-sized.
    * No iteration — radius 2 is the whole point. */
  def q261Harmonic2Hop(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("g261_lineitem")
    t(s, dir, "orders").createOrReplaceTempView("g261_orders")
    t(s, dir, "customer").createOrReplaceTempView("g261_customer")
    t(s, dir, "supplier").createOrReplaceTempView("g261_supplier")
    val und = s.sql(s"""SELECT DISTINCT least(src, dst) AS u,
          greatest(src, dst) AS v
        FROM (${corridorSql("g261_lineitem", "g261_orders",
          "g261_customer", "g261_supplier")})
        WHERE src <> dst""")
      .localCheckpoint(true)
    val bi = und.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(und.select(col("v").as("src"), col("u").as("dst")))
    val deg = bi.groupBy("src").agg(count(lit(1)).as("n1"))
    val two = bi.as("a")
      .join(bi.select(col("src").as("mid"), col("dst").as("w")).as("b"),
        col("dst") === col("mid"))
      .filter(col("w") =!= col("src"))
      .select(col("src"), col("w")).distinct()
      .join(bi.select(col("src").as("es"), col("dst").as("ed")),
        col("src") === col("es") && col("w") === col("ed"), "left_anti")
      .groupBy("src").agg(count(lit(1)).as("n2"))
    deg.join(two, Seq("src"), "left")
      .na.fill(0L, Seq("n2"))
      .select(col("src").as("id"), col("n1"), col("n2"),
        (col("n1") * 2L + col("n2")).as("harmonic_x2"))
  }

  private def q261OracleSql: String =
    s"""WITH und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
            greatest(src, dst) AS v
          FROM (${corridorSql("lineitem", "orders",
            "customer", "supplier")})
          WHERE src <> dst),
        bi AS MATERIALIZED (SELECT u AS src, v AS dst FROM und
               UNION ALL SELECT v, u FROM und),
        deg AS (SELECT src, CAST(count(*) AS BIGINT) AS n1
          FROM bi GROUP BY 1),
        two AS (SELECT a.src, CAST(count(*) AS BIGINT) AS n2
          FROM (SELECT DISTINCT a.src, b.dst AS w
                FROM bi a JOIN bi b ON a.dst = b.src
                WHERE b.dst <> a.src) a
          WHERE NOT EXISTS (SELECT 1 FROM bi e
            WHERE e.src = a.src AND e.dst = a.w)
          GROUP BY a.src)
        SELECT deg.src AS id, deg.n1, coalesce(two.n2, 0) AS n2,
          deg.n1 * 2 + coalesce(two.n2, 0) AS harmonic_x2
        FROM deg LEFT JOIN two ON two.src = deg.src"""

  /** q282 — LOCAL CLUSTERING COEFFICIENTS over the rare-corridor
    * graph (q105 counts the graph's triangles; the LOCAL coefficient
    * says per node how clique-like its neighborhood is — the feature
    * community detection, spam/bot scoring, and link prediction all
    * consume: cc = 2T_v / (deg·(deg−1)), 1 = my neighbors all know
    * each other, 0 = I'm a pure hub): per node the degree, its
    * incident triangle count from centered wedges (neighbor pairs
    * v₁<v₂ of the center that are themselves an edge), and cc in
    * exact ppm (deg < 2 → 0 by convention).
    *
    * Scale shape: centered wedges are one adjacency self-join
    * (Σdeg², corridor-budget-bounded; degree-capped at crawl scale
    * like q183/q261) semi-joined against the canonical edge list;
    * everything edge-list-sized, no iteration. */
  def q282ClusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("g282_lineitem")
    t(s, dir, "orders").createOrReplaceTempView("g282_orders")
    t(s, dir, "customer").createOrReplaceTempView("g282_customer")
    t(s, dir, "supplier").createOrReplaceTempView("g282_supplier")
    val und = s.sql(s"""SELECT DISTINCT least(src, dst) AS u,
          greatest(src, dst) AS v
        FROM (${corridorSql("g282_lineitem", "g282_orders",
          "g282_customer", "g282_supplier")})
        WHERE src <> dst""")
      .localCheckpoint(true)
    val bi = und.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(und.select(col("v").as("src"), col("u").as("dst")))
    val deg = bi.groupBy("src").agg(count(lit(1)).as("deg"))
    val tri = bi.select(col("src").as("ctr"), col("dst").as("v1"))
      .join(bi.select(col("src").as("ctr2"), col("dst").as("v2")),
        col("ctr") === col("ctr2") && col("v1") < col("v2"))
      .join(und.select(col("u").as("eu"), col("v").as("ev")),
        col("v1") === col("eu") && col("v2") === col("ev"),
        "left_semi")
      .groupBy("ctr").agg(count(lit(1)).as("tri"))
    deg.join(tri, col("src") === col("ctr"), "left")
      .na.fill(0L, Seq("tri"))
      .select(col("src").as("id"), col("deg"), col("tri"),
        expr("""CASE WHEN deg < 2 THEN CAST(0 AS BIGINT)
             ELSE 2 * tri * 1000000 div (deg * (deg - 1)) END""")
          .as("cc_ppm"))
  }

  private def q282OracleSql: String =
    s"""WITH und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
            greatest(src, dst) AS v
          FROM (${corridorSql("lineitem", "orders",
            "customer", "supplier")})
          WHERE src <> dst),
        bi AS MATERIALIZED (SELECT u AS src, v AS dst FROM und
               UNION ALL SELECT v, u FROM und),
        deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
          FROM bi GROUP BY 1),
        tri AS (SELECT a.src AS ctr, CAST(count(*) AS BIGINT) AS tri
          FROM bi a JOIN bi b
            ON a.src = b.src AND a.dst < b.dst
          WHERE EXISTS (SELECT 1 FROM und e
            WHERE e.u = a.dst AND e.v = b.dst)
          GROUP BY a.src)
        SELECT deg.src AS id, deg.deg, coalesce(tri.tri, 0) AS tri,
          CASE WHEN deg.deg < 2 THEN CAST(0 AS BIGINT)
               ELSE 2 * coalesce(tri.tri, 0) * 1000000
                 // (deg.deg * (deg.deg - 1)) END AS cc_ppm
        FROM deg LEFT JOIN tri ON tri.ctr = deg.src"""

  // ------------------------------------------------------------ q365

  /** q365 — HITS HUBS & AUTHORITIES over the bipartite customer↔part
    * purchase graph (Kleinberg's mutual-reinforcement ranking: a part
    * is authoritative when BROAD buyers buy it, a customer is a hub
    * when it buys authoritative parts — the recommender-bootstrap
    * signal PageRank (q99) can't express because importance must flow
    * across the two node classes, not within one). Two full unscaled
    * iterations, ALL INTEGER: a₁(p) = deg(p), h₁(c) = Σ_{p∈N(c)} a₁,
    * a₂(p) = Σ_{c∈N(p)} h₁, h₂(c) = Σ_{p∈N(c)} a₂ — on a bipartite
    * graph the unnormalized iterate differs from normalized HITS only
    * by a global factor, so the integer fixed-order ranking IS the
    * HITS ranking at this depth, with no float normalization to drift
    * cross-engine (q99's fixed-point discipline, taken further: exact).
    * Released: every node with its class and depth-2 score.
    *
    * Scale shape: edges = one orderkey-co-partitioned fact join +
    * distinct (one exchange); each iteration is one key-partitioned
    * join + map-side-combined sum — four p/c-keyed shuffles total,
    * edges cached and never re-derived. Magnitude: scores grow one
    * degree factor per iteration (h₂ ~ d_c²·d_p²); BIGINT-safe through
    * ~sf100, the aggregate is DECIMAL(38,0)-widened and narrowed on
    * release so an overflow would surface as a cast error, not wrap. */
  def q365Hits(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey").as("p"))
      .join(t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("c")),
        col("l_orderkey") === col("o_orderkey"))
      .select("c", "p").distinct().cache()
    val a1 = edges.groupBy("p").agg(count(lit(1)).as("s1"))
    val h1 = edges.join(a1, "p").groupBy("c")
      .agg(sum("s1").as("s1"))
    val a2 = edges.join(h1, "c").groupBy("p")
      .agg(sum(col("s1").cast("decimal(38,0)")).cast("bigint").as("s2"))
    val h2 = edges.join(a2, "p").groupBy("c")
      .agg(sum(col("s2").cast("decimal(38,0)")).cast("bigint").as("s2"))
    val out = a2.select(lit("part").as("node_type"),
        col("p").as("node_id"), col("s2").as("score"))
      .unionByName(h2.select(lit("cust").as("node_type"),
        col("c").as("node_id"), col("s2").as("score")))
    out
  }

  private def q365OracleSql: String =
    """WITH edges AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        a1 AS (SELECT p, CAST(count(*) AS BIGINT) AS s1
          FROM edges GROUP BY p),
        h1 AS (SELECT c, CAST(sum(s1) AS BIGINT) AS s1
          FROM edges JOIN a1 USING (p) GROUP BY c),
        a2 AS (SELECT p, CAST(sum(s1) AS BIGINT) AS s2
          FROM edges JOIN h1 USING (c) GROUP BY p),
        h2 AS (SELECT c, CAST(sum(s2) AS BIGINT) AS s2
          FROM edges JOIN a2 USING (p) GROUP BY c)
        SELECT 'part' AS node_type, p AS node_id, s2 AS score FROM a2
        UNION ALL
        SELECT 'cust' AS node_type, c AS node_id, s2 AS score FROM h2"""

  // ------------------------------------------------------------ q385

  /** q385 seed slice: one brand's parts (the "customers who bought
    * items like THESE" query shape; ~1% of parts at every SF). */
  val PprSeedBrand = "Brand#7"

  /** Library API: PERSONALIZED PageRank — the teleport mass returns to
    * a SEED SET instead of every node (Haveliwala's topic-sensitive
    * variant), same integer fixed-point discipline as [[pageRank]]:
    * rank₀ = scale on seeds / 0 elsewhere, each round adds the 15%
    * restart ONLY on seeds, contributions are the same
    * (rank·85 div 100) div deg flow. `nodes` must carry {id,
    * is_seed}. Scores concentrate near the seeds — the locality that
    * makes PPR the recommendation/local-community primitive a global
    * rank can't express (q99 ranks the whole graph; PPR ranks it FROM
    * somewhere). */
  def personalizedPageRank(nodes: DataFrame, edges: DataFrame,
      iters: Int = PrIters, scale: Long = PrScale): DataFrame = {
    val base = scale * 15L / 100L
    // ADJACENCY-LIST edge frame (round 12, second rewrite of verdict
    // r11 #2): one groupBy turns the edge list into |V| rows of
    // {src, nbrs[], deg}. Rationale: a hash join must STREAM its big
    // side, so with flat edges every delta round re-scanned the full
    // cached |E| frame (~300M rows at sf10) even when the delta held
    // ten vertices; grouped, each round scans |V| rows (~2M) and
    // explodes ONLY delta-touched edges — the Pregel message form as
    // a DataFrame. The per-destination sum is the same associative/
    // commutative integer sum over the same dc terms, so the
    // trajectory stays bit-identical to the dense recurrence (list
    // order inside nbrs cannot matter). Memory: Σdeg longs ≈ |E|·8 B,
    // smaller than the flat frame it replaces.
    val adj = edges.groupBy("src")
      .agg(collect_list(col("dst")).as("nbrs"),
        count(lit(1)).as("pr_deg")).cache()
    // ACTIVE-SET (delta) iteration — round 12's rewrite of the dense
    // fixed point. Dense recurrence: R_{t+1}(v) = sb(v) +
    // Σ_{u→v} f(R_t(u), deg_u) with f(r, d) = ((r·85) div 100) div d.
    // Since f depends only on the SOURCE rank, an unchanged source
    // contributes exactly what it did last round, so
    //   R_{t+1}(v) = R_t(v) + Σ_{u→v, R_t(u) ≠ R_{t-1}(u)}
    //                  (f(R_t(u)) − f(R_{t-1}(u)))
    // — integer addition is associative/commutative, so the trajectory
    // is BIT-IDENTICAL to the dense form (GraphSpec replays it; the
    // declared oracle is still the dense CTE chain). What changes is
    // the WORK: each round joins edges against only the CHANGED
    // vertices (the delta frame — seeds' expanding neighborhood early,
    // a shrinking set once the truncating integer divisions reach
    // their fixed point), and an EMPTY delta proves every later round
    // is a no-op, so the loop exits early with the exact final ranks.
    // At sf10 this is what turns 5 dense edge-shuffles into a couple
    // of frontier-sized ones (verdict r11 task #2).
    lazy val nodeBase = nodes.select(col("id"),
      when(col("is_seed"), lit(base)).otherwise(lit(0L)).as("sb"),
      when(col("is_seed"), lit(scale)).otherwise(lit(0L)).as("r0"))
      .localCheckpoint(true)
    // per-source contribution CHANGE, fanned out to neighbors via
    // explode, summed map-side like the dense form's contribs; a source
    // whose TRUNCATED contribution didn't move (dc = 0) sends nothing —
    // dropping exact-zero terms from an integer sum is exact, and the
    // truncating div makes such sources common late
    def messages(delta: DataFrame): DataFrame = adj
      .join(delta, adj("src") === delta("id"))
      .select(col("nbrs"),
        (expr(s"((new_r * 85) div 100) div pr_deg") -
          expr(s"((old_r * 85) div 100) div pr_deg")).as("dc"))
      .filter(col("dc") =!= 0L)
      .select(explode(col("nbrs")).as("id"), col("dc"))
      .groupBy("id").agg(sum("dc").as("dm"))
      .filter(col("dm") =!= 0L)
    // Δ₁ compares R₁ against R₀ (the one round where "received a nonzero
    // delta" ≠ "changed": sb replaces R₀ rather than adding to it); lazy
    // over the checkpointed R₁, consumed once by round 2's message join
    def changedFromR0(r1: DataFrame): DataFrame = r1
      .filter(col("rank_scaled") =!= col("r0"))
      .select(col("id"), col("r0").as("old_r"), col("rank_scaled").as("new_r"))
    // Iterate's state is the RANKS frame (round 1 keeps r0 for Δ₁). Each
    // later round also checkpoints the message frame dm, whose count is
    // the exit test; made the state, dm would move every ranks
    // checkpoint into the following round or cost a job, so this round
    // body keeps its own dm checkpoint and takes only its labels and its
    // exit from Iterate.
    var delta: DataFrame = null
    var frontierEmpty = false
    // Δ₀ versus a virtual all-zero prior: f(0) = 0, so old_r = 0 makes
    // round 1's delta sum equal the full Σ f(R₀) — only seeds qualify;
    // with no seed every round is the identity, and round 1 finds R₁ = R₀
    val (ranks, _, _) = Iterate("ppr", nodeBase.filter(col("r0") =!= 0L)
        .select(col("id"), lit(0L).as("old_r"), col("r0").as("new_r")),
        iters) { (prev, round) =>
      if (round == 1)
        // R₁ = sb + Σ f(R₀), with r0 kept for Δ₁
        nodeBase.join(messages(prev), Seq("id"), "left")
          .select(col("id"), col("r0"),
            (col("sb") + coalesce(col("dm"), lit(0L))).as("rank_scaled"))
      else {
        val ranks =
          if (round == 2) {
            delta = changedFromR0(prev)
            prev.select(col("id"), col("rank_scaled"))
          } else prev
        // rounds ≥ 2: R_{t+1} − R_t = dm exactly, so the nonzero-dm
        // rows ARE the next delta — derived from the (small) dm frame
        // joined back to ranks, never a full-frame compare. dm is
        // checkpointed once per round because it feeds both the delta
        // and the new ranks (un-checkpointed, the message join ran
        // twice), and ranks every round: a lazy 4-round ranks chain
        // re-walked every prior dm (round 4 cost 4.9 s of 10.5 s).
        // The count rides the dm checkpoint: |delta| == |dmC| exactly
        // (the inner join on ranks hits every dm id); delta stays LAZY,
        // one broadcast join consumed once by the next message join
        val (dmC, dmCnt) = SqlBridge.localCheckpointWithCount(messages(delta))
        frontierEmpty = dmCnt == 0L
        delta = dmC.join(ranks, Seq("id"))
          .select(col("id"), col("rank_scaled").as("old_r"),
            (col("rank_scaled") + col("dm")).as("new_r"))
        ranks.join(dmC, Seq("id"), "left")
          .select(col("id"),
            (col("rank_scaled") + coalesce(col("dm"), lit(0L)))
              .as("rank_scaled"))
      }
    } { r =>
      // an empty frontier proves every later round is a no-op
      if (r.round == 1) changedFromR0(r.next).isEmpty else frontierEmpty
    }
    adj.unpersist()
    ranks.select(col("id"), col("rank_scaled"))
  }

  /** q385 — PERSONALIZED PAGERANK over the part co-purchase graph,
    * seeded at one brand's parts ("parts bought alongside THIS
    * catalog slice" — the related-items recommendation primitive, and
    * the LOCAL twin closing the rank family: q99 ranks globally, q365
    * ranks across the bipartite classes, PPR ranks FROM a seed set,
    * which is what a recommender or local-community query actually
    * asks). Edges: distinct ordered part pairs co-occurring in an
    * order (both directions — the graph is symmetric); five integer
    * fixed-point rounds per [[personalizedPageRank]], zero floats, so
    * the trajectory is bit-exact cross-engine. Released: every part
    * with nonzero score plus its seed flag (zero rows pruned — at
    * 100 TB the nonzero set is the seeds' neighborhood, output-bound,
    * while "all parts" would be catalog-scale).
    *
    * Scale shape: the pair frame is one orderkey-keyed self-join
    * (output bounded by Σ lines(o)² with Poisson-bounded order width —
    * the q142 co-occurrence law, measured linear there), deduped in
    * canonical orientation and mirrored; the rounds run on the cached
    * ADJACENCY frame (|parts| rows), so each round scans |V|, not |E|,
    * and explodes only delta-touched edges; |parts|-bounded rank
    * frame. */
  def q385PersonalizedPagerank(s: SparkSession, dir: String)
      : DataFrame = {
    val li = t(s, dir, "lineitem").select("l_orderkey", "l_partkey")
    // the graph is symmetric, so dedup CANONICAL (src < dst) pairs and
    // mirror afterwards — the distinct's exchange carries half the
    // rows of the both-directions form for the identical edge set
    val und = li.join(li.select(col("l_orderkey").as("ok2"),
        col("l_partkey").as("p2")),
        col("l_orderkey") === col("ok2"))
      .filter(col("l_partkey") < col("p2"))
      .select(col("l_partkey").as("src"), col("p2").as("dst"))
      .distinct()
    val pairs = und.unionByName(
      und.select(col("dst").as("src"), col("src").as("dst")))
    val nodes = t(s, dir, "part")
      .select(col("p_partkey").as("id"),
        (col("p_brand") === PprSeedBrand).as("is_seed"))
    personalizedPageRank(nodes, pairs)
      .filter(col("rank_scaled") > 0L)
      .join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"),
          (col("p_brand") === PprSeedBrand).as("is_seed"))),
        col("id") === col("p_partkey"))
      .select(col("id").as("p_partkey"), col("is_seed"),
        col("rank_scaled"))
  }

  private def q385OracleSql: String = {
    val base = PrScale * 15L / 100L
    val iterCtes = (1 to PrIters).map { i =>
      s"""c$i AS (SELECT e.dst AS id,
            CAST(sum(((r.rank_scaled * 85) // 100) // d.deg) AS BIGINT)
              AS m
          FROM edges e JOIN deg d ON e.src = d.src
          JOIN r${i - 1} r ON r.id = e.src
          GROUP BY e.dst),
        r$i AS (SELECT n.id, n.sb,
            n.sb + COALESCE(c.m, CAST(0 AS BIGINT)) AS rank_scaled
          FROM r${i - 1} n LEFT JOIN c$i c ON n.id = c.id)"""
    }.mkString(",\n        ")
    s"""WITH pairs0 AS (SELECT DISTINCT a.l_partkey AS src,
          b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey
          AND a.l_partkey <> b.l_partkey),
        edges AS (SELECT src, dst FROM pairs0),
        deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges
                GROUP BY src),
        r0 AS (SELECT p_partkey AS id,
               CAST(CASE WHEN p_brand = '$PprSeedBrand'
                 THEN $base ELSE 0 END AS BIGINT) AS sb,
               CAST(CASE WHEN p_brand = '$PprSeedBrand'
                 THEN $PrScale ELSE 0 END AS BIGINT) AS rank_scaled
               FROM part),
        $iterCtes
        SELECT r.id AS p_partkey, p.p_brand = '$PprSeedBrand' AS is_seed,
          r.rank_scaled
        FROM r$PrIters r JOIN part p ON r.id = p.p_partkey
        WHERE r.rank_scaled > 0"""
  }

  // ------------------------------------------------------------ q463

  /** q463's attenuation (β = 1/32 as an integer shift) and round
    * count. β is chosen under 1/λ_max for the ≤25-degree nation graph
    * so the truncated series is a converging centrality, and the
    * integer division IS the declared arithmetic (cross-engine exact,
    * the q99 fixed-point discipline). */
  val KatzCentShift = 5
  val KatzCentIters = 8
  val KatzCentScale = 1000000L

  /** q463 — KATZ CENTRALITY on the nation trade graph (the
    * NODE-centrality member the spectral family lacks: q99's PageRank
    * normalizes by out-degree — a random-surfer model; Katz
    * x = Σ_k β^k A^k 1 counts ALL inbound walks attenuated by length,
    * the centrality of record when edge COUNT is influence and a
    * high-degree neighbor should contribute fully, not 1/deg — and
    * the node-level twin of q437's pairwise Katz index). Fixed-point
    * integers: x₀ = 10⁶; x_{t+1}[v] = 10⁶ + (Σ_{u→v} x_t[u]) div 32,
    * [[KatzCentIters]] rounds, released {id, katz_scaled}.
    *
    * Scale shape: q99's — each round is ONE src-keyed equi-join +
    * map-side-combined sum over the edge frame; round-dominated, node
    * frame localCheckpointed per round. */
  def q463KatzCentrality(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer")
        .select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "supplier")
        .select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .distinct()
      .localCheckpoint(true)
    val nodes = t(s, dir, "nation").select(col("n_nationkey").as("id"))
    val (x, _, _) = Iterate("katz",
        nodes.select(col("id"), lit(KatzCentScale).as("katz"))
          .localCheckpoint(true), KatzCentIters) { (x, _) =>
      val m = edges.join(x, edges("src") === x("id"))
        .groupBy(edges("dst").as("id2"))
        .agg(sum("katz").as("msum"))
      x.select(col("id")).join(m, col("id") === col("id2"), "left")
        .select(col("id"),
          (lit(KatzCentScale) +
            coalesce(expr(s"msum div ${1L << KatzCentShift}"), lit(0L)))
            .as("katz"))
    }()
    x.select(col("id"), col("katz").as("katz_scaled"))
  }

  private def q463OracleSql: String = {
    val iterCtes = (1 to KatzCentIters).map { i =>
      s"""m$i AS (SELECT e.dst AS id,
            CAST(sum(r.katz) // ${1L << KatzCentShift} AS BIGINT) AS ms
          FROM edges e JOIN x${i - 1} r ON r.id = e.src
          GROUP BY e.dst),
        x$i AS (SELECT n.id,
            $KatzCentScale + COALESCE(m.ms, CAST(0 AS BIGINT)) AS katz
          FROM x${i - 1} n LEFT JOIN m$i m ON n.id = m.id)"""
    }.mkString(",\n        ")
    s"""WITH edges AS (SELECT DISTINCT c.c_nationkey AS src,
            s.s_nationkey AS dst
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey),
        x0 AS (SELECT CAST(n_nationkey AS INTEGER) AS id,
            CAST($KatzCentScale AS BIGINT) AS katz FROM nation),
        $iterCtes
        SELECT CAST(id AS INTEGER) AS id, katz AS katz_scaled
        FROM x$KatzCentIters"""
  }

  // ------------------------------------------------------------ q485

  /** q485 — DEGREE DISTRIBUTION census of the customer↔part purchase
    * graph (the first plot anyone makes of a new graph, and the one
    * summary the Graph family computes pieces of but never releases:
    * q99/q463 rank nodes, q105/q282 count closed wedges — the degree
    * HISTOGRAM is what says whether the graph is hub-dominated at
    * all, i.e. whether the q183/q397 degree caps and the q65 salting
    * even matter). Customer side of the bipartite graph induced by
    * orders⋈lineitem: degree = distinct parts purchased; released
    * count-of-counts {degree, n_nodes, node_share_ppm} — exact.
    *
    * Scale shape: one fact⋈fact join on the order key it shares,
    * distinct (customer, part) census, per-customer degree census,
    * count-of-counts — each stage map-side combined, output ≤
    * \|distinct degrees\|. */
  def q485DegreeDistribution(s: SparkSession, dir: String): DataFrame = {
    val cp = t(s, dir, "lineitem").select("l_orderkey", "l_partkey")
      .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
    val deg = cp.groupBy("c").agg(count(lit(1)).as("degree"))
    val n = deg.agg(count(lit(1)).as("n_cust"))
    deg.groupBy("degree").agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(n))
      .select(col("degree"), col("n_nodes"),
        expr("n_nodes * 1000000 div n_cust").as("node_share_ppm"))
  }

  private def q485OracleSql: String =
    """WITH cp AS (SELECT DISTINCT o.o_custkey AS c,
          l.l_partkey AS p
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        deg AS (SELECT c, CAST(count(*) AS BIGINT) AS degree
          FROM cp GROUP BY c),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_cust FROM deg)
        SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes,
          CAST(count(*) AS BIGINT) * 1000000 // n_cust
            AS node_share_ppm
        FROM deg CROSS JOIN n GROUP BY degree, n_cust"""

  // ------------------------------------------------------------ q488

  /** q488 — EDGE RECIPROCITY of the directed nation trade graph (the
    * one-number directionality summary the family lacks: q207's
    * assortativity mixes degrees, q99 ranks — reciprocity asks
    * whether trade RELATIONS are two-way, i.e. for what fraction of
    * customer-nation → supplier-nation edges the reverse edge also
    * exists; a pure-hub economy scores near 0, a bilateral one near
    * 1). Exact integers off the distinct edge set and ONE self-join
    * on the flipped key.
    *
    * Scale shape: q99's edge derivation (fact⋈fact on the order key,
    * broadcast dims), distinct census; the reciprocity probe is an
    * edge-keyed LEFT SEMI self-join. */
  def q488GraphReciprocity(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer")
        .select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "supplier")
        .select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(true)
    val recip = edges.join(
      edges.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(recip.agg(count(lit(1)).as("n_reciprocal")))
      .select(col("n_edges"), col("n_reciprocal"),
        expr("n_reciprocal * 1000000 div n_edges")
          .as("reciprocity_ppm"))
  }

  private def q488OracleSql: String =
    """WITH edges AS (SELECT DISTINCT c.c_nationkey AS src,
          s.s_nationkey AS dst
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey),
        recip AS (SELECT CAST(count(*) AS BIGINT) AS n_reciprocal
          FROM edges a WHERE EXISTS (SELECT 1 FROM edges b
            WHERE b.src = a.dst AND b.dst = a.src)),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges)
        SELECT n_edges, n_reciprocal,
          n_reciprocal * 1000000 // n_edges AS reciprocity_ppm
        FROM n CROSS JOIN recip"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q485_degree_distribution" -> (q485DegreeDistribution _),
    "q488_graph_reciprocity" -> (q488GraphReciprocity _),
    "q463_katz_centrality" -> (q463KatzCentrality _),
    "q385_personalized_pagerank" -> (q385PersonalizedPagerank _),
    "q365_hits" -> (q365Hits _),
    "q282_clustering_coeff" -> (q282ClusteringCoeff _),
    "q261_harmonic_2hop" -> (q261Harmonic2Hop _),
    "q234_sssp" -> (q234Sssp _),
    "q99_pagerank" -> (q99PageRank _),
    "q105_triangle_count" -> (q105TriangleCount _),
    "q131_reachability" -> (q131Reachability _),
    "q147_label_propagation" -> (q147LabelPropagation _),
    "q155_kcore" -> (q155KCore _))

  val oracleSql: Map[String, String] = Map(
    "q485_degree_distribution" -> q485OracleSql,
    "q488_graph_reciprocity" -> q488OracleSql,
    "q463_katz_centrality" -> q463OracleSql,
    "q385_personalized_pagerank" -> q385OracleSql,
    "q365_hits" -> q365OracleSql,
    "q282_clustering_coeff" -> q282OracleSql,
    "q261_harmonic_2hop" -> q261OracleSql,
    "q234_sssp" -> q234OracleSql,
    "q99_pagerank" -> q99OracleSql,
    "q105_triangle_count" -> q105OracleSql,
    "q131_reachability" -> q131OracleSql,
    "q147_label_propagation" -> q147OracleSql,
    "q155_kcore" -> q155OracleSql)
}
