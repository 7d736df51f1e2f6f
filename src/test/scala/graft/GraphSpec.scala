package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

/** Semantic checks for the integer-arithmetic PageRank the differential
  * can't express: hand-computed fixed points, mass bounds, determinism. */
class GraphSpec extends SparkSpec {

  private def ranksOf(nodes: Seq[Long], edges: Seq[(Long, Long)],
      iters: Int): Map[Long, Long] = {
    import spark.implicits._
    Graph.pageRank(
      nodes.toDF("id"), edges.toDF("src", "dst"), iters = iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("pageRank on a 3-path matches the hand-computed integer fixpoint") {
    // 1 -> 2 -> 3, scale 10^6, damping 85/100, base 150000.
    // iter1: r=(150000, 150000+850000, 150000+850000)
    // iter2: contrib(2)=150000*85 div 100=127500; contrib(3)=850000
    val r = ranksOf(Seq(1L, 2L, 3L), Seq((1L, 2L), (2L, 3L)), iters = 2)
    assert(r === Map(1L -> 150000L, 2L -> 277500L, 3L -> 1000000L))
  }

  test("pageRank splits rank equally across out-edges (integer floor)") {
    // 1 -> {2,3}: each gets (10^6*85 div 100) div 2 = 425000 in iter 1
    val r = ranksOf(Seq(1L, 2L, 3L), Seq((1L, 2L), (1L, 3L)), iters = 1)
    assert(r(2L) === 150000L + 425000L)
    assert(r(2L) === r(3L))
  }

  test("isolated nodes keep exactly the damping floor") {
    val r = ranksOf(Seq(1L, 2L, 9L), Seq((1L, 2L)), iters = 3)
    assert(r(9L) === 150000L)
  }

  test("q99 covers every nation, conserves mass bounds, is deterministic") {
    // id keeps the node frame's type (nation keys are INT)
    val a = Graph.q99PageRank(spark, sf1).collect()
      .map(r => r.getAs[Number]("id").longValue -> r.getLong(1)).toMap
    assert(a.size === 25)
    val n = a.size.toLong
    // every node ≥ floor; total ≤ n·scale (mass only leaks, never grows)
    assert(a.values.forall(_ >= 150000L))
    assert(a.values.sum <= n * Graph.PrScale)
    val b = Graph.q99PageRank(spark, sf1).collect()
      .map(r => r.getAs[Number]("id").longValue -> r.getLong(1)).toMap
    assert(a === b)
  }

  test("q131 recursive-CTE hops equal an explicit BFS over the same graph") {
    val got = Graph.q131Reachability(spark, sf1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(0L) === 0L, "the seed reaches itself in 0 hops")
    assert(got.values.forall(_ <= Graph.MaxHops))
    // independent model: collect the same rarity-ranked corridor list
    // and run a driver-side BFS (fine in a test; the operator itself
    // never collects)
    val edges = spark.sql(
      s"""SELECT src, dst FROM (
            SELECT src, dst, row_number() OVER (ORDER BY cnt, src, dst)
              AS rn
            FROM (SELECT CAST(c.c_nationkey AS BIGINT) AS src,
                    CAST(s.s_nationkey AS BIGINT) AS dst, count(*) AS cnt
                  FROM g131_lineitem l
                  JOIN g131_orders o ON l.l_orderkey = o.o_orderkey
                  JOIN g131_customer c ON o.o_custkey = c.c_custkey
                  JOIN g131_supplier s ON l.l_suppkey = s.s_suppkey
                  WHERE c.c_nationkey <> s.s_nationkey
                  GROUP BY 1, 2) g) rk
          WHERE rn <= ${Graph.RareEdges}""").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val dist = scala.collection.mutable.Map(0L -> 0L)
    var frontier = Set(0L)
    var hop = 0L
    while (frontier.nonEmpty && hop < Graph.MaxHops) {
      hop += 1
      frontier = frontier.flatMap(n =>
          edges.getOrElse(n, Array.empty[Long]))
        .filterNot(n => dist.contains(n))
      frontier.foreach(n => dist(n) = hop)
    }
    assert(got === dist.toMap,
      s"recursive CTE ${got.toSeq.sorted} != BFS ${dist.toSeq.sorted}")
  }

  test("kCore keeps exactly the clique and peels the pendant chain") {
    import spark.implicits._
    // 4-clique {1,2,3,4} plus pendant path 4-5-6: at k=3 the clique
    // (degree 3 inside itself) survives; 6 then 5 peel off in cascade
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("u", "v")
    val core = Graph.kCore(und, k = 3, rounds = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kCore peels a path completely, but only given enough rounds " +
    "(monotone convergence from the ends inward)") {
    import spark.implicits._
    val path = (1L to 8L).sliding(2)
      .map(p => (p.head, p.last)).toSeq.toDF("u", "v")
    // k=2 on a path: ends have degree 1, so the whole path unravels —
    // one node pair per round (the documented O(n) worst case)
    val (core, jobs) = jobsOf(Graph.kCore(path, k = 2, rounds = 8))
    // the build's own jobs, AQE map stages included: the loop's one
    // checkpoint job per round carries its convergence count
    assert(jobs.size === 17, jobs)
    assert(core.count() === 0L)
    assert(Graph.kCore(path, k = 2, rounds = 2).count() > 0L,
      "2 rounds cannot finish peeling an 8-node path")
  }

  test("q155 core members all meet the degree bound and the peel has " +
    "converged inside the declared round budget") {
    val core = Graph.q155KCore(spark, sf1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core.nonEmpty)
    assert(core.values.forall(_ >= Graph.KCoreK),
      s"core degree below k: $core")
    // convergence margin: one round short must give the same core —
    // i.e. the fixpoint arrives at ≤ rounds-1 (the scaladoc contract)
    spark.catalog.clearCache()
    val und = spark.sql(s"""SELECT DISTINCT least(src, dst) AS u,
          greatest(src, dst) AS v
        FROM (SELECT src, dst FROM (
            SELECT src, dst, row_number() OVER (ORDER BY cnt, src, dst)
              AS rn
            FROM (SELECT CAST(c.c_nationkey AS BIGINT) AS src,
                    CAST(s.s_nationkey AS BIGINT) AS dst, count(*) AS cnt
                  FROM g155_lineitem l
                  JOIN g155_orders o ON l.l_orderkey = o.o_orderkey
                  JOIN g155_customer c ON o.o_custkey = c.c_custkey
                  JOIN g155_supplier s ON l.l_suppkey = s.s_suppkey
                  WHERE c.c_nationkey <> s.s_nationkey
                  GROUP BY 1, 2) g) rk
          WHERE rn <= ${Graph.RareEdges}) WHERE src <> dst""")
      .localCheckpoint(true)
    val early = Graph.kCore(und, rounds = Graph.KCoreRounds - 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(early === core, "peel had not converged at rounds - 1")
  }

  test("q234 weighted SSSP reaches exactly q131's hop-bounded set, " +
    "with source cost 0 and every cost dominating the hop count") {
    val dist = Graph.q234Sssp(spark, sf1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist(0L) === 0L, "source must cost 0")
    // same rarity-ranked corridor edges, same hop budget => same
    // reachable set as the min-hop BFS
    val hops = Graph.q131Reachability(spark, sf1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist.keySet === hops.keySet,
      "weighted and unweighted runs must agree on reachability")
    // weights are >= 1, so cost >= min-hop count; and a cheapest path
    // never beats hops * max possible weight
    for ((id, c) <- dist if id != 0L) {
      assert(c >= hops(id), s"node $id: cost $c below hop bound")
    }
  }

  test("q261 2-hop harmonic centrality replays an exact BFS truncation " +
    "over an independently rebuilt corridor adjacency") {
    import org.apache.spark.sql.functions._
    val rows = Graph.q261Harmonic2Hop(spark, sf1).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(rows.nonEmpty)
    // independent DataFrame rebuild of the rarity-ranked corridor
    val li = graft.sources.Tables.load(spark, sf1, "lineitem")
    val cnts = li.select("l_orderkey", "l_suppkey")
      .join(graft.sources.Tables.load(spark, sf1, "orders")
        .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(graft.sources.Tables.load(spark, sf1, "customer")
        .select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(graft.sources.Tables.load(spark, sf1, "supplier")
        .select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .groupBy(col("c_nationkey").cast("bigint").as("src"),
        col("s_nationkey").cast("bigint").as("dst"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val corridor = cnts.sortBy(t => (t._3, t._1, t._2)).take(100)
    val und = corridor.map(t => (math.min(t._1, t._2),
      math.max(t._1, t._2))).filter(t => t._1 != t._2).distinct
    val adj = (und ++ und.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(rows.keySet === adj.keySet)
    for ((id, (n1, n2, h)) <- rows) {
      val d1 = adj(id)
      val d2 = d1.flatMap(adj(_)) -- d1 - id
      assert(n1 === d1.size.toLong, s"node $id degree")
      assert(n2 === d2.size.toLong, s"node $id exact-distance-2 set")
      assert(h === 2 * n1 + n2)
    }
  }

  test("q282 local clustering replays a per-node neighborhood check " +
    "over the same rebuilt adjacency") {
    import org.apache.spark.sql.functions._
    val rows = Graph.q282ClusteringCoeff(spark, sf1).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(rows.nonEmpty)
    // rebuild identical corridor adjacency (shared with the q261 test)
    val li = graft.sources.Tables.load(spark, sf1, "lineitem")
    val cnts = li.select("l_orderkey", "l_suppkey")
      .join(graft.sources.Tables.load(spark, sf1, "orders")
        .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(graft.sources.Tables.load(spark, sf1, "customer")
        .select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(graft.sources.Tables.load(spark, sf1, "supplier")
        .select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .groupBy(col("c_nationkey").cast("bigint").as("src"),
        col("s_nationkey").cast("bigint").as("dst"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val und = cnts.sortBy(t => (t._3, t._1, t._2)).take(100)
      .map(t => (math.min(t._1, t._2), math.max(t._1, t._2)))
      .filter(t => t._1 != t._2).distinct
    val adj = (und ++ und.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val edges = und.toSet
    assert(rows.keySet === adj.keySet)
    for ((id, (deg, tri, cc)) <- rows) {
      val nb = adj(id).toSeq.sorted
      assert(deg === nb.length.toLong)
      val expTri = (for {
        i <- nb.indices; j <- (i + 1) until nb.length
        if edges((math.min(nb(i), nb(j)), math.max(nb(i), nb(j))))
      } yield 1).size.toLong
      assert(tri === expTri, s"node $id triangle count")
      val expCc = if (deg < 2) 0L
        else 2 * expTri * 1000000L / (deg * (deg - 1))
      assert(cc === expCc)
      assert(cc >= 0L && cc <= 1000000L)
    }
  }

  test("q365 HITS matches a brute-force two-iteration integer model") {
    val rows = Graph.q365Hits(spark, sf1).collect()
      .map(r => (r.getAs[String]("node_type"), r.getAs[Long]("node_id"),
        r.getAs[Long]("score")))
    val li = graft.sources.Tables.load(spark, sf1, "lineitem")
      .select(org.apache.spark.sql.functions.col("l_orderkey"),
        org.apache.spark.sql.functions.col("l_partkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ordCust = graft.sources.Tables.load(spark, sf1, "orders")
      .select(org.apache.spark.sql.functions.col("o_orderkey"),
        org.apache.spark.sql.functions.col("o_custkey"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = li.map { case (ok, pk) => (ordCust(ok), pk) }.distinct
    val byC = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val byP = edges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val a1 = byP.view.mapValues(_.length.toLong).toMap
    val h1 = byC.view.mapValues(_.map(a1).sum).toMap
    val a2 = byP.view.mapValues(_.map(h1).sum).toMap
    val h2 = byC.view.mapValues(_.map(a2).sum).toMap
    val parts = rows.filter(_._1 == "part").map(r => r._2 -> r._3).toMap
    val custs = rows.filter(_._1 == "cust").map(r => r._2 -> r._3).toMap
    assert(parts === a2.toMap)
    assert(custs === h2.toMap)
    // mutual reinforcement sanity: scores strictly positive
    assert(rows.forall(_._3 > 0L))
  }

  test("q385 personalized PageRank replays an exact integer model and " +
    "concentrates mass at the seeds") {
    val G = graft.operators.Graph
    val li = graft.sources.Tables.load(spark, sf1, "lineitem")
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pairs = li.groupBy(_._1).values.toSeq.flatMap { g =>
      val ps: Seq[Long] = g.map(_._2).distinct.toSeq
      for (a <- ps; b <- ps if a != b) yield (a, b)
    }.toSet
    val seeds = graft.sources.Tables.load(spark, sf1, "part")
      .select(col("p_partkey"),
        (col("p_brand") === G.PprSeedBrand).as("s"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    val deg = pairs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val base = G.PrScale * 15L / 100L
    var rank = seeds.map { case (id, isSeed) =>
      id -> (if (isSeed) G.PrScale else 0L) }
    for (_ <- 1 to G.PrIters) {
      val inflow = pairs.toSeq
        .map { case (src, dst) =>
          dst -> (rank(src) * 85L / 100L / deg(src)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      rank = seeds.map { case (id, isSeed) =>
        id -> ((if (isSeed) base else 0L) + inflow.getOrElse(id, 0L)) }
    }
    val expected = rank.filter(_._2 > 0L)
    val got = G.q385PersonalizedPagerank(spark, sf1).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(2)))
    assert(got.length === expected.size)
    got.foreach { case (id, (isSeed, sc)) =>
      assert(isSeed === seeds(id))
      assert(sc === expected(id), s"part $id score")
      if (seeds(id)) assert(sc >= base, "seed keeps its restart mass")
    }
    // locality: total seed mass per capita exceeds non-seed per capita
    val (sm, sn) = (got.filter(_._2._1).map(_._2._2).sum,
      got.count(_._2._1).max(1))
    val (om, on) = (got.filterNot(_._2._1).map(_._2._2).sum,
      got.count(!_._2._1).max(1))
    assert(sm / sn > om / on, "mass must concentrate at the seeds")
  }

  test("q463 Katz centrality replays the integer fixed-point recursion " +
    "and dominates for high in-degree nations") {
    val G = graft.operators.Graph
    val got = G.q463KatzCentrality(spark, sf1).collect()
      .map(r => r.getInt(0) -> r.getAs[Long]("katz_scaled")).toMap
    assert(got.size === 25)
    // rebuild edges + replay the recursion
    import org.apache.spark.sql.functions._
    val li = graft.sources.Tables.load(spark, sf1, "lineitem")
      .select("l_orderkey", "l_suppkey")
    val o = graft.sources.Tables.load(spark, sf1, "orders")
      .select("o_orderkey", "o_custkey")
    val c = graft.sources.Tables.load(spark, sf1, "customer")
      .select("c_custkey", "c_nationkey")
    val su = graft.sources.Tables.load(spark, sf1, "supplier")
      .select("s_suppkey", "s_nationkey")
    val edges = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(su, col("l_suppkey") === col("s_suppkey"))
      .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .distinct().collect().map(r => (r.getInt(0), r.getInt(1)))
    val x = scala.collection.mutable.Map((0 until 25).map(_ -> 1000000L): _*)
    for (_ <- 1 to G.KatzCentIters) {
      val msum = edges.groupBy(_._2).view
        .mapValues(_.map(e => x(e._1)).sum).toMap
      (0 until 25).foreach { v =>
        x(v) = 1000000L +
          (msum.getOrElse(v, 0L) >> G.KatzCentShift)
      }
    }
    (0 until 25).foreach(v => assert(got(v) === x(v), s"nation $v"))
    // a node with inbound edges must out-rank an isolated one
    val inDeg = edges.groupBy(_._2).view.mapValues(_.size).toMap
    if (inDeg.nonEmpty) {
      val hot = inDeg.maxBy(_._2)._1
      assert(got(hot) > 1000000L)
    }
  }

  test("q485 degree distribution is a partition of the customer set " +
    "and replays the bipartite census") {
    val G = graft.operators.Graph
    val rows = G.q485DegreeDistribution(spark, sf1).collect()
      .map(r => r.getAs[Long]("degree") ->
        (r.getAs[Long]("n_nodes"), r.getAs[Long]("node_share_ppm")))
      .toMap
    import org.apache.spark.sql.functions._
    val cp = graft.sources.Tables.load(spark, sf1, "lineitem")
      .select("l_orderkey", "l_partkey")
      .join(graft.sources.Tables.load(spark, sf1, "orders")
        .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val deg = cp.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val want = deg.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    assert(rows.keySet === want.keySet)
    val nCust = deg.size.toLong
    want.foreach { case (d, n) =>
      assert(rows(d)._1 === n, s"degree $d")
      assert(rows(d)._2 === n * 1000000L / nCust)
    }
    assert(rows.values.map(_._1).sum === nCust)
  }

  test("q488 reciprocity replays the flipped-edge probe and is a " +
    "valid ppm") {
    val row = graft.operators.Graph.q488GraphReciprocity(spark, sf1)
      .head()
    import org.apache.spark.sql.functions._
    val edges = graft.sources.Tables.load(spark, sf1, "lineitem")
      .select("l_orderkey", "l_suppkey")
      .join(graft.sources.Tables.load(spark, sf1, "orders")
        .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(graft.sources.Tables.load(spark, sf1, "customer")
        .select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(graft.sources.Tables.load(spark, sf1, "supplier")
        .select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("c_nationkey"), col("s_nationkey"))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
      .filter(e => e._1 != e._2).distinct.toSet
    val recip = edges.count(e => edges((e._2, e._1))).toLong
    assert(row.getAs[Long]("n_edges") === edges.size.toLong)
    assert(row.getAs[Long]("n_reciprocal") === recip)
    assert(row.getAs[Long]("reciprocity_ppm") ===
      recip * 1000000L / edges.size)
    assert(row.getAs[Long]("reciprocity_ppm") <= 1000000L)
  }
}
