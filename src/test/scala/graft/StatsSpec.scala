package graft

import org.apache.spark.sql.functions._

import graft.operators.Stats

/** Semantic checks for the round-9 Stats surface (q303–q306). The DuckDB
  * differential pins exact values; these pin the INVARIANTS that must hold
  * at any scale factor, plus a brute-force model for the rank-sum test. */
class StatsSpec extends SparkSpec {

  test("q303 Mann-Whitney matches a brute-force midrank model") {
    val row = Stats.q303MannWhitney(spark, sf1).head()
    val vals = graft.sources.Tables.load(spark, sf1, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .select((col("event_type") === "purchase").as("arm"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .collect().map(r => (r.getBoolean(0), r.getLong(1)))
    val sorted = vals.sortBy(_._2)
    val n = sorted.length
    // midrank model: rank i..j of a tie block all get (i+j)/2
    val rank2 = new Array[Long](n) // 2x the midrank
    var i = 0
    while (i < n) {
      var j = i
      while (j < n && sorted(j)._2 == sorted(i)._2) j += 1
      val r2 = (i + 1).toLong + j.toLong // (i+1 + j) = 2 * midrank
      (i until j).foreach(k => rank2(k) = r2)
      i = j
    }
    val n1 = vals.count(_._1).toLong
    val n2 = n - n1
    val sr2 = sorted.zipWithIndex.filter(_._1._1).map(p => rank2(p._2)).sum
    val u2 = sr2 - n1 * (n1 + 1)
    assert(row.getAs[Long]("n1") === n1)
    assert(row.getAs[Long]("n2") === n2)
    assert(row.getAs[Long]("u2") === u2)
    // tie term: sum over tie blocks of m^3 - m
    val ties = vals.groupBy(_._2).values
      .map(g => { val m = g.length.toLong; m * m * m - m }).sum
    assert(row.getAs[Long]("ties") === ties)
    // z reproduced in the same double arithmetic
    val u = u2 / 2.0
    val nn = (n1 + n2).toDouble
    val z = (u - n1.toDouble * n2 / 2.0) /
      math.sqrt(n1.toDouble * n2 / 12.0 *
        ((nn + 1.0) - ties.toDouble / (nn * (nn - 1.0))))
    assert(row.getAs[Long]("z_ppm") === math.floor(z * 1e6).toLong)
  }

  test("q304 ACF emits all lags with Cauchy-Schwarz-bounded numerators") {
    val rows = Stats.q304Acf(spark, sf1).collect()
    assert(rows.map(_.getAs[Long]("lag")).sorted ===
      (1L to Stats.AcfMaxLag.toLong).toArray)
    val den = rows.head.getAs[Long]("den")
    assert(den > 0L)
    rows.foreach { r =>
      assert(r.getAs[Long]("den") === den, "den must be lag-invariant")
      assert(math.abs(r.getAs[Long]("num")) <= den,
        s"|num| > den at lag ${r.getAs[Long]("lag")}")
    }
  }

  test("q305 share is a valid proportion and totals are year-consistent") {
    val rows = Stats.q305MarketShare(spark, sf1).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val b = r.getAs[Long]("brand_rev")
      val t = r.getAs[Long]("total_rev")
      val s = r.getAs[Long]("share_ppm")
      assert(b >= 0L && b <= t, s"brand outside [0, total]: $r")
      assert(s === b * BigInt(1000000) / t, s"share_ppm mismatch: $r")
    }
    // the ASIA-scoped total must not exceed the unscoped corpus revenue
    val corpus = graft.sources.Tables.load(spark, sf1, "lineitem")
      .agg(sum(expr("""CAST(floor(l_extendedprice * 100) AS BIGINT)
        * (10000 - CAST(floor(l_discount * 10000) AS BIGINT))""")
        .cast("decimal(38,0)")))
      .head().getDecimal(0).longValueExact()
    assert(rows.map(_.getAs[Long]("total_rev")).sum <= corpus)
  }

  test("q306 emits exactly n*w - w(w+1)/2 candidate pairs, each ranked " +
    "within the window") {
    val n = graft.sources.Tables.load(spark, sf1, "documents").count()
    val rows = Stats.q306SortedNeighborhood(spark, sf1).collect()
    val w = Stats.SnWindow.toLong
    assert(rows.length.toLong === n * w - w * (w + 1) / 2)
    assert(rows.forall { r =>
      val g = r.getAs[Long]("gap"); g >= 1L && g <= w
    })
    // pairs are distinct and never self-paired
    val pairs = rows.map(r =>
      (r.getAs[Long]("doc_id_1"), r.getAs[Long]("doc_id_2")))
    assert(pairs.distinct.length === pairs.length)
    assert(pairs.forall(p => p._1 != p._2))
    // jaccard is a valid basis-point proportion
    assert(rows.forall { r =>
      val j = r.getAs[Long]("jaccard_bp"); j >= 0L && j <= 10000L
    })
  }

  test("q307 PSI bins partition both halves and same-generator halves " +
    "score stable") {
    val rows = Stats.q307Psi(spark, sf1).collect()
      .sortBy(_.getAs[Long]("bin"))
    assert(rows.map(_.getAs[Long]("bin")) ===
      (1L to Stats.PsiBins.toLong).toArray)
    val total = graft.sources.Tables.load(spark, sf1, "events").count()
    assert(rows.map(_.getAs[Long]("n_ref")).sum +
      rows.map(_.getAs[Long]("n_cur")).sum === total)
    // decile edges: cumulative ref mass through bin f reaches ceil(fN/10)
    val nRef = rows.map(_.getAs[Long]("n_ref")).sum
    var cum = 0L
    rows.init.zipWithIndex.foreach { case (r, i) =>
      cum += r.getAs[Long]("n_ref")
      assert(cum >= (i + 1) * nRef / 10,
        s"bin ${i + 1} cumulative below its decile threshold")
    }
    // two halves of the same generator: PSI far under the 0.1 watch line
    val psi = rows.map(_.getAs[Long]("psi_ppb")).sum / 1e9
    assert(psi >= 0.0 - 1e-6 && psi < 0.1, s"PSI $psi not stable")
  }

  test("q308 KM risk table telescopes and accounts for every signup") {
    val rows = Stats.q308KaplanMeier(spark, sf1).collect()
      .sortBy(_.getAs[Long]("d"))
    val nUsers = graft.sources.Tables.load(spark, sf1, "events")
      .filter(col("event_type") === "signup")
      .select("user_id").distinct().count()
    assert(rows.head.getAs[Long]("n_risk") === nUsers)
    assert(rows.map(r => r.getAs[Long]("n_event") +
      r.getAs[Long]("n_censored")).sum === nUsers)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Long]("n_risk") === a.getAs[Long]("n_risk") -
          a.getAs[Long]("n_event") - a.getAs[Long]("n_censored"),
          s"risk set does not telescope at d=${b.getAs[Long]("d")}")
      case _ =>
    }
  }

  test("q309 Mann-Kendall matches a brute-force model on the daily series") {
    val row = Stats.q309MannKendall(spark, sf1).head()
    val daily = graft.sources.Tables.load(spark, sf1, "events")
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("x"))
      .collect().map(r => (r.getDate(0).toString, r.getLong(1)))
      .sortBy(_._1)
    val xs = daily.map(_._2)
    val n = xs.length.toLong
    val sStat = (for {
      i <- xs.indices; j <- (i + 1) until xs.length
    } yield java.lang.Long.signum(xs(j) - xs(i)).toLong).sum
    val tt = xs.groupBy(identity).values
      .map(g => { val t = g.length.toLong; t * (t - 1) * (2 * t + 5) }).sum
    assert(row.getAs[Long]("n") === n)
    assert(row.getAs[Long]("s") === sStat)
    assert(row.getAs[Long]("tt") === tt)
    val z =
      (if (sStat > 0) sStat - 1.0 else if (sStat < 0) sStat + 1.0 else 0.0) /
        math.sqrt((n.toDouble * (n - 1.0) * (2.0 * n + 5.0) - tt) / 18.0)
    assert(row.getAs[Long]("z_ppm") === math.floor(z * 1e6).toLong)
  }

  test("q310 buckets partition the image assets with bounded waste and " +
    "canonical dims dominating members") {
    val rows = graft.operators.Multimodal.q310AspectBuckets(spark, sf1)
      .collect()
    val nImages = graft.sources.Tables.load(spark, sf1, "documents")
      .filter(col("doc_id") % 3 === 0).count()
    assert(rows.map(_.getAs[Long]("n_assets")).sum === nImages)
    rows.foreach { r =>
      val w = r.getAs[Long]("waste_ppm")
      assert(w >= 0L && w < 1000000L, s"waste outside [0, 1): $r")
      assert(r.getAs[Long]("canon_w") >= 1L &&
        r.getAs[Long]("canon_h") >= 1L)
    }
  }

  test("q311 revenue decomposes the region total and q305/q311 agree " +
    "on scope") {
    val rows = Stats.q311LocalSupplierVolume(spark, sf1).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("revenue") > 0L))
    // nation-local revenue within the region cannot exceed the region's
    // all-supplier revenue (q305's per-year totals summed)
    val regionTotal = Stats.q305MarketShare(spark, sf1).collect()
      .map(_.getAs[Long]("total_rev")).sum
    assert(rows.map(_.getAs[Long]("revenue")).sum <= regionTotal)
  }

  test("q305/q311/q312 plans: pruned scans, pushed region filter, no " +
    "single-partition exchange") {
    val p305 = Stats.q305MarketShare(spark, sf1)
      .queryExecution.executedPlan.toString
    // the selective region filter must reach the region scan, not sit
    // above the join
    assert(p305.contains("PushedFilters: [IsNotNull(r_name), " +
      "EqualTo(r_name,ASIA)]") || p305.contains("EqualTo(r_name,ASIA)"),
      s"region filter not pushed:\n$p305")
    // part scan prunes to the two columns the join needs
    assert(!p305.contains("p_retailprice") && !p305.contains("p_size"),
      s"part scan reads pruned columns:\n$p305")
    val p312 = Stats.q312PromoRevenue(spark, sf1)
      .queryExecution.executedPlan.toString
    assert(!p312.contains("p_retailprice") && !p312.contains("p_name"),
      s"part scan reads pruned columns:\n$p312")
    assert(!p312.contains("l_quantity") && !p312.contains("l_tax"),
      s"lineitem scan reads pruned columns:\n$p312")
    // the rank machinery must never collapse the corpus to one partition
    val p306 = Stats.q306SortedNeighborhood(spark, sf1)
      .queryExecution.executedPlan.toString
    assert(!p306.contains("Exchange SinglePartition"),
      s"sorted-neighborhood rank must stay distributed:\n$p306")
  }

  test("q313 streaming PSI: complete day-bin spine, reference day " +
    "scores itself zero") {
    val rows = graft.streaming.EventStream.q313StreamPsi(spark, sf1)
      .collect()
    val nBins = graft.streaming.EventStream.StreamPsiEdges.length + 1
    val days = rows.map(_.getAs[java.sql.Date]("day")).distinct.sorted
    assert(rows.length === days.length * nBins, "incomplete spine")
    val d0 = days.head
    rows.filter(_.getAs[java.sql.Date]("day") == d0).foreach { r =>
      assert(r.getAs[Long]("n_ref") === r.getAs[Long]("n_cur"),
        s"reference day diverges from itself: $r")
      assert(r.getAs[Long]("psi_ppb") === 0L,
        s"reference day PSI nonzero: $r")
    }
    // counts account for the whole corpus
    assert(rows.map(_.getAs[Long]("n_cur")).sum ===
      graft.sources.Tables.load(spark, sf1, "events").count())
  }

  test("q316 HLL registers match a brute-force model and merge by max") {
    val rows = Stats.q316HllRegisters(spark, sf1).collect()
      .map(r => ((r.getAs[java.sql.Date]("day").toString,
        r.getAs[Long]("register")), r.getAs[Long]("max_rho"))).toMap
    val events = graft.sources.Tables.load(spark, sf1, "events")
      .select(to_date(col("ts")).cast("string"), col("user_id"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def rho(u: Long): (Long, Long) = {
      val h = (u * 1103515245L + 12345L) % Stats.HllHashMod
      val rest = h / Stats.HllBuckets
      val r = if (rest == 0L) 43L
        else java.lang.Long.numberOfTrailingZeros(rest) + 1L
      (h % Stats.HllBuckets, r)
    }
    val model = events.map { case (d, u) =>
      val (b, r) = rho(u); ((d, b), r)
    }.groupBy(_._1).map { case (k, v) => (k, v.map(_._2).max) }
    assert(rows === model, "register table diverges from the model")
    // the defining sketch property: whole-corpus registers are the
    // element-wise max of the per-day registers
    val merged = rows.groupBy(_._1._2)
      .map { case (b, v) => (b, v.values.max) }
    val whole = events.map { case (_, u) => rho(u) }
      .groupBy(_._1).map { case (b, v) => (b, v.map(_._2).max) }
    assert(merged === whole, "per-day max-merge != whole-corpus sketch")
  }

  test("q317 MI margins are consistent and the total is nonnegative " +
    "up to per-cell floor loss") {
    val rows = Stats.q317MutualInformation(spark, sf1).collect()
    val n = rows.map(_.getAs[Long]("n_xy")).sum
    // marginal consistency per x and per y
    rows.groupBy(_.getAs[String]("x")).foreach { case (_, g) =>
      assert(g.map(_.getAs[Long]("n_xy")).sum === g.head.getAs[Long]("n_x"))
    }
    rows.groupBy(_.getAs[String]("y")).foreach { case (_, g) =>
      assert(g.map(_.getAs[Long]("n_xy")).sum === g.head.getAs[Long]("n_y"))
    }
    assert(n === rows.map(_.getAs[Long]("n_xy")).sum)
    // MI >= 0; each released cell flooring loses < 1 ppb
    assert(rows.map(_.getAs[Long]("mi_ppb")).sum >= -rows.length.toLong,
      "MI total below the floor-loss bound")
  }

  test("q312 promo share is a valid proportion every month") {
    val rows = Stats.q312PromoRevenue(spark, sf1).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val p = r.getAs[Long]("promo_rev")
      val t = r.getAs[Long]("total_rev")
      assert(p >= 0L && p <= t, s"promo outside [0, total]: $r")
      assert(r.getAs[Long]("share_ppm") === p * BigInt(1000000) / t)
      assert(r.getAs[String]("month").matches("\\d{4}-\\d{2}"))
    }
  }

  test("q315 effective rank sits at the Wishart expectation for an " +
    "isotropic corpus and is bounded by d") {
    val row = graft.operators.Similarity.q315EffectiveRank(spark, sf1)
      .head()
    val n = row.getAs[Long]("n")
    val dEff = row.getAs[Long]("d_eff_milli") / 1e3
    val d = graft.operators.Similarity.GramDims.toDouble
    assert(dEff > 0.0 && dEff <= d + 1e-9, s"d_eff $dEff outside (0, d]")
    assert(row.getAs[Long]("trace") > 0L, "covariance trace must be positive")
    // iid isotropic vectors: sample-covariance PR concentrates near
    // d / (1 + d/n) (Marchenko-Pastur second moment); allow a wide band
    val expect = d / (1.0 + d / n)
    assert(math.abs(dEff - expect) < 0.25 * expect,
      s"d_eff $dEff far from isotropic expectation $expect")
  }

  test("q319 Holt backtest matches a straight-line fold of the weekly " +
    "census") {
    val rows = graft.operators.Analytics.q319HoltBacktest(spark, sf1)
      .collect()
      .groupBy(_.getAs[Int]("nationkey"))
    val wk = graft.sources.Tables.load(spark, sf1, "orders")
      .join(graft.sources.Tables.load(spark, sf1, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("n"),
        date_trunc("week", col("o_orderdate")).as("w"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("c"))
      .collect().map(r => (r.getAs[Int]("n"),
        r.getAs[java.sql.Timestamp]("w").getTime, r.getAs[Long]("c")))
      .groupBy(_._1)
    wk.foreach { case (nation, g) =>
      val xs = g.sortBy(_._2).map(_._3)
      var l = xs.head
      var b = 0L
      val model = xs.drop(1).map { x =>
        val f = l + b
        // Spark div truncates toward zero — Scala / semantics (the
        // q252 docstring's q246-verified cross-engine contract)
        val l2 = (x + l + b) / 2
        val nb = (l2 - l + b) / 2
        l = l2; b = nb
        (x, f)
      }
      val got = rows(nation).sortBy(_.getAs[Long]("rn"))
        .map(r => (r.getAs[Long]("actual_cents"),
          r.getAs[Long]("forecast_cents")))
      assert(got.toSeq === model.toSeq, s"nation $nation backtest diverges")
    }
  }

  test("q323 centroid drift matches a brute-force exact-rational model " +
    "and sits at the iid expectation") {
    val rows = graft.operators.Similarity
      .q323SourceCentroidDrift(spark, sf1).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_vec"), r.getAs[Long]("drift_milli2"))).toMap
    val joined = graft.sources.Tables.load(spark, sf1, "embeddings")
      .join(graft.sources.Tables.load(spark, sf1, "documents")
        .select(col("doc_id").as("vec_id"), col("source")), "vec_id")
      .select(col("source"), expr(
        """transform(CAST(embedding AS ARRAY<DOUBLE>),
           x -> CAST(floor(x * 1000) AS BIGINT))""").as("mv"))
      .collect().map(r => (r.getString(0), r.getSeq[Long](1).toArray))
    val n = BigInt(joined.length)
    val d = joined.head._2.length
    val glob = Array.tabulate(d)(i => joined.map(p => BigInt(p._2(i))).sum)
    joined.groupBy(_._1).foreach { case (src, vs) =>
      val ns = BigInt(vs.length)
      val sums = Array.tabulate(d)(i => vs.map(p => BigInt(p._2(i))).sum)
      val ss = (0 until d).map { i =>
        val delta = sums(i) * n - glob(i) * ns
        delta * delta
      }.sum
      val drift = ss / (ns * ns * n * n)
      assert(rows(src)._1 === vs.length.toLong)
      assert(rows(src)._2 === drift.toLong, s"source $src")
      // iid sources: E||mean_s - mean||^2 = (1/n_s - 1/N); generous 5x
      assert(drift.toLong < 5L * 1000000L / vs.length, s"source $src high")
    }
  }

  test("q324 PQ assignment matches brute-force argmin and partitions " +
    "every (vector, subspace) exactly once") {
    val rows = graft.operators.Similarity.q324PqAssign(spark, sf1)
      .collect()
      .map(r => (r.getAs[Long]("sub"), r.getAs[Long]("code")) ->
        (r.getAs[Long]("n_assigned"), r.getAs[Long]("sum_d2"))).toMap
    val vecs = graft.sources.Tables.load(spark, sf1, "embeddings")
      .select(col("vec_id"), expr(
        """transform(CAST(embedding AS ARRAY<DOUBLE>),
           x -> CAST(floor(x * 1000) AS BIGINT))""").as("mv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val cb = vecs.filter(_._1 < graft.operators.Similarity.NumCentroids)
      .sortBy(_._1)
    val subs = graft.operators.Similarity.PqSubs
    val sd = graft.operators.Similarity.PqSubDim
    val model = scala.collection.mutable.Map[(Long, Long), (Long, Long)]()
    vecs.foreach { case (_, mv) =>
      (0 until subs).foreach { b =>
        var bestCode = -1L
        var bestD2 = Long.MaxValue
        cb.foreach { case (code, cv) =>
          var d2 = 0L
          (0 until sd).foreach { i =>
            val diff = mv(b * sd + i) - cv(b * sd + i)
            d2 += diff * diff
          }
          if (d2 < bestD2) { bestD2 = d2; bestCode = code }
        }
        val k = (b.toLong, bestCode)
        val (c0, s0) = model.getOrElse(k, (0L, 0L))
        model(k) = (c0 + 1, s0 + bestD2)
      }
    }
    assert(rows === model.toMap)
    // every (vec, sub) assigned exactly once
    assert(rows.values.map(_._1).sum === vecs.length.toLong * subs)
    // the 16 codebook vectors assign to themselves with zero distortion
    assert(rows.count { case ((_, _), (_, s2)) => s2 >= 0 } === rows.size)
  }

  test("q510 PQ ADC top-k equals the brute-force code/LUT replay " +
    "with dense ranks per probe") {
    val S = graft.operators.Similarity
    val rows = S.q510PqAdcTopk(spark, sf1).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")) ->
        (r.getAs[Long]("rank"), r.getAs[Long]("adist"))).toMap
    val vecs = graft.sources.Tables.load(spark, sf1, "embeddings")
      .select(col("vec_id"), expr(
        """transform(CAST(embedding AS ARRAY<DOUBLE>),
           x -> CAST(floor(x * 1000) AS BIGINT))""").as("mv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val cb = vecs.filter(_._1 < S.NumCentroids).sortBy(_._1)
    val (subs, sd) = (S.PqSubs, S.PqSubDim)
    def subD2(a: Array[Long], b: Array[Long], s: Int): Long = {
      var d2 = 0L
      (0 until sd).foreach { i =>
        val diff = a(s * sd + i) - b(s * sd + i); d2 += diff * diff
      }
      d2
    }
    // codes: per (vec, sub) argmin, smallest code on ties
    val codes = vecs.map { case (id, mv) =>
      id -> Array.tabulate(subs) { b =>
        cb.minBy { case (code, cv) => (subD2(mv, cv, b), code) }._1
      }
    }.toMap
    val model = scala.collection.mutable.Map[(Long, Long), (Long, Long)]()
    vecs.filter(_._1 < S.NumProbes).foreach { case (qid, qv) =>
      val scored = vecs.filter(_._1 != qid).map { case (vid, _) =>
        val ad = (0 until subs).map { b =>
          val (_, cv) = cb(codes(vid)(b).toInt)
          subD2(qv, cv, b)
        }.sum
        (vid, ad)
      }.sortBy { case (vid, ad) => (ad, vid) }.take(S.TopK)
      scored.zipWithIndex.foreach { case ((vid, ad), i) =>
        model((qid, vid)) = (i + 1L, ad)
      }
    }
    assert(rows === model.toMap)
    // dense 1..K ranks per probe
    (0L until S.NumProbes).foreach { q =>
      val ranks = rows.collect { case ((`q`, _), (rk, _)) => rk }.toSeq
      assert(ranks.sorted === (1L to S.TopK.toLong))
    }
  }

  test("q512 IVF-PQ search equals the routed brute-force replay and " +
    "its adists agree with the full ADC scan") {
    val S = graft.operators.Similarity
    val rows = S.q512IvfPqSearch(spark, sf1).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")) ->
        (r.getAs[Long]("rank"), r.getAs[Long]("adist"))).toMap
    val raw = graft.sources.Tables.load(spark, sf1, "embeddings")
      .select(col("vec_id"),
        expr("CAST(embedding AS ARRAY<DOUBLE>)").as("ed"),
        expr("""transform(CAST(embedding AS ARRAY<DOUBLE>),
           x -> CAST(floor(x * 1000) AS BIGINT))""").as("mv"))
      .collect().map(r => (r.getLong(0),
        r.getSeq[Double](1).toArray, r.getSeq[Long](2).toArray))
    val vecs = raw.map { case (id, _, mv) => (id, mv) }
    val cb = vecs.filter(_._1 < S.NumCentroids).sortBy(_._1)
    val (subs, sd) = (S.PqSubs, S.PqSubDim)
    def subD2(a: Array[Long], b: Array[Long], s: Int): Long = {
      var d2 = 0L
      (0 until sd).foreach { i =>
        val diff = a(s * sd + i) - b(s * sd + i); d2 += diff * diff
      }
      d2
    }
    // cosine cell routing on the RAW doubles (the q29 contract)
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.map(i => a(i) * b(i)).sum
    val cents = raw.filter(_._1 < S.NumCentroids).sortBy(_._1)
      .map { case (id, ed, _) => (id, ed, math.sqrt(dot(ed, ed))) }
    def cellRank(ed: Array[Double]): Seq[Long] = {
      val nrm = math.sqrt(dot(ed, ed))
      cents.map { case (cid, ced, cnrm) =>
        (cid, dot(ed, ced) / (nrm * cnrm))
      }.sortBy { case (cid, cos) => (-cos, cid) }.map(_._1)
    }
    val assignedCell = raw.map { case (id, ed, _) =>
      id -> cellRank(ed).head }.toMap
    val codes = vecs.map { case (id, mv) =>
      id -> Array.tabulate(subs) { b =>
        cb.minBy { case (code, cv) => (subD2(mv, cv, b), code) }._1
      }
    }.toMap
    val model = scala.collection.mutable.Map[(Long, Long), (Long, Long)]()
    raw.filter(_._1 < S.NumProbes).foreach { case (qid, qed, qv) =>
      val probed = cellRank(qed).take(S.IvfNProbe).toSet
      val scored = vecs
        .filter { case (vid, _) =>
          vid != qid && probed(assignedCell(vid)) }
        .map { case (vid, _) =>
          val ad = (0 until subs).map { b =>
            val (_, cv) = cb(codes(vid)(b).toInt)
            subD2(qv, cv, b)
          }.sum
          (vid, ad)
        }.sortBy { case (vid, ad) => (ad, vid) }.take(S.TopK)
      scored.zipWithIndex.foreach { case ((vid, ad), i) =>
        model((qid, vid)) = (i + 1L, ad)
      }
    }
    assert(rows === model.toMap)
    // routed adists are the SAME numbers the full q510 scan computes:
    // every released (q, vec) pair's adist replays identically without
    // the cell restriction (codes and LUT are shared by construction)
    rows.foreach { case ((qid, vid), (_, ad)) =>
      val qv = vecs.find(_._1 == qid).get._2
      val full = (0 until subs).map { b =>
        subD2(qv, cb(codes(vid)(b).toInt)._2, b)
      }.sum
      assert(full === ad, s"adist mismatch for ($qid, $vid)")
    }
    // dense 1..K ranks per probe (cells at sf0.001 hold > TopK members)
    (0L until S.NumProbes).foreach { q =>
      val ranks = rows.collect { case ((`q`, _), (rk, _)) => rk }.toSeq
      assert(ranks.sorted === (1L to S.TopK.toLong))
    }
  }

  test("q325 cohort retention: offset 0 is the cohort itself and " +
    "counts match a brute-force replay") {
    val rows = graft.operators.Analytics.q325CohortRetention(spark, sf1)
      .collect()
    val byKey = rows.map(r => (r.getAs[java.sql.Date]("cohort_week")
      .toString, r.getAs[Long]("week_offset")) ->
      (r.getAs[Long]("n_cohort"), r.getAs[Long]("retained"),
        r.getAs[Long]("retention_ppm"))).toMap
    // offset 0 contains the signup event itself
    byKey.filter(_._1._2 == 0L).foreach { case (k, (n, ret, ppm)) =>
      assert(ret === n, s"cohort $k offset 0 must retain everyone")
      assert(ppm === 1000000L)
    }
    byKey.foreach { case (k, (n, ret, ppm)) =>
      assert(ret <= n, s"$k retained > cohort")
      assert(ppm === ret * 1000000L / n)
    }
    // brute-force replay on the collected events
    val ev = graft.sources.Tables.load(spark, sf1, "events")
      .select(col("user_id"), col("event_type"),
        date_trunc("week", col("ts")).cast("date").as("w"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDate(2).toString))
    val cohort = ev.filter(_._2 == "signup").groupBy(_._1)
      .map { case (u, xs) => u -> xs.map(_._3).min }
    val model = scala.collection.mutable.Map[(String, Long), Long]()
    ev.map(e => (e._1, e._3)).distinct.foreach { case (u, aw) =>
      cohort.get(u).foreach { cw =>
        if (aw >= cw) {
          val off = (java.time.LocalDate.parse(aw).toEpochDay -
            java.time.LocalDate.parse(cw).toEpochDay) / 7
          model((cw, off)) = model.getOrElse((cw, off), 0L) + 1
        }
      }
    }
    assert(byKey.map { case (k, v) => k -> v._2 } === model.toMap)
  }

  test("q326 Brown-Forsythe matches a brute-force median-deviation model") {
    val row = Stats.q326BrownForsythe(spark, sf1).head()
    val vals = graft.sources.Tables.load(spark, sf1, "events")
      .select(col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val n = vals.length.toLong
    assert(row.getAs[Long]("n") === n)
    var hsumSq = 0.0
    val stats = Stats.KwTypes.map { g =>
      val xs = vals.filter(_._1 == g).map(_._2).sorted
      val ng = xs.length
      // doubled median: lo = order stat at ceil(n/2), hi at floor(n/2)+1
      val med2 = xs((ng + 1) / 2 - 1) + xs(ng / 2)
      val zs = xs.map(x => math.abs(2 * x - med2))
      val sz = zs.sum
      val szz = zs.map(z => z * z).sum
      assert(row.getAs[Long](s"n_$g") === ng.toLong)
      assert(row.getAs[Long](s"sz_$g") === sz)
      assert(row.getAs[Long](s"szz_$g") === szz)
      (ng.toLong, sz, szz)
    }
    val k = Stats.KwTypes.size
    val sq = stats.map { case (ng, sz, _) =>
      sz.toDouble * sz / ng }.sum
    val szsum = stats.map(_._2.toDouble).sum
    val szzsum = stats.map(_._3.toDouble).sum
    val f = ((sq - szsum * szsum / n) / (k - 1).toDouble) /
      ((szzsum - sq) / (n.toDouble - k))
    assert(row.getAs[Long]("f_ppm") === math.floor(f * 1e6).toLong)
  }

  test("q327 matryoshka overlap is bounded and includes each probe " +
    "in its own top-k on both rankings") {
    val rows = graft.operators.Similarity.q327MatryoshkaEval(spark, sf1)
      .collect()
    assert(rows.length === graft.operators.Similarity.NumProbes)
    rows.foreach { r =>
      val ov = r.getAs[Long]("n_overlap")
      // the probe itself has cosine exactly 1 under both metrics (same
      // vector, ratio of identical fold results) -> overlap >= 1; and
      // overlap can never exceed k
      assert(ov >= 1L && ov <= graft.operators.Similarity.TopK.toLong)
      assert(r.getAs[Long]("overlap_ppm") ===
        ov * 1000000L / graft.operators.Similarity.TopK)
    }
    // iid embeddings: prefix ranking is near-chance, so the MEAN overlap
    // must sit well under half of k (chance = k/n ~ 1% of k)
    val mean = rows.map(_.getAs[Long]("n_overlap")).sum.toDouble /
      rows.length
    assert(mean < graft.operators.Similarity.TopK / 2.0,
      s"mean overlap $mean suspiciously high for iid embeddings")
  }

  test("q328/q329 top-k star joins match brute-force replays and rank " +
    "deterministically") {
    val li = graft.sources.Tables.load(spark, sf1, "lineitem").collect()
    val ord = graft.sources.Tables.load(spark, sf1, "orders").collect()
      .map(r => r.getAs[Long]("o_orderkey") -> r).toMap
    val cust = graft.sources.Tables.load(spark, sf1, "customer").collect()
      .map(r => r.getAs[Long]("c_custkey") -> r).toMap
    val cutoff = java.time.LocalDateTime.parse(s"${Stats.ShipCutoff}T00:00")
    def ts(r: org.apache.spark.sql.Row, c: String): java.time.LocalDateTime =
      r.getAs[Any](c) match {
        case t: java.time.LocalDateTime => t
        case t: java.sql.Timestamp => t.toLocalDateTime
      }
    def rev(r: org.apache.spark.sql.Row): BigInt =
      BigInt(math.floor(r.getAs[Double]("l_extendedprice") * 100).toLong) *
        (10000L - math.floor(r.getAs[Double]("l_discount") * 10000).toLong)
    // q328 model
    val m328 = li.filter(r => ts(r, "l_shipdate").isAfter(cutoff))
      .flatMap { r =>
        ord.get(r.getAs[Long]("l_orderkey")).filter { o =>
          ts(o, "o_orderdate").isBefore(cutoff) &&
            cust(o.getAs[Long]("o_custkey"))
              .getAs[String]("c_mktsegment") == Stats.ShipSegment
        }.map(o => (o.getAs[Long]("o_orderkey"), rev(r)))
      }
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
      .toSeq.sortBy { case (k, v) => (-v, k) }.take(10)
    val got328 = Stats.q328ShippingPriority(spark, sf1).collect()
      .map(r => (r.getAs[Long]("o_orderkey"), BigInt(r.getAs[Long]("revenue"))))
    assert(got328.toSeq === m328)
    // q329 model
    val q2end = java.time.LocalDateTime.parse("1998-04-01T00:00")
    val m329 = li.filter(_.getAs[String]("l_returnflag") == "R")
      .flatMap { r =>
        ord.get(r.getAs[Long]("l_orderkey")).filter { o =>
          val d = ts(o, "o_orderdate")
          !d.isBefore(cutoff) && d.isBefore(q2end)
        }.map(o => (o.getAs[Long]("o_custkey"), rev(r)))
      }
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
      .toSeq.sortBy { case (k, v) => (-v, k) }.take(20)
    val got329 = Stats.q329ReturnedItems(spark, sf1).collect()
      .map(r => (r.getAs[Long]("c_custkey"),
        BigInt(r.getAs[Long]("lost_revenue"))))
    assert(got329.toSeq === m329)
  }

  test("q330 median CI brackets the median and matches the " +
    "order-statistic model") {
    val rows = Stats.q330MedianCi(spark, sf1).collect()
    val vals = graft.sources.Tables.load(spark, sf1, "events")
      .select(col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.length === Stats.KwTypes.size)
    rows.foreach { r =>
      val g = r.getAs[String]("event_type")
      val xs = vals.filter(_._1 == g).map(_._2).sorted
      val n = xs.length
      assert(r.getAs[Long]("n") === n.toLong)
      val med2 = xs((n + 1) / 2 - 1) + xs(n / 2)
      assert(r.getAs[Long]("median2_cents") === med2)
      val k = math.floor(n / 2.0 - 1.96 * math.sqrt(n.toDouble) / 2.0)
        .toLong
      val lo = xs(k.toInt) // x_(k+1), 0-indexed
      val hi = xs(n - k.toInt - 1) // x_(n-k)
      assert(r.getAs[Long]("ci_lo_cents") === lo, s"$g lo")
      assert(r.getAs[Long]("ci_hi_cents") === hi, s"$g hi")
      // the CI brackets the median
      assert(2 * lo <= med2 && med2 <= 2 * hi, s"$g bracket")
    }
  }

  test("q331 JSD spine is complete, per-source sums are in [0, ln 2], " +
    "and cells match a brute-force model") {
    val rows = graft.operators.TextOps.q331SourceJsd(spark, sf1).collect()
    val toks = graft.sources.Tables.load(spark, sf1, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val bySW = toks.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val nS = toks.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val cW = toks.groupBy(_._2).map { case (k, v) => k -> v.length.toLong }
    val n = toks.length.toLong
    assert(rows.length === nS.size * cW.size, "full spine")
    rows.foreach { r =>
      val (src, w) = (r.getAs[String]("source"), r.getAs[String]("word"))
      val cSW = bySW.getOrElse((src, w), 0L)
      assert(r.getAs[Long]("c_sw") === cSW)
      assert(r.getAs[Long]("n_s") === nS(src))
      assert(r.getAs[Long]("c_w") === cW(w))
      val p = cSW.toDouble / nS(src)
      val q = cW(w).toDouble / n
      val term = (if (cSW == 0L) 0.0
        else 0.5 * p * math.log(2.0 * p / (p + q))) +
        0.5 * q * math.log(2.0 * q / (p + q))
      assert(r.getAs[Long]("jsd_ppb") === math.floor(term * 1e9).toLong)
    }
    // per-source JSD in nats is bounded by ln 2 and nonnegative (up to
    // the per-cell floor truncation, which only lowers the sum)
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val jsd = rs.map(_.getAs[Long]("jsd_ppb")).sum
      assert(jsd > -rs.length && jsd <= (math.log(2.0) * 1e9).toLong,
        s"source $src jsd=$jsd")
    }
  }

  test("q332 inter-arrival dispersion matches a brute-force gap model") {
    val rows = Stats.q332InterarrivalCv(spark, sf1).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val sc = graft.operators.Extensions.AttribKeyScale
    val ev = graft.sources.Tables.load(spark, sf1, "events")
      .select(col("user_id"), col("event_type"),
        (unix_timestamp(col("ts")) * sc + col("event_id")).as("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    Stats.KwTypes.foreach { g =>
      val gaps = ev.filter(_._2 == g).groupBy(_._1).values.flatMap { xs =>
        val ks = xs.map(_._3).sorted
        ks.zip(ks.drop(1)).map { case (a, b) => b / sc - a / sc }
      }.toSeq
      val r = rows(g)
      assert(r.getAs[Long]("n_gaps") === gaps.length.toLong)
      val sg = gaps.map(BigInt(_)).sum
      val sg2 = gaps.map(x => BigInt(x) * x).sum
      assert(r.getAs[Long]("sum_gap_s") === sg.toLong)
      assert(r.getAs[Long]("mean_gap_s") === (sg / gaps.length).toLong)
      val cv2 = (gaps.length.toDouble * sg2.toDouble -
        sg.toDouble * sg.toDouble) / (sg.toDouble * sg.toDouble)
      assert(r.getAs[Long]("cv2_ppm") === math.floor(cv2 * 1e6).toLong)
    }
  }

  test("q333 trimmed/winsorized means match the sorted-multiset model " +
    "and order robustly") {
    val rows = Stats.q333TrimmedMean(spark, sf1).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val vals = graft.sources.Tables.load(spark, sf1, "events")
      .select(col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    Stats.KwTypes.foreach { g =>
      val xs = vals.filter(_._1 == g).map(_._2).sorted
      val n = xs.length
      val k = (n * Stats.TrimPct / 100L).toInt
      val kept = xs.slice(k, n - k)
      val sumTrim = kept.map(BigInt(_)).sum
      val lo = xs(k) // x_(k+1)
      val hi = xs(n - k - 1) // x_(n-k)
      val sumWin = sumTrim + BigInt(k) * (lo + hi)
      val r = rows(g)
      assert(r.getAs[Long]("n") === n.toLong)
      assert(r.getAs[Long]("k") === k.toLong)
      assert(r.getAs[Long]("sum_trim_cents") === sumTrim.toLong)
      assert(r.getAs[Long]("trim_mean_cents") ===
        (sumTrim / kept.length).toLong)
      assert(r.getAs[Long]("sum_winsor_cents") === sumWin.toLong)
      assert(r.getAs[Long]("winsor_mean_cents") === (sumWin / n).toLong)
      // Exp-tail data: trimming cuts more mass from the top than the
      // bottom, so trimmed mean <= winsorized mean <= raw mean
      val raw = xs.map(BigInt(_)).sum / n
      assert(r.getAs[Long]("trim_mean_cents") <=
        r.getAs[Long]("winsor_mean_cents"))
      assert(r.getAs[Long]("winsor_mean_cents") <= raw.toLong)
    }
  }

  test("q334 class separability matches a brute-force scatter model " +
    "with between at the iid sampling floor") {
    val rows = graft.operators.Similarity.q334ClassSeparability(spark, sf1)
      .collect().map(r => r.getAs[Long]("label") ->
        (r.getAs[Long]("n_c"), r.getAs[Long]("within_sc"),
          r.getAs[Long]("between_milli2"))).toMap
    val vecs = graft.sources.Tables.load(spark, sf1, "embeddings")
      .select(col("label").cast("long"), expr(
        """transform(CAST(embedding AS ARRAY<DOUBLE>),
           x -> CAST(floor(x * 1000) AS BIGINT))""").as("mv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val n = BigInt(vecs.length)
    val d = vecs.head._2.length
    val glob = Array.tabulate(d)(i => vecs.map(p => BigInt(p._2(i))).sum)
    vecs.groupBy(_._1).foreach { case (lab, vs) =>
      val nc = BigInt(vs.length)
      val sums = Array.tabulate(d)(i => vs.map(p => BigInt(p._2(i))).sum)
      val qc = vs.map(p => p._2.map(x => BigInt(x) * x).sum).sum
      val s2 = sums.map(x => x * x).sum
      val within = nc * qc - s2
      val between = (0 until d).map { i =>
        val delta = sums(i) * n - glob(i) * nc
        delta * delta
      }.sum / (nc * nc * n * n)
      val (gn, gw, gb) = rows(lab)
      assert(gn === vs.length.toLong)
      assert(gw === within.toLong, s"label $lab within")
      assert(gb === between.toLong, s"label $lab between")
      // iid: between ~ (1/n_c)(1 - n_c/N) * 1e6 milli^2; generous 5x,
      // and within/n_c^2 ~ mean ||x||^2 ~ 1e6 (unit vectors in milli)
      assert(gb < 5L * 1000000L / vs.length, s"label $lab separable?!")
      assert(gw / (gn * gn) > 500000L && gw / (gn * gn) < 1100000L,
        s"label $lab within off the unit-norm shell")
    }
  }

  test("q335 multi-touch matches a brute-force window count and agrees " +
    "with q92 off the boundary") {
    val rows = graft.operators.Extensions.q335MultiTouch(spark, sf1)
      .collect().map(r => r.getAs[Long]("purchase_id") ->
        (r.getAs[Long]("n_touch"), r.getAs[Long]("credit_each_ppm"))).toMap
    val sc = graft.operators.Extensions.AttribKeyScale
    val win = graft.operators.Extensions.AttribWindowSec
    val ev = graft.sources.Tables.load(spark, sf1, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3)))
    val byUser = ev.groupBy(_._2)
    var purchases = 0
    byUser.values.foreach { xs =>
      val clicks = xs.filter(_._3 == "click")
        .map(e => e._4 * sc + e._1)
      xs.filter(_._3 == "purchase").foreach { p =>
        purchases += 1
        val kHi = p._4 * sc + p._1
        val kLo = (p._4 - win) * sc + (sc - 1)
        val nT = clicks.count(k => k > kLo && k <= kHi).toLong
        val (gn, gc) = rows(p._1)
        assert(gn === nT, s"purchase ${p._1}")
        assert(gc === (if (nT == 0) 0L else 1000000L / nT))
      }
    }
    assert(rows.size === purchases, "one row per purchase")
    // off-boundary agreement with last-touch: q92-attributed purchases
    // whose click is strictly inside the window must have n_touch >= 1
    val q92rows = graft.operators.Extensions
      .q92ClickAttribution(spark, sf1).collect()
    q92rows.filter(_.getAs[Long]("gap_s") < win).foreach { r =>
      assert(rows(r.getAs[Long]("purchase_id"))._1 >= 1L)
    }
  }

  test("q336 streaming CUSUM lands on the batch trajectory and its " +
    "argmax row equals q198") {
    val rows = graft.streaming.EventStream.q336StreamCusum(spark, sf1)
      .collect()
    // batch replay of the same cross-multiplied CUSUM
    val dc = graft.sources.Tables.load(spark, sf1, "events")
      .select(col("ts").cast("date").as("d"))
      .collect().map(_.getDate(0).toString)
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
      .toSeq.sortBy(_._1)
    val k = dc.length.toLong
    val t = dc.map(_._2).sum
    var cum = 0L
    val model = dc.zipWithIndex.map { case ((d, n), idx) =>
      cum += n
      (d, idx + 1L, cum, math.abs(cum * k - (idx + 1L) * t))
    }
    val got = rows.map(r => (r.getAs[java.sql.Date]("d").toString,
      r.getAs[Long]("i"), r.getAs[Long]("cum"),
      r.getAs[Long]("dev_scaled"))).sortBy(_._2)
    assert(got.toSeq === model)
    // the trajectory's argmax (dev desc, day asc) is exactly q198's row
    val q198row = graft.operators.Analytics.q198Changepoint(spark, sf1)
      .head()
    val amax = got.minBy(x => (-x._4, x._1))
    assert(amax._1 === q198row.getAs[java.sql.Date]("d").toString)
    assert(amax._4 === q198row.getAs[Long]("dev_scaled"))
    // endpoint identity: the last day's deviation is exactly 0
    assert(got.last._4 === 0L)
  }

  test("q337 collocations match a brute-force Dunning LLR model") {
    val rows = graft.operators.TextOps.q337Collocations(spark, sf1)
      .collect()
    assert(rows.length === graft.operators.TextOps.CollocTopK)
    val bigs = graft.sources.Tables.load(spark, sf1, "documents")
      .select(split(col("text"), " ").as("ws"))
      .collect().map(_.getSeq[String](0))
      .filter(_.length >= 2)
      .flatMap(ws => ws.zip(ws.drop(1)))
    val c12 = bigs.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val c1 = bigs.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val c2 = bigs.groupBy(_._2).map { case (k, v) => k -> v.length.toLong }
    val n = bigs.length.toLong
    def xt(k: Double, r: Double, c: Double): Double =
      if (k == 0.0) 0.0 else k * math.log(k * n / (r * c))
    val model = c12.map { case ((w1, w2), k11) =>
      val (r, c) = (c1(w1).toDouble, c2(w2).toDouble)
      val llr = 2.0 * (xt(k11.toDouble, r, c) +
        xt(r - k11, r, n - c) + xt(c - k11, n - r, c) +
        xt(n - r - c + k11, n - r, n - c))
      (w1, w2) -> math.floor(llr * 1e6).toLong
    }
    val expected = model.toSeq
      .sortBy { case ((w1, w2), s) => (-s, w1, w2) }
      .take(graft.operators.TextOps.CollocTopK)
    val got = rows.map(r => ((r.getAs[String]("w1"),
      r.getAs[String]("w2")), r.getAs[Long]("llr_micro")))
    assert(got.toSeq === expected)
    // LLR is nonnegative (floor can shave at most one micro)
    rows.foreach(r => assert(r.getAs[Long]("llr_micro") >= -1L))
  }

  test("q338 capture-recapture satisfies the Chapman identities and " +
    "brackets the planted population") {
    val row = graft.operators.Dedup.q338CaptureRecapture(spark, sf1)
      .head()
    val (n1, n2, m, est) = (row.getAs[Long]("n1"), row.getAs[Long]("n2"),
      row.getAs[Long]("m"), row.getAs[Long]("chapman_est"))
    assert(m <= math.min(n1, n2))
    assert(est === (n1 + 1) * (n2 + 1) / (m + 1) - 1)
    // Chapman dominates both catches and the observed union
    assert(est >= math.max(n1, n2))
    assert(est >= n1 + n2 - m)
    // the planted population: one perturbed twin per shingle-able doc
    val planted = graft.sources.Tables.load(spark, sf1, "documents")
      .filter(size(split(col("text"), " ")) >=
        graft.operators.Dedup.ShingleN + 1)
      .count()
    // both catchers see most of the planted pairs, so the estimate must
    // land within a factor-2 band of the planted count
    assert(est >= planted / 2 && est <= planted * 2,
      s"est=$est planted=$planted n1=$n1 n2=$n2 m=$m")
  }

  test("q340 Kneser-Ney table matches a brute-force model and its " +
    "released marginals close the unit-mass identity") {
    val rows = graft.operators.TextOps.q340KneserNey(spark, sf1)
      .collect()
    val bigs = graft.sources.Tables.load(spark, sf1, "documents")
      .select(split(col("text"), " ").as("ws"))
      .collect().map(_.getSeq[String](0))
      .filter(_.length >= 2)
      .flatMap(ws => ws.zip(ws.drop(1)))
    val c12 = bigs.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val c1 = bigs.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val r1 = c12.keys.toSeq.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val l2 = c12.keys.toSeq.groupBy(_._2).map { case (k, v) => k -> v.length.toLong }
    val nbb = c12.size.toLong
    assert(rows.length.toLong === nbb)
    rows.foreach { r =>
      val (w1, w2) = (r.getAs[String]("w1"), r.getAs[String]("w2"))
      assert(r.getAs[Long]("c12") === c12((w1, w2)))
      assert(r.getAs[Long]("c1") === c1(w1))
      assert(r.getAs[Long]("r1") === r1(w1))
      assert(r.getAs[Long]("l2") === l2(w2))
      assert(r.getAs[Long]("nbb") === nbb)
      val num = BigInt((4 * c12((w1, w2)) - 3).max(0)) * nbb +
        BigInt(3) * r1(w1) * l2(w2)
      assert(BigInt(r.getAs[Long]("pkn_ppb")) ===
        num * 1000000000L / (BigInt(4) * c1(w1) * nbb))
      assert(r.getAs[Long]("pkn_ppb") > 0L)
      assert(r.getAs[Long]("pkn_ppb") <= 1000000000L)
    }
    // unit mass per context from the RELEASED columns alone:
    // seen numerators + backoff mass over unseen w2 == 4*c1*nbb exactly
    rows.groupBy(_.getAs[String]("w1")).foreach { case (_, rs) =>
      val seenNum = rs.map(r =>
        BigInt((4 * r.getAs[Long]("c12") - 3).max(0)) *
          r.getAs[Long]("nbb") +
        BigInt(3) * r.getAs[Long]("r1") * r.getAs[Long]("l2")).sum
      val h = rs.head
      val unseenL2 = h.getAs[Long]("nbb") -
        rs.map(_.getAs[Long]("l2")).sum
      val unseenNum = BigInt(3) * h.getAs[Long]("r1") * unseenL2
      assert(seenNum + unseenNum ===
        BigInt(4) * h.getAs[Long]("c1") * h.getAs[Long]("nbb"))
    }
  }

  test("q341 TextRank matches a brute-force integer PageRank over the " +
    "adjacency graph") {
    val rows = graft.operators.TextOps.q341Textrank(spark, sf1)
      .collect()
    val toks = graft.sources.Tables.load(spark, sf1, "documents")
      .select(split(col("text"), " ").as("ws"))
      .collect().map(_.getSeq[String](0))
    val nodes = toks.flatten.distinct
    val dirEdges = toks.filter(_.length >= 2)
      .flatMap(ws => ws.zip(ws.drop(1))).filter(p => p._1 != p._2)
    val edges = (dirEdges ++ dirEdges.map(_.swap)).distinct
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val base = graft.operators.Graph.PrScale * 15L / 100L
    var rank = nodes.map(_ -> graft.operators.Graph.PrScale).toMap
    for (_ <- 1 to graft.operators.Graph.PrIters) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map(e => rank(e._1) * 85L / 100L / deg(e._1)).sum }
      rank = nodes.map(n => n -> (base + contrib.getOrElse(n, 0L))).toMap
    }
    assert(rows.length === nodes.length)
    rows.foreach { r =>
      assert(r.getAs[Long]("rank_scaled") ===
        rank(r.getAs[String]("word")),
        s"word=${r.getAs[String]("word")}")
    }
  }

  test("q342 difference-in-differences matches a brute-force cell model " +
    "and is near zero under the null split") {
    val row = graft.operators.Stats.q342DiffInDiff(spark, sf1).head()
    val ev = graft.sources.Tables.load(spark, sf1, "events")
      .select(col("user_id"), col("ts").cast("string"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val split = graft.operators.Analytics.CupedSplit
    val per = ev.groupBy(_._1).map { case (u, es) =>
      (u % 2, es.filter(_._2 < split).map(_._3).sum,
        es.filter(_._2 >= split).map(_._3).sum) }.toSeq
    def cell(a: Long)(f: ((Long, Long, Long)) => Long): Long =
      per.filter(_._1 == a).map(f).sum
    val (n0, n1) = (per.count(_._1 == 0L).toLong,
      per.count(_._1 == 1L).toLong)
    assert(row.getAs[Long]("n0") === n0)
    assert(row.getAs[Long]("n1") === n1)
    assert(row.getAs[Long]("s0_pre") === cell(0)(_._2))
    assert(row.getAs[Long]("s0_post") === cell(0)(_._3))
    assert(row.getAs[Long]("s1_pre") === cell(1)(_._2))
    assert(row.getAs[Long]("s1_post") === cell(1)(_._3))
    val did = (BigInt(cell(1)(_._3)) - cell(1)(_._2)) * n0 * 1000000 -
      (BigInt(cell(0)(_._3)) - cell(0)(_._2)) * n1 * 1000000
    assert(BigInt(row.getAs[Long]("did_ppm")) ===
      did / (BigInt(n1) * n0))
    // null split: |DiD| must be small relative to a period mean
    val scaleRef = (cell(0)(_._3) + cell(1)(_._3)).toDouble / (n0 + n1)
    assert(math.abs(row.getAs[Long]("did_ppm")) / 1e6 / 100.0 <
      scaleRef / 100.0,
      s"did_ppm=${row.getAs[Long]("did_ppm")} mean_post_cents=$scaleRef")
  }

  test("q343 Good-Turing spectrum matches a brute-force model and " +
    "closes both identities") {
    val rows = graft.operators.TextOps.q343GoodTuring(spark, sf1)
      .collect()
    val bigs = graft.sources.Tables.load(spark, sf1, "documents")
      .select(split(col("text"), " ").as("ws"))
      .collect().map(_.getSeq[String](0))
      .filter(_.length >= 2)
      .flatMap(ws => ws.zip(ws.drop(1)))
    val c12 = bigs.groupBy(identity).map { case (_, v) => v.length.toLong }
    val spec = c12.groupBy(identity).map { case (r, v) => r -> v.size.toLong }
    assert(rows.length === spec.size)
    rows.foreach { r =>
      val rr = r.getAs[Long]("r")
      assert(r.getAs[Long]("n_r") === spec(rr))
      assert(r.getAs[Long]("n_r1") === spec.getOrElse(rr + 1, 0L))
      assert(r.getAs[Long]("rstar_micro") ===
        (rr + 1) * spec.getOrElse(rr + 1, 0L) * 1000000L / spec(rr))
      assert(r.getAs[Long]("n_types") === c12.size.toLong)
      assert(r.getAs[Long]("n_tokens") === bigs.length.toLong)
    }
    // closure: sum r*N_r over the spectrum = bigram token count
    assert(rows.map(r => r.getAs[Long]("r") * r.getAs[Long]("n_r")).sum
      === bigs.length.toLong)
    // and sum N_r = type count
    assert(rows.map(_.getAs[Long]("n_r")).sum === c12.size.toLong)
  }

  test("q344 prefix CKA matches a brute-force BigInt model and lands " +
    "in (0, 1]") {
    val row = graft.operators.Similarity.q344CkaPrefix(spark, sf1).head()
    val qs = graft.sources.Tables.load(spark, sf1, "embeddings")
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
      .map { v =>
        val mx = v.map(math.abs).max
        v.map(x => if (mx == 0) 0L else math.floor(x * 127.0 / mx).toLong)
      }
    val n = qs.length
    val d = graft.operators.Similarity.GramDims
    val p = graft.operators.Similarity.MatryoshkaDim
    assert(row.getAs[Long]("n") === n.toLong)
    val sv = Array.tabulate(d)(i => qs.map(_(i)).sum)
    val am = Array.tabulate(d, d)((i, j) =>
      BigInt(n) * qs.map(q => q(i) * q(j)).sum - BigInt(sv(i)) * sv(j))
    var (fxx, fyy, fxy) = (BigInt(0), BigInt(0), BigInt(0))
    for (i <- 0 until d; j <- 0 until d) {
      val a2 = am(i)(j) * am(i)(j)
      if (i < p && j < p) fxx += a2
      fyy += a2
      if (i < p) fxy += a2
    }
    val cka = math.floor(fxy.toDouble * 1e9 /
      math.sqrt(math.max(fxx.toDouble * fyy.toDouble, 1.0))).toLong
    assert(row.getAs[Long]("cka_ppb") === cka)
    assert(row.getAs[Long]("cka_ppb") > 0L)
    assert(row.getAs[Long]("cka_ppb") <= 1000000000L)
  }

  test("q345 moment-sketch OLS matches a brute-force normal-equations " +
    "model and recovers the generator's price structure") {
    val row = graft.operators.Stats.q345OlsMoments(spark, sf1).head()
    val data = graft.sources.Tables.load(spark, sf1, "lineitem")
      .select(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)"),
        expr("CAST(l_quantity AS BIGINT)"),
        expr("CAST(floor(l_discount * 100) AS BIGINT)"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = data.length.toDouble
    assert(row.getAs[Long]("n") === data.length.toLong)
    val (s1, s2) = (data.map(_._2).sum.toDouble, data.map(_._3).sum.toDouble)
    val s11 = data.map(d => d._2 * d._2).sum.toDouble
    val s12 = data.map(d => d._2 * d._3).sum.toDouble
    val s22 = data.map(d => d._3 * d._3).sum.toDouble
    val sy = data.map(_._1).sum.toDouble
    val s1y = data.map(d => d._2 * d._1).sum.toDouble
    val s2y = data.map(d => d._3 * d._1).sum.toDouble
    val syy = data.map(d => BigInt(d._1) * d._1).sum.toDouble
    def det3(m: Array[Array[Double]]): Double =
      m(0)(0) * (m(1)(1) * m(2)(2) - m(1)(2) * m(2)(1)) -
      m(0)(1) * (m(1)(0) * m(2)(2) - m(1)(2) * m(2)(0)) +
      m(0)(2) * (m(1)(0) * m(2)(1) - m(1)(1) * m(2)(0))
    val xtx = Array(Array(n, s1, s2), Array(s1, s11, s12),
      Array(s2, s12, s22))
    val xty = Array(sy, s1y, s2y)
    val d0 = det3(xtx)
    def repl(k: Int): Array[Array[Double]] =
      xtx.zipWithIndex.map { case (r, i) => r.updated(k, xty(i)) }
    val betas = (0 to 2).map(k => det3(repl(k)) / d0)
    // double-fold order differs from the engines' exact-integer moments,
    // so compare at ppm resolution with a 1-ulp slack, not exact floor
    (0 to 2).foreach { k =>
      val got = row.getAs[Long](s"beta${k}_ppm")
      assert(math.abs(got - betas(k) * 1e6) <= 2.0,
        s"beta$k got=$got model=${betas(k) * 1e6}")
    }
    val sse = syy - betas(0) * sy - betas(1) * s1y - betas(2) * s2y
    val sst = syy - sy * sy / n
    val r2 = row.getAs[Long]("r2_ppm")
    assert(math.abs(r2 - (1.0 - sse / sst) * 1e6) <= 2.0)
    assert(r2 >= 0L && r2 <= 1000000L)
    // the OLS normal-equation invariant: residuals sum to zero, i.e. the
    // fitted plane passes through the mean point (1 cent slack covers
    // the ppm floor on each beta)
    val fittedMean = row.getAs[Long]("beta0_ppm") / 1e6 +
      row.getAs[Long]("beta1_ppm") / 1e6 * (s1 / n) +
      row.getAs[Long]("beta2_ppm") / 1e6 * (s2 / n)
    assert(math.abs(fittedMean - sy / n) < 1.0,
      s"fitted-at-mean=$fittedMean ybar=${sy / n}")
  }

  test("q346 vocabulary growth curve matches a brute-force prefix model") {
    val rows = graft.operators.TextOps.q346VocabGrowth(spark, sf1)
      .orderBy("b").collect()
    val docs = graft.sources.Tables.load(spark, sf1, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    val nd = docs.length.toLong
    val bks = graft.operators.TextOps.GrowthBuckets
    assert(rows.length.toLong === bks)
    def bucket(id: Long): Long = id * bks / nd
    val cumToks = (0L until bks).map(b =>
      docs.filter(d => bucket(d._1) <= b).map(_._2.length.toLong).sum)
    val cumTypes = (0L until bks).map(b =>
      docs.filter(d => bucket(d._1) <= b)
        .flatMap(d => d._2.sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")))
        .distinct.length.toLong)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("b") === i.toLong)
      assert(r.getAs[Long]("cum_tokens") === cumToks(i))
      assert(r.getAs[Long]("cum_types") === cumTypes(i), s"bucket $i")
    }
    // growth is monotone and the curve is strictly below the token line
    rows.foreach(r =>
      assert(r.getAs[Long]("cum_types") <= r.getAs[Long]("cum_tokens")))
  }

  test("q348 KN cross-entropy matches a brute-force model and obeys " +
    "Gibbs' inequality") {
    val row = graft.operators.TextOps.q348KnCrossEntropy(spark, sf1)
      .head()
    val bigs = graft.sources.Tables.load(spark, sf1, "documents")
      .select(split(col("text"), " ").as("ws"))
      .collect().map(_.getSeq[String](0))
      .filter(_.length >= 2)
      .flatMap(ws => ws.zip(ws.drop(1)))
    val c12 = bigs.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val c1 = bigs.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val r1 = c12.keys.toSeq.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val l2 = c12.keys.toSeq.groupBy(_._2).map { case (k, v) => k -> v.length.toLong }
    val nbb = c12.size.toLong
    val nllSum = -c12.map { case ((w1, w2), k) =>
      math.floor(k.toDouble * math.log(
        ((4 * k - 3).max(0).toDouble * nbb + 3.0 * r1(w1) * l2(w2)) /
          (4.0 * c1(w1) * nbb)) * 1e9).toLong
    }.sum
    val n = bigs.length.toLong
    assert(row.getAs[Long]("n_tokens") === n)
    assert(row.getAs[Long]("nll_sum_ppb") === nllSum)
    assert(row.getAs[Long]("h_ppb") === nllSum / n)
    assert(row.getAs[Long]("ppl_micro") ===
      math.floor(math.exp((nllSum / n).toDouble / 1e9) * 1e6).toLong)
    // Gibbs: model cross-entropy >= empirical conditional MLE entropy
    // H_mle = -sum c12 ln(c12/c1) / n (the data's own code length)
    val hMle = -c12.map { case ((w1, _), k) =>
      k.toDouble * math.log(k.toDouble / c1(w1)) }.sum / n
    assert(row.getAs[Long]("h_ppb").toDouble / 1e9 >= hMle - 1e-9,
      s"h=${row.getAs[Long]("h_ppb") / 1e9} mle=$hMle")
  }

  test("q349 SAX words match a brute-force PAA + rank-breakpoint model") {
    val rows = graft.operators.Stats.q349SaxWords(spark, sf1)
      .orderBy("seg").collect()
    val daily = graft.sources.Tables.load(spark, sf1, "events")
      .select(to_date(col("ts")).as("day"))
      .groupBy("day").count().orderBy("day")
      .collect().map(_.getLong(1))
    val w = graft.operators.Stats.SaxSegments
    val a = graft.operators.Stats.SaxAlphabet
    val nd = daily.length.toLong
    val segs = daily.zipWithIndex
      .groupBy { case (_, i) => i.toLong * w / nd }
      .toSeq.sortBy(_._1)
      .map { case (seg, xs) =>
        (seg, xs.length.toLong, xs.map(_._1).sum) }
    assert(rows.length === segs.length)
    val keys = segs.map { case (seg, l, sm) =>
      (seg, BigInt(sm) * BigInt("1000000000000") / l) }
    val rankOf = keys.sortBy { case (seg, k) => (k, seg) }.zipWithIndex
      .map { case ((seg, _), r) => seg -> r.toLong }.toMap
    rows.zip(segs).foreach { case (r, (seg, l, sm)) =>
      assert(r.getAs[Long]("seg") === seg)
      assert(r.getAs[Long]("seg_len") === l)
      assert(r.getAs[Long]("seg_sum") === sm)
      assert(BigInt(r.getAs[Long]("mean_key")) ===
        BigInt(sm) * BigInt("1000000000000") / l)
      assert(r.getAs[String]("symbol") ===
        (97 + rankOf(seg) * a / w).toChar.toString)
    }
    // rank breakpoints equidistribute: each symbol appears at most
    // ceil(w/a) + (tie slack = 0, ranks are distinct) times
    val counts = rows.groupBy(_.getAs[String]("symbol")).values.map(_.length)
    assert(counts.forall(_ <= ((w + a - 1) / a).toInt))
  }

  test("q350 Fellegi-Sunter weights match a brute-force model and show " +
    "the planted agreement structure") {
    val rows = graft.operators.Dedup.q350FellegiSunter(spark, sf1)
      .collect().map(r => r.getAs[String]("field") -> r).toMap
    val docs = graft.sources.Tables.load(spark, sf1, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def fields(text: String): (String, String, String, Long) = {
      val ws = text.split(" ", -1)
      (ws.head, if (ws.length >= 2) ws(1) else null,
        ws.last, ws.length.toLong / 8)
    }
    val off = graft.operators.Dedup.PlantedOffset
    val all = docs.map { case (id, t) => id -> fields(t) }.toMap ++
      docs.map { case (id, t) =>
        (id + off) -> fields(t.split(" ").dropRight(1).mkString(" ")) }
    val ids = docs.map(_._1).toSet
    val labeled =
      docs.map { case (id, _) => (all(id), all(id + off), 1L) } ++
      docs.collect { case (id, _) if ids(id + 1) =>
        (all(id), all(id + 1), 0L) }
    def agrees(a: (String, String, String, Long),
        b: (String, String, String, Long), k: Int): Long = k match {
      case 0 => if (a._1 != null && a._1 == b._1) 1L else 0L
      case 1 => if (a._2 != null && b._2 != null && a._2 == b._2) 1L else 0L
      case 2 => if (a._3 != null && a._3 == b._3) 1L else 0L
      case _ => if (a._4 == b._4) 1L else 0L
    }
    val names = Seq("first", "second", "last", "len_bucket")
    names.zipWithIndex.foreach { case (name, k) =>
      val r = rows(name)
      val m = labeled.filter(_._3 == 1L)
      val u = labeled.filter(_._3 == 0L)
      val (ma, ua) = (m.map(p => agrees(p._1, p._2, k)).sum,
        u.map(p => agrees(p._1, p._2, k)).sum)
      assert(r.getAs[Long]("m_agree") === ma, name)
      assert(r.getAs[Long]("n_match") === m.length.toLong)
      assert(r.getAs[Long]("u_agree") === ua, name)
      assert(r.getAs[Long]("n_nonmatch") === u.length.toLong)
      val wa = math.floor(math.log(
        (ma + 1.0) * (u.length + 2) / ((ua + 1.0) * (m.length + 2))) /
        math.log(2.0) * 1000).toLong
      val wd = math.floor(math.log(
        (m.length - ma + 1.0) * (u.length + 2) /
          ((u.length - ua + 1.0) * (m.length + 2))) /
        math.log(2.0) * 1000).toLong
      assert(r.getAs[Long]("w_agree_milli") === wa, name)
      assert(r.getAs[Long]("w_disagree_milli") === wd, name)
    }
    // planted structure: first-token agreement is strongly informative,
    // its disagreement strongly negative; the dropped last word pulls
    // the last-token agreement weight well below first's
    assert(rows("first").getAs[Long]("w_agree_milli") > 1000L)
    assert(rows("first").getAs[Long]("w_disagree_milli") < -1000L)
    assert(rows("last").getAs[Long]("w_agree_milli") <
      rows("first").getAs[Long]("w_agree_milli"))
  }

  test("q351 power iteration replays the integer recursion exactly and " +
    "finds the top principal direction") {
    val rows = graft.operators.Similarity.q351PowerIteration(spark, sf1)
      .orderBy("dim").collect()
    val d = graft.operators.Similarity.GramDims
    val scale = graft.operators.Similarity.PowerScale
    assert(rows.length === d)
    // rebuild the exact symmetric integer gram from the embeddings
    val qs = graft.sources.Tables.load(spark, sf1, "embeddings")
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
      .map { v =>
        val mx = v.map(math.abs).max
        v.map(x => if (mx == 0) 0L else math.floor(x * 127.0 / mx).toLong)
      }
    val a = Array.tabulate(d, d)((i, j) =>
      qs.map(q => q(i) * q(j)).sum)
    // exact integer replay
    var x = Array.fill(d)(scale)
    for (_ <- 1 to graft.operators.Similarity.PowerIters) {
      val y = Array.tabulate(d)(i =>
        (0 until d).map(j => BigInt(a(i)(j)) * x(j)).sum)
      val m = y.map(_.abs).max
      x = y.map(v => (v * scale / m).toLong)
    }
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("x_scaled") === x(i), s"dim $i")
    }
    // objective check: iid unit-norm embeddings have a near-flat gram
    // spectrum, so the DIRECTION is ill-conditioned at any fixed round
    // count — but the Rayleigh quotient (the variance PCA maximizes)
    // converges fast; the released vector must capture >= 95% of the
    // converged quotient
    var v = Array.fill(d)(1.0)
    for (_ <- 1 to 500) {
      val y = Array.tabulate(d)(i =>
        (0 until d).map(j => a(i)(j).toDouble * v(j)).sum)
      val n = math.sqrt(y.map(t => t * t).sum)
      v = y.map(_ / n)
    }
    def rayleigh(u: Array[Double]): Double = {
      val au = Array.tabulate(d)(i =>
        (0 until d).map(j => a(i)(j).toDouble * u(j)).sum)
      u.zip(au).map { case (p, q) => p * q }.sum /
        u.map(t => t * t).sum
    }
    val xr = rows.map(_.getAs[Long]("x_scaled").toDouble)
    val ratio = rayleigh(xr) / rayleigh(v)
    assert(ratio > 0.95 && ratio <= 1.0 + 1e-9, s"rayleigh ratio=$ratio")
  }

  test("q352 BH-FDR matches a brute-force staircase and its p-values " +
    "are consistent with the z statistics") {
    val rows = graft.operators.Stats.q352BhFdr(spark, sf1)
      .orderBy("rk").collect()
    val data = graft.sources.Tables.load(spark, sf1, "documents")
      .select(col("source"),
        size(split(col("text"), " ")).cast("bigint"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val per = data.groupBy(_._1).map { case (src, vs) =>
      (src, vs.length.toLong, vs.map(_._2).sum,
        vs.map(v => v._2 * v._2).sum) }.toSeq
    val (n, st, qt) = (per.map(_._2).sum, per.map(_._3).sum,
      per.map(_._4).sum)
    val m = per.length.toLong
    def welch(ns: Long, ss: Long, qs: Long): Double = {
      val (n2, s2, q2) = (n - ns, st - ss, qt - qs)
      (ss.toDouble / ns - s2.toDouble / n2) /
        math.sqrt((ns * qs.toDouble - ss.toDouble * ss) /
            (ns.toDouble * ns * (ns - 1.0)) +
          (n2 * q2.toDouble - s2.toDouble * s2) /
            (n2.toDouble * n2 * (n2 - 1.0)))
    }
    def tail(z: Double): Double = {
      val t = 1.0 / (1.0 + 0.2316419 * z)
      math.exp(-z * z / 2.0) * 0.3989422804014327 *
        (((((1.330274429 * t - 1.821255978) * t + 1.781477937) * t
          - 0.356563782) * t + 0.319381530) * t)
    }
    val model = per.map { case (src, ns, ss, qs) =>
      val z = welch(ns, ss, qs)
      (src, ns, math.floor(z * 1e6).toLong,
        math.floor(2.0 * tail(math.abs(z)) * 1e9).toLong)
    }.sortBy(t => (t._4, t._1))
    assert(rows.length.toLong === m)
    val kstar = model.zipWithIndex.map { case ((_, _, _, p), i) =>
      if (BigInt(p) * graft.operators.Stats.BhAlphaInv * m <=
        BigInt(i + 1) * 1000000000L) (i + 1).toLong else 0L }.max
    rows.zip(model).zipWithIndex.foreach {
      case ((r, (src, ns, zm, pp)), i) =>
        assert(r.getAs[String]("source") === src, s"rank ${i + 1}")
        assert(r.getAs[Long]("ns") === ns)
        assert(r.getAs[Long]("z_micro") === zm)
        assert(r.getAs[Long]("p_ppb") === pp)
        assert(r.getAs[Long]("rk") === (i + 1).toLong)
        assert(r.getAs[Long]("bh_reject") ===
          (if ((i + 1).toLong <= kstar) 1L else 0L))
    }
    // rejection is monotone in rank (the staircase closure)
    val rejects = rows.map(_.getAs[Long]("bh_reject"))
    assert(rejects.sliding(2).forall(w => w(0) >= w(1)))
    // p is two-sided: big |z| pairs with small p
    rows.foreach { r =>
      assert(r.getAs[Long]("p_ppb") >= 0L)
      assert(r.getAs[Long]("p_ppb") <= 1000000001L)
    }
  }

  test("q354 James-Stein shrinkage matches a brute-force model and " +
    "shrinks toward the grand mean") {
    val rows = graft.operators.Stats.q354JamesStein(spark, sf1)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val data = graft.sources.Tables.load(spark, sf1, "documents")
      .select(col("source"),
        size(split(col("text"), " ")).cast("bigint"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val per = data.groupBy(_._1).map { case (src, vs) =>
      (src, vs.length.toLong, vs.map(_._2).sum,
        vs.map(v => v._2 * v._2).sum) }.toSeq
    // the equal-n precondition the n0 = n/m substitution relies on
    assert(per.map(_._2).distinct.size === 1)
    val (n, st, qt, m) = (per.map(_._2).sum, per.map(_._3).sum,
      per.map(_._4).sum, per.length.toLong)
    val t2s = per.map { case (_, ns, ss, _) =>
      (BigInt(ss) * ss * 1000000L / ns).toLong }.sum
    val ds = per.map { case (_, ns, ss, _) =>
      val d = ss.toDouble / ns - st.toDouble / n
      math.floor(d * d * 1e9).toLong }.sum
    val sigma2 = (qt.toDouble - t2s.toDouble / 1e6) / (n - m)
    val c = 1.0 - (m - 3.0) * (sigma2 * m / n.toDouble) / (ds / 1e9)
    val cPlus = math.max(c, 0.0)
    per.foreach { case (src, ns, ss, _) =>
      val r = rows(src)
      assert(r.getAs[Long]("ns") === ns)
      assert(r.getAs[Long]("mean_ppm") === ss * 1000000L / ns)
      assert(r.getAs[Long]("c_ppm") ===
        math.floor(cPlus * 1e6).toLong)
      val shrunk = st.toDouble / n +
        cPlus * (ss.toDouble / ns - st.toDouble / n)
      assert(r.getAs[Long]("shrunk_ppm") ===
        math.floor(shrunk * 1e6).toLong, src)
      // shrinkage: the adjusted mean is never further from the grand
      // mean than the raw mean (1 ppm slack for the two floors)
      val gm = st.toDouble / n * 1e6
      assert(math.abs(r.getAs[Long]("shrunk_ppm") - gm) <=
        math.abs(r.getAs[Long]("mean_ppm") - gm) + 1.0, src)
    }
    // on iid sources the factor is a genuine contraction
    val c0 = rows.values.head.getAs[Long]("c_ppm")
    assert(c0 >= 0L && c0 <= 1000000L)
  }

  test("q355 circular block bootstrap replays the deterministic " +
    "construction and the CI brackets the point mean") {
    val row = graft.operators.Stats.q355BlockBootstrap(spark, sf1)
      .head()
    val daily = graft.sources.Tables.load(spark, sf1, "events")
      .select(to_date(col("ts")).as("day"))
      .groupBy("day").count().orderBy("day")
      .collect().map(_.getLong(1))
    val dd = daily.length.toLong
    val st = daily.sum
    val (bB, bL) = (graft.operators.Stats.CbbB,
      graft.operators.Stats.CbbL)
    assert(row.getAs[Long]("n_days") === dd)
    assert(row.getAs[Long]("point_mean_ppm") ===
      (BigInt(st) * 1000000L / dd).toLong)
    val nblk = math.ceil(dd.toDouble / bL).toLong
    val rmeans = (0L until bB).map { b =>
      val xs = for {
        j <- 0L until nblk
        k <- 0L until bL
        if j * bL + k < dd
      } yield daily(((((b * 64 + j) * 1103515245L + 12345L) %
        2147483647L + k) % dd).toInt)
      (BigInt(xs.sum) * 1000000L / xs.length).toLong
    }.sorted
    assert(row.getAs[Long]("ci_lo_ppm") === rmeans(4))
    assert(row.getAs[Long]("ci_hi_ppm") === rmeans(bB.toInt - 5))
    assert(row.getAs[Long]("ci_lo_ppm") <=
      row.getAs[Long]("point_mean_ppm"))
    assert(row.getAs[Long]("ci_hi_ppm") >=
      row.getAs[Long]("point_mean_ppm"))
  }

  test("damerau_lev implements TRUE Damerau-Levenshtein (not OSA) and " +
    "matches a reference recursion") {
    import org.apache.spark.unsafe.types.UTF8String
    def d(a: String, b: String): Int =
      graft.functions.DamerauLev.dist(
        UTF8String.fromString(a), UTF8String.fromString(b))
    // the OSA/true-DL distinguishing case: CA -> AC -> ABC
    assert(d("CA", "ABC") === 2)
    assert(d("ABC", "CA") === 2)
    assert(d("ab", "ba") === 1)
    assert(d("abcd", "badc") === 2)
    assert(d("kitten", "sitting") === 3)
    assert(d("", "ab") === 2)
    assert(d("same", "same") === 0)
    // reference: exponential recursion with memo over a small battery
    def ref(a: String, b: String): Int = {
      val memo = collection.mutable.Map.empty[(Int, Int, Map[Char, Int], Int), Int]
      // Lowrance-Wagner via the matrix formulation instead (tractable)
      val (la, lb) = (a.length, b.length)
      val inf = la + lb
      val m = Array.ofDim[Int](la + 2, lb + 2)
      m(0)(0) = inf
      for (i <- 0 to la) { m(i + 1)(1) = i; m(i + 1)(0) = inf }
      for (j <- 0 to lb) { m(1)(j + 1) = j; m(0)(j + 1) = inf }
      val da = collection.mutable.Map.empty[Char, Int].withDefaultValue(0)
      for (i <- 1 to la) {
        var db = 0
        for (j <- 1 to lb) {
          val (i1, j1) = (da(b(j - 1)), db)
          val cost = if (a(i - 1) == b(j - 1)) { db = j; 0 } else 1
          m(i + 1)(j + 1) = Seq(m(i)(j) + cost, m(i + 1)(j) + 1,
            m(i)(j + 1) + 1,
            m(i1)(j1) + (i - i1 - 1) + 1 + (j - j1 - 1)).min
        }
        da(a(i - 1)) = i
      }
      m(la + 1)(lb + 1)
    }
    val words = Seq("", "a", "ab", "ba", "abc", "cab", "bca", "aab",
      "abab", "baba", "abcde", "aebcd", "supplier01", "supplier10")
    for (x <- words; y <- words)
      assert(d(x, y) === ref(x, y), s"$x vs $y")
  }

  test("q356 transposition-aware typo join equals brute-force DL<=1 " +
    "over all name pairs and strictly widens q194") {
    val got = graft.operators.Analytics.q356TypoJoinDl(spark, sf1)
      .collect()
      .map(r => (r.getAs[String]("w1"), r.getAs[String]("w2"),
        r.getAs[Long]("dl"))).toSet
    import org.apache.spark.unsafe.types.UTF8String
    def d(a: String, b: String): Long = graft.functions.DamerauLev
      .dist(UTF8String.fromString(a), UTF8String.fromString(b)).toLong
    val names = graft.sources.Tables.load(spark, sf1, "supplier")
      .select("s_name").distinct().collect().map(_.getString(0))
    val want = (for {
      x <- names; y <- names if x < y
      dl = d(x, y) if dl <= 1L
    } yield (x, y, dl)).toSet
    assert(got === want,
      s"only-got=${(got -- want).take(5)} only-want=${(want -- got).take(5)}")
    val lev1 = graft.operators.Analytics.q194TypoJoin(spark, sf1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val pairs = got.map(t => (t._1, t._2))
    assert(lev1.subsetOf(pairs))
    // sf0.001's ten names differ only in the last digit, so no
    // transposition pair can exist there — plant one (12 vs 21) and
    // show the widening on a corpus where the class occurs
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-q356-transp").toString
    Seq((12L, "Supplier#000000012", 0, 0.0),
        (21L, "Supplier#000000021", 0, 0.0),
        (13L, "Supplier#000000013", 0, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/supplier.parquet")
    val planted = graft.operators.Analytics.q356TypoJoinDl(spark, dir)
      .collect()
      .map(r => (r.getAs[String]("w1"), r.getAs[String]("w2"),
        r.getAs[Long]("dl"))).toSet
    assert(planted.contains(
      ("Supplier#000000012", "Supplier#000000013", 1L)))
    assert(planted.contains(
      ("Supplier#000000012", "Supplier#000000021", 1L)),
      s"transposition pair missed: $planted")
    val lev1Planted = graft.operators.Analytics.q194TypoJoin(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(!lev1Planted.contains(
      ("Supplier#000000012", "Supplier#000000021")),
      "q194 should miss the transposition (lev = 2) — widening claim")
  }

  test("q357 permutation test replays the deterministic relabeling and " +
    "is unremarkable under the null split") {
    val row = graft.operators.Stats.q357PermutationTest(spark, sf1)
      .head()
    val per = graft.sources.Tables.load(spark, sf1, "events")
      .select(col("user_id"),
        expr("CAST(floor(value * 100) AS BIGINT)"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (u, vs) => (u, vs.map(_._2).sum) }.toSeq
    val n = per.length.toLong
    val st = per.map(_._2).sum
    assert(row.getAs[Long]("n_users") === n)
    def diffPpm(s1: Long, n1: Long): Long =
      math.floor((s1.toDouble / math.max(n1, 1) -
        (st.toDouble - s1) / math.max(n - n1, 1)) * 1e6).toLong
    val obs = diffPpm(per.filter(_._1 % 2 == 1).map(_._2).sum,
      per.count(_._1 % 2 == 1).toLong)
    assert(row.getAs[Long]("diff_obs_ppm") === obs)
    val bB = graft.operators.Stats.PermB
    val extreme = (0L until bB).count { b =>
      var s1 = 0L; var n1 = 0L
      per.foreach { case (u, x) =>
        val arm = ((u * 64 + b) * 1103515245L + 12345L) %
          2147483647L % 2
        if (arm == 1L) { s1 += x; n1 += 1 }
      }
      math.abs(diffPpm(s1, n1)) >= math.abs(obs)
    }.toLong
    assert(row.getAs[Long]("n_extreme") === extreme)
    assert(row.getAs[Long]("p_milli") ===
      (1 + extreme) * 1000 / (bB + 1))
    // null split: the permutation p should not be extreme
    assert(row.getAs[Long]("p_milli") >= 10L,
      s"p_milli=${row.getAs[Long]("p_milli")} under a null split")
  }

  test("q358 CMH strata match a brute-force 2x2 model and the pooled " +
    "chi-square is unremarkable under the null split") {
    val rows = graft.operators.Stats.q358CmhTest(spark, sf1)
      .orderBy("stratum").collect()
    val ev = graft.sources.Tables.load(spark, sf1, "events")
      .select(expr("CAST(floor(value / 10) AS BIGINT)"),
        (col("user_id") % 2), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val model = ev.groupBy(_._1).map { case (st, es) =>
      st -> (es.count(e => e._2 == 1L && e._3 == "purchase").toLong,
        es.count(_._2 == 1L).toLong,
        es.count(_._3 == "purchase").toLong, es.length.toLong)
    }
    assert(rows.length === model.size)
    val ppb = BigInt(1000000000L)
    rows.foreach { r =>
      val (a, r1, c1, nt) = model(r.getAs[Long]("stratum"))
      assert(r.getAs[Long]("a_11") === a)
      assert(r.getAs[Long]("r1") === r1)
      assert(r.getAs[Long]("c1") === c1)
      assert(r.getAs[Long]("nt") === nt)
      assert(BigInt(r.getAs[Long]("e1_ppb")) === BigInt(c1) * r1 * ppb / nt)
      assert(BigInt(r.getAs[Long]("v1_ppb")) ===
        BigInt(c1) * (nt - c1) * r1 * (nt - r1) * ppb /
          (BigInt(nt) * nt * math.max(nt - 1, 1)))
      assert(BigInt(r.getAs[Long]("or_num_ppb")) ===
        BigInt(a) * (nt - r1 - c1 + a) * ppb / nt)
      assert(BigInt(r.getAs[Long]("or_den_ppb")) ===
        BigInt(r1 - a) * (c1 - a) * ppb / nt)
    }
    // consumer fold: CMH chi-square with continuity correction
    val sa = rows.map(_.getAs[Long]("a_11")).sum.toDouble
    val se = rows.map(_.getAs[Long]("e1_ppb")).sum / 1e9
    val sv = rows.map(_.getAs[Long]("v1_ppb")).sum / 1e9
    val chi = math.pow(math.abs(sa - se) - 0.5, 2) / sv
    assert(chi < 15.0, s"null split should not produce chi=$chi")
    // and the MH odds ratio sits near 1 under the null
    val orMh = rows.map(_.getAs[Long]("or_num_ppb")).sum.toDouble /
      rows.map(_.getAs[Long]("or_den_ppb")).sum
    assert(orMh > 0.5 && orMh < 2.0, s"OR_MH=$orMh")
  }

  test("q359 DeLong AUC variance matches a brute-force placement model") {
    val row = graft.operators.Stats.q359AucDelong(spark, sf1).head()
    val data = graft.sources.Tables.load(spark, sf1, "events")
      .select(expr("CAST(floor(value * 100) AS BIGINT)"),
        (col("event_type") === "purchase"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    val pos = data.filter(_._2).map(_._1)
    val neg = data.filterNot(_._2).map(_._1)
    val (n, m) = (pos.length, neg.length)
    assert(row.getAs[Long]("npos") === n.toLong)
    assert(row.getAs[Long]("nneg") === m.toLong)
    // placements over the common 2m / 2n denominators, exactly
    val negSorted = neg.sorted
    val posSorted = pos.sorted
    def below(sorted: Array[Long], v: Long): (Long, Long) = {
      var lo = 0; var hi = sorted.length
      while (lo < hi) { val md = (lo + hi) / 2
        if (sorted(md) < v) lo = md + 1 else hi = md }
      var hi2 = sorted.length; var lo2 = lo
      while (lo2 < hi2) { val md = (lo2 + hi2) / 2
        if (sorted(md) <= v) lo2 = md + 1 else hi2 = md }
      (lo.toLong, (lo2 - lo).toLong)
    }
    val p10 = pos.map { v =>
      val (b, t) = below(negSorted, v); 2 * b + t }
    val p01 = neg.map { v =>
      val (b, t) = below(posSorted, v)
      val above = n - b - t
      2 * above + t }
    assert(row.getAs[Long]("u2") === p10.sum)
    val auc = p10.sum.toDouble / (2.0 * n * m)
    assert(row.getAs[Long]("auc_ppb") ===
      math.floor(auc * 1e9).toLong)
    val s10 = (p10.map(p => BigInt(p) * p).sum.toDouble /
      (4.0 * m.toDouble * m) - n * (auc * auc)) / (n - 1.0)
    val s01 = (p01.map(p => BigInt(p) * p).sum.toDouble /
      (4.0 * n.toDouble * n) - m * (auc * auc)) / (m - 1.0)
    val se = math.sqrt(s10 / n + s01 / m)
    // the engine computes the same formula from the same exact
    // integers but in a different double op order (census fold vs
    // per-observation fold), so compare at ppb with 2-ulp slack
    assert(math.abs(row.getAs[Long]("se_ppb") -
      math.floor(se * 1e9).toLong) <= 2L,
      s"se got=${row.getAs[Long]("se_ppb")} model=${se * 1e9}")
    assert(row.getAs[Long]("ci_lo_ppb") <= row.getAs[Long]("auc_ppb"))
    assert(row.getAs[Long]("ci_hi_ppb") >= row.getAs[Long]("auc_ppb"))
    assert(row.getAs[Long]("se_ppb") > 0L)
  }

  test("q339 log-rank matches a brute-force survival model") {
    val rows = graft.operators.Stats.q339LogRank(spark, sf1)
      .orderBy("d").collect()
    val ev = graft.sources.Tables.load(spark, sf1, "events")
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val te = ev.map(_._3).max
    val t0 = ev.filter(_._2 == "signup").groupBy(_._1)
      .map { case (u, v) => u -> v.map(_._3).min }
    val tp = ev.filter(_._2 == "purchase").groupBy(_._1)
      .flatMap { case (u, v) => t0.get(u).flatMap { s =>
        val c = v.map(_._3).filter(_ >= s)
        if (c.isEmpty) None else Some(u -> c.min) } }
    val us = 86400000000L
    val obs = t0.toSeq.map { case (u, s) =>
      tp.get(u) match {
        case Some(p) => ((p - s) / us, 1L, u % 2)
        case None => ((te - s) / us, 0L, u % 2) } }
    assert(rows.map(_.getAs[Long]("d")).toSeq ===
      obs.map(_._1).distinct.sorted)
    rows.foreach { r =>
      val d = r.getAs[Long]("d")
      val atRisk = obs.filter(_._1 >= d)
      val here = obs.filter(_._1 == d)
      val (nr, nr1) = (atRisk.length.toLong, atRisk.count(_._3 == 1L).toLong)
      val (de, de1) = (here.count(_._2 == 1L).toLong,
        here.count(o => o._2 == 1L && o._3 == 1L).toLong)
      assert(r.getAs[Long]("n_risk") === nr)
      assert(r.getAs[Long]("n_risk_1") === nr1)
      assert(r.getAs[Long]("n_event") === de)
      assert(r.getAs[Long]("n_event_1") === de1)
      val ppb = BigInt(1000000000L)
      assert(BigInt(r.getAs[Long]("e1_ppb")) ===
        BigInt(de) * nr1 * ppb / nr)
      assert(BigInt(r.getAs[Long]("v1_ppb")) ===
        BigInt(de) * (nr - de) * nr1 * (nr - nr1) * ppb /
          (BigInt(nr) * nr * BigInt(math.max(nr - 1L, 1L))))
    }
    // the consumer's z from the released terms tracks the double model
    val o1 = rows.map(_.getAs[Long]("n_event_1")).sum.toDouble
    val e1 = rows.map(_.getAs[Long]("e1_ppb")).sum / 1e9
    val v1 = rows.map(_.getAs[Long]("v1_ppb")).sum / 1e9
    assert(v1 > 0.0)
    val z = (o1 - e1) / math.sqrt(v1)
    assert(math.abs(z) < 10.0, s"arms are a null split; z=$z")
  }

  /** Doubled midranks (2·r̄) for a value sequence — the shared model for
    * the q320/q322 rank checks (same convention as the q303 model). */
  private def midrank2(vals: Array[Long]): Map[Long, Long] = {
    val sorted = vals.sorted
    val out = scala.collection.mutable.Map[Long, Long]()
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length && sorted(j) == sorted(i)) j += 1
      out(sorted(i)) = (i + 1).toLong + j.toLong // 2 * midrank
      i = j
    }
    out.toMap
  }

  test("q320 Spearman matches brute-force Pearson over midranks") {
    val row = Stats.q320Spearman(spark, sf1).head()
    val pairs = graft.sources.Tables.load(spark, sf1, "lineitem")
      .select(expr("CAST(l_quantity AS BIGINT)").as("q"),
        expr("CAST(floor(l_discount * 100) AS BIGINT)").as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ux = midrank2(pairs.map(_._1))
    val uy = midrank2(pairs.map(_._2))
    val n = BigInt(pairs.length)
    def S(f: ((Long, Long)) => BigInt) = pairs.map(f).sum
    val sx = S(p => BigInt(ux(p._1)))
    val sy = S(p => BigInt(uy(p._2)))
    val sxx = S(p => BigInt(ux(p._1)) * ux(p._1))
    val syy = S(p => BigInt(uy(p._2)) * uy(p._2))
    val sxy = S(p => BigInt(ux(p._1)) * uy(p._2))
    val num = n * sxy - sx * sy
    val denX = n * sxx - sx * sx
    val denY = n * syy - sy * sy
    assert(row.getAs[Long]("n") === pairs.length.toLong)
    val rho = num.toDouble / math.sqrt(denX.toDouble * denY.toDouble)
    assert(row.getAs[Long]("rho_ppm") === math.floor(rho * 1e6).toLong)
    // independence of the generator's draws: |rho| under 5%
    assert(math.abs(row.getAs[Long]("rho_ppm")) < 50000L)
  }

  test("q321 KS matches the brute-force ECDF sup and is scale-free") {
    val row = Stats.q321KsTest(spark, sf1).head()
    val vals = graft.sources.Tables.load(spark, sf1, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .select((col("event_type") === "purchase").as("arm"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .collect().map(r => (r.getBoolean(0), r.getLong(1)))
    val n1 = vals.count(_._1).toLong
    val n2 = vals.length - n1
    val grid = vals.map(_._2).distinct.sorted
    var best = -1L
    var bestVc = Long.MaxValue
    grid.foreach { v =>
      val c1 = vals.count(p => p._1 && p._2 <= v).toLong
      val c2 = vals.count(p => !p._1 && p._2 <= v).toLong
      val d = math.abs(n2 * c1 - n1 * c2)
      if (d > best) { best = d; bestVc = v }
    }
    assert(row.getAs[Long]("n1") === n1)
    assert(row.getAs[Long]("n2") === n2)
    assert(row.getAs[Long]("d_num") === best)
    assert(row.getAs[Long]("vc_at") === bestVc)
    assert(row.getAs[Long]("ks_ppm") ===
      (BigInt(best) * 1000000 / (BigInt(n1) * n2)).toLong)
    // D is a probability-scale statistic: 0 <= ks_ppm <= 1e6
    assert(row.getAs[Long]("ks_ppm") >= 0L)
    assert(row.getAs[Long]("ks_ppm") <= 1000000L)
  }

  test("q322 Kruskal-Wallis matches a brute-force pooled-midrank model") {
    val row = Stats.q322KruskalWallis(spark, sf1).head()
    val vals = graft.sources.Tables.load(spark, sf1, "events")
      .select(col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val u = midrank2(vals.map(_._2))
    val n = vals.length.toLong
    assert(row.getAs[Long]("n") === n)
    val ties = vals.groupBy(_._2).values
      .map(g => { val m = g.length.toLong; m * m * m - m }).sum
    assert(row.getAs[Long]("ties") === ties)
    val byG = vals.groupBy(_._1)
    assert(byG.keySet === Stats.KwTypes.toSet,
      "fixed pivot domain must cover exactly the observed types")
    var hsum = 0.0
    Stats.KwTypes.foreach { g =>
      val xs = byG(g)
      val ng = xs.length.toLong
      val r2 = xs.map(p => u(p._2)).sum
      assert(row.getAs[Long](s"n_$g") === ng)
      assert(row.getAs[Long](s"r2_$g") === r2)
      hsum += r2.toDouble * r2 / 4.0 / ng
    }
    val h = (12.0 / (n.toDouble * (n + 1)) * hsum - 3.0 * (n + 1.0)) /
      (1.0 - ties.toDouble / (n.toDouble * n * n - n))
    assert(row.getAs[Long]("h_ppm") === math.floor(h * 1e6).toLong)
  }

  test("q367 Zipf fit matches a brute-force log-moment model and slopes " +
      "downward") {
    val row = graft.operators.TextOps.q367ZipfFit(spark, sf1).head()
    val freq = graft.sources.Tables.load(spark, sf1, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(row.getAs[Long]("n_types") === freq.length.toLong)
    assert(row.getAs[Long]("n_tokens") === freq.map(_._2).sum)
    val head = freq.sortBy { case (w, f) => (-f, w) }
      .take(graft.operators.TextOps.ZipfTopV)
    val cells = head.zipWithIndex.map { case ((_, f), i) =>
      (math.floor(math.log((i + 1).toDouble) * 1e6).toLong,
        math.floor(math.log(f.toDouble) * 1e6).toLong)
    }
    val v = cells.length.toLong
    val (sx, sy) = (cells.map(_._1).sum, cells.map(_._2).sum)
    val sxx = cells.map(c => c._1 * c._1).sum
    val sxy = cells.map(c => c._1 * c._2).sum
    assert(row.getAs[Long]("v") === v)
    assert(row.getAs[Long]("sx") === sx)
    assert(row.getAs[Long]("sy") === sy)
    assert(row.getAs[Long]("sxx") === sxx)
    assert(row.getAs[Long]("sxy") === sxy)
    val slope = (v.toDouble * sxy - sx.toDouble * sy) /
      (v.toDouble * sxx - sx.toDouble * sx)
    assert(row.getAs[Long]("slope_ppm") ===
      math.floor(slope * 1e6).toLong)
    assert(row.getAs[Long]("slope_ppm") < 0L,
      "rank-frequency must slope downward")
  }

  test("q360 trade volume: both directions, no diagonal, span years") {
    val rows = Stats.q360TradeVolume(spark, sf1).collect()
    assert(rows.nonEmpty)
    val pairs = rows.map(r =>
      (r.getAs[String]("supp_nation"), r.getAs[String]("cust_nation")))
    val legal = Set((Stats.TradeNationA, Stats.TradeNationB),
      (Stats.TradeNationB, Stats.TradeNationA))
    assert(pairs.toSet.subsetOf(legal))
    assert(pairs.toSet.size === 2, "both flow directions must appear")
    rows.foreach { r =>
      val y = r.getAs[Long]("l_year")
      assert(y >= 1995L && y <= 2001L)
      assert(r.getAs[Long]("revenue") > 0L)
      assert(r.getAs[Long]("n_lines") > 0L)
    }
  }

  test("q361 small-qty revenue matches a brute-force per-part model") {
    val row = Stats.q361SmallQtyRevenue(spark, sf1).head()
    val part = graft.sources.Tables.load(spark, sf1, "part")
      .filter(col("p_brand") === Stats.SmallQtyBrand)
      .select("p_partkey").collect().map(_.getLong(0)).toSet
    val li = graft.sources.Tables.load(spark, sf1, "lineitem")
      .select(col("l_partkey"), expr("CAST(l_quantity AS BIGINT)"),
        expr("CAST(floor(l_extendedprice * 100) AS BIGINT)"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(t => part(t._1))
    val byPart = li.groupBy(_._1)
    val small = li.filter { case (pk, q, _) =>
      val g = byPart(pk)
      5L * g.length * q < g.map(_._2).sum
    }
    assert(row.getAs[Long]("n_small") === small.length.toLong)
    assert(row.getAs[Long]("revenue_cents") === small.map(_._3).sum)
  }

  test("q362 large orders: exactly the above-threshold census") {
    val rows = Stats.q362LargeOrders(spark, sf1).collect()
    val model = graft.sources.Tables.load(spark, sf1, "lineitem")
      .select(col("l_orderkey"), expr("CAST(l_quantity AS BIGINT)"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum)
      .filter(_._2 > Stats.LargeOrderQty).toMap
    assert(rows.length === model.size)
    rows.foreach { r =>
      assert(model(r.getAs[Long]("o_orderkey")) === r.getAs[Long]("sum_qty"))
      assert(r.getAs[Long]("sum_qty") > Stats.LargeOrderQty)
      assert(r.getAs[Long]("total_c") > 0L)
    }
  }

  test("q363 disjunctive revenue matches a brute-force filter model") {
    val row = Stats.q363DisjunctiveRevenue(spark, sf1).head()
    val pattr = graft.sources.Tables.load(spark, sf1, "part")
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2)))
      .toMap
    val hits = graft.sources.Tables.load(spark, sf1, "lineitem")
      .select(col("l_partkey"), expr("CAST(l_quantity AS BIGINT)"),
        expr("""CAST(floor(l_extendedprice * 100) AS BIGINT)
          * (10000 - CAST(floor(l_discount * 10000) AS BIGINT))"""))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter { case (pk, q, _) =>
        val (b, sz) = pattr(pk)
        (b == "Brand#12" && sz >= 1 && sz <= 15 && q >= 1 && q <= 11) ||
        (b == "Brand#23" && sz >= 10 && sz <= 30 && q >= 10 && q <= 20) ||
        (b == "Brand#3" && sz >= 20 && sz <= 50 && q >= 20 && q <= 30)
      }
    assert(row.getAs[Long]("n_lines") === hits.length.toLong)
    assert(row.getAs[Long]("revenue") === hits.map(_._3).sum)
  }

  test("q364 lapsed customers matches a brute-force anti-join model") {
    val rows = Stats.q364LapsedCustomers(spark, sf1).collect()
    val cust = graft.sources.Tables.load(spark, sf1, "customer")
      .select(col("c_custkey"), col("c_nationkey").cast("long"),
        expr("CAST(floor(c_acctbal * 100) AS BIGINT)"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pos = cust.map(_._3).filter(_ > 0L)
    val (nPos, sPos) = (pos.length.toLong, pos.sum)
    val recent = graft.sources.Tables.load(spark, sf1, "orders")
      .filter(col("o_orderdate") >=
        lit(Stats.LapsedCutoff).cast("timestamp"))
      .select("o_custkey").collect().map(_.getLong(0)).toSet
    val natName = graft.sources.Tables.load(spark, sf1, "nation")
      .select(col("n_nationkey").cast("long"), col("n_name"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val lapsed = cust.filter(c =>
      c._3 * nPos > sPos && !recent(c._1))
    val model = lapsed.groupBy(c => natName(c._2)).view
      .mapValues(g => (g.length.toLong, g.map(_._3).sum)).toMap
    assert(rows.length === model.size)
    rows.foreach { r =>
      val (cnt, bal) = model(r.getAs[String]("n_name"))
      assert(r.getAs[Long]("n_cust") === cnt)
      assert(r.getAs[Long]("bal_cents") === bal)
    }
  }

  test("q383 Jarque-Bera replays a brute-force moment model and the " +
    "heavy-tailed payload fails normality decisively") {
    val rows = Stats.q383JarqueBera(spark, sf1).collect()
    val vals = graft.sources.Tables.load(spark, sf1, "events")
      .select(col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(x => BigInt(x._2))).toMap
    assert(rows.length === vals.size)
    rows.foreach { r =>
      val g = vals(r.getAs[String]("event_type"))
      val n = g.length.toLong
      assert(r.getAs[Long]("n") === n)
      // replay the shared-text double pipeline over exact BigInt sums
      val s1 = g.sum; val s2 = g.map(v => v * v).sum
      val s3 = g.map(v => v * v * v).sum
      val s4 = g.map(v => v * v * v * v).sum
      val mu = s1.toDouble / n
      val m2 = s2.toDouble / n - mu * mu
      val m3 = s3.toDouble / n - 3.0 * mu * (s2.toDouble / n) +
        2.0 * mu * mu * mu
      val m4 = s4.toDouble / n - 4.0 * mu * (s3.toDouble / n) +
        6.0 * mu * mu * (s2.toDouble / n) - 3.0 * mu * mu * mu * mu
      val g1 = m3 / (m2 * math.sqrt(m2))
      val g2 = m4 / (m2 * m2) - 3.0
      val jb = n.toDouble / 6.0 * (g1 * g1 + g2 * g2 / 4.0)
      assert(r.getAs[Long]("skew_ppm") === math.floor(g1 * 1e6).toLong)
      assert(r.getAs[Long]("kurt_ppm") === math.floor(g2 * 1e6).toLong)
      assert(r.getAs[Long]("jb_milli") === math.floor(jb * 1e3).toLong)
      // Exp(50)-shaped values: right skew, decisive rejection
      assert(r.getAs[Long]("skew_ppm") > 0L)
      assert(r.getAs[Long]("p_ppm") === 0L,
        "heavy tail must reject normality outright")
    }
  }

  test("q389 Theil-Sen replays the brute-force pairwise-slope median") {
    val row = Stats.q389TheilSen(spark, sf1).head()
    val daily = graft.sources.Tables.load(spark, sf1, "events")
      .select(to_date(col("ts")).as("day"))
      .groupBy("day").count().orderBy("day")
      .collect().map(_.getLong(1))
    val nd = daily.length
    val slopes = for {
      i <- 0 until nd; j <- (i + 1) until nd
    } yield (math.floor((daily(j) - daily(i)).toDouble * 1e6 /
        (j - i).toDouble).toLong, i + 1, j + 1)
    val sorted = slopes.sortBy(s => (s._1, s._2, s._3))
    assert(row.getAs[Long]("n_days") === nd.toLong)
    assert(row.getAs[Long]("n_pairs") === slopes.length.toLong)
    assert(row.getAs[Long]("sen_slope_micro") ===
      sorted((slopes.length + 1) / 2 - 1)._1)
    // a 30-day uniform generator has no trend: the median slope is
    // small relative to the daily level (|slope| < 20% of mean count)
    val mean = daily.sum.toDouble / nd
    assert(math.abs(row.getAs[Long]("sen_slope_micro")) <
      mean * 0.2 * 1e6)
  }

  test("q390 jackknife ratio replays the BigInt leave-one-out model") {
    val rows = Stats.q390JackknifeRatio(spark, sf1).collect()
      .map(r => r.getAs[Number]("nationkey").longValue -> r).toMap
    val per = graft.sources.Tables.load(spark, sf1, "orders")
      .select(col("o_custkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("c"))
      .join(graft.sources.Tables.load(spark, sf1, "customer")
          .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey").agg(count(lit(1)).as("n"), sum("c").as("r"))
      .collect()
      .map(r => (r.getAs[Number](0).longValue, r.getLong(1), r.getLong(2)))
    val (nTot, rTot, g) = (per.map(_._2).sum, per.map(_._3).sum,
      per.length.toLong)
    val thetas = per.map { case (k, n, r) =>
      (k, n, r, (BigInt(rTot - r) * 1000 / BigInt(nTot - n)).toLong) }
    val tSum = thetas.map(_._4).sum
    val sd2 = thetas.map(t => {
      val d = BigInt(g) * t._4 - tSum; d * d }).sum
    val se = math.floor(math.sqrt(((g - 1) * sd2).toDouble /
      (g.toDouble * g * g))).toLong
    assert(rows.size === per.length)
    thetas.foreach { case (k, n, r, th) =>
      val got = rows(k)
      assert(got.getAs[Long]("orders_n") === n)
      assert(got.getAs[Long]("revenue_cents") === r)
      assert(got.getAs[Long]("theta_loo_milli") === th)
      assert(got.getAs[Long]("jk_se_milli") === se)
    }
    // sanity: the LOO ratios bracket the full-sample ratio direction —
    // each is within the per-nation extremes of order value
    val full = (BigInt(rTot) * 1000 / BigInt(nTot)).toLong
    thetas.foreach { t =>
      assert(math.abs(t._4 - full) < full / 2,
        "deleting one nation cannot halve the mean order value") }
  }

  test("q391 Hoeffding gate: cumulative counts, anytime-valid bound " +
    "shrinks, certificate replays the model") {
    val rows = Stats.q391HoeffdingGate(spark, sf1).collect()
      .sortBy(_.getAs[String]("day"))
    // cumulative counts are nondecreasing and end at the corpus totals
    val last = rows.last
    val ev = graft.sources.Tables.load(spark, sf1, "events")
      .select((col("user_id") % 2 === 1).as("arm"),
        (col("event_type") === "purchase").as("p"))
      .collect().map(r => (r.getBoolean(0), r.getBoolean(1)))
    assert(last.getAs[Long]("na") === ev.count(_._1).toLong)
    assert(last.getAs[Long]("nb") === ev.count(!_._1).toLong)
    assert(last.getAs[Long]("ka") === ev.count(e => e._1 && e._2).toLong)
    assert(last.getAs[Long]("kb") === ev.count(e => !e._1 && e._2).toLong)
    rows.sliding(2).foreach { w =>
      assert(w(1).getAs[Long]("na") >= w(0).getAs[Long]("na"))
      assert(w(1).getAs[Long]("nb") >= w(0).getAs[Long]("nb"))
      // more data → tighter certificate
      assert(w(1).getAs[Long]("bound_micro") <=
        w(0).getAs[Long]("bound_micro"))
    }
    // replay the certificate from the released integers
    rows.foreach { r =>
      val (na, ka) = (r.getAs[Long]("na"), r.getAs[Long]("ka"))
      val (nb, kb) = (r.getAs[Long]("nb"), r.getAs[Long]("kb"))
      val diff = math.abs(ka.toDouble / na - kb.toDouble / nb)
      val bound = math.sqrt(math.log(80.0) / (2.0 * na)) +
        math.sqrt(math.log(80.0) / (2.0 * nb))
      assert(r.getAs[Long]("diff_micro") ===
        math.floor(diff * 1e6).toLong)
      assert(r.getAs[Long]("bound_micro") ===
        math.floor(bound * 1e6).toLong)
      assert(r.getAs[Boolean]("separated") === (diff > bound))
      // under the null (parity split of iid users) the gate must NOT
      // fire — a firing here is a false positive the bound bounds at 5%
      assert(!r.getAs[Boolean]("separated"),
        s"null experiment separated on ${r.getAs[String]("day")}")
    }
  }

  test("q392 Wald IV replays the BigInt model and the ITT identity") {
    val row = Stats.q392WaldIv(spark, sf1).head()
    val per = graft.sources.Tables.load(spark, sf1, "events")
      .select(col("user_id"),
        (col("event_type") === "click").as("c"),
        when(col("event_type") === "purchase",
          expr("CAST(floor(value * 100) AS BIGINT)")).otherwise(0L)
          .as("v"))
      .groupBy("user_id")
      .agg(max(col("c")).as("d"), sum("v").as("y"))
      .collect()
      .map(r => (r.getLong(0) % 2, if (r.getBoolean(1)) 1L else 0L,
        r.getLong(2)))
    def cell(a: Long) = {
      val g = per.filter(_._1 == a)
      (g.length.toLong, g.map(_._2).sum, g.map(_._3).sum)
    }
    val ((n0, d0, s0), (n1, d1, s1)) = (cell(0), cell(1))
    assert(row.getAs[Long]("n0") === n0)
    assert(row.getAs[Long]("n1") === n1)
    assert(row.getAs[Long]("d0") === d0)
    assert(row.getAs[Long]("d1") === d1)
    assert(row.getAs[Long]("s0") === s0)
    assert(row.getAs[Long]("s1") === s1)
    val dNum = BigInt(d1) * n0 - BigInt(d0) * n1
    val yNum = BigInt(s1) * n0 - BigInt(s0) * n1
    assert(row.getAs[Long]("itt_d_ppm") ===
      (dNum * 1000000 / (BigInt(n1) * n0)).toLong)
    assert(row.getAs[Long]("itt_y_ppm") ===
      (yNum * 1000000 / (BigInt(n1) * n0)).toLong)
    if (dNum == 0) assert(row.isNullAt(row.fieldIndex("late_cents_milli")))
    else assert(row.getAs[Long]("late_cents_milli") ===
      (yNum * 1000 / dNum).toLong)
  }

  test("q393 uplift quintiles: ntile model, cell conservation, and " +
    "near-zero uplift under the null") {
    val rows = Stats.q393UpliftQuintiles(spark, sf1).collect()
      .sortBy(_.getAs[Long]("quintile"))
    assert(rows.map(_.getAs[Long]("quintile")) === Array(1L, 2L, 3L, 4L, 5L))
    val users = graft.sources.Tables.load(spark, sf1, "events")
      .select(col("user_id")).distinct().count()
    assert(rows.map(r => r.getAs[Long]("n_t") + r.getAs[Long]("n_c")).sum
      === users)
    // ntile remainder semantics: bucket sizes differ by at most one and
    // are nonincreasing
    val sizes = rows.map(r => r.getAs[Long]("n_t") + r.getAs[Long]("n_c"))
    assert(sizes.max - sizes.min <= 1L)
    assert(sizes.sliding(2).forall(w => w(0) >= w(1)))
    rows.foreach { r =>
      assert(r.getAs[Long]("k_t") <= r.getAs[Long]("n_t"))
      assert(r.getAs[Long]("k_c") <= r.getAs[Long]("n_c"))
      // parity split of iid users: |uplift| stays far from the rails
      assert(math.abs(r.getAs[Long]("uplift_ppm")) < 500000L)
    }
  }

  test("q394 gamma-Poisson EB: BigInt model replay, contraction toward " +
    "the grand mean, monotone in k") {
    val rows = Stats.q394GammaPoissonEb(spark, sf1).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("k"), r.getAs[Long]("eb_rate_micro"))).toMap
    val ks = graft.sources.Tables.load(spark, sf1, "events")
      .select(col("user_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
      .groupBy("user_id").agg(sum("p").as("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val g = ks.length.toLong
    val sk = ks.map(_._2).sum
    val sk2 = ks.map(x => BigInt(x._2) * x._2).sum
    val overd = BigInt(g) * sk2 - BigInt(sk) * sk - BigInt(sk) * (g - 1)
    ks.foreach { case (u, k) =>
      val (gotK, gotEb) = rows(u)
      assert(gotK === k)
      val expected = if (overd <= 0) k * 1000000L
        else ((BigInt(sk) * sk * (g - 1) + BigInt(k) * g * overd) *
          1000000 / (BigInt(g) * (BigInt(g) * sk2 - BigInt(sk) * sk)))
          .toLong
      assert(gotEb === expected, s"user $u")
    }
    if (overd > 0) {
      // EB contracts: every shrunk rate sits between the raw rate and
      // the grand mean (1 micro slack for the floor)
      val gmMicro = BigInt(sk) * 1000000 / g
      ks.foreach { case (u, k) =>
        val eb = BigInt(rows(u)._2)
        val raw = BigInt(k) * 1000000
        assert(eb >= raw.min(gmMicro) - 1 && eb <= raw.max(gmMicro) + 1,
          s"user $u not contracted")
      }
      // monotone: more observed purchases never lowers the EB rate
      val byK = ks.map(_._2).distinct.sorted
        .map(k => k -> rows(ks.find(_._2 == k).get._1)._2)
      byK.sliding(2).foreach { w =>
        if (w.length == 2) assert(w(0)._2 <= w(1)._2) }
    }
  }

  test("q403 Benford audit: census conservation, chi-square replay, " +
    "and decisive rejection on the non-Benford generator") {
    val rows = Stats.q403Benford(spark, sf1).collect()
      .map(r => (r.getAs[Long]("digit"), r.getAs[Long]("obs"),
        r.getAs[Long]("exp_micro"), r.getAs[Long]("chi2_milli")))
    val nOrders = graft.sources.Tables.load(spark, sf1, "orders").count()
    assert(rows.map(_._2).sum === nOrders)
    assert(rows.forall(r => r._1 >= 1L && r._1 <= 9L))
    assert(rows.map(_._1).distinct.length === rows.length)
    // replay chi2 from the released census in the declared fixed
    // digit order (the generated 9-term left-to-right chain)
    val n = nOrders.toDouble
    val byDigit = rows.map(r => r._1 -> r._2).toMap
    var chi = 0.0
    (1 to 9).foreach { d =>
      val p = math.log10(1.0 + 1.0 / d)
      val obs = byDigit.getOrElse(d.toLong, 0L).toDouble
      chi += (obs - n * p) * (obs - n * p) / (n * p)
    }
    assert(rows.head._4 === math.floor(chi * 1000).toLong)
    rows.foreach { case (d, _, expMicro, _) =>
      assert(expMicro ===
        math.floor(n * math.log10(1.0 + 1.0 / d) * 1e6).toLong)
    }
    // the fixture's totals are NOT Benford — the audit must reject at
    // alpha = 0.001 (chi2_{8} critical value 26.125)
    assert(rows.head._4 > 26125L,
      "generator passed Benford — the audit lost its teeth")
  }

  test("q405 Friedman: midrank model replay, rank-sum conservation, " +
    "and a null-calibrated statistic") {
    val rows = Stats.q405Friedman(spark, sf1).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("r2_sum"),
        r.getAs[Long]("q_milli")))
    val census = graft.sources.Tables.load(spark, sf1, "events")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("x"))
      .collect()
      .map(r => (r.get(0).toString, r.getString(1), r.getLong(2)))
    val k = census.map(_._2).distinct.length
    val n = census.map(_._1).distinct.length
    // brute-force doubled midranks within each day
    val r2 = scala.collection.mutable.Map.empty[String, Long]
    census.groupBy(_._1).values.foreach { day =>
      day.foreach { case (_, et, x) =>
        val below = day.count(_._3 < x).toLong
        val ties = day.count(_._3 == x).toLong
        r2(et) = r2.getOrElse(et, 0L) + (2 * (below + 1) + ties - 1)
      }
    }
    assert(rows.map(t => t._1 -> t._2).toMap === r2.toMap)
    // per-day doubled ranks sum to k_d(k_d+1): totals conserve
    // Σ_day k_d(k_d+1) (equals n·k(k+1) when every type shows daily)
    val conserve = census.groupBy(_._1).values.map { day =>
      val kd = day.length.toLong; kd * (kd + 1) }.sum
    assert(rows.map(_._2).sum === conserve)
    // Q replay: exact integer S4 = Σ r2², then the one double formula
    val s4 = rows.map(v => v._2 * v._2).sum
    val qExp = 3.0 * s4 / (n.toDouble * k * (k + 1.0)) -
      3.0 * n * (k + 1.0)
    assert(rows.head._3 === math.floor(qExp * 1000).toLong)
    // exchangeable types: must not clear the alpha = 0.001 bar for
    // k-1 = 4 dof (18.467)
    assert(rows.head._3 < 18467L,
      "null Friedman fired — midranks or the census are broken")
  }

  test("q411 successive halving replays the phase ranks and the " +
    "schedule 5 -> 3 -> 2 -> 1") {
    val rows = Stats.q411SuccessiveHalving(spark, sf1).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("cum1"),
        r.getAs[Long]("cum2"), r.getAs[Long]("cum3"),
        r.getAs[Long]("eliminated_phase")))
    assert(rows.length === 5)
    // schedule shape: 2 drop at phase 1, 1 at 2, 1 at 3, 1 survivor
    val byPhase = rows.groupBy(_._5).view.mapValues(_.length).toMap
    assert(byPhase === Map(1L -> 2, 2L -> 1, 3L -> 1, 0L -> 1))
    // cumulative sums are monotone per arm
    rows.foreach { r =>
      assert(r._2 <= r._3 && r._3 <= r._4, r._1) }
    // replay the eliminations
    val p1 = rows.sortBy(r => (-r._2, r._1))
    assert(p1.drop(3).forall(_._5 == 1L), "phase-1 drops wrong")
    val s1 = p1.take(3).sortBy(r => (-r._3, r._1))
    assert(s1.drop(2).forall(_._5 == 2L), "phase-2 drop wrong")
    val s2 = s1.take(2).sortBy(r => (-r._4, r._1))
    assert(s2(1)._5 === 3L && s2(0)._5 === 0L, "final pick wrong")
  }

  test("q415 Pocock looks replay the pooled z and never cross under " +
    "the null split") {
    val rows = Stats.q415Pocock(spark, sf1).collect()
      .sortBy(_.getAs[Long]("look"))
    assert(rows.map(_.getAs[Long]("look")) === Array(1L, 2L, 3L, 4L, 5L))
    var prevN = 0L
    rows.foreach { r =>
      val (na, ka) = (r.getAs[Long]("na"), r.getAs[Long]("ka"))
      val (nb, kb) = (r.getAs[Long]("nb"), r.getAs[Long]("kb"))
      assert(na + nb > prevN, "looks must accumulate"); prevN = na + nb
      val p = (ka + kb).toDouble / (na + nb)
      val z = (ka.toDouble / na - kb.toDouble / nb) /
        math.sqrt(p * (1.0 - p) * (1.0 / na + 1.0 / nb))
      assert(r.getAs[Long]("z_ppm") === math.floor(z * 1e6).toLong)
      assert(r.getAs[Boolean]("crossed") ===
        (math.abs(z) > Stats.PocockC5))
      // parity split of iid users: the familywise-calibrated boundary
      // must hold at every look
      assert(!r.getAs[Boolean]("crossed"),
        s"null experiment crossed at look ${r.getAs[Long]("look")}")
    }
  }

  test("q416 Nelson-Aalen replays the risk-set model and the hazard " +
    "never decreases") {
    val rows = Stats.q416NelsonAalen(spark, sf1).collect()
      .sortBy(_.getAs[String]("day"))
    val users = graft.sources.Tables.load(spark, sf1, "events")
      .groupBy("user_id")
      .agg(min(to_date(col("ts"))).as("entry"),
        min(when(col("event_type") === "purchase",
          to_date(col("ts")))).as("conv"))
      .collect()
      .map(r => (r.getDate(1).toString,
        Option(r.getDate(2)).map(_.toString)))
    val days = rows.map(_.getAs[String]("day"))
    var cum = 0L
    days.foreach { day =>
      val entered = users.count(_._1 <= day).toLong
      val convertedBefore = users.count(u =>
        u._2.exists(_ < day)).toLong
      val nRisk = entered - convertedBefore
      val d = users.count(_._2.contains(day)).toLong
      val r = rows.find(_.getAs[String]("day") == day).get
      assert(r.getAs[Long]("n_risk") === nRisk, day)
      assert(r.getAs[Long]("d") === d, day)
      val h = if (nRisk == 0) 0L else d * 1000000L / nRisk
      assert(r.getAs[Long]("h_micro") === h, day)
      cum += h
      assert(r.getAs[Long]("cumhaz_micro") === cum, day)
    }
    // hazard accumulates; every user eventually purchasing drives it
    // well past 0 on this generator
    assert(cum > 0L)
    // the risk set shrinks as conversions accumulate (entries all
    // happen early on this generator)
    assert(rows.head.getAs[Long]("n_risk") >=
      rows.last.getAs[Long]("n_risk"))
  }

  test("q418 O'Brien-Fleming ladder descends, replays the z, and " +
    "never crosses under the null") {
    val rows = Stats.q418ObrienFleming(spark, sf1).collect()
      .sortBy(_.getAs[Long]("look"))
    assert(rows.map(_.getAs[Long]("look")) === Array(1L, 2L, 3L, 4L, 5L))
    // the ladder is strictly decreasing and ends at the ~2.04 final
    val bounds = rows.map(_.getAs[Long]("boundary_milli"))
    assert(bounds.sliding(2).forall(w => w(0) > w(1)))
    assert(bounds.last === 2040L)
    rows.foreach { r =>
      val (na, ka) = (r.getAs[Long]("na"), r.getAs[Long]("ka"))
      val (nb, kb) = (r.getAs[Long]("nb"), r.getAs[Long]("kb"))
      val p = (ka + kb).toDouble / (na + nb)
      val z = (ka.toDouble / na - kb.toDouble / nb) /
        math.sqrt(p * (1.0 - p) * (1.0 / na + 1.0 / nb))
      assert(r.getAs[Long]("z_ppm") === math.floor(z * 1e6).toLong)
      val k = r.getAs[Long]("look")
      val bound = Stats.ObfC5 * math.sqrt(5.0 / k)
      assert(r.getAs[Long]("boundary_milli") ===
        math.floor(bound * 1e3).toLong)
      assert(r.getAs[Boolean]("crossed") === (math.abs(z) > bound))
      assert(!r.getAs[Boolean]("crossed"),
        s"null experiment crossed OBF at look $k")
    }
    // OBF's early looks are stricter than Pocock's constant boundary
    assert(bounds.head > 4000L)
  }

  test("q420 Cramer-von Mises replays the per-point rank model under " +
    "the declared tie order and sits in the null band") {
    val row = Stats.q420CramerVonMises(spark, sf1).head()
    val pts = graft.sources.Tables.load(spark, sf1, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .select(when(col("event_type") === "purchase", 1L).otherwise(2L)
        .as("arm"), expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // combined order: by (vc, arm) — sample 1 before 2 inside a tie
    val sorted = pts.sortBy(p => (p._2, p._1))
    val m = pts.count(_._1 == 1L).toLong
    val n = pts.length - m
    var (i1, i2) = (0L, 0L)
    var (sq1, sq2) = (BigInt(0), BigInt(0))
    sorted.zipWithIndex.foreach { case ((arm, _), idx) =>
      val r = idx + 1L
      if (arm == 1L) { i1 += 1; sq1 += BigInt(r - i1) * (r - i1) }
      else { i2 += 1; sq2 += BigInt(r - i2) * (r - i2) }
    }
    val u = BigInt(m) * sq1 + BigInt(n) * sq2
    val t = u.toDouble / ((m + n).toDouble * m * n) -
      (4.0 * m * n - 1.0) / (6.0 * (m + n))
    assert(row.getAs[Long]("m") === m)
    assert(row.getAs[Long]("n") === n)
    assert(row.getAs[Long]("t_micro") === math.floor(t * 1e6).toLong)
    // identical Exp(50) generators in both arms: T must sit far below
    // the 5% critical value (~0.461) — and above the hard floor
    assert(row.getAs[Long]("t_micro") < 461000L,
      "CvM rejected identical distributions")
    assert(row.getAs[Long]("t_micro") > -170000L)
  }

  test("q421 Welch ANOVA replays the fixed-order weight model and " +
    "stays under the null F bar") {
    val row = Stats.q421WelchAnova(spark, sf1).head()
    val types = Seq("click", "error", "purchase", "signup", "view")
    val cells = graft.sources.Tables.load(spark, sf1, "events")
      .select(col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view
      .mapValues(g => (g.length.toLong, g.map(x => BigInt(x._2)).sum,
        g.map(x => BigInt(x._2) * x._2).sum)).toMap
    val k = types.length
    // the declared fixed-order chains
    def mean(t: String) = { val c = cells(t); c._2.toDouble / c._1 }
    def vr(t: String) = { val c = cells(t)
      (c._3.toDouble - c._2.toDouble * mean(t)) / (c._1 - 1.0) }
    def w(t: String) = cells(t)._1 / vr(t)
    var sw = 0.0; types.foreach(t => sw += w(t))
    var xwNum = 0.0; types.foreach(t => xwNum += w(t) * mean(t))
    val xw = xwNum / sw
    var a = 0.0
    types.foreach(t => a += w(t) * (mean(t) - xw) * (mean(t) - xw))
    a /= (k - 1).toDouble
    var lam = 0.0
    types.foreach(t => lam += (1.0 - w(t) / sw) * (1.0 - w(t) / sw) /
      (cells(t)._1 - 1.0))
    val f = a / (1.0 + 2.0 * (k - 2) / (k.toDouble * k - 1) * lam)
    val df2 = (k.toDouble * k - 1) / (3.0 * lam)
    assert(row.getAs[Long]("n_total") === cells.values.map(_._1).sum)
    assert(row.getAs[Long]("f_star_milli") ===
      math.floor(f * 1e3).toLong)
    assert(row.getAs[Long]("df2_milli") ===
      math.floor(df2 * 1e3).toLong)
    // iid Exp(50) values in every type: F* must sit well under the
    // F(4, inf) alpha=0.001 critical value (~4.62)
    assert(row.getAs[Long]("f_star_milli") < 4620L,
      "null Welch ANOVA fired")
    assert(row.getAs[Long]("df2_milli") > 0L)
  }

  test("q422 McNemar replays the discordant-cell model and conserves " +
    "the user census") {
    val row = Stats.q422Mcnemar(spark, sf1).head()
    val split = java.sql.Timestamp.valueOf(
      graft.operators.Analytics.CupedSplit + " 00:00:00")
    val per = graft.sources.Tables.load(spark, sf1, "events")
      .select(col("user_id"), col("ts"),
        (col("event_type") === "purchase").as("p"))
      .collect()
      .map(r => (r.getLong(0), r.getAs[java.sql.Timestamp](1),
        r.getBoolean(2)))
      .groupBy(_._1).view.mapValues { g =>
        (g.exists(e => e._2.before(split) && e._3),
          g.exists(e => !e._2.before(split) && e._3))
      }.toMap
    val n = per.size.toLong
    val both = per.values.count(v => v._1 && v._2).toLong
    val b = per.values.count(v => v._1 && !v._2).toLong
    val c = per.values.count(v => !v._1 && v._2).toLong
    val neither = per.values.count(v => !v._1 && !v._2).toLong
    assert(row.getAs[Long]("n") === n)
    assert(row.getAs[Long]("both_conv") === both)
    assert(row.getAs[Long]("pre_only") === b)
    assert(row.getAs[Long]("post_only") === c)
    assert(row.getAs[Long]("neither") === neither)
    assert(both + b + c + neither === n)
    val chi = if (b + c == 0) 0L
      else math.floor((b - c).toDouble * (b - c) / (b + c) * 1e3).toLong
    assert(row.getAs[Long]("chi2_milli") === chi)
    // mid-month split of a stationary stream: discordance symmetric,
    // chi2 under the 1-dof alpha=0.001 bar (10.83)
    assert(chi < 10830L, "null McNemar fired")
  }

  test("q423 effect sizes replay the brute-force panel and agree in " +
    "direction") {
    val row = Stats.q423EffectSizes(spark, sf1).head()
    val pts = graft.sources.Tables.load(spark, sf1, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .select((col("event_type") === "purchase").as("a"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .collect().map(r => (r.getBoolean(0), r.getLong(1)))
    val x = pts.filter(_._1).map(_._2); val y = pts.filter(!_._1).map(_._2)
    val (n1, n2) = (x.length.toLong, y.length.toLong)
    val (m1, m2) = (x.map(BigInt(_)).sum.toDouble / n1,
      y.map(BigInt(_)).sum.toDouble / n2)
    // replay d with the declared expression's association
    val q1 = x.map(v => BigInt(v) * v).sum.toDouble
    val q2v = y.map(v => BigInt(v) * v).sum.toDouble
    val s1d = x.map(BigInt(_)).sum.toDouble
    val s2d = y.map(BigInt(_)).sum.toDouble
    val d = (s1d / n1 - s2d / n2) /
      math.sqrt(((q1 - s1d * (s1d / n1)) + (q2v - s2d * (s2d / n2))) /
        (n1 + n2 - 2.0))
    val g = d * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0))
    // brute-force Cliff's delta via doubled wins+ties
    var u2 = BigInt(0)
    val ySorted = y.sorted
    x.foreach { v =>
      val less = ySorted.count(_ < v).toLong
      val eq = ySorted.count(_ == v).toLong
      u2 += 2 * less + eq
    }
    val delta = ((u2 - BigInt(n1) * n2) * 1000000 / (BigInt(n1) * n2))
      .toLong
    assert(row.getAs[Long]("n1") === n1)
    assert(row.getAs[Long]("n2") === n2)
    assert(row.getAs[Long]("d_milli") === math.floor(d * 1e3).toLong)
    assert(row.getAs[Long]("g_milli") === math.floor(g * 1e3).toLong)
    assert(row.getAs[Long]("cliffs_delta_ppm") === delta)
    // direction agreement: parametric and rank effect sizes point the
    // same way (means differ the same way the dominance does)
    assert((m1 - m2).sign === delta.sign.toDouble ||
      math.abs(delta) < 20000L)
    // g is a strict shrinkage of d
    assert(math.abs(row.getAs[Long]("g_milli")) <=
      math.abs(row.getAs[Long]("d_milli")))
  }

  test("q425 Tukey-Kramer pairs replay the MSE model, cover all 10 " +
    "pairs, and stay silent under the null") {
    val rows = Stats.q425TukeyHsd(spark, sf1).collect()
      .map(r => (r.getAs[String]("t1"), r.getAs[String]("t2")) ->
        (r.getAs[Long]("diff_milli"), r.getAs[Long]("hsd_milli"),
          r.getAs[Boolean]("significant"))).toMap
    val types = Seq("click", "error", "purchase", "signup", "view")
    assert(rows.size === 10)
    val cells = graft.sources.Tables.load(spark, sf1, "events")
      .select(col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view
      .mapValues(g => (g.length.toLong, g.map(x => BigInt(x._2)).sum,
        g.map(x => BigInt(x._2) * x._2).sum)).toMap
    val nTot = cells.values.map(_._1).sum
    // generated fixed-order MSE chain
    var mse = 0.0
    types.foreach { t =>
      val (n, s1, s2) = cells(t)
      mse += s2.toDouble - s1.toDouble * (s1.toDouble / n)
    }
    mse /= (nTot - types.length).toDouble
    for (i <- types.indices; j <- types.indices if i < j) {
      val (ni, si, _) = cells(types(i))
      val (nj, sj, _) = cells(types(j))
      val diff = si.toDouble / ni - sj.toDouble / nj
      val hsd = Stats.TukeyQ5 *
        math.sqrt(mse / 2.0 * (1.0 / ni + 1.0 / nj))
      val (gd, gh, gs) = rows((types(i), types(j)))
      assert(gd === math.floor(diff * 1e3).toLong, s"${types(i)}/$j")
      assert(gh === math.floor(hsd * 1e3).toLong, s"${types(i)}/$j")
      assert(gs === (math.abs(diff) > hsd))
      // exchangeable types: the familywise-controlled test is silent
      assert(!gs, s"null Tukey fired on ${types(i)}-${types(j)}")
    }
  }

  // ---------------------------------------------------------- session 8

  /** Shared brute-force census for the purchase-vs-click value tests. */
  private def pcCensus(): (Array[(Boolean, Long)], Long, Long) = {
    val vals = graft.sources.Tables.load(spark, sf1, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .select((col("event_type") === "purchase").as("arm"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .collect().map(r => (r.getBoolean(0), r.getLong(1)))
    (vals, vals.count(_._1).toLong, vals.count(!_._1).toLong)
  }

  test("q426 Anderson-Darling replays the Scholz-Stephens ties model " +
    "with exact per-cell truncation") {
    val row = Stats.q426AndersonDarling(spark, sf1).head()
    val (vals, n1, n2) = pcCensus()
    val nn = n1 + n2
    val cells = vals.groupBy(_._2).view.mapValues { g =>
      (g.count(_._1).toLong, g.length.toLong)
    }.toSeq.sortBy(_._1)
    var cm = BigInt(0); var cb = BigInt(0); var tsum = BigInt(0)
    var nCells = 0L
    cells.foreach { case (_, (na, l)) =>
      cm += na; cb += l
      if (cb < nn) {
        nCells += 1
        val d = BigInt(nn) * cm - BigInt(n1) * cb
        tsum += BigInt(l) * d * d * 1000000 / (cb * (BigInt(nn) - cb))
      }
    }
    assert(row.getAs[Long]("n1") === n1)
    assert(row.getAs[Long]("n2") === n2)
    assert(row.getAs[Long]("cells") === nCells)
    assert(row.getAs[Long]("a2_micro") ===
      (tsum / (BigInt(n1) * n2)).toLong)
    // pooled-null sanity: A2 should be O(1), not O(n)
    assert(row.getAs[Long]("a2_micro") < 20L * 1000000)
  }

  test("q427 Cochran Q replays the per-user incidence model") {
    val row = Stats.q427CochranQ(spark, sf1).head()
    val types = Seq("click", "error", "purchase", "signup", "view")
    val flags = graft.sources.Tables.load(spark, sf1, "events")
      .select(col("user_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view
      .mapValues(g => types.map(t => if (g.exists(_._2 == t)) 1L else 0L))
      .toMap
    val k = 5L
    val c = types.indices.map(j => flags.values.map(_(j)).sum)
    val s0 = flags.values.map(_.sum).sum
    val sumR2 = flags.values.map(r => { val x = r.sum; x * x }).sum
    val sumC2 = c.map(x => BigInt(x) * x).sum
    assert(row.getAs[Long]("n_users") === flags.size.toLong)
    assert(row.getAs[Long]("s") === s0)
    assert(row.getAs[Long]("sum_r2") === sumR2)
    assert(row.getAs[Long]("sum_c2") === sumC2.toLong)
    val den = k * s0 - sumR2
    if (den != 0L) {
      val q = (BigInt(1000) * (k - 1) * (k * sumC2 - BigInt(s0) * s0) /
        BigInt(den)).toLong
      assert(row.getAs[Long]("q_milli") === q)
      assert(q >= 0L)
    }
  }

  test("q428 Jonckheere replays a brute-force pairwise count and the " +
    "null z is small under exchangeable priorities") {
    val row = Stats.q428Jonckheere(spark, sf1).head()
    val vals = graft.sources.Tables.load(spark, sf1, "orders")
      .select(expr("CAST(substring(o_orderpriority, 1, 1) AS INT)"),
        expr("CAST(floor(o_totalprice) AS BIGINT)"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    var j2 = 0L
    for (g <- 1 to 5; h <- 1 to 5 if g < h) {
      val xs = vals.filter(_._1 == g).map(_._2).sorted
      val ys = vals.filter(_._1 == h).map(_._2)
      // per y: 2*(#x < y) + (#x == y) via binary search on sorted xs
      ys.foreach { y =>
        var lo = 0; var hi = xs.length
        while (lo < hi) { val mid = (lo + hi) / 2
          if (xs(mid) < y) lo = mid + 1 else hi = mid }
        val lt = lo
        hi = xs.length
        var lo2 = lo
        while (lo2 < hi) { val mid = (lo2 + hi) / 2
          if (xs(mid) <= y) lo2 = mid + 1 else hi = mid }
        j2 += 2L * lt + (lo2 - lt)
      }
    }
    assert(row.getAs[Long]("j2") === j2)
    val ns = (1 to 5).map(g => vals.count(_._1 == g).toLong)
    val n = ns.sum
    assert(row.getAs[Long]("n") === n)
    assert(row.getAs[Long]("e2") === n * n - ns.map(x => x * x).sum)
    // generator's priorities are value-independent: |z| < 4 sd
    assert(math.abs(row.getAs[Long]("z_micro")) < 4L * 1000000)
  }

  test("q429 Cochran-Armitage replays the 2x5 trend cells and the " +
    "null z is small") {
    val row = Stats.q429CochranArmitage(spark, sf1).head()
    val cells = graft.sources.Tables.load(spark, sf1, "orders")
      .select(expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)"),
        (col("o_orderstatus") === "F").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = cells.length.toLong
    val r = cells.map(_._2).sum
    val swn = cells.map(_._1).sum
    val swr = cells.map(c => c._1 * c._2).sum
    val sw2n = cells.map(c => c._1 * c._1).sum
    assert(row.getAs[Long]("n") === n)
    assert(row.getAs[Long]("r") === r)
    assert(row.getAs[Long]("t_num") === n * swr - r * swn)
    val z = (n.toDouble * swr - r.toDouble * swn) /
      math.sqrt(r.toDouble * (n - r) *
        (n.toDouble * sw2n - swn.toDouble * swn) / n.toDouble)
    assert(row.getAs[Long]("z_micro") === math.floor(z * 1e6).toLong)
    assert(math.abs(row.getAs[Long]("z_micro")) < 4L * 1000000)
  }

  test("q430 Page trend replays within-week doubled midranks over the " +
    "complete 28-day spine") {
    val row = Stats.q430PageTrend(spark, sf1).head()
    val counts = graft.sources.Tables.load(spark, sf1, "events")
      .select(to_date(col("ts")).as("day"))
      .collect().map(_.getDate(0).toLocalDate)
      .filter(_.isBefore(java.time.LocalDate.parse("2024-01-29")))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val base = java.time.LocalDate.parse("2024-01-01")
    var l2 = 0L
    for (w <- 0 until 4) {
      val week = (0 until 7).map { d =>
        val day = base.plusDays(w * 7 + d)
        (d + 1, counts.getOrElse(day, 0L))
      }
      week.foreach { case (dow, c) =>
        val lt = week.count(_._2 < c).toLong
        val eq = week.count(_._2 == c).toLong
        l2 += dow * (2L * (lt + 1) + eq - 1) // 2*rank + m - 1
      }
    }
    assert(row.getAs[Long]("l2") === l2)
    val z = (6.0 * l2 - 3.0 * 4 * 7 * 64) / (56.0 * math.sqrt(24.0))
    assert(row.getAs[Long]("z_micro") === math.floor(z * 1e6).toLong)
  }

  test("q431 Holm rejections form a prefix of the |z| ranking and " +
    "each pair z replays the q303 midrank model") {
    val rows = Stats.q431HolmStepdown(spark, sf1).collect()
      .sortBy(_.getAs[Long]("rk"))
    assert(rows.length === 10)
    // prefix property: once a rank fails, no later rank rejects
    val rejects = rows.map(_.getAs[Boolean]("holm_reject"))
    assert(!rejects.dropWhile(identity).contains(true))
    // crit table is the declared literal, in rank order
    assert(rows.map(_.getAs[Long]("crit_micro")).toSeq ===
      Stats.HolmCritMicro)
    // brute-force one pair's z: purchase vs click (matches q303 u2/z)
    val types = Seq("click", "error", "purchase", "signup", "view")
    val all = graft.sources.Tables.load(spark, sf1, "events")
      .select(col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for (i <- types.indices; j <- types.indices if i < j) {
      val a = all.filter(_._1 == types(i)).map(_._2)
      val b = all.filter(_._1 == types(j)).map(_._2)
      val pool = (a.map((_, true)) ++ b.map((_, false))).sortBy(_._1)
      val rank2 = new Array[Long](pool.length)
      var p = 0
      while (p < pool.length) {
        var q = p
        while (q < pool.length && pool(q)._1 == pool(p)._1) q += 1
        val r2 = (p + 1).toLong + q.toLong
        (p until q).foreach(t => rank2(t) = r2)
        p = q
      }
      val sr2 = pool.zipWithIndex.filter(_._1._2).map(t => rank2(t._2)).sum
      val n1 = a.length.toLong; val n2 = b.length.toLong
      val u2 = sr2 - n1 * (n1 + 1)
      val ties = pool.map(_._1).groupBy(identity).values
        .map(g => { val m = g.length.toLong; m * m * m - m }).sum
      val z = ((u2 - n1 * n2).toDouble / 2.0) /
        math.sqrt(n1.toDouble * n2 / 12.0 *
          ((n1 + n2 + 1.0) - ties.toDouble /
            ((n1 + n2).toDouble * (n1 + n2 - 1.0))))
      val got = rows.find(r => r.getAs[String]("ta") == types(i) &&
        r.getAs[String]("tb") == types(j)).get
      assert(got.getAs[Long]("zabs_micro") ===
        math.floor(math.abs(z) * 1e6).toLong,
        s"pair ${types(i)}/${types(j)}")
    }
  }

  test("q432 PACF replays the Durbin-Levinson recursion on the exact " +
    "ACF census and pacf(1) equals acf(1)") {
    val got = Stats.q432Pacf(spark, sf1).collect()
      .map(r => r.getAs[Long]("lag") -> r.getAs[Long]("pacf_micro"))
      .toMap
    assert(got.size === 7)
    val daily = graft.sources.Tables.load(spark, sf1, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("x"))
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
    val n = daily.length.toLong
    val sx = daily.map(_._2).sum
    val y = daily.map { case (d, x) => (d, BigInt(n) * x - sx) }.toMap
    val den = y.values.map(v => v * v).sum
    val nums = (1 to 7).map { k =>
      y.map { case (d, v) =>
        y.get(d.plusDays(k)).map(_ * v).getOrElse(BigInt(0))
      }.sum
    }
    val r = nums.map(nm => nm.toDouble / den.toDouble)
    // Durbin-Levinson, same left-to-right fold as the generated chain
    val phi = Array.ofDim[Double](8, 8)
    phi(1)(1) = r(0)
    for (k <- 2 to 7) {
      var num = 0.0; var dnm = 0.0
      for (j <- 1 until k) { num += phi(k - 1)(j) * r(k - j - 1) }
      for (j <- 1 until k) { dnm += phi(k - 1)(j) * r(j - 1) }
      phi(k)(k) = (r(k - 1) - num) / (1.0 - dnm)
      for (j <- 1 until k)
        phi(k)(j) = phi(k - 1)(j) - phi(k)(k) * phi(k - 1)(k - j)
    }
    for (k <- 1 to 7)
      assert(got(k.toLong) === math.floor(phi(k)(k) * 1e6).toLong,
        s"lag $k")
    assert(got(1L) === math.floor(r(0) * 1e6).toLong)
  }

  test("q433 periodogram replays the integer-weight harmonic sums and " +
    "amp is the euclidean fold of (sc, ss)") {
    val rows = Stats.q433Periodogram(spark, sf1).collect()
      .map(r => r.getAs[Long]("k") ->
        (r.getAs[Long]("sc"), r.getAs[Long]("ss"), r.getAs[Long]("amp")))
      .toMap
    assert(rows.size === 3)
    val daily = graft.sources.Tables.load(spark, sf1, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
        .as("rv"))
      .collect().map { r =>
        val d = r.getDate(0).toLocalDate
        val m = (java.time.temporal.ChronoUnit.DAYS.between(
          java.time.LocalDate.parse("1995-01-01"), d) % 7).toInt
        (m, r.getLong(1))
      }
    for (k <- 1 to 3) {
      val sc = daily.map { case (m, rv) =>
        BigInt(rv) * Stats.PeriodogramWc(k)(m) }.sum
      val ss = daily.map { case (m, rv) =>
        BigInt(rv) * Stats.PeriodogramWs(k)(m) }.sum
      val (gsc, gss, gamp) = rows(k.toLong)
      assert(gsc === sc.toLong, s"sc k=$k")
      assert(gss === ss.toLong, s"ss k=$k")
      assert(gamp === math.floor(math.sqrt(
        sc.toDouble * sc.toDouble + ss.toDouble * ss.toDouble)).toLong)
    }
  }

  test("q438 readability replays the vowel-group syllable counter and " +
    "the integer Flesch algebra") {
    val rows = graft.operators.TextOps.q438Readability(spark, sf1)
      .collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("words"),
          r.getAs[Long]("syllables"), r.getAs[Long]("flesch_milli"),
          r.getAs[Long]("fk_grade_milli"))).toMap
    val docs = graft.sources.Tables.load(spark, sf1, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val bySrc = docs.groupBy(_._1)
    assert(rows.keySet === bySrc.keySet)
    bySrc.foreach { case (src, ds) =>
      val w = ds.map(_._2.split(" ").length.toLong).sum
      val syl = ds.map(d =>
        "[aeiou]+".r.findAllIn(d._2).length.toLong).sum
      val n = ds.length.toLong
      val (gN, gW, gS, gF, gK) = rows(src)
      assert(gN === n, s"$src n_docs")
      assert(gW === w, s"$src words")
      assert(gS === syl, s"$src syllables")
      assert(gF === 206835L - 1015L * w / n - 84600L * syl / w)
      assert(gK === 390L * w / n + 11800L * syl / w - 15590L)
    }
  }

  test("q443 Gumbel fit replays the method-of-moments chain over exact " +
    "block maxima and the return level exceeds the location") {
    val row = Stats.q443GumbelMaxima(spark, sf1).head()
    val daily = graft.sources.Tables.load(spark, sf1, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
        .as("rv"))
      .collect().map(r => (r.getDate(0).toString.substring(0, 7),
        r.getLong(1)))
    val mx = daily.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val nb = mx.size.toLong
    val s1 = mx.values.map(BigInt(_)).sum
    val s2 = mx.values.map(v => BigInt(v) * v).sum
    assert(row.getAs[Long]("nb") === nb)
    assert(row.getAs[Long]("s1") === s1.toLong)
    val sd = math.sqrt((s2.toDouble - s1.toDouble *
      (s1.toDouble / nb)) / (nb - 1.0))
    val beta = sd * 0.779696801233676
    val mu = s1.toDouble / nb - 0.5772156649015329 * beta
    assert(row.getAs[Long]("mu_milli") === math.floor(mu * 1e3).toLong)
    assert(row.getAs[Long]("beta_milli") ===
      math.floor(beta * 1e3).toLong)
    assert(row.getAs[Long]("rl12_milli") ===
      math.floor((mu + beta * 2.441716398881459) * 1e3).toLong)
    assert(row.getAs[Long]("rl12_milli") > row.getAs[Long]("mu_milli"))
  }

  test("q444 Ljung-Box replays the portmanteau fold on the exact ACF " +
    "census") {
    val row = Stats.q444LjungBox(spark, sf1).head()
    val daily = graft.sources.Tables.load(spark, sf1, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("x"))
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
    val n = daily.length.toLong
    val sx = daily.map(_._2).sum
    val y = daily.map { case (d, x) => (d, BigInt(n) * x - sx) }.toMap
    val den = y.values.map(v => v * v).sum
    var q = 0.0
    for (k <- 1 to 7) {
      val num = y.map { case (d, v) =>
        y.get(d.plusDays(k)).map(_ * v).getOrElse(BigInt(0)) }.sum
      val r = num.toDouble / den.toDouble
      q += r * r / (n.toDouble - k)
    }
    q *= n.toDouble * (n + 2.0)
    assert(row.getAs[Long]("n") === n)
    assert(row.getAs[Long]("q_milli") === math.floor(q * 1e3).toLong)
    assert(row.getAs[Boolean]("reject") === (q > 14.067140449340169))
  }

  test("q446 dispersion panel replays the per-type VMR cells and a " +
    "uniform generator sits near VMR 1") {
    val rows = Stats.q446Dispersion(spark, sf1).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n"), r.getAs[Long]("sx"),
          r.getAs[Long]("vmr_milli"), r.getAs[Long]("z_milli"))).toMap
    assert(rows.size === 5)
    val census = graft.sources.Tables.load(spark, sf1, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .collect().map(r => (r.getString(0), r.getLong(2)))
      .groupBy(_._1)
    census.foreach { case (tp, xs) =>
      val n = xs.length.toLong
      val sx = xs.map(_._2).sum
      val sxx = xs.map(x => BigInt(x._2) * x._2).sum
      val (gN, gSx, gVmr, gZ) = rows(tp)
      assert(gN === n); assert(gSx === sx)
      val vmr = (BigInt(1000) * (n * sxx - BigInt(sx) * sx) /
        ((n - 1) * BigInt(sx))).toLong
      assert(gVmr === vmr, s"$tp vmr")
      val vmrD = (n.toDouble * sxx.toDouble - sx.toDouble * sx) /
        ((n - 1.0) * sx)
      assert(gZ === math.floor((vmrD - 1.0) *
        math.sqrt((n - 1.0) / 2.0) * 1e3).toLong, s"$tp z")
      // iid-uniform arrivals: VMR should sit in a loose Poisson band
      assert(gVmr > 200L && gVmr < 5000L, s"$tp off-band vmr $gVmr")
    }
  }

  test("q448 RAKE replays the phrase-degree model and stopwords never " +
    "appear in the ranking") {
    val T = graft.operators.TextOps
    val got = T.q448RakeKeywords(spark, sf1).collect()
      .map(r => (r.getAs[String]("w"), r.getAs[Long]("freq"),
        r.getAs[Long]("deg"), r.getAs[Long]("score_milli")))
    assert(got.length === T.RakeTopK)
    assert(got.forall(r => !T.RakeStops.contains(r._1)))
    // brute-force phrase model
    val docs = graft.sources.Tables.load(spark, sf1, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val freq = scala.collection.mutable.Map.empty[String, Long]
    val deg = scala.collection.mutable.Map.empty[String, Long]
    docs.foreach { case (_, ws) =>
      val phrases = scala.collection.mutable.ArrayBuffer(
        scala.collection.mutable.ArrayBuffer.empty[String])
      ws.foreach { w =>
        if (T.RakeStops.contains(w))
          phrases += scala.collection.mutable.ArrayBuffer.empty[String]
        else phrases.last += w
      }
      phrases.filter(_.nonEmpty).foreach { ph =>
        ph.foreach { w =>
          freq(w) = freq.getOrElse(w, 0L) + 1
          deg(w) = deg.getOrElse(w, 0L) + ph.length
        }
      }
    }
    val want = freq.keys.toSeq
      .map(w => (w, freq(w), deg(w), 1000L * deg(w) / freq(w)))
      .sortBy(t => (-t._4, t._1)).take(T.RakeTopK)
    assert(got.toSeq === want)
  }

  test("q460 Wilcoxon signed-rank replays the doubled-midrank model " +
    "on nonzero paired differences") {
    val row = Stats.q460WilcoxonSignedRank(spark, sf1).head()
    val cut = java.sql.Timestamp.valueOf(
      graft.operators.Analytics.CupedSplit + " 00:00:00")
    val ds = graft.sources.Tables.load(spark, sf1, "events")
      .select(col("user_id"), col("ts"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .collect()
      .map(r => (r.getLong(0),
        r.getTimestamp(1).before(cut), r.getLong(2)))
      .groupBy(_._1).view
      .mapValues(g => g.filterNot(_._2).map(_._3).sum -
        g.filter(_._2).map(_._3).sum)
      .toMap.values.filter(_ != 0L).toSeq
    val n = ds.length.toLong
    assert(row.getAs[Long]("n") === n)
    val sorted = ds.map(d => (math.abs(d), d > 0)).sortBy(_._1)
    val rank2 = new Array[Long](sorted.length)
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length && sorted(j)._1 == sorted(i)._1) j += 1
      val r2 = (i + 1).toLong + j.toLong
      (i until j).foreach(k => rank2(k) = r2)
      i = j
    }
    val w2p = sorted.zipWithIndex.filter(_._1._2).map(t => rank2(t._2)).sum
    assert(row.getAs[Long]("w2p") === w2p)
    val ties = ds.map(math.abs).groupBy(identity).values
      .map(g => { val m = g.size.toLong; m * m * m - m }).sum
    val z = (w2p.toDouble - n * (n + 1.0) / 2.0) /
      (2.0 * math.sqrt(n * (n + 1.0) * (2.0 * n + 1.0) / 24.0 -
        ties.toDouble / 48.0))
    assert(row.getAs[Long]("z_micro") === math.floor(z * 1e6).toLong)
  }

  test("q474 design effect replays the truncated-ANOVA chain and iid " +
    "event values have near-zero ICC") {
    val row = Stats.q474DesignEffect(spark, sf1).head()
    val per = graft.sources.Tables.load(spark, sf1, "events")
      .select(col("user_id"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val k = per.size.toLong
    val n = per.values.map(_.size.toLong).sum
    val sTot = per.values.flatten.map(BigInt(_)).sum
    val q = per.values.flatten.map(v => BigInt(v) * v).sum
    val sn2 = per.values.map(g => BigInt(g.size) * g.size).sum
    val tMicro = per.values.map { g =>
      val su = g.map(BigInt(_)).sum
      su * su * 1000000 / g.size
    }.sum
    assert(row.getAs[Long]("k_users") === k)
    assert(row.getAs[Long]("n_events") === n)
    val msb = (tMicro.toDouble / 1e6 -
      sTot.toDouble * (sTot.toDouble / n)) / (k - 1.0)
    val msw = (q.toDouble - tMicro.toDouble / 1e6) / (n - k).toDouble
    val m0 = (n.toDouble - sn2.toDouble / n) / (k - 1.0)
    val icc = (msb - msw) / (msb + (m0 - 1.0) * msw)
    assert(row.getAs[Long]("icc_micro") ===
      math.floor(icc * 1e6).toLong)
    assert(row.getAs[Long]("deff_milli") ===
      math.floor((1.0 + (m0 - 1.0) * icc) * 1e3).toLong)
    // iid generator: |icc| small, deff near 1
    assert(math.abs(row.getAs[Long]("icc_micro")) < 100000L)
  }

  test("q478 stopword advisor replays the df/cf census and never " +
    "nominates the rare retrieval term") {
    val T = graft.operators.TextOps
    val rows = T.q478StopwordAdvisor(spark, sf1).collect()
      .map(r => r.getAs[String]("w") ->
        (r.getAs[Long]("df"), r.getAs[Long]("cf"),
          r.getAs[Long]("df_ppm"), r.getAs[Long]("cf_ppm"))).toMap
    val docs = graft.sources.Tables.load(spark, sf1, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val nDocs = docs.length.toLong
    val nToks = docs.map(_._2.length.toLong).sum
    val df = docs.flatMap(d => d._2.distinct.map((_, d._1)))
      .groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val cf = docs.flatMap(_._2).groupBy(identity).view
      .mapValues(_.length.toLong).toMap
    val want = df.keys.filter { w =>
      df(w) * 1000000L / nDocs >= T.StopDfGatePpm &&
        cf(w) * 1000000L / nToks >= T.StopCfGatePpm
    }.toSet
    assert(rows.keySet === want)
    rows.foreach { case (w, (gdf, gcf, gdfp, gcfp)) =>
      assert(gdf === df(w)); assert(gcf === cf(w))
      assert(gdfp === df(w) * 1000000L / nDocs)
      assert(gcfp === cf(w) * 1000000L / nToks)
    }
    // the planted rare term can never be a stopword candidate
    assert(!rows.contains("dup"))
  }

  test("q480 NB fit replays the method-of-moments cells and an iid " +
    "near-Poisson stream mostly declines the fit") {
    val rows = Stats.q480NegbinFit(spark, sf1).collect()
      .map { r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n"), r.getAs[Long]("mean_milli"),
          r.getAs[Long]("var_milli"),
          Option(r.get(4)).map(_.asInstanceOf[Long]),
          Option(r.get(5)).map(_.asInstanceOf[Long])) }.toMap
    assert(rows.size === 5)
    val census = graft.sources.Tables.load(spark, sf1, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getString(0), r.getLong(2))).groupBy(_._1)
    census.foreach { case (tp, xs0) =>
      val xs = xs0.map(_._2)
      val n = xs.length.toLong
      val sx = xs.sum; val sxx = xs.map(x => BigInt(x) * x).sum
      val mean = sx.toDouble / n
      val vr = (sxx.toDouble - sx.toDouble * (sx.toDouble / n)) /
        (n - 1.0)
      val (gn, gm, gv, gr, gp) = rows(tp)
      assert(gn === n)
      assert(gm === math.floor(mean * 1e3).toLong)
      assert(gv === math.floor(vr * 1e3).toLong)
      if (vr <= mean) { assert(gr.isEmpty); assert(gp.isEmpty) }
      else {
        assert(gr === Some(math.floor(
          mean * (mean / (vr - mean)) * 1e3).toLong), tp)
        assert(gp === Some(math.floor(mean / vr * 1e6).toLong), tp)
      }
    }
  }

  test("q492 seasonal strength replays the pivoted eta-squared chain " +
    "and sits in [0, 1]") {
    val row = Stats.q492SeasonalStrength(spark, sf1).head()
    val daily = graft.sources.Tables.load(spark, sf1, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
        .as("rv"))
      .collect().map { r =>
        val m = (java.time.temporal.ChronoUnit.DAYS.between(
          java.time.LocalDate.parse("1995-01-01"),
          r.getDate(0).toLocalDate) % 7).toInt
        (m, r.getLong(1))
      }
    val n = daily.length.toLong
    assert(row.getAs[Long]("n_days") === n)
    val sx = daily.map(_._2).sum
    val sxx = daily.map(d => BigInt(d._2) * d._2).sum
    var t = 0.0
    (0 until 7).foreach { m =>
      val g = daily.filter(_._1 == m)
      if (g.nonEmpty) {
        val sm = g.map(_._2).sum
        t += sm.toDouble * (sm.toDouble / g.length)
      }
    }
    val ssb = t - sx.toDouble * (sx.toDouble / n)
    val sst = sxx.toDouble - sx.toDouble * (sx.toDouble / n)
    assert(row.getAs[Long]("strength_ppm") ===
      math.floor(ssb / sst * 1e6).toLong)
    val sp = row.getAs[Long]("strength_ppm")
    assert(sp >= -1000L && sp <= 1000000L, s"eta^2 out of range: $sp")
  }
}
