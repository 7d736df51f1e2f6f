package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Pipeline}

/** Semantic checks for the round-2 pipeline operators — properties the
  * differential oracle can't express (determinism under re-run, split
  * leakage, cluster transitivity, retrieval relevance, bound tightness). */
class PipelineSpec extends SparkSpec {

  test("q166 incremental view maintenance lands exactly on the " +
    "from-scratch rebuild") {
    import org.apache.spark.sql.functions._
    val ivm = Pipeline.q166IncrementalAgg(spark, sf1).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // rebuild: apply the same mutation vocabulary, re-aggregate
    val base = graft.sources.Tables.load(spark, sf1, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderpriority").as("g"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    val next = base.filter(col("k") % 13 =!= 0)
      .select(col("g"), when(col("k") % 10 === 0, col("cents") + 500L)
        .otherwise(col("cents")).as("cents"))
      .unionByName(base.filter(col("k") % 97 === 0)
        .select(col("g"), (col("cents") + 1L).as("cents")))
    val rebuilt = next.groupBy("g")
      .agg(count(lit(1)).as("n"), sum("cents").as("s")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(ivm === rebuilt)
    // the maintenance really changed the view (mutations are visible)
    val baseAgg = base.groupBy("g").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ivm.exists { case (g, (n, _)) => baseAgg(g) != n })
  }

  test("q62 split is a pure function of content: re-run is identical") {
    val a = Pipeline.q62HashSplit(spark, sf1).orderBy("doc_id").collect()
    val b = Pipeline.q62HashSplit(spark, sf1).orderBy("doc_id").collect()
    assert(a.sameElements(b))
  }

  test("q62 splits partition the corpus with sane proportions") {
    val counts = Pipeline.q62HashSplit(spark, sf1)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = counts.values.sum
    assert(n === 500L)
    // 80/10/10 targets; the corpus is small so allow wide tolerance
    assert(counts("train") > n * 6 / 10, s"train=${counts("train")}")
    assert(counts.getOrElse("val", 0L) > 0L)
    assert(counts.getOrElse("test", 0L) > 0L)
  }

  test("q62 identical texts land in identical splits (dup-leak proof)") {
    // duplicate the corpus under shifted ids: every text's split must
    // match its copy's — the property id-hash or random splits lack
    val docs = graft.sources.Tables.load(spark, sf1, "documents")
    val withBucket = docs.select(col("doc_id"),
      expr("poly_hash(text) % 100").as("b"))
    val copy = docs.select((col("doc_id") + 7777L).as("doc_id2"),
      expr("poly_hash(text) % 100").as("b2"), (col("doc_id")).as("orig"))
    val mismatch = withBucket.join(copy, col("doc_id") === col("orig"))
      .filter(col("b") =!= col("b2")).count()
    assert(mismatch === 0L)
  }

  test("q63 planted twins share a cluster; labels are component minima") {
    val labels = Dedup.q63DedupClusters(spark, sf1).cache()
    // every doc labeled exactly once
    assert(labels.count() === 1000L)
    assert(labels.select("doc_id").distinct().count() === 1000L)
    // planted pair (d, d+offset): must share a cluster whenever LSH
    // linked them (directly OR transitively); sample via the pair list
    val pairs = Dedup.q30DedupMinhashLsh(spark, sf1)
    val viol = pairs
      .join(labels.withColumnRenamed("doc_id", "doc_id_1")
        .withColumnRenamed("cluster", "c1"), "doc_id_1")
      .join(labels.withColumnRenamed("doc_id", "doc_id_2")
        .withColumnRenamed("cluster", "c2"), "doc_id_2")
      .filter(col("c1") =!= col("c2")).count()
    assert(viol === 0L, s"$viol candidate pairs ended in different clusters")
    // a cluster's label is its min member id
    val badLabel = labels.groupBy("cluster")
      .agg(min("doc_id").as("mn"))
      .filter(col("cluster") =!= col("mn")).count()
    assert(badLabel === 0L)
    labels.unpersist()
  }

  test("q64 ranks are 1..k and rare-term docs dominate the top") {
    val top = Pipeline.q64Bm25TopK(spark, sf1).collect()
    assert(top.map(_.getAs[Long]("rank")).sorted.toSeq ===
      (1L to Pipeline.Bm25TopK).toSeq)
    // docs containing the rare term 'dup' (df=25/500, idf ~19x the common
    // terms') should fill most of the top-k
    val docs = graft.sources.Tables.load(spark, sf1, "documents")
      .filter(array_contains(split(col("text"), " "), "dup"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val hits = top.count(r => docs.contains(r.getAs[Long]("doc_id")))
    assert(hits >= Pipeline.Bm25TopK / 2,
      s"only $hits/${Pipeline.Bm25TopK} top docs contain the rare term")
  }

  test("q65 salted join equals the plain join it replaces") {
    val salted = Pipeline.q65SaltedJoin(spark, sf1)
    val fact = graft.sources.Tables.load(spark, sf1, "lineitem")
      .select("l_orderkey", "l_quantity")
    val dim = graft.sources.Tables.load(spark, sf1, "orders")
      .select("o_orderkey", "o_orderpriority")
    val plain = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)"))
          .cast("double").as("sum_qty"))
    assert(salted.exceptAll(plain).count() === 0L)
    assert(plain.exceptAll(salted).count() === 0L)
  }

  test("q69 tiles are 1..4 and rank fractions stay in [0,1]") {
    val r = graft.operators.Extensions.q69RankFamily(spark, sf1).cache()
    assert(r.filter(col("tile") < 1 || col("tile") > 4).count() === 0L)
    assert(r.filter(col("pr") < 0.0 || col("pr") > 1.0).count() === 0L)
    assert(r.filter(col("cd") <= 0.0 || col("cd") > 1.0).count() === 0L)
    r.unpersist()
  }

  test("q70 planted-pair edit distances cover every doc and are positive") {
    val d = Dedup.q70EditDistance(spark, sf1).cache()
    assert(d.count() === 500L)
    assert(d.filter(col("dist") <= 0L).count() === 0L)
    d.unpersist()
  }

  test("q71 banded hamming search recalls most planted twins") {
    val pairs = Dedup.q71SimhashHamming(spark, sf1).cache()
    val twins = pairs.filter(
      col("doc_id_2") === col("doc_id_1") + Dedup.PlantedOffset).count()
    assert(twins > 350L, s"only $twins/500 twins within hamming 1")
    assert(pairs.filter(col("dist") > Dedup.HammingRadius).count() === 0L)
    pairs.unpersist()
  }

  test("q71 index honors the hot-key df cap — candidate volume is " +
    "bounded at C(cap,2) per key, O(corpus) overall") {
    val maxDf = Dedup.q71KeptIndex(spark, sf1)
      .groupBy("tripleid", "key24").count()
      .agg(max("count")).head().getLong(0)
    assert(maxDf <= Dedup.HammingDfCap,
      s"a joined key has df=$maxDf > cap=${Dedup.HammingDfCap}")
  }

  test("q71 recall is TOTAL where the cap doesn't bind: output equals " +
    "brute-force radius-1 truth at this SF") {
    // pigeonhole check for the triple geometry — at sf0.001 every
    // (tripleid, key24) df is far under the cap (measured max 74), so
    // the declared recall bound degenerates to full recall and the
    // banded search must equal all-pairs popcount exactly
    val banded = Dedup.q71BandedIndex(spark, sf1)
    val dfMax = banded.groupBy("tripleid", "key24").count()
      .agg(max("count")).head().getLong(0)
    assert(dfMax <= Dedup.HammingDfCap,
      "precondition: cap must not bind at this SF for this test")
    val sigs = banded.select("doc_id", "sh").distinct().cache()
    val truth = sigs.as("a").crossJoin(sigs.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id") &&
        expr("bit_count(a.sh ^ b.sh)") <= Dedup.HammingRadius)
      .count()
    assert(Dedup.q71SimhashHamming(spark, sf1).count() === truth)
    sigs.unpersist()
  }

  test("q75 emits no fingerprint present in the corpus partition") {
    val out = graft.operators.Pipeline
      .q75IncrementalDedup(spark, sf1).cache()
    val corpusFps = graft.sources.Tables.load(spark, sf1, "documents")
      .filter(col("doc_id") < 250L)
      .select(expr("poly_hash(text)").as("fp"))
    assert(out.join(corpusFps, "fp").count() === 0L)
    // this corpus has all-distinct texts, so every batch doc survives
    assert(out.count() === 250L)
    out.unpersist()
  }

  test("q91 quantization stays in int8 range and saturates the scale dim") {
    val r = graft.operators.Similarity.q91QuantizeEmbeddings(spark, sf1)
    assert(r.count() === 500L)
    // all values in int8 range, and per vector the max-|v| dimension
    // lands within 1 ulp-floor of ±127 (the symmetric-scale guarantee)
    val bad = r.filter(col("qmax") > 127L || col("qmin") < -128L ||
      greatest(abs(col("qmin")), col("qmax")) < 126L)
    assert(bad.count() === 0L)
  }

  test("q84 removes planted verbatim contamination, keeps clean docs") {
    import spark.implicits._
    val bench = Seq((0L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // quotes a benchmark 5-gram inside a longer document → contaminated
      (1L, "intro alpha beta gamma delta epsilon outro"),
      // shares words but no 5-gram window → clean
      (2L, "alpha beta gamma other delta epsilon"),
      (3L, "wholly unrelated words here for sure")).toDF("doc_id", "text")
    val survivors = Pipeline.decontaminate(corpus, bench)
      .select("doc_id").as[Long].collect().sorted
    assert(survivors.toSeq === Seq(2L, 3L))
  }

  test("q84 on testdata is non-vacuous: drops some docs, keeps some") {
    val n = Pipeline.q84Decontaminate(spark, sf1).count()
    assert(n > 0L, "decontamination removed the whole corpus")
    assert(n < 450L, "decontamination removed nothing")
  }

  test("q85 downsamples the over-represented stratum hardest") {
    val docs = graft.sources.Tables.load(spark, sf1, "documents")
    val before = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val after = Pipeline.q85StratifiedSample(spark, sf1)
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // every stratum survives, none exceeds its original size, and the
    // kept FRACTION of `en` (the ~40% stratum) is the smallest
    assert(before.keySet === after.keySet)
    after.foreach { case (l, n) => assert(n <= before(l), l) }
    val frac = after.map { case (l, n) => l -> n.toDouble / before(l) }
    assert(frac("en") === frac.values.min)
  }

  test("q85 sampling is deterministic under re-run") {
    val a = Pipeline.q85StratifiedSample(spark, sf1)
      .orderBy("doc_id").collect()
    val b = Pipeline.q85StratifiedSample(spark, sf1)
      .orderBy("doc_id").collect()
    assert(a.sameElements(b))
  }

  test("q86 emits one row per (label, dim) with consistent counts") {
    val r = graft.operators.Similarity.q86LabelCentroids(spark, sf1)
    val rows = r.collect()
    assert(rows.length === 10 * 64)
    // n must be constant across dims within a label (every vector has
    // all 64 dims)
    val ns = rows.groupBy(_.getAs[Int]("label"))
      .map { case (_, rs) => rs.map(_.getAs[Long]("n")).toSet.size }
    assert(ns.forall(_ === 1))
  }

  test("q76 ranks each probe's own vector first") {
    val r = graft.operators.Similarity.q76BatchAnn(spark, sf1)
      .filter(col("rank") === 1L).collect()
      .map(x => x.getAs[Long]("probe_id") -> x.getAs[Long]("vec_id"))
    assert(r.length === graft.operators.Similarity.NumProbes)
    // cosine(v, v) = 1 is the max, so rank 1 must be the probe itself
    assert(r.forall { case (p, v) => p === v },
      s"self-match must rank first: ${r.toSeq}")
  }

  test("prepareCorpus: dedups planted twins, splits survivors, writes") {
    val docs = graft.sources.Tables.load(spark, sf1, "documents")
      .select("doc_id", "text")
    val planted = docs.unionByName(docs.select(
      (col("doc_id") + Dedup.PlantedOffset).as("doc_id"),
      expr("""array_join(slice(split(text, ' '), 1,
              size(split(text, ' ')) - 1), ' ')""").as("text")))
    val out = java.nio.file.Files
      .createTempDirectory("graft-corpus").toString
    val kept = graft.operators.Pipeline
      .prepareCorpus(spark, planted, Some(out)).cache()
    val n = kept.count()
    // most perturbed twins collapse into their original's cluster, and
    // LSH may also merge similar ORIGINALS (this corpus is genuinely
    // self-similar) — so survivors land well under 1000 but not under
    // the cluster count floor
    assert(n < 750L, s"expected < 750 survivors of 1000, got $n")
    assert(n > 200L, s"implausibly few survivors: $n")
    // a surviving perturbed doc means its original landed in a DIFFERENT
    // cluster — allowed (LSH miss) but must be the exception
    val keptPerturbed = kept
      .filter(col("doc_id") >= Dedup.PlantedOffset).count()
    assert(keptPerturbed < 150L,
      s"$keptPerturbed perturbed docs survived their originals")
    // split column written as partition dirs
    val dirs = new java.io.File(out).listFiles()
      .map(_.getName).filter(_.startsWith("split=")).toSet
    assert(dirs === Set("split=train", "split=val", "split=test"))
    // re-run is identical (determinism end to end)
    val again = graft.operators.Pipeline.prepareCorpus(spark, planted)
    assert(kept.select("doc_id", "split").exceptAll(
      again.select("doc_id", "split")).count() === 0L)
    kept.unpersist()
  }

  test("q95 packing conserves tokens and caps every multi-doc sequence") {
    val bins = Pipeline.q95PackSequences(spark, sf1).collect()
    assert(bins.nonEmpty)
    // token conservation: packed totals equal the raw corpus census
    val corpusTok = graft.sources.Tables.load(spark, sf1, "documents")
      .select(sum(size(split(col("text"), " ")))).head.getLong(0)
    assert(bins.map(_.getAs[Long]("seq_tokens")).sum === corpusTok)
    // contiguous-packing invariant: a sequence holding 2+ docs spans
    // less than budget + one overhanging doc; a single-doc sequence may
    // be any size (an oversized doc owns its bins)
    bins.filter(_.getAs[Long]("n_docs") >= 2L).foreach { r =>
      assert(r.getAs[Long]("seq_tokens") <= 2L * Pipeline.PackBudget)
    }
    // per-source doc ranges never interleave across sequence ids
    bins.groupBy(_.getAs[String]("source")).foreach { case (_, rs) =>
      val ordered = rs.sortBy(_.getAs[Long]("seq_id"))
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("last_doc") <= b.getAs[Long]("first_doc"))
        case _ =>
      }
    }
  }

  test("q97 weights are inverse to source size and fix the token mixture") {
    val rows = Pipeline.q97MixtureWeights(spark, sf1).collect()
    assert(rows.length >= 2)
    val byTok = rows.sortBy(_.getAs[Long]("src_tokens"))
    // monotone: more tokens -> no larger weight
    byTok.sliding(2).foreach {
      case Array(a, b) => assert(
        a.getAs[Long]("weight_ppm") >= b.getAs[Long]("weight_ppm"))
      case _ =>
    }
    // applying the weight equalizes token mass to ~total/n per source
    // (within integer-floor slack of one budget unit per source)
    val total = rows.map(_.getAs[Long]("src_tokens")).sum
    val target = total / rows.length
    rows.foreach { r =>
      val reweighted =
        r.getAs[Long]("src_tokens") * r.getAs[Long]("weight_ppm") /
          1000000L
      assert(math.abs(reweighted - target) <= target / 100L + 2L)
    }
  }

  test("q66 sketch median sits inside the exact p45-p55 band everywhere") {
    val rows = Pipeline.q66ApproxQuantile(spark, sf1).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("within_band")))
  }

  test("q130 quality constraints: clean checks green, and the audit " +
    "actually CATCHES the testdata's real PK duplication") {
    val audit = Pipeline.q130QualityConstraints(spark, sf1).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(audit.size === 7, s"expected 7 checks, got ${audit.keySet}")
    for ((check, (violations, pass)) <- audit)
      assert(pass === (if (violations == 0L) 1L else 0L), s"$check")
    // the synthetic lineitem genuinely repeats (l_orderkey,
    // l_linenumber) pairs — the audit's job is to SAY so (pass=0 with
    // the exact count), which also proves the suite is falsifiable
    val expected = graft.sources.Tables.load(spark, sf1, "lineitem")
      .agg((count(lit(1)) -
        countDistinct(col("l_orderkey"), col("l_linenumber"))).as("d"))
      .head().getLong(0)
    assert(expected > 0L, "testdata was expected to carry PK dupes")
    assert(audit("pk_unique") === ((expected, 0L)),
      s"pk_unique should report exactly $expected violations")
    for (green <- Seq("rowcount_nonzero", "orderkey_complete",
        "quantity_in_1_50", "discount_in_0_10pct", "price_positive",
        "orders_ref_integrity"))
      assert(audit(green)._2 === 1L, s"$green should be green")
  }

  test("q172 shards partition the corpus with per-shard counts within " +
    "|bands| of each other (band-local round-robin balance bound)") {
    val shards = Pipeline.q172ShardAssign(spark, sf1).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(shards.keySet === (0L until Pipeline.NumShards).toSet)
    val docs = graft.sources.Tables.load(spark, sf1, "documents")
    assert(shards.values.map(_._1).sum === docs.count())
    assert(shards.values.map(_._2).sum ===
      docs.agg(sum("n_chars")).head().getLong(0))
    val counts = shards.values.map(_._1)
    assert(counts.max - counts.min <= (Pipeline.ShardBucketCap + 1).toLong,
      s"round-robin count balance violated: $shards")
  }

  test("q223 fused ranking is arithmetic-consistent with its input " +
    "ranks and dense from 1") {
    val rows = Pipeline.q223RrfFusion(spark, sf1)
      .orderBy("fused_rank").collect()
    assert(rows.length === Pipeline.RrfTopK)
    assert(rows.map(_.getLong(4)).toSeq === (1L to Pipeline.RrfTopK))
    for (r <- rows) {
      val ra = if (r.isNullAt(1)) None else Some(r.getLong(1))
      val rb = if (r.isNullAt(2)) None else Some(r.getLong(2))
      assert(ra.nonEmpty || rb.nonEmpty, "doc in neither input list")
      val expect = ra.map(x => 1000000L / (Pipeline.RrfK.toLong + x)).getOrElse(0L) +
        rb.map(x => 1000000L / (Pipeline.RrfK.toLong + x)).getOrElse(0L)
      assert(r.getLong(3) === expect, s"rrf_ppm mismatch at $r")
      assert(ra.forall(x => x >= 1 && x <= Pipeline.RrfPoolK))
      assert(rb.forall(x => x >= 1 && x <= Pipeline.RrfPoolK))
    }
    // fusion is monotone: scores are non-increasing down the fused list
    val scores = rows.map(_.getLong(3))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("q225 effective sources sits in [1e6, n_sources*1e6] and matches " +
    "a recomputed inverse-Simpson") {
    val rows = Pipeline.q225EffectiveSources(spark, sf1).collect()
    assert(rows.nonEmpty)
    val census = graft.sources.Tables.load(spark, sf1, "documents")
      .groupBy("lang", "source").count().collect()
      .groupBy(_.getString(0))
    for (r <- rows) {
      val (lang, nDocs, nSrc, eff) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(eff >= 1000000L, s"$lang below monoculture floor")
      assert(eff <= nSrc * 1000000L, s"$lang above balanced ceiling")
      val ns = census(lang).map(_.getLong(2))
      assert(ns.sum === nDocs && ns.size.toLong === nSrc)
      val expect = BigInt(nDocs) * nDocs * 1000000 /
        ns.map(n => BigInt(n) * n).sum
      assert(BigInt(eff) === expect, s"$lang inverse-Simpson mismatch")
    }
  }

  test("q228 quantile normalization preserves in-source order, covers " +
    "every doc once, and pins each source's top doc to the pooled max") {
    val docs = graft.sources.Tables.load(spark, sf1, "documents")
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val out = Pipeline.q228QuantileNormalize(spark, sf1).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.length === docs.length, "one output row per document")
    assert(out.map(_._1).distinct.length === docs.length)
    val pooledMax = docs.map(_._3).max
    for ((_, rows) <- out.groupBy(_._2)) {
      // sort by in-source rank order (n_chars, doc_id): qnorm must be
      // monotone non-decreasing — normalization never reorders a source
      val sorted = rows.sortBy(r => (r._3, r._1))
      val qs = sorted.map(_._4)
      assert(qs.zip(qs.tail).forall { case (a, b) => a <= b },
        s"qnorm not monotone within source ${rows.head._2}")
      // r = n_g maps to j = N exactly: top doc gets the pooled max
      assert(qs.last === pooledMax,
        s"source ${rows.head._2} top doc must map to the pooled max")
      // and every normalized value is a real pooled value
      val pooledVals = docs.map(_._3).toSet
      assert(qs.forall(pooledVals.contains))
    }
  }

  test("q237 weighted sample is deterministic under re-run and biased " +
    "toward heavy documents") {
    val a = Pipeline.q237WeightedSample(spark, sf1).collect()
    val b = Pipeline.q237WeightedSample(spark, sf1).collect()
    assert(a.sameElements(b), "content-hash draw must reproduce")
    assert(a.length === Pipeline.WSampleK)
    // priorities are sorted ascending (smallest-priority-wins contract)
    val ps = a.map(_.getLong(2))
    assert(ps.zip(ps.tail).forall { case (x, y) => x <= y })
    // inclusion tracks weight: the sample's mean weight must exceed the
    // corpus mean (deterministic on this fixed corpus)
    val sampleMean = a.map(_.getLong(1)).sum.toDouble / a.length
    val corpus = graft.sources.Tables.load(spark, sf1, "documents")
      .select("n_chars").collect().map(_.getLong(0))
    val corpusMean = corpus.sum.toDouble / corpus.length
    assert(sampleMean > corpusMean,
      s"sample mean $sampleMean not above corpus mean $corpusMean")
  }

  test("q238 audits every declared FK edge with counts matching " +
    "independent anti-joins") {
    import org.apache.spark.sql.functions._
    val rows = Pipeline.q238FkIntegrity(spark, sf1).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(rows.keySet === Set("lineitem_orders", "lineitem_part",
      "lineitem_supplier", "orders_customer", "customer_nation",
      "supplier_nation", "nation_region"))
    val li = graft.sources.Tables.load(spark, sf1, "lineitem")
    val ord = graft.sources.Tables.load(spark, sf1, "orders")
    // spot-verify one fact edge and one dim edge independently
    val (nLi, orphLi, ppmLi) = rows("lineitem_orders")
    assert(nLi === li.count())
    assert(orphLi === li.join(ord,
      li("l_orderkey") === ord("o_orderkey"), "left_anti").count())
    assert(ppmLi === orphLi * 1000000L / nLi)
    val nat = graft.sources.Tables.load(spark, sf1, "nation")
    val (nN, orphN, _) = rows("nation_region")
    assert(nN === nat.count())
    assert(orphN === nat.join(
      graft.sources.Tables.load(spark, sf1, "region"),
      nat("n_regionkey") === col("r_regionkey"), "left_anti").count())
  }

  test("q250 both strategies batch the same corpus, geometry replays, " +
    "and length bucketing strictly cuts padding waste") {
    val rows = Pipeline.q250PaddingWaste(spark, sf1).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(rows.keySet === Set("arrival", "length_bucketed"))
    val (anB, aTot, aPad, aW) = rows("arrival")
    val (bnB, bTot, bPad, bW) = rows("length_bucketed")
    assert(aTot === bTot, "real token mass must not depend on batching")
    assert(aPad >= aTot && bPad >= bTot, "padding can only add tokens")
    assert(aW === (aPad - aTot) * 1000000L / aPad)
    assert(bW === (bPad - bTot) * 1000000L / bPad)
    val nDocs = graft.sources.Tables.load(spark, sf1, "documents").count()
    assert(anB === (nDocs + Pipeline.PadB - 1) / Pipeline.PadB,
      "arrival batch count must be ceil(n/B) — doc_ids are dense")
    assert(bnB >= anB, "band fragmentation can only add batches")
    assert(bW < aW, "length bucketing must cut waste — the op's point")
  }

  test("q251 aggregates replay a scala model of both schemes and every " +
    "ring-moved key lands on the NEW shard (minimal disruption)") {
    val r = Pipeline.q251ConsistentHash(spark, sf1).collect().head
    val (nKeys, movedMod, movedRing) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    val keys = graft.sources.Tables.load(spark, sf1, "events")
      .select("user_id").distinct().collect().map(_.getLong(0))
    assert(nKeys === keys.length)
    def lcg(x: Long): Long = (x * 1103515245L + 12345L) % 2147483647L
    val (r8, r9) = (Pipeline.ringFor(8), Pipeline.ringFor(9))
    def assign(ring: IndexedSeq[(Long, Int)], kp: Long): Int =
      ring.find(_._1 >= kp).getOrElse(ring.head)._2
    val kps = keys.map(lcg)
    assert(movedMod === kps.count(k => k % 8 != k % 9))
    val moves = kps.map(k => (assign(r8, k), assign(r9, k)))
      .filter { case (a, b) => a != b }
    assert(movedRing === moves.length)
    assert(moves.forall(_._2 === 8),
      "a ring-moved key not landing on the new shard breaks the " +
        "minimal-disruption theorem")
    assert(r.getLong(3) === movedMod * 1000000L / nKeys)
    assert(r.getLong(4) === movedRing * 1000000L / nKeys)
  }

  test("q260 quotas sum to exactly N, each within 1 of its floor, and " +
    "the +1s go to the largest remainders") {
    val rows = Pipeline.q260QuotaAllocate(spark, sf1).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    assert(rows.map(_._5).sum === Pipeline.QuotaN,
      "apportionment must hit the budget exactly — the whole point")
    val total = rows.map(_._2).sum
    for ((src, nd, fq, rem, q) <- rows) {
      assert(fq === nd * Pipeline.QuotaN / total)
      assert(rem === nd * Pipeline.QuotaN % total)
      assert(q === fq || q === fq + 1, s"$src quota outside floor+1")
    }
    // every bumped source has a remainder >= every unbumped one
    // (ties broken by name, so compare on (rem, reversed name) order)
    val bumped = rows.filter(r => r._5 == r._3 + 1)
    val unbumped = rows.filter(r => r._5 == r._3)
    if (bumped.nonEmpty && unbumped.nonEmpty) {
      val minBump = bumped.map(_._4).min
      val maxPass = unbumped.map(_._4).max
      assert(minBump >= maxPass,
        "a smaller remainder was bumped over a larger one")
    }
  }

  test("q263 folds partition every stratum to within one document and " +
    "the assignment replays the LCG rank") {
    val rows = Pipeline.q263StratifiedFolds(spark, sf1).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val nDocs = graft.sources.Tables.load(spark, sf1, "documents")
      .count()
    assert(rows.length.toLong === nDocs, "every doc gets a fold")
    assert(rows.forall(r => r._3 >= 0 && r._3 < Pipeline.KFolds))
    for ((src, grp) <- rows.groupBy(_._2)) {
      val sizes = (0L until Pipeline.KFolds)
        .map(f => grp.count(_._3 == f))
      assert(sizes.max - sizes.min <= 1,
        s"stratum $src imbalanced: $sizes — the op's whole point")
      // replay: fold must equal (LCG-rank − 1) mod k within the stratum
      val ranked = grp.sortBy(d =>
        ((d._1 * 1103515245L + 12345L) % 2147483647L, d._1))
      for ((doc, i) <- ranked.zipWithIndex)
        assert(doc._3 === i.toLong % Pipeline.KFolds,
          s"doc ${doc._1} fold diverged from rank replay")
    }
  }

  test("q273 erasure closure replays independent cascade counts and " +
    "conserves row mass per table") {
    import org.apache.spark.sql.functions._
    val rows = Pipeline.q273ErasureAudit(spark, sf1).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(rows.keySet === Set("customer", "orders", "lineitem"))
    for ((t, (total, refs, after)) <- rows) {
      assert(after === total - refs, s"$t mass not conserved")
      assert(refs >= 0L && refs <= total)
    }
    val cust = graft.sources.Tables.load(spark, sf1, "customer")
    assert(rows("customer")._2 === cust
      .filter(col("c_custkey") % Pipeline.ErasureMod === 0).count())
    // the cascade: lineitem references through the order hop
    val ord = graft.sources.Tables.load(spark, sf1, "orders")
    val vOrd = ord.filter(col("o_custkey") % Pipeline.ErasureMod === 0)
    assert(rows("orders")._2 === vOrd.count())
    assert(rows("lineitem")._2 ===
      graft.sources.Tables.load(spark, sf1, "lineitem")
        .join(vOrd, col("l_orderkey") === col("o_orderkey"),
          "left_semi").count())
    assert(rows("lineitem")._2 > 0L,
      "cascade found nothing — the audit's hop is broken")
  }

  test("q274 buckets partition the rows and the fold accounts for " +
    "every true category exactly once") {
    import org.apache.spark.sql.functions._
    val rows = Pipeline.q274HashCrossAudit(spark, sf1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    val cust = graft.sources.Tables.load(spark, sf1, "customer")
    assert(rows.map(_._2).sum === cust.count(),
      "bucket row masses must partition the table")
    val truePairs = cust
      .select("c_nationkey", "c_mktsegment").distinct().count()
    assert(rows.map(_._3).sum === truePairs,
      "every true category folds into exactly one bucket")
    assert(rows.forall(r => r._4 === (r._3 > 1)))
    assert(rows.exists(_._4),
      "no collision at 125 categories over 32 buckets — hash broken")
    // the key construction's injectivity precondition: first letters
    // of the segment values are pairwise distinct
    val firsts = cust.select("c_mktsegment").distinct().collect()
      .map(_.getString(0).head)
    assert(firsts.toSet.size === firsts.length,
      "segment first letters collide — ck is no longer injective")
  }

  test("q280 greedy fill hits the budget exactly with at most one " +
    "fractional source, in strict quality order") {
    val rows = Pipeline.q280QualityKnapsack(spark, sf1).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))
      .sortBy(_._4)
    assert(rows.nonEmpty)
    val total = rows.map(_._3).sum
    val budget = total * Pipeline.KnapBudgetPct / 100
    assert(rows.map(_._5).sum === budget,
      "taken tokens must hit the budget exactly")
    assert(rows.count(_._6) <= 1, "at most one fractional source")
    // prefix structure: full sources, then ≤1 partial, then zeros
    val takes = rows.map(r => (r._3, r._5))
    val states = takes.map { case (n, t) =>
      if (t == n) 0 else if (t == 0L) 2 else 1 }
    assert(states.zip(states.tail).forall { case (a, b) => a <= b },
      "greedy fill must be a prefix in rank order")
    // rank order is quality desc (source asc on ties)
    val qs = rows.map(_._2)
    assert(qs.zip(qs.tail).forall { case (a, b) => a >= b })
  }

  test("q289 fold profiles cover every doc once and stratification " +
    "keeps per-fold means within a tight relative band") {
    val rows = Pipeline.q289FoldBalanceAudit(spark, sf1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.map(_._1).sorted.toSeq ===
      (0L until Pipeline.KFolds))
    val nDocs = graft.sources.Tables.load(spark, sf1, "documents")
      .count()
    assert(rows.map(_._2).sum === nDocs)
    // the audit's point: stratified folds are exchangeable — mean
    // length and quality must sit within sampling noise of each
    // other (folds hold ~100 docs at sf0.001, so ~10% 1/sqrt(n)
    // noise on length; 20% is the right claim strength here, and the
    // differential pins the exact values regardless)
    for (metric <- Seq(rows.map(_._3), rows.map(_._4))) {
      val (mx, mn) = (metric.max, metric.min)
      assert((mx - mn) * 100 < mx * 20,
        s"fold profile spread ${mx - mn} exceeds 20% of $mx")
    }
  }

  test("q292 Neyman quotas hit the budget exactly, weights replay the " +
    "n*sigma formula, and the allocation actually differs from " +
    "proportional") {
    val rows = Pipeline.q292NeymanAllocation(spark, sf1).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    assert(rows.map(_._5).sum === Pipeline.NeymanN,
      "Neyman quotas must hit the budget exactly")
    val lens = graft.sources.Tables.load(spark, sf1, "documents")
      .select(col("source"),
        size(split(col("text"), " ")).cast("bigint").as("l"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1)
    for ((src, nh, w, _, _) <- rows) {
      val xs = lens(src).map(_._2)
      assert(nh === xs.length.toLong)
      val n = xs.length.toDouble
      val sv = xs.sum.toDouble
      val qv = xs.map(x => x.toDouble * x).sum
      val sd = math.sqrt((n * qv - sv * sv) / (n * (n - 1.0)))
      assert(w === math.floor(n * sd).toLong, s"$src weight diverged")
    }
    assert(rows.exists(r => r._4 != r._5),
      "Neyman equals proportional everywhere — variance weighting " +
        "is doing nothing on this corpus")
  }

  test("q398 bottom-k sample: exactly k per stratum, matches the " +
    "priority-rank model, stable under repartitioning") {
    val rows = Pipeline.q398BottomkSample(spark, sf1).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("rank")))
    val prio = graft.sources.Tables.load(spark, sf1, "documents")
      .select(col("lang"), col("doc_id"),
        expr("poly_hash(text)").as("p"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val model = prio.groupBy(_._1).toSeq.flatMap { case (lang, ds) =>
      ds.sortBy(d => (d._3, d._2)).take(Pipeline.BottomK).zipWithIndex
        .map { case (d, i) => (lang, d._2, (i + 1).toLong) }.toSeq
    }.toSet
    assert(rows.toSet === model)
    // exactly k per stratum (every language has >= k docs here)
    rows.groupBy(_._1).foreach { case (lang, g) =>
      assert(g.length === Pipeline.BottomK, lang)
      assert(g.map(_._3).sorted === (1L to Pipeline.BottomK).toArray)
    }
    // mergeability in practice: a different physical partitioning
    // must produce the identical sample (the reservoir property)
    import spark.implicits._
    val reshuffled = graft.sources.Tables
      .load(spark, sf1, "documents").repartition(13)
      .select(col("lang"), col("doc_id").as("id"),
        expr("CAST(-poly_hash(text) AS DOUBLE)").as("score"))
      .as[Pipeline.LangPriority]
    val agg = graft.functions.TopKByScore[Pipeline.LangPriority](
      Pipeline.BottomK, r => graft.functions.Scored(r.id, r.score))
    val re = reshuffled.groupByKey(_.lang).agg(agg.toColumn.name("ids"))
      .flatMap { case (l, ids) => ids.zipWithIndex.map { case (id, i) =>
        (l, id, (i + 1).toLong) } }.collect().toSet
    assert(re === model, "sample is partitioning-dependent")
  }

  test("q402 RRF fusion: formula replay from released ranks, union of " +
    "the legs, deterministic fused order") {
    val rows = Pipeline.q402HybridRetrieval(spark, sf1).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        Option(r.getAs[java.lang.Long]("bm25_rank")).map(_.toLong),
        Option(r.getAs[java.lang.Long]("ann_rank")).map(_.toLong),
        r.getAs[Long]("rrf_micro"), r.getAs[Long]("fused_rank")))
    // every row comes from at least one leg; legs are complete top-k's
    assert(rows.forall(r => r._2.nonEmpty || r._3.nonEmpty))
    assert(rows.flatMap(_._2).sorted ===
      (1L to Pipeline.Bm25TopK.toLong).toArray)
    assert(rows.flatMap(_._3).sorted ===
      (1L to Pipeline.Bm25TopK.toLong).toArray)
    // RRF formula over released ranks (pure integer division)
    rows.foreach { r =>
      val exp = r._2.map(x => 1000000L / (Pipeline.RrfK.toLong + x)).getOrElse(0L) +
        r._3.map(x => 1000000L / (Pipeline.RrfK.toLong + x)).getOrElse(0L)
      assert(r._4 === exp, s"doc ${r._1}")
    }
    // fused_rank is the (rrf DESC, doc_id) permutation
    val expected = rows.sortBy(r => (-r._4, r._1)).map(_._1)
    assert(rows.sortBy(_._5).map(_._1) === expected)
    // a doc in both legs outranks one sharing its best single leg:
    // the top fused doc has rrf at least the best single-leg score
    assert(rows.map(_._4).max >= 1000000L / (Pipeline.RrfK + 1L))
  }

  test("q424 selectivity audit replays the membership census and the " +
    "independence arithmetic") {
    val rows = Pipeline.q424SelectivityAudit(spark, sf1).collect()
      .map(r => (r.getAs[String]("term1"), r.getAs[String]("term2")) -> r)
      .toMap
    val docs = graft.sources.Tables.load(spark, sf1, "documents")
      .select(col("text")).collect()
      .map(_.getString(0).split(" ").toSet)
    val n = docs.length.toLong
    val terms = Pipeline.Bm25Terms
    for (i <- terms.indices; j <- terms.indices if i < j) {
      val df1 = docs.count(_.contains(terms(i))).toLong
      val df2 = docs.count(_.contains(terms(j))).toLong
      val inter = docs.count(d =>
        d.contains(terms(i)) && d.contains(terms(j))).toLong
      val r = rows((terms(i), terms(j)))
      assert(r.getAs[Long]("n_docs") === n)
      assert(r.getAs[Long]("df1") === df1)
      assert(r.getAs[Long]("df2") === df2)
      assert(r.getAs[Long]("inter") === inter)
      assert(r.getAs[Long]("indep_est_milli") ===
        (BigInt(df1) * df2 * 1000 / n).toLong)
      if (df1 > 0 && df2 > 0)
        assert(r.getAs[Long]("lift_milli") ===
          (BigInt(inter) * n * 1000 / (BigInt(df1) * df2)).toLong)
      // structural: the intersection can't exceed either marginal
      assert(inter <= math.min(df1, df2))
    }
    // the generator sprinkles words independently: lifts sit near 1000
    rows.values.foreach { r =>
      val lift = r.getAs[Long]("lift_milli")
      assert(lift > 500L && lift < 2000L,
        s"lift $lift outside the independence band")
    }
  }

  test("q439 bloom sizing replays exact NDVs and the standard-formula " +
    "bits-per-key bands") {
    val P = graft.operators.Pipeline
    val rows = P.q439BloomSizing(spark, sf1).collect()
      .map(r => (r.getAs[String]("join_key"), r.getAs[Long]("fpp_ppm")) ->
        (r.getAs[Long]("ndv"), r.getAs[Long]("m_bits"),
          r.getAs[Long]("k_hashes"), r.getAs[Long]("kib"))).toMap
    assert(rows.size === 8)
    val li = graft.sources.Tables.load(spark, sf1, "lineitem")
    val or_ = graft.sources.Tables.load(spark, sf1, "orders")
    val ndvs = Map(
      "l_partkey" -> li.select("l_partkey").distinct.count,
      "l_suppkey" -> li.select("l_suppkey").distinct.count,
      "l_orderkey" -> li.select("l_orderkey").distinct.count,
      "o_custkey" -> or_.select("o_custkey").distinct.count)
    for { (key, ndv) <- ndvs; (fpp, factor, k) <- P.BloomFpp } {
      val (gNdv, gM, gK, gKib) = rows((key, fpp))
      assert(gNdv === ndv, s"$key ndv")
      assert(gM === ndv * factor / 1000000L + 1, s"$key m_bits")
      assert(gK === k)
      assert(gKib === gM / 8192L + 1)
      // the classical formula: ~9.59 bits/key at 1%, ~14.38 at 0.1%
      val bitsPerKey = gM.toDouble / ndv
      if (fpp == 10000L) assert(bitsPerKey > 9.5 && bitsPerKey < 9.7)
      else assert(bitsPerKey > 14.3 && bitsPerKey < 14.5)
    }
  }

  test("q440 compaction plan is order-preserving, files are contiguous, " +
    "and every file but the last clears the target") {
    val P = graft.operators.Pipeline
    val rows = P.q440CompactionPlanner(spark, sf1).collect()
      .map(r => (r.getAs[String]("month"), r.getAs[Long]("n_rows"),
        r.getAs[Long]("bytes_est"), r.getAs[Long]("file_id")))
      .sortBy(_._1)
    assert(rows.nonEmpty)
    // file ids are non-decreasing along the month axis (order-preserving)
    assert(rows.map(_._4).sliding(2).forall(w =>
      w.length < 2 || w(0) <= w(1)))
    // replay the running-sum geometry
    var prefix = 0L
    rows.foreach { case (m, n, b, fid) =>
      assert(b === n * P.CompactRowBytes, s"$m bytes")
      assert(fid === prefix / P.CompactTargetBytes, s"$m file_id")
      prefix += b
    }
    // every non-final file reaches the target up to one straddling
    // month (the geometric bound of start-prefix packing: T - max_m)
    val byFile = rows.groupBy(_._4).view.mapValues(_.map(_._3).sum)
    val lastFile = rows.map(_._4).max
    val maxMonth = rows.map(_._3).max
    byFile.filter(_._1 != lastFile).foreach { case (fid, bytes) =>
      assert(bytes >= P.CompactTargetBytes - maxMonth,
        s"file $fid undersized")
    }
  }

  test("q449 join-cardinality audit: FK joins land actual == n_left " +
    "and the containment estimate is order-of-magnitude right") {
    val rows = graft.operators.Pipeline.q449JoinCardinality(spark, sf1)
      .collect()
      .map(r => r.getAs[String]("join_name") ->
        (r.getAs[Long]("n_left"), r.getAs[Long]("est_rows"),
          r.getAs[Long]("actual_rows"), r.getAs[Long]("ratio_milli")))
      .toMap
    assert(rows.size === 4)
    rows.foreach { case (name, (nLeft, est, actual, ratio)) =>
      // every fact row carries a valid FK in this generator
      assert(actual === nLeft, s"$name FK integrity")
      assert(est > 0L)
      assert(ratio === actual * 1000L / est, s"$name ratio algebra")
      // uniform-key generator: the containment estimate should be
      // within 3x either way
      assert(ratio > 333L && ratio < 3000L, s"$name ratio $ratio")
    }
  }

  test("q456 dataset card replays the corpus panel and its ratios are " +
    "internally consistent") {
    val P = graft.operators.Pipeline
    val row = P.q456DatasetCard(spark, sf1).head()
    val docs = graft.sources.Tables.load(spark, sf1, "documents")
      .select("text", "lang", "source").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val toks = docs.map(_._1.split(" ").length.toLong)
    assert(row.getAs[Long]("n_docs") === docs.length.toLong)
    assert(row.getAs[Long]("n_tokens") === toks.sum)
    assert(row.getAs[Long]("n_langs") === docs.map(_._2).distinct.length)
    assert(row.getAs[Long]("n_sources") ===
      docs.map(_._3).distinct.length)
    val dups = docs.length - docs.map(_._1).distinct.length
    assert(row.getAs[Long]("dup_ppm") ===
      dups.toLong * 1000000L / docs.length)
    assert(row.getAs[Long]("mean_toks_milli") ===
      1000L * toks.sum / docs.length)
    assert(row.getAs[Long]("short_ppm") ===
      toks.count(_ < P.CardShortDocTokens).toLong * 1000000L /
        docs.length)
  }

  test("q457 temporal split audit replays per-customer side counts " +
    "and overlap bounds hold") {
    val P = graft.operators.Pipeline
    val row = P.q457TemporalSplit(spark, sf1).head()
    val cut = java.time.LocalDateTime.parse(P.TemporalCutoff + "T00:00:00")
    val orders = graft.sources.Tables.load(spark, sf1, "orders")
      .select("o_custkey", "o_orderdate").collect()
      .map(r => (r.getLong(0),
        r.getAs[java.time.LocalDateTime](1).isBefore(cut)))
    val nTrain = orders.count(_._2).toLong
    val nTest = orders.length - nTrain
    val tr = orders.filter(_._2).map(_._1).toSet
    val te = orders.filterNot(_._2).map(_._1).toSet
    assert(row.getAs[Long]("n_train") === nTrain)
    assert(row.getAs[Long]("n_test") === nTest)
    assert(row.getAs[Long]("cust_train") === tr.size.toLong)
    assert(row.getAs[Long]("cust_test") === te.size.toLong)
    val ov = tr.intersect(te).size.toLong
    assert(row.getAs[Long]("cust_overlap") === ov)
    assert(row.getAs[Long]("leakage_ppm") === ov * 1000000L / te.size)
    assert(ov <= math.min(tr.size, te.size).toLong)
  }

  test("q462 skew report replays the per-key census and a uniform " +
    "generator never recommends salting") {
    val P = graft.operators.Pipeline
    val rows = P.q462SkewReport(spark, sf1).collect()
      .map(r => r.getAs[String]("join_key") ->
        (r.getAs[Long]("n"), r.getAs[Long]("ndv"),
          r.getAs[Long]("max_cnt"), r.getAs[Long]("skew_ratio_milli"),
          r.getAs[Boolean]("salt_recommended"))).toMap
    assert(rows.size === 4)
    val li = graft.sources.Tables.load(spark, sf1, "lineitem")
    val keys = Map(
      "l_partkey" -> li.select(col("l_partkey").as("k")),
      "l_suppkey" -> li.select(col("l_suppkey").as("k")),
      "l_orderkey" -> li.select(col("l_orderkey").as("k")),
      "o_custkey" -> graft.sources.Tables.load(spark, sf1, "orders")
        .select(col("o_custkey").as("k")))
    keys.foreach { case (name, kf) =>
      val counts = kf.groupBy("k").count().collect()
        .map(_.getLong(1))
      val (n, ndv, mx) = (counts.sum, counts.length.toLong, counts.max)
      val (gN, gNdv, gMx, gRatio, gSalt) = rows(name)
      assert(gN === n); assert(gNdv === ndv); assert(gMx === mx)
      assert(gRatio === (BigInt(1000) * mx * ndv / n).toLong)
      assert(gRatio >= 1000L, s"$name ratio below mean is impossible")
      assert(!gSalt, s"$name salting recommended on uniform keys")
    }
  }

  test("q470 stage ledger replays independent counts and every ratio " +
    "is consistent with its stage pair") {
    val rows = graft.operators.Pipeline
      .q470StageReconciliation(spark, sf1).collect()
      .map(r => r.getAs[String]("stage") ->
        (r.getAs[Long]("rows_in"), r.getAs[Long]("rows_out"),
          r.getAs[Long]("ratio_ppm"))).toMap
    assert(rows.size === 5)
    rows.values.foreach { case (in, out, ratio) =>
      assert(ratio === out * 1000000L / in)
    }
    // chain consistency: each stage's rows_in = previous rows_out
    assert(rows("filter_shipdate")._1 === rows("scan_lineitem")._2)
    assert(rows("join_orders")._1 === rows("filter_shipdate")._2)
    assert(rows("join_customer")._1 === rows("join_orders")._2)
    assert(rows("agg_priority")._1 === rows("join_customer")._2)
    // FK joins neither drop nor multiply: both join stages are 1:1
    assert(rows("join_orders")._3 === 1000000L)
    assert(rows("join_customer")._3 === 1000000L)
    // independent truth for the filter stage
    val li = graft.sources.Tables.load(spark, sf1, "lineitem")
    assert(rows("scan_lineitem")._1 === li.count())
    assert(rows("filter_shipdate")._2 === li.filter(
      col("l_shipdate") >= lit("1996-01-01").cast("timestamp")).count())
  }

  test("q475 BM25 sweep: the default row overlaps itself completely " +
    "and every setting keeps the rare-term docs on top") {
    val P = graft.operators.Pipeline
    val rows = P.q475Bm25ParamSweep(spark, sf1).collect()
      .map(r => (r.getAs[Long]("k1_centi"), r.getAs[Long]("b_centi")) ->
        (r.getAs[Long]("rel_hits"), r.getAs[Long]("overlap_default")))
      .toMap
    assert(rows.size === P.Bm25Sweep.size)
    // the (120, 75) row IS the default: overlap must be the full k
    assert(rows((120L, 75L))._2 === P.Bm25TopK.toLong)
    rows.foreach { case (cfg, (rel, ovl)) =>
      assert(rel >= 0L && rel <= P.Bm25TopK)
      assert(ovl >= 0L && ovl <= P.Bm25TopK)
      // idf dominance: the rare term's docs fill most of the top-k at
      // ANY sane (k1, b)
      assert(rel >= P.Bm25TopK / 2, s"cfg $cfg lost the rare term")
    }
  }

  test("q479 incremental card equals the from-scratch rebuild over " +
    "the planted union (IVM contract)") {
    val P = graft.operators.Pipeline
    val inc = P.q479IncrementalCard(spark, sf1).head()
    // rebuild from scratch over the same union
    val docs = graft.sources.Tables.load(spark, sf1, "documents")
      .select("doc_id", "text")
    val uni = docs.unionByName(docs.select(
      (col("doc_id") + 100000L).as("doc_id"),
      expr("""array_join(slice(split(text, ' '), 1,
            size(split(text, ' ')) - 1), ' ')""").as("text")))
      .select(size(split(col("text"), " ")).cast("bigint").as("toks"),
        md5(col("text")).as("fp"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val n = uni.length.toLong
    val nt = uni.map(_._1).sum
    val dups = n - uni.map(_._2).distinct.length
    assert(inc.getAs[Long]("n_docs") === n)
    assert(inc.getAs[Long]("n_tokens") === nt)
    assert(inc.getAs[Long]("dup_ppm") === dups * 1000000L / n)
    assert(inc.getAs[Long]("mean_toks_milli") === 1000L * nt / n)
    assert(inc.getAs[Long]("short_ppm") ===
      uni.count(_._1 < P.CardShortDocTokens).toLong * 1000000L / n)
  }

  test("q487 coverage matrix replays the lang x source spine and the " +
    "cell algebra is internally consistent") {
    val row = graft.operators.Pipeline.q487CoverageMatrix(spark, sf1)
      .head()
    val docs = graft.sources.Tables.load(spark, sf1, "documents")
      .select("lang", "source").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val langs = docs.map(_._1).distinct; val srcs = docs.map(_._2).distinct
    val cells = docs.groupBy(identity).view.mapValues(_.length.toLong)
    assert(row.getAs[Long]("n_langs") === langs.length.toLong)
    assert(row.getAs[Long]("n_sources") === srcs.length.toLong)
    assert(row.getAs[Long]("n_cells") ===
      langs.length.toLong * srcs.length)
    val zero = (for (l <- langs; s0 <- srcs)
      yield cells.getOrElse((l, s0), 0L)).count(_ == 0L).toLong
    assert(row.getAs[Long]("zero_cells") === zero)
    assert(row.getAs[Long]("max_cell") === cells.values.max)
    assert(row.getAs[Long]("imbalance_milli") ===
      1000L * langs.length * srcs.length * cells.values.max /
        docs.length)
    // imbalance >= 1000 by definition (max >= mean)
    assert(row.getAs[Long]("imbalance_milli") >= 1000L)
  }
}
