package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Semantic checks the differential oracle can't express: planted-duplicate
  * recall, hamming locality of simhash, jaccard identity. */
class DedupSpec extends SparkSpec {

  test("containmentJoinExact containedPred pins the audit-stratum " +
    "contract: capped result == uncapped result filtered to the cap") {
    val hs = graft.sources.Tables.load(spark, sf1, "documents")
      .withColumn("hsd", expr(
        s"shingle_hashes(split(text, ' '), ${Dedup.ShingleN})"))
      .filter(size(col("hsd")) > 0)
      .select("doc_id", "hsd")
      .cache()
    val cap = 40L // strictly inside the sf0.001 doc_id domain
    val capped = Dedup.containmentJoinExact(hs, 9, 10,
      Some(col("doc_id") < cap))
      .select("doc_id_1", "doc_id_2").collect().map(r =>
        (r.getLong(0), r.getLong(1))).toSet
    val filtered = Dedup.containmentJoinExact(hs, 9, 10, None)
      .filter(col("doc_id_1") < cap)
      .select("doc_id_1", "doc_id_2").collect().map(r =>
        (r.getLong(0), r.getLong(1))).toSet
    assert(capped === filtered,
      "cap must restrict the contained side and nothing else")
    // the probed side must remain the FULL corpus: at least one pair
    // escapes the stratum on the b side (planted excerpt bases sit at
    // doc_id + PlantedOffset, far above the cap)
    assert(capped.exists(_._2 >= cap),
      "capped join lost out-of-stratum probed docs")
  }

  test("q30 minhash-LSH recalls most planted near-duplicates") {
    val pairs = Dedup.q30DedupMinhashLsh(spark, sf1)
    val planted = pairs.filter(
      col("doc_id_2") === col("doc_id_1") + Dedup.PlantedOffset).count()
    // drop-last-word twins have jaccard ~ (k-3)/k; 4x4 banding should
    // recall well over half of the 500 planted pairs
    assert(planted > 250L, s"only $planted/500 planted pairs recalled")
  }

  test("geometry scaling is prefix-stable: widening appends hash " +
    "functions without changing any default-geometry value") {
    // minhash family: the first 16 of a 24-hash signature ARE minhash16
    val docs = graft.sources.Tables.load(spark, sf1, "documents")
      .withColumn("hsd", expr(
        s"shingle_hashes(split(text, ' '), ${Dedup.ShingleN})"))
      .filter(size(col("hsd")) > 0)
    val drift = docs
      .select(expr("minhash16(hsd)").as("m16"),
        expr("slice(minhash_k(hsd, 24), 1, 16)").as("m24p"))
      .filter(col("m16") =!= col("m24p")).count()
    assert(drift === 0L, "minhash prefix changed when widening k")
    // SRP plane family: widening appends planes, never rewrites them
    assert(Dedup.planesFor(8).take(4).map(_.toSeq).toSeq ===
      Dedup.planes.take(4).map(_.toSeq).toSeq)
    // the sizing formula reproduces the default at test-corpus scale
    // and widens logarithmically at crawl scale
    assert(Dedup.LshGeometry.forCorpus(1000L) === Dedup.LshGeometry.Default)
    val big = Dedup.LshGeometry.forCorpus(1000000000L)
    assert(big.bandRows > Dedup.BandRows &&
      big.numPlanes > Dedup.NumPlanes &&
      big.numBands === Dedup.NumBands,
      s"crawl-scale geometry should widen rows/planes, got $big")
  }

  test("minhash LSH at a non-default geometry still recalls planted " +
    "twins and keeps the pair contract") {
    // 4 bands x 6 rows (24 hashes): sharper bands cut spurious
    // candidates; the near-identical planted twins must survive
    val g = Dedup.LshGeometry(24, 6, Dedup.NumPlanes)
    val docs = graft.sources.Tables.load(spark, sf1, "documents")
      .select(col("doc_id"), col("text"))
    val planted = docs.unionByName(docs.select(
      (col("doc_id") + Dedup.PlantedOffset).as("doc_id"),
      expr("""array_join(slice(split(text, ' '), 1,
                size(split(text, ' ')) - 1), ' ')""").as("text")))
    val pairs = Dedup.minhashCandidatePairs(planted, g).cache()
    assert(pairs.filter(col("doc_id_1") >= col("doc_id_2")).count() === 0L)
    val twins = pairs.filter(
      col("doc_id_2") === col("doc_id_1") + Dedup.PlantedOffset).count()
    assert(twins > 250L, s"only $twins/500 twins at geometry $g")
    // sharper bands can only shrink the per-band collision set
    val defaults = Dedup.minhashCandidatePairs(planted).count()
    assert(pairs.count() <= defaults * Dedup.NumBands,
      "non-default geometry exploded the candidate volume")
    pairs.unpersist()
  }

  test("q124 source matrix is canonical and conserves the pair count") {
    val m = Dedup.q124SourceDupMatrix(spark, sf1).cache()
    assert(m.filter(col("source_1") > col("source_2")).count() === 0L,
      "matrix cells must be least/greatest-canonicalized")
    val total = m.agg(sum("n_pairs")).head().getLong(0)
    assert(total === Dedup.q30DedupMinhashLsh(spark, sf1).count(),
      "every candidate pair lands in exactly one cell")
    m.unpersist()
  }

  test("q125 keeps exactly one survivor per cluster — the longest " +
    "member — and twin clusters keep the base document") {
    val s = Dedup.q125DedupSurvivors(spark, sf1).cache()
    val clusters = Dedup.q63DedupClusters(spark, sf1).cache()
    // one row per cluster, members conserved
    assert(s.count() === clusters.select("cluster").distinct().count())
    assert(s.agg(sum("n_members")).head().getLong(0) === clusters.count())
    // the survivor is a member of its own cluster
    val orphan = s.join(clusters,
      s("survivor_id") === clusters("doc_id") &&
        s("cluster") === clusters("cluster"), "left_anti")
    assert(orphan.count() === 0L, "survivor must belong to its cluster")
    // a (base, base+offset) twin cluster keeps the base: the planted
    // copy dropped a word, so the base text is strictly longer
    val twinBases = s.filter(col("n_members") === 2L)
      .join(clusters.filter(col("doc_id") >= Dedup.PlantedOffset)
          .select(col("cluster"),
            (col("doc_id") - Dedup.PlantedOffset).as("base_id")),
        "cluster")
      .filter(col("survivor_id") =!= col("base_id"))
    assert(twinBases.count() === 0L,
      "pure twin clusters must keep the longer base document")
    s.unpersist(); clusters.unpersist()
  }

  test("q152 incremental candidates equal q30's pairs minus the " +
    "corpus-corpus quadrant, correctly tagged") {
    val off = Dedup.PlantedOffset
    val out = Dedup.q152IncrementalLsh(spark, sf1).cache()
    // no pair lives entirely in the corpus (the set an incremental run
    // must never recompute), and kind tags match the id geometry
    assert(out.filter(col("doc_id_2") < off).count() === 0L)
    assert(out.filter(col("kind") === "vs_corpus" &&
      col("doc_id_1") >= off).count() === 0L)
    assert(out.filter(col("kind") === "in_batch" &&
      col("doc_id_1") < off).count() === 0L)
    // exactly the full self-join's pairs with ≥1 batch member: the
    // incremental path loses nothing the index rebuild would find
    val full = Dedup.q30DedupMinhashLsh(spark, sf1)
      .filter(col("doc_id_2") >= off)
    val mine = out.select("doc_id_1", "doc_id_2")
    assert(mine.exceptAll(full).count() === 0L)
    assert(full.exceptAll(mine).count() === 0L)
    // planted twins recalled through the vs-corpus side, like q30
    val planted = out.filter(
      col("doc_id_2") === col("doc_id_1") + off).count()
    assert(planted > 250L, s"only $planted/500 planted pairs recalled")
    out.unpersist()
  }

  test("q30 emits no self-pairs and respects id ordering") {
    val pairs = Dedup.q30DedupMinhashLsh(spark, sf1)
    assert(pairs.filter(col("doc_id_1") >= col("doc_id_2")).count() === 0L)
  }

  test("q30 pair generation never materializes per-bucket pair arrays") {
    // hot-bucket safety: the plan must be the streaming self-join shape,
    // not a collect_list-per-bucket array expansion (one row per bucket
    // = single-task OOM on a boilerplate-heavy crawl)
    val plan = Dedup.q30DedupMinhashLsh(spark, sf1)
      .queryExecution.optimizedPlan.toString()
    assert(!plan.contains("collect_list"),
      s"q30 plan materializes per-bucket arrays:\n$plan")
  }

  test("propagation CC throws instead of mislabeling when rounds run out") {
    import spark.implicits._
    // an 11-node chain has diameter 10 > the 3-round budget given here
    val pairs = (0L until 10L).map(i => (i, i + 1))
      .toDF("doc_id_1", "doc_id_2")
    val nodes = (0L to 10L).toDF("doc_id")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(nodes, pairs, maxRounds = 3).count()
    }
  }

  test("declared q63 engine (star CC) labels a >20-diameter chain right") {
    import spark.implicits._
    // 61-node chain: diameter 60 would defeat the old 20-round
    // propagation cap; star contraction converges in O(log n) rounds
    val pairs = (0L until 60L).map(i => (i, i + 1))
      .toDF("doc_id_1", "doc_id_2")
    val nodes = (0L to 60L).toDF("doc_id")
    val labels = Dedup.connectedComponentsStar(nodes, pairs)
    assert(labels.filter(col("cluster") =!= 0L).count() === 0L)
    assert(labels.count() === 61L)
  }

  test("q87 verification keeps a strict, non-empty subset of candidates") {
    val cand = Dedup.q30DedupMinhashLsh(spark, sf1)
      .select("doc_id_1", "doc_id_2")
    val kept = Dedup.q87VerifyCandidates(spark, sf1)
    // verified pairs ⊆ candidates, the filter rejects SOMETHING (LSH
    // banding admits sub-threshold collisions on this corpus), and the
    // Jaccard identities hold
    assert(kept.select("doc_id_1", "doc_id_2")
      .exceptAll(cand).count() === 0L)
    val nCand = cand.count()
    val nKept = kept.count()
    assert(nKept > 0L && nKept < nCand, s"$nKept of $nCand")
    assert(kept.filter(col("n_inter") > col("n_union")).count() === 0L)
  }

  test("q31 simhash places planted twins within small hamming distance") {
    val sh = Dedup.q31DedupSimhash(spark, sf1)
    // simhash of original vs drop-last-word perturbation: compute both by
    // running the op over planted docs isn't declared; instead verify the
    // signature is stable and 32-bit bounded
    val bad = sh.filter(col("simhash") < 0 ||
      col("simhash") > ((1L << 32) - 1)).count()
    assert(bad === 0L)
    assert(sh.select("simhash").distinct().count() > 1L)
  }

  test("q32 jaccard identity: probe doc intersects itself fully") {
    val row = Dedup.q32DedupNgramJaccard(spark, sf1)
      .filter(col("doc_id") === 0L).head()
    val (inter, union) = (row.getAs[Long]("n_inter"), row.getAs[Long]("n_union"))
    assert(inter === union, "doc 0 vs itself must have inter == union")
    assert(inter > 0L)
  }

  test("q33 embedding near-dup pairs are symmetric-free and above tau") {
    val pairs = Dedup.q33DedupEmbedding(spark, sf1)
    assert(pairs.filter(col("vec_id_1") >= col("vec_id_2")).count() === 0L)
    // i.i.d. random 64-dim vectors: some pairs cross 0.3, none cross 0.9
    assert(pairs.count() > 0L)
  }

  test("q101 exact join contains every pair the LSH+verify path admits") {
    // ground-truth recall relation: prefix filtering is complete (no
    // false negatives at the threshold), LSH banding is not — so
    // q87's verified pairs must be a subset of q101's
    val exact = Dedup.q101SetSimJoin(spark, sf1)
      .select("doc_id_1", "doc_id_2")
    val viaLsh = Dedup.q87VerifyCandidates(spark, sf1)
      .select("doc_id_1", "doc_id_2")
    assert(exact.count() > 0L, "vacuous: no pairs at tau=0.9")
    assert(viaLsh.exceptAll(exact).count() === 0L,
      "exact prefix-filter join missed an LSH-verified pair")
    // and every emitted pair actually clears the rational threshold
    val bad = Dedup.q101SetSimJoin(spark, sf1)
      .filter(col("n_inter") * 10 < col("n_union") * 9)
    assert(bad.count() === 0L)
  }

  test("q110 containment finds every planted perturbed→base excerpt " +
      "and subsumes q101's symmetric pairs") {
    val contained = Dedup.q110ContainmentJoin(spark, sf1)
      .select("doc_id_1", "doc_id_2")
    // each perturbed doc (text minus last word) has a shingle set that
    // is a SUBSET of its base's — containment 1.0, must all be found
    // (docs with < ShingleN+1 words produce identical or empty sets and
    // are excluded from the expectation, matching the operator's guard)
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.load(spark, sf1, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("nw"))
      // > ShingleN words: the perturbed copy still has >= ShingleN and
      // its set differs from the base's (strict excerpt, not identical)
      .filter(col("nw") > graft.operators.Dedup.ShingleN + 1)
      .select(col("doc_id"))
    val expected = docs.select(
      (col("doc_id") + graft.operators.Dedup.PlantedOffset).as("doc_id_1"),
      col("doc_id").as("doc_id_2"))
    assert(expected.exceptAll(contained).count() === 0L,
      "containment join missed a planted excerpt pair")
    // Jaccard >= 9/10 implies containment >= 9/10 for the smaller side:
    // every q101 pair must appear in q110 in at least one direction
    val sym = Dedup.q101SetSimJoin(spark, sf1)
      .select("doc_id_1", "doc_id_2")
    val bothDirs = contained.unionByName(contained.select(
      col("doc_id_2").as("doc_id_1"), col("doc_id_1").as("doc_id_2")))
    assert(sym.exceptAll(bothDirs).count() === 0L,
      "a symmetric near-dup pair is missing from the containment join")
  }

  test("q139 confusion identities hold and tp equals the q87 verified set") {
    val r = Dedup.q139DedupEval(spark, sf1).head()
    val (nc, nt, tp, fp, fn) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))
    assert(tp + fp === nc, "candidates partition into tp + fp")
    assert(tp + fn === nt, "truth partitions into tp + fn")
    assert(tp > 0L && fp >= 0L && fn >= 0L)
    // q87 IS cand ∩ truth by construction (LSH candidates passing the
    // same exact-Jaccard τ) — the eval's tp must agree with it
    val verified = Dedup.q87VerifyCandidates(spark, sf1).count()
    assert(tp === verified,
      s"tp $tp != q87's verified candidate count $verified")
  }

  test("q222 incremental merge equals the full-rebuild labels exactly") {
    val inc = Dedup.q222IncrementalCc(spark, sf1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.q63DedupClusters(spark, sf1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc === full,
      "contracted-graph merge must reproduce from-scratch CC labels")
    // the merge actually merges: some batch doc joins a base cluster
    val crossovers = inc.count { case (id, c) =>
      id >= Dedup.PlantedOffset && c < Dedup.PlantedOffset
    }
    assert(crossovers > 0, "no batch doc merged into a base cluster")
  }

  test("q224 leakage census accounts for every candidate pair and " +
    "catches planted cross-split near-dups") {
    val rows = Dedup.q224SplitLeakage(spark, sf1).collect()
    val splits = Set("train", "val", "test")
    for (r <- rows) {
      assert(splits(r.getString(0)) && splits(r.getString(1)))
      assert(r.getString(0) <= r.getString(1), "pair key not normalized")
      assert(r.getBoolean(3) === (r.getString(0) != r.getString(1)))
    }
    val total = rows.map(_.getLong(2)).sum
    assert(total === Dedup.q30DedupMinhashLsh(spark, sf1).count(),
      "census must partition the exact candidate-pair set")
    // the planted perturbations re-hash to other buckets: leaks exist
    assert(rows.exists(r => r.getBoolean(3) && r.getLong(2) > 0),
      "no cross-split near-dup found — audit is vacuous on this corpus")
  }

  test("q269 curve replays an independent BigInt fixed-point model, is " +
    "monotone in s, and the recall/cost tradeoff points the right way") {
    val rows = Dedup.q269LshCurve(spark, sf1).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.length === Dedup.LshPlanGeoms.length *
      Dedup.LshPlanSPcts.length)
    // independent fixed-point model (BigInt, same truncating spec)
    def model(sPpm: Long, r: Int, b: Int): Long = {
      def ipow(base: BigInt, e: Int): BigInt =
        (2 to e).foldLeft(base)((a, _) => a * base / 1000000)
      (BigInt(1000000) - ipow(
        BigInt(1000000) - ipow(BigInt(sPpm), r), b)).toLong
    }
    for (((b, r), sPct, p, _) <- rows)
      assert(p === model(sPct * 10000, r.toInt, b.toInt),
        s"($b,$r,$sPct) fixed-point curve diverged")
    // monotone in similarity within each geometry
    for ((geom, grp) <- rows.groupBy(_._1)) {
      val byS = grp.sortBy(_._2).map(_._3)
      assert(byS.zip(byS.tail).forall { case (a2, b2) => a2 <= b2 },
        s"$geom curve not monotone in s")
    }
    // the tradeoff: fewer rows per band => more candidates AND higher
    // hit probability at any fixed s — both sides of the tuning knob
    val byR = rows.groupBy(_._1).map { case ((b, r), grp) =>
      (r, grp.head._4, grp.find(_._2 == 80L).get._3)
    }.toSeq.sortBy(_._1)
    assert(byR.map(_._2).zip(byR.map(_._2).tail)
      .forall { case (hi, lo) => hi >= lo },
      "candidate volume must not increase with rows per band")
    assert(byR.map(_._3).zip(byR.map(_._3).tail)
      .forall { case (hi, lo) => hi >= lo },
      "hit probability at s=0.8 must not increase with rows per band")
  }

  test("q284 estimator errors are the declared algebra, quantized to " +
    "sixteenths, and tight enough for a 0.9-threshold decision") {
    val rows = Dedup.q284MinhashAccuracy(spark, sf1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    for ((d1, d2, est, jac, err) <- rows) {
      assert(d2 === d1 + Dedup.PlantedOffset)
      assert(est % (1000000L / 16) === 0L,
        "estimate must be a multiple of 1/16")
      assert(est >= 0L && est <= 1000000L)
      assert(jac > 0L && jac <= 1000000L)
      assert(err === math.abs(est - jac))
    }
    // k=16 gives stderr ~ sqrt(p(1-p)/16) <= 0.125; mean |err| must
    // sit well under one sixteenth for the near-1 planted pairs
    val meanErr = rows.map(_._5).sum / rows.length
    assert(meanErr < 62500L,
      s"mean estimator error $meanErr ppm — worse than one sixteenth")
  }

  test("q503 b-bit estimates are the declared algebra off the full " +
    "signatures and the space/accuracy trade points the right way") {
    val rows = Dedup.q503BbitMinhash(spark, sf1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7)))
    assert(rows.nonEmpty)
    for ((d1, d2, nBit, bbit, full, jac, bErr, fErr) <- rows) {
      assert(d2 === d1 + Dedup.PlantedOffset)
      // a value match is necessarily a bit match: A >= n_match
      assert(nBit >= full * 16L / 1000000L)
      assert(bbit === math.max(2 * nBit - 16, 0) * 62500L)
      assert(bErr === math.abs(bbit - jac))
      assert(fErr === math.abs(full - jac))
    }
    // 1-bit keeps 1/31 of the bytes and pays variance for it: its mean
    // error may exceed the full-signature estimator's, but must stay
    // within ~3 sixteenths on the near-1 planted pairs (2x the full
    // estimator's guaranteed band) - the trade the scaladoc declares
    val meanB = rows.map(_._7).sum / rows.length
    val meanF = rows.map(_._8).sum / rows.length
    assert(meanB < 187500L,
      s"1-bit mean error $meanB ppm - worse than three sixteenths")
    assert(meanF < 62500L)
  }

  test("q502 ROUGE panel replays a scala multiset-overlap model " +
    "exactly") {
    val docs = graft.sources.Tables.load(spark, sf1, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ").toSeq))
      .sortBy(_._1)
    val byId = docs.map(d => d._1 -> d).toMap
    def counts(ws: Seq[String]) =
      ws.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    def inter(a: Map[String, Long], b: Map[String, Long]) =
      a.map { case (k, c) => math.min(c, b.getOrElse(k, 0L)) }.sum
    val pairs = docs.flatMap { case (id, src, w) =>
      byId.get(id + 20).map { case (_, _, w2) =>
        val bg = w.sliding(2).map(_.mkString(" ")).toSeq
        val bg2 = w2.sliding(2).map(_.mkString(" ")).toSeq
        val i1 = inter(counts(w), counts(w2))
        val i2 = if (w.size < 2 || w2.size < 2) 0L
          else inter(counts(bg), counts(bg2))
        (src, i1 * 1000000L / w.size, i1 * 1000000L / w2.size,
          if (w.size < 2) 0L else i2 * 1000000L / (w.size - 1),
          if (w2.size < 2) 0L else i2 * 1000000L / (w2.size - 1))
      }
    }
    val model = pairs.groupBy(_._1).map { case (src, ps) =>
      src -> ((ps.size.toLong, ps.map(_._2).sum / ps.size,
        ps.map(_._3).sum / ps.size, ps.map(_._4).sum / ps.size,
        ps.map(_._5).sum / ps.size))
    }
    val got = graft.operators.TextOps.q502RougeOverlap(spark, sf1)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(got === model)
  }

  test("q301 containment-triage eval: identities hold and recall stays " +
    "high on the planted corpus") {
    val r = Dedup.q301ContainmentEval(spark, sf1).collect()
    assert(r.length === 1)
    val (nT, nG, nC, rec, prec) = (r(0).getLong(0), r(0).getLong(1),
      r(0).getLong(2), r(0).getLong(3), r(0).getLong(4))
    // eval identities: captured is an intersection; the ppm columns are
    // exactly the declared integer algebra over the three counts
    assert(nC <= math.min(nT, nG))
    assert(rec === nC * 1000000L / math.max(nT, 1L))
    assert(prec === nC * 1000000L / math.max(nG, 1L))
    spark.catalog.clearCache()
    // the winnowing guarantee makes planted excerpts the easy case:
    // the triage must capture the large majority of exact truth at this
    // SF (measured 96.9% at sf0.01; df-cap erosion is gradual, so a
    // fall below 0.8 here means the triage or the cap regressed)
    assert(nT > 0 && rec >= 800000L,
      s"containment triage recall regressed: $rec ppm of $nT truth")
    assert(prec >= 900000L,
      s"containment triage precision regressed: $prec ppm of $nG triage")
  }

  test("q295 triage census partitions exactly the q30 candidate set " +
    "and strength increases toward full-band agreement") {
    val rows = Dedup.q295CandidateTriage(spark, sf1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(rows.forall(r => r._1 >= 1 && r._1 <= 4))
    spark.catalog.clearCache()
    val candidates = Dedup.q30DedupMinhashLsh(spark, sf1).count()
    assert(rows.map(_._2).sum === candidates,
      "strength census must partition the candidate pair set")
    // planted near-dups dominate: the 4-band bucket must be the
    // largest single group on this corpus
    assert(rows.maxBy(_._2)._1 === 4L,
      "full-band agreement is not the modal group — triage inverted")
  }

  test("q314 B-cubed: doc accounting exact, recall dominates precision " +
    "on the over-merging-only LSH clustering") {
    val row = Dedup.q314BcubedEval(spark, sf1).head()
    val nDocs = graft.sources.Tables.load(spark, sf1, "documents").count() * 2
    assert(row.getAs[Long]("n_docs") === nDocs)
    val p = row.getAs[Long]("sum_precision_ppm")
    val r = row.getAs[Long]("sum_recall_ppm")
    assert(p > 0L && p <= nDocs * 1000000L)
    assert(r > 0L && r <= nDocs * 1000000L)
    // CC over LSH candidates can only MERGE truth classes, never split a
    // caught pair across clusters while leaving both in singletons with
    // a third: every truth twin pair either shares a cluster or was
    // missed entirely; merging hurts precision, missing hurts recall --
    // on this planted corpus the generator catches nearly everything,
    // so recall must dominate precision
    assert(r >= p, s"recall $r below precision $p on a planted corpus")
  }

  test("q318 sweep is monotone in tau and its 9/10 point equals q101") {
    val rows = Dedup.q318ThresholdSweep(spark, sf1).collect()
      .map(r => (r.getAs[Long]("tau_p").toDouble /
        r.getAs[Long]("tau_q"), r.getAs[Long]("n_pairs")))
      .sortBy(_._1)
    assert(rows.length === Dedup.SweepThresholds.length)
    // loosening the threshold can only admit more pairs
    rows.sliding(2).foreach {
      case Array((tA, nA), (tB, nB)) =>
        assert(nA >= nB, s"pairs increased with stricter tau: $tA->$tB")
      case _ =>
    }
    spark.catalog.clearCache()
    val q101 = Dedup.q101SetSimJoin(spark, sf1).count()
    assert(rows.find(_._1 == 0.9).get._2 === q101,
      "sweep's 9/10 point diverges from q101")
  }

  test("q464 cluster-size profile is a partition of the corpus and " +
    "replays q63's label census") {
    val prof = Dedup.q464ClusterSizeProfile(spark, sf1).collect()
      .map(r => r.getAs[Long]("cluster_size") ->
        (r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs"))).toMap
    val labels = Dedup.q63DedupClusters(spark, sf1).collect()
      .map(r => r.getAs[Long]("cluster"))
    val want = labels.groupBy(identity).view.mapValues(_.length.toLong)
      .values.groupBy(identity).view
      .mapValues(g => (g.size.toLong, g.head * g.size)).toMap
    assert(prof.keySet === want.keySet)
    want.foreach { case (sz, (nc, nd)) =>
      assert(prof(sz) === ((nc, nd)), s"size $sz") }
    // the profile partitions the corpus: doc totals sum to |corpus|
    assert(prof.values.map(_._2).sum === labels.length.toLong)
    // per row, n_docs = size * n_clusters
    prof.foreach { case (sz, (nc, nd)) => assert(nd === sz * nc) }
  }

  test("q483 threshold sweep is monotone in tau and its tau=90 row " +
    "matches q87's verified pair count") {
    val rows = Dedup.q483DedupThresholdSweep(spark, sf1).collect()
      .map(r => r.getAs[Long]("tau_pct") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("planted_found"),
          r.getAs[Long]("planted_recall_ppm"))).toMap
    assert(rows.keySet === Dedup.DedupSweepPct.toSet)
    // monotone: relaxing tau can only admit more pairs / more recall
    val byTau = Dedup.DedupSweepPct.sorted.map(rows(_))
    assert(byTau.map(_._1) === byTau.map(_._1).sorted.reverse)
    assert(byTau.map(_._2) === byTau.map(_._2).sorted.reverse)
    // the declared 9/10 gate reproduces q87 exactly
    assert(rows(90L)._1 === Dedup.q87VerifyCandidates(spark, sf1).count())
    // recall at the loosest tau captures nearly all plantable twins
    assert(rows(70L)._3 > 900000L)
  }

  test("q515 duplicated-span fractions replay the brute-force interval " +
    "model on the declared hash domain") {
    val rows = Dedup.q515DupSpanFraction(spark, sf1).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_grams"),
          r.getAs[Long]("n_dup_grams"), r.getAs[Long]("covered_tokens"),
          r.getAs[Long]("dup_token_ppm"))).toMap
    val docs = graft.sources.Tables.load(spark, sf1, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val n = Dedup.DupGramN
    // model on the DECLARED hash domain (poly_hash mod 1e9+7), not on
    // gram strings: the statistic is hash-based in both engines, and at
    // sf0.001 the corpus already realizes cross-doc collisions of
    // distinct grams (docs 151/341) that a string model misses
    val Mod = 1000000007L
    def charFold(t: String): Long =
      t.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % Mod)
    val grams = docs.map { case (id, text) =>
      val ws = text.split(" ")
      id -> (ws.length.toLong,
        ws.sliding(n).filter(_.length == n)
          .map(g => charFold(g.mkString(" "))).toArray)
    }.toMap
    val docsPerGram = grams.toSeq
      .flatMap { case (id, (_, gs)) => gs.distinct.map(g => (g, id)) }
      .groupBy(_._1).view.mapValues(_.size).toMap
    val model = grams.collect { case (id, (nw, gs)) if gs.nonEmpty =>
      val dupPos = gs.zipWithIndex
        .collect { case (g, i) if docsPerGram(g) >= 2 => i + 1L }
      // monotone-interval union: Σ min(N, pos − prev)
      val covered = dupPos.zip(-1L +: dupPos.dropRight(1)).map {
        case (p, prev) =>
          if (prev < 0) n.toLong else math.min(n.toLong, p - prev)
      }.sum
      id -> (nw, gs.length.toLong, dupPos.length.toLong, covered,
        covered * 1000000L / nw)
    }
    assert(rows === model)
    rows.foreach { case (id, (nw, ng, nd, cov, ppm)) =>
      assert(cov <= nw, s"doc $id covers more tokens than it has")
      assert(nd <= ng && cov <= nd + n - 1 + (nd - 1).max(0) * (n - 1))
    }
    // the generator's Zipfian phrase reuse produces real cross-doc
    // sharing: both fully-covered and untouched docs must exist, and
    // full coverage must coincide with every-gram-duplicated
    assert(rows.values.exists(_._5 === 1000000L), "no fully-covered doc")
    assert(rows.values.exists(_._5 === 0L), "no clean doc")
    rows.foreach { case (id, (nw, ng, nd, cov, ppm)) =>
      if (ppm == 1000000L)
        assert(nd === ng, s"doc $id fully covered but not all-dup")
    }
  }

  test("q494 savings ledger: kept + saved = total, survivors = " +
    "clusters, and the planted corpus saves roughly half") {
    val row = Dedup.q494DedupSavings(spark, sf1).head()
    val nDocs = row.getAs[Long]("n_docs")
    val nSurv = row.getAs[Long]("n_survivors")
    val (bt, bk, bs) = (row.getAs[Long]("bytes_total"),
      row.getAs[Long]("bytes_kept"), row.getAs[Long]("bytes_saved"))
    assert(bk + bs === bt, "bytes identity")
    assert(row.getAs[Long]("saved_ppm") === bs * 1000000L / bt)
    assert(nSurv === Dedup.q63DedupClusters(spark, sf1)
      .select("cluster").distinct().count())
    assert(nDocs === 1000L)
    // the planted corpus is ~2x duplicated: savings land near half
    assert(bs * 1000000L / bt > 300000L && bs * 1000000L / bt < 600000L)
  }
}
