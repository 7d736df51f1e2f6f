package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-style checks (SURVEY.md §5.2.3): the native Catalyst
  * expressions are compared against straight-line Scala models over
  * generated inputs, and relational invariants are checked on generated
  * relations. Inputs come from seeded ScalaCheck generators evaluated in
  * one Spark job per property (no scalatestplus bridge in the offline
  * cache). */
class PropertySpec extends SparkSpec {

  private def sample[A](g: Gen[A], n: Int): List[A] =
    Gen.listOfN(n, g).pureApply(Gen.Parameters.default, Seed(42L))

  // ------------------------------------------------------------- models

  private def polyHashModel(s: String): Long =
    s.getBytes("UTF-8").foldLeft(0L)((h, b) =>
      (h * 31 + (b & 0xff)) % 1000000007L)

  private def simhashModel(hs: Seq[Long]): Long = {
    val counts = Array.fill(32)(0)
    hs.foreach { h =>
      (0 until 32).foreach { b =>
        if (((h >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
      }
    }
    (0 until 32).foldLeft(0L)((acc, b) =>
      if (counts(b) > 0) acc | (1L << b) else acc)
  }

  // ---------------------------------------------------------- properties

  test("q89 chunk geometry tiles random documents exactly") {
    import spark.implicits._
    import graft.operators.TextOps.{ChunkSize, ChunkStride}
    // random word-count docs, words of 1-3 chars — the geometry is what
    // matters, not the content
    val wordGen = Gen.nonEmptyListOf(Gen.choose('a', 'c')).map(_.mkString)
    val docGen = Gen.choose(1, 100).flatMap(n => Gen.listOfN(n, wordGen))
    val docs = sample(docGen, 200).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
    val dir = java.nio.file.Files.createTempDirectory("chunkprop")
    docs.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("t").as("source"), length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val chunks = graft.operators.TextOps
      .q89ChunkDocuments(spark, dir.toString)
      .collect()
      .groupBy(_.getAs[Long]("doc_id"))
    docs.foreach { case (id, text) =>
      val words = text.split(" ")
      val cs = chunks(id).sortBy(_.getAs[Long]("chunk_idx"))
      // model: chunk k = words[k*stride, k*stride+size)
      val expected = Iterator.from(0)
        .map(k => words.slice(k * ChunkStride, k * ChunkStride + ChunkSize))
        .takeWhile(_.nonEmpty).toList
      val model =
        if (words.length <= ChunkSize) List(words.toSeq)
        else expected
          .take((words.length - ChunkSize + ChunkStride - 1) / ChunkStride + 1)
          .map(_.toSeq)
      assert(cs.length === model.length, s"doc $id chunk count")
      cs.zip(model).foreach { case (row, exp) =>
        assert(row.getAs[String]("chunk_text") === exp.mkString(" "),
          s"doc $id chunk ${row.getAs[Long]("chunk_idx")}")
        assert(row.getAs[Long]("n_tokens") === exp.length.toLong)
      }
    }
  }

  test("poly_hash equals the byte-fold model on random ASCII strings") {
    import spark.implicits._
    val asciiGen = Gen.listOf(Gen.choose(32.toChar, 126.toChar))
      .map(_.mkString)
    val inputs = sample(asciiGen, 300)
    val got = inputs.toDF("s")
      .select(col("s"), expr("poly_hash(s)").as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    inputs.foreach { s =>
      assert(got(s) === polyHashModel(s), s"mismatch for '$s'")
    }
  }

  test("simhash32 equals the bit-counter model on random token arrays") {
    import spark.implicits._
    val arrGen = Gen.listOf(Gen.choose(0L, (1L << 32) - 1))
    val inputs = sample(arrGen, 200).zipWithIndex
    val got = inputs.map { case (a, i) => (i, a) }.toDF("i", "a")
      .select(col("i"), expr("simhash32(a)").as("h"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    inputs.foreach { case (a, i) =>
      assert(got(i) === simhashModel(a), s"mismatch for input #$i")
    }
  }

  test("vec_dot equals the sequential-fold model on random vectors") {
    import spark.implicits._
    val vGen = Gen.listOfN(16, Gen.choose(-10.0, 10.0))
    val pairs = sample(Gen.zip(vGen, vGen), 200).zipWithIndex
    val got = pairs.map { case ((a, b), i) => (i, a, b) }.toDF("i", "a", "b")
      .select(col("i"), expr("vec_dot(a, b)").as("d"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    pairs.foreach { case ((a, b), i) =>
      val model = a.zip(b).foldLeft(0.0)((acc, p) => acc + p._1 * p._2)
      assert(got(i) === model, s"fold-order mismatch for pair #$i")
    }
  }

  test("recent declared results are shuffle-partitioning-invariant") {
    // same query, different partition count → identical multiset: the
    // aggregation/join/window results may not depend on how data split
    val fns: Seq[(String, (org.apache.spark.sql.SparkSession, String)
        => org.apache.spark.sql.DataFrame)] = Seq(
      "q110" -> (graft.operators.Dedup.q110ContainmentJoin _),
      "q111" -> (graft.operators.Similarity.q111KmeansRefine _),
      "q112" -> (graft.operators.TextOps.q112BigramNovelty _),
      "q116" -> (graft.operators.Extensions.q116ParetoFront _),
      // round 6: df-capped hamming index, probe-side fan-out ANN,
      // md5-pinned rewrite, bucketed catalog join
      "q71" -> (graft.operators.Dedup.q71SimhashHamming _),
      "q120" -> (graft.operators.Similarity.q120MultiprobeAnn _),
      "q122" -> (graft.operators.TextOps.q122BoilerplateScrub _),
      "q123" -> (graft.operators.Extensions.q123BucketedJoin _),
      // round 6b: cell self-join dedup, two-stage rerank, z-order agg,
      // recursive-CTE frontier joins, domain-frame KS windows
      "q127" -> (graft.operators.Similarity.q127Semdedup _),
      "q128" -> (graft.operators.Similarity.q128RerankAnn _),
      "q129" -> (graft.operators.Extensions.q129ZorderLayout _),
      "q130" -> (graft.operators.Pipeline.q130QualityConstraints _),
      "q131" -> (graft.operators.Graph.q131Reachability _),
      "q132" -> (graft.operators.Extensions.q132KsDrift _),
      "q137" -> (graft.operators.TextOps.q137BpeMerges _),
      "q138" -> (graft.operators.Pipeline.q138SnapshotDiff _),
      "q142" -> (graft.operators.TextOps.q142Cooccurrence _),
      "q141" -> (graft.operators.Pipeline.q141GroupSample _),
      "q143" -> (graft.operators.Extensions.q143StateIntervals _),
      "q139" -> (graft.operators.Dedup.q139DedupEval _),
      "q133" -> (graft.operators.Similarity.q133MmrSelect _),
      "q134" -> (graft.operators.Extensions.q134Funnel _),
      "q135" -> (graft.operators.Pipeline.q135MixtureApply _),
      "q136" -> (graft.operators.TextOps.q136VocabCoverage _),
      // round 6c: batch-vs-index band join, eval semi-joins, outer-
      // product partial agg, iterative peel, two-slice census
      "q152" -> (graft.operators.Dedup.q152IncrementalLsh _),
      "q153" -> (graft.operators.Similarity.q153AnnEval _),
      "q154" -> (graft.operators.Similarity.q154GramMatrix _),
      "q155" -> (graft.operators.Graph.q155KCore _),
      "q156" -> (graft.operators.Extensions.q156CategoricalDrift _),
      "q158" -> (graft.operators.Extensions.q158ZoneMap _),
      "q159" -> (graft.operators.Pipeline.q159SystematicSample _),
      "q160" -> (graft.operators.Extensions.q160ForwardFill _),
      "q161" -> (graft.operators.Extensions.q161AsofJoin _),
      "q162" -> (graft.operators.Extensions.q162MadOutliers _),
      "q163" -> (graft.operators.Extensions.q163SaltedJoin _),
      "q164" -> (graft.operators.Extensions.q164RollingWindow _),
      "q165" -> (graft.operators.Pipeline.q165RankTransform _),
      "q166" -> (graft.operators.Pipeline.q166IncrementalAgg _),
      "q167" -> (graft.operators.Extensions.q167KAnonymity _),
      "q168" -> (graft.operators.Extensions.q168EquidepthHistogram _),
      "q169" -> (graft.operators.Extensions.q169IntervalJoin _),
      // round 8: corpus-LM scoring, MRR eval, CDC chunk dedup,
      // l-diversity audit
      "q214" -> (graft.operators.TextOps.q214BigramLmScore _),
      "q215" -> (graft.operators.Similarity.q215MrrEval _),
      "q216" -> (graft.operators.Multimodal.q216CdcChunkDedup _),
      "q217" -> (graft.operators.Extensions.q217LDiversity _),
      "q218" -> (graft.operators.TextOps.q218TokenizerFertility _),
      "q219" -> (graft.operators.Extensions.q219BurstDetection _),
      "q220" -> (graft.operators.Multimodal.q220HistEqualize _),
      "q221" -> (graft.operators.Pipeline.q221DenseIds _),
      "q222" -> (graft.operators.Dedup.q222IncrementalCc _))
    for ((name, fn) <- fns) {
      val before = spark.conf.get("spark.sql.shuffle.partitions")
      val a = fn(spark, sf1).collect().map(_.toString).sorted
      spark.catalog.clearCache()
      try {
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        val b = fn(spark, sf1).collect().map(_.toString).sorted
        assert(a.sameElements(b),
          s"$name result depends on shuffle partitioning")
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", before)
        spark.catalog.clearCache()
      }
    }
  }

  test("q122's span-cut expression equals the brute-force coverage " +
    "model on random mark layouts") {
    import spark.implicits._
    val W = graft.operators.TextOps.ScrubSpanTokens
    val caseGen = for {
      len <- Gen.choose(1, 40)
      nMarks <- Gen.choose(0, 8)
      ps <- Gen.listOfN(nMarks, Gen.choose(0L, math.max(0L, len - 3L)))
    } yield (len, ps.distinct.sorted)
    val cases = sample(caseGen, 150).zipWithIndex
    val rows = cases.map { case ((len, ps), i) =>
      (i, (0 until len).map(t => s"t$t"), ps)
    }
    val got = rows.toDF("i", "toks", "ps")
      .select(col("i"),
        expr(graft.operators.TextOps.scrubKeepExpr).as("keep"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    cases.foreach { case ((len, ps), i) =>
      val model = (0L until len.toLong).filterNot(t =>
        ps.exists(p => t >= p && t <= p + W - 1))
      assert(got(i) === model, s"span cut mismatch for case #$i " +
        s"(len=$len, ps=$ps)")
    }
  }

  test("centroid_argmax equals the scan-and-compare model on random data") {
    import spark.implicits._
    val vGen = Gen.listOfN(8, Gen.choose(-4.0, 4.0))
      .suchThat(_.exists(_ != 0.0))
    val centsGen = Gen.choose(2, 6).flatMap(k => Gen.listOfN(k, vGen))
    val cases = sample(Gen.zip(vGen, centsGen), 120).zipWithIndex
    val rows = cases.map { case ((v, cs), i) =>
      (i, v, cs.zipWithIndex.map { case (c, j) =>
        (j.toLong, c, math.sqrt(c.map(x => x * x).sum))
      })
    }
    val got = rows.toDF("i", "ed", "cents")
      .withColumn("nrm", expr("sqrt(vec_dot(ed, ed))"))
      .selectExpr("i", "centroid_argmax(ed, nrm, cents) AS best")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    cases.foreach { case ((v, cs), i) =>
      val nrm = math.sqrt(v.map(x => x * x).sum)
      // model: sequential-fold cosine, strictly-greater replaces (ties
      // keep the earlier = smaller id) — the oracle's rank order
      var bestId = -1L
      var bestCos = Double.NegativeInfinity
      cs.zipWithIndex.foreach { case (c, j) =>
        val dot = v.zip(c).foldLeft(0.0)((acc, p) => acc + p._1 * p._2)
        val cos = dot / (nrm * math.sqrt(c.map(x => x * x).sum))
        if (cos > bestCos) { bestCos = cos; bestId = j.toLong }
      }
      assert(got(i) === bestId, s"argmax mismatch for case #$i")
    }
  }

  test("shingle_hashes equals poly_hash(concat_ws(...)) on random word arrays") {
    import spark.implicits._
    val word = Gen.listOf(Gen.alphaLowerChar).map(_.mkString)
    val doc = Gen.choose(3, 12).flatMap(k => Gen.listOfN(k, word))
    val inputs = sample(doc, 150).zipWithIndex
    val df = inputs.map { case (w, i) => (i, w) }.toDF("i", "w")
      .selectExpr(
        "i",
        "shingle_hashes(w, 3) AS native",
        """transform(sequence(1, size(w) - 2),
           x -> poly_hash(concat_ws(' ', element_at(w, x),
                element_at(w, x + 1), element_at(w, x + 2)))) AS hof""")
    val bad = df.filter(col("native") =!= col("hof")).count()
    assert(bad === 0L)
  }

  test("semi and anti joins partition any generated fact relation") {
    import spark.implicits._
    val fkGen = Gen.choose(0, 30)
    val fks = sample(fkGen, 500).zipWithIndex.map(_.swap)
    val dimKeys = sample(Gen.choose(0, 20), 40).distinct
    val fact = fks.toDF("id", "fk")
    val dim = dimKeys.toDF("k")
    val semi = fact.join(dim, col("fk") === col("k"), "left_semi").count()
    val anti = fact.join(dim, col("fk") === col("k"), "left_anti").count()
    assert(semi + anti === fact.count())
  }

  test("exact dedup is idempotent on generated duplicate-heavy data") {
    import spark.implicits._
    val rows = sample(Gen.zip(Gen.choose(0, 25), Gen.choose(0L, 1000L)), 400)
    val df = rows.toDF("key", "id")
    import org.apache.spark.sql.expressions.Window
    def dedup(d: org.apache.spark.sql.DataFrame) = d
      .withColumn("rn", row_number().over(
        Window.partitionBy("key").orderBy("id", "rn_src")))
      .filter(col("rn") === 1).drop("rn")
    // add a stable tiebreak column first (ids may repeat)
    val withSrc = df.withColumn("rn_src",
      row_number().over(Window.orderBy("key", "id")))
    val once = dedup(withSrc)
    val twice = dedup(once)
    assert(once.exceptAll(twice).count() === 0L)
    assert(twice.exceptAll(once).count() === 0L)
    assert(once.select("key").distinct().count() === once.count())
  }

  test("sink key narrowing preserves in-range values exactly") {
    import spark.implicits._
    val vals = sample(Gen.choose(-1000000, 1000000), 300).distinct
    val df = vals.toDF("k")
    val narrowed = Sink.narrowKeys(
      df.select(col("k").cast("decimal(9,0)").as("k")), Seq("k"))
    val back = narrowed.collect().map(_.getLong(0)).toSet
    assert(back === vals.map(_.toLong).toSet)
  }

  test("star-contraction CC equals union-find truth on generated graphs") {
    import spark.implicits._
    // truth: plain scala union-find
    def ufComponents(n: Int, es: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x; while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // root chase to the component min (roots are minimal by union rule)
      (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    }
    // (n, edges, checkNaive) — naive propagation needs diameter rounds
    // (capped at 20), so the 40-node path is exactly the topology it
    // CAN'T handle and star contraction can: star-only there.
    val graphs: Seq[(Int, Seq[(Long, Long)], Boolean)] = Seq(
      (40, (0L until 39L).map(i => (i, i + 1)), false),
      (20, (0L until 20L).map(i => (i, (i + 1) % 20)), true),
      (60, sample(Gen.zip(Gen.choose(0L, 59L), Gen.choose(0L, 59L)), 45)
        .filter { case (a, b) => a != b }, true),
      (10, Seq.empty, true))
    graphs.foreach { case (n, es, checkNaive) =>
      val nodes = (0L until n.toLong).toDF("doc_id")
      val pairs = if (es.isEmpty)
        Seq.empty[(Long, Long)].toDF("doc_id_1", "doc_id_2")
      else es.toDF("doc_id_1", "doc_id_2")
      val truth = ufComponents(n, es)
      val got = graft.operators.Dedup
        .connectedComponentsStar(nodes, pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === truth, s"graph n=$n edges=${es.take(5)}...")
      if (checkNaive) {
        val naive = graft.operators.Dedup
          .connectedComponents(nodes, pairs)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(naive === truth)
      }
    }
  }

  test("star-contraction round count stays O(log n) on adversarial " +
    "topologies at 10^4 nodes") {
    import spark.implicits._
    // The 30-round throw in starContractionEdges is load-bearing: these
    // are the topologies that would break a weaker scheme. A 10^4-node
    // PATH has diameter 10^4 (naive propagation would need 10^4 rounds);
    // a CLIQUE CHAIN mixes dense local structure with a long backbone; a
    // STAR is the already-contracted fixed point. Star contraction must
    // close all of them within log2(n) + c rounds — measured, not argued.
    val n = 10000
    val path: Seq[(Long, Long)] =
      (0L until (n - 1).toLong).map(i => (i, i + 1))
    // 1000 cliques of 10, consecutive cliques bridged by one edge
    val cliqueChain: Seq[(Long, Long)] = {
      val within = for {
        c <- 0 until 1000; i <- 0 until 10; j <- (i + 1) until 10
      } yield ((c * 10 + i).toLong, (c * 10 + j).toLong)
      val bridges = (0 until 999).map(c =>
        ((c * 10 + 9).toLong, ((c + 1) * 10).toLong))
      within ++ bridges
    }
    val starG: Seq[(Long, Long)] = (1L until n.toLong).map(i => (0L, i))
    val bound = (math.log(n.toDouble) / math.log(2.0)).ceil.toInt + 6
    for ((name, es, nComponents) <- Seq(
        ("path", path, 1L), ("clique-chain", cliqueChain, 1L),
        ("star", starG, 1L))) {
      val pairs = es.toDF("doc_id_1", "doc_id_2")
        .repartition(8) // force a distributed shape, not one partition
      val (edges, rounds) =
        graft.operators.Dedup.starContractionEdges(pairs)
      assert(rounds <= bound,
        s"$name: $rounds rounds > log2($n)+6 = $bound")
      // converged star edges form exactly one star per component: every
      // edge points at the same minimum, and the component count is right
      val mins = edges.select("u").distinct().collect().map(_.getLong(0))
      assert(mins.length.toLong === nComponents,
        s"$name: ${mins.length} stars for $nComponents components")
    }
  }

  test("misra-gries captures every >N/(k+1) item on skewed random data") {
    import spark.implicits._
    // zipf-ish generator: value v with weight ~ 1/(v+1)
    val item = Gen.frequency(
      (8, Gen.const(0L)), (4, Gen.const(1L)), (2, Gen.const(2L)),
      (1, Gen.choose(3L, 40L)))
    (1 to 3).foreach { trial =>
      val xs = Gen.listOfN(3000, item)
        .pureApply(Gen.Parameters.default, Seed(trial.toLong))
      val k = 4
      val exact = xs.groupBy(identity).view.mapValues(_.size.toLong)
      val heavy = exact.filter(_._2 * (k + 1) > xs.size).keySet
      // random partitioning: repartition forces a multi-buffer merge tree
      val mg = new graft.functions.MisraGries(k)
      val cand = xs.toDS().repartition(7)
        .select(mg.toColumn.name("c")).head()
      assert(heavy.subsetOf(cand.toSet),
        s"trial $trial lost a guaranteed heavy hitter: " +
          s"heavy=$heavy cand=$cand")
      assert(cand.size <= k, "sketch exceeded its counter budget")
    }
  }

  test("levenshtein guard bound holds on random string pairs") {
    import spark.implicits._
    // the LevenshteinGuard rewrite is sound iff lev(a,b) <= k implies
    // |len(a)-len(b)| <= k — check over generated pairs at several k
    val word = Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.alphaChar).map(_.mkString))
    val pairs = sample(Gen.zip(word, word), 400)
    val df = pairs.toDF("a", "b")
      .select(col("a"), col("b"),
        levenshtein(col("a"), col("b")).as("lev"),
        abs(length(col("a")) - length(col("b"))).as("ldiff"))
    val violations = df.filter(col("ldiff") > col("lev")).count()
    assert(violations === 0L,
      "length difference must lower-bound edit distance")
  }

  test("bpeMerges matches the hand-computed trainer on a known dictionary") {
    import spark.implicits._
    // abab×2, abc×1: (a,b) appears 2×2+1=5 → merge 'ab';
    // then (ab,ab)=2 beats (ab,c)=1; then (ab,c)=1 remains
    val wf = Seq(("abab", 2L), ("abc", 1L)).toDF("word", "freq")
    val got = graft.operators.TextOps.bpeMerges(wf, 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, "a", "b", 5L), (2L, "ab", "ab", 2L), (3L, "ab", "c", 1L)))
  }

  test("bpeMerges fuses overlapping runs left-to-right, non-overlapping") {
    import spark.implicits._
    // 'aaaa': candidates at 0,1,2 → keep 0 and 2 → [aa, aa]; 'aaa':
    // candidates 0,1 → keep 0 → [aa, a]. Round 1 (a,a) counts ALL
    // adjacent occurrences: 3 (aaaa) + 2 (aaa) = 5. Round 2 pairs:
    // (aa,aa)=1 from aaaa, (aa,a)=1 from aaa → lexicographic tie-break
    // picks (aa,a).
    val wf = Seq(("aaaa", 1L), ("aaa", 1L)).toDF("word", "freq")
    val got = graft.operators.TextOps.bpeMerges(wf, 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).sortBy(_._1)
    assert(got.toSeq === Seq((1L, "a", "a", 5L), (2L, "aa", "a", 1L)))
  }

  test("q142 co-occurrence counts respect the window capacity bound") {
    val T = graft.operators.TextOps
    val rows = T.q142Cooccurrence(spark, sf1).collect()
      .map(r => (r.getString(1), r.getString(0), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.length === T.CoocTopK)
    for ((wb, wa, nPair, nWa, nWb) <- rows) {
      assert(wa <= wb, "pairs must be canonically ordered")
      // each occurrence of the rarer word can pair with the other in
      // at most the ±W window positions (window capacity)
      assert(nPair <= 2L * T.CoocWindow * math.min(nWa, nWb),
        s"($wa,$wb): $nPair exceeds window capacity")
      assert(nPair >= 1L && nWa >= 1L && nWb >= 1L)
    }
  }

  test("q227 margin is bounded below by 1e6 and names the true " +
    "non-self nearest neighbor") {
    import org.apache.spark.sql.functions._
    val out = graft.operators.Similarity.q227MarginKnn(spark, sf1)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    assert(out.keySet === (0L until
      graft.operators.Similarity.NumProbes.toLong).toSet)
    // brute-force truth recomputed independently of the operator
    val e = graft.sources.Tables.load(spark, sf1, "embeddings")
      .withColumn("ed", col("embedding").cast("array<double>"))
      .withColumn("nrm", sqrt(expr("vec_dot(ed, ed)")))
    val probes = e.filter(col("vec_id") <
        graft.operators.Similarity.NumProbes)
      .select(col("vec_id").as("pid"), col("ed").as("ped"),
        col("nrm").as("pnrm"))
    val truth = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("pid"))
      .withColumn("pcos", expr("vec_dot(ed, ped)") /
        (col("nrm") * col("pnrm")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("pid")
          .orderBy(col("pcos").desc, col("vec_id"))))
      .filter(col("rn") === 1)
      .select("pid", "vec_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((pid, (nn, margin)) <- out) {
      assert(nn === truth(pid), s"probe $pid nn mismatch")
      // cos1 >= every cos in the top-k neighborhood => margin >= 1
      assert(margin.exists(_ >= 1000000L),
        s"probe $pid margin must be defined and >= 1e6, got $margin")
    }
  }

  test("q241 votes the true top-k majority with deterministic ties " +
    "and covers every probe exactly once") {
    import org.apache.spark.sql.functions._
    val S = graft.operators.Similarity
    val out = S.q241KnnClassify(spark, sf1).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(3)))).toMap
    assert(out.keySet === (0L until S.KnnProbes.toLong).toSet)
    // independent replay: top-k by cosine, majority with (count desc,
    // label asc) tie-break
    val e = graft.sources.Tables.load(spark, sf1, "embeddings")
      .withColumn("ed", col("embedding").cast("array<double>"))
      .withColumn("nrm", sqrt(expr("vec_dot(ed, ed)")))
      .selectExpr("vec_id", "ed", "nrm", "CAST(label AS BIGINT) label")
    val probes = e.filter(col("vec_id") < S.KnnProbes)
      .select(col("vec_id").as("pid"), col("ed").as("ped"),
        col("nrm").as("pnrm"), col("label").as("al"))
    val topk = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("pid"))
      .withColumn("pcos", expr("vec_dot(ed, ped)") /
        (col("nrm") * col("pnrm")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("pid")
          .orderBy(col("pcos").desc, col("vec_id"))))
      .filter(col("rn") <= S.KnnK)
      .select("pid", "al", "label").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for ((pid, grp) <- topk.groupBy(_._1)) {
      val actual = grp.head._2
      val votes = grp.groupBy(_._3).view.mapValues(_.size).toSeq
        .sortBy { case (l, c) => (-c, l) }
      val predicted = votes.head._1
      val (a, p, c) = out(pid)
      assert(a === actual && p === predicted && c === (p == a),
        s"probe $pid vote replay mismatch")
    }
  }

  test("q246 kappa is the exact chance-corrected arithmetic over " +
    "q241's pairs") {
    val S = graft.operators.Similarity
    val r = S.q246CohensKappa(spark, sf1).collect().head
    val (n, agree, po, pe, kappa) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))
    val pairs = S.q241KnnClassify(spark, sf1).collect()
      .map(x => (x.getLong(1), x.getLong(2)))
    assert(n === pairs.length.toLong)
    assert(agree === pairs.count(p => p._1 == p._2).toLong)
    val aCnt = pairs.groupBy(_._1).view.mapValues(_.size)
    val pCnt = pairs.groupBy(_._2).view.mapValues(_.size)
    val peNum = aCnt.keys.map(l =>
      aCnt(l).toLong * pCnt.getOrElse(l, 0).toLong).sum
    assert(po === agree * 1000000L / n)
    assert(pe === peNum * 1000000L / (n * n))
    assert(kappa === (agree * n - peNum) * 1000000L / (n * n - peNum))
    // kappa never exceeds raw agreement (chance correction only
    // subtracts) and both probabilities are proper
    assert(kappa <= po && pe >= 0L && pe <= 1000000L)
  }

  test("q257 discount table is the monotone log2 family, DCG never " +
    "exceeds IDCG, and nDCG saturates exactly on front-loaded hits") {
    val S = graft.operators.Similarity
    val disc = S.NdcgDiscPpm
    assert(disc.length === S.NdcgK)
    assert(disc.head === 1000000L, "rank-1 discount must be 1/log2(2)")
    assert(disc === disc.sorted.reverse, "discounts must decrease")
    val pfx = disc.scanLeft(0L)(_ + _).tail
    val rows = S.q257NdcgEval(spark, sf1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.length === S.KnnProbes)
    for ((pid, nRel, dcg, idcg, ndcg) <- rows) {
      assert(nRel >= 0L && nRel <= S.NdcgK)
      assert(idcg === (if (nRel == 0) 0L else pfx(nRel.toInt - 1)))
      assert(dcg <= idcg, s"probe $pid DCG above ideal")
      assert(ndcg >= 0L && ndcg <= 1000000L)
      if (nRel > 0)
        assert(ndcg === dcg * 1000000L / idcg)
      // saturation: nDCG = 1e6 exactly when the relevant set occupies
      // the top-n_rel prefix (dcg == idcg)
      assert((ndcg == 1000000L) === (nRel > 0 && dcg == idcg))
    }
  }

  test("q293 dimension profiles replay fixed-point sufficient stats " +
    "and the unit-norm corpus reads as near-isotropic") {
    val S = graft.operators.Similarity
    val rows = S.q293DimensionAudit(spark, sf1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.map(_._1).sorted.toSeq === (0L until 64L))
    val embs = graft.sources.Tables.load(spark, sf1, "embeddings")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    assert(rows.head._2 === embs.length.toLong)
    for ((dim, n, mean, varM, mn, mx) <- rows.take(8)) {
      val vms = embs.map(e => math.floor(e(dim.toInt) * 1000).toLong)
      val sv = vms.map(BigInt(_)).sum
      val qv = vms.map(v => BigInt(v) * v).sum
      assert(mean === (sv * 1000 / n).toLong, s"dim $dim mean")
      assert(varM === ((BigInt(n) * qv - sv * sv) /
        (BigInt(n) * (n - 1))).toLong, s"dim $dim variance")
      assert(mn === vms.min && mx === vms.max)
    }
    // unit vectors in 64-d: per-dim variance clusters near the
    // isotropy line 10^6/64 ≈ 15625 milli² — no dead or dominating
    // dimension on this corpus (what the audit exists to catch)
    for ((dim, _, _, varM, _, _) <- rows)
      assert(varM > 15625 / 4 && varM < 15625 * 4,
        s"dim $dim variance $varM far off the isotropy line")
  }

  test("τ-parameterized setsim/containment joins equal brute force " +
       "across thresholds (the PPJoin filter-stack completeness pin)") {
    import spark.implicits._
    // small universe so collisions are dense: every filter in the stack
    // (prefix, length, in-flight positional, pair-level positional at
    // (min r1, min r2)) gets exercised with survivors AND casualties
    val setGen = Gen.choose(1, 12)
      .flatMap(n => Gen.listOfN(n, Gen.choose(1L, 40L)))
      .map(_.distinct)
    val fams = sample(setGen, 60).zipWithIndex
      .map { case (s, i) => (i.toLong, s.toArray) }
    val hs = fams.toDF("doc_id", "hsd")
    for ((p, q) <- Seq((1, 2), (2, 3), (7, 10), (9, 10), (1, 1))) {
      val got = graft.operators.Dedup.setSimJoinExact(hs, p, q)
        .select(col("doc_id_1"), col("doc_id_2"))
        .as[(Long, Long)].collect().toSet
      val want = (for {
        (i, a) <- fams; (j, b) <- fams if i < j
        inter = a.toSet.intersect(b.toSet).size
        uni = a.length + b.length - inter
        if inter * q >= uni * p
      } yield (i, j)).toSet
      assert(got === want, s"setsim τ=$p/$q")
      val gotC = graft.operators.Dedup.containmentJoinExact(hs, p, q)
        .select(col("doc_id_1"), col("doc_id_2"))
        .as[(Long, Long)].collect().toSet
      val wantC = (for {
        (i, a) <- fams; (j, b) <- fams if i != j
        inter = a.toSet.intersect(b.toSet).size
        if inter * q >= a.length * p
      } yield (i, j)).toSet
      assert(gotC === wantC, s"containment τ=$p/$q")
    }
  }

  test("q381 MAP replays a brute-force average-precision model with " +
    "the declared truncation points") {
    val S = graft.operators.Similarity
    val embs = graft.sources.Tables.load(spark, sf1, "embeddings")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS ed",
        "CAST(label AS BIGINT) AS label")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getLong(2)))
    val lblCnt = embs.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val rows = S.q381MapEval(spark, sf1).collect()
      .map(r => r.getAs[Long]("probe_id") ->
        (r.getAs[Long]("n_rel"), r.getAs[Long]("r_avail"),
          r.getAs[Long]("ap_num"), r.getAs[Long]("ap_ppm"))).toMap
    assert(rows.size === S.KnnProbes)
    embs.filter(_._1 < S.KnnProbes).foreach { case (pid, ped, plbl) =>
      val ranked = embs.filter(_._1 != pid)
        .map(e => (e._1, cos(e._2, ped), e._3))
        .sortBy(e => (-e._2, e._1)).take(S.NdcgK)
      var cum = 0L; var apNum = 0L; var nRel = 0L
      ranked.zipWithIndex.foreach { case ((_, _, lbl), i) =>
        if (lbl == plbl) {
          cum += 1; nRel += 1
          apNum += cum * 1000000L / (i + 1)
        }
      }
      val rAvail = math.min(lblCnt(plbl) - 1, S.NdcgK.toLong)
      val apPpm = if (rAvail <= 0) 0L else apNum / rAvail
      val (gRel, gAvail, gNum, gPpm) = rows(pid)
      assert(gRel === nRel, s"probe $pid n_rel")
      assert(gAvail === rAvail, s"probe $pid r_avail")
      assert(gNum === apNum, s"probe $pid ap_num")
      assert(gPpm === apPpm, s"probe $pid ap_ppm")
    }
  }

  test("q434 RBP replays the geometric-weight model and is bounded by " +
    "the weight ladder sum") {
    val S = graft.operators.Similarity
    val embs = graft.sources.Tables.load(spark, sf1, "embeddings")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS ed",
        "CAST(label AS BIGINT) AS label")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getLong(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val rows = S.q434Rbp(spark, sf1).collect()
      .map(r => r.getAs[Long]("probe_id") ->
        (r.getAs[Long]("n_rel"), r.getAs[Long]("rbp_ppm"))).toMap
    assert(rows.size === S.KnnProbes)
    val maxRbp = S.RbpWeightPpm.sum
    embs.filter(_._1 < S.KnnProbes).foreach { case (pid, ped, plbl) =>
      val ranked = embs.filter(_._1 != pid)
        .map(e => (e._1, cos(e._2, ped), e._3))
        .sortBy(e => (-e._2, e._1)).take(S.NdcgK)
      var nRel = 0L; var rbp = 0L
      ranked.zipWithIndex.foreach { case ((_, _, lbl), i) =>
        if (lbl == plbl) { nRel += 1; rbp += S.RbpWeightPpm(i) }
      }
      val (gRel, gRbp) = rows(pid)
      assert(gRel === nRel, s"probe $pid n_rel")
      assert(gRbp === rbp, s"probe $pid rbp_ppm")
      assert(gRbp >= 0L && gRbp <= maxRbp)
    }
  }

  test("q435 ERR replays the exact-integer cascade model and a " +
    "rank-1 exact hit dominates any later evidence") {
    val S = graft.operators.Similarity
    val embs = graft.sources.Tables.load(spark, sf1, "embeddings")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS ed",
        "CAST(label AS BIGINT) AS label")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getLong(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val rows = S.q435Err(spark, sf1).collect()
      .map(r => r.getAs[Long]("probe_id") ->
        (r.getAs[Long]("err_scaled"), r.getAs[Long]("err_ppm"))).toMap
    assert(rows.size === S.KnnProbes)
    embs.filter(_._1 < S.KnnProbes).foreach { case (pid, ped, plbl) =>
      val ranked = embs.filter(_._1 != pid)
        .map(e => (e._1, cos(e._2, ped), e._3))
        .sortBy(e => (-e._2, e._1)).take(S.NdcgK)
      var errScaled = 0L
      var a = 0L; var b = 0L // counts of num==0 / num==1 before i
      ranked.zipWithIndex.foreach { case ((_, _, lbl), i0) =>
        val num = if (lbl == plbl) 3L
          else if (lbl % 2 == plbl % 2) 1L else 0L
        val term = (2520L / (i0 + 1)) * num *
          (1L << (2 * a).toInt) * math.pow(3, b.toDouble).toLong *
          (1L << (2 * (S.NdcgK - (i0 + 1))).toInt)
        errScaled += term
        if (num == 0L) a += 1 else if (num == 1L) b += 1
      }
      val (gScaled, gPpm) = rows(pid)
      assert(gScaled === errScaled, s"probe $pid err_scaled")
      assert(gPpm === errScaled * 1000000L / S.ErrDenom,
        s"probe $pid err_ppm")
      // cascade property: a rank-1 exact hit alone contributes
      // R_1 = 3/4 of the i=1 term, i.e. err >= 3/4 -> 750000 ppm
      if (ranked.head._3 == plbl) assert(gPpm >= 750000L)
    }
  }

  test("q450 Rayleigh certificate: lambda replays the exact quotient " +
    "off the drained iterate and the residual certifies convergence") {
    val S = graft.operators.Similarity
    val row = S.q450RayleighCertificate(spark, sf1).head()
    val x = S.q351PowerIteration(spark, sf1).collect()
      .map(r => r.getAs[Long]("dim") -> r.getAs[Long]("x_scaled")).toMap
    val gUp = S.q154GramMatrix(spark, sf1).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j")) ->
        r.getAs[Long]("g")).toMap
    def g(i: Long, j: Long): Long =
      gUp.getOrElse((math.min(i, j), math.max(i, j)), 0L)
    val d = S.GramDims.toLong
    val y = (0L until d).map(i =>
      i -> (0L until d).map(j => BigInt(g(i, j)) * x(j)).sum).toMap
    val num = (0L until d).map(i => BigInt(x(i)) * y(i)).sum
    val den = (0L until d).map(i => BigInt(x(i)) * x(i)).sum
    assert(row.getAs[Long]("lambda_scaled") === (num / den).toLong)
    val resid = (0L until d).map(i =>
      ((den * y(i) - num * x(i)).abs / den)).sum
    val ynorm = (0L until d).map(i => y(i).abs).sum
    assert(row.getAs[Long]("resid_ppm") ===
      (resid * 1000000 / ynorm).toLong)
    // 16 rounds on a PSD gram matrix: the iterate should be well
    // converged - residual under 5% of ||Gx||
    assert(row.getAs[Long]("resid_ppm") < 50000L)
  }

  test("q452 Burrows Delta replays the pivoted z-fold, is symmetric-" +
    "complete over source pairs, and is nonnegative") {
    val T = graft.operators.TextOps
    val rows = T.q452BurrowsDelta(spark, sf1).collect()
      .map(r => (r.getAs[String]("s1"), r.getAs[String]("s2")) ->
        r.getAs[Long]("delta_milli")).toMap
    val docs = graft.sources.Tables.load(spark, sf1, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ").toSeq))
    val sources = docs.map(_._1).distinct.sorted
    assert(rows.size === sources.length * (sources.length - 1) / 2)
    assert(rows.values.forall(_ >= 0L))
    // brute-force replay
    val allToks = docs.flatMap { case (src, ws) => ws.map((src, _)) }
    val markers = allToks.groupBy(_._2).view.mapValues(_.length)
      .toSeq.sortBy(t => (-t._2, t._1)).take(T.DeltaTopM).map(_._1)
    val nt = allToks.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val f = (for (s0 <- sources; (m, k) <- markers.zipWithIndex) yield
      (s0, k) -> 1000000L *
        allToks.count(t => t._1 == s0 && t._2 == m) / nt(s0)).toMap
    val ns = sources.length.toLong
    val sds = markers.indices.map { k =>
      val vals = sources.map(s0 => f((s0, k)))
      val s1 = vals.map(BigInt(_)).sum
      val s2 = vals.map(v => BigInt(v) * v).sum
      math.sqrt((s2.toDouble - s1.toDouble * (s1.toDouble / ns)) / ns)
    }
    for (i <- sources.indices; j <- sources.indices if i < j) {
      var sum = 0.0
      markers.indices.foreach { k =>
        if (sds(k) != 0.0)
          sum += math.abs(f((sources(i), k)).toDouble -
            f((sources(j), k)).toDouble) / sds(k)
      }
      val want = math.floor(sum / T.DeltaTopM * 1000).toLong
      assert(rows((sources(i), sources(j))) === want,
        s"${sources(i)}/${sources(j)}")
    }
  }

  test("q455 cross-lingual contamination covers all language pairs, " +
    "containment is a valid ppm, and shared counts replay the " +
    "fingerprint-set model") {
    val T = graft.operators.TextOps
    val rows = T.q455CrossLingualContamination(spark, sf1).collect()
      .map(r => (r.getAs[String]("lang_a"), r.getAs[String]("lang_b")) ->
        (r.getAs[Long]("shared_fps"), r.getAs[Long]("fps_a"),
          r.getAs[Long]("fps_b"), r.getAs[Long]("containment_ppm")))
      .toMap
    rows.foreach { case ((a, b), (sh, fa, fb, c)) =>
      assert(a < b)
      assert(sh <= math.min(fa, fb))
      assert(c === sh * 1000000L / math.min(fa, fb))
      assert(c >= 0L && c <= 1000000L)
    }
    // replay from the declared winnow core
    val docs = graft.sources.Tables.load(spark, sf1, "documents")
    val fps = T.winnowFps(docs)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .select("fp_hash", "lang").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byLang = fps.groupBy(_._2).view.mapValues(_.map(_._1).toSet)
    val langs = byLang.keys.toSeq.sorted
    assert(rows.size === langs.combinations(2).size)
    for (Seq(a, b) <- langs.combinations(2)) {
      val sh = byLang(a).intersect(byLang(b)).size.toLong
      val (gSh, gFa, gFb, _) = rows((a, b))
      assert(gSh === sh, s"$a/$b shared")
      assert(gFa === byLang(a).size.toLong)
      assert(gFb === byLang(b).size.toLong)
    }
  }

  test("q461 linear MMD replays the quantized mean-difference model, " +
    "is symmetric-complete, and nonnegative") {
    val S = graft.operators.Similarity
    val rows = S.q461EmbeddingMmd(spark, sf1).collect()
      .map(r => (r.getAs[Long]("la"), r.getAs[Long]("lb")) ->
        (r.getAs[Long]("na"), r.getAs[Long]("nb"),
          r.getAs[Long]("mmd2_milli"))).toMap
    assert(rows.size === 45)
    assert(rows.values.forall(_._3 >= 0L))
    // replay for one pair from the raw embeddings via the q154 grid
    val embs = graft.sources.Tables.load(spark, sf1, "embeddings")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS ed",
        "CAST(label AS BIGINT) AS label").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getLong(2)))
    def quant(v: Array[Double]): Array[Long] = {
      val mx = v.map(math.abs).max
      v.map(x => if (mx == 0) 0L
        else math.floor(x * 127.0 / mx).toLong)
    }
    val byLabel = embs.groupBy(_._3).view
      .mapValues(_.map(e => quant(e._2))).toMap
    for (la <- 0L to 1L; lb <- (la + 1) to 2L) {
      val (qa, qb) = (byLabel(la), byLabel(lb))
      val (na, nb) = (qa.length.toLong, qb.length.toLong)
      val num = (0 until 64).map { d =>
        val sa = qa.map(_(d)).sum; val sb = qb.map(_(d)).sum
        BigInt(sa * nb - sb * na) * (sa * nb - sb * na)
      }.sum
      val want = (num * 1000 /
        (BigInt(na) * nb * na * nb)).toLong
      val (gNa, gNb, gM) = rows((la, lb))
      assert(gNa === na); assert(gNb === nb)
      assert(gM === want, s"pair $la/$lb")
    }
  }

  test("q495 norm audit buckets partition the corpus, unit-scale " +
    "vectors land in bucket 0 or 1, and no zero vector exists here") {
    val S = graft.operators.Similarity
    val rows = S.q495EmbeddingNormAudit(spark, sf1).collect()
      .map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("n_vecs"), r.getAs[Long]("share_ppm"))).toMap
    val n = graft.sources.Tables.load(spark, sf1, "embeddings").count()
    assert(rows.values.map(_._1).sum === n)
    assert(!rows.contains(-1L), "generator emits no zero vectors")
    // unit-normalized generator: every norm in [0, 2)
    assert(rows.keySet.subsetOf(Set(0L, 1L)),
      s"unexpected norm buckets: ${rows.keySet}")
    rows.foreach { case (_, (nv, sp)) =>
      assert(sp === nv * 1000000L / n)
    }
  }
}
