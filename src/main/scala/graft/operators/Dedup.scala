package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PortableHash._
import graft.sources.Tables.{load => t}

/** Near-duplicate detection suite for LLM-data pipelines (north star):
  * MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design: every operator is a constant number of narrow passes over
  * the corpus plus ONE shuffle on a bucket/banding key — never an all-pairs
  * join. MinHash bands turn O(n²) similarity into an equi-join on band
  * signatures; SimHash reduces a document to one 32-bit int; the embedding
  * path buckets by random-hyperplane signs before comparing. Candidate
  * verification happens only within buckets, which stays bounded as the
  * corpus grows: bucket count scales with corpus size via more
  * planes/bands — executable as [[Dedup.LshGeometry.forCorpus]], whose
  * log-sized geometry the parameterized cores (minhashCandidatePairs,
  * srpBucketExpr) accept; both hash families are prefix-stable, so the
  * default geometry's signatures are unchanged.
  *
  * Determinism: token hashes use the portable char fold (PortableHash) so
  * the DuckDB oracle reproduces signatures bit-for-bit. The testdata has no
  * natural near-dups (all 500 texts distinct, embeddings i.i.d. random), so
  * the text queries run over `documents` ∪ a deterministically perturbed
  * copy (drop-last-word, doc_id+100000) — planted near-dups with known ids.
  */
object Dedup {

  // LSH geometry: 16 minhashes, 4 bands x 4 rows (the compiled-in
  // default — LshGeometry.forCorpus derives wider geometries from a
  // corpus-size parameter; every declared query runs the default).
  val NumHashes = 16
  val BandRows = 4
  val NumBands = NumHashes / BandRows
  val ShingleN = 3
  val SimhashBits = 32
  val NumPlanes = 4
  val CosineTau = 0.3
  val PlantedOffset = 100000L

  /** Target expected docs per SRP bucket when sizing planes from corpus
    * size (LshGeometry.forCorpus). */
  val TargetSrpBucket = 128L

  /** LSH/SRP geometry as a value, so the "bucket count scales with
    * corpus size via more planes/bands" scale story is executable
    * rather than a fixed compile-time shape. Both hash families are
    * PREFIX-STABLE (minhash i and plane i are the same at every
    * geometry), so widening appends hash functions without changing
    * any existing signature value. */
  final case class LshGeometry(numHashes: Int, bandRows: Int,
      numPlanes: Int) {
    require(numHashes % bandRows == 0,
      s"bands must tile the signature: $numHashes % $bandRows != 0")
    def numBands: Int = numHashes / bandRows
  }

  object LshGeometry {
    /** The compiled-in default — identical hashes/bands/planes to the
      * bare constants above; every declared (oracled) query uses it. */
    val Default: LshGeometry = LshGeometry(NumHashes, BandRows, NumPlanes)

    /** Size the geometry for a corpus of `nDocs` documents/vectors.
      *
      * Rows per band r: an unrelated pair (background Jaccard s₀=0.1)
      * collides on one band with probability s₀^r, so expected spurious
      * candidates ≈ b·(n²/2)·s₀^r; holding that LINEAR in n (≤ n/2)
      * needs r ≥ log₁₀(b·n) — rows grow with log₁₀ of the corpus, and
      * the band count stays at the default (the τ≈(1/b)^(1/r) threshold
      * knob), so numHashes = b·r.
      *
      * SRP planes: 2^planes buckets; expected bucket size n/2^planes ≤
      * [[TargetSrpBucket]] needs planes ≥ log₂(n/target). Both formulas
      * floor at the default geometry, which they reproduce at the test
      * corpus sizes (n ≤ 2.5k docs / 2k vectors). */
    def forCorpus(nDocs: Long): LshGeometry = {
      val n = math.max(1L, nDocs).toDouble
      val rows = math.max(BandRows,
        math.ceil(math.log10(NumBands * n)).toInt)
      val planes = math.max(NumPlanes,
        math.ceil(math.log(n / TargetSrpBucket) / math.log(2.0)).toInt)
      LshGeometry(NumBands * rows, rows, planes)
    }
  }

  /** First `n` ±1 hyperplanes of the fixed seed-42 family for
    * sign-random-projection bucketing (fixed seed so both engines
    * inline identical literals). Prefix-stable: row i is the same
    * vector at every n, so a wider geometry appends planes without
    * moving any existing bucket boundary. */
  def planesFor(n: Int): Array[Array[Double]] = {
    val rng = new scala.util.Random(42)
    Array.fill(n, 64)(if (rng.nextBoolean()) 1.0 else -1.0)
  }

  /** The default-geometry planes (what every declared query uses). */
  val planes: Array[Array[Double]] = planesFor(NumPlanes)

  // ---------------------------------------------------------------- text

  /** documents ∪ perturbed copy (text minus last word, shifted doc_id). */
  private def plantedDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val perturbed = docs.select(
      (col("doc_id") + PlantedOffset).as("doc_id"),
      expr("array_join(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), ' ')")
        .as("text"))
    docs.unionByName(perturbed)
  }

  private val plantedSql: String =
    s"""SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + $PlantedOffset AS doc_id,
               array_to_string(list_slice(string_split(text, ' '), 1,
                 len(string_split(text, ' ')) - 1), ' ') AS text
        FROM documents"""

  /** Spark: distinct hashed word-n-gram shingles of `text` (needs a
    * `size(split(text,' ')) >= ShingleN` guard upstream). The native
    * shingle_hashes expression folds each window's bytes directly —
    * bit-identical to poly_hash(concat_ws(' ', ...)) without building the
    * shingle strings. */
  private val sparkShingleHashes: String =
    s"array_distinct(shingle_hashes(sw_w, $ShingleN))"

  private val duckShingleHashes: String = {
    val parts = (0 until ShingleN)
      .map(k => s"sw_w[sh_i + $k]").mkString(", ")
    s"list_distinct(list_transform(" +
      s"range(1, len(sw_w) - ${ShingleN - 2}), " +
      s"sh_i -> ${duckCharFold(s"concat_ws(' ', $parts)")}))"
  }

  /** Minhash signature element i as a min-over-shingles expression (DuckDB
    * oracle form; the Spark side uses the one-pass minhash16 expression
    * with the same constants). */
  private def sigExpr(i: Int): String =
    s"list_min(list_transform(hsd, mh_h -> " +
      s"(${minhashA(i)} * mh_h + ${minhashB(i)}) % $MersennePrime))"

  private def bandKeyExpr(b: Int): String =
    (0 until BandRows).map(r => sigExpr(b * BandRows + r))
      .mkString("concat_ws(',', ", ", ", ")")

  /** q30 — MinHash+LSH near-dup candidate pairs over planted documents.
    * One pass computes all band keys (stack, no re-scan); candidates come
    * from a self-join on (band, band_key) — the streaming, hot-bucket-safe
    * shape (a b-row bucket flows as b×b join output rows across tasks,
    * never as one in-memory pair array). The earlier in-bucket
    * collect_list pair-gen materialized each bucket's whole pair set as a
    * single row: fine when buckets are provably small, a single-task OOM
    * on a boilerplate-heavy crawl where one band key collects millions of
    * documents. */
  def q30DedupMinhashLsh(s: SparkSession, dir: String): DataFrame = {
    minhashCandidatePairs(plantedDocs(s, dir))
  }

  /** MinHash+LSH candidate pairs over ANY (doc_id, text) frame — the
    * reusable core of q30 (which runs it over the planted corpus, at the
    * default geometry — the oracle strings are generated from the same
    * constants). Pass `LshGeometry.forCorpus(n)` to widen the banding
    * for a larger corpus. The banded frame is cached so the self-join's
    * two sides share one signature computation instead of running the
    * shingle+minhash subplan twice. */
  def minhashCandidatePairs(
      docs: DataFrame,
      g: LshGeometry = LshGeometry.Default): DataFrame = {
    val banded = bandedSignatures(docs, g)
    val x = banded.as("x")
    val y = banded.as("y")
    x.join(y,
        col("x.band") === col("y.band") &&
          col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id_1"),
        col("y.doc_id").as("doc_id_2"))
      .distinct()
  }

  /** The cached (doc_id, band, bkey) LSH band-signature frame over ANY
    * (doc_id, text) frame — the shared index representation behind
    * [[minhashCandidatePairs]] (self-join) and [[q152IncrementalLsh]]
    * (batch-vs-index join). At production scale this frame IS the
    * persisted dedup index: written bucketed on (band, bkey) once per
    * corpus build, it turns every later batch's candidate generation
    * into a co-located equi-join. */
  def bandedSignatures(
      docs: DataFrame,
      g: LshGeometry = LshGeometry.Default): DataFrame =
    bandedKeys(docs, g).cache()

  /** Uncached [[bandedSignatures]] plan — for callers that materialize
    * differently (q157's per-micro-batch `localCheckpoint`). */
  def bandedKeys(
      docs: DataFrame,
      g: LshGeometry = LshGeometry.Default): DataFrame = {
    val base = docs
      .withColumn("sw_w", split(col("text"), " "))
      .filter(size(col("sw_w")) >= ShingleN)
      .withColumn("hsd", expr(sparkShingleHashes))
      // all signature mins in one native pass (vs k HOF array walks)
      .withColumn("sigs", expr(s"minhash_k(hsd, ${g.numHashes})"))
    val keyed = base.select(
      col("doc_id") +:
        (0 until g.numBands).map { b =>
          val elems = (0 until g.bandRows)
            .map(r => s"element_at(sigs, ${b * g.bandRows + r + 1})")
            .mkString(", ")
          expr(s"concat_ws(',', $elems)").as(s"bk$b")
        }: _*)
    val stackArgs = (0 until g.numBands)
      .map(b => s"$b, bk$b").mkString(s"stack(${g.numBands}, ", ", ", ")")
    keyed.selectExpr("doc_id", s"$stackArgs as (band, bkey)")
  }

  /** q152 — INCREMENTAL near-dup candidates: a new batch (the perturbed
    * copies, doc_id ≥ [[PlantedOffset]] — today's scrape, which re-crawls
    * much of yesterday's content) banded against the EXISTING corpus
    * index (the originals) plus itself. The q75 incremental discipline
    * lifted from exact to NEAR dedup: corpus-vs-corpus pairs — the
    * quadratic majority an index rebuild would recompute — are never
    * generated; the corpus side joins as a pre-built band-signature
    * table ([[bandedSignatures]], bucketed on (band, bkey) at scale), so
    * candidate work scales with the batch's band rows, not the corpus's.
    * Output: (doc_id_1, doc_id_2, kind) with kind ∈ {in_batch,
    * vs_corpus} — the two sets a production merge treats differently
    * (in-batch survivors collapse now; vs-corpus hits drop the batch
    * doc). */
  def q152IncrementalLsh(s: SparkSession, dir: String): DataFrame = {
    val banded = bandedSignatures(plantedDocs(s, dir))
    val corpusB = banded.filter(col("doc_id") < PlantedOffset)
    val batchB = banded.filter(col("doc_id") >= PlantedOffset)
    val inBatch = batchB.as("x").join(batchB.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id_1"),
        col("y.doc_id").as("doc_id_2"), lit("in_batch").as("kind"))
    // corpus ids < PlantedOffset ≤ batch ids, so (corpus, batch) is
    // already the (min, max) pair orientation
    val vsCorpus = batchB.as("b").join(corpusB.as("c"),
        col("b.band") === col("c.band") &&
          col("b.bkey") === col("c.bkey"))
      .select(col("c.doc_id").as("doc_id_1"),
        col("b.doc_id").as("doc_id_2"), lit("vs_corpus").as("kind"))
    inBatch.unionByName(vsCorpus).distinct()
  }

  private def q152OracleSql: String =
    s"""WITH ${lshCtes(plantedSql)}
        SELECT DISTINCT doc_id_1, doc_id_2, kind FROM (
          SELECT x.doc_id AS doc_id_1, y.doc_id AS doc_id_2,
                 'in_batch' AS kind
          FROM bands x JOIN bands y
            ON x.band = y.band AND x.bkey = y.bkey
           AND x.doc_id < y.doc_id
          WHERE x.doc_id >= $PlantedOffset
          UNION ALL
          SELECT x.doc_id AS doc_id_1, y.doc_id AS doc_id_2,
                 'vs_corpus' AS kind
          FROM bands x JOIN bands y
            ON x.band = y.band AND x.bkey = y.bkey
          WHERE x.doc_id < $PlantedOffset
            AND y.doc_id >= $PlantedOffset) p"""

  /** The LSH CTE chain (docs → words → shingle hashes → band keys) and
    * its pair-select, parametrized over the docs source so q30 (planted
    * corpus), q63 (recursive components), and q79 (prepareCorpus) all
    * share one generator. */
  private[operators] def lshCtes(docsSql: String): String = {
    val bandSelects = (0 until NumBands).map(b =>
      s"SELECT doc_id, $b AS band, ${bandKeyExpr(b)} AS bkey FROM hs")
      .mkString("\n UNION ALL\n ")
    s"""docs AS ($docsSql),
        w AS (SELECT doc_id, string_split(text, ' ') AS sw_w FROM docs
              WHERE len(string_split(text, ' ')) >= $ShingleN),
        hs AS (SELECT doc_id, $duckShingleHashes AS hsd FROM w),
        bands AS ($bandSelects)"""
  }

  private def q30Ctes: String = lshCtes(plantedSql)

  private[operators] val q30SelectPairs: String =
    """SELECT DISTINCT x.doc_id AS doc_id_1, y.doc_id AS doc_id_2
       FROM bands x JOIN bands y
         ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id"""

  private[graft] def q30OracleSql: String =
    s"WITH $q30Ctes $q30SelectPairs"

  /** q63 — duplicate-CLUSTER resolution: connected components over the
    * q30 candidate-pair graph, every document labeled with its
    * component's min doc_id. Candidate pairs alone under-deliver for a
    * real dedup pipeline — "keep one doc per near-dup cluster" needs the
    * transitive closure (A~B, B~C ⇒ {A,B,C} one cluster even when A~C
    * missed the LSH threshold).
    *
    * Spark side: alternating large-star/small-star contraction
    * ([[connectedComponentsStar]]) — O(log n) rounds on ANY topology, so
    * a pathological high-diameter component (a chain of pairwise
    * near-dups) converges in ~20 rounds where min-label propagation
    * needs diameter rounds. The propagation variant
    * ([[connectedComponents]]) remains available for low-diameter graphs
    * (near-dup clusters are near-cliques) and now throws instead of
    * silently emitting wrong labels when its round budget is exhausted.
    *
    * Oracle: DuckDB recursive CTE computing min reachable doc_id — the
    * same fixpoint by different means. */
  def q63DedupClusters(s: SparkSession, dir: String): DataFrame =
    connectedComponentsStar(
      plantedDocs(s, dir).select("doc_id"),
      q30DedupMinhashLsh(s, dir))

  /** q464 — DEDUP CLUSTER-SIZE PROFILE (the curation READOUT on top of
    * q63's labels: a dedup run's value is judged by this histogram —
    * singleton rate says how much of the corpus is untouched, the
    * large-cluster tail says whether boilerplate or a mirror site is
    * eating the corpus, and "docs removed if keeping one per cluster"
    * is the number a storage forecast uses). Count-of-counts over the
    * component labels: per cluster size {n_clusters, n_docs} — exact
    * integers, the whole profile.
    *
    * Scale shape: q63's CC cost dominates; the profile adds one
    * cluster-keyed census and one size-keyed census (both map-side
    * combined, output ≤ \|distinct sizes\|). */
  def q464ClusterSizeProfile(s: SparkSession, dir: String): DataFrame =
    q63DedupClusters(s, dir)
      .groupBy("cluster").agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum("sz").cast("bigint").as("n_docs"))

  private def q464OracleSql: String =
    s"""WITH labels AS (SELECT * FROM ($q63OracleSql) t0),
        sizes AS (SELECT cluster, CAST(count(*) AS BIGINT) AS sz
          FROM labels GROUP BY cluster)
        SELECT sz AS cluster_size, CAST(count(*) AS BIGINT)
            AS n_clusters,
          CAST(sum(sz) AS BIGINT) AS n_docs
        FROM sizes GROUP BY sz"""

  /** q494 — DEDUP STORAGE SAVINGS LEDGER (the cost number the whole
    * dedup stack exists to produce: q63 labels, q125 picks survivors,
    * q464 profiles cluster sizes — a storage owner signs off on BYTES:
    * how much disappears if only survivors are kept). Joins the q63
    * labels and q125 survivors against per-doc byte lengths; released
    * one row {n_docs, n_survivors, bytes_total, bytes_kept,
    * bytes_saved, saved_ppm} — exact integers, and the two identities
    * kept + saved = total and survivors = clusters are the spec's
    * audit.
    *
    * Scale shape: q63's CC dominates; the ledger adds two doc-keyed
    * joins against the length projection and a scalar fold. */
  def q494DedupSavings(s: SparkSession, dir: String): DataFrame = {
    val lens = plantedDocs(s, dir)
      .select(col("doc_id"), length(col("text")).cast("bigint").as("len"))
      .localCheckpoint(true)
    val survivors = q125DedupSurvivors(s, dir)
      .select(col("survivor_id").as("doc_id"))
    val kept = survivors.join(lens, "doc_id")
      .agg(count(lit(1)).as("n_survivors"), sum("len").as("bytes_kept"))
    val tot = lens.agg(count(lit(1)).as("n_docs"),
      sum("len").as("bytes_total"))
    tot.crossJoin(kept)
      .select(col("n_docs"), col("n_survivors"), col("bytes_total"),
        col("bytes_kept"),
        (col("bytes_total") - col("bytes_kept")).as("bytes_saved"),
        expr("""(bytes_total - bytes_kept) * 1000000
             div bytes_total""").as("saved_ppm"))
  }

  private def q494OracleSql: String =
    s"""WITH labels AS (SELECT * FROM ($q63OracleSql) t0),
        pl AS ($plantedSql),
        lens AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS len
          FROM pl),
        ranked AS (SELECT l.cluster, l.doc_id, ln.len,
            row_number() OVER (PARTITION BY l.cluster
              ORDER BY ln.len DESC, l.doc_id) AS rn
          FROM labels l JOIN lens ln ON l.doc_id = ln.doc_id),
        kept AS (SELECT CAST(count(*) AS BIGINT) AS n_survivors,
            CAST(sum(len) AS BIGINT) AS bytes_kept
          FROM ranked WHERE rn = 1),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(len) AS BIGINT) AS bytes_total FROM lens)
        SELECT n_docs, n_survivors, bytes_total, bytes_kept,
          bytes_total - bytes_kept AS bytes_saved,
          (bytes_total - bytes_kept) * 1000000 // bytes_total
            AS saved_ppm
        FROM tot CROSS JOIN kept"""

  /** q483's swept Jaccard thresholds (percent). */
  val DedupSweepPct: Seq[Long] = Seq(70L, 80L, 90L)

  /** q483 — DEDUP THRESHOLD SENSITIVITY SWEEP (the calibration curve
    * behind q30/q87's fixed 9/10: WHICH Jaccard threshold a dedup run
    * should gate at is answered by exactly this — verified pair
    * volume and planted recall as a function of τ, read together: the
    * τ where volume explodes but recall stops improving is the knee).
    * ONE exact verification pass (candidate pairs scored with
    * n_inter/n_union, the q87 machinery), then every τ in
    * [[DedupSweepPct]] is a conditional fold over that cached frame —
    * no per-τ re-verification. Released per τ: {tau_pct, n_pairs,
    * planted_found, planted_recall_ppm}.
    *
    * Scale shape: q30's banded candidate generation + one in-row
    * verify pass; the sweep rides the candidate frame as three
    * conditional aggregates. */
  def q483DedupThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    val docs = plantedDocs(s, dir)
    val hs = docs
      .withColumn("sw_w", split(col("text"), " "))
      .filter(size(col("sw_w")) >= ShingleN)
      .select(col("doc_id"), expr(sparkShingleHashes).as("hsd"))
      .cache()
    val scored = minhashCandidatePairs(docs)
      .join(hs.select(col("doc_id").as("doc_id_1"),
        col("hsd").as("hsd1")), "doc_id_1")
      .join(hs.select(col("doc_id").as("doc_id_2"),
        col("hsd").as("hsd2")), "doc_id_2")
      .select(col("doc_id_1"), col("doc_id_2"),
        size(array_intersect(col("hsd1"), col("hsd2")))
          .cast("bigint").as("ni"),
        (size(col("hsd1")) + size(col("hsd2")) -
          size(array_intersect(col("hsd1"), col("hsd2"))))
          .cast("bigint").as("nu"))
      .localCheckpoint(true)
    val nPlantable = docs.filter(col("doc_id") < PlantedOffset)
      .filter(size(split(col("text"), " ")) > ShingleN + 1)
      .agg(count(lit(1)).as("n_plantable"))
    val aggs = DedupSweepPct.flatMap { p => Seq(
      sum(when(col("ni") * 100 >= col("nu") * p, 1L).otherwise(0L))
        .as(s"np_$p"),
      sum(when(col("ni") * 100 >= col("nu") * p &&
        col("doc_id_2") === col("doc_id_1") + PlantedOffset, 1L)
        .otherwise(0L)).as(s"pf_$p")) }
    val g = scored.agg(aggs.head, aggs.tail: _*)
      .crossJoin(broadcast(nPlantable))
    DedupSweepPct.map { p =>
      g.select(lit(p).as("tau_pct"), col(s"np_$p").as("n_pairs"),
        col(s"pf_$p").as("planted_found"),
        expr(s"pf_$p * 1000000 div n_plantable")
          .as("planted_recall_ppm"))
    }.reduce(_ unionByName _)
  }

  private def q483OracleSql: String = {
    val aggCols = DedupSweepPct.flatMap { p => Seq(
      s"""CAST(sum(CASE WHEN ni * 100 >= nu * $p THEN 1 ELSE 0 END)
          AS BIGINT) AS np_$p""",
      s"""CAST(sum(CASE WHEN ni * 100 >= nu * $p
          AND doc_id_2 = doc_id_1 + $PlantedOffset THEN 1 ELSE 0 END)
          AS BIGINT) AS pf_$p""") }.mkString(", ")
    val rows = DedupSweepPct.map { p =>
      s"""SELECT CAST($p AS BIGINT) AS tau_pct, np_$p AS n_pairs,
          pf_$p AS planted_found,
          pf_$p * 1000000 // n_plantable AS planted_recall_ppm
        FROM g CROSS JOIN npl""" }.mkString("\n        UNION ALL\n        ")
    s"""WITH ${lshCtes(plantedSql)},
        pairs AS ($q30SelectPairs),
        sh2 AS (SELECT doc_id, unnest(hsd) AS h FROM hs),
        cnt AS (SELECT doc_id, count(*) AS nsh FROM sh2 GROUP BY doc_id),
        inter AS (SELECT p.doc_id_1, p.doc_id_2, count(*) AS n_inter
                  FROM pairs p
                  JOIN sh2 a ON a.doc_id = p.doc_id_1
                  JOIN sh2 b ON b.doc_id = p.doc_id_2 AND b.h = a.h
                  GROUP BY 1, 2),
        scored AS (SELECT p.doc_id_1, p.doc_id_2,
            CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS ni,
            CAST(c1.nsh + c2.nsh - COALESCE(i.n_inter, 0) AS BIGINT)
              AS nu
          FROM pairs p
          LEFT JOIN inter i USING (doc_id_1, doc_id_2)
          JOIN cnt c1 ON c1.doc_id = p.doc_id_1
          JOIN cnt c2 ON c2.doc_id = p.doc_id_2),
        npl AS (SELECT CAST(count(*) AS BIGINT) AS n_plantable
          FROM documents
          WHERE len(string_split(text, ' ')) > ${ShingleN + 1}),
        g AS (SELECT $aggCols FROM scored)
        $rows"""
  }

  /** Connected components by Pregel-style min-label propagation — the
    * low-diameter fast path (near-dup clusters are near-cliques, so 2-3
    * rounds suffice; each round is ONE shuffle). `nodes`: one `doc_id`
    * per vertex (vertices absent from `pairs` become singleton
    * clusters). `pairs`: (doc_id_1, doc_id_2) candidate edges. Returns
    * (doc_id, cluster) with cluster = component min doc_id.
    *
    * Throws IllegalStateException if the fixpoint hasn't converged
    * within `maxRounds` — rounds = graph diameter, so exhaustion means
    * the graph needs [[connectedComponentsStar]] (O(log n) rounds on any
    * topology); returning the partial labels would be silently WRONG. */
  def connectedComponents(
      nodes: DataFrame, pairs: DataFrame, maxRounds: Int = 20): DataFrame = {
    // both edge directions from ONE pass over the pair list (a union of
    // two selects would run the whole upstream subplan twice)
    val edges = pairs
      .select(explode(expr(
        """array(struct(doc_id_1 AS src, doc_id_2 AS dst),
                 struct(doc_id_2 AS src, doc_id_1 AS dst))""")).as("e"))
      .select("e.*")
      .cache()
    // the state carries a `chg` flag through the propagation select — a
    // separate old-vs-new join per round would double the join count;
    // the loop stops at the first round that changes no label
    val (stepped, _, converged) = Iterate("cc-propagation",
        nodes.select(col("doc_id"), col("doc_id").as("cluster")),
        maxRounds) { (prev, _) =>
      val labels = prev.drop("chg")
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("dst"),
          col("cluster").as("nbr_cluster")), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min("nbr_cluster").as("nbr_min"))
      labels
        .join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster")))
            .as("cluster"),
          (coalesce(col("nbr_min"), col("cluster")) < col("cluster"))
            .as("chg"))
    }(r => r.next.filter(col("chg")).count() == 0L)
    edges.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds " +
          "(graph diameter exceeds the budget); use " +
          "connectedComponentsStar, which needs O(log n) rounds on any " +
          "topology")
    stepped.drop("chg")
  }

  private def q63OracleSql: String =
    s"""WITH RECURSIVE $q30Ctes,
        pairs AS ($q30SelectPairs),
        edges AS (SELECT doc_id_1 AS src, doc_id_2 AS dst FROM pairs
                  UNION ALL
                  SELECT doc_id_2 AS src, doc_id_1 AS dst FROM pairs),
        reach(doc_id, lab) AS (
          SELECT doc_id, doc_id FROM docs
          UNION
          SELECT e.src, r.lab FROM edges e JOIN reach r ON r.doc_id = e.dst)
        SELECT doc_id, min(lab) AS cluster FROM reach GROUP BY doc_id"""

  /** q222 — INCREMENTAL CONNECTED COMPONENTS (the maintenance op that
    * keeps q63's dedup clusters current as new documents arrive
    * WITHOUT re-clustering the corpus): base labels (components over
    * pairs among pre-existing docs, doc_id < [[PlantedOffset]] — in
    * production a materialized label table) are merged with the NEW
    * edges (any pair touching a batch doc, q152's quadrant split) by
    * the classic contraction argument: map each new edge's endpoints
    * to their current labels (own id for batch nodes), run CC on the
    * CONTRACTED label graph — a frame no bigger than the new-edge set —
    * and compose. Since every label is its base component's minimum and
    * [[connectedComponentsStar]] returns component minima, the composed
    * labels equal a full rebuild's EXACTLY; the oracle IS the full
    * rebuild (q63's recursive fixpoint over all pairs), so the
    * differential pins incremental ≡ from-scratch. Declared output
    * adds `origin` (base/batch) — the lineage a curation pass needs.
    *
    * Scale shape: the batch-quadrant edges come from the same
    * prefix-stable LSH family (q152's argument — corpus signatures are
    * never regenerated); the contracted CC runs on O(new edges) rows;
    * relabeling is two label-keyed joins. The corpus-sized work is the
    * base labeling, which production amortizes as stored state — the
    * query includes it only to stay self-contained. */
  def q222IncrementalCc(s: SparkSession, dir: String): DataFrame = {
    val nodes = plantedDocs(s, dir).select("doc_id")
    val all = q30DedupMinhashLsh(s, dir)
      // two consumers (base split + new split): one LSH pass
      .localCheckpoint(true)
    val basePairs = all.filter(col("doc_id_2") < PlantedOffset)
    val newPairs = all.filter(col("doc_id_2") >= PlantedOffset)
    val baseLabels = connectedComponentsStar(
      nodes.filter(col("doc_id") < PlantedOffset), basePairs)
      .localCheckpoint(true)
    // endpoints → current labels (batch nodes label themselves);
    // doc_id_1 < doc_id_2 and the offset split mean only doc_id_1 can
    // be a base node needing the label lookup ... except batch-batch
    // pairs, whose doc_id_1 is also ≥ offset and passes through
    val lbl1 = newPairs
      .join(baseLabels.select(col("doc_id").as("doc_id_1"),
        col("cluster").as("l1")), Seq("doc_id_1"), "left")
      .select(coalesce(col("l1"), col("doc_id_1")).as("doc_id_1"),
        col("doc_id_2"))
    val contracted = lbl1
      .select(col("doc_id_1"), col("doc_id_2"))
      .distinct()
    val cnodes = contracted.select(col("doc_id_1").as("doc_id"))
      .unionByName(contracted.select(col("doc_id_2").as("doc_id")))
      .distinct()
    val merged = connectedComponentsStar(cnodes, contracted)
      .select(col("doc_id").as("lbl"), col("cluster").as("root"))
    val base = baseLabels
      .join(merged, baseLabels("cluster") === merged("lbl"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("cluster")).as("cluster"),
        lit("base").as("origin"))
    val batch = nodes.filter(col("doc_id") >= PlantedOffset)
      .join(merged, nodes("doc_id") === merged("lbl"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("doc_id")).as("cluster"),
        lit("batch").as("origin"))
    base.unionByName(batch)
  }

  private def q222OracleSql: String =
    s"""WITH RECURSIVE $q30Ctes,
        pairs AS ($q30SelectPairs),
        edges AS (SELECT doc_id_1 AS src, doc_id_2 AS dst FROM pairs
                  UNION ALL
                  SELECT doc_id_2 AS src, doc_id_1 AS dst FROM pairs),
        reach(doc_id, lab) AS (
          SELECT doc_id, doc_id FROM docs
          UNION
          SELECT e.src, r.lab FROM edges e JOIN reach r ON r.doc_id = e.dst)
        SELECT doc_id, min(lab) AS cluster,
          CASE WHEN doc_id < $PlantedOffset THEN 'base'
               ELSE 'batch' END AS origin
        FROM reach GROUP BY doc_id"""

  /** q87 — candidate VERIFICATION, the stage between LSH candidate
    * generation (q30) and cluster resolution (q63): compute the EXACT
    * distinct-shingle Jaccard of every candidate pair and keep pairs
    * with J ≥ 9/10. LSH banding admits false positives by design (a
    * single colliding band promotes the pair); production dedup verifies
    * before clustering, or unrelated documents get fused into one
    * cluster and wrongly dropped.
    *
    * Scale shape: shingle sets are re-exploded as (doc_id, hash) rows
    * and intersections come from candidate⋈shingle equi-joins — work is
    * O(candidates × shingles/doc), never all-pairs, and the threshold is
    * the exact rational 10·n_inter ≥ 9·n_union (no float Jaccard in
    * the differential). τ = 0.9 genuinely discriminates on this corpus —
    * the 4×4 banding admits collisions below it, so the verify stage
    * rejects a measurable tail (12 of 599 pairs at sf0.01) while keeping
    * the planted drop-last-word twins (J = (k-3)/(k-2) for k-word
    * docs). */
  def q87VerifyCandidates(s: SparkSession, dir: String): DataFrame = {
    val docs = plantedDocs(s, dir)
    // per-doc shingle SET rows (array_distinct upstream): verification is
    // an in-row array_intersect after joining each candidate to its two
    // set rows — no exploded two-sided join, no pair groupBy, and a
    // zero-overlap candidate scores n_inter = 0 directly (the exploded
    // form needed a left join + coalesce for those). Cached: both
    // verify sides read it (drivers clearCache between queries).
    val hs = docs
      .withColumn("sw_w", split(col("text"), " "))
      .filter(size(col("sw_w")) >= ShingleN)
      .select(col("doc_id"), expr(sparkShingleHashes).as("hsd"))
      .cache()
    val pairs = minhashCandidatePairs(docs)
    pairs
      .join(hs.select(col("doc_id").as("doc_id_1"), col("hsd").as("hsd1")),
        "doc_id_1")
      .join(hs.select(col("doc_id").as("doc_id_2"), col("hsd").as("hsd2")),
        "doc_id_2")
      .select(col("doc_id_1"), col("doc_id_2"),
        size(array_intersect(col("hsd1"), col("hsd2")))
          .cast("bigint").as("n_inter"),
        (size(col("hsd1")) + size(col("hsd2")) -
          size(array_intersect(col("hsd1"), col("hsd2"))))
          .cast("bigint").as("n_union"))
      .filter(col("n_inter") * 10 >= col("n_union") * 9)
  }

  private def q87OracleSql: String =
    s"""WITH ${lshCtes(plantedSql)},
        pairs AS ($q30SelectPairs),
        sh2 AS (SELECT doc_id, unnest(hsd) AS h FROM hs),
        cnt AS (SELECT doc_id, count(*) AS nsh FROM sh2 GROUP BY doc_id),
        inter AS (SELECT p.doc_id_1, p.doc_id_2, count(*) AS n_inter
                  FROM pairs p
                  JOIN sh2 a ON a.doc_id = p.doc_id_1
                  JOIN sh2 b ON b.doc_id = p.doc_id_2 AND b.h = a.h
                  GROUP BY 1, 2)
        SELECT p.doc_id_1, p.doc_id_2,
               CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
               CAST(c1.nsh + c2.nsh - COALESCE(i.n_inter, 0) AS BIGINT)
                 AS n_union
        FROM pairs p
        LEFT JOIN inter i USING (doc_id_1, doc_id_2)
        JOIN cnt c1 ON c1.doc_id = p.doc_id_1
        JOIN cnt c2 ON c2.doc_id = p.doc_id_2
        WHERE COALESCE(i.n_inter, 0) * 10
              >= (c1.nsh + c2.nsh - COALESCE(i.n_inter, 0)) * 9"""

  /** q338 — CAPTURE–RECAPTURE RESIDUAL-DUP ESTIMATE (the corpus-QA
    * number no single dedup run can produce: how many near-dup pairs
    * did detection MISS? Two independent candidate generators — q87's
    * MinHash-LSH banding and q71's SimHash multi-index — each feed the
    * SAME exact-Jaccard ≥ 9/10 verification, so both catch from one
    * well-defined population (true J ≥ 0.9 pairs) with independent
    * recall gaps, the mark-recapture precondition a raw-SimHash catch
    * would break (Hamming ≤ r admits thousands of sub-threshold pairs,
    * a different population). Chapman's estimator
    * N̂ = (n₁+1)(n₂+1)/(m+1) − 1 turns the overlap into a population
    * estimate; N̂ − |catch₁ ∪ catch₂| is the escaped-dup mass a dedup
    * deployment reports next to its catch count. Exact integer release:
    * n1, n2, m (the pair-set sizes and overlap) and the truncated-div
    * Chapman estimate — the spec scores N̂ against the PLANTED pair
    * count, the accuracy eval the differential can't see.
    *
    * Scale shape: eval-priced by design (q301 doctrine) — runs BOTH
    * candidate pipelines plus the shared verify joins; the recapture
    * join and the three counts are pair-keyed partial aggregates on
    * top. The two catchers violate strict independence where their
    * signal families correlate (both key on token content) — the
    * documented bias, toward over-estimating overlap and hence
    * UNDER-estimating N̂. */
  def q338CaptureRecapture(s: SparkSession, dir: String): DataFrame = {
    // shared verification side: per-doc shingle SET rows (q87's shape)
    val hs = plantedDocs(s, dir)
      .withColumn("sw_w", split(col("text"), " "))
      .filter(size(col("sw_w")) >= ShingleN)
      .select(col("doc_id"), expr(sparkShingleHashes).as("hsd"))
      .cache()
    def jaccardKept(pairs: DataFrame): DataFrame = pairs
      .join(hs.select(col("doc_id").as("doc_id_1"), col("hsd").as("hsd1")),
        "doc_id_1")
      .join(hs.select(col("doc_id").as("doc_id_2"), col("hsd").as("hsd2")),
        "doc_id_2")
      .filter(size(array_intersect(col("hsd1"), col("hsd2"))) * 10 >=
        (size(col("hsd1")) + size(col("hsd2")) -
          size(array_intersect(col("hsd1"), col("hsd2")))) * 9)
      .select("doc_id_1", "doc_id_2")
    // the two catch pipelines are INDEPENDENT: checkpoint them in
    // flight together (guide §2.6) instead of paying q87's wall, then
    // q71's — both consume the shared hs cache, whose racing first
    // fill is idempotent
    val Seq(a, b) = Par.checkpointAll(
      q87VerifyCandidates(s, dir).select("doc_id_1", "doc_id_2"),
      jaccardKept(q71SimhashHamming(s, dir)
        .select("doc_id_1", "doc_id_2")))
    val n1F = a.agg(count(lit(1)).as("n1"))
    val n2F = b.agg(count(lit(1)).as("n2"))
    val mF = a.join(b, Seq("doc_id_1", "doc_id_2"))
      .agg(count(lit(1)).as("m"))
    n1F.crossJoin(n2F).crossJoin(mF)
      .select(col("n1"), col("n2"), col("m"),
        expr("(n1 + 1) * (n2 + 1) div (m + 1) - 1").as("chapman_est"))
  }

  private def q338OracleSql: String =
    s"""WITH ${lshCtes(plantedSql)},
        sh2 AS (SELECT doc_id, unnest(hsd) AS h FROM hs),
        cnt AS (SELECT doc_id, count(*) AS nsh FROM sh2 GROUP BY doc_id),
        ca AS (SELECT doc_id_1, doc_id_2 FROM ($q87OracleSql) qa),
        cbraw AS (SELECT doc_id_1, doc_id_2 FROM ($q71OracleSql) qb),
        ib AS (SELECT p.doc_id_1, p.doc_id_2, count(*) AS n_inter
               FROM cbraw p
               JOIN sh2 a ON a.doc_id = p.doc_id_1
               JOIN sh2 b ON b.doc_id = p.doc_id_2 AND b.h = a.h
               GROUP BY 1, 2),
        cb AS (SELECT p.doc_id_1, p.doc_id_2 FROM cbraw p
               LEFT JOIN ib i USING (doc_id_1, doc_id_2)
               JOIN cnt c1 ON c1.doc_id = p.doc_id_1
               JOIN cnt c2 ON c2.doc_id = p.doc_id_2
               WHERE COALESCE(i.n_inter, 0) * 10
                     >= (c1.nsh + c2.nsh - COALESCE(i.n_inter, 0)) * 9),
        s1 AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM ca),
        s2 AS (SELECT CAST(count(*) AS BIGINT) AS n2 FROM cb),
        sm AS (SELECT CAST(count(*) AS BIGINT) AS m
          FROM ca JOIN cb USING (doc_id_1, doc_id_2))
        SELECT n1, n2, m,
          (n1 + 1) * (n2 + 1) // (m + 1) - 1 AS chapman_est
        FROM s1 CROSS JOIN s2 CROSS JOIN sm"""

  /** q70 — exact edit distance over the planted near-dup pairs:
    * levenshtein(original, perturbed) per pair. In a production pipeline
    * this is the VERIFY stage after LSH candidate generation (q30/q63
    * produce candidates; edit distance confirms) — never an all-pairs
    * computation, always within candidates, so the quadratic kernel runs
    * on O(candidates), not O(n²). */
  def q70EditDistance(s: SparkSession, dir: String): DataFrame =
    // the perturbed twin is a pure function of the original, so the
    // planted pair needs no join — one narrow pass per document (the
    // general candidate-verify form joins candidate ids back to texts).
    // The explicit repartition matters: scan splits track BYTES, and a
    // small corpus lands in one split — but the O(len²) kernel is
    // CPU-bound, so fan out before it (1.5 MB shuffle buys 32-way
    // parallelism; 4s -> <1s at sf0.1).
    t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        levenshtein(
          col("text"),
          expr("""array_join(slice(split(text, ' '), 1,
                    size(split(text, ' ')) - 1), ' ')"""))
          .cast("bigint").as("dist"))

  private def q70OracleSql: String =
    """SELECT doc_id,
       CAST(levenshtein(text,
         array_to_string(list_slice(string_split(text, ' '), 1,
           len(string_split(text, ' ')) - 1), ' ')) AS BIGINT) AS dist
       FROM documents"""

  /** Hamming-band geometry for q71: 4 disjoint 8-bit bands of the 32-bit
    * simhash, indexed by band TRIPLES (24-bit keys). Pigeonhole,
    * re-derived for triples: a radius-1 pair differs in at most one bit,
    * so at most ONE of the 4 bands is dirty, so at least one of the
    * C(4,3)=4 triples is made of clean bands only — the pair agrees
    * exactly on that triple's 24-bit key. Full recall at radius 1, like
    * the earlier 16-bit band-pair index, but each key carries 8 more
    * discriminating bits and there are 4 combos instead of 6: on this
    * signature-concentrated corpus the raw candidate volume drops
    * 17.7M -> 1.8M pairs at sf0.1 (10k docs). */
  val HammingRadius = 1
  val HammingBands = 4

  /** Hot-key document-frequency cap for q71's index — the q113 stop-
    * fingerprint discipline applied to hamming bands. A (tripleid,
    * key24) bucket of df docs yields df(df-1)/2 candidates; buckets
    * shared by thousands of near-identical boilerplate signatures
    * square and don't discriminate, and on a crawl they grow with the
    * corpus, making candidate volume quadratic in n. Dropping buckets
    * with df > cap bounds work at C(cap,2) per key, so TOTAL candidates
    * are <= 4n(cap-1)/2 — linear in corpus size, the property that
    * survives a 1000-executor 100 TB run.
    *
    * Declared recall bound (the full-recall pigeonhole is NOT silently
    * dropped — it becomes conditional): a radius-1 pair is recalled iff
    * at least one of its clean-band triples has df <= cap; pairs living
    * entirely inside boilerplate-hot signature cliques are intentionally
    * not enumerated pairwise (dedup pipelines resolve those via cluster
    * representatives, q63/q119, not pair lists). Measured on this
    * corpus: the cap never binds at sf0.001/sf0.01 (max df 74/62 —
    * recall stays total) and keeps 86% of planted drop-last-word twins
    * at sf0.1 while cutting candidates a further 4.3x (1.8M -> 412k). */
  val HammingDfCap = 128

  private val bandTriples: Seq[Seq[Int]] =
    (0 until HammingBands).combinations(3).toSeq

  /** Per-combo (tripleid, key24) expression, shared text for both
    * engines modulo div syntax. */
  private def tripleKeyExprs(divOp: String): Seq[(Int, String)] =
    bandTriples.zipWithIndex.map { case (bs, tid) =>
      (tid,
        bs.zipWithIndex.map { case (band, pos) =>
          s"((sh $divOp ${1L << (8 * band)}) % 256) * ${1L << (8 * pos)}"
        }.mkString(" + "))
    }

  /** q71 — SimHash near-dup SEARCH (completes q31, which only computes
    * signatures): candidate pairs via the banded multi-index, verified
    * by popcount of the XOR. One narrow pass computes signatures + band
    * keys; a window count on (tripleid, key24) drops boilerplate-hot
    * keys (df > [[HammingDfCap]] — see its scaladoc for the recall
    * contract); candidates come from a SELF-JOIN on the surviving
    * (triple, key) rows — a streaming shape that tolerates hot buckets
    * (rows flow as join output across tasks), unlike q30's in-bucket
    * collect_list pair-gen, which materializes a bucket's whole pair
    * set as one array row and is only safe when bucket size is provably
    * small. The window's hash partitioning is the join's partitioning,
    * so the cap costs no extra exchange on the join path. */
  // package-private pieces so tests can pin the index invariants
  // (per-key df <= cap; full recall where the cap doesn't bind)

  /** Banded (doc_id, sh, tripleid, key24) index rows, pre-cap. */
  private[graft] def q71BandedIndex(
      s: SparkSession, dir: String): DataFrame = {
    val comboArr = tripleKeyExprs("div")
      .map { case (tid, key) => s"struct($tid AS tripleid, $key AS key24)" }
      .mkString("array(", ", ", ")")
    plantedDocs(s, dir)
      .withColumn("ths",
        expr("shingle_hashes(split(text, ' '), 1)"))
      .select(col("doc_id"), expr("simhash32(ths)").as("sh"))
      .select(col("doc_id"), col("sh"),
        explode(expr(comboArr)).as("b"))
      .select(col("doc_id"), col("sh"), col("b.tripleid"), col("b.key24"))
  }

  /** The index q71 joins on: banded rows minus hot keys. */
  private[graft] def q71KeptIndex(
      s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("tripleid", "key24")
    q71BandedIndex(s, dir)
      .withColumn("kdf", count(lit(1)).over(w))
      .filter(col("kdf") <= HammingDfCap)
      .drop("kdf")
  }

  def q71SimhashHamming(s: SparkSession, dir: String): DataFrame = {
    val kept = q71KeptIndex(s, dir)
    val x = kept.as("x")
    val y = kept.as("y")
    x.join(y,
        col("x.tripleid") === col("y.tripleid") &&
          col("x.key24") === col("y.key24") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id_1"),
        col("y.doc_id").as("doc_id_2"),
        expr("bit_count(x.sh ^ y.sh)").cast("bigint").as("dist"))
      .filter(col("dist") <= HammingRadius)
      .distinct()
  }

  private def q71OracleSql: String = {
    val terms = (0 until SimhashBits).map { b =>
      val m = 1L << b
      s"(CASE WHEN list_sum(list_transform(ths, sa_h -> " +
        s"((sa_h // $m) % 2) * 2 - 1)) > 0 THEN $m ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH docs AS ($plantedSql),
        tok AS (SELECT doc_id,
                  list_transform(string_split(text, ' '),
                    tw -> ${duckCharFold("tw")}) AS ths
                FROM docs),
        sg AS (SELECT doc_id, CAST($terms AS BIGINT) AS sh FROM tok),
        bands AS (${tripleKeyExprs("//").map { case (tid, key) =>
          s"SELECT doc_id, sh, $tid AS tripleid, $key AS key24 FROM sg"
        }.mkString("\n UNION ALL\n ")}),
        kept AS (SELECT doc_id, sh, tripleid, key24 FROM bands
                 QUALIFY count(*) OVER (PARTITION BY tripleid, key24)
                   <= $HammingDfCap)
        SELECT DISTINCT x.doc_id AS doc_id_1, y.doc_id AS doc_id_2,
               CAST(bit_count(xor(x.sh, y.sh)) AS BIGINT) AS dist
        FROM kept x JOIN kept y
          ON x.tripleid = y.tripleid AND x.key24 = y.key24
             AND x.doc_id < y.doc_id
        WHERE bit_count(xor(x.sh, y.sh)) <= $HammingRadius"""
  }

  /** Connected components by alternating large-star / small-star
    * contractions (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", 2014) — the high-diameter-safe alternative to
    * [[connectedComponents]]'s min-label propagation. Propagation needs
    * diameter rounds (a million-node chain = a million rounds);
    * star contraction converges in O(log n) rounds on any topology,
    * because each round rewires nodes directly toward their component
    * minimum. Per round: two grouped aggregations + joins (large star
    * points every bigger neighbor at the neighborhood min; small star
    * does the same for smaller-or-equal neighbors), each ONE shuffle on
    * the node id. Convergence = edge set fixed; the result graph is a
    * star per component, read off as (doc_id, cluster). */
  def connectedComponentsStar(
      nodes: DataFrame, pairs: DataFrame): DataFrame = {
    val (edges, _) = starContractionEdges(pairs)
    // converged: every non-min node holds an edge to its component min
    val labels = edges
      .select(explode(expr(
        """array(struct(u AS doc_id, v AS other),
                 struct(v AS doc_id, u AS other))""")).as("e"))
      .select("e.*")
      .groupBy("doc_id")
      .agg(min("other").as("mo"))
      .select(col("doc_id"),
        least(col("doc_id"), col("mo")).as("cluster"))
    nodes.select("doc_id")
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
  }

  /** The contraction loop of [[connectedComponentsStar]], with the ROUND
    * COUNT exposed: the 30-round throw below is load-bearing (a
    * non-converging contraction would otherwise spin forever on a 100 TB
    * graph), so PropertySpec pins measured rounds ≤ log₂(n)+c on
    * adversarial topologies — long paths (diameter n, the propagation
    * killer), clique chains, stars. Returns (converged star edges,
    * rounds). */
  private[graft] def starContractionEdges(
      pairs: DataFrame): (DataFrame, Int) = {
    def canon(df: DataFrame): DataFrame = df
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

    def star(edges: DataFrame, large: Boolean): DataFrame = {
      val adj = edges
        .select(explode(expr(
          """array(struct(u AS a, v AS b), struct(v AS a, u AS b))"""))
          .as("e"))
        .select("e.*")
      // per-neighborhood min via ONE whole-partition window on the adj
      // shuffle instead of groupBy + join-back (which re-shuffled the
      // kept rows a second time): every adj row sees its a's min in
      // place, the filtered rewiring and the (a, m) self-edges both
      // read it, and canon's distinct absorbs the duplicates the
      // join-free form emits
      val w = Window.partitionBy("a")
      val withMin = adj.withColumn("m",
        least(col("a"), min("b").over(w)))
      val kept =
        if (large) withMin.filter(col("b") > col("a"))
        else withMin.filter(col("b") <= col("a"))
      canon(kept.select(col("b").as("u"), col("m").as("v"))
        .unionByName(withMin.select(col("a").as("u"), col("m").as("v"))))
    }

    // Checkpointed every round: each round references the last several
    // times, so a cached-only plan grows exponentially until planning
    // OOMs. canon() makes both sides distinct sets, so equal cardinality
    // + one-directional containment proves equality; the count rides the
    // checkpoint job and short-circuits the exceptAll job on every
    // non-final round
    val (edges, rounds, stable) = Iterate("cc",
        canon(pairs.select(col("doc_id_1").as("u"), col("doc_id_2").as("v"))),
        30) { (edges, _) =>
      star(star(edges, large = true), large = false)
    }(r => r.nextCount == r.prevCount && r.next.exceptAll(r.prev).isEmpty)
    if (!stable)
      throw new IllegalStateException(
        "connectedComponentsStar did not converge in 30 rounds — " +
          "star contraction is O(log n), so this indicates a bug, not " +
          "an unlucky graph")
    (edges, rounds)
  }

  /** q31 — 32-bit SimHash per document (word-level token hashes with
    * multiplicity; bit b set iff more tokens have bit b than not). A
    * document collapses to one int — near-dup = small hamming distance,
    * testable with a single groupBy at any scale. */
  def q31DedupSimhash(s: SparkSession, dir: String): DataFrame = {
    // native one-pass expression: 32 bit-counters in a single array scan
    // (the HOF form needs 32 separate aggregate() folds over the tokens)
    t(s, dir, "documents")
      .withColumn("ths",
        expr("shingle_hashes(split(text, ' '), 1)"))
      .select(col("doc_id"), expr("simhash32(ths)").as("simhash"))
  }

  private def q31OracleSql: String = {
    val terms = (0 until SimhashBits).map { b =>
      val m = 1L << b
      s"(CASE WHEN list_sum(list_transform(ths, sa_h -> " +
        s"((sa_h // $m) % 2) * 2 - 1)) > 0 THEN $m ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH tok AS (SELECT doc_id,
          list_transform(string_split(text, ' '),
            tw -> ${duckCharFold("tw")}) AS ths
        FROM documents)
        SELECT doc_id, CAST($terms AS BIGINT) AS simhash FROM tok"""
  }

  /** q32 — n-gram Jaccard vs probe document doc_id=0: distinct word
    * 3-grams, intersection/union sizes as exact ints. The probe side is a
    * broadcast; the corpus side is one aggregation — no all-pairs work. */
  def q32DedupNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val parts = (0 until ShingleN)
      .map(k => s"element_at(sw_w, sh_i + $k)").mkString(", ")
    val shingleStrings =
      s"array_distinct(transform(sequence(1, size(sw_w) - ${ShingleN - 1}), " +
        s"sh_i -> concat_ws(' ', $parts)))"
    // single corpus scan: the probe's shingle set (one document) is read
    // in a cheap second scan, broadcast, and intersection counts come from
    // one marker-join + one aggregation; n_probe falls out of the same
    // aggregate as the probe row's own shingle count
    val sh = t(s, dir, "documents")
      .withColumn("sw_w", split(col("text"), " "))
      .filter(size(col("sw_w")) >= ShingleN)
      .select(col("doc_id"), explode(expr(shingleStrings)).as("sh"))
    val probe = t(s, dir, "documents")
      .filter(col("doc_id") === 0L)
      .withColumn("sw_w", split(col("text"), " "))
      .filter(size(col("sw_w")) >= ShingleN)
      .select(explode(expr(shingleStrings)).as("psh"), lit(1).as("is_p"))
    val counts = sh
      .join(broadcast(probe), col("sh") === col("psh"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_sh"),
        sum(coalesce(col("is_p"), lit(0))).cast("bigint").as("n_inter"))
    counts
      .crossJoin(broadcast(
        probe.agg(count(lit(1)).cast("bigint").as("n_probe"))))
      .select(
        col("doc_id"), col("n_inter"),
        (col("n_sh") + col("n_probe") - col("n_inter")).as("n_union"))
  }

  private def q32OracleSql: String = {
    val parts = (0 until ShingleN)
      .map(k => s"sw_w[sh_i + $k]").mkString(", ")
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS sw_w
                   FROM documents
                   WHERE len(string_split(text, ' ')) >= $ShingleN),
        sh AS (SELECT DISTINCT doc_id, sh FROM (
          SELECT doc_id, unnest(list_transform(
            range(1, len(sw_w) - ${ShingleN - 2}),
            sh_i -> concat_ws(' ', $parts))) AS sh FROM w)),
        p AS (SELECT sh FROM sh WHERE doc_id = 0),
        i AS (SELECT s.doc_id, count(*) AS n_inter
              FROM sh s JOIN p USING (sh) GROUP BY s.doc_id),
        c AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
        SELECT c.doc_id,
               CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
               CAST(c.n_sh + (SELECT count(*) FROM p)
                    - COALESCE(i.n_inter, 0) AS BIGINT) AS n_union
        FROM c LEFT JOIN i ON c.doc_id = i.doc_id"""
  }

  // ----------------------------------------------------------- embeddings

  /** SRP sign-bucket expression over an `ed` array<double> column for
    * `numPlanes` hyperplanes (the corpus-size knob — see
    * LshGeometry.forCorpus), in either engine dialect. Bucket ids are
    * the packed sign bits; at the default plane count this generates
    * byte-identical expression text to what q33's oracle embeds. */
  def srpBucketExpr(numPlanes: Int, dialect: String): String = {
    val ps = planesFor(numPlanes)
    (0 until numPlanes).map { p =>
      val lit =
        if (dialect == "spark")
          ps(p).map(v => s"${v}D").mkString("array(", ", ", ")")
        else ps(p).map(_.toString).mkString("[", ", ", "]")
      val cmp =
        if (dialect == "spark") s"vec_dot(ed, $lit) >= 0D"
        else s"list_dot_product(ed, $lit) >= 0"
      s"(CASE WHEN $cmp THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
  }

  /** q33 — embedding-cosine near-dup pairs via sign-random-projection
    * bucketing: 4 fixed ±1 hyperplanes → 16 buckets; all-pairs cosine runs
    * only within a bucket. Returns (vec_id_1, vec_id_2) with cosine ≥ 0.3
    * (the corpus is i.i.d. random; real near-dups would use ≥ 0.9). */
  def q33DedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.vec_dot
    val bucketTerms = srpBucketExpr(NumPlanes, "spark")
    val e = t(s, dir, "embeddings")
      .withColumn("ed", col("embedding").cast("array<double>"))
      .withColumn("nrm", sqrt(vec_dot(col("ed"), col("ed"))))
      .withColumn("bucket", expr(bucketTerms))
      .select("vec_id", "ed", "nrm", "bucket")
    val x = e.as("x")
    val y = e.as("y")
    x.join(y,
        col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .withColumn("cos",
        vec_dot(col("x.ed"), col("y.ed")) / (col("x.nrm") * col("y.nrm")))
      .filter(col("cos") >= CosineTau)
      .select(col("x.vec_id").as("vec_id_1"), col("y.vec_id").as("vec_id_2"))
  }

  private def q33OracleSql: String = {
    val bucketTerms = srpBucketExpr(NumPlanes, "duck")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed
                   FROM embeddings),
        b AS (SELECT vec_id, ed,
                     sqrt(list_dot_product(ed, ed)) AS nrm,
                     $bucketTerms AS bucket FROM e)
        SELECT x.vec_id AS vec_id_1, y.vec_id AS vec_id_2
        FROM b x JOIN b y
          ON x.bucket = y.bucket AND x.vec_id < y.vec_id
        WHERE list_dot_product(x.ed, y.ed) / (x.nrm * y.nrm) >= $CosineTau"""
  }

  /** q119 — embedding-side duplicate-CLUSTER resolution: connected
    * components over the q33 SRP near-dup graph, every vector labeled
    * with its component's min vec_id — the embedding twin of q63 (text
    * LSH → CC). Semantic dedup pipelines need the transitive closure on
    * BOTH modalities: candidate pairs alone leave A~B, B~C as separate
    * decisions even though {A,B,C} must drop together. Runs on the
    * large-star/small-star engine, NOT min-label propagation: at τ=0.3
    * over i.i.d. vectors the SRP graph is a sparse web whose diameter
    * grows with corpus size (at sf0.1 it already exceeds propagation's
    * 20-round budget — the engine threw rather than mislabel, which is
    * the contract working), and star contraction's O(log n) rounds are
    * immune to diameter. Text LSH clusters (q79) stay on propagation
    * because drop-last-word twins form diameter-2 near-cliques.
    *
    * EVAL-ONLY (reference geometry; scale path: q501). This query
    * deliberately keeps q33's FIXED 4-plane/16-bucket SRP geometry —
    * the declared reference the eval stack (q139-style recall scoring,
    * q269's banding curves, q503's b-bit comparison) measures against
    * — so its within-bucket pair volume grows Θ(n²/16): the round-11
    * sf10 endurance run measured the cliff at 116.6 s. Production
    * clustering at scale is q501_adaptive_srp_clusters — the SAME
    * star-contraction clustering at corpus-adaptive plane count
    * (13.4 s at sf10, raw decade exponent 0.36). Run q119 on bounded
    * audit slices; run q501 on the corpus. */
  def q119EmbeddingClusters(s: SparkSession, dir: String): DataFrame =
    connectedComponentsStar(
      t(s, dir, "embeddings").select(col("vec_id").as("doc_id")),
      q33DedupEmbedding(s, dir)
        .select(col("vec_id_1").as("doc_id_1"),
          col("vec_id_2").as("doc_id_2")))
      .select(col("doc_id").as("vec_id"), col("cluster"))

  private def q119OracleSql: String = {
    val bucketTerms = srpBucketExpr(NumPlanes, "duck")
    s"""WITH RECURSIVE e AS (SELECT vec_id,
          CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
        b AS (SELECT vec_id, ed,
                     sqrt(list_dot_product(ed, ed)) AS nrm,
                     $bucketTerms AS bucket FROM e),
        pairs AS (SELECT x.vec_id AS v1, y.vec_id AS v2
          FROM b x JOIN b y
            ON x.bucket = y.bucket AND x.vec_id < y.vec_id
          WHERE list_dot_product(x.ed, y.ed) / (x.nrm * y.nrm)
                  >= $CosineTau),
        edges AS (SELECT v1 AS src, v2 AS dst FROM pairs
                  UNION ALL
                  SELECT v2 AS src, v1 AS dst FROM pairs),
        reach(vec_id, lab) AS (
          SELECT vec_id, vec_id FROM e
          UNION
          SELECT g.src, r.lab FROM edges g JOIN reach r ON r.vec_id = g.dst)
        SELECT vec_id, min(lab) AS cluster FROM reach GROUP BY vec_id"""
  }

  // ----------------------------------------------------------- q501

  /** q501's geometry ladder: P(n) = max(4, ⌈log₂(n/128)⌉) as a
    * generated integer CASE ladder over the corpus count — the
    * [[LshGeometry.forCorpus]] rule made DECLARABLE: the count is a
    * 1-row broadcast, the ladder is exact integer compares, and the
    * plane family is prefix-stable, so the inlined literal set stays
    * STATIC while the geometry adapts to the data. Caps at 14 planes
    * (2¹⁶·¼ buckets — holds the 128-vector bucket target through
    * n = 2⁽¹⁴⁾·128 ≈ 2M vectors ≈ sf1000; bound documented). */
  private[graft] val AdaptiveMaxPlanes = 14

  /** Generalized plane-count ladder: `lo` planes through `n_vecs <=
    * base`, one more per doubling, capped at [[AdaptiveMaxPlanes]].
    * q501 instantiates it at (base = 128·2⁴, lo = 4) — its original
    * inline form — and q191's label sub-cells at (base = 2000, lo = 0)
    * so the ladder contributes ZERO planes at every declared-
    * correctness corpus size. */
  private[graft] def srpPlaneLadder(base: Long, lo: Int): String =
    (lo to AdaptiveMaxPlanes).map(k =>
      s"WHEN n_vecs <= ${base * (1L << (k - lo))} THEN $k")
      .mkString("CASE ", " ", s" ELSE $AdaptiveMaxPlanes END")

  private def planeCountCase: String =
    srpPlaneLadder(TargetSrpBucket * (1L << 4), 4)

  /** Masked SRP bucket over the 14-plane prefix-stable family: bit p
    * participates iff p < n_planes. The mask is what keeps the shared
    * text static — both engines carry all 14 plane literals, the data
    * decides how many bits are live. */
  private[graft] def adaptiveBucketExpr(dialect: String): String = {
    val ps = planesFor(AdaptiveMaxPlanes)
    (0 until AdaptiveMaxPlanes).map { p =>
      val lit =
        if (dialect == "spark")
          ps(p).map(v => s"${v}D").mkString("array(", ", ", ")")
        else ps(p).map(_.toString).mkString("[", ", ", "]")
      val cmp =
        if (dialect == "spark") s"vec_dot(ed, $lit) >= 0D"
        else s"list_dot_product(ed, $lit) >= 0"
      s"(CASE WHEN $p < n_planes AND $cmp THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
  }

  /** q501 — ADAPTIVE-GEOMETRY EMBEDDING CLUSTERS (the at-scale path
    * for q33/q119, declared under the differential — the round-11
    * sf10 endurance run measured the cliff the fixed demo geometry
    * hides: q119's 16 buckets hold n²/16 in-bucket pairs, 6.1 s at
    * sf1 → 116 s at sf10 (raw exponent 1.28), because expected bucket
    * size n/2⁴ outgrows the 128-vector target 10× per decade. The fix
    * is the geometry rule the module always documented —
    * [[LshGeometry.forCorpus]], planes ∝ log₂ n — which this query
    * bakes into static shared SQL via the count ladder + masked
    * prefix-stable planes above, keeping expected bucket size ≤ 128
    * and candidate volume ≈ n·64 — LINEAR per decade at any SF).
    * Same pipeline as q119 downstream: in-bucket exact cosine ≥ τ,
    * then large-star/small-star connected components, every vector
    * labeled with its component minimum. Recall note: more planes ⇒
    * fewer cross-bucket collisions, so q501's pair set is a SUBSET of
    * q119's at big n — the standard SRP recall/volume dial, here set
    * to the documented production target rather than the 16-bucket
    * demo.
    *
    * Scale shape: one broadcast count, one linear bucket pass, an
    * equi-join whose per-key volume the ladder bounds by 128²/2, and
    * the O(log n)-round star CC — no stage is corpus². */
  def q501AdaptiveSrpClusters(s: SparkSession, dir: String)
      : DataFrame = {
    import graft.functions.VectorFunctions.vec_dot
    val base = t(s, dir, "embeddings")
      .withColumn("ed", col("embedding").cast("array<double>"))
      .withColumn("nrm", sqrt(vec_dot(col("ed"), col("ed"))))
    val geom = base.agg(count(lit(1)).as("n_vecs"))
      .withColumn("n_planes", expr(planeCountCase))
    val e = base.crossJoin(broadcast(geom))
      .withColumn("bucket", expr(adaptiveBucketExpr("spark")))
      .select("vec_id", "ed", "nrm", "bucket")
    val x = e.as("x")
    val y = e.as("y")
    val pairs = x.join(y,
        col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .withColumn("cos",
        vec_dot(col("x.ed"), col("y.ed")) / (col("x.nrm") * col("y.nrm")))
      .filter(col("cos") >= CosineTau)
      .select(col("x.vec_id").as("doc_id_1"),
        col("y.vec_id").as("doc_id_2"))
    connectedComponentsStar(
      t(s, dir, "embeddings").select(col("vec_id").as("doc_id")), pairs)
      .select(col("doc_id").as("vec_id"), col("cluster"))
  }

  private def q501OracleSql: String = {
    val bucketTerms = adaptiveBucketExpr("duck")
    s"""WITH RECURSIVE e AS (SELECT vec_id,
          CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
        geom AS (SELECT $planeCountCase AS n_planes
          FROM (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM e)),
        b AS (SELECT vec_id, ed,
                     sqrt(list_dot_product(ed, ed)) AS nrm,
                     $bucketTerms AS bucket FROM e, geom),
        pairs AS (SELECT x.vec_id AS v1, y.vec_id AS v2
          FROM b x JOIN b y
            ON x.bucket = y.bucket AND x.vec_id < y.vec_id
          WHERE list_dot_product(x.ed, y.ed) / (x.nrm * y.nrm)
                  >= $CosineTau),
        edges AS (SELECT v1 AS src, v2 AS dst FROM pairs
                  UNION ALL
                  SELECT v2 AS src, v1 AS dst FROM pairs),
        reach(vec_id, lab) AS (
          SELECT vec_id, vec_id FROM e
          UNION
          SELECT g.src, r.lab FROM edges g JOIN reach r ON r.vec_id = g.dst)
        SELECT vec_id, min(lab) AS cluster FROM reach GROUP BY vec_id"""
  }

  // ----------------------------------------------------------- q101

  /** q101 — EXACT set-similarity self-join via prefix filtering (the
    * PPJoin family): ALL pairs with shingle-set Jaccard ≥ 9/10, no LSH
    * false negatives. The filter that makes exactness affordable: order
    * every set by global element frequency (rarest first, ties on the
    * element value — one total order on both engines), keep each set's
    * first `len - ceil(9·len/10) + 1` elements, and generate candidates
    * only from PREFIX∩PREFIX — the classic completeness guarantee says
    * any pair at or above the threshold must collide there. Candidate
    * volume is bounded by the df of RARE elements (that's why the order
    * matters: prefixes hold each set's least-common elements) and then
    * cut further by PPJoin's LENGTH filter (min·10 ≥ max·9) and
    * POSITIONAL filter (overlap ceiling from the first collision's
    * positions), both applied in-flight before the pair shuffle and
    * re-checked at the pair's position minima — the round-9 audit
    * measured the stack cutting surviving candidates 190,266 → 16,214
    * at sf0.1 (candidates-per-output 32 → 2.8) on this generator's
    * adversarially-dense fixed vocabulary. Exact
    * verification then reuses the q87 intersection join. At 100 TB this
    * is the shape exact τ-joins take: prefix-df-bounded, filter-pruned
    * candidates instead of O(n²) pairs, every stage an equi-join.
    *
    * Versus q30 (MinHash LSH, probabilistic recall) and q87 (exact
    * verify of LSH candidates): q101 is the ground-truth join — its
    * result provably contains every pair q87 admits (DedupSpec pins
    * that recall relation).
    *
    * RE-SCOPED (round 12) to AUDIT-STRATUM SCREENING — the q110→q301
    * precedent applied to the symmetric Jaccard axis: emitted pairs
    * are those TOUCHING the audit stratum (at least one endpoint with
    * doc_id % [[PlantedOffset]] < [[SetSimAuditCap]] — the first 5000
    * BASE documents plus their planted twins), while the other
    * endpoint ranges over the FULL corpus: "which audit docs have an
    * exact 0.9-Jaccard near-duplicate ANYWHERE". Why: the sf10
    * endurance run (round 11, SCALING.md) measured the UNCAPPED exact
    * PPJoin to its spill-OOM wall — on this generator's saturating
    * fixed-30-word stress vocabulary every token's df grows ∝ n, so
    * even rarest-prefix candidate volume is Θ(n²/|V|); no filter
    * stack makes an exact all-pairs τ-join subquadratic there. With
    * the constant-size stratum on one join side, candidate volume is
    * Σ_h df_stratum(h)·df_full(h) — linear in corpus size. The cap
    * covers every document at sf ≤ 0.1 (5000 base docs), so results
    * there — including the whole correctness differential — are
    * IDENTICAL to the full join; the uncapped exact join remains the
    * [[setSimJoinExact]] library API (auditPred = None, PropertySpec
    * still exercises it; q318's sweep adopted the same stratum in
    * round 12 after its sf10 disk-spill wall), and the linear
    * production-path alternative for corpus-wide dedup is q30+q87. */
  def q101SetSimJoin(s: SparkSession, dir: String): DataFrame = {
    // one SET row per doc (shingles are array_distinct'd): the exploded
    // form exists only transiently for the edf census and the prefix
    // rank; verification is an in-row set intersect against this frame,
    // so the per-shingle rows never feed a pair join. Cached: hs feeds
    // the explode AND both verify sides (drivers clearCache between
    // queries, so nothing stays pinned).
    val hs = plantedDocs(s, dir)
      .withColumn("sw_w", split(col("text"), " "))
      .filter(size(col("sw_w")) >= ShingleN)
      .select(col("doc_id"), expr(sparkShingleHashes).as("hsd"))
      .cache()
    setSimJoinExact(hs, 9, 10,
      Some(col("doc_id") % PlantedOffset < SetSimAuditCap))
  }

  /** q101's audit-stratum bound: a pair is emitted iff at least one
    * endpoint satisfies doc_id % [[PlantedOffset]] < this. 5000 covers
    * every base document at sf ≤ 0.1 (the differential there runs the
    * identical full join) and pins one side of the candidate join to a
    * CONSTANT ≤ 10000-doc slice above it — the structural change that
    * turns the declared exact join linear in corpus size. */
  val SetSimAuditCap = 5000L

  /** Library API: EXACT set-similarity self-join at ANY rational
    * threshold τ = p/q over a per-doc SET frame (doc_id, hsd) — the
    * τ-parameterized core of q101 (which runs it at 9/10 over the
    * planted shingle sets). All filter arithmetic generalizes with τ:
    * prefix length len − ⌈τ·len⌉ + 1, length filter min·q ≥ max·p,
    * positional requirement overlap·(p+q) ≥ p·(c1+c2) (from
    * inter·q ≥ p·union with union = c1+c2−inter). PropertySpec pins
    * the whole stack against a brute-force model across thresholds —
    * the executable form of the completeness argument below.
    *
    * `auditPred`: optional doc_id predicate — when set, only pairs
    * with AT LEAST ONE endpoint satisfying it are emitted (the other
    * endpoint ranges over the full frame), and candidates are
    * generated from stratum-prefix × full-prefix collisions only.
    * Completeness: for a qualifying pair (a, b) with a in the stratum,
    * the globally-first common token t* is inside BOTH prefixes (the
    * symmetric prefix theorem), so the stratum×full orientation always
    * sees its collision. Each qualifying unordered pair is generated
    * in exactly ONE orientation — both-in-stratum pairs only as
    * (smaller, larger), stratum×outside pairs only with the stratum
    * doc on the prefix-capped side — then normalized to
    * (least, greatest) with the position coordinates swapped in step,
    * so the pair-level positional re-check still evaluates at t*'s
    * minima. With a constant-size stratum, candidate volume is
    * Σ_h df_stratum(h)·df_full(h) — LINEAR in corpus size; with
    * auditPred = None the plan is the classic symmetric PPJoin
    * (quadratic in the worst case, the measured sf10 wall). */
  def setSimJoinExact(hs: DataFrame, p: Int, q: Int,
      auditPred: Option[org.apache.spark.sql.Column] = None)
      : DataFrame =
    setSimJoinOnRanked(hs, setSimRankedTokens(hs), p, q, auditPred)

  /** The THRESHOLD-INDEPENDENT part of [[setSimJoinExact]]: per-doc
    * exploded token rows with set size and the global-frequency-order
    * rank rn. Factored out (round 12, guide §2.4) so q318's
    * three-threshold sweep materializes this windowed census ONCE
    * instead of re-deriving it per threshold — each threshold only
    * re-filters the prefix bound. */
  def setSimRankedTokens(hs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("edf"), col("h"))
    // len = size(hsd) travels with each exploded row — no census
    // aggregate, no count window, no counts join anywhere
    val sh = hs.select(col("doc_id"), size(col("hsd")).as("len"),
      explode(col("hsd")).as("h"))
    val edf = sh.groupBy("h").agg(count(lit(1)).as("edf"))
    sh.join(edf, "h").withColumn("rn", row_number().over(w))
  }

  /** [[setSimJoinExact]] over a prebuilt [[setSimRankedTokens]]
    * frame (`hs` is still needed for the exact array-intersect verify
    * stage). */
  def setSimJoinOnRanked(hs: DataFrame, ranked: DataFrame, p: Int, q: Int,
      auditPred: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    require(p > 0 && q > 0 && p <= q, s"threshold $p/$q not in (0,1]")
    val prefix = ranked
      // prefix length = len - ceil(p·len/q) + 1, all-integer ceil
      .filter(col("rn") <=
        col("len") - expr(s"($p * len + ${q - 1}) div $q") + 1)
      .select(col("doc_id"), col("h"), col("len"), col("rn"),
        auditPred.getOrElse(lit(true)).as("aud"))
      .cache()
    // PPJoin companion LENGTH filter: J(a,b) ≤ min/max, so τ=9/10 needs
    // min(len)·10 ≥ max(len)·9 — prunes length-incompatible collisions
    // IN-FLIGHT (inside the join's codegen stage, before the pair
    // shuffle; len already rides the prefix at zero cost).
    //
    // Orientation discipline: side A is the (possibly stratum-capped)
    // prefix frame, side B the full prefix frame. Each qualifying
    // unordered pair is generated in exactly ONE orientation —
    // da < db when both endpoints are in the stratum (or always, with
    // no cap), and the stratum-side-as-A orientation when only one is
    // — then normalized to (least, greatest) with positions swapped in
    // step, so downstream arithmetic is orientation-free.
    val sideA = prefix.filter(col("aud"))
      .select(col("doc_id").as("da"), col("h"),
        col("len").as("ca"), col("rn").as("ra"))
    val sideB = prefix
      .select(col("doc_id").as("db"), col("h"),
        col("len").as("cb"), col("rn").as("rb"), col("aud").as("audb"))
    val orient =
      if (auditPred.isEmpty) col("da") < col("db")
      else col("da") =!= col("db") &&
        (col("da") < col("db") || !col("audb"))
    val coll = sideA
      .join(sideB, "h")
      .filter(orient &&
        least(col("ca"), col("cb")) * q >=
          greatest(col("ca"), col("cb")) * p &&
        // PPJoin POSITIONAL filter, in-flight per collision: a token
        // colliding at positions (ra, rb) caps the overlap a pair built
        // FROM THIS COLLISION can still reach at 1 + min(ca−ra, cb−rb)
        // (everything else must follow it in both orders). Dropping
        // collisions below the Jaccard-9/10 requirement overlap·19 ≥
        // 9·(ca+cb) is COMPLETE because the pair's globally-first
        // common token t* — minimal in both docs under the one global
        // frequency order, and inside both prefixes by the prefix
        // theorem (were it outside a's prefix, every common token would
        // sit past the prefix and the guaranteed prefix collision could
        // not exist) — always passes for a truly-similar pair. Pruning
        // HERE, inside the join's codegen stage, shrinks the pair
        // shuffle itself, not just the verify input.
        (lit(1) + least(col("ca") - col("ra"), col("cb") - col("rb")))
          * (p + q) >= (col("ca") + col("cb")) * p)
      .select(
        least(col("da"), col("db")).as("doc_id_1"),
        greatest(col("da"), col("db")).as("doc_id_2"),
        when(col("da") < col("db"), col("ca")).otherwise(col("cb"))
          .as("c1"),
        when(col("da") < col("db"), col("cb")).otherwise(col("ca"))
          .as("c2"),
        when(col("da") < col("db"), col("ra")).otherwise(col("rb"))
          .as("r1"),
        when(col("da") < col("db"), col("rb")).otherwise(col("ra"))
          .as("r2"))
    // Pair-level positional re-check at (min r1, min r2): for any
    // surviving similar pair those minima are attained at t* (t* is
    // minimal in both coordinates among surviving collisions), so the
    // bound at the minima is still complete — and strictly tighter than
    // "some collision passed" for dissimilar pairs. The groupBy replaces
    // the old DISTINCT: same single pair-keyed shuffle, now carrying two
    // position minima. Suffix filtering, the remaining PPJoin+ stage, is
    // subsumed by this plan's in-row verify: its purpose is to cheapen
    // per-candidate verification, but verification here is one
    // vectorized array_intersect on arrays the verify join must fetch
    // anyway, so the candidate-volume levers are exactly
    // prefix + length + positional.
    val cand = coll
      .groupBy("doc_id_1", "doc_id_2")
      .agg(min("r1").as("r1"), min("r2").as("r2"),
        first(col("c1")).as("c1"), first(col("c2")).as("c2"))
      .filter((lit(1) + least(col("c1") - col("r1"),
        col("c2") - col("r2"))) * (p + q) >= (col("c1") + col("c2")) * p)
      .select("doc_id_1", "doc_id_2")
    // exact verify IN-ROW: candidates (already bounded by prefix df)
    // join the per-doc set frame twice — tiny side broadcastable by AQE
    // — and the Jaccard check is array_intersect arithmetic, replacing
    // the exploded two-sided join + pair groupBy (5 fewer shuffles)
    cand
      .join(hs.select(col("doc_id").as("doc_id_1"), col("hsd").as("hsd1")),
        "doc_id_1")
      .join(hs.select(col("doc_id").as("doc_id_2"), col("hsd").as("hsd2")),
        "doc_id_2")
      .select(col("doc_id_1"), col("doc_id_2"),
        size(array_intersect(col("hsd1"), col("hsd2")))
          .cast("bigint").as("n_inter"),
        (size(col("hsd1")) + size(col("hsd2")) -
          size(array_intersect(col("hsd1"), col("hsd2"))))
          .cast("bigint").as("n_union"))
      .filter(col("n_inter") * q >= col("n_union") * p)
  }

  /** τ-parameterized DuckDB oracle for the exact set-similarity join:
    * sound prefix-filter candidate generation (the ⌈τ·len⌉ arithmetic
    * generalized like [[setSimJoinExact]]'s) + exact verification at
    * p/q. q101's oracle is the 9/10 instance WITH the audit-stratum
    * cap (candidates from stratum-prefix × full-prefix, normalized to
    * least/greatest — mirroring the re-scoped semantics at every SF);
    * q318's sweep nests the uncapped form at several thresholds. */
  private def setSimOracleSqlAt(p: Int, q: Int,
      cap: Option[Long] = None): String = {
    val (aPred, joinPred) = cap match {
      case Some(c) => (s"\n            AND doc_id % $PlantedOffset < $c",
        "a.doc_id <> b.doc_id")
      case None => ("", "a.doc_id < b.doc_id")
    }
    s"""WITH ${lshCtes(plantedSql)},
        sh2 AS (SELECT doc_id, unnest(hsd) AS h FROM hs),
        cnt AS (SELECT doc_id, count(*) AS len FROM sh2 GROUP BY doc_id),
        edf AS (SELECT h, count(*) AS edf FROM sh2 GROUP BY h),
        ranked AS (SELECT s.doc_id, s.h, c.len,
            row_number() OVER (PARTITION BY s.doc_id
              ORDER BY e.edf, s.h) AS rn
          FROM sh2 s JOIN edf e ON s.h = e.h
          JOIN cnt c ON s.doc_id = c.doc_id),
        prefix AS (SELECT doc_id, h FROM ranked
          WHERE rn <= len - (($p * len + ${q - 1}) // $q) + 1),
        prefix_a AS (SELECT doc_id, h FROM prefix
          WHERE TRUE$aPred),
        cand AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_id_1,
            greatest(a.doc_id, b.doc_id) AS doc_id_2
          FROM prefix_a a JOIN prefix b
            ON a.h = b.h AND $joinPred),
        inter AS (SELECT p.doc_id_1, p.doc_id_2, count(*) AS n_inter
          FROM cand p
          JOIN sh2 a ON a.doc_id = p.doc_id_1
          JOIN sh2 b ON b.doc_id = p.doc_id_2 AND b.h = a.h
          GROUP BY 1, 2)
        SELECT i.doc_id_1, i.doc_id_2,
               CAST(i.n_inter AS BIGINT) AS n_inter,
               CAST(c1.len + c2.len - i.n_inter AS BIGINT) AS n_union
        FROM inter i
        JOIN cnt c1 ON c1.doc_id = i.doc_id_1
        JOIN cnt c2 ON c2.doc_id = i.doc_id_2
        WHERE i.n_inter * $q >= (c1.len + c2.len - i.n_inter) * $p"""
  }

  private def q101OracleSql: String =
    setSimOracleSqlAt(9, 10, Some(SetSimAuditCap))

  // ----------------------------------------------------------- q110

  /** q110 — directed set-CONTAINMENT join: every ordered pair (a, b),
    * a ≠ b, with |Sa ∩ Sb| ≥ 9/10 · |Sa| — "a is (mostly) contained in
    * b". The asymmetric complement of q101's Jaccard join: a boilerplate
    * block or quoted excerpt buried inside a much larger document scores
    * near-zero Jaccard (union is dominated by the big doc) but
    * containment ≈ 1 for the small side, so this is the operator
    * training-data pipelines use for near-superset/excerpt detection
    * where symmetric similarity is blind.
    *
    * One-sided prefix guarantee: in ANY fixed global element order, if
    * at most |Sa| − ⌈0.9·|Sa|⌉ elements of Sa miss Sb, then at least one
    * of Sa's first |Sa| − ⌈0.9·|Sa|⌉ + 1 elements hits Sb — so
    * candidates are generated from a-PREFIX × b-FULL collisions only
    * (frequency order makes those prefixes the rarest elements, keeping
    * collision df minimal). Verification is the same in-row
    * array_intersect against the cached per-doc set frame as q101.
    *
    * RE-SCOPED (round 10) to AUDIT-STRATUM SCREENING: the contained
    * side is capped to the audit stratum — base docs with doc_id <
    * [[ContainmentAuditCap]] AND their planted excerpt twins
    * (doc_id % [[PlantedOffset]] < cap, a constant ≤ 2·cap slice) —
    * while the probed side stays the FULL corpus: "which docs of this
    * bounded audit slice appear (≥ 9/10-contained) anywhere in the
    * corpus", the q84-decontamination shape on the containment axis.
    * (The first cut of this re-scope capped RAW doc_id, which silently
    * evicted every planted excerpt — ids live at base + 100000 — and
    * broke the planted-recall spec; the modular form keeps the demo
    * corpus in-stratum at the same constant size.) Why: sf1
    * measurement showed UNCAPPED exact containment is structurally
    * quadratic on a saturating-vocabulary corpus (every token's df
    * grows ∝ n; 172 s at sf1 in round 9, still 94 s after the round-10
    * length-class partitioning cut the constant ~2×) — no filter
    * stack can make an exact all-stratum join subquadratic there. The
    * production path for corpus-wide containment is q301's linear
    * fingerprint triage (recall-scored against THIS query as truth);
    * the uncapped exact join remains available as the
    * [[containmentJoinExact]] library API (containedPred = None). The
    * cap is inactive below 2000 BASE docs (all of sf0.01), so the
    * correctness differential exercises the identical full join.
    *
    * Scale shape: candidate volume is Σ over the capped side's
    * prefixes of length-class-bounded df — linear in corpus size for
    * the fixed cap; every stage an equi-join. */
  def q110ContainmentJoin(s: SparkSession, dir: String): DataFrame = {
    val hs = plantedDocs(s, dir)
      .withColumn("sw_w", split(col("text"), " "))
      .filter(size(col("sw_w")) >= ShingleN)
      .select(col("doc_id"), expr(sparkShingleHashes).as("hsd"))
      .cache()
    containmentJoinExact(hs, 9, 10,
      Some(col("doc_id") % PlantedOffset < ContainmentAuditCap))
  }

  /** q110's audit-stratum bound: contained-side docs satisfy
    * doc_id % [[PlantedOffset]] < this — the first 2000 BASE documents
    * plus their planted excerpt twins. 2000 covers every base document
    * at sf ≤ 0.04 (the differential runs the full exact join there)
    * and pins the contained side to a CONSTANT ≤ 4000-doc slice above
    * it, which is what turns the declared query linear in corpus
    * size. */
  val ContainmentAuditCap = 2000L

  /** Library API: EXACT directed set-containment self-join at ANY
    * rational threshold τ = p/q over a per-doc SET frame (doc_id, hsd)
    * — q110's τ-parameterized core (q110 runs it at 9/10). Emits every
    * ordered pair (a, b), a ≠ b, with |Sa ∩ Sb|·q ≥ p·|Sa|. Filter
    * arithmetic generalizes like [[setSimJoinExact]]'s; PropertySpec
    * pins the stack against a brute-force model across thresholds.
    *
    * `containedPred`: optional doc_id predicate on the CONTAINED side
    * — only docs satisfying it are eligible as `a` (the probed side
    * stays the full frame, so the answer is "which audit docs are
    * contained ANYWHERE in the corpus"). With a constant-size stratum,
    * join volume is Σ over the capped side's prefixes of class-bounded
    * df — linear in corpus size; without it, exact containment on a
    * saturating-vocabulary corpus is structurally quadratic (every
    * token's df grows ∝ n, so even rarest-prefix collisions do too).
    * The returned pairs are exactly the unfiltered result restricted
    * to doc_id_1 satisfying the predicate (pinned in DedupSpec). */
  def containmentJoinExact(hs: DataFrame, p: Int, q: Int,
      containedPred: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    require(p > 0 && q > 0 && p <= q, s"threshold $p/$q not in (0,1]")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("edf"), col("h"))
    val sh = hs.select(col("doc_id"), size(col("hsd")).as("len"),
      explode(col("hsd")).as("h"))
    val edf = sh.groupBy("h").agg(count(lit(1)).as("edf"))
    // the probe side joins the RANKED frame (position rn within b's
    // full frequency order rides every row), cached once for both sides
    val ranked = sh.join(edf, "h")
      .withColumn("rn", row_number().over(w))
      .select("doc_id", "h", "len", "rn")
      .cache()
    val prefix = ranked
      .filter(col("rn") <=
        col("len") - expr(s"($p * len + ${q - 1}) div $q") + 1)
      .filter(containedPred.getOrElse(lit(true)))
    // PEL index-prefix bound on the PROBED side: for any valid pair the
    // globally-first common token t* sits within b's first
    // c2 − ⌈0.9·c1⌉ + 1 positions (all ≥ ⌈0.9·c1⌉ common tokens follow
    // it in b's order), and c1 is at least the corpus-wide minimum set
    // size — so b rows past position len − ⌈0.9·Lmin⌉ + 1 can never
    // carry a pair's first collision and are dropped BEFORE the join.
    // This is the lever that cuts the join's INPUT volume (Σ df
    // products), not just the survivors: the per-pair positional filter
    // below subsumes it logically but runs after the collision exists.
    //
    // LENGTH-CLASS PARTITIONING (the round-10 fix for the measured
    // sf1 quadratic): a single corpus-wide Lmin bound is only as tight
    // as the SHORTEST contained doc — on a corpus whose min set size
    // is small, the probed side keeps nearly its full frequency order
    // and the one-sided join degenerates toward b-full × a-prefix.
    // Partitioning the CONTAINED side into geometric length classes
    // [L·2ᵏ, L·2ᵏ⁺¹) fixes this structurally: a pair (a, b) is joined
    // only inside a's class k, where the probed side's PEL bound
    // tightens from c2 − ⌈τ·Lmin⌉ + 1 to c2 − ⌈τ·L·2ᵏ⌉ + 1 — within a
    // factor 2 of the per-pair optimum c2 − ⌈τ·c1⌉ + 1. Completeness
    // per class: c1 ≥ L_k for every a in class k, so the globally-first
    // common token of a true pair still sits inside the class-k probe
    // bound (the same first-collision argument, with L_k in place of
    // Lmin). The probed side is replicated once per VIABLE class (rows
    // emitted only where the class bound admits them), so total probe
    // volume is Σₖ (class-k prefix lengths) — geometrically shrinking
    // in k — instead of |classes|·full frames. The class boundaries
    // are O(log(Lmax/Lmin)) integers from ONE planning pre-job over
    // the cached doc frame (the CBO-statistic pattern: a scalar
    // crossJoin(broadcast) would plan as a nested-loop join and trip
    // the suite's no-BNLJ plan assertion) — the pre-job also warms the
    // hs cache both join sides reuse.
    // class bounds come from the CONTAINED side (they bound c1 only) —
    // under a cap that's the capped frame, giving tighter classes
    val containedHs = containedPred
      .map(pr => hs.filter(pr)).getOrElse(hs)
    val lrow = containedHs
      .agg(min(size(col("hsd"))), max(size(col("hsd")))).head()
    // lmin clamps to 1: an empty-set doc can never be τ-contained
    // anyway (0 ≥ τ·0 is vacuous and filtered by a ≠ b semantics),
    // and class arithmetic needs a positive base; a fully-empty
    // contained side degenerates to one vacuous class (prefix frame is
    // already empty, the join just returns no rows)
    val (lmin, lmax) =
      if (lrow.isNullAt(0)) (1, 1)
      else (math.max(lrow.getInt(0), 1), math.max(lrow.getInt(1), 1))
    val kMax = // classes 0..kMax with L_k = lmin·2ᵏ, L_kMax ≤ lmax
      if (lmax <= lmin) 0
      else (31 - Integer.numberOfLeadingZeros(lmax / lmin))
    // class of a contained doc: largest k with lmin·2ᵏ ≤ len — an
    // integer CASE chain over ≤ ~32 boundaries, no float log2
    val clsCase = (kMax to 1 by -1)
      .map(k => s"WHEN len >= ${lmin.toLong << k} THEN $k")
      .mkString("CASE ", " ", " ELSE 0 END")
    // per-class probe bound m_k = ⌈p·L_k/q⌉; a probed row at position
    // rn survives class k iff rn ≤ len − m_k + 1
    val boundsArr = (0 to kMax)
      .map { k =>
        val m = (p * (lmin.toLong << k) + q - 1) / q
        s"named_struct('k', $k, 'm', ${m}L)"
      }
      .mkString("array(", ", ", ")")
    val probeB = ranked
      .select(col("doc_id"), col("h"), col("len"), col("rn"),
        expr(s"filter($boundsArr, s -> rn <= len - s.m + 1)").as("ks"))
      .select(col("doc_id"), col("h"), col("len"), col("rn"),
        explode(col("ks")).as("kb"))
      .select(col("doc_id"), col("h"), col("len"), col("rn"),
        col("kb.k").as("cls"))
    // q101's filter stack, one-sided (a-prefix × b-full collisions):
    // LENGTH — overlap ≤ |Sb|, so containment 10·overlap ≥ 9·|Sa| needs
    // 10·c2 ≥ 9·c1; POSITIONAL — a collision at (r1, r2) caps overlap at
    // 1 + min(c1−r1, c2−r2); both applied IN-FLIGHT inside the join's
    // codegen stage (shrinking the pair shuffle), then re-checked at the
    // pair's position minima after the groupBy. Completeness mirrors
    // q101: the globally-first common token t* is inside a's prefix (the
    // one-sided prefix theorem) and minimal in both docs' orders, so a
    // truly-containing pair always survives both applications.
    val coll = prefix
      .select(col("doc_id").as("doc_id_1"), col("h"),
        col("len").as("c1"), col("rn").as("r1"),
        expr(clsCase).as("cls"))
      .join(probeB.select(col("doc_id").as("doc_id_2"), col("h"),
        col("len").as("c2"), col("rn").as("r2"), col("cls")),
        Seq("h", "cls"))
      .filter(col("doc_id_1") =!= col("doc_id_2") &&
        col("c2") * q >= col("c1") * p &&
        (lit(1) + least(col("c1") - col("r1"), col("c2") - col("r2")))
          * q >= col("c1") * p)
    val cand = coll
      .groupBy("doc_id_1", "doc_id_2")
      .agg(min("r1").as("r1"), min("r2").as("r2"),
        first(col("c1")).as("c1"), first(col("c2")).as("c2"))
      .filter((lit(1) + least(col("c1") - col("r1"),
        col("c2") - col("r2"))) * q >= col("c1") * p)
      .select("doc_id_1", "doc_id_2")
    cand
      .join(hs.select(col("doc_id").as("doc_id_1"), col("hsd").as("hsd1")),
        "doc_id_1")
      .join(hs.select(col("doc_id").as("doc_id_2"), col("hsd").as("hsd2")),
        "doc_id_2")
      .select(col("doc_id_1"), col("doc_id_2"),
        size(array_intersect(col("hsd1"), col("hsd2")))
          .cast("bigint").as("n_inter"),
        size(col("hsd1")).cast("bigint").as("n_1"))
      .filter(col("n_inter") * q >= col("n_1") * p)
  }

  private def q110OracleSql: String =
    s"""WITH ${lshCtes(plantedSql)},
        sh2 AS (SELECT doc_id, unnest(hsd) AS h FROM hs),
        cnt AS (SELECT doc_id, count(*) AS len FROM sh2 GROUP BY doc_id),
        edf AS (SELECT h, count(*) AS edf FROM sh2 GROUP BY h),
        ranked AS (SELECT s.doc_id, s.h, c.len,
            row_number() OVER (PARTITION BY s.doc_id
              ORDER BY e.edf, s.h) AS rn
          FROM sh2 s JOIN edf e ON s.h = e.h
          JOIN cnt c ON s.doc_id = c.doc_id),
        prefix AS (SELECT doc_id, h FROM ranked
          WHERE rn <= len - ((9 * len + 9) // 10) + 1
            AND doc_id % $PlantedOffset < $ContainmentAuditCap),
        cand AS (SELECT DISTINCT a.doc_id AS doc_id_1,
            b.doc_id AS doc_id_2
          FROM prefix a JOIN sh2 b
            ON a.h = b.h AND a.doc_id <> b.doc_id),
        inter AS (SELECT p.doc_id_1, p.doc_id_2, count(*) AS n_inter
          FROM cand p
          JOIN sh2 a ON a.doc_id = p.doc_id_1
          JOIN sh2 b ON b.doc_id = p.doc_id_2 AND b.h = a.h
          GROUP BY 1, 2)
        SELECT i.doc_id_1, i.doc_id_2,
               CAST(i.n_inter AS BIGINT) AS n_inter,
               CAST(c1.len AS BIGINT) AS n_1
        FROM inter i
        JOIN cnt c1 ON c1.doc_id = i.doc_id_1
        WHERE i.n_inter * 10 >= c1.len * 9"""

  // ---------------------------------------------------------------- q124

  /** q124 — cross-source DUPLICATION MATRIX: the q30 near-dup candidate
    * pairs rolled up to (source, source) counts — the curation-level
    * analytics a pipeline team reads before dropping or down-weighting a
    * whole source (mirror sites, scraped re-posts, syndicated feeds show
    * up as hot off-diagonal cells; a source's self-cell is its internal
    * redundancy). Planted docs inherit their base document's source
    * (doc_id − offset), so the matrix is exercised on this corpus.
    * Scale shape: pair list → two doc_id-keyed joins against the
    * (doc_id, source) projection (co-partitionable at scale, no
    * broadcast of the corpus) → one O(sources²)-output aggregate;
    * cells are canonicalized with least/greatest so the matrix is
    * upper-triangular regardless of pair order. */
  def q124SourceDupMatrix(s: SparkSession, dir: String): DataFrame = {
    val srcs = t(s, dir, "documents").select(col("doc_id"), col("source"))
    def base(c: String) = expr(
      s"CASE WHEN $c >= $PlantedOffset THEN $c - $PlantedOffset ELSE $c END")
    q30DedupMinhashLsh(s, dir)
      .select(base("doc_id_1").as("b1"), base("doc_id_2").as("b2"))
      .join(srcs.select(col("doc_id").as("b1"), col("source").as("s1")),
        "b1")
      .join(srcs.select(col("doc_id").as("b2"), col("source").as("s2")),
        "b2")
      .groupBy(
        least(col("s1"), col("s2")).as("source_1"),
        greatest(col("s1"), col("s2")).as("source_2"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  private def q124OracleSql: String =
    s"""WITH $q30Ctes,
        pairs AS ($q30SelectPairs),
        m AS (SELECT least(s1.source, s2.source) AS source_1,
                     greatest(s1.source, s2.source) AS source_2
              FROM pairs p
              JOIN documents s1 ON s1.doc_id =
                CASE WHEN p.doc_id_1 >= $PlantedOffset
                     THEN p.doc_id_1 - $PlantedOffset ELSE p.doc_id_1 END
              JOIN documents s2 ON s2.doc_id =
                CASE WHEN p.doc_id_2 >= $PlantedOffset
                     THEN p.doc_id_2 - $PlantedOffset ELSE p.doc_id_2 END)
        SELECT source_1, source_2, CAST(count(*) AS BIGINT) AS n_pairs
        FROM m GROUP BY 1, 2"""

  // ---------------------------------------------------------------- q125

  /** q125 — dedup SURVIVOR selection, the step that turns q63's cluster
    * labels into an actual deduplicated corpus: per cluster keep the
    * best document (longest text, ties to the smallest doc_id — a
    * stand-in for the quality-score policy a production pipeline plugs
    * in) and report the cluster size. q63 answers "which docs are the
    * same"; this answers "which one do we KEEP" — the last mile of
    * near-dup dedup that prepareCorpus applies with its min-id policy,
    * here declared with a quality-ranked policy under the differential.
    * Scale shape: one doc_id-keyed join (labels ⋈ lengths) and ONE
    * cluster-keyed aggregate; the argmax is max(struct(len, −doc_id)) —
    * partially aggregated map-side, no per-cluster window sort. */
  def q125DedupSurvivors(s: SparkSession, dir: String): DataFrame = {
    val lens = plantedDocs(s, dir)
      .select(col("doc_id"), length(col("text")).cast("bigint").as("len"))
    q63DedupClusters(s, dir)
      .join(lens, "doc_id")
      .groupBy("cluster")
      .agg(
        max(struct(col("len"), (-col("doc_id")).as("nid"))).as("m"),
        count(lit(1)).as("n_members"))
      .select(col("cluster"), (-col("m.nid")).as("survivor_id"),
        col("n_members"))
  }

  private def q125OracleSql: String =
    s"""WITH RECURSIVE $q30Ctes,
        pairs AS ($q30SelectPairs),
        edges AS (SELECT doc_id_1 AS src, doc_id_2 AS dst FROM pairs
                  UNION ALL
                  SELECT doc_id_2 AS src, doc_id_1 AS dst FROM pairs),
        reach(doc_id, lab) AS (
          SELECT doc_id, doc_id FROM docs
          UNION
          SELECT e.src, r.lab FROM edges e JOIN reach r ON r.doc_id = e.dst),
        cl AS (SELECT doc_id, min(lab) AS cluster FROM reach GROUP BY doc_id),
        j AS (SELECT c.cluster, d.doc_id,
                CAST(length(d.text) AS BIGINT) AS len
              FROM cl c JOIN docs d ON c.doc_id = d.doc_id)
        SELECT cluster, doc_id AS survivor_id, n_members FROM (
          SELECT cluster, doc_id,
            row_number() OVER (PARTITION BY cluster
              ORDER BY len DESC, doc_id) AS rn,
            CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT)
              AS n_members
          FROM j) WHERE rn = 1"""

  /** q139 — DEDUP RECALL/PRECISION evaluation: the q30 LSH candidate
    * set scored against the exact-Jaccard truth set (q101's PPJoin at
    * τ = 0.9) as a confusion summary — tp / fp / fn with exact-integer
    * ppm precision and recall. This is the measurement loop every
    * production dedup needs before trusting a banding geometry: q113
    * and q71 DECLARE recall contracts; this query MEASURES one (at
    * sf0.1: banding recall 5867/5868, precision 5867/6046 — the
    * banding's false-positive band collisions quantified, its single
    * miss visible).
    *
    * Scale shape: both operands are the library's own bucketed
    * (never all-pairs) pipelines; the comparison adds one pair-keyed
    * LEFT SEMI join plus three one-row aggregates cross-joined (1×1×1).
    * At corpus scale the truth side is the expensive operand (exact
    * verification), which is exactly why pipelines sample it — the
    * operator takes whatever pair frames its caller scopes.
    *
    * RE-SCOPED (round 12) with q101: truth is the audit-stratum exact
    * join (pairs touching doc_id % [[PlantedOffset]] <
    * [[SetSimAuditCap]]), so the candidate side is restricted to the
    * SAME stratum-touching pairs — precision/recall are measured on
    * the stratum where exact truth is affordable (the standard eval
    * design: score the geometry on a bounded audit slice, trust it
    * corpus-wide). Identical to the full eval at sf ≤ 0.1, where the
    * cap covers every document. */
  def q139DedupEval(s: SparkSession, dir: String): DataFrame = {
    val keys = Seq("doc_id_1", "doc_id_2")
    def aud(c: String) = col(c) % PlantedOffset < SetSimAuditCap
    // candidate (LSH) and truth (exact PPJoin) pipelines are
    // independent and each feeds two consumers — materialize both in
    // flight together (guide §2.6; the round-12 sequential-checkpoint
    // attempt here lost to ReuseExchange, concurrent submission wins)
    val Seq(cand, truth) = Par.checkpointAll(
      q30DedupMinhashLsh(s, dir)
        .filter(aud("doc_id_1") || aud("doc_id_2")),
      q101SetSimJoin(s, dir).select(keys.map(col): _*))
    val nc = cand.agg(count(lit(1)).as("n_candidates"))
    val nt = truth.agg(count(lit(1)).as("n_truth"))
    val tp = cand.join(truth, keys, "left_semi")
      .agg(count(lit(1)).as("tp"))
    nc.crossJoin(nt).crossJoin(tp)
      .select(col("n_candidates"), col("n_truth"), col("tp"),
        (col("n_candidates") - col("tp")).as("fp"),
        (col("n_truth") - col("tp")).as("fn"),
        expr("(tp * 1000000) div n_candidates").as("precision_ppm"),
        expr("(tp * 1000000) div n_truth").as("recall_ppm"))
  }

  private def q139OracleSql: String =
    s"""WITH cand AS (SELECT * FROM ($q30OracleSql) c0
          WHERE doc_id_1 % $PlantedOffset < $SetSimAuditCap
             OR doc_id_2 % $PlantedOffset < $SetSimAuditCap),
        truth AS (SELECT doc_id_1, doc_id_2 FROM ($q101OracleSql) t0),
        tpc AS (SELECT count(*) AS tp FROM cand
                JOIN truth USING (doc_id_1, doc_id_2)),
        ncc AS (SELECT count(*) AS n_candidates FROM cand),
        ntc AS (SELECT count(*) AS n_truth FROM truth)
        SELECT n_candidates, n_truth, tp,
               n_candidates - tp AS fp, n_truth - tp AS fn,
               (tp * 1000000) // n_candidates AS precision_ppm,
               (tp * 1000000) // n_truth AS recall_ppm
        FROM ncc, ntc, tpc"""

  // ------------------------------------------------------------ q224

  /** q224 — TRAIN/TEST NEAR-DUP LEAKAGE AUDIT: q62's content-hash split
    * guarantees exact duplicates co-locate in one split (same text ⇒
    * same hash ⇒ same bucket) — but NEAR-duplicates hash to unrelated
    * buckets, so a test document's near-copy can sit in train and
    * inflate every eval metric (the contamination mode benchmark
    * decontamination q84 checks against EXTERNAL benchmarks; this is
    * the INTERNAL split-crossing variant). The audit: q30's LSH
    * candidate pairs joined to each endpoint's split assignment, census
    * by unordered split pair — the off-diagonal rows ARE the leak, and
    * the (train, test) row is the one that invalidates evals.
    *
    * Determinism: the split is q62's poly_hash bucket over the planted
    * corpus; pairs are q30's exact candidate set. Pure integer/string.
    *
    * Scale shape: candidate generation is q30's banded equi-join
    * (linear volume, measured in SCALING.md); the split column is a
    * pure in-row function of text; attaching splits to pair endpoints
    * is two doc_id-keyed shuffle joins of linear frames; the final
    * census is 6 rows. At 100 TB the pairs come from the persisted
    * band index (q152's bucketed layout) and the splits frame prunes
    * to (doc_id, split) — nothing here grows super-linearly. */
  def q224SplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val docs = plantedDocs(s, dir)
    val splits = docs
      .select(col("doc_id"), expr("poly_hash(text) % 100").as("b"))
      .select(col("doc_id"),
        when(col("b") < 80, lit("train"))
          .when(col("b") < 90, lit("val"))
          .otherwise(lit("test")).as("split"))
    val s1 = splits.select(col("doc_id").as("doc_id_1"),
      col("split").as("sp1"))
    val s2 = splits.select(col("doc_id").as("doc_id_2"),
      col("split").as("sp2"))
    minhashCandidatePairs(docs)
      .join(s1, "doc_id_1")
      .join(s2, "doc_id_2")
      .select(least(col("sp1"), col("sp2")).as("split_a"),
        greatest(col("sp1"), col("sp2")).as("split_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaky", col("split_a") =!= col("split_b"))
  }

  private def q224OracleSql: String =
    s"""WITH cand AS (SELECT doc_id_1, doc_id_2
          FROM ($q30OracleSql) c0),
        pd AS ($plantedSql),
        sp AS (SELECT doc_id,
            CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                 ELSE 'test' END AS split
          FROM (SELECT doc_id, ${duckCharFold("text")} % 100 AS b
                FROM pd) z),
        j AS (SELECT least(a.split, b.split) AS split_a,
                greatest(a.split, b.split) AS split_b
              FROM cand
              JOIN sp a ON cand.doc_id_1 = a.doc_id
              JOIN sp b ON cand.doc_id_2 = b.doc_id)
        SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs,
               split_a <> split_b AS leaky
        FROM j GROUP BY split_a, split_b"""

  // ----------------------------------------------------------- q269

  /** q269 geometry sweep: every (bands, rows) tiling of the 16-hash
    * signature, and the similarity grid the S-curve is tabulated on. */
  val LshPlanGeoms: Seq[(Int, Int)] =
    Seq(16 -> 1, 8 -> 2, 4 -> 4, 2 -> 8, 1 -> 16)
  val LshPlanSPcts: Seq[Int] = (50 to 95 by 5)

  /** The LSH hit probability 1 − (1 − s^r)^b in TRUNCATING ppm
    * fixed point — iterated integer multiplication, computed ONCE here
    * and embedded as the same literals in both engines' plans (the
    * BenfordPpm discipline; pow() is not IEEE-correctly-rounded, so a
    * float evaluation could diverge cross-engine — the fixed-point
    * spec cannot). */
  private[graft] def lshHitPpm(sPpm: Long, r: Int, b: Int): Long = {
    def ipow(base: Long, e: Int): Long =
      (2 to e).foldLeft(base)((acc, _) => acc * base / 1000000L)
    1000000L - ipow(1000000L - ipow(sPpm, r), b)
  }

  /** q269 — LSH GEOMETRY PLANNER: theoretical S-curve × measured
    * candidate volume per (bands, rows) tiling (the tuning table
    * behind every MinHash deployment — q30 ships 4×4, and THIS
    * operator is the evidence for that choice: more rows per band
    * sharpens the threshold (τ ≈ (1/b)^(1/r)) but misses lower-
    * similarity dups; fewer rows explode the candidate volume — the
    * curve gives the recall side, the corpus gives the cost side,
    * and neither alone picks a geometry): for every tiling of the
    * 16-hash signature and s ∈ {50..95%}, the hit probability
    * 1 − (1 − s^r)^b as shared fixed-point literals, joined with the
    * MEASURED candidate-pair count Σ C(bucket, 2) from actually
    * re-banding the corpus signatures at that geometry.
    *
    * Scale shape: per geometry one band-keyed census off the shared
    * one-pass minhash_k signatures — candidate VOLUME is counted in
    * the buckets (Σ c(c−1)/2 per band key), never materialized as
    * pairs, so the r=1 geometry's huge buckets cost a census row, not
    * a blow-up. The curve side is a literal frame. */
  def q269LshCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val measured = LshPlanGeoms.map { case (b, r) =>
      bandedKeys(docs, LshGeometry(NumHashes, r, NumPlanes))
        .groupBy("band", "bkey").agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L))
          .as("cand_pairs"))
        .select(lit(b.toLong).as("bands"),
          lit(r.toLong).as("rows_per_band"), col("cand_pairs"))
    }.reduce(_ unionByName _)
    val curve = LshPlanGeoms.flatMap { case (b, r) =>
      LshPlanSPcts.map(p =>
        (b.toLong, r.toLong, p.toLong, lshHitPpm(p * 10000L, r, b)))
    }.toDF("bands", "rows_per_band", "s_pct", "p_hit_ppm")
    curve.join(broadcast(measured), Seq("bands", "rows_per_band"))
  }

  private def q269OracleSql: String = {
    val geomSelects = LshPlanGeoms.map { case (b, r) =>
      val bandSelects = (0 until b).map { bi =>
        val key = (0 until r).map(j => sigExpr(bi * r + j))
          .mkString("concat_ws(',', ", ", ", ")")
        s"SELECT doc_id, $bi AS band, $key AS bkey FROM hs"
      }.mkString("\n UNION ALL\n ")
      s"""SELECT CAST($b AS BIGINT) AS bands,
          CAST($r AS BIGINT) AS rows_per_band,
          CAST(coalesce(sum(c * (c - 1) // 2), 0) AS BIGINT)
            AS cand_pairs
        FROM (SELECT band, bkey, count(*) AS c
              FROM ($bandSelects) z GROUP BY band, bkey) g"""
    }.mkString("\n UNION ALL\n ")
    val curveRows = LshPlanGeoms.flatMap { case (b, r) =>
      LshPlanSPcts.map(p =>
        s"($b, $r, $p, ${lshHitPpm(p * 10000L, r, b)})")
    }.mkString(", ")
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS sw_w
          FROM documents
          WHERE len(string_split(text, ' ')) >= $ShingleN),
        hs AS (SELECT doc_id, $duckShingleHashes AS hsd FROM w),
        curve(bands, rows_per_band, s_pct, p_hit_ppm)
          AS (VALUES $curveRows),
        measured AS ($geomSelects)
        SELECT CAST(c.bands AS BIGINT) AS bands,
          CAST(c.rows_per_band AS BIGINT) AS rows_per_band,
          CAST(c.s_pct AS BIGINT) AS s_pct,
          CAST(c.p_hit_ppm AS BIGINT) AS p_hit_ppm, m.cand_pairs
        FROM curve c JOIN measured m ON c.bands = m.bands
          AND c.rows_per_band = m.rows_per_band"""
  }

  // ----------------------------------------------------------- q284

  /** q284 — MINHASH ESTIMATOR ACCURACY over the planted pairs (the
    * third leg of the LSH evidence stack: q139 measures RECALL of the
    * banded index, q269 plans the GEOMETRY, this measures the
    * ESTIMATOR itself — sig-agreement/k is an unbiased Jaccard
    * estimate, and how tight it is at k=16 is exactly what a
    * dedup-threshold decision rests on): for every planted
    * (original, perturbed) pair present in the shingled corpus, the
    * matching-signature share est = m·10⁶ div 16, the EXACT
    * shingle-set Jaccard, and the absolute error — all integers.
    *
    * Scale shape: signatures ride the shared one-pass minhash_k
    * frame; pairs come from the id-offset equi-join (never a
    * similarity join); the comparison is in-row zip/intersect
    * arithmetic on the two cached set rows. */
  def q284MinhashAccuracy(s: SparkSession, dir: String): DataFrame = {
    val hs = plantedDocs(s, dir)
      .withColumn("sw_w", split(col("text"), " "))
      .filter(size(col("sw_w")) >= ShingleN)
      .select(col("doc_id"), expr(sparkShingleHashes).as("hsd"))
      .withColumn("sig", expr(s"minhash_k(hsd, $NumHashes)"))
      .cache()
    val a = hs.select(col("doc_id").as("doc_id_1"),
      col("hsd").as("h1"), col("sig").as("s1"))
    val b = hs.select((col("doc_id") - PlantedOffset).as("doc_id_1"),
      col("doc_id").as("doc_id_2"), col("hsd").as("h2"),
      col("sig").as("s2"))
    a.join(b, "doc_id_1")
      .select(col("doc_id_1"), col("doc_id_2"),
        expr("size(filter(zip_with(s1, s2, (x, y) -> x = y), " +
          "zb -> zb))").cast("bigint").as("n_match"),
        size(array_intersect(col("h1"), col("h2"))).cast("bigint")
          .as("n_inter"),
        (size(col("h1")) + size(col("h2")) -
          size(array_intersect(col("h1"), col("h2")))).cast("bigint")
          .as("n_union"))
      .select(col("doc_id_1"), col("doc_id_2"),
        expr(s"n_match * 1000000 div $NumHashes").as("est_ppm"),
        expr("n_inter * 1000000 div n_union").as("jac_ppm"),
        expr(s"""abs(n_match * 1000000 div $NumHashes
             - n_inter * 1000000 div n_union)""").as("err_ppm"))
  }

  private def q284OracleSql: String = {
    val sigList = (0 until NumHashes).map(sigExpr)
      .mkString("[", ", ", "]")
    s"""WITH ${lshCtes(plantedSql)},
        sg AS (SELECT doc_id, hsd, $sigList AS sig FROM hs),
        p AS (SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
            CAST(len(list_filter(range(1, ${NumHashes + 1}),
              zi -> a.sig[zi] = b.sig[zi])) AS BIGINT) AS n_match,
            CAST(len(list_intersect(a.hsd, b.hsd)) AS BIGINT)
              AS n_inter,
            CAST(len(a.hsd) + len(b.hsd)
              - len(list_intersect(a.hsd, b.hsd)) AS BIGINT)
              AS n_union
          FROM sg a JOIN sg b
            ON b.doc_id = a.doc_id + $PlantedOffset)
        SELECT doc_id_1, doc_id_2,
          n_match * 1000000 // $NumHashes AS est_ppm,
          n_inter * 1000000 // n_union AS jac_ppm,
          abs(n_match * 1000000 // $NumHashes
            - n_inter * 1000000 // n_union) AS err_ppm
        FROM p"""
  }

  // ----------------------------------------------------------- q503

  /** q503 — B-BIT MINHASH ACCURACY (Li & König 2010 — the storage
    * endgame of the minhash family: keep only the LOWEST BIT of each
    * of the k signature values, 32× smaller than q284's full
    * signatures, and estimate Jaccard from the bit-agreement rate via
    * Ĵ = 2·(A/k) − 1 — at b = 1 a random non-matching pair agrees on
    * half its bits, so the estimator recenters around that chance
    * floor). Over the planted pairs (the q284 frame): the bit
    * agreement count A of k, the 1-bit estimate (clamped at 0 — A <
    * k/2 is sampling noise below the chance floor), q284's full-value
    * estimate, the exact Jaccard, and both estimators' errors — the
    * released table IS the space/accuracy trade: 1-bit pays roughly
    * 2× the standard error at 1/31 the bytes, and a consumer reads
    * the two err columns side by side. All integer arithmetic off the
    * shared signature constants; the bits are sig mod 2, exact on
    * both engines.
    *
    * Scale shape: q284's — per-doc signatures once (map-side), one
    * planted-offset equi-join, a fixed-k in-row fold; nothing
    * corpus². */
  def q503BbitMinhash(s: SparkSession, dir: String): DataFrame = {
    val hs = plantedDocs(s, dir)
      .withColumn("sw_w", split(col("text"), " "))
      .filter(size(col("sw_w")) >= ShingleN)
      .select(col("doc_id"), expr(sparkShingleHashes).as("hsd"))
      .withColumn("sig", expr(s"minhash_k(hsd, $NumHashes)"))
      .withColumn("bits", expr("transform(sig, bb_x -> bb_x % 2)"))
      .cache()
    val a = hs.select(col("doc_id").as("doc_id_1"),
      col("hsd").as("h1"), col("sig").as("s1"), col("bits").as("b1"))
    val b = hs.select((col("doc_id") - PlantedOffset).as("doc_id_1"),
      col("doc_id").as("doc_id_2"), col("hsd").as("h2"),
      col("sig").as("s2"), col("bits").as("b2"))
    a.join(b, "doc_id_1")
      .select(col("doc_id_1"), col("doc_id_2"),
        expr("size(filter(zip_with(b1, b2, (x, y) -> x = y), " +
          "zb -> zb))").cast("bigint").as("n_bit_match"),
        expr("size(filter(zip_with(s1, s2, (x, y) -> x = y), " +
          "zb -> zb))").cast("bigint").as("n_match"),
        size(array_intersect(col("h1"), col("h2"))).cast("bigint")
          .as("n_inter"),
        (size(col("h1")) + size(col("h2")) -
          size(array_intersect(col("h1"), col("h2")))).cast("bigint")
          .as("n_union"))
      .select(col("doc_id_1"), col("doc_id_2"), col("n_bit_match"),
        expr(s"greatest(2 * n_bit_match - $NumHashes, 0) " +
          s"* 1000000 div $NumHashes").as("bbit_ppm"),
        expr(s"n_match * 1000000 div $NumHashes").as("full_ppm"),
        expr("n_inter * 1000000 div n_union").as("jac_ppm"),
        expr(s"""abs(greatest(2 * n_bit_match - $NumHashes, 0)
             * 1000000 div $NumHashes
             - n_inter * 1000000 div n_union)""").as("bbit_err_ppm"),
        expr(s"""abs(n_match * 1000000 div $NumHashes
             - n_inter * 1000000 div n_union)""").as("full_err_ppm"))
  }

  private def q503OracleSql: String = {
    val sigList = (0 until NumHashes).map(sigExpr)
      .mkString("[", ", ", "]")
    s"""WITH ${lshCtes(plantedSql)},
        sg AS (SELECT doc_id, hsd, $sigList AS sig FROM hs),
        p AS (SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
            CAST(len(list_filter(range(1, ${NumHashes + 1}),
              zi -> a.sig[zi] % 2 = b.sig[zi] % 2)) AS BIGINT)
              AS n_bit_match,
            CAST(len(list_filter(range(1, ${NumHashes + 1}),
              zi -> a.sig[zi] = b.sig[zi])) AS BIGINT) AS n_match,
            CAST(len(list_intersect(a.hsd, b.hsd)) AS BIGINT)
              AS n_inter,
            CAST(len(a.hsd) + len(b.hsd)
              - len(list_intersect(a.hsd, b.hsd)) AS BIGINT)
              AS n_union
          FROM sg a JOIN sg b
            ON b.doc_id = a.doc_id + $PlantedOffset)
        SELECT doc_id_1, doc_id_2, n_bit_match,
          greatest(2 * n_bit_match - $NumHashes, 0)
            * 1000000 // $NumHashes AS bbit_ppm,
          n_match * 1000000 // $NumHashes AS full_ppm,
          n_inter * 1000000 // n_union AS jac_ppm,
          abs(greatest(2 * n_bit_match - $NumHashes, 0)
            * 1000000 // $NumHashes
            - n_inter * 1000000 // n_union) AS bbit_err_ppm,
          abs(n_match * 1000000 // $NumHashes
            - n_inter * 1000000 // n_union) AS full_err_ppm
        FROM p"""
  }

  // ----------------------------------------------------------- q295

  /** q295 — LSH CANDIDATE TRIAGE by band-agreement strength (the
    * verification-order scheduler between q30's candidate generation
    * and q87's exact verify: a pair colliding on 3–4 of the 4 bands
    * is a near-certain duplicate, a 1-band pair is mostly a hash
    * accident — verifying strongest-first front-loads the recall and
    * lets a budgeted pass stop early with most of the dups in hand):
    * every q30 candidate pair with the NUMBER of bands it collides
    * on, rolled up as the (n_bands → pair count) census — the triage
    * table the verify scheduler consumes.
    *
    * Scale shape: the same hot-bucket-safe band equi-join as q30, but
    * aggregated per pair (one extra map-side-combinable groupBy)
    * before the 4-row census; pair volume is q30's audited-linear
    * collision volume, never all-pairs. */
  def q295CandidateTriage(s: SparkSession, dir: String): DataFrame = {
    val banded = bandedSignatures(plantedDocs(s, dir))
    val x = banded.as("x")
    val y = banded.as("y")
    x.join(y,
        col("x.band") === col("y.band") &&
          col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_id_1"),
        col("y.doc_id").as("doc_id_2"))
      .agg(count(lit(1)).as("n_bands"))
      .groupBy("n_bands")
      .agg(count(lit(1)).as("n_pairs"))
  }

  private def q295OracleSql: String =
    s"""WITH ${lshCtes(plantedSql)},
        pb AS (SELECT x.doc_id AS doc_id_1, y.doc_id AS doc_id_2,
            CAST(count(*) AS BIGINT) AS n_bands
          FROM bands x JOIN bands y
            ON x.band = y.band AND x.bkey = y.bkey
           AND x.doc_id < y.doc_id
          GROUP BY 1, 2)
        SELECT n_bands, CAST(count(*) AS BIGINT) AS n_pairs
        FROM pb GROUP BY n_bands"""



  // ---------------------------------------------------------------- q301

  /** q301 fingerprint df cap (q113's join-safety discipline) and the
    * triage containment threshold (q110's τ = 9/10). */
  val FpContainCap = 32L

  /** q301 — CONTAINMENT TRIAGE EVAL: the LINEAR production path for the
    * operator q110 anchors, recall-scored against q110's exact truth
    * (the q139 pattern applied to the containment axis — round-9's
    * scaling run wall-confirmed the exact containment join's quadratic
    * at 172 s/sf1, so the suite now ships and SCORES the substitute).
    * Triage: winnowed fingerprint hashes per planted doc (q102's
    * selection; any shared run of ≥ w+k−1 tokens forces a shared
    * fingerprint, which is what makes fingerprints the right containment
    * proxy — an excerpt IS a shared run), df-capped at
    * [[FpContainCap]] (hot fps are boilerplate and square the join),
    * then directed pairs where shared fingerprints cover ≥ 9/10 of the
    * contained side's TRUE fingerprint count (the cap may only lower
    * the estimate — triage never inflates containment). Declared
    * output: one row — truth/triage/captured counts with exact ppm
    * recall and precision. Measured at sf0.01: 1188 truth, 1160 triage,
    * 1151 captured — recall 969k ppm, precision 992k ppm.
    *
    * Scale shape: fingerprints are in-row (winnow_keys, ~2/(w+1)
    * sampling); the df census and capped equi-join are q113's audited
    * shape — join volume ≤ cap·Σdf, linear on a Heaps-law corpus (on
    * THIS fixed-vocab generator df grows ∝ n and the cap increasingly
    * bites, which the eval itself measures as a recall number — exactly
    * the evidence a pipeline owner needs before trusting the triage at
    * a new scale). The truth side carries q110's exact-join cost:
    * EVAL-ONLY, like q139; the triage path alone never touches it.
    * Round 10: both sides score on q110's audit stratum (doc_id <
    * [[ContainmentAuditCap]]) — recall/precision of the triage on the
    * slice where exact truth is affordable, the standard eval frame
    * once the corpus-wide exact join is re-scoped away. */
  def q301ContainmentEval(s: SparkSession, dir: String): DataFrame = {
    val fps = graft.operators.TextOps.winnowFps(plantedDocs(s, dir))
      .cache()
    val fdf = fps.groupBy("fp_hash").agg(count(lit(1)).as("fdf"))
    val rare = fps.join(fdf.filter(col("fdf") <= FpContainCap), "fp_hash")
      .select("doc_id", "fp_hash")
      .cache()
    val nfp = fps.groupBy("doc_id").agg(count(lit(1)).as("nfp"))
    val triage = rare.select(col("doc_id").as("doc_id_1"), col("fp_hash"))
      .join(rare.select(col("doc_id").as("doc_id_2"), col("fp_hash")),
        "fp_hash")
      .filter(col("doc_id_1") =!= col("doc_id_2"))
      .groupBy("doc_id_1", "doc_id_2")
      .agg(count(lit(1)).as("n_shared"))
      .join(nfp.withColumnRenamed("doc_id", "doc_id_1"), "doc_id_1")
      .filter(col("n_shared") * 10 >= col("nfp") * 9)
      // scored on the SAME audit stratum as the truth side (q110's
      // round-10 re-scope, modular form) — precision against
      // out-of-stratum triage pairs would be meaningless when truth
      // can't contain them
      .filter(col("doc_id_1") % PlantedOffset < lit(ContainmentAuditCap))
      .select("doc_id_1", "doc_id_2")
    // truth (q110's exact machinery) and triage (the fingerprint path)
    // are independent ~3 s pipelines consumed twice each (count +
    // intersection) — materialize both in flight together (guide §2.6).
    // Round 12 measured SEQUENTIAL eager checkpoints here slower than
    // none (they serialized what ReuseExchange pipelined); concurrent
    // submission is the form that wins: max-of-walls, not sum.
    val Seq(truth, triage2) = Par.checkpointAll(
      q110ContainmentJoin(s, dir).select("doc_id_1", "doc_id_2"),
      triage)
    val nT = truth.agg(count(lit(1)).as("n_truth"))
    val nG = triage2.agg(count(lit(1)).as("n_triage"))
    val nC = truth.join(triage2, Seq("doc_id_1", "doc_id_2"), "left_semi")
      .agg(count(lit(1)).as("n_captured"))
    nT.crossJoin(nG).crossJoin(nC)
      .select(col("n_truth"), col("n_triage"), col("n_captured"),
        expr("n_captured * 1000000 div greatest(n_truth, 1)")
          .as("recall_ppm"),
        expr("n_captured * 1000000 div greatest(n_triage, 1)")
          .as("precision_ppm"))
  }

  private def q301OracleSql: String = {
    val sel = graft.operators.TextOps.winnowSelSql(s"($plantedSql) pd")
    s"""WITH fpsrc AS ($sel),
        fps AS (SELECT DISTINCT doc_id, fp_hash FROM fpsrc),
        fdf AS (SELECT fp_hash, count(*) AS fdf FROM fps GROUP BY 1),
        rare AS (SELECT f.doc_id, f.fp_hash FROM fps f JOIN fdf d
                 ON f.fp_hash = d.fp_hash AND d.fdf <= $FpContainCap),
        nfp AS (SELECT doc_id, count(*) AS nfp FROM fps GROUP BY 1),
        shared AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
            count(*) AS ns
          FROM rare a JOIN rare b
            ON a.fp_hash = b.fp_hash AND a.doc_id <> b.doc_id
          GROUP BY 1, 2),
        triage AS (SELECT d1, d2 FROM shared
          JOIN nfp ON nfp.doc_id = shared.d1
          WHERE ns * 10 >= nfp * 9
            AND d1 % $PlantedOffset < $ContainmentAuditCap),
        truth AS (SELECT doc_id_1, doc_id_2 FROM ($q110OracleSql) tt)
        SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
          CAST((SELECT count(*) FROM triage) AS BIGINT) AS n_triage,
          CAST((SELECT count(*) FROM truth JOIN triage
             ON doc_id_1 = d1 AND doc_id_2 = d2) AS BIGINT)
            AS n_captured,
          CAST((SELECT count(*) FROM truth JOIN triage
             ON doc_id_1 = d1 AND doc_id_2 = d2) * 1000000
            // greatest((SELECT count(*) FROM truth), 1) AS BIGINT)
            AS recall_ppm,
          CAST((SELECT count(*) FROM truth JOIN triage
             ON doc_id_1 = d1 AND doc_id_2 = d2) * 1000000
            // greatest((SELECT count(*) FROM triage), 1) AS BIGINT)
            AS precision_ppm"""
  }

  // ---------------------------------------------------------------- q300

  /** q300 — CHUNK-level near-dup (the entity-granularity gap-check the
    * round-8 verdict named: doc-level near-dup is blind to a quoted
    * paragraph or boilerplate block shared between otherwise-different
    * long documents — the shape real long-doc corpora dedup at): q89's
    * overlapping token chunker (size 32 / stride 16, the SAME geometry
    * constants) feeds q30's MinHash banding with each chunk as a
    * pseudo-document keyed doc_id·1024 + chunk_idx (positional identity,
    * so re-runs band identical chunks identically), and the declared
    * output is the CROSS-document census: for each document pair, how
    * many chunk-level band collisions link them. Same-document
    * collisions (adjacent chunks share stride tokens) are excluded —
    * they are the chunker's overlap, not duplication.
    *
    * Scale shape: the chunker is q89's zero-shuffle generator pass
    * (~len/stride× rows, never crossing the wire); banding and the pair
    * join are exactly q30's audited-linear hot-bucket-safe shape over
    * ~2·len/stride× more rows; the census is one map-side-combinable
    * aggregate on the (already tiny) pair frame. Nothing here is new
    * machinery — the point is the COMPOSITION, which is how a production
    * pipeline gets paragraph dedup without a second engine. */
  def q300ChunkNearDup(s: SparkSession, dir: String): DataFrame = {
    chunkPairCensus(minhashCandidatePairs(
      chunkPseudoDocs(plantedDocs(s, dir))))
  }

  /** q89's chunk geometry over ANY (doc_id, text) frame, each chunk a
    * pseudo-document keyed doc_id·1024 + chunk_idx. Stateless generator
    * expressions only, so it applies unchanged to a STREAMING frame
    * (q302 chunks each micro-batch with this exact function). */
  private[graft] def chunkPseudoDocs(docs: DataFrame): DataFrame = {
    val C = graft.operators.TextOps.ChunkSize
    val St = graft.operators.TextOps.ChunkStride
    docs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("len", size(col("ws")))
      .withColumn("nchunks", expr(
        s"""CASE WHEN len <= $C THEN 1
            ELSE ((len - $C + ${St - 1}) div $St) + 1 END"""))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, nchunks - 1),
              k -> array_join(slice(ws, k * $St + 1, $C), ' '))"""))
        .as(Seq("k", "ctext")))
      .select((col("doc_id") * 1024 + col("k")).as("doc_id"),
        col("ctext").as("text"))
  }

  /** Chunk-key pair frame → the q300 cross-document census. */
  private[graft] def chunkPairCensus(pairs: DataFrame): DataFrame =
    pairs
      .select(expr("doc_id_1 div 1024").as("doc_id_1"),
        expr("doc_id_2 div 1024").as("doc_id_2"))
      .filter(col("doc_id_1") =!= col("doc_id_2"))
      .groupBy("doc_id_1", "doc_id_2")
      .agg(count(lit(1)).as("n_chunk_collisions"))

  /** q300's chunk pseudo-corpus in oracle form: q89's chunk geometry
    * over the planted docs, one (ckey, text) row per chunk. */
  private def q300ChunkSql: String = {
    val C = graft.operators.TextOps.ChunkSize
    val St = graft.operators.TextOps.ChunkStride
    s"""SELECT doc_id * 1024 + k AS doc_id,
          array_to_string(list_slice(ws, k * $St + 1, k * $St + $C), ' ')
            AS text
        FROM (SELECT doc_id, unnest(range(0, nchunks)) AS k, ws
          FROM (SELECT doc_id, ws,
              CASE WHEN len <= $C THEN 1
                ELSE ((len - $C + ${St - 1}) // $St) + 1 END AS nchunks
            FROM (SELECT doc_id, string_split(text, ' ') AS ws,
                len(string_split(text, ' ')) AS len
              FROM ($plantedSql) pd) l) n) ch"""
  }

  /** q300's oracle, shared with the streaming twin q302 (confluence:
    * the streamed lifetime output equals the batch rebuild). */
  private[graft] def q300OracleSql2: String = q300OracleSql

  private def q300OracleSql: String =
    s"""WITH ${lshCtes(q300ChunkSql)},
        p AS ($q30SelectPairs)
        SELECT doc_id_1 // 1024 AS doc_id_1,
          doc_id_2 // 1024 AS doc_id_2,
          CAST(count(*) AS BIGINT) AS n_chunk_collisions
        FROM p
        WHERE doc_id_1 // 1024 <> doc_id_2 // 1024
        GROUP BY 1, 2"""

  // ---------------------------------------------------------------- q318

  /** q318's threshold ladder (τ = p/q): loose → strict. */
  val SweepThresholds: Seq[(Int, Int)] = Seq((4, 5), (9, 10), (19, 20))

  /** q318 — SIMILARITY-THRESHOLD SENSITIVITY SWEEP (the calibration
    * run a dedup deployment does before pinning its τ: how many pairs
    * does each candidate threshold admit? — a curve that jumps between
    * 0.8 and 0.9 says the corpus has a near-dup band there, a flat one
    * says τ is uncritical; this is also the query that puts the
    * τ-PARAMETERIZED [[setSimJoinExact]] API itself under the
    * differential at three thresholds, where q101 pins only 9/10):
    * exact pair counts at τ ∈ {0.80, 0.90, 0.95} over pairs touching
    * the q101 audit stratum, one row per threshold.
    *
    * SCOPE (re-declared round 12, the q101/q139 precedent): the sweep
    * screens pairs with at least one endpoint in the constant
    * [[SetSimAuditCap]] stratum — identical results at sf ≤ 0.1 (the
    * stratum covers every base doc there) and linear candidate volume
    * above. The original corpus×corpus sweep was measured at sf10 to a
    * 70+ GB spill that filled the DISK (SPILL_OUT_OF_MEMORY, round-12
    * endurance run): τ = 0.80's prefixes are even longer than q101's
    * 0.90 ones, so the un-strated sweep hits the adversarial-vocabulary
    * wall FIRST. A τ curve read off a fixed audit stratum answers the
    * same calibration question at any corpus size.
    *
    * Scale shape: the per-doc set frame builds ONCE (cached) and all
    * three joins share it; per threshold the candidate volume is
    * Σ_h df_stratum(h)·df_full(h) — linear in corpus size (longer
    * prefixes at looser τ raise the constant, not the growth);
    * counts, not pairs, are released. */
  def q318ThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    val hs = plantedDocs(s, dir)
      .withColumn("sw_w", split(col("text"), " "))
      .filter(size(col("sw_w")) >= ShingleN)
      .select(col("doc_id"), expr(sparkShingleHashes).as("hsd"))
    // ONE ranked-token census for all three thresholds (round 12,
    // guide §2.4): the exploded (doc_id, h, len, rn) frame is
    // threshold-independent, so the sweep materializes it once —
    // Σ tokens rows, linear in corpus size — and each τ re-filters
    // only the prefix bound. Previously each τ re-derived the
    // shingle pass, the df census, and the frequency-order window.
    val ranked = setSimRankedTokens(hs).localCheckpoint(true)
    val hsC = hs.cache() // verify stage joins the set frame per τ
    SweepThresholds.map { case (p, q) =>
      setSimJoinOnRanked(hsC, ranked, p, q,
          Some(col("doc_id") % PlantedOffset < SetSimAuditCap))
        .agg(count(lit(1)).as("n_pairs"))
        .select(lit(p.toLong).as("tau_p"), lit(q.toLong).as("tau_q"),
          col("n_pairs"))
    }.reduce(_ unionByName _)
  }

  private def q318OracleSql: String =
    SweepThresholds.map { case (p, q) =>
      s"""SELECT CAST($p AS BIGINT) AS tau_p, CAST($q AS BIGINT) AS tau_q,
          CAST(count(*) AS BIGINT) AS n_pairs
          FROM (${setSimOracleSqlAt(p, q, Some(SetSimAuditCap))}) t$p"""
    }.mkString("\nUNION ALL\n")

  // ---------------------------------------------------------------- q314

  /** q314 — B-CUBED CLUSTER-QUALITY EVAL of the dedup clusters against
    * the planted truth (the third leg of the dedup-eval family: q139
    * scores PAIR recall of the candidate generator, q125 picks
    * survivors, this scores the CLUSTERS themselves — B³ is the
    * standard entity-resolution clustering metric precisely because,
    * unlike pair-F1, it weights every document once instead of every
    * pair, so one giant wrong cluster can't swamp the score): truth
    * class of a planted doc = doc_id mod [[PlantedOffset]] (each
    * original and its perturbed twin), predicted clusters = q63's
    * connected components over the q30 LSH graph. Per doc, B³
    * precision = |C(d) ∩ T(d)| / |C(d)| and recall = |C(d) ∩ T(d)| /
    * |T(d)| — declared as the exact integer sums of per-doc ppm floors
    * (n_docs, Σprec_ppm, Σrec_ppm; the averages are the consumer's one
    * division), so no float fold crosses the differential.
    *
    * Scale shape: on top of q63's labeling (the corpus-scale part,
    * amortized as stored state in production): three label-keyed
    * aggregates over the (doc, cluster, truth) frame and three
    * equi-joins back — all linear in docs. */
  def q314BcubedEval(s: SparkSession, dir: String): DataFrame = {
    val l = q63DedupClusters(s, dir)
      .select(col("doc_id"), col("cluster"),
        (col("doc_id") % PlantedOffset).as("truth"))
      .localCheckpoint(true)
    val ct = l.groupBy("cluster", "truth").agg(count(lit(1)).as("ct"))
    val cs = l.groupBy("cluster").agg(count(lit(1)).as("cs"))
    val tz = l.groupBy("truth").agg(count(lit(1)).as("tsz"))
    l.join(ct, Seq("cluster", "truth"))
      .join(cs, "cluster")
      .join(tz, "truth")
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("ct * 1000000 div cs")).as("sum_precision_ppm"),
        sum(expr("ct * 1000000 div tsz")).as("sum_recall_ppm"))
  }

  private def q314OracleSql: String =
    s"""WITH labels AS (SELECT * FROM ($q63OracleSql) t0),
        l AS (SELECT doc_id, cluster,
          doc_id % $PlantedOffset AS truth FROM labels),
        ct AS (SELECT cluster, truth, CAST(count(*) AS BIGINT) AS ct
          FROM l GROUP BY cluster, truth),
        cs AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cs
          FROM l GROUP BY cluster),
        tz AS (SELECT truth, CAST(count(*) AS BIGINT) AS tsz
          FROM l GROUP BY truth)
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(ct.ct * 1000000 // cs.cs) AS BIGINT)
            AS sum_precision_ppm,
          CAST(sum(ct.ct * 1000000 // tz.tsz) AS BIGINT)
            AS sum_recall_ppm
        FROM l
        JOIN ct ON l.cluster = ct.cluster AND l.truth = ct.truth
        JOIN cs ON l.cluster = cs.cluster
        JOIN tz ON l.truth = tz.truth"""

  // ------------------------------------------------------------ q350

  /** q350's Fellegi–Sunter log₂-weights ×10³ as shared-text double
    * expressions over the exact agreement counts, Laplace-smoothed
    * ((a+1)/(n+2)) so a field that always or never agrees yields a
    * finite weight instead of ±∞: w_agree = log₂(m/u), w_disagree =
    * log₂((1−m)/(1−u)), each written as ONE ln-ratio of integer
    * cross-products. The ln 2 divisor is a baked shortest-round-trip
    * literal (q403 discipline — shared-text `ln(2.0)` would evaluate
    * on each engine's libm, whose last-ulp drift can flip the floored
    * milli weight). */
  private def fsWeightExprs: Seq[String] = Seq(
    s"""CAST(floor(ln((CAST(m_agree + 1 AS DOUBLE) * (n_nonmatch + 2))
            / (CAST(u_agree + 1 AS DOUBLE) * (n_match + 2)))
          / 0.6931471805599453 * 1000) AS BIGINT) AS w_agree_milli""",
    s"""CAST(floor(ln((CAST(n_match - m_agree + 1 AS DOUBLE)
              * (n_nonmatch + 2))
            / (CAST(n_nonmatch - u_agree + 1 AS DOUBLE) * (n_match + 2)))
          / 0.6931471805599453 * 1000) AS BIGINT)
          AS w_disagree_milli""")

  /** q350 — FELLEGI–SUNTER LINKAGE WEIGHT TABLE (Fellegi & Sunter 1969
    * — the decision-theoretic core of probabilistic record linkage and
    * still the engine inside Splink-class production linkers: per
    * comparison field, m = P(agree | match) and u = P(agree |
    * non-match), and every candidate pair is scored by Σ log₂(m/u) over
    * its agreement pattern — the weight table IS the trained model.
    * This suite already has all three candidate GENERATORS (q230 key
    * blocking, q306 sorted neighborhood, q30 LSH); this adds the
    * SCORER'S parameters, estimated from labeled pairs: matches = the
    * planted twins, non-matches = adjacent-id base pairs (independent
    * by construction). Fields are derived record attributes {first
    * token, second token, last token, length-bucket}; per field the
    * exact counts {m_agree, n_match, u_agree, n_nonmatch} and the
    * smoothed [[fsWeightExprs]] weights (null fields count as
    * disagreement via coalesce — the missing-value convention). The
    * planted perturbation (drop last word) makes the expected table
    * vivid: first/second-token agreement scores strongly positive
    * (m ≈ 1 ≫ u ≈ 1/|vocab|) and its disagreement weight is strongly
    * negative, while the dropped last word pulls the last-token m down
    * to chance so that field's discriminating power collapses — the
    * spec pins exactly that structure plus a brute-force model.
    *
    * Scale shape: two narrow passes (field projection; labeled-pair
    * equi-joins on doc_id) → a 4-row field census; at production scale
    * the labeled-pair frame is the (sampled) clerical-review table and
    * everything stays pair-linear. */
  def q350FellegiSunter(s: SparkSession, dir: String): DataFrame = {
    val f = plantedDocs(s, dir)
      .select(col("doc_id"),
        expr("element_at(split(text, ' '), 1)").as("f1"),
        expr("element_at(split(text, ' '), 2)").as("f2"),
        expr("element_at(split(text, ' '), -1)").as("f3"),
        expr("size(split(text, ' ')) div 8").as("f4"))
      .localCheckpoint(true)
    val base = t(s, dir, "documents").select("doc_id")
    val pairs = base.select(col("doc_id").as("doc_id_1"),
        (col("doc_id") + PlantedOffset).as("doc_id_2"),
        lit(1L).as("is_match"))
      .unionByName(base.select(col("doc_id").as("doc_id_1"),
        (col("doc_id") + 1L).as("doc_id_2"), lit(0L).as("is_match")))
    pairs
      .join(f.select(col("doc_id").as("doc_id_1"), col("f1").as("a1"),
        col("f2").as("a2"), col("f3").as("a3"), col("f4").as("a4")),
        "doc_id_1")
      .join(f.select(col("doc_id").as("doc_id_2"), col("f1").as("b1"),
        col("f2").as("b2"), col("f3").as("b3"), col("f4").as("b4")),
        "doc_id_2")
      .select(col("is_match"), explode(expr(
        """array(
             struct('first' AS field,
               coalesce(CAST(a1 = b1 AS BIGINT), 0) AS agr),
             struct('second' AS field,
               coalesce(CAST(a2 = b2 AS BIGINT), 0) AS agr),
             struct('last' AS field,
               coalesce(CAST(a3 = b3 AS BIGINT), 0) AS agr),
             struct('len_bucket' AS field,
               coalesce(CAST(a4 = b4 AS BIGINT), 0) AS agr))"""))
        .as("e"))
      .select(col("is_match"), col("e.field"), col("e.agr"))
      .groupBy("field")
      .agg(sum(when(col("is_match") === 1L, col("agr")).otherwise(0L))
          .as("m_agree"),
        sum("is_match").as("n_match"),
        sum(when(col("is_match") === 0L, col("agr")).otherwise(0L))
          .as("u_agree"),
        sum(lit(1L) - col("is_match")).as("n_nonmatch"))
      .select(Seq(col("field"), col("m_agree"), col("n_match"),
        col("u_agree"), col("n_nonmatch")) ++
        fsWeightExprs.map(expr): _*)
  }

  private def q350OracleSql: String =
    s"""WITH pdocs AS ($plantedSql),
        f AS (SELECT doc_id,
            string_split(text, ' ')[1] AS f1,
            string_split(text, ' ')[2] AS f2,
            string_split(text, ' ')[-1] AS f3,
            len(string_split(text, ' ')) // 8 AS f4
          FROM pdocs),
        base AS (SELECT doc_id FROM documents),
        pairs AS (SELECT doc_id AS doc_id_1,
            doc_id + $PlantedOffset AS doc_id_2, 1 AS is_match FROM base
          UNION ALL
          SELECT doc_id, doc_id + 1, 0 FROM base),
        j AS (SELECT p.is_match,
            coalesce(CAST(fa.f1 = fb.f1 AS BIGINT), 0) AS g1,
            coalesce(CAST(fa.f2 = fb.f2 AS BIGINT), 0) AS g2,
            coalesce(CAST(fa.f3 = fb.f3 AS BIGINT), 0) AS g3,
            coalesce(CAST(fa.f4 = fb.f4 AS BIGINT), 0) AS g4
          FROM pairs p
          JOIN f fa ON fa.doc_id = p.doc_id_1
          JOIN f fb ON fb.doc_id = p.doc_id_2),
        l AS (SELECT is_match, 'first' AS field, g1 AS agr FROM j
          UNION ALL SELECT is_match, 'second', g2 FROM j
          UNION ALL SELECT is_match, 'last', g3 FROM j
          UNION ALL SELECT is_match, 'len_bucket', g4 FROM j),
        ag AS (SELECT field,
            CAST(sum(CASE WHEN is_match = 1 THEN agr ELSE 0 END)
              AS BIGINT) AS m_agree,
            CAST(sum(is_match) AS BIGINT) AS n_match,
            CAST(sum(CASE WHEN is_match = 0 THEN agr ELSE 0 END)
              AS BIGINT) AS u_agree,
            CAST(sum(1 - is_match) AS BIGINT) AS n_nonmatch
          FROM l GROUP BY field)
        SELECT field, m_agree, n_match, u_agree, n_nonmatch,
          ${fsWeightExprs.mkString(",\n          ")}
        FROM ag"""

  // ------------------------------------------------------------ q515

  /** q515 gram width: 5-word exact grams. On this generator's 31-word
    * vocabulary the random-collision space is 31⁵ ≈ 2.9·10⁷ — far above
    * the corpus gram count at every declared SF, so cross-doc gram
    * sharing measures REAL duplication (planted near-dup pairs, exact
    * re-crawls), not chance; at production vocabulary sizes the same
    * argument holds at much shorter widths. */
  val DupGramN = 5

  /** q515 — DUPLICATED-SPAN FRACTION (the exact-substring dedup signal
    * of Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better" — the member of the dedup family the set-based
    * signals deliberately aren't: q30/q32 score whole-document
    * similarity, q300 chunk-level, q102/q113 sampled fingerprints;
    * ExactSubstr asks, PER TOKEN, whether the token sits inside a span
    * that also appears verbatim in ANOTHER document — the signal that
    * catches boilerplate headers, license blocks and quoted reposts
    * inside otherwise-unique documents). Every [[DupGramN]]-word gram
    * is hashed (the q30 portable shingle machinery); a gram is
    * DUPLICATED iff it occurs in ≥ 2 distinct documents; each doc
    * releases its token-coverage of duplicated grams — the exact union
    * of the overlapping [pos, pos+N−1] intervals, computed by the
    * monotone-interval identity Σ min(N, pos − prev_pos) (gram ends
    * are monotone in pos, so the union needs one lag, not a sweep
    * stack). Released: (doc_id, n_words, n_grams, n_dup_grams,
    * covered_tokens, dup_token_ppm); docs with < N words have no grams
    * and no row (the q214 convention).
    *
    * Scale shape: gram explode is linear in corpus tokens (in-row
    * shingle_hashes, q142's discipline); the duplicate census is ONE
    * hash-keyed exchange of (doc, hash) distinct pairs with map-side
    * combine; marking re-joins grams to the census on the SAME hash
    * key (co-partitioned — no second shuffle of the corpus); the
    * interval union is one doc-keyed window + aggregate. This is the
    * shape ExactSubstr actually runs at 100 TB — suffix arrays don't
    * distribute, gram-hash censuses do (the documented trade: grams
    * detect duplicated spans ≥ N tokens; shorter overlaps are below
    * the declared resolution). */
  def q515DupSpanFraction(s: SparkSession, dir: String): DataFrame = {
    val n = DupGramN
    val grams = t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), size(col("ws")).as("n_words"),
        posexplode(expr(s"shingle_hashes(ws, $n)"))
          .as(Seq("pos0", "h")))
      .select(col("doc_id"), col("n_words"),
        (col("pos0") + 1).cast("long").as("pos"), col("h"))
    val dupHashes = grams.select("doc_id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
      .select("h")
    val base = grams.groupBy("doc_id")
      .agg(max("n_words").cast("long").as("n_words"),
        count(lit(1)).as("n_grams"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val dup = grams.join(dupHashes, Seq("h"))
      .withColumn("prev", lag("pos", 1).over(win))
      .withColumn("add", when(col("prev").isNull, lit(n.toLong))
        .otherwise(least(lit(n.toLong), col("pos") - col("prev"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_grams"),
        sum("add").as("covered_tokens"))
    base.join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"), col("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        expr("coalesce(covered_tokens, 0L) * 1000000 div n_words")
          .as("dup_token_ppm"))
  }

  private def q515OracleSql: String = {
    import graft.functions.PortableHash.duckCharFold
    val n = DupGramN
    val gram = (0 until n).map(j => s"ds_t[ds_i + $j]").mkString(", ")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ds_t
          FROM documents),
        g AS (SELECT doc_id, len(ds_t) AS n_words, ds_i AS pos,
            ${duckCharFold(s"concat_ws(' ', $gram)")} AS h
          FROM d, unnest(range(1, len(ds_t) - ${n - 2})) AS ds_u(ds_i)),
        dup AS (SELECT h FROM (
            SELECT h, count(DISTINCT doc_id) AS nd FROM g GROUP BY h)
          WHERE nd >= 2),
        base AS (SELECT doc_id, CAST(max(n_words) AS BIGINT) AS n_words,
            CAST(count(*) AS BIGINT) AS n_grams
          FROM g GROUP BY doc_id),
        dg AS (SELECT g.doc_id, g.pos,
            lag(g.pos) OVER (PARTITION BY g.doc_id ORDER BY g.pos)
              AS prev
          FROM g JOIN dup ON dup.h = g.h),
        cov AS (SELECT doc_id,
            CAST(count(*) AS BIGINT) AS n_dup_grams,
            CAST(sum(CASE WHEN prev IS NULL THEN $n
                 ELSE least($n, pos - prev) END) AS BIGINT)
              AS covered_tokens
          FROM dg GROUP BY doc_id)
        SELECT b.doc_id, b.n_words, b.n_grams,
          COALESCE(c.n_dup_grams, 0) AS n_dup_grams,
          COALESCE(c.covered_tokens, 0) AS covered_tokens,
          COALESCE(c.covered_tokens, 0) * 1000000 // b.n_words
            AS dup_token_ppm
        FROM base b LEFT JOIN cov c ON c.doc_id = b.doc_id"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q515_dup_span_fraction" -> (q515DupSpanFraction _),
    "q350_fellegi_sunter" -> (q350FellegiSunter _),
    "q338_capture_recapture" -> (q338CaptureRecapture _),
    "q318_setsim_threshold_sweep" -> (q318ThresholdSweep _),
    "q314_bcubed_eval" -> (q314BcubedEval _),
    "q301_containment_eval" -> (q301ContainmentEval _),
    "q300_chunk_near_dup" -> (q300ChunkNearDup _),
    "q295_candidate_triage" -> (q295CandidateTriage _),
    "q284_minhash_accuracy" -> (q284MinhashAccuracy _),
    "q503_bbit_minhash" -> (q503BbitMinhash _),
    "q269_lsh_curve" -> (q269LshCurve _),
    "q224_split_leakage" -> (q224SplitLeakage _),
    "q152_incremental_lsh" -> (q152IncrementalLsh _),
    "q139_dedup_eval" -> (q139DedupEval _),
    "q124_source_dup_matrix" -> (q124SourceDupMatrix _),
    "q125_dedup_survivors" -> (q125DedupSurvivors _),
    "q119_embedding_clusters" -> (q119EmbeddingClusters _),
    "q501_adaptive_srp_clusters" -> (q501AdaptiveSrpClusters _),
    "q110_containment_join" -> (q110ContainmentJoin _),
    "q101_setsim_join" -> (q101SetSimJoin _),
    "q30_dedup_minhash_lsh" -> (q30DedupMinhashLsh _),
    "q31_dedup_simhash" -> (q31DedupSimhash _),
    "q32_dedup_ngram_jaccard" -> (q32DedupNgramJaccard _),
    "q33_dedup_embedding" -> (q33DedupEmbedding _),
    "q63_dedup_clusters" -> (q63DedupClusters _),
    "q464_cluster_size_profile" -> (q464ClusterSizeProfile _),
    "q483_dedup_threshold_sweep" -> (q483DedupThresholdSweep _),
    "q494_dedup_savings" -> (q494DedupSavings _),
    "q222_incremental_cc" -> (q222IncrementalCc _),
    "q70_edit_distance" -> (q70EditDistance _),
    "q71_simhash_hamming" -> (q71SimhashHamming _),
    "q87_verify_candidates" -> (q87VerifyCandidates _))

  val oracleSql: Map[String, String] = Map(
    "q515_dup_span_fraction" -> q515OracleSql,
    "q350_fellegi_sunter" -> q350OracleSql,
    "q338_capture_recapture" -> q338OracleSql,
    "q318_setsim_threshold_sweep" -> q318OracleSql,
    "q314_bcubed_eval" -> q314OracleSql,
    "q301_containment_eval" -> q301OracleSql,
    "q300_chunk_near_dup" -> q300OracleSql,
    "q295_candidate_triage" -> q295OracleSql,
    "q284_minhash_accuracy" -> q284OracleSql,
    "q503_bbit_minhash" -> q503OracleSql,
    "q269_lsh_curve" -> q269OracleSql,
    "q224_split_leakage" -> q224OracleSql,
    "q152_incremental_lsh" -> q152OracleSql,
    "q139_dedup_eval" -> q139OracleSql,
    "q124_source_dup_matrix" -> q124OracleSql,
    "q125_dedup_survivors" -> q125OracleSql,
    "q119_embedding_clusters" -> q119OracleSql,
    "q501_adaptive_srp_clusters" -> q501OracleSql,
    "q110_containment_join" -> q110OracleSql,
    "q101_setsim_join" -> q101OracleSql,
    "q30_dedup_minhash_lsh" -> q30OracleSql,
    "q31_dedup_simhash" -> q31OracleSql,
    "q32_dedup_ngram_jaccard" -> q32OracleSql,
    "q33_dedup_embedding" -> q33OracleSql,
    "q63_dedup_clusters" -> q63OracleSql,
    "q464_cluster_size_profile" -> q464OracleSql,
    "q483_dedup_threshold_sweep" -> q483OracleSql,
    "q494_dedup_savings" -> q494OracleSql,
    "q222_incremental_cc" -> q222OracleSql,
    "q70_edit_distance" -> q70OracleSql,
    "q71_simhash_hamming" -> q71OracleSql,
    "q87_verify_candidates" -> q87OracleSql)
}
