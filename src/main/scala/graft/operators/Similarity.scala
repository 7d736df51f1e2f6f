package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.vec_dot
import graft.sources.Tables.{load => t}

/** Approximate-nearest-neighbor search over the embeddings column.
  *
  * Two declared paths (north star):
  *  - q25 (Extensions): brute-force cosine top-k — the exact baseline. A
  *    map-only scan + TakeOrderedAndProject; at 100 TB it reads everything
  *    but shuffles only k rows per partition.
  *  - q29 (here): IVF-style ANN — assign every vector to its nearest
  *    centroid once (a broadcast of #centroids rows), then search only the
  *    probe's cell (nprobe=1). The full-corpus pass drops from
  *    O(n · k_probe) per query to O(n / #cells) — the standard scale path
  *    when queries outnumber corpus rebuilds.
  *
  * Centroids are a deterministic stand-in for a trained codebook (vectors
  * vec_id < 16): k-means iteration order isn't reproducible across engines,
  * and the *query* semantics — assignment, cell restriction, ranked
  * retrieval — are what this operator declares. All vector math runs
  * through the codegen'd `vec_dot` Catalyst expression (same sequential
  * fold as DuckDB's list_dot_product, so the oracle stays bit-exact).
  */
object Similarity {

  val NumCentroids = 16
  val TopK = 10

  /** Embeddings with double-cast vectors and precomputed norms. */
  private[graft] def vectors(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "embeddings")
      .withColumn("ed", col("embedding").cast("array<double>"))
      .withColumn("nrm", sqrt(vec_dot(col("ed"), col("ed"))))
      .select("vec_id", "ed", "nrm")
  }

  /** Nearest-centroid assignment of every vector, fully IN-ROW: the 16
    * centroids collapse to ONE broadcast row holding a cent_id-sorted
    * struct array, and the per-vector argmax is an `array_max` over that
    * array — max cosine first, then max -cent_id, so ties break toward
    * the SMALLEST cent_id exactly like the oracle's
    * `ORDER BY cos DESC, cent_id` rank. Zero shuffle on the corpus side:
    * the earlier formulation (row_number over the corpus×centroids
    * crossJoin) exchanged a ×NumCentroids-expanded corpus because window
    * ranks can't partially aggregate — the canonical 100 TB scale-killer
    * (ScalePathSpec pins its absence). Shared by q29 and q76. */
  private[graft] def assigned(e: DataFrame): DataFrame =
    assigned(e, NumCentroids)

  /** Parameterized twin: k seed centroids instead of the fixed 16 —
    * the hook the q127 k ∝ n deployment rule plugs into. */
  private[graft] def assigned(e: DataFrame, k: Int): DataFrame = {
    e.crossJoin(broadcast(centroidRow(e, k)))
      .select(col("vec_id"), col("ed"), col("nrm"),
        expr("centroid_argmax(ed, nrm, cents)").as("cent_id"))
  }

  /** ONE row holding every centroid as a cent_id-sorted struct array;
    * cached because each occurrence in a consumer plan re-broadcasts it
    * (drivers clearCache between queries) — the cache is
    * O(#centroids·dims). Repeated calls build plan-identical frames, so
    * Spark's cache manager resolves them to the same cached relation. */
  private[graft] def centroidRow(e: DataFrame): DataFrame =
    centroidRow(e, NumCentroids)

  private[graft] def centroidRow(e: DataFrame, k: Int): DataFrame = {
    e.filter(col("vec_id") < k)
      .agg(array_sort(collect_list(struct(
        col("vec_id").as("cent_id"), col("ed").as("ced"),
        col("nrm").as("cnrm")))).as("cents"))
      .cache()
  }

  /** q29 — IVF ANN: nearest-centroid assignment, then top-k within the
    * probe's cell. */
  def q29AnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = vectors(s, dir)
    val assign = assigned(e)
    // the probe's cell AND vector in one broadcast frame (the probe
    // branch prunes to vec_id=0 at the scan): one broadcast job, not two
    val probeInfo = assign.filter(col("vec_id") === 0L)
      .select(col("cent_id").as("pc"), col("ed").as("ped"),
        col("nrm").as("pnrm"))
    assign.join(broadcast(probeInfo), col("cent_id") === col("pc"))
      .withColumn("pcos",
        vec_dot(col("ed"), col("ped")) / (col("nrm") * col("pnrm")))
      .orderBy(col("pcos").desc, col("vec_id"))
      .limit(TopK)
      .select("vec_id")
  }

  private def q29OracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
          sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
        cent AS (SELECT vec_id AS cent_id, ed AS ced, nrm AS cnrm
                 FROM e WHERE vec_id < $NumCentroids),
        assigned AS (SELECT vec_id, ed, nrm, cent_id FROM (
          SELECT e.vec_id, e.ed, e.nrm, c.cent_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.ed, c.ced) / (e.nrm * c.cnrm)
                DESC, c.cent_id) AS rn
          FROM e CROSS JOIN cent c) WHERE rn = 1),
        pc AS (SELECT cent_id FROM assigned WHERE vec_id = 0),
        p AS (SELECT ed AS ped, nrm AS pnrm FROM e WHERE vec_id = 0)
        SELECT a.vec_id FROM assigned a, pc, p
        WHERE a.cent_id = pc.cent_id
        ORDER BY list_dot_product(a.ed, p.ped) / (a.nrm * p.pnrm) DESC,
                 a.vec_id
        LIMIT $TopK"""

  val NumProbes = 5
  val BatchTopK = 3

  /** q76 — BATCHED multi-probe ANN: retrieval in production runs with
    * queries as a TABLE, not a loop — q29 restricted to one probe; here
    * five probes search their IVF cells in a single equi-join on the
    * cell id (probes broadcast; corpus shuffles zero extra rows), then
    * one rank window per probe. Per-probe work stays O(cell), total work
    * O(batch x cell) — the shape that amortizes the corpus pass across
    * the whole query batch at 100 TB. */
  def q76BatchAnn(s: SparkSession, dir: String): DataFrame = {
    // probes + corpus both derive from the assignment projection, but it
    // is deliberately NOT cached: it's O(corpus) wide, and recomputing it
    // is one narrow in-row pass (centroid_argmax over the cached one-row
    // centroid frame inside assigned()) — cheaper than pinning the corpus
    // in memory at scale
    val assign = assigned(vectors(s, dir))
    val probes = assign.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("ed").as("ped"),
        col("nrm").as("pnrm"), col("cent_id"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("pcos").desc, col("vec_id"))
    assign.join(broadcast(probes), "cent_id")
      .withColumn("pcos",
        vec_dot(col("ed"), col("ped")) / (col("nrm") * col("pnrm")))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= BatchTopK)
      .select("probe_id", "vec_id", "rank")
  }

  private def q76OracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
          sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
        cent AS (SELECT vec_id AS cent_id, ed AS ced, nrm AS cnrm
                 FROM e WHERE vec_id < $NumCentroids),
        assigned AS (SELECT vec_id, ed, nrm, cent_id FROM (
          SELECT e.vec_id, e.ed, e.nrm, c.cent_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.ed, c.ced) / (e.nrm * c.cnrm)
                DESC, c.cent_id) AS rn
          FROM e CROSS JOIN cent c) WHERE rn = 1),
        probes AS (SELECT vec_id AS probe_id, ed AS ped, nrm AS pnrm,
                          cent_id
                   FROM assigned WHERE vec_id < $NumProbes)
        SELECT probe_id, vec_id, rank FROM (
          SELECT p.probe_id, a.vec_id,
            CAST(row_number() OVER (PARTITION BY p.probe_id
              ORDER BY list_dot_product(a.ed, p.ped) / (a.nrm * p.pnrm)
                DESC, a.vec_id) AS BIGINT) AS rank
          FROM assigned a JOIN probes p ON a.cent_id = p.cent_id)
        WHERE rank <= $BatchTopK"""

  /** Cells each probe searches under multi-probe (q120). */
  val NProbe = 3

  /** q120 — MULTI-PROBE batched IVF ANN: q76 searched only each probe's
    * own cell (nprobe=1), which caps recall at whatever the single cell
    * holds — the standard IVF recall fix is probing the nprobe NEAREST
    * cells per query. The probe→cell fan-out happens entirely on the
    * probe side: each probe row ranks the centroids IN-ROW over the same
    * one-row broadcast centroid array the assignment uses (an
    * array_sort over #centroids structs — O(k log k) per probe, no
    * shuffle, no corpus involvement) and explodes to its top-nprobe
    * (probe, cell) rows. The corpus side is untouched: same in-row
    * `centroid_argmax` assignment, zero extra shuffle, and the cell
    * equi-join expands each corpus row only by the number of probes
    * whose probed cells hit it (≤ batch × nprobe ÷ #cells in
    * expectation) — never a crossJoin, never ×nprobe on the corpus.
    * A corpus vector belongs to exactly ONE cell, so no (probe, vector)
    * pair can join twice — no dedup pass needed before the rank. */
  def q120MultiprobeAnn(s: SparkSession, dir: String): DataFrame = {
    val e = vectors(s, dir)
    val assign = assigned(e)
    // per-probe top-nprobe cells: negcos makes the lexicographic
    // struct sort equal the oracle's ORDER BY cos DESC, cent_id (IEEE
    // negation is exact, so ties stay ties)
    val pcells = e.filter(col("vec_id") < NumProbes)
      .crossJoin(broadcast(centroidRow(e)))
      .select(col("vec_id").as("probe_id"), col("ed").as("ped"),
        col("nrm").as("pnrm"),
        explode(expr(
          s"""transform(slice(array_sort(transform(cents,
                c -> struct(-(vec_dot(ed, c.ced) / (nrm * c.cnrm))
                              AS negcos,
                            c.cent_id AS cent_id))), 1, $NProbe),
              x -> x.cent_id)""")).as("cent_id"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("pcos").desc, col("vec_id"))
    assign.join(broadcast(pcells), "cent_id")
      .withColumn("pcos",
        vec_dot(col("ed"), col("ped")) / (col("nrm") * col("pnrm")))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= BatchTopK)
      .select("probe_id", "vec_id", "rank")
  }

  private def q120OracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
          sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
        cent AS (SELECT vec_id AS cent_id, ed AS ced, nrm AS cnrm
                 FROM e WHERE vec_id < $NumCentroids),
        assigned AS (SELECT vec_id, ed, nrm, cent_id FROM (
          SELECT e.vec_id, e.ed, e.nrm, c.cent_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.ed, c.ced) / (e.nrm * c.cnrm)
                DESC, c.cent_id) AS rn
          FROM e CROSS JOIN cent c) WHERE rn = 1),
        pcells AS (SELECT probe_id, ped, pnrm, cent_id FROM (
          SELECT p.vec_id AS probe_id, p.ed AS ped, p.nrm AS pnrm,
            c.cent_id,
            row_number() OVER (PARTITION BY p.vec_id
              ORDER BY list_dot_product(p.ed, c.ced) / (p.nrm * c.cnrm)
                DESC, c.cent_id) AS rn
          FROM e p CROSS JOIN cent c WHERE p.vec_id < $NumProbes)
          WHERE rn <= $NProbe)
        SELECT probe_id, vec_id, rank FROM (
          SELECT pc.probe_id, a.vec_id,
            CAST(row_number() OVER (PARTITION BY pc.probe_id
              ORDER BY list_dot_product(a.ed, pc.ped) / (a.nrm * pc.pnrm)
                DESC, a.vec_id) AS BIGINT) AS rank
          FROM assigned a JOIN pcells pc ON a.cent_id = pc.cent_id)
        WHERE rank <= $BatchTopK"""

  /** q153 — ANN RECALL evaluation: the q120 multi-probe retrieval scored
    * against the exact brute-force top-k per probe (the q139 measurement
    * discipline applied to the ANN family — q120 DECLARES a recall path;
    * this query MEASURES it, per probe, before anyone trusts an nprobe
    * setting at corpus scale). Output: (probe_id, tp, recall_ppm) — tp =
    * how many of the exact top-[[BatchTopK]] the multi-probe search
    * returned.
    *
    * Scale shape: the truth side is the exact baseline — a ×batch
    * broadcast expansion of the corpus with one rank window per probe
    * (the q25 brute-force shape, amortized across the probe batch);
    * expensive by design, which is why production pipelines run it over
    * a probe SAMPLE while the ANN side serves the full load. The
    * comparison itself adds one (probe, vec) semi-join plus a
    * probe-keyed count — both trivially partial-aggregated. */
  def q153AnnEval(s: SparkSession, dir: String): DataFrame = {
    val e = vectors(s, dir)
    val probes = e.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("ed").as("ped"),
        col("nrm").as("pnrm"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("pcos").desc, col("vec_id"))
    val truth = e.crossJoin(broadcast(probes))
      .withColumn("pcos",
        vec_dot(col("ed"), col("ped")) / (col("nrm") * col("pnrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= BatchTopK)
      .select("probe_id", "vec_id")
    val hits = q120MultiprobeAnn(s, dir).select("probe_id", "vec_id")
      .join(truth, Seq("probe_id", "vec_id"), "left_semi")
      .groupBy("probe_id").agg(count(lit(1)).as("tp"))
    probes.select("probe_id")
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("recall_ppm", expr(s"(tp * 1000000) div $BatchTopK"))
  }

  private def q153OracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
          sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
        probes AS (SELECT vec_id AS probe_id, ed AS ped, nrm AS pnrm
                   FROM e WHERE vec_id < $NumProbes),
        truth AS (SELECT probe_id, vec_id FROM (
          SELECT p.probe_id, a.vec_id,
            row_number() OVER (PARTITION BY p.probe_id
              ORDER BY list_dot_product(a.ed, p.ped) / (a.nrm * p.pnrm)
                DESC, a.vec_id) AS rn
          FROM e a CROSS JOIN probes p) WHERE rn <= $BatchTopK),
        ann AS (SELECT probe_id, vec_id FROM ($q120OracleSql) z),
        hits AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS tp
                 FROM ann JOIN truth USING (probe_id, vec_id)
                 GROUP BY probe_id)
        SELECT p.probe_id, COALESCE(h.tp, CAST(0 AS BIGINT)) AS tp,
               (COALESCE(h.tp, CAST(0 AS BIGINT)) * 1000000)
                 // $BatchTopK AS recall_ppm
        FROM probes p LEFT JOIN hits h ON p.probe_id = h.probe_id"""

  /** q215 — MRR (mean reciprocal rank) evaluation of the multi-probe
    * ANN: q153 measures set RECALL, which is blind to ORDER — an index
    * that buries the true nearest neighbor at the bottom of every
    * result list scores the same recall as one that ranks it first.
    * MRR is the standard graded complement: per probe, the exact
    * non-self nearest neighbor (self excluded — its cosine is
    * identically 1 and would make every metric vacuous) is located in
    * the ANN's self-excluded ranking, and the reciprocal rank is
    * declared in exact integer ppm (10⁶ div rank; 0 when the ANN missed
    * it entirely). The mean over probes is derivable; per-probe rows
    * keep the differential sharp. Float-free ranks: the only doubles
    * are the cosines, computed with the identical fold order both
    * engines (q153 discipline), with vec_id tie-breaks.
    *
    * Scale shape: the truth side is one ×batch broadcast expansion of
    * the corpus (q25's brute-force shape, amortized over the probe
    * batch, run over a probe SAMPLE in production); the ANN side is
    * q120's broadcast-probe cell join; the comparison is one left join
    * on (probe, vec) over probe-batch-sized frames. Nothing new
    * shuffles the corpus. */
  def q215MrrEval(s: SparkSession, dir: String): DataFrame = {
    val e = vectors(s, dir)
    val probes = e.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("ed").as("ped"),
        col("nrm").as("pnrm"))
    val wt = Window.partitionBy("probe_id")
      .orderBy(col("pcos").desc, col("vec_id"))
    val truth1 = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("pcos",
        vec_dot(col("ed"), col("ped")) / (col("nrm") * col("pnrm")))
      .withColumn("rn", row_number().over(wt))
      .filter(col("rn") === 1)
      .select(col("probe_id"), col("vec_id").as("nn_id"))
    val wr = Window.partitionBy("probe_id").orderBy("rank")
    val ann = q120MultiprobeAnn(s, dir)
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("arank", row_number().over(wr).cast("bigint"))
    truth1.join(ann,
        truth1("probe_id") === ann("probe_id") &&
          col("nn_id") === ann("vec_id"), "left")
      .select(truth1("probe_id"), col("nn_id"),
        coalesce(col("arank"), lit(0L)).as("ann_rank"))
      .withColumn("rr_ppm",
        when(col("ann_rank") > 0, expr("1000000 div ann_rank"))
          .otherwise(lit(0L)))
  }

  private def q215OracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
          sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
        probes AS (SELECT vec_id AS probe_id, ed AS ped, nrm AS pnrm
                   FROM e WHERE vec_id < $NumProbes),
        truth1 AS (SELECT probe_id, vec_id AS nn_id FROM (
          SELECT p.probe_id, a.vec_id,
            row_number() OVER (PARTITION BY p.probe_id
              ORDER BY list_dot_product(a.ed, p.ped) / (a.nrm * p.pnrm)
                DESC, a.vec_id) AS rn
          FROM e a CROSS JOIN probes p
          WHERE a.vec_id <> p.probe_id) WHERE rn = 1),
        ann AS (SELECT probe_id, vec_id,
            row_number() OVER (PARTITION BY probe_id ORDER BY rank)
              AS arank
          FROM ($q120OracleSql) z WHERE vec_id <> probe_id)
        SELECT t.probe_id, t.nn_id,
          CAST(COALESCE(a.arank, 0) AS BIGINT) AS ann_rank,
          CAST(CASE WHEN a.arank IS NULL THEN 0
                    ELSE 1000000 // a.arank END AS BIGINT) AS rr_ppm
        FROM truth1 t LEFT JOIN ann a
          ON t.probe_id = a.probe_id AND t.nn_id = a.vec_id"""

  /** Gram-matrix dimensionality (the embeddings tables are 64-wide at
    * every SF). */
  val GramDims = 64

  /** q154 — distributed GRAM MATRIX over int8-quantized embeddings: the
    * d×d second-moment matrix G[i,j] = Σ_v q_v[i]·q_v[j] every classical
    * reduction (PCA via covariance, random-projection calibration,
    * whitening) starts from — computed as the textbook outer-product
    * partial aggregation. Quantization reuses q91's per-vector int8
    * scheme (exact integer products — what makes a cross-engine
    * differential possible where float Gram sums drift by order).
    *
    * Scale shape: quantization and the upper-triangle outer product are
    * fully IN-ROW (array HOFs — no posexplode shuffle, no per-vector
    * groupBy); the only shuffle is the (i, j)-keyed sum, which map-side
    * combines to ≤ d(d+1)/2 = 2080 rows per partition
    * REGARDLESS of corpus size — the defining property of a mergeable
    * moment sketch (q94's discipline applied to a matrix). Integer
    * addition commutes, so partitioning never changes a cell. */
  /** Per-vector int8-quantized embeddings (column `qe`: array<bigint>)
    * — q154's quantization scheme, shared with q344. */
  private def quantizedVecs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .withColumn("ed", col("embedding").cast("array<double>"))
      .withColumn("gm_mx", expr("array_max(transform(ed, x -> abs(x)))"))
      .withColumn("qe", expr(
        """transform(ed, v -> CAST(floor(
             CASE WHEN gm_mx = 0 THEN 0.0 ELSE v * 127.0 / gm_mx END)
           AS BIGINT))"""))

  /** DuckDB twin of [[quantizedVecs]]: CTEs `ex`/`mx`/`q` (per-dim
    * quantized rows) and `qarr` (per-vector quantized array). */
  private val quantCtes: String =
    s"""ex AS (SELECT vec_id, unnest(range(0, $GramDims)) AS dim,
            unnest(CAST(embedding AS DOUBLE[])) AS v FROM embeddings),
        mx AS (SELECT vec_id, max(abs(v)) AS mx FROM ex GROUP BY vec_id),
        q AS (SELECT ex.vec_id, ex.dim,
                CAST(floor(CASE WHEN mx = 0 THEN 0.0
                           ELSE v * 127.0 / mx END) AS BIGINT) AS qv
              FROM ex JOIN mx ON ex.vec_id = mx.vec_id),
        qarr AS (SELECT vec_id, list(qv ORDER BY dim) AS qe
                 FROM q GROUP BY vec_id)"""

  /** One-pass [[graft.functions.GramMomentsAgg]] census over a frame
    * with an `array<bigint>` column named `vcol`: single row
    * `mb = [n, s_0..s_{d-1}, g_upper(0,0)..g_upper(d-1,d-1)]`.
    *
    * Round-12 optimization (guide §2.3/§4): replaces the per-vector
    * d(d+1)/2-struct HOF explode + corpus-sized shuffle the whole Gram
    * family (q154/q315/q344/q351/q450) ran with — the sums are the
    * same wrapping-long integer adds in the same commutative algebra,
    * so every cell is bit-identical (GramMomentsSpec), but the shuffle
    * carries ONE 2145-long buffer per map partition instead of
    * n·2080 rows. */
  private def gramMomentsRow(vecs: DataFrame, vcol: String): DataFrame = {
    // n > 0 guard: a no-GROUP-BY TypedImperativeAggregate always emits
    // one row, so an EMPTY relation would yield an all-zero buffer —
    // the replaced explode+groupBy form (and the DuckDB oracles)
    // return an empty result there, and q351/q450 would divide by
    // zero. mb[1] is the row count; the filter is one row of work.
    vecs.agg(expr(s"gram_moments($vcol, $GramDims)").as("mb"))
      .filter(expr("element_at(mb, 1) > 0"))
  }

  /** Upper-triangle (i, j, g) rows decoded from a [[gramMomentsRow]]
    * buffer: the d(d+1)/2-row explode now runs on ONE row, not per
    * vector. Row-major offset: cell (i, j), j ≥ i, sits at
    * i·(2d−i+1)/2 + (j−i) within the g block (block starts after the
    * count + d sums; element_at is 1-based). */
  private def gramCellsFromRow(row: DataFrame): DataFrame = {
    val d = GramDims
    row.select(explode(expr(
        s"""flatten(transform(sequence(0, ${d - 1}), i ->
              transform(sequence(i, ${d - 1}), j ->
                struct(CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
                  element_at(mb, CAST(2 + $d
                    + (i * (2 * $d - i + 1)) div 2 + (j - i) AS INT))
                    AS g))))""")).as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"), col("c.g").as("g"))
  }

  def q154GramMatrix(s: SparkSession, dir: String): DataFrame =
    gramCellsFromRow(gramMomentsRow(quantizedVecs(s, dir), "qe"))

  private def q154OracleSql: String =
    s"""WITH $quantCtes,
        cells AS (SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
              qe[i + 1] * qe[j + 1] AS p
            FROM qarr, range(0, $GramDims) r1(i), range(0, $GramDims) r2(j)
            WHERE j >= i)
        SELECT i, j, CAST(sum(p) AS BIGINT) AS g
        FROM cells GROUP BY i, j"""

  /** Library API: exact top-k cosine neighbors of an arbitrary probe
    * vector (brute force, codegen'd dot product). */
  def topKCosine(embeddings: DataFrame, probe: Array[Double], k: Int)
      : DataFrame = {
    val probeLit = array(probe.toIndexedSeq.map(lit): _*)
    embeddings
      .withColumn("ed", col("embedding").cast("array<double>"))
      .withColumn("p", probeLit)
      .withColumn("sim", vec_dot(col("ed"), col("p")) /
        (sqrt(vec_dot(col("ed"), col("ed"))) *
          sqrt(vec_dot(col("p"), col("p")))))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
      .select("vec_id", "sim")
  }

  /** q52 — LSH-bucketed ANN: the SRP sign-bucket machinery from q33
    * applied to SEARCH — rank only the probe's bucket (the LSH analog of
    * q29's IVF cell restriction; recall grows with fewer planes or
    * multi-probe across neighboring buckets). */
  def q52AnnLsh(s: SparkSession, dir: String): DataFrame = {
    val bucketTerms = (0 until Dedup.NumPlanes).map { p =>
      s"(CASE WHEN vec_dot(ed, ${planeLitSpark(p)}) >= 0D " +
        s"THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")
    val e = t(s, dir, "embeddings")
      .withColumn("ed", col("embedding").cast("array<double>"))
      .withColumn("nrm", sqrt(vec_dot(col("ed"), col("ed"))))
      .withColumn("bucket", expr(bucketTerms))
    val probe = e.filter(col("vec_id") === 0L)
      .select(col("ed").as("ped"), col("nrm").as("pnrm"),
        col("bucket").as("pbucket"))
    e.join(broadcast(probe), col("bucket") === col("pbucket"))
      .withColumn("sim",
        vec_dot(col("ed"), col("ped")) / (col("nrm") * col("pnrm")))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(TopK)
      .select("vec_id")
  }

  private def planeLitSpark(p: Int): String =
    Dedup.planes(p).map(v => s"${v}D").mkString("array(", ", ", ")")

  private def planeLitDuck(p: Int): String =
    Dedup.planes(p).map(_.toString).mkString("[", ", ", "]")

  private def q52OracleSql: String = {
    val bucketTerms = (0 until Dedup.NumPlanes).map { p =>
      s"(CASE WHEN list_dot_product(ed, ${planeLitDuck(p)}) >= 0 " +
        s"THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
          sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
        b AS (SELECT vec_id, ed, nrm, $bucketTerms AS bucket FROM e),
        p AS (SELECT ed AS ped, nrm AS pnrm, bucket AS pbucket
              FROM b WHERE vec_id = 0)
        SELECT x.vec_id FROM b x, p
        WHERE x.bucket = p.pbucket
        ORDER BY list_dot_product(x.ed, p.ped) / (x.nrm * p.pnrm) DESC,
                 x.vec_id
        LIMIT $TopK"""
  }

  /** Row shape feeding the typed top-k aggregator. */
  final case class LabeledScore(label: Int, id: Long, score: Double)

  /** q42 — grouped top-k: the 3 most probe-similar vectors per label, via
    * the typed TopKByScore Aggregator (bounded O(k) partial state per
    * group per partition instead of a full window sort — see
    * TopKAggregator.scala). */
  def q42TopkPerLabel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
      .withColumn("ed", col("embedding").cast("array<double>"))
      .withColumn("nrm", sqrt(vec_dot(col("ed"), col("ed"))))
    val probe = e.filter(col("vec_id") === 0L)
      .select(col("ed").as("ped"), col("nrm").as("pnrm"))
    val scored = e.crossJoin(broadcast(probe))
      .select(
        col("label"),
        col("vec_id").as("id"),
        (vec_dot(col("ed"), col("ped")) /
          (col("nrm") * col("pnrm"))).as("score"))
      .as[LabeledScore]
    val topk = graft.functions.TopKByScore[LabeledScore](
      3, r => graft.functions.Scored(r.id, r.score))
    scored.groupByKey(_.label)
      .agg(topk.toColumn.name("ids"))
      .flatMap { case (label, ids) =>
        ids.zipWithIndex.map { case (id, i) =>
          (label, id, (i + 1).toLong)
        }
      }
      .toDF("label", "vec_id", "rank")
  }

  private def q42OracleSql: String =
    """WITH p AS (SELECT CAST(embedding AS DOUBLE[]) AS pv,
          sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[]))) AS pn
        FROM embeddings WHERE vec_id = 0),
        s AS (SELECT e.label, e.vec_id,
          list_dot_product(CAST(e.embedding AS DOUBLE[]), p.pv) /
            (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                   CAST(e.embedding AS DOUBLE[]))) * p.pn)
            AS sim
        FROM embeddings e, p)
        SELECT label, vec_id, CAST(rn AS BIGINT) AS rank FROM (
          SELECT label, vec_id,
            row_number() OVER (PARTITION BY label
              ORDER BY sim DESC, vec_id) AS rn
          FROM s) WHERE rn <= 3"""

  /** Fixed-point scale for q86's quantized centroid sums: 2^20. Float32
    * values are exact binary fractions, so value·2^20 is exact in double
    * and `floor` is unambiguous on both engines — no banker's-rounding
    * divergence, no float-sum association order in the differential. */
  val CentroidScale = 1048576L

  /** q86 — per-label embedding centroids (the codebook-build step IVF
    * search consumes, and the class-prototype pass of dataset curation):
    * sum each of the 64 dimensions per label in quantized fixed-point.
    * Scale shape: posexplode fans each vector into 64 (label, dim, v)
    * rows, but the sum is partially aggregated map-side, so the ONE
    * shuffle carries O(labels × dims) rows — never O(corpus). Output is
    * exact integers (qsum at 2^-20 resolution, n) so the differential is
    * bit-stable; mean = qsum / (n · 2^20) in the consumer. */
  def q86LabelCentroids(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("label"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(
        sum(floor(col("v") * CentroidScale)).cast("bigint").as("qsum"),
        count(lit(1)).as("n"))

  private def q86OracleSql: String =
    // zip two unnests (DuckDB has no WITH ORDINALITY): positional zip of
    // the 64 values with 0..63
    s"""WITH x AS (SELECT label,
          unnest(range(0, 64)) AS dim,
          unnest(CAST(embedding AS DOUBLE[])) AS v
        FROM embeddings)
        SELECT label, CAST(dim AS INT) AS dim,
               CAST(sum(CAST(floor(v * $CentroidScale) AS BIGINT))
                    AS BIGINT) AS qsum,
               count(*) AS n
        FROM x GROUP BY label, dim"""

  /** q91 — symmetric int8 QUANTIZATION of the embedding column (the 4×
    * memory/bandwidth compression step production ANN indexes apply
    * before sharding): per-vector scale = max |v|, q_i = floor(v_i ·
    * 127 / scale). Declared output is the quantization DIAGNOSTICS —
    * (vec_id, qmin, qmax, dim-weighted checksum) — exact integers, so
    * the differential pins every quantized value through the checksum
    * without emitting arrays (driver-compare-safe). Both engines run
    * the identical double expression text, so the floor is
    * bit-deterministic. Scale shape: one narrow pass + two aggregates
    * on vec_id — the explode never crosses the wire unreduced. */
  def q91QuantizeEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val ex = t(s, dir, "embeddings")
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("dim", "v")))
    val mx = ex.groupBy("vec_id").agg(max(abs(col("v"))).as("mx"))
    // mx = 0 (an all-zero vector) would make v/mx NaN, and CAST(NaN AS
    // BIGINT) throws under Spark 4 ANSI mode — define q = 0 instead,
    // with the identical CASE text on the oracle side
    ex.join(mx, "vec_id")
      .select(col("vec_id"), col("dim"),
        expr("CAST(floor(CASE WHEN mx = 0 THEN 0.0 ELSE v * 127.0 / mx END) AS BIGINT)")
          .as("q"))
      .groupBy("vec_id")
      .agg(
        min("q").as("qmin"),
        max("q").as("qmax"),
        sum(col("q") * (col("dim") + 1)).cast("bigint").as("checksum"))
  }

  private def q91OracleSql: String =
    """WITH ex AS (SELECT vec_id,
          unnest(range(0, 64)) AS dim,
          unnest(CAST(embedding AS DOUBLE[])) AS v
        FROM embeddings),
        mx AS (SELECT vec_id, max(abs(v)) AS mx FROM ex GROUP BY vec_id),
        q AS (SELECT ex.vec_id, ex.dim,
                CAST(floor(CASE WHEN mx = 0 THEN 0.0 ELSE v * 127.0 / mx END) AS BIGINT) AS q
              FROM ex JOIN mx ON ex.vec_id = mx.vec_id)
        SELECT vec_id, min(q) AS qmin, max(q) AS qmax,
               CAST(sum(q * (dim + 1)) AS BIGINT) AS checksum
        FROM q GROUP BY vec_id"""

  /** q111 — one k-means (Lloyd) REFINEMENT step over the embeddings:
    * rebuild each label's centroid from its members (the q86 codebook,
    * kept in exact quantized integers), then re-assign every vector to
    * its nearest centroid by cosine — declared output is the
    * (label, cluster, n) confusion matrix of the step, the convergence
    * signal an iterative clusterer watches. This is the missing piece
    * between q86 (codebook BUILD) and q29/q76 (codebook SEARCH):
    * the training iteration itself.
    *
    * Bit-stability across engines: centroid dim values are
    * qsum / (n · 2^20) where qsum = Σ floor(v·2^20) is an exact-integer
    * sum (order-independent — a naive float mean would drift with
    * partitioning); the division and the sequential-fold dot product
    * (codegen'd `centroid_argmax`, same order as DuckDB's
    * list_dot_product over a dim-ordered list) are deterministic IEEE
    * ops, so the argmax is hash-comparable. Scale shape: the ONE
    * corpus-bearing shuffle is the per-(label, dim) partial-aggregated
    * census (O(labels × dims) rows out); assignment is the same
    * broadcast one-row in-row argmax as q29 — zero corpus shuffle —
    * and the confusion matrix is O(labels²). */
  def q111KmeansRefine(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .withColumn("ed", col("embedding").cast("array<double>"))
      .withColumn("nrm", sqrt(vec_dot(col("ed"), col("ed"))))
      .select(col("vec_id"), col("label"), col("ed"), col("nrm"))
    val ex = e.select(col("label").cast("bigint").as("cl"),
      posexplode(col("ed")).as(Seq("dim", "v")))
    val cd = ex.groupBy("cl", "dim")
      .agg(sum(floor(col("v") * CentroidScale)).cast("bigint").as("qsum"),
        count(lit(1)).as("n"))
      .select(col("cl"), col("dim"),
        (col("qsum").cast("double") / (col("n") * lit(1048576.0)))
          .as("c"))
    val cdl = cd.groupBy("cl")
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("c")))),
        x => x.getField("c")).as("ced"))
      .withColumn("cnrm", sqrt(vec_dot(col("ced"), col("ced"))))
    val cents = cdl.agg(array_sort(collect_list(struct(
      col("cl").as("cent_id"), col("ced"), col("cnrm")))).as("cents"))
    e.crossJoin(broadcast(cents))
      .select(col("label"),
        expr("centroid_argmax(ed, nrm, cents)").as("cluster"))
      .groupBy("label", "cluster")
      .agg(count(lit(1)).as("n"))
  }

  private def q111OracleSql: String =
    s"""WITH e AS (SELECT vec_id, label,
          CAST(embedding AS DOUBLE[]) AS ed
        FROM embeddings),
        ex AS (SELECT CAST(label AS BIGINT) AS cl,
          unnest(range(0, 64)) AS dim, unnest(ed) AS v FROM e),
        cs AS (SELECT cl, dim,
          CAST(sum(CAST(floor(v * $CentroidScale) AS BIGINT)) AS BIGINT)
            AS qsum,
          count(*) AS n
        FROM ex GROUP BY cl, dim),
        cd AS (SELECT cl, dim,
          CAST(qsum AS DOUBLE) / (n * 1048576.0) AS c FROM cs),
        cdl AS (SELECT cl, list(c ORDER BY dim) AS ced FROM cd GROUP BY cl),
        a AS (SELECT e.vec_id, e.label, l.cl,
          list_dot_product(e.ed, l.ced) /
            (sqrt(list_dot_product(e.ed, e.ed)) *
             sqrt(list_dot_product(l.ced, l.ced))) AS cos
        FROM e CROSS JOIN cdl l),
        pick AS (SELECT vec_id, label, cl FROM (
          SELECT a.*, row_number() OVER (PARTITION BY vec_id
            ORDER BY cos DESC, cl) AS rn FROM a) WHERE rn = 1)
        SELECT label, cl AS cluster, count(*) AS n
        FROM pick GROUP BY label, cl"""

  /** Cosine threshold above which two same-cell vectors count as
    * semantic duplicates (shared with q33's SRP near-dup so the two
    * recall surfaces are comparable). */
  val SemDedupTau: Double = Dedup.CosineTau

  /** q127 — SemDeDup-style SEMANTIC dedup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus (here the q29 IVF cells —
    * nearest-centroid assignment), then compare vectors ONLY within
    * their cell and drop every vector that has a higher-cosine-than-τ
    * neighbor with a smaller vec_id; the smallest such neighbor is the
    * reported keeper. This is the embedding-space answer to q63's
    * text-side cluster resolution, and the third member of the dedup
    * triptych: exact (q23) → lexical near-dup (q30–q32) → semantic
    * (here).
    *
    * Scale shape: assignment is the zero-corpus-shuffle in-row
    * `centroid_argmax` (one broadcast centroid row); the ONLY shuffle
    * is the self-join on cent_id, and pair volume is Σ|cell|² — kept
    * LINEAR by the k ∝ n rule: the cell count is
    * max(NumCentroids, n div SemDedupCellTarget), so expected cell
    * population stays ~SemDedupCellTarget and Σ|cell|² ≈
    * n·SemDedupCellTarget/2 grows ∝ n. Since round 11 the DECLARED
    * query applies the same rule (the oracle's centroid bound is
    * `greatest(16, n div 128)` off a count CTE — at sf ≤ 0.1 it
    * floors to the legacy 16, so small-SF results are unchanged; the
    * sf10 endurance run measured the pinned-16 form at raw exp 1.84).
    * HONEST ASYMPTOTICS: k ∝ n makes the PAIR stage linear but the
    * ASSIGNMENT stage n·k = n²/128 dots — still quadratic FLOPs, just
    * with a 4× smaller constant than the pinned form's pair volume at
    * sf10 (SemDeDup itself pays this via GPU k-means). The fully
    * LINEAR embedding-dedup member is q501's log-geometry SRP
    * clustering; SCALING.md's round-11 section carries all three
    * measured curves. Nothing all-pairs, no window over the corpus;
    * the final keeper/count aggregate partial-aggregates map-side on
    * vec_id. */
  def q127Semdedup(s: SparkSession, dir: String): DataFrame = {
    val e = vectors(s, dir)
    q127Semdedup(s, dir, semdedupCells(e.count()))
  }

  /** k ∝ n: one seed centroid per SemDedupCellTarget vectors, floored
    * at the legacy 16. The count() is one planning-statistic pre-job
    * over the narrow (vec_id) projection. */
  def semdedupCells(n: Long): Int =
    math.max(NumCentroids.toLong, n / SemDedupCellTarget).toInt

  /** Target expected cell population under k = n div target. */
  val SemDedupCellTarget = 128L

  /** Explicit-k twin (the differential's pinned test seed, and the
    * deployment override). */
  def q127Semdedup(s: SparkSession, dir: String, k: Int): DataFrame = {
    val assign = assigned(vectors(s, dir), k)
    val a = assign.as("a")
    val b = assign.as("b")
    a.join(b,
        col("a.cent_id") === col("b.cent_id") &&
          col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos",
        vec_dot(col("a.ed"), col("b.ed")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("cos") >= SemDedupTau)
      .select(col("b.vec_id").as("vec_id"), col("a.vec_id").as("kept"))
      .groupBy("vec_id")
      .agg(min("kept").as("keeper"), count(lit(1)).as("n_dup_neighbors"))
  }

  private def q127OracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
          sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
        cnt AS (SELECT greatest($NumCentroids,
                  CAST(count(*) AS BIGINT) // $SemDedupCellTarget) AS k
                FROM e),
        cent AS (SELECT vec_id AS cent_id, ed AS ced, nrm AS cnrm
                 FROM e, cnt WHERE vec_id < k),
        assigned AS (SELECT vec_id, ed, nrm, cent_id FROM (
          SELECT e.vec_id, e.ed, e.nrm, c.cent_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.ed, c.ced) / (e.nrm * c.cnrm)
                DESC, c.cent_id) AS rn
          FROM e CROSS JOIN cent c) WHERE rn = 1),
        p AS (SELECT b.vec_id AS vec_id, a.vec_id AS kept
              FROM assigned a JOIN assigned b
                ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
              WHERE list_dot_product(a.ed, b.ed) / (a.nrm * b.nrm)
                      >= $SemDedupTau)
        SELECT vec_id, min(kept) AS keeper,
               count(*) AS n_dup_neighbors
        FROM p GROUP BY vec_id"""

  /** Stage-1 candidate pool size for the quantized prefilter. */
  val RerankPool = 50

  /** q128 — two-stage retrieval: int8-QUANTIZED prefilter, exact
    * re-rank. Stage 1 scores every vector against the probe with the
    * integer dot product of their q91-style int8 codes (4× less memory
    * bandwidth than the float scan — the reason production indexes
    * quantize) and keeps the top-$RerankPool by (qdot, vec_id); stage 2
    * re-ranks ONLY that pool with the exact double cosine and returns
    * top-$TopK (vec_id, rank). Completes the quantization story:
    * q91 builds the codes, this query searches with them.
    *
    * The stage-1 score corrects the codes with the two per-vector
    * scales — qdot · mx·pmx / (127²·nrm·pnrm) ≈ cosine — exactly how
    * production int8 indexes score (codes + one float scale per
    * vector; the raw integer dot alone is norm-biased and its recall
    * collapses on mixed-norm corpora). Determinism: codes are exact
    * integers (same floor/CASE text as q91 both engines), the
    * correction is one deterministic IEEE multiply/divide with
    * identical text both engines, and every rank tie-breaks on vec_id.
    * Scale shape: stage 1 is one narrow scan +
    * TakeOrderedAndProject (O(pool) rows cross the wire per
    * partition); stage 2 is a window over $RerankPool rows — the
    * corpus is never shuffled, never joined pairwise. */
  def q128RerankAnn(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .withColumn("ed", col("embedding").cast("array<double>"))
      .withColumn("nrm", sqrt(vec_dot(col("ed"), col("ed"))))
      .withColumn("mx", expr("array_max(transform(ed, qv -> abs(qv)))"))
      .withColumn("qed", expr(
        """transform(ed, qv -> CAST(floor(CASE WHEN mx = 0 THEN 0.0
             ELSE qv * 127.0 / mx END) AS DOUBLE))"""))
      .select("vec_id", "ed", "nrm", "mx", "qed")
    val probe = e.filter(col("vec_id") === 0L)
      .select(col("ed").as("ped"), col("nrm").as("pnrm"),
        col("mx").as("pmx"), col("qed").as("pqed"))
    val pool = e.crossJoin(broadcast(probe))
      .withColumn("qsim",
        vec_dot(col("qed"), col("pqed")) * col("mx") * col("pmx") /
          (lit(16129.0) * col("nrm") * col("pnrm")))
      .orderBy(col("qsim").desc, col("vec_id"))
      .limit(RerankPool)
    pool
      .withColumn("cos",
        vec_dot(col("ed"), col("ped")) / (col("nrm") * col("pnrm")))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cos").desc, col("vec_id"))).cast("bigint"))
      .filter(col("rank") <= TopK)
      .select("vec_id", "rank")
  }

  private def q128OracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
          sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
        q AS (SELECT vec_id, ed, nrm,
          list_max(list_transform(ed, av -> abs(av))) AS mx,
          list_transform(ed, qv -> CAST(floor(CASE WHEN
              list_max(list_transform(ed, av -> abs(av))) = 0 THEN 0.0
            ELSE qv * 127.0 / list_max(list_transform(ed, av -> abs(av)))
            END) AS DOUBLE)) AS qed
        FROM e),
        p AS (SELECT ed AS ped, nrm AS pnrm, mx AS pmx, qed AS pqed
              FROM q WHERE vec_id = 0),
        pool AS (SELECT vec_id, ed, nrm, ped, pnrm FROM (
          SELECT q.vec_id, q.ed, q.nrm, p.ped, p.pnrm,
            row_number() OVER (ORDER BY
              list_dot_product(q.qed, p.pqed) * q.mx * p.pmx /
                (16129.0 * q.nrm * p.pnrm) DESC,
              q.vec_id) AS rn
          FROM q, p) WHERE rn <= $RerankPool)
        SELECT vec_id, rank FROM (
          SELECT vec_id, CAST(row_number() OVER (ORDER BY
            list_dot_product(ed, ped) / (nrm * pnrm) DESC, vec_id)
            AS BIGINT) AS rank
          FROM pool) WHERE rank <= $TopK"""

  /** Picks for q133's diverse selection; trade-off λ = 0.7. */
  val MmrK = 10

  /** q133 — MAXIMAL MARGINAL RELEVANCE selection (Carbonell & Goldstein
    * 1998): greedily pick $MmrK vectors maximizing
    * 0.7·relevance − 0.3·max-similarity-to-already-picked — the
    * diverse-subset step curation runs when the top-k by relevance
    * alone is redundant (near-identical docs crowd the head). Output is
    * (vec_id, pick) — the selection order IS the diversity ranking.
    *
    * Scale shape: relevance scoring is the same one narrow corpus scan
    * + TakeOrderedAndProject as q128; the greedy loop then runs
    * ENTIRELY on the $RerankPool-row checkpointed pool (bounded,
    * corpus-independent): each of the $MmrK−1 rounds is an anti-join +
    * a broadcast of the ≤$MmrK selected rows + one argmax — tiny fixed
    * work, `localCheckpoint` per round exactly like [[Graph.pageRank]]
    * so the plan never compounds. Nothing after the pool cut touches
    * the corpus; no driver-side collect anywhere.
    *
    * Determinism: every cosine is the same sequential-fold `vec_dot`
    * text as the oracle's list_dot_product; `max` over doubles is
    * order-independent; every argmax tie-breaks on vec_id. The oracle
    * replays the identical greedy chain as generated MATERIALIZED CTE
    * steps (materialization keeps DuckDB's planning linear, as the
    * checkpoints do for Spark). */
  def q133MmrSelect(s: SparkSession, dir: String): DataFrame = {
    val e = vectors(s, dir)
    val probe = e.filter(col("vec_id") === 0L)
      .select(col("ed").as("ped"), col("nrm").as("pnrm"))
    val pool = e.crossJoin(broadcast(probe))
      .withColumn("rel",
        vec_dot(col("ed"), col("ped")) / (col("nrm") * col("pnrm")))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(RerankPool)
      .select("vec_id", "ed", "nrm", "rel")
      .localCheckpoint(true)
    val (sel, _, _) = Iterate("mmr",
        pool.orderBy(col("rel").desc, col("vec_id")).limit(1)
          .select(col("vec_id"), col("ed").as("sed"),
            col("nrm").as("snrm"), lit(1L).as("pick"))
          .localCheckpoint(true), MmrK - 1) { (sel, round) =>
      val scored = pool
        .join(sel.select("vec_id"), Seq("vec_id"), "left_anti")
        .crossJoin(broadcast(sel.select("sed", "snrm")))
        .withColumn("simsel",
          vec_dot(col("ed"), col("sed")) / (col("nrm") * col("snrm")))
        .groupBy("vec_id", "rel")
        .agg(max("simsel").as("maxsim"))
        .withColumn("score", expr("0.7 * rel - 0.3 * maxsim"))
      val next = scored
        .orderBy(col("score").desc, col("vec_id"))
        .limit(1)
        .select("vec_id")
        .join(pool, Seq("vec_id"))
        .select(col("vec_id"), col("ed").as("sed"),
          col("nrm").as("snrm"), lit(round + 1L).as("pick"))
      sel.unionByName(next)
    }()
    sel.select("vec_id", "pick")
  }

  private def q133OracleSql: String = {
    val steps = (2 to MmrK).map { k =>
      s"""s$k AS MATERIALIZED (
            SELECT vec_id, CAST($k AS BIGINT) AS pick FROM (
              SELECT p.vec_id,
                0.7 * p.rel - 0.3 * max(
                  list_dot_product(p.ed, q.ed) / (p.nrm * q.nrm))
                  AS score
              FROM pool p
              JOIN sel${k - 1} sv ON TRUE
              JOIN pool q ON q.vec_id = sv.vec_id
              WHERE p.vec_id NOT IN (SELECT vec_id FROM sel${k - 1})
              GROUP BY p.vec_id, p.rel
              ORDER BY score DESC, p.vec_id LIMIT 1)),
          sel$k AS MATERIALIZED (
            SELECT * FROM sel${k - 1} UNION ALL SELECT * FROM s$k)"""
    }.mkString(",\n        ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
          sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
        p0 AS (SELECT ed AS ped, nrm AS pnrm FROM e WHERE vec_id = 0),
        pool AS MATERIALIZED (SELECT vec_id, ed, nrm, rel FROM (
          SELECT e.vec_id, e.ed, e.nrm,
            list_dot_product(e.ed, p0.ped) / (e.nrm * p0.pnrm) AS rel,
            row_number() OVER (ORDER BY
              list_dot_product(e.ed, p0.ped) / (e.nrm * p0.pnrm) DESC,
              e.vec_id) AS rn
          FROM e, p0) WHERE rn <= $RerankPool),
        sel1 AS MATERIALIZED (
          SELECT vec_id, CAST(1 AS BIGINT) AS pick FROM pool
          ORDER BY rel DESC, vec_id LIMIT 1),
        $steps
        SELECT vec_id, pick FROM sel$MmrK"""
  }

  /** Neighborhood size for q227's ratio margin. */
  val MarginK = 4

  /** q227 — MARGIN-BASED kNN SCORING (the ratio-margin criterion from
    * margin-based bitext mining, Artetxe & Schwenk 2019): a raw cosine
    * threshold can't separate a genuine match from a HUB — a vector
    * that is everyone's near-neighbor scores high against everything.
    * The margin normalizes by the probe's neighborhood density:
    * margin = cos(p, nn1) · k / Σ_{i=1..k} cos(p, nnᵢ) — 1.0 when the
    * top hit is no better than the probe's generic neighborhood (hub),
    * rising as the match stands out. Declared per probe: the top
    * non-self neighbor and its margin in ppm (floor ×10⁶; NULL on a
    * non-positive denominator — impossible-in-practice, but declared
    * rather than crashing).
    *
    * Determinism: cosines via the codegen'd vec_dot (same sequential
    * fold as DuckDB's list_dot_product); the k-cosine sum folds over
    * the DESC-sorted array on both engines (Spark `aggregate` with 0.0
    * init vs DuckDB list_reduce — 0.0+c₁ ≡ c₁, so both fold
    * ((c₁+c₂)+c₃)+c₄), making the one double division and its floor
    * bit-identical.
    *
    * Scale shape: q153's amortized brute-force truth pass — one corpus
    * scan ×|probe batch| against a broadcast probe frame, a per-probe
    * top-k window on the probe-keyed exchange, then all arithmetic on
    * the k-row-per-probe frame. In production the probe batch is the
    * mining shard and the corpus side swaps to the IVF-restricted
    * candidate set (q120) without touching the margin arithmetic. */
  def q227MarginKnn(s: SparkSession, dir: String): DataFrame = {
    val e = vectors(s, dir)
    val probes = e.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("ed").as("ped"),
        col("nrm").as("pnrm"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("pcos").desc, col("vec_id"))
    e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("pcos",
        vec_dot(col("ed"), col("ped")) / (col("nrm") * col("pnrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= MarginK)
      .groupBy("probe_id")
      .agg(array_sort(collect_list(struct(
        (-col("pcos")).as("nc"), col("vec_id").as("v")))).as("cs"))
      .select(col("probe_id"),
        expr("element_at(cs, 1).v").as("nn_vec_id"),
        expr(s"""CASE WHEN aggregate(cs, CAST(0.0 AS DOUBLE),
                   (acc, x) -> acc + (-x.nc)) <= 0.0 THEN NULL
                 ELSE CAST(floor((-element_at(cs, 1).nc) * $MarginK
                   * 1000000 / aggregate(cs, CAST(0.0 AS DOUBLE),
                     (acc, x) -> acc + (-x.nc))) AS BIGINT)
                 END""").as("margin_ppm"))
  }

  private def q227OracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
          sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
        probes AS (SELECT vec_id AS probe_id, ed AS ped, nrm AS pnrm
                   FROM e WHERE vec_id < $NumProbes),
        ranked AS (SELECT probe_id, vec_id, pcos,
            row_number() OVER (PARTITION BY probe_id
              ORDER BY pcos DESC, vec_id) AS rn
          FROM (SELECT p.probe_id, a.vec_id,
                  list_dot_product(a.ed, p.ped) / (a.nrm * p.pnrm)
                    AS pcos
                FROM e a CROSS JOIN probes p
                WHERE a.vec_id <> p.probe_id) z),
        agg AS (SELECT probe_id,
            list(pcos ORDER BY pcos DESC, vec_id) AS cs,
            list(vec_id ORDER BY pcos DESC, vec_id) AS vs
          FROM ranked WHERE rn <= $MarginK GROUP BY probe_id)
        SELECT probe_id, vs[1] AS nn_vec_id,
          CASE WHEN list_reduce(cs, (ma, mb) -> ma + mb) <= 0.0
               THEN NULL
               ELSE CAST(floor(cs[1] * $MarginK * 1000000
                 / list_reduce(cs, (ma, mb) -> ma + mb)) AS BIGINT)
          END AS margin_ppm
        FROM agg"""

  /** Output dimensionality of q235's projection. */
  val RpDims = 16

  /** q235 — RANDOM-PROJECTION DIMENSIONALITY REDUCTION (the
    * Johnson-Lindenstrauss sketch; Achlioptas ±1 variant): every
    * embedding projected from 64 to 16 dims through the SAME fixed ±1
    * plane family the dedup suite buckets with (Dedup.planesFor — seed
    * 42, PREFIX-STABLE: planes 0..3 are exactly q33's SRP bucket
    * planes, so sign(proj 0..3) IS the q33 bucket, spec-pinned). The
    * compressed representation every downstream ANN/clustering pass
    * wants when 64-dim is too wide to shuffle; released in fixed point
    * (floor ×1000 — the one float product chain is vec_dot's fold,
    * bit-identical to DuckDB's list_dot_product) in long form
    * (vec_id, dim, proj_fp) so the differential sees scalars.
    *
    * Scale shape: purely map-side — 16 codegen'd in-row dot products
    * per vector, zero shuffles, zero joins; the plane matrix is a
    * compile-time literal in the plan (64×16 doubles), not a broadcast.
    * At 100 TB this is the cheapest possible whole-corpus transform. */
  def q235RandomProjection(s: SparkSession, dir: String): DataFrame = {
    val planes = Dedup.planesFor(RpDims)
    val arr = (0 until RpDims).map { p =>
      val litArr = planes(p).map(v => s"${v}D")
        .mkString("array(", ", ", ")")
      s"CAST(floor(vec_dot(ed, $litArr) * 1000) AS BIGINT)"
    }.mkString("array(", ", ", ")")
    vectors(s, dir)
      .select(col("vec_id"), posexplode(expr(arr)))
      .select(col("vec_id"), col("pos").cast("bigint").as("dim"),
        col("col").as("proj_fp"))
  }

  private def q235OracleSql: String = {
    val planes = Dedup.planesFor(RpDims)
    val arms = (0 until RpDims).map { p =>
      val litArr = planes(p).map(_.toString).mkString("[", ", ", "]")
      s"""SELECT vec_id, CAST($p AS BIGINT) AS dim,
          CAST(floor(list_dot_product(ed, $litArr) * 1000) AS BIGINT)
            AS proj_fp FROM e"""
    }.mkString("\n UNION ALL\n ")
    s"""WITH e AS MATERIALIZED (SELECT vec_id,
          CAST(embedding AS DOUBLE[]) AS ed FROM embeddings)
        $arms"""
  }

  /** q241 probe-batch size and neighborhood. */
  val KnnProbes = 50
  val KnnK = 5

  /** q241 — kNN CLASSIFICATION EVAL (the label-quality probe every
    * embedding pipeline runs: if a vector's neighbors don't share its
    * label, either the embedding or the labeling is wrong — the
    * cheapest leading indicator for both): for each of 50 probe
    * vectors, the majority label among its 5 nearest non-self
    * neighbors (exact cosine; ties count DESC then label ASC — the
    * q147 deterministic-argmax discipline), released per probe with
    * the actual label and the hit flag, so accuracy AND the specific
    * misclassified probes are in the differential.
    *
    * Scale shape: q153's amortized brute-force — one corpus scan ×
    * |probe batch| against broadcast probes, per-probe top-k window on
    * the probe-keyed exchange, then label voting on the k-row-per-
    * probe frame. Production: probe sample + q120's IVF candidates,
    * identical voting arithmetic. */
  def q241KnnClassify(s: SparkSession, dir: String): DataFrame = {
    val e = vectors(s, dir)
    val lbl = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("bigint").as("label"))
    val probes = e.join(lbl, "vec_id")
      .filter(col("vec_id") < KnnProbes)
      .select(col("vec_id").as("probe_id"), col("ed").as("ped"),
        col("nrm").as("pnrm"), col("label").as("actual"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("pcos").desc, col("vec_id"))
    val wv = Window.partitionBy("probe_id")
      .orderBy(col("votes").desc, col("nlabel").asc)
    e.join(lbl, "vec_id")
      .crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("pcos",
        vec_dot(col("ed"), col("ped")) / (col("nrm") * col("pnrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KnnK)
      .groupBy(col("probe_id"), col("actual"),
        col("label").as("nlabel"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wv))
      .filter(col("vr") === 1)
      .select(col("probe_id"), col("actual"),
        col("nlabel").as("predicted"),
        (col("nlabel") === col("actual")).as("correct"))
  }

  private def q241OracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
          sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[]))) AS nrm,
          CAST(label AS BIGINT) AS label
        FROM embeddings),
        probes AS (SELECT vec_id AS probe_id, ed AS ped, nrm AS pnrm,
            label AS actual
          FROM e WHERE vec_id < $KnnProbes),
        ranked AS (SELECT probe_id, actual, vec_id, nlabel,
            row_number() OVER (PARTITION BY probe_id
              ORDER BY pcos DESC, vec_id) AS rn
          FROM (SELECT p.probe_id, p.actual, a.vec_id,
                  a.label AS nlabel,
                  list_dot_product(a.ed, p.ped) / (a.nrm * p.pnrm)
                    AS pcos
                FROM e a CROSS JOIN probes p
                WHERE a.vec_id <> p.probe_id) z),
        votes AS (SELECT probe_id, actual, nlabel,
            CAST(count(*) AS BIGINT) AS votes
          FROM ranked WHERE rn <= $KnnK
          GROUP BY probe_id, actual, nlabel),
        win AS (SELECT probe_id, actual, nlabel,
            row_number() OVER (PARTITION BY probe_id
              ORDER BY votes DESC, nlabel ASC) AS vr
          FROM votes)
        SELECT probe_id, actual, nlabel AS predicted,
          nlabel = actual AS correct
        FROM win WHERE vr = 1"""

  /** q246 — COHEN'S KAPPA over the kNN classifier (q241's one-number
    * summary with the chance correction accuracy lacks: with 10
    * imbalanced labels, 30% raw agreement can be pure chance — kappa
    * subtracts the marginal-product expectation): κ = (p₀ − pₑ) /
    * (1 − pₑ) over the 50 (actual, predicted) pairs, released in exact
    * cross-multiplied ppm — κ·10⁶ = (agree·N − Σₗ actualₗ·predₗ)·10⁶
    * div (N² − Σₗ actualₗ·predₗ) — no float anywhere, and negative
    * kappa (worse than chance) is well-defined: both engines' integer
    * division truncates toward zero.
    *
    * Scale shape: consumes q241's probe-batch-sized frame (eagerly
    * checkpointed — three consumers); the marginal-product term is a
    * label-keyed join of two ≤|labels|-row censuses; output is one
    * row. The eval cost IS q241's cost. */
  def q246CohensKappa(s: SparkSession, dir: String): DataFrame = {
    val r = q241KnnClassify(s, dir).localCheckpoint(true)
    val tot = r.agg(count(lit(1)).as("n_probes"),
      sum(when(col("correct"), 1L).otherwise(0L)).as("n_agree"))
    val a = r.groupBy(col("actual").as("l"))
      .agg(count(lit(1)).as("na"))
    val p = r.groupBy(col("predicted").as("l"))
      .agg(count(lit(1)).as("np"))
    val pe = a.join(p, "l")
      .agg(coalesce(sum(col("na") * col("np")), lit(0L)).as("pe_num"))
    tot.crossJoin(pe)
      .select(col("n_probes"), col("n_agree"),
        expr("n_agree * 1000000 div n_probes").as("po_ppm"),
        expr("pe_num * 1000000 div (n_probes * n_probes)").as("pe_ppm"),
        expr("""(n_agree * n_probes - pe_num) * 1000000
                div (n_probes * n_probes - pe_num)""").as("kappa_ppm"))
  }

  private def q246OracleSql: String =
    s"""WITH r AS ($q241OracleSql),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n_probes,
            CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT)
              AS n_agree
          FROM r),
        a AS (SELECT actual AS l, CAST(count(*) AS BIGINT) AS na
          FROM r GROUP BY actual),
        p AS (SELECT predicted AS l, CAST(count(*) AS BIGINT) AS np
          FROM r GROUP BY predicted),
        pe AS (SELECT CAST(coalesce(sum(a.na * p.np), 0) AS BIGINT)
            AS pe_num
          FROM a JOIN p ON a.l = p.l)
        SELECT n_probes, n_agree,
          n_agree * 1000000 // n_probes AS po_ppm,
          pe_num * 1000000 // (n_probes * n_probes) AS pe_ppm,
          (n_agree * n_probes - pe_num) * 1000000
            // (n_probes * n_probes - pe_num) AS kappa_ppm
        FROM tot, pe"""

  // ------------------------------------------------------------ q249

  /** q249 — SIMPLIFIED SILHOUETTE per IVF cell (the cluster-quality
    * readout for the codebook every ANN query in the suite routes
    * through: q29/q76/q120 are only as good as their cells, and the
    * silhouette says WHICH cells are tight and which leak into a
    * neighbor). Full silhouette is pairwise (O(n²)); the standard
    * scale substitute scores each vector against CENTROIDS only:
    * a = cosine distance to the own (argmax) centroid = 1 − c₁,
    * b = distance to the best other centroid = 1 − c₂ (c₁ ≥ c₂ the
    * two largest of the 16 cosines), s = (b − a)/max(a, b)
    * = (c₁ − c₂)/(1 − c₂) ∈ [0, 1] here — 1 = the cell has the vector
    * to itself, 0 = a coin-flip with the runner-up cell. Released per
    * cell: population, mean/min/max silhouette in ppm (per-vector
    * floor ×10⁶; degenerate c₂ ≥ 1 → 0 by the a = b convention).
    *
    * Determinism: the 16 cosines come from the codegen'd `vec_dot`
    * (same sequential fold as list_dot_product); the top-2 are
    * selected by VALUE sort on bit-identical doubles; the one float
    * division shares its expression shape across engines before the
    * floor. Assignment ties break toward the smallest cent_id exactly
    * like `centroid_argmax` (oracle: ORDER BY pcos DESC, cent_id).
    *
    * Scale shape: purely map-side on the corpus — the centroid row is
    * one broadcast, the 16 cosines, argmax, top-2 and the silhouette
    * are all in-row; the only shuffle is the final ≤16-group
    * aggregate (map-side combined). The same shape as q29's
    * assignment pass, so the eval costs no more than the index build
    * it scores. */
  def q249Silhouette(s: SparkSession, dir: String): DataFrame = {
    val e = vectors(s, dir).filter(col("nrm") > 0)
    e.crossJoin(broadcast(centroidRow(e)))
      .select(
        expr("centroid_argmax(ed, nrm, cents)").as("cent_id"),
        expr("""array_sort(
               transform(cents, c -> vec_dot(ed, c.ced) / (nrm * c.cnrm)),
               (x, y) -> CASE WHEN x > y THEN -1
                              WHEN x < y THEN 1 ELSE 0 END)""").as("cs"))
      .select(col("cent_id"),
        expr("""CASE WHEN element_at(cs, 2) >= 1.0 THEN CAST(0 AS BIGINT)
               ELSE CAST(floor((element_at(cs, 1) - element_at(cs, 2))
                 * 1000000 / (1.0 - element_at(cs, 2))) AS BIGINT)
               END""").as("sp"))
      .groupBy("cent_id")
      .agg(count(lit(1)).as("n"),
        expr("sum(sp) div count(1)").as("mean_sil_ppm"),
        min("sp").as("min_sil_ppm"), max("sp").as("max_sil_ppm"))
  }

  private def q249OracleSql: String =
    s"""WITH e AS MATERIALIZED (SELECT vec_id,
          CAST(embedding AS DOUBLE[]) AS ed,
          sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
        cents AS (SELECT vec_id AS cent_id, ed AS ced, nrm AS cnrm
          FROM e WHERE vec_id < $NumCentroids),
        pc AS (SELECT e.vec_id, c.cent_id,
            list_dot_product(e.ed, c.ced) / (e.nrm * c.cnrm) AS pcos
          FROM e CROSS JOIN cents c WHERE e.nrm > 0),
        own AS (SELECT vec_id, cent_id FROM (
            SELECT vec_id, cent_id, row_number() OVER (
                PARTITION BY vec_id ORDER BY pcos DESC, cent_id) AS rn
            FROM pc) z WHERE rn = 1),
        top2 AS (SELECT vec_id, list_sort(list(pcos), 'DESC') AS cs
          FROM pc GROUP BY vec_id),
        sil AS (SELECT o.cent_id,
            CASE WHEN t.cs[2] >= 1.0 THEN CAST(0 AS BIGINT)
                 ELSE CAST(floor((t.cs[1] - t.cs[2]) * 1000000
                   / (1.0 - t.cs[2])) AS BIGINT)
            END AS sp
          FROM own o JOIN top2 t USING (vec_id))
        SELECT cent_id, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(sp) // count(*) AS BIGINT) AS mean_sil_ppm,
          min(sp) AS min_sil_ppm, max(sp) AS max_sil_ppm
        FROM sil GROUP BY cent_id"""

  /** q257 rank depth and the shared discount table: floor(10⁶/log₂(i+1))
    * for rank i = 1..10, computed ONCE here and embedded as the same
    * literals in both engines' plans (the BenfordPpm discipline — the
    * only logs in the operator are these constants of the metric, so
    * DCG arithmetic stays exact-integer end to end). */
  val NdcgK = 10
  val NdcgDiscPpm: IndexedSeq[Long] = (1 to NdcgK)
    .map(i => math.floor(1e6 / (math.log(i + 1.0) / math.log(2.0)))
      .toLong)

  /** q257 — nDCG@10 RANKING EVAL over the kNN retrieval (the
    * position-weighted complement to q215's MRR and q241's votes: MRR
    * sees only the FIRST relevant hit, accuracy sees none of the
    * ordering — nDCG pays each relevant neighbor by its rank, which is
    * what a retrieval feeding a reranker actually optimizes): per
    * probe, the top-10 exact-cosine neighbors scored rel=1 when the
    * neighbor's label matches the probe's; DCG = Σ relᵢ·discᵢ over the
    * shared discount literals, IDCG = the prefix sum of the first
    * n_rel discounts (ideal ordering front-loads all relevant), and
    * nDCG = DCG·10⁶ div IDCG in exact integers (0 when nothing
    * relevant — declared, not NULL). Released per probe with n_rel so
    * both the metric and its saturation are differential-pinned.
    *
    * Scale shape: q153's amortized brute-force — one corpus scan
    * against the broadcast probe batch, per-probe top-k window on the
    * probe-keyed exchange, then all metric arithmetic on the
    * k-row-per-probe frame. Production swaps the corpus side for
    * q120's IVF candidates, identical metric arithmetic. */
  def q257NdcgEval(s: SparkSession, dir: String): DataFrame = {
    val e = vectors(s, dir)
    val lbl = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("bigint").as("label"))
    val probes = e.join(lbl, "vec_id")
      .filter(col("vec_id") < KnnProbes)
      .select(col("vec_id").as("probe_id"), col("ed").as("ped"),
        col("nrm").as("pnrm"), col("label").as("plabel"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("pcos").desc, col("vec_id"))
    val disc = NdcgDiscPpm.mkString("array(", "L, ", "L)")
    val pfx = NdcgDiscPpm.scanLeft(0L)(_ + _).tail
      .mkString("array(", "L, ", "L)")
    e.join(lbl, "vec_id")
      .crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("pcos",
        vec_dot(col("ed"), col("ped")) / (col("nrm") * col("pnrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= NdcgK)
      .groupBy("probe_id")
      .agg(sum(when(col("label") === col("plabel"), 1L).otherwise(0L))
        .as("n_rel"),
        sum(when(col("label") === col("plabel"),
          expr(s"element_at($disc, CAST(rank AS INT))"))
          .otherwise(0L)).as("dcg_fp"))
      .select(col("probe_id"), col("n_rel"), col("dcg_fp"),
        expr(s"""CASE WHEN n_rel = 0 THEN CAST(0 AS BIGINT)
             ELSE element_at($pfx, CAST(n_rel AS INT)) END""")
          .as("idcg_fp"))
      .withColumn("ndcg_ppm",
        expr("""CASE WHEN idcg_fp = 0 THEN CAST(0 AS BIGINT)
             ELSE dcg_fp * 1000000 div idcg_fp END"""))
  }

  private def q257OracleSql: String = {
    val disc = NdcgDiscPpm.mkString("[", ", ", "]")
    val pfx = NdcgDiscPpm.scanLeft(0L)(_ + _).tail
      .mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
          sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[]))) AS nrm,
          CAST(label AS BIGINT) AS label
        FROM embeddings),
        probes AS (SELECT vec_id AS probe_id, ed AS ped, nrm AS pnrm,
            label AS plabel
          FROM e WHERE vec_id < $KnnProbes),
        ranked AS (SELECT probe_id, plabel, nlabel,
            row_number() OVER (PARTITION BY probe_id
              ORDER BY pcos DESC, vec_id) AS rn
          FROM (SELECT p.probe_id, p.plabel, a.vec_id,
                  a.label AS nlabel,
                  list_dot_product(a.ed, p.ped) / (a.nrm * p.pnrm)
                    AS pcos
                FROM e a CROSS JOIN probes p
                WHERE a.vec_id <> p.probe_id) z),
        agg AS (SELECT probe_id,
            CAST(sum(CASE WHEN nlabel = plabel THEN 1 ELSE 0 END)
              AS BIGINT) AS n_rel,
            CAST(sum(CASE WHEN nlabel = plabel
                THEN ($disc)[CAST(rn AS INT)] ELSE 0 END)
              AS BIGINT) AS dcg_fp
          FROM ranked WHERE rn <= $NdcgK GROUP BY probe_id),
        w AS (SELECT probe_id, n_rel, dcg_fp,
            CASE WHEN n_rel = 0 THEN CAST(0 AS BIGINT)
                 ELSE CAST(($pfx)[CAST(n_rel AS INT)] AS BIGINT)
            END AS idcg_fp
          FROM agg)
        SELECT probe_id, n_rel, dcg_fp, idcg_fp,
          CASE WHEN idcg_fp = 0 THEN CAST(0 AS BIGINT)
               ELSE dcg_fp * 1000000 // idcg_fp END AS ndcg_ppm
        FROM w"""
  }

  /** q381 — MEAN-AVERAGE-PRECISION EVAL over the kNN retrieval (the
    * ALL-POSITIONS member closing the ranking-eval family: q215's MRR
    * sees only the first relevant hit, q257's nDCG pays a fixed
    * discount ladder, q153's recall ignores order entirely — AP
    * integrates precision AT EACH relevant rank, the metric that
    * punishes a ranker for every irrelevant item it places above a
    * relevant one, and the standard scalar for retrieval systems with
    * multiple relevant answers). Per probe: top-[[NdcgK]] exact-cosine
    * neighbors (q257's ranking, same float-cosine DESC + vec_id
    * tie-break), rel = label match; precision@i = cumrel_i·10⁶ div i
    * in exact integers; AP = (Σ over relevant ranks of precision@i)
    * div R with R = min(corpus same-label count − 1, K) — the
    * available-relevant normalizer, so a probe whose label has few
    * corpus members is not penalized for the unreachable tail.
    * Released {probe_id, n_rel, r_avail, ap_num, ap_ppm}: every
    * integer division site is declared, both engines compute the
    * identical truncation.
    *
    * Scale shape: q153's amortized brute-force — one corpus scan
    * against the broadcast probe batch, per-probe top-k window on the
    * probe-keyed exchange; the cumulative-precision fold rides the
    * k-row-per-probe frame; label counts are a broadcast |labels|-row
    * aggregate. Production swaps the corpus side for q120's IVF
    * candidates, identical metric arithmetic. */
  def q381MapEval(s: SparkSession, dir: String): DataFrame = {
    val e = vectors(s, dir)
    val lbl = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("bigint").as("label"))
    val labelCnt = t(s, dir, "embeddings")
      .groupBy(col("label").cast("bigint").as("plabel"))
      .agg(count(lit(1)).as("lbl_n"))
    val probes = e.join(lbl, "vec_id")
      .filter(col("vec_id") < KnnProbes)
      .select(col("vec_id").as("probe_id"), col("ed").as("ped"),
        col("nrm").as("pnrm"), col("label").as("plabel"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("pcos").desc, col("vec_id"))
    val cum = Window.partitionBy("probe_id").orderBy("rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.join(lbl, "vec_id")
      .crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("pcos",
        vec_dot(col("ed"), col("ped")) / (col("nrm") * col("pnrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= NdcgK)
      .withColumn("rel",
        when(col("label") === col("plabel"), 1L).otherwise(0L))
      .withColumn("cumrel", sum("rel").over(cum))
      .groupBy("probe_id", "plabel")
      .agg(sum("rel").as("n_rel"),
        sum(when(col("rel") === 1L,
          expr("cumrel * 1000000 div rank")).otherwise(0L)).as("ap_num"))
      .join(broadcast(labelCnt), Seq("plabel"))
      .withColumn("r_avail",
        least(col("lbl_n") - 1L, lit(NdcgK.toLong)))
      .select(col("probe_id"), col("n_rel"), col("r_avail"),
        col("ap_num"),
        expr("""CASE WHEN r_avail <= 0 THEN CAST(0 AS BIGINT)
             ELSE ap_num div r_avail END""").as("ap_ppm"))
  }

  private def q381OracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
          sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[]))) AS nrm,
          CAST(label AS BIGINT) AS label
        FROM embeddings),
        lc AS (SELECT CAST(label AS BIGINT) AS plabel,
            CAST(count(*) AS BIGINT) AS lbl_n
          FROM embeddings GROUP BY 1),
        probes AS (SELECT vec_id AS probe_id, ed AS ped, nrm AS pnrm,
            label AS plabel
          FROM e WHERE vec_id < $KnnProbes),
        ranked AS (SELECT probe_id, plabel,
            CASE WHEN nlabel = plabel THEN 1 ELSE 0 END AS rel,
            row_number() OVER (PARTITION BY probe_id
              ORDER BY pcos DESC, vec_id) AS rn
          FROM (SELECT p.probe_id, p.plabel, a.vec_id,
                  a.label AS nlabel,
                  list_dot_product(a.ed, p.ped) / (a.nrm * p.pnrm)
                    AS pcos
                FROM e a CROSS JOIN probes p
                WHERE a.vec_id <> p.probe_id) z),
        topk AS (SELECT probe_id, plabel, rel, rn,
            CAST(sum(rel) OVER (PARTITION BY probe_id ORDER BY rn
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumrel
          FROM ranked WHERE rn <= $NdcgK),
        agg AS (SELECT probe_id, plabel,
            CAST(sum(rel) AS BIGINT) AS n_rel,
            CAST(sum(CASE WHEN rel = 1
              THEN cumrel * 1000000 // rn ELSE 0 END) AS BIGINT)
              AS ap_num
          FROM topk GROUP BY 1, 2)
        SELECT probe_id, n_rel,
          CAST(least(lbl_n - 1, $NdcgK) AS BIGINT) AS r_avail,
          ap_num,
          CASE WHEN least(lbl_n - 1, $NdcgK) <= 0 THEN CAST(0 AS BIGINT)
               ELSE ap_num // least(lbl_n - 1, $NdcgK) END AS ap_ppm
        FROM agg JOIN lc USING (plabel)"""

  /** q293 — EMBEDDING DIMENSION AUDIT (the per-axis hygiene profile
    * behind whitening and dead-unit detection: this corpus's vectors
    * are unit-normalized, so a NORM audit is vacuous by construction
    * — the failure modes that remain live per DIMENSION: a dead unit
    * (near-zero variance), a dominating one (variance far above the
    * 1/d isotropy line), or a biased one (mean off zero) — exactly
    * what an anisotropy/whitening decision reads): per dimension the
    * exact integer sufficient statistics over floor(v·10³)
    * fixed-point components (a raw float sum would be
    * shuffle-order-dependent; the fixed-point census is
    * order-immune), released as mean and variance in the milli²
    * scale plus min/max components.
    *
    * Scale shape: one in-row posexplode pass collapsing map-side to
    * the 64-row dimension frame; all statistics are integer sums. */
  def q293DimensionAudit(s: SparkSession, dir: String): DataFrame = {
    vectors(s, dir)
      .select(posexplode(expr(
        "transform(ed, v -> CAST(floor(v * 1000) AS BIGINT))")))
      .select(col("pos").cast("bigint").as("dim"),
        col("col").as("vm"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum("vm").as("sv"),
        // widened-first product + singleton guard: q259/q268 discipline
        sum(expr("CAST(vm AS DECIMAL(38,0)) * vm")).as("qv"),
        min("vm").as("min_milli"), max("vm").as("max_milli"))
      .select(col("dim"), col("n"),
        expr("sv * 1000 div n").as("mean_micro"),
        expr("""(n * qv - CAST(sv AS DECIMAL(38,0)) * sv)
             div greatest(n * (n - 1), 1)""").as("var_milli2"),
        col("min_milli"), col("max_milli"))
  }

  private def q293OracleSql: String =
    """WITH c AS (SELECT d.dim - 1 AS dim,
          CAST(floor(CAST(e.embedding[d.dim] AS DOUBLE) * 1000)
            AS BIGINT) AS vm
        FROM embeddings e,
          (SELECT unnest(range(1, 65)) AS dim) d),
        st AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(vm) AS BIGINT) AS sv,
            CAST(sum(CAST(vm AS HUGEINT) * vm) AS HUGEINT) AS qv,
            CAST(min(vm) AS BIGINT) AS min_milli,
            CAST(max(vm) AS BIGINT) AS max_milli
          FROM c GROUP BY dim)
        SELECT dim, n, sv * 1000 // n AS mean_micro,
          CAST((n * qv - CAST(sv AS HUGEINT) * sv)
            // greatest(n * (n - 1), 1) AS BIGINT) AS var_milli2,
          min_milli, max_milli
        FROM st"""

  // ------------------------------------------------------------- q315

  /** q315 — EFFECTIVE RANK / PARTICIPATION RATIO of the embedding
    * covariance (the representation-collapse monitor: d_eff =
    * (Σλ)²/Σλ² counts how many covariance eigendirections carry real
    * variance — 64 for isotropic, →1 when the space collapses to a
    * line; the standard scalar a training run tracks next to q293's
    * per-dimension audit, and it needs NO eigensolve: (Σλ)² = tr(C)²
    * and Σλ² = ‖C‖²_F are both polynomial in the raw moments). On the
    * exact milli-integer grid (q293's floor(v·1000) convention): with
    * S_i = Σv_i and P_ij = Σv_i·v_j, the n²-scaled covariance
    * A_ij = n·P_ij − S_i·S_j is integral, and PR = tr(A)²·10³ div
    * ‖A‖²_F is scale-invariant — every operand exact in decimal(38,0)
    * / int128, so the declared n, trace, and d_eff milli are
    * deterministic cross-engine. MILLI, not ppm (re-declared round
    * 12): tr ≈ n²·10⁶, so the ppm release's tr²·10⁶ intermediate hit
    * 1.6·10³⁹ at sf10 — past decimal(38,0) AND int128 — and the sf10
    * endurance run failed it; tr²·10³ holds to n ≈ 1.8·10⁷ vectors
    * (~sf900), and 5 significant digits is ample for a collapse
    * monitor whose range is [1, 64].
    *
    * Scale shape: ONE corpus scan emits the upper-triangle second-
    * moment cells, the first-moment cells (j = −1), and the count cell
    * (−1, −1) from the same in-row flatten — one shuffle, map-side
    * combined to ≤ 2145 rows per partition regardless of corpus size
    * (q154's mergeable-moment shape); everything after rides the d²
    * domain frame. */
  def q315EffectiveRank(s: SparkSession, dir: String): DataFrame = {
    val d = GramDims
    // ONE gram_moments pass over the milli-integer grid (round-12
    // optimization — same mergeable-moment sums the scaladoc claims,
    // now one 2145-long buffer per partition instead of an n·2145-row
    // explode+shuffle; wrapping-long adds, bit-identical cells), then
    // the same (i, j, m) moments frame decoded from the single row:
    // products at j ≥ i ≥ 0, first moments at j = −1, count at
    // (−1, −1) — downstream unchanged.
    val row = gramMomentsRow(
      t(s, dir, "embeddings").withColumn("mv", expr(
        "transform(CAST(embedding AS ARRAY<DOUBLE>), " +
          "x -> CAST(floor(x * 1000) AS BIGINT))")),
      "mv").localCheckpoint(true)
    val moments = row.select(explode(expr(
        s"""concat(
              flatten(transform(sequence(0, ${d - 1}), i ->
                transform(sequence(i, ${d - 1}), j ->
                  struct(CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
                    element_at(mb, CAST(2 + $d
                      + (i * (2 * $d - i + 1)) div 2 + (j - i) AS INT))
                      AS p)))),
              transform(sequence(0, ${d - 1}), i ->
                struct(CAST(i AS BIGINT) AS i, CAST(-1 AS BIGINT) AS j,
                  element_at(mb, CAST(2 + i AS INT)) AS p)),
              array(struct(CAST(-1 AS BIGINT) AS i,
                CAST(-1 AS BIGINT) AS j, element_at(mb, 1) AS p)))"""))
        .as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"), col("c.p").as("m"))
    val n = moments.filter(col("i") === -1 && col("j") === -1)
      .select(col("m").as("n"))
    val s1 = moments.filter(col("i") >= 0 && col("j") === -1)
      .select(col("i"), col("m").as("s"))
    val p2 = moments.filter(col("j") >= 0)
      .select(col("i"), col("j"), col("m").as("pij"))
    val a = p2
      .join(broadcast(s1.select(col("i"), col("s").as("si"))), "i")
      .join(broadcast(s1.select(col("i").as("j"), col("s").as("sj"))), "j")
      .crossJoin(broadcast(n))
      .select(col("i"), col("j"),
        expr("n * CAST(pij AS DECIMAL(38,0)) - CAST(si AS DECIMAL(38,0)) * sj")
          .as("aij"))
    a.agg(
      sum(when(col("i") === col("j"), col("aij"))).as("tr"),
      sum((when(col("i") === col("j"), lit(1L)).otherwise(lit(2L)) *
        col("aij") * col("aij")).cast("decimal(38,0)")).as("frob2"))
      .crossJoin(broadcast(n))
      .select(col("n"),
        col("tr").cast("bigint").as("trace"),
        expr("CAST(tr * tr * 1000 div frob2 AS BIGINT)").as("d_eff_milli"))
  }

  private def q315OracleSql: String =
    s"""WITH ex0 AS (SELECT vec_id, unnest(range(0, $GramDims)) AS dim,
            unnest(CAST(embedding AS DOUBLE[])) AS v FROM embeddings),
        ex AS (SELECT vec_id, dim,
            CAST(floor(v * 1000) AS BIGINT) AS mv FROM ex0),
        marr AS (SELECT vec_id, list(mv ORDER BY dim) AS mvs
          FROM ex GROUP BY vec_id),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM marr),
        s1 AS (SELECT dim AS i, CAST(sum(mv) AS BIGINT) AS s
          FROM ex GROUP BY dim),
        p2 AS (SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
            CAST(sum(mvs[i + 1] * mvs[j + 1]) AS BIGINT) AS pij
          FROM marr, range(0, $GramDims) r1(i), range(0, $GramDims) r2(j)
          WHERE j >= i GROUP BY i, j),
        a AS (SELECT p2.i, p2.j,
            nn.n * CAST(p2.pij AS HUGEINT)
              - CAST(sa.s AS HUGEINT) * sb.s AS aij
          FROM p2 JOIN s1 sa ON sa.i = p2.i
          JOIN s1 sb ON sb.i = p2.j CROSS JOIN nn),
        agg AS (SELECT
            CAST(sum(CASE WHEN i = j THEN aij END) AS HUGEINT) AS tr,
            CAST(sum((CASE WHEN i = j THEN 1 ELSE 2 END)
              * aij * aij) AS HUGEINT) AS frob2
          FROM a)
        SELECT nn.n, CAST(agg.tr AS BIGINT) AS trace,
          CAST(agg.tr * agg.tr * 1000 // agg.frob2 AS BIGINT)
            AS d_eff_milli
        FROM agg CROSS JOIN nn"""

  // ------------------------------------------------------------ q323

  /** q323 — PER-SOURCE EMBEDDING CENTROID DRIFT (the batch-effect
    * detector for representation pipelines: q86 builds per-LABEL
    * centroids as a codebook, q156/q307 watch drift in SCALAR
    * distributions — this asks whether each SOURCE's documents embed
    * around a different center than the corpus, the signature of a
    * scraper change, an encoder version skew, or a domain shift that
    * poisons mixture weights before training ever starts). Exact on
    * the q315 milli grid: per source the dimension sums s_d and count
    * n ride one census; the drift is ‖mean_src − mean_corpus‖² scaled
    * to milli² units as Σ_d (s_d·N − S_d·n)² div (n²·N²) — the inner
    * products reach ~10³² at sf100 so the fold runs in
    * decimal(38,0)/int128 and stays INTERNAL (q180/q315 release rule);
    * released are (source, n_vec, drift_milli2), all BIGINT.
    *
    * Scale shape: one embeddings⋈documents equi-join on the id
    * (co-partitioned fact⋈fact at 100 TB), one posexplode census
    * map-side combined to |sources|×(64+1) rows (the q315 count-cell
    * trick); the global spine and the scalar fold ride that frame. */
  def q323SourceCentroidDrift(s: SparkSession, dir: String): DataFrame = {
    val d = GramDims
    val cells = t(s, dir, "embeddings")
      .join(t(s, dir, "documents").select(col("doc_id").as("vec_id"),
        col("source")), Seq("vec_id"))
      .withColumn("mv", expr(
        "transform(CAST(embedding AS ARRAY<DOUBLE>), " +
          "x -> CAST(floor(x * 1000) AS BIGINT))"))
      .select(col("source"), explode(expr(
        s"""concat(
              transform(sequence(0, ${d - 1}), i ->
                struct(CAST(i AS BIGINT) AS i, element_at(mv, i + 1) AS p)),
              array(struct(CAST(-1 AS BIGINT) AS i,
                CAST(1 AS BIGINT) AS p)))""")).as("c"))
      .select(col("source"), col("c.i").as("i"), col("c.p").as("p"))
      .groupBy("source", "i").agg(sum("p").as("m"))
      .localCheckpoint(true)
    val glob = cells.groupBy("i").agg(sum("m").as("g"))
    val nTot = glob.filter(col("i") === -1).select(col("g").as("nn"))
    val nSrc = cells.filter(col("i") === -1)
      .select(col("source"), col("m").as("n_vec"))
    cells.filter(col("i") >= 0)
      .join(broadcast(glob.filter(col("i") >= 0)), "i")
      .join(broadcast(nSrc), "source")
      .crossJoin(broadcast(nTot))
      .withColumn("delta", expr(
        "CAST(m AS DECIMAL(38,0)) * nn - CAST(g AS DECIMAL(38,0)) * n_vec"))
      .groupBy("source", "n_vec", "nn")
      .agg(sum(expr("delta * delta").cast("decimal(38,0)")).as("ss"))
      .select(col("source"), col("n_vec"),
        expr("""CAST(ss div (CAST(n_vec AS DECIMAL(38,0)) * n_vec
                * nn * nn) AS BIGINT)""").as("drift_milli2"))
  }

  private def q323OracleSql: String =
    s"""WITH ex0 AS (SELECT vec_id, unnest(range(0, $GramDims)) AS i,
            unnest(CAST(embedding AS DOUBLE[])) AS v FROM embeddings),
        ex AS (SELECT d.source, e.i,
            CAST(floor(e.v * 1000) AS BIGINT) AS mv
          FROM ex0 e JOIN documents d ON d.doc_id = e.vec_id),
        cells AS (SELECT source, i, CAST(sum(mv) AS BIGINT) AS m
          FROM ex GROUP BY source, i),
        ns AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_vec
          FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
          GROUP BY d.source),
        gb AS (SELECT i, CAST(sum(m) AS BIGINT) AS g
          FROM cells GROUP BY i),
        nt AS (SELECT CAST(sum(n_vec) AS BIGINT) AS nn FROM ns),
        dl AS (SELECT c.source, ns.n_vec, nt.nn,
            CAST(c.m AS HUGEINT) * nt.nn
              - CAST(gl.g AS HUGEINT) * ns.n_vec AS delta
          FROM cells c JOIN gb gl ON gl.i = c.i
          JOIN ns ON ns.source = c.source CROSS JOIN nt)
        SELECT source, n_vec,
          CAST(sum(delta * delta)
               // (CAST(n_vec AS HUGEINT) * n_vec * nn * nn) AS BIGINT)
            AS drift_milli2
        FROM dl GROUP BY source, n_vec, nn"""

  // ------------------------------------------------------------ q324

  /** Product-quantization geometry: 64 dims split into [[PqSubs]]
    * subspaces of [[PqSubDim]], [[NumCentroids]] codes per subspace
    * (the deterministic vec_id < 16 codebook convention of q29). */
  val PqSubs = 8
  val PqSubDim = 8

  /** q324 — PRODUCT-QUANTIZATION ASSIGNMENT + DISTORTION census (the
    * memory-scale path of billion-vector ANN — IVF (q29) prunes WHICH
    * vectors to score, PQ compresses HOW each vector is stored:
    * 64 dims → 8 one-byte codes, 32× smaller, and search scores
    * against per-subspace lookup tables. This declares the build-side
    * contract: every vector's per-subspace nearest code under exact
    * integer L2 on the q315 milli grid, ties to the smallest code id).
    * Released is the (subspace, code) census — assignment counts and
    * summed squared distortion, the table that says which codes are
    * dead (unbalanced codebook) and how much error the compression
    * injects (Σd² ≤ 8·subdim·10⁶·n, int64-safe through sf10⁴).
    * Absent (sub, code) cells are dead codes and emit no row — the
    * zero-count diagnostic IS the absence.
    *
    * Scale shape: one in-row slice explosion to n×8 (vec, sub) rows,
    * a broadcast join against the 128-row codebook with the 8-dim L2
    * folded IN-ROW (zip_with + aggregate, codegen'd — no dim
    * explosion crosses the wire), a min(struct) argmin per (vec, sub),
    * then a map-side-combined census to ≤128 rows. Never pairwise,
    * never a corpus-sized shuffle (the (vec,sub) argmin agg
    * co-partitions with the slice explosion). */
  def q324PqAssign(s: SparkSession, dir: String): DataFrame = {
    val sd = PqSubDim
    val mvCol = expr("transform(CAST(embedding AS ARRAY<DOUBLE>), " +
      "x -> CAST(floor(x * 1000) AS BIGINT))")
    val subs = t(s, dir, "embeddings")
      .withColumn("mv", mvCol)
      .select(col("vec_id"), explode(expr(
        s"""transform(sequence(0, ${PqSubs - 1}), b ->
              struct(CAST(b AS BIGINT) AS sub,
                slice(mv, b * $sd + 1, $sd) AS sv))""")).as("c"))
      .select(col("vec_id"), col("c.sub").as("sub"), col("c.sv").as("sv"))
    val codebook = t(s, dir, "embeddings")
      .filter(col("vec_id") < NumCentroids)
      .withColumn("mv", mvCol)
      .select(col("vec_id").as("code"), explode(expr(
        s"""transform(sequence(0, ${PqSubs - 1}), b ->
              struct(CAST(b AS BIGINT) AS sub,
                slice(mv, b * $sd + 1, $sd) AS cv))""")).as("c"))
      .select(col("code"), col("c.sub").as("sub"), col("c.cv").as("cv"))
    subs.join(broadcast(codebook), Seq("sub"))
      .withColumn("d2", expr(
        """aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)),
           CAST(0 AS BIGINT), (acc, e) -> acc + e)"""))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("d2"), col("code"))).as("a"))
      .select(col("sub"), col("a.code").as("code"), col("a.d2").as("d2"))
      .groupBy("sub", "code")
      .agg(count(lit(1)).as("n_assigned"), sum("d2").as("sum_d2"))
  }

  private def q324OracleSql: String =
    s"""WITH ex0 AS (SELECT vec_id, unnest(range(0, $GramDims)) AS dim,
            unnest(CAST(embedding AS DOUBLE[])) AS v FROM embeddings),
        ex AS (SELECT vec_id, dim // $PqSubDim AS sub,
            dim % $PqSubDim AS pos,
            CAST(floor(v * 1000) AS BIGINT) AS x FROM ex0),
        cb AS (SELECT vec_id AS code, sub, pos, x AS y FROM ex
          WHERE vec_id < $NumCentroids),
        dist AS (SELECT e.vec_id, e.sub, cb.code,
            CAST(sum((e.x - cb.y) * (e.x - cb.y)) AS BIGINT) AS d2
          FROM ex e JOIN cb ON cb.sub = e.sub AND cb.pos = e.pos
          GROUP BY e.vec_id, e.sub, cb.code),
        best AS (SELECT vec_id, sub, code, d2,
            row_number() OVER (PARTITION BY vec_id, sub
              ORDER BY d2, code) AS rn
          FROM dist)
        SELECT CAST(sub AS BIGINT) AS sub, CAST(code AS BIGINT) AS code,
          CAST(count(*) AS BIGINT) AS n_assigned,
          CAST(sum(d2) AS BIGINT) AS sum_d2
        FROM best WHERE rn = 1 GROUP BY sub, code"""

  // ------------------------------------------------------------ q510

  /** q510 — PQ ADC TOP-K SEARCH (the query half of the pair q324
    * opened: q324 declares the BUILD side — every vector compressed to
    * [[PqSubs]] one-byte codes, 32× smaller; this declares the SEARCH
    * side — asymmetric distance computation, the scan a billion-vector
    * PQ index actually executes: the query stays EXACT, each database
    * vector is its codes, and distance is Σ_sub LUT[sub][code] where
    * the lookup table holds the exact integer L2 between the query's
    * milli-grid subvector and each codebook centroid. One LUT build of
    * |Q|·[[PqSubs]]·[[NumCentroids]] cells replaces n·64 multiplies
    * with n·[[PqSubs]] lookups — the memory-bandwidth trade that makes
    * PQ the 100 TB vector-scan format). Probes are vec_id <
    * [[NumProbes]] (the q153 convention), self excluded, ties on
    * vec_id; released (q_id, vec_id, rank, adist) — exact integers
    * end-to-end on the q315 milli grid, so ranks are deterministic
    * cross-engine with no float fold anywhere.
    *
    * Scale shape: the code assignment reuses q324's in-row slice
    * explosion + broadcast-codebook argmin (n·8 rows, never pairwise);
    * the LUT is a probe×codebook broadcast-sized frame (|Q|·128 rows);
    * the ADC scan is ONE broadcast equi-join of the code frame against
    * the LUT on (sub, code) + a (q, vec)-keyed map-side-combined sum —
    * linear in n·|Q|, no corpus×corpus stage; top-k is one window over
    * the probe-partitioned scores. */
  /** Milli-grid PQ subvector explosion shared by q510/q512: each vector
    * becomes [[PqSubs]] (id, sub, subvector) rows on the exact integer
    * grid floor(x·1000). */
  private def pqSubFrame(df: DataFrame, idAs: String,
      vecAs: String): DataFrame = {
    val sd = PqSubDim
    val mvCol = expr("transform(CAST(embedding AS ARRAY<DOUBLE>), " +
      "x -> CAST(floor(x * 1000) AS BIGINT))")
    df.withColumn("mv", mvCol)
      .select(col("vec_id").as(idAs), explode(expr(
        s"""transform(sequence(0, ${PqSubs - 1}), b ->
              struct(CAST(b AS BIGINT) AS sub,
                slice(mv, b * $sd + 1, $sd) AS $vecAs))""")).as("c"))
      .select(col(idAs), col("c.sub").as("sub"), col(s"c.$vecAs").as(vecAs))
  }

  /** Exact integer squared-L2 between two milli-grid subvectors. */
  private def pqL2(a: String, b: String) = expr(
    s"""aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)),
        CAST(0 AS BIGINT), (acc, el) -> acc + el)""")

  def q510PqAdcTopk(s: SparkSession, dir: String): DataFrame = {
    def subFrame(df: DataFrame, idAs: String, vecAs: String) =
      pqSubFrame(df, idAs, vecAs)
    val e = t(s, dir, "embeddings")
    val subs = subFrame(e, "vec_id", "sv")
    val codebook = subFrame(e.filter(col("vec_id") < NumCentroids),
      "code", "cv")
    def l2(a: String, b: String) = pqL2(a, b)
    val codes = subs.join(broadcast(codebook), Seq("sub"))
      .withColumn("d2", l2("sv", "cv"))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("d2"), col("code"))).as("a"))
      .select(col("vec_id"), col("sub"), col("a.code").as("code"))
    val lut = subFrame(e.filter(col("vec_id") < NumProbes), "q_id", "qv")
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("ld2", l2("qv", "cv"))
      .select("q_id", "sub", "code", "ld2")
    codes.join(broadcast(lut), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(sum("ld2").as("adist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id")
          .orderBy(col("adist"), col("vec_id"))).cast("bigint"))
      .filter(col("rank") <= TopK)
      .select("q_id", "vec_id", "rank", "adist")
  }

  private def q510OracleSql: String =
    s"""WITH ex0 AS (SELECT vec_id, unnest(range(0, $GramDims)) AS dim,
            unnest(CAST(embedding AS DOUBLE[])) AS v FROM embeddings),
        ex AS (SELECT vec_id, dim // $PqSubDim AS sub,
            dim % $PqSubDim AS pos,
            CAST(floor(v * 1000) AS BIGINT) AS x FROM ex0),
        cb AS (SELECT vec_id AS code, sub, pos, x AS y FROM ex
          WHERE vec_id < $NumCentroids),
        dist AS (SELECT e.vec_id, e.sub, cb.code,
            CAST(sum((e.x - cb.y) * (e.x - cb.y)) AS BIGINT) AS d2
          FROM ex e JOIN cb ON cb.sub = e.sub AND cb.pos = e.pos
          GROUP BY e.vec_id, e.sub, cb.code),
        codes AS (SELECT vec_id, sub, code FROM (
            SELECT vec_id, sub, code, row_number() OVER (
              PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
            FROM dist) WHERE rn = 1),
        lut AS (SELECT q.vec_id AS q_id, cb.sub, cb.code,
            CAST(sum((q.x - cb.y) * (q.x - cb.y)) AS BIGINT) AS ld2
          FROM ex q JOIN cb ON cb.sub = q.sub AND cb.pos = q.pos
          WHERE q.vec_id < $NumProbes
          GROUP BY q.vec_id, cb.sub, cb.code),
        ad AS (SELECT l.q_id, c.vec_id,
            CAST(sum(l.ld2) AS BIGINT) AS adist
          FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
          WHERE c.vec_id <> l.q_id
          GROUP BY l.q_id, c.vec_id),
        rk AS (SELECT q_id, vec_id, adist, row_number() OVER (
            PARTITION BY q_id ORDER BY adist, vec_id) AS rnk
          FROM ad)
        SELECT q_id, vec_id, CAST(rnk AS BIGINT) AS rank, adist
        FROM rk WHERE rnk <= $TopK"""

  // ------------------------------------------------------------ q512

  /** Cells probed per query in the IVF-PQ composite search. */
  val IvfNProbe = 2

  /** q512 — IVF-PQ SEARCH (the COMPOSED billion-scale ANN stack: q29
    * declares IVF cell routing, q324/q510 declare PQ codes and the ADC
    * scan — separately each is a half; a production vector index runs
    * them TOGETHER, which is this query: route each query to its
    * [[IvfNProbe]] nearest centroid cells, then ADC-scan ONLY the
    * vectors assigned to those cells — Σ_sub LUT[sub][code] over the
    * cell members instead of the whole corpus, the FAISS IVFPQ plan
    * shape). Cell routing rides the SAME cosine/argmax contract the
    * q29 differential already pins; distances are q510's exact
    * integers on the milli grid, so ranks are deterministic
    * cross-engine; self excluded, ties on vec_id. Released
    * (q_id, vec_id, rank, adist) — q510's schema restricted to the
    * probed cells, and the released adist values are BY CONSTRUCTION a
    * subset of q510's full-scan rows (same codes, same LUT), so the
    * two declarations cross-check each other under the differential.
    *
    * Scale shape: assignment + codes are the q29/q510 linear builds
    * (broadcast centroids/codebook, never pairwise); the candidate
    * frame is assign ⋈ broadcast(probe-cells) — |Q|·n/[[NumCentroids]]
    * ·[[IvfNProbe]] rows, an 8× scan cut at these constants and the
    * tunable recall/bandwidth dial at 100 TB; the ADC join is the
    * q510 broadcast-LUT equi-join + map-side-combined (q, vec) sum;
    * top-k is one window over the probe-partitioned scores. */
  def q512IvfPqSearch(s: SparkSession, dir: String): DataFrame = {
    val ev = vectors(s, dir)
    val assign = assigned(ev).select("vec_id", "cent_id")
    val probeCells = ev.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("q_id"), col("ed").as("ped"),
        col("nrm").as("pnrm"))
      .crossJoin(broadcast(centroidRow(ev)))
      .select(col("q_id"), col("ped"), col("pnrm"),
        explode(col("cents")).as("c"))
      .withColumn("pcos", vec_dot(col("c.ced"), col("ped"))
        / (col("c.cnrm") * col("pnrm")))
      .withColumn("rn", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("pcos").desc, col("c.cent_id"))))
      .filter(col("rn") <= IvfNProbe)
      .select(col("q_id"), col("c.cent_id").as("cent_id"))
    val e = t(s, dir, "embeddings")
    val codebook = pqSubFrame(e.filter(col("vec_id") < NumCentroids),
      "code", "cv")
    val codes = pqSubFrame(e, "vec_id", "sv")
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("d2", pqL2("sv", "cv"))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("d2"), col("code"))).as("a"))
      .select(col("vec_id"), col("sub"), col("a.code").as("code"))
    val lut = pqSubFrame(e.filter(col("vec_id") < NumProbes), "q_id", "qv")
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("ld2", pqL2("qv", "cv"))
      .select("q_id", "sub", "code", "ld2")
    assign.join(broadcast(probeCells), Seq("cent_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id")
      .join(codes, Seq("vec_id"))
      .join(broadcast(lut), Seq("q_id", "sub", "code"))
      .groupBy("q_id", "vec_id")
      .agg(sum("ld2").as("adist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id")
          .orderBy(col("adist"), col("vec_id"))).cast("bigint"))
      .filter(col("rank") <= TopK)
      .select("q_id", "vec_id", "rank", "adist")
  }

  private def q512OracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
          sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
        cent AS (SELECT vec_id AS cent_id, ed AS ced, nrm AS cnrm
                 FROM e WHERE vec_id < $NumCentroids),
        cellrank AS (SELECT e.vec_id, c.cent_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.ed, c.ced) / (e.nrm * c.cnrm)
                DESC, c.cent_id) AS rn
          FROM e CROSS JOIN cent c),
        assigned AS (SELECT vec_id, cent_id FROM cellrank WHERE rn = 1),
        pcells AS (SELECT vec_id AS q_id, cent_id FROM cellrank
          WHERE vec_id < $NumProbes AND rn <= $IvfNProbe),
        ex0 AS (SELECT vec_id, unnest(range(0, $GramDims)) AS dim,
            unnest(CAST(embedding AS DOUBLE[])) AS v FROM embeddings),
        ex AS (SELECT vec_id, dim // $PqSubDim AS sub,
            dim % $PqSubDim AS pos,
            CAST(floor(v * 1000) AS BIGINT) AS x FROM ex0),
        cb AS (SELECT vec_id AS code, sub, pos, x AS y FROM ex
          WHERE vec_id < $NumCentroids),
        dist AS (SELECT e.vec_id, e.sub, cb.code,
            CAST(sum((e.x - cb.y) * (e.x - cb.y)) AS BIGINT) AS d2
          FROM ex e JOIN cb ON cb.sub = e.sub AND cb.pos = e.pos
          GROUP BY e.vec_id, e.sub, cb.code),
        codes AS (SELECT vec_id, sub, code FROM (
            SELECT vec_id, sub, code, row_number() OVER (
              PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
            FROM dist) WHERE rn = 1),
        lut AS (SELECT q.vec_id AS q_id, cb.sub, cb.code,
            CAST(sum((q.x - cb.y) * (q.x - cb.y)) AS BIGINT) AS ld2
          FROM ex q JOIN cb ON cb.sub = q.sub AND cb.pos = q.pos
          WHERE q.vec_id < $NumProbes
          GROUP BY q.vec_id, cb.sub, cb.code),
        cand AS (SELECT p.q_id, a.vec_id
          FROM assigned a JOIN pcells p ON p.cent_id = a.cent_id
          WHERE a.vec_id <> p.q_id),
        ad AS (SELECT cd.q_id, cd.vec_id,
            CAST(sum(l.ld2) AS BIGINT) AS adist
          FROM cand cd
          JOIN codes c ON c.vec_id = cd.vec_id
          JOIN lut l ON l.q_id = cd.q_id AND l.sub = c.sub
            AND l.code = c.code
          GROUP BY cd.q_id, cd.vec_id),
        rk AS (SELECT q_id, vec_id, adist, row_number() OVER (
            PARTITION BY q_id ORDER BY adist, vec_id) AS rnk
          FROM ad)
        SELECT q_id, vec_id, CAST(rnk AS BIGINT) AS rank, adist
        FROM rk WHERE rnk <= $TopK"""

  // ------------------------------------------------------------ q327

  /** Matryoshka prefix length: rank with the first 16 of 64 dims. */
  val MatryoshkaDim = 16

  /** q327 — MATRYOSHKA PREFIX-DIMENSION AGREEMENT eval (the measurement
    * behind truncatable-embedding deployment: MRL-style encoders are
    * trained so a PREFIX of the vector ranks almost as well as the full
    * one, letting retrieval run its first pass at 4× less memory
    * bandwidth and rerank the shortlist at full width — before any such
    * rollout you measure how much ranking the truncation costs, which
    * is THIS query; these embeddings are iid, so agreement here is the
    * CHANCE baseline ≈ k/n the docstring of the rollout would cite,
    * and the differential pins the harness, not a trained property).
    * Per probe (vec_id < [[NumProbes]], q153 convention): the exact
    * top-[[TopK]] under full 64-dim cosine and under [[MatryoshkaDim]]-
    * prefix cosine (prefix norms recomputed — a truncated unit vector
    * is NOT unit), overlap counted on the SHARED candidate frame (both
    * ranks live on the same (probe, cand) row — set intersection
    * without a join), ties broken by vec_id on both rankings.
    * Released: (probe_id, n_overlap, overlap_ppm).
    *
    * Scale shape: ONE corpus×probes broadcast expansion (the q25/q153
    * brute-force eval shape, amortized across the probe batch), both
    * cosines computed per row through the codegen'd vec_dot, two rank
    * windows over the probe-partitioned frame, one probe-keyed agg.
    * Eval-priced by design; the production path this measures is the
    * prefix-first rerank cascade (q128's two-stage shape). */
  def q327MatryoshkaEval(s: SparkSession, dir: String): DataFrame = {
    val md = MatryoshkaDim
    val e = vectors(s, dir)
      .withColumn("ed16", expr(s"slice(ed, 1, $md)"))
      .withColumn("nrm16", sqrt(vec_dot(col("ed16"), col("ed16"))))
    val probes = e.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("ed").as("ped"),
        col("nrm").as("pnrm"), col("ed16").as("ped16"),
        col("nrm16").as("pnrm16"))
    val wf = Window.partitionBy("probe_id")
      .orderBy(col("cos_full").desc, col("vec_id"))
    val wp = Window.partitionBy("probe_id")
      .orderBy(col("cos_pref").desc, col("vec_id"))
    e.crossJoin(broadcast(probes))
      .withColumn("cos_full",
        vec_dot(col("ed"), col("ped")) / (col("nrm") * col("pnrm")))
      .withColumn("cos_pref",
        vec_dot(col("ed16"), col("ped16"))
          / (col("nrm16") * col("pnrm16")))
      .withColumn("rank_full", row_number().over(wf))
      .withColumn("rank_pref", row_number().over(wp))
      .groupBy("probe_id")
      .agg(sum(when(col("rank_full") <= TopK &&
        col("rank_pref") <= TopK, 1L).otherwise(0L)).as("n_overlap"))
      .withColumn("overlap_ppm", expr(s"(n_overlap * 1000000) div $TopK"))
  }

  private def q327OracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
          sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[]))) AS nrm,
          CAST(embedding AS DOUBLE[])[1:$MatryoshkaDim] AS ed16,
          sqrt(list_dot_product(
            CAST(embedding AS DOUBLE[])[1:$MatryoshkaDim],
            CAST(embedding AS DOUBLE[])[1:$MatryoshkaDim])) AS nrm16
        FROM embeddings),
        probes AS (SELECT vec_id AS probe_id, ed AS ped, nrm AS pnrm,
          ed16 AS ped16, nrm16 AS pnrm16 FROM e
          WHERE vec_id < $NumProbes),
        ranked AS (SELECT p.probe_id, a.vec_id,
          row_number() OVER (PARTITION BY p.probe_id
            ORDER BY list_dot_product(a.ed, p.ped) / (a.nrm * p.pnrm)
              DESC, a.vec_id) AS rank_full,
          row_number() OVER (PARTITION BY p.probe_id
            ORDER BY list_dot_product(a.ed16, p.ped16)
              / (a.nrm16 * p.pnrm16) DESC, a.vec_id) AS rank_pref
          FROM e a CROSS JOIN probes p)
        SELECT probe_id,
          CAST(sum(CASE WHEN rank_full <= $TopK AND rank_pref <= $TopK
            THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
          (CAST(sum(CASE WHEN rank_full <= $TopK AND rank_pref <= $TopK
            THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // $TopK
            AS overlap_ppm
        FROM ranked GROUP BY probe_id"""

  // ------------------------------------------------------------ q334

  /** q334 — CLASS-SEPARABILITY PROFILE over the labeled embeddings (the
    * Fisher/LDA-style audit of whether labels are LINEARLY visible in
    * the representation: q86 builds the class centroids, q323 measures
    * SOURCE-level drift — this releases, per label, the two scatter
    * traces whose ratio is the Fisher criterion: the within-class
    * scatter (how tight the class is) and the between term (how far
    * its centroid sits from the corpus mean); a class whose between
    * term dwarfs its within term is separable with a linear probe, and
    * iid embeddings — these — put between near the 1/n_c sampling
    * floor, the generator finding the spec pins). Exact on the q315
    * milli grid: within_sc = n_c·Σ_{x∈c}‖x‖² − ‖s_c‖² (the n_c²-scaled
    * within-class scatter trace — divide by n_c² for mean squared
    * radius in milli²), between_milli2 = Σ_d (s_cd·N − S_d·n_c)² div
    * (n_c²·N²) (q323's drift quantity per LABEL, already in milli²).
    * The ‖s_c‖² products reach ~10³⁰ at sf100 → decimal(38,0)/int128
    * INTERNAL, released columns BIGINT (q180/q315 release rule).
    *
    * Scale shape: ONE corpus scan emitting 64 dim cells + a count cell
    * + an in-row-folded Σx² cell per vector (the q315 moment-census
    * trick, one extra cell), map-side combined to |labels|×66 rows;
    * the global spine and the per-label fold ride that frame. */
  def q334ClassSeparability(s: SparkSession, dir: String): DataFrame = {
    val d = GramDims
    val cells = t(s, dir, "embeddings")
      .withColumn("mv", expr(
        "transform(CAST(embedding AS ARRAY<DOUBLE>), " +
          "x -> CAST(floor(x * 1000) AS BIGINT))"))
      .select(col("label"), explode(expr(
        s"""concat(
              transform(sequence(0, ${d - 1}), i ->
                struct(CAST(i AS BIGINT) AS i, element_at(mv, i + 1) AS p)),
              array(struct(CAST(-1 AS BIGINT) AS i,
                CAST(1 AS BIGINT) AS p)),
              array(struct(CAST(-2 AS BIGINT) AS i,
                aggregate(mv, CAST(0 AS BIGINT),
                  (acc, x) -> acc + x * x) AS p)))""")).as("c"))
      .select(col("label"), col("c.i").as("i"), col("c.p").as("p"))
      .groupBy("label", "i").agg(sum("p").as("m"))
      .localCheckpoint(true)
    val dims = cells.filter(col("i") >= 0)
    val nC = cells.filter(col("i") === -1)
      .select(col("label"), col("m").as("n_c"))
    val qC = cells.filter(col("i") === -2)
      .select(col("label"), col("m").as("q_c"))
    val glob = dims.groupBy("i").agg(sum("m").as("g"))
    val nT = nC.agg(sum("n_c").as("nn"))
    val within = nC.join(qC, "label")
      .join(dims.groupBy("label")
        .agg(sum(expr("CAST(m AS DECIMAL(38,0)) * m")).as("s2")), "label")
      .select(col("label"), col("n_c"),
        expr("CAST(CAST(n_c AS DECIMAL(38,0)) * q_c - s2 AS BIGINT)")
          .as("within_sc"))
    val between = dims
      .join(broadcast(glob), "i")
      .join(broadcast(nC), "label")
      .crossJoin(broadcast(nT))
      .withColumn("delta", expr(
        "CAST(m AS DECIMAL(38,0)) * nn - CAST(g AS DECIMAL(38,0)) * n_c"))
      .groupBy("label", "n_c", "nn")
      .agg(sum(expr("delta * delta").cast("decimal(38,0)")).as("ss"))
      .select(col("label"),
        expr("""CAST(ss div (CAST(n_c AS DECIMAL(38,0)) * n_c
                * nn * nn) AS BIGINT)""").as("between_milli2"))
    within.join(between, "label")
      .select(col("label").cast("bigint").as("label"), col("n_c"),
        col("within_sc"), col("between_milli2"))
  }

  private def q334OracleSql: String =
    s"""WITH ex0 AS (SELECT vec_id, label,
            unnest(range(0, $GramDims)) AS i,
            unnest(CAST(embedding AS DOUBLE[])) AS v FROM embeddings),
        ex AS (SELECT vec_id, label, i,
            CAST(floor(v * 1000) AS BIGINT) AS mv FROM ex0),
        dims AS (SELECT label, i, CAST(sum(mv) AS BIGINT) AS m
          FROM ex GROUP BY label, i),
        nc AS (SELECT label, CAST(count(*) AS BIGINT) AS n_c
          FROM embeddings GROUP BY label),
        qc AS (SELECT label, CAST(sum(mv * mv) AS BIGINT) AS q_c
          FROM ex GROUP BY label),
        s2 AS (SELECT label, CAST(sum(CAST(m AS HUGEINT) * m) AS HUGEINT)
            AS s2 FROM dims GROUP BY label),
        gb AS (SELECT i, CAST(sum(m) AS BIGINT) AS g
          FROM dims GROUP BY i),
        nt AS (SELECT CAST(sum(n_c) AS BIGINT) AS nn FROM nc),
        wi AS (SELECT nc.label, nc.n_c,
            CAST(CAST(nc.n_c AS HUGEINT) * qc.q_c - s2.s2 AS BIGINT)
              AS within_sc
          FROM nc JOIN qc ON qc.label = nc.label
          JOIN s2 ON s2.label = nc.label),
        bt AS (SELECT d.label,
            CAST(sum((CAST(d.m AS HUGEINT) * nt.nn
                - CAST(gb.g AS HUGEINT) * nc.n_c)
              * (CAST(d.m AS HUGEINT) * nt.nn
                - CAST(gb.g AS HUGEINT) * nc.n_c))
              // (CAST(nc.n_c AS HUGEINT) * nc.n_c * nt.nn * nt.nn)
              AS BIGINT) AS between_milli2
          FROM dims d JOIN gb ON gb.i = d.i
          JOIN nc ON nc.label = d.label CROSS JOIN nt
          GROUP BY d.label, nc.n_c, nt.nn)
        SELECT CAST(wi.label AS BIGINT) AS label, wi.n_c, wi.within_sc,
          bt.between_milli2
        FROM wi JOIN bt ON bt.label = wi.label"""

  // ------------------------------------------------------------ q344

  /** q344's CKA release as ONE shared-text double expression over the
    * three exact wide-integer Frobenius sums: CKA = F_xy/√(F_xx·F_yy);
    * greatest(·, 1.0) guards the all-constant-features degenerate
    * denominator (not exercised by real embeddings, but floor(NaN)
    * diverges across engines — the q292 hazard class). */
  private def ckaExpr: String =
    s"""CAST(floor(CAST(fxy AS DOUBLE) * 1000000000
          / sqrt(greatest(CAST(fxx AS DOUBLE) * CAST(fyy AS DOUBLE),
                          1.0))) AS BIGINT)"""

  /** q344 — LINEAR CKA between the [[MatryoshkaDim]]-prefix and the
    * full embedding (Kornblith et al. 2019's centered kernel alignment,
    * the representation-similarity number that answers q327's question
    * at the GEOMETRY level: q327 measures top-k retrieval overlap — an
    * end-task proxy — while CKA = ‖X_cᵀY_c‖²_F/(‖X_cᵀX_c‖_F‖Y_cᵀY_c‖_F)
    * measures how much of the full space's structure the prefix already
    * spans, invariant to rotation and isotropic scaling; the number a
    * Matryoshka training run tracks per checkpoint). Exactness: q154's
    * int8 quantization, then every centered cross-moment is the exact
    * wide integer a_ij = n·Σxy − Sx_i·Sy_j (n cancels in the ratio), the
    * three Frobenius sums are exact DECIMAL(38,0)/HUGEINT sums over the
    * d(d+1)/2 census (prefix blocks read off the SAME census by
    * symmetry weights: diag 1, off-diag 2; the rectangular xy block
    * weights [i<p] + [j<p ∧ i≠j]), and only the final ratio is a
    * [[ckaExpr]] double. Released: {n, cka_ppb}; the spec pins a
    * brute-force BigInt model and the CKA ≤ 1 bound.
    *
    * Scale shape: q154's exactly — in-row quantization + upper-triangle
    * outer product, ONE (i,j)-keyed map-side-combined sum to 2080 cells;
    * per-dim sums ride a second census-bounded aggregate; everything
    * downstream is census-sized. */
  def q344CkaPrefix(s: SparkSession, dir: String): DataFrame = {
    val d = GramDims
    val p = MatryoshkaDim
    // ONE gram_moments pass (round-12 optimization): the Gram cells,
    // per-dim sums, and count all decode from the single census row —
    // the previous form ran THREE corpus passes (2080-struct explode,
    // posexplode, count) over the checkpointed quantized frame. Sums
    // are the same wrapping-long adds; downstream unchanged.
    val row = gramMomentsRow(quantizedVecs(s, dir), "qe")
      .localCheckpoint(true)
    val gram = gramCellsFromRow(row)
    val sums = row.select(posexplode(expr(
        s"slice(mb, 2, $d)")).as(Seq("dim", "sv")))
    val nF = row.select(element_at(col("mb"), 1).as("n"))
    gram
      .join(broadcast(sums.select(col("dim").cast("bigint").as("i"),
        col("sv").as("si"))), "i")
      .join(broadcast(sums.select(col("dim").cast("bigint").as("j"),
        col("sv").as("sj"))), "j")
      .crossJoin(broadcast(nF))
      .select(col("i"), col("j"), col("n"),
        expr("CAST(n AS DECIMAL(38,0)) * g - CAST(si AS DECIMAL(38,0)) * sj")
          .as("a"))
      .agg(max("n").as("n"),
        sum(expr(s"""CASE WHEN i < $p AND j < $p
              THEN (CASE WHEN i = j THEN 1 ELSE 2 END) * a * a
              ELSE 0 END""")).as("fxx"),
        sum(expr("(CASE WHEN i = j THEN 1 ELSE 2 END) * a * a"))
          .as("fyy"),
        sum(expr(s"""((CASE WHEN i < $p THEN 1 ELSE 0 END)
              + (CASE WHEN j < $p AND i <> j THEN 1 ELSE 0 END))
              * a * a""")).as("fxy"))
      .select(col("n"), expr(ckaExpr).as("cka_ppb"))
  }

  private def q344OracleSql: String = {
    val p = MatryoshkaDim
    s"""WITH $quantCtes,
        cells AS (SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
              qe[i + 1] * qe[j + 1] AS p
            FROM qarr, range(0, $GramDims) r1(i), range(0, $GramDims) r2(j)
            WHERE j >= i),
        gram AS (SELECT i, j, CAST(sum(p) AS BIGINT) AS g
          FROM cells GROUP BY i, j),
        sums AS (SELECT dim, CAST(sum(qv) AS BIGINT) AS sv
          FROM q GROUP BY dim),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM qarr),
        am AS (SELECT i, j,
            CAST(n AS HUGEINT) * g - CAST(si.sv AS HUGEINT) * sj.sv AS a
          FROM gram JOIN sums si ON si.dim = gram.i
          JOIN sums sj ON sj.dim = gram.j CROSS JOIN nn),
        fr AS (SELECT
            CAST(sum(CASE WHEN i < $p AND j < $p
              THEN (CASE WHEN i = j THEN 1 ELSE 2 END) * a * a
              ELSE 0 END) AS HUGEINT) AS fxx,
            CAST(sum((CASE WHEN i = j THEN 1 ELSE 2 END) * a * a)
              AS HUGEINT) AS fyy,
            CAST(sum(((CASE WHEN i < $p THEN 1 ELSE 0 END)
              + (CASE WHEN j < $p AND i <> j THEN 1 ELSE 0 END))
              * a * a) AS HUGEINT) AS fxy
          FROM am)
        SELECT n, $ckaExpr AS cka_ppb
        FROM fr CROSS JOIN nn"""
  }

  // ------------------------------------------------------------ q351

  /** Power-iteration rounds and the fixed-point scale (x entries live
    * in [−10⁶, 10⁶]). */
  val PowerIters = 16
  val PowerScale = 1000000L

  /** q351 — TOP PRINCIPAL DIRECTION BY INTEGER POWER ITERATION over the
    * q154 gram census (the eigensolver-free PCA step, q315's companion:
    * q315 reads the SPECTRUM's effective rank off moment traces without
    * any eigenvector; this produces the leading DIRECTION itself — the
    * vector an embedding-health report plots, the mean-direction
    * anisotropy axis (Ethayarajh 2019) a whitening step removes —
    * still without an eigensolver: x ← normalize(A·x), which at scale
    * is one broadcast-joined matvec per round over the d²-bounded
    * census, the q99 fixed-point discipline applied to linear algebra).
    * All arithmetic is integer: the symmetrized gram's exact cells,
    * x entries at [[PowerScale]] fixed point, matvec sums exact int64
    * (|y| ≤ d·maxg·scale ~ 5·10¹⁶ at sf1), renormalization by
    * y·scale div max|y| with a DECIMAL(38,0)/HUGEINT widen — both
    * engines compute bit-identical vectors, no convergence tolerance
    * anywhere ([[PowerIters]] declared rounds, like q99's). Released:
    * (dim, x_scaled) after the final round; the spec replays the
    * integer recursion exactly and pins the RAYLEIGH QUOTIENT of the
    * released vector at ≥ 95% of a double-converged run's — the honest
    * check for this corpus: iid unit-norm embeddings have a near-flat
    * gram spectrum, so the direction itself is ill-conditioned at any
    * fixed round count while the captured variance (the objective PCA
    * maximizes) converges fast; on an anisotropic production corpus
    * the same rounds pin the direction too.
    *
    * Scale shape: q154's census pass once; per round a d²-row
    * broadcast matvec + a d-row max — driver-free, corpus touched
    * exactly once regardless of rounds. */
  /** Single-row power-iteration state shared by q351 and q450: column
    * `g` holds the FULL d×d symmetric Gram matrix as
    * `array<array<bigint>>` (decoded from one [[gramMomentsRow]]
    * census — the corpus pass stays distributed; only the d²-cell
    * matrix, CONSTANT-sized at every SF because the embedding width is
    * pinned at 64, collapses into a row), column `x` the current
    * fixed-point iterate.
    *
    * Round-12 optimization (guide §1/§2.4): the previous loop kept x
    * as a d-row frame, so every round paid a sym⋈x join, a groupBy
    * exchange, a separate max-|y| aggregate job, a broadcast build,
    * and a checkpoint — ~5 Spark jobs of pure scheduling per round, 84
    * jobs total at 16 rounds. On one row each round is a single
    * in-row matvec projection + checkpoint (1 job, no exchange). The
    * matvec is the same wrapping-long Σ g·x in a different (still
    * associative/commutative) order and the normalization expression
    * is unchanged, so the trajectory is bit-identical — the declared
    * oracle (dense CTE chain) is untouched and stays green. */
  private def powerStateRow(s: SparkSession, dir: String): DataFrame = {
    val d = GramDims
    gramMomentsRow(quantizedVecs(s, dir), "qe")
      .select(
        expr(s"""transform(sequence(0, ${d - 1}), i ->
            transform(sequence(0, ${d - 1}), j ->
              element_at(mb, CAST(2 + $d
                + (least(i, j) * (2 * $d - least(i, j) + 1)) div 2
                + abs(j - i) AS INT))))""").as("g"),
        expr(s"transform(sequence(0, ${d - 1}), x0_i -> ${PowerScale}L)")
          .as("x"))
      .localCheckpoint(true)
  }

  /** In-row matvec: y_i = Σ_j g[i][j]·x[j] (same integer sum as the
    * old sym⋈x groupBy, fixed j-order — exact either way). `xRef` is
    * the expression standing for the current iterate (the column name
    * for a materialized state, a nested round expression in the
    * chained form below). */
  private def matvecExprOn(d: Int, xRef: String): String =
    s"""transform(sequence(0, ${d - 1}), mv_i ->
        aggregate(zip_with(element_at(g, mv_i + 1), $xRef,
            (mv_g, mv_x) -> mv_g * mv_x),
          0L, (mv_acc, mv_v) -> mv_acc + mv_v))"""

  private def matvecExpr(d: Int): String = matvecExprOn(d, "x")

  def q351PowerIteration(s: SparkSession, dir: String): DataFrame =
    powerIterate(powerStateRow(s, dir))
      .select(posexplode(col("x")).as(Seq("dim", "x_scaled")))
      .select(col("dim").cast("bigint").as("dim"), col("x_scaled"))

  /** [[q351PowerIteration]]'s fixed-point loop over the single-row
    * state ([[powerStateRow]]). Checkpoint EVERY round, as before:
    * it truncates the lineage so the plan stays round-sized, and on a
    * 1-row frame the materialization is one ~40 ms job.
    *
    * Round-13 measured anti-lesson (the round-12 deferred "chain all
    * 16 matvecs into one projection" item): chaining rounds as nested
    * single-reference lambda expressions (y let-bound through
    * transform(array(y), ...)) keeps the expression LINEAR in size,
    * but Catalyst's cost is not — at 16 nested rounds the analyzer
    * trips its 100-iteration Resolution cap, at 4 rounds per Project
    * planning hangs outright (>2 min at sf0.001), and at 2 rounds per
    * Project the planning tax already exceeds the saved checkpoint
    * jobs (q351 0.99 → 1.17 s, q450 0.87 → 1.24 s at sf0.1/32c).
    * Nested HOF lambdas are super-linearly expensive to resolve and
    * optimize; the per-round checkpoint loop is the fast form. */
  private def powerIterate(row0: DataFrame): DataFrame = {
    val d = GramDims
    Iterate("power", row0, PowerIters) { (row, _) =>
      row
        .select(col("g"), expr(matvecExpr(d)).as("y"))
        .select(col("g"),
          expr(s"""transform(y, y_v ->
              CAST(CAST(y_v AS DECIMAL(38,0)) * $PowerScale
                   div array_max(transform(y, y_a -> abs(y_a)))
                 AS BIGINT))""").as("x"))
    }()._1
  }

  /** The q351 oracle's iteration chain, shared with q450. Each x_k
    * must reference y_k exactly ONCE (window max, not a scalar cross
    * join): DuckDB inlines CTEs, so a double reference doubles the
    * expansion per level — 2^iters scans of the embeddings parquet
    * blows the open-file limit at 16 rounds. */
  private def powerIterCtes: String =
    (1 to PowerIters).map { k =>
      s"""y$k AS (SELECT sym.i AS dim, CAST(sum(g * xv) AS BIGINT) AS y
          FROM sym JOIN x${k - 1} xk ON sym.j = xk.dim
          GROUP BY sym.i),
        x$k AS (SELECT dim,
            CAST(CAST(y AS HUGEINT) * $PowerScale
              // max(abs(y)) OVER () AS BIGINT) AS xv
          FROM y$k)"""
    }.mkString(",\n        ")

  private def q351OracleSql: String = {
    val iterCtes = powerIterCtes
    s"""WITH $quantCtes,
        cells AS (SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
              qe[i + 1] * qe[j + 1] AS p
            FROM qarr, range(0, $GramDims) r1(i), range(0, $GramDims) r2(j)
            WHERE j >= i),
        gup AS (SELECT i, j, CAST(sum(p) AS BIGINT) AS g
          FROM cells GROUP BY i, j),
        sym AS (SELECT i, j, g FROM gup
          UNION ALL
          SELECT j AS i, i AS j, g FROM gup WHERE i <> j),
        x0 AS (SELECT CAST(r.d AS BIGINT) AS dim,
            CAST($PowerScale AS BIGINT) AS xv
          FROM range(0, $GramDims) r(d)),
        $iterCtes
        SELECT dim, xv AS x_scaled FROM x$PowerIters"""
  }

  // ------------------------------------------------------------ q434

  /** q434's per-rank weights: floor((1−p)·p^{i−1}·10⁶) at persistence
    * p = 0.8 — baked as literals so no engine-side pow runs at query
    * time, and INTEGER so the per-probe fold is exact. */
  val RbpWeightPpm: Seq[Long] = Seq(200000L, 160000L, 128000L,
    102400L, 81920L, 65536L, 52428L, 41943L, 33554L, 26843L)

  /** q434 — RANK-BIASED PRECISION over the kNN retrieval (Moffat &
    * Zobel 2008 — the ranking-eval member with an explicit USER MODEL
    * the rest of the family lacks: q215's MRR models a user who stops
    * at the first hit, q257's nDCG pays an arbitrary log ladder, q381's
    * AP assumes the user reads to the last relevant item; RBP models a
    * user who continues to the next rank with persistence p, giving a
    * geometric weight ladder whose tail truncation error is BOUNDED —
    * the property that makes RBP the metric of record for pooled /
    * partially-judged retrieval). Per probe: top-[[NdcgK]] exact-cosine
    * neighbors (q257's ranking, same cosine-DESC + vec_id tie-break),
    * rel = label match, rbp_ppm = Σ rel_i·[[RbpWeightPpm]](i) — an
    * exact integer fold.
    *
    * Scale shape: q153's amortized brute-force — one corpus pass
    * against the broadcast probe batch, per-probe top-k window on the
    * probe-keyed exchange; the weighted fold rides the k-row-per-probe
    * frame. */
  def q434Rbp(s: SparkSession, dir: String): DataFrame = {
    val e = vectors(s, dir)
    val lbl = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("bigint").as("label"))
    val probes = e.join(lbl, "vec_id")
      .filter(col("vec_id") < KnnProbes)
      .select(col("vec_id").as("probe_id"), col("ed").as("ped"),
        col("nrm").as("pnrm"), col("label").as("plabel"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("pcos").desc, col("vec_id"))
    val wts = RbpWeightPpm.mkString("array(", "L, ", "L)")
    e.join(lbl, "vec_id")
      .crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("pcos",
        vec_dot(col("ed"), col("ped")) / (col("nrm") * col("pnrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= NdcgK)
      .groupBy("probe_id")
      .agg(sum(when(col("label") === col("plabel"), 1L).otherwise(0L))
        .as("n_rel"),
        sum(when(col("label") === col("plabel"),
          expr(s"element_at($wts, CAST(rank AS INT))"))
          .otherwise(0L)).as("rbp_ppm"))
  }

  private def q434OracleSql: String = {
    val wts = RbpWeightPpm.mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
          sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[]))) AS nrm,
          CAST(label AS BIGINT) AS label
        FROM embeddings),
        probes AS (SELECT vec_id AS probe_id, ed AS ped, nrm AS pnrm,
            label AS plabel
          FROM e WHERE vec_id < $KnnProbes),
        ranked AS (SELECT probe_id, plabel, nlabel,
            row_number() OVER (PARTITION BY probe_id
              ORDER BY pcos DESC, vec_id) AS rn
          FROM (SELECT p.probe_id, p.plabel, a.vec_id,
                  a.label AS nlabel,
                  list_dot_product(a.ed, p.ped) / (a.nrm * p.pnrm)
                    AS pcos
                FROM e a CROSS JOIN probes p
                WHERE a.vec_id <> p.probe_id) z)
        SELECT probe_id,
          CAST(sum(CASE WHEN nlabel = plabel THEN 1 ELSE 0 END)
            AS BIGINT) AS n_rel,
          CAST(sum(CASE WHEN nlabel = plabel
            THEN $wts[CAST(rn AS INT)] ELSE 0 END) AS BIGINT)
            AS rbp_ppm
        FROM ranked WHERE rn <= $NdcgK GROUP BY probe_id"""
  }

  // ------------------------------------------------------------ q435

  /** q435's exact-rational scale: ERR is released over the common
    * denominator lcm(1..10)·4^K = 2520·4¹⁰, so every term — including
    * the running "user already satisfied" product — is an exact
    * integer. */
  val ErrDenom: Long = 2520L * 1048576L

  /** q435 — EXPECTED RECIPROCAL RANK over the kNN retrieval with
    * GRADED relevance (Chapelle et al. 2009 — the cascade-model
    * metric: unlike RBP's fixed persistence, ERR models a user whose
    * stopping probability depends on what they just saw — a perfect
    * hit at rank 1 makes rank 2 nearly worthless, which is exactly the
    * diminishing-returns behavior position-independent metrics
    * miss). Grades: 2 for an exact label match, 1 for a same-parity
    * label (coarse topical match), 0 otherwise → satisfaction
    * R = (2^g−1)/4 ∈ {0, ¼, ¾}. ERR = Σ (1/i)·R_i·Π_{j<i}(1−R_j) is
    * computed as an EXACT integer over [[ErrDenom]]: the running
    * product Π(4−num_j) factors as 4^a·3^b (num ∈ {0,1,3}), with a, b
    * cumulative counts off one window — shiftleft for 4^a, a literal
    * CASE ladder for 3^b, (2520 div i) exact for every i ≤ 10.
    *
    * Scale shape: identical to q434 — the cascade fold rides the
    * k-row-per-probe frame as two conditional cumulative counts. */
  def q435Err(s: SparkSession, dir: String): DataFrame = {
    val e = vectors(s, dir)
    val lbl = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("bigint").as("label"))
    val probes = e.join(lbl, "vec_id")
      .filter(col("vec_id") < KnnProbes)
      .select(col("vec_id").as("probe_id"), col("ed").as("ped"),
        col("nrm").as("pnrm"), col("label").as("plabel"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("pcos").desc, col("vec_id"))
    val wCum = Window.partitionBy("probe_id")
      .orderBy("rank")
      .rowsBetween(Window.unboundedPreceding, -1)
    val pow3 = (0 to 9).map(b => s"WHEN $b THEN ${math.pow(3, b).toLong}")
      .mkString("CASE b ", " ", " ELSE 0 END")
    e.join(lbl, "vec_id")
      .crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("pcos",
        vec_dot(col("ed"), col("ped")) / (col("nrm") * col("pnrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= NdcgK)
      .withColumn("num",
        when(col("label") === col("plabel"), 3L)
          .when(col("label") % 2 === col("plabel") % 2, 1L)
          .otherwise(0L))
      .withColumn("a", coalesce(sum(when(col("num") === 0L, 1L)
        .otherwise(0L)).over(wCum), lit(0L)))
      .withColumn("b", coalesce(sum(when(col("num") === 1L, 1L)
        .otherwise(0L)).over(wCum), lit(0L)))
      .groupBy("probe_id")
      .agg(sum(expr(s"""(2520 div rank) * num
          * shiftleft(CAST(1 AS BIGINT), CAST(2 * a AS INT))
          * ($pow3)
          * shiftleft(CAST(1 AS BIGINT),
              CAST(2 * ($NdcgK - rank) AS INT))""")).as("err_scaled"))
      .select(col("probe_id"), col("err_scaled"),
        expr(s"err_scaled * 1000000 div $ErrDenom").as("err_ppm"))
  }

  private def q435OracleSql: String = {
    val pow3 = (0 to 9).map(b => s"WHEN $b THEN ${math.pow(3, b).toLong}")
      .mkString("CASE b ", " ", " ELSE 0 END")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
          sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[]))) AS nrm,
          CAST(label AS BIGINT) AS label
        FROM embeddings),
        probes AS (SELECT vec_id AS probe_id, ed AS ped, nrm AS pnrm,
            label AS plabel
          FROM e WHERE vec_id < $KnnProbes),
        ranked AS (SELECT probe_id, plabel, nlabel,
            row_number() OVER (PARTITION BY probe_id
              ORDER BY pcos DESC, vec_id) AS rn
          FROM (SELECT p.probe_id, p.plabel, a.vec_id,
                  a.label AS nlabel,
                  list_dot_product(a.ed, p.ped) / (a.nrm * p.pnrm)
                    AS pcos
                FROM e a CROSS JOIN probes p
                WHERE a.vec_id <> p.probe_id) z),
        graded AS (SELECT probe_id, rn,
          CASE WHEN nlabel = plabel THEN 3
               WHEN nlabel % 2 = plabel % 2 THEN 1 ELSE 0 END AS num
          FROM ranked WHERE rn <= $NdcgK),
        cums AS (SELECT probe_id, rn, num,
          CAST(coalesce(sum(CASE WHEN num = 0 THEN 1 ELSE 0 END)
            OVER (PARTITION BY probe_id ORDER BY rn
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS a,
          CAST(coalesce(sum(CASE WHEN num = 1 THEN 1 ELSE 0 END)
            OVER (PARTITION BY probe_id ORDER BY rn
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS b
          FROM graded)
        SELECT probe_id,
          CAST(sum((2520 // rn) * num
            * (CAST(1 AS BIGINT) << CAST(2 * a AS INTEGER))
            * ($pow3)
            * (CAST(1 AS BIGINT) << CAST(2 * ($NdcgK - rn)
                AS INTEGER))) AS BIGINT) AS err_scaled,
          CAST(CAST(sum((2520 // rn) * num
            * (CAST(1 AS BIGINT) << CAST(2 * a AS INTEGER))
            * ($pow3)
            * (CAST(1 AS BIGINT) << CAST(2 * ($NdcgK - rn)
                AS INTEGER))) AS BIGINT) * 1000000 // $ErrDenom
            AS BIGINT) AS err_ppm
        FROM cums GROUP BY probe_id"""
  }

  // ------------------------------------------------------------ q450

  /** q450 — RAYLEIGH-QUOTIENT CERTIFICATE for the q351 power iterate
    * (the readout q351 deliberately omits: it releases the dominant
    * eigenVECTOR's fixed-point iterate but never says WHAT eigenvalue
    * it converged to, or HOW converged it is — the two numbers any
    * consumer of a spectral readout needs before trusting it; the
    * residual ‖Gx − λx‖/‖Gx‖ is the standard a-posteriori
    * convergence certificate). One extra matvec on the drained
    * iterate: λ = (xᵀGx) div (xᵀx) exact (the fixed-point scale
    * cancels), per-dim residual aᵢ = \|den·yᵢ − num·xᵢ\| div den
    * (≈ \|yᵢ − λxᵢ\| — the single declared truncation), resid_ppm =
    * Σa·10⁶ div Σ\|y\|. All decimal(38,0) integer algebra.
    *
    * Scale shape: q351's census cost dominates (corpus touched once);
    * the certificate adds one 64²-row matvec and two 64-row folds. */
  def q450RayleighCertificate(s: SparkSession, dir: String): DataFrame = {
    val d = GramDims
    // one extra in-row matvec on the drained iterate, then the exact
    // decimal(38,0) dot/residual folds — the same integer algebra as
    // the old d-row join form, on the single-row state (guide §2.4:
    // the d-sized frames never needed an exchange)
    powerIterate(powerStateRow(s, dir))
      .select(col("x"), expr(matvecExpr(d)).as("y"))
      .select(col("x"), col("y"),
        expr("""aggregate(zip_with(x, y, (nu_x, nu_y) ->
              CAST(nu_x AS DECIMAL(38,0)) * nu_y),
            CAST(0 AS DECIMAL(38,0)),
            (nu_acc, nu_v) -> CAST(nu_acc + nu_v AS DECIMAL(38,0)))""")
          .as("num"),
        expr("""aggregate(transform(x, de_x ->
              CAST(de_x AS DECIMAL(38,0)) * de_x),
            CAST(0 AS DECIMAL(38,0)),
            (de_acc, de_v) -> CAST(de_acc + de_v AS DECIMAL(38,0)))""")
          .as("den"))
      .select(
        expr("CAST(num div den AS BIGINT)").as("lambda_scaled"),
        expr(s"""CAST(CAST(aggregate(zip_with(x, y, (rs_x, rs_y) ->
              abs(CAST(den AS DECIMAL(38,0)) * rs_y
                - CAST(num AS DECIMAL(38,0)) * rs_x) div den),
            CAST(0 AS DECIMAL(38,0)),
            (rs_acc, rs_v) -> CAST(rs_acc + rs_v AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) * 1000000
            div aggregate(transform(y, yn_y ->
                abs(CAST(yn_y AS DECIMAL(38,0)))),
              CAST(0 AS DECIMAL(38,0)),
              (yn_acc, yn_v) -> CAST(yn_acc + yn_v AS DECIMAL(38,0)))
            AS BIGINT)""").as("resid_ppm"))
  }

  private def q450OracleSql: String =
    s"""WITH $quantCtes,
        cells AS (SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
              qe[i + 1] * qe[j + 1] AS p
            FROM qarr, range(0, $GramDims) r1(i), range(0, $GramDims) r2(j)
            WHERE j >= i),
        gup AS (SELECT i, j, CAST(sum(p) AS BIGINT) AS g
          FROM cells GROUP BY i, j),
        sym AS (SELECT i, j, g FROM gup
          UNION ALL
          SELECT j AS i, i AS j, g FROM gup WHERE i <> j),
        x0 AS (SELECT CAST(r.d AS BIGINT) AS dim,
            CAST($PowerScale AS BIGINT) AS xv
          FROM range(0, $GramDims) r(d)),
        $powerIterCtes,
        xf AS (SELECT dim, xv AS x_scaled FROM x$PowerIters),
        yf AS (SELECT sym.i AS dim, CAST(sum(g * x_scaled) AS BIGINT)
            AS y
          FROM sym JOIN xf ON sym.j = xf.dim GROUP BY sym.i),
        j2 AS (SELECT yf.dim, yf.y, xf.x_scaled
          FROM yf JOIN xf ON yf.dim = xf.dim),
        dots AS (SELECT sum(CAST(x_scaled AS HUGEINT) * y) AS num,
          sum(CAST(x_scaled AS HUGEINT) * x_scaled) AS den FROM j2),
        terms AS (SELECT
            abs(CAST(den AS HUGEINT) * y
              - CAST(num AS HUGEINT) * x_scaled) // den AS a,
            abs(CAST(y AS HUGEINT)) AS ay, num, den
          FROM j2 CROSS JOIN dots)
        SELECT CAST(num // den AS BIGINT) AS lambda_scaled,
          CAST(CAST(sum(a) AS HUGEINT) * 1000000 // sum(ay) AS BIGINT)
            AS resid_ppm
        FROM terms GROUP BY num, den"""

  // ------------------------------------------------------------ q461

  /** q461 — LINEAR-KERNEL MMD between embedding label groups (the
    * DISTRIBUTION-shift counterpart of q323's centroid drift: drift
    * tracks ONE population's centroid over time, MMD² =
    * ‖μ_a − μ_b‖² under the linear kernel measures how separated two
    * populations' embedding distributions are RIGHT NOW — the
    * embedding-space two-sample test a model-rollout gate runs on old
    * vs new encoder outputs, here exercised across the 45 label
    * pairs). Per-label per-dim sums over the int8-quantized vectors
    * (the q154 grid — EXACT integers); per pair, MMD² in mean units
    * released ×10³ by exact integer algebra:
    * Σ_d (s_a·n_b − s_b·n_a)²·10³ div (n_a·n_b)².
    *
    * Scale shape: one corpus explode to the (label × dim) sum census
    * (640 cells at any SF, map-side combined); the 45-pair panel is a
    * dim-keyed self-join of that census. */
  def q461EmbeddingMmd(s: SparkSession, dir: String): DataFrame = {
    val lbl = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("bigint").as("label"))
    val cells = quantizedVecs(s, dir)
      .select("vec_id", "qe")
      .join(lbl, "vec_id")
      .select(col("label"), posexplode(col("qe")))
      .withColumnRenamed("pos", "dim").withColumnRenamed("col", "qv")
      .groupBy("label", "dim")
      .agg(sum("qv").as("sd"))
      .localCheckpoint(true)
    val ns = lbl.groupBy("label").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val a = cells.select(col("label").as("la"), col("dim"),
      col("sd").as("sa"))
      .join(broadcast(ns.select(col("label").as("la"),
        col("n").as("na"))), "la")
    val b = cells.select(col("label").as("lb"), col("dim"),
      col("sd").as("sb"))
      .join(broadcast(ns.select(col("label").as("lb"),
        col("n").as("nb"))), "lb")
    a.join(b, "dim").filter(col("la") < col("lb"))
      .groupBy("la", "lb")
      .agg(max("na").as("na"), max("nb").as("nb"),
        sum(expr("""CAST(sa * nb - sb * na AS DECIMAL(38,0))
             * (sa * nb - sb * na)""")).as("num"))
      .select(col("la"), col("lb"), col("na"), col("nb"),
        expr("""CAST(num * 1000
             div (CAST(na AS DECIMAL(38,0)) * nb * na * nb)
             AS BIGINT)""").as("mmd2_milli"))
  }

  private def q461OracleSql: String =
    s"""WITH $quantCtes,
        lbl AS (SELECT vec_id, CAST(label AS BIGINT) AS label
          FROM embeddings),
        cells AS (SELECT l.label,
            CAST(generate_subscripts(q.qe, 1) - 1 AS BIGINT) AS dim,
            unnest(q.qe) AS qv
          FROM qarr q JOIN lbl l ON q.vec_id = l.vec_id),
        sums AS (SELECT label, dim, CAST(sum(qv) AS BIGINT) AS sd
          FROM cells GROUP BY 1, 2),
        ns AS (SELECT label, CAST(count(*) AS BIGINT) AS n
          FROM lbl GROUP BY 1),
        pairs AS (SELECT a.label AS la, b.label AS lb, a.dim,
            a.sd AS sa, b.sd AS sb, na.n AS na, nb.n AS nb
          FROM sums a JOIN sums b ON a.dim = b.dim AND a.label < b.label
          JOIN ns na ON na.label = a.label
          JOIN ns nb ON nb.label = b.label)
        SELECT la, lb, CAST(max(na) AS BIGINT) AS na,
          CAST(max(nb) AS BIGINT) AS nb,
          CAST(sum(CAST(sa * nb - sb * na AS HUGEINT)
              * (sa * nb - sb * na)) * 1000
            // (CAST(max(na) AS HUGEINT) * max(nb) * max(na) * max(nb))
            AS BIGINT) AS mmd2_milli
        FROM pairs GROUP BY la, lb"""

  // ------------------------------------------------------------ q495

  /** q495 — EMBEDDING NORM AUDIT (the vector-quality screen every ANN
    * index build runs first: zero vectors poison cosine (0/0),
    * near-zero norms amplify quantization error, and a norm
    * distribution that isn't tight means the embedding model — or the
    * ingest that scaled it — drifted; the family consumes normalized
    * cosines everywhere and this is the audit that says the
    * normalization is safe). Per vector: norm via the same
    * [[graft.functions.VectorFunctions.vec_dot]]/sqrt chain the
    * retrieval queries rank with (cross-engine IEEE-identical);
    * released the decile histogram of floor(norm) plus
    * {n, n_zero} — counts only, no corpus-length double fold.
    *
    * Scale shape: one corpus scan, in-row norm, ≤ \|buckets\|-row
    * census. */
  def q495EmbeddingNormAudit(s: SparkSession, dir: String): DataFrame = {
    val e = vectors(s, dir)
    val bucketed = e.select(
      when(col("nrm") === 0.0, -1L)
        .otherwise(expr("CAST(floor(nrm) AS BIGINT)")).as("bucket"))
      .localCheckpoint(true)
    val g = bucketed.agg(count(lit(1)).as("n"),
      sum(when(col("bucket") === -1L, 1L).otherwise(0L)).as("n_zero"))
    bucketed.groupBy("bucket").agg(count(lit(1)).as("n_vecs"))
      .crossJoin(broadcast(g))
      .select(col("bucket"), col("n_vecs"),
        expr("n_vecs * 1000000 div n").as("share_ppm"))
  }

  private def q495OracleSql: String =
    """WITH e AS (SELECT vec_id,
          sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
        b AS (SELECT CASE WHEN nrm = 0.0 THEN -1
            ELSE CAST(floor(nrm) AS BIGINT) END AS bucket FROM e),
        g AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b)
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_vecs,
          CAST(count(*) AS BIGINT) * 1000000 // max(g.n) AS share_ppm
        FROM b CROSS JOIN g GROUP BY bucket"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q450_rayleigh_certificate" -> (q450RayleighCertificate _),
    "q461_embedding_mmd" -> (q461EmbeddingMmd _),
    "q495_embedding_norm_audit" -> (q495EmbeddingNormAudit _),
    "q351_power_iteration" -> (q351PowerIteration _),
    "q344_cka_prefix" -> (q344CkaPrefix _),
    "q334_class_separability" -> (q334ClassSeparability _),
    "q327_matryoshka_eval" -> (q327MatryoshkaEval _),
    "q323_centroid_drift" -> (q323SourceCentroidDrift _),
    "q324_pq_assign" -> (q324PqAssign _),
    "q510_pq_adc_topk" -> (q510PqAdcTopk _),
    "q512_ivf_pq_search" -> (q512IvfPqSearch _),
    "q315_effective_rank" -> (q315EffectiveRank _),
    "q293_dimension_audit" -> (q293DimensionAudit _),
    "q257_ndcg_eval" -> (q257NdcgEval _),
    "q381_map_eval" -> (q381MapEval _),
    "q434_rbp_eval" -> (q434Rbp _),
    "q435_err_eval" -> (q435Err _),
    "q249_silhouette" -> (q249Silhouette _),
    "q246_cohens_kappa" -> (q246CohensKappa _),
    "q241_knn_classify" -> (q241KnnClassify _),
    "q235_random_projection" -> (q235RandomProjection _),
    "q227_margin_knn" -> (q227MarginKnn _),
    "q153_ann_eval" -> (q153AnnEval _),
    "q215_mrr_eval" -> (q215MrrEval _),
    "q154_gram_matrix" -> (q154GramMatrix _),
    "q111_kmeans_refine" -> (q111KmeansRefine _),
    // round 11: the DECLARED query now applies the k ∝ n rule too —
    // the oracle carries the same greatest(16, n div 128) bound, so
    // the differential follows the geometry at every SF (at sf ≤ 0.1
    // the bound floors to the legacy 16, so results and baselines are
    // unchanged there; the sf10 endurance run is what forced this —
    // fixed k=16 measured 287 s / raw exp 1.84)
    "q127_semdedup" -> ((s: SparkSession, d: String) =>
      q127Semdedup(s, d)),
    "q128_rerank_ann" -> (q128RerankAnn _),
    "q133_mmr_select" -> (q133MmrSelect _),
    "q120_multiprobe_ann" -> (q120MultiprobeAnn _),
    "q29_ann_ivf" -> (q29AnnIvf _),
    "q42_topk_per_label" -> (q42TopkPerLabel _),
    "q52_ann_lsh" -> (q52AnnLsh _),
    "q76_batch_ann" -> (q76BatchAnn _),
    "q86_label_centroids" -> (q86LabelCentroids _),
    "q91_quantize_embeddings" -> (q91QuantizeEmbeddings _))

  val oracleSql: Map[String, String] = Map(
    "q450_rayleigh_certificate" -> q450OracleSql,
    "q461_embedding_mmd" -> q461OracleSql,
    "q495_embedding_norm_audit" -> q495OracleSql,
    "q344_cka_prefix" -> q344OracleSql,
    "q351_power_iteration" -> q351OracleSql,
    "q334_class_separability" -> q334OracleSql,
    "q327_matryoshka_eval" -> q327OracleSql,
    "q323_centroid_drift" -> q323OracleSql,
    "q324_pq_assign" -> q324OracleSql,
    "q510_pq_adc_topk" -> q510OracleSql,
    "q512_ivf_pq_search" -> q512OracleSql,
    "q315_effective_rank" -> q315OracleSql,
    "q293_dimension_audit" -> q293OracleSql,
    "q257_ndcg_eval" -> q257OracleSql,
    "q381_map_eval" -> q381OracleSql,
    "q434_rbp_eval" -> q434OracleSql,
    "q435_err_eval" -> q435OracleSql,
    "q249_silhouette" -> q249OracleSql,
    "q246_cohens_kappa" -> q246OracleSql,
    "q241_knn_classify" -> q241OracleSql,
    "q235_random_projection" -> q235OracleSql,
    "q227_margin_knn" -> q227OracleSql,
    "q153_ann_eval" -> q153OracleSql,
    "q215_mrr_eval" -> q215OracleSql,
    "q154_gram_matrix" -> q154OracleSql,
    "q111_kmeans_refine" -> q111OracleSql,
    "q127_semdedup" -> q127OracleSql,
    "q128_rerank_ann" -> q128OracleSql,
    "q133_mmr_select" -> q133OracleSql,
    "q120_multiprobe_ann" -> q120OracleSql,
    "q29_ann_ivf" -> q29OracleSql,
    "q42_topk_per_label" -> q42OracleSql,
    "q52_ann_lsh" -> q52OracleSql,
    "q76_batch_ann" -> q76OracleSql,
    "q86_label_centroids" -> q86OracleSql,
    "q91_quantize_embeddings" -> q91OracleSql)
}
