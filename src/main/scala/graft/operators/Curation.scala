package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables.{load => t}

/** Training-data curation planners and sketches (round 11): the
  * register-exact HyperLogLog census (q496, with its streaming twin
  * q500 in EventStream), the pass@k evaluation estimator (q497), the
  * exact-integer Gini split-gain advisor (q498), and the
  * compute-optimal token/parameter allocator (q499).
  *
  * House determinism disciplines carried forward: every released
  * integer is either exact int64 arithmetic or ONE IEEE-correctly-
  * rounded double chain shared as identical text by both engines
  * (division, multiplication, sqrt and int→double casts are all
  * correctly rounded per IEEE-754, so a single such chain is
  * bit-identical cross-engine; only libm transcendentals are not, and
  * none appear here — the q403/q386 lesson applied at design time).
  */
object Curation {

  // ---------------------------------------------------------------- q496

  /** HLL geometry: a 31-bit LCG-style hash (A·id + B mod P, the q30
    * minhash family's integer-exact convention — products ≤ A·maxid ≈
    * 2·10¹⁵ at sf100, int64-safe), m = 64 registers from the low 6
    * bits, rank from the remaining 25 bits. */
  private[graft] val HllP = 2147483647L // 2^31 - 1
  private[graft] val HllA = 1103515245L
  private[graft] val HllB = 12345L

  /** rho = leading-zero rank of the 25-bit tail + 1, as a generated
    * integer CASE ladder (shared text) — bit_length/log2 would route
    * through engine-specific implementations; 25 integer compares are
    * exact everywhere. v = 0 (all 25 bits zero) ranks 26. */
  private[graft] val hllRhoCase: String =
    (1 to 25).map(i => s"WHEN hll_v >= ${1L << (25 - i)} THEN $i")
      .mkString("CASE ", " ", " ELSE 26 END")

  /** alpha_64 · m² · 2²⁵ = 0.7213/(1+1.079/64) · 4096 · 33554432,
    * baked as one shortest-round-trip literal (the only non-integer
    * constant in the estimator). */
  private[graft] val HllAlphaNum = "97491078487.97049"

  /** The register→estimate finisher, shared text: S_int = Σ 2^(25−Mⱼ)
    * over all 64 registers (empty registers contribute 2²⁵ — the
    * (64 − n_regs) completion term), an exact integer ≤ 64·2²⁵ = 2³¹;
    * the estimate alpha·m²/Σ2^(−M) = [[HllAlphaNum]]/S_int is ONE
    * double division + one ·1000 + floor — deterministic. */
  private[graft] val hllEstMilli: String =
    s"CAST(floor($HllAlphaNum / CAST(s_int AS DOUBLE) * 1000) AS BIGINT)"

  /** q496 — HYPERLOGLOG DISTINCT-USER CENSUS, register-exact under the
    * differential AND FINISHED: q316 already declares the per-day
    * register TABLE but stops there, its scaladoc ruling the harmonic
    * estimate out as "a 64-term float fold — exactly the kind of
    * cross-engine-unsafe step this repo never declares". This query
    * retires that limitation: because every term 2^(25−M) is an exact
    * power of two, the fold is computed as an INTEGER sum of shifted
    * ones (S_int ≤ 2³¹ — no float ever accumulates), and the only
    * double step left is the single final division by S_int — which
    * IS declarable under the q403 doctrine. So the released figure is
    * the full HLL ESTIMATE, not just its registers (per event_type;
    * the exact n_exact column rides alongside purely as the eval
    * yardstick). Per event_type: the 64-register census (reg =
    * hash mod 64, M = max rho), the exact integer S_int, the raw HLL
    * estimate ×1000, and its signed-free error vs exact in ppm. The
    * small-range linear-counting correction is deliberately NOT
    * implemented — it needs ln(m/V) at query time (libm, the exact
    * thing the literal discipline bans); the released figure is the
    * RAW estimator, whose known small-cardinality bias the err_ppm
    * column makes visible instead of hiding (n≈150·SF per type vs
    * m = 64: biased at sf0.001, honest from sf0.01 up).
    *
    * Scale shape: ONE corpus scan map-side combined to the
    * (type, register) census (≤ 5·64 rows at any SF), plus the eval
    * count-distinct — which a production run simply drops, leaving
    * zero wide shuffles. Int64 bounds: S_int ≤ 2³¹; est_milli ≤
    * 1.5·10¹²; err_ppm products ≤ ~10¹⁸ documented. */
  def q496HllDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("event_type"), col("user_id"))
    val regs = ev
      .withColumn("hll_h",
        expr(s"($HllA * user_id + $HllB) % $HllP"))
      .withColumn("hll_reg", expr("hll_h % 64"))
      .withColumn("hll_v", expr("hll_h div 64"))
      .withColumn("rho", expr(hllRhoCase))
      .groupBy("event_type", "hll_reg")
      .agg(max("rho").as("m"))
    val fin = regs.groupBy("event_type")
      .agg(count(lit(1)).as("n_regs"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), 25 - m)")).as("s_occ"))
      .withColumn("s_int",
        col("s_occ") + (lit(64L) - col("n_regs")) * lit(33554432L))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct("user_id").as("n_exact"))
    fin.join(exact, "event_type")
      .withColumn("est_milli", expr(hllEstMilli))
      .withColumn("err_ppm", expr(
        "abs(est_milli - 1000 * n_exact) * 1000000 div (1000 * n_exact)"))
      .select("event_type", "n_exact", "n_regs", "s_int", "est_milli",
        "err_ppm")
  }

  private[graft] def q496OracleSql: String =
    s"""WITH hashed AS (SELECT event_type,
          ((($HllA * user_id + $HllB) % $HllP) % 64) AS hll_reg,
          ((($HllA * user_id + $HllB) % $HllP) // 64) AS hll_v,
          user_id
        FROM events),
        regs AS (SELECT event_type, hll_reg,
          max($hllRhoCase) AS m
        FROM hashed GROUP BY event_type, hll_reg),
        fin AS (SELECT event_type,
          CAST(count(*) AS BIGINT) AS n_regs,
          CAST(sum((CAST(1 AS BIGINT) << (25 - m))) AS BIGINT)
            + (64 - CAST(count(*) AS BIGINT)) * 33554432 AS s_int
        FROM regs GROUP BY event_type),
        exact AS (SELECT event_type,
          CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM hashed GROUP BY event_type),
        est AS (SELECT f.event_type, n_exact, n_regs, s_int,
          $hllEstMilli AS est_milli
        FROM fin f JOIN exact e ON f.event_type = e.event_type)
        SELECT event_type, n_exact, n_regs, s_int, est_milli,
          abs(est_milli - 1000 * n_exact) * 1000000
            // (1000 * n_exact) AS err_ppm
        FROM est"""

  // ---------------------------------------------------------------- q497

  /** pass@k falling-factorial ratio as generated shared text: the
    * unbiased estimator 1 − C(n−c,k)/C(n,k) with the binomials
    * expanded to Π(n−c−i)/Π(n−i) — exact int64 products whose
    * int→double casts stay EXACT for every n ≤ 44: the largest factor
    * product is the k=10 falling factorial (n)₁₀, and (44)₁₀ =
    * 9.004·10¹⁵ < 2⁵³ < (45)₁₀, so 44 is the exactness bound (the
    * Poisson order-count tail sits far below it — observed max 25
    * orders/customer at the shipped SFs, and CurationSpec asserts the
    * data stays under the bound), one double division ·10⁶ floor.
    * n−c < k means every k-subset contains a success → pass = 1
    * exactly. */
  private def passAtK(k: Int): String = {
    val num = (0 until k).map(i => s"(n - c - $i)").mkString(" * ")
    val den = (0 until k).map(i => s"(n - $i)").mkString(" * ")
    s"""CASE WHEN n - c < $k THEN 1000000
        ELSE 1000000 - CAST(floor(CAST($num AS DOUBLE)
          / CAST($den AS DOUBLE) * 1000000) AS BIGINT) END"""
  }

  /** q497 — PASS@K EVALUATION ESTIMATOR (the HumanEval/Codex metric,
    * the one eval-suite number the retrieval-eval family — q215 MRR,
    * q434 RBP, q435 ERR — doesn't cover: those score RANKED lists,
    * pass@k scores REPEATED SAMPLING, "would at least one of k draws
    * from this task's n attempts succeed", computed with the unbiased
    * combinatorial estimator rather than the naive 1−(1−c/n)^k, which
    * overestimates). Tasks = customers with n ≥ 10 orders (attempts);
    * success = a 1-URGENT order. Released per market segment: task
    * count and the mean pass@1/5/10 in ppm (sum of exact per-task
    * ppms, one integer division — cross-engine exact).
    *
    * Scale shape: one fact shuffle to the per-customer census, a
    * broadcast dim join for the segment, and a segment-frame
    * aggregate — no fact⋈fact, nothing corpus². */
  def q497PassAtK(s: SparkSession, dir: String): DataFrame = {
    val tasks = t(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1L)
          .otherwise(0L)).as("c"))
      .filter(col("n") >= 10)
      .withColumn("p1", expr(passAtK(1)))
      .withColumn("p5", expr(passAtK(5)))
      .withColumn("p10", expr(passAtK(10)))
    tasks.join(
        broadcast(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_tasks"),
        expr("sum(p1) div count(1)").as("pass1_ppm"),
        expr("sum(p5) div count(1)").as("pass5_ppm"),
        expr("sum(p10) div count(1)").as("pass10_ppm"))
  }

  private[graft] def q497OracleSql: String =
    s"""WITH tasks AS (SELECT o_custkey,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1
            ELSE 0 END) AS BIGINT) AS c
        FROM orders GROUP BY o_custkey HAVING count(*) >= 10),
        scored AS (SELECT o_custkey,
          ${passAtK(1)} AS p1, ${passAtK(5)} AS p5,
          ${passAtK(10)} AS p10
        FROM tasks)
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_tasks,
          CAST(sum(p1) // count(*) AS BIGINT) AS pass1_ppm,
          CAST(sum(p5) // count(*) AS BIGINT) AS pass5_ppm,
          CAST(sum(p10) // count(*) AS BIGINT) AS pass10_ppm
        FROM scored JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment"""

  // ---------------------------------------------------------------- q498

  /** q498's candidate binary features over documents, as (name,
    * predicate) pairs of shared SQL text — the predicate text is
    * embedded verbatim in both engines. */
  private val SplitFeatures: Seq[(String, String)] = Seq(
    ("lang_en", "lang = 'en'"),
    ("len_300", "n_chars >= 300"),
    ("src_low",
      (0 to 9).map(i => s"'src$i'").mkString("source IN (", ", ", ")")))

  /** q498 — GINI SPLIT-GAIN ADVISOR (decision-stump feature ranking
    * for a quality classifier — the fastText/CCNet-style curation
    * step: before training a filter model, rank which cheap metadata
    * predicate most purifies the positive class; Gini because its
    * gain is a RATIONAL in the class counts, so the whole ranking is
    * exact integer arithmetic — entropy gain would cost a libm ln per
    * cell. q210 is the WITHIN-feature member of this family — the
    * best threshold along one numeric axis via census prefix sums;
    * this is the ACROSS-feature member, ranking heterogeneous
    * categorical predicates against each other by explicit gain, the
    * outer loop of the same CART step). Target: the planted rare token 'dup' (the corpus's
    * ground-truth signal). One aggregate pass computes every
    * feature's 2×2 cell counts; per feature, gain_ppm = parent Gini −
    * size-weighted child Ginis, all ×10⁶ over exact integers
    * (products ≤ 2·n²·10⁶ — int64-safe through sf30, bound
    * documented); the argmax row carries chosen = 1 with ties broken
    * toward the LARGER feature name (the struct-max ordering the
    * implementation, the oracle's ORDER BY gain DESC, feature DESC,
    * and CurationSpec all pin).
    *
    * Scale shape: ONE corpus scan collapsing to a single 8-column
    * sufficient-statistics row; the per-feature frame is 3 rows. */
  def q498SplitGain(s: SparkSession, dir: String): DataFrame =
    splitGainFinish(splitGainStats(t(s, dir, "documents")))

  /** The one-pass sufficient-statistics row q498 aggregates and q505
    * streams: overall (n, pos) plus each feature's (n_f, pos_f) — 8
    * columns, all counts, hence associatively mergeable across
    * micro-batches (what makes the streaming twin exact). */
  private[graft] def splitGainStats(docs: DataFrame): DataFrame = {
    val flagged = docs.withColumn("y",
      when(array_contains(split(col("text"), " "), "dup"), 1L)
        .otherwise(0L))
    val aggCols = Seq(
      count(lit(1)).as("n"), sum("y").as("pos")) ++
      SplitFeatures.flatMap { case (name, pred) => Seq(
        sum(expr(s"CASE WHEN $pred THEN 1 ELSE 0 END"))
          .as(s"n_$name"),
        sum(expr(s"CASE WHEN $pred THEN y ELSE 0 END"))
          .as(s"pos_$name")) }
    flagged.agg(aggCols.head, aggCols.tail: _*)
  }

  /** q498's finisher over the sufficient-statistics row: unpivot to
    * the 3-row feature frame, exact-integer gains, argmax flag. */
  private[graft] def splitGainFinish(stats: DataFrame): DataFrame = {
    val unpivoted = stats.select(col("n"), col("pos"),
      expr(s"stack(${SplitFeatures.size}, " +
        SplitFeatures.map { case (name, _) =>
          s"'$name', n_$name, pos_$name" }.mkString(", ") +
        ") AS (feature, n_left, pos_left)"))
    val scored = unpivoted.select(col("feature"), col("n_left"),
      col("pos_left"),
      expr(giniGainPpm).as("gain_ppm"))
    // argmax with the LARGER feature name breaking gain ties — the
    // ordering struct-max gives for free, mirrored in the oracle's
    // ORDER BY gain DESC, feature DESC LIMIT 1
    val best = scored.agg(max(struct(col("gain_ppm"),
      col("feature"))).as("b"))
      .select(col("b.gain_ppm").as("best_gain"),
        col("b.feature").as("best_feature"))
    scored.crossJoin(broadcast(best))
      .withColumn("chosen",
        when(col("gain_ppm") === col("best_gain") &&
          col("feature") === col("best_feature"), 1L).otherwise(0L))
      .select("feature", "n_left", "pos_left", "gain_ppm", "chosen")
  }

  /** Exact-integer Gini gain ×10⁶ as shared text over the sufficient
    * statistics (n, pos, n_left, pos_left): parent impurity
    * 2·pos·neg·10⁶ // n², children weighted by size — the empty-side
    * guard returns gain 0 (a split that separates nothing ranks
    * last, not undefined). */
  private val giniGainPpm: String =
    """CASE WHEN n_left = 0 OR n_left = n THEN 0
       ELSE (2 * pos * (n - pos) * 1000000 div (n * n))
         - ((n_left * (2 * pos_left * (n_left - pos_left) * 1000000
              div (n_left * n_left))
            + (n - n_left) * (2 * (pos - pos_left)
                * ((n - n_left) - (pos - pos_left)) * 1000000
              div ((n - n_left) * (n - n_left)))) div n)
       END"""

  private[graft] def q498OracleSql: String = {
    val cells = SplitFeatures.map { case (name, pred) =>
      s"""CAST(sum(CASE WHEN $pred THEN 1 ELSE 0 END) AS BIGINT)
           AS n_$name,
         CAST(sum(CASE WHEN $pred THEN y ELSE 0 END) AS BIGINT)
           AS pos_$name""" }.mkString(",\n")
    val rows = SplitFeatures.map { case (name, _) =>
      s"SELECT n, pos, '$name' AS feature, n_$name AS n_left, " +
        s"pos_$name AS pos_left FROM stats" }
      .mkString(" UNION ALL ")
    val duckGain = giniGainPpm.replace(" div ", " // ")
    s"""WITH docs AS (SELECT
          CASE WHEN list_contains(string_split(text, ' '), 'dup')
            THEN 1 ELSE 0 END AS y,
          lang, n_chars, source
        FROM documents),
        stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(y) AS BIGINT) AS pos, $cells
        FROM docs),
        scored AS (SELECT feature, n_left, pos_left,
          $duckGain AS gain_ppm
        FROM ($rows)),
        best AS (SELECT gain_ppm AS g, feature AS f FROM scored
          ORDER BY gain_ppm DESC, feature DESC LIMIT 1)
        SELECT feature, n_left, pos_left, gain_ppm,
          CASE WHEN gain_ppm = (SELECT g FROM best)
            AND feature = (SELECT f FROM best)
            THEN 1 ELSE 0 END AS chosen
        FROM scored"""
  }

  // ---------------------------------------------------------------- q499

  /** q499 — COMPUTE-OPTIMAL ALLOCATION PLANNER (the Chinchilla rule
    * applied to the corpus the engine curates: a training-data
    * pipeline's output is measured in tokens, and the first question
    * a planner asks of a source census is "what model size does this
    * token mass compute-optimally feed, and what does the whole
    * corpus afford" — Hoffmann et al. 2022's ≈20 tokens/parameter
    * rule of thumb). Per source: token mass D (whitespace tokens, the
    * q218 convention), the model size it saturates N = D/20, and the
    * FLOPs that training run costs C = 6·N·D — all exact int64
    * (C ≤ 2.3·10¹⁶ at sf100, bound documented). Global (attached as a
    * 1-row broadcast): the corpus-wide budget ΣC inverted back
    * through C = 120·N² to the single model the WHOLE corpus
    * compute-optimally affords, N_budget = floor(√(ΣC/120)) — one
    * int→double cast, one division, one sqrt, one floor, every step
    * IEEE-correctly-rounded, hence bit-identical cross-engine (sqrt
    * is NOT a libm transcendental — the literal discipline does not
    * apply).
    *
    * Scale shape: ONE corpus scan map-side combined to the source
    * census (≤ 20 rows); the global row is a census-frame aggregate
    * broadcast back — zero wide shuffles. */
  def q499ChinchillaSplit(s: SparkSession, dir: String): DataFrame = {
    val perSource = t(s, dir, "documents")
      .select(col("source"),
        expr("CAST(size(split(text, ' ')) AS BIGINT)").as("toks"))
      .groupBy("source")
      .agg(sum("toks").as("d_tokens"))
      .withColumn("n_opt", expr("d_tokens div 20"))
      .withColumn("flops", expr("6 * n_opt * d_tokens"))
    val global = perSource
      .agg(sum("flops").as("f_total"))
      .select(col("f_total"),
        expr("CAST(floor(sqrt(CAST(f_total AS DOUBLE) / 120.0)) " +
          "AS BIGINT)").as("n_budget"))
      .withColumn("d_budget", expr("20 * n_budget"))
    perSource.crossJoin(broadcast(global))
      .select("source", "d_tokens", "n_opt", "flops", "f_total",
        "n_budget", "d_budget")
  }

  private[graft] def q499OracleSql: String =
    """WITH per_source AS (SELECT source,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS d_tokens
       FROM documents GROUP BY source),
       sized AS (SELECT source, d_tokens,
         d_tokens // 20 AS n_opt,
         6 * (d_tokens // 20) * d_tokens AS flops
       FROM per_source),
       global AS (SELECT CAST(sum(flops) AS BIGINT) AS f_total,
         CAST(floor(sqrt(CAST(sum(flops) AS DOUBLE) / 120.0))
           AS BIGINT) AS n_budget
       FROM sized)
       SELECT source, d_tokens, n_opt, flops, f_total, n_budget,
         20 * n_budget AS d_budget
       FROM sized, global"""

  // ---------------------------------------------------------------- q504

  /** q504 — HLL SET ALGEBRA (the property that makes HLL the lake's
    * distinct sketch rather than just a counter: two sketches UNION
    * by register-wise max EXACTLY — union-of-maxes IS the sketch of
    * the union, no approximation added — and intersections follow by
    * inclusion–exclusion on the estimates; q181 demonstrates the same
    * algebra for KMV, this closes it for the fixed-state sketch).
    * Over the click and purchase user sets: each side's 64-register
    * sketch, their max-merged union sketch, the three q496-style
    * estimates, the inclusion–exclusion intersection estimate (signed
    * — IE on estimates can undershoot 0 for small overlaps, released
    * as-is rather than clamped, since a consumer chaining further
    * algebra needs the raw value), and the four exact yardsticks.
    * Every step is the q496 discipline: integer register sums, one
    * double division per estimate, then exact integer milli algebra.
    *
    * Scale shape: ONE filtered scan map-side combined to the
    * (type, register) census; the union fold, estimates, and exact
    * eval counts all ride 1-row/census frames. */
  def q504HllSetAlgebra(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), col("user_id"))
    val regs = ev
      .withColumn("hll_h", expr(s"($HllA * user_id + $HllB) % $HllP"))
      .withColumn("hll_reg", expr("hll_h % 64"))
      .withColumn("hll_v", expr("hll_h div 64"))
      .withColumn("rho", expr(hllRhoCase))
      .groupBy("event_type", "hll_reg")
      .agg(max("rho").as("m"))
      .localCheckpoint(true) // one census forcing: 3 consumers below
    def sInt: org.apache.spark.sql.Column =
      (lit(64L) - count(lit(1))) * lit(33554432L) +
        sum(expr("shiftleft(CAST(1 AS BIGINT), 25 - m)"))
    val sc = regs.filter(col("event_type") === "click")
      .agg(sInt.as("s_c"))
    val sp = regs.filter(col("event_type") === "purchase")
      .agg(sInt.as("s_p"))
    val su = regs.groupBy("hll_reg").agg(max("m").as("m"))
      .agg(sInt.as("s_u"))
    val exact = ev.groupBy("user_id")
      .agg(max(when(col("event_type") === "click", 1L).otherwise(0L))
        .as("hc"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("hp"))
      .agg(sum("hc").as("n_c"), sum("hp").as("n_p"),
        count(lit(1)).as("n_u"),
        sum(expr("hc * hp")).as("n_inter"))
    sc.crossJoin(broadcast(sp)).crossJoin(broadcast(su))
      .crossJoin(broadcast(exact))
      .withColumn("est_c_milli", expr(
        s"CAST(floor($HllAlphaNum / CAST(s_c AS DOUBLE) * 1000) AS BIGINT)"))
      .withColumn("est_p_milli", expr(
        s"CAST(floor($HllAlphaNum / CAST(s_p AS DOUBLE) * 1000) AS BIGINT)"))
      .withColumn("est_u_milli", expr(
        s"CAST(floor($HllAlphaNum / CAST(s_u AS DOUBLE) * 1000) AS BIGINT)"))
      .withColumn("inter_est_milli",
        expr("est_c_milli + est_p_milli - est_u_milli"))
      .select("est_c_milli", "est_p_milli", "est_u_milli",
        "inter_est_milli", "n_c", "n_p", "n_u", "n_inter")
  }

  private[graft] def q504OracleSql: String =
    s"""WITH ev AS (SELECT event_type, user_id FROM events
          WHERE event_type IN ('click', 'purchase')),
        regs AS (SELECT event_type, hll_reg, max($hllRhoCase) AS m
          FROM (SELECT event_type,
              ((($HllA * user_id + $HllB) % $HllP) % 64) AS hll_reg,
              ((($HllA * user_id + $HllB) % $HllP) // 64) AS hll_v
            FROM ev)
          GROUP BY event_type, hll_reg),
        sc AS (SELECT (64 - CAST(count(*) AS BIGINT)) * 33554432
            + CAST(sum((CAST(1 AS BIGINT) << (25 - m))) AS BIGINT)
            AS s_c FROM regs WHERE event_type = 'click'),
        sp AS (SELECT (64 - CAST(count(*) AS BIGINT)) * 33554432
            + CAST(sum((CAST(1 AS BIGINT) << (25 - m))) AS BIGINT)
            AS s_p FROM regs WHERE event_type = 'purchase'),
        uregs AS (SELECT hll_reg, max(m) AS m FROM regs
          GROUP BY hll_reg),
        su AS (SELECT (64 - CAST(count(*) AS BIGINT)) * 33554432
            + CAST(sum((CAST(1 AS BIGINT) << (25 - m))) AS BIGINT)
            AS s_u FROM uregs),
        flags AS (SELECT user_id,
            max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS hc,
            max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS hp
          FROM ev GROUP BY user_id),
        exact AS (SELECT CAST(sum(hc) AS BIGINT) AS n_c,
            CAST(sum(hp) AS BIGINT) AS n_p,
            CAST(count(*) AS BIGINT) AS n_u,
            CAST(sum(hc * hp) AS BIGINT) AS n_inter
          FROM flags),
        est AS (SELECT
            CAST(floor($HllAlphaNum / CAST(s_c AS DOUBLE) * 1000)
              AS BIGINT) AS est_c_milli,
            CAST(floor($HllAlphaNum / CAST(s_p AS DOUBLE) * 1000)
              AS BIGINT) AS est_p_milli,
            CAST(floor($HllAlphaNum / CAST(s_u AS DOUBLE) * 1000)
              AS BIGINT) AS est_u_milli,
            n_c, n_p, n_u, n_inter
          FROM sc, sp, su, exact)
        SELECT est_c_milli, est_p_milli, est_u_milli,
          est_c_milli + est_p_milli - est_u_milli AS inter_est_milli,
          n_c, n_p, n_u, n_inter
        FROM est"""

  // ------------------------------------------------------------ q513

  /** DSIR feature-space size: hashed token buckets. 256 keeps the
    * ratio frame broadcast-trivial while leaving the hashed-feature
    * collision behavior the method is defined by (DSIR runs 10⁴–10⁵
    * buckets at paper scale; the bucket count is a config knob, not a
    * plan-shape choice — the frames stay ≤ |B| rows either way). */
  val DsirBuckets = 256L

  /** q513 — DSIR IMPORTANCE WEIGHTS (data selection with importance
    * resampling, Xie et al. 2023 — the curation verb the quality-gate
    * family q90/q130 can't express: instead of thresholding per-doc
    * heuristics, score every raw document by how much its hashed-token
    * profile looks drawn from a TARGET domain rather than the raw
    * corpus, then sample by weight; here target = the `lang = 'en'`
    * slice, the classic select-for-English-web setup). Per hashed
    * bucket b: target count t_b and raw count r_b off ONE token
    * census; the per-bucket likelihood ratio is released EXACTLY as
    * add-one-smoothed rational ppm — ratio_ppm(b) = (t_b+1)(R+|B|)·10⁶
    * div (r_b+1)(T+|B|) in decimal(38,0)/HUGEINT — and each document's
    * weight is the exact integer Σ_tokens ratio_ppm(b(token)). The
    * paper's log-likelihood form Σ c_b·ln(p/q) is deliberately
    * traded for the rational one (the q64 rational-idf precedent): ln
    * is libm and this suite releases nothing libm-dependent; the
    * rational weight preserves the method's shape — per-bucket
    * importance, summed over the doc's tokens — with every released
    * integer bit-identical cross-engine. Released per doc (docs with
    * ≥1 token): (doc_id, n_toks, weight, wpt_ppm = weight div n_toks
    * — the length-normalized selection score).
    *
    * Int64 bounds: t_b ≤ r_b (target ⊆ raw) forces ratio_ppm ≤
    * (R+|B|)·10⁶/(T+|B|) ≈ 10⁶/target-fraction ≈ 5·10⁶ at the ~1/3 en
    * share, SF-invariant; weight ≤ n_toks·5·10⁶ ≈ 10¹⁰ at 10⁴-token
    * docs — int64-safe at any SF (the census products are the only
    * wide terms, and they run decimal38/HUGEINT).
    *
    * Scale shape: ONE corpus token scan map-side combined to the
    * ≤ |B|-row census (both counts in one pass — the target count is a
    * conditional sum, not a second scan); totals fold the census to a
    * 1-row broadcast; scoring re-joins tokens to the ≤ |B|-row
    * broadcast ratio frame and map-side-combines the doc-keyed sum —
    * zero wide shuffles beyond the doc-keyed aggregate, the shape that
    * scores 100 TB in a single pass over the tokens. */
  /** The exact rational ratio expression shared by q513 and its q517
    * streaming twin — ONE text, so the two declarations cannot drift. */
  private[graft] val dsirRatioExpr: String =
    s"""CAST(CAST(t_n + 1 AS DECIMAL(38,0))
          * (rr + $DsirBuckets) * 1000000
        div (CAST(r_n + 1 AS DECIMAL(38,0))
          * (tt + $DsirBuckets)) AS BIGINT)"""

  /** (doc_id, lang, bucket) token frame — batch or streaming (the
    * bucketing is stateless and narrow, so the same code runs under
    * a readStream source for q517). */
  private[graft] def dsirTokenBuckets(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .withColumn("b", expr(s"poly_hash(w) % $DsirBuckets"))
      .select("doc_id", "lang", "b")
  }

  /** ≤ |B|-row dual census over a token-bucket frame. Both counts are
    * plain commutative sums, so the SAME aggregation runs complete-mode
    * over a stream (q517) and its drained table equals the batch
    * census under ANY micro-batch split. */
  private[graft] def dsirCensus(tb: DataFrame): DataFrame =
    tb.groupBy("b").agg(
      count(lit(1)).as("r_n"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("t_n"))

  /** Ratio finisher over a (b, r_n, t_n) census: 1-row totals
    * broadcast + the shared rational expression. */
  private[graft] def dsirRatios(census: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val tot = census.agg(sum("r_n").as("rr"), sum("t_n").as("tt"))
    census.crossJoin(broadcast(tot))
      .select(col("b"), col("r_n"), col("t_n"),
        expr(dsirRatioExpr).as("ratio_ppm"))
  }

  def q513DsirWeights(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val tb = dsirTokenBuckets(t(s, dir, "documents"))
    val census = dsirCensus(tb)
      .cache() // two consumers (totals + ratio); ≤ |B| rows
    val ratio = dsirRatios(census).select("b", "ratio_ppm")
    tb.join(broadcast(ratio), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum("ratio_ppm").as("weight"))
      .select(col("doc_id"), col("n_toks"), col("weight"),
        expr("weight div n_toks").as("wpt_ppm"))
  }

  /** q513/q517 shared oracle CTE prefix: token buckets → dual census →
    * totals → the exact HUGEINT ratio frame (ONE text, both keys). */
  private[graft] def dsirRatioCtes: String = {
    import graft.functions.PortableHash.duckCharFold
    s"""toks AS (SELECT d.doc_id, d.lang, ds_t.w
          FROM (SELECT doc_id, lang, string_split(text, ' ') AS tw
                FROM documents) d,
               unnest(d.tw) AS ds_t(w)
          WHERE ds_t.w <> ''),
        tb AS (SELECT doc_id, lang,
            ${duckCharFold("w")} % $DsirBuckets AS b
          FROM toks),
        census AS (SELECT b, CAST(count(*) AS BIGINT) AS r_n,
            CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS t_n
          FROM tb GROUP BY b),
        tot AS (SELECT CAST(sum(r_n) AS BIGINT) AS rr,
            CAST(sum(t_n) AS BIGINT) AS tt FROM census),
        ratio AS (SELECT b, r_n, t_n,
            CAST((CAST(t_n + 1 AS HUGEINT)
                * (rr + $DsirBuckets) * 1000000)
              // (CAST(r_n + 1 AS HUGEINT)
                * (tt + $DsirBuckets)) AS BIGINT) AS ratio_ppm
          FROM census, tot)"""
  }

  private def q513OracleSql: String =
    s"""WITH $dsirRatioCtes,
        w AS (SELECT tb.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
            CAST(sum(ratio_ppm) AS BIGINT) AS weight
          FROM tb JOIN ratio ON ratio.b = tb.b GROUP BY tb.doc_id)
        SELECT doc_id, n_toks, weight, weight // n_toks AS wpt_ppm
        FROM w"""

  /** q517's oracle: the shared ratio frame, released as-is. */
  def q517OracleSql: String =
    s"""WITH $dsirRatioCtes
        SELECT b, r_n, t_n, ratio_ppm FROM ratio"""

  // ------------------------------------------------------------ wiring

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q513_dsir_weights" -> (q513DsirWeights _),
    "q496_hll_distinct" -> (q496HllDistinct _),
    "q497_pass_at_k" -> (q497PassAtK _),
    "q498_split_gain" -> (q498SplitGain _),
    "q499_chinchilla_split" -> (q499ChinchillaSplit _),
    "q504_hll_set_algebra" -> (q504HllSetAlgebra _))

  val oracleSql: Map[String, String] = Map(
    "q513_dsir_weights" -> q513OracleSql,
    "q496_hll_distinct" -> q496OracleSql,
    "q497_pass_at_k" -> q497OracleSql,
    "q498_split_gain" -> q498OracleSql,
    "q499_chinchilla_split" -> q499OracleSql,
    "q504_hll_set_algebra" -> q504OracleSql)
}
