package graft

import org.apache.spark.sql.functions._

/** Edge inputs for the native expressions: empty strings/arrays, short
  * arrays, nulls — the cases a 100 TB corpus WILL contain somewhere. */
class ExpressionEdgeSpec extends SparkSpec {

  private def one(sqlExpr: String): org.apache.spark.sql.Row =
    spark.range(1).selectExpr(sqlExpr + " AS v").head()

  test("poly_hash of empty string is 0; null propagates") {
    assert(one("poly_hash('')").getLong(0) === 0L)
    assert(one("poly_hash(CAST(NULL AS STRING))").isNullAt(0))
  }

  test("simhash32 of empty token array is 0 (all counters tie -> bit 0)") {
    assert(one("simhash32(CAST(array() AS ARRAY<BIGINT>))")
      .getLong(0) === 0L)
  }

  test("minhash16 of empty array yields MaxValue sentinels") {
    val sigs = one("minhash16(CAST(array() AS ARRAY<BIGINT>))")
      .getSeq[Long](0)
    assert(sigs.length === 16 && sigs.forall(_ === Long.MaxValue))
  }

  test("shingle_hashes on arrays shorter than n is empty, length n is one") {
    assert(one("shingle_hashes(array('a', 'b'), 3)")
      .getSeq[Long](0).isEmpty)
    val single = one("shingle_hashes(array('a', 'b', 'c'), 3)")
      .getSeq[Long](0)
    assert(single.length === 1)
    assert(single.head === one("poly_hash('a b c')").getLong(0))
  }

  test("vec_dot of empty arrays is 0; mismatched lengths use the overlap") {
    assert(one("vec_dot(CAST(array() AS ARRAY<DOUBLE>), " +
      "CAST(array() AS ARRAY<DOUBLE>))").getDouble(0) === 0.0)
    assert(one("vec_dot(array(2.0D, 3.0D), array(10.0D))")
      .getDouble(0) === 20.0)
  }

  test("winnow_keys matches the HOF formulation on random hash arrays") {
    val pb = 1048576L
    val w = 4
    val rnd = new scala.util.Random(42)
    // random lengths >= w, random hashes with repeats to exercise the
    // rightmost-position tie rule (the HOF form can't run on n < w:
    // sequence(w, n) counts DOWN and element_at goes out of bounds)
    val rows = (0 until 200).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(37) + w)(rnd.nextInt(50).toLong + 1))
    }
    val df = spark.createDataFrame(rows).toDF("id", "wn_h")
    val got = df.selectExpr("id", s"winnow_keys(wn_h, $w, $pb) AS k")
    val want = df.selectExpr("id",
      s"""array_distinct(transform(sequence($w, size(wn_h)),
          wn_e -> array_min(transform(sequence(wn_e - ${w - 1}, wn_e),
            wn_i -> element_at(wn_h, wn_i) * $pb
                    + (${pb - 1} - wn_i))))) AS k""")
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
    // n < w emits the empty fingerprint set (the caller filters these,
    // but the expression's own contract must not depend on that)
    val short = spark.createDataFrame(Seq(
      (0L, Seq.empty[Long]), (1L, Seq(5L)), (2L, Seq(5L, 6L, 7L))))
      .toDF("id", "wn_h")
      .selectExpr(s"winnow_keys(wn_h, $w, $pb) AS k")
    assert(short.filter(size(col("k")) =!= 0).count() === 0)
  }

  test("winnow_keys w=1 keeps every position; throws on oversize docs") {
    val all = one(
      "winnow_keys(array(7L, 7L, 3L), 1, 1048576)").getSeq[Long](0)
    // every window is one element -> one key per position, no collapse
    assert(all.length === 3)
    val err = intercept[Exception] {
      one("winnow_keys(transform(sequence(1, 1048576), " +
        "x -> CAST(x AS BIGINT)), 4, 1048576)")
    }
    assert(err.getMessage != null &&
      err.getMessage.contains("exceed pack capacity") ||
      err.getCause != null &&
        err.getCause.getMessage.contains("exceed pack capacity"))
  }

  test("sum_squares over an empty relation returns the zero buffer") {
    val r = spark.range(0).selectExpr("sum_squares(id) AS s").head()
    assert(r.getLong(0) === 0L)
  }

  // ---- libm-residue audit (round-12 verdict #7): the two sites the
  // round-11 constant-fold sweep left as data-dependent. Neither can
  // bake a literal; each gets a domain proof instead.

  test("q331 JSD ln residue: every achievable cell's floor(term*1e9) " +
    "sits farther from its lattice boundary than any 1-ulp libm " +
    "divergence can move it") {
    // The only cross-engine divergence source in the shared expression
    // text is ln(): IEEE arithmetic (+,-,*,/) is deterministic given
    // the same doubles, but Java's Math.log is allowed 1 ulp of error
    // while a C libm may round differently. Propagated through
    // 0.5*p*ln(..) + 0.5*q*ln(..), a 1-ulp disagreement on each log
    // moves the released scale by at most
    //   bound = 1e9 * (0.5*p*ulp(L1) + 0.5*q*ulp(L2))   per cell.
    // The released integer flips only if the true value sits within
    // bound of a floor boundary — so we sweep EVERY achievable cell at
    // sf0.001 and assert a >= 100x safety margin against the PER-CELL
    // bound (measured min margin ~7e-5 vs bounds ~1e-9..1e-7).
    // Exact-zero cells (p == q as doubles -> arg exactly 1.0 -> ln
    // mandated +0) are cross-engine exact by IEEE identity and
    // asserted to release 0.
    val rows = graft.operators.TextOps
      .q331SourceJsd(spark, sf1).collect()
    assert(rows.length > 500, "spine unexpectedly small")
    var zeros = 0
    rows.foreach { r =>
      val cSw = r.getAs[Long]("c_sw").toDouble
      val nS = r.getAs[Long]("n_s").toDouble
      val cW = r.getAs[Long]("c_w").toDouble
      val n = r.getAs[Long]("n").toDouble
      val p = cSw / nS
      val q = cW / n
      val l1 = if (cSw == 0) 0.0 else math.log(2.0 * p / (p + q))
      val l2 = math.log(2.0 * q / (p + q))
      val term = (if (cSw == 0) 0.0 else 0.5 * p * l1) + 0.5 * q * l2
      val scaled = term * 1e9
      assert(r.getAs[Long]("jsd_ppb") === math.floor(scaled).toLong,
        s"released ppb drifted from the shared expression at $r")
      if (scaled == 0.0) zeros += 1
      else {
        val bound = 1e9 *
          (0.5 * p * Math.ulp(l1) + 0.5 * q * Math.ulp(l2))
        val frac = scaled - math.floor(scaled)
        val margin = math.min(frac, 1.0 - frac)
        assert(margin > 100.0 * bound,
          s"cell within libm-flip distance of a floor boundary: $r " +
            s"(scaled=$scaled margin=$margin bound=$bound)")
      }
    }
    // exact-zero cells (none at sf0.001; possible where p == q as
    // doubles) are IEEE-exact on both engines and carry no margin to
    // check — the count is informational only
    assert(zeros >= 0)
  }

  test("q402 cosine sqrt residue: Math.sqrt is correctly rounded on " +
    "the achievable dot-product domain (so any IEEE libm agrees " +
    "bit-exactly)") {
    // IEEE 754 REQUIRES sqrt correctly rounded; Java documents
    // Math.sqrt as exactly that, and every conforming C libm matches.
    // Demonstrate on the achievable domain: squared norms of 64-dim
    // embeddings (sums of squares in [0, 64] here; scale-free in
    // general) plus boundary magnitudes. Correctly-rounded check via
    // exact BigDecimal arithmetic: no neighboring double is closer to
    // the true root.
    import java.math.{BigDecimal => BD, MathContext}
    val rnd = new scala.util.Random(7)
    val domain = Seq(1e-300, 4.9e-324, 1.0 - 2.2e-16, 1.0, 2.0, 63.99,
      64.0, 1e300) ++
      (0 until 500).map(_ => rnd.nextDouble() * 64.0) ++
      (0 until 100).map(_ => rnd.nextDouble() * 1e-6)
    domain.filter(_ > 0).foreach { x =>
      val r = Math.sqrt(x)
      val bx = new BD(x)
      def err(d: Double): BD =
        new BD(d).multiply(new BD(d)).subtract(bx).abs(
          MathContext.DECIMAL128)
      assert(err(r).compareTo(err(Math.nextUp(r))) <= 0 &&
        err(r).compareTo(err(Math.nextDown(r))) <= 0,
        s"Math.sqrt($x) not correctly rounded?!")
    }
  }

  test("gram_strings equals the transform+concat_ws lambda form") {
    import spark.implicits._
    val texts = Seq("a b c d e", "x y", "lone", "", "p q r").toDF("t")
      .selectExpr("split(t, ' ') AS ws")
    for (n <- Seq(2, 3)) {
      // the production sites guard size(ws) >= n before the lambda
      // (sequence(1, 0) DESCENDS, so the unguarded HOF throws)
      val guarded = texts.where(s"size(ws) >= $n")
      val native = guarded.selectExpr(s"gram_strings(ws, $n) AS g")
        .collect().map(_.getSeq[String](0))
      val hof = guarded.selectExpr(
        s"""transform(sequence(1, size(ws) - ${n - 1}),
            i -> concat_ws(' ', ${(0 until n)
              .map(k => s"element_at(ws, i + $k)").mkString(", ")}))
            AS g""")
        .collect().map(_.getSeq[String](0))
      assert(native.toSeq.map(_.toList) === hof.toSeq.map(_.toList),
        s"n=$n")
    }
    // short arrays produce no grams; null propagates
    assert(one("gram_strings(array('a'), 2)").getSeq[String](0).isEmpty)
    assert(one("gram_strings(CAST(NULL AS ARRAY<STRING>), 2)").isNullAt(0))
  }

  test("adjacent_pairs equals the transform+struct lambda form") {
    import spark.implicits._
    // the last input holds a null token: the lambda form emits it as a
    // null struct field, so the native loop must too
    val texts = Seq("a b c d", "x y", "lone", "").toDF("t")
      .selectExpr("split(t, ' ') AS ws")
      .union(spark.range(1).selectExpr(
        "array('p', CAST(NULL AS STRING), 'q', 'r') AS ws"))
    val native = texts
      .selectExpr("explode(adjacent_pairs(ws)) AS b")
      .selectExpr("b.w1", "b.w2")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val hof = texts.where("size(ws) >= 2") // production guard; see above
      .selectExpr(
        """explode(transform(sequence(1, size(ws) - 1),
           i -> struct(element_at(ws, i) AS w1,
                       element_at(ws, i + 1) AS w2))) AS b""")
      .selectExpr("b.w1", "b.w2")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(native === hof) // native emits nothing for short rows
    assert(one("adjacent_pairs(CAST(NULL AS ARRAY<STRING>))").isNullAt(0))
    // a literal input is constant-folded: the interpreted path
    val folded = one("adjacent_pairs(array('a', CAST(NULL AS STRING)))")
      .getSeq[org.apache.spark.sql.Row](0)
    assert(folded.map(r => (r.getString(0), r.getString(1))) ===
      Seq(("a", null)))
  }
}
