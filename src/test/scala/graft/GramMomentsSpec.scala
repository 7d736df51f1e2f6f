package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The one-pass gram_moments aggregate (round-12 optimization of the
  * Gram family's hot kernel) must be BIT-IDENTICAL to the explode +
  * groupBy form it replaced: same count, same per-dim sums, same
  * upper-triangle product sums, under any partitioning (wrapping-long
  * adds commute). */
class GramMomentsSpec extends SparkSpec {

  private val d = graft.operators.Similarity.GramDims

  /** The milli-grid vectors q315 feeds the aggregate (exercises
    * negative values too). */
  private def vecs = {
    Tables.load(spark, sf1, "embeddings")
      .withColumn("mv", expr(
        "transform(CAST(embedding AS ARRAY<DOUBLE>), " +
          "x -> CAST(floor(x * 1000) AS BIGINT))"))
  }

  test("gram_moments equals the explode+groupBy census bit-for-bit") {
    val row = vecs.agg(expr(s"gram_moments(mv, $d)").as("mb"))
      .collect().head.getSeq[Long](0)
    // reference: the pre-round-12 per-vector explode + groupBy form
    val ref = vecs
      .select(explode(expr(
        s"""flatten(transform(sequence(0, ${d - 1}), i ->
              transform(sequence(i, ${d - 1}), j ->
                struct(CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
                  element_at(mv, i + 1) * element_at(mv, j + 1)
                    AS p))))""")).as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"), col("c.p").as("p"))
      .groupBy("i", "j").agg(sum("p").as("g"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val sums = vecs.select(posexplode(col("mv")).as(Seq("dim", "v")))
      .groupBy("dim").agg(sum("v").as("sv"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = vecs.count()

    assert(row.length === 1 + d + d * (d + 1) / 2)
    assert(row.head === n, "count cell")
    for (i <- 0 until d)
      assert(row(1 + i) === sums(i), s"sum cell $i")
    var idx = 1 + d
    for (i <- 0 until d; j <- i until d) {
      assert(row(idx) === ref((i.toLong, j.toLong)),
        s"product cell ($i, $j)")
      idx += 1
    }
  }

  test("gram_moments is partitioning-independent (merge path)") {
    val a = vecs.repartition(7).agg(expr(s"gram_moments(mv, $d)"))
      .collect().head.getSeq[Long](0)
    val b = vecs.coalesce(1).agg(expr(s"gram_moments(mv, $d)"))
      .collect().head.getSeq[Long](0)
    assert(a === b)
  }

  test("q351's in-row matvec round equals the d-row join form") {
    // one round of the single-row power iteration vs the explicit
    // sym-frame join+groupBy recurrence it replaced, on real data
    val row = graft.operators.Similarity.queries("q351_power_iteration")
      .apply(spark, sf1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference round-by-round on the dense sym frame (old formulation)
    val gram = graft.operators.Similarity
      .queries("q154_gram_matrix").apply(spark, sf1)
    val sym = gram.unionByName(gram
      .filter(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("g")))
      .localCheckpoint(true)
    var x = spark.range(d.toLong)
      .select(col("id").as("dim"),
        lit(graft.operators.Similarity.PowerScale).as("xv"))
    for (_ <- 1 to graft.operators.Similarity.PowerIters) {
      val y = sym.join(x, sym("j") === x("dim"))
        .groupBy(sym("i").as("dim2"))
        .agg(sum(expr("g * xv")).as("y"))
        .select(col("dim2").as("dim"), col("y"))
      val m = y.agg(max(abs(col("y"))).as("m"))
      x = y.crossJoin(broadcast(m))
        .select(col("dim"),
          expr(s"""CAST(CAST(y AS DECIMAL(38,0)) *
               ${graft.operators.Similarity.PowerScale}
               div m AS BIGINT)""").as("xv"))
        .localCheckpoint(true)
    }
    val ref = x.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(row === ref, "single-row trajectory must be bit-identical")
  }

  test("hand-computed d=3 fixture pins the buffer layout exactly") {
    import spark.implicits._
    // three vectors, negative values included; one NULL vector row
    // (skipped by the aggregate, like the element_at form it replaced)
    val rows: Seq[Option[Seq[Long]]] = Seq(
      Some(Seq(1L, -2L, 3L)), Some(Seq(0L, 4L, -1L)),
      Some(Seq(-5L, 6L, 7L)), None)
    val df = rows.toDF("mv")
    val buf = df.agg(expr("gram_moments(mv, 3)")).collect()
      .head.getSeq[Long](0)
    // layout: [n, s0, s1, s2, g00, g01, g02, g11, g12, g22]
    assert(buf === Seq(
      3L,               // n (null row skipped)
      -4L, 8L, 9L,      // sums: 1+0-5, -2+4+6, 3-1+7
      26L,              // g00: 1 + 0 + 25
      -32L,             // g01: -2 + 0 - 30
      -32L,             // g02: 3 + 0 - 35
      56L,              // g11: 4 + 16 + 36
      32L,              // g12: -6 - 4 + 42
      59L))             // g22: 9 + 1 + 49
  }

  test("a vector shorter than the declared width fails loudly") {
    import spark.implicits._
    val df = Seq(Seq(1L, 2L)).toDF("mv")
    val e = intercept[Exception] {
      df.agg(expr("gram_moments(mv, 3)")).collect()
    }
    // the guard's message survives Spark's exception wrapping
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("gram_moments")),
      s"expected the width-guard message, got: $e")
  }
}
