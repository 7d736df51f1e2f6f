package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.Similarity
import graft.sources.Tables

/** The custom Catalyst expression must be bit-identical to the
  * higher-order-function formulation (same sequential fold), run inside
  * whole-stage codegen, and be callable from SQL. */
class VectorExpressionsSpec extends SparkSpec {

  private def vecs = {
    Tables.load(spark, sf1, "embeddings")
      .withColumn("ed", col("embedding").cast("array<double>"))
  }

  test("vec_dot matches aggregate/zip_with bit-for-bit on all vectors") {
    val df = vecs
      .withColumn("hof", expr(
        "aggregate(zip_with(ed, ed, (x, y) -> x * y), 0D, (a, b) -> a + b)"))
      .withColumn("native", VectorFunctions.vec_dot(col("ed"), col("ed")))
    val diff = df.filter(col("hof") =!= col("native")).count()
    assert(diff === 0L, "fold order must match the HOF form exactly")
  }

  test("vec_dot participates in whole-stage codegen") {
    val df = vecs.select(
      VectorFunctions.vec_dot(col("ed"), col("ed")).as("d"))
    val code = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    // the generated loop from DotProductD.doGenCode, not a fallback call
    assert(code.contains(".getDouble("), code.take(2000))
    assert(code.contains("WholeStageCodegen"), code.take(2000))
  }

  test("vec_dot is callable from SQL via the registry") {
    vecs.createOrReplaceTempView("emb_v")
    val n = spark.sql(
      "SELECT vec_dot(ed, ed) AS d FROM emb_v WHERE vec_id = 0")
      .head().getDouble(0)
    assert(n > 0.0)
  }

  test("vec_cosine self-similarity is exactly 1.0 up to float fold error") {
    val df = vecs.withColumn("c",
      VectorFunctions.vec_cosine(col("ed"), col("ed")))
    val bad = df.filter(abs(col("c") - 1.0) > 1e-12).count()
    assert(bad === 0L)
  }

  test("topKCosine returns the probe itself first for its own vector") {
    val probe = vecs.filter(col("vec_id") === 0L)
      .select("ed").head().getSeq[Double](0).toArray
    val top = Similarity.topKCosine(
      Tables.load(spark, sf1, "embeddings"), probe, 5)
      .collect().map(_.getLong(0))
    assert(top.head === 0L)
    assert(top.length === 5)
  }

  test("sum_squares DeclarativeAggregate stays in whole-stage codegen " +
    "and matches the expression form") {
    val df = Tables.load(spark, sf1, "customer")
      .groupBy("c_nationkey")
      .agg(
        expr("sum_squares(c_custkey)").as("native"),
        sum(col("c_custkey") * col("c_custkey")).as("composed"))
    assert(df.filter(col("native") =!= col("composed")).count() === 0L)
    val code = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(code.contains("HashAggregate"), code.take(1000))
  }

  test("centroid_argmax ranks NaN cosines first (zero-norm edge), " +
    "ties toward the smallest cent_id — DuckDB ORDER BY DESC semantics") {
    import spark.implicits._
    val v = List(1.0, 0.0)
    val zero = List(0.0, 0.0)
    def cent(id: Long, c: List[Double]) =
      (id, c, math.sqrt(c.map(x => x * x).sum))
    // zero-norm CENTROID: its cosine is 0/0 = NaN, which DuckDB's
    // ORDER BY cos DESC ranks before every finite cosine — even a
    // perfectly aligned centroid must lose to it
    val rows = Seq(
      (1, v, Seq(cent(7L, v), cent(9L, zero))),
      // two zero-norm centroids: both NaN, smaller cent_id wins
      (2, v, Seq(cent(5L, zero), cent(3L, zero))),
      // zero-norm VECTOR: every cosine NaN, smallest cent_id wins
      (3, zero, Seq(cent(4L, v), cent(2L, List(0.0, 1.0)))))
    val got = rows.toDF("i", "ed", "cents")
      .withColumn("nrm", expr("sqrt(vec_dot(ed, ed))"))
      .selectExpr("i", "centroid_argmax(ed, nrm, cents) AS best")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got(1) === 9L, "zero-norm centroid (NaN cosine) ranks first")
    assert(got(2) === 3L, "NaN ties break toward the smaller cent_id")
    assert(got(3) === 2L, "zero-norm vector: all NaN, smallest id wins")
  }

  test("q29 IVF result is a subset of brute-force top-20 neighborhood " +
    "quality check: all ids valid") {
    val ids = Similarity.q29AnnIvf(spark, sf1).collect().map(_.getLong(0))
    assert(ids.nonEmpty && ids.length <= Similarity.TopK)
    assert(ids.head === 0L, "probe is in its own cell and ranks first")
  }

  test("q235 projection matches a hand-computed dot product and its " +
    "first 4 sign bits are exactly q33's SRP bucket") {
    val proj = Similarity.q235RandomProjection(spark, sf1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val planes = graft.operators.Dedup.planesFor(Similarity.RpDims)
    val vecs = graft.sources.Tables.load(spark, sf1, "embeddings")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS ed")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    assert(proj.size === vecs.size * Similarity.RpDims)
    // hand-recompute every dim of three vectors (sequential fold order,
    // same as the vec_dot expression)
    for (vid <- vecs.keys.take(3); d <- 0 until Similarity.RpDims) {
      var acc = 0.0
      val ed = vecs(vid)
      var i = 0
      while (i < ed.length) { acc += ed(i) * planes(d)(i); i += 1 }
      assert(proj((vid, d.toLong)) === math.floor(acc * 1000).toLong,
        s"vec $vid dim $d")
    }
    // prefix stability: sign(dims 0..3) rebuilds the q33 SRP bucket
    import org.apache.spark.sql.functions._
    val buckets = graft.sources.Tables.load(spark, sf1, "embeddings")
      .withColumn("ed", col("embedding").cast("array<double>"))
      .withColumn("bucket", expr(
        graft.operators.Dedup.srpBucketExpr(
          graft.operators.Dedup.NumPlanes, "spark")))
      .selectExpr("vec_id", "CAST(bucket AS BIGINT) AS bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (vid <- vecs.keys) {
      val rebuilt = (0 until graft.operators.Dedup.NumPlanes).map { p =>
        if (proj((vid, p.toLong)) >= 0L) 1L << p else 0L
      }.sum
      assert(rebuilt === buckets(vid), s"vec $vid bucket prefix")
    }
  }
}
