package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** The engine's native SQL functions, each defined ONCE as a name and a
  * builder. Two ways into a session read this one table:
  * [[graft.GraftExtensions]] injects it when a session is built with the
  * extension (`spark.sql.extensions` on a cluster), and [[registerAll]]
  * adds it to a session built without one — `graft.SparkEntry.queries`
  * calls it before every query build.
  */
object GraftFunctions {

  /** A literal argument (a gram width, a hash count) as an Int. */
  private def int(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()

  val table: Seq[(String, FunctionBuilder)] = Seq(
    "vec_dot" -> (e => DotProductD(e(0), e(1))),
    "centroid_argmax" -> (e => CentroidArgMax(e(0), e(1), e(2))),
    "poly_hash" -> (e => PolyHash(e.head)),
    "simhash32" -> (e => SimHash32(e.head)),
    "minhash16" -> (e => MinHashSig(e.head, 16)),
    "minhash_k" -> (e => MinHashSig(e(0), int(e(1)))),
    "shingle_hashes" -> (e => ShingleHashes(e(0), int(e(1)))),
    "gram_strings" -> (e => GramStrings(e(0), int(e(1)))),
    "adjacent_pairs" -> (e => AdjacentPairs(e.head)),
    "winnow_keys" -> (e => WinnowKeys(e(0), int(e(1)),
      e(2).eval().asInstanceOf[Number].longValue())),
    "sum_squares" -> (e => SumOfSquaresLong(e.head)),
    "gram_moments" -> (e => GramMomentsAgg(e(0), int(e(1)))),
    "damerau_lev" -> (e => DamerauLevenshtein(e(0), e(1))),
    // Spark's own runtime-filter bloom expressions (public Catalyst
    // classes, not in the SQL registry): bloom_agg(col, est_items,
    // num_bits) builds the filter, bloom_might_contain(bloom, col)
    // probes it. The probe side requires a foldable/scalar-subquery
    // bloom argument — exactly how Spark's InjectRuntimeFilter uses it.
    "bloom_agg" -> (e => new BloomFilterAggregate(e(0), e(1), e(2))),
    "bloom_might_contain" -> (e => BloomFilterMightContain(e(0), e(1))))

  /** Register every table function this session's registry lacks. It
    * never replaces an entry, so a repeat call is one lookup per name and
    * logs nothing. Idempotent per SESSION, not per JVM: a
    * `newSession()` starts with no temporary functions. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    for ((name, build) <- table
         if !reg.functionExists(FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, build, "built-in")
  }
}
