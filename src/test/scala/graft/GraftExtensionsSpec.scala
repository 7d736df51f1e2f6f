package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftFunctions
import graft.sources.Tables

/** The SparkSessionExtensions wiring, end to end: a session built WITH
  * GraftExtensions resolves every function of the table from SQL with no
  * registerAll call, and its optimizer runs LevenshteinGuard. */
class GraftExtensionsSpec extends SparkSpec {

  /** A second session over the shared context, built with the extension.
    * `create()` makes it the default and active session; the shared test
    * session is put back so no other suite picks it up. */
  private lazy val ext: SparkSession =
    try GraftSession.builder().withExtensions(new GraftExtensions).create()
    finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }

  test("every table function resolves from SQL in an extension session") {
    assert(!(ext eq spark) && (ext.sparkContext eq spark.sparkContext))
    for ((name, _) <- GraftFunctions.table) {
      val described = ext.sql(s"DESCRIBE FUNCTION $name")
        .collect().map(_.getString(0)).mkString("\n")
      assert(described.contains(s"Function: $name") &&
        described.contains("Class: graft.functions.GraftFunctions"),
        s"$name did not resolve:\n$described")
    }
    val r = ext.sql("SELECT poly_hash('abc') AS h, " +
      "vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head()
    assert(r.getLong(0) === ((('a' * 31 + 'b') * 31 + 'c') % 1000000007L))
    assert(r.getDouble(1) === 11.0)
  }

  test("LevenshteinGuard fires in an extension session only") {
    // parquet-backed: a literal LocalRelation would be constant-folded
    // away before the rule could be seen
    def optimized(s: SparkSession): String = Tables.load(s, sf1, "documents")
      .filter("levenshtein(text, 'probe text') <= 5")
      .queryExecution.optimizedPlan.toString
    val guarded = optimized(ext)
    assert(guarded.contains("abs(") && guarded.contains("length("),
      s"LevenshteinGuard did not fire:\n$guarded")
    assert(!optimized(spark).contains("abs("))
  }
}
