package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB differential compare
  * (`tools/check.py`, `tools/check_pandas.py`). A query that
  * throws is reported on stderr as it fails, and the run ends with one
  * summary line giving the count and names of the failed queries. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2).toSet // optional name filter, local iteration
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
    val failed = collection.mutable.ArrayBuffer[String]()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
      }
      // queries that cache shared subframes (LSH banded, prepareCorpus
      // exact-dedup) leave those plans pinned; across ~100 queries the
      // accumulation evicts each other and thrashes — drop between runs
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Make each oracle self-contained: prepend CTEs binding every table
    // name to its parquet file, so the SQL runs in DuckDB regardless of
    // which views the harness registered (CTE names shadow views). Queries
    // that already start with WITH get their clause merged.
    def withProlog(sql: String): String = {
      val ctes = graft.sources.Tables.names.map(t =>
        s"$t AS (SELECT * FROM read_parquet('$sfDir/$t.parquet'))")
        .mkString(", ")
      val trimmed = sql.trim
      val rest = trimmed.drop(4).trim
      if (trimmed.take(4).equalsIgnoreCase("WITH")) {
        // RECURSIVE must stay attached to WITH (and legally covers the
        // whole mixed CTE list), so hoist it over the prepended tables.
        if (rest.take(9).equalsIgnoreCase("RECURSIVE"))
          s"WITH RECURSIVE $ctes, ${rest.drop(9).trim}"
        else s"WITH $ctes, $rest"
      } else s"WITH $ctes $trimmed"
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(withProlog(v))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    System.err.println(s"[verify] ${failed.size} of ${selected.size} " +
      s"queries failed: ${failed.sorted.mkString("[", ", ", "]")}")
  }
}
