package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan auditor: prints the formatted physical plan of every declared
  * query (or the ones named in args) so scan pruning, pushed filters,
  * broadcast choices, and codegen spans can be reviewed per round.
  *
  * Usage: runMain graft.Explain [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse(
      "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession()
    val names =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n========== $name ==========")
      try println(SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(ExplainMode.fromString("formatted")))
      catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
