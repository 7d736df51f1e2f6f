package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM, one SparkSession): the
  * GraftSession settings plus a disposable warehouse, with the native
  * functions registered once — specs call operator builders directly,
  * not through SparkEntry.queries. */
object TestSpark {
  lazy val spark: SparkSession = {
    // static conf: bucketed-table tests need a disposable catalog
    val s = GraftSession.builder()
      .config("spark.sql.warehouse.dir", java.nio.file.Files
        .createTempDirectory("graft-test-warehouse").toString)
      .getOrCreate()
    graft.functions.GraftFunctions.registerAll(s)
    s
  }
  val sf1: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf1: String = TestSpark.sf1
}
