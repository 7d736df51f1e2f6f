package graft

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** `body`'s result and the description of every Spark job it started,
    * in start order. Jobs are told apart by a job group of their own, set
    * without touching the job description; listener events arrive in
    * order, so once a marker job is seen every earlier job has been too. */
  def jobsOf[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${UUID.randomUUID()}"
    val jobs = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(
        (e.properties.getProperty("spark.jobGroup.id"),
          e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("spark.jobGroup.id", group)
      val out = try body finally
        sc.setLocalProperty("spark.jobGroup.id", s"$group-marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobs.asScala.exists(_._1 == s"$group-marker") &&
          System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.asScala.exists(_._1 == s"$group-marker"),
        "the listener never saw the marker job")
      (out, jobs.asScala.filter(_._1 == group).map(_._2).toSeq)
    } finally {
      sc.setLocalProperty("spark.jobGroup.id", null)
      sc.removeSparkListener(listener)
    }
  }
}
