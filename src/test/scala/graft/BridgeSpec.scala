package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, count, lit, udf}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graft.SqlBridge
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.operators.Par
import graft.sources.Tables

/** The concurrency helper and the private-API bridge the iterative
  * queries lean on, pinned so a regression or a Spark upgrade fails here
  * by name. */
class BridgeSpec extends SparkSpec {

  test("EagerCount.localCheckpointWithCount matches " +
    "Dataset.localCheckpoint(eager) on the same frame") {
    val df = Tables.load(spark, sf1, "customer")
      .groupBy("c_nationkey").agg(count(lit(1)).as("n"))
    // SQL executions named "localCheckpoint" that ran df's plan: one
    // per checkpoint when both are tracked
    val checkpoints = new AtomicInteger()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "localCheckpoint" && (qe eq df.queryExecution))
          checkpoints.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val ((ours, n), theirs) = try {
      val both = (SqlBridge.localCheckpointWithCount(df),
        df.localCheckpoint(true))
      eventually(timeout(10.seconds), interval(50.millis)) {
        assert(checkpoints.get === 2, "a checkpoint ran untracked")
      }
      both
    } finally spark.listenerManager.unregister(listener)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(rows(ours) === rows(theirs))
    assert(n === theirs.count() && n > 0)
    assert(ours.queryExecution.optimizedPlan.stats.sizeInBytes ===
      theirs.queryExecution.optimizedPlan.stats.sizeInBytes)
    val before = df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ours.queryExecution.analyzed.output
      .forall(a => !before(a.exprId)), "checkpoint reused df's exprIds")
  }

  test("Par.checkpointAll rethrows a branch failure and leaves no job " +
    "of its group running") {
    // jobs of any Par group, started and not yet ended
    val running = ConcurrentHashMap.newKeySet[Int]()
    val seen = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("graft-par-"))
          .foreach { _ => seen.add(js.jobId); running.add(js.jobId) }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        running.remove(je.jobId)
    }
    // one core per branch, so the failing task never queues behind a
    // sibling's
    assume(spark.sparkContext.defaultParallelism >= 3)
    spark.sparkContext.addSparkListener(listener)
    try {
      // two siblings that would run for minutes, one branch that fails
      // once they are under way
      val slow = udf { (x: Long) => Thread.sleep(100); x }
      val boom = udf { (x: Long) =>
        Thread.sleep(500)
        if (x >= 0) throw new IllegalStateException("par-branch-failed")
        x
      }
      val sibling = spark.range(0, 1000, 1, 1).select(slow(col("id")))
      val failing = spark.range(0, 1, 1, 1).select(boom(col("id")))
      val t0 = System.nanoTime()
      val err = intercept[Exception] {
        Par.checkpointAll(sibling, failing, sibling)
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(err).exists(e =>
        String.valueOf(e.getMessage).contains("par-branch-failed")), err)
      assert(elapsed < 30, s"the call waited $elapsed s for its siblings")
      eventually(timeout(10.seconds), interval(100.millis)) {
        assert(seen.size >= 1 && running.isEmpty,
          s"jobs still running: $running")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
