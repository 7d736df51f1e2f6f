package graft.operators

import java.util.UUID
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

/** Concurrent eager materialization of INDEPENDENT intermediate frames
  * (optimization guide §2.6): Spark's scheduler happily runs several
  * jobs at once inside one application — actions are only sequential
  * because the driver calls them sequentially. A query whose result
  * consumes two independent expensive subframes (q338's two catch
  * pipelines, q301's truth + triage sides, q139's candidate + truth
  * sides) pays SUM-of-walls when it checkpoints them one by one;
  * submitting the localCheckpoints from a small thread pool pays
  * MAX-of-walls, with the later jobs' tasks back-filling executor
  * slots the earlier jobs' stage tails leave idle. The same shape
  * holds on a cluster at 100 TB — this is scheduling, not a local
  * core-count tune.
  *
  * Semantics are unchanged: each frame is the same eager
  * localCheckpoint it was before, just submitted concurrently.
  * Failures propagate: the branches run under one job group, and the
  * first failure cancels the group — its running jobs and any a
  * sibling submits later — then waits for every branch to stop before
  * it is rethrown, so no orphaned job outlives the call.
  */
private[graft] object Par {

  /** Eagerly localCheckpoint every frame, all in flight at once.
    * Returns the checkpointed frames in input order.
    *
    * Under Spark's default FIFO scheduler, a failing branch's error
    * surfaces only once the sibling tasks that hold every core have
    * ended: its task queues behind theirs, so the cancel can start only
    * then (seen: 2 siblings of 4 × 100 s tasks on 4 cores took 201 s to
    * rethrow). */
  def checkpointAll(dfs: DataFrame*): Seq[DataFrame] = {
    if (dfs.sizeIs <= 1) dfs.map(_.localCheckpoint(true)).toSeq
    else {
      val sc = dfs.head.sparkSession.sparkContext
      val group = s"graft-par-${UUID.randomUUID()}"
      val threads = new AtomicInteger()
      val pool = Executors.newFixedThreadPool(dfs.size, (r: Runnable) => {
        val t = new Thread(r, s"graft-par-${threads.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutor(pool)
      try {
        val fs = dfs.map(df => Future {
          sc.setJobGroup(group, "Par.checkpointAll", interruptOnCancel = true)
          df.localCheckpoint(true)
        })
        // Future.sequence fails as soon as any branch fails
        try Await.result(Future.sequence(fs), Duration.Inf).toSeq
        catch { case NonFatal(e) =>
          sc.cancelJobGroupAndFutureJobs(group,
            s"a sibling branch failed: ${e.getMessage}")
          fs.foreach(Await.ready(_, Duration.Inf))
          throw e
        }
      } finally pool.shutdown()
    }
  }
}
