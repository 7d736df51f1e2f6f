package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-query wall-time attributor (guide §1: measure first). Runs the
  * named queries exactly as Bench does (same master/shuffle config, same
  * noop-sink materialization) but splits each query's wall into
  *   - plan: analysis + optimization + physical planning (driver-side)
  *   - per-Spark-job wall times, in submission order
  * so an iterative query's per-round overhead, a broadcast build, or a
  * repeated subplan shows up as N distinct jobs instead of one opaque
  * number.
  *
  * Usage: tools/jrun.sh graft.Profile <query> [query ...]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (Bench's contract).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        starts.put(js.jobId, (System.nanoTime(), desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, desc) =>
          val dt = (System.nanoTime() - t0) / 1e9
          jobs.add(f"    job ${je.jobId}%3d ${dt}%7.3f s  $desc")
        }
      }
    })

    // Listener events arrive asynchronously on the bus: drain it before
    // reading (and before clearing) so trailing onJobEnd events can't be
    // missed or attributed to the next query. waitUntilEmpty is
    // private[spark], reached via reflection (diagnostic tool only).
    def drainBus(): Unit = try {
      val bus = spark.sparkContext.getClass
        .getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" &&
          m.getParameterCount == 0)
        .map(_.invoke(bus))
        .getOrElse {
          bus.getClass.getMethods
            .find(m => m.getName == "waitUntilEmpty" &&
              m.getParameterCount == 1)
            .foreach(_.invoke(bus, java.lang.Long.valueOf(10000L)))
        }
    } catch { case _: Throwable => Thread.sleep(200) }

    val names = if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    // warmup pass (JIT + parquet footers), same as Bench
    names.headOption.foreach { n =>
      SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    for (n <- names) {
      drainBus() // flush the previous query's trailing events first
      jobs.clear()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, sfDir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan // force analysis+optimization+planning
      val tPlan = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val tExec = (System.nanoTime() - t2) / 1e9
      spark.catalog.clearCache()
      drainBus() // make sure this query's last onJobEnd has landed
      println(f"$n  total ${tBuild + tPlan + tExec}%.3f s " +
        f"(build $tBuild%.3f, plan $tPlan%.3f, exec $tExec%.3f, " +
        f"jobs ${jobs.size})")
      jobs.forEach(l => println(l))
    }
    spark.stop()
  }
}
