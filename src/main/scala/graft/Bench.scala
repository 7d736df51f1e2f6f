package graft

import java.nio.file.{Files, Paths}
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-round benchmark: times every declared query at
  * `SPARK_GRAFT_SF_DIR` (default sf0.1) and prints ONE JSON line.
  *
  * Each query is materialized through the `noop` sink rather than
  * `count()` — count lets Catalyst prune the whole projection, which would
  * time a different (cheaper) plan than the one a real consumer runs. A
  * JIT/IO warmup pass runs one query first so the measured numbers aren't
  * dominated by classloading.
  *
  * Noise discipline: two full passes over the suite, min per query. The
  * passes are INTERLEAVED across queries (run all once, then all again),
  * so one noisy scheduler/GC window on a shared box can't poison both
  * samples of the same query. Cache teardown runs OUTSIDE the timed
  * region: cached subframes are a per-query implementation detail.
  *
  * Load self-defense: a sustained contention window can still poison
  * both passes of a run of queries. The bench loads the committed
  * per-query baseline (`baseline_queries.json`, overridable via
  * `SPARK_GRAFT_BASELINE`), and any query whose min-of-2 exceeds its band
  * `max(2 × entry, entry + 0.6 s)` gets up to TWO extra passes,
  * interleaved across the suspect set. Queries that clear the band on
  * retry are listed under `"retried"`; queries still over it after 4
  * samples go under `"load_suspect"` with their entry, band and every
  * pass — a wide spread says contention, a tight one a regression.
  *
  * Failures are loud: a query that throws prints its message to stderr,
  * is named in the headline's `"failed"` list, and is left out of
  * `"n_measured"`, the number of queries the total sums.
  *
  * Layers: each per-query stdout line carries the [[Meter]] split and
  * job count; the stamped output file adds a `"layers"` object with the
  * same plus each job's `[description, seconds]`, from the pass that gave
  * the min. The job count of q137, q149, q218 (BPE) and q314 varies by
  * about ±4 from run to run on the same commit and data.
  *
  * Optional args name specific queries (local iteration); the driver runs
  * with no args = the full declared suite.
  */
object Bench {

  /** One measured run of one query: `sec = build + plan + exec`. `jobs`
    * holds every Spark job the query ran, as (`spark.job.description`,
    * wall seconds) in job-id order. All fields read -1 when it threw. */
  final case class Run(sec: Double, build: Double, plan: Double,
      exec: Double, jobs: Seq[(String, Double)])

  val Failed: Run = Run(-1.0, -1.0, -1.0, -1.0, Nil)

  /** The local property that names the measurement a job belongs to. Not
    * the job group: `Par.checkpointAll` sets its own group on its branch
    * threads, which inherit local properties when they are created. */
  val QueryTag = "graft.bench.query"
  private val DrainTag = "graft.bench.drain"

  /** Returns once every listener on the listener bus's shared queue has
    * seen every event posted before the call. It runs a 1-task marker
    * job and waits until a listener of its own sees the job start: the
    * queue delivers its events in order, each to all of its listeners,
    * so every earlier event has landed by then. `addSparkListener` and
    * the session's `QueryExecutionListener`s (its `ExecutionListenerBus`)
    * both sit on that shared queue, so the marker orders the query
    * execution events too. */
  def drain(sc: SparkContext): Unit = {
    val marker = UUID.randomUUID().toString
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(DrainTag) == marker))
          seen.countDown()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(DrainTag, marker)
    try {
      sc.parallelize(Seq(1), 1).count()
      require(seen.await(30, TimeUnit.SECONDS),
        "the listener bus never delivered the marker job")
    } finally {
      sc.setLocalProperty(DrainTag, null)
      sc.removeSparkListener(listener)
    }
  }

  /** The one per-query measurement; Bench and Scaling both time through
    * it. One `SparkListener` and one `QueryExecutionListener` stay
    * attached to `spark` for the meter's life.
    *
    * The timed region is the query's build plus its noop write:
    *  - `build` is the wall of building the DataFrame (its eager jobs:
    *    checkpoints, driver-side loops, whole streaming runs);
    *  - `plan` is the write's optimization-start → planning-end interval,
    *    read at ms resolution from the write execution's own
    *    `QueryPlanningTracker` (the write plans the query again on its
    *    own `QueryExecution`, so this is where planning is spent);
    *  - `exec` is the rest of the write's wall.
    * Jobs are tagged with [[QueryTag]]. Cache teardown and the listener
    * [[drain]] run after the timed region, so each measurement reads
    * only its own events. */
  final class Meter(spark: SparkSession) {

    /** The queries that threw, in the order they first did. */
    val failed = mutable.LinkedHashSet[String]()

    private val sc = spark.sparkContext
    // tagged jobs: id -> (tag, description, start ms, end ms)
    private val jobs = new ConcurrentHashMap[Int, (String, String, Long, Long)]()
    @volatile private var writePlan: Option[Double] = None

    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        for (p <- Option(e.properties); tag <- Option(p.getProperty(QueryTag)))
          jobs.put(e.jobId,
            (tag, p.getProperty("spark.job.description", ""), e.time, e.time))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.computeIfPresent(e.jobId, (_, j) => j.copy(_4 = e.time))
    })
    spark.listenerManager.register(new QueryExecutionListener {
      // "overwrite" names the noop write's execution; the build's own
      // executions (localCheckpoint, parquet writes, ...) are named otherwise
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "overwrite") writePlan = for {
          o <- qe.tracker.phases.get(QueryPlanningTracker.OPTIMIZATION)
          p <- qe.tracker.phases.get(QueryPlanningTracker.PLANNING)
        } yield (p.endTimeMs - o.startTimeMs) / 1e3
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })

    /** Builds the declared query `name` over `sfDir` and writes it to
      * the noop sink, timed; [[Failed]] (with `name` added to [[failed]]
      * and its message on stderr) when either throws. */
    def apply(name: String, sfDir: String): Run = {
      writePlan = None
      sc.setLocalProperty(QueryTag, name)
      val walls =
        try {
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(name)(spark, sfDir)
          val t1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          Some(((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          failed += name
          None
        } finally sc.setLocalProperty(QueryTag, null)
      spark.catalog.clearCache() // drop per-query cached subframes, untimed
      drain(sc)
      val spans = jobs.asScala.toSeq.sortBy(_._1).collect {
        case (_, (`name`, desc, t0, t1)) => (desc, (t1 - t0) / 1e3)
      }
      jobs.clear()
      walls.fold(Failed) { case (build, write) =>
        val plan = math.min(writePlan.getOrElse(0.0), write)
        Run(build + write, build, plan, write - plan, spans)
      }
    }
  }

  /** Flat {"name": seconds} ledger parse — no JSON dependency needed for
    * a file this repo generates itself (tools/extract_baseline.py). */
  private def loadLedger(): Map[String, Double] = {
    val path = sys.env.getOrElse("SPARK_GRAFT_BASELINE",
      "baseline_queries.json")
    val p = Paths.get(path)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.readString(p)
      // Top-level q-keys only (the ledger is a flat {"qNN_name": sec}
      // map — QueriesIndexSpec pins that shape): a nested/annotated
      // future format must fail LOUDLY here rather than silently feed
      // wrong numbers into the band check.
      val kv = """"(q\w+)"\s*:\s*([0-9][0-9.eE+-]*)""".r
      val parsed = kv.findAllMatchIn(s)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
      val braces = s.count(_ == '{')
      require(braces <= 1 && parsed.nonEmpty,
        s"$path does not look like a flat {query: seconds} ledger " +
          s"(braces=$braces, parsed=${parsed.size}) — refusing to " +
          "band-check against it")
      parsed
    }
  }

  /** The declared per-query band: a breach means "slower than the ledger
    * says by more than measurement slack" — 2× relative for queries with
    * real runtimes, +0.6 s absolute so sub-second queries aren't flagged
    * on scheduler jitter. */
  private def band(entry: Double): Double =
    math.max(2.0 * entry, entry + 0.6)

  /** A JSON string literal (job descriptions are free text). */
  private def quote(s: String): String = s.map {
    case c @ ('"' | '\\') => s"\\$c"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    val meter = new Meter(spark)

    val names = if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val ledger = loadLedger()
    names.headOption.foreach(meter(_, sfDir)) // warmup: JIT + footer check

    val passes = mutable.Map(names.map(_ -> List.empty[Run]): _*)
    for (_ <- 1 to 2; n <- names) passes(n) :+= meter(n, sfDir)
    def best(ps: List[Run]): Run =
      ps.filter(_.sec >= 0).minByOption(_.sec).getOrElse(Failed)

    // targeted retries: only queries over their ledger band, only when a
    // ledger entry exists; retries interleave across the suspect set
    def overBand(n: String): Boolean = ledger.get(n).exists { e =>
      val v = best(passes(n)).sec; v >= 0 && v > band(e)
    }
    for (_ <- 1 to 2; n <- names.filter(overBand)) passes(n) :+= meter(n, sfDir)

    val results = names.map(n => n -> best(passes(n)))
    val retried = names.filter(n => passes(n).size > 2)
    val stillOver = retried.filter(overBand)
    val qs = results.map { case (k, r) => "\"" + k + "\":" + r.sec }
      .mkString("{", ",", "}")
    val retriedJson =
      retried.filterNot(stillOver.contains).map(quote).mkString("[", ",", "]")
    val suspectJson = stillOver.map { n =>
      val e = ledger(n)
      val ps = passes(n).map(_.sec).mkString("[", ",", "]")
      s""""$n":{"entry":$e,"band":${band(e)},"passes":$ps}"""
    }.mkString("{", ",", "}")
    val measured = results.map(_._2.sec).filter(_ >= 0)
    val failedJson = meter.failed.map(quote).mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":${measured.sum},"unit":"sec","queries":$qs,""" +
        s""""sf":"$sfDir","retried":$retriedJson,""" +
        s""""load_suspect":$suspectJson,"n_measured":${measured.size},""" +
        s""""failed":$failedJson,"cpus":${GraftSession.cores}}"""
    def split(r: Run): String =
      s""""build":${r.build},"plan":${r.plan},"exec":${r.exec},"jobs":${r.jobs.size}"""
    val layers = results.collect { case (k, r) if r.sec >= 0 =>
      val js = r.jobs.map { case (d, s) => s"[${quote(d)},$s]" }
      s""""$k":{${split(r)},"job_s":${js.mkString("[", ",", "]")}}"""
    }.mkString("{", ",", "}")
    // stamped with the core count and wall clock, so successive runs
    // can't overwrite each other's per-query map
    val stamp = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd'T'HHmmss")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now())
    Files.writeString(Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"bench_full_c${GraftSession.cores}_$stamp.json")),
      line.dropRight(1) + s""","layers":$layers}""")
    // The headline goes FIRST and again LAST (drivers have parsed either
    // end of stdout; the per-query lines between survive truncation); the
    // last copy adds "position":"tail" so a reader can drop the duplicate.
    println(line)
    results.foreach { case (k, r) =>
      println(s"""{"query":"$k","sec":${r.sec},${split(r)}}""")
    }
    println(line.dropRight(1) + ""","position":"tail"}""")
    spark.stop()
  }
}
