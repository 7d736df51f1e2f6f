package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.{GenData, Sink, SparkEntry, Verify}
import graft.functions.GraftFunctions
import graft.sources.Tables

/** JVM side of the benchmark (driven by `perfbench/run.py`).
  *
  * Modes, each followed by `key=value` arguments:
  *  - `gen out=DIR`: write the sf0.1 fixture with `graft.GenData`.
  *  - `reference data=DIR out=DIR steps=a,b`: dump each query step's
  *    result and the oracle SQL with `graft.Verify`, and add what Verify
  *    lacks: the digest of each dumped result and each sink path's full
  *    read-back audit, for the correctness gate.
  *  - `run data=DIR out=DIR steps=a,b seconds=S trace=0|1 warmups=W
  *    passes=P launch_ns=T`:
  *    set up once, make untimed warm-up passes that also take each
  *    query's digest, then time whole passes over the steps.
  *
  * A step is a `SparkEntry.queries` key or one of the reference
  * pipeline's sink paths in [[Harness.chains]].
  */
object Harness {

  /** The reference pipeline's sink paths: load the FK chain, build the
    * denormalized frame, narrow its keys, write it clustered, audit the
    * read-back. */
  final case class Chain(query: String, tables: Seq[String], pk: String,
      ck: String)
  val chains: Map[String, Chain] = Map(
    "hr.customers_by_nation" -> Chain("q09_denorm_join",
      Seq("customer", "nation"), "n_nationkey", "c_custkey"),
    "hr.lineitems_by_customer" -> Chain("q12_multiway_join",
      Seq("lineitem", "orders", "customer", "nation", "region"),
      "c_custkey", "l_orderkey"))

  /** Operator module that owns each query, by which `queries` map holds
    * the key. */
  lazy val moduleOf: Map[String, String] = {
    import graft.operators._
    Seq("Core" -> Core.queries, "Extensions" -> Extensions.queries,
      "Dedup" -> Dedup.queries, "Similarity" -> Similarity.queries,
      "TextOps" -> TextOps.queries, "Multimodal" -> Multimodal.queries,
      "Pipeline" -> Pipeline.queries, "Graph" -> Graph.queries,
      "Analytics" -> Analytics.queries, "Stats" -> Stats.queries,
      "Portfolio" -> Portfolio.queries, "Curation" -> Curation.queries,
      "EventStream" -> graft.streaming.EventStream.queries)
      .flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
  }

  val WarmupQuery = "q01_full_scan"

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  private def writeJson(p: Path, v: Any): Unit =
    Files.writeString(p, json.writeValueAsString(v), UTF_8)

  def main(args: Array[String]): Unit = {
    val mode = args.head
    val kv = args.tail.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    val cores = Runtime.getRuntime.availableProcessors
    mode match {
      case "gen" => GenData.main(Array(kv("out")))
      case "reference" => reference(cores, kv)
      case "run" => run(cores, kv)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
  }

  /** The session settings `graft.Bench` uses, at `local[cores]`. */
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Order-independent digest of a frame's rows: count, xor and sum of
    * 64-bit row hashes. Map columns are hashed through their JSON form. */
  private val DigestParts = Seq("rows", "xor", "sum")
  private def digestAggs(df: DataFrame): Seq[Column] = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case st: StructType => st.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val h = xxhash64(df.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(s"`${f.name}`"))
      else col(s"`${f.name}`")
    }: _*)
    Seq(count(lit(1)), bit_xor(h), sum(shiftright(h, 32)))
      .zip(DigestParts).map { case (c, n) => c.as(n) }
  }

  private def digestOf(get: String => Any): Seq[Long] =
    DigestParts.map(get(_) match {
      case null => 0L
      case n: java.lang.Number => n.longValue
    })

  /** The digest of a frame, by one aggregation over it. */
  def digest(df: DataFrame): Seq[Long] = {
    val aggs = digestAggs(df)
    val r = df.agg(aggs.head, aggs.tail: _*).collect().head
    digestOf(r.getAs[Any](_))
  }

  /** The frame with its digest observed while it is written. */
  def observed(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    val aggs = digestAggs(df)
    (df.observe(obs, aggs.head, aggs.tail: _*), obs)
  }

  def digest(obs: Observation): Seq[Long] = digestOf(obs.get(_))

  final case class Audit(keys: Long, rows: Long, invMax: Long, nfMax: Long,
      violations: Long)

  /** Aggregate the read-back audit of one clustered write. */
  def audit(s: SparkSession, out: String, c: Chain): Audit = {
    val r = Sink.auditClustered(s, out, c.pk, c.ck)
      .agg(count(lit(1)), coalesce(sum("nr"), lit(0L)),
        coalesce(max("inv"), lit(0L)), coalesce(max("nf"), lit(0L)),
        sum(when(col("inv") =!= 0 || col("nf") =!= 1, 1L).otherwise(0L)))
      .collect().head
    Audit(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      if (r.isNullAt(4)) 0L else r.getLong(4))
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally all.close()
    }

  private def treeSize(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val all = Files.walk(p)
      try {
        val files = all.iterator().asScala.filter { f =>
          val n = f.getFileName.toString
          Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
        }.toSeq
        (files.size.toLong, files.map(Files.size).sum)
      } finally all.close()
    }

  private def errorText(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
      .linesIterator.take(3).mkString(" / ")

  // ---------------------------------------------------------------- gate

  /** What the correctness gate compares, for every step: `graft.Verify`
    * dumps each query's result and the oracle SQL under `out/results`;
    * this adds the digest of each dumped result, and for each sink path
    * its full read-back audit as parquet. */
  def reference(cores: Int, kv: Map[String, String]): Unit = {
    val dir = kv("data")
    val out = Paths.get(kv("out"))
    val results = out.resolve("results")
    val steps = kv("steps").split(",").toSeq
    val queries = steps.filterNot(chains.contains)
    // Verify runs every query when given no names
    if (queries.nonEmpty) Verify.main(Array(dir, results.toString) ++ queries)
    val spark = session(cores)
    val rows = steps.map { step =>
      val res = results.resolve(step)
      val fields: Map[String, Any] = try {
        chains.get(step) match {
          case Some(c) =>
            val sinkOut = out.resolve("sink").resolve(step).toString
            Sink.writeClustered(Sink.narrowKeys(
              SparkEntry.queries(c.query)(spark, dir), Seq(c.pk, c.ck)),
              c.pk, c.ck, sinkOut)
            Sink.auditClustered(spark, sinkOut, c.pk, c.ck)
              .coalesce(1).write.parquet(res.toString)
            deleteTree(Paths.get(sinkOut))
            Map.empty
          case None if !Files.isDirectory(res) =>
            Map("error" -> "graft.Verify wrote no result (the query threw)")
          case None =>
            Map("digest" -> digest(spark.read.parquet(res.toString)))
        }
      } catch {
        case NonFatal(e) => Map("error" -> errorText(e))
      }
      spark.catalog.clearCache()
      Map("step" -> step) ++ fields
    }
    writeJson(out.resolve("reference.json"), Map("steps" -> rows))
    spark.stop()
  }

  // ----------------------------------------------------------- measured

  /** How a pass runs its steps. `Check` is untimed and observes each
    * query's digest while it is written; `Timed` runs the plain noop
    * write, as `graft.Bench` does; `Warm` is an untimed `Timed`;
    * `Traced` is `Timed` inside layer spans. */
  sealed trait PassMode
  case object Check extends PassMode
  case object Warm extends PassMode
  case object Timed extends PassMode
  case object Traced extends PassMode

  def run(cores: Int, kv: Map[String, String]): Unit = {
    val dir = kv("data")
    val out = Paths.get(kv("out"))
    val steps = kv("steps").split(",").toSeq
    val traced = kv("trace") == "1"
    val seconds = kv("seconds").toDouble
    val sinkRoot = out.resolve("sink")

    // -- set-up: JVM start to session ready plus one untimed warm-up query
    val t0 = System.nanoTime()
    val spark = session(cores)
    val sessionBuildS = (System.nanoTime() - t0) / 1e9
    SparkEntry.queries(WarmupQuery)(spark, dir)
      .write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    val ready = java.time.Instant.now()
    val setupS = (ready.getEpochSecond * 1000000000L + ready.getNano -
      kv("launch_ns").toLong) / 1e9
    val sc = spark.sparkContext

    // -- per-layer probes outside the passes (traced run only)
    val counters = new JobCounters
    val plans = new PlanTimes
    val tracer = new Tracer(sc, enabled = traced)
    val setupLayers = mutable.LinkedHashMap[String, Any]()
    if (traced) {
      sc.addSparkListener(counters)
      spark.listenerManager.register(plans)
      val tr = System.nanoTime()
      GraftFunctions.registerAll(spark)
      setupLayers += "functions.register_s" -> (System.nanoTime() - tr) / 1e9
      setupLayers += "sources.load_each_s" -> Tables.names.map { t =>
        val tl = System.nanoTime()
        Tables.load(spark, dir, t).schema
        (System.nanoTime() - tl) / 1e9
      }
      setupLayers += "session.build_s" -> sessionBuildS
    }

    def runStep(step: String, pass: Int, mode: PassMode): Map[String, Any] = {
      tracer.pass = pass
      tracer.step = step
      val sp = if (mode == Traced) tracer else new Tracer(sc, enabled = false)
      var obs: Option[Observation] = None
      var aud: Option[Audit] = None
      val sinkOut = sinkRoot.resolve(step)
      val tStart = System.nanoTime()
      val err: Option[String] = try {
        sp.span("step") {
          chains.get(step) match {
            case Some(c) =>
              sp.span("sources.load") {
                c.tables.foreach(t => Tables.load(spark, dir, t).schema)
              }
              val df = sp.span("build") {
                Sink.narrowKeys(SparkEntry.queries(c.query)(spark, dir),
                  Seq(c.pk, c.ck))
              }
              sp.span("sink.write") {
                Sink.writeClustered(df, c.pk, c.ck, sinkOut.toString)
              }
              aud = Some(sp.span("sink.audit") {
                audit(spark, sinkOut.toString, c)
              })
            case None =>
              val built = sp.span("build") { SparkEntry.queries(step)(spark, dir) }
              val df = if (mode != Check) built else {
                val (od, o) = observed(built)
                obs = Some(o)
                od
              }
              // planning happens inside the write, on the write's own
              // QueryExecution; its span comes from [[PlanTimes]]
              sp.span("exec") {
                df.write.format("noop").mode("overwrite").save()
              }
          }
        }
        None
      } catch {
        case NonFatal(e) => Some(errorText(e))
      }
      val latency = (System.nanoTime() - tStart) / 1e9
      // untimed: digest, sink geometry, cache and sink teardown
      val dig = if (err.isEmpty) obs.map(digest) else None
      val (files, bytes) = treeSize(sinkOut)
      deleteTree(sinkOut)
      spark.catalog.clearCache()
      Map(
        "step" -> step,
        "module" -> moduleOf.getOrElse(chains.get(step).fold(step)(_.query), "?"),
        "latency_s" -> latency,
        "error" -> err,
        "digest" -> dig,
        "audit" -> aud.map(a => Map("keys" -> a.keys, "rows" -> a.rows,
          "inv_max" -> a.invMax, "nf_max" -> a.nfMax,
          "violations" -> a.violations, "files" -> files, "bytes" -> bytes)))
    }

    def gcSeconds: Double = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
    def filesListed: Long = org.apache.spark.metrics.source.HiveCatalogMetrics
      .METRIC_FILES_DISCOVERED.getCount

    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean

    def runPass(pass: Int, mode: PassMode): Map[String, Any] = {
      if (mode == Traced) { counters.drain(sc); counters.clear(); plans.clear() }
      val cpu0 = os.getProcessCpuTime
      val jit0 = jit.getTotalCompilationTime
      val gc0 = gcSeconds
      val fl0 = filesListed
      val results = steps.map(s => runStep(s, pass, mode))
      val extra: Map[String, Any] = if (mode != Traced) Map.empty else {
        counters.drain(sc)
        val jobs = counters.allJobs
        val skipped = jobs.map(_.stageIds.count(
          id => !counters.submittedStages.contains(id))).sum
        jobs.foreach { j =>
          tracer.spans += Span(1000000000L + j.id, j.span.getOrElse(0L),
            "spark.job", pass, "", j.start, math.max(j.end, j.start))
        }
        // plan spans get their parent layer span from their time in run.py
        plans.intervals.zipWithIndex.foreach { case ((s, e), i) =>
          tracer.spans += Span(2000000000L + i, 0L, "plan", pass, "", s, e)
        }
        Map("counters" -> (counters.taskTotals ++ Map(
          "spark.jobs" -> jobs.size.toDouble,
          "spark.stages" -> counters.stagesCompleted.toDouble,
          "spark.stages_skipped" -> skipped.toDouble)))
      }
      Map(
        "pass" -> pass,
        "mode" -> mode.toString,
        "gc_s" -> (gcSeconds - gc0),
        "cpu_s" -> (os.getProcessCpuTime - cpu0) / 1e9,
        "jit_s" -> (jit.getTotalCompilationTime - jit0) / 1e3,
        "files_listed" -> (filesListed - fl0),
        "steps" -> results) ++ extra
    }

    // -- untimed warm-up passes, which also check every query's output
    // (per-query code generation, and the JIT compiles that follow it
    // for a few passes), then the timed region: a fixed number of whole
    // passes, more only until `seconds` have been measured. The JIT
    // keeps converging over the first passes, so a pass count that
    // varied with the machine's speed would move the figures by more
    // than the speed did. A traced run makes one more untimed pass and
    // then times four passes, untraced and traced in the order U T T U,
    // so the overhead estimate is not biased by the JVM still warming
    // up; the traced pair gives the layer split.
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val warmups = kv("warmups").toInt
    for (i <- 0 until warmups) passes += runPass(i, Check)
    if (traced) {
      Seq(Warm, Timed, Traced, Traced, Timed).zipWithIndex.foreach { case (m, i) =>
        passes += runPass(warmups + i, m)
      }
    } else {
      val tRegion = System.nanoTime()
      var i = warmups
      val timed = kv("passes").toInt
      while (i < warmups + timed || (System.nanoTime() - tRegion) / 1e9 < seconds) {
        passes += runPass(i, Timed)
        i += 1
      }
    }
    val peakRssKb = Rss.peakKb()

    Files.writeString(out.resolve("spans.jsonl"), tracer.spans.map { s =>
      json.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "pass" -> s.pass, "step" -> s.step,
        "start_ns" -> s.start, "end_ns" -> s.end)) + "\n"
    }.mkString, UTF_8)
    writeJson(out.resolve("result.json"), Map(
      "cores" -> cores,
      "setup_s" -> setupS,
      "peak_rss_kb" -> peakRssKb,
      "layers" -> setupLayers,
      "passes" -> passes))
    spark.stop()
  }
}

/** Resident-set peak of this process (VmHWM), from `/proc/self`. Each
  * run is a fresh JVM, so the peak covers exactly one run. */
object Rss {
  def peakKb(): Long = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    .find(_.startsWith("VmHWM:"))
    .map(_.split("\\s+")(1).toLong)
    .getOrElse(-1L)
}
