package graft

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
  * passes are INTERLEAVED across queries (run all once, then all again)
  * instead of back-to-back per query, so one noisy scheduler/GC window on
  * this shared box can't poison both samples of the same query. Cache
  * teardown between queries runs OUTSIDE the timed region — cached
  * subframes are a per-query implementation detail, their drop cost isn't
  * the query's.
  *
  * Load self-defense (round-10 lesson: a sustained contention window on
  * this shared box poisoned BOTH interleaved passes of 20 contiguous
  * queries, producing apparent 2–6× regressions that an idle-box re-run
  * cleared at ≤1.5×). The bench now ships its own ledger: it loads the
  * committed per-query baseline (`baseline_queries.json`, overridable via
  * `SPARK_GRAFT_BASELINE`), and any query whose min-of-2 exceeds its
  * declared band `max(2 × entry, entry + 0.6 s)` gets up to TWO extra
  * passes (again interleaved across the suspect set, so a window that
  * spans the retries still can't pin a single query). Queries that clear
  * the band on retry are listed under `"retried"`; queries still over the
  * band after 4 samples are flagged under `"load_suspect"` with their
  * entry, band, and full pass spread — a wide spread (min ≪ max) says
  * contention, a tight spread says regression — so BENCH_rN separates the
  * two without a manual re-run.
  *
  * Failures are loud: a query that throws prints its message to stderr,
  * is named in the headline's `"failed"` list, and is left out of
  * `"n_measured"`, the number of queries the total sums.
  *
  * Optional args name specific queries (local iteration); the driver runs
  * with no args = the full declared suite.
  */
object Bench {

  /** Flat {"name": seconds} ledger parse — no JSON dependency needed for
    * a file this repo generates itself (tools/extract_baseline.py). */
  private def loadLedger(): Map[String, Double] = {
    val path = sys.env.getOrElse("SPARK_GRAFT_BASELINE",
      "baseline_queries.json")
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val s = new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)
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

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()

    // queries that threw in any pass, warm-up included
    val failed = collection.mutable.LinkedHashSet[String]()
    def materialize(name: String): Double = {
      val dt =
        try {
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          failed += name
          -1.0
        }
      spark.catalog.clearCache() // drop per-query cached subframes, untimed
      dt
    }

    val names =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val ledger = loadLedger()
    names.headOption.foreach(materialize) // warmup: JIT + footer check

    // two interleaved passes over the full suite
    val passes = collection.mutable.Map[String, List[Double]]()
    for (_ <- 1 to 2; n <- names)
      passes(n) = passes.getOrElse(n, Nil) :+ materialize(n)
    def best(ps: List[Double]): Double = {
      val ok = ps.filter(_ >= 0)
      if (ok.isEmpty) -1.0 else ok.min
    }

    // targeted retries: only queries over their ledger band, only when a
    // ledger entry exists; retries interleave across the suspect set
    def overBand(n: String): Boolean = ledger.get(n).exists { e =>
      val v = best(passes(n)); v >= 0 && v > band(e)
    }
    for (_ <- 1 to 2) {
      val suspects = names.filter(overBand)
      for (n <- suspects) passes(n) = passes(n) :+ materialize(n)
    }

    val results = names.map(n => n -> best(passes(n)))
    val retried = names.filter(n => passes(n).size > 2)
    val stillOver = retried.filter(overBand)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val retriedJson = retried.filterNot(stillOver.contains)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val suspectJson = stillOver.map { n =>
      val e = ledger(n)
      val ps = passes(n).mkString("[", ",", "]")
      s""""$n":{"entry":$e,"band":${band(e)},"passes":$ps}"""
    }.mkString("{", ",", "}")
    val measured = results.map(_._2).filter(_ >= 0)
    val total = measured.sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""sf":"$sfDir","retried":$retriedJson,""" +
        s""""load_suspect":$suspectJson,"n_measured":${measured.size},""" +
        s""""failed":$failedJson}"""
    // Default output path is stamped with the core count and wall-clock
    // so successive runs (the driver benches at two core counts) can't
    // overwrite each other's full per-query map — round 12 lost the
    // 32-core map to the 8-core run through the old fixed default.
    val stamp = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd'T'HHmmss")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now())
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        s"bench_full_c${GraftSession.cores}_$stamp.json"))
    java.nio.file.Files.write(out,
      line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // The headline line (the full per-query map) goes FIRST: the
    // driver's parser reads the first JSON line of stdout, and round 8
    // recorded parsed=null because the {"query":...} progress lines
    // preceded it. The compact per-query lines still follow (they
    // survive tail-truncation, round-5 lesson), and the headline line
    // repeats as the LAST stdout line — round 12's driver recorded
    // parsed=null from the first-line placement alone (r09–r11 it
    // picked up the last JSON line), so the contract line now brackets
    // the per-query stream at both ends. The full map is also written
    // to the stamped output file above. The trailing copy carries one
    // more key, "position":"tail", so a consumer that reads every JSON
    // line can drop the duplicate.
    println(line)
    results.foreach { case (k, v) =>
      println(s"""{"query":"$k","sec":$v}""")
    }
    println(line.dropRight(1) + ""","position":"tail"}""")
    spark.stop()
  }
}
