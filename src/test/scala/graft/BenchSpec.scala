package graft

/** The one per-query measurement, [[Bench.Meter]], that Bench and
  * Scaling time through: the layer split adds up to the timed wall, every
  * job the query runs is listed (threads the query starts included), and
  * a query that throws reads -1 and is named. */
class BenchSpec extends SparkSpec {

  private lazy val meter = new Bench.Meter(spark)

  test("q155: build + plan + exec is sec, planning is seen, and the " +
    "k-core rounds are listed by label") {
    val r = meter("q155_kcore", sf1)
    assert(r.sec > 0)
    assert(math.abs(r.build + r.plan + r.exec - r.sec) < 1e-3)
    assert(r.plan > 0)
    assert(r.jobs.exists(_._1.startsWith("kcore: round ")), r.jobs)
  }

  test("q139: the jobs of Par.checkpointAll's branch threads count as " +
    "the query's own") {
    val r = meter("q139_dedup_eval", sf1)
    assert(r.sec > 0)
    assert(r.jobs.map(_._1).contains("Par.checkpointAll"), r.jobs)
  }

  test("a query that throws reads -1, is named in failed, and leaves no " +
    "tag behind") {
    val missing = java.nio.file.Files.createTempDirectory("graft-no-tables")
    val r = try meter("q01_full_scan", missing.toString)
      finally java.nio.file.Files.delete(missing)
    assert(r === Bench.Failed && r.sec === -1.0)
    assert(meter.failed.toSeq === Seq("q01_full_scan"))
    assert(spark.sparkContext.getLocalProperty(Bench.QueryTag) === null)
  }
}
