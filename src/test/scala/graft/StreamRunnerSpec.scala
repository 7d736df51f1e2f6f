package graft

import graft.sources.{SourceSchemaMismatch, Tables}
import graft.streaming.EventStream

/** The one stream runner ([[EventStream.drain]], [[EventStream.fold]])
  * and the one stream reader ([[EventStream.readStream]]): a failed run
  * leaves the session as it found it, and a stream source is held to its
  * declared schema like a batch load. */
class StreamRunnerSpec extends SparkSpec {

  private val Partitions = "spark.sql.shuffle.partitions"
  private val Provider = "spark.sql.streaming.stateStore.providerClass"

  test("a fold whose step throws rethrows, restores the conf it pinned " +
    "and leaves no active stream") {
    val saved = spark.conf.getAll
    spark.conf.set(Partitions, "7")
    spark.conf.unset(Provider)
    var seen = Option.empty[(String, String)]
    try {
      val e = intercept[Exception] {
        EventStream.fold("runner_failing_fold", 0L,
            Map(Partitions -> "3", Provider -> EventStream.RocksDbProvider))(
            EventStream.readStream(spark, sf1, "events")) { (_, batch) =>
          val conf = batch.sparkSession.conf
          seen = Some((conf.get(Partitions), conf.get(Provider)))
          throw new IllegalStateException("step failed in batch 0")
        }
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage == "step failed in batch 0"), e)
      assert(seen === Some(("3", EventStream.RocksDbProvider)),
        "the run must see the conf it pinned")
      assert(spark.conf.get(Partitions) === "7")
      assert(spark.conf.getAll.get(Provider) === None)
      assert(spark.streams.active.isEmpty)
    } finally Seq(Partitions, Provider).foreach(k => saved.get(k) match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    })
  }

  test("a documents file without n_chars fails q505 with " +
    "SourceSchemaMismatch") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-docs-no-nchars").toString
    Tables.load(spark, sf1, "documents").drop("n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val e = intercept[SourceSchemaMismatch](
      EventStream.q505StreamSplitGain(spark, dir))
    assert((e.table, e.column, e.found) ===
      (("documents", "n_chars", "missing")))
  }
}
