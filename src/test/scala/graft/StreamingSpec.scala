package graft

import graft.operators.Extensions
import graft.streaming.EventStream

/** Stream-batch parity: the SAME aggregation object (EventStream
  * .windowedAgg) run as a Structured Streaming query over the events
  * parquet must produce exactly the batch q26 result. */
class StreamingSpec extends SparkSpec {

  test("streaming windowed aggregation equals batch q26") {
    val streamed = EventStream.q109StreamWindows(spark, sf1)
    val batch = Extensions.q26EventWindows(spark, sf1)
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0L)
    assert(batch.exceptAll(streamed).count() === 0L)
  }

  test("watermark bounds state: query plan carries the watermark") {
    val agg = EventStream.windowedAgg(EventStream
      .readStream(spark, sf1, "events").withWatermark("ts", "1 day"))
    assert(agg.isStreaming)
    val plan = agg.queryExecution.logical.toString
    assert(plan.contains("EventTimeWatermark"), plan.take(800))
  }

  test("q140 stream-static enrichment lands exactly on the batch join") {
    import org.apache.spark.sql.functions._
    val streamed = EventStream.q140StreamEnrich(spark, sf1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val batch = graft.sources.Tables.load(spark, sf1, "events")
      .join(broadcast(graft.sources.Tables.load(spark, sf1, "customer")
        .select(col("c_custkey").as("user_id"),
          col("c_nationkey").cast("bigint").as("nation"))), "user_id")
      .groupBy("nation")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq,
      "finite drained replay must equal the batch aggregation")
  }

  test("q157 streaming incremental LSH lands exactly on the q30 " +
    "index rebuild (confluence across batch splits)") {
    val streamed = graft.streaming.EventStream
      .q157StreamLsh(spark, sf1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()
    val rebuilt = graft.operators.Dedup.q30DedupMinhashLsh(spark, sf1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed.nonEmpty)
    assert(streamed === rebuilt,
      "lifetime streaming pair set must equal the full rebuild")
  }

  test("q253 streamed binned quantiles are ordered, cover every " +
    "(day, type) window, and replay the census definition") {
    import org.apache.spark.sql.functions.{col, expr, lit}
    val rows = graft.streaming.EventStream
      .q253StreamQuantile(spark, sf1).collect()
      .map(r => (r.getDate(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val events = graft.sources.Tables.load(spark, sf1, "events")
    assert(rows.map(_._3).sum === events.count(),
      "window counts must partition the stream")
    for ((d, t, n, p50, p95, p99) <- rows) {
      assert(n > 0)
      assert(p50 <= p95 && p95 <= p99, s"($d,$t) quantiles unordered")
    }
    // replay one group's p95 from the exact batch census
    val (d0, t0, n0, _, p95s, _) = rows.head
    val bins = events
      .filter(col("ts").cast("date") === lit(d0) &&
        col("event_type") === t0)
      .select(expr("CAST(floor(value) AS BIGINT)").as("b"))
      .collect().map(_.getLong(0)).sorted
    assert(bins.length === n0)
    val cum = bins.zipWithIndex.find {
      case (_, i) => (i + 1) * 100L >= bins.length * 95L
    }.get._1
    assert(p95s === cum, "streamed p95 diverged from census replay")
  }
}
