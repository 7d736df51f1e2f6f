package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, Trigger}
import org.apache.spark.sql.types._

/** Typed event row for stateful operators. */
case class Event(
    event_id: Long,
    ts: java.sql.Timestamp,
    user_id: Long,
    event_type: String,
    value: Double)

/** Per-user running state kept by the stateful operator. */
case class UserActivity(user_id: Long, n_events: Long, n_purchases: Long)

/** Open-session state for the flatMapGroupsWithState sessionizer. */
case class OpenSession(start: Long, last: Long, n: Long)

/** A closed session emitted by the sessionizer (epoch-second bounds). */
case class ClosedSession(
    user_id: Long, start_s: Long, end_s: Long, n_events: Long)

/** A closed session with its close reason, emitted by the q514
  * timer-armed sessionizer: via = 'event' (successor > gap later) or
  * 'timer' (watermark passed the armed expiry). */
case class ClosedSessionVia(
    user_id: Long, start_s: Long, end_s: Long, n_events: Long,
    via: String)

/** Token-bucket state for the q267 rate limiter (epoch-second of the
  * last processed event; tokens remaining after it). */
case class RateState(last_s: Long, tokens: Long)

/** q283 funnel-machine state: furthest ordered stage reached and the
  * collision-free key of the event that reached it. */
case class FunnelState(stage: Long, stage_key: Long)

/** Per-user funnel position emitted by q283. */
case class FunnelPos(user_id: Long, stage: Long)

/** Per-batch rate-limit decision counts emitted by q267. */
case class RateCounts(
    user_id: Long, n_events: Long, n_allowed: Long, n_denied: Long)

/** Structured Streaming over the events and documents tables (SURVEY.md
  * §7 M6): the 35 declared `*_stream_*` queries and the operators they
  * share.
  *
  * Every query replays its table through ONE runner. [[readStream]] opens
  * the table as a file stream with the schema the source layer checked
  * against its footers; [[drain]] runs a stream into the memory sink
  * named after the run and returns the sink table; [[fold]] runs it
  * through `foreachBatch` over an accumulator and returns the final
  * value. Both run once with `Trigger.AvailableNow` under the run's name
  * (so its micro-batch jobs carry that name), pin the session conf the
  * run needs for exactly the run, and stop the query however the run
  * ends.
  *
  * The windowed aggregation is ONE object shared with the batch q26 — the
  * parity test asserts batch(df) == stream(df) by running the same
  * transformation through both engines, which is Spark's unified-batch/
  * stream model doing exactly what it promises.
  *
  * Scale design: a 1-day watermark bounds state to ~2 days of open windows
  * per event_type regardless of stream length; late events inside the
  * watermark revise their window, later ones are dropped — the semantics a
  * 100 TB/day ingest needs to avoid unbounded state growth.
  */
object EventStream {

  /** Opens table `table` of an sf dir as a file stream. The schema is the
    * one the source layer checked against the table's footers
    * ([[graft.sources.Tables.readSchema]]), so a file that differs from
    * the declaration fails here with `SourceSchemaMismatch` as a batch
    * load does, and the `events.ts` encoding is normalized in one place
    * for batch and stream reads alike. */
  def readStream(spark: SparkSession, sfDir: String, table: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val rd = spark.readStream
      .schema(graft.sources.Tables.readSchema(spark, sfDir, table))
    maxFilesPerTrigger.foreach(n =>
      rd.option("maxFilesPerTrigger", n.toString))
    val raw = rd
      // an sf table is a single parquet FILE: FileStreamSource injects
      // basePath=<path> for non-glob paths and then rejects it for not
      // being a directory, so address the file through a glob
      .parquet(s"$sfDir/$table.parque[t]")
    if (table == "events") graft.sources.Tables.normalizeEventTs(raw)
    else raw
  }

  /** The one stream run: drops the view `name`, sets the `pinned` session
    * conf, and replays `df` once into `sink` under the query name `name`
    * with `Trigger.AvailableNow`. However the run ends, the query is
    * stopped and each pinned key gets back the value it had, or is unset
    * again if it had none. A failed run rethrows. */
  private def run(name: String, pinned: Map[String, String], df: DataFrame)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val s = df.sparkSession
    s.catalog.dropTempView(name) // idempotent across re-runs in a session
    val before = s.conf.getAll
    try {
      pinned.foreach { case (k, v) => s.conf.set(k, v) }
      val q = sink(df.writeStream).queryName(name)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    } finally pinned.keys.foreach(k => before.get(k) match {
      case Some(v) => s.conf.set(k, v)
      case None => s.conf.unset(k)
    })
  }

  /** Drains `df` into the memory sink `name` in output `mode` and returns
    * the sink table. */
  private[graft] def drain(name: String, mode: String,
      pinned: Map[String, String] = Map.empty)(df: DataFrame): DataFrame = {
    run(name, pinned, df)(_.outputMode(mode).format("memory"))
    df.sparkSession.table(name)
  }

  /** Folds `step` over the micro-batches of `df`, starting from `init`,
    * and returns the final accumulator. */
  private[graft] def fold[A](name: String, init: A,
      pinned: Map[String, String] = Map.empty)(df: DataFrame)(
      step: (A, DataFrame) => A): A = {
    var acc = init
    run(name, pinned, df)(_.foreachBatch {
      (batch: DataFrame, _: Long) => acc = step(acc, batch)
    })
    acc
  }

  /** The shared batch/stream aggregation: 1-day tumbling windows per
    * event_type, count + DECIMAL-cast sum (same shape as q26). The sum is
    * accumulated in DECIMAL (order-independent) but SURFACED as DOUBLE:
    * a decimal output column reaches the driver's compare as
    * Decimal('100.10') from Spark parquet but float 100.1 from DuckDB's
    * pandas conversion — never emit DECIMAL in a compared result. */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)"))
          .cast("double").as("sum_value"))
      .select(
        col("window.start").cast("date").as("day"),
        col("event_type"), col("n"), col("sum_value"))

  /** Project a raw events frame to the typed shape. */
  def typedEvents(df: DataFrame): Dataset[Event] = {
    import df.sparkSession.implicits._
    df.select("event_id", "ts", "user_id", "event_type", "value").as[Event]
  }

  /** Custom streaming state via mapGroupsWithState: a per-user running
    * activity profile, updated batch by batch. State is one small row per
    * user — bounded by cardinality, not stream length; a production
    * variant adds a timeout to expire idle users. Works identically over
    * a batch Dataset (one "batch" = the whole input). */
  def runningUserActivity(ds: Dataset[Event]): Dataset[UserActivity] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .mapGroupsWithState[UserActivity, UserActivity](
        GroupStateTimeout.NoTimeout) {
        (uid: Long, events: Iterator[Event],
         state: GroupState[UserActivity]) =>
          val prev = state.getOption.getOrElse(UserActivity(uid, 0L, 0L))
          var n = prev.n_events
          var p = prev.n_purchases
          events.foreach { e =>
            n += 1
            if (e.event_type == "purchase") p += 1
          }
          val next = UserActivity(uid, n, p)
          state.update(next)
          next
      }
  }

  /** Custom sessionization via flatMapGroupsWithState: zero-or-more
    * CLOSED sessions emitted per user per batch (vs mapGroupsWithState's
    * exactly-one output). A session closes when a later event arrives
    * more than `gapSeconds` after it; the open tail stays in state across
    * batches. This is the hand-rolled form of what `session_window`
    * (q41) does declaratively — kept because custom emission (close
    * reasons, per-session payloads, side outputs) needs the explicit
    * state API. */
  def sessionizeStateful(
      ds: Dataset[Event], gapSeconds: Long): Dataset[ClosedSession] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (uid: Long, events: Iterator[Event],
         state: GroupState[OpenSession]) =>
          val sorted = events.map(_.ts.getTime / 1000).toSeq.sorted
          var open = state.getOption
          val closed = scala.collection.mutable.ListBuffer[ClosedSession]()
          sorted.foreach { t =>
            open match {
              case Some(s) if t - s.last <= gapSeconds =>
                open = Some(s.copy(last = t, n = s.n + 1))
              case Some(s) =>
                closed += ClosedSession(uid, s.start, s.last, s.n)
                open = Some(OpenSession(t, t, 1))
              case None =>
                open = Some(OpenSession(t, t, 1))
            }
          }
          open.foreach(state.update)
          closed.iterator
      }
  }

  /** Streaming exact dedup with BOUNDED state — the ingest-time guard of
    * the batch dedup family (q23/q30): drop re-deliveries of the same
    * event_id as they arrive. `dropDuplicatesWithinWatermark` keeps a seen
    * key only until the watermark passes it, so state is proportional to
    * the watermark horizon (here: one day of keys), not the stream's
    * lifetime — the difference between a dedup that survives a year of
    * 100 TB/day ingest and one that OOMs in week one. Exactly-once within
    * the horizon; duplicates straggling in later than the watermark are
    * the (documented) residual risk, caught by the batch pass. */
  def dedupStream(events: DataFrame, horizon: String): DataFrame =
    events
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval self-join: click events joined to the same
    * user's purchase events landing within `intervalExpr` AFTER the
    * click (attribution). Both sides carry a watermark and the join
    * condition bounds event-time distance, so Spark evicts buffered rows
    * once the watermark passes `click_ts + interval` — state is
    * proportional to the interval horizon, not stream length. Without
    * BOTH the watermarks and the time bound, a stream-stream join must
    * buffer forever. */
  def clickPurchaseJoin(
      events: DataFrame, horizon: String, intervalExpr: String): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("click_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", horizon)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("purchase_user"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", horizon)
    clicks.join(purchases,
      col("click_user") === col("purchase_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(intervalExpr))
  }

  /** q109 — the DECLARED end-to-end streaming query (SURVEY §7 M6 made
    * driver-visible): the events table replayed through a real
    * Structured Streaming run — file source → watermark → tumbling
    * 1-day windows → complete-mode memory sink, Trigger.AvailableNow —
    * and the final sink table returned as the result. Complete mode
    * emits every window's final state once the (finite) replay drains,
    * so the output is EXACTLY the batch q26 aggregation over the same
    * frame — which is why this query carries q26's full DuckDB oracle
    * rather than a rows-only check: stream/batch parity is hash-checked
    * by the differential itself, not just asserted in ScalaTest.
    * Scale shape: the same partial-agg + state-store plan a production
    * stream runs; state is O(open windows × event_types), bounded by
    * the watermark horizon, not stream length. */
  def q109StreamWindows(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    drain("q109_stream_windows_mem", "complete") {
      windowedAgg(readStream(s, dir, "events", maxFilesPerTrigger)
        .withWatermark("ts", "1 day"))
    }
  }

  /** q114 — DECLARED custom streaming state: the events stream replayed
    * through the `mapGroupsWithState` per-user profile operator
    * (update-mode memory sink, Trigger.AvailableNow), returning each
    * user's FINAL running state. Counters are monotone, so max-per-user
    * over the sink's update rows is the final state regardless of how
    * many micro-batches the replay took — and equals the plain
    * GROUP BY the oracle runs. This puts the arbitrary-state API under
    * the hash differential the way q109 does for windowed aggregation.
    * Scale shape: state is one small row per user (bounded by
    * cardinality, not stream length; production adds a timeout to
    * expire idle users). */
  def q114StreamProfiles(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    finalProfiles(drain("q114_stream_profiles_mem", "update") {
      runningUserActivity(typedEvents(
        readStream(s, dir, "events", maxFilesPerTrigger))).toDF()
    })
  }

  /** The final per-user profile from an update-mode profile sink: the
    * counters are monotone, so each user's max over the emitted rows is
    * the last state, however many micro-batches the replay took (q114,
    * q506). */
  private def finalProfiles(sink: DataFrame): DataFrame =
    sink.groupBy("user_id")
      .agg(max("n_events").as("n_events"),
        max("n_purchases").as("n_purchases"))

  /** Session gap for q117 (matches q41's 30-minute session_window). */
  val SessionGapSeconds = 1800L

  /** q117 — the `flatMapGroupsWithState` SESSIONIZER as a declared
    * query: events replayed through the custom-emission stateful
    * operator (append-mode memory sink, AvailableNow); output = every
    * CLOSED session (user, start, end, count in epoch seconds). A
    * session closes when a later event arrives > gap after it; each
    * user's open tail stays in state and is never emitted — so the
    * batch oracle is the lag/gap-cumsum sessionization MINUS each
    * user's last session. The algorithm is incremental: splitting a
    * time-ordered replay across micro-batches closes identical
    * sessions (state carries the open tail), so the differential
    * doesn't depend on batch boundaries. Completes the declared
    * streaming trio: q109 windowed agg, q114 mapGroupsWithState,
    * q117 flatMapGroupsWithState. */
  def q117StreamSessions(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    drain("q117_stream_sessions_mem", "append") {
      sessionizeStateful(typedEvents(
        readStream(s, dir, "events", maxFilesPerTrigger)), SessionGapSeconds)
        .toDF()
    }
  }

  /** Attribution window for q121 (micros; = INTERVAL 1 HOUR). */
  val AttributionUs = 3600000000L

  /** q121 — the stream-stream INTERVAL JOIN as a declared query, the
    * fourth and last Structured Streaming join/agg shape after q109
    * (windowed agg), q114 (mapGroupsWithState) and q117
    * (flatMapGroupsWithState): the events replay joined to ITSELF —
    * every click paired with the same user's purchases landing within
    * one hour after it (append-mode memory sink, AvailableNow).
    * Both sides carry watermarks and the join bounds event-time
    * distance, so buffered state is evicted as the watermark passes
    * `click_ts + interval` — O(horizon), not O(stream). The finite
    * one-file replay drains in a single micro-batch, so no row is ever
    * watermark-late and the inner join emits exactly the batch-join
    * result the DuckDB oracle computes. Determinism: the parquet NANOS
    * timestamps reach Spark truncated to micros (ts div 1000), so the
    * oracle joins on `epoch_ns(ts) // 1000` — identical integer micros
    * on both engines, and the declared gap is exact integer micros. */
  def q121StreamIntervalJoin(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    // a stream-stream join keeps FOUR state stores per shuffle
    // partition; at this replay size the run is store-commit bound, so
    // pin the stateful parallelism low for the (ephemeral-checkpoint)
    // run. Result is partitioning-invariant — only the fixed overhead
    // changes.
    drain("q121_stream_interval_join_mem", "append",
        Map("spark.sql.shuffle.partitions" -> "8")) {
      clickPurchaseJoin(readStream(s, dir, "events", maxFilesPerTrigger),
          "2 hours", "INTERVAL 1 HOUR")
        .select(col("click_id"), col("purchase_id"),
          (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
            .as("gap_us"))
    }
  }

  /** q126 — streaming EXACT DEDUP as a declared query (the ingest-time
    * guard of the batch dedup family, q23/q30, previously unit-tested
    * only): the events replay UNIONED WITH ITSELF — every event
    * delivered twice, the worst-case at-least-once redelivery — flows
    * through `dropDuplicatesWithinWatermark(event_id)`, and the sink
    * must land on exactly the base table (event_ids are unique in it),
    * which is the DuckDB oracle. State holds a seen key only until the
    * watermark passes it — O(horizon) keys, not O(stream) — and the
    * single-batch finite replay makes the redelivery in-horizon by
    * construction, so exactly-once is total here and the differential
    * hash-checks it. */
  def q126StreamDedup(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    val doubled = readStream(s, dir, "events", maxFilesPerTrigger)
      .unionByName(readStream(s, dir, "events", maxFilesPerTrigger))
    drain("q126_stream_dedup_mem", "append") {
      dedupStream(
          doubled.select("event_id", "ts", "user_id", "event_type"),
          "1 day")
        .select(col("event_id"), col("user_id"), col("event_type"))
    }
  }

  /** q140 — STREAM-STATIC enrichment join as a declared run, the fifth
    * Structured Streaming shape (after windowed agg q109, two stateful
    * operators q114/q117, stream-stream join q121, streaming dedup
    * q126): the events replay broadcast-joined per micro-batch against
    * the STATIC customer dimension (user → nation) and aggregated to
    * per-nation event/purchase counts in complete mode. Stream-static
    * joins are stateless — the static side is just re-planned into
    * every micro-batch (broadcast here, as a dimension should be) —
    * so the drained finite replay lands exactly on the batch join +
    * GROUP BY the oracle runs. Scale shape: the streaming side never
    * shuffles for the join (broadcast), and the complete-mode state is
    * O(nations). */
  def q140StreamEnrich(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    val dim = graft.sources.Tables.load(s, dir, "customer")
      .select(col("c_custkey").as("user_id"),
        col("c_nationkey").cast("bigint").as("nation"))
    drain("q140_stream_enrich_mem", "complete") {
      readStream(s, dir, "events", maxFilesPerTrigger)
        .join(broadcast(dim), "user_id")
        .groupBy("nation")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purchases"))
    }
  }

  private def q140OracleSql: String =
    """SELECT CAST(c.c_nationkey AS BIGINT) AS nation,
         count(*) AS n_events,
         CAST(sum(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_purchases
       FROM events e JOIN customer c ON e.user_id = c.c_custkey
       GROUP BY 1"""

  /** Portable last-write-wins key for q146 (q92/q134's convention):
    * event-time seconds scaled + event_id — unique, integer, identical
    * on both engines. */
  val UpsertKeyScale = 10000000L

  /** Library core of q146: merge one micro-batch of upserts into the
    * accumulated snapshot. Both inputs and output have schema
    * (user_id, k, last_type, n_upserts); last-write-wins on the max
    * portable key k, n_upserts accumulates. max/sum are associative
    * and commutative, so ANY split of the stream into micro-batches —
    * including redeliveries ACROSS batch boundaries if upstream dedup
    * (q126) ran first — lands on the same final snapshot. */
  def mergeUpserts(snapshot: DataFrame, batch: DataFrame): DataFrame =
    snapshot.unionByName(batch)
      .groupBy("user_id")
      .agg(max_by(col("last_type"), col("k")).as("last_type"),
        max("k").as("k"), sum("n_upserts").as("n_upserts"))
      .select("user_id", "k", "last_type", "n_upserts")

  /** q146 — streaming CDC UPSERT via `foreachBatch` (the sink shape the
    * declared streaming family still lacked: q109 complete-mode agg,
    * q114/q117 stateful, q121 stream-stream, q126 dedup, q140
    * stream-static — this one is the MERGE-INTO-SNAPSHOT writer a
    * replication pipeline runs): the events replay drains through
    * `foreachBatch`, each micro-batch pre-aggregated to one row per
    * user and merged into the running snapshot with last-write-wins on
    * the portable (event-time, event_id) key. The merged result is the
    * per-user LATEST event plus the total upsert count — exactly the
    * per-user argmax the DuckDB oracle computes, independent of how
    * many micro-batches the replay took (see [[mergeUpserts]]).
    *
    * Scale shape: each batch shrinks to ≤|users in batch| rows BEFORE
    * touching the snapshot (map-side partial agg); the merge is one
    * shuffle on user_id of snapshot+delta — in production both sides
    * are bucketed on the key (q123's layout) and the merge is
    * co-located, with the snapshot stored in a transactional table
    * format. `localCheckpoint` after every merge truncates lineage,
    * the q99 iterative discipline applied to a streaming accumulator. */
  def q146StreamUpsert(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val upserts = readStream(s, dir, "events", maxFilesPerTrigger)
      .select(col("user_id"),
        (unix_timestamp(col("ts")) * UpsertKeyScale + col("event_id"))
          .as("k"),
        col("event_type").as("last_type"))
    fold("q146_stream_upsert", Seq.empty[(Long, Long, String, Long)]
        .toDF("user_id", "k", "last_type", "n_upserts"))(upserts) {
      (snapshot, batch) =>
        val delta = batch
          .groupBy("user_id")
          .agg(max_by(col("last_type"), col("k")).as("last_type"),
            max("k").as("k"), count(lit(1)).as("n_upserts"))
          .select("user_id", "k", "last_type", "n_upserts")
        mergeUpserts(snapshot, delta).localCheckpoint(true)
    }
  }

  private def q146OracleSql: String =
    s"""WITH e AS (SELECT user_id, event_type,
          (epoch_ns(ts) // 1000000000) * $UpsertKeyScale + event_id AS k
        FROM events)
        SELECT user_id, CAST(max(k) AS BIGINT) AS k,
               arg_max(event_type, k) AS last_type,
               CAST(count(*) AS BIGINT) AS n_upserts
        FROM e GROUP BY user_id"""

  /** q157 — STREAMING INCREMENTAL NEAR-DUP via `foreachBatch` (the
    * eighth declared Structured Streaming shape, and q152's operator
    * under continuous ingest): the planted-document replay drains batch
    * by batch; each micro-batch is LSH-banded once
    * ([[graft.operators.Dedup.bandedKeys]], `localCheckpoint`ed for its
    * three consumers), self-joined for in-batch candidates, joined
    * against the ACCUMULATED band-signature index for batch-vs-index
    * candidates, and appended to the index. Every pair of the full
    * corpus is generated exactly when its LATER member arrives, so the
    * lifetime output is independent of how the stream splits into
    * micro-batches and equals the full q30 index rebuild — which is the
    * DuckDB oracle (confluence the differential hash-checks;
    * StreamingSpec pins the q30 equality in-engine too).
    *
    * Scale shape: per batch, work = batch-bands self-join + one
    * equi-join of batch bands against the index on (band, bkey) — at
    * production scale the index is a bucketed table on that key
    * (q123's layout), making the join co-located and the append an
    * index-partition write; nothing ever rescans the corpus, and
    * corpus-vs-corpus pairs are never regenerated (q152's invariant,
    * maintained continuously). */
  def q157StreamLsh(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame =
    incrementalLsh("q157_stream_lsh", s, dir, maxFilesPerTrigger)(identity)

  /** The incremental LSH near-dup fold of q157 and q302, the
    * continuous-ingest case of Continuously Adaptive Similarity Search
    * (SIGMOD 2020, PAPERS.md): the planted-document replay, passed
    * through `prepare` (q302 chunks it), drains batch by batch; each
    * micro-batch is banded once, self-joined for in-batch pairs, joined
    * against the accumulated band index for batch-vs-index pairs, and
    * appended to the index. Returns the lifetime pair set. */
  private def incrementalLsh(name: String, s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int])(
      prepare: DataFrame => DataFrame): DataFrame = {
    import s.implicits._
    val D = graft.operators.Dedup
    val docs = readStream(s, dir, "documents", maxFilesPerTrigger)
      .select("doc_id", "text")
    val planted = docs.unionByName(docs.select(
      (col("doc_id") + D.PlantedOffset).as("doc_id"),
      expr("array_join(slice(split(text, ' '), 1, " +
        "size(split(text, ' ')) - 1), ' ')").as("text")))
    val (pairs, _) = fold(name,
        (Seq.empty[(Long, Long)].toDF("doc_id_1", "doc_id_2"),
          Seq.empty[(Long, Int, String)].toDF("doc_id", "band", "bkey")))(
        prepare(planted)) { case ((pairs, index), batch) =>
      val b = D.bandedKeys(batch).localCheckpoint(true)
      val inBatch = b.as("x").join(b.as("y"),
          col("x.band") === col("y.band") &&
            col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_id_1"),
          col("y.doc_id").as("doc_id_2"))
      val vsIndex = b.as("b").join(index.as("i"),
          col("b.band") === col("i.band") &&
            col("b.bkey") === col("i.bkey"))
        .select(
          least(col("b.doc_id"), col("i.doc_id")).as("doc_id_1"),
          greatest(col("b.doc_id"), col("i.doc_id")).as("doc_id_2"))
      (pairs.unionByName(inBatch.unionByName(vsIndex)).localCheckpoint(true),
        index.unionByName(b).localCheckpoint(true))
    }
    pairs.distinct()
  }

  /** q302 — STREAMING CHUNK-LEVEL NEAR-DUP: q157's incremental LSH
    * machinery applied to q300's chunk pseudo-corpus (the two round-9
    * compositions stacked — paragraph-granularity dedup under
    * continuous ingest, which is how a crawl pipeline actually meets
    * the problem: yesterday's boilerplate paragraphs must be found in
    * today's batch without rescanning the corpus). Each micro-batch's
    * documents are chunked IN-BATCH (the chunker is stateless generator
    * expressions, so a doc's chunks always ride the batch that carried
    * the doc), banded once, self-joined for in-batch chunk pairs,
    * joined against the accumulated chunk-band index for
    * batch-vs-corpus pairs, and appended to the index. Same confluence
    * argument as q157: every chunk pair is generated exactly when its
    * later member arrives, so the lifetime output is batch-split
    * independent and equals the full q300 rebuild — q300's census IS
    * the DuckDB oracle, and the spec pins the in-engine equality.
    *
    * Scale shape: q157's — per batch, work = batch-bands self-join +
    * one equi-join against the (at scale, bucketed) index on
    * (band, bkey); the corpus is never rescanned; state = the banded
    * chunk index, ~2.3 rows per document chunk band. */
  def q302StreamChunkDedup(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    val D = graft.operators.Dedup
    D.chunkPairCensus(incrementalLsh("q302_stream_chunk_dedup", s, dir,
      maxFilesPerTrigger)(D.chunkPseudoDocs))
  }

  /** q188 — the DECLARATIVE streaming sessionizer: `session_window`
    * aggregation under the Structured Streaming engine (the engine's
    * own merging-session state store), completing the sessionization
    * triangle — q41 is the batch declarative form, q117 the hand-rolled
    * stateful-API form, this the streaming declarative form. Session
    * windows only support APPEND mode, which emits a session once the
    * watermark passes its close (session_end + gap): with a 0-second
    * watermark delay, the AvailableNow replay's final no-data batch
    * advances the watermark to max(ts) and flushes every session except
    * the per-user tails still within one gap of the stream's end —
    * exactly the batch q41 sessionization filtered to
    * `session_end + gap <= max(ts)`, which is the DuckDB oracle (the
    * same eviction-boundary reasoning as q117's open-tail exclusion,
    * here enforced by the engine rather than hand-rolled state).
    *
    * Scale shape: state is one (start, end, count) per OPEN session,
    * evicted as the watermark passes — O(active sessions), not
    * O(stream); the session merge runs inside the state store, never a
    * corpus window. */
  def q188StreamSessionWindow(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    drain("q188_stream_session_window_mem", "append") {
      readStream(s, dir, "events", maxFilesPerTrigger)
        .withColumn("ts_s", date_trunc("second", col("ts")))
        .withWatermark("ts_s", "0 seconds")
        .groupBy(session_window(col("ts_s"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), max(col("ts_s")).as("session_end"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_end"), col("n_events"))
    }
  }

  /** q41's batch sessionization, filtered to the sessions append mode
    * evicts: session close (end + gap) at or before the final watermark
    * (= max event time under the 0-second delay). */
  private def q188OracleSql: String =
    """WITH e AS (SELECT user_id, date_trunc('second', ts) AS ts_s
                  FROM events),
       o AS (SELECT user_id, ts_s,
               CASE WHEN lag(ts_s) OVER w IS NULL
                      OR ts_s - lag(ts_s) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
             FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s)),
       s2 AS (SELECT user_id, ts_s,
                sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS sid
              FROM o),
       sess AS (SELECT user_id, min(ts_s) AS session_start,
                  max(ts_s) AS session_end, count(*) AS n_events
                FROM s2 GROUP BY user_id, sid),
       wm AS (SELECT max(date_trunc('second', ts)) AS m FROM events)
       SELECT user_id, session_start, session_end, n_events
       FROM sess, wm
       WHERE session_end + INTERVAL 30 MINUTE <= m"""

  /** q236 sketch size and hash modulus (q181's KmvM convention). */
  val StreamKmvK = 32
  val StreamKmvM = 2147483647L

  /** q236 — MERGEABLE SKETCH STATE IN STREAMING: per (day, type) window
    * the [[graft.functions.KmvMin]] k-minimum-values sketch of the
    * user-id hash stream, run as a streaming aggregation (complete
    * mode, AvailableNow) — the 9th declared streaming shape, and the
    * one that answers "how do you count distincts in a stream without
    * holding the distincts": window state is k sorted longs, NOT the
    * user set, no matter how many events the window sees (q109 holds a
    * 2-number aggregate, q126 holds the dedup horizon — this holds a
    * SKETCH). The hash is deterministic (q181's LCG convention), so the
    * sketch content — not just its estimate — is a pure function of the
    * window's user multiset, and the DuckDB oracle reproduces the k-th
    * min and the estimate exactly: (k−1)·(M−1) div kth (exact count
    * released when the window holds fewer than k distinct hashes).
    *
    * Scale shape: the sketch buffer partially aggregates map-side like
    * any typed Aggregator (min-k of a union = min-k of min-k's), so
    * shuffle bytes per partition are O(k) per open window; at 100 TB
    * the same aggregator swaps into q209/q211 when exact distincts
    * stop fitting — this query pins its semantics under the
    * differential. */
  def q236StreamKmv(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    val kmv = udaf(new graft.functions.KmvMin(StreamKmvK),
      org.apache.spark.sql.Encoders.scalaLong)
    drain("q236_stream_kmv_mem", "complete") {
      readStream(s, dir, "events", maxFilesPerTrigger)
        .withWatermark("ts", "1 day")
        .select(col("ts"), col("event_type"),
          expr(s"(user_id * 1103515245 + 12345) % $StreamKmvM").as("hv"))
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(kmv(col("hv")).as("mins"))
        .select(col("window.start").cast("date").as("day"),
          col("event_type"), col("mins"))
    }
      .select(col("day"), col("event_type"),
        size(col("mins")).cast("bigint").as("n_mins"),
        expr("element_at(mins, size(mins))").as("kth_hash"))
      .withColumn("est_distinct",
        when(col("n_mins") >= StreamKmvK,
          expr(s"(CAST(${StreamKmvK - 1} AS BIGINT)" +
            s" * ${StreamKmvM - 1}) div greatest(kth_hash, 1)"))
          .otherwise(col("n_mins")))
  }

  private def q236OracleSql: String =
    s"""WITH h AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE)
          AS day, event_type,
          (user_id * 1103515245 + 12345) % $StreamKmvM AS hv
        FROM events),
        r AS (SELECT day, event_type, hv,
            row_number() OVER (PARTITION BY day, event_type
              ORDER BY hv) AS rn,
            count(*) OVER (PARTITION BY day, event_type) AS nd
          FROM h)
        SELECT day, event_type,
          CAST(least($StreamKmvK, nd) AS BIGINT) AS n_mins,
          CAST(hv AS BIGINT) AS kth_hash,
          CAST(CASE WHEN nd >= $StreamKmvK
            THEN (CAST(${StreamKmvK - 1} AS BIGINT) * ${StreamKmvM - 1})
              // greatest(hv, 1)
            ELSE nd END AS BIGINT) AS est_distinct
        FROM r WHERE rn = least($StreamKmvK, nd)"""

  /** q239 Misra-Gries counter budget per window. */
  val StreamHhK = 15

  /** q239 — FREQUENT-ITEMS SKETCH IN STREAMING (q236's cardinality
    * companion, completing the sketch-state pair): per (day, type)
    * window a Misra-Gries sketch over an abuse-detection key — the
    * "bot cohort" (user_id ≡ 0 mod 10, a stand-in for a collapsed
    * bot/crawler classification) aggregates to ONE key while organic
    * users stay individual, so the stream has a real ~10%-share heavy
    * hitter over a ~10³-key domain and 15 counters are a genuine
    * sketch, not a disguised census. Declared output is q100's
    * contract lifted to windows: the EXACT per-window heavy hitters
    * (frequency strictly above total/(k+1)) with a `captured` flag
    * the oracle pins TRUE — the MG merge guarantee (undercount ≤
    * N/(k+1) across ANY merge tree, including the nondeterministic
    * micro-batch merge order of a real stream) says no such key can be
    * absent from the sketch. Sketch values stay out of the
    * differential; their GUARANTEE is what's hash-checked
    * (q47/q66/q100 discipline).
    *
    * Scale shape: O(k) state per open window however large the window;
    * the exact side exists only to make the guarantee checkable and
    * runs as one (day, type, key) census — the thing the sketch
    * replaces at 100 TB. */
  def q239StreamHeavyHitters(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    val mg = udaf(new graft.functions.MisraGries(StreamHhK),
      org.apache.spark.sql.Encoders.scalaLong)
    val keyExpr = "CASE WHEN user_id % 10 = 0 THEN -1 ELSE user_id END"
    val sketch = drain("q239_stream_hh_mem", "complete") {
      readStream(s, dir, "events", maxFilesPerTrigger)
        .withWatermark("ts", "1 day")
        .withColumn("k", expr(keyExpr))
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(mg(col("k")).as("cands"))
        .select(col("window.start").cast("date").as("day"),
          col("event_type"), col("cands"))
    }
    val exact = graft.sources.Tables.load(s, dir, "events")
      .groupBy(col("ts").cast("date").as("day"), col("event_type"),
        expr(keyExpr).as("k"))
      .agg(count(lit(1)).as("n"))
      .withColumn("total", sum("n").over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("day", "event_type")))
      .filter(col("n") * (StreamHhK + 1) > col("total"))
    exact.join(sketch, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"), col("k"), col("n"),
        array_contains(col("cands"), col("k")).as("captured"))
  }

  private def q239OracleSql: String =
    s"""WITH c AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
          event_type,
          CASE WHEN user_id % 10 = 0 THEN -1 ELSE user_id END AS k,
          CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2, 3),
        tt AS (SELECT day, event_type,
            CAST(sum(n) AS BIGINT) AS total
          FROM c GROUP BY day, event_type)
        SELECT c.day, c.event_type, c.k, c.n, TRUE AS captured
        FROM c JOIN tt ON c.day = tt.day
          AND c.event_type = tt.event_type
        WHERE c.n * ${StreamHhK + 1} > tt.total"""

  /** q253 — STREAMING QUANTILES VIA BINNED-HISTOGRAM STATE (the
    * fixed-memory quantile shape for a bounded value domain: per open
    * window the state is a (bin → count) histogram, mergeable and
    * watermark-bounded, NOT a buffer of raw values — the property any
    * 100 TB/day latency-percentile monitor needs). The stream maintains
    * per-(day, event_type, whole-unit bin) counts; the p50/p95/p99
    * readout is a tiny BATCH pass over the drained sketch table —
    * quantile = smallest bin whose cumulative count reaches ⌈q·n⌉,
    * exact cross-multiplied integers (cum·100 ≥ n·q), bit-equal to the
    * oracle's identical census arithmetic by construction (binned
    * quantiles are deterministic where raw-value interpolation is
    * float-order-dependent).
    *
    * Scale shape: streaming state is |open windows|·|types|·|bins ≤
    * 561| longs regardless of stream length; the readout windows ride
    * the domain-sized sketch, never events. */
  def q253StreamQuantile(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    val sink = drain("q253_stream_quantile_mem", "complete") {
      readStream(s, dir, "events", maxFilesPerTrigger)
        .withWatermark("ts", "1 day")
        .select(col("ts"), col("event_type"),
          expr("CAST(floor(value) AS BIGINT)").as("bin"))
        .groupBy(window(col("ts"), "1 day"), col("event_type"), col("bin"))
        .agg(count(lit(1)).as("c"))
        .select(col("window.start").cast("date").as("day"),
          col("event_type"), col("bin"), col("c"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("day", "event_type").orderBy("bin")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, org.apache.spark.sql.expressions.Window
        .currentRow)
    val tot = org.apache.spark.sql.expressions.Window
      .partitionBy("day", "event_type")
    sink
      .withColumn("cum", sum("c").over(w))
      .withColumn("n", sum("c").over(tot))
      .groupBy("day", "event_type")
      .agg(max("n").as("n"),
        min(when(expr("cum * 100 >= n * 50"), col("bin"))).as("p50_bin"),
        min(when(expr("cum * 100 >= n * 95"), col("bin"))).as("p95_bin"),
        min(when(expr("cum * 100 >= n * 99"), col("bin"))).as("p99_bin"))
  }

  private def q253OracleSql: String =
    """WITH b AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
          event_type, CAST(floor(value) AS BIGINT) AS bin
        FROM events),
        hist AS (SELECT day, event_type, bin,
            CAST(count(*) AS BIGINT) AS c
          FROM b GROUP BY 1, 2, 3),
        cum AS (SELECT day, event_type, bin, c,
            CAST(sum(c) OVER (PARTITION BY day, event_type ORDER BY bin
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
            CAST(sum(c) OVER (PARTITION BY day, event_type)
              AS BIGINT) AS n
          FROM hist)
        SELECT day, event_type, CAST(max(n) AS BIGINT) AS n,
          min(CASE WHEN cum * 100 >= n * 50 THEN bin END) AS p50_bin,
          min(CASE WHEN cum * 100 >= n * 95 THEN bin END) AS p95_bin,
          min(CASE WHEN cum * 100 >= n * 99 THEN bin END) AS p99_bin
        FROM cum GROUP BY 1, 2"""

  /** q267 bucket geometry: capacity 5 tokens, 1 token per 12 h —
    * calibrated against the corpus's ~2.2 events/user/day so BOTH
    * decision branches carry real mass (measured ~53% admitted at
    * sf0.01; a per-minute refill admits everything and the deny path
    * would go differential-unexercised). */
  val RateCap = 5L
  val RateRefillS = 43200L

  /** Token-bucket replay shared by the stream operator and its tests:
    * events sorted by (second, event_id), whole-period refill
    * (t − last) div RateRefillS (12 h) capped at RateCap, one token per
    * allowed event; the bucket starts FULL at a user's first-ever
    * event. Fractional accrual lost to the integer div is the declared
    * semantics — mirrored exactly by the oracle's recursive CTE.
    *
    * ORDER-PRESERVING REPLAY CONTRACT: events are sorted only WITHIN
    * each micro-batch invocation, so the replay equals the oracle's
    * global order exactly when batches ascend in event time — trivially
    * true for the single-batch AvailableNow drain of one file (the spec
    * asserts one emission per user there), and true for ANY time-ordered
    * multi-batch split, because each user's per-batch sorts then
    * concatenate to the global sort while the bucket state carries
    * across invocations (MultiBatchConfluenceSpec forces a 4-batch
    * event-time-quartile replay and pins equality). A source that
    * delivers an earlier-keyed event in a later batch breaks the
    * contract and needs an event-time-watermark sort upstream. */
  def rateLimitStateful(ds: Dataset[Event]): Dataset[RateCounts] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[RateState, RateCounts](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (uid: Long, events: Iterator[Event],
         state: GroupState[RateState]) =>
          val sorted = events
            .map(e => (e.ts.getTime / 1000, e.event_id)).toSeq.sorted
          var st = state.getOption.getOrElse(
            RateState(Long.MinValue, RateCap))
          var allowed = 0L
          var denied = 0L
          sorted.foreach { case (ts, _) =>
            val refilled =
              if (st.last_s == Long.MinValue) st.tokens
              else math.min(RateCap,
                st.tokens + (ts - st.last_s) / RateRefillS)
            if (refilled >= 1L) {
              allowed += 1
              st = RateState(ts, refilled - 1)
            } else {
              denied += 1
              st = RateState(ts, refilled)
            }
          }
          state.update(st)
          Iterator(RateCounts(uid, sorted.size.toLong, allowed, denied))
      }
  }

  /** q267 — STREAMING TOKEN-BUCKET RATE LIMITER (the per-key admission
    * state machine every ingest edge runs — bot throttling, API
    * quotas, crawler politeness — and the flatMapGroupsWithState
    * pattern that is NOT a sessionizer: q117 closes windows, this one
    * meters a continuous budget): per user a RateCap-token bucket
    * refilling one token per RateRefillS (12 h) of event-time (the
    * calibration note above), one token per admitted event,
    * integer arithmetic only; declared output = per-user admitted and
    * denied totals over the drained replay, so the differential pins
    * every user's full decision sequence through its counts.
    *
    * Scale shape: state is TWO longs per active user regardless of
    * stream length; the per-batch emissions re-aggregate with a
    * user-keyed sum (map-side combinable) after the drain. */
  def q267StreamRateLimit(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    drain("q267_stream_rate_limit_mem", "append") {
      rateLimitStateful(typedEvents(
        readStream(s, dir, "events", maxFilesPerTrigger)))
        .toDF()
    }
      .groupBy("user_id")
      .agg(sum("n_events").as("n_events"),
        sum("n_allowed").as("n_allowed"),
        sum("n_denied").as("n_denied"))
  }

  private def q267OracleSql: String =
    s"""WITH RECURSIVE e AS (SELECT user_id,
          epoch_us(ts) // 1000000 AS t, event_id FROM events),
        r AS (SELECT user_id, t, CAST(row_number() OVER (
            PARTITION BY user_id ORDER BY t, event_id) AS BIGINT)
            AS rn
          FROM e),
        st(user_id, rn, t, tokens, nallow) AS (
          SELECT user_id, rn, t, CAST($RateCap - 1 AS BIGINT),
            CAST(1 AS BIGINT)
          FROM r WHERE rn = 1
          UNION ALL
          SELECT s.user_id, s.rn, s.t,
            CASE WHEN least($RateCap, st.tokens
                   + (s.t - st.t) // $RateRefillS) >= 1
              THEN least($RateCap, st.tokens
                   + (s.t - st.t) // $RateRefillS) - 1
              ELSE least($RateCap, st.tokens
                   + (s.t - st.t) // $RateRefillS) END,
            st.nallow + CASE WHEN least($RateCap, st.tokens
                   + (s.t - st.t) // $RateRefillS) >= 1
              THEN 1 ELSE 0 END
          FROM st JOIN r s
            ON s.user_id = st.user_id AND s.rn = st.rn + 1)
        SELECT user_id, CAST(max(rn) AS BIGINT) AS n_events,
          CAST(max(nallow) AS BIGINT) AS n_allowed,
          CAST(max(rn) - max(nallow) AS BIGINT) AS n_denied
        FROM st GROUP BY user_id"""

  /** q283 step deadline: each stage must be reached within 24 h of
    * the previous one (calibrated so all three terminal stages carry
    * real mass — 85/36/29 users at sf0.01; an unwindowed funnel over
    * a month of dense activity puts EVERY user at stage 3 and the
    * differential would pin a constant). */
  val FunnelDeadlineS = 86400L

  /** q283 — STREAMING WINDOWED-FUNNEL STATE MACHINE (the third
    * flatMapGroupsWithState pattern after q117's window-closer and
    * q267's budget-meter: a MONOTONE per-key automaton with step
    * deadlines — signup, then a click within 24 h strictly after it,
    * then a purchase within 24 h of that click — the live "where is
    * every user in the funnel" view a growth dashboard keeps, where
    * q134 computes the unwindowed batch answer after the fact):
    * events ordered on the q92/q134 collision-free key
    * (epoch-second·10⁷ + event_id, so "strictly after" is a total
    * order both engines agree on); state = (stage, key that reached
    * it) — two longs; declared output = every user's final stage over
    * the drained replay, so the differential pins each user's whole
    * trajectory through its terminal position.
    *
    * Scale shape: two longs of state per user; per-batch emissions
    * re-aggregate with max(stage) — the stage is monotone, so the
    * merge is associative and later batches only raise it. That
    * monotone-merge claim covers REPEATED emissions, not reordering:
    * like q267, events are sorted only within each micro-batch, so the
    * machine follows the order-preserving replay contract (see
    * rateLimitStateful) — exact under the single-batch drain AND under
    * any time-ordered multi-batch split, which
    * MultiBatchConfluenceSpec forces (4 event-time-quartile files,
    * maxFilesPerTrigger=1) and pins equal. */
  def q283StreamFunnel(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val machine = typedEvents(readStream(s, dir, "events", maxFilesPerTrigger))
      .map(e => (e.user_id, e.event_type,
        (e.ts.getTime / 1000) * 10000000L + e.event_id))
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelPos](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (uid: Long, events: Iterator[(Long, String, Long)],
         state: GroupState[FunnelState]) =>
          val sorted = events.map(e => (e._3, e._2)).toSeq.sorted
          var st = state.getOption.getOrElse(FunnelState(0L, -1L))
          def inWindow(k: Long): Boolean =
            k > st.stage_key &&
              k / 10000000L - st.stage_key / 10000000L <=
                FunnelDeadlineS
          sorted.foreach { case (k, tpe) =>
            if (st.stage == 0L && tpe == "signup")
              st = FunnelState(1L, k)
            else if (st.stage == 1L && tpe == "click" && inWindow(k))
              st = FunnelState(2L, k)
            else if (st.stage == 2L && tpe == "purchase" &&
              inWindow(k))
              st = FunnelState(3L, k)
          }
          state.update(st)
          Iterator(FunnelPos(uid, st.stage))
      }
    drain("q283_stream_funnel_mem", "append")(machine.toDF())
      .groupBy("user_id")
      .agg(max("stage").as("stage"))
  }

  private def q283OracleSql: String =
    s"""WITH e AS (SELECT user_id, event_type,
          (epoch_us(ts) // 1000000) * 10000000 + event_id AS k
        FROM events),
        s1 AS (SELECT user_id, min(k) AS k1 FROM e
          WHERE event_type = 'signup' GROUP BY user_id),
        s2 AS (SELECT e.user_id, min(e.k) AS k2 FROM e
          JOIN s1 ON e.user_id = s1.user_id AND e.k > s1.k1
            AND e.k // 10000000 - s1.k1 // 10000000
              <= $FunnelDeadlineS
          WHERE e.event_type = 'click' GROUP BY e.user_id),
        s3 AS (SELECT e.user_id, min(e.k) AS k3 FROM e
          JOIN s2 ON e.user_id = s2.user_id AND e.k > s2.k2
            AND e.k // 10000000 - s2.k2 // 10000000
              <= $FunnelDeadlineS
          WHERE e.event_type = 'purchase' GROUP BY e.user_id),
        u AS (SELECT DISTINCT user_id FROM e)
        SELECT u.user_id,
          CAST(CASE WHEN s3.user_id IS NOT NULL THEN 3
               WHEN s2.user_id IS NOT NULL THEN 2
               WHEN s1.user_id IS NOT NULL THEN 1
               ELSE 0 END AS BIGINT) AS stage
        FROM u
        LEFT JOIN s1 ON u.user_id = s1.user_id
        LEFT JOIN s2 ON u.user_id = s2.user_id
        LEFT JOIN s3 ON u.user_id = s3.user_id"""

  // -------------------------------------------------------------- q313

  /** q313's frozen bin ladder on the value-cents grid. A DEPLOYED drift
    * monitor ships its reference bins as config — q307's data-derived
    * decile edges are a batch luxury (they need the full reference half
    * before the first current event); the streaming monitor bins
    * against a fixed grid so every micro-batch updates state without
    * re-binning history. Interior edges chosen on the Exp(50)-cents
    * payload's working range. */
  val StreamPsiEdges: Seq[Long] =
    Seq(1000L, 2500L, 5000L, 7500L, 10000L, 15000L, 20000L, 30000L)

  /** q313 — STREAMING PSI DRIFT MONITOR (q307's population-stability
    * index under continuous ingest — the 16th declared streaming shape:
    * per event-time day, the value distribution binned on the frozen
    * [[StreamPsiEdges]] ladder as a windowed streaming aggregation;
    * the monitor then scores every day against the stream's FIRST day
    * (the launch-reference convention). State per open window is one
    * count per (day, bin) — ≤ 9 longs a day, regardless of volume.
    * Declared output rides a (day × bin) spine so zero-count bins are
    * explicit rows (a bin the traffic abandoned is exactly the drift
    * signal), with the q307 contribution expression — same shared text,
    * same greatest(n,1) floor — per row; the reference day scores
    * itself at psi 0, the built-in sanity row.
    *
    * Scale shape: the streaming census is map-side combined per
    * micro-batch (counts merge); the post-replay scoring joins
    * domain-sized frames only (days × 9 bins). */
  def q313StreamPsi(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    val ladder = StreamPsiEdges.zipWithIndex
      .foldRight(lit(StreamPsiEdges.length + 1L)) {
        case ((edge, i), rest) =>
          when(col("vc") < edge, (i + 1).toLong).otherwise(rest)
      }
    val sink = drain("q313_stream_psi_mem", "complete") {
      readStream(s, dir, "events", maxFilesPerTrigger)
        .withWatermark("ts", "1 day")
        .select(col("ts"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
        .withColumn("bin", ladder)
        .groupBy(window(col("ts"), "1 day"), col("bin"))
        .agg(count(lit(1)).as("k"))
        .select(col("window.start").cast("date").as("day"),
          col("bin"), col("k"))
    }
    // MemoryPlan is not a MultiInstanceRelation: the spine/ref self-joins
    // below would hit "conflicting references" — checkpoint the (tiny,
    // day×bin-bounded) census into a LogicalRDD first
    val census = sink.localCheckpoint(true)
    val d0 = census.agg(min("day").as("d0"))
    val bins = s.range(1, StreamPsiEdges.length + 2L)
      .select(col("id").as("bin"))
    val spine = census.select("day").distinct().crossJoin(broadcast(bins))
    val ref = census.crossJoin(broadcast(d0))
      .filter(col("day") === col("d0"))
      .select(col("bin"), col("k").as("kr"))
    val grid = spine
      .join(census, Seq("day", "bin"), "left")
      .join(broadcast(ref), Seq("bin"), "left")
      .select(col("day"), col("bin"),
        coalesce(col("kr"), lit(0L)).as("n_ref"),
        coalesce(col("k"), lit(0L)).as("n_cur"))
    val totals = grid.groupBy("day")
      .agg(sum("n_cur").as("nc"))
    val nrF = ref.agg(sum("kr").as("nr"))
    grid.join(totals, "day").crossJoin(broadcast(nrF))
      .select(col("day"), col("bin"), col("n_ref"), col("n_cur"),
        expr(s"CAST(floor(${graft.operators.Stats.psiContribExpr}" +
          " * 1000000000) AS BIGINT)").as("psi_ppb"))
  }

  private def q313OracleSql: String = {
    val caseArms = StreamPsiEdges.zipWithIndex
      .map { case (e, i) => s"WHEN vc < $e THEN ${i + 1}" }
      .mkString(" ")
    s"""WITH ev AS (SELECT CAST(ts AS DATE) AS day,
          CAST(floor(value * 100) AS BIGINT) AS vc FROM events),
        bb AS (SELECT day, CASE $caseArms
          ELSE ${StreamPsiEdges.length + 1} END AS bin FROM ev),
        census AS (SELECT day, CAST(bin AS BIGINT) AS bin,
          CAST(count(*) AS BIGINT) AS k FROM bb GROUP BY day, bin),
        d0 AS (SELECT min(day) AS d0 FROM census),
        bins AS (SELECT CAST(x AS BIGINT) AS bin
          FROM generate_series(1, ${StreamPsiEdges.length + 1}) AS t(x)),
        spine AS (SELECT day, bin
          FROM (SELECT DISTINCT day FROM census) CROSS JOIN bins),
        ref AS (SELECT bin, k AS kr FROM census CROSS JOIN d0
          WHERE day = d0),
        grid AS (SELECT s.day, s.bin,
          CAST(coalesce(r.kr, 0) AS BIGINT) AS n_ref,
          CAST(coalesce(c.k, 0) AS BIGINT) AS n_cur
          FROM spine s
          LEFT JOIN census c ON c.day = s.day AND c.bin = s.bin
          LEFT JOIN ref r ON r.bin = s.bin),
        tot AS (SELECT day, CAST(sum(n_cur) AS BIGINT) AS nc
          FROM grid GROUP BY day),
        nrt AS (SELECT CAST(sum(kr) AS BIGINT) AS nr FROM ref)
        SELECT g.day, g.bin, g.n_ref, g.n_cur,
          CAST(floor(${graft.operators.Stats.psiContribExpr}
            * 1000000000) AS BIGINT) AS psi_ppb
        FROM grid g JOIN tot ON g.day = tot.day CROSS JOIN nrt"""
  }

  // -------------------------------------------------------------- q336

  /** q336 — STREAMING CUSUM CHANGEPOINT MONITOR (q198's cross-
    * multiplied CUSUM under continuous ingest — the 17th declared
    * streaming shape, and the drift-TIMING member of the streaming
    * monitor family: q313 watches WHICH bins moved, this watches WHEN
    * the event RATE broke from its own mean line): the per-day count
    * census is the streamed state — one long per open event-time day
    * window, map-side merged per micro-batch — and the CUSUM scoring
    * replays over the drained ≤|days| frame. Unlike batch q198, which
    * releases only the argmax row, the monitor releases the WHOLE
    * trajectory (day, i, cum, dev_scaled) — the curve a dashboard
    * plots, with the argmax derivable by the q198 tie-break; exact
    * integers throughout (cum·k − i·total, no rate division).
    *
    * Scale shape: streaming census map-side combined per batch; the
    * cumsum window and totals ride the |days|-bounded drained frame
    * (the q198/q132 unpartitioned-window argument). */
  def q336StreamCusum(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    val census = drain("q336_stream_cusum_mem", "complete") {
      readStream(s, dir, "events", maxFilesPerTrigger)
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "1 day"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("date").as("d"), col("n"))
    }.localCheckpoint(true)
    val w = org.apache.spark.sql.expressions.Window.orderBy("d")
    val seq = census
      .withColumn("i", row_number().over(w).cast("bigint"))
      .withColumn("cum", sum("n").over(
        w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
    val tot = census.agg(count(lit(1)).as("k"), sum("n").as("t"))
    seq.crossJoin(broadcast(tot))
      .select(col("d"), col("i"), col("cum"),
        abs(col("cum") * col("k") - col("i") * col("t"))
          .as("dev_scaled"))
  }

  private def q336OracleSql: String =
    """WITH dc AS (SELECT CAST(ts AS DATE) d, CAST(count(*) AS BIGINT) n
          FROM events GROUP BY 1),
        seq AS (SELECT d, n, row_number() OVER (ORDER BY d) i,
            sum(n) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) cum
          FROM dc),
        tot AS (SELECT CAST(count(*) AS BIGINT) k,
            CAST(sum(n) AS BIGINT) t FROM dc)
        SELECT d, CAST(i AS BIGINT) i, CAST(cum AS BIGINT) cum,
          CAST(abs(cum * k - i * t) AS BIGINT) AS dev_scaled
        FROM seq, tot"""

  // -------------------------------------------------------------- q369

  /** q369 — STREAMING AUTOCORRELATION MONITOR (q304's ACF under
    * continuous ingest — the 20th declared streaming shape and the
    * SEASONALITY member of the streaming monitor family: q336 watches
    * when the rate BREAKS, this watches whether the rate's weekly
    * rhythm HOLDS — a lag-7 collapse in a live funnel usually means an
    * ingestion gap or a bot flood, the same reading offline q304 gives
    * but continuously): state is the per-day count census (one long
    * per open event-time day window, map-side merged per micro-batch —
    * watermark-bounded); the n-scaled residual products replay over
    * the drained ≤|days| frame. Count merge is associative and
    * commutative, so the drained census is batch-split independent and
    * the trajectory equals batch q304 EXACTLY — q304's oracle is this
    * oracle, and the spec pins stream ≡ batch plus a multi-batch
    * replay. Released: (lag, num, den) exact BIGINTs (q304's release:
    * the consumer divides).
    *
    * Scale shape: streaming census map-side combined per batch; the
    * lag joins ride the |days|-bounded drained frame. */
  def q369StreamAcf(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    val daily = drain("q369_stream_acf_mem", "complete") {
      readStream(s, dir, "events", maxFilesPerTrigger)
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "1 day"))
        .agg(count(lit(1)).as("x"))
        .select(col("window.start").cast("date").as("day"), col("x"))
    }.localCheckpoint(true)
    val g = daily.agg(count(lit(1)).as("n"), sum("x").as("sx"))
    val y = daily.crossJoin(broadcast(g))
      .select(col("day"), (col("n") * col("x") - col("sx")).as("y"))
    val den = y.agg(sum(expr("y * y")).as("den"))
    val lags = s.range(1, graft.operators.Stats.AcfMaxLag + 1L)
      .select(col("id").as("lag"))
    y.crossJoin(broadcast(lags))
      .select(col("lag"), col("y"),
        date_add(col("day"), col("lag").cast("int")).as("day_k"))
      .join(y.select(col("day").as("day_k"), col("y").as("y_k")), "day_k")
      .groupBy("lag")
      .agg(sum(expr("y * y_k")).as("num"))
      .crossJoin(broadcast(den))
      .select(col("lag"), col("num"), col("den"))
  }

  private def q369OracleSql: String =
    s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        g AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS BIGINT) AS sx FROM daily),
        y AS (SELECT day, n * x - sx AS y FROM daily CROSS JOIN g),
        den AS (SELECT CAST(sum(y * y) AS BIGINT) AS den FROM y),
        lags AS (SELECT CAST(x AS BIGINT) AS lag
          FROM generate_series(1, ${graft.operators.Stats.AcfMaxLag})
            AS t(x))
        SELECT l.lag, CAST(sum(a.y * b.y) AS BIGINT) AS num, d.den
        FROM y a CROSS JOIN lags l
        JOIN y b ON b.day = a.day + CAST(l.lag AS INTEGER)
        CROSS JOIN den d
        GROUP BY l.lag, d.den"""

  // -------------------------------------------------------------- q388

  /** q388 — STREAMING SPRT MONITOR (q386's Wald sequential test under
    * continuous ingest — the 21st declared streaming shape and the
    * DECISION member of the streaming monitor family: q313 watches
    * which bins moved, q336 when the rate broke, q369 whether the
    * rhythm holds — this one emits the ACCEPT/REJECT/CONTINUE verdict
    * a live experiment dashboard acts on, which is exactly the setting
    * SPRT exists for: the test's α/β guarantees hold under optional
    * stopping, so reading it every micro-batch is sound where a
    * fixed-horizon p-value would inflate). State: the per-day
    * {events, purchases} census (two longs per open event-time day
    * window, map-side merged per micro-batch, watermark-bounded); the
    * cumulative LLR walk and verdicts replay over the drained ≤|days|
    * frame with q386's exact integers × shared-text log constants.
    * Count merge is associative and commutative, so the drained census
    * is batch-split independent and the trajectory equals batch q386
    * EXACTLY — q386's oracle IS this oracle; the spec pins stream ≡
    * batch plus a forced multi-batch replay.
    *
    * Scale shape: streaming census map-side combined per batch; the
    * cumsum + verdict CASE ride the |days|-bounded drained frame. */
  def q388StreamSprt(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    val A = graft.operators.Analytics
    val sink = drain("q388_stream_sprt_mem", "complete") {
      readStream(s, dir, "events", maxFilesPerTrigger)
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "1 day"))
        .agg(count(lit(1)).as("dn"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("dk"))
        .select(col("window.start").cast("date").as("day"),
          col("dn"), col("dk"))
    }
    val w = org.apache.spark.sql.expressions.Window.orderBy("day")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    sink.localCheckpoint(true)
      .withColumn("n", sum("dn").over(w))
      .withColumn("k", sum("dk").over(w))
      .withColumn("llr", expr(s"CAST(k AS DOUBLE) * ${A.sprtL1} " +
        s"+ CAST(n - k AS DOUBLE) * ${A.sprtL0}"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n"), col("k"),
        expr("CAST(floor(llr * 1000000) AS BIGINT)").as("llr_micro"),
        expr(s"""CASE WHEN llr >= ${A.sprtHi} THEN 'accept_h1'
             WHEN llr <= ${A.sprtLo} THEN 'accept_h0'
             ELSE 'continue' END""").as("verdict"))
  }

  // -------------------------------------------------------------- q400

  /** q400 — STREAMING EWMA LEVEL MONITOR (q395's exact dyadic smoother
    * under continuous ingest — the 22nd declared streaming shape and
    * the LEVEL member of the monitor family: q336 watches when the
    * rate BREAKS, q369 whether the rhythm holds, q388 renders the
    * verdict — this maintains the smoothed level line itself, the
    * series every on-call dashboard actually plots). State: the
    * per-day count census (one long per open event-time day window,
    * watermark-bounded). Count merge is associative and commutative,
    * so the drained census is batch-split independent; the dyadic
    * weighting, widened cumsum, and exact division all ride the
    * drained ≤|days| frame with q395's expressions — the trajectory
    * equals batch q395 EXACTLY, and q395's oracle IS this oracle.
    * The spec pins stream ≡ batch plus a forced multi-file replay.
    *
    * Scale shape: streaming census map-side combined per micro-batch;
    * weighting/cumsum/division ride the day-bounded drained frame. */
  def q400StreamEwma(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    val sink = drain("q400_stream_ewma_mem", "complete") {
      readStream(s, dir, "events", maxFilesPerTrigger)
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "1 day"))
        .agg(count(lit(1)).as("x"))
        .select(col("window.start").cast("date").as("day"), col("x"))
    }
    val ord = org.apache.spark.sql.expressions.Window.orderBy("day")
    val cum = org.apache.spark.sql.expressions.Window.orderBy("d")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    sink.localCheckpoint(true)
      .withColumn("d", row_number().over(ord).cast("bigint"))
      .withColumn("wt", expr("""CASE WHEN d = 1
        THEN CAST(1 AS BIGINT)
        ELSE shiftleft(CAST(1 AS BIGINT), CAST(d - 2 AS INT)) END"""))
      .withColumn("e", sum(expr(
        "CAST(x * wt AS DECIMAL(38,0))")).over(cum))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("x"),
        expr("""CAST(e * 1000
          DIV shiftleft(CAST(1 AS BIGINT), CAST(d - 1 AS INT))
          AS BIGINT)""").as("ewma_milli"))
  }

  // -------------------------------------------------------------- q412

  /** q412 — STREAMING SUCCESSIVE HALVING (q411's fixed-budget best-arm
    * replay under continuous ingest — the 23rd declared streaming
    * shape and the SELECTION member of the monitor family: q388
    * decides a two-arm hypothesis, this maintains the live many-arm
    * elimination bracket a variant dashboard shows — which arms are
    * out, which phase killed them, who leads). State: the per-
    * (day, event_type) cent-sum census (one long per open day×type
    * window, watermark-bounded, map-side merged). Sum merge is
    * associative and commutative, so the drained census is batch-split
    * independent; the phase cumsums and the three rank windows ride
    * the 5-row arm frame with q411's exact integers — the bracket
    * equals batch q411 EXACTLY, and q411's oracle IS this oracle. The
    * spec pins stream ≡ batch plus a forced multi-file replay.
    *
    * Scale shape: streaming census map-side combined per micro-batch;
    * phase sums + ranks ride the |types|-row drained frame. */
  def q412StreamHalving(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    val sink = drain("q412_stream_halving_mem", "complete") {
      readStream(s, dir, "events", maxFilesPerTrigger)
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(sum(expr("CAST(floor(value * 100) AS BIGINT)")).as("c"))
        .select(col("window.start").cast("date").as("day"),
          col("event_type"), col("c"))
    }
    val W = org.apache.spark.sql.expressions.Window
    val daily = sink.localCheckpoint(true)
      .withColumn("d", dense_rank().over(W.orderBy("day"))
        .cast("bigint"))
    val arms = daily.groupBy("event_type")
      .agg(sum(when(col("d") <= 10, col("c")).otherwise(0L)).as("cum1"),
        sum(when(col("d") <= 20, col("c")).otherwise(0L)).as("cum2"),
        sum(when(col("d") <= 30, col("c")).otherwise(0L)).as("cum3"))
    val r1 = arms.withColumn("r1", rank().over(
      W.orderBy(col("cum1").desc, col("event_type"))))
    val s1 = r1.filter(col("r1") <= 3)
      .withColumn("r2", rank().over(
        W.orderBy(col("cum2").desc, col("event_type"))))
    val s2 = s1.filter(col("r2") <= 2)
      .withColumn("r3", rank().over(
        W.orderBy(col("cum3").desc, col("event_type"))))
    r1.join(s1.select(col("event_type"), col("r2")), Seq("event_type"),
        "left")
      .join(s2.select(col("event_type"), col("r3")), Seq("event_type"),
        "left")
      .select(col("event_type"), col("cum1"), col("cum2"), col("cum3"),
        expr("""CASE WHEN r1 > 3 THEN CAST(1 AS BIGINT)
          WHEN r2 > 2 THEN CAST(2 AS BIGINT)
          WHEN r3 > 1 THEN CAST(3 AS BIGINT)
          ELSE CAST(0 AS BIGINT) END""").as("eliminated_phase"))
  }

  // -------------------------------------------------------------- q419

  /** q419 — STREAMING POCOCK MONITOR (q415's K = 5 scheduled-looks
    * design under continuous ingest — the 24th declared streaming
    * shape, the SCHEDULED-DECISION member of the monitor family: q388
    * re-tests every batch because SPRT's guarantee survives that; a
    * Pocock review board tests only at the planned looks, and this
    * query maintains exactly those rows live). State: the per-day
    * {arm × (events, purchases)} census — four longs per open
    * event-time day window, watermark-bounded, map-side merged. Count
    * merge is associative and commutative, so the drained census is
    * batch-split independent; the cumsums, the look filter, and the
    * boundary CASE ride the day frame with q415's exact integers and
    * shared z text — the look table equals batch q415 EXACTLY, and
    * q415's oracle IS this oracle. The spec pins stream ≡ batch plus
    * a forced multi-file replay.
    *
    * Scale shape: streaming census map-side combined per micro-batch;
    * look rows ride the day-bounded drained frame. */
  def q419StreamPocock(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    val St = graft.operators.Stats
    val sink = drain("q419_stream_pocock_mem", "complete") {
      readStream(s, dir, "events", maxFilesPerTrigger)
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "1 day"))
        .agg(
          sum(when(col("user_id") % 2 === 1, 1L).otherwise(0L))
            .as("dna"),
          sum(when(col("user_id") % 2 === 1 &&
            col("event_type") === "purchase", 1L).otherwise(0L))
            .as("dka"),
          sum(when(col("user_id") % 2 === 1, 0L).otherwise(1L))
            .as("dnb"),
          sum(when(col("user_id") % 2 =!= 1 &&
            col("event_type") === "purchase", 1L).otherwise(0L))
            .as("dkb"))
        .select(col("window.start").cast("date").as("day"),
          col("dna"), col("dka"), col("dnb"), col("dkb"))
    }
    val W = org.apache.spark.sql.expressions.Window
    val w = W.orderBy("day")
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    sink.localCheckpoint(true)
      .withColumn("na", sum("dna").over(w))
      .withColumn("ka", sum("dka").over(w))
      .withColumn("nb", sum("dnb").over(w))
      .withColumn("kb", sum("dkb").over(w))
      .withColumn("d", row_number().over(W.orderBy("day"))
        .cast("bigint"))
      .filter(col("d") % 6 === 0)
      .select(expr("d DIV 6").as("look"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("na"), col("ka"), col("nb"), col("kb"),
        expr(s"CAST(floor(${St.pocockZText} * 1000000) AS BIGINT)")
          .as("z_ppm"),
        expr(s"abs(${St.pocockZText}) > ${St.PocockC5}").as("crossed"))
  }

  // -------------------------------------------------------------- q347

  /** q347 — STREAMING GOOD–TURING SPECTRUM (q343 under continuous
    * ingest — the 18th declared streaming shape and the NOVELTY member
    * of the streaming monitor family: q313 watches distribution drift,
    * q336 rate breaks; this watches the type/token spectrum a live
    * crawl's dedup budget and LM smoothing are calibrated against — the
    * unseen-mass read N₁/N collapsing toward 0 during ingest means the
    * crawl has stopped finding new language). State: the bigram count
    * census (vocab²-bounded, the same boundedness argument as q313's
    * frozen ladder), merged per micro-batch by key-summing. Count merge
    * is associative and commutative, so the drained census — and the
    * spectrum computed from it — is batch-split independent and equals
    * batch q343 exactly: q343's oracle IS this oracle, and the spec
    * pins the in-engine equality under a FORCED multi-file, one-file-
    * per-micro-batch replay (the suite's first genuinely multi-batch
    * confluence pin).
    *
    * Scale shape: per batch one in-row bigram pass + one census-keyed
    * merge (map-side combined); the corpus is never rescanned; state =
    * ≤ \|vocab\|² longs. */
  def q347StreamSpectrum(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val T = graft.operators.TextOps
    val counts = fold("q347_stream_spectrum",
        Seq.empty[(String, String, Long)].toDF("w1", "w2", "c12"))(
        readStream(s, dir, "documents", maxFilesPerTrigger).select("text")) {
      (counts, batch) =>
        val bc = T.adjacentBigramsOf(batch)
          .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        counts.unionByName(bc)
          .groupBy("w1", "w2").agg(sum("c12").as("c12"))
          .localCheckpoint(true)
    }
    T.goodTuringSpectrum(counts)
  }

  // -------------------------------------------------------------- q353

  /** q353's fixed ingest-bucket width (docs per bucket). The batch
    * q346 buckets RELATIVE to the corpus size (20 equal slices), which
    * a stream cannot know upfront; the streaming twin uses an absolute
    * width — the bucket spine grows with ingest, which is exactly what
    * a live novelty dashboard plots. */
  val GrowthBucketDocs = 256L

  /** q353 — STREAMING VOCABULARY GROWTH (q346 under continuous ingest —
    * the 19th declared streaming shape, and the second NOVELTY monitor
    * next to q347's spectrum: q347 watches the frequency SPECTRUM,
    * this watches the Heaps CURVE itself — cumulative trigram types vs
    * cumulative tokens, per [[GrowthBucketDocs]]-doc ingest bucket; the
    * curve flattening live is the earliest "crawl is exhausted" signal).
    * State: (trigram → min bucket) first-seen census + per-bucket token
    * counts, merged per micro-batch by MIN and SUM — both associative
    * and commutative, so the drained curve is batch-split independent
    * (the q347 confluence argument with min in place of sum; the spec
    * pins a forced 4-file one-per-batch replay against the single-batch
    * drain). Buckets come from doc_id, not arrival batch, so the spine
    * is deterministic under any ingest split.
    *
    * Scale shape: per batch one in-row trigram pass + a type-keyed MIN
    * merge (map-side combined) + a bucket-keyed SUM; state = type
    * census + bucket counts; the cumsum rides the ≤\|buckets\| frame at
    * drain. */
  def q353StreamVocabGrowth(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val (firstB, tokc) = fold("q353_stream_vocab_growth",
        (Seq.empty[(String, Long)].toDF("g", "fb"),
          Seq.empty[(Long, Long)].toDF("b", "n_toks")))(
        readStream(s, dir, "documents", maxFilesPerTrigger)
          .select("doc_id", "text")) { case ((firstB, tokc), batch) =>
      val toks = batch
        .select(expr(s"doc_id div $GrowthBucketDocs").as("b"),
          split(col("text"), " ").as("ws"))
        .localCheckpoint(true)
      val bf = toks.filter(size(col("ws")) >= 3)
        .select(col("b"), explode(expr(
          """transform(sequence(1, size(ws) - 2),
             i -> concat_ws(' ', element_at(ws, i),
               element_at(ws, i + 1), element_at(ws, i + 2)))"""))
          .as("g"))
        .groupBy("g").agg(min("b").as("fb"))
      val bt = toks.groupBy("b")
        .agg(sum(size(col("ws")).cast("bigint")).as("n_toks"))
      (firstB.unionByName(bf)
          .groupBy("g").agg(min("fb").as("fb")).localCheckpoint(true),
        tokc.unionByName(bt)
          .groupBy("b").agg(sum("n_toks").as("n_toks"))
          .localCheckpoint(true))
    }
    val w = org.apache.spark.sql.expressions.Window.orderBy("b")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val newTypes = firstB.groupBy(col("fb").as("b"))
      .agg(count(lit(1)).as("new_types"))
    tokc.join(newTypes, Seq("b"), "left")
      .select(col("b"), col("n_toks"),
        coalesce(col("new_types"), lit(0L)).as("nt"))
      .select(col("b"), sum("n_toks").over(w).as("cum_tokens"),
        sum("nt").over(w).as("cum_types"))
  }

  private def q353OracleSql: String =
    s"""WITH tk AS (SELECT doc_id // $GrowthBucketDocs AS b,
            string_split(text, ' ') AS ws
          FROM documents),
        tc AS (SELECT b, CAST(sum(len(ws)) AS BIGINT) AS n_toks
          FROM tk GROUP BY b),
        gr AS (SELECT b,
            ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS g
          FROM tk, unnest(range(1, len(ws) - 1)) AS r(i)
          WHERE len(ws) >= 3),
        fb AS (SELECT g, CAST(min(b) AS BIGINT) AS fb FROM gr GROUP BY g),
        nt AS (SELECT fb, CAST(count(*) AS BIGINT) AS new_types
          FROM fb GROUP BY fb)
        SELECT CAST(tc.b AS BIGINT) AS b,
          CAST(sum(tc.n_toks) OVER w AS BIGINT) AS cum_tokens,
          CAST(sum(coalesce(nt.new_types, 0)) OVER w AS BIGINT)
            AS cum_types
        FROM tc LEFT JOIN nt ON nt.fb = tc.b
        WINDOW w AS (ORDER BY tc.b
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""

  // -------------------------------------------------------------- q442

  private def q442Case(w: Seq[Long]): String =
    w.zipWithIndex.map { case (v, m) => s"WHEN $m THEN $v" }
      .mkString("CASE m ", " ", " ELSE 0 END")

  /** q442 — STREAMING WEEKLY PERIODOGRAM (q433's frequency-domain
    * seasonality read under continuous ingest — the 25th declared
    * streaming shape, and the first SPECTRAL member of the monitor
    * family: a live "is the weekly rhythm still there" gauge, the
    * signal a traffic-anomaly monitor watches when volume looks normal
    * but its SHAPE isn't). State: the watermark-bounded per-day count
    * census — one long per open day window; count merge is associative
    * and commutative, so the drained census is batch-split independent
    * and the post-drain harmonic fold (integer milli-weight CASE over
    * the day phase, [[graft.operators.Stats.PeriodogramWc]]) equals
    * batch EXACTLY. Released per harmonic k = 1..3: {k, sc, ss, amp},
    * all exact integers but amp's one shared-text sqrt.
    *
    * Scale shape: streaming census map-side combined per micro-batch,
    * state O(open days); the harmonic fold rides the ~30-row drained
    * frame. */
  def q442StreamPeriodogram(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    val phased = drain("q442_stream_periodogram_mem", "complete") {
      readStream(s, dir, "events", maxFilesPerTrigger)
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "1 day"))
        .agg(count(lit(1)).as("x"))
        .select(col("window.start").cast("date").as("day"), col("x"))
    }.localCheckpoint(true)
      .select(col("x"),
        expr("datediff(day, DATE '2024-01-01') % 7").as("m"))
    val aggs = (1 to 3).flatMap { k => Seq(
      expr(s"""CAST(sum(x * (${q442Case(
        graft.operators.Stats.PeriodogramWc(k))})) AS BIGINT)""")
        .as(s"sc$k"),
      expr(s"""CAST(sum(x * (${q442Case(
        graft.operators.Stats.PeriodogramWs(k))})) AS BIGINT)""")
        .as(s"ss$k"))
    }
    val g = phased.agg(aggs.head, aggs.tail: _*).localCheckpoint(true)
    (1 to 3).map { k =>
      g.select(lit(k.toLong).as("k"), col(s"sc$k").as("sc"),
        col(s"ss$k").as("ss"),
        expr(s"""CAST(floor(sqrt(CAST(sc$k AS DOUBLE) * sc$k
             + CAST(ss$k AS DOUBLE) * ss$k)) AS BIGINT)""").as("amp"))
    }.reduce(_ unionByName _)
  }

  private def q442OracleSql: String = {
    val aggCols = (1 to 3).flatMap { k => Seq(
      s"""CAST(sum(x * (${q442Case(
        graft.operators.Stats.PeriodogramWc(k))})) AS BIGINT) AS sc$k""",
      s"""CAST(sum(x * (${q442Case(
        graft.operators.Stats.PeriodogramWs(k))})) AS BIGINT) AS ss$k""")
    }.mkString(", ")
    val rows = (1 to 3).map(k =>
      s"""SELECT CAST($k AS BIGINT) AS k, sc$k AS sc, ss$k AS ss,
          CAST(floor(sqrt(CAST(sc$k AS DOUBLE) * sc$k
            + CAST(ss$k AS DOUBLE) * ss$k)) AS BIGINT) AS amp
        FROM g""").mkString("\n        UNION ALL\n        ")
    s"""WITH daily AS (SELECT CAST(date_trunc('day', ts) AS DATE)
          AS day, CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY 1),
        phased AS (SELECT x,
          (day - DATE '2024-01-01') % 7 AS m FROM daily),
        g AS (SELECT $aggCols FROM phased)
        $rows"""
  }

  // -------------------------------------------------------------- q451

  /** q451 — STREAMING OVERDISPERSION PANEL (q446's Poisson VMR screen
    * under continuous ingest — the 26th declared streaming shape, and
    * the live model-validity gauge next to the q442 spectral monitor:
    * a traffic stream whose VMR drifts up is becoming bursty even if
    * the mean holds, the early sign every rate-limit calibration
    * cares about). State: the watermark-bounded (type × day-window)
    * count census; count merge is associative and commutative, so the
    * drained census is batch-split independent and the post-drain
    * exact-integer VMR panel equals batch q446 EXACTLY (same oracle
    * family). Released per type: {event_type, n, sx, vmr_milli,
    * z_milli}.
    *
    * Scale shape: streaming census map-side combined per micro-batch,
    * state O(types × open days); the panel rides the ≤155-row drained
    * frame. */
  def q451StreamDispersion(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    drain("q451_stream_dispersion_mem", "complete") {
      readStream(s, dir, "events", maxFilesPerTrigger)
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("x"))
        .select(col("event_type"), col("x"))
    }.localCheckpoint(true)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
      .select(col("event_type"), col("n"), col("sx"),
        expr("""CAST((1000 * (CAST(n AS DECIMAL(38,0)) * sxx
             - CAST(sx AS DECIMAL(38,0)) * sx))
             div ((n - 1) * CAST(sx AS DECIMAL(38,0))) AS BIGINT)""")
          .as("vmr_milli"),
        expr("""CAST(floor(((CAST(n AS DOUBLE) * sxx
             - CAST(sx AS DOUBLE) * sx)
             / ((CAST(n AS DOUBLE) - 1.0) * CAST(sx AS DOUBLE)) - 1.0)
             * sqrt((CAST(n AS DOUBLE) - 1.0) / 2.0) * 1000)
             AS BIGINT)""").as("z_milli"))
  }

  // -------------------------------------------------------------- q458

  /** q458's Shewhart constants for subgroup size n = 24 (hourly
    * subgroups per day; from d₂ = 3.895, d₃ = 0.712 — literals, the
    * q403 discipline). */
  val SpcA2h = "0.157"
  val SpcD3h = "0.452"
  val SpcD4h = "1.548"

  /** q458 — STREAMING SHEWHART X̄/R CHART over hourly-count day
    * subgroups (q447's process-control gate under continuous ingest —
    * the 27th declared streaming shape: the live ops surface where a
    * control chart actually runs; each DAY is a 24-hour subgroup of
    * event counts, and a day goes out-of-control when its hourly mean
    * or range breaches the A2/D3/D4 limits derived from the fleet of
    * days). State: the watermark-bounded (day, hour) count census —
    * count merge is associative and commutative, so the drained census
    * is batch-split independent; the post-drain chart zero-fills each
    * observed day's 24-hour spine (an empty hour is a REAL 0-count
    * subgroup member — the q430 spine discipline, which also keeps the
    * chart populated at small SFs) and is exact-integer + one shared
    * limit chain. Released per day: {day, sum_x, r, x_ooc, r_ooc}.
    *
    * Scale shape: streaming census map-side combined, state
    * O(open day-hours); chart rides the ~30-row drained day frame. */
  def q458StreamSpc(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    val sink = drain("q458_stream_spc_mem", "complete") {
      readStream(s, dir, "events", maxFilesPerTrigger)
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("x"))
        .select(col("window.start").cast("date").as("day"),
          hour(col("window.start")).as("hr"), col("x"))
    }
    // zero-fill the 24-hour spine per observed day: an hour with no
    // events is a real 0-count subgroup member, and at small SFs
    // requiring 24 OBSERVED hours would empty the chart entirely
    val census = sink.localCheckpoint(true)
    val spine = census.select("day").distinct()
      .crossJoin(s.range(24).select(col("id").cast("int").as("hr")))
    val daily = spine.join(census, Seq("day", "hr"), "left")
      .select(col("day"), coalesce(col("x"), lit(0L)).as("x"))
      .groupBy("day")
      .agg(sum("x").as("sum_x"), (max("x") - min("x")).as("r"))
      .localCheckpoint(true)
    val g = daily.agg(count(lit(1)).as("nw"), sum("sum_x").as("st"),
      sum("r").as("sr"))
    val xbar = "(CAST(sum_x AS DOUBLE) / 24.0)"
    val center = "(CAST(st AS DOUBLE) / CAST(nw AS DOUBLE) / 24.0)"
    val rbar = "(CAST(sr AS DOUBLE) / CAST(nw AS DOUBLE))"
    daily.crossJoin(broadcast(g))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("sum_x"), col("r"),
        expr(s"""$xbar > $center + $SpcA2h * $rbar
             OR $xbar < $center - $SpcA2h * $rbar""").as("x_ooc"),
        expr(s"""CAST(r AS DOUBLE) > $SpcD4h * $rbar
             OR CAST(r AS DOUBLE) < $SpcD3h * $rbar""").as("r_ooc"))
  }

  private def q458OracleSql: String = {
    val xbar = "(CAST(sum_x AS DOUBLE) / 24.0)"
    val center = "(CAST(st AS DOUBLE) / CAST(nw AS DOUBLE) / 24.0)"
    val rbar = "(CAST(sr AS DOUBLE) / CAST(nw AS DOUBLE))"
    s"""WITH hourly AS (SELECT CAST(date_trunc('day', ts) AS DATE)
          AS day, CAST(date_part('hour', ts) AS BIGINT) AS hr,
          CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2),
        spine AS (SELECT d.day, CAST(h.x AS BIGINT) AS hr
          FROM (SELECT DISTINCT day FROM hourly) d,
            generate_series(0, 23) h(x)),
        filled AS (SELECT s.day, coalesce(hh.x, 0) AS x
          FROM spine s LEFT JOIN hourly hh
            ON s.day = hh.day AND s.hr = hh.hr),
        daily AS (SELECT day, CAST(sum(x) AS BIGINT) AS sum_x,
            CAST(max(x) - min(x) AS BIGINT) AS r
          FROM filled GROUP BY 1),
        g AS (SELECT CAST(count(*) AS BIGINT) AS nw,
          CAST(sum(sum_x) AS BIGINT) AS st,
          CAST(sum(r) AS BIGINT) AS sr FROM daily)
        SELECT strftime(day, '%Y-%m-%d') AS day, sum_x, r,
          ($xbar > $center + $SpcA2h * $rbar
           OR $xbar < $center - $SpcA2h * $rbar) AS x_ooc,
          (CAST(r AS DOUBLE) > $SpcD4h * $rbar
           OR CAST(r AS DOUBLE) < $SpcD3h * $rbar) AS r_ooc
        FROM daily CROSS JOIN g"""
  }

  // -------------------------------------------------------------- q467

  /** q467 — STREAMING KEY-SKEW MONITOR on the user axis (q462's
    * salted-join detector under continuous ingest — the 28th declared
    * streaming shape: a key that goes hot DURING the day is exactly
    * what a static pre-ingest skew report misses, and the number an
    * adaptive salting config watches). State: the watermark-bounded
    * (user × day-window) count census; count merge is associative and
    * commutative, so the drained per-user totals — and the exact
    * integer skew panel over them — are batch-split independent.
    * Released one row: {n, ndv, max_cnt, skew_ratio_milli,
    * salt_recommended} at q462's 4× gate.
    *
    * Scale shape: streaming census map-side combined, state
    * O(users × open days); the panel is one aggregate over the
    * drained user frame. */
  def q467StreamUserSkew(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    drain("q467_stream_user_skew_mem", "complete") {
      readStream(s, dir, "events", maxFilesPerTrigger)
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "1 day"), col("user_id"))
        .agg(count(lit(1)).as("x"))
        .select(col("user_id"), col("x"))
    }.localCheckpoint(true)
      .groupBy("user_id").agg(sum("x").as("c"))
      .agg(sum("c").as("n"), count(lit(1)).as("ndv"),
        max("c").as("max_cnt"))
      .select(col("n"), col("ndv"), col("max_cnt"),
        expr("""CAST(1000 * CAST(max_cnt AS DECIMAL(38,0)) * ndv
             div n AS BIGINT)""").as("skew_ratio_milli"),
        expr(s"""CAST(1000 * CAST(max_cnt AS DECIMAL(38,0)) * ndv
             div n AS BIGINT)
             > ${graft.operators.Pipeline.SkewGateMilli}""")
          .as("salt_recommended"))
  }

  private def q467OracleSql: String =
    s"""WITH per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
          FROM events GROUP BY user_id)
        SELECT CAST(sum(c) AS BIGINT) AS n,
          CAST(count(*) AS BIGINT) AS ndv,
          CAST(max(c) AS BIGINT) AS max_cnt,
          CAST(1000 * CAST(max(c) AS HUGEINT) * count(*)
            // sum(c) AS BIGINT) AS skew_ratio_milli,
          CAST(1000 * CAST(max(c) AS HUGEINT) * count(*)
            // sum(c) AS BIGINT)
            > ${graft.operators.Pipeline.SkewGateMilli}
            AS salt_recommended
        FROM per"""

  // -------------------------------------------------------------- q484

  /** q484 — STREAMING NEGATIVE-BINOMIAL FIT (q480 under continuous
    * ingest — the 29th declared streaming shape, pairing with q451:
    * the dispersion monitor says the stream turned bursty; this keeps
    * the NB parameters a live anomaly threshold would be calibrated
    * on, fresh per trigger). State: the same watermark-bounded
    * (type × day) count census as q451 — merge-independent — so the
    * drained method-of-moments panel equals batch q480 EXACTLY (same
    * oracle). NULL-honest when under-dispersed, like the batch twin.
    *
    * Scale shape: q451's census; 5-row drained panel. */
  def q484StreamNegbin(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    val sink = drain("q484_stream_negbin_mem", "complete") {
      readStream(s, dir, "events", maxFilesPerTrigger)
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("x"))
        .select(col("event_type"), col("x"))
    }
    val mean = "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    val vr = """((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
      / (CAST(n AS DOUBLE) - 1.0))"""
    sink.localCheckpoint(true)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
      .select(col("event_type"), col("n"),
        expr(s"CAST(floor($mean * 1000) AS BIGINT)").as("mean_milli"),
        expr(s"CAST(floor($vr * 1000) AS BIGINT)").as("var_milli"),
        expr(s"""CASE WHEN $vr <= $mean THEN NULL
             ELSE CAST(floor($mean * ($mean / ($vr - $mean)) * 1000)
               AS BIGINT) END""").as("r_milli"),
        expr(s"""CASE WHEN $vr <= $mean THEN NULL
             ELSE CAST(floor($mean / $vr * 1000000) AS BIGINT)
             END""").as("p_ppm"))
  }

  // -------------------------------------------------------------- q491

  /** q491 — STREAMING CORPUS COVERAGE MONITOR (q487's lang × source
    * balance audit under continuous document ingest — the 30th
    * declared streaming shape, and the governance twin of the q157
    * ingest-dedup stream: the moment a "multilingual" feed goes dark
    * in one language is when a balance dashboard must say so, not at
    * the next batch rebuild). State: the (lang × source) count census
    * — append-mergeable, so the drained one-row panel equals batch
    * q487 EXACTLY over the observed dims (same oracle).
    *
    * Scale shape: streaming census map-side combined, state ≤ 100
    * cells; the panel rides the drained census + dims spine. */
  def q491StreamCoverage(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    val census = drain("q491_stream_coverage_mem", "complete") {
      readStream(s, dir, "documents", maxFilesPerTrigger)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("c"))
    }.localCheckpoint(true)
    val langs = census.select("lang").distinct()
    val sources = census.select("source").distinct()
    val spine = langs.crossJoin(sources)
      .join(census, Seq("lang", "source"), "left")
      .select(coalesce(col("c"), lit(0L)).as("c"))
    spine.agg(count(lit(1)).as("n_cells"),
        sum(when(col("c") === 0, 1L).otherwise(0L)).as("zero_cells"),
        min("c").as("min_cell"), max("c").as("max_cell"),
        sum("c").as("n_docs"))
      .crossJoin(broadcast(langs.agg(count(lit(1)).as("n_langs"))))
      .crossJoin(broadcast(sources.agg(count(lit(1)).as("n_sources"))))
      .select(col("n_langs"), col("n_sources"), col("n_cells"),
        col("zero_cells"), col("min_cell"), col("max_cell"),
        expr("1000 * n_langs * n_sources * max_cell div n_docs")
          .as("imbalance_milli"))
  }

  // -------------------------------------------------------------- q500

  /** q500 — STREAMING HYPERLOGLOG MONITOR (q496's register census as
    * the 30th declared streaming shape, and the canonical streaming
    * sketch: HLL registers merge with max(), so each micro-batch's
    * partial maxes fold into state with NO distinct shuffle and
    * O(types × 64) state — the live distinct-users dashboard a
    * 100 TB/day event feed actually runs). The replay max-merges
    * (type, register) ranks in complete mode; q496's exact-integer
    * finisher runs on the drained table. The oracle derives the same
    * registers from the batch table, so the differential pins the
    * stream = batch confluence; MultiBatchConfluenceSpec forces the
    * 4-file split replay. Released: the sketch columns only (no
    * exact count — the monitor's whole point is never paying it). */
  def q500StreamHll(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    import graft.operators.Curation
    drain("q500_stream_hll_mem", "complete") {
      readStream(s, dir, "events", maxFilesPerTrigger)
        .selectExpr("event_type",
          s"(${Curation.HllA} * user_id + ${Curation.HllB}) " +
            s"% ${Curation.HllP} AS hll_h")
        .selectExpr("event_type", "hll_h % 64 AS hll_reg",
          "hll_h div 64 AS hll_v")
        .withColumn("rho", expr(Curation.hllRhoCase))
        .groupBy("event_type", "hll_reg")
        .agg(max("rho").as("m"))
    }
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_regs"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), 25 - m)")).as("s_occ"))
      .withColumn("s_int",
        col("s_occ") + (lit(64L) - col("n_regs")) * lit(33554432L))
      .withColumn("est_milli", expr(Curation.hllEstMilli))
      .select("event_type", "n_regs", "s_int", "est_milli")
  }

  private[graft] def q500OracleSql: String = {
    import graft.operators.Curation
    s"""WITH hashed AS (SELECT event_type,
          (((${Curation.HllA} * user_id + ${Curation.HllB})
             % ${Curation.HllP}) % 64) AS hll_reg,
          (((${Curation.HllA} * user_id + ${Curation.HllB})
             % ${Curation.HllP}) // 64) AS hll_v
        FROM events),
        regs AS (SELECT event_type, hll_reg,
          max(${Curation.hllRhoCase}) AS m
        FROM hashed GROUP BY event_type, hll_reg)
        SELECT event_type,
          CAST(count(*) AS BIGINT) AS n_regs,
          CAST(sum((CAST(1 AS BIGINT) << (25 - m))) AS BIGINT)
            + (64 - CAST(count(*) AS BIGINT)) * 33554432 AS s_int,
          CAST(floor(${Curation.HllAlphaNum}
            / CAST((CAST(sum((CAST(1 AS BIGINT) << (25 - m)))
                AS BIGINT)
              + (64 - CAST(count(*) AS BIGINT)) * 33554432) AS DOUBLE)
            * 1000) AS BIGINT) AS est_milli
        FROM regs GROUP BY event_type"""
  }

  // -------------------------------------------------------------- q506

  /** The q114 per-user profile re-expressed as a Spark 4
    * `StatefulProcessor` — the arbitrary-state API that supersedes
    * mapGroupsWithState (typed composable state handles: ValueState /
    * ListState / MapState per key, TTL, timers — instead of one opaque
    * GroupState blob). State here is ONE ValueState[UserActivity] per
    * user, updated with the identical fold as
    * [[runningUserActivity]]'s, so the two operators' sinks are
    * bit-identical on any replay (StatefulStreamingSpec pins that
    * parity under both state-store providers of the q114 twin). */
  class UserProfileProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, UserActivity] {
    @transient private var profile:
        org.apache.spark.sql.streaming.ValueState[UserActivity] = _

    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      profile = getHandle.getValueState[UserActivity]("profile",
        org.apache.spark.sql.Encoders.product[UserActivity],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserActivity] = {
      val prev =
        if (profile.exists()) profile.get()
        else UserActivity(key, 0L, 0L)
      var n = prev.n_events
      var p = prev.n_purchases
      rows.foreach { e =>
        n += 1
        if (e.event_type == "purchase") p += 1
      }
      val next = UserActivity(key, n, p)
      profile.update(next)
      Iterator.single(next)
    }
  }

  /** [[UserProfileProcessor]] wired through `transformWithState` —
    * works over a stream (incremental per micro-batch) like its
    * mapGroupsWithState twin. */
  def runningUserActivityTws(ds: Dataset[Event]): Dataset[UserActivity] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .transformWithState(new UserProfileProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  /** The RocksDB state-store provider class `transformWithState`
    * requires (the API is built on its column-family/changelog
    * features; the default HDFS-backed provider rejects it). */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"

  /** The session conf a `transformWithState` run pins for itself. */
  private val RocksDbPinned: Map[String, String] =
    Map("spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider)

  /** q506 — the `transformWithState` ARBITRARY-STATE API as the 32nd
    * declared streaming shape: q114's per-user profile ported to
    * Spark 4's StatefulProcessor (successor to mapGroupsWithState —
    * named typed state handles with TTL and timers, the API new
    * stateful pipelines should target). Same update-mode memory-sink
    * drain and monotone-counter max-per-user finisher as q114; shares
    * q114's oracle verbatim — stream = batch = mapGroupsWithState is
    * the declared contract. The operator requires the RocksDB state
    * store, so the query pins the provider for its own run and
    * restores the session conf after (the q271 env-pinning pattern);
    * state is one small row per user, bounded by cardinality. */
  def q506StreamProfilesTws(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    finalProfiles(
      drain("q506_stream_profiles_tws_mem", "update", RocksDbPinned) {
        runningUserActivityTws(typedEvents(
          readStream(s, dir, "events", maxFilesPerTrigger))).toDF()
      })
  }

  // -------------------------------------------------------------- q514

  /** q117's sessionizer re-expressed on `transformWithState` WITH
    * EVENT-TIME TIMERS — the capability q506 deliberately left out
    * (its TimeMode.None processor can only react to data; a session
    * pipeline also needs to react to the ABSENCE of data, which is
    * what timers are for). Per user: ONE ValueState[OpenSession]
    * updated with the identical fold as [[sessionizeStateful]]'s —
    * sessions closed by a successor event emit with via = 'event' —
    * plus ONE registered event-time timer at (last + gap) seconds,
    * re-armed on every extension (delete-then-register via
    * listTimers, so exactly one timer per key exists at any time).
    * When the WATERMARK passes an armed expiry, [[handleExpiredTimer]]
    * emits the open tail with via = 'timer' and clears the state —
    * the idle-session flush q117's NoTimeout operator structurally
    * cannot do (its tails sit in state forever; here state is
    * self-cleaning, the 100 TB-stream property).
    *
    * Expiry comparator, pinned by ScalePathSpec on an exact-boundary
    * replay: Spark fires a timer iff expiryMs <= watermarkMs
    * (INCLUSIVE — an expiry exactly AT the watermark fires), and the
    * declared oracle encodes exactly that. */
  class SessionTimerProcessor(gapSeconds: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, ClosedSessionVia] {
    @transient private var open:
        org.apache.spark.sql.streaming.ValueState[OpenSession] = _

    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      open = getHandle.getValueState[OpenSession]("open",
        org.apache.spark.sql.Encoders.product[OpenSession],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[ClosedSessionVia] = {
      val sorted = rows.map(_.ts.getTime / 1000).toSeq.sorted
      var cur = if (open.exists()) Some(open.get()) else None
      val closed =
        scala.collection.mutable.ListBuffer[ClosedSessionVia]()
      sorted.foreach { t =>
        cur match {
          case Some(s) if t - s.last <= gapSeconds =>
            cur = Some(s.copy(last = t, n = s.n + 1))
          case Some(s) =>
            closed += ClosedSessionVia(key, s.start, s.last, s.n, "event")
            cur = Some(OpenSession(t, t, 1))
          case None =>
            cur = Some(OpenSession(t, t, 1))
        }
      }
      cur.foreach { s =>
        open.update(s)
        // exactly one armed timer per key: re-arm at the new tail
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer((s.last + gapSeconds) * 1000L)
      }
      closed.iterator
    }

    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[ClosedSessionVia] = {
      if (open.exists()) {
        val s = open.get()
        open.clear()
        Iterator.single(ClosedSessionVia(key, s.start, s.last, s.n, "timer"))
      } else Iterator.empty
    }
  }

  /** [[SessionTimerProcessor]] wired through `transformWithState` in
    * event-time mode (requires a watermark upstream). */
  def sessionizeWithTimers(ds: Dataset[Event], gapSeconds: Long)
      : Dataset[ClosedSessionVia] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor(gapSeconds),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** q514 — EVENT-TIME TIMERS as the 34th declared streaming shape
    * (the second half of the `transformWithState` API surface q506
    * opened): q117's sessionizer with a per-key timer armed at
    * (tail + gap), so idle sessions FLUSH when the watermark passes
    * them instead of squatting in state forever. Released: every
    * closed session with its close reason — via = 'event' (successor
    * arrived > gap later; exactly q117's rows) or via = 'timer' (the
    * final no-data micro-batch's watermark — max event time at the
    * declared 0-second delay — passed the tail's expiry). The oracle
    * is q117's sessionization UNION the timer-eligible tails: last
    * sessions with (end_s + gap)·1000 at or below the watermark
    * milliseconds (the pinned INCLUSIVE Spark comparator; tails past
    * the watermark stay unemitted, exactly as in the engine). Single-file
    * replay = one data batch (no row is watermark-late, the q121
    * argument), then the no-data batch fires the timers — so output
    * is batch-boundary-deterministic. RocksDB provider pinned for the
    * run (the transformWithState requirement, q506's pattern). */
  def q514StreamTimerSessions(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    drain("q514_stream_timer_sessions_mem", "append", RocksDbPinned) {
      sessionizeWithTimers(
        typedEvents(readStream(s, dir, "events", maxFilesPerTrigger)
          .withWatermark("ts", "0 seconds")), SessionGapSeconds)
        .toDF()
    }
  }

  // -------------------------------------------------------------- q517

  /** q517 — STREAMING DSIR RATIO MONITOR (q513's per-bucket importance
    * ratios as the 35th declared streaming shape — the live form the
    * selection pipeline wants: as a crawl streams in, the target-vs-raw
    * likelihood ratio of every hashed-token bucket, recomputed
    * continuously; scoring a candidate document is then ONE broadcast
    * lookup against this ≤ 256-row frame). State is the dual census —
    * two commutative counts per bucket, associatively mergeable across
    * micro-batches, so the drained complete-mode table equals the batch
    * census under ANY file split (MultiBatchConfluenceSpec forces a
    * 4-file replay); the ratio finisher runs batch-side on the drained
    * census through the SAME shared expression text as q513
    * ([[graft.operators.Curation.dsirRatioExpr]]). Oracle: q513's
    * shared CTE prefix released at the ratio frame. */
  def q517StreamDsirRatios(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    import graft.operators.Curation
    Curation.dsirRatios(drain("q517_stream_dsir_ratios_mem", "complete") {
      Curation.dsirCensus(Curation.dsirTokenBuckets(
        readStream(s, dir, "documents", maxFilesPerTrigger)))
    })
  }

  // -------------------------------------------------------------- q505

  /** q505 — STREAMING SPLIT-GAIN MONITOR (q498's quality-filter
    * feature ranking as the 31st declared streaming shape — the live
    * form a curation pipeline actually wants: as a crawl streams in,
    * which cheap metadata predicate is currently the best quality
    * gate, recomputed continuously instead of per-snapshot). The
    * whole state is q498's ONE sufficient-statistics row — 8 counts,
    * associatively mergeable across micro-batches, so the complete-
    * mode drain equals the batch aggregate under ANY file split and
    * the q498 finisher (exact-integer gains + argmax) runs on the
    * drained row. Shares q498's oracle verbatim: stream = batch is
    * the declared contract. */
  def q505StreamSplitGain(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    import graft.operators.Curation
    Curation.splitGainFinish(drain("q505_stream_split_gain_mem", "complete") {
      Curation.splitGainStats(
        readStream(s, dir, "documents", maxFilesPerTrigger))
    })
  }

  val queries: Map[String, (SparkSession, String)
      => org.apache.spark.sql.DataFrame] = Map(
    "q517_stream_dsir_ratios" ->
      ((s: SparkSession, d: String) => q517StreamDsirRatios(s, d)),
    "q514_stream_timer_sessions" ->
      ((s: SparkSession, d: String) => q514StreamTimerSessions(s, d)),
    "q506_stream_profiles_tws" ->
      ((s: SparkSession, d: String) => q506StreamProfilesTws(s, d)),
    "q505_stream_split_gain" ->
      ((s: SparkSession, d: String) => q505StreamSplitGain(s, d)),
    "q500_stream_hll" ->
      ((s: SparkSession, d: String) => q500StreamHll(s, d)),
    "q491_stream_coverage" ->
      ((s: SparkSession, d: String) => q491StreamCoverage(s, d)),
    "q484_stream_negbin" ->
      ((s: SparkSession, d: String) => q484StreamNegbin(s, d)),
    "q467_stream_user_skew" ->
      ((s: SparkSession, d: String) => q467StreamUserSkew(s, d)),
    "q458_stream_spc" ->
      ((s: SparkSession, d: String) => q458StreamSpc(s, d)),
    "q451_stream_dispersion" ->
      ((s: SparkSession, d: String) => q451StreamDispersion(s, d)),
    "q442_stream_periodogram" ->
      ((s: SparkSession, d: String) => q442StreamPeriodogram(s, d)),
    "q353_stream_vocab_growth" ->
      ((s: SparkSession, d: String) => q353StreamVocabGrowth(s, d)),
    "q347_stream_spectrum" ->
      ((s: SparkSession, d: String) => q347StreamSpectrum(s, d)),
    "q336_stream_cusum" -> ((s, d) => q336StreamCusum(s, d)),
    "q369_stream_acf" ->
      ((s: SparkSession, d: String) => q369StreamAcf(s, d)),
    "q388_stream_sprt" ->
      ((s: SparkSession, d: String) => q388StreamSprt(s, d)),
    "q400_stream_ewma" ->
      ((s: SparkSession, d: String) => q400StreamEwma(s, d)),
    "q412_stream_halving" ->
      ((s: SparkSession, d: String) => q412StreamHalving(s, d)),
    "q419_stream_pocock" ->
      ((s: SparkSession, d: String) => q419StreamPocock(s, d)),
    "q313_stream_psi" -> ((s, d) => q313StreamPsi(s, d)),
    "q302_stream_chunk_dedup" -> ((s, d) => q302StreamChunkDedup(s, d)),
    "q283_stream_funnel" -> ((s, d) => q283StreamFunnel(s, d)),
    "q267_stream_rate_limit" -> ((s, d) => q267StreamRateLimit(s, d)),
    "q253_stream_quantile" -> ((s, d) => q253StreamQuantile(s, d)),
    "q239_stream_heavy_hitters" -> ((s, d) => q239StreamHeavyHitters(s, d)),
    "q236_stream_kmv" -> ((s, d) => q236StreamKmv(s, d)),
    "q188_stream_session_window" -> ((s, d) => q188StreamSessionWindow(s, d)),
    "q157_stream_lsh" -> ((s, d) => q157StreamLsh(s, d)),
    "q146_stream_upsert" -> ((s, d) => q146StreamUpsert(s, d)),
    "q140_stream_enrich" -> ((s, d) => q140StreamEnrich(s, d)),
    "q109_stream_windows" -> ((s, d) => q109StreamWindows(s, d)),
    "q114_stream_profiles" -> ((s, d) => q114StreamProfiles(s, d)),
    "q117_stream_sessions" -> ((s, d) => q117StreamSessions(s, d)),
    "q121_stream_interval_join" -> ((s, d) => q121StreamIntervalJoin(s, d)),
    "q126_stream_dedup" -> ((s, d) => q126StreamDedup(s, d)))

  /** Identical to q26's oracle: the streaming run must land exactly on
    * the batch aggregation (complete mode over a drained finite replay). */
  val oracleSql: Map[String, String] = Map(
    "q500_stream_hll" -> q500OracleSql,
    "q505_stream_split_gain" -> graft.operators.Curation.q498OracleSql,
    "q491_stream_coverage" -> graft.operators.Pipeline.q487OracleSql,
    "q484_stream_negbin" -> graft.operators.Stats.q480OracleSql,
    "q467_stream_user_skew" -> q467OracleSql,
    "q458_stream_spc" -> q458OracleSql,
    "q451_stream_dispersion" -> graft.operators.Stats.q446OracleSql,
    "q442_stream_periodogram" -> q442OracleSql,
    "q353_stream_vocab_growth" -> q353OracleSql,
    "q347_stream_spectrum" -> graft.operators.TextOps.q343OracleSql2,
    "q336_stream_cusum" -> q336OracleSql,
    "q369_stream_acf" -> q369OracleSql,
    "q388_stream_sprt" -> graft.operators.Analytics.q386OracleSql2,
    "q400_stream_ewma" -> graft.operators.Analytics.q395OracleSql2,
    "q412_stream_halving" -> graft.operators.Stats.q411OracleSql2,
    "q419_stream_pocock" -> graft.operators.Stats.q415OracleSql2,
    "q313_stream_psi" -> q313OracleSql,
    "q302_stream_chunk_dedup" -> graft.operators.Dedup.q300OracleSql2,
    "q283_stream_funnel" -> q283OracleSql,
    "q267_stream_rate_limit" -> q267OracleSql,
    "q253_stream_quantile" -> q253OracleSql,
    "q239_stream_heavy_hitters" -> q239OracleSql,
    "q236_stream_kmv" -> q236OracleSql,
    "q188_stream_session_window" -> q188OracleSql,
    "q157_stream_lsh" -> graft.operators.Dedup.q30OracleSql,
    "q146_stream_upsert" -> q146OracleSql,
    "q140_stream_enrich" -> q140OracleSql,
    "q109_stream_windows" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           AS sum_value
         FROM events GROUP BY 1, 2""",
    "q114_stream_profiles" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS BIGINT) AS n_purchases
         FROM events GROUP BY user_id""",
    // q517 shares q513's CTE prefix, released at the ratio frame
    "q517_stream_dsir_ratios" ->
      graft.operators.Curation.q517OracleSql,
    // q514 = q117's sessionization UNION the timer-flushed tails: last
    // sessions whose armed expiry (end_s + gap)·1000 ms sits AT OR
    // below the final watermark (max event ms at 0-second delay) — the
    // pinned INCLUSIVE Spark comparator (ScalePathSpec boundary replay)
    "q514_stream_timer_sessions" ->
      s"""WITH e AS (SELECT user_id,
            epoch_us(ts) // 1000000 AS s,
            epoch_us(ts) // 1000 AS ms FROM events),
         wm AS (SELECT max(ms) AS wm_ms FROM e),
         x AS (SELECT user_id, s,
           CASE WHEN s - lag(s) OVER (PARTITION BY user_id ORDER BY s)
                  > $SessionGapSeconds
                THEN 1 ELSE 0 END AS brk
           FROM e),
         y AS (SELECT user_id, s,
           sum(brk) OVER (PARTITION BY user_id ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM x),
         sess AS (SELECT user_id, sid,
             CAST(min(s) AS BIGINT) AS start_s,
             CAST(max(s) AS BIGINT) AS end_s,
             CAST(count(*) AS BIGINT) AS n_events
           FROM y GROUP BY user_id, sid),
         last_sess AS (SELECT user_id, max(sid) AS last_sid
           FROM sess GROUP BY user_id)
         SELECT se.user_id, se.start_s, se.end_s, se.n_events,
           'event' AS via
         FROM sess se JOIN last_sess l
           ON se.user_id = l.user_id AND se.sid < l.last_sid
         UNION ALL
         SELECT se.user_id, se.start_s, se.end_s, se.n_events,
           'timer' AS via
         FROM sess se JOIN last_sess l
           ON se.user_id = l.user_id AND se.sid = l.last_sid, wm
         WHERE (se.end_s + $SessionGapSeconds) * 1000 <= wm.wm_ms""",
    // q506 shares q114's oracle verbatim: transformWithState =
    // mapGroupsWithState = batch GROUP BY is the declared contract
    "q506_stream_profiles_tws" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS BIGINT) AS n_purchases
         FROM events GROUP BY user_id""",
    "q117_stream_sessions" ->
      s"""WITH e AS (SELECT user_id,
            epoch_us(ts) // 1000000 AS s FROM events),
         x AS (SELECT user_id, s,
           CASE WHEN s - lag(s) OVER (PARTITION BY user_id ORDER BY s)
                  > $SessionGapSeconds
                THEN 1 ELSE 0 END AS brk
           FROM e),
         y AS (SELECT user_id, s,
           sum(brk) OVER (PARTITION BY user_id ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM x),
         sess AS (SELECT user_id, sid,
             CAST(min(s) AS BIGINT) AS start_s,
             CAST(max(s) AS BIGINT) AS end_s,
             CAST(count(*) AS BIGINT) AS n_events
           FROM y GROUP BY user_id, sid),
         last_sess AS (SELECT user_id, max(sid) AS last_sid
           FROM sess GROUP BY user_id)
         SELECT se.user_id, se.start_s, se.end_s, se.n_events
         FROM sess se JOIN last_sess l
           ON se.user_id = l.user_id AND se.sid < l.last_sid""",
    "q121_stream_interval_join" ->
      s"""WITH e AS (SELECT event_id, user_id, event_type,
            epoch_ns(ts) // 1000 AS us FROM events
          WHERE event_type IN ('click', 'purchase')),
          c AS (SELECT event_id AS click_id, user_id, us AS cus
                FROM e WHERE event_type = 'click'),
          p AS (SELECT event_id AS purchase_id, user_id, us AS pus
                FROM e WHERE event_type = 'purchase')
          SELECT c.click_id, p.purchase_id,
                 CAST(p.pus - c.cus AS BIGINT) AS gap_us
          FROM c JOIN p ON c.user_id = p.user_id
            AND p.pus >= c.cus AND p.pus <= c.cus + $AttributionUs""",
    "q126_stream_dedup" ->
      """SELECT event_id, user_id, event_type FROM events""")
}
