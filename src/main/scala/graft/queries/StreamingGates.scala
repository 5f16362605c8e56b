package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{IncrementalAgg, TableStore}
import graft.streaming.EventStreams

/** Streaming semantics at the gate: every transform is the batch
  * execution of a streaming-capable plan ([[graft.streaming.EventStreams]]);
  * the DuckDB oracle pins the windowing and sessionization semantics.
  */
object StreamingGates {

  private[queries] def events(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")

  /** Tumbling 1-hour windows per event type (epoch-aligned, exactly
    * date_trunc('hour')).
    */
  val stream_window_agg = OpQuery(
    "stream_window_agg",
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |       event_type,
      |       CAST(COUNT(*) AS BIGINT) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    EventStreams.windowedCounts(events(spark, dir), "1 hour")
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Sliding 1-hour windows every 30 minutes: each event lands in 2
    * windows (oracle materializes the hop offsets explicitly).
    */
  val stream_sliding_window = OpQuery(
    "stream_sliding_window",
    """WITH hopped AS (
      |  SELECT time_bucket(INTERVAL 30 MINUTE, ts) - o.off * INTERVAL 30 MINUTE AS window_start
      |  FROM events, (SELECT unnest([0, 1]) AS off) o
      |)
      |SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
      |       CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM hopped
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (spark, dir) =>
    EventStreams.slidingCounts(events(spark, dir), "1 hour", "30 minutes")
      .orderBy(col("window_start"))
  }

  /** Sessionization with a 30-minute inactivity gap — the batch shadow of
    * session_window/flatMapGroupsWithState, stated relationally (lag +
    * running sum of session starts) so DuckDB can replicate it exactly.
    */
  val stream_session_agg = OpQuery(
    "stream_session_agg",
    """WITH ordered AS (
      |  SELECT user_id, ts, value,
      |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      |  FROM events
      |), flagged AS (
      |  SELECT user_id, ts, value,
      |         CASE WHEN prev_ts IS NULL
      |                   OR epoch_us(ts) - epoch_us(prev_ts) > 1800 * 1000000
      |              THEN 1 ELSE 0 END AS is_start
      |  FROM ordered
      |), numbered AS (
      |  SELECT user_id, ts, value,
      |         CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM flagged
      |)
      |SELECT user_id, session_seq,
      |       CAST(COUNT(*) AS BIGINT) AS n_events,
      |       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      |FROM numbered
      |GROUP BY user_id, session_seq
      |ORDER BY user_id, session_seq""".stripMargin) { (spark, dir) =>
    EventStreams.sessionizeBatch(events(spark, dir), gapSeconds = 1800)
      .orderBy(col("user_id"), col("session_seq"))
  }

  /** session_window equivalence: Spark's native session_window produces
    * the same sessions as the relational statement — asserted in
    * EventStreamsSpec AND oracled here by mirroring Spark's conventions
    * in SQL: session end = last event + gap, and a new session opens at
    * diff >= gap (session_window's window-end is exclusive, unlike the
    * `> gap` convention of stream_sessionize above).
    */
  val stream_session_window = OpQuery(
    "stream_session_window",
    """WITH ordered AS (
      |  SELECT user_id, ts, value,
      |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      |  FROM events
      |), flagged AS (
      |  SELECT user_id, ts, value,
      |         CASE WHEN prev_ts IS NULL
      |                   OR epoch_us(ts) - epoch_us(prev_ts) >= 1800 * 1000000
      |              THEN 1 ELSE 0 END AS is_start
      |  FROM ordered
      |), numbered AS (
      |  SELECT user_id, ts, value,
      |         SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      |  FROM flagged
      |)
      |SELECT user_id,
      |       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |       strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
      |       CAST(COUNT(*) AS BIGINT) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      |FROM numbered
      |GROUP BY user_id, session_seq
      |ORDER BY user_id, session_start""".stripMargin) { (spark, dir) =>
    EventStreams.sessionWindows(events(spark, dir), "30 minutes")
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Ingestion dedup (at-least-once cleanup): one event per (user_id,
    * event_type, minute), min-event_id survivor. The streaming twin is
    * dropDuplicatesWithinWatermark with watermark-bounded state —
    * key-set equivalence pinned in EventStreamsSpec.
    */
  val stream_dedup = OpQuery(
    "stream_dedup",
    """WITH ranked AS (
      |  SELECT event_id, user_id, event_type,
      |         strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS minute_bucket,
      |         ROW_NUMBER() OVER (
      |           PARTITION BY user_id, event_type, date_trunc('minute', ts)
      |           ORDER BY event_id) AS rn
      |  FROM events
      |)
      |SELECT event_id, user_id, event_type, minute_bucket
      |FROM ranked WHERE rn = 1
      |ORDER BY event_id""".stripMargin) { (spark, dir) =>
    EventStreams.dedupedEvents(events(spark, dir))
      .orderBy(col("event_id"))
  }

  /** Stream-static enrichment: events left-joined to a broadcast user
    * dimension (customer keyed by custkey). Streaming execution of the
    * same transform (static side rebroadcast per micro-batch, stream
    * side map-only, no state) is pinned in EventStreamsSpec.
    */
  val stream_enrich = OpQuery(
    "stream_enrich",
    """SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment AS user_segment
      |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
      |ORDER BY e.event_id""".stripMargin) { (spark, dir) =>
    EventStreams.enrichEvents(
        events(spark, dir),
        Tables.load(spark, dir, "customer")
          .select(col("c_custkey").as("user_key"),
            col("c_mktsegment").as("user_segment")))
      .orderBy(col("event_id"))
  }

  /** Stream-stream interval join (conversion attribution): views paired
    * with the same user's purchases within 30 minutes. The streaming
    * execution — two watermarked filters of one file-source stream,
    * self-joined with the event-time range bounding the state store — is
    * pinned stream ≡ batch in EventStreamsSpec; the oracle pins the
    * interval-join semantics in exact epoch microseconds.
    */
  val stream_interval_join = OpQuery(
    "stream_interval_join",
    """WITH v AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'view'
      |), p AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'purchase'
      |)
      |SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
      |       CAST(p.us - v.us AS BIGINT) AS usecs_between
      |FROM v JOIN p ON v.user_id = p.user_id
      |  AND p.us >= v.us AND p.us <= v.us + CAST(1800 AS BIGINT) * 1000000
      |ORDER BY view_id, purchase_id""".stripMargin) { (spark, dir) =>
    EventStreams.attributedConversions(events(spark, dir), "30 minutes")
      .orderBy(col("view_id"), col("purchase_id"))
  }

  /** LEFT OUTER interval join (every view, converted or not): unmatched
    * views carry null purchase columns. Streaming twin (both sides
    * watermarked; null rows released as the watermark passes) pinned in
    * EventStreamsSpec.
    */
  val stream_interval_join_outer = OpQuery(
    "stream_interval_join_outer",
    """WITH v AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'view'
      |), p AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'purchase'
      |)
      |SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
      |       CAST(p.us - v.us AS BIGINT) AS usecs_between
      |FROM v LEFT JOIN p ON v.user_id = p.user_id
      |  AND p.us >= v.us AND p.us <= v.us + CAST(1800 AS BIGINT) * 1000000
      |ORDER BY view_id, purchase_id NULLS FIRST""".stripMargin) { (spark, dir) =>
    EventStreams.intervalJoinOuter(
        events(spark, dir).filter(col("event_type") === "view"),
        events(spark, dir).filter(col("event_type") === "purchase"),
        "30 minutes")
      .withColumnRenamed("left_id", "view_id")
      .withColumnRenamed("right_id", "purchase_id")
      .orderBy(col("view_id"), col("purchase_id").asc_nulls_first)
  }

  /** Per-user running purchase totals — the BATCH contract of the
    * streaming transformWithState operator (graft.streaming
    * EventStreams.runningUserTotals): cumulative exact-cents spend at
    * every purchase event. One window over the user shuffle; the
    * streaming path maintains the same state incrementally.
    */
  val stream_running_totals = OpQuery(
    "stream_running_totals",
    """WITH p AS (
      |  SELECT user_id, event_id,
      |         TRUNC(epoch(ts))::BIGINT AS t,
      |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase')
      |SELECT user_id, event_id,
      |       CAST(SUM(cents) OVER (PARTITION BY user_id ORDER BY t, event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |         AS running_cents,
      |       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t, event_id) AS INT)
      |         AS purchase_seq
      |FROM p
      |ORDER BY user_id, purchase_seq""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("t"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .select(col("user_id"), col("event_id"),
        sum(col("cents")).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("long").as("running_cents"),
        row_number().over(w).cast("int").as("purchase_seq"))
      .orderBy("user_id", "purchase_seq")
  }

  /** Streaming IVM: events replayed as a 3-micro-batch file-source
    * stream; each batch appends to `base` (one generation per batch) and
    * refreshes `agg` from that generation's file-diff CDC. The oracle is
    * the direct GROUP BY over all events — the maintained view converges
    * to it exactly (DECIMAL(18,2) on both sides for sum-order parity).
    */
  val stream_ivm_refresh = OpQuery(
    "stream_ivm_refresh",
    """SELECT event_type,
      |       CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (spark, dir) =>
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("value"))
    val scratch = graft.queries.GateScratch.dir("graft-sivm-").toString
    val store = new TableStore(spark, s"$scratch/store")
    // land the slice as 3 files; maxFilesPerTrigger=1 → one generation
    // appended per micro-batch, three refresh cycles over the fast path
    val landing = s"$scratch/in"
    ev.repartition(3).write.mode("overwrite").parquet(landing)
    // v0: empty base, empty view — the stream builds everything
    store.overwrite("base", ev.limit(0))
    store.overwrite("agg",
      IncrementalAgg.fullAggregate(store.read("base"), Seq("event_type"), "value"))
    val stream = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(landing)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val from = store.currentVersion("base")
        store.append("base", batch)
        IncrementalAgg.refresh(store, "agg", "base", from, from + 1,
          Seq("event_type"), "value")
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$scratch/ckpt")
      .start()
    q.awaitTermination()
    store.read("agg")
      .select(col("event_type"), col("n_rows"),
        col("total_value").cast("double").as("total_value"))
      .orderBy(col("event_type"))
  }

  val all: Seq[OpQuery] = Seq(
    stream_window_agg, stream_sliding_window, stream_session_agg,
    stream_session_window, stream_dedup, stream_enrich, stream_interval_join,
    stream_interval_join_outer, stream_running_totals, stream_ivm_refresh)
}
