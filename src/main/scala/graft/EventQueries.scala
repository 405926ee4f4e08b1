package graft

import org.apache.spark.sql.functions._

/** Event-stream surface: JSON extraction (extension corpus `events.props`)
  * and the event-time window family — tumbling / sliding / session /
  * watermarked streaming — generalizing the reference's incremental
  * micro-batch semantics (SURVEY §2.I R1-R4).
  */
object EventQueries {

  import Agg.{sumDec4}

  val all: Seq[QuerySpec] = Seq(

    // JSON extraction over events.props (SURVEY §7.5)
    QuerySpec("q23_json_extract",
      (s, dir) => Tables.events(s, dir)
        .select((get_json_object(col("props"), "$.k").cast("int") % 10).as("k_mod"),
          col("event_type"), col("value"))
        .groupBy("k_mod", "event_type")
        .agg(count(lit(1)).as("n_events"), sumDec4(col("value")).as("sum_value")),
      Some("""
        SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod, event_type,
          count(*) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2""")),

    // tumbling event-time window (1 h, epoch-aligned = date_trunc)
    QuerySpec("q24_tumbling_window",
      (s, dir) => Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sumDec4(col("value")).as("sum_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n_events"), col("sum_value")),
      Some("""
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
          count(*) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2""")),

    // sliding window (1 h window, 30 min slide → each event in 2 windows)
    QuerySpec("q25_sliding_window",
      (s, dir) => Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("window.start").as("window_start"), col("n_events")),
      Some("""
        WITH b AS (
          SELECT *, make_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 1800) * 1800 AS BIGINT) * 1000000) AS b0
          FROM events),
        w AS (
          SELECT b0 AS window_start FROM b
          UNION ALL
          SELECT b0 - INTERVAL 30 MINUTE AS window_start FROM b)
        SELECT window_start, count(*) AS n_events FROM w GROUP BY 1""")),

    // session window (30 min gap) — start = first event, merge while gap < 30 min
    QuerySpec("q26_session_window",
      (s, dir) => Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("n_events")),
      Some("""
        WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        d AS (
          SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (
          SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
          FROM d)
        SELECT user_id, min(ts) AS session_start, count(*) AS n_events
        FROM s GROUP BY user_id, sid""")),

    // §2.C P5 + §2.F T2 + §2.I R4: rolling lookback window relative to the
    // stream head (the reference's 8-day torrent-correlation window,
    // runetl.py:50 / server/etl.py:196) — deterministic: anchored on
    // max(ts), not wall clock
    QuerySpec("q40_rolling_window",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val mx = ev.agg(max(col("ts")).as("m"))
        ev.crossJoin(mx)
          .filter(col("ts") >= col("m") - expr("INTERVAL 8 DAY"))
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events"), sumDec4(col("value")).as("sum_value"))
      },
      Some("""
        WITH mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS m FROM events)
        SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
          count(*) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM events, mx WHERE CAST(ts AS TIMESTAMP) >= m - INTERVAL 8 DAY
        GROUP BY 1""")),

    // Streaming exact dedup end-to-end: the SAME events file feeds TWO
    // file streams unioned (every event arrives twice — the reprocessing/
    // at-least-once delivery case), then a stateful dropDuplicates by
    // event_id chained into a complete-mode aggregate recovers exactly
    // the batch answer — which is what the DuckDB oracle checks.
    QuerySpec("q52_stream_dedup",
      (s, dir) => {
        GraftSession.tune(s)
        val batchSchema = Tables.parquet(s, s"$dir/events.parquet").schema
        def src = s.readStream.schema(batchSchema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
        val doubled = src.unionByName(src)
        val agg = graft.streaming.Streams.dedupedCounts(
          doubled, Seq("event_id"), "event_type")
        graft.streaming.Streams.runToCompletion(s, agg, "complete")
      },
      Some("""
        SELECT event_type, count(*) AS n_events
        FROM events GROUP BY 1""")),

    // The WATERMARK-BOUNDED streaming dedup — q52's production variant:
    // dropDuplicatesWithinWatermark keeps per-key state only until the
    // event-time watermark passes key time + delay (O(window) state on
    // an unbounded stream, vs q52's O(all keys ever)). Same doubled-
    // delivery topology: every event arrives twice via a two-stream
    // union, duplicates land well inside the 1 h window, and the drained
    // complete-mode aggregate must equal the batch distinct counts.
    QuerySpec("q135_stream_dedup_wm",
      (s, dir) => {
        GraftSession.tune(s)
        val batchSchema = Tables.parquet(s, s"$dir/events.parquet").schema
        def src() = {
          val raw = s.readStream.schema(batchSchema)
            .option("pathGlobFilter", "events.parquet").parquet(dir)
          if (batchSchema("ts").dataType == org.apache.spark.sql.types.LongType)
            raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          else raw
        }
        val doubled = src().unionByName(src())
        val agg = graft.streaming.Streams.dedupedCountsWithinWatermark(
          doubled, "ts", "1 hour", Seq("event_id"), "event_type")
        graft.streaming.Streams.runToCompletion(s, agg, "complete")
      },
      Some("""
        SELECT event_type, count(*) AS n_events
        FROM events GROUP BY 1""")),

    // Structured Streaming end-to-end: file source → watermark → windowed
    // agg → memory sink, driven to completion (Trigger.AvailableNow
    // semantics via processAllAvailable). Complete output mode, so the
    // final state matches the batch oracle exactly.
    QuerySpec("q27_stream_tumbling",
      (s, dir) => {
        GraftSession.tune(s)
        val batchSchema = Tables.parquet(s, s"$dir/events.parquet").schema
        // file-stream sources want a directory: stream the sf dir but
        // glob-filter down to the events table
        val raw = s.readStream.schema(batchSchema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
        val withTs =
          if (batchSchema("ts").dataType == org.apache.spark.sql.types.LongType)
            raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          else raw
        val agg = withTs
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n_events"), sumDec4(col("value")).as("sum_value"))
          .select(col("window.start").as("window_start"), col("n_events"), col("sum_value"))
        graft.streaming.Streams.runToCompletion(s, agg, "complete")
      },
      Some("""
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
          count(*) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1""")),

    // Streaming SESSION windows end-to-end: file stream → watermark →
    // flatMapGroupsWithState sessionizer (30 min gap) → memory sink.
    // Emission semantics are deterministic and the oracle replays them
    // exactly: a session closed by a later same-user event in the batch
    // is emitted immediately (equivalently: a next session exists); the
    // final open session per user is emitted iff the terminal event-time
    // watermark (global max ts − 1 h) strictly passes last_event + gap.
    // This is the streaming form of q26 — same sessions, append-mode
    // state machine instead of a batch window.
    QuerySpec("q120_stream_session",
      (s, dir) => {
        GraftSession.tune(s)
        import graft.streaming.Streams
        val batchSchema = Tables.parquet(s, s"$dir/events.parquet").schema
        val raw = s.readStream.schema(batchSchema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
        val withTs =
          if (batchSchema("ts").dataType == org.apache.spark.sql.types.LongType)
            raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          else raw
        import s.implicits._
        val evts = withTs.select(col("user_id").cast("long").as("user_id"), col("ts"))
          .withWatermark("ts", "1 hour")
          .as[Streams.Evt]
        Streams.runToCompletion(s,
          Streams.sessionize(evts, gapMs = 30L * 60 * 1000).toDF(), "append")
      },
      Some("""
        WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        mx AS (SELECT max(ts) AS m FROM e),
        d AS (
          SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (
          SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
          FROM d),
        sess AS (
          SELECT user_id, min(ts) AS session_start, max(ts) AS last_ts,
            count(*) AS n_events
          FROM s GROUP BY user_id, sid),
        nxt AS (
          SELECT *, lead(session_start) OVER (PARTITION BY user_id ORDER BY session_start) AS next_start
          FROM sess)
        SELECT user_id, session_start, n_events FROM nxt, mx
        WHERE next_start IS NOT NULL
           OR m - INTERVAL 1 HOUR > last_ts + INTERVAL 30 MINUTE""")),

    // Stream-static join: the live event stream enriched against a
    // STATIC dimension (per-user first-seen cohort, computed batch-side)
    // via broadcast — the standard streaming-enrichment shape: the dim
    // is read once per micro-batch planning, no stream-stream state.
    QuerySpec("q89_stream_static_join",
      (s, dir) => {
        GraftSession.tune(s)
        val batchSchema = Tables.parquet(s, s"$dir/events.parquet").schema
        val raw = s.readStream.schema(batchSchema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
        val withTs =
          if (batchSchema("ts").dataType == org.apache.spark.sql.types.LongType)
            raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          else raw
        val cohorts = Tables.events(s, dir)
          .groupBy("user_id").agg(min(to_date(col("ts"))).as("cohort"))
        val agg = withTs.join(broadcast(cohorts), Seq("user_id"))
          .groupBy("cohort")
          .agg(count(lit(1)).as("n_events"), sumDec4(col("value")).as("sum_value"))
        graft.streaming.Streams.runToCompletion(s, agg, "complete")
      },
      Some("""
        WITH f AS (
          SELECT user_id, min(CAST(ts AS DATE)) AS cohort FROM events GROUP BY 1)
        SELECT f.cohort, count(*) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM events e JOIN f ON e.user_id = f.user_id
        GROUP BY 1""")),

    // STREAM-STREAM inner join — the missing member of the streaming
    // family (q89 is stream-static): clicks joined to the same user's
    // purchases within 6 hours, both sides watermarked, the time-range
    // predicate bounding join state (Spark retains each side only until
    // the other side's watermark passes the range). A real two-source
    // Structured Streaming run; inner-join emissions are
    // watermark-independent for on-time data, so the final sink equals
    // the batch join the oracle runs. Gap arithmetic in integer
    // epoch-micros (the q120 lesson: ms truncation shifts boundaries).
    // STREAM-STREAM LEFT OUTER join — the state-eviction semantics q127's
    // inner join never exercises: an unmatched click emits its
    // null-extended row only when the global watermark proves no future
    // purchase can land in its 6-hour window and the engine evicts the
    // state. Determinism without replaying eviction micro-timing: clicks
    // are bounded to the CLOSABLE region (ts ≤ min(max click, max
    // purchase) − 8 h, computed batch-side; 8 h > 6 h window + 1 h
    // watermark delay + engine rounding margins), applied AFTER the
    // watermark node so the watermark still advances on the full stream
    // — every kept click is therefore evicted by end-of-stream and the
    // sink equals the batch LEFT JOIN under the same bound, which is
    // what the oracle runs. The one driver-side value is a bounded
    // scalar (the cutoff), per the engine's scalar-only collect rule.
    QuerySpec("q131_stream_outer_join",
      (s, dir) => {
        GraftSession.tune(s)
        val HOUR_US = 3600L * 1000000L
        val batch = Tables.events(s, dir)
        val cutUs = batch.agg(
          (least(max(when(col("event_type") === "click", unix_micros(col("ts")))),
            max(when(col("event_type") === "purchase", unix_micros(col("ts")))))
            - lit(8L * HOUR_US)).as("cut"))
          .head().getLong(0)
        val batchSchema = Tables.parquet(s, s"$dir/events.parquet").schema
        def src() = {
          val raw = s.readStream.schema(batchSchema)
            .option("pathGlobFilter", "events.parquet").parquet(dir)
          if (batchSchema("ts").dataType == org.apache.spark.sql.types.LongType)
            raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          else raw
        }
        val clicks = src().withWatermark("ts", "1 hour")
          .filter(col("event_type") === "click" &&
            unix_micros(col("ts")) <= cutUs)
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts").as("click_ts"))
        val buys = src().filter(col("event_type") === "purchase")
          .select(col("user_id").as("b_user"), col("event_id").as("purchase_id"),
            col("ts").as("purchase_ts"))
          .withWatermark("purchase_ts", "1 hour")
        val joined = clicks.join(buys,
          col("user_id") === col("b_user") &&
            col("purchase_ts") >= col("click_ts") &&
            col("purchase_ts") <= col("click_ts") + expr("interval 6 hours"),
          "left_outer")
          .select(col("user_id"), col("click_id"), col("purchase_id"),
            (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("gap_us"))
        graft.streaming.Streams.runToCompletion(s, joined, "append")
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
          FROM events),
        cut AS (
          SELECT least(
              max(CASE WHEN event_type = 'click' THEN ts END),
              max(CASE WHEN event_type = 'purchase' THEN ts END))
            - INTERVAL 8 HOUR AS c
          FROM e),
        a AS (
          SELECT user_id, event_id AS click_id, ts AS cts
          FROM e, cut WHERE event_type = 'click' AND ts <= c),
        b AS (
          SELECT user_id, event_id AS purchase_id, ts AS pts
          FROM e WHERE event_type = 'purchase')
        SELECT a.user_id, a.click_id, b.purchase_id,
          CAST(epoch_us(b.pts) - epoch_us(a.cts) AS BIGINT) AS gap_us
        FROM a LEFT JOIN b ON a.user_id = b.user_id
          AND b.pts >= a.cts AND b.pts <= a.cts + INTERVAL 6 HOUR""")),

    // Stream-stream FULL OUTER join — the last member of the streaming
    // join family (q127 inner, q131 left outer): null emissions on
    // state eviction fire from BOTH sides. Both streams are bounded to
    // the closable region (ts <= min(max click, max purchase) − 8 h),
    // so the terminal watermark passes every row's join window and the
    // drained append sink equals the batch FULL JOIN exactly.
    QuerySpec("q155_stream_full_outer_join",
      (s, dir) => {
        GraftSession.tune(s)
        val HOUR_US = 3600L * 1000000L
        val batch = Tables.events(s, dir)
        val cutUs = batch.agg(
          (least(max(when(col("event_type") === "click", unix_micros(col("ts")))),
            max(when(col("event_type") === "purchase", unix_micros(col("ts")))))
            - lit(8L * HOUR_US)).as("cut"))
          .head().getLong(0)
        val batchSchema = Tables.parquet(s, s"$dir/events.parquet").schema
        def src() = {
          val raw = s.readStream.schema(batchSchema)
            .option("pathGlobFilter", "events.parquet").parquet(dir)
          if (batchSchema("ts").dataType == org.apache.spark.sql.types.LongType)
            raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          else raw
        }
        val clicks = src().withWatermark("ts", "1 hour")
          .filter(col("event_type") === "click" &&
            unix_micros(col("ts")) <= cutUs)
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts").as("click_ts"))
        val buys = src().withWatermark("ts", "1 hour")
          .filter(col("event_type") === "purchase" &&
            unix_micros(col("ts")) <= cutUs)
          .select(col("user_id").as("b_user"), col("event_id").as("purchase_id"),
            col("ts").as("purchase_ts"))
        val joined = clicks.join(buys,
          col("user_id") === col("b_user") &&
            col("purchase_ts") >= col("click_ts") &&
            col("purchase_ts") <= col("click_ts") + expr("interval 6 hours"),
          "full_outer")
          .select(coalesce(col("user_id"), col("b_user")).as("user_id"),
            col("click_id"), col("purchase_id"),
            (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("gap_us"))
        graft.streaming.Streams.runToCompletion(s, joined, "append")
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
          FROM events),
        cut AS (
          SELECT least(
              max(CASE WHEN event_type = 'click' THEN ts END),
              max(CASE WHEN event_type = 'purchase' THEN ts END))
            - INTERVAL 8 HOUR AS c
          FROM e),
        a AS (
          SELECT user_id, event_id AS click_id, ts AS cts
          FROM e, cut WHERE event_type = 'click' AND ts <= c),
        b AS (
          SELECT user_id, event_id AS purchase_id, ts AS pts
          FROM e, cut WHERE event_type = 'purchase' AND ts <= c)
        SELECT COALESCE(a.user_id, b.user_id) AS user_id, a.click_id, b.purchase_id,
          CAST(epoch_us(b.pts) - epoch_us(a.cts) AS BIGINT) AS gap_us
        FROM a FULL JOIN b ON a.user_id = b.user_id
          AND b.pts >= a.cts AND b.pts <= a.cts + INTERVAL 6 HOUR""")),

    QuerySpec("q127_stream_stream_join",
      (s, dir) => {
        GraftSession.tune(s)
        val batchSchema = Tables.parquet(s, s"$dir/events.parquet").schema
        def src() = {
          val raw = s.readStream.schema(batchSchema)
            .option("pathGlobFilter", "events.parquet").parquet(dir)
          if (batchSchema("ts").dataType == org.apache.spark.sql.types.LongType)
            raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          else raw
        }
        val clicks = src().filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts").as("click_ts"))
          .withWatermark("click_ts", "1 hour")
        val buys = src().filter(col("event_type") === "purchase")
          .select(col("user_id").as("b_user"), col("event_id").as("purchase_id"),
            col("ts").as("purchase_ts"))
          .withWatermark("purchase_ts", "1 hour")
        val joined = clicks.join(buys,
          col("user_id") === col("b_user") &&
            col("purchase_ts") >= col("click_ts") &&
            col("purchase_ts") <= col("click_ts") + expr("interval 6 hours"))
          .select(col("user_id"), col("click_id"), col("purchase_id"),
            (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("gap_us"))
        graft.streaming.Streams.runToCompletion(s, joined, "append")
      },
      Some("""
        WITH a AS (
          SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS cts
          FROM events WHERE event_type = 'click'),
        b AS (
          SELECT user_id, event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS pts
          FROM events WHERE event_type = 'purchase')
        SELECT a.user_id, a.click_id, b.purchase_id,
          CAST(epoch_us(b.pts) - epoch_us(a.cts) AS BIGINT) AS gap_us
        FROM a JOIN b ON a.user_id = b.user_id
          AND b.pts >= a.cts AND b.pts <= a.cts + INTERVAL 6 HOUR"""))
  )
}
