package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.streaming.Events
import QuerySupport._

/** Event-time analytics: tumbling, hopping and session windows in batch
  * and as streaming runs, stream dedup, as-of and interval joins,
  * rolling windows. */
object TemporalQueries {

  /** Hourly tumbling-window stats: the batch and the streaming run. */
  private lazy val tumblingSql =
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      | CAST(count(*) AS BIGINT) AS n_events, round(avg(value), 6) AS avg_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** 1 h / 30 min hopping-window stats: the batch and the streaming run. */
  private lazy val hoppingSql =
    """WITH x AS (SELECT event_type, value,
      |  (epoch_us(ts) // 1800000000 - i.i) * 1800 AS ws
      |  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS i) i)
      |SELECT ws AS window_start_sec, event_type,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  round(avg(value), 6) AS avg_value
      |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** First event per (user, type) in event-time order: the batch twin
    * and the streaming dedup run keep the same survivors. */
  private lazy val firstEventSql =
    """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
      |FROM (SELECT *, row_number() OVER
      |  (PARTITION BY user_id, event_type ORDER BY epoch_us(ts), event_id) AS rn
      |  FROM events) t
      |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  /** Sessions by a 30-minute inactivity gap: ends at `z` (user_id, tsec,
    * session_id). */
  private lazy val sessionCtes: String =
    raw"""x AS (SELECT user_id, event_id,
      |  CAST(epoch_us(ts) AS DOUBLE) / 1000000.0 AS tsec FROM events),
      |y AS (SELECT user_id, event_id, tsec,
      |  CASE WHEN lag(tsec) OVER w IS NULL OR tsec - lag(tsec) OVER w > 1800 THEN 1 ELSE 0 END AS brk
      |  FROM x WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
      |z AS (SELECT user_id, tsec, CAST(sum(brk) OVER
      |  (PARTITION BY user_id ORDER BY tsec, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM y)""".stripMargin

  val all: Seq[Query] = Seq(

    // tumbling 1h event-time windows
    Query("q_events_window", (s, dir) =>
      Events.tumblingStats(Events.load(s, dir))
        .orderBy("window_start", "event_type"),
      sql(tumblingSql)),

    // the STREAMING ENGINE itself, oracle-checked (r10 verdict ask #2):
    // Trigger.AvailableNow file-source runs of the streaming twins —
    // micro-batch state merge / watermark / event-time timeout execution
    // verified against the same SQL as the batch forms
    Query("q_events_window_stream", (s, dir) =>
      graft.streaming.StreamRuns.tumbling(s, dir),
      // the streaming twins verify against the same math as the batch
      // forms; the tumbling one is the identical SQL, the sessionize one
      // drops session_id (the streaming emit carries no counter) and
      // orders by session start instead
      sql(tumblingSql)),

    // session assignment by inactivity gap
    Query("q_events_sessionize", (s, dir) =>
      Events.sessionize(Events.load(s, dir))
        .orderBy("user_id", "session_id"),
      sql(raw"""WITH $sessionCtes
            |SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
            | round(min(tsec), 6) AS start_sec,
            | round(max(tsec) - min(tsec), 6) AS duration_sec
            |FROM z GROUP BY user_id, session_id
            |ORDER BY user_id, session_id""".stripMargin)),

    Query("q_events_sessionize_stream", (s, dir) =>
      graft.streaming.StreamRuns.sessionize(s, dir),
      sql(raw"""WITH $sessionCtes
            |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
            | round(min(tsec), 6) AS start_sec,
            | round(max(tsec) - min(tsec), 6) AS duration_sec
            |FROM z GROUP BY user_id, session_id
            |ORDER BY user_id, start_sec""".stripMargin)),

    // hopping (sliding) event-time windows: width 1 h, slide 30 min —
    // every event counted in 2 overlapping windows via the map-side
    // Expand under Spark's window(), one hash aggregation, no self-join
    Query("q_events_hopping", (s, dir) =>
      Events.hoppingStats(Events.load(s, dir))
        .orderBy("window_start_sec", "event_type"),
      // integer epoch-us arithmetic on both sides: window membership never
      // rides on double rounding at an exact half-hour boundary
      sql(hoppingSql)),

    // the hopping-window streaming engine path (r13 verdict #2): the
    // overlapping-window Expand + state merge under AvailableNow,
    // hash-checked against the same SQL as the batch q_events_hopping
    Query("q_events_hopping_stream", (s, dir) =>
      graft.streaming.StreamRuns.hopping(s, dir),
      // the streaming-engine hopping run must reproduce the batch SQL
      // bit-for-bit (complete mode evicts nothing)
      sql(hoppingSql)),

    // batch twin of the streaming ingest-dedup (Dedup.streamingExact):
    // first event per (user, type) in event-time order. ts emitted as
    // epoch micros so both engines compare the identical integer.
    Query("q_dedup_stream_twin", (s, dir) =>
      graft.ops.Dedup.streamTwinExact(Events.load(s, dir), "ts",
        Seq("user_id", "event_type"), "event_id")
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
        .orderBy("user_id", "event_type"),
      sql(firstEventSql)),

    Query("q_dedup_stream_run", (s, dir) =>
      graft.streaming.StreamRuns.dedupExact(s, dir),
      // the STREAMING dedup engine run (event-time-ordered replay over
      // two chronological micro-batches, so key state is kept across the
      // batch boundary) keeps exactly the batch twin's survivors — same SQL
      sql(firstEventSql)),

    // temporal AS-OF join (plans/AsofJoin): last-touch attribution —
    // each purchase matched to the user's most recent click within 1 h.
    // One shuffle, no join node (union-trick window form); the click
    // side is pre-aggregated to unique (user, ts) so tie-break order is
    // engine-independent.
    Query("q_asof_join", (s, dir) => {
      val ev = Events.load(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
      graft.plans.AsofJoin.asofBackward(purchases, clicks, Seq("user_id"),
          "ts", "ts", toleranceSeconds = Some(3600.0))
        .select(col("event_id"), col("user_id"),
          round(col("ts").cast(DoubleType), 6).as("tsec"),
          round(col("asof_ts_sec"), 6).as("click_tsec"),
          col("asof_click_id").as("click_id"))
        .orderBy("event_id")
    },
      // DuckDB has a native ASOF JOIN — the oracle uses it directly, so the
      // union-trick window plan is checked against an independent
      // implementation of the same semantics. Tolerance nulls the match
      // columns (NULL gap comparisons propagate NULL, matching the Spark
      // keep-predicate).
      sql("""WITH e AS (SELECT event_id, user_id, event_type,
            |  CAST(epoch_us(ts) AS DOUBLE) / 1000000.0 AS tsec FROM events),
            |c AS (SELECT user_id, tsec AS ctsec, max(event_id) AS click_id
            |      FROM e WHERE event_type = 'click' GROUP BY 1, 2),
            |p AS (SELECT event_id, user_id, tsec FROM e WHERE event_type = 'purchase'),
            |m AS (SELECT p.event_id, p.user_id, p.tsec, c.ctsec, c.click_id
            |      FROM p ASOF LEFT JOIN c
            |        ON p.user_id = c.user_id AND p.tsec >= c.ctsec)
            |SELECT event_id, user_id, round(tsec, 6) AS tsec,
            |  CASE WHEN tsec - ctsec <= 3600 THEN round(ctsec, 6) END AS click_tsec,
            |  CASE WHEN tsec - ctsec <= 3600 THEN click_id END AS click_id
            |FROM m ORDER BY event_id""".stripMargin)),

    // forward as-of: soonest error within 30 min after each purchase
    Query("q_asof_forward", (s, dir) => {
      val ev = Events.load(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val errors = ev.where(col("event_type") === "error")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("err_id"))
      graft.plans.AsofJoin.asofForward(purchases, errors, Seq("user_id"),
          "ts", "ts", toleranceSeconds = Some(1800.0), prefix = "next_")
        .select(col("event_id"), col("user_id"),
          round(col("ts").cast(DoubleType), 6).as("tsec"),
          round(col("next_ts_sec"), 6).as("err_tsec"),
          col("next_err_id").as("err_id"))
        .orderBy("event_id")
    },
      sql("""WITH e AS (SELECT event_id, user_id, event_type,
            |  CAST(epoch_us(ts) AS DOUBLE) / 1000000.0 AS tsec FROM events),
            |er AS (SELECT user_id, tsec AS etsec, max(event_id) AS err_id
            |       FROM e WHERE event_type = 'error' GROUP BY 1, 2),
            |p AS (SELECT event_id, user_id, tsec FROM e WHERE event_type = 'purchase'),
            |m AS (SELECT p.event_id, p.user_id, p.tsec, er.etsec, er.err_id
            |      FROM p ASOF LEFT JOIN er
            |        ON p.user_id = er.user_id AND p.tsec <= er.etsec)
            |SELECT event_id, user_id, round(tsec, 6) AS tsec,
            |  CASE WHEN etsec - tsec <= 1800 THEN round(etsec, 6) END AS err_tsec,
            |  CASE WHEN etsec - tsec <= 1800 THEN err_id END AS err_id
            |FROM m ORDER BY event_id""".stripMargin)),

    // interval-containment join (plans/IntervalJoin): every purchase that
    // fell inside an error's 10-minute incident window for the same user.
    // Grid-bucketed equi-join on (user, cell) — never a key-only join
    // with a range post-filter.
    Query("q_interval_join", (s, dir) => {
      val ev = Events.load(s, dir)
      val tsec = col("ts").cast(DoubleType)
      val incidents = ev.where(col("event_type") === "error")
        .select(col("event_id").as("incident_id"), col("user_id"),
          tsec.as("w_start"), (tsec + 600d).as("w_end"))
      val pts = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), tsec.as("ptsec"))
      graft.plans.IntervalJoin.containment(incidents, pts, Seq("user_id"),
          "w_start", "w_end", "ptsec", cellSeconds = 600d)
        .select(col("incident_id"), col("event_id"),
          round(col("ptsec"), 6).as("ptsec"))
        .orderBy("incident_id", "event_id")
    },
      // plain inequality join is fine at oracle scale; the Spark side must
      // produce the identical pair set through the grid decomposition
      sql("""WITH e AS (SELECT event_id, user_id, event_type,
            |  CAST(epoch_us(ts) AS DOUBLE) / 1000000.0 AS tsec FROM events),
            |i AS (SELECT event_id AS incident_id, user_id, tsec AS w_start,
            |      tsec + 600 AS w_end FROM e WHERE event_type = 'error'),
            |p AS (SELECT event_id, user_id, tsec AS ptsec
            |      FROM e WHERE event_type = 'purchase')
            |SELECT i.incident_id, p.event_id, round(p.ptsec, 6) AS ptsec
            |FROM i JOIN p ON i.user_id = p.user_id
            |  AND p.ptsec BETWEEN i.w_start AND i.w_end
            |ORDER BY 1, 2""".stripMargin)),

    // rolling analytics: 3-event moving average of value per user in
    // event-time order — one hash shuffle by user, frame bounded to 3
    // rows regardless of history length
    Query("q_events_rolling", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-2, 0)
      Events.load(s, dir)
        .select(col("event_id"), col("user_id"),
          round(avg(col("value")).over(w), 6).as("roll_avg"),
          count(lit(1)).over(w).as("n_window"))
        .orderBy("event_id")
    },
      sql("""SELECT event_id, user_id,
            |  round(avg(value) OVER w, 6) AS roll_avg,
            |  CAST(count(*) OVER w AS BIGINT) AS n_window
            |FROM events
            |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
            |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
            |ORDER BY event_id""".stripMargin))
  )
}
