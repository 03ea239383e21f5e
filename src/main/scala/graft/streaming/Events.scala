package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-time analytics over the `events` table (SURVEY.md §7.6).
  *
  * The batch forms here are SQL-expressible (oracle-able); the same
  * transforms run under Structured Streaming via [[streamingTumbling]]
  * (groupBy window + watermark) — identical logical plan, incremental
  * execution. Every streaming builder calls [[Checkpoints.install]], so
  * the session's queries checkpoint through
  * [[LocalCheckpointFileManager]] unless the session names another
  * manager.
  */
object Events {

  /** Load the events table. The corpus generator has shipped `ts` as
    * TIMESTAMP(NANOS) (read as Long under
    * `spark.sql.legacy.parquet.nanosAsLong=true` — converted here with
    * floor division, matching DuckDB's epoch_us) and, since r13, as plain
    * `timestamp[us]` that Spark infers as TIMESTAMP_NTZ —
    * [[graft.Tables.normalizeTimestamps]] rewrites that to TimestampType
    * (required by event-time watermarks). */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val df = graft.Tables.load(spark, dir, "events")
    if (df.schema("ts").dataType == LongType)
      // integer `div`: double division would lose precision at 1e18 nanos
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  /** Tumbling-window counts + value stats per event type. Epoch-aligned
    * windows (Spark `window()` with one duration == date_trunc). */
  def tumblingStats(df: DataFrame, width: String = "1 hour"): DataFrame =
    df.groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(avg(col("value")), 6).as("avg_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("avg_value"))

  /** Hopping (sliding) windows: every event lands in width/slide
    * overlapping epoch-aligned windows (Spark `window(ts, width, slide)`
    * — the Expand under it replicates each row width/slide times
    * map-side, then ONE hash aggregation; no self-join, no range join).
    * `window_start_sec` is emitted as epoch seconds so the cross-engine
    * compare never rides on timestamp-type/timezone rendering. */
  def hoppingStats(df: DataFrame, width: String = "1 hour",
      slide: String = "30 minutes"): DataFrame =
    df.groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(avg(col("value")), 6).as("avg_value"))
      .select(col("w.start").cast(LongType).as("window_start_sec"),
        col("event_type"), col("n_events"), col("avg_value"))

  /** Session assignment: a session breaks when the gap to the previous
    * event of the same user exceeds `gapSeconds`. Pure window functions —
    * lag + running sum of break flags — shuffle = one hash partition by
    * user. Returns per-session aggregates. */
  def sessionize(df: DataFrame, gapSeconds: Long = 1800): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val tsSec = col("ts").cast(DoubleType)
    val prev = lag(tsSec, 1).over(byUser)
    val isBreak = when(prev.isNull || tsSec - prev > gapSeconds, 1L).otherwise(0L)
    df.withColumn("__brk", isBreak)
      .withColumn("session_id",
        sum(col("__brk")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        round(min(tsSec), 6).as("start_sec"),
        round(max(tsSec) - min(tsSec), 6).as("duration_sec"))
  }

  /** Structured Streaming twin of [[tumblingStats]]: same aggregation over
    * a stream with an event-time watermark. Call with a streaming
    * DataFrame (readStream / MemoryStream); complete/update/append mode is
    * the caller's sink choice. */
  def streamingTumbling(stream: DataFrame, width: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    Checkpoints.install(stream.sparkSession)
    stream.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), avg(col("value")).as("avg_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("avg_value"))
  }

  /** Streaming twin of [[hoppingStats]]: the same width/slide windowed
    * aggregation under a watermark — the window() Expand works unchanged
    * in micro-batch execution (each event updates width/slide window
    * states; late data inside the watermark merges into both). */
  def streamingHopping(stream: DataFrame, width: String = "1 hour",
      slide: String = "30 minutes", watermark: String = "2 hours"): DataFrame = {
    Checkpoints.install(stream.sparkSession)
    stream.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), avg(col("value")).as("avg_value"))
      .select(col("w.start").cast(LongType).as("window_start_sec"),
        col("event_type"), col("n_events"), col("avg_value"))
  }

  final case class SessionState(start: Long, last: Long, n: Long)
  final case class SessionOut(user_id: Long, n_events: Long,
      start_sec: Double, duration_sec: Double)

  /** Stateful streaming sessionization: per-user custom state via
    * flatMapGroupsWithState with an event-time timeout — a closed session
    * (inactivity > gap, or watermark passed) is emitted downstream. The
    * streaming counterpart of the batch [[sessionize]]. */
  def streamingSessionize(stream: DataFrame, gapSeconds: Long = 1800)
      : org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    Checkpoints.install(spark)
    import spark.implicits._
    def emit(uid: Long, st: SessionState): SessionOut =
      SessionOut(uid, st.n, st.start / 1e6, (st.last - st.start) / 1e6)
    stream.selectExpr("user_id", "unix_micros(ts) AS us", "ts")
      .withWatermark("ts", s"${gapSeconds * 2} seconds")
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(emit(uid, _)).toList
            state.remove()
            out.iterator
          } else {
            val sorted = rows.map(_._2).toSeq.sorted
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { us =>
              cur match {
                case Some(st) if us - st.last > gapSeconds * 1000000L =>
                  closed ::= emit(uid, st)
                  cur = Some(SessionState(us, us, 1))
                case Some(st) =>
                  cur = Some(SessionState(st.start, math.max(st.last, us), st.n + 1))
                case None =>
                  cur = Some(SessionState(us, us, 1))
              }
            }
            cur.foreach { st =>
              state.update(st)
              state.setTimeoutTimestamp(st.last / 1000 + gapSeconds * 1000)
            }
            closed.reverse.iterator
          }
      }
  }
}
