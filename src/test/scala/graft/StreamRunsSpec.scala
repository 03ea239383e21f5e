package graft

import org.apache.spark.sql.functions._
import graft.streaming.{Events, StreamRuns}

/** Pins the `Trigger.AvailableNow` file-source harness (StreamRuns) —
  * the deterministic micro-batch decomposition via per-file mtimes, the
  * sentinel-batch timeout flush, and the event-time-ordered dedup replay
  * — against the batch twins at sf0.001. The driver oracle re-checks the
  * same equalities at sf0.01; this spec catches a harness refactor
  * between rounds without waiting for a verify cycle. */
class StreamRunsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("tumblingAvailableNow equals batch tumblingStats") {
    val got = StreamRuns.tumblingAvailableNow(spark, dir).collect().toSeq
    val want = Events.tumblingStats(Events.load(spark, dir))
      .orderBy("window_start", "event_type").collect().toSeq
    assert(want.nonEmpty && got == want)
  }

  test("tumblingProcessingTime (real always-on trigger) equals batch " +
      "tumblingStats (r15)") {
    // recentProgress is capped at spark.sql.streaming.numRecentProgressUpdates
    // (default 100) — far above the ~4 batches the two-file staging plus
    // empty firings produce before the guard stops the query, so the
    // consumed-row sum in the stop guard cannot silently undercount
    val got = StreamRuns.tumblingProcessingTime(spark, dir)
      .collect().toSeq
    val want = Events.tumblingStats(Events.load(spark, dir))
      .select(col("window_start"), col("event_type"), col("n_events"),
        round(col("avg_value"), 6).as("avg_value"))
      .orderBy("window_start", "event_type").collect().toSeq
    assert(want.nonEmpty && got == want)
  }

  test("hoppingProcessingTime (real always-on trigger) equals batch " +
      "hoppingStats (r16)") {
    val got = StreamRuns.hoppingProcessingTime(spark, dir).collect().toSeq
    val want = Events.hoppingStats(Events.load(spark, dir))
      .orderBy("window_start_sec", "event_type").collect().toSeq
    assert(want.nonEmpty && got == want)
  }

  test("sessionizeProcessingTime (real always-on trigger) equals batch " +
      "sessionize (r16)") {
    // same multi-event-session precondition as the AvailableNow test:
    // without it the longest-session cut degrades to the no-merge
    // midpoint fallback and the wall-clock-boundary merge goes untested
    val maxDur = Events.sessionize(Events.load(spark, dir))
      .agg(max($"duration_sec")).head().getDouble(0)
    assert(maxDur > 0,
      s"no multi-event session at $dir — the sessionize stream run would " +
        "not exercise a cross-batch session merge")
    val got = StreamRuns.sessionizeProcessingTime(spark, dir).collect().toSeq
    val want = Events.sessionize(Events.load(spark, dir))
      .select($"user_id", $"n_events", $"start_sec", $"duration_sec")
      .orderBy("user_id", "start_sec").collect().toSeq
    assert(want.nonEmpty && got == want)
  }

  test("sessionizeAvailableNow equals batch sessionize (session_id dropped)") {
    // Precondition for the cross-batch-merge coverage the r12 split adds:
    // the corpus must have a multi-event session, so the longest-session
    // cut lands INSIDE a session and its rows arrive in different data
    // batches. If this ever fails the run silently degrades to the
    // no-merge range-midpoint fallback — fail loudly here instead.
    val maxDur = Events.sessionize(Events.load(spark, dir))
      .agg(max($"duration_sec")).head().getDouble(0)
    assert(maxDur > 0,
      s"no multi-event session at $dir — the sessionize stream run would " +
        "not exercise a cross-batch session merge")
    val got = StreamRuns.sessionizeAvailableNow(spark, dir).collect().toSeq
    val want = Events.sessionize(Events.load(spark, dir))
      .select($"user_id", $"n_events", $"start_sec", $"duration_sec")
      .orderBy("user_id", "start_sec").collect().toSeq
    assert(want.nonEmpty && got == want)
  }

  test("hoppingAvailableNow equals batch hoppingStats") {
    val got = StreamRuns.hoppingAvailableNow(spark, dir).collect().toSeq
    val want = Events.hoppingStats(Events.load(spark, dir))
      .orderBy("window_start_sec", "event_type").collect().toSeq
    assert(want.nonEmpty && got == want)
  }

  test("dedupExactProcessingTime (real always-on trigger) equals the " +
      "batch stream twin — key state retained across wall-clock " +
      "batch boundaries (r17)") {
    // Precondition for the retention coverage: at least one dedup key
    // must appear on BOTH sides of the median-ts cut, or batch 2 never
    // consults batch-1 state and the test silently degrades to two
    // independent dedups. Fail loudly instead.
    val ev = Events.load(spark, dir)
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
    val midUs = ev.agg(expr("percentile_approx(us, 0.5)")).head().getLong(0)
    val straddling = ev.groupBy("user_id", "event_type")
      .agg(min($"us").as("lo"), max($"us").as("hi"))
      .where($"lo" <= midUs && $"hi" > midUs).count()
    assert(straddling > 0,
      s"no dedup key straddles the median-ts cut at $dir — the " +
        "processing-time run would not exercise cross-batch state retention")
    val got = StreamRuns.dedupExactProcessingTime(spark, dir).collect().toSeq
    val want = graft.ops.Dedup
      .streamTwinExact(Events.load(spark, dir), "ts",
        Seq("user_id", "event_type"), "event_id")
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
      .orderBy("user_id", "event_type").collect().toSeq
    assert(want.nonEmpty && got == want)
  }

  test("dedupExactAvailableNow equals the batch stream twin") {
    val got = StreamRuns.dedupExactAvailableNow(spark, dir).collect().toSeq
    val want = graft.ops.Dedup
      .streamTwinExact(Events.load(spark, dir), "ts",
        Seq("user_id", "event_type"), "event_id")
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
      .orderBy("user_id", "event_type").collect().toSeq
    assert(want.nonEmpty && got == want)
  }

  test("the AvailableNow runs leave no directory handle open") {
    val fds = java.nio.file.Paths.get("/proc/self/fd")
    assume(java.nio.file.Files.isDirectory(fds), "/proc/self/fd is missing")
    def openFds(): Long = {
      val s = java.nio.file.Files.list(fds)
      try s.count() finally s.close()
    }
    def pair(): Unit = {
      StreamRuns.sessionizeAvailableNow(spark, dir).collect()
      StreamRuns.dedupExactAvailableNow(spark, dir).collect()
    }
    pair() // first run opens the jars, pools and local dirs it keeps
    val before = openFds()
    pair()
    assert(openFds() == before)
  }
}
