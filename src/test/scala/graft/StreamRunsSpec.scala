package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.{Events, StreamRuns}

/** Pins the file-source streaming harness (StreamRuns) — the
  * deterministic micro-batch decomposition via per-file mtimes, the
  * sentinel-batch timeout flush, and the event-time-ordered dedup replay
  * — against the batch twins at sf0.001, under both the drain-and-stop
  * `Trigger.AvailableNow` and a real always-on `Trigger.ProcessingTime`.
  * The driver oracle re-checks the AvailableNow equalities at sf0.01;
  * this spec catches a harness refactor between rounds without waiting
  * for a verify cycle. */
class StreamRunsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val always = Trigger.ProcessingTime("200 milliseconds")

  // tumblingStats already rounds avg_value to 6 dp, like the stream run
  private def tumblingWant =
    Events.tumblingStats(Events.load(spark, dir))
      .orderBy("window_start", "event_type").collect().toSeq

  private def hoppingWant =
    Events.hoppingStats(Events.load(spark, dir))
      .orderBy("window_start_sec", "event_type").collect().toSeq

  /** The batch sessionizer (session_id dropped), after asserting the
    * precondition for cross-batch-merge coverage: the corpus must have a
    * multi-event session, so the longest-session cut lands INSIDE a
    * session and its rows arrive in different data batches. If this ever
    * fails the run silently degrades to the no-merge range-midpoint
    * fallback — fail loudly instead. */
  private def sessionizeWant = {
    val maxDur = Events.sessionize(Events.load(spark, dir))
      .agg(max($"duration_sec")).head().getDouble(0)
    assert(maxDur > 0,
      s"no multi-event session at $dir — the sessionize stream run would " +
        "not exercise a cross-batch session merge")
    Events.sessionize(Events.load(spark, dir))
      .select($"user_id", $"n_events", $"start_sec", $"duration_sec")
      .orderBy("user_id", "start_sec").collect().toSeq
  }

  /** The batch stream twin of the exact dedup, after asserting the
    * precondition for the retention coverage: at least one dedup key
    * must appear on BOTH sides of the median-ts cut, or batch 2 never
    * consults batch-1 state and the run silently degrades to two
    * independent dedups. */
  private def dedupWant = {
    val ev = Events.load(spark, dir)
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
    val midUs = ev.agg(expr("percentile_approx(us, 0.5)")).head().getLong(0)
    val straddling = ev.groupBy("user_id", "event_type")
      .agg(min($"us").as("lo"), max($"us").as("hi"))
      .where($"lo" <= midUs && $"hi" > midUs).count()
    assert(straddling > 0,
      s"no dedup key straddles the median-ts cut at $dir — the " +
        "stream run would not exercise cross-batch state retention")
    graft.ops.Dedup
      .streamTwinExact(Events.load(spark, dir), "ts",
        Seq("user_id", "event_type"), "event_id")
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
      .orderBy("user_id", "event_type").collect().toSeq
  }

  test("tumblingAvailableNow equals batch tumblingStats") {
    val got = StreamRuns.tumbling(spark, dir).collect().toSeq
    val want = tumblingWant
    assert(want.nonEmpty && got == want)
  }

  test("tumblingProcessingTime (real always-on trigger) equals batch " +
      "tumblingStats (r15)") {
    val got = StreamRuns.tumbling(spark, dir, trigger = always).collect().toSeq
    val want = tumblingWant
    assert(want.nonEmpty && got == want)
  }

  test("hoppingProcessingTime (real always-on trigger) equals batch " +
      "hoppingStats (r16)") {
    val got = StreamRuns.hopping(spark, dir, trigger = always).collect().toSeq
    val want = hoppingWant
    assert(want.nonEmpty && got == want)
  }

  test("sessionizeProcessingTime (real always-on trigger) equals batch " +
      "sessionize (r16)") {
    val want = sessionizeWant
    val got = StreamRuns.sessionize(spark, dir, trigger = always)
      .collect().toSeq
    assert(want.nonEmpty && got == want)
  }

  test("sessionizeAvailableNow equals batch sessionize (session_id dropped)") {
    val want = sessionizeWant
    val got = StreamRuns.sessionize(spark, dir).collect().toSeq
    assert(want.nonEmpty && got == want)
  }

  test("hoppingAvailableNow equals batch hoppingStats") {
    val got = StreamRuns.hopping(spark, dir).collect().toSeq
    val want = hoppingWant
    assert(want.nonEmpty && got == want)
  }

  test("dedupExactProcessingTime (real always-on trigger) equals the " +
      "batch stream twin — key state retained across wall-clock " +
      "batch boundaries (r17)") {
    val want = dedupWant
    val got = StreamRuns.dedupExact(spark, dir, trigger = always)
      .collect().toSeq
    assert(want.nonEmpty && got == want)
  }

  test("dedupExactAvailableNow equals the batch stream twin") {
    val want = dedupWant
    val got = StreamRuns.dedupExact(spark, dir).collect().toSeq
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
      StreamRuns.sessionize(spark, dir).collect()
      StreamRuns.dedupExact(spark, dir).collect()
    }
    pair() // first run opens the jars, pools and local dirs it keeps
    val before = openFds()
    pair()
    assert(openFds() == before)
  }
}
