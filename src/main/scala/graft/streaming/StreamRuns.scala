package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Bounded runs of the streaming operators over the real events table,
  * shaped as batch-returning query functions so the DRIVER ORACLE sees
  * the streaming engine itself (micro-batch state merge, watermark
  * advance, event-time timeouts) — not just the batch twins. Each stream
  * kind has one entry point ([[tumbling]], [[hopping]], [[sessionize]],
  * [[dedupExact]]) whose result must equal its batch twin; the trigger
  * is a value the caller passes, `Trigger.AvailableNow()` by default
  * (the oracle rows) or e.g. `Trigger.ProcessingTime` (StreamRunsSpec's
  * always-on parity cases).
  *
  * All four go through one runner, [[run]]:
  *  - the events table is STAGED to a per-call scratch dir as parquet and
  *    consumed via a file-source `readStream` with an explicit schema —
  *    the same source shape a production ingest uses;
  *  - `maxFilesPerTrigger=1` + explicit ascending file mtimes make the
  *    micro-batch decomposition deterministic (the file source processes
  *    files in modification-time order), so the run genuinely exercises
  *    MULTI-batch execution, not one giant batch;
  *  - results land in a memory sink under a per-call unique name, and the
  *    query is drained with `processAllAvailable()`. That call returns
  *    when the query has terminated (AvailableNow stops itself once the
  *    staged files are consumed) or when a trigger found no new data and
  *    no no-data batch to run (`MicroBatchExecution` flags "no new data"
  *    only when it builds no batch) — the quiescent point where every
  *    staged file is committed to the sink. A failed query rethrows its
  *    error from that call. The source is a private scratch dir that gets
  *    no file after staging, so an always-on trigger always reaches that
  *    point and needs no deadline;
  *  - the scratch and checkpoint dirs are deleted once the query stops
  *    (the memory sink holds the rows).
  */
object StreamRuns {

  private val calls = new AtomicInteger(0)

  /** A fresh per-call path `<base>/graft_<tag>_<sf>_<pid>_<n>`, absent on
    * return (a parquet write into it requires that). The pid lets
    * [[graft.SparkEntry.sweepDeadScratch]] reclaim what a crashed run
    * left behind. */
  private def scratch(base: String, tag: String, dir: String): Path = {
    val sf = new java.io.File(dir).getName
    val p = Paths.get(base,
      s"graft_${tag}_${sf}_${ProcessHandle.current().pid()}_${calls.incrementAndGet()}")
    deleteRec(p)
    p
  }

  /** Checkpoint base: /dev/shm when present, else the JVM temp dir. These
    * runs end in a MEMORY sink and the checkpoint is discarded with the
    * query, so durability buys nothing; a production always-on stream
    * keeps its checkpoint on durable storage. The streaming builders
    * install [[LocalCheckpointFileManager]] ([[Checkpoints.install]]),
    * which writes the checkpoint files without starting a process. */
  private def checkpointBase: String =
    if (Files.isDirectory(Paths.get("/dev/shm"))) "/dev/shm"
    else System.getProperty("java.io.tmpdir", "/tmp")

  /** Delete `p` and everything under it; a missing `p` is a no-op. */
  private[graft] def deleteRec(p: Path): Unit = {
    if (Files.exists(p)) {
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.forEach(deleteRec(_)) finally s.close()
      }
      Files.deleteIfExists(p)
    }
  }

  /** Stage the events of `dir` with `stage(in)`, then run `build(stream)`
    * over a file-source stream of `in`'s parquet files — one file per
    * micro-batch — into a memory sink under `trigger`, drain it with
    * `processAllAvailable()` and return the sink table. */
  private def run(spark: SparkSession, dir: String, kind: String,
      trigger: Trigger, outputMode: String)(stage: Path => Unit)(
      build: DataFrame => DataFrame): DataFrame = {
    val in = scratch("/tmp", s"stream_$kind", dir)
    val ckpt = scratch(checkpointBase, s"ckpt_$kind", dir)
    try {
      stage(in)
      val schema = spark.read.parquet(in.toString).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(in.toString)
      val name = s"graft_stream_sink_${calls.incrementAndGet()}"
      // A stateful streaming query spins up one state-store instance per
      // shuffle partition PER MICRO-BATCH (load, commit, checkpoint file) —
      // at the session's 32 partitions over ~4 batches that fixed cost
      // dwarfs the actual event volume. 8 partitions is plenty for the
      // events table while exercising real multi-partition state; the conf
      // is scoped to the stream (a streaming query latches confs at start)
      // and restored before the batch-side result query runs.
      val confKey = "spark.sql.shuffle.partitions"
      val prevParts = spark.conf.getOption(confKey)
      val q =
        try {
          spark.conf.set(confKey, "8")
          build(stream).writeStream.format("memory").queryName(name)
            .option("checkpointLocation", ckpt.toString)
            .outputMode(outputMode).trigger(trigger).start()
        } finally prevParts.fold(spark.conf.unset(confKey))(spark.conf.set(confKey, _))
      try q.processAllAvailable() finally q.stop()
      // `spark.table` resolves eagerly, so the returned Dataset's plan
      // already holds the sink relation and outlives the view; dropping
      // the registration keeps the session catalog from pinning one full
      // result copy in the driver per run
      val out = spark.table(name)
      spark.catalog.dropTempView(name)
      out
    } finally {
      deleteRec(ckpt) // memory sink holds the rows; state is dead
      deleteRec(in)
    }
  }

  /** Move the single data part-file of a one-partition parquet write into
    * `destDir` under `name`, with an explicit mtime so the file source's
    * modification-time ordering is deterministic. */
  private def moveOnlyPart(writeDir: Path, destDir: Path, name: String,
      mtimeMs: Long): Unit = {
    val s = Files.list(writeDir)
    val part =
      try s.filter(_.getFileName.toString.startsWith("part-")).findFirst().get()
      finally s.close()
    val dest = destDir.resolve(name)
    Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(dest, FileTime.fromMillis(mtimeMs))
    deleteRec(writeDir)
  }

  /** Write `df` (carrying an int `__b` batch column) as ONE single-task job
    * partitioned by `__b`, rows sorted by `sortBy` within each batch, then
    * move each batch's single part-file into `destDir` under its target
    * name/mtime. A batch value with no rows (possible only on degenerate
    * corpora) still stages an EMPTY file of `df`'s schema — the
    * micro-batch decomposition must not silently lose a planned batch. */
  private def stagePartitioned(df: DataFrame, destDir: Path, scratchName: String,
      batches: Seq[(Int, (String, Long))], sortBy: Seq[String] = Nil): Unit = {
    Files.createDirectories(destDir)
    val d = destDir.resolve(scratchName)
    df.repartition(1).sortWithinPartitions(("__b" +: sortBy).map(col): _*)
      .write.partitionBy("__b").parquet(d.toString)
    batches.foreach { case (b, (name, mtimeMs)) =>
      val pDir = d.resolve(s"__b=$b")
      if (Files.isDirectory(pDir)) moveOnlyPart(pDir, destDir, name, mtimeMs)
      else {
        val e = destDir.resolve(s"${scratchName}_empty$b")
        df.drop("__b").limit(0).coalesce(1).write.parquet(e.toString)
        moveOnlyPart(e, destDir, name, mtimeMs)
      }
    }
    deleteRec(d)
  }

  /** Stage the events table's (ts, event_type, value) projection into
    * `in` as TWO single-file micro-batches split by a hash repartition —
    * arrival order is decoupled from event time, so the second batch
    * delivers late rows and updates first-batch aggregate state; distinct
    * ascending mtimes make the batch order deterministic. Two data
    * batches keep the cross-batch merge genuinely exercised at ~0.5 s
    * fixed cost per extra micro-batch (measured); the deeper
    * 4-shuffled-batch equivalence is StreamingSpec's job. */
  private def stageTwoShuffledBatches(spark: SparkSession, dir: String)(
      in: Path): Unit = {
    Events.load(spark, dir)
      .select("ts", "event_type", "value")
      .repartition(2).write.parquet(in.toString)
    val s = Files.list(in)
    val parts =
      try s.filter(_.getFileName.toString.startsWith("part-"))
        .sorted().toArray.map(_.asInstanceOf[Path])
      finally s.close()
    val t0 = System.currentTimeMillis()
    parts.zipWithIndex.foreach { case (p, i) =>
      Files.setLastModifiedTime(p, FileTime.fromMillis(t0 + i * 10000L))
    }
  }

  /** [[Events.streamingTumbling]] over two shuffled micro-batches
    * ([[stageTwoShuffledBatches]]); complete output mode evicts nothing,
    * so the final table must equal the batch aggregation exactly,
    * however many trigger firings the rows landed across. */
  def tumbling(spark: SparkSession, dir: String, width: String = "1 hour",
      trigger: Trigger = Trigger.AvailableNow()): DataFrame =
    run(spark, dir, "tumbling", trigger, "complete")(
      stageTwoShuffledBatches(spark, dir))(
      s => Events.streamingTumbling(s, width))
      .select(col("window_start"), col("event_type"), col("n_events"),
        round(col("avg_value"), 6).as("avg_value"))
      .orderBy("window_start", "event_type")

  /** [[Events.streamingHopping]] with the same staging and complete-mode
    * sink as [[tumbling]], exercising the overlapping-window state merge
    * (each event updates width/slide window states per micro-batch). */
  def hopping(spark: SparkSession, dir: String, width: String = "1 hour",
      slide: String = "30 minutes",
      trigger: Trigger = Trigger.AvailableNow()): DataFrame =
    run(spark, dir, "hopping", trigger, "complete")(
      stageTwoShuffledBatches(spark, dir))(
      s => Events.streamingHopping(s, width, slide))
      .select(col("window_start_sec"), col("event_type"), col("n_events"),
        round(col("avg_value"), 6).as("avg_value"))
      .orderBy("window_start_sec", "event_type")

  /** [[Events.streamingSessionize]] over TWO chronological data batches
    * (split inside the longest session, so at least one session MERGES
    * across micro-batches) followed by two far-future sentinel batches —
    * the first advances max event time, the second's recomputed
    * watermark fires every pending event-time timeout so all real
    * sessions flush through the Append sink. Sentinel users are negative
    * ids, filtered from the result; their own sessions stay open in
    * state and are discarded with the query.
    *
    * The split is by TIME, not by user hash: a user-hash split keeps
    * every user's history inside one batch, so no session could span
    * batches — exactly the path that needs coverage. And the cut point
    * is chosen INSIDE the longest batch-side session, not at the range
    * midpoint: the events corpus has ~9.5k short sessions spread over a
    * long range (avg 42 s at sf0.01), so an arbitrary global cut almost
    * surely lands between sessions and exercises no merge — the
    * longest-session cut guarantees at least one session extends
    * first-batch state with second-batch rows (every intra-session gap
    * is ≤ the session gap by definition, so the rows on either side of
    * the cut MUST merge). A corpus with only single-event sessions falls
    * back to the range midpoint. The chronological cut is watermark-safe
    * by construction: after batch 1 the watermark is
    * max(batch-1 ts) − 2·gap, strictly below every batch-2 event (all
    * > cut ≥ max(batch-1 ts)), so nothing is late-dropped and the result
    * stays bit-identical to the batch twin. Sessions whose event-time
    * timeout (last + gap) falls below that watermark close BETWEEN the
    * data batches — the mid-stream timeout path — and any later event of
    * such a user is > gap away by the same inequality, so the batch twin
    * opens a new session there too. */
  def sessionize(spark: SparkSession, dir: String, gapSeconds: Long = 1800,
      trigger: Trigger = Trigger.AvailableNow()): DataFrame =
    run(spark, dir, "sessionize", trigger, "append")(
      stageSessionizeBatches(spark, dir, gapSeconds))(
      s => Events.streamingSessionize(s, gapSeconds).toDF())
      .where(col("user_id") >= 0)
      .select(col("user_id"), col("n_events"),
        round(col("start_sec"), 6).as("start_sec"),
        round(col("duration_sec"), 6).as("duration_sec"))
      .orderBy("user_id", "start_sec")

  /** The [[sessionize]] staging: two chronological data batches cut
    * inside the longest batch-side session, then two far-future sentinel
    * batches. */
  private def stageSessionizeBatches(spark: SparkSession, dir: String,
      gapSeconds: Long)(in: Path): Unit = {
    import spark.implicits._
    val base = Events.load(spark, dir).select("user_id", "ts", "event_id")
    // ONE sessionizer pass yields the min event time = min(start_sec),
    // the max event time = max(start_sec + duration_sec) (both 6-dp-
    // rounded, i.e. exact to the microsecond; they only PLACE the
    // far-future sentinels and the degenerate-corpus fallback midpoint)
    // and the longest session via max(struct(duration, -user, -start)):
    // the (duration DESC, user ASC, start ASC) tie-break.
    val r = Events.sessionize(base, gapSeconds).agg(
      min(col("start_sec")).as("mn"),
      max(col("start_sec") + col("duration_sec")).as("mx"),
      max(struct(col("duration_sec").as("d"), (-col("user_id")).as("nu"),
        (-col("start_sec")).as("ns"))).as("lg")).head()
    val minMs = (r.getDouble(0) * 1000).toLong
    val maxMs = (r.getDouble(1) * 1000).toLong
    val lg = r.getStruct(2)
    val (lgDur, lgStart) = (lg.getDouble(0), -lg.getDouble(2))
    val midMs =
      if (lgDur > 0) ((lgStart + lgDur / 2) * 1000).toLong
      else minMs + (maxMs - minMs) / 2
    val t0 = System.currentTimeMillis()

    // both data batches in ONE partitioned write. Row order inside a data
    // file is irrelevant here — the sessionizer sorts each user's rows per
    // micro-batch — only the FILE split (ts vs midMs) and the mtime order
    // carry semantics.
    val mid = new java.sql.Timestamp(midMs)
    stagePartitioned(
      base.withColumn("__b", when(col("ts") <= mid, 1).otherwise(2)),
      in, "__data",
      Seq(1 -> ("data1.parquet", t0), 2 -> ("data2.parquet", t0 + 10000L)))

    // both sentinels in one write too
    val sentinels = Seq(
      (-1L, new java.sql.Timestamp(maxMs + gapSeconds * 1000L * 10),
        10000001L, 1),
      (-2L, new java.sql.Timestamp(maxMs + gapSeconds * 1000L * 20),
        10000002L, 2))
      .toDF("user_id", "ts", "event_id", "__b")
    stagePartitioned(sentinels, in, "__s",
      Seq(1 -> ("sentinel1.parquet", t0 + 20000L),
        2 -> ("sentinel2.parquet", t0 + 30000L)))
  }

  /** [[graft.ops.Dedup.streamingExact]] replayed in event-time arrival
    * order, across a micro-batch boundary. The corpus is staged as TWO
    * chronological single-part files cut at the median event time, each
    * sorted by (ts, event_id): a chronological cut plus one input
    * partition per batch keeps per-key arrival order equal to event-time
    * order (a single-partition batch keeps its order through the key
    * shuffle), so the first-seen row the state keeps IS the batch twin's
    * min-(ts, event_id) survivor, and every key whose first occurrence
    * landed in batch 1 reaches its batch-2 duplicates only through state
    * the store RETAINED across the batch boundary. The dedup watermark is
    * sized past the corpus's whole event-time span so no state evicts
    * mid-replay — the final rows must equal the batch twin's global
    * survivor set exactly. */
  def dedupExact(spark: SparkSession, dir: String,
      trigger: Trigger = Trigger.AvailableNow()): DataFrame = {
    val base = Events.load(spark, dir)
    val us = unix_micros(col("ts"))
    // median-ts cut (by row mass, not range midpoint — a skewed ts
    // distribution must not leave one batch near-empty); identical-ts
    // rows can never straddle the cut, so key+ts tie groups stay
    // whole-batch and the (ts, event_id) arrival order is global
    val r = base.agg(min(us), max(us), percentile_approx(us, lit(0.5), lit(10000)))
      .head()
    val (minUs, maxUs, midUs) = (r.getLong(0), r.getLong(1), r.getLong(2))
    // watermark > full event-time span => zero evictions mid-replay
    val wmSec = (maxUs - minUs) / 1000000L + 3600L
    def stage(in: Path): Unit = {
      val t0 = System.currentTimeMillis()
      stagePartitioned(base.withColumn("__b", when(us <= midUs, 1).otherwise(2)),
        in, "__data",
        Seq(1 -> ("data1.parquet", t0), 2 -> ("data2.parquet", t0 + 10000L)),
        sortBy = Seq("ts", "event_id"))
    }
    run(spark, dir, "dedup", trigger, "append")(stage)(
      s => graft.ops.Dedup.streamingExact(s, "ts", s"$wmSec seconds",
        Seq("user_id", "event_type")))
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
      .orderBy("user_id", "event_type")
  }
}
