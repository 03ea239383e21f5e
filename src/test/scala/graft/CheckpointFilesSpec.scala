package graft

import java.nio.ByteBuffer
import java.nio.file.{Files, Path, StandardOpenOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException,
  Path => HPath}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.ops.Dedup
import graft.streaming.{Events, LocalCheckpointFileManager, StreamSetup}

/** Pins the streaming builders' session setup ([[StreamSetup]]). Under
  * [[LocalCheckpointFileManager]], local streaming checkpoints start no
  * `chmod`/`readlink` process, and hold the same files, rows, restart and
  * checksum behaviour as under Spark's default `FileContext` manager.
  * With class-loader isolation off, a restarted stream compiles no class
  * its first run compiled. */
class CheckpointFilesSpec extends SparkSpec {

  private val key = StreamSetup.ManagerClassKey
  private val isolation = StreamSetup.IsolationKey
  private val fileContext = classOf[FileContextBasedCheckpointFileManager].getName
  private val local = classOf[LocalCheckpointFileManager].getName
  private val queries = new AtomicInteger(0)

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Rows of input file `i`: hour `i` of events for 7 users, every tenth
    * row repeated (same event id) for the dedup streams. */
  private def fileRows(i: Int): Seq[Row] = {
    val base = 1704067200000L + i * 3600000L
    val rows = (0 until 60).map { k =>
      Row(i * 1000L + k, new java.sql.Timestamp(base + k * 60000L),
        (k % 7).toLong, if (k % 2 == 0) "click" else "view", k.toDouble)
    }
    rows ++ rows.filter(_.getLong(0) % 10 == 0)
  }

  /** Stages input file `i` into `dir` as one parquet file whose mtime
    * orders it after files `0 until i`. */
  private def stage(dir: Path, i: Int): Unit = {
    val w = Files.createTempDirectory("graft_ckpt_spec_write")
    try {
      spark.createDataFrame(fileRows(i).asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(w.toString)
      val s = Files.list(w)
      val part =
        try s.filter(_.getFileName.toString.startsWith("part-")).findFirst().get()
        finally s.close()
      val dest = dir.resolve(s"f$i.parquet")
      Files.move(part, dest)
      Files.setLastModifiedTime(dest, FileTime.fromMillis(1700000000000L + i * 10000L))
    } finally deleteTree(w)
  }

  private def inputDir(files: Int): Path = {
    val d = Files.createTempDirectory("graft_ckpt_spec_in")
    (0 until files).foreach(stage(d, _))
    d
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.forEach(deleteTree(_)) finally s.close()
      }
      Files.delete(p)
    }

  private def stream(in: Path): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(in.toString)

  /** Drains `df` AvailableNow into a memory sink; the sink's sorted rows
    * and the run's progress reports. Throws the query's failure. */
  private def drain(df: DataFrame, ckpt: Path, mode: String = "append")
      : (Seq[String], Seq[StreamingQueryProgress]) = {
    val name = s"graft_ckpt_spec_${queries.incrementAndGet()}"
    val q = df.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt.toString).outputMode(mode)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    try (spark.table(name).collect().map(_.toString).sorted.toSeq,
      q.recentProgress.toSeq)
    finally spark.catalog.dropTempView(name)
  }

  /** Runs `body` with the session's setting `k` at `v` (unset for
    * `None`), then restores the session's own value, or none. */
  private def withConf[A](k: String, v: Option[String])(body: => A): A = {
    val prev = spark.conf.getAll.get(k)
    v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    try body
    finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  private def dedup(in: Path): DataFrame =
    Dedup.streamingExact(stream(in), "ts", "1 hour", Seq("event_id"))

  /** Window counts, for the complete-mode runs: a memory sink recovers
    * from its checkpoint only in complete mode. */
  private def windowCounts(df: DataFrame): DataFrame =
    df.select(col("window_start"), col("event_type"), col("n_events"))

  private val uuid =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** Every file under `root`, relative, UUIDs masked, sorted. */
  private def checkpointFiles(root: Path): Seq[String] = {
    val s = Files.walk(root)
    try s.filter(Files.isRegularFile(_)).iterator().asScala
      .map(p => uuid.replaceAllIn(root.relativize(p).toString, "<uuid>"))
      .toSeq.sorted
    finally s.close()
  }

  test("local checkpoints start no chmod or readlink process") {
    val in = inputDir(3)
    val ckpt = Files.createTempDirectory("graft_ckpt_spec_spawn")
    val jfr = Files.createTempFile("graft_ckpt_spec", ".jfr")
    try withConf(key, None) {
      // only this JVM's process starts are recorded
      val rec = new Recording()
      try {
        rec.enable("jdk.ProcessStart")
        rec.start()
        drain(Events.streamingSessionize(stream(in), 1800).toDF(),
          ckpt.resolve("sessions"))
        drain(dedup(in), ckpt.resolve("dedup"))
        // marker: proves the recording sees this JVM's spawns
        new ProcessBuilder("true").start().waitFor()
        rec.stop()
        rec.dump(jfr)
      } finally rec.close()
      val commands = RecordingFile.readAllEvents(jfr).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command")).toSeq
      assert(commands.contains("true"), commands)
      val forks = commands.filter(c =>
        (c.startsWith("chmod") || c.startsWith("readlink")) &&
          c.contains(ckpt.getFileName.toString))
      assert(forks.isEmpty,
        s"${forks.size} chmod/readlink spawns on the checkpoint, e.g. ${forks.take(3)}")
      assert(checkpointFiles(ckpt).exists(_.startsWith("dedup/offsets/")))
    } finally Seq(in, ckpt, jfr).foreach(deleteTree)
  }

  test("both managers write the same checkpoint files and sink rows") {
    val in = inputDir(3)
    val ckpt = Files.createTempDirectory("graft_ckpt_spec_parity")
    try {
      val runs = Seq(fileContext, local).map { cls =>
        withConf(key, Some(cls)) {
          val dir = ckpt.resolve(cls.split('.').last)
          val (rows, _) = drain(dedup(in), dir)
          (rows, checkpointFiles(dir))
        }
      }
      val Seq((fcRows, fcFiles), (localRows, localFiles)) = runs
      assert(fcRows.size == 3 * 60 && localRows == fcRows)
      assert(fcFiles.exists(_.endsWith(".crc")) &&
        fcFiles.exists(_.endsWith(".delta")), fcFiles)
      assert(localFiles == fcFiles)
    } finally Seq(in, ckpt).foreach(deleteTree)
  }

  test("restart processes only the new file and restores state") {
    val in = inputDir(3)
    val ckpt = Files.createTempDirectory("graft_ckpt_spec_restart")
    try Seq(fileContext, local).foreach { cls =>
      withConf(key, Some(cls)) {
        val dir = ckpt.resolve(cls.split('.').last)
        drain(windowCounts(Events.streamingTumbling(stream(in))), dir, "complete")
        stage(in, 3)
        val (rows, progress) =
          drain(windowCounts(Events.streamingTumbling(stream(in))), dir, "complete")
        assert(progress.map(_.numInputRows).sum == fileRows(3).size, cls)
        assert(progress.filter(_.numInputRows > 0).map(_.batchId) == Seq(3L), cls)
        val want = windowCounts(Events.tumblingStats(
            spark.read.schema(schema).parquet(in.toString)))
          .collect().map(_.toString).sorted.toSeq
        assert(rows == want, cls)
        deleteTree(in.resolve("f3.parquet"))
      }
    } finally Seq(in, ckpt).foreach(deleteTree)
  }

  test("a corrupted offsets file fails the restart; the local manager " +
      "names the checksum") {
    val in = inputDir(3)
    val ckpt = Files.createTempDirectory("graft_ckpt_spec_corrupt")
    try Seq(fileContext -> false, local -> true).foreach { case (cls, checksum) =>
      withConf(key, Some(cls)) {
        val dir = ckpt.resolve(cls.split('.').last)
        def run() = drain(windowCounts(Events.streamingTumbling(stream(in))),
          dir, "complete")
        run()
        val s = Files.list(dir.resolve("offsets"))
        val last =
          try s.iterator().asScala.map(_.getFileName.toString)
            .filter(_.forall(_.isDigit)).map(_.toLong).max
          finally s.close()
        assert(Files.exists(dir.resolve(s"offsets/.$last.crc")), cls)
        // same length, the version line's digit changed: "v1" -> "vX"
        val ch = Files.newByteChannel(dir.resolve(s"offsets/$last"),
          StandardOpenOption.WRITE)
        try ch.position(1).write(ByteBuffer.wrap("X".getBytes))
        finally ch.close()
        val e = intercept[Exception](run())
        val causes = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).toSeq
        // Spark's FileContext manager reads local files without checking
        // the .crc sidecar, so there only the broken version line fails
        assert(causes.exists(_.isInstanceOf[ChecksumException]) == checksum,
          s"$cls: $e")
      }
    } finally Seq(in, ckpt).foreach(deleteTree)
  }

  test("createAtomic without overwrite refuses an existing file") {
    val dir = Files.createTempDirectory("graft_ckpt_spec_atomic")
    val conf = new Configuration()
    def managers: Seq[CheckpointFileManager] = Seq(
      new FileContextBasedCheckpointFileManager(new HPath(dir.toUri), conf),
      new LocalCheckpointFileManager(new HPath(dir.toUri), conf))
    try managers.zipWithIndex.foreach { case (fm, i) =>
      val target = new HPath(dir.resolve(s"file$i").toUri)
      val first = fm.createAtomic(target, false)
      first.write(1); first.close()
      val second = fm.createAtomic(target, false)
      second.write(2)
      intercept[FileAlreadyExistsException](second.close())
      val read = fm.open(target)
      try assert(read.read() == 1 && read.read() == -1, fm) finally read.close()
      fm.close()
    } finally deleteTree(dir)
  }

  test("install keeps a session's own manager and fills an unset one") {
    val in = Files.createTempDirectory("graft_ckpt_spec_keep")
    try withConf(key, Some(fileContext)) {
      Events.streamingTumbling(stream(in))
      assert(spark.conf.get(key) == fileContext)
    } finally deleteTree(in)
    withConf(key, None) {
      StreamSetup.install(spark)
      StreamSetup.install(spark)
      assert(spark.conf.get(key) == local)
    }
  }

  test("install turns class-loader isolation off unless the session set it") {
    withConf(isolation, Some("true")) {
      StreamSetup.install(spark)
      assert(spark.conf.get(isolation) == "true")
    }
    withConf(isolation, None) {
      // an unset key reads as Spark's default, so only getAll tells
      // "unset" from an explicit true
      assert(spark.conf.getOption(isolation).contains("true"))
      StreamSetup.install(spark)
      StreamSetup.install(spark)
      assert(spark.conf.getAll.get(isolation).contains("false"))
    }
  }

  test("a restarted stream compiles no class its first run compiled") {
    val in = inputDir(3)
    val ckpt = Files.createTempDirectory("graft_ckpt_spec_codegen")
    // same files, fresh checkpoint: each start runs on a new cloned session
    def compiles(run: Int): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      drain(Events.streamingSessionize(stream(in), 1800).toDF(),
        ckpt.resolve(s"run$run"))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    try withConf(isolation, None) {
      val first = compiles(1)
      val second = compiles(2)
      assert(second == 0, s"the restart compiled $second classes (first run $first)")
    } finally Seq(in, ckpt).foreach(deleteTree)
  }

  test("the local route is chosen by the resolved scheme") {
    import LocalCheckpointFileManager.forkFree
    val conf = new Configuration()
    assert(forkFree(new HPath("/tmp/ckpt"), conf))
    assert(forkFree(new HPath("file:///tmp/ckpt"), conf))
    assert(!forkFree(new HPath("hdfs://nn:8020/ckpt"), conf))
    conf.set("fs.defaultFS", "hdfs://nn:8020")
    assert(!forkFree(new HPath("/tmp/ckpt"), conf))
    assert(forkFree(new HPath("file:///tmp/ckpt"), conf))
  }
}
