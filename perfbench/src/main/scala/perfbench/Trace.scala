package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What a workload pass reports to the layer trace: harness-timed spans
  * around engine calls and values read off the outputs. Untraced passes
  * use [[NoTrace]], which only runs the body. */
trait Tracer {
  /** Runs `body`, adding its wall time (seconds × `scale`) to `name`. */
  def span[T](name: String, scale: Double = 1.0)(body: => T): T
  def set(name: String, value: Double): Unit
  def enabled: Boolean
}

object NoTrace extends Tracer {
  def span[T](name: String, scale: Double)(body: => T): T = body
  def set(name: String, value: Double): Unit = ()
  val enabled = false
}

/** Maps a stage's call site (`StageInfo.details`, innermost frame first) to
  * the engine module that issued it: the package of the first `graft.*`
  * frame, with the top-level `graft.Pipeline*` and `graft.Profile` objects
  * named after themselves. Stages with no engine frame belong to the
  * harness (its own collects and writes). */
object Attribution {
  def module(details: String): String =
    Option(details).iterator.flatMap(_.linesIterator).map(_.trim)
      .collectFirst { case f if f.startsWith("graft.") => ofFrame(f) }
      .getOrElse("harness")

  def ofFrame(frame: String): String = {
    val parts = frame.takeWhile(_ != '(').split('.')
    // graft.<pkg>.<Class>.<method> vs graft.<Class>.<method>
    if (parts.length >= 4) parts(1)
    else parts(1).takeWhile(_ != '$') match {
      case "Pipeline" | "PipelineJson" => "pipeline"
      case "Profile" => "profile"
      case other => other.toLowerCase(java.util.Locale.ROOT)
    }
  }
}

/** Per-pass layer account, built from listeners the benchmark registers
  * through Spark's public listener APIs for the duration of one pass. */
final class LayerTrace(spark: SparkSession, cores: Int) extends Tracer {
  import LayerTrace.{Job, Stage}
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val execModule = mutable.Map[Long, String]()
  private val stageModule = mutable.Map[Int, String]()
  private val stages = mutable.ArrayBuffer[Stage]()
  private val progress = mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent]()
  private var planningMs = 0L
  private val values = mutable.LinkedHashMap[String, Double]()
  // listener callbacks arrive on the bus threads
  private def locked[T](body: => T): T = synchronized(body)

  private val jobListener = new SparkListener {
    // A SQL action's jobs may be submitted from an executor pool thread
    // (adaptive query stages), whose call site has no engine frame; the
    // execution-start event carries the action's own call site.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        locked { execModule(s.executionId) = Attribution.module(s.details) }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = locked {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execModule.get(id.toLong))
      val last = e.stageInfos.sortBy(-_.stageId).headOption
      val module = exec.getOrElse(Attribution.module(last.map(_.details).orNull))
      e.stageIds.foreach(id => stageModule(id) = module)
      jobs(e.jobId) = new Job(e.time, -1L, module)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = locked {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = locked {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages += new Stage(
        stageModule.getOrElse(i.stageId, Attribution.module(i.details)), i.numTasks,
        m.executorRunTime, m.executorCpuTime, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.diskBytesSpilled)
    }
  }
  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = locked {
      val ph = qe.tracker.phases
      planningMs += Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs).sum
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      locked { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private var t0 = 0L
  private var gc0 = 0L
  private var codegen0 = 0L
  val enabled = true

  def span[T](name: String, scale: Double)(body: => T): T = {
    val t = System.nanoTime()
    try body finally synchronized {
      values(name) = values.getOrElse(name, 0.0) +
        (System.nanoTime() - t) / 1e9 * scale
    }
  }

  def set(name: String, value: Double): Unit = synchronized { values(name) = value }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def begin(): Unit = {
    synchronized {
      jobs.clear(); stages.clear(); progress.clear(); values.clear()
      execModule.clear(); stageModule.clear()
      planningMs = 0L
    }
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    gc0 = gcMs()
    codegen0 = compiles()
    t0 = System.currentTimeMillis()
  }

  /** Ends the pass, detaches the listeners and returns its layer values
    * (spans plus Spark-level totals, names as in BENCHMARK.json). */
  def end(): Map[String, Double] = {
    val t1 = System.currentTimeMillis()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    val wallS = math.max(1L, t1 - t0) / 1e3
    synchronized {
      val out = mutable.LinkedHashMap[String, Double]()
      def byModule(m: String) = stages.filter(_.module == m)
      def jobsOf(m: String) = jobs.values.filter(_.module == m)
      def jobS(js: Iterable[Job]) = js.map(j => math.max(0L, j.end - j.start)).sum / 1e3
      val mb = 1024.0 * 1024.0
      out("spark.jobs") = jobs.size
      out("spark.stages") = stages.size
      out("spark.tasks") = stages.map(_.tasks.toLong).sum
      out("spark.outside_job_frac") = 1.0 - LayerTrace.covered(
        jobs.values.map(j => (j.start, if (j.end < 0) t1 else j.end)).toSeq,
        t0, t1) / 1e3 / wallS
      out("spark.planning_s") = planningMs / 1e3
      val taskS = stages.map(_.runMs).sum / 1e3
      out("spark.task_s") = taskS
      out("spark.task_cpu_s") = stages.map(_.cpuNs).sum / 1e9
      out("spark.core_util") = taskS / (wallS * cores)
      out("spark.gc_s") = (gcMs() - gc0) / 1e3
      out("spark.input_mb") = stages.map(_.inBytes).sum / mb
      out("spark.shuffle_write_mb") = stages.map(_.shWriteBytes).sum / mb
      out("spark.spill_mb") = stages.map(_.spillBytes).sum / mb
      out("spark.codegen_compiles") = compiles() - codegen0
      out("sources.jobs") = jobsOf("sources").size
      out("ops.fit_jobs") = jobsOf("ops").size
      out("ops.fit_job_s") = jobS(jobsOf("ops"))
      out("profile.jobs") = jobsOf("profile").size
      out("dedup.jobs") = jobsOf("dedup").size
      out("dedup.shuffle_write_mb") = byModule("dedup").map(_.shWriteBytes).sum / mb
      out("plans.jobs") = jobsOf("plans").size
      out("sim.jobs") = jobsOf("sim").size
      if (progress.nonEmpty) {
        val p = progress.map(_.progress).toSeq
        def d(k: String, q: org.apache.spark.sql.streaming.StreamingQueryProgress) =
          Option(q.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
        out("streaming.batches") = p.length
        out("streaming.trigger_ms_p50") =
          Quantiles.median(p.map(d("triggerExecution", _)))
        out("streaming.commit_ms_p50") =
          Quantiles.median(p.map(q => d("walCommit", q) + d("commitOffsets", q)))
        val ops = p.flatMap(_.stateOperators.toSeq)
        out("streaming.state_rows_max") =
          if (ops.isEmpty) 0.0 else ops.map(_.numRowsTotal).max.toDouble
        out("streaming.state_mem_mb_max") =
          if (ops.isEmpty) 0.0 else ops.map(_.memoryUsedBytes).max / mb
      }
      values.foreach { case (k, v) => out(k) = v }
      // derived from a span and the job attribution above
      values.get("pipeline.run_s").foreach(r =>
        out("ops.driver_s") = r - out("ops.fit_job_s"))
      values.get("dedup.pairs_out").filter(_ > 0).foreach(p =>
        out("dedup.shuffle_records_per_pair") =
          byModule("dedup").map(_.shWriteRecords).sum / p)
      out.toMap
    }
  }
}

object LayerTrace {
  private final class Job(val start: Long, var end: Long, val module: String)
  private final class Stage(val module: String, val tasks: Int, val runMs: Long,
      val cpuNs: Long, val inBytes: Long, val shWriteBytes: Long,
      val shWriteRecords: Long, val spillBytes: Long)

  /** Milliseconds of [lo, hi] covered by the union of the intervals. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }
}
