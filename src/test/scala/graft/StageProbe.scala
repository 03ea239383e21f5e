package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ExplainMode

// Optimization-round measurement probe — test scope only, never ships in
// the library artifact. For each named SparkEntry query it:
//   1. writes the pre-execution `.explain("formatted")` to
//      plans/<tag>/<name>_<suffix>.txt (the judge-checkable plan artifact);
//   2. runs the query N times through the Bench noop-sink contract
//      (cache hygiene between runs) printing per-iteration wall time;
//   3. prints a per-stage table for the LAST iteration (duration, task
//      time, input/shuffle bytes, task count) from a SparkListener —
//      local-mode stand-in for the Spark UI stage page (guide §1.1/§7.1).
// Run: sbt "Test/runMain graft.StageProbe <tag> <suffix> q_a q_b ..."
//   SPARK_GRAFT_SF_DIR picks the corpus (default sf0.1);
//   SPARK_GRAFT_PROBE_ITERS the repeat count (default 3).
object StageProbe {
  final case class St(var durMs: Long = 0, var taskMs: Long = 0,
    var inBytes: Long = 0, var shRead: Long = 0, var shWrite: Long = 0,
    var spill: Long = 0, var tasks: Int = 0, var name: String = "")

  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = sys.env.getOrElse("SPARK_GRAFT_PROBE_ITERS", "3").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.util.Sessions.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional conf overrides for A/B probes: SPARK_GRAFT_PROBE_CONF=k=v;k=v
    sys.env.get("SPARK_GRAFT_PROBE_CONF").foreach(_.split(';').foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k.trim, v.trim)
      println(s"[probe] conf override: $k=$v")
    })
    // same warmup as Bench: parquet reader + codegen agg + exchange paths
    Tables.load(spark, dir, "nation").groupBy("n_regionkey").count().collect()

    val stages = new ConcurrentHashMap[Int, St]()
    val jobCount = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var collecting = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (collecting) {
          val i = e.stageInfo
          val m = i.taskMetrics
          val st = St(
            durMs = (for {a <- i.completionTime; b <- i.submissionTime}
              yield a - b).getOrElse(0L),
            taskMs = m.executorRunTime,
            inBytes = m.inputMetrics.bytesRead,
            shRead = m.shuffleReadMetrics.totalBytesRead,
            shWrite = m.shuffleWriteMetrics.bytesWritten,
            spill = m.diskBytesSpilled,
            tasks = i.numTasks, name = i.name.take(60))
          if (sys.env.contains("SPARK_GRAFT_PROBE_DETAILS"))
            println(s"[probe-details] stage ${i.stageId} (${i.numTasks} tasks):\n" +
              i.details.linesIterator.take(8).map("    " + _).mkString("\n"))
          stages.put(i.stageId, st)
        }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobCount.incrementAndGet()
    })

    // generated classes compiled so far, JVM-wide: the per-phase delta
    // tells a cold run's Janino work from its planning and task work.
    // Counts only: count × the histogram's mean is not a time (the mean
    // is over a decaying sample, so deltas of it can go negative).
    def codegenN(): Long = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"plans/$tag"))
    for (name <- names) {
      // the construction phase is TIMED (r22): self-materializing queries
      // (pair operators, streaming runs) execute their pipeline here, so
      // for them this is the true first-run cost in this JVM
      val c0n = codegenN(); val j0 = jobCount.get()
      val tC = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, dir)
      val constructS = (System.nanoTime() - tC) / 1e9
      println(f"[probe] $name%-28s construct ${constructS}%8.3f s " +
        f"(codegen +${codegenN() - c0n}%d compiles, " +
        f"jobs +${jobCount.get() - j0}%d)")
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"plans/$tag/${name}_$suffix.txt"), plan)
      var last = 0.0
      for (i <- 1 to iters) {
        val before = graft.util.CacheHygiene.snapshot(spark)
        collecting = i == iters
        if (collecting) stages.clear()
        val cgN0 = codegenN(); val jb0 = jobCount.get()
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        last = (System.nanoTime() - t0) / 1e9
        collecting = false
        graft.util.CacheHygiene.releaseNew(spark, before)
        println(f"[probe] $name%-28s iter$i ${last}%8.3f s " +
          f"(codegen +${codegenN() - cgN0}%d compiles, " +
          f"jobs +${jobCount.get() - jb0}%d)")
      }
      import scala.jdk.CollectionConverters._
      val rows = stages.asScala.toSeq.sortBy(-_._2.durMs).take(14)
      println(f"[probe] $name stages (last iter, by wall ms):")
      println(f"[probe]   ${"stage"}%6s ${"wall"}%7s ${"task"}%8s " +
        f"${"input"}%9s ${"shRead"}%9s ${"shWrite"}%9s ${"spill"}%8s ${"n"}%4s  name")
      rows.foreach { case (id, s) =>
        println(f"[probe]   $id%6d ${s.durMs}%7d ${s.taskMs}%8d " +
          f"${s.inBytes}%9d ${s.shRead}%9d ${s.shWrite}%9d ${s.spill}%8d " +
          f"${s.tasks}%4d  ${s.name}")
      }
    }
    spark.stop()
  }
}
