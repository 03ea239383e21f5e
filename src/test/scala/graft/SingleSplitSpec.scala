package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.commons.io.FileUtils
import org.apache.spark.JobCount
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, InterpretedSession, Row}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import graft.sources.Csv
import graft.util.Parallelize

/** Both sides of the [[graft.util.Parallelize.singleSplit]] gate at the
  * cleaning entry points: a one-split request plans no shuffle anywhere in
  * `Pipeline.run` or `Profile` and runs without code generation, and
  * forcing the gate to skip (split scan, code generation on) changes no
  * output. The skip is forced the way the `bySize` tests force theirs: an
  * open cost of 1 byte, which no frame's estimate is at or under. */
class SingleSplitSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val OpenCost = "spark.sql.files.openCostInBytes"

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def withOpenCost[T](bytes: Long)(body: => T): T =
    withConf(OpenCost, bytes.toString)(body)

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** `body`'s result and the number of SQL executions it started. */
  private def sqlExecutions[T](body: => T): (T, Int) = {
    val group = s"executions-${java.util.UUID.randomUUID}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case e: SparkListenerSQLExecutionStart if e.jobGroupId.contains(group) =>
          n.incrementAndGet()
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, group)
    try {
      val out = body
      JobCount.drain(spark.sparkContext)
      (out, n.get)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** `body`'s result and the physical plan of every query it executed. */
  private def executedPlans[T](body: => T): (T, Seq[SparkPlan]) = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // callbacks arrive asynchronously: drain those of earlier actions
    // (the header read) so they cannot land in this listener
    JobCount.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    // JobCount drains the listener bus, so every callback has landed
    try (JobCount(spark.sparkContext)(body)._1, plans.asScala.toSeq)
    finally spark.listenerManager.unregister(listener)
  }

  private def shuffles(plans: Seq[SparkPlan]): Seq[SparkPlan] =
    plans.flatMap(collectWithSubqueries(_) { case e: ShuffleExchangeExec => e })

  private def codegenStages(plans: Seq[SparkPlan]): Seq[SparkPlan] =
    plans.flatMap(collectWithSubqueries(_) { case e: WholeStageCodegenExec => e })

  /** The nine-operator pipeline's sorted output and the plans of its fits
    * and final action; the header read is not observed. */
  private def cleaned(path: String): (Seq[Row], Seq[SparkPlan]) = {
    val df = Csv.read(spark, path)
    executedPlans(request(df))
  }

  private def profiled(path: String): (Profile.DatasetProfile, Seq[SparkPlan]) = {
    val df = Csv.read(spark, path)
    executedPlans(Profile(df))
  }

  /** The nine-operator pipeline over `df`, its output collected in row
    * order. */
  private def request(df: DataFrame): Seq[Row] = {
    val (out, report) = Pipeline.run(df, FitJobsSpec.nineOps)
    assert(report.errors.isEmpty, report.errors)
    out.orderBy("row_id").collect().toSeq
  }

  /** Runs `body` on the path of a three-column CSV of about `bytes` bytes. */
  private def withCsvOf[T](bytes: Int)(body: String => T): T = {
    val dir = Files.createTempDirectory("singlesplit")
    val path = dir.resolve("in.csv")
    val sb = new StringBuilder("id,amount,label\n")
    var i = 0
    while (sb.length < bytes) {
      sb ++= s"$i,${i % 997}.25,label-${i % 13}\n"
      i += 1
    }
    Files.writeString(path, sb.toString)
    try body(path.toString)
    finally {
      Files.deleteIfExists(path)
      Files.deleteIfExists(dir)
    }
  }

  /** Classes compiled by the nine-operator request on `path` and its
    * `Csv.write`, and whether it ran on the interpreted child; the header
    * read is not counted. */
  private def requestCompiles(path: String): (Long, Boolean) = {
    val df = Csv.read(spark, path)
    val out = Files.createTempDirectory("singlesplit_out")
    try {
      val before = compiles()
      val (cleaned, report) = Pipeline.run(df, FitJobsSpec.nineOps)
      Csv.write(cleaned, out.resolve("out").toString)
      assert(report.errors.isEmpty, report.errors)
      (compiles() - before, InterpretedSession.interprets(cleaned.sparkSession))
    } finally FileUtils.deleteDirectory(out.toFile)
  }

  // first in the suite, so neither side finds its classes compiled by an
  // earlier test of this suite
  test("a one-split request and its write compile at most the pinned residual") {
    FitJobsSpec.withDirtyCsv { path =>
      val (n, interpreted) = requestCompiles(path)
      assert(interpreted)
      val (compiled, skippedInterpreted) = withOpenCost(1)(requestCompiles(path))
      assert(!skippedInterpreted)
      // the residual: classes Spark generates outside the expression
      // factories, such as row joiners
      assert(n <= SingleSplitSpec.ResidualCompiles, s"$n classes compiled")
      assert(compiled > n, s"the compiled request compiled $compiled classes")
    }
  }

  test("a one-split request runs the nine-operator pipeline with no shuffle") {
    FitJobsSpec.withDirtyCsv { path =>
      val (rows, plans) = cleaned(path)
      assert(rows.length == 40)
      assert(plans.length > 1, "the fits and the final action were not observed")
      assert(shuffles(plans).isEmpty,
        s"a one-split request must not shuffle:\n${shuffles(plans).mkString("\n")}")
      assert(codegenStages(plans).isEmpty, "a one-split request must run interpreted")
      // the skipped gate runs the same request over a split scan, compiled
      val (skipped, skippedPlans) = withOpenCost(1)(cleaned(path))
      assert(shuffles(skippedPlans).nonEmpty, "the forced skip still planned one partition")
      assert(codegenStages(skippedPlans).nonEmpty, "the forced skip ran interpreted")
      assert(skipped == rows)
    }
  }

  test("a one-split profile runs with no shuffle and matches the skipped gate") {
    FitJobsSpec.withDirtyCsv { path =>
      val (p, plans) = profiled(path)
      assert(plans.length == 3)
      assert(shuffles(plans).isEmpty,
        s"a one-split profile must not shuffle:\n${shuffles(plans).mkString("\n")}")
      assert(codegenStages(plans).isEmpty, "a one-split profile must run interpreted")
      val (skipped, skippedPlans) = withOpenCost(1)(profiled(path))
      assert(shuffles(skippedPlans).nonEmpty, "the forced skip still planned one partition")
      assert(codegenStages(skippedPlans).nonEmpty, "the forced skip ran interpreted")
      assert(skipped == p)
    }
  }

  test("the gate returns one partition when it fires and its input when it skips") {
    FitJobsSpec.withDirtyCsv { path =>
      val fired = Parallelize.singleSplit(Csv.read(spark, path))
      assert(fired.rdd.getNumPartitions == 1)
      // bound to the session's one interpreted child
      val child = fired.sparkSession
      assert(child ne spark)
      assert(InterpretedSession.interprets(child) && !InterpretedSession.interprets(spark))
      for ((k, v) <- InterpretedSession.Overrides) assert(child.conf.get(k) == v, k)
      assert(Parallelize.singleSplit(Csv.read(spark, path)).sparkSession eq child)
      assert(Parallelize.singleSplit(fired).sparkSession eq child,
        "a child's frame was bound to a child of the child")
      withOpenCost(1) {
        val df = Csv.read(spark, path)
        assert(df.rdd.getNumPartitions > 1, "a 1-byte open cost splits the file")
        assert(Parallelize.singleSplit(df) eq df)
      }
    }
  }

  test("a listener registered on the parent between requests sees each " +
      "execution of the next request once, and none once unregistered") {
    FitJobsSpec.withDirtyCsv { path =>
      val df = Csv.read(spark, path)
      request(df) // builds the interpreted child
      val seen = new AtomicInteger
      val listener = new QueryExecutionListener {
        def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          seen.incrementAndGet()
        def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
          seen.incrementAndGet()
      }
      JobCount.drain(spark.sparkContext)
      spark.listenerManager.register(listener)
      val (_, executions) =
        try sqlExecutions(request(df))
        finally spark.listenerManager.unregister(listener)
      assert(executions > 1, "the fits and the final action were not observed")
      assert(seen.get == executions)
      seen.set(0)
      sqlExecutions(request(df))
      assert(seen.get == 0, "an unregistered listener still saw the child's queries")
    }
  }

  test("a conf set on the parent between requests reaches the next request") {
    FitJobsSpec.withDirtyCsv { path =>
      def shipdates: Seq[Long] =
        request(Csv.read(spark, path)).map(_.getAs[java.sql.Timestamp]("shipdate").getTime)
      val utc = shipdates
      val la = withConf("spark.sql.session.timeZone", "America/Los_Angeles")(shipdates)
      val hours = utc.zip(la).map { case (u, l) => (l - u) / 3600000L }.toSet
      // Pacific standard time in winter, daylight time from March
      assert(hours == Set(7L, 8L), s"the parsed local times moved by $hours hours")
      assert(shipdates == utc, "restoring the parent's time zone did not reach the child")
    }
  }

  test("a csv above the interpreted bound but within the open cost plans " +
      "one partition and compiles") {
    withCsvOf((Parallelize.InterpretedBytes + (64 << 10)).toInt) { path =>
      withOpenCost(4L << 20) {
        val df = Csv.read(spark, path)
        val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
        assert(est > Parallelize.InterpretedBytes && est <= (4L << 20), est)
        val fired = Parallelize.singleSplit(df)
        assert(fired.rdd.getNumPartitions == 1)
        assert(fired.sparkSession eq spark)
        val before = compiles()
        val (_, plans) = executedPlans(Profile(df))
        assert(compiles() > before, "the compiled side compiled nothing")
        assert(codegenStages(plans).nonEmpty)
        assert(shuffles(plans).isEmpty)
      }
    }
  }
}

object SingleSplitSpec {
  /** Classes an interpreted nine-operator request plus its write compiles,
    * measured as the first test in a fresh JVM (Spark 4.1.2); the same
    * request compiled there 88. */
  val ResidualCompiles = 7
}
