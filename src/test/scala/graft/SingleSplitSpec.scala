package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.JobCount
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import graft.sources.Csv
import graft.util.Parallelize

/** Both sides of the [[graft.util.Parallelize.singleSplit]] gate at the
  * cleaning entry points: a one-split request plans no shuffle anywhere in
  * `Pipeline.run` or `Profile`, and forcing the gate to skip changes no
  * output. The skip is forced the way the `bySize` tests force theirs: an
  * open cost of 1 byte, which no frame's estimate is at or under. */
class SingleSplitSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val OpenCost = "spark.sql.files.openCostInBytes"

  private def withOpenCost[T](bytes: Long)(body: => T): T = {
    val prev = spark.conf.getOption(OpenCost)
    spark.conf.set(OpenCost, bytes.toString)
    try body
    finally prev.fold(spark.conf.unset(OpenCost))(spark.conf.set(OpenCost, _))
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

  /** The nine-operator pipeline's sorted output and the plans of its fits
    * and final action; the header read is not observed. */
  private def cleaned(path: String): (Seq[Row], Seq[SparkPlan]) = {
    val df = Csv.read(spark, path)
    executedPlans {
      val (out, report) = Pipeline.run(df, FitJobsSpec.nineOps)
      assert(report.errors.isEmpty, report.errors)
      out.orderBy("row_id").collect().toSeq
    }
  }

  private def profiled(path: String): (Profile.DatasetProfile, Seq[SparkPlan]) = {
    val df = Csv.read(spark, path)
    executedPlans(Profile(df))
  }

  test("a one-split request runs the nine-operator pipeline with no shuffle") {
    FitJobsSpec.withDirtyCsv { path =>
      val (rows, plans) = cleaned(path)
      assert(rows.length == 40)
      assert(plans.length > 1, "the fits and the final action were not observed")
      assert(shuffles(plans).isEmpty,
        s"a one-split request must not shuffle:\n${shuffles(plans).mkString("\n")}")
      // the skipped gate runs the same request over a split scan
      val (skipped, skippedPlans) = withOpenCost(1)(cleaned(path))
      assert(shuffles(skippedPlans).nonEmpty, "the forced skip still planned one partition")
      assert(skipped == rows)
    }
  }

  test("a one-split profile runs with no shuffle and matches the skipped gate") {
    FitJobsSpec.withDirtyCsv { path =>
      val (p, plans) = profiled(path)
      assert(plans.length == 3)
      assert(shuffles(plans).isEmpty,
        s"a one-split profile must not shuffle:\n${shuffles(plans).mkString("\n")}")
      val (skipped, skippedPlans) = withOpenCost(1)(profiled(path))
      assert(shuffles(skippedPlans).nonEmpty, "the forced skip still planned one partition")
      assert(skipped == p)
    }
  }

  test("the gate returns one partition when it fires and its input when it skips") {
    FitJobsSpec.withDirtyCsv { path =>
      val fired = Parallelize.singleSplit(Csv.read(spark, path))
      assert(fired.rdd.getNumPartitions == 1)
      withOpenCost(1) {
        val df = Csv.read(spark, path)
        assert(df.rdd.getNumPartitions > 1, "a 1-byte open cost splits the file")
        assert(Parallelize.singleSplit(df) eq df)
      }
    }
  }
}
