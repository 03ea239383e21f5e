package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.JobCount
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops._

/** Exactness of the need-based sanitizer: settled columns are skipped,
  * everything that can still hold a null or ±Inf is cleaned. */
class SanitizeSpec extends SparkSpec {

  private def frame(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def jobs[T](body: => T): (T, Int) = JobCount(spark.sparkContext)(body)

  private val Big = 9007199254740993L // 2^53 + 1: not a double

  test("integral columns above 2^53 pass through Sanitize and Pipeline exactly") {
    val df = frame(StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("v", LongType, nullable = true))),
      Row(Big, Big), Row(Big + 2, null), Row(Big + 4, Big + 4))
    def ids(out: DataFrame) =
      out.orderBy("id").select("id").collect().map(_.getLong(0)).toSeq
    val sanitized = Sanitize.transform(df)
    val (piped, _) = Pipeline.run(df, PipelineConfig())
    for (out <- Seq(sanitized, piped)) {
      assert(ids(out) == Seq(Big, Big + 2, Big + 4))
      val v = out.orderBy("id").select("v").collect().map(_.getLong(0)).toSeq
      assert(v(0) == Big && v(2) == Big + 4)
      assert(out.schema("id").dataType == LongType &&
        out.schema("v").dataType == LongType)
    }
    // the filled null is the median truncated to the column's own type
    assert(sanitized.where(col("id") === Big + 2).head().getLong(1) ==
      ((Big.toDouble + (Big + 4).toDouble) / 2).toLong)
  }

  test("a non-nullable double holding ±Inf from the source is median-filled") {
    val df = frame(StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("x", DoubleType, nullable = false))),
      Row(1L, 1.0), Row(2L, Double.PositiveInfinity), Row(3L, 3.0),
      Row(4L, Double.NegativeInfinity), Row(5L, 5.0))
    val (out, n) = jobs(Sanitize.transform(df))
    assert(n > 0, "the first sanitize must fit the medians")
    assert(out.orderBy("id").select("x").collect().map(_.getDouble(0)).toSeq ==
      Seq(1.0, 3.0, 3.0, 3.0, 5.0))
  }

  test("settled columns skip the fit; a rewritten one is sanitized again") {
    val df = frame(StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("x", DoubleType, nullable = true),
        StructField("s", StringType, nullable = true))),
      Row(1L, 1.0, "a"), Row(2L, null, null), Row(3L, 3.0, "c"))
    val first = Sanitize.transform(df)
    assert(first.schema.forall(!_.nullable))
    // a pass-through op keeps every attribute: nothing left to do
    val passed = first.where(col("id") > 0).select(col("id"), col("x"), col("s"))
    val (same, n0) = jobs(Sanitize.transform(passed, first))
    assert(same eq passed)
    assert(n0 == 0)
    // a new non-nullable expression over the settled double makes Inf
    val rewritten = first.select(col("id"),
      when(col("id") === 1L, lit(Double.PositiveInfinity))
        .otherwise(col("x")).as("x"), col("s"))
    assert(!rewritten.schema("x").nullable)
    val (again, n1) = jobs(Sanitize.transform(rewritten, first))
    assert(n1 > 0)
    // x was (1, 2 [median], 3): Inf replaced by the median of (2, 3)
    assert(again.orderBy("id").select("x").collect().map(_.getDouble(0)).toSeq ==
      Seq(2.5, 2.0, 3.0))
  }

  test("a union over a settled attribute is not trusted as settled") {
    val schema = StructType(Seq(StructField("x", DoubleType, nullable = false)))
    val first = Sanitize.transform(frame(schema, Row(1.0), Row(2.0)))
    val merged = first.union(frame(schema, Row(Double.NegativeInfinity)))
    assert(merged.queryExecution.analyzed.output.head.exprId ==
      first.queryExecution.analyzed.output.head.exprId)
    val out = Sanitize.transform(merged, first)
    assert(out.collect().map(_.getDouble(0)).sorted.toSeq == Seq(1.0, 1.5, 2.0))
  }

  test("a skipped op leaves the sanitizer in step with the carried-forward frame") {
    val df = frame(StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("x", DoubleType, nullable = true),
        StructField("s", StringType, nullable = true))),
      Row(1L, 1.0, "a"), Row(2L, Double.PositiveInfinity, null),
      Row(3L, null, "c"), Row(4L, 7.0, "d"))
    val norm = Some(Normalize("minmax", columns = Seq("x")))
    val ((clean, _), nClean) =
      jobs(Pipeline.run(df, PipelineConfig(normalize = norm)))
    val ((skipped, report), nSkipped) = jobs(Pipeline.run(df, PipelineConfig(
      missingValues = Some(MissingValues("no_such_strategy")), normalize = norm)))
    assert(report.stages.map(_.ok) == Seq(false, true))
    // the skipped op adds no job: the sanitizer after normalize sees the
    // same settled columns as in the run without it
    assert(nSkipped == nClean)
    assert(clean.orderBy("id").collect().toSeq ==
      skipped.orderBy("id").collect().toSeq)
    // x: Inf→null, then nulls→4 (median of 1, 7), then minmax over 1..7
    assert(skipped.orderBy("id").select("x").collect().map(_.getDouble(0)).toSeq ==
      Seq(0.0, 0.5, 0.5, 1.0))
    assert(skipped.where(col("s").isNull).count() == 0)
  }
}
