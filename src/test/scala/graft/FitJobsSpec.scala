package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.JobCount
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops._
import graft.sources.Csv

/** Job budgets of the cleaning pipeline's statistics passes: a fit whose
  * answer the schema already determines must not run. */
class FitJobsSpec extends SparkSpec {

  private def jobs[T](body: => T): (T, Int) = JobCount(spark.sparkContext)(body)

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("x", DoubleType, nullable = true),
    StructField("k", IntegerType, nullable = false),
    StructField("s", StringType, nullable = true)))

  private val rows = Seq(
    Row(1L, 10.0, 1, "a"), Row(2L, null, 2, "b"), Row(3L, 30.0, 2, null),
    Row(4L, 40.0, 3, "b"), Row(5L, 100.0, 3, "b"))

  /** Same columns and values, no nulls, every column non-nullable. */
  private def settledFrame: DataFrame = frame(
    StructType(schema.map(_.copy(nullable = false))),
    rows.map(r => Row(r.getLong(0), Option(r.get(1)).getOrElse(35.0), r.getInt(2),
      Option(r.getString(3)).getOrElse("b"))))

  private def sorted(df: DataFrame): Seq[Row] = df.orderBy("id").collect().toSeq

  test("missing-value fits issue no job without nullable columns") {
    val df = settledFrame
    for (strategy <- Seq("fill_mean", "fill_median", "fill_mode",
        "drop_columns", "drop_columns_threshold")) {
      val (out, n) = jobs(MissingValues(strategy)(df).df)
      assert(n == 0, s"$strategy issued $n jobs")
      assert(out eq df, s"$strategy rebuilt an unchanged frame")
    }
  }

  test("missing-value fits over nullable columns keep their outputs") {
    val df = frame(schema, rows)
    // x: median of 10, 30, 40, 100 = 35; s: mode "b"
    assert(sorted(MissingValues("fill_median")(df).df) == Seq(
      Row(1L, 10.0, 1, "a"), Row(2L, 35.0, 2, "b"), Row(3L, 30.0, 2, "b"),
      Row(4L, 40.0, 3, "b"), Row(5L, 100.0, 3, "b")))
    // x: mode of four singletons is the smallest, 10
    assert(sorted(MissingValues("fill_mode")(df).df).map(_.getDouble(1)) ==
      Seq(10.0, 10.0, 30.0, 40.0, 100.0))
    assert(MissingValues("drop_columns")(df).df.columns.toSeq == Seq("id", "k"))
    // 4 of 5 non-null: kept at 0.8, dropped at 1.0; a threshold above 1
    // drops every column, non-nullable ones included
    assert(MissingValues("drop_columns_threshold", 0.8)(df).df.columns.length == 4)
    assert(MissingValues("drop_columns_threshold", 1.0)(df).df.columns.toSeq ==
      Seq("id", "k"))
    assert(MissingValues("drop_columns_threshold", 1.5)(df).df.columns.isEmpty)
  }

  test("normalize standard and minmax skip the median job on non-nullable targets") {
    val settled = settledFrame
    val nullable = frame(schema, settled.collect().toSeq)
    for (method <- Seq("standard", "minmax")) {
      val op = Normalize(method, columns = Seq("x", "k"))
      val (a, nA) = jobs(sorted(op(settled).df))
      val (b, nB) = jobs(sorted(op(nullable).df))
      assert(nA < nB, s"$method: $nA jobs non-nullable vs $nB nullable")
      assert(a == b, s"$method outputs differ")
    }
  }

  test("the nine-operator pipeline stays within its fit-job budget") {
    FitJobsSpec.withDirtyCsv { path =>
      val cfg = FitJobsSpec.nineOps
      assert(cfg.ops.length == 9)
      val df = Csv.read(spark, path) // reads the header: not counted
      val ((out, report), n) = jobs(Pipeline.run(df, cfg))
      assert(report.errors.isEmpty, report.errors)
      assert(out.count() == 40)
      assert(out.where(col("extendedprice").isNull).count() == 0)
      // Budget under the test session (local[4], AQE on): 56 jobs before
      // the fits became need-based, 30 after, 11 once a one-split request
      // is planned as a single partition. Lower it when a fit goes away;
      // raising it is a declared regression.
      assert(n <= JobBudget, s"Pipeline.run issued $n jobs, budget $JobBudget")
    }
  }

  test("profiling a one-split csv stays within its job budget") {
    FitJobsSpec.withDirtyCsv { path =>
      val df = Csv.read(spark, path)
      val (p, n) = jobs(Profile(df))
      assert(p.rows == 44 && p.duplicateRows == 4)
      // one single-stage job each for the aggregate, the distinct count
      // and the sample; 6 when each exchange costs a map-stage job
      assert(n <= ProfileJobBudget, s"Profile issued $n jobs, budget $ProfileJobBudget")
    }
  }

  private val JobBudget = 11
  private val ProfileJobBudget = 3
}

object FitJobsSpec {
  /** Runs `body` on the path of a small dirty CSV in the shape the
    * reference's web app cleans: 40 distinct rows plus 4 duplicates, with
    * mixed-format numbers and dates, planted nulls and typos. */
  def withDirtyCsv[T](body: String => T): T = {
    val lines = (0 until 40).map { i =>
      val qty = if (i % 3 == 0) s"${i % 7 + 1}.0" else s"${i % 7 + 1}"
      val price = if (i % 11 == 4) "" else f"${100.0 + i * 13.7}%.2f"
      val flag = if (i % 9 == 2) "" else Seq("A", "N", "R")(i % 3)
      val dept = if (i % 8 == 5) "Enginering" else Seq("Sales", "Engineering")(i % 2)
      val date = if (i % 2 == 0) f"2024-01-${i % 28 + 1}%02d"
                 else f"${i % 12 + 1}%02d/${i % 28 + 1}%02d/2024"
      val comment = if (i % 10 == 7) "" else s"teh item $i adn more"
      Seq(i.toString, qty, price, flag, Seq("AIR", "MAIL")(i % 2), dept, date,
        comment).mkString(",")
    }
    val text = ("row_id,quantity,extendedprice,returnflag,shipmode,dept,shipdate,comment" +:
      (lines ++ lines.take(4))).mkString("\n")
    val dir = java.nio.file.Files.createTempDirectory("fitjobs")
    val path = dir.resolve("in.csv")
    java.nio.file.Files.writeString(path, text + "\n")
    try body(path.toString)
    finally {
      java.nio.file.Files.deleteIfExists(path)
      java.nio.file.Files.deleteIfExists(dir)
    }
  }

  /** All nine operators, configured for [[withDirtyCsv]]'s columns. */
  def nineOps: PipelineConfig = PipelineJson.parse(
    """{"data_type_conversion": {"enabled": true},
      | "text_cleaning": {"enabled": true, "columns": ["comment", "dept"],
      |                   "operations": ["lowercase", "remove_extra_spaces"]},
      | "datetime_parsing": {"enabled": true, "columns": ["shipdate"]},
      | "missing_values": {"enabled": true, "strategy": "fill_median"},
      | "duplicates": {"enabled": true},
      | "outliers": {"enabled": true, "method": "iqr", "action": "cap",
      |              "threshold": 3.0, "columns": ["extendedprice"]},
      | "spelling_correction": {"enabled": true, "method": "common_typos",
      |                         "columns": ["comment", "dept"]},
      | "encoding": {"enabled": true, "method": "label",
      |              "columns": ["returnflag", "shipmode"]},
      | "normalization": {"enabled": true, "method": "minmax",
      |                   "columns": ["quantity", "extendedprice"]}}""".stripMargin)
}
