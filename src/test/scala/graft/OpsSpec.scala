package graft

import org.apache.spark.sql.functions._
import graft.ops._

class OpsSpec extends SparkSpec {
  import spark.implicits._

  private def nums = Seq[(java.lang.Long, java.lang.Double, String)](
    (1L, 10.0, "a"), (2L, null, "b"), (3L, 30.0, null),
    (4L, 40.0, "b"), (5L, 100.0, "b")).toDF("id", "x", "s")

  test("missing drop_rows removes any-null rows") {
    val out = MissingValues("drop_rows")(nums).df
    assert(out.count() == 3)
    assert(out.na.drop("any").count() == 3)
  }

  test("missing fill_mean fills numeric with mean, string with mode") {
    val out = MissingValues("fill_mean")(nums).df
    val row = out.where($"id" === 2).head()
    assert(row.getDouble(1) == (10.0 + 30.0 + 40.0 + 100.0) / 4)
    assert(out.where($"id" === 3).head().getString(2) == "b")
  }

  test("missing fill_median uses exact interpolating median") {
    val out = MissingValues("fill_median")(nums).df
    assert(out.where($"id" === 2).head().getDouble(1) == 35.0) // (30+40)/2
  }

  test("missing drop_columns drops columns containing nulls") {
    val out = MissingValues("drop_columns")(nums).df
    assert(out.columns.toSeq == Seq("id"))
  }

  test("forward_fill carries last non-null in order") {
    val out = MissingValues("forward_fill", orderCol = Some("id"))(nums).df
    assert(out.orderBy("id").collect().map(r => Option(r.get(1))).toSeq ==
      Seq(Some(10.0), Some(10.0), Some(30.0), Some(40.0), Some(100.0)))
  }

  test("backward_fill carries next non-null in order") {
    val out = MissingValues("backward_fill", orderCol = Some("id"))(nums).df
    assert(out.orderBy("id").collect().map(r => Option(r.get(1))).toSeq ==
      Seq(Some(10.0), Some(30.0), Some(30.0), Some(40.0), Some(100.0)))
  }

  test("split stats pin a non-deterministic input to one evaluation") {
    // the percentile/codegen-agg split runs TWO scans; for a plan with a
    // non-deterministic expression Stats.numeric must persist the input
    // so both jobs read the same rows (r10 ADVICE). The accumulator
    // counts row evaluations: 1000 means scan 2 read the cache; 2000
    // would mean the rows were re-drawn for the percentile job.
    val acc = spark.sparkContext.longAccumulator("stats_evals")
    val f = udf { (x: Long) => { acc.add(1); x.toDouble } }.asNondeterministic()
    val df = spark.range(0, 1000, 1, 4).select(f(col("id")).as("v"))
    val stats = Stats.numeric(df, Seq("v"),
      Stats.Need(moments = true, quantiles = true))
    assert(acc.value == 1000L,
      s"expected one evaluation per row across both scans, got ${acc.value}")
    val v = stats("v")
    assert(v.n == 1000L && v.mean.get == 499.5 && v.median.get == 499.5)
  }

  test("missing-values metrics envelope matches the reference fields") {
    val m = MissingValues("drop_rows")(nums).metrics()
    assert(m("strategy_used") == "drop_rows")
    assert(m("rows_before") == 5L && m("rows_after") == 3L)
    assert(m("columns_before") == 3L && m("columns_after") == 3L)
    assert(m("total_missing_before") == 2L && m("total_missing_after") == 0L)
    assert(m("missing_by_column") == Map("id" -> 0L, "x" -> 1L, "s" -> 1L))
  }

  test("missing-values metrics reflect dropped columns") {
    val m = MissingValues("drop_columns")(nums).metrics()
    assert(m("columns_before") == 3L && m("columns_after") == 1L)
    assert(m("total_missing_before") == 2L && m("total_missing_after") == 0L)
  }

  test("outliers metrics envelope counts detected cells and removed rows") {
    val m = Outliers("zscore", "remove", 1.0, columns = Seq("x"))(nums).metrics()
    assert(m("method_used") == "zscore" && m("action_used") == "remove")
    assert(m("columns_processed") == Seq("x"))
    assert(m("outliers_detected") == 1L) // 100.0 is the lone z>1 cell
    assert(m("rows_before") == 5L && m("rows_after") == 4L)
  }

  test("dedup metrics envelope reports duplicate_count") {
    val df = Seq((1, "a"), (1, "a"), (1, "a"), (2, "b")).toDF("i", "s")
    val m = Dedup()(df).metrics()
    assert(m("duplicate_count") == 2L)
    assert(m("rows_before") == 4L && m("rows_after") == 2L)
    assert(m("columns_before") == 2L && m("columns_after") == 2L)
  }

  test("typo-fix metrics envelope counts corrections per cell and pattern") {
    // "teh" and "adn" in one cell -> 2; "teh" again in another -> 1
    val df = Seq((1L, "teh cat adn dog"), (2L, "teh end"), (3L, "clean"))
      .toDF("id", "t")
    val r = TypoFix("common_typos")(df)
    val m = r.metrics()
    assert(m("method_used") == "common_typos")
    assert(m("total_corrections") == 3L)
    assert(m("rows_before") == 3L && m("rows_after") == 3L)
    assert(m("columns_processed") == Seq("t"))
  }

  test("dedup removes exact duplicates") {
    val df = Seq((1, "a"), (1, "a"), (2, "b")).toDF("i", "s")
    assert(Dedup()(df).df.count() == 2)
  }

  test("sanitize median-fills numeric nulls and blanks string nulls") {
    val out = Sanitize.transform(nums)
    assert(out.where($"x".isNull).count() == 0)
    assert(out.where($"s".isNull).count() == 0)
    assert(out.where($"id" === 2).head().getDouble(1) == 35.0)
    assert(out.where($"id" === 3).head().getString(2) == "")
  }

  test("outlier zscore remove drops values beyond t sigma") {
    val df = (Seq.fill(20)(10.0) :+ 1000.0).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "x")
    val out = Outliers("zscore", "remove", 2.0, columns = Seq("x"))(df).df
    assert(out.count() == 20)
    assert(out.agg(max($"x")).head().getDouble(0) == 10.0)
  }

  test("outlier iqr cap clips to bounds") {
    val df = ((1 to 100).map(_.toDouble) :+ 10000.0).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "x")
    val out = Outliers("iqr", "cap", 1.5, columns = Seq("x"))(df).df
    val mx = out.agg(max($"x")).head().getDouble(0)
    assert(mx < 10000.0 && mx > 100.0)
  }

  test("outlier remove uses pre-removal bounds for all columns") {
    // both columns' bounds computed BEFORE any row is removed
    val df = Seq((1L, 1.0, 5.0), (2L, 2.0, 5.0), (3L, 2.0, 5.0),
      (4L, 2.0, 5.0), (5L, 2.0, 1000.0), (6L, 100.0, 5.0)).toDF("id", "x", "y")
    val out = Outliers("zscore", "remove", 1.5, columns = Seq("x", "y"))(df).df
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("pipeline isolates a failing op and carries the frame forward") {
    val df = nums
    val (out, report) = Pipeline.run(df, PipelineConfig(
      missingValues = Some(MissingValues("no_such_strategy")),
      dedup = true))
    assert(report.stages.exists(s => !s.ok))
    assert(out.count() == df.count()) // dedup ran on the carried-forward df
  }

  test("profile counts sentinel and null missing") {
    val df = Seq((1L, "ok"), (2L, "N/A"), (3L, ""), (4L, null), (5L, "x"))
      .toDF("id", "s")
    val p = Profile(df)
    assert(p.rows == 5)
    assert(p.columns.find(_.name == "s").get.nMissing == 3)
  }

  test("profile estimates content bytes per column (A14)") {
    val df = Seq((1L, "ab"), (2L, "cdef"), (3L, null)).toDF("id", "s")
    val p = Profile(df)
    // id: 3 non-null longs x 8; s: actual UTF-8 payload bytes, nulls free
    assert(p.columns.find(_.name == "id").get.estBytes == 24L)
    assert(p.columns.find(_.name == "s").get.estBytes == 6L)
    assert(p.estBytes == 30L)
  }
}
