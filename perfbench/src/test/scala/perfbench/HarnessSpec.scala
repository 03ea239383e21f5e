package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.{PipelineReport, StageReport}
import graft.Profile.{ColumnProfile, DatasetProfile}

class QuantilesSpec extends AnyFunSuite {
  test("median interpolates an even sample and picks the middle of an odd one") {
    assert(Quantiles.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Quantiles.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Quantiles.of(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.25) == 2.0)
  }

  test("p95 needs 200 samples, so that at least 10 lie above it") {
    assert(Quantiles.samplesFor(0.95) == 200)
    assert(Quantiles.samplesFor(0.5) == 20)
    val xs = (1 to 199).map(_.toDouble)
    assert(Quantiles.tail(xs, 0.95).isEmpty)
    val ys = (1 to 200).map(_.toDouble)
    val p95 = Quantiles.tail(ys, 0.95)
    assert(p95.exists(v => ys.count(_ > v) >= 10))
  }

  test("a tail over tied values with too few strictly above it is refused") {
    val xs = Seq.fill(195)(1.0) ++ Seq.fill(5)(2.0)
    assert(Quantiles.tail(xs, 0.95).isEmpty)
  }

  test("empty samples and quantiles outside [0, 1] fail loudly") {
    intercept[IllegalArgumentException](Quantiles.median(Nil))
    intercept[IllegalArgumentException](Quantiles.of(Seq(1.0), 1.5))
  }
}

class AttributionSpec extends AnyFunSuite {
  private def details(frames: String*) = frames.mkString("\n")

  test("the first engine frame names the module") {
    val d = details(
      "org.apache.spark.sql.classic.Dataset.head(Dataset.scala:1400)",
      "graft.ops.Stats$.numeric(Stats.scala:61)",
      "graft.ops.MissingValues.apply(MissingValues.scala:72)",
      "graft.Pipeline$.$anonfun$run$1(Pipeline.scala:60)",
      "perfbench.CleanInteractive.run(Workloads.scala:158)")
    assert(Attribution.module(d) == "ops")
  }

  test("top-level engine objects are named after themselves") {
    assert(Attribution.module(details(
      "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)",
      "graft.Profile$.apply(Profile.scala:61)")) == "profile")
    assert(Attribution.module(details(
      "graft.Pipeline$.$anonfun$run$1(Pipeline.scala:60)")) == "pipeline")
    assert(Attribution.module(details(
      "graft.PipelineJson$.parse(PipelineJson.scala:160)")) == "pipeline")
  }

  test("package modules from nested frames") {
    assert(Attribution.module(details(
      "org.apache.spark.rdd.RDD.count(RDD.scala:1300)",
      "graft.dedup.NearDup$.minhashPairs(NearDup.scala:290)")) == "dedup")
    assert(Attribution.module(details(
      "  graft.sources.Csv$.write(Csv.scala:43)")) == "sources")
    assert(Attribution.module(details(
      "graft.sim.Similarity$.fitIvfIndex(Similarity.scala:306)")) == "sim")
  }

  test("call sites without an engine frame belong to the harness") {
    assert(Attribution.module(details(
      "org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2(SQLExecution.scala:329)",
      "java.base/java.util.concurrent.ThreadPoolExecutor.runWorker(ThreadPoolExecutor.java:1136)")) ==
      "harness")
    assert(Attribution.module("") == "harness")
    assert(Attribution.module(null) == "harness")
  }

  test("job intervals are unioned before they count as covered wall") {
    assert(LayerTrace.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 100L) == 25L)
    assert(LayerTrace.covered(Seq((-5L, 5L), (95L, 200L)), 0L, 100L) == 10L)
    assert(LayerTrace.covered(Nil, 0L, 100L) == 0L)
  }
}

class ChecksSpec extends AnyFunSuite {
  private def stage(op: String, ok: Boolean) =
    StageReport(op, ok, Nil, if (ok) None else Some("boom"), Map.empty)

  test("a failed or missing pipeline stage is rejected") {
    val good = PipelineReport(Seq(stage("a", ok = true), stage("b", ok = true)))
    assert(Checks.stages(good, 2).isEmpty)
    assert(Checks.stages(
      PipelineReport(Seq(stage("a", ok = true), stage("b", ok = false))), 2).nonEmpty)
    assert(Checks.stages(PipelineReport(Seq(stage("a", ok = true))), 2).nonEmpty)
  }

  test("a wrong row count (dedup removed too few or too many) is rejected") {
    assert(Checks.equal("output rows", 1000, 1000).isEmpty)
    assert(Checks.equal("output rows", 1001, 1000).nonEmpty)
  }

  test("a null left in a filled column is rejected") {
    assert(Checks.noNulls(Map("a" -> 0L, "b" -> 0L), Seq("a", "b")).isEmpty)
    assert(Checks.noNulls(Map("a" -> 0L, "b" -> 3L), Seq("a", "b")).nonEmpty)
    assert(Checks.noNulls(Map("a" -> 0L), Seq("a", "b")).nonEmpty)
  }

  test("a profile that miscounts rows, duplicates or missing cells is rejected") {
    def p(rows: Long, dups: Long, missing: Long) = DatasetProfile(rows, 2, dups, 0L,
      Seq(ColumnProfile("a", "string", missing, 0L), ColumnProfile("b", "string", 0L, 0L)),
      Nil)
    val nulls = Map("a" -> 5L, "b" -> 0L)
    assert(Checks.profile(p(100, 3, 5), 100, 3, nulls).isEmpty)
    assert(Checks.profile(p(99, 3, 5), 100, 3, nulls).nonEmpty)
    assert(Checks.profile(p(100, 2, 5), 100, 3, nulls).nonEmpty)
    assert(Checks.profile(p(100, 3, 6), 100, 3, nulls).nonEmpty)
  }

  test("clusters must equal the planted groups exactly") {
    val groups = Seq(Seq(1L, 2L, 3L), Seq(7L, 8L, 9L))
    val good = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L, 9L -> 7L)
    assert(Checks.clusters(good, groups).isEmpty)
    // a split group, a merged pair of groups, a stray pair, a wrong label
    assert(Checks.clusters(good.filterNot(_._1 == 3L) :+ (3L -> 3L), groups).nonEmpty)
    assert(Checks.clusters(good.map { case (i, _) => i -> 1L }, groups).nonEmpty)
    assert(Checks.clusters(good ++ Seq(20L -> 20L, 21L -> 20L), groups).nonEmpty)
    assert(Checks.clusters(good.map { case (i, l) => i -> (if (l == 7L) 8L else l) },
      groups).nonEmpty)
  }

  test("row sets compare as multisets") {
    assert(Checks.sameRows("x", Seq("b", "a"), Seq("a", "b")).isEmpty)
    assert(Checks.sameRows("x", Seq("a", "a"), Seq("a", "b")).nonEmpty)
    assert(Checks.sameRows("x", Seq("a"), Seq("a", "a")).nonEmpty)
  }
}
