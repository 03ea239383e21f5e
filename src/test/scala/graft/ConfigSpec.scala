package graft

import org.apache.spark.sql.functions._
import graft.ops._

class ConfigSpec extends SparkSpec {
  import spark.implicits._

  private val fullJson =
    """{"missing_values": {"enabled": true, "strategy": "fill_median",
      |                    "threshold": 0.6},
      | "outliers": {"enabled": true, "method": "iqr", "action": "cap",
      |              "threshold": 1.5, "columns": ["x"]},
      | "duplicates": {"enabled": true},
      | "data_type_conversion": {"enabled": false},
      | "text_cleaning": {"enabled": true,
      |                   "operations": ["lowercase", "remove_extra_spaces"]},
      | "encoding": {"enabled": true, "method": "onehot", "drop_first": true},
      | "normalization": {"enabled": true, "method": "minmax",
      |                   "feature_range": [0, 10]}}""".stripMargin

  test("json config parses to the typed pipeline config") {
    val cfg = PipelineJson.parse(fullJson)
    assert(cfg.missingValues.contains(MissingValues("fill_median", 0.6)))
    assert(cfg.outliers.exists(o => o.method == "iqr" && o.action == "cap"
      && o.threshold == 1.5 && o.columns == Seq("x")))
    assert(cfg.dedup)
    assert(cfg.typeConvert.isEmpty)   // enabled: false
    assert(cfg.datetimeParse.isEmpty) // absent
    assert(cfg.encode.exists(e => e.method == "onehot" && e.dropFirst))
    assert(cfg.normalize.exists(n =>
      n.method == "minmax" && n.featureRange == (0.0, 10.0)))
  }

  test("invalid operation and enum values fail fast") {
    intercept[IllegalArgumentException](
      PipelineJson.parse("""{"bogus_op": {"enabled": true}}"""))
    intercept[IllegalArgumentException](PipelineJson.parse(
      """{"missing_values": {"enabled": true, "strategy": "nope"}}"""))
    intercept[IllegalArgumentException](PipelineJson.parse(
      """{"outliers": {"enabled": true, "method": "nope"}}"""))
  }

  test("json parser handles nesting, escapes, numbers") {
    import PipelineJson._
    val v = parseJson("""{"a": [1, 2.5, -3e2], "b": "x\n\"yA", "c": null}""")
    val o = v.asInstanceOf[JObj]
    assert(o.fields("a") == JArr(List(JNum(1), JNum(2.5), JNum(-300.0))))
    assert(o.fields("b") == JStr("x\n\"yA"))
    assert(o.fields("c") == JNull)
  }

  test("malformed json fails with a positioned IllegalArgumentException") {
    // each input with the offset its error must name
    for ((bad, at) <- Seq("\"abc\\" -> 4, "\"\\u12" -> 1, "[1,]" -> 3,
        "{\"a\": @}" -> 6, "{\"a\": \"\\uZZZZ\"}" -> 7, "[1e+-]" -> 1)) {
      val e = intercept[IllegalArgumentException](PipelineJson.parseJson(bad))
      assert(e.getMessage.endsWith(s" at $at"), s"$bad: ${e.getMessage}")
      intercept[IllegalArgumentException](PipelineJson.parse(bad))
    }
  }

  test("a parsed config runs the pipeline end to end") {
    val df = Seq[(java.lang.Long, java.lang.Double, String)](
      (1L, 1.0, "A B"), (2L, null, "c"), (2L, null, "c"), (3L, 100.0, "d"))
      .toDF("id", "x", "s")
    val cfg = PipelineJson.parse(
      """{"duplicates": {"enabled": true},
        | "text_cleaning": {"enabled": true, "operations": ["lowercase"]},
        | "normalization": {"enabled": true, "method": "minmax",
        |                   "columns": ["x"]}}""".stripMargin)
    val (out, report) = Pipeline.run(df, cfg)
    assert(report.errors.isEmpty)
    assert(out.count() == 3) // dup collapsed
    assert(out.where($"s" === "a b").count() == 1)
    val mm = out.agg(min($"x"), max($"x")).head()
    assert(mm.getDouble(0) == 0.0 && mm.getDouble(1) == 1.0)
  }

  test("streaming sessionize emits closed sessions with state timeout") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(sec: Long) = new java.sql.Timestamp(t0.getTime + sec * 1000)
    val stream = mem.toDF.toDF("user_id", "ts", "value")
    val q = graft.streaming.Events.streamingSessionize(stream, gapSeconds = 60)
      .writeStream.format("memory").queryName("sessions_test")
      .outputMode("append").start()
    // batch 1: user 1 session A (2 events); batch 2: a later event beyond
    // the gap closes session A; advance watermark far enough to prove the
    // pipeline keeps running — closed-by-gap emission is immediate
    mem.addData((1L, ts(0), 1.0), (1L, ts(30), 1.0))
    q.processAllAvailable()
    mem.addData((1L, ts(300), 1.0))
    q.processAllAvailable()
    val afterGap = spark.table("sessions_test").collect()
    assert(afterGap.length == 1)
    assert(afterGap(0).getLong(1) == 2) // session A had 2 events
    assert(afterGap(0).getDouble(3) == 30.0) // 30s duration
    q.stop()
  }
}
