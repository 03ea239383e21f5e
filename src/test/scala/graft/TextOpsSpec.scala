package graft

import org.apache.spark.sql.functions._
import graft.ops._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("text cleaning chain lowercases, strips html/numbers/punct, collapses") {
    val df = Seq((1L, "  Hello, WORLD!!  <b>Tag</b> 123 ")).toDF("id", "t")
    val out = TextClean(Seq("lowercase", "remove_html", "remove_numbers",
      "remove_punctuation", "remove_extra_spaces"))(df).df
    assert(out.head().getString(1) == "hello world tag")
  }

  test("text cleaning maps literal 'nan' and empty results to null") {
    val df = Seq((1L, "nan"), (2L, "!!!")).toDF("id", "t")
    val out = TextClean(Seq("remove_punctuation"))(df).df
    assert(out.where($"t".isNull).count() == 2)
  }

  test("typo dictionary fixes word-boundary case-insensitive") {
    val df = Seq((1L, "Teh managment was wrong"), (2L, "tehx untouched")).toDF("id", "t")
    val out = TypoFix("common_typos")(df).df.orderBy("id").collect()
    assert(out(0).getString(1) == "the management was wrong")
    assert(out(1).getString(1) == "tehx untouched")
  }

  test("ratcliff/obershelp ratio matches difflib on known pairs") {
    assert(TypoFix.ratio("spakr", "spark") == 0.8)
    assert(TypoFix.ratio("abc", "abc") == 1.0)
    assert(TypoFix.ratio("abc", "xyz") == 0.0)
    assert(math.abs(TypoFix.ratio("AUTOMOBIL".toLowerCase,
      "AUTOMOBILE".toLowerCase) - 2.0 * 9 / 19) < 1e-12)
  }

  test("fuzzy match rewrites rare variant to frequent spelling") {
    val vals = Seq.fill(10)("BUILDING") ++ Seq("BULDING", "OTHER")
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "s")
    val out = TypoFix("fuzzy_match", similarityThreshold = 0.8)(df).df
    assert(out.where($"s" === "BULDING").count() == 0)
    assert(out.where($"s" === "BUILDING").count() == 11)
    assert(out.where($"s" === "OTHER").count() == 1)
  }

  test("fuzzy over-guard column is a no-op after one probe job, no collect") {
    // 5000 distinct values, guard at 50: the HLL probe must reject the
    // column in ONE job — without the groupBy shuffle + 51-row collect the
    // pre-probe code paid just to discover the same no-op
    val df = spark.range(5000)
      .select($"id", concat(lit("val_"), $"id").as("s"))
    def jobCount = spark.sparkContext.statusTracker
      .getJobIdsForGroup(null).length
    // AQE materializes each shuffle stage as its own job, which would make
    // the count depend on planner internals — off, the probe agg is
    // exactly one job and the skipped groupBy+collect would be a second
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val before = jobCount
    val r = try TypoFix("fuzzy_match", columns = Seq("s"), maxDistinct = 50)(df)
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // the status store is fed asynchronously — wait for the probe job to
    // land, then settle so an unexpected second job would surface
    val deadline = System.currentTimeMillis + 5000
    while (jobCount - before < 1 && System.currentTimeMillis < deadline)
      Thread.sleep(50)
    Thread.sleep(250)
    assert(jobCount - before == 1,
      s"expected only the HLL probe job, got ${jobCount - before}")
    // the op returns the input frame unchanged (no replacement applied)
    assert(r.df eq df)
  }

  test("type conversion auto-detects numeric, boolean, datetime, category") {
    val df = Seq(
      ("1.5", "yes", "2024-01-02", "x"),
      ("2.0", "no", "2024-02-03", "y"),
      ("bad", "yes", "2024-03-04", "x"),
      ("3.25", "no", "2024-04-05", "x"),
      ("4.0", "yes", "2024-05-06", "y"),
      ("5.75", "no", "2024-06-07", "x"),
      ("6.0", "yes", "2024-07-08", "y"),
      ("7.5", "no", "2024-08-09", "x"),
      ("8.0", "yes", "2024-09-10", "y"),
      ("9.25", "no", "2024-10-11", "x")).toDF("num", "flag", "date", "cat")
    val out = TypeConvert(auto = true)(df).df
    val types = out.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(types("num") == "double")
    assert(types("flag") == "boolean")
    assert(types("date") == "timestamp")
    assert(types("cat") == "string")
    assert(out.where($"num".isNull).count() == 1) // "bad" coerced to null
  }

  test("fused datetime detection count equals the two-job path on " +
      "adversarial shapes (r21 ADVICE parity)") {
    // Detection counts datetime parses inside job 1, gated on the bit-3
    // shape probe. Parity argument: every default format is gated by an
    // EXACT shape regex (patternShapeRegex: yyyy → \d{4}), so SMART-mode
    // over-acceptance (5-digit years, 1-digit month/day) cannot occur,
    // and every format regex implies the bit-3 probe. The separate
    // parse job this test once compared against is gone; the reference
    // is now the format chain's own parse count over every row, with no
    // shape gate, over exactly the adversarial values the advice named.
    val rows = Seq(
      "12345-01-01", // 5-digit year: both probe and chain must reject
      "2021-1-1",    // 1-digit month/day: bit-3 yes, every format regex no
      "2021-02-30",  // shape ok, semantically invalid: parse must null it
      "99999/9/9", " 2024-05-06 ", "2024-05-06", "2024-06-07",
      "2024-07-08 10:11:12", "05/06/2024", "06-07-2024",
      "2024/08/09", "not a date", "2024-09-10", "2024-10-11",
      "2024-11-12", "2024-12-13")
    val df = rows.toDF("d")
    val fused = TypeConvert(auto = true)(df)
    val chain = graft.util.Exprs.tryTimestampChain(trim($"d"),
      TypeConvert.DefaultFormats)
    val parsed = df.where(chain.isNotNull).count()
    assert(parsed > 0.5 * rows.size, "the fixture must detect as datetime")
    assert(fused.df.schema("d").dataType.typeName == "timestamp",
      s"$parsed of ${rows.size} rows parse: the decision must be datetime")
    val a = fused.df.collect().map(_.toString).sorted
    val b = df.select(chain.as("d")).collect().map(_.toString).sorted
    assert(a.sameElements(b),
      "the conversion output must be the format chain's parse")
  }

  test("numeric probe matches pandas token acceptance, not Java's parser") {
    // Pins the regex gates in Exprs.tryDouble: Java's parser takes "1.5f",
    // "NaN", hex floats, which pandas.to_numeric rejects — drifting here
    // silently breaks the oracle comparison (round-2 lesson). Inf tokens
    // ARE accepted: pandas parses inf/infinity case-insensitively
    // (verified empirically), and nan tokens stay rejected — pandas raises
    // on them, and errors='coerce' turns them into NaN == missing, which
    // is what our null means.
    val df = Seq("1.5f", "NaN", "nan", "0x1p3", "1d", "1,000", "", "Inf.",
      "infinityx", " 2.5 ", "+3e2", ".5", "7.",
      "inf", "Infinity", "-Infinity", "+INF").toDF("s")
    val got = df.select(graft.util.Exprs.tryDouble($"s").as("v"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toSeq == Seq(None, None, None, None, None, None, None, None,
      None, Some(2.5), Some(300.0), Some(0.5), Some(7.0),
      Some(Double.PositiveInfinity), Some(Double.PositiveInfinity),
      Some(Double.NegativeInfinity), Some(Double.PositiveInfinity)))
  }

  test("fused probe mask equals the anchored regex probes on edge tokens") {
    import java.util.regex.Pattern
    val num = Pattern.compile(graft.util.Exprs.NumericRegex)
    val intp = Pattern.compile("^[+-]?\\d+$")
    val inf = Pattern.compile(graft.util.Exprs.InfRegex)
    val dtc = Pattern.compile(TypeConvert.DatetimeShapeRegex)
    def expected(raw: String): Long = {
      if (raw == null) return 0L
      var lo = 0; var hi = raw.length
      while (lo < hi && raw.charAt(lo) == ' ') lo += 1
      while (hi > lo && raw.charAt(hi - 1) == ' ') hi -= 1
      val s = raw.substring(lo, hi)
      var m = 1L
      if (num.matcher(s).find() || inf.matcher(s).find()) m |= 2L
      if (intp.matcher(s).find()) m |= 4L
      if (dtc.matcher(s).find()) m |= 8L
      if (TypeConvert.BoolTokens.contains(s.toLowerCase(java.util.Locale.ROOT)))
        m |= 16L
      m
    }
    val cases = Seq(null, "", " ", "123", " 123 ", "+5", "-0", "12.5", ".5",
      "7.", "5.e3", "1e", "e3", "1.5f", "Infinity", "-iNf", "+INFINITY",
      "infinityx", "Inf.", "NaN", "0x1p3", "1,000",
      "+3e2", "3E-2", "123\n", "12\n3", "inf\u2028", "42\u2028", "9\u2029",
      "8\u0085", ".", "+.", "..5", "1.5.6", "1e5.2",
      "2024-01-02", "12345-06-07", "1-1-1", "1-1-1 x", "1-1-1Tx", "1-1-1\tx",
      "2024/1/2 03:04", "1-1-1 x\ny", "yes", "No", "TRUE", "f", "maybe",
      " true ", "truthy", "\ttrue")
    for (s <- cases)
      assert(TypeConvert.probeMask(s) == expected(s),
        s"mask mismatch for ${Option(s).map(x => "\"" + x + "\"").getOrElse("null")}")
  }

  test("boolean detection requires >1 raw distinct and all-token values") {
    // no confirmation scan: __bool == __n already implies the distinct set
    // is a subset of the tokens (dataTypeConversion.py:136-138)
    val df = Seq(("yes", "yes", "maybe"), ("no", "yes", "yes"))
      .toDF("b", "mono", "mixed")
    val types = TypeConvert(auto = true)(df).df.schema.fields
      .map(f => f.name -> f.dataType.typeName).toMap
    assert(types("b") == "boolean")
    assert(types("mono") == "string") // single distinct value stays string
    assert(types("mixed") == "string") // non-token value stays string
  }

  test("datetime parse converts only above the ratio gate and extracts features") {
    val df = Seq((1L, "2024-03-05", "notadate"), (2L, "2024-04-06", "alsobad"))
      .toDF("id", "d", "junk")
    val out = DatetimeParse(extractFeatures = true)(df).df
    assert(out.schema("d").dataType.typeName == "timestamp")
    assert(out.schema("junk").dataType.typeName == "string")
    val r = out.orderBy("id").head()
    assert(r.getLong(r.fieldIndex("d_year")) == 2024L)
    assert(r.getLong(r.fieldIndex("d_month")) == 3L)
  }

  test("label encoding assigns lexicographic codes in place") {
    val df = Seq((1L, "b"), (2L, "a"), (3L, "c"), (4L, "a")).toDF("id", "s")
    val out = Encode("label")(df).df.orderBy("id").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 0L, 2L, 0L))
  }

  test("label encoding scale path assigns the same codes as the window path") {
    // ~90 distinct values incl. nulls; maxLabelBroadcast = 1 forces the
    // partition-offset rankedDistinct path — codes must be IDENTICAL to
    // the dense_rank/broadcast path (sklearn LabelEncoder semantics,
    // encoding.py:87-120)
    val df = (0 until 300).map { i =>
      (i.toLong, if (i % 11 == 0) null else f"val_${i % 89}%03d")
    }.toDF("id", "s")
    val windowed = Encode("label", columns = Seq("s"))(df).df
      .orderBy("id").collect().toSeq
    val scaled = Encode("label", columns = Seq("s"), maxLabelBroadcast = 1)(df).df
      .orderBy("id").collect().toSeq
    assert(windowed == scaled)
  }

  test("onehot emits sorted value columns plus null indicator") {
    val df = Seq((1L, "b"), (2L, "a"), (3L, null)).toDF("id", "s")
    val out = Encode("onehot")(df).df
    assert(out.columns.toSeq == Seq("id", "s_a", "s_b", "s_nan"))
    val r = out.orderBy("id").collect()
    assert(r(0).getLong(2) == 1L && r(1).getLong(1) == 1L && r(2).getLong(3) == 1L)
  }

  test("onehot skips high-cardinality columns before collecting values") {
    // 200 distinct ids in `hi` (> the 50 limit) must pass through untouched
    // — the cardinality guard runs BEFORE the distinct-value collect, so
    // the driver never materializes the 200 values; `lo` still encodes.
    val df = (1L to 200L).map(i => (i, s"v$i", if (i % 2 == 0) "a" else "b"))
      .toDF("id", "hi", "lo")
    val out = Encode("onehot")(df).df
    assert(out.columns.toSeq == Seq("id", "hi", "lo_a", "lo_b", "lo_nan"))
    assert(out.where($"hi" === "v7").count() == 1)
  }

  test("onehot suffixes colliding generated names deterministically") {
    // adversarial names: value "nan" collides with the null indicator
    // s_nan; value "a" generates s_a which collides with the existing
    // pass-through column s_a (which must keep its name)
    val df = Seq((1L, "nan", 9L), (2L, "a", 9L), (3L, null, 9L))
      .toDF("id", "s", "s_a")
    val out = Encode("onehot")(df).df
    assert(out.columns.toSeq ==
      Seq("id", "s_a_2", "s_nan", "s_nan_2", "s_a"))
    val r = out.orderBy("id").collect()
    assert(r(1).getLong(r(1).fieldIndex("s_a_2")) == 1L)   // value "a"
    assert(r(0).getLong(r(0).fieldIndex("s_nan")) == 1L)   // value "nan"
    assert(r(2).getLong(r(2).fieldIndex("s_nan_2")) == 1L) // null indicator
    assert(r.forall(_.getLong(4) == 9L))                   // s_a untouched
  }

  test("frequency encoding appends normalized counts including null group") {
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, null)).toDF("id", "s")
    val out = Encode("target")(df).df
    val m = out.collect().map(r => Option(r.getString(1)) -> r.getDouble(2)).toMap
    assert(m(Some("a")) == 0.5 && m(Some("b")) == 0.25 && m(None) == 0.25)
  }

  test("normalize minmax maps to [0,1]; standard uses population std") {
    val df = Seq((1L, 0.0), (2L, 5.0), (3L, 10.0)).toDF("id", "x")
    val mm = Normalize("minmax", columns = Seq("x"))(df).df
      .orderBy("id").collect().map(_.getDouble(1))
    assert(mm.toSeq == Seq(0.0, 0.5, 1.0))
    val st = Normalize("standard", columns = Seq("x"))(df).df
      .orderBy("id").collect().map(_.getDouble(1))
    val sdPop = math.sqrt((25.0 + 0.0 + 25.0) / 3)
    assert(math.abs(st(0) - (-5.0 / sdPop)) < 1e-12)
  }

  test("inverse from fitted stats schedules no refit job") {
    val df = Seq((1L, 2.0), (2L, 6.0), (3L, 10.0)).toDF("id", "x")
    val (res, stats) = Normalize("minmax", columns = Seq("x")).fitTransform(df)
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val inv = Normalize.inverseFromStats(res.df, stats, "minmax", Seq("x"))
      // a refit (the old inverse path) would have run its stats job
      // synchronously in the line above; give the async listener bus a
      // moment, then require silence
      Thread.sleep(500)
      assert(jobs == 0)
      assert(inv.orderBy("id").collect().map(_.getDouble(1)).toSeq ==
        Seq(2.0, 6.0, 10.0))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("normalize l2 produces unit-norm rows") {
    val df = Seq((1L, 3.0, 4.0)).toDF("id", "a", "b")
    val r = Normalize("normalize", columns = Seq("a", "b"))(df).df.head()
    assert(math.abs(r.getDouble(1) - 0.6) < 1e-12)
    assert(math.abs(r.getDouble(2) - 0.8) < 1e-12)
  }

  test("manual conversion error modes: coerce nulls, raise throws, ignore keeps") {
    import org.apache.spark.sql.types._
    val df = Seq(("1", "x"), ("oops", "y")).toDF("a", "b")
    val coerced = TypeConvert(auto = false, manual = Map("a" -> "int"))(df).df
    assert(coerced.schema("a").dataType == LongType)
    assert(coerced.where($"a".isNull).count() == 1)
    intercept[IllegalStateException](
      TypeConvert(auto = false, manual = Map("a" -> "int"),
        manualErrors = "raise")(df).df)
    val ignored = TypeConvert(auto = false, manual = Map("a" -> "int"),
      manualErrors = "ignore")(df).df
    assert(ignored.schema("a").dataType == StringType)
    // a clean column still converts under raise
    val ok = TypeConvert(auto = false, manual = Map("a" -> "str"),
      manualErrors = "raise")(df).df
    assert(ok.schema("a").dataType == StringType)
  }

  test("passage dedup removes shared and self-repeated spans, keeps unique text") {
    import graft.text.PassageDedup
    val shared = "alpha beta gamma delta epsilon" // 5 tokens, l=3
    val df = Seq(
      (1L, s"unique one text here $shared trailing words distinct1"),
      (2L, s"other doc begins $shared and then continues uniquely2"),
      (3L, "totally unrelated content with no duplicated span at all"),
      (4L, "self rep self rep self rep tail"), // within-doc repeats
      (5L, "short doc")).toDF("id", "t") // < l tokens: untouched
    val out = PassageDedup.removeDuplicatePassages(df, "t", "id", l = 3)
      .orderBy("id").collect()
    assert(out.length == 5)
    val t1 = out(0).getString(1)
    // every shared token gone, every unique token kept, order preserved
    assert(t1 == "unique one text here trailing words distinct1", t1)
    assert(out(1).getString(1) == "other doc begins and then continues uniquely2")
    assert(out(2).getString(1) == "totally unrelated content with no duplicated span at all")
    assert(out(2).getLong(2) == 0L)
    // "self rep self" occurs repeatedly -> the repeated region is covered
    assert(out(3).getString(1) == "tail", out(3).getString(1))
    assert(out(3).getLong(2) == 6L)
    assert(out(4).getString(1) == "short doc")
    assert(out(0).getLong(2) == 5L)
  }

  test("passage dedup: fully duplicated docs come back empty, not dropped") {
    import graft.text.PassageDedup
    val df = Seq(
      (1L, "one two three four"),
      (2L, "one two three four"),
      (3L, "")).toDF("id", "t")
    val out = PassageDedup.removeDuplicatePassages(df, "t", "id", l = 4)
      .orderBy("id").collect()
    assert(out(0).getString(1) == "" && out(1).getString(1) == "")
    assert(out(0).getLong(2) == 4L)
    assert(out(2).getString(1) == "" && out(2).getLong(2) == 0L)
  }

  test("passage dedup merges overlapping windows into one span") {
    import graft.text.PassageDedup
    // 6-token shared run with l=3: windows at 0..3 overlap; all six
    // tokens removed in both docs, the unique suffixes survive
    val df = Seq(
      (1L, "p q r s t u suffixone here"),
      (2L, "p q r s t u suffixtwo there")).toDF("id", "t")
    val out = PassageDedup.removeDuplicatePassages(df, "t", "id", l = 3)
      .orderBy("id").collect()
    assert(out(0).getString(1) == "suffixone here")
    assert(out(1).getString(1) == "suffixtwo there")
  }

  test("chunker: overlapping fixed-token windows, short tail, blank " +
      "docs emit nothing") {
    import graft.text.Chunker
    val df = Seq(
      (1L, "A b c d e f g h i"),  // 9 tokens: starts 0,3,6 (stride 3)
      (2L, "one two"),            // shorter than a chunk: one short chunk
      (3L, "   "),                // blank: no chunks
      (4L, null.asInstanceOf[String])) // null: no chunks
      .toDF("id", "t")
    val out = Chunker.chunk(df, "id", "t", chunkTokens = 5, overlapTokens = 2)
      .orderBy("id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 0L, 5L, "a b c d e"),
      (1L, 1L, 5L, "d e f g h"),
      (1L, 2L, 3L, "g h i"),
      (2L, 0L, 2L, "one two")))
    // overlap: each chunk's head repeats the previous chunk's tail
    assert(out(1)._4.startsWith("d e") && out(0)._4.endsWith("d e"))
    // degenerate params refuse
    intercept[IllegalArgumentException] {
      Chunker.chunk(df, "id", "t", chunkTokens = 4, overlapTokens = 4)
    }
    ()
  }
}
