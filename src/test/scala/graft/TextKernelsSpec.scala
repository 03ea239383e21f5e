package graft

import org.apache.spark.sql.functions._

import graft.dedup.NearDup
import graft.functions.TextKernels
import graft.sim.Similarity
import graft.text.{Bpe, QualityFilters}

/** The codegen text kernels (functions/TextKernels) against reference
  * implementations: bit/byte-identical results on real corpus text and
  * adversarial inputs (astral chars, nulls, empties), UDF-era null
  * contracts preserved, kernels inside WholeStageCodegen, and the
  * interpreted fallback agreeing with codegen. */
class TextKernelsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  /** The pre-r15 shingle UDF algorithm, verbatim, as the reference. */
  private def refShingles(s: String, k: Int): Seq[String] =
    if (s == null) Seq.empty
    else {
      val cps = s.codePoints().toArray
      if (cps.length < k) Seq.empty
      else {
        val seen = new java.util.LinkedHashSet[String]()
        var i = 0
        while (i + k <= cps.length) { seen.add(new String(cps, i, k)); i += 1 }
        import scala.jdk.CollectionConverters._
        seen.asScala.toSeq
      }
    }

  /** The pre-r15 simhash vote UDF algorithm, verbatim. */
  private def refVote(hs: Seq[Long], bits: Int): Long = {
    val votes = new Array[Long](bits)
    hs.foreach { h =>
      var b = 0
      while (b < bits) {
        votes(b) += (if (((h >>> b) & 1L) == 1L) 1L else -1L); b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < bits) { if (votes(b) > 0) sig |= 1L << b; b += 1 }
    sig
  }

  private def norm(s: String): String =
    s.trim.toLowerCase.replaceAll("\\s+", " ")

  test("graft_shingles matches the UDF-era kernel on corpus text, " +
      "astral chars, shorts, and nulls") {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).limit(200)
      .union(Seq(
        (900001L, "a😀b😁cde fgh"), // astral pairs
        (900002L, "abcd"), // shorter than k=5
        (900003L, "  AbC   dEf  GH ij "), // normalization edges
        (900004L, null.asInstanceOf[String]),
        (900005L, "aaaaaaaaaa")) // one distinct shingle
        .toDF("doc_id", "text"))
    val got = docs
      .select(col("doc_id"), col("text"),
        NearDup.shingles(col("text")).as("sh"))
      .collect()
    assert(got.length > 200)
    got.foreach { r =>
      val expect = refShingles(
        if (r.isNullAt(1)) null else norm(r.getString(1)), 5)
      assert(r.getSeq[String](2) == expect,
        s"shingle mismatch on doc ${r.getLong(0)}")
    }
  }

  test("graft_simhash_vote matches the UDF-era fold on random hash " +
      "arrays and both bit widths") {
    val rnd = new scala.util.Random(15)
    val rows = (0 until 300).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(40))(rnd.nextLong()))
    }
    for (bits <- Seq(56, 64)) {
      val got = rows.toDF("id", "hs")
        .select(col("id"), col("hs"),
          TextKernels.simhashVote(col("hs"), bits).as("sig"))
        .collect()
      got.foreach { r =>
        assert(r.getLong(2) == refVote(r.getSeq[Long](1), bits),
          s"vote mismatch id=${r.getLong(0)} bits=$bits")
      }
    }
    // null array -> null signature (the UDF contract)
    val n = Seq((1L, null.asInstanceOf[Seq[Long]])).toDF("id", "hs")
      .select(TextKernels.simhashVote(col("hs"), 64))
      .head()
    assert(n.isNullAt(0))
  }

  test("graft_repetition / graft_rep_keep equal the shared Scala kernel " +
      "and keep the UDF-era null contract") {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).limit(200)
      .union(Seq((900001L, null.asInstanceOf[String]),
        (900002L, ""), (900003L, "spam spam spam spam spam"))
        .toDF("doc_id", "text"))
    val got = docs.select(col("doc_id"), col("text"),
        TextKernels.repetition(col("text")).as("r"),
        TextKernels.repetitionKeep(col("text"),
          0.30, 0.18, 0.16, 0.15).as("keep"))
      .collect()
    got.foreach { r =>
      val t = if (r.isNullAt(1)) null else r.getString(1)
      val e = QualityFilters.repetition(t)
      val s = r.getStruct(2)
      assert(s.getLong(0) == e.n_words &&
        s.getDouble(1) == e.dup_word_frac &&
        s.getDouble(2) == e.top_bigram_char_frac &&
        s.getDouble(3) == e.top_trigram_char_frac &&
        s.getDouble(4) == e.dup_fivegram_char_frac,
        s"repetition mismatch doc ${r.getLong(0)}")
      assert(r.getBoolean(3) ==
        QualityFilters.keep(t, 0.30, 0.18, 0.16, 0.15))
    }
    // null text keeps (no words -> no repetition): pinned explicitly
    assert(got.find(_.getLong(0) == 900001L).get.getBoolean(3))
  }

  test("the kernels run with no ScalaUDF node and inside " +
      "WholeStageCodegen") {
    val docs = Tables.load(spark, dir, "documents")
    val shPlan = docs.select(NearDup.shingles(col("text")).as("sh"))
      .queryExecution.executedPlan.toString
    assert(!shPlan.contains("ScalaUDF"), shPlan)
    assert("""\*\(\d+\) Project""".r.findFirstIn(shPlan).nonEmpty, shPlan)
    // simhash's token-hash staging is a higher-order transform (no
    // codegen support in Spark), so its projection runs interpreted with
    // or without the kernel — assert only that the UDF (and its
    // converter boxing) is gone; SimhashVote's interpreted eval reads
    // the ArrayData in place
    val simPlan = docs.select(NearDup.simhash(col("text")).as("sig"))
      .queryExecution.executedPlan.toString
    assert(!simPlan.contains("ScalaUDF"), simPlan)
    val repPlan = QualityFilters
      .repetitionSignals(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!repPlan.contains("ScalaUDF"), repPlan)
    assert("""\*\(\d+\) Project""".r.findFirstIn(repPlan).nonEmpty, repPlan)
  }

  test("graft_probe_mask equals the UDF-era String kernel on adversarial " +
      "inputs and the byte fast path cannot diverge from it (r16)") {
    val cases: Seq[String] = Seq(
      null, "", " ", "   ", "123", "+123", "-123", "12.5", ".5", "5.",
      "+.5", "-5.", ".", "+", "-", "+-1", "1e5", "1E5", "1.5e-3", ".5e2",
      "1e", "1e+", "e5", "inf", "INF", "Infinity", "-inf", "+infinity",
      "-infinity9", "infin", "nan", "NaN", "1.5f", "0x1f", "1_000",
      "2024-01-15", "2024/1/5", "1-2-3", "15-01-2024", "2024-01-15 10:30:00",
      "2024-01-15T10:30", "12345-1-1", "202-1-1 rest", "1-2", "1--2",
      "true", "FALSE", "Yes", "n", "T", "0", "1", "y", "no", "f",
      "truee", "tru", " true ", "  1  ",
      "123\n", "\n123", "12\r3", "true\n", "2024-01-15\n",
      "café", "ü12", "123µ", " ", "123 ",
      "123", "123 ", "😀", "1😀2",
      "9999-99-99", "0-0-0", "12.34.56", "1/2/3456 T", "1/2/3456 x",
      "192.168.0.1", "-0", "+0.0", "00123", "007")
    val maskOf = graft.ops.TypeConvert.probeMask
    cases.foreach { s =>
      val viaBytes = graft.functions.TextKernels.probeMaskUtf8(
        if (s == null) null
        else org.apache.spark.unsafe.types.UTF8String.fromString(s))
      assert(viaBytes == maskOf(s),
        s"probe mask divergence on ${if (s == null) "null" else s"'$s'"}: " +
          s"bytes=$viaBytes string=${maskOf(s)}")
    }
    // and through the expression, both engines
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(cases.map(Row(_)), 2),
      StructType(Seq(StructField("s", StringType, nullable = true))))
    val got = df.select(TextKernels.probeMask(col("s")))
      .collect().map(_.getLong(0)).toSeq
    assert(got == cases.map(maskOf))
  }

  test("probe-mask byte/String agreement on random ASCII-dense strings") {
    // property-style sweep over the grammar's alphabet: every divergence
    // class the byte scanner could introduce (sign/dot/exponent edges,
    // partial dates, space trim, bool-token casing) is reachable from
    // these chars at these lengths
    val alphabet = "0123456789+-./eE Tty é\n"
    val rnd = new scala.util.Random(16)
    val maskOf = graft.ops.TypeConvert.probeMask
    (0 until 20000).foreach { i =>
      val n = rnd.nextInt(12)
      val s = Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
      val viaBytes = graft.functions.TextKernels.probeMaskUtf8(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      assert(viaBytes == maskOf(s), s"divergence on '$s' (iter $i)")
    }
  }

  test("graft_bloom_contains equals BloomFilter.mightContainLong and " +
      "runs codegen'd without a ScalaUDF node (r16)") {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.01)
    (0L until 500L).map(_ * 7919L).foreach(bf.putLong)
    val bc = spark.sparkContext.broadcast(bf)
    val probes = ((0L until 500L).map(_ * 7919L) ++
      (0L until 2000L).map(_ * 104729L + 13L)).distinct
    // RDD-backed, not a local Seq: ConvertToLocalRelation would fold a
    // LocalRelation projection at the driver and never exercise codegen
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(probes.map(org.apache.spark.sql.Row(_)), 2),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val plan = df.select(TextKernels.bloomContains(col("h"), bc))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
    assert("""\*\(\d+\) Project""".r.findFirstIn(plan).nonEmpty, plan)
    val got = df.select(col("h"),
        TextKernels.bloomContains(col("h"), bc).as("hit"))
      .collect()
    got.foreach { r =>
      assert(r.getBoolean(1) == bf.mightContainLong(r.getLong(0)),
        s"bloom divergence on ${r.getLong(0)}")
    }
    // every inserted key MUST hit (no false negatives through the kernel)
    val inserted = (0L until 500L).map(_ * 7919L).toSet
    got.filter(r => inserted(r.getLong(0))).foreach(r =>
      assert(r.getBoolean(1)))
  }

  test("interpreted eval path (codegen fallback) agrees with codegen") {
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.get(key, "FALLBACK")
    try {
      val df = Seq((1L, "the cat sat on the mat the cat sat"))
        .toDF("id", "text")
      def run() = df.select(
        NearDup.shingles(col("text")).as("sh"),
        NearDup.simhash(col("text")).as("sig"),
        TextKernels.repetition(col("text")).as("r"),
        TextKernels.probeMask(col("text")).as("pm"),
        TextKernels.repetitionKeep(col("text"),
          0.30, 0.18, 0.16, 0.15).as("keep")).head()
      val withCodegen = run()
      spark.conf.set(key, "NO_CODEGEN")
      val interpreted = run()
      assert(withCodegen == interpreted)
    } finally spark.conf.set(key, prev)
  }

  test("kernel columns built while one session is active resolve on " +
      "another session's frame, with the same rows") {
    import org.apache.spark.sql.{Row, SparkSession}
    val other = spark.newSession()
    SparkSession.setActiveSession(spark)
    val data = Seq((1L, "the cat sat on the mat the cat sat"),
      (2L, "a quick brown fox jumps over the lazy dog"),
      (3L, null.asInstanceOf[String]))
    def run(s: SparkSession): (Seq[Row], Row) = {
      val df = s.createDataFrame(data).toDF("id", "text")
      val rows = Bpe.withTokenCount(df, "text", "n_bpe", Bpe.DemoMerges)
        .select(col("id"), NearDup.shingles(col("text")).as("sh"),
          NearDup.simhash(col("text")).as("sig"), col("n_bpe"))
        .orderBy("id").collect().toSeq
      (rows, df.agg(graft.util.Exprs.pctl(col("id"), 0.5)).head())
    }
    val onOther = run(other)
    assert(SparkSession.getActiveSession.contains(spark))
    assert(onOther == run(spark))
  }

  test("the kernel-backed operators leave no graft_* function in the " +
      "session catalog") {
    val before = graft.util.CacheHygiene.snapshot(spark)
    try {
      FitJobsSpec.withDirtyCsv { path =>
        val (out, report) =
          Pipeline.run(graft.sources.Csv.read(spark, path), FitJobsSpec.nineOps)
        assert(report.errors.isEmpty, report.errors)
        out.count()
      }
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text")).limit(200)
      QualityFilters.gopherRepetitionFilter(docs, "text").count()
      NearDup.minhashPairs(docs, "text", "doc_id").count()
      Bpe.withTokenCount(docs, "text", "n_bpe", Bpe.DemoMerges).count()
      val e = Tables.load(spark, dir, "embeddings")
      Similarity.ivfTopK(e, e.where(col("vec_id") < 5), 10,
        nlist = 8, nprobe = 3).count()
    } finally graft.util.CacheHygiene.releaseNew(spark, before)
    val graftFns = spark.catalog.listFunctions().collect()
      .map(_.name).filter(_.startsWith("graft_"))
    assert(graftFns.isEmpty, graftFns.mkString(", "))
  }
}
