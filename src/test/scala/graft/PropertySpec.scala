package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.ExactPercentile
import graft.ops._

/** Property-based invariants (SURVEY.md §5.2) — scalacheck generators
  * sampled with fixed seeds (the scalatest-scalacheck bridge artifact is
  * not on the offline classpath, so sampling is drive manually; same
  * coverage, deterministic runs). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val doubleLists: Gen[List[Double]] =
    Gen.listOfN(12, Gen.chooseNum(-1e6, 1e6))

  test("graft_percentile equals the built-in exact percentile bit-for-bit") {
    val rnd = new scala.util.Random(7)
    // duplicates (coarse rounding), negatives, nulls
    val vals: Seq[java.lang.Double] = Seq.fill(4000) {
      if (rnd.nextInt(10) == 0) null
      else java.lang.Double.valueOf(math.floor(rnd.nextGaussian() * 500) / 8)
    }
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "x")
    val ps = array(Seq(0.0, 0.25, 0.5, 0.75, 0.9, 1.0).map(lit): _*)
    val row = df.agg(
      ExactPercentile.column($"x".cast("double"), ps).as("g"),
      call_function("percentile", $"x".cast("double"), ps).as("b")).head()
    assert(row.getSeq[Double](0) == row.getSeq[Double](1))
    // scalar form and the empty (all-null) case
    val empty = df.where($"x".isNull)
    val r2 = empty.agg(
      ExactPercentile.column($"x".cast("double"), lit(0.5)).as("g"),
      call_function("percentile", $"x".cast("double"), lit(0.5)).as("b")).head()
    assert(r2.isNullAt(0) && r2.isNullAt(1))
  }

  test("graft_percentile matches the built-in under groupBy too") {
    val rnd = new scala.util.Random(13)
    val df = Seq.tabulate(900) { i =>
      (i % 5, math.floor(rnd.nextGaussian() * 100) / 4)
    }.toDF("g", "x")
    val rows = df.groupBy("g").agg(
      ExactPercentile.column($"x".cast("double"), lit(0.25)).as("gp"),
      call_function("percentile", $"x".cast("double"), lit(0.25)).as("bp"))
      .collect()
    assert(rows.length == 5)
    rows.foreach(r => assert(r.getDouble(1) == r.getDouble(2),
      s"group ${r.get(0)}: ${r.getDouble(1)} != ${r.getDouble(2)}"))
  }

  test("r11 kernels equal their declarative twins on adversarial text") {
    // shingles / simhash-votes / jaccard moved from interpreted HOF
    // expressions to one-pass Scala kernels in r11; this pins kernel ==
    // declarative on inputs the corpus never exercises (CJK, mixed
    // scripts, runs of whitespace, empties, below-k strings).
    import graft.dedup.NearDup
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.types._
    val texts = Seq(
      "", " ", "ab", "abcd", "abcde", "  padded   runs\t of ws  ",
      "the quick brown fox jumps over the lazy dog",
      "aaaaa aaaaa aaaaa", "汉字漢字 漢字 mixed latin 漢",
      "éèêë àâä ünïcode tokens", "line1\nline2\nline1",
      "1234567890 0987654321", "a b c d e f g h i j k l m n o p")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    // declarative twins — the pre-r11 formulations, verbatim
    def declShingles(c: Column, k: Int): Column = {
      val n = NearDup.normalize(c)
      when(length(n) >= k,
        array_distinct(transform(sequence(lit(1), length(n) - (k - 1)),
          i => substr(n, i, lit(k)))))
        .otherwise(array().cast(ArrayType(StringType)))
    }
    def declSimhash(c: Column, bits: Int, th: Column => Column): Column = {
      val hs = transform(split(NearDup.normalize(c), " "), t => th(t))
      val votes = aggregate(hs, array_repeat(lit(0L), bits),
        (acc, h) => zip_with(acc, sequence(lit(0), lit(bits - 1)),
          (a, i) => a + when(call_function("shiftright", h, i)
            .bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)))
      aggregate(zip_with(votes, sequence(lit(0), lit(bits - 1)),
        (v, i) => when(v > 0, call_function("shiftleft", lit(1L), i))
          .otherwise(0L)),
        lit(0L), (acc, x) => acc.bitwiseOR(x))
    }
    def declJaccard(a: Column, b: Column): Column =
      when(size(array_union(a, b)) > 0,
        size(array_intersect(a, b)).cast(DoubleType) / size(array_union(a, b)))
    val sh = df.select($"id",
        NearDup.shingles($"t", 3).as("k"), declShingles($"t", 3).as("d"))
      .collect()
    sh.foreach(r => assert(r.getSeq[String](1) == r.getSeq[String](2),
      s"shingles diverge on id=${r.getLong(0)}"))
    val sim = df.select($"id",
        NearDup.simhash($"t", 56, NearDup.md5Hash56).as("k"),
        declSimhash($"t", 56, NearDup.md5Hash56).as("d"))
      .collect()
    sim.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"simhash diverges on id=${r.getLong(0)}"))
    val pairs = df.select($"id", NearDup.shingles($"t", 3).as("s"))
    val jac = pairs.as("a").join(pairs.as("b"), $"a.id" < $"b.id")
      .select(NearDup.jaccard($"a.s", $"b.s").as("k"),
        declJaccard($"a.s", $"b.s").as("d"))
      .collect()
    jac.foreach(r => assert(Option(r.get(0)) == Option(r.get(1)),
      s"jaccard diverges: ${r.get(0)} vs ${r.get(1)}"))
  }

  test("dedup is idempotent") {
    for (xs <- samples(Gen.listOfN(10, Gen.chooseNum(0, 3)), 5) if xs.nonEmpty) {
      val df = xs.toDF("x")
      val once = Dedup()(df).df
      assert(Dedup()(once).df.count() == once.count())
    }
  }

  test("drop_rows output has no nulls") {
    val df = Seq[(java.lang.Long, java.lang.Double)](
      (1L, null), (2L, 2.0), (null, 3.0), (4L, 4.0)).toDF("a", "b")
    val out = MissingValues("drop_rows")(df).df
    assert(out.where($"a".isNull || $"b".isNull).count() == 0)
  }

  test("minmax output is within [0,1]") {
    for (xs <- samples(doubleLists, 5) if xs.distinct.size > 1) {
      val df = xs.toDF("x")
      val out = Normalize("minmax", columns = Seq("x"))(df).df
      val (lo, hi) = out.agg(min($"x"), max($"x")).as[(Double, Double)].head()
      assert(lo >= -1e-9 && hi <= 1.0 + 1e-9)
    }
  }

  test("cap keeps values within computed bounds") {
    for (xs <- samples(doubleLists, 5) if xs.distinct.size > 3) {
      val df = xs.toDF("x")
      val op = Outliers("iqr", "cap", 1.5, columns = Seq("x"))
      val bounds = op.computeBounds(df, Seq("x"))
      val out = op(df).df
      bounds.get("x").foreach { case (lo, hi) =>
        val (mn, mx) = out.agg(min($"x"), max($"x")).as[(Double, Double)].head()
        assert(mn >= lo - 1e-9 && mx <= hi + 1e-9)
      }
    }
  }

  test("label encode is a bijection on distinct values") {
    for (xs <- samples(Gen.listOfN(12, Gen.alphaStr.map(_.take(4))), 5)
         if xs.nonEmpty) {
      val df = xs.toDF("s")
      val out = Encode("label")(df).df
      val nIn = df.select("s").distinct().count()
      val nOut = out.select("s").distinct().count()
      assert(nIn == nOut)
    }
  }

  test("lowercase text op is idempotent") {
    for (xs <- samples(Gen.listOfN(6, Gen.asciiPrintableStr.map(_.take(12))), 5)
         if xs.nonEmpty) {
      val df = xs.toDF("t")
      val once = TextClean(Seq("lowercase"))(df).df
      val twice = TextClean(Seq("lowercase"))(once).df
      assert(once.exceptAll(twice).count() == 0)
    }
  }

  test("jaccard is symmetric and within [0,1]") {
    val pairs = samples(for {
      a <- Gen.alphaStr.map(_.take(20)); b <- Gen.alphaStr.map(_.take(20))
    } yield (a, b), 10)
    for ((a, b) <- pairs) {
      val df = Seq((a, b)).toDF("a", "b")
      import graft.dedup.NearDup._
      val r = df.select(
        jaccard(shingles($"a"), shingles($"b")).as("ab"),
        jaccard(shingles($"b"), shingles($"a")).as("ba")).head()
      val ab = Option(r.get(0)).map(_.asInstanceOf[Double])
      val ba = Option(r.get(1)).map(_.asInstanceOf[Double])
      assert(ab == ba)
      ab.foreach(v => assert(v >= 0.0 && v <= 1.0))
    }
  }

  test("partitioned fill equals the window fill on random null patterns") {
    val before = graft.util.CacheHygiene.snapshot(spark)
    val gen = Gen.listOfN(60, Gen.option(Gen.chooseNum(-100.0, 100.0)))
    for ((xs, round) <- samples(gen, 4).zipWithIndex) {
      val df = xs.zipWithIndex.map { case (x, i) =>
        (i.toLong, x.map(Double.box).orNull.asInstanceOf[java.lang.Double])
      }.toDF("id", "x").repartition(5)
      val expectF = MissingValues("forward_fill", orderCol = Some("id"))(df)
        .df.orderBy("id").collect().toSeq
      val gotF = graft.plans.PartitionedFill.ffill(df, "id",
        numPartitions = 3 + round).orderBy("id").collect().toSeq
      assert(gotF == expectF, s"ffill mismatch, round $round")
      val expectB = MissingValues("backward_fill", orderCol = Some("id"))(df)
        .df.orderBy("id").collect().toSeq
      val gotB = graft.plans.PartitionedFill.bfill(df, "id",
        numPartitions = 3 + round).orderBy("id").collect().toSeq
      assert(gotB == expectB, s"bfill mismatch, round $round")
      // each fill stages its sorted RDD (caller-unpersists contract)
      graft.util.CacheHygiene.releaseNew(spark, before)
    }
  }

  test("distributed fuzzy map equals the driver map on random typo corpora") {
    val bases = Seq("BUILDING", "AUTOMOBILE", "MACHINERY", "FURNITURE")
    val typoGen = for {
      base <- Gen.oneOf(bases)
      pos <- Gen.chooseNum(1, 6)
    } yield base.substring(0, pos) + base.substring(pos + 1) // one deletion
    for (round <- 0 until 3) {
      val typos = samples(typoGen, 6)
      val values = bases.flatMap(b => Seq.fill(20)(b)) ++ typos
      val df = values.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v")
      val counts = df.groupBy($"v").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      val driver = TypoFix.fuzzyReplacements(counts, 0.8)
      val dist = graft.plans.DistributedFuzzy.replacements(df, "v", 0.8)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(dist == driver, s"round $round")
    }
  }
}
