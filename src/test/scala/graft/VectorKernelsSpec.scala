package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorKernels
import graft.sim.Similarity

/** The codegen vector kernels (functions/VectorKernels) against their
  * UDF twins: results must be BIT-identical (same fold order) on real
  * embeddings, nulls must propagate, and the kernels must actually run
  * inside WholeStageCodegen (the whole point — the UDFs broke the span
  * and boxed every element). */
class VectorKernelsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("graft_dot / graft_cosine are bit-identical to the UDF kernels " +
      "on the embeddings corpus") {
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), Similarity.toDoubleArr(col("embedding")).as("v"))
    val pairs = e.as("a").join(e.as("b"),
      col("b.vec_id") === col("a.vec_id") + 7)
      .select(col("a.v").as("va"), col("b.v").as("vb"))
    val rows = pairs.select(
      VectorKernels.dot(col("va"), col("vb")).as("dk"),
      Similarity.dotUdf(col("va"), col("vb")).as("du"),
      VectorKernels.cosine(col("va"), col("vb")).as("ck"),
      Similarity.cosineUdf(col("va"), col("vb")).as("cu")).collect()
    assert(rows.nonEmpty)
    // exact double equality — same left-to-right fold, not approximate
    assert(rows.forall(r => r.getDouble(0) == r.getDouble(1)), "dot drift")
    assert(rows.forall(r => r.getDouble(2) == r.getDouble(3)), "cos drift")
  }

  test("nulls: null array -> null, zero norm -> null cosine, 0.0 dot") {
    val df = Seq(
      (1L, Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0))),
      (2L, None, Some(Seq(1.0, 1.0))),
      (3L, Some(Seq(0.0, 0.0)), Some(Seq(1.0, 1.0))))
      .toDF("id", "a", "b")
    val got = df.select(col("id"),
      VectorKernels.dot(col("a"), col("b")).as("d"),
      VectorKernels.cosine(col("a"), col("b")).as("c"))
      .orderBy("id").collect()
    assert(got(0).getDouble(1) == 11.0 && !got(0).isNullAt(2))
    assert(got(1).isNullAt(1) && got(1).isNullAt(2))
    assert(got(2).getDouble(1) == 0.0 && got(2).isNullAt(2),
      "zero-norm cosine must be null, matching cosineUdf")
  }

  test("graft_vec_ok matches the UDF gate: null array and null element " +
      "-> false, clean -> true, never null itself") {
    val df = Seq(
      (1L, Some(Seq(Some(1.0), Some(2.0)))),
      (2L, None),
      (3L, Some(Seq(Some(1.0), None))),
      (4L, Some(Seq.empty[Option[Double]])))
      .toDF("id", "v")
    val got = df.select(col("id"),
        VectorKernels.vecOk(col("v")).as("ok"))
      .orderBy("id").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> false, 4L -> true))
    assert(!df.select(VectorKernels.vecOk(col("v")))
      .schema.head.nullable)
  }

  test("graft_signature is bit-identical to signatureUdf on the corpus") {
    val e = Tables.load(spark, dir, "embeddings")
      .select(Similarity.toDoubleArr(col("embedding")).as("v"))
    val rows = e.select(
      VectorKernels.signature(col("v"), 64, 32).as("k"),
      Similarity.signatureUdf(64, 32)(col("v")).as("u")).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) == r.getLong(1)), "signature drift")
  }

  test("graft_sig_agree / graft_sorted_jaccard match the NearDup UDF " +
      "kernels on random long arrays") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 300).map { _ =>
      val a = Array.fill(64)(rnd.nextLong() % 32)
      val b = a.map(v => if (rnd.nextInt(3) == 0) rnd.nextLong() % 32 else v)
      // sorted distinct gram sets of varied, unequal sizes for jaccard
      val ga = Array.fill(10 + rnd.nextInt(60))(rnd.nextLong() % 256)
        .distinct.sorted
      val gb = (ga.take(rnd.nextInt(ga.length)) ++
        Array.fill(rnd.nextInt(40))(rnd.nextLong() % 256)).distinct.sorted
      (a.toSeq, b.toSeq, ga.toSeq, gb.toSeq)
    }
    val df = rows.toDF("sa", "sb", "ga", "gb")
    val got = df.select(
      VectorKernels.sigAgree(col("sa"), col("sb"), 64, 0.55).as("agreeK"),
      graft.dedup.NearDup.prefilterUdf(64, 0.7)(col("sa"), col("sb"))
        .as("agreeU"),
      VectorKernels.sortedJaccard(col("ga"), col("gb"), 0.3).as("jacK"),
      graft.dedup.NearDup.exactJaccardUdf(0.3)(col("ga"), col("gb"))
        .as("jacU")).collect()
    assert(got.forall(r => r.getBoolean(0) == r.getBoolean(1)),
      "agreement drift")
    assert(got.forall(r =>
      (r.isNullAt(2) && r.isNullAt(3)) ||
        (!r.isNullAt(2) && !r.isNullAt(3) &&
          r.getDouble(2) == r.getDouble(3))),
      "jaccard drift")
    // loud invariant: a short signature throws, exactly like the UDF
    val short = Seq((Seq(1L, 2L), Seq(1L, 2L))).toDF("sa", "sb")
    val e = intercept[Exception] {
      short.select(VectorKernels.sigAgree(col("sa"), col("sb"), 64, 0.55))
        .collect()
    }
    assert(e.getMessage.contains("shorter than numHashes") ||
      Option(e.getCause).exists(_.getMessage.contains("shorter than numHashes")),
      e.getMessage)
  }

  test("the kernels run inside WholeStageCodegen with no ScalaUDF node") {
    val e = Tables.load(spark, dir, "embeddings")
      .select(Similarity.toDoubleArr(col("embedding")).as("v"))
    val plan = e.select(
        VectorKernels.dot(col("v"), col("v")).as("d"),
        VectorKernels.cosine(col("v"), col("v")).as("c"))
      .queryExecution.executedPlan.toString
    // the `*(n)` prefix is WholeStageCodegen's compact notation — the
    // projection evaluating the kernels must carry it
    assert("""\*\(\d+\) Project \[graft_dot""".r.findFirstIn(plan).nonEmpty,
      plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("interpreted eval path (codegen fallback) agrees with codegen") {
    // CodegenObjectFactoryMode=NO_CODEGEN forces nullSafeEval — the two
    // implementations of each kernel must agree
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.get(key, "FALLBACK")
    try {
      val df = Seq((Seq(1.5, -2.0, 3.0), Seq(0.5, 4.0, -1.0))).toDF("a", "b")
      val withCodegen = df.select(
        VectorKernels.dot(col("a"), col("b")),
        VectorKernels.cosine(col("a"), col("b"))).head()
      spark.conf.set(key, "NO_CODEGEN")
      val interpreted = df.select(
        VectorKernels.dot(col("a"), col("b")),
        VectorKernels.cosine(col("a"), col("b"))).head()
      assert(withCodegen == interpreted)
    } finally spark.conf.set(key, prev)
  }
}
