package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorKernels
import graft.sim.Similarity

/** The r17 IVF codegen kernels (functions/VectorKernels:
  * IvfCellAssign / IvfCellProbe) against the boxed `Seq[Double]` UDF
  * pair they replaced (`Similarity.cellUdfs`, removed r17): assignments
  * and probe lists must be IDENTICAL on real embeddings — same squared-
  * L2 accumulation order, same strict-`<` first-wins assignment
  * tie-break, same stable-sort (distance, index) probe order — the
  * kernels must survive the NO_CODEGEN fallback, and the corpus-side
  * assignment must actually run without a ScalaUDF node (the point:
  * `assignUdf` boxed every corpus vector per row). */
class IvfKernelsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def emb = Tables.load(spark, dir, "embeddings")

  // the replaced UDFs' reference math, verbatim boxed semantics
  private def dist2(v: Seq[Double], c: Array[Double]): Double = {
    val n = math.min(v.length, c.length)
    var s = 0.0; var i = 0
    while (i < n) { val d = v(i) - c(i); s += d * d; i += 1 }
    s
  }
  private def refAssign(v: Seq[Double], cs: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var i = 0
    while (i < cs.length) {
      val d = dist2(v, cs(i)); if (d < bestD) { bestD = d; best = i }; i += 1
    }
    best
  }
  private def refProbe(v: Seq[Double], cs: Array[Array[Double]],
      nprobe: Int): Seq[Int] =
    cs.indices.sortBy(i => dist2(v, cs(i))).take(math.min(nprobe, cs.length))

  test("assign/probe kernels are identical to the boxed UDF reference " +
      "on the embeddings corpus") {
    val idx = Similarity.fitIvfIndex(emb, nlist = 8)
    val centers = idx.centers
    val nprobe = 3
    val rows = emb.select(Similarity.toDoubleArr(col("embedding")).as("v"))
      .select(col("v"),
        VectorKernels.assignCell(col("v"), centers).as("cell"),
        VectorKernels.probeCells(col("v"), centers, nprobe).as("probe"))
      .collect()
    assert(rows.length > 100)
    rows.foreach { r =>
      val v = r.getSeq[Double](0)
      assert(r.getInt(1) == refAssign(v, centers), s"assign drift on $v")
      assert(r.getSeq[Int](2) == refProbe(v, centers, nprobe),
        s"probe drift on $v")
    }
  }

  test("exact-tie centers: assignment keeps the FIRST index, probe " +
      "orders ties by index (the stable-sort contract)") {
    // two identical centers + one far one: every vector ties 0 vs 1
    val centers = Array(Array(0.0, 0.0), Array(0.0, 0.0), Array(9.0, 9.0))
    val df = Seq(Seq(0.1, 0.2), Seq(1.0, -1.0)).toDF("v")
    val got = df.select(VectorKernels.assignCell(col("v"), centers).as("cell"),
      VectorKernels.probeCells(col("v"), centers, 3).as("probe")).collect()
    got.foreach { r =>
      assert(r.getInt(0) == 0, "tie must keep the first center")
      assert(r.getSeq[Int](1) == Seq(0, 1, 2), "probe tie-break by index")
    }
  }

  test("interpreted eval path (NO_CODEGEN fallback) agrees with codegen") {
    val centers = Array(Array(1.0, 2.0, 3.0), Array(-1.0, 0.5, 2.0),
      Array(4.0, 4.0, 4.0))
    val df = Seq(Seq(1.1, 1.9, 3.2), Seq(-0.9, 0.4, 1.8), Seq(5.0, 3.0, 4.5))
      .toDF("v")
    def run(): Seq[org.apache.spark.sql.Row] =
      df.select(VectorKernels.assignCell(col("v"), centers),
        VectorKernels.probeCells(col("v"), centers, 2)).collect().toSeq
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.get(key, "FALLBACK")
    val withCodegen = run()
    try {
      spark.conf.set(key, "NO_CODEGEN")
      assert(run() == withCodegen)
    } finally spark.conf.set(key, prev)
  }

  test("ivfTopK runs with NO ScalaUDF node — the corpus-side cell " +
      "assignment is a codegen kernel now") {
    val p = Similarity.ivfTopK(emb, emb.where(col("vec_id") < 3), 5,
        nlist = 4, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF"), p)
    assert(p.contains("graft_ivf_assign"), p)
    val pq = Similarity.ivfTopKQuantizedRefine(emb,
        emb.where(col("vec_id") < 3), 5, nlist = 4, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(!pq.contains("ScalaUDF"), pq)
  }

  test("nprobe >= nlist still probes every cell exactly once, nearest " +
      "first") {
    val centers = Array(Array(0.0), Array(10.0), Array(5.0))
    val df = Seq(Seq(4.0)).toDF("v")
    val got = df.select(VectorKernels.probeCells(col("v"), centers, 99))
      .head().getSeq[Int](0)
    assert(got == Seq(2, 0, 1))
  }

  test("null-total kernels: null vector → cell −1 / empty probe, and " +
      "no inferred isnotnull(assign) lands in the corpus scan filter") {
    // r18: as NULLABLE expressions the kernels fed
    // InferFiltersFromConstraints — the join on __cell derived
    // isnotnull(graft_ivf_assign(...)) and pushed it into the corpus
    // scan with the quantize→dequantize tree COLLAPSED into the
    // argument, re-evaluating an O(dim²) expression per row (~3.5 s of
    // q_ann_ivf_quantized's ~4.5 s at sf0.1 — 3× the whole query).
    // Null-total + nullable=false folds the inferred filter to true.
    val centers = Array(Array(0.0), Array(10.0))
    val df = Seq(Tuple1(Option(Seq(1.0))), Tuple1(None)).toDF("v")
    val rows = df.select(VectorKernels.assignCell(col("v"), centers),
      VectorKernels.probeCells(col("v"), centers, 2)).collect()
    assert(rows.map(_.getInt(0)).toSeq ==
      Seq(0, VectorKernels.NullCell()))
    assert(rows(1).getSeq[Int](1).isEmpty)
    // the sentinel contract (r18 ADVICE): NullCell is NOT a valid cell
    // — probe output only ever contains indices >= 0, so a join on
    // cell id can never match a null vector's assignment
    assert(VectorKernels.NullCell() < 0)
    rows.foreach(r => assert(r.getSeq[Int](1).forall(_ >= 0),
      "probe emitted a negative cell id"))
    // plan pin: the executed quantized-refine plan never re-evaluates
    // assign inside a scan Filter node
    val pq = Similarity.ivfTopKQuantizedRefine(emb,
        emb.where(col("vec_id") < 3), 5, nlist = 4, nprobe = 4)
      .queryExecution.executedPlan.toString
    assert(!pq.contains("isnotnull(graft_ivf_assign"),
      s"inferred isnotnull(assign) pushed into a scan again:\n$pq")
  }
}
