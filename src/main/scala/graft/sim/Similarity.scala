package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorKernels

/** Embedding similarity search (SURVEY.md §7.6; BASELINE.json north star).
  *
  * Brute-force cosine top-k is the exact baseline: broadcast the (small)
  * query set against the corpus — one codegen'd projection per corpus row,
  * no corpus shuffle, then a per-query top-k window. The scale path is
  * random-hyperplane LSH (`graft_signature`,
  * [[graft.functions.HyperplaneSignature]]): candidates share a signature
  * bucket, exact re-rank inside buckets — corpus scan count stays 1 and
  * the shuffle is by bucket key instead of all-pairs.
  */
object Similarity {

  /** Elementwise product sum via a sequential left fold — the SAME
    * accumulation order as a scalar loop, so results are bit-identical to
    * any engine that folds left in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def toDoubleArr(a: Column): Column = transform(a, _.cast(DoubleType))

  /** Rows whose vector is fully present — non-null AND with no null
    * elements — with the CAST array projected ONCE as `castAs`. The check
    * runs on the cast array (same cast family every kernel consumes), so
    * an element that only becomes null at cast time is caught too; a
    * partially-null array would otherwise survive an isNotNull check and
    * NPE the primitive Seq[Double] kernels. Callers consume `castAs`
    * downstream instead of re-casting — the cast/transform must not run
    * twice per corpus row on hot scan paths. Dirty rows are the norm at
    * corpus scale; a row without a scoreable vector is dropped, not
    * errored — one bad embedding must never kill the job. Shared with
    * [[graft.dedup.NearDup.embeddingPairs]]. */
  private[graft] def withVec(df: DataFrame, vecCol: String,
      castAs: String): DataFrame = {
    // graft_vec_ok (functions/ArrayFullyDefined, r14): evaluated inside
    // the scan's codegen span — the gate runs on EVERY embedding row
    df.withColumn(castAs, toDoubleArr(col(vecCol)))
      .where(VectorKernels.vecOk(col(castAs)))
  }

  /** Cosine similarity of two double arrays; null when either norm is 0. */
  def cosine(a: Column, b: Column): Column = {
    val na = sqrt(dot(a, a)); val nb = sqrt(dot(b, b))
    when(na =!= 0.0 && nb =!= 0.0, dot(a, b) / (na * nb))
  }

  /** Fused dot product as a Scala UDF. Higher-order-function lambdas run
    * interpreted per element (measured: the dominant cost of every ANN
    * query at sf0.1); this loop is the same left-to-right accumulation, so
    * results are bit-identical to [[dot]], at JVM arithmetic speed.
    * SUPERSEDED on the hot paths by [[dotK]] (r14) — the codegen
    * expression skips the UDF's per-row Seq conversion/boxing entirely;
    * this stays as the public composable form. */
  val dotUdf = udf { (a: Seq[Double], b: Seq[Double]) =>
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Codegen'd dot product ([[graft.functions.DotProduct]]): reads the
    * unsafe arrays in place inside WholeStageCodegen — no Seq boxing, no
    * codegen break. Same fold order as [[dotUdf]]/[[dot]] →
    * bit-identical. */
  private def dotK(a: Column, b: Column): Column = VectorKernels.dot(a, b)

  /** Fused cosine UDF — same algebra as [[cosine]] (null when a norm is
    * 0), same accumulation order, interpreted-overhead-free. SUPERSEDED
    * on the hot paths by `graft_cosine` ([[graft.functions.CosineSim]],
    * r14) — same fold, no Seq boxing; kept as the composable form. */
  val cosineUdf = udf { (a: Seq[Double], b: Seq[Double]) =>
    val n = math.min(a.length, b.length)
    var dab = 0.0; var daa = 0.0; var dbb = 0.0
    var i = 0
    while (i < n) { dab += a(i) * b(i); daa += a(i) * a(i); dbb += b(i) * b(i); i += 1 }
    if (daa == 0.0 || dbb == 0.0) None
    else Some(dab / (math.sqrt(daa) * math.sqrt(dbb)))
  }

  /** Exact cosine top-k: for each query vector, the k most similar corpus
    * vectors (excluding itself). Ranking key is (round(sim, 6) DESC, id ASC)
    * — rounded so the ranking is stable across engines and reproducible.
    * Queries must be small (broadcast); corpus never shuffles before the
    * per-query window. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // norms hoisted to per-ROW projections before the join — inlining
    // cosine() would recompute both norms once per PAIR. Same arithmetic
    // (dot/(|a|·|b|)), so results are bit-identical to the inline form.
    // r21: the per-pair scoring scan inherits the corpus scan's split
    // count (measured 4 tasks on 32 cores at sf0.1) — size-gated
    // repartition, a no-op whenever the corpus splits per-core
    val c = graft.util.Parallelize.bySize(
        withVec(corpus, vecCol, "c_vec")
          .select(col(idCol).as("c_id"), col("c_vec")), "c_id")
      .withColumn("c_norm", sqrt(dotK(col("c_vec"), col("c_vec"))))
    val q = withVec(queries, vecCol, "q_vec")
      .select(col(idCol).as("query_id"), col("q_vec"))
      .withColumn("q_norm", sqrt(dotK(col("q_vec"), col("q_vec"))))
    val scored = c.crossJoin(broadcast(q))
      .where(col("c_id") =!= col("query_id"))
      .select(col("query_id"), col("c_id").as("neighbor_id"),
        round(when(col("q_norm") =!= 0.0 && col("c_norm") =!= 0.0,
          dotK(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm"))), 6)
          .as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("sim"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .where(col("rank") <= k)
  }

  /** Deterministic pseudo-random hyperplane weights: plane p, dimension d →
    * a value in [-1, 1) derived from a split-mix style integer hash. Same
    * constants on every executor and every run — no RNG state to ship. */
  def planeWeight(p: Int, d: Int): Double = {
    var z = p.toLong * 0x9E3779B97F4A7C15L + d.toLong * 0xBF58476D1CE4E5B9L + 0x42L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z.toDouble / Long.MaxValue.toDouble)
  }

  /** Random-hyperplane signature: bit p = sign(v · w_p) over the
    * [[planeWeight]] table, packed to a Long; all planes·dim
    * multiply-adds in one UDF call. Cosine-similar vectors agree on most
    * bits, so bucketing on the signature (or bands of it) yields
    * near-neighbor candidates. SUPERSEDED on the hot
    * paths by `graft_signature` ([[graft.functions.HyperplaneSignature]],
    * r14); kept as the boxed reference implementation. */
  def signatureUdf(dim: Int, planes: Int = 16) = {
    require(planes <= 63, "signature packs into one long")
    val w = Array.tabulate(planes, dim)(planeWeight)
    udf { v: Seq[Double] =>
      val n = math.min(dim, v.length)
      var bits = 0L
      var p = 0
      while (p < planes) {
        var s = 0.0
        var d = 0
        while (d < n) { s += v(d) * w(p)(d); d += 1 }
        if (s >= 0.0) bits |= 1L << p
        p += 1
      }
      bits
    }
  }

  /** Approximate top-k: exact re-rank restricted to corpus vectors whose
    * hyperplane signature is within `maxHammingDist` of the query's.
    * Bucket-join on signature bands (banding: any equal band → candidate)
    * keeps this a key-join, not a cross-join, at scale. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      planes: Int = 16, bands: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(planes % bands == 0, "bands must divide planes")
    val r = planes / bands
    // band key = (band index, the band's bits of the signature);
    // graft_signature (functions/HyperplaneSignature, r14) runs the
    // planes·dim mul-adds inside codegen with the weight table as a
    // task-level reference object — identical signatures to signatureUdf
    val sig = (c: Column) => VectorKernels.signature(c, dim, planes)
    val cSig = withVec(corpus, vecCol, "c_vec")
      .select(col(idCol).as("c_id"), col("c_vec"))
      .withColumn("__sig", sig(col("c_vec")))
      .withColumn("c_norm", sqrt(dotK(col("c_vec"), col("c_vec"))))
    val qSig = withVec(queries, vecCol, "q_vec")
      .select(col(idCol).as("query_id"), col("q_vec"))
      .withColumn("__sig", sig(col("q_vec")))
      .withColumn("q_norm", sqrt(dotK(col("q_vec"), col("q_vec"))))
    val cBand = cSig.withColumn("__band",
      explode(array((0 until bands).map(lit): _*)))
      .withColumn("__bandbits", bandBits(col("__sig"), col("__band"), r))
    val qBand = qSig.withColumn("__band",
      explode(array((0 until bands).map(lit): _*)))
      .withColumn("__bandbits", bandBits(col("__sig"), col("__band"), r))
    val cand = cBand.join(qBand, Seq("__band", "__bandbits"))
      .where(col("c_id") =!= col("query_id"))
      .select("query_id", "q_vec", "q_norm", "c_id", "c_vec", "c_norm")
      .dropDuplicates("query_id", "c_id")
    val scored = cand.select(col("query_id"), col("c_id").as("neighbor_id"),
      round(when(col("q_norm") =!= 0.0 && col("c_norm") =!= 0.0,
        dotK(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm"))), 6)
        .as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("sim"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .where(col("rank") <= k)
  }

  private def dist2(v: Seq[Double], c: Array[Double]): Double = {
    val n = math.min(v.length, c.length)
    var s = 0.0; var i = 0
    while (i < n) { val d = v(i) - c(i); s += d * d; i += 1 }
    s
  }

  /** Plain Lloyd k-means over an in-memory sample: distinct random init
    * (seeded), fixed iteration count, empty clusters keep their previous
    * center. Deterministic across runs and machines. */
  private def kmeansFit(samples: Array[Array[Double]], k: Int, iters: Int,
      seed: Long): Array[Array[Double]] = {
    require(samples.nonEmpty, "ivf quantizer needs a non-empty corpus")
    val rnd = new scala.util.Random(seed)
    val kk = math.min(k, samples.length)
    val init = rnd.shuffle(samples.indices.toVector).take(kk)
    val centers = init.map(i => samples(i).clone()).toArray
    val dim = samples(0).length
    var it = 0
    while (it < iters) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Long](kk)
      samples.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < kk) {
          val d = dist2(v, centers(c)); if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var j = 0
        while (j < math.min(dim, v.length)) { sums(best)(j) += v(j); j += 1 }
      }
      var c = 0
      while (c < kk) {
        if (counts(c) > 0) {
          var j = 0
          while (j < dim) { centers(c)(j) = sums(c)(j) / counts(c); j += 1 }
        }
        c += 1
      }
      it += 1
    }
    centers
  }

  private def bandBits(sig: Column, band: Column, r: Int): Column =
    call_function("shiftright", sig, band.cast(IntegerType) * r)
      .bitwiseAND(lit((1L << r) - 1))

  /** A fitted IVF coarse quantizer, reusable across calls and sessions.
    * `fingerprint` identifies the corpus the centers were trained on
    * ([[corpusFingerprint]]); (fingerprint, nlist, seed) is the index
    * key — [[ivfIndexAt]] reloads a saved index only when all three
    * match, so a stale index can never silently serve a changed corpus. */
  final case class IvfIndex(fingerprint: Long, nlist: Int, seed: Long,
      centers: Array[Array[Double]])

  /** Order-independent corpus identity: count + XOR of xxhash64(id,
    * embedding), one column-pruned scan (XOR, not sum: ANSI mode makes a
    * long sum overflow an error, and XOR is wrap-free). Hashing the
    * EMBEDDING CONTENT alongside the id matters: re-embedding the same
    * ids (same vec_id set, new vectors) must move the fingerprint, or a
    * cached IVF index would silently serve quantizer centers fit on the
    * old vectors, degrading recall at nprobe < nlist. */
  def corpusFingerprint(corpus: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): Long = {
    val r = corpus.agg(
      count(lit(1)).as("n"),
      bit_xor(xxhash64(col(idCol), col(vecCol))).as("h")).head()
    val h = if (r.isNullAt(1)) 0L else r.getLong(1)
    r.getLong(0) * 0x9E3779B97F4A7C15L ^ h
  }

  /** Fit the IVF coarse quantizer for `corpus` and stamp it with the
    * corpus fingerprint. Two jobs: the fingerprint aggregation and the
    * sample collect ([[fitCenters]]). */
  def fitIvfIndex(corpus: DataFrame, nlist: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L): IvfIndex =
    IvfIndex(corpusFingerprint(corpus, idCol, vecCol), nlist, seed,
      fitCenters(corpus, nlist, idCol, vecCol, seed))

  /** The center fit alone (no fingerprint scan — the inline [[ivfTopK]]
    * path needs no corpus identity). */
  private def fitCenters(corpus: DataFrame, nlist: Int,
      idCol: String, vecCol: String, seed: Long): Array[Array[Double]] = {
    // Coarse-quantizer fit: deterministic Lloyd iterations over a BOUNDED
    // sample collected to the driver (≤ max(256·nlist, 4096) vectors —
    // ~2 MB at 64 dims; the bound, not the corpus size, caps driver
    // memory, which is also how faiss trains IVF quantizers). The sample
    // is the smallest-N rows by xxhash64(id) — a deterministic UNIFORM
    // draw over the whole corpus. A bare limit(n) would take whichever
    // partitions answer first (in practice the first file), fitting the
    // centroids on one shard's distribution — on a partition-correlated
    // corpus (sorted by source) recall at small nprobe collapses.
    // TakeOrderedAndProject keeps this a per-partition top-N + driver
    // merge, never a global sort. Cell-assignment quality only moves
    // recall at small nprobe, never correctness: the rerank is exact. A
    // distributed fit (e.g. MLlib KMeans) buys nothing here and costs
    // several extra jobs per build.
    val sample: Array[Array[Double]] =
      withVec(corpus, vecCol, "__v").select(col("__v"),
          xxhash64(col(idCol)).as("__h"), col(idCol).as("__id"))
        .orderBy(col("__h"), col("__id"))
        .limit(math.max(nlist * 256, 4096))
        .select("__v")
        .collect().map(_.getSeq[Double](0).toArray)
    kmeansFit(sample, nlist, iters = 8, seed = seed)
  }

  /** Persist `idx` as a tiny parquet table (one row per centroid, key
    * columns on every row) — readable by any engine, no JVM
    * serialization. */
  def saveIvfIndex(spark: org.apache.spark.sql.SparkSession, idx: IvfIndex,
      path: String): Unit = {
    import spark.implicits._
    idx.centers.zipWithIndex.toSeq
      .map { case (c, i) =>
        (i, c.toSeq, idx.fingerprint, idx.nlist, idx.seed) }
      .toDF("cell", "center", "fingerprint", "nlist", "seed")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): IvfIndex = {
    val rows = spark.read.parquet(path)
      .select("cell", "center", "fingerprint", "nlist", "seed")
      .collect().sortBy(_.getInt(0))
    require(rows.nonEmpty, s"empty IVF index at $path")
    val head = rows.head
    IvfIndex(head.getLong(2), head.getInt(3), head.getLong(4),
      rows.map(_.getSeq[Double](1).toArray))
  }

  /** The build-or-reuse entry (r13 verdict #5): load the index at `path`
    * when its (corpus fingerprint, nlist, seed) matches; otherwise fit a
    * fresh one and save it there. Lloyd runs at most once per (corpus,
    * nlist, seed) — repeated ANN calls pay one fingerprint scan, not a
    * refit. */
  def ivfIndexAt(corpus: DataFrame, path: String, nlist: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L): IvfIndex =
    indexAt(corpus.sparkSession, path, nlist, seed,
      corpusFingerprint(corpus, idCol, vecCol),
      () => fitCenters(corpus, nlist, idCol, vecCol, seed))

  /** The load-match-or-fit-and-save skeleton shared by [[ivfIndexAt]]
    * and [[ivfIndexAtQuantized]]: reuse the saved index only when
    * (fingerprint, nlist, seed) all match; otherwise fit and save
    * (best-effort — a failed save must not fail the query, the index is
    * advisory). */
  private def indexAt(spark: org.apache.spark.sql.SparkSession,
      path: String, nlist: Int, seed: Long, fingerprint: Long,
      fit: () => Array[Array[Double]]): IvfIndex = {
    val cached =
      try {
        val idx = loadIvfIndex(spark, path)
        if (idx.nlist == nlist && idx.seed == seed &&
            idx.fingerprint == fingerprint)
          Some(idx)
        else None
      } catch { case scala.util.control.NonFatal(_) => None }
    cached.getOrElse {
      val idx = IvfIndex(fingerprint, nlist, seed, fit())
      try saveIvfIndex(spark, idx, path)
      catch { case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"IVF index save to $path failed: ${e.getMessage}")
      }
      idx
    }
  }

  /** Order-independent identity of a QUANTIZED corpus (the
    * [[Quantize.quantizeInt8]] layout): count + XOR of xxhash64(id,
    * minv, scale, codes). The quantized-IVF index key hashes exactly
    * what that search path scans — re-embedding OR re-quantizing the
    * same ids moves the key, so a stale quantizer can never serve new
    * codes. */
  def quantizedFingerprint(q8: DataFrame, idCol: String = "vec_id"): Long = {
    val r = q8.agg(
      count(lit(1)).as("n"),
      bit_xor(xxhash64(col(idCol), col("minv"), col("scale"),
        col("codes"))).as("h")).head()
    val h = if (r.isNullAt(1)) 0L else r.getLong(1)
    r.getLong(0) * 0x9E3779B97F4A7C15L ^ h
  }

  /** [[ivfIndexAt]] for the quantized search path ([[
    * ivfTopKQuantizedRefine]]): the coarse quantizer is fit on the
    * DEQUANTIZED vectors (exactly what that path assigns and scores —
    * centers fit on raw floats would drift from the scanned space) and
    * the index key is [[quantizedFingerprint]] over the codes. */
  def ivfIndexAtQuantized(corpus: DataFrame, path: String, nlist: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L): IvfIndex = {
    // ONE quantization plan feeds both the fingerprint scan and the fit
    // input, and the fit input is built inside the thunk — on a cache
    // hit only the fingerprint aggregation touches the corpus (r16
    // ADVICE: the old shape constructed quantizeInt8 twice per call).
    val q8 = graft.sim.Quantize.quantizeInt8(
      withVec(corpus, vecCol, "__fv"), idCol, "__fv")
    indexAt(corpus.sparkSession, path, nlist, seed,
      quantizedFingerprint(q8, idCol),
      () => fitCenters(dequantized(q8, idCol), nlist, idCol, "__dq", seed))
  }

  /** The corpus as the quantized path sees it: int8 codes off the scan,
    * vectors reconstructed in place as `__dq` (array<double>). */
  private def dequantizedCorpus(corpus: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    dequantized(graft.sim.Quantize.quantizeInt8(
      withVec(corpus, vecCol, "__fv"), idCol, "__fv"), idCol)

  /** In-place dequantization of an already-quantized frame (the
    * [[graft.sim.Quantize.quantizeInt8]] layout) as `__dq`. */
  private def dequantized(q8: DataFrame, idCol: String): DataFrame =
    q8.withColumn("__dq", transform(col("codes"), c =>
        (c.cast(DoubleType) + 128.0) * col("scale") + col("minv")))
      .select(col(idCol), col("__dq"))

  /** IVF (inverted-file) ANN: a coarse k-means quantizer (deterministic
    * Lloyd fit over a bounded driver-side sample — see [[fitIvfIndex]])
    * partitions the corpus into `nlist` cells — ONE shuffle at
    * index-build; each query exact-reranks only the vectors in its
    * `nprobe` nearest cells. The standard big-corpus trade: probing fewer
    * cells scans less, recall follows cell locality. Pass `index` (from
    * [[ivfIndexAt]] / [[loadIvfIndex]]) to reuse a persisted quantizer
    * instead of refitting per call.
    *
    * Correctness invariant (oracle-pinned in q_ann_ivf): with
    * `nprobe == nlist` the probed-cell union IS the corpus, so the result
    * must equal brute-force top-k EXACTLY, independent of clustering
    * quality — this checks the assignment/probe/rerank machinery end to
    * end. Recall at nprobe < nlist is property-tested (ExtensionsSpec).
    * Scoring and tie-break are identical to [[bruteForceTopK]]. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L, index: Option[IvfIndex] = None): DataFrame = {
    index.foreach(i => require(i.nlist == nlist && i.seed == seed,
      s"index (nlist=${i.nlist}, seed=${i.seed}) does not match the call " +
        s"(nlist=$nlist, seed=$seed)"))
    val centers = index.map(_.centers)
      .getOrElse(fitCenters(corpus, nlist, idCol, vecCol, seed))
    val c = withVec(corpus, vecCol, "c_vec")
      .select(col(idCol).as("c_id"), col("c_vec"))
      .withColumn("__cell", VectorKernels.assignCell(col("c_vec"), centers))
      .withColumn("c_norm", sqrt(dotK(col("c_vec"), col("c_vec"))))
    val q = withVec(queries, vecCol, "q_vec")
      .select(col(idCol).as("query_id"), col("q_vec"))
      .withColumn("__cell",
        explode(VectorKernels.probeCells(col("q_vec"), centers, nprobe)))
      .withColumn("q_norm", sqrt(dotK(col("q_vec"), col("q_vec"))))
    val scored = c.join(broadcast(q), Seq("__cell"))
      .where(col("c_id") =!= col("query_id"))
      .select(col("query_id"), col("c_id").as("neighbor_id"),
        round(when(col("q_norm") =!= 0.0 && col("c_norm") =!= 0.0,
          dotK(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm"))), 6)
          .as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("sim"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .where(col("rank") <= k)
  }

  /** IVF over the QUANTIZED corpus with exact full-precision refine —
    * the faiss IVF+SQ8-with-refine composition (r15 verdict #7): the
    * corpus side of the search reads int8 CODES (4× less off disk and
    * through the scan pipeline at 100 TB), candidates score against the
    * in-place DEQUANTIZED vectors, the top `k·overfetch` candidates per
    * query (ranked by rounded quantized sim, id tie-break — stable
    * across engines) join back to the FULL-PRECISION vectors BY ID —
    * only candidate rows move, broadcast-joined against the corpus scan
    * — and re-rank exactly. Query vectors stay full precision
    * throughout (they are few; quantizing them buys nothing).
    *
    * Pass `index` from [[ivfIndexAtQuantized]] to reuse a persisted
    * quantizer — its key is the QUANTIZED corpus fingerprint, and its
    * centers were fit on the dequantized space this method assigns in.
    *
    * Determinism contract (oracle-pinned in q_ann_ivf_quantized with
    * nprobe == nlist, where the probed union is the whole corpus): both
    * stages are pure functions of the affine codes and the raw floats,
    * so an external engine replays candidate cut and refine exactly.
    * Recall at nprobe < nlist vs the full-precision IVF is
    * property-pinned in ExtensionsSpec. */
  def ivfTopKQuantizedRefine(corpus: DataFrame, queries: DataFrame,
      k: Int, nlist: Int = 16, nprobe: Int = 4, overfetch: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L, index: Option[IvfIndex] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(overfetch >= 1, s"overfetch must be >= 1, got $overfetch")
    index.foreach(i => require(i.nlist == nlist && i.seed == seed,
      s"index (nlist=${i.nlist}, seed=${i.seed}) does not match the call " +
        s"(nlist=$nlist, seed=$seed)"))
    val deq = dequantizedCorpus(corpus, idCol, vecCol)
    val centers = index.map(_.centers)
      .getOrElse(fitCenters(deq, nlist, idCol, "__dq", seed))
    val c = deq
      .select(col(idCol).as("c_id"), col("__dq").as("c_vec"))
      .withColumn("__cell", VectorKernels.assignCell(col("c_vec"), centers))
    val q = withVec(queries, vecCol, "q_vec")
      .select(col(idCol).as("query_id"), col("q_vec"))
      .withColumn("__cell",
        explode(VectorKernels.probeCells(col("q_vec"), centers, nprobe)))
    // stage 1: quantized candidate cut — rank on the ROUNDED quantized
    // sim (6dp, id tie-break) so the candidate SET is reproducible in
    // another engine's double math
    val qsimed = c.join(broadcast(q), Seq("__cell"))
      .where(col("c_id") =!= col("query_id"))
      .select(col("query_id"), col("q_vec"),
        col("c_id").as("neighbor_id"),
        round(VectorKernels.cosine(col("q_vec"), col("c_vec")), 6)
          .as("qsim"))
    val wq = Window.partitionBy("query_id")
      .orderBy(desc("qsim"), asc("neighbor_id"))
    val cand = qsimed.withColumn("__crk", row_number().over(wq))
      .where(col("__crk") <= k * overfetch)
      .select("query_id", "q_vec", "neighbor_id")
    // stage 2: exact refine — candidates broadcast back onto the
    // full-precision scan; the corpus never shuffles
    val full = withVec(corpus, vecCol, "a_vec")
      .select(col(idCol).as("neighbor_id"), col("a_vec"))
    val exact = full.join(broadcast(cand), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(VectorKernels.cosine(col("q_vec"), col("a_vec")), 6)
          .as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("sim"), asc("neighbor_id"))
    exact.withColumn("rank", row_number().over(w).cast(LongType))
      .where(col("rank") <= k)
  }
}
