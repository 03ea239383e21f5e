package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.NearDup
import graft.sim.Similarity
import QuerySupport._

/** Embedding similarity: exact cosine, LSH near-dup pairs and
  * clusters, brute-force / IVF / LSH top-k, int8 quantization. */
object SimilarityQueries {

  private val cosSql =
    "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"

  /** q_ann_lsh's hyperplanes as SQL literals: `Similarity.planeWeight` is
    * a pure split-mix hash of (plane, dim) — fixed public constants, no
    * RNG state — so the oracle carries the EXACT weight table and
    * rebuilds signatures independently. Double.toString round-trips, so
    * DuckDB parses back the identical bits. */
  private def planeWeightValuesSql(planes: Int, dim: Int): String =
    (0 until planes).map { p =>
      val ws = (0 until dim)
        .map(d => graft.sim.Similarity.planeWeight(p, d)).mkString("[", ",", "]")
      s"($p, $ws::DOUBLE[])"
    }.mkString(", ")

  /** Exact cosine top-10 of the first 5 vectors: brute force, and IVF
    * probing every cell. */
  private lazy val exactTopKSql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
       |s AS (SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
       |  round(list_dot_product(q.v, a.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(a.v, a.v))), 6) AS sim
       |  FROM e a, q WHERE a.vec_id <> q.vec_id),
       |r AS (SELECT *, CAST(row_number() OVER
       |  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank FROM s)
       |SELECT query_id, neighbor_id, sim, rank FROM r WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  /** Per-vector int8 affine parameters (Quantize.quantizeInt8's twin):
    * `s` (vec_id, embedding, minv, scale). */
  private lazy val quantScaleCte: String =
    raw"""s AS (SELECT vec_id, embedding,
      |    CAST(list_min(embedding) AS DOUBLE) AS minv,
      |    (CAST(list_max(embedding) AS DOUBLE)
      |      - CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS scale
      |  FROM embeddings)""".stripMargin

  /** Each vector's int8 codes dequantized per element, over
    * [[quantScaleCte]]: `d` (vec_id, v). */
  private lazy val dequantizedCte: String =
    raw"""d AS (SELECT vec_id, list_transform(embedding, x ->
      |    CASE WHEN scale = 0 THEN minv
      |      ELSE (LEAST(127, GREATEST(-128,
      |        CAST(round((CAST(x AS DOUBLE) - minv) / scale) AS INTEGER)
      |        - 128)) + 128) * scale + minv END) AS v
      |  FROM s)""".stripMargin

  /** Spark twin of the oracles' `u` CTE: the embeddings plus exact
    * duplicates of the first 20 vectors (ids + 10,000,000). */
  private def embeddingsPlanted(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "embeddings").select("vec_id", "embedding")
    val planted = e.where(col("vec_id") < 20)
      .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
    e.unionAll(planted)
  }

  val all: Seq[Query] = Seq(

    // embedding cosine between consecutive vectors (exact, double fold)
    Query("q_cosine_pairs", (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val a = e.select(col("vec_id").as("id_a"),
        Similarity.toDoubleArr(col("embedding")).as("va"))
      val b = e.select(col("vec_id").as("id_b"),
        Similarity.toDoubleArr(col("embedding")).as("vb"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"),
          round(graft.functions.VectorKernels.cosine(col("va"), col("vb")), 6)
            .as("sim"))
        .orderBy("id_a")
    },
      sql(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |SELECT a.vec_id AS id_a, round($cosSql, 6) AS sim
             |FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
             |ORDER BY id_a""".stripMargin)),

    // embedding-cosine near-dup pairs via hyperplane LSH (planted exact
    // duplicates: identical vectors always share every band, so recall on
    // the planted set is exactly 1 and the all-pairs oracle is comparable;
    // random 64-dim synthetic vectors never reach 0.95 cosine naturally)
    Query("q_embed_neardup", (s, dir) => {
      // planes AUTO (r20): bits-per-band scale with the corpus
      // (NearDup.autoPlanes — 8 bits/256 buckets at driver scales,
      // identical to the old fixed 32 planes; 12 bits at 200k rows).
      // A fixed 8-bit band was measured quadratic on the ×100
      // synthetic-embedding corpus: 200k random vectors in 256 buckets
      // = ~n²/512 candidates per band, 75 GB of candidate shuffle.
      // Identical vectors still share every band at ANY width, so
      // planted-duplicate recall stays exactly 1.
      NearDup.embeddingPairs(embeddingsPlanted(s, dir), "embedding", "vec_id",
        dim = 64, threshold = 0.95, bands = 4,
        bucketBatches = bucketBatchesEnv)
        .orderBy("id_a", "id_b")
    },
      sql(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |u AS (SELECT * FROM e
             |      UNION ALL SELECT vec_id + 10000000, v FROM e WHERE vec_id < 20)
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             | round(list_dot_product(a.v, b.v) /
             |   (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
             |   AS cosine
             |FROM u a JOIN u b ON a.vec_id < b.vec_id
             |WHERE list_dot_product(a.v, b.v) /
             |   (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.95
             |ORDER BY id_a, id_b""".stripMargin)),

    // transitive cluster resolution over the embedding near-dup pairs —
    // the composition an embedding-dedup pipeline actually runs (pairs →
    // connected components → keep one per cluster); same resolution
    // machinery as q_neardup_clusters, driven by cosine-LSH pairs
    Query("q_embed_clusters", (s, dir) => {
      NearDup.clusters(
        NearDup.embeddingPairs(embeddingsPlanted(s, dir), "embedding",
          "vec_id", dim = 64, threshold = 0.95, bands = 4,
          bucketBatches = bucketBatchesEnv))
        .orderBy("id")
    },
      // the q_embed_neardup pair set (exact cosine threshold — LSH banding
      // with identical planted vectors has recall 1 there) closed
      // transitively with the same recursive-CTE pattern as
      // q_neardup_clusters
      sql("""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            |u AS (SELECT * FROM e
            |      UNION ALL SELECT vec_id + 10000000, v FROM e WHERE vec_id < 20),
            |pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
            |       FROM u a JOIN u b ON a.vec_id < b.vec_id
            |       WHERE list_dot_product(a.v, b.v) /
            |         (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.95),
            |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
            |  UNION SELECT id_b, id_a FROM pr),
            |reach(id, r) AS (
            |  SELECT src, src FROM edges
            |  UNION
            |  SELECT e2.src, r.r FROM edges e2 JOIN reach r ON e2.dst = r.id)
            |SELECT id, CAST(min(r) AS BIGINT) AS cluster FROM reach
            |GROUP BY id ORDER BY id""".stripMargin)),

    // brute-force cosine top-10 for the first 5 vectors (exact ANN baseline)
    Query("q_ann_topk", (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.where(col("vec_id") < 5), 10)
        .orderBy("query_id", "rank")
    },
      sql(exactTopKSql)),

    // IVF ANN probing ALL cells: the probed-cell union is the corpus, so
    // the output must EXACTLY equal brute-force top-k regardless of
    // clustering quality — an oracle-able invariant of the assignment/
    // probe/rerank machinery. The scale path (nprobe << nlist) is
    // recall-tested in ExtensionsSpec.
    Query("q_ann_ivf", (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.where(col("vec_id") < 5), 10,
        nlist = 8, nprobe = 8)
        .orderBy("query_id", "rank")
    },
      sql(exactTopKSql)),

    // LSH-bucketed ANN — approximate but fully deterministic: the oracle
    // rebuilds signatures from the literal plane-weight table, reproduces
    // the band join, and reranks (recall vs brute force in ExtensionsSpec)
    Query("q_ann_lsh", (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.lshTopK(e, e.where(col("vec_id") < 5), 10, dim = 64,
        planes = 32, bands = 8)
        .orderBy("query_id", "rank")
    },
      // Full LSH rebuild from the literal plane-weight table: signature =
      // packed sign bits of v · w_p; candidates = any equal 4-bit band of
      // the 32-bit signature (8 bands, same banding as lshTopK); exact
      // rerank over the candidate set. The candidate set is fully
      // deterministic, so the whole approximate result is value-checkable.
      sql(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |w AS (SELECT * FROM (VALUES ${planeWeightValuesSql(32, 64)}) t(p, pw)),
             |sig AS (
             |  SELECT e.vec_id, CAST(sum(CASE WHEN list_dot_product(e.v, w.pw) >= 0
             |    THEN (1::BIGINT << w.p) ELSE 0 END) AS BIGINT) AS s
             |  FROM e CROSS JOIN w GROUP BY e.vec_id),
             |cb AS (
             |  SELECT sig.vec_id AS c_id, b.b AS band, (sig.s >> CAST(4 * b.b AS INTEGER)) & 15 AS bb
             |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b) b),
             |cand AS (
             |  SELECT DISTINCT q.query_id, c.c_id
             |  FROM (SELECT c_id AS query_id, band, bb FROM cb WHERE c_id < 5) q
             |  JOIN cb c ON c.band = q.band AND c.bb = q.bb
             |  WHERE c.c_id <> q.query_id),
             |s AS (
             |  SELECT cand.query_id, cand.c_id AS neighbor_id,
             |    round(list_dot_product(qv.v, av.v) / (sqrt(list_dot_product(qv.v, qv.v)) * sqrt(list_dot_product(av.v, av.v))), 6) AS sim
             |  FROM cand JOIN e qv ON qv.vec_id = cand.query_id
             |            JOIN e av ON av.vec_id = cand.c_id),
             |r AS (SELECT *, CAST(row_number() OVER
             |  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank FROM s)
             |SELECT query_id, neighbor_id, sim, rank FROM r WHERE rank <= 10
             |ORDER BY query_id, rank""".stripMargin)),

    // int8 scalar quantization (r15): per-vector affine codes — exact
    // integer compare against DuckDB recomputing the same double-math
    // (pure projections, no UDF/shuffle; 4x storage shrink at scale)
    Query("q_embed_quantize", (s, dir) => {
      // r21: sort the 64-dim VECTORS by their unique id, then explode —
      // same (vec_id, dim) order (posexplode emits dims ascending inside
      // each row and Generate preserves row order), but the range sort
      // moves n rows instead of 64n and its sample pass reads raw arrays
      // instead of evaluating the quantize transform (see the
      // sort-below-projection note on QuerySupport.dirtyCustomer).
      val e = tbl(s, dir, "embeddings").orderBy("vec_id")
      graft.sim.Quantize.quantizeInt8(e, "vec_id", "embedding")
        .select(col("vec_id"),
          posexplode(col("codes")).as(Seq("dim", "code")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          col("code").cast("int").as("code"))
    },
      // identical to the brute-force oracle: probing every IVF cell must
      // reproduce exact top-k
      // same affine int8 scheme in DuckDB double math: code =
      // clamp(round((x−min)/scale)) − 128; rounding operands are
      // non-negative so HALF_UP (Spark) and half-away-from-zero (DuckDB)
      // agree; codes compare as exact integers
      sql(raw"""WITH $quantScaleCte,
            |e AS (SELECT vec_id, minv, scale,
            |    UNNEST(embedding) AS x, UNNEST(range(len(embedding))) AS dim
            |  FROM s)
            |SELECT vec_id, CAST(dim AS BIGINT) AS dim,
            |  CAST(CASE WHEN scale = 0 THEN 0
            |    ELSE LEAST(127, GREATEST(-128,
            |      CAST(round((CAST(x AS DOUBLE) - minv) / scale) AS INTEGER) - 128))
            |    END AS INTEGER) AS code
            |FROM e ORDER BY vec_id, dim""".stripMargin)),

    // quantized ANN (r15): exact top-k over the int8-reconstructed
    // vectors — the compose check that a 4x-compressed corpus still
    // ranks; fully deterministic (both engines recompute the same codes
    // and the same dequantized double math)
    Query("q_ann_quantized", (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val deq = graft.sim.Quantize.dequantizeInt8(
        graft.sim.Quantize.quantizeInt8(e, "vec_id", "embedding"),
        "vec_id")
      Similarity.bruteForceTopK(deq, deq.where(col("vec_id") < 5), 10,
        idCol = "vec_id", vecCol = "vec")
        .orderBy("query_id", "rank")
    },
      // q_embed_quantize's code formula, dequantized back per element in a
      // correlated lambda, then the q_ann_ivf cosine/rank tail
      sql(raw"""WITH $quantScaleCte,
            |$dequantizedCte,
            |q AS (SELECT vec_id, v FROM d WHERE vec_id < 5),
            |sc AS (SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
            |    round(list_dot_product(q.v, a.v)
            |      / (sqrt(list_dot_product(q.v, q.v))
            |         * sqrt(list_dot_product(a.v, a.v))), 6) AS sim
            |  FROM d a, q WHERE a.vec_id <> q.vec_id),
            |r AS (SELECT *, CAST(row_number() OVER
            |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
            |    AS BIGINT) AS rank FROM sc)
            |SELECT query_id, neighbor_id, sim, rank FROM r WHERE rank <= 10
            |ORDER BY query_id, rank""".stripMargin)),

    // IVF × QUANTIZATION composition (r16): the search scans int8 codes
    // (4× less data), candidates rank by rounded quantized sim, the top
    // k·overfetch per query re-rank EXACTLY against the full-precision
    // vectors through a broadcast id-join — via the persistent index
    // whose fingerprint keys on the QUANTIZED corpus. nprobe == nlist
    // makes both stages deterministic pure functions of the codes +
    // floats, so the oracle replays candidate cut and refine in SQL;
    // the nprobe < nlist recall pin vs full-precision IVF lives in
    // ExtensionsSpec.
    Query("q_ann_ivf_quantized", (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val idx = Similarity.ivfIndexAtQuantized(e,
        roundtripPath("ivfq8", dir), nlist = 8)
      Similarity.ivfTopKQuantizedRefine(e, e.where(col("vec_id") < 5), 10,
        nlist = 8, nprobe = 8, overfetch = 2, index = Some(idx))
        .orderBy("query_id", "rank")
    },
      // the q_embed_quantize/q_ann_quantized dequant CTEs feeding the
      // candidate cut (rounded quantized sim, id tie-break, k·overfetch =
      // 20), then the exact re-rank over the RAW vectors — both stages
      // replayed value-for-value
      sql(raw"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            |$quantScaleCte,
            |$dequantizedCte,
            |q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
            |sc AS (SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
            |    round(list_dot_product(q.v, a.v)
            |      / (sqrt(list_dot_product(q.v, q.v))
            |         * sqrt(list_dot_product(a.v, a.v))), 6) AS qsim
            |  FROM d a, q WHERE a.vec_id <> q.vec_id),
            |c AS (SELECT *, row_number() OVER
            |    (PARTITION BY query_id ORDER BY qsim DESC, neighbor_id) AS crk
            |  FROM sc),
            |cand AS (SELECT query_id, neighbor_id FROM c WHERE crk <= 20),
            |x AS (SELECT cand.query_id, cand.neighbor_id,
            |    round(list_dot_product(qv.v, av.v)
            |      / (sqrt(list_dot_product(qv.v, qv.v))
            |         * sqrt(list_dot_product(av.v, av.v))), 6) AS sim
            |  FROM cand JOIN e qv ON qv.vec_id = cand.query_id
            |            JOIN e av ON av.vec_id = cand.neighbor_id),
            |r AS (SELECT *, CAST(row_number() OVER
            |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
            |    AS BIGINT) AS rank FROM x)
            |SELECT query_id, neighbor_id, sim, rank FROM r WHERE rank <= 10
            |ORDER BY query_id, rank""".stripMargin))
  )
}
