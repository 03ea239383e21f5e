package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.text.TextAnalysis
import graft.dedup.NearDup
import QuerySupport._

/** Near-duplicate detection (SURVEY.md §7.6): winnowing, shingle
  * Jaccard, MinHash-LSH pairs and clusters, incremental dedup, SimHash. */
object DedupQueries {

  private def shingleSql(expr: String): String =
    s"CASE WHEN len($expr) >= 5 THEN list_distinct(list_transform(" +
      s"range(1, len($expr) - 3), i -> substr($expr, i, 5))) " +
      "ELSE CAST([] AS VARCHAR[]) END"

  /** Spark twin of the `u` CTE in [[minhashPairCtes]]: documents plus a
    * last-word-dropped copy of each. */
  private def minhashInput(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents").select("doc_id", "text")
    val mutated = d.select((col("doc_id") + 1000000).as("doc_id"),
      regexp_replace(NearDup.normalize(col("text")), "\\s+\\S+$", "")
        .as("text"))
    d.unionAll(mutated)
  }

  /** The exact minhash-pair ground truth shared by q_neardup_minhash and
    * q_neardup_clusters: planted last-word-dropped mutations, word-3-gram
    * shingles, all-pairs exact Jaccard thresholded at 0.5. Ends at the
    * `mh` CTE (id_a, id_b, j). */
  private lazy val minhashPairCtes =
    s"""u AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 1000000,
       |    regexp_replace($normTextSql, '\\s+\\S+$$', '') AS text
       |  FROM documents),
       |t AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(toks) - 1),
       |      i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS grams
       |  FROM (SELECT doc_id, string_split($normTextSql, ' ') AS toks FROM u)
       |  WHERE len(toks) >= 3),
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.grams, b.grams))) AS j
       |  FROM t a JOIN t b ON a.doc_id < b.doc_id),
       |mh AS (SELECT id_a, id_b, j FROM p WHERE j >= 0.5)""".stripMargin

  /** Full value-level winnowing recompute over a (doc_id, text) source
    * CTE/table: k-grams by substr, the same md5-hex base-16 fold as the
    * simhash oracle, w-window minima via a bounded self-join on gram
    * position, distinct values. Ends at the `wfp` CTE (doc_id, fp) —
    * shared by q_winnow_fp, q_winnow_pairs and q_winnow_clusters. */
  private def winnowFpCtes(src: String): String =
    s"""wd AS (SELECT doc_id, $normTextSql AS t FROM $src),
       |wg AS (SELECT doc_id, i, substr(t, i, 5) AS gram
       |      FROM (SELECT doc_id, t,
       |              unnest(generate_series(1, CAST(length(t) - 4 AS BIGINT))) AS i
       |            FROM wd WHERE length(t) >= 5)),
       |whv AS (SELECT doc_id, i, list_reduce(list_prepend(0::BIGINT,
       |        list_transform(string_split(substring(md5(gram), 1, 14), ''),
       |          c -> (strpos('0123456789abcdef', c) - 1)::BIGINT)),
       |        (a, v) -> a * 16 + v) AS h FROM wg),
       |wn AS (SELECT doc_id, max(i) AS nn FROM whv GROUP BY doc_id),
       |wmins AS (SELECT a.doc_id, a.i AS s, min(b.h) AS fp
       |         FROM whv a JOIN wn USING (doc_id)
       |         JOIN whv b ON b.doc_id = a.doc_id AND b.i >= a.i AND b.i < a.i + 4
       |         WHERE a.i + 3 <= wn.nn
       |         GROUP BY a.doc_id, a.i),
       |wfp AS (SELECT DISTINCT doc_id, CAST(fp AS BIGINT) AS fp FROM wmins)""".stripMargin

  /** Spark twin of the `wpl` CTE in [[winnowPairCtes]]: documents plus
    * planted 60 %-prefix copies of every 7th doc. */
  private def winnowInput(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents").select("doc_id", "text")
    val planted = d.where(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 2000000).as("doc_id"),
        col("text").substr(lit(1),
          floor(length(col("text")) * 0.6).cast(IntegerType)).as("text"))
    d.unionAll(planted)
  }

  /** The winnow-pair ground truth shared by q_winnow_pairs and
    * q_winnow_clusters: planted 60 %-prefix containment copies, winnowing
    * fingerprints, doc-frequency window filter (2..20), fingerprint-value
    * self-join with HAVING count >= 3. Ends at the `wpair` CTE
    * (id_a, id_b, n_shared) plus `wcnt` (doc_id, n). */
  private lazy val winnowPairCtes =
    s"""wpl AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 2000000,
       |    substr(text, 1, CAST(floor(length(text) * 0.6) AS INT)) AS text
       |  FROM documents WHERE doc_id % 7 = 0),
       |${winnowFpCtes("wpl")},
       |wkept AS (SELECT doc_id, fp FROM (
       |    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM wfp)
       |  WHERE df BETWEEN 2 AND 20),
       |wpair AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(count(*) AS BIGINT) AS n_shared
       |  FROM wkept a JOIN wkept b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 3),
       |wcnt AS (SELECT doc_id, count(*) AS n FROM wkept GROUP BY doc_id)""".stripMargin

  val all: Seq[Query] = Seq(

    // winnowing (MOSS) fingerprints: distinct w-window minima over the
    // rolling k-gram hash sequence — one row per (doc, fingerprint)
    Query("q_winnow_fp", (s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        explode(TextAnalysis.winnowingFingerprint(col("text"))).as("fp"))
        .orderBy("doc_id", "fp"),
      // full value-level winnowing recompute (CTEs shared with the pair and
      // cluster forms below)
      sql(s"""WITH ${winnowFpCtes("documents")}
             |SELECT doc_id, fp FROM wfp
             |ORDER BY doc_id, fp""".stripMargin)),

    // winnowing OVERLAP pairs — the partial-overlap/containment dedup
    // whole-doc MinHash structurally misses: planted 60%-prefix copies
    // (a containment case: |copy| / |orig| Jaccard ≈ 0.6 sits below
    // q_neardup_minhash's radar by design) must pair with their source
    // at overlap ≈ 1.0
    Query("q_winnow_pairs", (s, dir) => {
      NearDup.winnowPairs(winnowInput(s, dir), "text", "doc_id")
        .orderBy("id_a", "id_b")
    },
      // the winnow-pair ground truth: same plant, fingerprints, df filter,
      // value self-join; overlap = shared / min(pairable fps of either side)
      sql(s"""WITH $winnowPairCtes
             |SELECT id_a, id_b, n_shared,
             |  round(n_shared / CAST(least(ca.n, cb.n) AS DOUBLE), 6) AS overlap
             |FROM wpair JOIN wcnt ca ON ca.doc_id = id_a
             |           JOIN wcnt cb ON cb.doc_id = id_b
             |ORDER BY id_a, id_b""".stripMargin)),

    // the winnow pairs resolved transitively — partial-overlap dedup
    // end-to-end (fingerprints -> shared-value pairs -> connected
    // components), same resolution machinery as q_neardup_clusters
    Query("q_winnow_clusters", (s, dir) => {
      NearDup.clusters(
        NearDup.winnowPairs(winnowInput(s, dir), "text", "doc_id"))
        .orderBy("id")
    },
      // the same pair set closed transitively with the recursive-CTE
      // pattern of q_neardup_clusters
      sql(s"""WITH RECURSIVE $winnowPairCtes,
             |edges AS (SELECT id_a AS src, id_b AS dst FROM wpair
             |  UNION SELECT id_b, id_a FROM wpair),
             |reach(id, r) AS (
             |  SELECT src, src FROM edges
             |  UNION
             |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id)
             |SELECT id, CAST(min(r) AS BIGINT) AS cluster FROM reach
             |GROUP BY id ORDER BY id""".stripMargin)),

    // deterministic exact dedup by fingerprint (keep smallest id)
    Query("q_dedup_fingerprint", (s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val copy = d.select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      NearDup.exactDedup(d.unionAll(copy), "text", "doc_id").orderBy("doc_id")
    },
      sql(s"""WITH u AS (SELECT doc_id, text FROM documents
             |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
             |r AS (SELECT doc_id, text, row_number() OVER
             |  (PARTITION BY md5($normTextSql) ORDER BY doc_id) AS rn FROM u)
             |SELECT doc_id, text FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // n-gram (5-shingle) Jaccard similarity of consecutive doc pairs
    Query("q_ngram_jaccard", (s, dir) => {
      // r21: size-gated repartition — the shingle kernel runs twice over
      // the scan's few splits otherwise (see Parallelize)
      val d = graft.util.Parallelize.bySize(
        tbl(s, dir, "documents").select("doc_id", "text"), "doc_id")
      val a = d.select(col("doc_id").as("id_a"),
        NearDup.shingles(col("text")).as("sh_a"))
      val b = d.select(col("doc_id").as("id_b"),
        NearDup.shingles(col("text")).as("sh_b"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"),
          round(NearDup.jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
        .orderBy("id_a")
    },
      sql {
        val sh = shingleSql(normTextSql)
        s"""WITH t AS (SELECT doc_id, $sh AS sh FROM documents)
           |SELECT a.doc_id AS id_a,
           | CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
           |   THEN round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           |     / len(list_distinct(list_concat(a.sh, b.sh))), 6) END AS jaccard
           |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
           |ORDER BY id_a""".stripMargin
      }),

    // MinHash-LSH near-dup pairs (planted near-dups: last word dropped).
    // The drop operates on NORMALIZED text: raw text could end in
    // whitespace (where the regex removes nothing) or a line terminator
    // (where Java's $ matches before it but an external engine's RE2 $
    // does not) — normalizing first makes both engines see the same
    // mutation. Normalization is idempotent, so the signature stage
    // re-normalizing changes nothing.
    Query("q_neardup_minhash", (s, dir) => {
      NearDup.minhashPairs(minhashInput(s, dir), "text", "doc_id",
        threshold = 0.5, bucketBatches = bucketBatchesEnv)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    },
      // Exact all-pairs word-3-gram Jaccard ground truth. Valid as an oracle
      // for the LSH query because rotation-densified OPH has full recall on
      // this corpus (verified: 600/600 pairs at sf0.01) and the exact-Jaccard
      // verification step makes precision exact by construction.
      sql(s"""WITH $minhashPairCtes
             |SELECT id_a, id_b, round(j, 6) AS jaccard FROM mh
             |ORDER BY id_a, id_b""".stripMargin)),

    // §7.6 near-dup CLUSTER RESOLUTION: connected components over the
    // minhash pair list via min-label propagation — a chain of pairwise
    // near-dups resolves to ONE cluster even where the endpoints' own
    // similarity sits below threshold. The oracle rebuilds the exact
    // pair set (shared CTEs with q_neardup_minhash) and closes it with
    // a recursive CTE.
    Query("q_neardup_clusters", (s, dir) => {
      NearDup.clusters(NearDup.minhashPairs(minhashInput(s, dir), "text",
        "doc_id", threshold = 0.5, bucketBatches = bucketBatchesEnv))
        .orderBy("id")
    },
      // The same exact pair ground truth, closed transitively with a
      // recursive CTE — every paired id maps to the smallest id reachable
      // through the pair graph, the cluster representative a dedup keeps.
      sql(s"""WITH RECURSIVE $minhashPairCtes,
             |edges AS (SELECT id_a AS src, id_b AS dst FROM mh
             |  UNION SELECT id_b, id_a FROM mh),
             |reach(id, r) AS (
             |  SELECT src, src FROM edges
             |  UNION
             |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id)
             |SELECT id, CAST(min(r) AS BIGINT) AS cluster FROM reach
             |GROUP BY id ORDER BY id""".stripMargin)),

    // §7.6 INCREMENTAL dedup (crawl-refresh): a "new batch" of planted
    // docs — every third is a near-dup mutation of the reference corpus
    // (must be dropped), the rest are word-reversed (new gram sets, must
    // survive) — deduped AGAINST the documents table. The oracle
    // recomputes exact cross-corpus all-pairs Jaccard.
    Query("q_dedup_incremental", (s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val newBatch = d.select((col("doc_id") + 3000000).as("doc_id"),
        when(col("doc_id") % 3 === 0,
          regexp_replace(NearDup.normalize(col("text")), "\\s+\\S+$", ""))
          .otherwise(concat_ws(" ",
            reverse(split(NearDup.normalize(col("text")), " "))))
          .as("text"))
      NearDup.dedupAgainst(newBatch, d, "text", "doc_id", threshold = 0.5)
        .orderBy("doc_id")
    },
      // exact cross-corpus ground truth: word-3-gram Jaccard between every
      // new-batch doc and every reference doc; a new doc survives iff no
      // reference doc reaches 0.5 (docs under 3 words have no grams and
      // survive by construction, both engines)
      sql(s"""WITH nw AS (
             |  SELECT doc_id + 3000000 AS doc_id,
             |    CASE WHEN doc_id % 3 = 0
             |      THEN regexp_replace($normTextSql, '\\s+\\S+$$', '')
             |      ELSE array_to_string(list_reverse(string_split($normTextSql, ' ')), ' ')
             |    END AS text
             |  FROM documents),
             |gr AS (
             |  SELECT doc_id,
             |    list_distinct(list_transform(range(1, len(toks) - 1),
             |      i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS grams
             |  FROM (SELECT doc_id, string_split($normTextSql, ' ') AS toks FROM documents)
             |  WHERE len(toks) >= 3),
             |gn AS (
             |  SELECT doc_id,
             |    list_distinct(list_transform(range(1, len(toks) - 1),
             |      i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS grams
             |  FROM (SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks FROM nw)
             |  WHERE len(toks) >= 3),
             |dropped AS (
             |  SELECT DISTINCT n.doc_id
             |  FROM gn n JOIN gr r ON
             |    CAST(len(list_intersect(n.grams, r.grams)) AS DOUBLE)
             |      / len(list_distinct(list_concat(n.grams, r.grams))) >= 0.5)
             |SELECT doc_id, text FROM nw
             |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
             |ORDER BY doc_id""".stripMargin)),

    // SimHash: planted near-dup pairs differ in few bits. Uses the 56-bit
    // md5-token-hash variant so the signature itself is value-checkable by
    // an external SQL engine (the 64-bit xxhash64 default is not).
    Query("q_simhash", (s, dir) => {
      // r21: both simhash kernel passes inherit the scan's split count —
      // size-gated repartition keeps all cores busy (see Parallelize)
      val d0 = graft.util.Parallelize.bySize(
        tbl(s, dir, "documents").select("doc_id", "text"), "doc_id")
      val d = d0.select(col("doc_id"),
        NearDup.simhash(col("text"), 56, NearDup.md5Hash56).as("sh"))
      // drop the last word of the NORMALIZED text — same reasoning as
      // q_neardup_minhash's mutation, and it matches the oracle's t2
      val mutated = d0.select(col("doc_id"),
        NearDup.simhash(
          regexp_replace(NearDup.normalize(col("text")), "\\s+\\S+$", ""),
          56, NearDup.md5Hash56).as("sh_mut"))
      d.join(mutated, "doc_id")
        .select(col("doc_id"), col("sh"),
          bit_count(col("sh").bitwiseXOR(col("sh_mut"))).cast(LongType)
            .as("hamming_to_neardup"))
        .orderBy("doc_id")
    },
      // Full value-level simhash recompute: md5-hex -> 56-bit token hash via
      // base-16 fold, per-bit ±1 vote sums, bit_or reassembly — identical
      // arithmetic to NearDup.simhash(_, 56, md5Hash56).
      sql(s"""WITH d AS (SELECT doc_id, $normTextSql AS t1,
             |    regexp_replace($normTextSql, '\\s+\\S+$$', '') AS t2 FROM documents),
             |tok AS (
             |  SELECT doc_id, 1 AS which, unnest(string_split(t1, ' ')) AS t FROM d
             |  UNION ALL
             |  SELECT doc_id, 2 AS which, unnest(string_split(t2, ' ')) AS t FROM d),
             |h AS (SELECT doc_id, which,
             |  list_reduce(list_prepend(0::BIGINT,
             |    list_transform(string_split(substring(md5(t), 1, 14), ''),
             |      c -> (strpos('0123456789abcdef', c) - 1)::BIGINT)),
             |    (a, v) -> a * 16 + v) AS hv
             |  FROM tok),
             |v AS (SELECT doc_id, which, b,
             |    sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
             |  FROM h CROSS JOIN (SELECT unnest(range(56)) AS b) r
             |  GROUP BY doc_id, which, b),
             |s AS (SELECT doc_id, which,
             |    bit_or(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS sh
             |  FROM v GROUP BY doc_id, which)
             |SELECT a.doc_id AS doc_id, a.sh AS sh,
             |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming_to_neardup
             |FROM s a JOIN s b ON a.doc_id = b.doc_id AND a.which = 1 AND b.which = 2
             |ORDER BY a.doc_id""".stripMargin))
  )
}
