package graft
package queries

import org.apache.spark.sql.functions._
import QuerySupport._

/** Training-data layout: deterministic sampling, splits and shuffles,
  * chunking and sequence packing. */
object LayoutQueries {

  /** Packing gather over `e` (ws, n, start, seq): each piece sliced by
    * its sequence's [seq·64, seq·64+64) span and regrouped in offset
    * order — the final SELECT of q_pack_gather and q_train_layout. */
  private lazy val packGatherTail: String =
    raw"""pc AS (SELECT seq, GREATEST(seq * 64, start) - seq * 64 AS off,
      |    ws[CAST(GREATEST(seq * 64, start) - start + 1 AS BIGINT) :
      |       CAST(LEAST((seq + 1) * 64, start + n) - start AS BIGINT)] AS piece
      |  FROM e),
      |g AS (SELECT seq, flatten(list(piece ORDER BY off)) AS toks,
      |    count(*) AS n_docs FROM pc GROUP BY seq)
      |SELECT CAST(seq AS BIGINT) AS seq_id,
      |  CAST(len(toks) AS BIGINT) AS n_tokens,
      |  CAST(n_docs AS BIGINT) AS n_docs,
      |  array_to_string(toks, ' ') AS seq_text
      |FROM g ORDER BY seq_id""".stripMargin

  val all: Seq[Query] = Seq(

    // §7.6 deterministic stratified sampling (corpus mixing): per-lang
    // keep rates via a salted-md5 threshold — partitioning-independent,
    // monotone in rate, reproducible by any engine with md5. Thresholds
    // are %08x(rate * 2^32): 0.5 -> 80000000, 0.25 -> 40000000,
    // 0.1 -> 19999999 (mirrored in the oracle CASE).
    Query("q_sample_stratified", (s, dir) => {
      val d = tbl(s, dir, "documents")
      graft.ops.Sampling.stratifiedSample(d, "lang", "doc_id",
        Map("en" -> 0.5, "fr" -> 0.25), defaultRate = 0.1)
        .select("doc_id", "lang").orderBy("doc_id")
    },
      sql("""SELECT doc_id, lang FROM documents
            |WHERE substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 8) <
            |  CASE WHEN lang = 'en' THEN '80000000'
            |       WHEN lang = 'fr' THEN '40000000'
            |       ELSE '19999999' END
            |ORDER BY doc_id""".stripMargin)),

    // data-mixture sampling by token budget: per-lang keep rates derived
    // from n_chars totals (en capped at 30k tokens, de at 8k, rest 10%),
    // then the same deterministic salted-hash filter. At sf0.001 the
    // budgets exceed the corpus and the rate clamps to keep-all — the
    // clamp path is part of the contract.
    Query("q_sample_budget", (s, dir) => {
      val d = tbl(s, dir, "documents")
      graft.ops.Sampling.tokenBudgetSample(d, "lang", "doc_id", "n_chars",
        budgets = Map("en" -> 30000L, "de" -> 8000L), defaultRate = 0.1)
        ._1.select("doc_id", "lang").orderBy("doc_id")
    },
      // rate_s = min(1, budget_s / sum(n_chars)_s); threshold hex is the
      // TRUNCATED rate*2^32 ('floor' — DuckDB's bare BIGINT cast rounds),
      // lowercased (to_hex is uppercase); >=1 clamps to the keep-all
      // sentinel 'g' exactly like Sampling.thresholdHex
      sql("""WITH s AS (SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS toks
            |           FROM documents GROUP BY lang),
            |r AS (SELECT lang,
            |  CASE WHEN lang = 'en' THEN 30000.0 / toks
            |       WHEN lang = 'de' THEN 8000.0 / toks
            |       ELSE 0.1 END AS rate FROM s),
            |t AS (SELECT lang,
            |  CASE WHEN rate >= 1.0 THEN 'g'
            |       WHEN rate <= 0.0 THEN '0'
            |       ELSE lpad(lower(to_hex(CAST(floor(rate * 4294967296.0) AS BIGINT))), 8, '0')
            |  END AS thr FROM r)
            |SELECT d.doc_id, d.lang FROM documents d JOIN t ON d.lang = t.lang
            |WHERE substr(md5('graft:' || CAST(d.doc_id AS VARCHAR)), 1, 8) < t.thr
            |ORDER BY d.doc_id""".stripMargin)),

    // temperature-flattened mixture (multilingual balancing, r14): per-
    // lang budget ∝ tokens^(1/τ) normalized to 30k, τ=2 — head langs
    // down-sampled, tail kept whole; rates rounded to 6 dp on BOTH
    // engines so pow/sum ulp drift cannot move a threshold
    Query("q_sample_temperature", (s, dir) => {
      val d = tbl(s, dir, "documents")
      graft.ops.Sampling.temperatureSample(d, "lang", "doc_id", "n_chars",
        targetTokens = 30000L, tau = 2.0)
        ._1.select("doc_id", "lang").orderBy("doc_id")
    },
      // rate_s = round(min(1, 30000·toks^(1/2)/Σw / toks), 6) — the 6-dp
      // rounding on BOTH sides makes pow/sum-order ulp drift irrelevant;
      // threshold construction identical to q_sample_budget
      sql("""WITH s AS (SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS toks
            |           FROM documents GROUP BY lang),
            |w AS (SELECT lang, toks, pow(toks, 0.5) AS wt FROM s),
            |r AS (SELECT lang,
            |  round(LEAST(1.0, 30000.0 * (wt / (SELECT sum(wt) FROM w)) / toks), 6)
            |    AS rate FROM w),
            |t AS (SELECT lang,
            |  CASE WHEN rate >= 1.0 THEN 'g'
            |       WHEN rate <= 0.0 THEN '0'
            |       ELSE lpad(lower(to_hex(CAST(floor(rate * 4294967296.0) AS BIGINT))), 8, '0')
            |  END AS thr FROM r)
            |SELECT d.doc_id, d.lang FROM documents d JOIN t ON d.lang = t.lang
            |WHERE substr(md5('graft:' || CAST(d.doc_id AS VARCHAR)), 1, 8) < t.thr
            |ORDER BY d.doc_id""".stripMargin)),

    // per-group cap sampling (anti-monoculture): at most 10 docs per
    // source, chosen by the deterministic salted-hash order shared with
    // q_sample_stratified. Binds at sf>=0.01 (25 docs/source).
    Query("q_sample_cap_group", (s, dir) => {
      val d = tbl(s, dir, "documents")
      graft.ops.Sampling.capPerGroup(d, "source", "doc_id", 10)
        .select("doc_id", "source").orderBy("doc_id")
    },
      sql("""SELECT doc_id, source FROM (
            |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
            |    ORDER BY md5('graft:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
            |  FROM documents) t
            |WHERE rn <= 10 ORDER BY doc_id""".stripMargin)),

    // weighted sampling without replacement (r17): 200 documents drawn
    // proportional to n_chars via the Efraimidis–Spirakis key (ln(u)/w,
    // u from the salted-md5 52-bit prefix) — deterministic, partition-
    // independent, TakeOrdered-planned (per-partition k-heaps, no
    // corpus shuffle). Keys pre-rounded to 6 dp + id tie-break, the
    // repo ulp convention; the oracle replays the identical hash fold.
    Query("q_sample_weighted", (s, dir) =>
      graft.ops.Sampling.weightedSample(
        tbl(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        "doc_id", "n_chars", k = 200)
        .orderBy("doc_id"),
      // Efraimidis–Spirakis weighted draw: u from the same md5 52-bit
      // prefix fold the simhash oracle uses (13 hex chars, digit fold),
      // key = round(ln(u)/w, 6), top-200 by (key desc, id). 2^52 =
      // 4503599627370496; +0.5 keeps u strictly inside (0,1).
      sql("""WITH s AS (SELECT doc_id, lang, n_chars,
            |  round(ln((list_reduce(list_prepend(0::BIGINT,
            |      list_transform(string_split(substring(md5('graftw:' || CAST(doc_id AS VARCHAR)), 1, 13), ''),
            |        c -> (strpos('0123456789abcdef', c) - 1)::BIGINT)),
            |      (a, v) -> a * 16 + v) + 0.5) / 4503599627370496.0)
            |    / CAST(n_chars AS DOUBLE), 6) AS sample_key
            |  FROM documents
            |  WHERE n_chars IS NOT NULL AND CAST(n_chars AS DOUBLE) > 0.0),
            |t AS (SELECT * FROM s ORDER BY sample_key DESC, doc_id LIMIT 200)
            |SELECT doc_id, lang, n_chars, sample_key FROM t ORDER BY doc_id""".stripMargin)),

    // deterministic train/val/test assignment (r14): cumulative salted-
    // hash intervals — stable under corpus growth, boundaries shared
    // with the oracle as LITERAL hex strings
    Query("q_split_assign", (s, dir) => {
      val d = tbl(s, dir, "documents")
      graft.ops.Sampling.assignSplits(d, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split").orderBy("doc_id")
    },
      // boundaries are the SAME literal hex strings the Spark side uses
      // (Sampling.cumulativeThresholdHex) — no float re-derivation at all
      sql {
        val Seq(t1, t2, t3) = graft.ops.Sampling
          .cumulativeThresholdHex(Seq(0.8, 0.1, 0.1))
        s"""SELECT doc_id,
           |  CASE WHEN h < '$t1' THEN 'train'
           |       WHEN h < '$t2' THEN 'val'
           |       WHEN h < '$t3' THEN 'test'
           |       ELSE NULL END AS split
           |FROM (SELECT doc_id,
           |        substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
           |      FROM documents)
           |ORDER BY doc_id""".stripMargin
      }),

    // deterministic global corpus shuffle (r15): md5-order position via
    // the partition-offset pattern (no global window); the oracle
    // recomputes the identical permutation with row_number over the
    // same md5 keys
    Query("q_corpus_shuffle", (s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "lang")
      graft.ops.Sampling.shufflePositions(d, "doc_id")
        .orderBy("doc_id")
    },
      // the same salted-md5 permutation, as a plain window at oracle scale
      sql("""SELECT doc_id, lang,
            |  CAST(row_number() OVER (ORDER BY
            |    md5('graft:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
            |    AS BIGINT) AS shuffle_pos
            |FROM documents ORDER BY doc_id""".stripMargin)),

    // sequence-packing placement: concat docs in id order, cut 1000-token
    // windows (n_chars standing in for the token count)
    Query("q_seq_pack", (s, dir) =>
      graft.plans.SequencePacking.plan(
        tbl(s, dir, "documents"), "doc_id", "n_chars", window = 1000)
        .orderBy("doc_id"),
      // prefix-sum placement: cumulative tokens before each doc in id order
      // (sums CAST to BIGINT — DuckDB widens sum(BIGINT) to HUGEINT)
      sql("""WITH p AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_tokens,
            |  CAST(COALESCE(sum(n_chars) OVER (ORDER BY doc_id
            |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_token
            |  FROM documents)
            |SELECT doc_id, n_tokens, start_token,
            |  CAST(start_token // 1000 AS BIGINT) AS seq_first,
            |  CAST((start_token + greatest(n_tokens, 1) - 1) // 1000 AS BIGINT) AS seq_last
            |FROM p ORDER BY doc_id""".stripMargin)),

    // document chunking (r14): 6-token windows, 2-token overlap
    // (stride 4) — the pre-embedding splitter; blank docs emit nothing
    Query("q_chunk_docs", (s, dir) =>
      graft.text.Chunker.chunk(tbl(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 6, overlapTokens = 2)
        .orderBy("doc_id", "chunk_id"),
      // same tokenizer convention as tokCountSql; UNNEST(range(0, n,
      // stride)) reproduces the start list, 1-based inclusive list slicing
      // matches Spark's slice(ws, start+1, chunkTokens)
      sql("""WITH t AS (SELECT doc_id,
            |    regexp_split_to_array(trim(lower(text)), '\s+') AS ws,
            |    len(trim(text)) AS nz FROM documents),
            |c AS (SELECT doc_id, ws, UNNEST(range(0, len(ws), 4)) AS start
            |      FROM t WHERE nz > 0)
            |SELECT doc_id, CAST(start // 4 AS BIGINT) AS chunk_id,
            |  CAST(LEAST(6, len(ws) - start) AS BIGINT) AS n_chunk_tokens,
            |  array_to_string(ws[start + 1 : start + 6], ' ') AS chunk_text
            |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),

    // chunk → pack composition (r15): split long docs into 6-token
    // chunks, then lay the chunk stream out into 8-token training
    // sequences — the actual pre-training layout path. The composite
    // chunk_key (doc_id·1e6 + chunk_id, valid for docs under 4M tokens
    // at stride 4) keeps packing order identical to (doc_id, chunk_id).
    Query("q_chunk_pack", (s, dir) => {
      val chunks = graft.text.Chunker.chunk(tbl(s, dir, "documents"),
        "doc_id", "text", chunkTokens = 6, overlapTokens = 2)
        .select((col("doc_id") * 1000000L + col("chunk_id"))
          .as("chunk_key"), col("n_chunk_tokens"))
      graft.plans.SequencePacking.plan(chunks, "chunk_key",
        "n_chunk_tokens", window = 8).orderBy("chunk_key")
    },
      // the q_chunk_docs chunk CTE feeding the q_seq_pack prefix-sum
      // formula over the composite key; greatest(n,1) kept for formula
      // parity with the Spark side even though chunks are never empty
      sql("""WITH t AS (SELECT doc_id,
            |    regexp_split_to_array(trim(lower(text)), '\s+') AS ws,
            |    len(trim(text)) AS nz FROM documents),
            |c AS (SELECT doc_id, ws, UNNEST(range(0, len(ws), 4)) AS start
            |      FROM t WHERE nz > 0),
            |ch AS (SELECT CAST(doc_id * 1000000 + start // 4 AS BIGINT) AS chunk_key,
            |    CAST(LEAST(6, len(ws) - start) AS BIGINT) AS n_tokens FROM c),
            |p AS (SELECT chunk_key, n_tokens,
            |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY chunk_key
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_token
            |  FROM ch)
            |SELECT chunk_key, n_tokens, start_token,
            |  CAST(start_token // 8 AS BIGINT) AS seq_first,
            |  CAST((start_token + greatest(n_tokens, 1) - 1) // 8 AS BIGINT) AS seq_last
            |FROM p ORDER BY chunk_key""".stripMargin)),

    // packed-sequence GATHER (r15): the materialized complement of
    // q_seq_pack/q_chunk_pack — actual 64-token training rows
    // reassembled from every doc piece that lands in them; every
    // sequence but the corpus tail is exactly 64 tokens
    Query("q_pack_gather", (s, dir) => {
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"),
          when(length(trim(col("text"))) > 0,
            graft.text.TextAnalysis.tokens(col("text")))
            .otherwise(array().cast("array<string>")).as("toks"))
      graft.plans.SequencePacking.gather(d, "doc_id", "toks", window = 64)
        .orderBy("seq_id")
    },
      // the q_seq_pack prefix sum over per-doc token counts, each doc
      // exploded over the sequences it spans, pieces sliced by the global
      // [gs, ge) span and reassembled in offset order (DuckDB list slicing
      // is 1-based inclusive: [gs-start+1 : ge-start])
      sql(raw"""WITH t AS (SELECT doc_id,
            |    regexp_split_to_array(trim(lower(text)), '\s+') AS ws,
            |    len(trim(text)) AS nz FROM documents),
            |n AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n FROM t WHERE nz > 0),
            |p AS (SELECT doc_id, ws, n,
            |    CAST(COALESCE(sum(n) OVER (ORDER BY doc_id
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
            |  FROM n),
            |e AS (SELECT ws, n, start,
            |    UNNEST(range(start // 64, (start + n - 1) // 64 + 1)) AS seq
            |  FROM p),
            |$packGatherTail""".stripMargin)),

    // END-TO-END TRAINING LAYOUT (r16): the full curation→layout chain a
    // real pre-training pipeline runs, composed from the r14/r15 pieces —
    // Gopher repetition filter → Bloom-prefiltered decontamination
    // (benchmark = every 20th doc) → ≤40-docs-per-lang cap → deterministic
    // epoch shuffle → 6-token/stride-4 chunks keyed by shuffle position →
    // 64-token packed training rows. Every stage is the already-green
    // operator with its production knobs; the oracle replays the chain in
    // SQL CTE by CTE. PlanQualitySpec pins the shuffle budget.
    Query("q_train_layout", (s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "lang", "text")
      val quality = graft.text.QualityFilters.gopherRepetitionFilter(
        d, "text", maxDupWordFrac = 0.60, maxTopBigramCharFrac = 0.15,
        maxTopTrigramCharFrac = 0.15, maxDupFivegramCharFrac = 0.15)
      val bench = d.where(col("doc_id") % 20 === 0).select("doc_id", "text")
      val clean = graft.text.Decontaminate
        .flagContaminatedBloom(quality, bench, "text", "doc_id", n = 6)
        .where(!col("contaminated")).drop("contaminated")
      val capped = graft.ops.Sampling.capPerGroup(clean, "lang", "doc_id",
        k = 40)
      val shuffled = graft.ops.Sampling.shufflePositions(
        capped.select("doc_id", "text"), "doc_id")
      // chunk in SHUFFLED order: the epoch permutation, not doc_id, is
      // the packing order — chunk_key = pos·1e6 + chunk_id tiles it
      val chunks = graft.text.Chunker.chunk(shuffled, "shuffle_pos",
          "text", chunkTokens = 6, overlapTokens = 2)
        .select((col("shuffle_pos") * 1000000L + col("chunk_id"))
          .as("chunk_key"),
          split(col("chunk_text"), " ").as("toks"))
      graft.plans.SequencePacking.gather(chunks, "chunk_key", "toks",
        window = 64).orderBy("seq_id")
    },
      // the full training-layout chain replayed CTE by CTE: the
      // q_quality_filter CTEs (kept ids) → the q_decontaminate_filter
      // CTEs over the kept corpus → per-lang md5-rank cap (40) →
      // md5-order epoch positions → the q_chunk_docs chunk CTE keyed by
      // position → the q_pack_gather prefix-sum/slice/regroup at window 64
      sql(raw"""WITH $repetitionCtes,
            |qk AS (SELECT b.doc_id
            |  FROM base b
            |  LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id) LEFT JOIN a5 USING (doc_id)
            |  WHERE (CASE WHEN b.nw = 0 THEN 0.0 ELSE 1.0 - b.nd / CAST(b.nw AS DOUBLE) END) <= CAST(0.60 AS DOUBLE)
            |    AND (CASE WHEN COALESCE(b.tc, 0) = 0 THEN 0.0 ELSE COALESCE(a2.cover, 0) / b.tc END) <= CAST(0.15 AS DOUBLE)
            |    AND (CASE WHEN COALESCE(b.tc, 0) = 0 THEN 0.0 ELSE COALESCE(a3.cover, 0) / b.tc END) <= CAST(0.15 AS DOUBLE)
            |    AND (CASE WHEN COALESCE(b.tc, 0) = 0 THEN 0.0 ELSE COALESCE(a5.cover, 0) / b.tc END) <= CAST(0.15 AS DOUBLE)),
            |corpus AS (SELECT d.doc_id, d.lang, d.text FROM documents d JOIN qk USING (doc_id)),
            |bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0),
            |$ngramHitCtes,
            |clean AS (SELECT c.doc_id, c.lang, c.text
            |  FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
            |  WHERE h.doc_id IS NULL),
            |capped AS (SELECT doc_id, text FROM (
            |    SELECT doc_id, text, row_number() OVER (PARTITION BY lang
            |      ORDER BY md5('graft:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
            |    FROM clean)
            |  WHERE rn <= 40),
            |shuf AS (SELECT text,
            |    CAST(row_number() OVER (ORDER BY
            |      md5('graft:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
            |      AS BIGINT) AS pos
            |  FROM capped),
            |t AS (SELECT pos,
            |    regexp_split_to_array(trim(lower(text)), '\s+') AS ws,
            |    len(trim(text)) AS nz FROM shuf),
            |c AS (SELECT pos, ws, UNNEST(range(0, len(ws), 4)) AS start
            |      FROM t WHERE nz > 0),
            |ch AS (SELECT CAST(pos * 1000000 + start // 4 AS BIGINT) AS chunk_key,
            |    ws[start + 1 : start + 6] AS cts,
            |    CAST(LEAST(6, len(ws) - start) AS BIGINT) AS n FROM c),
            |p AS (SELECT chunk_key, cts, n,
            |    CAST(COALESCE(sum(n) OVER (ORDER BY chunk_key
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
            |  FROM ch),
            |e AS (SELECT cts AS ws, n, start,
            |    UNNEST(range(start // 64, (start + n - 1) // 64 + 1)) AS seq
            |  FROM p),
            |$packGatherTail""".stripMargin))
  )
}
