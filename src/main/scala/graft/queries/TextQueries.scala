package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.text.TextAnalysis
import QuerySupport._

/** LLM-corpus text analysis and quality curation (SURVEY.md §7.6):
  * statistics, quality scores and filters, PII redaction,
  * decontamination, boilerplate removal, language id and keyword
  * extraction. */
object TextQueries {

  /** DuckDB list literal of a string seq. */
  private def sqlList(xs: Seq[String]): String =
    xs.map(sqlString).mkString("[", ", ", "]")

  /** Shared CTE chain producing `q(doc_id, lang, stopword_ratio, quality)`
    * — the TextAnalysis.qualityScore twin, factored so the score query
    * and the per-group top-k curation query rank the identical value. */
  private def qualityCtesSql: String = {
    val stop = sqlList(graft.text.TextAnalysis.StopEn)
    s"""WITH t AS (SELECT doc_id, lang, text, $tokCountSql AS n_tokens,
       |  $distinctToksSql AS toks FROM documents),
       |r AS (SELECT doc_id, lang, n_tokens,
       |  CASE WHEN len(toks) > 0 THEN CAST(len(list_intersect(toks, $stop)) AS DOUBLE) / len(toks) END AS stop_ratio,
       |  CASE WHEN len(text) > 0 THEN CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / len(text) END AS alpha,
       |  CASE WHEN len(text) > 0 THEN CAST(len(text) - len(translate(text, $punctSql, '')) AS DOUBLE) / len(text) END AS punct
       |  FROM t),
       |q AS (SELECT doc_id, lang, round(stop_ratio, 6) AS stopword_ratio,
       | round(least(1.0, CAST(n_tokens AS DOUBLE) / 50.0) * 0.25
       |   + COALESCE(alpha, 0.0) * 0.35
       |   + least(1.0, COALESCE(stop_ratio, 0.0) * 4.0) * 0.25
       |   + (1.0 - least(1.0, COALESCE(punct, 0.0) * 4.0)) * 0.15, 6) AS quality
       | FROM r)""".stripMargin
  }

  private val distinctToksSql =
    "CASE WHEN len(trim(text)) = 0 THEN [] ELSE " +
      "list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')) END"

  /** Shared plant for q_substring_dedup (17 tokens, all lowercase so the
    * normalized gram content is byte-identical in both engines). */
  private val boilerplatePassage = "privacy policy terms of service " +
    "cookie settings copyright notice all rights reserved contact us " +
    "about careers press"

  /** The decontamination input — `bench` (every 20th doc) and `corpus`
    * (the rest plus first-word-dropped copies of the benchmark) — and
    * its 6-gram `hits` (doc_id). */
  private lazy val decontaminateCtes: String =
    raw"""WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0),
      |corpus AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, regexp_replace(text, '^\S+\s+', '') AS text FROM bench
      |),
      |$ngramHitCtes""".stripMargin

  /** Spark twin of the `bench`/`corpus` CTEs in [[decontaminateCtes]]:
    * (corpus, bench). */
  private def decontaminationInput(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val d = tbl(s, dir, "documents").select("doc_id", "text")
    val bench = d.where(col("doc_id") % 20 === 0)
    val planted = bench.select((col("doc_id") + 100000).as("doc_id"),
      regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
    (d.where(col("doc_id") % 20 =!= 0).unionAll(planted), bench)
  }

  /** Shared by q_decontaminate and q_decontaminate_bloom — the bloom
    * variant's results are bit-identical by contract (prefilter + exact
    * verify), so both hash against the same ground truth. */
  private lazy val decontaminateFlagSql: String =
    s"""$decontaminateCtes
      |SELECT c.doc_id, h.doc_id IS NOT NULL AS contaminated
      |FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
      |ORDER BY c.doc_id""".stripMargin

  /** BigramLm twin: fit on the even docs, add-0.5 smoothed bits per
    * bigram of every doc. Ends at `scored` (doc_id, bits) beside `w`
    * (doc_id, ws). */
  private lazy val bigramLmCtes: String =
    raw"""w AS (SELECT doc_id, ${wordsSql("lower(trim(text))")} AS ws FROM documents),
      |ref AS (SELECT * FROM w WHERE doc_id % 2 = 0),
      |uni AS (SELECT w1, count(*) AS c_uni FROM (SELECT unnest(ws) AS w1 FROM ref) GROUP BY w1),
      |vocab AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
      |refbi AS (SELECT ws[i] AS w1, ws[i+1] AS w2
      |          FROM (SELECT ws, unnest(generate_series(1, CAST(len(ws)-1 AS BIGINT))) AS i FROM ref)),
      |bi AS (SELECT w1, w2, count(*) AS c_bi FROM refbi GROUP BY w1, w2),
      |docbi AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
      |          FROM (SELECT doc_id, ws, unnest(generate_series(1, CAST(len(ws)-1 AS BIGINT))) AS i FROM w)),
      |scored AS (
      |  SELECT d.doc_id,
      |    -log2( (COALESCE(b.c_bi, 0) + 0.5) / (COALESCE(u.c_uni, 0) + 0.5 * (SELECT v FROM vocab)) ) AS bits
      |  FROM docbi d
      |  LEFT JOIN bi b ON d.w1 = b.w1 AND d.w2 = b.w2
      |  LEFT JOIN uni u ON d.w1 = u.w1
      |)""".stripMargin

  val all: Seq[Query] = Seq(

    // text analysis: token/char counts + ratios
    // r21: the doc-kernel projection queries below sort their UNIQUE raw
    // key first and project the kernels above the Sort — same rows, same
    // order, kernel evaluated once instead of 2-3× (see the note on
    // QuerySupport.dirtyCustomer).
    Query("q_text_stats", (s, dir) => {
      val t = col("text")
      tbl(s, dir, "documents").orderBy("doc_id").select(col("doc_id"),
        TextAnalysis.charCount(t).as("n_chars"),
        TextAnalysis.tokenCount(t).as("n_tokens"),
        TextAnalysis.bpeTokenCount(t).as("n_bpe_tokens"),
        round(TextAnalysis.avgTokenLen(t), 6).as("avg_token_len"),
        round(TextAnalysis.alphaRatio(t), 6).as("alpha_ratio"),
        round(TextAnalysis.punctRatio(t), 6).as("punct_ratio"))
    },
      sql(s"""WITH t AS (SELECT doc_id, text, $tokCountSql AS n_tokens FROM documents)
             |SELECT doc_id,
             | CAST(len(text) AS BIGINT) AS n_chars,
             | n_tokens,
             | CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS n_bpe_tokens,
             | CASE WHEN n_tokens > 0 THEN round(CAST(len(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE) / n_tokens, 6) END AS avg_token_len,
             | CASE WHEN len(text) > 0 THEN round(CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / len(text), 6) END AS alpha_ratio,
             | CASE WHEN len(text) > 0 THEN round(CAST(len(text) - len(translate(text, $punctSql, '')) AS DOUBLE) / len(text), 6) END AS punct_ratio
             |FROM t ORDER BY doc_id""".stripMargin)),

    // text quality scoring
    Query("q_text_quality", (s, dir) => {
      val t = col("text")
      tbl(s, dir, "documents").orderBy("doc_id").select(col("doc_id"),
        round(TextAnalysis.stopwordRatio(t), 6).as("stopword_ratio"),
        round(TextAnalysis.qualityScore(t), 6).as("quality"))
    },
      sql(s"""$qualityCtesSql
             |SELECT doc_id, stopword_ratio, quality FROM q
             |ORDER BY doc_id""".stripMargin)),

    // per-group quality curation: the 5 best docs per language by the
    // heuristic quality score. Ranks on the ROUNDED score so both
    // engines rank the identical value (ulp-near scores become exact
    // ties, resolved by doc_id).
    Query("q_quality_topk", (s, dir) => {
      val scored = tbl(s, dir, "documents").select(col("doc_id"),
        col("lang"),
        round(TextAnalysis.qualityScore(col("text")), 6).as("quality"))
      graft.ops.Sampling.topKPerGroup(scored, "lang", "quality",
          "doc_id", 5)
        .select(col("doc_id"), col("lang"), col("quality"),
          col("rk").cast(LongType).as("rk"))
        .orderBy("lang", "rk")
    },
      // per-group quality curation: rank rides on the ROUNDED score (the
      // same 6-dp value both engines emit), so near-ties are exact ties
      // and doc_id resolves them identically on both sides
      sql(s"""$qualityCtesSql,
             |k AS (SELECT doc_id, lang, quality, row_number() OVER
             |        (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rk
             |      FROM q)
             |SELECT doc_id, lang, quality, CAST(rk AS BIGINT) AS rk
             |FROM k WHERE rk <= 5 ORDER BY lang, rk""".stripMargin)),

    // Gopher-style repetition quality signals (word n-gram family)
    Query("q_quality_repetition", (s, dir) =>
      graft.text.QualityFilters.repetitionSignals(
        tbl(s, dir, "documents").orderBy("doc_id"), "text", "doc_id"),
      // same tokenization as QualityFilters (lower, trim, split on \s+,
      // drop empties); "cover" = occurrences x word-chars of the gram
      sql(raw"""WITH $repetitionCtes
            |SELECT b.doc_id, CAST(b.nw AS BIGINT) AS n_words,
            |  CASE WHEN b.nw = 0 THEN 0.0
            |       ELSE round(1.0 - b.nd / CAST(b.nw AS DOUBLE), 6) END AS dup_word_frac,
            |  CASE WHEN COALESCE(b.tc, 0) = 0 THEN 0.0
            |       ELSE round(COALESCE(a2.cover, 0) / b.tc, 6) END AS top_bigram_char_frac,
            |  CASE WHEN COALESCE(b.tc, 0) = 0 THEN 0.0
            |       ELSE round(COALESCE(a3.cover, 0) / b.tc, 6) END AS top_trigram_char_frac,
            |  CASE WHEN COALESCE(b.tc, 0) = 0 THEN 0.0
            |       ELSE round(COALESCE(a5.cover, 0) / b.tc, 6) END AS dup_fivegram_char_frac
            |FROM base b
            |LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id) LEFT JOIN a5 USING (doc_id)
            |ORDER BY doc_id""".stripMargin)),

    // the FILTER form of the repetition signals — the thresholded
    // keep/drop an ingest pipeline actually runs (r10 verdict ask #3:
    // a wrong-direction comparison would pass the signal-only oracle).
    // Thresholds sit INSIDE this corpus's signal distributions (word
    // dup median ~0.54, bigram-frac p95 ~0.19) so both keep and drop
    // sides are populated; the operator's defaults stay the Gopher
    // values.
    Query("q_quality_filter", (s, dir) =>
      // presorted input: the deterministic keep-filter pushes below the
      // Sort (fewer rows sorted), the kernel is evaluated once at the scan
      graft.text.QualityFilters.gopherRepetitionFilter(
          tbl(s, dir, "documents").orderBy("doc_id"), "text",
          maxDupWordFrac = 0.60, maxTopBigramCharFrac = 0.15,
          maxTopTrigramCharFrac = 0.15, maxDupFivegramCharFrac = 0.15)
        .select("doc_id"),
      // same CTEs as q_quality_repetition but thresholded on the UNROUNDED
      // fractions (the Spark filter compares raw kernel values) — the
      // keep/drop direction is what this row pins
      sql(raw"""WITH $repetitionCtes
            |SELECT b.doc_id
            |FROM base b
            |LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id) LEFT JOIN a5 USING (doc_id)
            |WHERE (CASE WHEN b.nw = 0 THEN 0.0 ELSE 1.0 - b.nd / CAST(b.nw AS DOUBLE) END) <= CAST(0.60 AS DOUBLE)
            |  AND (CASE WHEN COALESCE(b.tc, 0) = 0 THEN 0.0 ELSE COALESCE(a2.cover, 0) / b.tc END) <= CAST(0.15 AS DOUBLE)
            |  AND (CASE WHEN COALESCE(b.tc, 0) = 0 THEN 0.0 ELSE COALESCE(a3.cover, 0) / b.tc END) <= CAST(0.15 AS DOUBLE)
            |  AND (CASE WHEN COALESCE(b.tc, 0) = 0 THEN 0.0 ELSE COALESCE(a5.cover, 0) / b.tc END) <= CAST(0.15 AS DOUBLE)
            |ORDER BY doc_id""".stripMargin)),

    // bigram-LM quality score: fit on even docs, score all (held-out odd
    // docs exercise the unseen-bigram smoothing path)
    Query("q_lm_score", (s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val fit = graft.text.BigramLm.fit(d.where(col("doc_id") % 2 === 0), "text")
      graft.text.BigramLm.scoreBits(d, fit, "text", "doc_id").orderBy("doc_id")
    },
      // same tokenization + add-0.5 smoothing formula; float compare is
      // atol-based so cross-engine summation-order drift is tolerated
      sql(raw"""WITH $bigramLmCtes,
            |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
            |        round(avg(bits), 6) AS bits_per_bigram FROM scored GROUP BY doc_id)
            |SELECT w.doc_id, COALESCE(a.n_bigrams, 0) AS n_bigrams, a.bits_per_bigram
            |FROM w LEFT JOIN agg a ON w.doc_id = a.doc_id
            |ORDER BY w.doc_id""".stripMargin)),

    // the FILTER form of the LM score: keep docs at or under the bits
    // threshold (same fit as q_lm_score; sub-2-word docs drop — no
    // evidence of fluency). The corpus scores span ~[4.70, 5.23] bits,
    // so 4.95 splits it near the median — both sides populated.
    Query("q_lm_filter", (s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val fit = graft.text.BigramLm.fit(d.where(col("doc_id") % 2 === 0), "text")
      graft.text.BigramLm.filterByBits(d, fit, "text", "doc_id", maxBits = 4.95)
        .select("doc_id").orderBy("doc_id")
    },
      // q_lm_score's CTEs thresholded on the rounded score (both engines
      // compare the round-6 value, so the boundary is the same grid point);
      // docs with no bigrams have NULL score and drop on both sides
      sql(raw"""WITH $bigramLmCtes,
            |agg AS (SELECT doc_id, round(avg(bits), 6) AS bits_per_bigram
            |        FROM scored GROUP BY doc_id)
            |SELECT doc_id FROM agg
            |WHERE bits_per_bigram <= CAST(4.95 AS DOUBLE)
            |ORDER BY doc_id""".stripMargin)),

    // PII redaction: plant emails / IPs / phone-shaped runs, replace with
    // placeholder tokens
    Query("q_redact_pii", (s, dir) => {
      val planted = when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact alice.smith+spam@example.co.uk now")))
        .when(col("doc_id") % 7 === 1,
          concat(lit("server 192.168.101.2 said: "), col("text")))
        .when(col("doc_id") % 7 === 2,
          concat(col("text"), lit(" call +14155550173 today")))
        .otherwise(col("text"))
      tbl(s, dir, "documents").orderBy("doc_id").select(col("doc_id"),
        graft.text.Redact.redactPii(planted).as("text"))
    },
      // identical RE2-subset patterns on both sides; DuckDB needs the 'g'
      // flag (Spark's regexp_replace is global by default)
      sql(s"""SELECT doc_id,
            | regexp_replace(regexp_replace(regexp_replace(
            |   CASE WHEN doc_id % 7 = 0 THEN text || ' contact alice.smith+spam@example.co.uk now'
            |        WHEN doc_id % 7 = 1 THEN 'server 192.168.101.2 said: ' || text
            |        WHEN doc_id % 7 = 2 THEN text || ' call +14155550173 today'
            |        ELSE text END,
            |   '${graft.text.Redact.EmailRe}', '[EMAIL]', 'g'),
            |   '${graft.text.Redact.Ipv4Re}', '[IP]', 'g'),
            |   '${graft.text.Redact.PhoneRe}', '[PHONE]', 'g') AS text
            |FROM documents ORDER BY doc_id""".stripMargin)),

    // test-set decontamination: every 20th doc is the "benchmark"; the
    // corpus is the rest plus planted near-copies (first word dropped)
    // of the benchmark — those must flag, n=6 on ~50-word docs
    Query("q_decontaminate", (s, dir) => {
      val (corpus, bench) = decontaminationInput(s, dir)
      graft.text.Decontaminate
        .flagContaminated(corpus, bench, "text", "doc_id", n = 6)
        .select("doc_id", "contaminated").orderBy("doc_id")
    },
      // joins on the literal gram string where Spark joins on its xxhash64
      // — equal results barring a ~2^-64 hash collision (which would flag a
      // clean doc, the safe direction)
      sql(decontaminateFlagSql)),

    // the 100 TB path (r15): a broadcast Bloom filter over the benchmark
    // grams prunes the corpus gram stream SCAN-SIDE before the exact
    // verify semi-join sees it — bit-identical flags, shuffle volume
    // down to true hits + fpp stragglers
    Query("q_decontaminate_bloom", (s, dir) => {
      val (corpus, bench) = decontaminationInput(s, dir)
      graft.text.Decontaminate
        .flagContaminatedBloom(corpus, bench, "text", "doc_id", n = 6)
        .select("doc_id", "contaminated").orderBy("doc_id")
    },
      // bit-identical contract: the bloom path only PRUNES before the
      // exact verify join, so its oracle IS the exact path's SQL
      sql(decontaminateFlagSql)),

    // the FILTER form of decontamination: the kept corpus (planted
    // near-copies and any organically overlapping docs removed)
    Query("q_decontaminate_filter", (s, dir) => {
      val (corpus, bench) = decontaminationInput(s, dir)
      graft.text.Decontaminate
        .removeContaminated(corpus, bench, "text", "doc_id", n = 6)
        .select("doc_id").orderBy("doc_id")
    },
      // q_decontaminate's CTEs, keep side only (anti-join on the hit set)
      sql(s"""$decontaminateCtes
            |SELECT c.doc_id
            |FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
            |WHERE h.doc_id IS NULL
            |ORDER BY c.doc_id""".stripMargin)),

    // CCNet-style boilerplate line removal: plant a shared footer on 2/3
    // of docs and a shared header on 1/3; lines in >=100 distinct docs
    // are stripped, the docs' own (unique) text lines survive intact
    Query("q_line_dedup", (s, dir) => {
      val planted = tbl(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(lit("subscribe to our newsletter\n"), col("text"),
            lit("\nall rights reserved")))
          .when(col("doc_id") % 3 === 1,
            concat(col("text"), lit("\nall rights reserved")))
          .otherwise(col("text")).as("text"))
      graft.text.LineDedup.dropBoilerplate(planted, "text", "doc_id",
          minDocFreq = 100)
        .orderBy("doc_id")
    },
      // same plant, line split on chr(10), doc-frequency threshold, ordered
      // string_agg reassembly; docs losing every line come back as ''
      sql("""WITH p AS (SELECT doc_id,
            |  CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter' || chr(10) || text || chr(10) || 'all rights reserved'
            |       WHEN doc_id % 3 = 1 THEN text || chr(10) || 'all rights reserved'
            |       ELSE text END AS text FROM documents),
            |l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM p),
            |l AS (SELECT doc_id, ls, unnest(generate_series(1, CAST(len(ls) AS BIGINT))) AS i FROM l0),
            |lx AS (SELECT doc_id, i, ls[i] AS line FROM l),
            |bp AS (SELECT line FROM lx WHERE trim(line) <> ''
            |       GROUP BY line HAVING count(DISTINCT doc_id) >= 100),
            |kept AS (SELECT doc_id, i, line FROM lx
            |         WHERE line NOT IN (SELECT line FROM bp)),
            |re AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS text
            |       FROM kept GROUP BY doc_id)
            |SELECT p.doc_id, COALESCE(re.text, '') AS text
            |FROM p LEFT JOIN re ON p.doc_id = re.doc_id
            |ORDER BY p.doc_id""".stripMargin)),

    // Lee-et-al exact duplicated-PASSAGE removal: plant a shared 17-token
    // boilerplate passage (appended on 1/4 of docs, prepended on another
    // 1/4); every 8-gram inside it is corpus-duplicated, so the passage
    // tokens vanish while each doc's own text survives (plus any natural
    // >=8-token repeats, which both engines find identically)
    Query("q_substring_dedup", (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
            concat_ws(" ", col("text"), lit(boilerplatePassage)))
          .when(col("doc_id") % 4 === 1,
            concat_ws(" ", lit(boilerplatePassage), col("text")))
          .otherwise(col("text")).as("text"))
      graft.text.PassageDedup
        .removeDuplicatePassages(d, "text", "doc_id", l = 8)
        .orderBy("doc_id")
    },
      // Lee-et-al exact substring dedup ground truth: same plant, explode
      // every 8-token window of the normalized text, grams occurring >= 2
      // times corpus-wide mark their covered token positions, survivors
      // reassemble in order; fully-duplicated docs come back '' (never a
      // dropped row). Spark groups by xxhash64(gram), this groups by the
      // gram string itself — equivalent modulo 2^-64 hash collisions.
      sql(s"""WITH p AS (SELECT doc_id,
             |  CASE WHEN doc_id % 4 = 0 THEN text || ' ' || '$boilerplatePassage'
             |       WHEN doc_id % 4 = 1 THEN '$boilerplatePassage' || ' ' || text
             |       ELSE text END AS text FROM documents),
             |toks AS (SELECT doc_id, string_split($normTextSql, ' ') AS t FROM p),
             |wins AS (SELECT doc_id, unnest(range(0, len(t) - 7)) AS pos, t
             |         FROM toks WHERE len(t) >= 8),
             |wg AS (SELECT doc_id, pos,
             |         array_to_string(list_slice(t, pos + 1, pos + 8), ' ') AS g
             |       FROM wins),
             |dup AS (SELECT doc_id, pos FROM wg WHERE g IN (
             |          SELECT g FROM wg GROUP BY g HAVING count(*) >= 2)),
             |cov AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS cp
             |        FROM dup),
             |tokpos AS (SELECT doc_id, unnest(t) AS tok,
             |             unnest(range(0, CAST(len(t) AS BIGINT))) AS tp
             |           FROM toks),
             |kept AS (SELECT a.doc_id, a.tp, a.tok FROM tokpos a
             |         LEFT JOIN cov c ON a.doc_id = c.doc_id AND a.tp = c.cp
             |         WHERE c.cp IS NULL),
             |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tp) AS text,
             |          count(*) AS n_kept FROM kept GROUP BY doc_id),
             |base AS (SELECT doc_id, len(t) AS n_tok FROM toks)
             |SELECT b.doc_id, COALESCE(a.text, '') AS text,
             |  CAST(b.n_tok - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed
             |FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
             |ORDER BY b.doc_id""".stripMargin)),

    // language identification (function-word vote + CJK share)
    Query("q_lang_id", (s, dir) =>
      tbl(s, dir, "documents").orderBy("doc_id")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.langId(col("text")).as("pred_lang")),
      sql {
        import graft.text.TextAnalysis._
        s"""WITH t AS (SELECT doc_id, lang, text, $distinctToksSql AS toks FROM documents),
           |s AS (SELECT doc_id, lang,
           |  CASE WHEN len(text) > 0 THEN CAST(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS DOUBLE) / len(text) ELSE 0.0 END AS cjk,
           |  len(list_intersect(toks, ${sqlList(StopDe)})) AS s_de,
           |  len(list_intersect(toks, ${sqlList(StopEn)})) AS s_en,
           |  len(list_intersect(toks, ${sqlList(StopEs)})) AS s_es,
           |  len(list_intersect(toks, ${sqlList(StopFr)})) AS s_fr
           |  FROM t)
           |SELECT doc_id, lang,
           | CASE WHEN cjk > 0.3 THEN 'zh'
           |      WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
           |      WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
           |      WHEN s_es >= s_fr THEN 'es'
           |      ELSE 'fr' END AS pred_lang
           |FROM s ORDER BY doc_id""".stripMargin
      }),

    // language distribution (group-by aggregation surface)
    Query("q_lang_dist", (s, dir) =>
      tbl(s, dir, "documents").groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 6).as("avg_chars"))
        .orderBy("lang"),
      sql("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
            | round(avg(n_chars), 6) AS avg_chars
            |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // content fingerprint (normalization-robust exact-dup key)
    Query("q_fingerprint", (s, dir) =>
      tbl(s, dir, "documents").orderBy("doc_id").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp")),
      sql(s"""SELECT doc_id, md5($normTextSql) AS fp
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // TF-IDF keyword extraction: top-5 terms per document. Integer-only
    // inputs to the score (tf, df, N) keep the ranking bit-identical
    // across engines; ties break on term order.
    Query("q_tfidf_topk", (s, dir) =>
      graft.text.Keywords.tfidfTopK(tbl(s, dir, "documents"),
          "doc_id", "text", k = 5)
        .select(col("doc_id"), col("rk").cast(LongType).as("rk"),
          col("term"), col("tf"), col("df"),
          round(col("tfidf"), 6).as("tfidf"))
        .orderBy("doc_id", "rk"),
      sql(raw"""WITH w AS (SELECT doc_id, unnest(${wordsSql("trim(lower(text))")}) AS term
            |  FROM documents),
            |t AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM w GROUP BY 1, 2),
            |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM t GROUP BY 1),
            |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
            |s AS (SELECT t.doc_id, t.term, t.tf, d.df,
            |        CAST(t.tf AS DOUBLE) * ln(n.n / CAST(d.df AS DOUBLE)) AS tfidf
            |      FROM t JOIN d USING (term) CROSS JOIN n),
            |r AS (SELECT *, row_number() OVER
            |        (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk FROM s)
            |SELECT doc_id, CAST(rk AS BIGINT) AS rk, term, tf, df,
            |  round(tfidf, 6) AS tfidf
            |FROM r WHERE rk <= 5 ORDER BY doc_id, rk""".stripMargin)),

    // Okapi BM25 relevance of every doc against a fixed topic term list
    // (the crawl-vs-topic filter). Ordered by doc_id, never by score:
    // the per-doc term-sum is the one place engines may differ at an
    // ulp, and round(6) absorbs that only if ordering doesn't ride on it
    Query("q_bm25", (s, dir) =>
      graft.text.Keywords.bm25(tbl(s, dir, "documents"),
          "doc_id", "text", Seq("join", "merge", "vector"))
        .orderBy("doc_id"),
      // same expression shape as Keywords.bm25 (k1=1.2, b=0.75, Lucene
      // idf); dl/avgdl are exact-integer sums so the only cross-engine
      // drift channel is the per-doc term sum, absorbed by round(6)
      sql(raw"""WITH w AS (SELECT doc_id, ${wordsSql("trim(lower(text))")} AS ws
            |  FROM documents),
            |l AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl FROM w),
            |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
            |ad AS (SELECT avg(dl) AS avgdl FROM l),
            |t AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
            |      FROM (SELECT doc_id, unnest(ws) AS term FROM w)
            |      WHERE term IN ('join', 'merge', 'vector') GROUP BY 1, 2),
            |d AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM t GROUP BY 1),
            |s AS (SELECT t.doc_id,
            |        ln(1.0 + (n.n - d.df + 0.5) / (d.df + 0.5)) * t.tf * (1.2 + 1) /
            |          (t.tf + 1.2 * ((1 - 0.75) + 0.75 * l2.dl / ad.avgdl)) AS s
            |      FROM t JOIN d USING (term) JOIN l l2 USING (doc_id)
            |        CROSS JOIN n CROSS JOIN ad)
            |SELECT l.doc_id, CAST(l.dl AS BIGINT) AS dl,
            |  round(coalesce(sc.score, 0.0), 6) AS score
            |FROM l LEFT JOIN (SELECT doc_id, sum(s) AS score FROM s GROUP BY 1) sc
            |  USING (doc_id)
            |ORDER BY l.doc_id""".stripMargin)),

    // PMI bigram collocations (r17): phrase mining / the association
    // statistic of tokenizer-merge induction. minCount 2 keeps the
    // sf0.01 result set non-trivial while dropping hapax-pair noise.
    Query("q_collocations", (s, dir) =>
      graft.text.Collocations.pmiTopK(
        tbl(s, dir, "documents"), "text", minCount = 2L, k = 100),
      // PMI over adjacent-word bigrams: exact integer counts, the two
      // corpus totals exact-integer-valued doubles, one ln rounded to 6 dp
      // with (w1, w2) tie-break — operand order mirrors the Spark column
      // expression term by term.
      sql(raw"""WITH d AS (SELECT ${wordsSql("trim(lower(text))")} AS ws
            |  FROM documents),
            |uni AS (SELECT w, count(*) AS cu FROM (SELECT unnest(ws) AS w FROM d) GROUP BY w),
            |nu AS (SELECT CAST(sum(cu) AS DOUBLE) AS n FROM uni),
            |nb AS (SELECT CAST(sum(CASE WHEN len(ws) >= 1 THEN len(ws) - 1 ELSE 0 END) AS DOUBLE) AS n FROM d),
            |bi AS (SELECT ws[i] AS w1, ws[i + 1] AS w2
            |  FROM (SELECT ws, unnest(generate_series(1, CAST(len(ws) - 1 AS BIGINT))) AS i FROM d)),
            |bc AS (SELECT w1, w2, count(*) AS np FROM bi GROUP BY w1, w2 HAVING count(*) >= 2),
            |s AS (SELECT bc.w1, bc.w2, bc.np,
            |  round(ln(CAST(bc.np AS DOUBLE) * nu.n * nu.n
            |    / (nb.n * CAST(u1.cu AS DOUBLE) * CAST(u2.cu AS DOUBLE))), 6) AS pmi
            |  FROM bc JOIN uni u1 ON bc.w1 = u1.w JOIN uni u2 ON bc.w2 = u2.w
            |  CROSS JOIN nu CROSS JOIN nb)
            |SELECT w1, w2, CAST(np AS BIGINT) AS n_pair, pmi FROM s
            |ORDER BY pmi DESC, w1, w2 LIMIT 100""".stripMargin)),

    // inverted-index materialization (r17): adjacent-word PHRASE terms
    // (the synthetic corpus has a ~31-word vocabulary where every
    // single word is a stopword by df — phrases are the granularity
    // with discriminating df) with a FRACTIONAL df window [1%, 5%] —
    // the scale guard (a stopword phrase's postings are the corpus; it
    // is dropped at the COUNT stage, before any list is assembled, and
    // the fraction keeps the same call meaningful at every sf).
    // The engine API keeps postings as array<bigint>
    // (InvertedIndex.phrasePostings); the REGISTERED query projects
    // to_json(postings) because the driver's comparator pandas-sorts
    // raw columns and cannot hash array cells — this was r18's
    // green→err regression. to_json of a sorted bigint array renders
    // byte-identically on Spark and DuckDB ("[1,2,3]", no spaces).
    Query("q_inverted_index", (s, dir) =>
      graft.text.InvertedIndex.phrasePostings(
        tbl(s, dir, "documents"), "doc_id", "text",
        minDfFrac = 0.01, maxDfFrac = 0.05)
        .select(col("term"), col("df"),
          to_json(col("postings")).as("postings"))
        .orderBy("term"),
      // inverted index: within-doc-distinct (doc, phrase) pairs, df
      // window as the IDENTICAL double products (0.01·N / 0.05·N) the
      // Spark side computes; postings stay a sorted BIGINT list in the
      // engine and ship as to_json at the query boundary (r18's
      // green→err regression: the driver's comparator cannot hash array
      // cells; "[1,2,3]" renders byte-identically on both engines).
      sql(raw"""WITH d AS (SELECT doc_id, ${wordsSql("trim(lower(text))")} AS ws
            |  FROM documents),
            |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
            |p AS (SELECT DISTINCT doc_id, term FROM
            |  (SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS term
            |   FROM (SELECT doc_id, ws, unnest(generate_series(1, CAST(len(ws) - 1 AS BIGINT))) AS i FROM d))),
            |f AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY term),
            |w AS (SELECT f.term, f.df FROM f CROSS JOIN n
            |      WHERE CAST(f.df AS DOUBLE) >= 0.01 * n.n
            |        AND CAST(f.df AS DOUBLE) <= 0.05 * n.n)
            |SELECT w.term, w.df,
            |  CAST(to_json(list_sort(list(p.doc_id))) AS VARCHAR) AS postings
            |FROM w JOIN p USING (term)
            |GROUP BY w.term, w.df ORDER BY term""".stripMargin)),

    // exact heavy hitters via Misra–Gries sketch → exact recount
    // (r17): candidates from ONE bounded-memory custom aggregate (the
    // vocabulary never shuffles — O(partitions·k) summary bytes move),
    // then a broadcast semi-join recount makes the output exact and
    // partitioning-independent, which is why a plain exact-count SQL
    // oracle can replay it.
    Query("q_heavy_hitters", (s, dir) =>
      graft.text.HeavyHitterTerms.frequentTerms(
        tbl(s, dir, "documents"), "text", minFrac = 0.033)
        .orderBy("term"),
      // heavy hitters: the sketch is recall-guaranteed and the recount
      // exact, so the ground truth is the plain exact count with the
      // IDENTICAL 0.033·N double threshold
      sql(raw"""WITH w AS (SELECT unnest(${wordsSql("trim(lower(text))")}) AS term
            |  FROM documents),
            |t AS (SELECT term, CAST(count(*) AS BIGINT) AS n_occurrences FROM w GROUP BY term),
            |n AS (SELECT CAST(sum(n_occurrences) AS DOUBLE) AS n FROM t)
            |SELECT term, n_occurrences FROM t CROSS JOIN n
            |WHERE CAST(n_occurrences AS DOUBLE) >= 0.033 * n.n
            |ORDER BY term""".stripMargin))
  )
}
