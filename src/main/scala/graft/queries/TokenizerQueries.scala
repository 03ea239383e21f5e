package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis
import QuerySupport._

/** Subword tokenizer accounting: BPE rank replay, greedy longest-match
  * (WordPiece) and unigram-LM Viterbi over the same learned vocabulary. */
object TokenizerQueries {

  /** The shared BPE-oracle CTE block (q_bpe_* family). Replays
    * [[graft.text.Bpe.DemoMerges]] rank by rank over DISTINCT words:
    * each word is encoded as bracketed units `\x01tok\x02` so ONE
    * left-to-right non-overlapping `replace` per rank is exactly the
    * greedy merge pass [[graft.functions.BpeKernels.mergePass]] runs —
    * units are self-delimited, so a replacement never consumes the
    * boundary of the next candidate pair (a bare space delimiter
    * would, and consecutive runs like `aaaa` would merge differently).
    * Must be opened with WITH RECURSIVE. Ends at `dcnt` (doc_id,
    * n_bpe); `wpos`/`wtok` are available for token-array consumers. */
  private lazy val bpeWordCtes: String =
    bpeCtes(graft.text.Bpe.DemoMerges,
      s"SELECT doc_id, ${wordsSql("lower(trim(text))")} AS ws FROM documents" +
        bpeDocFilterSql)

  /** The Spark-side twin of `bpeDocFilterSql`: the BPE family excludes
    * null/blank documents on both engines (r18 ADVICE — the kernels
    * are null-intolerant, the oracle replay has no null story, and an
    * explicit shared predicate beats COALESCE-ing the two into
    * accidental agreement). */
  private def bpeDocFilter: Column =
    col("text").isNotNull && col("text").rlike("\\S")

  // \S (not SQL trim, which strips only spaces): "has at least one
  // token" must mean the same thing for a tab-only document on both
  // engines.
  private val bpeDocFilterSql: String =
    """ WHERE text IS NOT NULL AND regexp_matches(text, '\S')"""

  /** The bigram pre-token `docw` derivation shared by the 1k-merge
    * tokenizer oracles (q_bpe_learn1k / q_wordpiece_*) — the SQL twin
    * of [[graft.text.Bpe.withBigramPreTokens]]. */
  private val bigramDocwSql: String =
    "SELECT doc_id, list_transform(range(1, len(ws0)), i -> ws0[i] || '_' || ws0[i+1]) AS ws" +
      s" FROM (SELECT doc_id, ${wordsSql("lower(trim(text))")} AS ws0" +
      " FROM documents WHERE text IS NOT NULL) WHERE len(ws0) >= 2"

  /** Greedy longest-match oracle CTE block
    * ([[graft.text.WordPiece]]): per distinct word, a longest-prefix
    * argmax at every character position (plain join + max_by — ties
    * impossible: equal-length pieces matching the same substring ARE
    * the same piece), then a recursive pointer walk that appends the
    * winning piece and advances by its length — exactly the kernel's
    * greedy rule. The `[UNK]` rule IS oracle-replayed (r19 ADVICE): a
    * word containing a character outside the vocabulary gets stuck
    * mid-walk (no piece matches at that position — with every covered
    * character a single-char piece always matches, so stuck ⇔
    * uncovered character ⇔ kernel UNK), never reaches `pos =
    * length+1`, and the LEFT JOIN below coalesces it to the whole-word
    * `[UNK]` token exactly as [[graft.functions.WordPieceKernels]]
    * does. [[graft.text.WordPiece.vocabFromMerges]] happens to cover
    * the synthetic corpus alphabet, but nothing DEPENDS on that any
    * more. Ends at `dcnt` (doc_id, n_wp); `wtok`/`wpos` available for
    * token consumers. Must be opened with WITH RECURSIVE. */
  private def wordpieceCtes(pieces: Seq[String], docwSql: String): String = {
    val pieceValues = pieces.map(p =>
      s"(${sqlString(p)}, ${p.length})").mkString(", ")
    s"""pc(p, lp) AS (VALUES $pieceValues),
       |docw AS ($docwSql),
       |wpos AS (SELECT doc_id, CAST(i AS BIGINT) AS wi, ws[i] AS w
       |         FROM (SELECT doc_id, ws, unnest(generate_series(1, CAST(len(ws) AS BIGINT))) AS i FROM docw)),
       |dw AS (SELECT DISTINCT w FROM wpos),
       |wchar AS (SELECT w, CAST(unnest(generate_series(1, CAST(length(w) AS BIGINT))) AS BIGINT) AS pos FROM dw),
       |best AS (SELECT o.w, o.pos, max_by(c.p, c.lp) AS p, CAST(max(c.lp) AS BIGINT) AS adv
       |         FROM wchar o JOIN pc c ON substr(o.w, CAST(o.pos AS INTEGER), c.lp) = c.p
       |         GROUP BY o.w, o.pos),
       |walk AS (
       |  SELECT w, CAST(1 AS BIGINT) AS pos, CAST([] AS VARCHAR[]) AS toks FROM dw
       |  UNION ALL
       |  SELECT b.w, b.pos + s.adv, list_append(b.toks, s.p)
       |  FROM walk b JOIN best s ON s.w = b.w AND s.pos = b.pos),
       |wdone AS (SELECT w, toks FROM walk WHERE pos = CAST(length(w) AS BIGINT) + 1),
       |wtok AS (SELECT d.w, coalesce(c.toks, ['[UNK]']) AS toks
       |         FROM dw d LEFT JOIN wdone c ON d.w = c.w),
       |wcnt AS (SELECT w, CAST(len(toks) AS BIGINT) AS ntok FROM wtok),
       |dcnt AS (SELECT p.doc_id, CAST(sum(c.ntok) AS BIGINT) AS n_wp
       |         FROM wpos p JOIN wcnt c ON p.w = c.w GROUP BY p.doc_id)""".stripMargin
  }

  /** Unigram-LM Viterbi oracle CTE block ([[graft.text.Unigram]]): per
    * distinct word, the IDENTICAL min-cost DP the kernel runs, carried
    * through the recursion as a list of (cost, toks) structs — entry
    * k is the best segmentation of the length-(k−1) prefix; each step
    * appends position i+1's winner, chosen by `list_sort(...)[1]` over
    * (total asc, −length asc) exactly matching the kernel's tie-break
    * (equal total → longest last piece; equal total AND length is the
    * same piece, so the order is total). Integer costs make the sums
    * exact on both engines. An unreachable final position (a character
    * no piece covers) leaves the entry NULL and the coalesce below
    * replays the whole-word `[UNK]` rule. Ends at `dcnt`
    * (doc_id, n_ug); `wtok`/`wpos` available for token consumers.
    * Must be opened with WITH RECURSIVE. */
  private def unigramCtes(costed: Seq[(String, Long)],
      docwSql: String): String = {
    val pieceValues = costed.map { case (p, c) =>
      s"(${sqlString(p)}, ${p.length}, $c)" }.mkString(", ")
    s"""pc(p, lp, cost) AS (VALUES $pieceValues),
       |docw AS ($docwSql),
       |wpos AS (SELECT doc_id, CAST(i AS BIGINT) AS wi, ws[i] AS w
       |         FROM (SELECT doc_id, ws, unnest(generate_series(1, CAST(len(ws) AS BIGINT))) AS i FROM docw)),
       |dw AS (SELECT DISTINCT w FROM wpos),
       |wchar AS (SELECT w, CAST(unnest(generate_series(1, CAST(length(w) AS BIGINT))) AS BIGINT) AS i FROM dw),
       |mm AS (SELECT o.w, o.i, c.p, CAST(c.lp AS BIGINT) AS lp, CAST(c.cost AS BIGINT) AS cost
       |       FROM wchar o JOIN pc c ON c.lp <= o.i AND substr(o.w, CAST(o.i - c.lp + 1 AS INTEGER), c.lp) = c.p),
       |ends AS (SELECT w, i, list(struct_pack(lp := lp, cost := cost, p := p)) AS cands FROM mm GROUP BY w, i),
       |dp AS (
       |  SELECT w, CAST(0 AS BIGINT) AS i,
       |         [struct_pack(c := CAST(0 AS BIGINT), toks := CAST([] AS VARCHAR[]))] AS best
       |  FROM dw
       |  UNION ALL
       |  SELECT d.w, d.i + 1,
       |    list_append(d.best,
       |      CASE WHEN win.s IS NULL THEN NULL
       |           ELSE struct_pack(
       |             c := win.s.tot,
       |             toks := list_append(d.best[CAST(d.i + 2 - win.s.lp AS INTEGER)].toks, win.s.p))
       |      END)
       |  FROM dp d
       |  LEFT JOIN ends e ON e.w = d.w AND e.i = d.i + 1,
       |  LATERAL (SELECT list_sort(list_filter(
       |             list_transform(e.cands, c -> struct_pack(
       |               tot := d.best[CAST(d.i + 2 - c.lp AS INTEGER)].c + c.cost,
       |               nlp := -c.lp, p := c.p, lp := c.lp)),
       |             x -> x.tot IS NOT NULL))[1] AS s) win
       |  WHERE d.i < length(d.w)),
       |wvit AS (SELECT w, best[CAST(length(w) + 1 AS INTEGER)] AS e FROM dp WHERE i = length(w)),
       |wtok AS (SELECT w, coalesce(e.toks, ['[UNK]']) AS toks FROM wvit),
       |wcnt AS (SELECT w, CAST(len(toks) AS BIGINT) AS ntok FROM wtok),
       |dcnt AS (SELECT p.doc_id, CAST(sum(c.ntok) AS BIGINT) AS n_ug
       |         FROM wpos p JOIN wcnt c ON p.w = c.w GROUP BY p.doc_id)""".stripMargin
  }

  /** The BPE-oracle CTE block parameterized by merge list and the
    * `docw` (doc_id, ws) pre-token derivation — shared by the
    * DemoMerges family and the 1k-merge `q_bpe_learn1k` row. Merge
    * strings render as SQL literals with single quotes doubled (r18
    * ADVICE: a learned merge containing an apostrophe must not emit
    * broken SQL — DemoMerges happens to be ASCII-safe, a re-learned
    * vocabulary need not be). */
  private def bpeCtes(merges: Seq[graft.text.Bpe.Merge],
      docwSql: String): String = {
    val mergeValues = merges.map { m =>
      s"(${m.rank + 1}, chr(1)||${sqlString(m.left)}||chr(2)||chr(1)||${sqlString(m.right)}||chr(2)," +
        s" chr(1)||${sqlString(m.left + m.right)}||chr(2))"
    }.mkString(", ")
    val nRanks = merges.size
    s"""bm(rk, pat, rep) AS (VALUES $mergeValues),
       |docw AS ($docwSql),
       |wpos AS (SELECT doc_id, CAST(i AS BIGINT) AS wi, ws[i] AS w
       |         FROM (SELECT doc_id, ws, unnest(generate_series(1, CAST(len(ws) AS BIGINT))) AS i FROM docw)),
       |dw AS (SELECT DISTINCT w FROM wpos),
       |enc0 AS (SELECT w, array_to_string(list_transform(range(1, length(w) + 1), j -> chr(1)||w[j]||chr(2)), '') AS s FROM dw),
       |bpeit AS (
       |  SELECT w, s, 0 AS rk FROM enc0
       |  UNION ALL
       |  SELECT b.w, replace(b.s, m.pat, m.rep), b.rk + 1
       |  FROM bpeit b JOIN bm m ON m.rk = b.rk + 1),
       |wtok AS (SELECT w, string_split(trim(s, chr(1)||chr(2)), chr(2)||chr(1)) AS toks
       |         FROM bpeit WHERE rk = $nRanks),
       |wcnt AS (SELECT w, CAST(len(toks) AS BIGINT) AS ntok FROM wtok),
       |dcnt AS (SELECT p.doc_id, CAST(sum(c.ntok) AS BIGINT) AS n_bpe
       |         FROM wpos p JOIN wcnt c ON p.w = c.w GROUP BY p.doc_id)""".stripMargin
  }

  val all: Seq[Query] = Seq(

    // BPE TOKEN ACCOUNTING (r18): tokenizer-aware twins of the token-
    // budget family. Bpe.DemoMerges is a frozen 48-merge vocabulary
    // learned once from the sf0.001 corpus (BpeSpec pins provenance);
    // the oracle replays the IDENTICAL merge list as a recursive CTE
    // over DISTINCT words — one bracketed-unit string replace per rank
    // equals one greedy left-to-right pass per rank (BpeKernels
    // Scaladoc has the argument). Spark side never shuffles: counts and
    // token arrays are per-row codegen expressions.
    //
    // The whole family pre-filters null/blank documents on BOTH sides
    // (r18 ADVICE): the kernels are null-intolerant by contract (null
    // in → null out) while the oracle's recursive replay has no natural
    // null story, and rather than COALESCE the two into agreement the
    // degenerate rows are excluded up front — the filter is the same
    // predicate on both engines, so a future generator change cannot
    // silently flip a hash.

    // per-doc whitespace vs BPE token counts — the budget-accounting
    // primitive (whitespace undercounts subword tokens by the exact
    // factor a trainer's budget would be off by). n_ws uses the
    // EMPTY-FILTERED count so tab/newline-led text cannot drift from
    // the oracle's list_filter(x <> '') (r18 ADVICE).
    Query("q_bpe_tokens", (s, dir) => {
      val d = tbl(s, dir, "documents").where(bpeDocFilter)
      d.select(col("doc_id"),
        TextAnalysis.nonEmptyTokenCount(col("text")).as("n_ws"),
        graft.text.Bpe.tokenCount(col("text"), graft.text.Bpe.DemoMerges)
          .as("n_bpe")).orderBy("doc_id")
    },
      // ---- BPE family: every oracle opens WITH RECURSIVE over the shared
      // bpeWordCtes block, which replays Bpe.DemoMerges rank by rank over
      // distinct words (see the helper's Scaladoc for why one replace per
      // rank is exactly one greedy merge pass).
      sql(s"""WITH RECURSIVE $bpeWordCtes
             |SELECT dd.doc_id, CAST(len(dd.ws) AS BIGINT) AS n_ws, c.n_bpe
             |FROM docw dd JOIN dcnt c ON dd.doc_id = c.doc_id
             |ORDER BY dd.doc_id""".stripMargin)),

    // the token arrays themselves on a doc sample — pins the actual
    // tokenization (subword boundaries), not just counts. The engine
    // API stays array<string> (Bpe.withTokens); the REGISTERED query
    // projects the space-joined string because the driver's comparator
    // pandas-sorts raw columns and cannot hash array cells (r18's three
    // ERR rows). BPE tokens are substrings of whitespace words, so the
    // space join is injective on the token sequence.
    Query("q_bpe_encode", (s, dir) => {
      val d = tbl(s, dir, "documents")
      d.where(col("doc_id") % 50 === 0 && bpeDocFilter)
        .select(col("doc_id"), array_join(
          graft.text.Bpe.tokens(col("text"), graft.text.Bpe.DemoMerges),
          " ").as("toks"))
        .orderBy("doc_id")
    },
      // tokens ship space-joined (scalar at the query boundary — the
      // driver's comparator cannot hash array cells); the prefiltered
      // docw makes every doc's token list non-empty, so the join is
      // inner and array_to_string never sees NULL-vs-[] ambiguity
      sql(s"""WITH RECURSIVE $bpeWordCtes
             |SELECT p.doc_id,
             |  array_to_string(flatten(list(t.toks ORDER BY p.wi)), ' ') AS toks
             |FROM wpos p JOIN wtok t ON p.w = t.w
             |WHERE p.doc_id % 50 = 0 GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin)),

    // BPE-token chunk windows (8 tokens, overlap 2): boundaries fall
    // INSIDE words — the context-length split a trainer actually makes,
    // which the whitespace chunker cannot express. Same scalar
    // projection at the query boundary as q_bpe_encode: chunk_tokens
    // ships space-joined (the engine call still yields the array).
    Query("q_chunk_bpe", (s, dir) => {
      val d = tbl(s, dir, "documents")
      val toks = graft.text.Bpe.withTokens(
        d.where(col("doc_id") % 10 === 0 && bpeDocFilter)
          .select("doc_id", "text"),
        "text", "toks", graft.text.Bpe.DemoMerges)
      graft.text.Chunker.chunkTokenArray(toks, "doc_id", "toks",
        chunkTokens = 8, overlapTokens = 2)
        .select(col("doc_id"), col("chunk_id"), col("n_chunk_tokens"),
          array_join(col("chunk_tokens"), " ").as("chunk_tokens"))
        .orderBy("doc_id", "chunk_id")
    },
      // window 8 / stride 6 over the flat per-doc token stream; list
      // slicing is 1-based inclusive (the q_chunk_docs convention);
      // chunk_tokens space-joined at the boundary like q_bpe_encode
      sql(s"""WITH RECURSIVE $bpeWordCtes,
             |ftok AS (SELECT p.doc_id, flatten(list(t.toks ORDER BY p.wi)) AS toks
             |         FROM wpos p JOIN wtok t ON p.w = t.w
             |         WHERE p.doc_id % 10 = 0 GROUP BY p.doc_id),
             |c AS (SELECT doc_id, toks, UNNEST(range(0, len(toks), 6)) AS start
             |      FROM ftok)
             |SELECT doc_id, CAST(start // 6 AS BIGINT) AS chunk_id,
             |  CAST(LEAST(8, len(toks) - start) AS BIGINT) AS n_chunk_tokens,
             |  array_to_string(toks[start + 1 : start + 8], ' ') AS chunk_tokens
             |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),

    // sequence-packing placement under BPE counts (256-token windows) —
    // q_seq_pack's twin with the tokenizer a trainer budgets in
    Query("q_seq_pack_bpe", (s, dir) => {
      val counted = graft.text.Bpe.withTokenCount(
        tbl(s, dir, "documents").where(bpeDocFilter)
          .select("doc_id", "text"),
        "text", "n_bpe", graft.text.Bpe.DemoMerges)
      graft.plans.SequencePacking.plan(counted, "doc_id", "n_bpe",
        window = 256).orderBy("doc_id")
    },
      // the q_seq_pack prefix sum, fed by BPE counts instead of n_chars
      sql(s"""WITH RECURSIVE $bpeWordCtes,
             |p AS (SELECT doc_id, n_bpe AS n_tokens,
             |  CAST(COALESCE(sum(n_bpe) OVER (ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_token
             |  FROM dcnt)
             |SELECT doc_id, n_tokens, start_token,
             |  CAST(start_token // 256 AS BIGINT) AS seq_first,
             |  CAST((start_token + greatest(n_tokens, 1) - 1) // 256 AS BIGINT) AS seq_last
             |FROM p ORDER BY doc_id""".stripMargin)),

    // mixture sampling by BPE-token budget — q_sample_budget's twin
    // (en capped at 20k BPE tokens, de at 6k, rest 10%)
    Query("q_sample_budget_bpe", (s, dir) => {
      val counted = graft.text.Bpe.withTokenCount(
        tbl(s, dir, "documents").where(bpeDocFilter)
          .select("doc_id", "lang", "text"),
        "text", "n_bpe", graft.text.Bpe.DemoMerges)
      graft.ops.Sampling.tokenBudgetSample(counted, "lang", "doc_id",
        "n_bpe", budgets = Map("en" -> 20000L, "de" -> 6000L),
        defaultRate = 0.1)
        ._1.select("doc_id", "lang").orderBy("doc_id")
    },
      // the q_sample_budget threshold machinery with per-lang BPE totals
      sql(s"""WITH RECURSIVE $bpeWordCtes,
             |s AS (SELECT d.lang, CAST(sum(c.n_bpe) AS DOUBLE) AS toks
             |      FROM documents d JOIN dcnt c ON d.doc_id = c.doc_id
             |      GROUP BY d.lang),
             |r AS (SELECT lang,
             |  CASE WHEN lang = 'en' THEN 20000.0 / toks
             |       WHEN lang = 'de' THEN 6000.0 / toks
             |       ELSE 0.1 END AS rate FROM s),
             |t AS (SELECT lang,
             |  CASE WHEN rate >= 1.0 THEN 'g'
             |       WHEN rate <= 0.0 THEN '0'
             |       ELSE lpad(lower(to_hex(CAST(floor(rate * 4294967296.0) AS BIGINT))), 8, '0')
             |  END AS thr FROM r)
             |SELECT d.doc_id, d.lang FROM documents d JOIN t ON d.lang = t.lang
             |WHERE substr(md5('graft:' || CAST(d.doc_id AS VARCHAR)), 1, 8) < t.thr
             |  AND d.text IS NOT NULL AND regexp_matches(d.text, '\\S')
             |ORDER BY d.doc_id""".stripMargin)),

    // BPE AT A REALISTIC VOCABULARY (r19): Bpe.learn END-TO-END at
    // 1024 merges — the regime where the apply kernels' interesting
    // costs live (memo churn over ~916 distinct pre-tokens, the
    // `contains` precheck, the O(merges·|word|) loop), which the
    // 48-merge DemoMerges toy never touches. Pre-tokens are
    // adjacent-word bigrams (withBigramPreTokens — the 31-word
    // synthetic vocabulary saturates real training in ~48 merges; the
    // bigram derivation is replayed identically by the oracle, never
    // invented rows). The query LEARNS LIVE (one word-frequency
    // shuffle + bounded deterministic driver loop) and at sf0.01
    // reproduces the frozen BpeLearn1k.Merges the oracle replays —
    // training determinism IS the thing this row verifies.
    Query("q_bpe_learn1k", (s, dir) => {
      val bg = graft.text.Bpe.withBigramPreTokens(
        tbl(s, dir, "documents").select("doc_id", "text"),
        "text", "bg_text")
      val merges = graft.text.Bpe.learn(bg, "bg_text", 1024)
      graft.text.Bpe.withTokenCount(bg, "bg_text", "n_bpe1k", merges)
        .select(col("doc_id"), col("n_bpe1k")).orderBy("doc_id")
    },
      // 1024 frozen merges (BpeLearn1k — what live training reproduces
      // at sf0.01) replayed over bigram pre-tokens; the recursive CTE
      // runs 1024 replace ranks over ~916 distinct pre-token strings
      sql(s"""WITH RECURSIVE ${bpeCtes(graft.text.BpeLearn1k.Merges, bigramDocwSql)}
             |SELECT doc_id, n_bpe AS n_bpe1k FROM dcnt ORDER BY doc_id""".stripMargin)),

    // TOKENIZER DIVERSITY (r19): greedy longest-match (WordPiece
    // inference) as a SECOND tokenizer family over the SAME frozen
    // vocabulary (BpeLearn1k's pieces) — the two inference rules
    // genuinely segment differently (WordPieceSpec pins a diverging
    // case), so a trainer can cross-check its budget under both.
    // Apply-only (the piece inventory derives from the already-learned
    // merges, no data pass); pure per-row codegen, corpus never
    // shuffles. The oracle replays greedy-longest exactly: a
    // longest-prefix argmax per (word, pos) + a recursive pointer walk.
    Query("q_wordpiece_tokens", (s, dir) => {
      val bg = graft.text.Bpe.withBigramPreTokens(
        tbl(s, dir, "documents").select("doc_id", "text"),
        "text", "bg_text")
      graft.text.WordPiece.withPieceCount(bg, "bg_text", "n_wp",
        graft.text.WordPiece.vocabFromMerges(graft.text.BpeLearn1k.Merges))
        .select(col("doc_id"), col("n_wp")).orderBy("doc_id")
    },
      // greedy longest-match over the same frozen vocabulary — the
      // wordpieceCtes walk replays the kernel's inference rule exactly
      sql(s"""WITH RECURSIVE ${wordpieceCtes(
                 graft.text.WordPiece.vocabFromMerges(
                   graft.text.BpeLearn1k.Merges), bigramDocwSql)}
             |SELECT doc_id, n_wp FROM dcnt ORDER BY doc_id""".stripMargin)),

    // the pieces themselves on a doc sample (space-joined scalar at
    // the query boundary, the q_bpe_encode convention)
    Query("q_wordpiece_encode", (s, dir) => {
      val bg = graft.text.Bpe.withBigramPreTokens(
        tbl(s, dir, "documents").where(col("doc_id") % 50 === 0)
          .select("doc_id", "text"),
        "text", "bg_text")
      bg.select(col("doc_id"), array_join(
          graft.text.WordPiece.pieces(col("bg_text"),
            graft.text.WordPiece.vocabFromMerges(graft.text.BpeLearn1k.Merges)),
          " ").as("pieces"))
        .orderBy("doc_id")
    },
      sql(s"""WITH RECURSIVE ${wordpieceCtes(
                 graft.text.WordPiece.vocabFromMerges(
                   graft.text.BpeLearn1k.Merges),
                 bigramDocwSql + " AND doc_id % 50 = 0")}
             |SELECT p.doc_id,
             |  array_to_string(flatten(list(t.toks ORDER BY p.wi)), ' ') AS pieces
             |FROM wpos p JOIN wtok t ON p.w = t.w
             |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin)),

    // TOKENIZER FAMILY #3 (r20): unigram-LM (SentencePiece) inference —
    // Viterbi min-cost segmentation over integer piece costs derived
    // from the SAME learned merge list (Unigram.pieceCosts: fixed-point
    // Zipf log-probs by merge rank), completing the budget cross-check
    // triangle next to BPE rank-replay and greedy longest-match. The
    // likelihood optimum genuinely differs from both (UnigramSpec pins
    // diverging words: greedy commits to a long RARE piece where the
    // model prefers two short common ones). Apply-only per-row codegen,
    // corpus never shuffles; the oracle replays the identical DP as a
    // recursive CTE carrying the per-word Viterbi table as a list of
    // (cost, toks) structs — integer costs make the cross-engine
    // arithmetic exact, so tie-breaks cannot drift.
    Query("q_unigram_tokens", (s, dir) => {
      val bg = graft.text.Bpe.withBigramPreTokens(
        tbl(s, dir, "documents").select("doc_id", "text"),
        "text", "bg_text")
      graft.text.Unigram.withPieceCount(bg, "bg_text", "n_ug",
        graft.text.Unigram.pieceCosts(graft.text.BpeLearn1k.Merges))
        .select(col("doc_id"), col("n_ug")).orderBy("doc_id")
    },
      // unigram-LM Viterbi over the same frozen vocabulary at
      // rank-derived integer costs — unigramCtes replays the kernel's DP
      sql(s"""WITH RECURSIVE ${unigramCtes(
                 graft.text.Unigram.pieceCosts(
                   graft.text.BpeLearn1k.Merges), bigramDocwSql)}
             |SELECT doc_id, n_ug FROM dcnt ORDER BY doc_id""".stripMargin)),

    // the pieces themselves on a doc sample (space-joined scalar at
    // the query boundary, the q_wordpiece_encode convention)
    Query("q_unigram_encode", (s, dir) => {
      val bg = graft.text.Bpe.withBigramPreTokens(
        tbl(s, dir, "documents").where(col("doc_id") % 50 === 0)
          .select("doc_id", "text"),
        "text", "bg_text")
      bg.select(col("doc_id"), array_join(
          graft.text.Unigram.pieces(col("bg_text"),
            graft.text.Unigram.pieceCosts(graft.text.BpeLearn1k.Merges)),
          " ").as("pieces"))
        .orderBy("doc_id")
    },
      sql(s"""WITH RECURSIVE ${unigramCtes(
                 graft.text.Unigram.pieceCosts(
                   graft.text.BpeLearn1k.Merges),
                 bigramDocwSql + " AND doc_id % 50 = 0")}
             |SELECT p.doc_id,
             |  array_to_string(flatten(list(t.toks ORDER BY p.wi)), ' ') AS pieces
             |FROM wpos p JOIN wtok t ON p.w = t.w
             |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin)),

    // LIKELIHOOD-TRAINED unigram vocabulary (r20): Viterbi-EM cost
    // training END-TO-END — the query LEARNS the cost table LIVE (one
    // word-frequency shuffle + a bounded deterministic driver EM loop,
    // Unigram.learnCosts) and at sf0.01 must reproduce the frozen
    // UnigramLearned.Costs the oracle replays through the same DP —
    // training determinism IS the thing this row verifies, exactly the
    // q_bpe_learn1k pattern — but measured NOT sf-dependent at sf0.1:
    // the table trained there differs in its integer costs yet induces
    // the same segmentations, so the cross-check passes (README;
    // count-coincidence at other scales is observed, not promised).
    Query("q_unigram_learn", (s, dir) => {
      val bg = graft.text.Bpe.withBigramPreTokens(
        tbl(s, dir, "documents").select("doc_id", "text"),
        "text", "bg_text")
      val costs = graft.text.Unigram.learnCosts(bg, "bg_text",
        graft.text.BpeLearn1k.Merges, iters = 3)
      graft.text.Unigram.withPieceCount(bg, "bg_text", "n_ug_em", costs)
        .select(col("doc_id"), col("n_ug_em")).orderBy("doc_id")
    },
      // the EM-trained twin: the oracle replays the FROZEN sf0.01 cost
      // table (UnigramLearned, md5-pinned resource) through the same DP;
      // the query trains live — green hash == training determinism
      sql(s"""WITH RECURSIVE ${unigramCtes(
                 graft.text.UnigramLearned.Costs, bigramDocwSql)}
             |SELECT doc_id, n_ug AS n_ug_em FROM dcnt ORDER BY doc_id""".stripMargin))
  )
}
