package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{BpeKernels, SubwordTable}

/** Byte-pair encoding: train on a corpus, tokenize with a frozen merge
  * list. This is the tokenizer-aware token accounting the packing /
  * chunking / budget-sampling family needs — a trainer budgets in BPE
  * tokens, not whitespace words, and the two differ by 1.3–2× on
  * English (more on code or non-Latin scripts), which is the error a
  * whitespace-budgeted mixture bakes into every sampling rate.
  *
  * Reference scope: the reference engine has no tokenizer — this is
  * north-star extension surface (training-data pipeline operators).
  * Semantics are classic BPE (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units"): training repeatedly
  * merges the most frequent adjacent token pair within words; apply
  * replays the merge list. No end-of-word marker — merges never cross
  * the whitespace pre-token boundary, and the downstream consumers
  * (counts, chunk windows, packing) don't need reversibility.
  *
  * Scale shape:
  *  - TRAIN: one distributed word-frequency aggregation (the only
  *    shuffle — the corpus's distinct-word table, Zipf-small relative
  *    to the corpus), then a driver loop over the top-`maxWords` rows.
  *    The driver table is explicitly bounded and deterministically
  *    chosen (count desc, word asc), the standard shape for BPE
  *    training at any corpus size: pair statistics live on the
  *    word-frequency table, never the token stream.
  *  - APPLY: pure per-row codegen expressions
  *    ([[tokens]] / [[tokenCount]]);
  *    the corpus never shuffles, and the count path materializes no
  *    token arrays.
  */
object Bpe {

  /** One learned merge: `left + right` becomes one token at `rank`
    * (0-based, applied in ascending order). */
  final case class Merge(rank: Int, left: String, right: String)

  /** Train `numMerges` merges from the corpus. One shuffle (word
    * counts); the driver loop sees at most `maxWords` rows — capped
    * deterministically by (count desc, word asc) so two runs over the
    * same data learn the same vocabulary. */
  def learn(df: DataFrame, textCol: String, numMerges: Int,
      maxWords: Int = 1 << 16): Seq[Merge] = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    require(maxWords >= 1, s"maxWords must be >= 1, got $maxWords")
    // r21: the tokenize + map-side partial count runs fused with the
    // scan and inherits its split count — size-gated repartition (hash
    // on the text, the only column) keeps the pass per-core on small
    // corpora and is a no-op at scan-splittable sizes (Parallelize).
    val counts = graft.util.Parallelize.bySize(df, col(textCol))
      .select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1L)).as("n"))
      .orderBy(col("n").desc, col("w").asc)
      .limit(maxWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSeq
    learnFromCounts(counts, numMerges)
  }

  /** The BPE training loop over a word-frequency table (driver-side;
    * the table is the caller-bounded output of [[learn]]'s single
    * aggregation). Pair choice: max summed frequency, ties broken by
    * (left, right) ascending — fully deterministic. Stops early when no
    * adjacent pair remains. The per-merge rewrite is
    * [[BpeKernels.mergePass]], the SAME single greedy pass apply uses,
    * so a word tokenized during training and at apply time can never
    * disagree. */
  def learnFromCounts(wordCounts: Seq[(String, Long)],
      numMerges: Int): Seq[Merge] = {
    var words: Array[(Array[String], Long)] = wordCounts.toArray.map {
      case (w, c) =>
        val cps = w.codePoints().toArray
        (cps.map(cp => new String(Character.toChars(cp))), c)
    }
    val out = Seq.newBuilder[Merge]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      val pairCounts =
        new java.util.HashMap[(String, String), java.lang.Long](1 << 12)
      words.foreach { case (toks, c) =>
        var i = 0
        while (i + 1 < toks.length) {
          val k = (toks(i), toks(i + 1))
          val prev = pairCounts.get(k)
          pairCounts.put(k, (if (prev == null) 0L else prev.longValue()) + c)
          i += 1
        }
      }
      if (pairCounts.isEmpty) exhausted = true
      else {
        var best: (String, String) = null
        var bestN = -1L
        pairCounts.forEach { (k, n) =>
          if (n > bestN || (n == bestN &&
              (k._1 < best._1 || (k._1 == best._1 && k._2 < best._2)))) {
            best = k; bestN = n
          }
        }
        out += Merge(rank, best._1, best._2)
        val lr = best._1 + best._2
        words = words.map { case (toks, c) =>
          (BpeKernels.mergePass(toks, best._1, best._2, lr), c)
        }
        rank += 1
      }
    }
    out.result()
  }

  /** `df` plus a derived text column whose "words" are the adjacent
    * WORD BIGRAMS of `textCol` joined by `_` — the pre-token
    * enrichment behind `q_bpe_learn1k`. The synthetic corpus has a
    * ~31-word vocabulary, far too small to exercise BPE training or
    * the apply kernels at a realistic merge count (48 merges saturate
    * it); bigram pre-tokens lift the distinct-pre-token space to
    * vocab² (~961 here) with 8–14-char units, enough merge capacity
    * for a 1k-merge vocabulary while deriving strictly from the real
    * corpus — the same derivation both engines replay, never invented
    * rows. Rows with fewer than two words are dropped (a bigram needs
    * two; also keeps Spark's `sequence(1, size-1)` ascending). */
  def withBigramPreTokens(df: DataFrame, textCol: String,
      outCol: String): DataFrame = {
    val ws = TextAnalysis.nonEmptyTokens(col(textCol))
    // zip_with over two slices, NOT transform(sequence, i =>
    // element_at(ws, i)): a higher-order-function lambda re-evaluates
    // every non-lambda subtree it references PER ELEMENT, so the
    // element_at formulation re-split the whole document once per word
    // — O(words²·chars) per doc, measured 20.6 s at sf0.1 where this
    // form costs ~1.9 s. zip_with's array arguments evaluate once per
    // row and the lambda touches only its bound variables.
    df.where(size(ws) >= 2)
      .withColumn(outCol,
        array_join(
          zip_with(slice(ws, lit(1), size(ws) - 1),
            slice(ws, lit(2), size(ws) - 1),
            (a, b) => concat(a, lit("_"), b)),
          " "))
  }

  /** Parse a frozen merge list rendered one `left right` pair per
    * line (merge constituents never contain whitespace — they are
    * substrings of whitespace pre-tokens). Ranks are line order. */
  def parseMergeLines(s: String): Seq[Merge] =
    s.linesIterator.map(_.trim).filter(_.nonEmpty).zipWithIndex.map {
      case (ln, i) =>
        val sp = ln.indexOf(' ')
        require(sp > 0 && sp < ln.length - 1, s"bad merge line: '$ln'")
        Merge(i, ln.substring(0, sp), ln.substring(sp + 1))
    }.toSeq

  /** BPE tokens of `text` as a flat array<string> (word order
    * preserved; blank → empty, null → null). */
  def tokens(text: Column, merges: Seq[Merge]): Column =
    SubwordTable.encode(text, mergeTable(merges))

  /** BPE token COUNT of `text` (blank → 0, null → null) — no token
    * arrays materialize. */
  def tokenCount(text: Column, merges: Seq[Merge]): Column =
    SubwordTable.count(text, mergeTable(merges))

  private def mergeTable(merges: Seq[Merge]): BpeKernels.MergeTable =
    new BpeKernels.MergeTable(
      merges.sortBy(_.rank).map(m => (m.left, m.right)))

  /** `df` plus a [[tokens]] column. */
  def withTokens(df: DataFrame, textCol: String, outCol: String,
      merges: Seq[Merge]): DataFrame =
    df.withColumn(outCol, tokens(col(textCol), merges))

  /** `df` plus a [[tokenCount]] column. */
  def withTokenCount(df: DataFrame, textCol: String, outCol: String,
      merges: Seq[Merge]): DataFrame =
    df.withColumn(outCol, tokenCount(col(textCol), merges))

  /** The frozen demo merge list the q_bpe_* oracle queries share with
    * DuckDB: [[learn]]'s output on the sf0.001 documents corpus
    * (numMerges = 48), pasted as a constant so the oracle SQL can carry
    * the identical table as literals. Well-formed by construction
    * (training output), which is what licenses rank-order apply — see
    * [[graft.functions.BpeKernels]]. */
  val DemoMerges: Seq[Merge] = DemoMergePairs.zipWithIndex.map {
    case ((l, r), i) => Merge(i, l, r)
  }

  // Generated once by `learn(sf0.001 documents, "text", 48)` — frozen,
  // not recomputed, so query results are stable across scale factors.
  private def DemoMergePairs: Seq[(String, String)] = Seq(
    ("e", "r"),
    ("o", "r"),
    ("i", "n"),
    ("o", "w"),
    ("s", "t"),
    ("l", "u"),
    ("a", "r"),
    ("p", "ar"),
    ("m", "er"),
    ("a", "t"),
    ("a", "n"),
    ("c", "an"),
    ("s", "can"),
    ("c", "o"),
    ("co", "lu"),
    ("colu", "m"),
    ("colum", "n"),
    ("d", "ow"),
    ("in", "dow"),
    ("w", "indow"),
    ("d", "er"),
    ("or", "der"),
    ("or", "t"),
    ("s", "ort"),
    ("par", "t"),
    ("u", "p"),
    ("a", "g"),
    ("ag", "g"),
    ("a", "lu"),
    ("alu", "e"),
    ("v", "alue"),
    ("in", "e"),
    ("l", "ine"),
    ("e", "y"),
    ("k", "ey"),
    ("j", "o"),
    ("jo", "in"),
    ("g", "e"),
    ("mer", "ge"),
    ("er", "y"),
    ("g", "r"),
    ("gr", "o"),
    ("gro", "up"),
    ("q", "u"),
    ("qu", "ery"),
    ("c", "t"),
    ("ct", "or"),
    ("e", "ctor"))
}
