package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{SubwordTable, UnigramKernels}

/** Unigram-LM (SentencePiece-style) Viterbi tokenization — the third
  * tokenizer family (r20, completing the budget cross-check triangle
  * the r19 verdict asked for): [[Bpe]] replays merges in rank order,
  * [[WordPiece]] takes the longest matching prefix greedily, this one
  * picks the segmentation that MAXIMIZES the unigram likelihood of
  * each word — min-sum Viterbi over integer piece costs. A trainer
  * budgeting a corpus under all three rules sees where the inference
  * families disagree; UnigramSpec pins concrete diverging words.
  *
  * Reference scope: north-star extension surface (the reference engine
  * has no tokenizer). Kernel semantics and the cross-engine integer-
  * cost rationale in [[graft.functions.UnigramKernels]].
  *
  * Scale shape: cost derivation is driver-side over an already-learned
  * merge list (no data pass at all); apply is pure per-row codegen —
  * the corpus never shuffles.
  */
object Unigram {

  /** Fixed-point negative log-prob per piece, derived from merge
    * creation order as a Zipf frequency proxy (the r19 verdict's
    * "derive scores from the learned merge ranks" option):
    * cost = round(100 · ln(rank + 2)) for a merge product (duplicate
    * products keep the earliest mint — [[UnigramKernels.PieceTable]]
    * also enforces min-cost-wins), and every constituent single
    * character enters at rank = |merges| (the fallback unit, priced
    * like the rarest piece). Integer costs — not double log-probs —
    * so the DuckDB oracle's DP does the identical exact arithmetic;
    * see the kernel scaladoc. Deterministic order (cost asc, piece
    * asc) for stable SQL literal rendering. */
  def pieceCosts(merges: Seq[Bpe.Merge]): Seq[(String, Long)] = {
    def costAt(rank: Int): Long = math.round(100.0 * math.log(rank + 2.0))
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    merges.foreach { m =>
      val p = m.left + m.right
      val c = costAt(m.rank)
      if (!best.get(p).exists(_ <= c)) best(p) = c
    }
    val charCost = costAt(merges.size)
    merges.foreach { m =>
      (m.left + m.right).codePoints().toArray.foreach { cp =>
        val p = new String(Character.toChars(cp))
        if (!best.contains(p)) best(p) = charCost
      }
    }
    best.toSeq.sortBy { case (p, c) => (c, p) }
  }

  /** Likelihood-TRAINED piece costs (r20, closing the r19 verdict's
    * "no unigram-LM/SentencePiece EM" gap): hard-EM (Viterbi-EM) over
    * the corpus word frequencies. One shuffle (the same bounded
    * word-count staging as [[Bpe.learn]] — count desc, word asc, capped
    * at `maxWords`), then a driver loop: E-step segments every distinct
    * word under the current integer costs (corpus-count-weighted),
    * M-step re-derives each piece's cost as the quantized negative log
    * relative frequency of its E-step usage. Seeded by
    * [[pieceCosts]] (the rank proxy); `iters` fixed rounds. The piece
    * INVENTORY stays fixed (SentencePiece also prunes; we keep every
    * piece so character coverage — and with it the no-UNK guarantee on
    * corpus text — cannot regress; unused pieces price at a penalty one
    * notch above the rarest). */
  def learnCosts(df: DataFrame, textCol: String, merges: Seq[Bpe.Merge],
      iters: Int = 3, maxWords: Int = 1 << 16): Seq[(String, Long)] = {
    // r21: size-gated repartition before the fused tokenize+count pass —
    // same reasoning as Bpe.learn (no-op at scan-splittable sizes)
    val counts = graft.util.Parallelize.bySize(df, col(textCol))
      .select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1L)).as("n"))
      .orderBy(col("n").desc, col("w").asc)
      .limit(maxWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSeq
    learnCostsFromCounts(counts, pieceCosts(merges), iters)
  }

  /** The EM loop over a word-frequency table (driver-side, bounded by
    * the caller — [[learnCosts]]'s single aggregation). Deterministic
    * ACROSS JVMs, which the live-train-vs-frozen-oracle contract of
    * `q_unigram_learn` requires: the E-step is the integer-cost Viterbi
    * kernel itself (same tie-breaks as apply — a word segmented during
    * training and at apply time can never disagree), and the M-step
    * quantizes through StrictMath.log (bit-exact by spec; Math.log is
    * allowed 1 ulp of platform variance, which would let two JVMs
    * freeze different tables from identical counts). */
  def learnCostsFromCounts(wordCounts: Seq[(String, Long)],
      seed: Seq[(String, Long)], iters: Int): Seq[(String, Long)] = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    var costs = seed
    for (_ <- 1 to iters) {
      val pt = new UnigramKernels.PieceTable(costs)
      val freq = new java.util.HashMap[String, Long](costs.size * 2)
      var total = 0L
      wordCounts.foreach { case (w, c) =>
        pt.piecesOf(w).foreach { p =>
          if (p != UnigramKernels.Unk) {
            freq.merge(p, c, (a: Long, b: Long) => a + b)
            total += c
          }
        }
      }
      val penalty =
        math.round(100.0 * StrictMath.log(total.toDouble + 1.0))
      costs = costs.map { case (p, _) =>
        val f = freq.getOrDefault(p, 0L)
        val c = if (f > 0L)
          math.round(100.0 * StrictMath.log(total.toDouble / f))
        else penalty
        (p, math.max(0L, c))
      }.sortBy { case (p, c) => (c, p) }
    }
    costs
  }

  /** Viterbi unigram pieces of `text` as a flat array<string> (word
    * order preserved; blank → empty, null → null). */
  def pieces(text: Column, costed: Seq[(String, Long)]): Column =
    SubwordTable.encode(text, new UnigramKernels.PieceTable(costed))

  /** Piece COUNT of `text` — no arrays materialize. */
  def pieceCount(text: Column, costed: Seq[(String, Long)]): Column =
    SubwordTable.count(text, new UnigramKernels.PieceTable(costed))

  /** `df` plus a [[pieces]] column. */
  def withPieces(df: DataFrame, textCol: String, outCol: String,
      costed: Seq[(String, Long)]): DataFrame =
    df.withColumn(outCol, pieces(col(textCol), costed))

  /** `df` plus a [[pieceCount]] column. */
  def withPieceCount(df: DataFrame, textCol: String, outCol: String,
      costed: Seq[(String, Long)]): DataFrame =
    df.withColumn(outCol, pieceCount(col(textCol), costed))
}
