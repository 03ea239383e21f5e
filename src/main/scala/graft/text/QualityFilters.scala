package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextKernels

/** Gopher-style repetition quality signals (Rae et al. 2021, "Scaling
  * Language Models", appendix A1.1): web documents dominated by repeated
  * words or n-grams are boilerplate, keyword spam, or scraper artifacts,
  * and LLM training pipelines drop them by thresholding these fractions.
  * The corpus here has no line structure, so the signals are the WORD
  * n-gram family:
  *
  *  - `dup_word_frac`        1 − distinct/total words
  *  - `top_bigram_char_frac` chars covered by the heaviest bigram
  *  - `top_trigram_char_frac` same for trigrams
  *  - `dup_fivegram_char_frac` chars covered by all REPEATED 5-grams
  *
  * "Chars covered" = occurrences × word-chars of the gram (spaces
  * excluded) over total word chars — maximizing count×length directly
  * avoids the cross-engine tie-break a "most frequent gram first" rule
  * would need. The 5-gram variant SUMS covered chars over repeated grams
  * (overlap-insensitive — a deliberate simplification of Gopher's
  * character-union, documented so the threshold is calibrated to THIS
  * definition; it upper-bounds the union, so it only errs toward
  * dropping).
  *
  * Tokenization is shared with [[TextAnalysis.tokens]]: lower, trim,
  * split on whitespace runs — reproducible in DuckDB
  * (regexp_split_to_array), which is what makes q_quality_repetition
  * oracle-checkable.
  *
  * Per-row kernel by design: one pass builds the three gram-count maps
  * for a ~100-word document; the higher-order-function formulation
  * runs interpreted per element and materializes per-gram arrays (the
  * same measured trade-off as the NearDup/Similarity kernels). Runs as
  * the [[graft.functions.RepetitionStruct]]/[[graft.functions.RepetitionKeep]]
  * codegen expressions (r15; formerly Scala UDFs — the expression form
  * drops the converter boxing and keeps the filter/projection inside
  * one WholeStageCodegen span). No shuffle — a pure projection, linear
  * in corpus size.
  */
object QualityFilters {

  final case class Repetition(n_words: Long, dup_word_frac: Double,
      top_bigram_char_frac: Double, top_trigram_char_frac: Double,
      dup_fivegram_char_frac: Double)

  private def gramStats(words: Array[String], n: Int): (Long, Long) = {
    // returns (max over grams of count*chars, sum over repeated grams of
    // count*chars); chars = word chars only, spaces excluded
    if (words.length < n) return (0L, 0L)
    val counts = new java.util.HashMap[String, Long]()
    val chars = new java.util.HashMap[String, Long]()
    var i = 0
    while (i + n <= words.length) {
      val sb = new StringBuilder
      var c = 0L
      var j = i
      while (j < i + n) {
        if (j > i) sb.append(' ')
        sb.append(words(j)); c += words(j).length; j += 1
      }
      val g = sb.toString
      counts.merge(g, 1L, _ + _)
      chars.putIfAbsent(g, c)
      i += 1
    }
    var best = 0L
    var dup = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cover = e.getValue * chars.get(e.getKey)
      if (cover > best) best = cover
      if (e.getValue > 1) dup += cover
    }
    (best, dup)
  }

  private[graft] def repetition(text: String): Repetition = {
    val words =
      if (text == null) Array.empty[String]
      else text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val nWords = words.length.toLong
    if (nWords == 0)
      return Repetition(0L, 0.0, 0.0, 0.0, 0.0)
    val totalChars = words.map(_.length.toLong).sum.toDouble
    val distinct = words.toSet.size.toLong
    val (top2, _) = gramStats(words, 2)
    val (top3, _) = gramStats(words, 3)
    val (_, dup5) = gramStats(words, 5)
    Repetition(nWords,
      1.0 - distinct.toDouble / nWords,
      if (totalChars == 0) 0.0 else top2 / totalChars,
      if (totalChars == 0) 0.0 else top3 / totalChars,
      if (totalChars == 0) 0.0 else dup5 / totalChars)
  }

  private[graft] def keep(text: String, maxDupWordFrac: Double,
      maxTopBigramCharFrac: Double, maxTopTrigramCharFrac: Double,
      maxDupFivegramCharFrac: Double): Boolean = {
    val r = repetition(text)
    r.dup_word_frac <= maxDupWordFrac &&
      r.top_bigram_char_frac <= maxTopBigramCharFrac &&
      r.top_trigram_char_frac <= maxTopTrigramCharFrac &&
      r.dup_fivegram_char_frac <= maxDupFivegramCharFrac
  }

  /** Per-document repetition signals: `idCol` + the five metrics, rounded
    * to 6 decimals for cross-engine comparison. */
  def repetitionSignals(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    df.select(col(idCol), TextKernels.repetition(col(textCol)).as("__r"))
      .select(col(idCol), col("__r.n_words").as("n_words"),
        round(col("__r.dup_word_frac"), 6).as("dup_word_frac"),
        round(col("__r.top_bigram_char_frac"), 6).as("top_bigram_char_frac"),
        round(col("__r.top_trigram_char_frac"), 6).as("top_trigram_char_frac"),
        round(col("__r.dup_fivegram_char_frac"), 6)
          .as("dup_fivegram_char_frac"))
  }

  /** Gopher-rule document filter: keep rows whose repetition signals sit
    * under every threshold (defaults are the Gopher table A1 values for
    * the metrics that exist here). A pure filter — compose before
    * dedup/sampling in an ingest pipeline.
    *
    * The thresholds are folded INTO one boolean kernel rather than
    * compared against four `getField`s of the struct-returning
    * graft_repetition: the getField form carries four copies of the
    * kernel call in the predicate tree and leans on codegen
    * subexpression elimination to fold them — an optimizer assumption,
    * not a guarantee (and one that filter pushdown through a project
    * can silently re-duplicate). One scalar boolean call is one kernel
    * evaluation per row BY CONSTRUCTION; the plan shape is asserted by
    * PlanQualitySpec. */
  def gopherRepetitionFilter(df: DataFrame, textCol: String,
      maxDupWordFrac: Double = 0.30,
      maxTopBigramCharFrac: Double = 0.18,
      maxTopTrigramCharFrac: Double = 0.16,
      maxDupFivegramCharFrac: Double = 0.15): DataFrame = {
    df.where(TextKernels.repetitionKeep(col(textCol), maxDupWordFrac,
      maxTopBigramCharFrac, maxTopTrigramCharFrac, maxDupFivegramCharFrac))
  }
}
