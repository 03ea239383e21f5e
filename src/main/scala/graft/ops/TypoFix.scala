package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Exprs._

/** Typo-fix operator — 3 methods
  * (`/root/reference/methods/spellingFix.py:52-301`, SURVEY.md §2.15).
  *
  *  - common_typos: word-boundary, case-insensitive dictionary replacement
  *    (`spellingFix.py:109-143`). Pure chained `regexp_replace` — one
  *    codegen'd projection, embarrassingly parallel.
  *  - fuzzy_match: the reference does O(distinct²) pairwise
  *    SequenceMatcher over a column's distinct values and rewrites the
  *    less-frequent of each similar pair to the more-frequent
  *    (`spellingFix.py:145-199`). Distinct values + counts are ONE
  *    aggregation; the pairwise pass runs on the driver over that (bounded,
  *    guarded) dictionary; the rewrite is a broadcast-join of the
  *    replacement map — the fact table never shuffles. The 100 TB path for
  *    unbounded dictionaries is LSH blocking (graft.extensions.NearDup).
  *  - spell_check: corpus vocabulary = words with frequency > 1 (fallback
  *    top-50); rare words (len>2) are rewritten to the most similar vocab
  *    word with ratio ≥ threshold and |Δlen| ≤ 2 (`spellingFix.py:201-268`).
  *    Vocabulary and rare words come from one explode/groupBy job each;
  *    the correction map is built on the driver and applied in ONE
  *    tokenizing broadcast-map pass ([[TypoFix.applyWordMap]]).
  */
final case class TypoFix(
    method: String = "common_typos",
    columns: Seq[String] = Nil,
    customDict: Map[String, String] = Map.empty,
    similarityThreshold: Double = 0.8,
    maxDistinct: Int = 10000) extends Op {

  val name = s"typo_fix:$method"

  def apply(df: DataFrame): OpResult = {
    val targets = if (columns.nonEmpty) columns else colsOfType(df, isString)
    if (targets.isEmpty)
      return OpResult(df, Seq("no text columns"),
        () => TypoFix.envelope(df, df, method, Nil, 0L))
    method match {
      case "common_typos" =>
        val dict = TypoFix.CommonTypos ++ customDict
        val proj = df.columns.map { c =>
          if (!targets.contains(c)) col(c)
          else dict.toSeq.sortBy(_._1).foldLeft(col(c)) { case (acc, (typo, fix)) =>
            regexp_replace(acc, s"(?i)\\b$typo\\b", fix) }.as(c)
        }
        val out = df.select(proj.toSeq: _*)
        OpResult(out, Seq(s"common_typos over ${targets.mkString(",")}"),
          () => TypoFix.envelope(df, out, method, targets,
            TypoFix.wordMatchCount(df,
              targets.map(c =>
              c -> dict.keySet.map(_.toLowerCase(java.util.Locale.ROOT))).toMap)))
      case "fuzzy_match" =>
        val (out, maps) = targets.foldLeft(
            (df, Map.empty[String, Map[String, String]])) { case ((d, ms), c) =>
          val (d2, m) = fuzzyColumn(d, c)
          (d2, ms + (c -> m))
        }
        OpResult(out, Seq(s"fuzzy_match over ${targets.mkString(",")}"),
          () => TypoFix.envelope(df, out, method, targets,
            TypoFix.valueMatchCount(df, maps)))
      case "spell_check" =>
        val (out, maps) = targets.foldLeft(
            (df, Map.empty[String, Map[String, String]])) { case ((d, ms), c) =>
          val (d2, m) = spellCheckColumn(d, c)
          (d2, ms + (c -> m))
        }
        OpResult(out, Seq(s"spell_check over ${targets.mkString(",")}"),
          () => TypoFix.envelope(df, out, method, targets,
            TypoFix.wordMatchCount(df,
              maps.map { case (c, m) => c -> m.keySet })))
      case other => throw new IllegalArgumentException(s"unknown typo method: $other")
    }
  }

  /** Rewrites similar distinct values to the more frequent spelling;
    * returns the frame plus the applied replacement map. */
  private def fuzzyColumn(df: DataFrame, c: String): (DataFrame, Map[String, String]) = {
    // HLL probe before the distinct-count job (the Encode.labelMapping
    // pattern): an ID-like column far over the guard must cost one cheap
    // codegen agg, not a groupBy shuffle + a maxDistinct-row collect just
    // to learn it's a no-op. rsd pinned at 2 % (the default 5 % would make
    // the gate fuzzier). The gate fires only at 1.1 × maxDistinct —
    // 5 sigma of HLL headroom — so a genuinely categorical column sitting
    // just UNDER the limit cannot be skipped by sketch over-estimation;
    // the exact guard below still backstops an under-estimate, so both
    // error directions resolve to the exact count's verdict and only
    // clearly-over (ID-like) columns take the cheap early exit.
    val approx = df.agg(approx_count_distinct(col(c), rsd = 0.02).as("a"))
      .head().getLong(0)
    if (approx > maxDistinct * 1.1) return (df, Map.empty)
    val counts = df.groupBy(col(c)).count()
      .where(col(c).isNotNull).limit(maxDistinct + 1)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    if (counts.length > maxDistinct) return (df, Map.empty) // guard: not a categorical column
    val repl = TypoFix.fuzzyReplacements(counts.toSeq, similarityThreshold)
    (applyReplacements(df, c, repl), repl)
  }

  private def spellCheckColumn(df: DataFrame, c: String): (DataFrame, Map[String, String]) = {
    val words = df.select(explode(split(lower(col(c).cast(StringType)), "\\W+")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").count()
    val freq = words.orderBy(desc("count"), asc("w")).limit(maxDistinct)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val vocab = {
      val v = freq.filter(_._2 > 1).map(_._1)
      if (v.nonEmpty) v else freq.take(50).map(_._1)
    }
    val vocabSet = vocab.toSet
    val corrections = freq.map(_._1)
      .filter(w => w.length > 2 && !vocabSet.contains(w))
      .flatMap { w =>
        vocab.filter(v => math.abs(v.length - w.length) <= 2)
          .map(v => (v, TypoFix.ratio(w, v)))
          .filter(_._2 >= similarityThreshold)
          .sortBy { case (v, r) => (-r, v) }
          .headOption.map { case (v, _) => w -> v }
      }.take(500)
    val map = corrections.toMap
    (TypoFix.applyWordMap(df, c, map), map)
  }

  /** Exact-value rewrite via broadcast map join (no fact-table shuffle). */
  private def applyReplacements(df: DataFrame, c: String,
      repl: Map[String, String]): DataFrame = {
    if (repl.isEmpty) return df
    val spark = df.sparkSession
    import spark.implicits._
    val map = repl.toSeq.toDF("__from", "__to")
    df.join(broadcast(map), df(c) === col("__from"), "left")
      .select(df.columns.map(n =>
        if (n == c) coalesce(col("__to"), col(c)).as(c) else df(n)).toSeq: _*)
  }
}

object TypoFix {
  /** Built-in common-typo dictionary — the reference's 26 entries verbatim
    * (`/root/reference/methods/spellingFix.py:22-50`); the dict IS the
    * observable behavior of method=common_typos, so it must match. */
  val CommonTypos: Map[String, String] = Map(
    "teh" -> "the", "adn" -> "and", "thier" -> "their",
    "recieve" -> "receive", "seperate" -> "separate",
    "definately" -> "definitely", "occured" -> "occurred",
    "begining" -> "beginning", "untill" -> "until",
    "mispelled" -> "misspelled", "accomodate" -> "accommodate",
    "embarass" -> "embarrass", "goverment" -> "government",
    "liesure" -> "leisure", "maintainance" -> "maintenance",
    "necesary" -> "necessary", "occassion" -> "occasion",
    "posession" -> "possession", "priviledge" -> "privilege",
    "recomend" -> "recommend", "unitd" -> "united",
    "managment" -> "management", "deparment" -> "department",
    "devlopment" -> "development", "busness" -> "business",
    "finace" -> "finance")

  /** Single-pass word-boundary replacement: tokenize each cell on `\w+`
    * runs and replace any token whose lowercase form is a map key with its
    * fix, preserving all delimiters. Equivalent to sequentially chaining
    * `(?i)\b<typo>\b` regexp_replace calls when — as in spell_check — the
    * keys are lowercase single words and no fix is itself a key: each
    * original token matches at most one pattern, and a replacement (a
    * vocabulary word, by construction never rare) can never be re-matched
    * by a later pattern. One broadcast + one projection; per-cell work is
    * one tokenize + O(tokens) hash lookups, independent of dictionary
    * size — the old foldLeft built a ≤500-deep regexp_replace chain: 500
    * sequential regex scans per cell and an expression tree (and codegen
    * unit) growing with the dictionary. A deliberate UDF-over-expressions
    * exception, same reasoning as NearDup.ophSignatures. */
  def applyWordMap(df: DataFrame, c: String, map: Map[String, String]): DataFrame = {
    if (map.isEmpty) return df
    val b = df.sparkSession.sparkContext.broadcast(map)
    val fixUdf = udf { s: String =>
      if (s == null) null
      else {
        val m = WordRun.matcher(s)
        val sb = new StringBuffer(s.length)
        while (m.find()) {
          val tok = m.group
          val rep = b.value.getOrElse(tok.toLowerCase(java.util.Locale.ROOT), tok)
          m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(rep))
        }
        m.appendTail(sb)
        sb.toString
      }
    }
    df.withColumn(c, fixUdf(col(c).cast(StringType)))
  }

  /** Same `\w` word definition as the `\W+` splits that build the maps. */
  private val WordRun = java.util.regex.Pattern.compile("\\w+")

  /** Reference metrics envelope (`spellingFix.py:280-291`), shared by the
    * three methods: two count jobs when invoked. */
  private[ops] def envelope(before: DataFrame, after: DataFrame,
      method: String, cols: Seq[String], corrections: Long): Map[String, Any] = Map(
    "method_used" -> method,
    "columns_processed" -> cols,
    "total_corrections" -> corrections,
    "rows_before" -> before.count(),
    "rows_after" -> after.count(),
    "columns_before" -> before.columns.length.toLong,
    "columns_after" -> after.columns.length.toLong)

  /** Σ over cells of the number of DISTINCT dictionary words present in
    * the cell (whole-word, case-insensitive) — the reference's
    * total_corrections counting, one increment per (cell, typo pattern
    * found) (`spellingFix.py:130-143`). One agg job over all columns. */
  private[ops] def wordMatchCount(df: DataFrame,
      keysByCol: Map[String, Set[String]]): Long = {
    val cols = keysByCol.keys.toSeq.sorted.filter(c => keysByCol(c).nonEmpty)
    if (cols.isEmpty) return 0L
    val b = df.sparkSession.sparkContext.broadcast(keysByCol)
    def cntUdf(c: String) = udf { s: String =>
      if (s == null) 0
      else {
        val keys = b.value(c)
        val m = WordRun.matcher(s)
        val seen = scala.collection.mutable.Set[String]()
        while (m.find()) {
          val t = m.group.toLowerCase(java.util.Locale.ROOT)
          if (keys.contains(t)) seen += t
        }
        seen.size
      }
    }
    val aggs = cols.map(c => sum(cntUdf(c)(col(c).cast(StringType))).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.map { c =>
      val i = row.fieldIndex(c)
      if (row.isNullAt(i)) 0L else row.getLong(i)
    }.sum
  }

  /** Σ over cells whose EXACT value is a replacement key — the
    * total_corrections counting for fuzzy_match, whose rewrite is an
    * exact-value map join. One agg job. */
  private[ops] def valueMatchCount(df: DataFrame,
      maps: Map[String, Map[String, String]]): Long = {
    val cols = maps.keys.toSeq.sorted.filter(c => maps(c).nonEmpty)
    if (cols.isEmpty) return 0L
    val aggs = cols.map(c =>
      count(when(col(c).isin(maps(c).keys.toSeq: _*), 1)).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.map(c => row.getLong(row.fieldIndex(c))).sum
  }

  /** Pairwise pass over (value, count): for each similar pair, map the
    * less-frequent value to the more-frequent one (ties: lexicographically
    * smaller value wins as the target — deterministic). Length-difference
    * >30% prefilter as in the reference (`spellingFix.py:172`). */
  def fuzzyReplacements(counts: Seq[(String, Long)], threshold: Double): Map[String, String] = {
    val repl = scala.collection.mutable.Map[String, String]()
    val vs = counts.sortBy { case (v, n) => (-n, v) } // most frequent first
    for (i <- vs.indices; j <- (i + 1) until vs.length) {
      val (win, _) = vs(i)
      val (lose, _) = vs(j)
      val maxLen = math.max(win.length, lose.length)
      if (maxLen > 0 && math.abs(win.length - lose.length).toDouble / maxLen <= 0.3
          && !repl.contains(lose) && ratio(win.toLowerCase(java.util.Locale.ROOT), lose.toLowerCase(java.util.Locale.ROOT)) >= threshold)
        repl(lose) = win
    }
    repl.toMap
  }

  /** Ratcliff/Obershelp similarity (difflib `SequenceMatcher.ratio`
    * semantics, without autojunk): 2·M / (|a|+|b|) where M counts matching
    * chars from recursive longest-common-substring decomposition. */
  def ratio(a: String, b: String): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    2.0 * matchCount(a, b) / (a.length + b.length)
  }

  private def matchCount(a: String, b: String): Int = {
    if (a.isEmpty || b.isEmpty) return 0
    // longest common substring (first-occurring on tie, like difflib)
    var best = 0; var bi = 0; var bj = 0
    val prev = new Array[Int](b.length + 1)
    val cur = new Array[Int](b.length + 1)
    var i = 1
    while (i <= a.length) {
      var j = 1
      while (j <= b.length) {
        if (a.charAt(i - 1) == b.charAt(j - 1)) {
          cur(j) = prev(j - 1) + 1
          if (cur(j) > best) { best = cur(j); bi = i; bj = j }
        } else cur(j) = 0
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, cur.length)
      java.util.Arrays.fill(cur, 0)
      i += 1
    }
    if (best == 0) 0
    else best +
      matchCount(a.substring(0, bi - best), b.substring(0, bj - best)) +
      matchCount(a.substring(bi), b.substring(bj))
  }
}
