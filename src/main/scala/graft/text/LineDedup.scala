package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CCNet-style line-level boilerplate removal (Wenzek et al. 2020 §3.1 —
  * their pipeline drops duplicated lines/paragraphs before LM filtering):
  * a line occurring in many DISTINCT documents is navigation chrome,
  * cookie banners, or footer boilerplate, and stripping it both cleans
  * the text and deflates near-dup clusters driven by shared chrome.
  *
  * Shape at scale: explode to (doc, pos, line) — linear; count distinct
  * docs per line — one shuffle keyed by line; the boilerplate set (lines
  * over `minDocFreq`) is by construction TINY relative to the corpus
  * (each survivor appears in ≥ minDocFreq docs, so there are at most
  * docs·avgLines/minDocFreq of them), so the anti join broadcasts under
  * AQE; reassembly is one groupBy(doc) with an array_sort on (pos, line)
  * structs — no window, no global sort. Line identity is EXACT content
  * (no normalization): trim-variant chrome is rare and a normalized
  * match would silently rewrite kept text.
  */
object LineDedup {

  private def lines(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))

  /** (line, doc_freq) for every distinct non-blank line — the profiling
    * form (inspect what WOULD be dropped before committing a threshold). */
  def lineDocFrequencies(df: DataFrame, textCol: String,
      idCol: String): DataFrame =
    lines(df, textCol, idCol)
      .where(trim(col("__line")) =!= "")
      .groupBy(col("__line").as("line"))
      .agg(countDistinct(col(idCol)).as("doc_freq"))

  /** Rebuild every document with lines appearing in ≥ `minDocFreq`
    * distinct documents removed (blank lines are never counted and never
    * dropped — they carry document structure, not boilerplate). Line
    * order is preserved; a document whose every line is boilerplate
    * comes back as the empty string, not a dropped row. */
  def dropBoilerplate(df: DataFrame, textCol: String, idCol: String,
      minDocFreq: Long): DataFrame = {
    val ls = lines(df, textCol, idCol)
    val boilerplate = lineDocFrequencies(df, textCol, idCol)
      .where(col("doc_freq") >= minDocFreq)
      .select(col("line").as("__line"))
    val kept = ls.join(boilerplate, Seq("__line"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("__pos"), col("__line")))),
          s => s.getField("__line")), "\n").as(textCol))
    df.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col(textCol), lit("")))
  }
}
