package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.TypoFix
import graft.util.Exprs.mix64

/** Distributed fuzzy value-matching — the 100 TB path for the reference's
  * `fuzzy_match` (`/root/reference/methods/spellingFix.py:145-199`,
  * SURVEY.md §7.5 item 5).
  *
  * [[graft.ops.TypoFix]] collects a column's distinct values to the driver
  * and runs the O(distinct²) pairwise pass there — correct while the
  * dictionary is bounded, impossible when a 100 TB column has millions of
  * distinct values. This plan computes the SAME replacement map fully
  * distributed:
  *
  *  1. distinct values + counts: one groupBy (stays distributed).
  *  2. blocking: one-permutation MinHash over character bigrams, banded —
  *     candidate pairs are values sharing a band bucket, instead of all
  *     pairs. Identical in structure to [[graft.dedup.NearDup]] LSH.
  *  3. verification: the reference's length-difference ≤30% prefilter +
  *     Ratcliff/Obershelp ratio ≥ threshold, as a UDF over candidate pairs.
  *  4. winner resolution: the sequential reference maps each losing value
  *     to the FIRST more-frequent match in (count desc, value asc) order —
  *     which is exactly the argmax over its matching candidates, so a
  *     window `row_number() over (partition by loser order by count desc,
  *     winner asc) = 1` reproduces the sequential map without any
  *     sequential pass.
  *
  * Blocking is the one semantic delta vs the driver pass: a similar pair
  * sharing NO band bucket is missed (standard LSH recall trade;
  * mitigated by 8 bands of r=2 at the default 0.8 ratio threshold, where
  * similar short strings share most bigrams).
  */
object DistributedFuzzy {

  /** DENSE MinHash signature over character bigrams of the lowercased
    * value (single-char values use the one unigram): sig(i) = min over
    * grams of hash-family-i. One-permutation bucketing — right for docs
    * with many shingles — degrades badly here: a short value occupies few
    * of the numHashes buckets, the rest densify to doc-dependent noise,
    * and the signature stops estimating Jaccard (measured: 0.63-Jaccard
    * typo pairs missed). Dense MinHash is O(numHashes·grams), trivial for
    * dictionary-length strings, and keeps per-band match probability at
    * jaccard^r as the banding math assumes. */
  private[plans] def sigUdf(numHashes: Int) = udf { s: String =>
    val t = s.toLowerCase(java.util.Locale.ROOT)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val grams = if (t.length >= 2) t.length - 1 else t.length
    var i = 0
    while (i < grams) {
      val g =
        if (t.length >= 2) (t.charAt(i).toLong << 32) | t.charAt(i + 1).toLong
        else t.charAt(i).toLong
      val h = mix64(g)
      var k = 0
      while (k < numHashes) {
        val hk = mix64(h ^ mix64(k.toLong))
        if (hk < sig(k)) sig(k) = hk
        k += 1
      }
      i += 1
    }
    sig
  }

  /** The replacement map (`__from`, `__to`) computed distributed. */
  def replacements(df: DataFrame, c: String, threshold: Double = 0.8,
      numHashes: Int = 16, bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0)
    val r = numHashes / bands
    val counts = df.groupBy(col(c).cast(StringType).as("v"))
      .agg(count(lit(1)).as("n"))
      .where(col("v").isNotNull && length(col("v")) > 0)
    val sigs = counts.withColumn("__sig", sigUdf(numHashes)(col("v")))
    val buckets = sigs.select(col("v"), col("n"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), slice(col("__sig"), b * r + 1, r).as("bits"))): _*))
        .as("__b"))
    val w = buckets.select(col("__b").as("kw"), col("v").as("win"), col("n").as("nw"))
    val l = buckets.select(col("__b").as("kl"), col("v").as("lose"), col("n").as("nl"))
    // winner strictly sorts before loser in (count desc, value asc)
    val ordered = col("nw") > col("nl") ||
      (col("nw") === col("nl") && col("win") < col("lose"))
    val lenOk = {
      val maxLen = greatest(length(col("win")), length(col("lose")))
      (abs(length(col("win")) - length(col("lose"))).cast(DoubleType) / maxLen) <= 0.3
    }
    val ratioUdf = udf { (a: String, b: String) =>
      TypoFix.ratio(a.toLowerCase(java.util.Locale.ROOT), b.toLowerCase(java.util.Locale.ROOT)) }
    val cand = w.join(l, col("kw") === col("kl") && ordered && lenOk)
      .select("win", "nw", "lose").distinct()
      .where(ratioUdf(col("win"), col("lose")) >= threshold)
    // first match in sequential order == argmax(count, -lex) per loser
    val pick = Window.partitionBy("lose")
      .orderBy(col("nw").desc, col("win").asc)
    cand.withColumn("__rk", row_number().over(pick))
      .where(col("__rk") === 1)
      .select(col("lose").as("__from"), col("win").as("__to"))
  }

  /** Rewrite the column through the distributed replacement map. The map
    * is bounded by the loser count — broadcast it; at extreme
    * cardinalities drop the hint and let AQE choose. */
  def fix(df: DataFrame, c: String, threshold: Double = 0.8): DataFrame = {
    val repl = replacements(df, c, threshold)
    df.join(broadcast(repl), df(c) === col("__from"), "left")
      .select(df.columns.map(n =>
        if (n == c) coalesce(col("__to"), df(n)).as(c) else df(n)).toSeq: _*)
  }
}
