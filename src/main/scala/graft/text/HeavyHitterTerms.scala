package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Exact corpus heavy hitters WITHOUT a vocabulary shuffle: the terms
  * occurring in at least `minFrac` of all token occurrences — the
  * stopword-list / tokenizer-seed-vocabulary query — computed as
  * sketch → exact verify:
  *
  *  1. SKETCH. One [[graft.functions.MisraGriesTerms]] aggregation
  *     reduces each partition's token stream to a ≤summarySize-counter
  *     summary; the final merge moves O(partitions · summarySize)
  *     bytes. The MG guarantee (estimate ≥ true − n/(k+1)) makes every
  *     term with frequency ≥ minFrac·n a candidate UNCONDITIONALLY
  *     once summarySize + 1 > 1/minFrac — enforced at build.
  *  2. VERIFY. The candidate array (≤ summarySize terms, broadcast)
  *     semi-joins the token stream; exact counts aggregate over ONLY
  *     candidate occurrences (map-side partial: ≤ summarySize rows per
  *     partition cross the shuffle); the minFrac threshold then drops
  *     sketch false positives.
  *
  * The output is therefore EXACT and partitioning-independent — the
  * summary content varies with partitioning, but every true heavy
  * hitter is always in it, and the recount decides membership by true
  * counts (the identical `minFrac · N` double both engines compute) —
  * which is what lets a plain exact-count SQL oracle replay it. A
  * `groupBy(term).count()` would produce the same rows at the cost of
  * shuffling the ENTIRE distinct vocabulary; here nothing
  * vocabulary-sized ever crosses the wire, at the price of a second
  * corpus scan.
  */
object HeavyHitterTerms {

  /** (term, n_occurrences) for terms with ≥ `minFrac` of all token
    * occurrences. `summarySize` 0 = auto (2/minFrac — a 2× margin over
    * the guarantee bound). */
  def frequentTerms(df: DataFrame, textCol: String, minFrac: Double,
      summarySize: Int = 0): DataFrame = {
    require(minFrac > 0.0 && minFrac <= 1.0,
      s"minFrac must be in (0, 1], got $minFrac")
    val k =
      if (summarySize > 0) summarySize else math.ceil(2.0 / minFrac).toInt
    require((k + 1).toDouble > 1.0 / minFrac,
      s"summarySize $k cannot guarantee recall at minFrac $minFrac — " +
        s"need summarySize + 1 > ${1.0 / minFrac}")
    val toks = df.select(explode(filter(
      split(trim(lower(col(textCol))), "\\s+"),
      t => length(t) > 0)).as("term"))
    val candidates = toks
      .agg(graft.functions.HeavyHitters.terms(col("term"), k).as("__cands"))
      .select(explode(col("__cands")).as("term"))
    val nToks = toks.agg(count(lit(1)).cast(DoubleType).as("__n")).scalar()
    toks.join(broadcast(candidates), Seq("term"), "left_semi")
      .groupBy("term").agg(count(lit(1)).as("n_occurrences"))
      .where(col("n_occurrences").cast(DoubleType) >= lit(minFrac) * nToks)
  }
}
