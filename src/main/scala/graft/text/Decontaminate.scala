package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Test-set decontamination: flag corpus documents sharing any word
  * n-gram with a benchmark/eval set (the GPT-3 appendix-C / Llama data
  * prep step — training on eval text inflates benchmark scores, so
  * overlapping documents are dropped or split before training).
  *
  * Shape at scale: both sides explode to (id, gram-HASH) and meet in one
  * shuffle keyed by the 64-bit gram hash — the corpus never joins the
  * benchmark row-wise, gram strings never travel (xxhash64 collisions at
  * ~2^-64 would FLAG a clean doc, the safe direction), and the hit list
  * is a distinct id set joined back to the corpus. When the benchmark
  * gram set is small (the common case — eval sets are thousands of
  * docs), AQE broadcasts it and the corpus-side explode never shuffles
  * at all.
  *
  * Tokenization is the [[QualityFilters]] / [[TextAnalysis.tokens]]
  * convention (lower, trim, split on whitespace runs), so the oracle can
  * rebuild grams externally. Default n = 13 follows GPT-3; the oracle
  * query uses a smaller n because its corpus plants short documents.
  */
object Decontaminate {

  /** Word n-grams of an ALREADY-TOKENIZED array column (empty when it
    * has fewer than n words). The sequence bound is guarded: Spark's
    * `sequence(1, 0)` counts DOWN ([1, 0]) instead of yielding empty.
    *
    * Callers must pass a STAGED token attribute (a projected column),
    * not an inline tokenize expression: `toks` is referenced once per
    * gram via `slice`, and an inline expression would be re-inlined at
    * every reference — re-running split+filter per gram turned the
    * corpus explode O(words²) in tokenizer work (measured 4.3 s → 0.5 s
    * at sf0.1 when r11 staged it). */
  def ngramsOfTokens(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** The tokenize convention (lower, trim, split on whitespace runs). */
  def tokens(c: Column): Column =
    filter(split(trim(lower(c)), "\\s+"), t => length(t) > 0)

  /** All word n-grams of a raw text column — single-expression form for
    * tests/small inputs; hot paths stage [[tokens]] first (see
    * [[ngramsOfTokens]]). */
  def wordNgrams(c: Column, n: Int): Column = ngramsOfTokens(tokens(c), n)

  /** Corpus + a `contaminated` boolean: true when the document shares at
    * least one word n-gram with any benchmark document. */
  def flagContaminated(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 13): DataFrame = {
    val corpusGrams = corpus
      .select(col(idCol), tokens(col(textCol)).as("__ws"))
      .select(col(idCol), explode(ngramsOfTokens(col("__ws"), n)).as("__g"))
      .select(col(idCol), xxhash64(col("__g")).as("__gh"))
    val benchGrams = benchmark
      .select(tokens(col(textCol)).as("__ws"))
      .select(explode(ngramsOfTokens(col("__ws"), n)).as("__g"))
      .select(xxhash64(col("__g")).as("__gh")).distinct()
    val hits = corpusGrams.join(benchGrams, Seq("__gh"), "left_semi")
      .select(idCol).distinct()
      .withColumn("__hit", lit(true))
    corpus.join(hits, Seq(idCol), "left")
      .withColumn("contaminated", coalesce(col("__hit"), lit(false)))
      .drop("__hit")
  }

  /** The filter form: corpus rows NOT sharing an n-gram with the
    * benchmark — what an ingest pipeline actually keeps. */
  def removeContaminated(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 13): DataFrame =
    flagContaminated(corpus, benchmark, textCol, idCol, n)
      .where(!col("contaminated")).drop("contaminated")

  /** [[flagContaminated]] with a Bloom prefilter on the corpus gram
    * stream — BIT-IDENTICAL results (the bloom only PRUNES; every
    * surviving gram is still exactly verified by the semi-join), but at
    * 100 TB the shuffle/broadcast sees only the grams the bloom passes:
    * the benchmark's true grams plus an `fpp` fraction of the corpus's
    * ~10^12 others, instead of all of them. The filter itself is ~9.6
    * bits per benchmark gram at fpp=1% (a few MB for any real eval
    * suite), ships once per executor as a broadcast, and is evaluated
    * scan-side before any exchange — the decontamination analogue of a
    * runtime row-group filter. Spark's sketch BloomFilter is bit-OR of
    * hash positions, so it is insertion-order-independent and the
    * pruned stream is deterministic for a given (item set, sizing).
    *
    * Two driver actions on the SMALL side build the filter (a distinct
    * count to size it, then `stat.bloomFilter`'s aggregate); the corpus
    * side stays one pass. The membership probe is the
    * [[graft.functions.BloomMightContainLong]] codegen kernel over the
    * broadcast handle — a primitive long probe per gram inside the
    * scan's WholeStageCodegen span, replacing the r15 Long→Boolean UDF.
    *
    * CACHE CONTRACT: the benchmark gram set is persisted
    * (MEMORY_AND_DISK) because it feeds two driver sizing actions plus
    * the verify join, and the RESULT DataFrame still references it — it
    * cannot be unpersisted before the caller materializes the result.
    * Callers must release it afterwards: either
    * `spark.sharedState.cacheManager`-level sweeps like the repo's
    * CacheHygiene snapshot/releaseNew pair (what Bench and Verify do),
    * or `spark.catalog.clearCache()`. A long-lived session calling this
    * in a loop without either leaks one cached gram set per call. */
  def flagContaminatedBloom(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 13,
      fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val spark = corpus.sparkSession
    val benchGrams = benchmark
      .select(tokens(col(textCol)).as("__ws"))
      .select(explode(ngramsOfTokens(col("__ws"), n)).as("__g"))
      .select(xxhash64(col("__g")).as("__gh")).distinct()
      // staged once for the two sizing actions + the verify join; see
      // the CACHE CONTRACT in the scaladoc above
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nGrams = math.max(benchGrams.count(), 1L)
    val bf = benchGrams.stat.bloomFilter("__gh", nGrams, fpp)
    val bc = spark.sparkContext.broadcast(bf)
    val corpusGrams = corpus
      .select(col(idCol), tokens(col(textCol)).as("__ws"))
      .select(col(idCol),
        explode(ngramsOfTokens(col("__ws"), n)).as("__g"))
      .select(col(idCol), xxhash64(col("__g")).as("__gh"))
      .where(graft.functions.TextKernels.bloomContains(col("__gh"), bc))
    val hits = corpusGrams.join(benchGrams, Seq("__gh"), "left_semi")
      .select(idCol).distinct()
      .withColumn("__hit", lit(true))
    corpus.join(hits, Seq(idCol), "left")
      .withColumn("contaminated", coalesce(col("__hit"), lit(false)))
      .drop("__hit")
  }
}
