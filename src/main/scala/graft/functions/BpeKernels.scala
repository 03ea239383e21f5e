package graft.functions

/** Byte-pair-encoding apply kernels — the token accounting behind the
  * BPE twins of chunking / sequence packing / budget sampling
  * ([[graft.text.Bpe]]). Whitespace pre-tokenization (the
  * [[graft.text.TextAnalysis.nonEmptyTokens]] convention: lower, split
  * on `\s+`, drop empties), then per word the merge list is applied IN
  * RANK ORDER, each
  * merge as ONE left-to-right greedy pass over the word's token
  * sequence.
  *
  * Rank-order apply (vs the min-rank-first loop some implementations
  * use) is exact for any WELL-FORMED merge list — one where every
  * merge's constituents are single characters or products of strictly
  * earlier merges, which is what BPE training produces by construction
  * ([[graft.text.Bpe.learn]]): a token minted at rank j can never
  * complete a pair for a merge k < j, because merge k was learned when
  * only tokens of rank < k existed, so after processing merge k in
  * order there is nothing left for it to do. The payoff is an oracle
  * that DuckDB can replay as a recursive CTE with ONE string `replace`
  * per rank over a bracketed-unit encoding (see
  * `SparkEntry.bpeWordCtes`) — min-rank-first would need a per-step
  * argmin over pairs, which SQL cannot express at reasonable cost.
  *
  * One greedy pass per merge is itself a fixpoint: merging (l, r) → lr
  * creates only adjacencies (prev, lr) and (lr, next), and lr equals
  * neither l nor r (both non-empty), so no new (l, r) pair can appear.
  *
  * Scale shape: pure per-row expressions inside whole-stage codegen —
  * token accounting is embarrassingly parallel and must never shuffle
  * the corpus. Per word the merge loop is O(merges · |word|) worst
  * case, with a `word.contains(merged)` precheck (adjacent tokens are
  * contiguous substrings of the original word, so pair (l, r) present
  * implies substring l+r present) that skips merges that cannot fire.
  * A bounded per-executor memo (word → token array) turns the
  * Zipf-shaped corpus vocabulary into O(1) amortized lookups.
  */
object BpeKernels {

  /** A compiled, immutable merge list ([[SubwordTable]] supplies the
    * word memo and the document kernels). */
  final class MergeTable(merges: Seq[(String, String)])
      extends SubwordTable("bpe") {
    require(merges.forall { case (l, r) => l.nonEmpty && r.nonEmpty },
      "BPE merge constituents must be non-empty")
    val left: Array[String] = merges.map(_._1).toArray
    val right: Array[String] = merges.map(_._2).toArray
    val merged: Array[String] = merges.map { case (l, r) => l + r }.toArray
    def size: Int = left.length

    /** Rank-order apply over one word (no memo). */
    protected def segment(word: String): Array[String] = {
      var toks: Array[String] = {
        // split into code points so astral chars stay whole tokens
        val cps = word.codePoints().toArray
        val a = new Array[String](cps.length)
        var i = 0
        while (i < cps.length) {
          a(i) = new String(Character.toChars(cps(i))); i += 1
        }
        a
      }
      var r = 0
      while (r < left.length) {
        if (toks.length >= 2 && word.contains(merged(r)))
          toks = mergePass(toks, left(r), right(r), merged(r))
        r += 1
      }
      toks
    }
  }

  /** ONE left-to-right greedy pass merging every (l, r) adjacency —
    * shared verbatim by apply (above) and training
    * ([[graft.text.Bpe.learnFromCounts]]) so the two can never drift. */
  private[graft] def mergePass(toks: Array[String], l: String, r: String,
      lr: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](toks.length)
    var i = 0
    while (i < toks.length) {
      if (i + 1 < toks.length && toks(i) == l && toks(i + 1) == r) {
        out += lr; i += 2
      } else {
        out += toks(i); i += 1
      }
    }
    out.toArray
  }
}
