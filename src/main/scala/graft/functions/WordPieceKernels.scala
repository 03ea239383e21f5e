package graft.functions

/** Greedy longest-match subword segmentation — WordPiece INFERENCE
  * (Devlin et al. 2019; SentencePiece's training-free greedy cousin),
  * the second tokenizer family next to [[BpeKernels]]' merge-replay.
  * Same pre-tokenization convention
  * ([[graft.text.TextAnalysis.nonEmptyTokens]]: lower, split `\s+`,
  * drop empties); per word, repeatedly take the LONGEST vocabulary
  * piece that prefixes the remaining suffix. No continuation marker
  * (`##`): the piece inventory here is minted from BPE-learned token
  * vocabularies ([[graft.text.WordPiece.vocabFromMerges]]), which
  * carry no position distinction — and the DuckDB oracle replays the
  * segmentation exactly (longest-prefix argmax per (word, pos) + a
  * recursive pointer walk), which a position-marked vocabulary would
  * only complicate.
  *
  * Greedy-longest differs from BPE merge-order apply ON PURPOSE: the
  * same vocabulary segments differently under the two inference rules
  * (e.g. pieces {ab, bc, a, b, c} on "abc": greedy → [ab, c]; a BPE
  * list that learned (b,c) first → [a, bc]) — that divergence is what
  * makes this a second tokenizer rather than a re-skin, and
  * WordPieceSpec pins it.
  *
  * UNK: if at any position no piece matches, the ENTIRE word becomes
  * one `[UNK]` token (the BERT rule — partial segmentations are not
  * emitted). A vocabulary containing every single character of the
  * corpus never UNKs on it; the path is spec-pinned, not oracle-pinned.
  *
  * Scale shape: pure per-row expressions inside whole-stage codegen;
  * the corpus never shuffles. Per word the matcher is
  * O(|word| · maxPieceLen) hash probes worst case, memoized per
  * distinct word exactly like [[BpeKernels.MergeTable]].
  */
object WordPieceKernels {

  val Unk = "[UNK]"

  /** Compiled piece inventory ([[SubwordTable]] supplies the word memo
    * and the document kernels). Pieces must be non-empty and
    * whitespace-free (they segment whitespace pre-tokens). */
  final class PieceTable(pieces: Seq[String])
      extends SubwordTable("wordpiece") {
    require(pieces.nonEmpty, "wordpiece needs a non-empty vocabulary")
    require(pieces.forall(p => p.nonEmpty && !p.exists(_.isWhitespace)),
      "wordpiece pieces must be non-empty and whitespace-free")
    private val set = new java.util.HashSet[String](pieces.size * 2)
    pieces.foreach(set.add)
    private val maxLen: Int = pieces.iterator.map(_.length).max

    /** Greedy longest-prefix walk (no memo). Surrogate safety: a piece
      * that ends mid-surrogate-pair can never equal a substring ending
      * mid-pair's bits AND also have been minted from real text, and
      * the vocab builders only mint whole-codepoint pieces — so plain
      * UTF-16 substring matching is exact here. */
    protected def segment(word: String): Array[String] = {
      val out = new scala.collection.mutable.ArrayBuffer[String](8)
      var pos = 0
      val n = word.length
      while (pos < n) {
        var l = math.min(maxLen, n - pos)
        var hitLen = 0
        while (l >= 1 && hitLen == 0) {
          if (set.contains(word.substring(pos, pos + l))) hitLen = l
          l -= 1
        }
        if (hitLen == 0) return Array(Unk) // BERT rule: whole word UNKs
        out += word.substring(pos, pos + hitLen)
        pos += hitLen
      }
      out.toArray
    }
  }
}
