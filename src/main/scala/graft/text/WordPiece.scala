package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{SubwordTable, WordPieceKernels}

/** Greedy longest-match (WordPiece-inference) tokenization — the
  * second tokenizer family (r19, closing the r18 verdict's "tokenizer
  * diversity" gap). [[Bpe]] replays a merge list in rank order; this
  * segments each word by repeatedly taking the longest vocabulary
  * piece that prefixes the remaining suffix — the inference rule
  * BERT-style WordPiece and SentencePiece's greedy mode use. The two
  * rules genuinely differ on the same vocabulary (WordPieceSpec pins a
  * diverging case), so budget accounting under each is a real
  * cross-check, not a re-skin.
  *
  * Reference scope: north-star extension surface (the reference engine
  * has no tokenizer). Kernel semantics in
  * [[graft.functions.WordPieceKernels]].
  *
  * Scale shape: vocabulary derivation is driver-side over an
  * already-learned merge list (no data pass at all when reusing a BPE
  * vocab) or one distinct-character aggregation; apply is pure per-row
  * codegen — the corpus never shuffles.
  */
object WordPiece {

  /** Piece inventory from a learned BPE merge list: every merge's
    * product plus every single character appearing in the merges'
    * constituents. Including all constituent characters guarantees a
    * word over that alphabet never UNKs; characters outside it (absent
    * from the training corpus by construction of the merges) hit the
    * documented `[UNK]` rule. Deterministic order (length desc, piece
    * asc) for stable SQL literal rendering; matching itself is
    * set-based and order-free. */
  def vocabFromMerges(merges: Seq[Bpe.Merge]): Seq[String] = {
    val pieces = scala.collection.mutable.LinkedHashSet.empty[String]
    merges.foreach { m =>
      (m.left + m.right).codePoints().toArray.foreach(cp =>
        pieces += new String(Character.toChars(cp)))
    }
    merges.foreach(m => pieces += (m.left + m.right))
    pieces.toSeq.sortBy(p => (-p.length, p))
  }

  /** Greedy longest-match pieces of `text` as a flat array<string>
    * (word order preserved; blank → empty, null → null). */
  def pieces(text: Column, vocab: Seq[String]): Column =
    SubwordTable.encode(text, new WordPieceKernels.PieceTable(vocab))

  /** Piece COUNT of `text` — no arrays materialize. */
  def pieceCount(text: Column, vocab: Seq[String]): Column =
    SubwordTable.count(text, new WordPieceKernels.PieceTable(vocab))

  /** `df` plus a [[pieces]] column. */
  def withPieces(df: DataFrame, textCol: String, outCol: String,
      pieces: Seq[String]): DataFrame =
    df.withColumn(outCol, this.pieces(col(textCol), pieces))

  /** `df` plus a [[pieceCount]] column. */
  def withPieceCount(df: DataFrame, textCol: String, outCol: String,
      pieces: Seq[String]): DataFrame =
    df.withColumn(outCol, pieceCount(col(textCol), pieces))
}
