package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.WordPieceKernels
import graft.text.{Bpe, WordPiece}

/** Greedy longest-match (WordPiece-inference) pins — the parts the
  * q_wordpiece_* oracles can't see: the [UNK] rule (the oracle
  * vocabulary never UNKs by construction), the genuine divergence from
  * BPE merge-order apply on a shared vocabulary, null/blank contract,
  * codegen/interpreted parity, and vocabFromMerges' guarantees.
  */
class WordPieceSpec extends SparkSpec {
  import spark.implicits._

  private def segment(pt: WordPieceKernels.PieceTable, text: String) = {
    val arr = pt.encode(UTF8String.fromString(text))
    (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
  }

  test("greedy longest-match takes the longest prefix at every step") {
    val pt = new WordPieceKernels.PieceTable(
      Seq("ab", "bc", "a", "b", "c", "abcd"))
    assert(segment(pt, "abc") === Seq("ab", "c"))   // ab beats a
    assert(segment(pt, "abcd") === Seq("abcd"))     // whole-word piece wins
    assert(segment(pt, "abcb") === Seq("ab", "c", "b"))
    assert(segment(pt, "cab cab") === Seq("c", "ab", "c", "ab"))
  }

  test("greedy diverges from BPE merge-order apply on the same " +
      "vocabulary — it IS a second tokenizer") {
    // BPE list [(b,c)]: "abc" merges b+c first -> [a, bc].
    // Greedy over pieces {ab, bc, a, b, c}: longest prefix at pos 0 is
    // "ab" -> [ab, c]. Same inventory, different segmentation.
    val mt = new graft.functions.BpeKernels.MergeTable(Seq(("b", "c")))
    val bpeArr = mt.encode(UTF8String.fromString("abc"))
    val bpe = (0 until bpeArr.numElements())
      .map(i => bpeArr.getUTF8String(i).toString)
    val pt = new WordPieceKernels.PieceTable(Seq("ab", "bc", "a", "b", "c"))
    assert(bpe === Seq("a", "bc"))
    assert(segment(pt, "abc") === Seq("ab", "c"))
  }

  test("[UNK]: a word with any unmatchable position becomes ONE UNK " +
      "token (the BERT rule), count included") {
    val pt = new WordPieceKernels.PieceTable(Seq("a", "ab"))
    assert(segment(pt, "abx ab") === Seq(WordPieceKernels.Unk, "ab"))
    assert(pt.count(UTF8String.fromString("abx ab")) === 2L)
  }

  test("null/blank contract + count == size, via the registered kernels") {
    val df = Seq((0L, "the fast scan"), (1L, "   "), (2L, ""),
      (3L, null.asInstanceOf[String]), (4L, "Scan SCAN scan"))
      .toDF("id", "text")
    val vocab = WordPiece.vocabFromMerges(Bpe.DemoMerges)
    val rows = df.select($"id", WordPiece.pieces($"text", vocab).as("t"),
        WordPiece.pieceCount($"text", vocab).as("n"))
      .orderBy("id").collect()
    assert(rows(1).getSeq[String](1) === Seq.empty)
    assert(rows(1).getLong(2) === 0L)
    assert(rows(3).isNullAt(1) && rows(3).isNullAt(2))
    assert(rows(4).getSeq[String](1).distinct === Seq("scan"))
    rows.filterNot(_.isNullAt(1)).foreach { r =>
      assert(r.getSeq[String](1).size.toLong === r.getLong(2))
    }
  }

  test("codegen and interpreted agree") {
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.get(key, "FALLBACK")
    try {
      val df = Seq((1L, "the query vector joins the sorted window"))
        .toDF("id", "text")
      val vocab = WordPiece.vocabFromMerges(Bpe.DemoMerges)
      def run() = df.select(WordPiece.pieces($"text", vocab),
        WordPiece.pieceCount($"text", vocab)).head()
      val withCodegen = run()
      spark.conf.set(key, "NO_CODEGEN")
      val interpreted = run()
      assert(withCodegen === interpreted)
    } finally spark.conf.set(key, prev)
  }

  test("vocabFromMerges: every constituent character is a piece (no " +
      "UNK on the training alphabet) and order is deterministic") {
    val vocab = WordPiece.vocabFromMerges(graft.text.BpeLearn1k.Merges)
    val chars = graft.text.BpeLearn1k.Merges
      .flatMap(m => (m.left + m.right).map(_.toString)).toSet
    assert(chars.subsetOf(vocab.toSet))
    // longest-first, then lexicographic — stable SQL literal rendering
    assert(vocab === vocab.sortBy(p => (-p.length, p)))
    // a word over the alphabet never UNKs
    val pt = new WordPieceKernels.PieceTable(vocab)
    val anyWord = "window_table"
    assert(!segment(pt, anyWord).contains(WordPieceKernels.Unk))
  }
}
