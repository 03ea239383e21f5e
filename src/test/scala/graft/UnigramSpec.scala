package graft

import org.apache.spark.unsafe.types.UTF8String

import graft.functions.UnigramKernels
import graft.text.{Bpe, Unigram}

/** Unigram-LM Viterbi pins — the parts the q_unigram_* oracles can't
  * exercise alone: the genuine three-way divergence (unigram vs greedy
  * longest-match vs BPE merge replay on shared inventories), the
  * whole-word [UNK] rule, the equal-total-prefers-longer tie-break, a
  * brute-force enumeration cross-check of the DP, pieceCosts'
  * guarantees, null/blank contract, and codegen/interpreted parity.
  */
class UnigramSpec extends SparkSpec {
  import spark.implicits._

  private def segment(pt: UnigramKernels.PieceTable, text: String) = {
    val arr = pt.encode(UTF8String.fromString(text))
    (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
  }

  test("Viterbi picks the global min-cost segmentation — diverges from " +
      "greedy longest-match on the same inventory") {
    // greedy over {abcd, ab, cd, a, b, c, d} commits to the long RARE
    // piece "abcd"; the likelihood model pays 69+110 < 693 and splits.
    val costed = Seq("abcd" -> 693L, "ab" -> 69L, "cd" -> 110L,
      "a" -> 700L, "b" -> 700L, "c" -> 700L, "d" -> 700L)
    val ug = new UnigramKernels.PieceTable(costed)
    assert(segment(ug, "abcd") === Seq("ab", "cd"))
    val wp = new graft.functions.WordPieceKernels.PieceTable(
      costed.map(_._1))
    val wpArr = wp.encode(UTF8String.fromString("abcd"))
    assert((0 until wpArr.numElements())
      .map(i => wpArr.getUTF8String(i).toString) === Seq("abcd"))
  }

  test("Viterbi diverges from BPE merge-order replay on the same " +
      "learned list — the triangle's third corner is real") {
    // merges [(b,c), (a,b), (ab,c)]: BPE replays rank order — (b,c)
    // fires first and leaves [a, bc]; ranks 1 and 2 find no adjacency.
    // Unigram over pieceCosts of the SAME list can use the rank-2
    // product "abc" directly: 139 < 161+69.
    val merges = Seq(Bpe.Merge(0, "b", "c"), Bpe.Merge(1, "a", "b"),
      Bpe.Merge(2, "ab", "c"))
    val mt = new graft.functions.BpeKernels.MergeTable(
      merges.map(m => (m.left, m.right)))
    val bpeArr = mt.encode(UTF8String.fromString("abc"))
    assert((0 until bpeArr.numElements())
      .map(i => bpeArr.getUTF8String(i).toString) === Seq("a", "bc"))
    val ug = new UnigramKernels.PieceTable(Unigram.pieceCosts(merges))
    assert(segment(ug, "abc") === Seq("abc"))
  }

  test("[UNK]: a word with an uncovered character becomes ONE whole-" +
      "word UNK token (count included) — same rule as WordPiece, and " +
      "the oracle replays it (coalesce after the DP)") {
    val pt = new UnigramKernels.PieceTable(Seq("a" -> 10L, "ab" -> 5L))
    assert(segment(pt, "abx ab") === Seq(UnigramKernels.Unk, "ab"))
    assert(pt.count(UTF8String.fromString("abx ab")) === 2L)
  }

  test("tie-break: equal totals prefer the LONGER last piece at every " +
      "position (the oracle's (total asc, length desc) sort)") {
    // every segmentation of "aaaa" costs 200 and of "aaa" costs 150;
    // the rule prefers the longer LAST piece at each position, so the
    // odd-length word puts its single "a" FIRST ([a, aa], not [aa, a])
    val pt = new UnigramKernels.PieceTable(Seq("aa" -> 100L, "a" -> 50L))
    assert(segment(pt, "aaaa") === Seq("aa", "aa"))
    assert(segment(pt, "aaa") === Seq("a", "aa"))
  }

  test("DP matches brute-force enumeration with the same tie-break " +
      "(seeded random vocabularies and words)") {
    val rnd = new scala.util.Random(20240815L)
    def allSegs(word: String, costs: Map[String, Long]): Seq[Seq[String]] =
      if (word.isEmpty) Seq(Seq.empty)
      else (1 to word.length).flatMap { lp =>
        val p = word.take(lp)
        if (costs.contains(p)) allSegs(word.drop(lp), costs).map(p +: _)
        else Seq.empty
      }
    for (_ <- 1 to 50) {
      val alphabet = "ab" + (if (rnd.nextBoolean()) "c" else "")
      val vocab = (1 to 6).map { _ =>
        val len = 1 + rnd.nextInt(3)
        (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      }.distinct
      val costed = vocab.map(p => p -> (10L + rnd.nextInt(200)))
      val costs = costed.toMap
      val word = (1 to (3 + rnd.nextInt(5)))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      val pt = new UnigramKernels.PieceTable(costed)
      val got = segment(pt, word)
      val segs = allSegs(word, costs)
      if (segs.isEmpty) assert(got === Seq(UnigramKernels.Unk),
        s"word=$word vocab=$costed")
      else {
        // the DP result must be a REAL segmentation of the word at the
        // enumerated minimum total (the longest-last-piece tie-break
        // among equal totals is pinned by the "aaaa" test above)
        assert(segs.contains(got.toSeq),
          s"word=$word vocab=$costed got=$got is not a segmentation")
        assert(got.map(costs).sum === segs.map(_.map(costs).sum).min,
          s"word=$word vocab=$costed got=$got")
      }
    }
  }

  test("pieceCosts: duplicate products keep the earliest mint, every " +
      "constituent char is priced at rank=|merges|, order deterministic") {
    val merges = Seq(Bpe.Merge(0, "a", "bc"), Bpe.Merge(1, "ab", "c"),
      Bpe.Merge(2, "b", "c"))
    val costed = Unigram.pieceCosts(merges)
    val m = costed.toMap
    // "abc" minted at ranks 0 and 1 — rank 0 (cost ln(2)*100=69) wins
    assert(m("abc") === math.round(100.0 * math.log(2.0)))
    assert(m("bc") === math.round(100.0 * math.log(4.0)))
    val charCost = math.round(100.0 * math.log(merges.size + 2.0))
    assert(m("a") === charCost && m("b") === charCost && m("c") === charCost)
    assert(costed === costed.sortBy { case (p, c) => (c, p) })
    // a word over the training alphabet never UNKs
    val pt = new UnigramKernels.PieceTable(costed)
    assert(!segment(pt, "cabcab").contains(UnigramKernels.Unk))
  }

  test("learnCostsFromCounts: deterministic, likelihood-shaped (a piece " +
      "the corpus uses often gets CHEAPER than a rare one regardless of " +
      "seed rank), and the inventory never shrinks") {
    val seed = Unigram.pieceCosts(Seq(
      Bpe.Merge(0, "zq", "x"), Bpe.Merge(1, "a", "b")))   // zqx seeds cheap
    val counts = Seq(("ab", 90L), ("abab", 40L), ("zqx", 1L))
    val once = Unigram.learnCostsFromCounts(counts, seed, 3)
    assert(once === Unigram.learnCostsFromCounts(counts, seed, 3),
      "EM must be bit-deterministic — the frozen-table contract")
    val m = once.toMap
    assert(m.keySet === seed.map(_._1).toSet, "inventory must stay fixed")
    // the corpus uses "ab" ~170x and "zqx" once: likelihood inverts the
    // seed's rank order
    assert(m("ab") < m("zqx"),
      s"frequent piece should be cheaper after EM: $once")
    // zero iterations = the seed untouched
    assert(Unigram.learnCostsFromCounts(counts, seed, 0) === seed)
  }

  test("UnigramLearned: the frozen resource loads under its md5 pin " +
      "and is a valid cost table (the q_unigram_learn oracle input)") {
    val costs = graft.text.UnigramLearned.Costs
    assert(costs.size > 1000, s"expected ~1049 pieces, got ${costs.size}")
    assert(costs.forall { case (p, c) => p.nonEmpty && c >= 0 })
    // valid as a kernel table, and ordered the way the minting CLI
    // prints (cost asc, piece asc) so diffs review cleanly
    new UnigramKernels.PieceTable(costs)
    assert(costs === costs.sortBy { case (p, c) => (c, p) })
  }

  test("null/blank contract + count == size, via the registered kernels") {
    val df = Seq((0L, "the fast scan"), (1L, "   "), (2L, ""),
      (3L, null.asInstanceOf[String]), (4L, "Scan SCAN scan"))
      .toDF("id", "text")
    val costed = Unigram.pieceCosts(Bpe.DemoMerges)
    val rows = df.select($"id", Unigram.pieces($"text", costed).as("t"),
        Unigram.pieceCount($"text", costed).as("n"))
      .orderBy("id").collect()
    assert(rows(1).getSeq[String](1) === Seq.empty)
    assert(rows(1).getLong(2) === 0L)
    assert(rows(3).isNullAt(1) && rows(3).isNullAt(2))
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
      val costed = Unigram.pieceCosts(Bpe.DemoMerges)
      def run() = df.select(Unigram.pieces($"text", costed),
        Unigram.pieceCount($"text", costed)).head()
      val withCodegen = run()
      spark.conf.set(key, "NO_CODEGEN")
      val interpreted = run()
      assert(withCodegen === interpreted)
    } finally spark.conf.set(key, prev)
  }
}
