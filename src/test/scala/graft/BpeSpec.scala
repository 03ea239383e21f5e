package graft

import org.apache.spark.sql.functions._

import graft.functions.BpeKernels
import graft.text.Bpe

/** BPE training + apply semantics pins. The oracle queries
  * (q_bpe_tokens / q_bpe_encode / q_chunk_bpe / q_seq_pack_bpe /
  * q_sample_budget_bpe) hash against DuckDB's replay of the same merge
  * list, so what this suite pins is the parts an oracle can't see:
  * training determinism, the greedy-pass edge cases both engines must
  * agree on, codegen/interpreted parity, and the DemoMerges provenance.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("learnFromCounts: deterministic merges with documented tie-break") {
    // "aaab"×2, "ab"×3: pair counts (a,a)=4, (a,b)=5 → merge 0 = (a,b).
    // Then words are [a,a,ab]×2, [ab]×3: (a,a)=2, (a,ab)=2 — tie,
    // (a,a) < (a,ab) lexicographically → merge 1 = (a,a).
    // Then [aa,ab]×2: (aa,ab)=2 → merge 2.
    val ms = Bpe.learnFromCounts(Seq(("aaab", 2L), ("ab", 3L)), 5)
    assert(ms.map(m => (m.left, m.right)) ===
      Seq(("a", "b"), ("a", "a"), ("aa", "ab")))
    // exhaustion: merge 2 collapses aaab to one token and "ab" is already
    // one token — no pair remains, so 3 learned no matter how many asked
    assert(ms.length === 3)
    val all = Bpe.learnFromCounts(Seq(("aaab", 2L), ("ab", 3L)), 10)
    assert(all.length === 3)
  }

  test("greedy pass: left-to-right run semantics") {
    val mt = new BpeKernels.MergeTable(Seq(("a", "a")))
    def toks(w: String) = {
      val arr = mt.encode(
        org.apache.spark.unsafe.types.UTF8String.fromString(w))
      (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
    }
    assert(toks("aaa") === Seq("aa", "a"))   // NOT a|aa
    assert(toks("aaaa") === Seq("aa", "aa"))
    assert(toks("aaaaa") === Seq("aa", "aa", "a"))
    assert(toks("baaab") === Seq("b", "aa", "a", "b"))
  }

  test("rank order: a later merge cannot re-feed an earlier one") {
    // well-formed list: (a,b) then (ab,c). "abc" → ab then abc.
    val mt = new BpeKernels.MergeTable(Seq(("a", "b"), ("ab", "c")))
    val arr = mt.encode(
      org.apache.spark.unsafe.types.UTF8String.fromString("abc abc"))
    assert((0 until arr.numElements())
      .map(i => arr.getUTF8String(i).toString) === Seq("abc", "abc"))
  }

  test("encode/count contract: blank → empty/0, null → null, count == size") {
    val df = Seq((0L, "the fast scan"), (1L, "   "), (2L, ""),
      (3L, null.asInstanceOf[String]), (4L, "Window WINDOW window"))
      .toDF("id", "text")
    val rows = df.select($"id", Bpe.tokens($"text", Bpe.DemoMerges).as("t"),
        Bpe.tokenCount($"text", Bpe.DemoMerges).as("n"))
      .orderBy("id").collect()
    assert(rows(1).getSeq[String](1) === Seq.empty)
    assert(rows(1).getLong(2) === 0L)
    assert(rows(2).getLong(2) === 0L)
    assert(rows(3).isNullAt(1) && rows(3).isNullAt(2))
    // lowercasing is part of pre-tokenization: all three spellings equal
    assert(rows(4).getSeq[String](1).distinct === Seq("window"))
    rows.filterNot(_.isNullAt(1)).foreach { r =>
      assert(r.getSeq[String](1).size.toLong === r.getLong(2))
    }
  }

  test("codegen and interpreted agree") {
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.get(key, "FALLBACK")
    try {
      val df = Seq((1L, "the query vector joins the sorted window aaa"))
        .toDF("id", "text")
      def run() = df.select(Bpe.tokens($"text", Bpe.DemoMerges),
        Bpe.tokenCount($"text", Bpe.DemoMerges)).head()
      val withCodegen = run()
      spark.conf.set(key, "NO_CODEGEN")
      val interpreted = run()
      assert(withCodegen === interpreted)
    } finally spark.conf.set(key, prev)
  }

  test("DemoMerges provenance: learn(sf0.001 documents, 48) reproduces it") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val learned = Bpe.learn(d, "text", 48)
    assert(learned.map(m => (m.left, m.right)) ===
      Bpe.DemoMerges.map(m => (m.left, m.right)))
  }

  test("BpeLearn1k provenance: learn(sf0.01 bigram pre-tokens, 1024) " +
      "reproduces the frozen list (q_bpe_learn1k's oracle contract)") {
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val bg = Bpe.withBigramPreTokens(
      spark.read.parquet(s"$dir/documents.parquet"), "text", "bg_text")
    val learned = Bpe.learn(bg, "bg_text", 1024)
    assert(learned.size === 1024)
    assert(learned.map(m => (m.left, m.right)) ===
      graft.text.BpeLearn1k.Merges.map(m => (m.left, m.right)))
  }

  test("generator edge cases: the three pre-tokenizations agree after " +
      "empty-filtering (r18 ADVICE)") {
    // Three twins must agree on tab/newline-led and multi-space text:
    // (1) the kernel's Java-trim preTokens, (2) TextAnalysis
    // .nonEmptyTokens (SQL split + drop empties — what q_bpe_tokens'
    // n_ws uses), (3) the oracle's list_filter(regexp_split(...)).
    // Plain tokenCount counts the leading empty split token on
    // "\tfoo" — that drift is exactly why the BPE family moved off it.
    val df = Seq(
      (0L, "\tfoo  bar\n"),   // non-space whitespace at both edges
      (1L, " spaced  out "),  // SQL trim handles this one already
      (2L, "don't\tstop") // apostrophe + tab separator
    ).toDF("id", "text")
    val rows = df.select($"id", Bpe.tokens($"text", Seq.empty).as("t"),
        Bpe.tokenCount($"text", Seq.empty).as("n"),
        graft.text.TextAnalysis.nonEmptyTokenCount($"text").as("n_ws"),
        graft.text.TextAnalysis.tokenCount($"text").as("n_raw"))
      .orderBy("id").collect()
    // per-char tokens under zero merges → count == total non-ws chars,
    // and the WORD segmentation (what matters) comes from preTokens
    assert(rows(0).getLong(3) === 2L) // nonEmptyTokenCount: foo, bar
    // tokenCount counts the "" lead AND the "" tail (Spark split uses
    // limit=-1, keeping trailing empties Java's String.split drops)
    assert(rows(0).getLong(4) === 4L)
    assert(rows(1).getLong(3) === 2L)
    assert(rows(2).getLong(3) === 2L) // don't / stop
    // kernel word segmentation matches nonEmptyTokens: zero-merge token
    // count = sum of word code-point lengths, never counting a phantom
    // empty word
    assert(rows(0).getLong(2) === 6L)  // foo(3) + bar(3)
    assert(rows(2).getLong(2) === 9L)  // don't(5) + stop(4)
  }

  test("chunkTokenArray windows subword tokens with overlap") {
    val df = Seq((0L, Seq("a", "b", "c", "d", "e", "f", "g")),
      (1L, Seq.empty[String]), (2L, null.asInstanceOf[Seq[String]]))
      .toDF("id", "toks")
    val out = graft.text.Chunker
      .chunkTokenArray(df, "id", "toks", chunkTokens = 4, overlapTokens = 1)
      .orderBy("id", "chunk_id").collect()
    // stride 3: starts 0,3,6 → [a b c d], [d e f g], [g]
    assert(out.length === 3)
    assert(out(0).getSeq[String](3) === Seq("a", "b", "c", "d"))
    assert(out(1).getSeq[String](3) === Seq("d", "e", "f", "g"))
    assert(out(2).getSeq[String](3) === Seq("g"))
    assert(out(2).getLong(2) === 1L)
  }
}
