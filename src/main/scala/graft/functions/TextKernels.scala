package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ColumnConversions.expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Text kernels — the [[VectorKernels]] treatment applied to the
  * remaining per-row string UDFs (r14 verdict #2): character shingling
  * (feeds the MinHash family and n-gram Jaccard), the SimHash ±1 vote
  * fold, the Gopher repetition signals, the TypeConvert probe mask and
  * the Bloom membership probe.
  *
  * Each expression runs the function here that replaced its Scala UDF
  * (same algorithm, same fold order — the oracle hashes cannot move),
  * without the UDF's catalyst-converter boxing (Seq/case-class
  * allocation per row per argument), and keeps the surrounding
  * projection inside one WholeStageCodegen span ([[RowKernel]]).
  *
  * Null contracts mirror the UDFs exactly: shingles(null) = empty
  * array, repetition(null) = the zero struct, keep(null) = true (a
  * null text has no repetition), simhash-vote(null) = null. */
object TextKernels {

  private val emptyStringArray: ArrayData =
    new GenericArrayData(Array.empty[Any])

  /** Distinct k-code-point shingles of `s`, first-occurrence order —
    * the kernel behind [[ShingleSet]]; operates on code points (not
    * UTF-16 units) so astral input matches Spark's substr semantics.
    * UTF8String equality is byte equality, which for the valid strings
    * a code-point window produces coincides with String equality — the
    * dedup set and its insertion order match the old String-keyed
    * kernel exactly. */
  def shingleKernel(s: UTF8String, k: Int): ArrayData = {
    if (s == null) return emptyStringArray
    val cps = s.toString.codePoints().toArray
    if (cps.length < k) return emptyStringArray
    val seen = new java.util.LinkedHashSet[UTF8String](
      math.min(cps.length, 1024))
    var i = 0
    while (i + k <= cps.length) {
      seen.add(UTF8String.fromString(new String(cps, i, k))); i += 1
    }
    new GenericArrayData(
      seen.toArray(new Array[AnyRef](seen.size)).asInstanceOf[Array[Any]])
  }

  /** [[graft.text.QualityFilters.repetition]] boxed as an InternalRow —
    * the kernel behind [[RepetitionStruct]]. One struct allocation per
    * row (vs the UDF's case class + converter row). */
  def repetitionKernel(s: UTF8String): InternalRow = {
    val r = graft.text.QualityFilters.repetition(
      if (s == null) null else s.toString)
    new GenericInternalRow(Array[Any](r.n_words, r.dup_word_frac,
      r.top_bigram_char_frac, r.top_trigram_char_frac,
      r.dup_fivegram_char_frac))
  }

  /** [[graft.text.QualityFilters.keep]] over a UTF8String — the kernel
    * behind [[RepetitionKeep]]. */
  def repetitionKeepKernel(s: UTF8String, maxDupWordFrac: Double,
      maxTopBigramCharFrac: Double, maxTopTrigramCharFrac: Double,
      maxDupFivegramCharFrac: Double): Boolean =
    graft.text.QualityFilters.keep(if (s == null) null else s.toString,
      maxDupWordFrac, maxTopBigramCharFrac, maxTopTrigramCharFrac,
      maxDupFivegramCharFrac)

  /** The SimHash ±1 vote fold behind [[SimhashVote]]: per token, then
    * per bit. */
  def simhashVoteKernel(hs: ArrayData, bits: Int): Long = {
    val votes = new Array[Long](bits)
    val n = hs.numElements()
    var t = 0
    while (t < n) {
      val h = hs.getLong(t)
      var b = 0
      while (b < bits) {
        votes(b) += (if (((h >>> b) & 1L) == 1L) 1L else -1L); b += 1
      }
      t += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) { if (votes(b) > 0) sig |= 1L << b; b += 1 }
    sig
  }

  /** [[graft.ops.TypeConvert.probeMask]] over a UTF8String — the kernel
    * behind [[ProbeMask]] (r15 verdict next-#1: the probe ran as a
    * per-cell Scala UDF on the single most expensive bench row,
    * `q_typeconvert_auto`). Pure-ASCII values (no byte ≥ 0x80, no \n/\r)
    * scan the UTF-8 BYTES directly — no UTF-16 decode, no String
    * allocation, which is the UDF's real per-cell cost since the probes
    * only accept ASCII shapes anyway; anything else (multibyte chars,
    * line terminators, and every exotic terminator U+0085/U+2028/U+2029,
    * all multibyte in UTF-8) falls back to the existing String kernel,
    * so the two paths cannot disagree on the inputs the fast path
    * handles — ProbeMaskSpec additionally pins byte-path/String-path
    * equality property-style. */
  def probeMaskUtf8(u: UTF8String): Long = {
    if (u == null) return 0L
    val b = u.getBytes
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if (c < 0 || c == '\n' || c == '\r')
        return graft.ops.TypeConvert.probeMask(u.toString)
      i += 1
    }
    probeMaskAscii(b)
  }

  /** The fused five-probe scanner over a pure-ASCII byte array — the
    * byte-for-char mirror of [[graft.ops.TypeConvert.probeMask]]'s
    * scanner branch (which see for the grammar each probe accepts).
    * Bits: 0 non-null, 1 numeric, 2 integral, 3 datetime-shape,
    * 4 bool-token. */
  private def probeMaskAscii(b: Array[Byte]): Long = {
    var lo = 0
    var hi = b.length
    while (lo < hi && b(lo) == ' ') lo += 1
    while (hi > lo && b(hi - 1) == ' ') hi -= 1
    val n = hi - lo
    def at(k: Int): Char = (b(lo + k) & 0xff).toChar
    def digit(c: Char): Boolean = c >= '0' && c <= '9'
    var mask = 1L
    // integral: ^[+-]?\d+$
    var i = if (n > 0 && (at(0) == '+' || at(0) == '-')) 1 else 0
    var d = 0
    while (i < n && digit(at(i))) { i += 1; d += 1 }
    if (d > 0 && i == n) mask |= 6L // integral implies numeric
    else {
      // numeric: ^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$
      i = if (n > 0 && (at(0) == '+' || at(0) == '-')) 1 else 0
      d = 0
      while (i < n && digit(at(i))) { i += 1; d += 1 }
      var ok = d > 0
      if (i < n && at(i) == '.' && (d > 0 || {
        var j = i + 1; var d2 = 0
        while (j < n && digit(at(j))) { j += 1; d2 += 1 }
        d2 > 0
      })) {
        i += 1
        while (i < n && digit(at(i))) i += 1
        ok = true
      }
      if (ok && i < n && (at(i) == 'e' || at(i) == 'E')) {
        i += 1
        if (i < n && (at(i) == '+' || at(i) == '-')) i += 1
        var de = 0
        while (i < n && digit(at(i))) { i += 1; de += 1 }
        ok = de > 0
      }
      if (ok && i == n) mask |= 2L
      else if (n <= 9) {
        val off = if (n > 0 && (at(0) == '+' || at(0) == '-')) 1 else 0
        val body = new String(b, lo + off, n - off,
          java.nio.charset.StandardCharsets.US_ASCII)
          .toLowerCase(java.util.Locale.ROOT)
        if (body == "inf" || body == "infinity") mask |= 2L
      }
    }
    // datetime shape: ^\d{1,4}[-/]\d{1,2}[-/]\d{1,4}([ T].*)?$
    i = 0
    def run(max: Int): Int = {
      var k = 0
      while (i < n && k < max && digit(at(i))) { i += 1; k += 1 }
      k
    }
    def sep(): Boolean =
      i < n && (at(i) == '-' || at(i) == '/') && { i += 1; true }
    if (run(4) >= 1 && sep() && run(2) >= 1 && sep() && run(4) >= 1 &&
      (i == n || at(i) == ' ' || at(i) == 'T')) mask |= 8L
    if (n <= 5) {
      val t = new String(b, lo, n, java.nio.charset.StandardCharsets.US_ASCII)
        .toLowerCase(java.util.Locale.ROOT)
      if (graft.ops.TypeConvert.boolTokenSet.contains(t)) mask |= 16L
    }
    mask
  }

  /** The [[RepetitionStruct]] result schema — field order is the
    * reading order of QualityFilters.Repetition. */
  val repetitionSchema: StructType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("dup_word_frac", DoubleType, nullable = false),
    StructField("top_bigram_char_frac", DoubleType, nullable = false),
    StructField("top_trigram_char_frac", DoubleType, nullable = false),
    StructField("dup_fivegram_char_frac", DoubleType, nullable = false)))

  /** `graft_shingles(text, k)` ([[ShingleSet]]). */
  def shingles(text: Column, k: Int): Column =
    GraftColumn(ShingleSet(expression(text), k))

  /** `graft_simhash_vote(hashes, bits)` ([[SimhashVote]]). */
  def simhashVote(hashes: Column, bits: Int): Column =
    GraftColumn(SimhashVote(expression(hashes), bits))

  /** `graft_repetition(text)` ([[RepetitionStruct]]). */
  def repetition(text: Column): Column =
    GraftColumn(RepetitionStruct(expression(text)))

  /** `graft_probe_mask(text)` ([[ProbeMask]]). */
  def probeMask(text: Column): Column = GraftColumn(ProbeMask(expression(text)))

  /** `graft_rep_keep(text)` under the four Gopher thresholds
    * ([[RepetitionKeep]]). */
  def repetitionKeep(text: Column, maxDupWordFrac: Double,
      maxTopBigramCharFrac: Double, maxTopTrigramCharFrac: Double,
      maxDupFivegramCharFrac: Double): Column =
    GraftColumn(RepetitionKeep(expression(text), maxDupWordFrac,
      maxTopBigramCharFrac, maxTopTrigramCharFrac, maxDupFivegramCharFrac))

  /** `graft_bloom_contains(hash)` against a broadcast filter
    * ([[BloomMightContainLong]]). */
  def bloomContains(hash: Column, bloom: Broadcast[BloomFilter]): Column =
    GraftColumn(BloomMightContainLong(expression(hash), bloom))
}

/** Distinct character k-shingles, replacing the former
  * `NearDup.shingleUdf`. NULL IN → EMPTY ARRAY out (the UDF contract:
  * a null text simply has no shingles), so the kernel takes the null
  * itself. */
case class ShingleSet(child: Expression, k: Int)
    extends UnaryExpression with RowKernel {
  require(k >= 1, s"shingle size must be >= 1, got $k")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullTotal: Boolean = true
  override def prettyName: String = "graft_shingles"

  override def eval(input: InternalRow): Any =
    TextKernels.shingleKernel(
      child.eval(input).asInstanceOf[UTF8String], k)
  override protected def callee(ctx: CodegenContext): String =
    "graft.functions.TextKernels.shingleKernel"
  override protected def constArgs(ctx: CodegenContext): Seq[Any] = Seq(k)

  override protected def withNewChildInternal(
      newChild: Expression): ShingleSet = copy(child = newChild)
}

/** SimHash ±1 vote fold over a token-hash array, replacing the former
  * `NearDup.simhashVoteUdf`'s loop, same per-token then per-bit
  * accumulation order. Null array → null signature (the UDF contract). */
case class SimhashVote(child: Expression, bits: Int)
    extends UnaryExpression with RowKernel {
  require(bits >= 1 && bits <= 64, s"bits must be in [1, 64], got $bits")

  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash_vote"

  override protected def nullSafeEval(a: Any): Any =
    TextKernels.simhashVoteKernel(a.asInstanceOf[ArrayData], bits)
  override protected def callee(ctx: CodegenContext): String =
    "graft.functions.TextKernels.simhashVoteKernel"
  override protected def constArgs(ctx: CodegenContext): Seq[Any] = Seq(bits)

  override protected def withNewChildInternal(
      newChild: Expression): SimhashVote = copy(child = newChild)
}

/** Gopher repetition signals as a struct, replacing the former
  * `QualityFilters.repetitionUdf`. Null text → the ZERO struct (the
  * UDF contract: no words, no repetition), never a null struct. */
case class RepetitionStruct(child: Expression)
    extends UnaryExpression with RowKernel {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = TextKernels.repetitionSchema
  override protected def nullTotal: Boolean = true
  override def prettyName: String = "graft_repetition"

  override def eval(input: InternalRow): Any =
    TextKernels.repetitionKernel(
      child.eval(input).asInstanceOf[UTF8String])
  override protected def callee(ctx: CodegenContext): String =
    "graft.functions.TextKernels.repetitionKernel"

  override protected def withNewChildInternal(
      newChild: Expression): RepetitionStruct = copy(child = newChild)
}

/** The Gopher keep-predicate as one boolean kernel call, replacing the
  * former `QualityFilters.keepUdf` (thresholds folded INTO the kernel so
  * the plan carries ONE evaluation per row by construction; see
  * gopherRepetitionFilter's scaladoc). Null text → true. */
case class RepetitionKeep(child: Expression, maxDupWordFrac: Double,
    maxTopBigramCharFrac: Double, maxTopTrigramCharFrac: Double,
    maxDupFivegramCharFrac: Double) extends UnaryExpression with RowKernel {
  // thresholds are literals in the generated call (same constraint as
  // SignatureAgreement.minFrac)
  require(java.lang.Double.isFinite(maxDupWordFrac) &&
    java.lang.Double.isFinite(maxTopBigramCharFrac) &&
    java.lang.Double.isFinite(maxTopTrigramCharFrac) &&
    java.lang.Double.isFinite(maxDupFivegramCharFrac),
    "repetition thresholds must be finite")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = BooleanType
  override protected def nullTotal: Boolean = true
  override def prettyName: String = "graft_rep_keep"

  override def eval(input: InternalRow): Any =
    TextKernels.repetitionKeepKernel(
      child.eval(input).asInstanceOf[UTF8String],
      maxDupWordFrac, maxTopBigramCharFrac, maxTopTrigramCharFrac,
      maxDupFivegramCharFrac)
  override protected def callee(ctx: CodegenContext): String =
    "graft.functions.TextKernels.repetitionKeepKernel"
  override protected def constArgs(ctx: CodegenContext): Seq[Any] =
    Seq(maxDupWordFrac, maxTopBigramCharFrac, maxTopTrigramCharFrac,
      maxDupFivegramCharFrac)

  override protected def withNewChildInternal(
      newChild: Expression): RepetitionKeep = copy(child = newChild)
}

/** The TypeConvert five-probe bitmask, replacing the former
  * `TypeConvert.probeMask` Scala UDF (the per-cell probe on every string
  * column of the auto-detection scan). One kernel call per cell
  * ([[TextKernels.probeMaskUtf8]] — ASCII cells scan the UTF-8 bytes in
  * place, no String allocation), no converter boxing, and the detection
  * projection stays inside one WholeStageCodegen span. Null text → 0L
  * (bit 0 clear), the UDF contract, so the kernel takes the null
  * itself. */
case class ProbeMask(child: Expression) extends UnaryExpression with RowKernel {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override protected def nullTotal: Boolean = true
  override def prettyName: String = "graft_probe_mask"

  override def eval(input: InternalRow): Any =
    TextKernels.probeMaskUtf8(child.eval(input).asInstanceOf[UTF8String])
  override protected def callee(ctx: CodegenContext): String =
    "graft.functions.TextKernels.probeMaskUtf8"

  override protected def withNewChildInternal(
      newChild: Expression): ProbeMask = copy(child = newChild)
}

/** Bloom membership probe over a 64-bit hash, replacing the former
  * `Decontaminate.flagContaminatedBloom` Long→Boolean UDF. The filter
  * rides as a BROADCAST handle (not a child expression): a
  * serialized-bytes literal child would embed megabytes in the plan
  * string and re-ship per stage, while the broadcast ships once per
  * executor — the 100 TB shape. The generated code materializes the
  * filter from the broadcast ONCE per codegen instance (a mutable-state
  * init) and probes with a primitive long per row — no boxing, no
  * codegen-span break.
  *
  * Built by [[TextKernels.bloomContains]]
  * ([[graft.text.Decontaminate.flagContaminatedBloom]] is the caller). */
case class BloomMightContainLong(child: Expression,
    bloom: Broadcast[BloomFilter]) extends UnaryExpression with RowKernel {

  override def inputTypes = Seq(LongType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  override protected def nullSafeEval(h: Any): Any =
    bloom.value.mightContainLong(h.asInstanceOf[Long])
  override protected def callee(ctx: CodegenContext): String = {
    val bcRef = ctx.addReferenceObj("graftBloomBc", bloom,
      "org.apache.spark.broadcast.Broadcast")
    val filter = ctx.addMutableState(
      "org.apache.spark.util.sketch.BloomFilter", "graftBloomFilter",
      v => s"$v = (org.apache.spark.util.sketch.BloomFilter) $bcRef.value();")
    s"$filter.mightContainLong"
  }

  override protected def withNewChildInternal(
      newChild: Expression): BloomMightContainLong = copy(child = newChild)
}
