package graft.functions

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ColumnConversions.expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The scaffold shared by the three subword tokenizer families
  * ([[BpeKernels.MergeTable]], [[WordPieceKernels.PieceTable]],
  * [[UnigramKernels.PieceTable]]): whitespace pre-tokenization, a
  * bounded per-executor word memo and the per-document encode/count
  * kernels. A family supplies only `segment(word)`. Tables ship to
  * executors once per plan via `addReferenceObj` ([[SubwordEncode]] /
  * [[SubwordCount]]), and `family` names the expressions
  * (`graft_<family>_encode` / `graft_<family>_count`). */
abstract class SubwordTable(val family: String) extends Serializable {

  /** Segmentation of one whitespace pre-token (no memo). */
  protected def segment(word: String): Array[String]

  /** Word → pieces memo. Bounded: at 2^16 entries the map is cleared,
    * not capped — output never depends on cache state, and a clear under
    * a pathological vocabulary is cheaper than an LRU.
    * ConcurrentHashMap because codegen references are shared across a
    * stage's tasks within one executor JVM. */
  @transient private lazy val memo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[String]](1024)

  def piecesOf(word: String): Array[String] = {
    val hit = memo.get(word)
    if (hit != null) return hit
    val toks = segment(word)
    if (memo.size >= SubwordTable.MaxMemo) memo.clear()
    memo.put(word, toks)
    toks
  }

  /** Flat piece array over the whole document (word pieces concatenated
    * in word order). Blank/empty → empty array. */
  def encode(text: UTF8String): ArrayData = {
    val words = SubwordTable.preTokens(text)
    var n = 0
    val perWord = new Array[Array[String]](words.length)
    var i = 0
    while (i < words.length) {
      val t = piecesOf(words(i)); perWord(i) = t; n += t.length; i += 1
    }
    val out = new Array[Any](n)
    var k = 0
    i = 0
    while (i < words.length) {
      val t = perWord(i)
      var j = 0
      while (j < t.length) { out(k) = UTF8String.fromString(t(j)); k += 1; j += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Piece COUNT — the cheap path: no per-piece UTF8String or array
    * materializes when only the count is needed (budget sampling,
    * packing placement). */
  def count(text: UTF8String): Long = {
    val words = SubwordTable.preTokens(text)
    var n = 0L
    var i = 0
    while (i < words.length) { n += piecesOf(words(i)).length; i += 1 }
    n
  }
}

object SubwordTable {
  private val MaxMemo = 1 << 16

  /** `graft_<family>_encode(text)` over `table` ([[SubwordEncode]]). */
  def encode(text: Column, table: SubwordTable): Column =
    GraftColumn(SubwordEncode(expression(text), table))

  /** `graft_<family>_count(text)` over `table` ([[SubwordCount]]). */
  def count(text: Column, table: SubwordTable): Column =
    GraftColumn(SubwordCount(expression(text), table))

  /** Whitespace pre-tokens of `text` — MUST match
    * [[graft.text.TextAnalysis.nonEmptyTokens]] (lower, split on
    * `\s+`, DROP empty tokens) and the oracle's
    * `list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
    * x -> x <> '')`. Java `trim` strips all chars ≤ U+0020, so a
    * tab/newline-led word never yields a leading empty token here —
    * the same result the empty-filter gives the other two twins
    * (BpeSpec pins the edge case). Locale.ROOT: Spark's `lower` is
    * locale-independent. */
  private def preTokens(text: UTF8String): Array[String] = {
    val t = text.toString.toLowerCase(java.util.Locale.ROOT).trim
    if (t.isEmpty) Array.empty[String] else t.split("\\s+")
  }
}

/** The Encode/Count pair over a [[SubwordTable]]: string in, null in →
  * null out. The generated code calls the table's `encode`/`count`. */
sealed trait SubwordKernel extends UnaryExpression with RowKernel {
  def table: SubwordTable
  protected def op: String

  override def inputTypes = Seq(StringType)
  override def prettyName: String = s"graft_${table.family}_$op"

  override protected def callee(ctx: CodegenContext): String = {
    val ref = ctx.addReferenceObj("graftSubwordTable", table,
      classOf[SubwordTable].getName)
    s"$ref.$op"
  }
}

/** Tokenize to a flat array<string> — blank in → empty array (a blank
  * doc has zero tokens, not a null count). */
case class SubwordEncode(child: Expression, table: SubwordTable)
    extends SubwordKernel {
  protected def op: String = "encode"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(s: Any): Any =
    table.encode(s.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(
      newChild: Expression): SubwordEncode = copy(child = newChild)
}

/** Token count — [[SubwordEncode]].size without materializing the
  * tokens. */
case class SubwordCount(child: Expression, table: SubwordTable)
    extends SubwordKernel {
  protected def op: String = "count"
  override def dataType: DataType = LongType
  override protected def nullSafeEval(s: Any): Any =
    table.count(s.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(
      newChild: Expression): SubwordCount = copy(child = newChild)
}
