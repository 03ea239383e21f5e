package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.classic.ColumnConversions.expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries frequent-items summary (Misra & Gries 1982; the merge
  * rule is the mergeable-summaries form of Agarwal, Cormode, Huang,
  * Phillips, Wei, Yi, PODS 2012 — both public algorithms): at most `k`
  * (term, count) counters with the guarantee
  * `true_count − n/(k+1) ≤ count ≤ true_count`, so EVERY term with
  * true frequency above n/(k+1) is present in the summary — the recall
  * side is unconditional, which is what makes a sketch→exact-verify
  * composition deterministic (see [[graft.text.HeavyHitterTerms]]).
  *
  * Update is the classic stream rule (hit: +1; free slot: insert;
  * full: decrement ALL by 1, dropping zeros — each decrement pays for
  * one increment, so total decrement work is bounded by the stream
  * length: amortized O(1)/item). Merge sums counts, then if over k
  * keeps the top k after subtracting the (k+1)-th largest count — the
  * PODS'12 rule, which preserves the n/(k+1) error bound ACROSS
  * partitions (errors add to the same global bound, they do not
  * compound).
  */
final class MgSummary(val k: Int) {
  private val counts = new java.util.HashMap[String, Long](k * 2)

  def size: Int = counts.size

  def add(term: String): Unit = {
    val c = counts.getOrDefault(term, 0L)
    if (c != 0L) counts.put(term, c + 1L)
    else if (counts.size < k) counts.put(term, 1L)
    else {
      // decrement-all: the one O(k) path, paid for by k prior inserts
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue == 1L) it.remove() else e.setValue(e.getValue - 1L)
      }
    }
  }

  def mergeFrom(other: MgSummary): Unit = {
    other.counts.forEach { (t, c) =>
      val cur = counts.getOrDefault(t, 0L)
      counts.put(t, cur + c)
    }
    if (counts.size > k) {
      val vals = new Array[Long](counts.size)
      var i = 0
      counts.forEach { (_, c) => vals(i) = c; i += 1 }
      java.util.Arrays.sort(vals)
      val cut = vals(counts.size - k - 1) // (k+1)-th largest
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue <= cut) it.remove()
        else e.setValue(e.getValue - cut)
      }
    }
  }

  /** Candidate terms, sorted (summary content is partitioning-
    * dependent; sorting just fixes the ARRAY order for stable plans —
    * determinism of the final operator output comes from the exact
    * recount downstream, not from here). */
  def terms: Array[String] = {
    val out = new Array[String](counts.size)
    var i = 0
    counts.forEach { (t, _) => out(i) = t; i += 1 }
    java.util.Arrays.sort(out, java.util.Comparator.naturalOrder[String]())
    out
  }

  /** Estimated count for `term` (0 when absent). Lower bound is
    * count ≥ true − n/(k+1); used by tests to pin the guarantee. */
  def estimate(term: String): Long = counts.getOrDefault(term, 0L)

  def serialize(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(k)
    out.writeInt(counts.size)
    counts.forEach { (t, c) => out.writeUTF(t); out.writeLong(c) }
    out.flush()
    bos.toByteArray
  }
}

object MgSummary {
  def deserialize(bytes: Array[Byte]): MgSummary = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val k = in.readInt()
    val n = in.readInt()
    val m = new MgSummary(k)
    var i = 0
    while (i < n) {
      val t = in.readUTF(); val c = in.readLong()
      m.counts.put(t, c)
      i += 1
    }
    m
  }
}

/** `graft_heavy_hitters(term, k)` — aggregates a string column into the
  * sorted array of Misra–Gries candidate terms. The whole point of the
  * shape: the vocabulary never shuffles. Each partition reduces its
  * token stream to one ≤k-counter summary (partial aggregation), the
  * final merge combines P summaries — bytes moved are O(P·k), not
  * O(distinct terms), which at 100 TB is the difference between a
  * bounded sketch exchange and a full vocabulary shuffle. */
case class MisraGriesTerms(
    child: Expression,
    kExpression: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MgSummary] {

  private lazy val k: Int = kExpression.eval() match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"k must be a foldable integer, got $other")
  }

  override def children: Seq[Expression] = child :: kExpression :: Nil

  override def checkInputDataTypes(): TypeCheckResult = {
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure("graft_heavy_hitters expects a STRING child")
    else if (!kExpression.foldable)
      TypeCheckResult.TypeCheckFailure("k must be foldable")
    else if (k < 1)
      TypeCheckResult.TypeCheckFailure("k must be >= 1")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_heavy_hitters"

  override def createAggregationBuffer(): MgSummary = new MgSummary(k)

  override def update(buffer: MgSummary, input: InternalRow): MgSummary = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[UTF8String].toString)
    buffer
  }

  override def merge(buffer: MgSummary, other: MgSummary): MgSummary = {
    buffer.mergeFrom(other)
    buffer
  }

  override def eval(buffer: MgSummary): Any =
    new GenericArrayData(
      buffer.terms.map(t => UTF8String.fromString(t): Any))

  override def serialize(buffer: MgSummary): Array[Byte] = buffer.serialize()
  override def deserialize(bytes: Array[Byte]): MgSummary =
    MgSummary.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesTerms =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesTerms =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), kExpression = newChildren(1))
}

object HeavyHitters {
  /** `graft_heavy_hitters(term, k)` ([[MisraGriesTerms]]). */
  def terms(term: Column, k: Int): Column =
    GraftColumn(MisraGriesTerms(expression(term), Literal(k))
      .toAggregateExpression())
}
