package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Primitive value→count histogram: open-addressing hash map keyed by raw
  * double bits with long counts — no per-update boxing, array-backed
  * serialize/merge. The exact-mode buffer for [[ExactPercentile]].
  */
final class DoubleCounts(initialCapacity: Int = 1 << 10) {
  // capacity is a power of two; EMPTY slots are marked by count == 0
  private var cap = Integer.highestOneBit(math.max(initialCapacity, 16) * 2 - 1)
  private var keys = new Array[Long](cap)
  private var counts = new Array[Long](cap)
  private var used = 0

  def size: Int = used

  private def mix(k: Long): Int = {
    // splitmix64 finalizer, truncated to the table mask
    var z = k + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    (z ^ (z >>> 31)).toInt & (cap - 1)
  }

  def add(bits: Long, n: Long): Unit = {
    var i = mix(bits)
    while (counts(i) != 0 && keys(i) != bits) i = (i + 1) & (cap - 1)
    if (counts(i) == 0) { keys(i) = bits; used += 1 }
    counts(i) += n
    if (used * 2 > cap) grow()
  }

  private def grow(): Unit = {
    val ok = keys; val oc = counts
    cap <<= 1
    keys = new Array[Long](cap)
    counts = new Array[Long](cap)
    used = 0
    var i = 0
    while (i < ok.length) {
      if (oc(i) != 0) add(ok(i), oc(i))
      i += 1
    }
  }

  def foreach(f: (Long, Long) => Unit): Unit = {
    var i = 0
    while (i < cap) {
      if (counts(i) != 0) f(keys(i), counts(i))
      i += 1
    }
  }

  /** Count for `bits` (0 when absent). */
  def get(bits: Long): Long = {
    var i = mix(bits)
    while (counts(i) != 0 && keys(i) != bits) i = (i + 1) & (cap - 1)
    counts(i)
  }

  def writeTo(out: DataOutputStream): Unit = {
    out.writeInt(used)
    foreach { (k, n) => out.writeLong(k); out.writeLong(n) }
  }
}

object DoubleCounts {
  def readFrom(in: DataInputStream): DoubleCounts = {
    val n = in.readInt()
    val m = new DoubleCounts(math.max(n * 2, 16))
    var i = 0
    while (i < n) { m.add(in.readLong(), in.readLong()); i += 1 }
    m
  }
}

/** Fixed-size weighted histogram — the bounded spill target once a
  * percentile buffer exceeds its exact-distinct budget. A merging digest
  * with a UNIFORM scale function: finite values accumulate in an
  * insertion buffer; on flush the buffer is sorted, 2-way-merged with the
  * existing (sorted) centroids, and recompacted in one pass, closing a
  * bin once its weight reaches ceil(total/maxBins). Quantile error
  * is therefore ~1/maxBins of the mass (maxBins = 2048 → ≲0.05 %), memory
  * is O(maxBins) forever, and weighted adds are O(1) amortized — so
  * migrating a skewed exact histogram (one value with 10^9 count) costs
  * one add, not 10^9.
  *
  * Ordering semantics mirror the exact path's total order
  * (-Inf < finite < +Inf < NaN): non-finite mass is tracked in exact side
  * counters, and the true finite min/max are kept so p=0/p=1 stay exact.
  */
final class BinnedDigest(val maxBins: Int) {
  private var centroids = new Array[Double](0)
  private var weights = new Array[Long](0)
  private var nBins = 0
  private val bufV = new Array[Double](maxBins)
  private val bufW = new Array[Long](maxBins)
  private var nBuf = 0

  var negInf = 0L
  var posInf = 0L
  var nan = 0L
  var finiteTotal = 0L
  var finiteMin = Double.PositiveInfinity
  var finiteMax = Double.NegativeInfinity

  def totalCount: Long = negInf + finiteTotal + posInf + nan
  def binCount: Int = { flush(); nBins }

  def add(v: Double, w: Long): Unit = {
    if (w <= 0) return
    if (v != v) nan += w
    else if (v == Double.PositiveInfinity) posInf += w
    else if (v == Double.NegativeInfinity) negInf += w
    else {
      if (v < finiteMin) finiteMin = v
      if (v > finiteMax) finiteMax = v
      finiteTotal += w
      bufV(nBuf) = v; bufW(nBuf) = w; nBuf += 1
      if (nBuf == maxBins) flush()
    }
  }

  def flush(): Unit = {
    if (nBuf == 0) return
    // sort the insertion buffer by value (maxBins is small; index sort)
    val order = Array.range(0, nBuf).sortBy(bufV(_))
    val mergedV = new Array[Double](nBins + nBuf)
    val mergedW = new Array[Long](nBins + nBuf)
    var i = 0; var j = 0; var m = 0
    while (i < nBins || j < nBuf) {
      val takeOld = j >= nBuf || (i < nBins && centroids(i) <= bufV(order(j)))
      if (takeOld) { mergedV(m) = centroids(i); mergedW(m) = weights(i); i += 1 }
      else { mergedV(m) = bufV(order(j)); mergedW(m) = bufW(order(j)); j += 1 }
      m += 1
    }
    nBuf = 0
    // one-pass recompaction: close a bin as soon as it REACHES the uniform
    // weight limit. Every closed bin then carries ≥ limit weight, so the
    // output has ≤ total/limit + 1 ≤ maxBins + 1 bins — a hard bound even
    // for adversarial weight sequences.
    val limit = math.max(1L, (finiteTotal + maxBins - 1) / maxBins)
    val outV = new Array[Double](maxBins + 1)
    val outW = new Array[Long](maxBins + 1)
    var outN = 0
    var accW = 0L
    var accVW = 0.0 // weighted value sum of the open bin
    var k = 0
    while (k < m) {
      accW += mergedW(k); accVW += mergedV(k) * mergedW(k)
      if (accW >= limit) {
        outV(outN) = accVW / accW; outW(outN) = accW; outN += 1
        accW = 0L; accVW = 0.0
      }
      k += 1
    }
    if (accW > 0) { outV(outN) = accVW / accW; outW(outN) = accW; outN += 1 }
    centroids = java.util.Arrays.copyOf(outV, outN)
    weights = java.util.Arrays.copyOf(outW, outN)
    nBins = outN
  }

  /** Absorb another digest: counters exactly, bins as weighted adds (the
    * true min/max are merged explicitly — centroid means would shrink them). */
  def mergeFrom(other: BinnedDigest): Unit = {
    other.flush()
    negInf += other.negInf; posInf += other.posInf; nan += other.nan
    val oMin = other.finiteMin; val oMax = other.finiteMax
    var i = 0
    while (i < other.nBins) { add(other.centroids(i), other.weights(i)); i += 1 }
    if (oMin < finiteMin) finiteMin = oMin
    if (oMax > finiteMax) finiteMax = oMax
  }

  /** Estimated value at 0-based rank `r` within the FINITE mass, by
    * piecewise-linear interpolation over centroid midpoints, anchored at
    * the exact finite min (rank mass 0) and max (rank mass finiteTotal). */
  def finiteValueAtRank(r: Long): Double = {
    flush()
    if (r <= 0L) return finiteMin // p=0 stays exact
    if (r >= finiteTotal - 1) return finiteMax // p=1 stays exact
    if (nBins == 1) return centroids(0)
    val pos = r + 0.5 // center of this unit of mass in [0, finiteTotal]
    var cum = 0L
    var prevPos = 0.0
    var prevVal = finiteMin
    var i = 0
    while (i < nBins) {
      val mid = cum + weights(i) / 2.0
      if (pos <= mid) {
        val span = mid - prevPos
        return if (span <= 0) centroids(i)
        else prevVal + (pos - prevPos) / span * (centroids(i) - prevVal)
      }
      prevPos = mid; prevVal = centroids(i)
      cum += weights(i); i += 1
    }
    val span = finiteTotal - prevPos
    if (span <= 0) finiteMax
    else prevVal + (pos - prevPos) / span * (finiteMax - prevVal)
  }

  /** Value at 0-based rank over ALL mass in the total order
    * -Inf < finite < +Inf < NaN. */
  def valueAtRank(r: Long): Double = {
    if (r < negInf) Double.NegativeInfinity
    else if (r < negInf + finiteTotal) finiteValueAtRank(r - negInf)
    else if (r < negInf + finiteTotal + posInf) Double.PositiveInfinity
    else Double.NaN
  }

  def writeTo(out: DataOutputStream): Unit = {
    flush()
    out.writeInt(maxBins)
    out.writeLong(negInf); out.writeLong(posInf); out.writeLong(nan)
    out.writeLong(finiteTotal)
    out.writeDouble(finiteMin); out.writeDouble(finiteMax)
    out.writeInt(nBins)
    var i = 0
    while (i < nBins) {
      out.writeDouble(centroids(i)); out.writeLong(weights(i)); i += 1
    }
  }
}

object BinnedDigest {
  /** ~0.05 % worst-case quantile error; 32 KiB per buffer. */
  val DefaultBins = 2048

  def readFrom(in: DataInputStream): BinnedDigest = {
    val d = new BinnedDigest(in.readInt())
    d.negInf = in.readLong(); d.posInf = in.readLong(); d.nan = in.readLong()
    val finTotal = in.readLong()
    d.finiteMin = in.readDouble(); d.finiteMax = in.readDouble()
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val v = in.readDouble(); val w = in.readLong()
      d.add(v, w); i += 1
    }
    // bin weights sum exactly to finiteTotal and centroids sit inside
    // [finiteMin, finiteMax], so the adds above restored both; assign the
    // serialized total anyway to keep the invariant explicit
    d.finiteTotal = finTotal
    d
  }
}

/** Aggregation buffer for [[ExactPercentile]]: an exact value→count
  * histogram up to `maxDistinct` distinct doubles, spilling irreversibly
  * to a [[BinnedDigest]] beyond it. The spill walks the exact histogram's
  * (value, count) pairs as WEIGHTED digest adds — O(maxDistinct), never
  * O(row count) — so a skewed column can't stall migration. Once either
  * side of a merge is approximate the merged buffer is approximate.
  */
final class PctBuffer(val maxDistinct: Int) {
  var exact: DoubleCounts = new DoubleCounts()
  var digest: BinnedDigest = null

  def isApprox: Boolean = digest != null

  def add(bits: Long, n: Long): Unit = {
    if (digest != null) digest.add(java.lang.Double.longBitsToDouble(bits), n)
    else {
      exact.add(bits, n)
      if (exact.size > maxDistinct) spill()
    }
  }

  private def spill(): Unit = {
    val d = new BinnedDigest(BinnedDigest.DefaultBins)
    exact.foreach((k, n) => d.add(java.lang.Double.longBitsToDouble(k), n))
    digest = d
    exact = null
  }

  def merge(other: PctBuffer): Unit = {
    if (other.digest != null) {
      if (digest == null) spill()
      digest.mergeFrom(other.digest)
    } else if (digest != null) {
      other.exact.foreach((k, n) =>
        digest.add(java.lang.Double.longBitsToDouble(k), n))
    } else {
      other.exact.foreach((k, n) => add(k, n))
    }
  }

  def serialize(): Array[Byte] = {
    val bos = new ByteArrayOutputStream(64)
    val out = new DataOutputStream(bos)
    out.writeInt(maxDistinct)
    if (digest != null) { out.writeByte(1); digest.writeTo(out) }
    else { out.writeByte(0); exact.writeTo(out) }
    out.flush()
    bos.toByteArray
  }
}

object PctBuffer {
  def deserialize(bytes: Array[Byte]): PctBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new PctBuffer(in.readInt())
    if (in.readByte() == 1) { b.digest = BinnedDigest.readFrom(in); b.exact = null }
    else b.exact = DoubleCounts.readFrom(in)
    b
  }
}

/** Exact interpolating percentile over DOUBLE input — a semantics twin of
  * Spark's built-in `percentile` (value→count map, sort by value,
  * position = p·(N−1), linear interpolation between the bracketing
  * values) with a primitive buffer instead of the generic
  * `OpenHashMap[AnyRef, Long]`: updates don't box every double into a
  * map key, and merge/serialize walk primitive arrays. On high-
  * cardinality numeric columns (where the map holds ~one entry per row)
  * this is the difference between an allocation per input row and none.
  *
  * The buffer is BOUNDED (SURVEY §4.2's 100 TB profile): beyond
  * `maxDistinct` distinct values it spills to a fixed-size merging digest
  * (±~0.05 % of the mass per quantile) instead of growing without limit —
  * a continuous double column with billions of distincts costs O(2048)
  * per partial, not an executor OOM. The bound is the optional third
  * argument `graft_percentile(col, p, maxDistinct)`; two-argument calls
  * read `spark.graft.percentile.maxDistinct` (default 2^20 ≈ 10^6, ~32 MiB
  * peak per column-partial) at resolution time. Oracle-facing runs stay
  * exact because TPC-H-ish column cardinalities sit far below the bound;
  * set the conf lower only when approximate quantiles are acceptable.
  *
  * Interpolation parity with the built-in (exact mode) is pinned by a
  * randomized equality spec (PropertySpec) and by the five oracle queries
  * whose values flow through it (IQR/MAD/iforest outliers, fill_median,
  * scaling stats); the spill path is pinned by ApproxPercentileSpec.
  * Callers cast the child to DOUBLE, matching how `graft.ops.Stats`
  * always invoked the built-in.
  */
case class ExactPercentile(
    child: Expression,
    percentageExpression: Expression,
    maxDistinct: Int = ExactPercentile.DefaultMaxDistinct,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PctBuffer] {

  private lazy val returnArray =
    percentageExpression.dataType.isInstanceOf[ArrayType]

  private lazy val percentages: Array[Double] =
    percentageExpression.eval() match {
      case d: Double => Array(d)
      case arr: ArrayData => arr.toDoubleArray()
      case other => throw new IllegalArgumentException(
        s"percentage must be a foldable double or array<double>, got $other")
    }

  override def children: Seq[Expression] = child :: percentageExpression :: Nil

  override def checkInputDataTypes(): TypeCheckResult = {
    if (child.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure("graft_percentile expects a DOUBLE child")
    else if (!percentageExpression.foldable)
      TypeCheckResult.TypeCheckFailure("percentage must be foldable")
    else if (percentages.exists(p => p < 0.0 || p > 1.0))
      TypeCheckResult.TypeCheckFailure("percentage must be in [0, 1]")
    else if (maxDistinct < 1)
      TypeCheckResult.TypeCheckFailure("maxDistinct must be >= 1")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType =
    if (returnArray) ArrayType(DoubleType, containsNull = false) else DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_percentile"

  override def createAggregationBuffer(): PctBuffer = new PctBuffer(maxDistinct)

  override def update(buffer: PctBuffer, input: InternalRow): PctBuffer = {
    val v = child.eval(input)
    if (v != null) {
      buffer.add(java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]), 1L)
    }
    buffer
  }

  override def merge(buffer: PctBuffer, other: PctBuffer): PctBuffer = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: PctBuffer): Any =
    if (buffer.isApprox) {
      // Attributable, not silent: the exact→approximate switch changes
      // the result contract (±~0.05 % rank error vs the reference's
      // exact median) with no change in output shape, so leave one log
      // line per spilled aggregate result saying it happened and under
      // which bound. eval runs once per aggregate group —
      // for the global aggs Stats issues, that is one line per column.
      ExactPercentile.log.warn(
        s"graft_percentile(${child.sql}) exceeded maxDistinct=$maxDistinct " +
          "distinct values and returned an APPROXIMATE quantile " +
          "(fixed-size merging digest, ~0.05% rank error); raise " +
          s"${ExactPercentile.MaxDistinctKey} for an exact result")
      evalApprox(buffer.digest)
    } else evalExact(buffer.exact)

  private def evalExact(hist: DoubleCounts): Any = {
    if (hist.size == 0) return null
    val out = ExactPercentile.exactAt(hist, percentages)
    if (returnArray) new GenericArrayData(out) else out(0)
  }

  private def evalApprox(d: BinnedDigest): Any = {
    if (d.totalCount == 0) return null
    val out = ExactPercentile.approxAt(d, percentages)
    if (returnArray) new GenericArrayData(out) else out(0)
  }

  override def serialize(buffer: PctBuffer): Array[Byte] = buffer.serialize()
  override def deserialize(bytes: Array[Byte]): PctBuffer =
    PctBuffer.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): ExactPercentile =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ExactPercentile =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ExactPercentile =
    copy(child = newChildren(0), percentageExpression = newChildren(1))
}

/** One-pass median + deviation percentile (r22, guide §1.2 "fewer
  * passes"): the two-pass MAD shape — job 1 `median(x)`, job 2
  * `percentile(|x − median|, p)` — re-scans the input only to fold it
  * around a scalar the first pass already fully determines. In EXACT
  * mode the value→count histogram determines the |x − med| multiset
  * precisely (fold each distinct value through the identical IEEE
  * `|v − med|`, merging counts of values that collide), so the deviation
  * percentile comes out of the SAME buffer bit-for-bit equal to what the
  * second scan would compute — one corpus scan instead of two.
  *
  * Returns struct<median double, dev double>. When the buffer has
  * SPILLED to the digest, `dev` is null (a digest cannot reproduce the
  * second pass's row-exact fold) and `median` is the digest median —
  * exactly pass 1's value today — so callers run the old second job only
  * in that case and results are identical on both paths. Null on zero
  * non-null rows, like graft_percentile.
  */
case class MedianAbsDev(
    child: Expression,
    devPercentageExpression: Expression,
    maxDistinct: Int = ExactPercentile.DefaultMaxDistinct,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PctBuffer] {

  private lazy val devP: Double = devPercentageExpression.eval() match {
    case d: Double => d
    case other => throw new IllegalArgumentException(
      s"dev percentage must be a foldable double, got $other")
  }

  override def children: Seq[Expression] =
    child :: devPercentageExpression :: Nil

  override def checkInputDataTypes(): TypeCheckResult = {
    if (child.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure("graft_median_absdev expects a DOUBLE child")
    else if (!devPercentageExpression.foldable)
      TypeCheckResult.TypeCheckFailure("dev percentage must be foldable")
    else if (devP < 0.0 || devP > 1.0)
      TypeCheckResult.TypeCheckFailure("dev percentage must be in [0, 1]")
    else if (maxDistinct < 1)
      TypeCheckResult.TypeCheckFailure("maxDistinct must be >= 1")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = StructType(Seq(
    StructField("median", DoubleType, nullable = true),
    StructField("dev", DoubleType, nullable = true)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_median_absdev"

  override def createAggregationBuffer(): PctBuffer = new PctBuffer(maxDistinct)

  override def update(buffer: PctBuffer, input: InternalRow): PctBuffer = {
    val v = child.eval(input)
    if (v != null)
      buffer.add(java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]), 1L)
    buffer
  }

  override def merge(buffer: PctBuffer, other: PctBuffer): PctBuffer = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: PctBuffer): Any =
    if (buffer.isApprox) {
      ExactPercentile.log.warn(
        s"graft_median_absdev(${child.sql}) exceeded maxDistinct=" +
          s"$maxDistinct distinct values: returning the digest median " +
          "and a NULL deviation — the caller falls back to the two-pass " +
          "deviation scan (identical result, one extra job)")
      if (buffer.digest.totalCount == 0) null
      else {
        val m = ExactPercentile.approxAt(buffer.digest, Array(0.5))(0)
        new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(Array[Any](m, null))
      }
    } else {
      val hist = buffer.exact
      if (hist.size == 0) return null
      val med = ExactPercentile.exactAt(hist, Array(0.5))(0)
      // fold the histogram around the median with the IDENTICAL IEEE op a
      // second scan would apply per row; equal |v − med| results merge
      // their counts, so the folded histogram IS the second pass's buffer
      val folded = new DoubleCounts(math.min(hist.size * 2, 1 << 16))
      hist.foreach { (bits, n) =>
        val d = math.abs(java.lang.Double.longBitsToDouble(bits) - med)
        folded.add(java.lang.Double.doubleToLongBits(d), n)
      }
      val dev = ExactPercentile.exactAt(folded, Array(devP))(0)
      new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](med, dev))
    }

  override def serialize(buffer: PctBuffer): Array[Byte] = buffer.serialize()
  override def deserialize(bytes: Array[Byte]): PctBuffer =
    PctBuffer.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): MedianAbsDev =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MedianAbsDev =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MedianAbsDev =
    copy(child = newChildren(0), devPercentageExpression = newChildren(1))
}

object ExactPercentile {
  private[functions] val log =
    org.slf4j.LoggerFactory.getLogger(classOf[ExactPercentile])

  /** Exact-mode distinct budget per column-partial (~32 MiB peak). */
  val DefaultMaxDistinct: Int = 1 << 20

  /** Exact interpolated percentiles over a non-empty value→count
    * histogram (shared by [[ExactPercentile]] and [[MedianAbsDev]]).
    * Sort distinct values ascending (total order: -0.0 < 0.0, NaN last —
    * same result positions as the built-in's physical double ordering).
    * The raw-bits keys are made SIGNED-sortable (negatives: flip the 63
    * value bits) so a primitive Arrays.sort replaces a boxed sortBy —
    * on a ~600 k-distinct column that removes ~1.2 M boxed allocations
    * per eval; counts are re-read from the open hash map afterwards. */
  private[functions] def exactAt(hist: DoubleCounts,
      percentages: Array[Double]): Array[Double] = {
    val m = hist.size
    val sortKeys = new Array[Long](m)
    var i = 0
    hist.foreach { (k, _) =>
      sortKeys(i) = if (k < 0) k ^ 0x7fffffffffffffffL else k; i += 1
    }
    java.util.Arrays.sort(sortKeys)
    val vals = new Array[Double](m)
    val cum = new Array[Long](m)
    var total = 0L
    i = 0
    while (i < m) {
      val bits = if (sortKeys(i) < 0) sortKeys(i) ^ 0x7fffffffffffffffL
                 else sortKeys(i)
      vals(i) = java.lang.Double.longBitsToDouble(bits)
      total += hist.get(bits); cum(i) = total; i += 1
    }

    // first sorted index whose cumulative count reaches `target`
    def indexAt(target: Long): Int = {
      var lo = 0; var hi = m - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cum(mid) < target) lo = mid + 1 else hi = mid
      }
      lo
    }

    def at(position: Double): Double = {
      val lower = math.floor(position).toLong
      val higher = math.ceil(position).toLong
      val lowerVal = vals(indexAt(lower + 1))
      if (lower == higher) return lowerVal
      val higherVal = vals(indexAt(higher + 1))
      if (higherVal == lowerVal) lowerVal
      else (higher - position) * lowerVal + (position - lower) * higherVal
    }

    val maxPosition = total - 1
    percentages.map(p => at(p * maxPosition))
  }

  /** Digest-mode interpolated percentiles (shared, non-empty digest). */
  private[functions] def approxAt(d: BinnedDigest,
      percentages: Array[Double]): Array[Double] = {
    val total = d.totalCount
    def at(position: Double): Double = {
      val lower = math.floor(position).toLong
      val higher = math.ceil(position).toLong
      val lowerVal = d.valueAtRank(lower)
      if (lower == higher) return lowerVal
      val higherVal = d.valueAtRank(higher)
      if (higherVal == lowerVal) lowerVal
      else (higher - position) * lowerVal + (position - lower) * higherVal
    }
    val maxPosition = total - 1
    percentages.map(p => at(p * maxPosition))
  }

  /** Conf key for two-argument `graft_percentile` calls. */
  val MaxDistinctKey = "spark.graft.percentile.maxDistinct"

  private def confMaxDistinct: Int =
    try SQLConf.get.getConfString(MaxDistinctKey, DefaultMaxDistinct.toString).toInt
    catch { case _: NumberFormatException => DefaultMaxDistinct }

  /** Idempotently register
    * `graft_percentile(col, p | array<p> [, maxDistinct])` in the
    * session's function registry so expression code can reach it via
    * `call_function`. */
  def register(spark: SparkSession): Unit =
    SessionFunctions.registerOnce(spark, "graft_percentile") { args =>
      val bound = if (args.length >= 3) {
        args(2).eval() match {
          case i: Int => i
          // a bound past Int.MaxValue means "never spill" — clamp, don't
          // truncate (toInt would silently install a ~2^31-wrapped bound)
          case l: Long => math.min(l, Int.MaxValue.toLong).toInt
          case s: Short => s.toInt
          case b: Byte => b.toInt
          case other => throw new IllegalArgumentException(
            s"maxDistinct must be a foldable integer, got $other")
        }
      } else confMaxDistinct
      ExactPercentile(args.head, args(1), bound)
    }

  /** Idempotently register
    * `graft_median_absdev(col, devP [, maxDistinct])` — the one-pass
    * median + deviation-percentile aggregate ([[MedianAbsDev]]). */
  def registerMedianAbsDev(spark: SparkSession): Unit =
    SessionFunctions.registerOnce(spark, "graft_median_absdev") { args =>
      val bound = if (args.length >= 3) {
        args(2).eval() match {
          case i: Int => i
          case l: Long => math.min(l, Int.MaxValue.toLong).toInt
          case s: Short => s.toInt
          case b: Byte => b.toInt
          case other => throw new IllegalArgumentException(
            s"maxDistinct must be a foldable integer, got $other")
        }
      } else confMaxDistinct
      MedianAbsDev(args.head, args(1), bound)
    }
}
