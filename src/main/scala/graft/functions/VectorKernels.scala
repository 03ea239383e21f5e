package graft.functions

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ColumnConversions.expression
import org.apache.spark.sql.types._

/** Dot product of two `array<double>`s — replaces the `Seq[Double]` Scala
  * UDF that was the ANN family's hot inner loop (`Similarity.dotUdf`): a
  * UDF call first CONVERTS each `UnsafeArrayData` into a boxed
  * `Seq[Double]` (one allocation plus one box per element, per argument,
  * per row), then breaks whole-stage codegen around the call. This
  * expression reads the unsafe array IN PLACE (`ArrayData.getDouble`), and
  * the projection around it stays inside one WholeStageCodegen span.
  *
  * Accumulation is the same left-to-right double fold as `dotUdf` and
  * the declarative `aggregate(zip_with(...))` form, so results are
  * BIT-IDENTICAL to both — the oracle hashes cannot move.
  *
  * Contract: element nulls are NOT checked (a null element reads as the
  * unsafe default 0.0). Every caller filters through
  * `Similarity.withVec` first, which drops rows with null elements —
  * the same precondition the UDF had (it would have thrown a class cast
  * on a null element).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with RowKernel {
  override def inputTypes =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dotKernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def callee(ctx: CodegenContext): String =
    "graft.functions.VectorKernels.dotKernel"

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotProduct = copy(newLeft, newRight)
}

/** One-pass cosine similarity, the kernel behind `Similarity.cosineUdf`'s
  * replacement: dab, daa, dbb accumulate in a single loop over the unsafe
  * arrays (three composed [[DotProduct]]s would walk both arrays three
  * times), null when either norm is 0. Same fold order per accumulator
  * as the UDF — bit-identical results. Same null-element contract as
  * [[DotProduct]]. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with RowKernel {
  override def inputTypes =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override protected def boxedResult: Boolean = true
  override def prettyName: String = "graft_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosineKernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def callee(ctx: CodegenContext): String =
    "graft.functions.VectorKernels.cosineKernel"

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CosineSim = copy(newLeft, newRight)
}

/** True iff the array is non-null with NO null elements — the
  * scoreability gate every embedding scan runs per row. Never null
  * itself: a null array is `false` (an unscoreable row gets dropped, not
  * nulled through the filter). */
case class ArrayFullyDefined(child: Expression)
    extends UnaryExpression with RowKernel {
  override def inputTypes = Seq(ArrayType)
  override def dataType: DataType = BooleanType
  override protected def nullTotal: Boolean = true
  override def prettyName: String = "graft_vec_ok"

  override def eval(input: InternalRow): Any =
    VectorKernels.vecOkKernel(child.eval(input).asInstanceOf[ArrayData])
  override protected def callee(ctx: CodegenContext): String =
    "graft.functions.VectorKernels.vecOkKernel"

  override protected def withNewChildInternal(
      newChild: Expression): ArrayFullyDefined = copy(newChild)
}

/** Random-hyperplane signature, replacing `Similarity.signatureUdf`:
  * bit p = sign(v · w_p) over the deterministic `planeWeight` table,
  * packed to a Long. The planes·dim weight table is a codegen reference
  * object (one flat double[] per task, not per row); the UDF form
  * re-boxed the vector per row and ran outside the codegen span. Same
  * weights, same bit packing, same `min(dim, len)` bound — identical
  * signatures. Null-element contract as [[DotProduct]]. */
case class HyperplaneSignature(child: Expression, dim: Int, planes: Int)
    extends UnaryExpression with RowKernel {
  require(planes >= 1 && planes <= 63, "signature packs into one long")
  require(dim >= 1, s"dim must be >= 1, got $dim")

  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_signature"

  // flat [p * dim + d] layout — one bounds-checked java array, no nesting
  private lazy val weights: Array[Double] = {
    val w = new Array[Double](planes * dim)
    var p = 0
    while (p < planes) {
      var d = 0
      while (d < dim) {
        w(p * dim + d) = graft.sim.Similarity.planeWeight(p, d); d += 1
      }
      p += 1
    }
    w
  }

  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.signatureKernel(v.asInstanceOf[ArrayData], weights, dim,
      planes)
  override protected def callee(ctx: CodegenContext): String =
    "graft.functions.VectorKernels.signatureKernel"
  override protected def constArgs(ctx: CodegenContext): Seq[Any] = Seq(
    ctx.addReferenceObj("graftPlaneWeights", weights, "double[]"), dim, planes)

  override protected def withNewChildInternal(
      newChild: Expression): HyperplaneSignature = copy(child = newChild)
}

/** MinHash-signature agreement prefilter, replacing
  * `NearDup.prefilterUdf`: fraction of equal positions over the first
  * `numHashes` entries of two long arrays, compared to `minFrac`
  * (threshold − margin, computed by the caller). Arrays shorter than
  * `numHashes` throw — that is a broken `ophSignatures` invariant and
  * must stay LOUD, exactly like the UDF's require. Evaluated per
  * candidate PAIR, so the UDF's two-Seq boxing scaled with the
  * candidate mass. */
case class SignatureAgreement(left: Expression, right: Expression,
    numHashes: Int, minFrac: Double) extends BinaryExpression with RowKernel {
  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
  // minFrac is a literal in the generated call: NaN/Infinity are not Java
  // literals, so a non-finite value would fail to compile there while
  // the interpreted path ran — reject it up front.
  require(java.lang.Double.isFinite(minFrac),
    s"minFrac must be finite, got $minFrac")

  override def inputTypes =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_sig_agree"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.sigAgreeKernel(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], numHashes, minFrac)
  override protected def callee(ctx: CodegenContext): String =
    "graft.functions.VectorKernels.sigAgreeKernel"
  // Seq[Any]: a plain Seq(Int, Double) widens numHashes to 3.0
  override protected def constArgs(ctx: CodegenContext): Seq[Any] =
    Seq[Any](numHashes, minFrac)

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SignatureAgreement = copy(newLeft, newRight)
}

/** Exact Jaccard of two SORTED (signed ascending) distinct long arrays
  * via merge-intersection, replacing `NearDup.exactJaccardUdf`.
  * Returns the Jaccard when ≥ `threshold`, else null (and null on empty
  * union). Runs once per surviving candidate pair over gram sets of
  * ~50+ longs — the heaviest boxed payload of the minhash verify. */
case class SortedJaccard(left: Expression, right: Expression,
    threshold: Double) extends BinaryExpression with RowKernel {
  // same generated-literal constraint as SignatureAgreement.minFrac
  require(java.lang.Double.isFinite(threshold),
    s"threshold must be finite, got $threshold")

  override def inputTypes =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override protected def boxedResult: Boolean = true
  override def prettyName: String = "graft_sorted_jaccard"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.sortedJaccardKernel(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], threshold)
  override protected def callee(ctx: CodegenContext): String =
    "graft.functions.VectorKernels.sortedJaccardKernel"
  override protected def constArgs(ctx: CodegenContext): Seq[Any] =
    Seq(threshold)

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedJaccard = copy(newLeft, newRight)
}

/** The fitted IVF centers as [[IvfCellAssign]] and [[IvfCellProbe]] pass
  * them to their kernels: flattened to one `double[]` laid out
  * `[c * dim + j]`, with each center's true length in `lens`, as
  * reference objects (one per codegen instance, not per row). Ragged
  * centers (never produced by kmeansFit) zero-pad, and the kernels bound
  * each center's loop at its length, so the old UDF's `dist2` semantics
  * are kept exactly. */
trait CenterTable extends RowKernel {
  def centers: Array[Array[Double]]

  protected lazy val dim: Int = centers.map(_.length).max
  protected lazy val flat: Array[Double] = {
    val w = new Array[Double](centers.length * dim)
    var c = 0
    while (c < centers.length) {
      System.arraycopy(centers(c), 0, w, c * dim, centers(c).length)
      c += 1
    }
    w
  }
  protected lazy val lens: Array[Int] = centers.map(_.length)

  override protected def constArgs(ctx: CodegenContext): Seq[Any] = Seq(
    ctx.addReferenceObj("graftIvfCenters", flat, "double[]"),
    ctx.addReferenceObj("graftIvfLens", lens, "int[]"), dim)
}

/** IVF nearest-cell assignment, replacing the former
  * `Similarity.cellUdfs` `assignUdf`: index of the center with the
  * smallest squared L2 distance to the vector (first-wins on exact
  * ties, the UDF's strict `<` scan). Runs once per CORPUS row — the
  * exact `Seq[Double]`-boxing shape [[DotProduct]] already eliminated
  * for scoring. The per-center inner loop accumulates `(v_j - c_j)^2`
  * left to right over `min(len, dim)` — bit-identical to the UDF's
  * `dist2`.
  *
  * Centers are runtime data (a Lloyd fit), held as a constructor field
  * ([[VectorKernels.assignCell]]). Null-element contract as
  * [[DotProduct]] (callers pre-filter via `withVec`). */
case class IvfCellAssign(child: Expression,
    centers: Array[Array[Double]]) extends UnaryExpression with CenterTable {
  require(centers.nonEmpty, "ivf assignment needs at least one center")

  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_ivf_assign"

  // NULL-TOTAL ON PURPOSE (r18): null vector → cell −1, and nullable is
  // false. A nullable assign column used as an equi-join key lets
  // InferFiltersFromConstraints derive `isnotnull(__cell)` and push it
  // into the corpus scan, where CollapseProject has by then inlined the
  // whole quantize→dequantize tree into the argument — the filter
  // re-evaluated an O(dim²) expression per row and cost
  // q_ann_ivf_quantized ~3.5 s per execution at sf0.1 (~3× the whole
  // query; measured r18, the regression the r17 kernel swap introduced
  // vs the UDF, which never fed constraint inference).
  // [[VectorKernels.NullCell]] matches no probed cell (IvfCellProbe
  // only emits indices >= 0, IvfKernelsSpec pins it), so null vectors
  // drop from the join exactly as a null key always did; callers
  // additionally pre-filter via `withVec` + graft_vec_ok.
  override protected def nullTotal: Boolean = true

  override def eval(input: InternalRow): Any = VectorKernels.ivfAssign(
    child.eval(input).asInstanceOf[ArrayData], flat, lens, dim)
  override protected def callee(ctx: CodegenContext): String =
    "graft.functions.VectorKernels.ivfAssign"

  override protected def withNewChildInternal(
      newChild: Expression): IvfCellAssign = copy(child = newChild)
}

/** The `nprobe` nearest cells for a QUERY vector, ordered nearest
  * first, replacing the former `probeUdf`
  * (`indices.sortBy(dist2).take(nprobe)`): repeated strict-min scans in
  * ascending index order reproduce a stable sort's (distance, index)
  * tie-break exactly. Query side is small, but the UDF still broke the
  * probe projection out of the codegen span. */
case class IvfCellProbe(child: Expression,
    centers: Array[Array[Double]], nprobe: Int)
    extends UnaryExpression with CenterTable {
  require(centers.nonEmpty, "ivf probe needs at least one center")
  require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")

  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_ivf_probe"

  // Null-total like [[IvfCellAssign]] (same constraint-inference
  // pushdown hazard): null vector → EMPTY cell array, which explodes
  // to zero rows — a null query never probed anything anyway.
  override protected def nullTotal: Boolean = true

  override def eval(input: InternalRow): Any = VectorKernels.ivfProbe(
    child.eval(input).asInstanceOf[ArrayData], flat, lens, dim, nprobe)
  override protected def callee(ctx: CodegenContext): String =
    "graft.functions.VectorKernels.ivfProbe"
  override protected def constArgs(ctx: CodegenContext): Seq[Any] =
    super.constArgs(ctx) :+ nprobe

  override protected def withNewChildInternal(
      newChild: Expression): IvfCellProbe = copy(child = newChild)
}

/** The vector kernels for the embedding and MinHash operators: each
  * expression above runs its `*Kernel` function (or `ivfAssign` /
  * `ivfProbe`) here, interpreted and generated alike ([[RowKernel]]). */
object VectorKernels {

  private val emptyInts: ArrayData = new GenericArrayData(Array.empty[Any])

  /** [[IvfCellAssign]]'s null-vector sentinel, NAMED (r18 ADVICE): the
    * kernel is null-total (`nullable = false` keeps
    * InferFiltersFromConstraints off the corpus scan) and this is the
    * cell id a null vector maps to. It is NOT a valid cell — kmeans
    * cells are indices >= 0 and [[IvfCellProbe]] never emits it
    * (IvfKernelsSpec pins both) — so it drops from every cell
    * equi-join. Any future consumer that AGGREGATES cell ids must
    * exclude it explicitly. */
  def NullCell(): Int = -1

  /** [[DotProduct]]: left-to-right fold over `min` of the two lengths. */
  def dotKernel(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  /** [[CosineSim]]: null when either norm is 0. */
  def cosineKernel(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dab = 0.0; var daa = 0.0; var dbb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dab += xi * yi; daa += xi * xi; dbb += yi * yi
      i += 1
    }
    if (daa == 0.0 || dbb == 0.0) null
    else dab / (math.sqrt(daa) * math.sqrt(dbb))
  }

  /** [[ArrayFullyDefined]]: false for a null array or a null element. */
  def vecOkKernel(a: ArrayData): Boolean = a != null && {
    var i = 0
    var ok = true
    val n = a.numElements()
    while (ok && i < n) { ok = !a.isNullAt(i); i += 1 }
    ok
  }

  /** [[HyperplaneSignature]] over the flat `[p * dim + d]` weights. */
  def signatureKernel(a: ArrayData, weights: Array[Double], dim: Int,
      planes: Int): Long = {
    val n = math.min(dim, a.numElements())
    var bits = 0L
    var p = 0
    while (p < planes) {
      var s = 0.0
      var d = 0
      while (d < n) { s += a.getDouble(d) * weights(p * dim + d); d += 1 }
      if (s >= 0.0) bits |= 1L << p
      p += 1
    }
    bits
  }

  /** [[SignatureAgreement]]: throws on a signature shorter than
    * `numHashes`. */
  def sigAgreeKernel(x: ArrayData, y: ArrayData, numHashes: Int,
      minFrac: Double): Boolean = {
    if (x.numElements() < numHashes || y.numElements() < numHashes)
      throw new IllegalArgumentException(
        s"signature shorter than numHashes=$numHashes: " +
          s"${x.numElements()}/${y.numElements()}")
    var agree = 0
    var i = 0
    while (i < numHashes) {
      if (x.getLong(i) == y.getLong(i)) agree += 1
      i += 1
    }
    agree.toDouble / numHashes >= minFrac
  }

  /** [[SortedJaccard]]: null below `threshold` or on an empty union. */
  def sortedJaccardKernel(x: ArrayData, y: ArrayData,
      threshold: Double): java.lang.Double = {
    val la = x.numElements(); val lb = y.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < la && j < lb) {
      val xa = x.getLong(i); val yb = y.getLong(j)
      if (xa == yb) { inter += 1; i += 1; j += 1 }
      else if (xa < yb) i += 1
      else j += 1
    }
    val union = la + lb - inter
    if (union == 0) null
    else {
      val jac = inter.toDouble / union
      if (jac >= threshold) jac else null
    }
  }

  /** [[IvfCellAssign]]: per-center accumulation order and the
    * `min(len, dim_c)` bound match the old UDF's `dist2` exactly, so
    * assignments are bit-identical. A null vector maps to
    * [[NullCell]]. */
  def ivfAssign(v: ArrayData, flat: Array[Double], lens: Array[Int],
      dim: Int): Int = {
    if (v == null) return NullCell()
    val n = v.numElements()
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < lens.length) {
      val bound = math.min(n, lens(c))
      val off = c * dim
      var s = 0.0
      var j = 0
      while (j < bound) {
        val d = v.getDouble(j) - flat(off + j); s += d * d; j += 1
      }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** [[IvfCellProbe]]: nearest-`nprobe` cell indices, nearest first,
    * (distance, index) tie-break; a null vector probes no cell. The
    * `sel < 0` fallback only fires when every remaining distance is
    * NaN (unscoreable vectors are filtered upstream); it keeps the
    * scan total rather than failing. */
  def ivfProbe(v: ArrayData, flat: Array[Double], lens: Array[Int],
      dim: Int, nprobe: Int): ArrayData = {
    if (v == null) return emptyInts
    val n = v.numElements()
    val nlist = lens.length
    val dists = new Array[Double](nlist)
    var c = 0
    while (c < nlist) {
      val bound = math.min(n, lens(c))
      val off = c * dim
      var s = 0.0
      var j = 0
      while (j < bound) {
        val d = v.getDouble(j) - flat(off + j); s += d * d; j += 1
      }
      dists(c) = s
      c += 1
    }
    val take = math.min(nprobe, nlist)
    val out = new Array[Int](take)
    val used = new Array[Boolean](nlist)
    var r = 0
    while (r < take) {
      var sel = -1
      var selD = 0.0
      var i = 0
      while (i < nlist) {
        if (!used(i) && (sel < 0 || dists(i) < selD)) {
          sel = i; selD = dists(i)
        }
        i += 1
      }
      used(sel) = true
      out(r) = sel
      r += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** `graft_dot(a, b)` ([[DotProduct]]). */
  def dot(a: Column, b: Column): Column =
    GraftColumn(DotProduct(expression(a), expression(b)))

  /** `graft_cosine(a, b)` ([[CosineSim]]). */
  def cosine(a: Column, b: Column): Column =
    GraftColumn(CosineSim(expression(a), expression(b)))

  /** `graft_vec_ok(v)` ([[ArrayFullyDefined]]). */
  def vecOk(v: Column): Column = GraftColumn(ArrayFullyDefined(expression(v)))

  /** `graft_sig_agree(a, b)` ([[SignatureAgreement]]). */
  def sigAgree(a: Column, b: Column, numHashes: Int, minFrac: Double): Column =
    GraftColumn(SignatureAgreement(expression(a), expression(b),
      numHashes, minFrac))

  /** `graft_sorted_jaccard(a, b)` ([[SortedJaccard]]). */
  def sortedJaccard(a: Column, b: Column, threshold: Double): Column =
    GraftColumn(SortedJaccard(expression(a), expression(b), threshold))

  /** `graft_signature(v)` ([[HyperplaneSignature]]). */
  def signature(v: Column, dim: Int, planes: Int): Column =
    GraftColumn(HyperplaneSignature(expression(v), dim, planes))

  /** `graft_ivf_assign(v)` over fitted centers ([[IvfCellAssign]]). */
  def assignCell(v: Column, centers: Array[Array[Double]]): Column =
    GraftColumn(IvfCellAssign(expression(v), centers))

  /** `graft_ivf_probe(v)`: the `nprobe` nearest cells ([[IvfCellProbe]]). */
  def probeCells(v: Column, centers: Array[Array[Double]], nprobe: Int): Column =
    GraftColumn(IvfCellProbe(expression(v), centers, nprobe))
}
