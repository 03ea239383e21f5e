package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native codegen'd vector kernels for the embedding operators.
  *
  * [[DotProduct]] replaces the `Seq[Double]` Scala UDF that was the ANN
  * family's hot inner loop (`Similarity.dotUdf`): a UDF call first
  * CONVERTS each `UnsafeArrayData` into a boxed `Seq[Double]` (one
  * allocation plus one box per element, per argument, per row), then
  * breaks whole-stage codegen around the call. This expression reads the
  * unsafe array IN PLACE (`ArrayData.getDouble`) inside the generated
  * loop — zero conversion, zero boxing, and the projection around it
  * stays inside one WholeStageCodegen span.
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
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot needs two array<double> arguments, got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotProduct = copy(newLeft, newRight)
}

/** One-pass cosine similarity — the codegen twin of
  * `Similarity.cosineUdf`: dab, daa, dbb accumulate in a single loop
  * over the unsafe arrays (three composed [[DotProduct]]s would walk
  * both arrays three times), null when either norm is 0. Same fold
  * order per accumulator as the UDF — bit-identical results. Same
  * null-element contract as [[DotProduct]]. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_cosine needs two array<double> arguments, got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
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

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dab = ctx.freshName("dab")
      val daa = ctx.freshName("daa")
      val dbb = ctx.freshName("dbb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dab = 0.0; double $daa = 0.0; double $dbb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.getDouble($i);
         |  double $yi = $b.getDouble($i);
         |  $dab += $xi * $yi; $daa += $xi * $xi; $dbb += $yi * $yi;
         |}
         |if ($daa == 0.0 || $dbb == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dab / (java.lang.Math.sqrt($daa) * java.lang.Math.sqrt($dbb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CosineSim = copy(newLeft, newRight)
}

/** True iff the array is non-null with NO null elements — the codegen
  * twin of `Similarity.vecOkUdf`, the scoreability gate every embedding
  * scan runs per row. Never null itself: a null array is `false` (an
  * unscoreable row gets dropped, not nulled through the filter), matching
  * the UDF's `v != null && ...` shape. */
case class ArrayFullyDefined(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: ArrayType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_vec_ok needs an array argument, got $t")
  }
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_vec_ok"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    v != null && {
      val a = v.asInstanceOf[ArrayData]
      var i = 0
      var ok = true
      val n = a.numElements()
      while (ok && i < n) { ok = !a.isNullAt(i); i += 1 }
      ok
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val c = child.genCode(ctx)
    val i = ctx.freshName("i")
    val n = ctx.freshName("n")
    ev.copy(isNull = FalseLiteral, code = code"""
      |${c.code}
      |boolean ${ev.value} = !${c.isNull};
      |if (${ev.value}) {
      |  int $n = ${c.value}.numElements();
      |  for (int $i = 0; $i < $n; $i++) {
      |    if (${c.value}.isNullAt($i)) { ${ev.value} = false; break; }
      |  }
      |}
    """.stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): ArrayFullyDefined = copy(newChild)
}

/** Random-hyperplane signature — the codegen twin of
  * `Similarity.signatureUdf`: bit p = sign(v · w_p) over the
  * deterministic `planeWeight` table, packed to a Long. The planes·dim
  * weight table rides as a codegen reference object (one flat double[]
  * per task, not per row); the UDF form re-boxed the vector per row and
  * ran outside the codegen span. Same weights, same bit packing, same
  * `min(dim, len)` bound — identical signatures. Null-element contract
  * as [[DotProduct]]. */
case class HyperplaneSignature(child: Expression, dim: Int, planes: Int)
    extends UnaryExpression {
  require(planes >= 1 && planes <= 63, "signature packs into one long")
  require(dim >= 1, s"dim must be >= 1, got $dim")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_signature needs array<double>, got $t")
  }
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

  override protected def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
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

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("graftPlaneWeights", weights, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val p = ctx.freshName("p")
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      val bits = ctx.freshName("bits")
      s"""
         |int $n = java.lang.Math.min($dim, $a.numElements());
         |long $bits = 0L;
         |for (int $p = 0; $p < $planes; $p++) {
         |  double $s = 0.0;
         |  for (int $d = 0; $d < $n; $d++) {
         |    $s += $a.getDouble($d) * $wRef[$p * $dim + $d];
         |  }
         |  if ($s >= 0.0) $bits |= 1L << $p;
         |}
         |${ev.value} = $bits;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): HyperplaneSignature = copy(child = newChild)
}

/** MinHash-signature agreement prefilter — codegen twin of
  * `NearDup.prefilterUdf`: fraction of equal positions over the first
  * `numHashes` entries of two long arrays, compared to `minFrac`
  * (threshold − margin, computed by the caller). Arrays shorter than
  * `numHashes` throw — that is a broken `ophSignatures` invariant and
  * must stay LOUD, exactly like the UDF's require. Evaluated per
  * candidate PAIR, so the UDF's two-Seq boxing scaled with the
  * candidate mass. */
case class SignatureAgreement(left: Expression, right: Expression,
    numHashes: Int, minFrac: Double) extends BinaryExpression {
  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
  // minFrac is interpolated into generated Java source: NaN/Infinity are
  // not Java literals, so a non-finite value would compile-fail codegen
  // while the interpreted path silently ran — reject it up front (the
  // expression is also SQL-registered, so callers are unconstrained).
  require(java.lang.Double.isFinite(minFrac),
    s"minFrac must be finite, got $minFrac")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_sig_agree needs two array<bigint> arguments, got ($l, $r)")
    }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_sig_agree"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
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

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val agree = ctx.freshName("agree")
      s"""
         |if ($a.numElements() < $numHashes || $b.numElements() < $numHashes) {
         |  throw new IllegalArgumentException(
         |    "signature shorter than numHashes=$numHashes: "
         |      + $a.numElements() + "/" + $b.numElements());
         |}
         |int $agree = 0;
         |for (int $i = 0; $i < $numHashes; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) $agree++;
         |}
         |${ev.value} = ((double) $agree / $numHashes) >= $minFrac;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SignatureAgreement = copy(newLeft, newRight)
}

/** Exact Jaccard of two SORTED (signed ascending) distinct long arrays
  * via merge-intersection — codegen twin of `NearDup.exactJaccardUdf`.
  * Returns the Jaccard when ≥ `threshold`, else null (and null on empty
  * union). Runs once per surviving candidate pair over gram sets of
  * ~50+ longs — the heaviest boxed payload of the minhash verify. */
case class SortedJaccard(left: Expression, right: Expression,
    threshold: Double) extends BinaryExpression {
  // same codegen-literal constraint as SignatureAgreement.minFrac
  require(java.lang.Double.isFinite(threshold),
    s"threshold must be finite, got $threshold")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_sorted_jaccard needs two array<bigint> arguments, got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_sorted_jaccard"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
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

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val la = ctx.freshName("la")
      val lb = ctx.freshName("lb")
      val inter = ctx.freshName("inter")
      val union = ctx.freshName("union")
      val xa = ctx.freshName("xa")
      val yb = ctx.freshName("yb")
      val jac = ctx.freshName("jac")
      s"""
         |int $la = $a.numElements(); int $lb = $b.numElements();
         |int $i = 0; int $j = 0; int $inter = 0;
         |while ($i < $la && $j < $lb) {
         |  long $xa = $a.getLong($i); long $yb = $b.getLong($j);
         |  if ($xa == $yb) { $inter++; $i++; $j++; }
         |  else if ($xa < $yb) { $i++; } else { $j++; }
         |}
         |int $union = $la + $lb - $inter;
         |if ($union == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $jac = (double) $inter / $union;
         |  if ($jac >= $threshold) { ${ev.value} = $jac; }
         |  else { ${ev.isNull} = true; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedJaccard = copy(newLeft, newRight)
}

/** IVF nearest-cell assignment — the codegen twin of the former
  * `Similarity.cellUdfs` `assignUdf`: index of the center with the
  * smallest squared L2 distance to the vector (first-wins on exact
  * ties, the UDF's strict `<` scan). Runs once per CORPUS row — the
  * exact `Seq[Double]`-boxing shape [[DotProduct]] already eliminated
  * for scoring. The fitted centers ride flattened as a codegen
  * reference object (one `double[]` per codegen instance, not per
  * row); the per-center inner loop accumulates `(v_j - c_j)^2` left to
  * right over `min(len, dim)` — bit-identical to the UDF's `dist2`.
  *
  * Centers are runtime data (a Lloyd fit), not constructible from
  * `Seq[Expression]` args — callers register a per-call builder that
  * closes over them and drop it after DataFrame construction, the
  * [[graft.functions.BloomMightContainLong]] dance. Null-element
  * contract as [[DotProduct]] (callers pre-filter via `withVec`). */
case class IvfCellAssign(child: Expression,
    centers: Array[Array[Double]]) extends UnaryExpression {
  require(centers.nonEmpty, "ivf assignment needs at least one center")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_ivf_assign needs array<double>, got $t")
  }
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
  override def nullable: Boolean = false

  private lazy val dim: Int = centers.map(_.length).max
  // flat [c * dim + j]; ragged centers (never produced by kmeansFit)
  // zero-pad, and the per-row loop bounds at the true per-center length
  // via lens so dist2 semantics are preserved exactly
  private lazy val flat: Array[Double] = {
    val w = new Array[Double](centers.length * dim)
    var c = 0
    while (c < centers.length) {
      System.arraycopy(centers(c), 0, w, c * dim, centers(c).length)
      c += 1
    }
    w
  }
  private lazy val lens: Array[Int] = centers.map(_.length)

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) VectorKernels.NullCell
    else VectorKernels.ivfAssign(v.asInstanceOf[ArrayData], flat, lens, dim)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val fRef = ctx.addReferenceObj("graftIvfCenters", flat, "double[]")
    val lRef = ctx.addReferenceObj("graftIvfLens", lens, "int[]")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      int ${ev.value} = ${c.isNull}
        ? graft.functions.VectorKernels.NullCell() :
        graft.functions.VectorKernels.ivfAssign(
          ${c.value}, $fRef, $lRef, $dim);
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): IvfCellAssign = copy(child = newChild)
}

/** The `nprobe` nearest cells for a QUERY vector, ordered nearest
  * first — the codegen twin of the former `probeUdf`
  * (`indices.sortBy(dist2).take(nprobe)`): repeated strict-min scans in
  * ascending index order reproduce a stable sort's (distance, index)
  * tie-break exactly. Query side is small, but the UDF still broke the
  * probe projection out of the codegen span. Same center
  * reference-object layout and dance as [[IvfCellAssign]]. */
case class IvfCellProbe(child: Expression,
    centers: Array[Array[Double]], nprobe: Int) extends UnaryExpression {
  require(centers.nonEmpty, "ivf probe needs at least one center")
  require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_ivf_probe needs array<double>, got $t")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_ivf_probe"

  // Null-total like [[IvfCellAssign]] (same constraint-inference
  // pushdown hazard): null vector → EMPTY cell array, which explodes
  // to zero rows — a null query never probed anything anyway.
  override def nullable: Boolean = false

  private lazy val dim: Int = centers.map(_.length).max
  private lazy val flat: Array[Double] = {
    val w = new Array[Double](centers.length * dim)
    var c = 0
    while (c < centers.length) {
      System.arraycopy(centers(c), 0, w, c * dim, centers(c).length)
      c += 1
    }
    w
  }
  private lazy val lens: Array[Int] = centers.map(_.length)

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) VectorKernels.emptyIntArray
    else VectorKernels.ivfProbe(v.asInstanceOf[ArrayData], flat, lens, dim,
      nprobe)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val fRef = ctx.addReferenceObj("graftIvfCenters", flat, "double[]")
    val lRef = ctx.addReferenceObj("graftIvfLens", lens, "int[]")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ArrayData ${ev.value} = ${c.isNull}
        ? graft.functions.VectorKernels.emptyIntArray()
        : graft.functions.VectorKernels.ivfProbe(
            ${c.value}, $fRef, $lRef, $dim, $nprobe);
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): IvfCellProbe = copy(child = newChild)
}

object VectorKernels {

  private val emptyInts: ArrayData = new GenericArrayData(Array.empty[Any])

  /** The null-query probe result ([[IvfCellProbe]]): no cells. A
    * method (not the val) so generated Java can call it. */
  def emptyIntArray(): ArrayData = emptyInts

  /** [[IvfCellAssign]]'s null-vector sentinel, NAMED (r18 ADVICE): the
    * kernel is null-total (`nullable = false` keeps
    * InferFiltersFromConstraints off the corpus scan) and this is the
    * cell id a null vector maps to. It is NOT a valid cell — kmeans
    * cells are indices >= 0 and [[IvfCellProbe]] never emits it
    * (IvfKernelsSpec pins both) — so it drops from every cell
    * equi-join. Any future consumer that AGGREGATES cell ids must
    * exclude it explicitly. A method so generated Java can call it. */
  def NullCell(): Int = -1

  /** Squared-L2 scan shared by [[IvfCellAssign]]'s eval and codegen
    * paths (the generated code calls this static forwarder — the
    * [[graft.functions.TextKernels.probeMaskUtf8]] pattern): per-center
    * accumulation order and the `min(len, dim_c)` bound match the old
    * UDF's `dist2` exactly, so assignments are bit-identical. */
  def ivfAssign(v: ArrayData, flat: Array[Double], lens: Array[Int],
      dim: Int): Int = {
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

  /** Nearest-`nprobe` cell indices, nearest first, (distance, index)
    * tie-break — [[IvfCellProbe]]'s shared eval/codegen body. The
    * `sel < 0` fallback only fires when every remaining distance is
    * NaN (unscoreable vectors are filtered upstream); it keeps the
    * scan total rather than failing. */
  def ivfProbe(v: ArrayData, flat: Array[Double], lens: Array[Int],
      dim: Int, nprobe: Int): ArrayData = {
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

  private def foldInt(e: Expression, what: String): Int = e.eval() match {
    case i: Int => i
    case other => throw new IllegalArgumentException(
      s"$what must be a foldable int, got $other")
  }

  private def foldDouble(e: Expression, what: String): Double = e.eval() match {
    case d: Double => d
    case f: Float => f.toDouble
    case i: Int => i.toDouble
    case other => throw new IllegalArgumentException(
      s"$what must be a foldable number, got $other")
  }

  /** Register `graft_dot(a, b)` and `graft_cosine(a, b)` in the
    * session's function registry so operator code reaches them via
    * `call_function` (same pattern as [[ExactPercentile.register]]).
    * Idempotent. */
  def register(spark: SparkSession): Unit = {
    SessionFunctions.registerOnce(spark, "graft_dot") { args =>
      require(args.length == 2, s"graft_dot takes 2 args, got ${args.length}")
      DotProduct(args(0), args(1))
    }
    SessionFunctions.registerOnce(spark, "graft_cosine") { args =>
      require(args.length == 2,
        s"graft_cosine takes 2 args, got ${args.length}")
      CosineSim(args(0), args(1))
    }
    SessionFunctions.registerOnce(spark, "graft_vec_ok") { args =>
      require(args.length == 1,
        s"graft_vec_ok takes 1 arg, got ${args.length}")
      ArrayFullyDefined(args(0))
    }
    SessionFunctions.registerOnce(spark, "graft_sig_agree") { args =>
      require(args.length == 4,
        s"graft_sig_agree takes (a, b, numHashes, minFrac), got ${args.length}")
      SignatureAgreement(args(0), args(1),
        foldInt(args(2), "numHashes"), foldDouble(args(3), "minFrac"))
    }
    SessionFunctions.registerOnce(spark, "graft_sorted_jaccard") { args =>
      require(args.length == 3,
        s"graft_sorted_jaccard takes (a, b, threshold), got ${args.length}")
      SortedJaccard(args(0), args(1), foldDouble(args(2), "threshold"))
    }
    SessionFunctions.registerOnce(spark, "graft_signature") { args =>
      require(args.length == 3,
        s"graft_signature takes (vec, dim, planes), got ${args.length}")
      def int(e: Expression, what: String): Int = e.eval() match {
        case i: Int => i
        case other => throw new IllegalArgumentException(
          s"$what must be a foldable int, got $other")
      }
      HyperplaneSignature(args(0), int(args(1), "dim"),
        int(args(2), "planes"))
    }
  }
}
