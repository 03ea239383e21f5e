package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Exprs._

/** Type-conversion operator with pandas-style auto-detection
  * (`/root/reference/methods/dataTypeConversion.py:17-216`, SURVEY.md §2.11).
  *
  * Auto rules over STRING columns, thresholds pinned to the reference:
  *  - numeric: >70% of non-null values parse as numbers
  *    (`dataTypeConversion.py:93`); all integral → LongType else DoubleType
  *  - datetime: >50% parse through the format chain (`:124`)
  *  - boolean: non-null distinct values ⊆ {true,false,1,0,yes,no,y,n,t,f}
  *    (case-insensitive) and >1 distinct (`:136-138`)
  *  - category: <50% unique ∧ <100 distinct — recorded in the result
  *    updates only; StringType is kept (parquet dictionary encoding is the
  *    storage analogue of pandas' `category`, SURVEY.md §1.2)
  *
  * Cost: one ratio-statistics job over all string columns + (only when a
  * datetime shape-candidate survives) one parse-ratio job over those
  * columns + one projection. Column-count independent.
  *
  * Manual conversions: `manual` maps column → target ("int" | "float" |
  * "str" | "datetime" | "bool"); failures coerce to null (the reference's
  * errors='coerce' default).
  */
final case class TypeConvert(
    auto: Boolean = true,
    manual: Map[String, String] = Map.empty,
    datetimeFormats: Seq[String] = TypeConvert.DefaultFormats,
    /** pandas `errors=` semantics for manual conversions
      * (`dataTypeConversion.py:43-73`): "coerce" nulls failed values;
      * "raise" fails the op if ANY non-null value does not convert;
      * "ignore" leaves a column unconverted when any value fails. raise
      * and ignore cost one extra null-delta agg job over the manual
      * columns; coerce (the reference default) costs nothing. */
    manualErrors: String = "coerce") extends Op {

  val name = "data_type_conversion"

  def apply(df: DataFrame): OpResult = apply(df, df)

  /** Run the detection/validation aggregations on `fitDf`, build the
    * conversion plan over `df`. The frames must hold IDENTICAL ROWS —
    * intended use is `df` = `fitDf` re-ordered (r21: EliminateSorts can't
    * remove a Sort under the approx_count_distinct HLL aggregate, so
    * fitting on a pre-sorted transform input would pay the range exchange
    * inside the detection job). */
  def apply(fitDf: DataFrame, df: DataFrame): OpResult = {
    val manualKept: Map[String, String] = manualErrors match {
      case "coerce" => manual
      case "raise" | "ignore" =>
        if (manual.isEmpty) manual
        else {
          val aggs = manual.toSeq.map { case (c, t) =>
            count(when(col(c).isNotNull &&
              TypeConvert.manualCast(col(c), t, datetimeFormats).isNull, 1)).as(c)
          }
          val row = fitDf.agg(aggs.head, aggs.tail: _*).head()
          val failing = manual.keys.filter(c =>
            row.getLong(row.fieldIndex(c)) > 0).toSeq.sorted
          if (failing.isEmpty) manual
          else if (manualErrors == "raise") throw new IllegalStateException(
            s"manual conversion failed for: ${failing.mkString(", ")}")
          else manual -- failing
        }
      case other =>
        throw new IllegalArgumentException(s"unknown errors mode: $other")
    }
    def withManual(d0: DataFrame): DataFrame =
      manualKept.foldLeft(d0) { case (d, (c, t)) =>
        d.withColumn(c, TypeConvert.manualCast(col(c), t, datetimeFormats))
      }
    val manualDf = withManual(df)
    lazy val fitManualDf = if (fitDf eq df) manualDf else withManual(fitDf)
    if (!auto) return OpResult(manualDf,
      manualKept.map { case (c, t) => s"$c -> $t" }.toSeq)
    val strCols = colsOfType(manualDf, isString).filterNot(manualKept.contains)
    if (strCols.isEmpty) return OpResult(manualDf, Seq("no string columns to detect"))

    // job 1: parse ratios + cardinality for every string column at once.
    // Datetime detection is two-phase: a cheap shape probe here (every
    // pattern in the format chain matches it), the expensive multi-format
    // parse only over surviving candidates (job 1b, usually zero columns).
    // approx_count_distinct instead of countDistinct: exact at the small
    // cardinalities the thresholds care about, and avoids the Expand
    // operator a multi-countDistinct agg would force over the whole scan.
    // All five probes run as ONE fused char-scan per cell
    // ([[TypeConvert.probeMask]]) returning a bitmask — not per-probe
    // regexes (3 regex matches + lower/isin per cell, ~2× slower) and not
    // try_cast (whose failure path throws a caught exception per cell:
    // measured 13.1 s -> 23.6 s when round 2 tried it; it also accepts
    // tokens pandas rejects, e.g. "1.5f", hex floats, "NaN"). The mask
    // feeds trivial bit-extract sums, keeping each codegen unit small.
    // r16: the scan runs as the graft_probe_mask codegen kernel
    // ([[graft.functions.ProbeMask]] — ASCII cells scan UTF-8 bytes in
    // place), not the Scala UDF it started as; same bitmask bit for bit.
    // r21: with the DEFAULT format chain, the true parse-ratio count runs
    // INSIDE job 1, per-row-gated on the shape bit — bit 3 unset costs one
    // bitmask test, bit 3 set runs the same regex-gated chain job 1b ran
    // for every row of a candidate column. Equal counts by construction:
    // every chain pattern's shape regex implies the bit-3 probe
    // ([[DatetimeShapeRegex]] is a necessary condition for all six default
    // formats), so gating on the bit drops only rows the chain nulls
    // anyway. This removes job 1b — one whole scan+agg job — from every
    // auto() call on default formats (guide §1.2: fewer passes first).
    // Custom format chains keep the separate job-1b path below: no cheap
    // per-row gate exists for them, and fusing would charge every
    // non-datetime string cell the full multi-format regex chain.
    val gated = datetimeFormats == TypeConvert.DefaultFormats
    val flagCols = strCols.flatMap { c =>
      Seq(graft.functions.TextKernels.probeMask(col(c)).as(s"${c}__m"),
        col(c).as(s"${c}__v"))
    }
    val flags = fitManualDf.select(flagCols: _*)
    def bit(c: String, b: Int): Column =
      sum(shiftright(col(s"${c}__m"), b).bitwiseAND(lit(1L)))
    val aggs = strCols.flatMap { c => Seq(
      bit(c, 0).as(s"${c}__n"),
      bit(c, 1).as(s"${c}__num"),
      bit(c, 2).as(s"${c}__int"),
      bit(c, 3).as(s"${c}__dtc"),
      bit(c, 4).as(s"${c}__bool"),
      approx_count_distinct(col(s"${c}__v")).as(s"${c}__card")) ++
      (if (gated) Seq(count(when(
        shiftright(col(s"${c}__m"), 3).bitwiseAND(lit(1L)) === 1L &&
          tryTimestampChain(trim(col(s"${c}__v")), datetimeFormats).isNotNull,
        1)).as(s"${c}__dtp"))
       else Nil)
    }
    val row = flags.agg(aggs.head, aggs.tail: _*).head()
    def l(n: String): Long = {
      val i = row.fieldIndex(n)
      if (row.isNullAt(i)) 0L else row.getLong(i) // sum over 0 rows is null
    }

    // job 1b (custom chains only — default chains fused the count above)
    val dtCandidates =
      if (gated) Nil
      else strCols.filter { c =>
        val n = l(s"${c}__n")
        n > 0 && l(s"${c}__num") <= 0.7 * n
      }
    val dtParsed: Map[String, Long] =
      if (gated) strCols.map(c => c -> l(s"${c}__dtp")).toMap
      else if (dtCandidates.isEmpty) Map.empty
      else {
        val a = dtCandidates.map(c => count(when(tryTimestampChain(
          trim(col(c).cast(StringType)), datetimeFormats).isNotNull, 1)).as(c))
        val r = fitManualDf.agg(a.head, a.tail: _*).head()
        dtCandidates.map(c => c -> r.getLong(r.fieldIndex(c))).toMap
      }

    val decisions: Map[String, String] = strCols.flatMap { c =>
      val n = l(s"${c}__n")
      if (n == 0) None
      else if (l(s"${c}__num") > 0.7 * n)
        Some(c -> (if (l(s"${c}__int") == l(s"${c}__num")) "long" else "double"))
      else if (dtParsed.getOrElse(c, 0L) > 0.5 * n) Some(c -> "datetime")
      else if (l(s"${c}__bool") == n && l(s"${c}__card") > 1 && l(s"${c}__card") <= 16)
        Some(c -> "boolcand")
      else if (l(s"${c}__card") < 0.5 * n && l(s"${c}__card") < 100)
        Some(c -> "category")
      else None
    }.toMap

    // No confirmation job for boolean candidates: the "boolcand" decision
    // already requires __bool == __n, i.e. EVERY non-null value is a bool
    // token, so a distinct-set ⊆ BoolTokens re-check can never fail (the
    // reference's subset test, `dataTypeConversion.py:136-138`, is implied).
    // Raw-cased distinct count (>1, the reference's len(uniques) > 1 on raw
    // values) is covered by the __card aggregate from job 1.
    val proj = manualDf.columns.map { c =>
      decisions.get(c) match {
        case Some("long") => tryLong(col(c)).as(c)
        case Some("double") => tryDouble(col(c)).as(c)
        case Some("datetime") => tryTimestampChain(trim(col(c)), datetimeFormats).as(c)
        case Some("boolcand") =>
          when(lower(trim(col(c))).isin(TypeConvert.TrueTokens: _*), lit(true))
            .when(lower(trim(col(c))).isin(TypeConvert.FalseTokens: _*), lit(false))
            .as(c)
        case _ => col(c)
      }
    }
    val updates = decisions.map {
      case (c, "boolcand") => s"$c -> boolean"
      case (c, t) => s"$c -> $t"
    }.toSeq
    OpResult(manualDf.select(proj.toSeq: _*), updates)
  }
}

object TypeConvert {
  val DefaultFormats: Seq[String] = Seq(
    "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd", "yyyy/MM/dd",
    "MM/dd/yyyy HH:mm", "MM/dd/yyyy", "dd-MM-yyyy")

  /** All five detection probes for one cell, packed into a bitmask: bit 0
    * non-null, 1 numeric, 2 integral, 3 datetime-shape, 4 bool-token.
    * Char-scan twins of the anchored probe regexes, fused into one pass —
    * measured ~2× on the whole detection scan vs three `rlike`s plus
    * `lower().isin()` per cell. Values containing a line terminator take
    * the compiled-regex path instead: Java's `$` also matches before a
    * FINAL terminator ("123\n" rlike "^\\d+$" is true), and a scanner
    * must not silently re-implement that. Trim is space-only (0x20),
    * matching Spark's `trim`. */
  private[graft] val probeMask: String => Long = { raw =>
    if (raw == null) 0L
    else {
      var lo = 0
      var hi = raw.length
      while (lo < hi && raw.charAt(lo) == ' ') lo += 1
      while (hi > lo && raw.charAt(hi - 1) == ' ') hi -= 1
      val s = raw.substring(lo, hi)
      val n = s.length
      var mask = 1L
      // Java's anchored $ matches before a FINAL line terminator — any of
      // \n \r U+0085 U+2028 U+2029 — so such values take the real-regex
      // path instead of the scanner.
      if (s.indexOf('\n') >= 0 || s.indexOf('\r') >= 0 ||
          s.indexOf('\u0085') >= 0 || s.indexOf('\u2028') >= 0 ||
          s.indexOf('\u2029') >= 0) {
        if (NumericPattern.matcher(s).find() ||
          InfPattern.matcher(s).find()) mask |= 2L
        if (IntPattern.matcher(s).find()) mask |= 4L
        if (DtShapePattern.matcher(s).find()) mask |= 8L
      } else {
        def digit(c: Char): Boolean = c >= '0' && c <= '9'
        // integral: ^[+-]?\d+$
        var i = if (n > 0 && (s.charAt(0) == '+' || s.charAt(0) == '-')) 1 else 0
        var d = 0
        while (i < n && digit(s.charAt(i))) { i += 1; d += 1 }
        if (d > 0 && i == n) mask |= 6L // integral implies numeric
        else {
          // numeric: ^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$
          i = if (n > 0 && (s.charAt(0) == '+' || s.charAt(0) == '-')) 1 else 0
          d = 0
          while (i < n && digit(s.charAt(i))) { i += 1; d += 1 }
          var ok = d > 0
          if (i < n && s.charAt(i) == '.' && (d > 0 || {
            // .\d+ form needs at least one digit after the dot
            var j = i + 1; var d2 = 0
            while (j < n && digit(s.charAt(j))) { j += 1; d2 += 1 }
            d2 > 0
          })) {
            i += 1
            while (i < n && digit(s.charAt(i))) i += 1
            ok = true
          }
          if (ok && i < n && (s.charAt(i) == 'e' || s.charAt(i) == 'E')) {
            i += 1
            if (i < n && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
            var de = 0
            while (i < n && digit(s.charAt(i))) { i += 1; de += 1 }
            ok = de > 0
          }
          if (ok && i == n) mask |= 2L
          else if (n <= 9) {
            // inf tokens (see Exprs.InfRegex): optional sign + inf|infinity
            val body = if (n > 0 && (s.charAt(0) == '+' || s.charAt(0) == '-'))
              s.substring(1) else s
            val lb = body.toLowerCase(java.util.Locale.ROOT)
            if (lb == "inf" || lb == "infinity") mask |= 2L
          }
        }
        // datetime shape: ^\d{1,4}[-/]\d{1,2}[-/]\d{1,4}([ T].*)?$
        i = 0
        def run(max: Int): Int = {
          var k = 0
          while (i < n && k < max && digit(s.charAt(i))) { i += 1; k += 1 }
          k
        }
        def sep(): Boolean =
          i < n && (s.charAt(i) == '-' || s.charAt(i) == '/') && { i += 1; true }
        if (run(4) >= 1 && sep() && run(2) >= 1 && sep() && run(4) >= 1 &&
          (i == n || s.charAt(i) == ' ' || s.charAt(i) == 'T')) mask |= 8L
      }
      if (n <= 5 && boolTokenSet.contains(s.toLowerCase(java.util.Locale.ROOT)))
        mask |= 16L
      mask
    }
  }

  private val NumericPattern =
    java.util.regex.Pattern.compile(graft.util.Exprs.NumericRegex)
  private val InfPattern =
    java.util.regex.Pattern.compile(graft.util.Exprs.InfRegex)
  private val IntPattern = java.util.regex.Pattern.compile("^[+-]?\\d+$")
  private lazy val DtShapePattern =
    java.util.regex.Pattern.compile(DatetimeShapeRegex)
  private[graft] lazy val boolTokenSet: Set[String] = BoolTokens.toSet

  /** Cheap necessary condition for every pattern in [[DefaultFormats]]:
    * three 1-4 digit groups joined by - or /. Gates the expensive
    * multi-format parse scan. */
  val DatetimeShapeRegex: String =
    "^\\d{1,4}[-/]\\d{1,2}[-/]\\d{1,4}([ T].*)?$"
  val TrueTokens = Seq("true", "1", "yes", "y", "t")
  val FalseTokens = Seq("false", "0", "no", "n", "f")
  val BoolTokens: Seq[String] = TrueTokens ++ FalseTokens

  def manualCast(c: Column, target: String, formats: Seq[String]): Column = target match {
    case "int" | "long" => tryLong(c)
    case "float" | "double" => tryDouble(c)
    case "str" | "string" => c.cast(StringType)
    case "datetime" => tryTimestampChain(trim(c.cast(StringType)), formats)
    case "bool" | "boolean" =>
      when(lower(trim(c.cast(StringType))).isin(TrueTokens: _*), lit(true))
        .when(lower(trim(c.cast(StringType))).isin(FalseTokens: _*), lit(false))
    case "category" => c.cast(StringType)
    case other => throw new IllegalArgumentException(s"unknown target type: $other")
  }
}
