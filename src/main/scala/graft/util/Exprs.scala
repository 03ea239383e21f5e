package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Expression helpers shared by all operators.
  *
  * Everything here is ANSI-mode-safe (Spark 4 defaults to
  * `spark.sql.ansi.enabled=true`): casts that may fail are gated behind a
  * validity predicate or routed through `try_*` functions, so the library
  * behaves identically regardless of the session's ANSI setting and never
  * throws on dirty data — matching the reference's `errors='coerce'`
  * posture (`/root/reference/methods/dataTypeConversion.py:52-58`).
  */
object Exprs {

  /** Strict decimal/scientific literal — the finite tokens
    * `pandas.to_numeric` accepts.
    *
    * Deliberately a regex gate rather than `try_cast`: (a) Spark's
    * string→numeric cast failure path constructs and catches an exception
    * per unparseable cell, which is ~2× slower than a regex miss when most
    * of a column is non-numeric (measured 13.1 s → 23.6 s on the full
    * detection scan when round 2 tried bare try_cast); (b) try_cast
    * silently widens the accepted token set vs pandas — Java's parser
    * takes "1.5f", hex floats, "NaN" — which is an oracle-drift hazard.
    * The accepted token set is pinned by TextOpsSpec. */
  val NumericRegex = "^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$"

  /** Infinity tokens: pandas.to_numeric and DuckDB TRY_CAST both accept
    * `inf`/`infinity` case-insensitively with an optional sign (verified
    * empirically); `nan` tokens stay rejected — pandas raises on them, and
    * under the reference's errors='coerce' they coerce to NaN == missing,
    * which is exactly what our null means. */
  val InfRegex = "^[+-]?[iI][nN][fF]([iI][nN][iI][tT][yY])?$"

  /** Null-on-failure string→double (regex-gated so the cast never fires
    * on an unparseable value; `when` branches evaluate lazily per row).
    * Inf tokens map to ±Infinity via literals — Spark's cast accepts
    * "Infinity" but not "inf", so the cast is only used for finite
    * literals. */
  def tryDouble(c: Column): Column = {
    val t = trim(c.cast(StringType))
    when(t.rlike(NumericRegex), t.cast(DoubleType))
      .when(t.rlike(InfRegex),
        when(t.startsWith("-"), lit(Double.NegativeInfinity))
          .otherwise(lit(Double.PositiveInfinity)))
  }

  /** Null-on-failure string→long (integral strings only — the gate
    * rejects "17.0", which is what keeps long/double detection apart). */
  def tryLong(c: Column): Column = {
    val t = trim(c.cast(StringType))
    when(t.rlike("^[+-]?\\d+$"), t.cast(LongType))
  }

  /** Shape regex for a datetime pattern: lets us skip the parser (whose
    * failure path is a thrown-and-caught exception per value — the hot-loop
    * killer in a multi-format chain) unless the value plausibly matches.
    * Conservative: unknown pattern letters yield None → ungated parse. */
  def patternShapeRegex(pattern: String): Option[String] = {
    val known = Map('y' -> "\\d", 'M' -> "\\d", 'd' -> "\\d", 'H' -> "\\d",
      'h' -> "\\d", 'm' -> "\\d", 's' -> "\\d", 'S' -> "\\d")
    val sb = new StringBuilder("^")
    var i = 0
    while (i < pattern.length) {
      val ch = pattern.charAt(i)
      if (known.contains(ch)) sb.append(known(ch))
      else if ("\\.[]{}()*+-?^$|/ :".contains(ch))
        sb.append(java.util.regex.Pattern.quote(ch.toString))
      else return None
      i += 1
    }
    Some(sb.append("$").toString)
  }

  /** Null-on-failure timestamp parse with an explicit pattern
    * (`try_to_timestamp` is a registered SQL function in Spark 3.5+),
    * regex-gated so the exception path only fires on shape-matching but
    * semantically invalid values (e.g. month 13). */
  def tryTimestamp(c: Column, pattern: String): Column = {
    val parsed = call_function("try_to_timestamp", c, lit(pattern))
    patternShapeRegex(pattern) match {
      case Some(re) => when(c.rlike(re), parsed)
      case None => parsed
    }
  }

  /** Multi-format timestamp parse: first pattern that succeeds wins.
    * Spark-side stand-in for pandas' per-value format inference
    * (`/root/reference/methods/dateTimeParsing.py:20`); divergence noted in
    * SURVEY.md §7.5(4). */
  def tryTimestampChain(c: Column, patterns: Seq[String]): Column =
    coalesce(patterns.map(p => tryTimestamp(c, p)): _*)

  /** splitmix64 finalizer — public-domain bit mixer (Steele/Lea/Flood,
    * "Fast Splittable Pseudorandom Number Generators", OOPSLA 2014). */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** ±Infinity → null (numeric sanitizer building block,
    * `/root/reference/pipeline.py:83`). */
  def infToNull(c: Column): Column =
    when(c === Double.PositiveInfinity || c === Double.NegativeInfinity, lit(null)).otherwise(c)

  /** Column names of a frame having one of the given type classes. */
  def colsOfType(df: DataFrame, pred: DataType => Boolean): Seq[String] =
    df.schema.fields.filter(f => pred(f.dataType)).map(_.name).toSeq

  /** [[colsOfType]] restricted to columns whose analyzed schema allows a
    * null: a non-nullable column needs no null fill, count or drop. */
  def nullableColsOfType(df: DataFrame, pred: DataType => Boolean): Seq[String] =
    df.schema.fields.filter(f => f.nullable && pred(f.dataType)).map(_.name).toSeq

  def isNumeric(dt: DataType): Boolean = dt.isInstanceOf[NumericType]
  def isString(dt: DataType): Boolean = dt == StringType
  def isAtomic(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType | BinaryType => false
    case _ => true
  }

  /** Exact interpolating percentile (pandas/duckdb `quantile_cont`
    * semantics). Exact by design for oracle parity up to
    * `spark.graft.percentile.maxDistinct` distinct values per buffer,
    * beyond which it degrades to a bounded digest (the 100 TB guard,
    * SURVEY.md §4.2). Routed through
    * [[graft.functions.ExactPercentile]], the primitive-buffer twin of the
    * built-in (same interpolation, no per-row boxing). */
  def pctl(c: Column, p: Double): Column =
    graft.functions.ExactPercentile.column(c.cast(DoubleType), lit(p))
}
