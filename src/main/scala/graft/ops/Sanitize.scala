package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Attribute, ExprId}
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Exprs._

/** Inter-stage sanitizer (reference P2,
  * `/root/reference/pipeline.py:72-100`): applied after load and after every
  * successful operator.
  *
  *  - numeric columns: ±Inf → null, then null → column median (0 when the
  *    whole column is null);
  *  - non-numeric columns: null → "" (empty string).
  *
  * Load-bearing semantic quirk (SURVEY.md §2.0 P2): because this runs
  * *before* the missing-values operator, that operator usually observes 0
  * nulls at pipeline runtime.
  *
  * Need-based: only columns that can still change are touched. A numeric
  * column is SETTLED — it can hold neither a null nor ±Inf — when its
  * analyzed attribute is non-nullable and either integral, or the very
  * attribute (same `exprId`) that the previous transform emitted
  * non-nullable (the two-argument `transform`, which [[graft.Pipeline]]
  * calls with the frame the operator consumed).
  * Operators that pass a column through by `col(c)`, filters, dedup and
  * the kept side of a join keep its `exprId`; a rewritten column gets a
  * new one and is sanitized again. A `Union` output keeps its first
  * child's `exprId`s but may mix in other rows, so it never counts as
  * settled. String columns are blanked only when nullable.
  *
  * Cost: ONE aggregation job computes the medians of all unsettled numeric
  * columns, then one projection applies them. With no unsettled numeric
  * column the job is skipped, and with nothing left to change at all the
  * input frame is returned unchanged — zero jobs, no projection. Integral
  * columns fill with a literal of their own type, so values above 2^53
  * pass through exactly. The percentile buffer is BOUNDED: beyond
  * `spark.graft.percentile.maxDistinct` distinct values per column it
  * spills to a fixed-size digest (±~0.05 % — see
  * [[graft.functions.ExactPercentile]]), so a continuous double column at
  * the 100 TB profile cannot OOM an executor; small/oracle runs stay exact.
  */
object Sanitize extends Op {
  val name = "sanitize"

  def apply(df: DataFrame): OpResult = OpResult(transform(df))

  def transform(df: DataFrame): DataFrame = sanitize(df, Set.empty)

  /** Sanitize `df`, the output of an operator that consumed `previous`.
    * `previous` MUST be a frame this object returned: its non-nullable
    * numeric attributes are known clean, so any of them that reaches `df`
    * unchanged is settled. */
  def transform(df: DataFrame, previous: DataFrame): DataFrame =
    sanitize(df, previous.queryExecution.analyzed.output
      .filter(a => !a.nullable && isNumeric(a.dataType)).map(_.exprId).toSet)

  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** The median as a literal of the column's own integral type (the cast
    * truncation toward zero the double round trip applied). */
  private def integralLit(m: Double, dt: DataType): Column = dt match {
    case ByteType => lit(m.toByte)
    case ShortType => lit(m.toShort)
    case IntegerType => lit(m.toInt)
    case LongType => lit(m.toLong)
  }

  private def sanitize(df: DataFrame, clean: Set[ExprId]): DataFrame = {
    val plan = df.queryExecution.analyzed
    val merged = plan.collect { case u: Union => u.output.map(_.exprId) }.flatten.toSet
    def settled(a: Attribute): Boolean = !a.nullable &&
      (isIntegral(a.dataType) || (clean(a.exprId) && !merged(a.exprId)))
    val pending = plan.output.filter(a => isNumeric(a.dataType) && !settled(a))
      .map(_.name)
    val blanks = plan.output.filter(a => isString(a.dataType) && a.nullable)
      .map(_.name)
    if (pending.isEmpty && blanks.isEmpty) return df
    val medians: Map[String, Double] =
      if (pending.isEmpty) Map.empty
      else {
        val row = df.agg(
          pctl(infToNull(col(pending.head).cast(DoubleType)), 0.5).as(pending.head),
          pending.tail.map(c => pctl(infToNull(col(c).cast(DoubleType)), 0.5).as(c)): _*).head()
        pending.map(c => c -> (if (row.isNullAt(row.fieldIndex(c))) 0.0
                               else row.getDouble(row.fieldIndex(c)))).toMap
      }
    val projected = df.columns.map { c =>
      val dt = df.schema(c).dataType
      if (pending.contains(c)) {
        if (isIntegral(dt)) coalesce(col(c), integralLit(medians(c), dt)).as(c)
        else coalesce(infToNull(col(c).cast(DoubleType)), lit(medians(c)))
          .cast(dt).as(c)
      } else if (blanks.contains(c)) coalesce(col(c), lit("")).as(c)
      else col(c)
    }
    df.select(projected.toSeq: _*)
  }
}
