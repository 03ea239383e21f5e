package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Numeric discretization (binning) — the pandas `cut`/`qcut` and
  * sklearn `KBinsDiscretizer` analogue: turn a continuous column into a
  * small ordinal one for bucketed aggregation, feature crossing, or
  * quantile-stratified sampling.
  *
  * Both variants are two-job plans: ONE aggregation to learn the bin
  * edges (a codegen'd min/max, or the bounded-buffer exact percentile
  * aggregate — see [[graft.functions.ExactPercentile]]), then the edges
  * ride into a pure projection as plan LITERALS. No join, no window, no
  * per-row driver round-trip; the assignment stage is whole-stage-
  * codegen arithmetic, so it scales like any map.
  *
  * Bin semantics (identical in the DuckDB oracle twins):
  *  - equal-width: bin i covers [min + i·w, min + (i+1)·w) with
  *    w = (max−min)/n; the max value clamps into bin n−1; a constant
  *    column (max == min) puts everything in bin 0.
  *  - quantile: internal edges at probs 1/n .. (n−1)/n (exact,
  *    linear-interpolated — the convention `quantile_cont` shares);
  *    bin = number of edges strictly below the value, so intervals are
  *    right-closed like pandas `qcut`. Duplicate edges (heavy ties)
  *    simply leave bins empty rather than failing.
  *  - nulls stay null in both variants.
  */
object Discretize {

  /** Append `<col>_bin` (long, 0..nBins-1) per input column. */
  def equalWidth(df: DataFrame, cols: Seq[String], nBins: Int,
      suffix: String = "_bin"): DataFrame =
    equalWidth(df, df, cols, nBins, suffix)

  /** Learn the edges on `fitDf`, bin `df` — the frames must hold
    * identical rows. r22 correction (r21 ADVICE): min/max ARE
    * order-irrelevant to EliminateSorts (only Sum/Average carry the
    * float restriction), so a Sort under THIS edge job would be removed
    * anyway; the fitDf split here costs nothing and is kept for
    * uniformity with [[quantile]], whose percentile UDAF genuinely pins
    * a Sort below it. */
  def equalWidth(fitDf: DataFrame, df: DataFrame, cols: Seq[String],
      nBins: Int, suffix: String): DataFrame = {
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    require(cols.nonEmpty, "no columns to discretize")
    val aggs = cols.flatMap { c =>
      val d = col(c).cast(DoubleType)
      Seq(min(d).as(s"${c}__mn"), max(d).as(s"${c}__mx"))
    }
    val row = fitDf.agg(aggs.head, aggs.tail: _*).head()
    cols.foldLeft(df) { (acc, c) =>
      def opt(n: String): Option[Double] = {
        val i = row.fieldIndex(n)
        if (row.isNullAt(i)) None else Some(row.getDouble(i))
      }
      val bin = (opt(s"${c}__mn"), opt(s"${c}__mx")) match {
        // all-null column: every bin is null
        case (None, _) | (_, None) => lit(null).cast(LongType)
        case (Some(mn), Some(mx)) if mx == mn =>
          when(col(c).isNotNull, lit(0L))
        case (Some(mn), Some(mx)) =>
          val w = (mx - mn) / nBins
          // least() SKIPS nulls (returns the non-null operand), so a null
          // value would land in the top bin without the explicit guard
          when(col(c).isNotNull,
            least(floor((col(c).cast(DoubleType) - mn) / w),
              lit(nBins - 1L)).cast(LongType))
      }
      acc.withColumn(c + suffix, bin)
    }
  }

  /** Append `<col>_bin` (long, 0..nBins-1) per input column, bins by
    * exact interpolated quantiles. The learned edges are at most
    * nBins−1 doubles per column on the driver — bounded by the caller's
    * nBins, not the data. */
  def quantile(df: DataFrame, cols: Seq[String], nBins: Int,
      suffix: String = "_bin"): DataFrame =
    quantile(df, df, cols, nBins, suffix)

  /** Learn the edges on `fitDf`, bin `df` — identical-rows contract as
    * [[equalWidth]] (the percentile UDAF pins any Sort below it). */
  def quantile(fitDf: DataFrame, df: DataFrame, cols: Seq[String],
      nBins: Int, suffix: String): DataFrame = {
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    require(cols.nonEmpty, "no columns to discretize")
    val probs = (1 until nBins).map(_.toDouble / nBins)
    val aggs = cols.map { c =>
      graft.functions.ExactPercentile.column(col(c).cast(DoubleType),
        array(probs.map(lit): _*)).as(s"${c}__q")
    }
    val row = fitDf.agg(aggs.head, aggs.tail: _*).head()
    cols.foldLeft(df) { (acc, c) =>
      val i = row.fieldIndex(s"${c}__q")
      val bin =
        if (row.isNullAt(i)) when(col(c).isNotNull, lit(0L))
        else {
          val edges = row.getSeq[Any](i).map {
            case null => Double.NaN
            case d: Double => d
          }.filterNot(_.isNaN)
          if (edges.isEmpty) when(col(c).isNotNull, lit(0L))
          else edges.map(e => (col(c).cast(DoubleType) > lit(e))
              .cast(LongType))
            .reduce(_ + _)
        }
      acc.withColumn(c + suffix, bin)
    }
  }
}
