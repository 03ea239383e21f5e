package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Exprs._

/** Normalization operator — 4 scaling methods
  * (`/root/reference/methods/normalisation.py:22-208`, SURVEY.md §2.16).
  *
  * Semantics pinned to the sklearn scalers the reference delegates to:
  *  - standard: (x-mean)/stddev_POP (ddof=0, sklearn StandardScaler);
  *    zero variance → scale 1 (sklearn's `_handle_zeros_in_scale`)
  *  - minmax:   (x-min)/(max-min)·(b-a)+a; zero range → scale 1
  *  - robust:   (x-median)/(Q3-Q1); zero IQR → scale 1
  *  - normalize: ROW-wise L2 across the numeric columns (sklearn
  *    Normalizer); zero-norm rows left unchanged
  *
  * Pre-pass fills nulls with the column median (`normalisation.py:86-94`).
  * One stats job + one projection, column-count independent; standard and
  * minmax add the median's percentile job only when a target column is
  * nullable.
  */
object Normalize {
  /** Per-column scaling statistics (reference `get_scaling_statistics`,
    * `/root/reference/methods/normalisation.py:233-264`): one melt-style
    * DataFrame row per numeric column. Skew/kurtosis are REPORT-ONLY
    * (Spark's estimators use a different bias correction than pandas —
    * SURVEY.md §2.4 A12) and are therefore last, easy to drop for
    * oracle-compared outputs. One aggregation job. */
  def scalingStats(df: DataFrame, columns: Seq[String] = Nil): DataFrame = {
    val cols = if (columns.nonEmpty) columns
               else graft.util.Exprs.colsOfType(df, graft.util.Exprs.isNumeric)
    val spark = df.sparkSession
    import spark.implicits._
    // r21: skew/kurt ride the declarative stats job (Stats.Need.skewKurt)
    // instead of a third full agg scan of their own
    val stats = Stats.numeric(df, cols,
      Stats.Need(moments = true, extremes = true, quantiles = true,
        skewKurt = true))
    cols.map { c =>
      val s = stats(c)
      (c, s.n - s.nNull, s.mean, s.stdSamp, s.min, s.q1, s.median, s.q3,
        s.max, s.skew, s.kurt)
    }.toDF("column_name", "n", "mean", "std", "min", "q1", "median", "q3",
      "max", "skewness", "kurtosis")
  }

  /** Inverse of a fitted scaler from the frame it was fitted on — runs ONE
    * stats job to refit (reference `inverse_transform`,
    * `normalisation.py:210-231`; unsupported for row-wise L2 there and
    * here). When the forward pass ran in the same program, prefer
    * [[inverseFromStats]] with [[Normalize.fitTransform]]'s statistics —
    * same result, zero extra jobs. */
  def inverse(scaled: DataFrame, fitted: DataFrame, method: String,
      columns: Seq[String],
      featureRange: (Double, Double) = (0.0, 1.0)): DataFrame = {
    val stats = Stats.numeric(fitted, columns, method match {
      case "standard" => Stats.Need(moments = true)
      case "minmax" => Stats.Need(extremes = true)
      case "robust" => Stats.Need(quantiles = true)
      case other => throw new IllegalArgumentException(
        s"inverse unsupported for: $other")
    })
    inverseFromStats(scaled, stats, method, columns, featureRange)
  }

  /** Inverse from already-fitted statistics — pure plan construction, no
    * Spark job. The forward pass's statistics (a superset of what each
    * inverse needs) come from [[Normalize.fitTransform]]. */
  def inverseFromStats(scaled: DataFrame, stats: Map[String, Stats.Num],
      method: String, columns: Seq[String],
      featureRange: (Double, Double) = (0.0, 1.0)): DataFrame = {
    val proj = scaled.columns.map { c =>
      if (!columns.contains(c)) col(c)
      else method match {
        case "standard" =>
          val sd = stats(c).stdPop.filter(_ != 0.0).getOrElse(1.0)
          (col(c) * lit(sd) + lit(stats(c).mean.getOrElse(0.0))).as(c)
        case "minmax" =>
          val (a, b) = featureRange
          val lo = stats(c).min.getOrElse(0.0)
          val range = (for (mx <- stats(c).max; mn <- stats(c).min) yield mx - mn)
            .filter(_ != 0.0).getOrElse(1.0)
          ((col(c) - lit(a)) / lit(b - a) * lit(range) + lit(lo)).as(c)
        case "robust" =>
          val iqr = (for (q3 <- stats(c).q3; q1 <- stats(c).q1) yield q3 - q1)
            .filter(_ != 0.0).getOrElse(1.0)
          (col(c) * lit(iqr) + lit(stats(c).median.getOrElse(0.0))).as(c)
      }
    }
    scaled.select(proj.toSeq: _*)
  }
}

final case class Normalize(
    method: String = "minmax",
    featureRange: (Double, Double) = (0.0, 1.0),
    withMean: Boolean = true,
    withStd: Boolean = true,
    columns: Seq[String] = Nil) extends Op {

  val name = s"normalize:$method"

  def apply(df: DataFrame): OpResult = fitTransform(df)._1

  /** apply + the fitted per-column statistics, so a later
    * [[Normalize.inverseFromStats]] can undo the transform without
    * re-running the stats job. The forward Need is a superset of every
    * inverse's Need (standard ⊇ moments, minmax ⊇ extremes,
    * robust ⊇ quantiles). */
  def fitTransform(df: DataFrame): (OpResult, Map[String, Stats.Num]) =
    fitTransform(df, df)

  /** Fit the statistics on `fitDf`, build the transformed plan over `df`.
    * The two frames must hold IDENTICAL ROWS — the intended use is
    * `df` = `fitDf` re-ordered (r21: queries that pre-sort the transform
    * input hand the op the unsorted frame for fitting, because Catalyst's
    * EliminateSorts cannot remove a Sort under aggregates it can't prove
    * order-irrelevant — double-typed avg/stddev and the percentile UDAF —
    * so fitting on the sorted frame would re-pay the range exchange once
    * per stats job). */
  def fitTransform(fitDf: DataFrame,
      df: DataFrame): (OpResult, Map[String, Stats.Num]) = {
    val cols = if (columns.nonEmpty) columns else colsOfType(df, isNumeric)
    if (cols.isEmpty) return (OpResult(df, Seq("no numeric columns")), Map.empty)
    // the median pre-fill needs its percentile job only when a target can
    // hold a null; without it standard/minmax run one codegen'd stats job
    val fill = cols.exists(c => df.schema(c).nullable)
    val stats = Stats.numeric(fitDf, cols, method match {
      case "standard" => Stats.Need(moments = true, median = fill)
      case "minmax" => Stats.Need(extremes = true, median = fill)
      case "robust" => Stats.Need(quantiles = true)
      case _ => Stats.Need(median = true)
    })
    // median pre-fill (normalisation.py:86-94); a no-op coalesce on a
    // non-nullable column, whose unfetched median reads as 0
    def filled(c: String): Column =
      coalesce(col(c).cast(DoubleType), lit(stats(c).median.getOrElse(0.0)))

    def scaled(c: String): Column = method match {
      case "standard" =>
        val m = if (withMean) stats(c).mean.getOrElse(0.0) else 0.0
        val sd = stats(c).stdPop.filter(_ != 0.0).getOrElse(1.0)
        if (withStd) (filled(c) - lit(m)) / lit(sd) else filled(c) - lit(m)
      case "minmax" =>
        val (a, b) = featureRange
        val lo = stats(c).min.getOrElse(0.0)
        val range = (for (mx <- stats(c).max; mn <- stats(c).min) yield mx - mn)
          .filter(_ != 0.0).getOrElse(1.0)
        (filled(c) - lit(lo)) / lit(range) * lit(b - a) + lit(a)
      case "robust" =>
        val med = stats(c).median.getOrElse(0.0)
        val iqr = (for (q3 <- stats(c).q3; q1 <- stats(c).q1) yield q3 - q1)
          .filter(_ != 0.0).getOrElse(1.0)
        (filled(c) - lit(med)) / lit(iqr)
      case other => throw new IllegalArgumentException(s"unknown normalize method: $other")
    }

    val out =
      if (method == "normalize") {
        // row-wise L2 over the numeric vector; zero-norm rows unchanged
        val norm = sqrt(cols.map(c => filled(c) * filled(c)).reduce(_ + _))
        val proj = df.columns.map { c =>
          if (cols.contains(c))
            when(norm =!= 0.0, filled(c) / norm).otherwise(filled(c)).as(c)
          else col(c)
        }
        df.select(proj.toSeq: _*)
      } else {
        val proj = df.columns.map(c => if (cols.contains(c)) scaled(c).as(c) else col(c))
        df.select(proj.toSeq: _*)
      }
    (OpResult(out, Seq(s"normalized method=$method cols=${cols.mkString(",")}")), stats)
  }
}
