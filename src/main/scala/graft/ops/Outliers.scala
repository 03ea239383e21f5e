package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Exprs._

/** Outlier operator — 4 detection methods × 3 actions
  * (`/root/reference/methods/outliers.py:18-185`, SURVEY.md §2.10).
  *
  * Detection bounds are computed on each column's non-null values in one
  * statistics job; the action is one projection/filter — two Spark jobs
  * for any number of columns. Degenerate spread (IQR/std/MAD == 0) skips
  * the column (`outliers.py:80-105`).
  *
  * `remove` unions the per-column outlier predicates and filters ONCE at
  * the end, matching the reference's collect-indices-then-drop semantics
  * (`outliers.py:130-131`, `:156-158`): later columns' bounds are computed
  * before earlier columns' rows are removed.
  *
  * `isolation_forest` is a documented deterministic proxy: the reference
  * runs a univariate sklearn IsolationForest(contamination=0.1) per column
  * (`outliers.py:110-119`); a univariate iForest flags (approximately) the
  * most extreme `contamination` fraction, so we flag values whose absolute
  * distance from the median exceeds the (1-contamination) quantile of
  * those distances. Exact sklearn tree replication is out of scope
  * (SURVEY.md §7.5(3)).
  */
final case class Outliers(
    method: String = "iqr",
    action: String = "remove",
    threshold: Double = 3.0,
    contamination: Double = 0.1,
    columns: Seq[String] = Nil) extends Op {

  val name = s"outliers:$method:$action"

  def apply(df: DataFrame): OpResult = apply(df, df)

  /** Compute detection bounds on `fitDf`, build the action plan over
    * `df`. The frames must hold IDENTICAL ROWS — intended use is
    * `df` = `fitDf` re-ordered (r21: pre-sorted transform inputs would
    * otherwise pay the range exchange inside every stats job, because
    * EliminateSorts can't remove a Sort under the percentile UDAF or
    * double-typed moments). */
  def apply(fitDf: DataFrame, df: DataFrame): OpResult = {
    val cols = if (columns.nonEmpty) columns else colsOfType(df, isNumeric)
    if (cols.isEmpty) return OpResult(df, Seq("no numeric columns"))
    val bounds = computeBounds(fitDf, cols)
    val out = action match {
      case "remove" =>
        if (bounds.isEmpty) df
        else {
          val anyOutlier = bounds.map { case (c, (lo, hi)) =>
            col(c).isNotNull && (col(c) < lit(lo) || col(c) > lit(hi))
          }.reduce(_ || _)
          df.filter(!anyOutlier)
        }
      case "cap" =>
        val proj = df.columns.map { c =>
          bounds.get(c) match {
            case Some((lo, hi)) =>
              val dt = df.schema(c).dataType
              when(col(c) < lit(lo), lit(lo).cast(dt))
                .when(col(c) > lit(hi), lit(hi).cast(dt))
                .otherwise(col(c)).as(c)
            case None => col(c)
          }
        }
        df.select(proj.toSeq: _*)
      case "transform" =>
        // log1p on positive values of columns that HAVE outliers
        // (outliers.py:148-153); non-positive values left unchanged.
        val flagged = hasOutliers(fitDf, bounds)
        val proj = df.columns.map { c =>
          if (flagged.contains(c))
            when(col(c) > 0, log1p(col(c).cast(DoubleType))).otherwise(col(c).cast(DoubleType)).as(c)
          else col(c)
        }
        df.select(proj.toSeq: _*)
      case other => throw new IllegalArgumentException(s"unknown outlier action: $other")
    }
    // Reference metrics envelope (`outliers.py:163-175`), deferred: one agg
    // job over the input (per-column outside-bounds cell counts, matching
    // the reference's per-column mask sums, plus the row count) and one
    // count on the output.
    OpResult(out,
      Seq(s"outliers method=$method action=$action cols=${bounds.keys.mkString(",")}"),
      () => {
        val bc = bounds.keys.toSeq.sorted
        val (detected, nBefore) =
          if (bc.isEmpty) (0L, fitDf.count())
          else {
            val aggs = bc.map { c =>
              val (lo, hi) = bounds(c)
              count(when(col(c) < lit(lo) || col(c) > lit(hi), 1)).as(c)
            } :+ count(lit(1)).as("__n")
            val row = fitDf.agg(aggs.head, aggs.tail: _*).head()
            (bc.map(c => row.getLong(row.fieldIndex(c))).sum,
              row.getLong(row.fieldIndex("__n")))
          }
        Map(
          "method_used" -> method,
          "action_used" -> action,
          "columns_processed" -> bc,
          "outliers_detected" -> detected,
          "rows_before" -> nBefore,
          "rows_after" -> out.count(),
          "columns_before" -> df.columns.length.toLong,
          "columns_after" -> out.columns.length.toLong)
      })
  }

  /** Per-column (lower, upper) inlier bounds; degenerate columns omitted. */
  def computeBounds(df: DataFrame, cols: Seq[String]): Map[String, (Double, Double)] = {
    def stats(need: Stats.Need) = Stats.numeric(df, cols, need)
    method match {
      case "iqr" =>
        stats(Stats.Need(quantiles = true)).flatMap { case (c, s) =>
          for (q1 <- s.q1; q3 <- s.q3; iqr = q3 - q1 if iqr != 0.0)
            yield c -> (q1 - threshold * iqr, q3 + threshold * iqr)
        }
      case "zscore" =>
        stats(Stats.Need(moments = true)).flatMap { case (c, s) =>
          for (m <- s.mean; sd <- s.stdSamp if sd != 0.0)
            yield c -> (m - threshold * sd, m + threshold * sd)
        }
      // median and MAD (or the contamination-quantile deviation) from
      // Stats.medianDev: one scan, plus a second job only over columns
      // whose exact histogram spilled
      case "modified_zscore" =>
        Stats.medianDev(df, cols, 0.5).collect {
          case (c, (med, mad)) if mad != 0.0 =>
            val half = threshold * mad / 0.6745
            c -> (med - half, med + half)
        }
      case "isolation_forest" =>
        Stats.medianDev(df, cols, 1.0 - contamination).collect {
          case (c, (med, d)) if d != 0.0 => c -> (med - d, med + d)
        }
      case other => throw new IllegalArgumentException(s"unknown outlier method: $other")
    }
  }

  /** Which bounded columns actually contain outliers (one agg job). */
  private def hasOutliers(df: DataFrame, bounds: Map[String, (Double, Double)]): Set[String] = {
    if (bounds.isEmpty) return Set.empty
    val cols = bounds.keys.toSeq
    val aggs = cols.map { c =>
      val (lo, hi) = bounds(c)
      count(when(col(c) < lit(lo) || col(c) > lit(hi), 1)).as(c)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.filter(c => row.getLong(row.fieldIndex(c)) > 0).toSet
  }
}
