package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Exprs._

/** Missing-value operator — the reference's 9 strategies
  * (`/root/reference/methods/missingValues.py:12-199`, SURVEY.md §2.9).
  *
  * @param strategy  one of drop_rows | drop_rows_threshold | drop_columns |
  *                  drop_columns_threshold | fill_mean | fill_median |
  *                  fill_mode | forward_fill | backward_fill
  * @param threshold fraction for the *_threshold strategies (reference
  *                  default 0.5, `missingValues.py:78-90`)
  * @param orderCol  explicit ordering column for forward/backward fill.
  *                  The reference relies on implicit file order
  *                  (SURVEY.md §1.1); distributed data has no implicit
  *                  order, so the caller names one. None → a scan-order
  *                  `monotonically_increasing_id` is materialized.
  */
final case class MissingValues(
    strategy: String,
    threshold: Double = 0.5,
    orderCol: Option[String] = None) extends Op {

  val name = s"missing_values:$strategy"

  def apply(df: DataFrame): OpResult = {
    val out = strategy match {
      case "drop_rows" => df.na.drop("any")
      case "drop_rows_threshold" =>
        df.na.drop(minNonNulls = (threshold * df.columns.length).toInt)
      // Both drop strategies count nulls only where the schema allows one
      // and issue no job when no column does.
      case "drop_columns" =>
        val cand = nullableColsOfType(df, _ => true)
        if (cand.isEmpty) df
        else {
          val (counts, _) = Stats.nullCounts(df, cand)
          df.drop(counts.filter(_._2 > 0).keys.toSeq: _*)
        }
      case "drop_columns_threshold" =>
        // keep cols with >= int(threshold * nrows) non-null values; a
        // non-nullable column holds all n, so only threshold > 1 drops it
        val cand =
          if (threshold <= 1.0) nullableColsOfType(df, _ => true)
          else df.columns.toSeq
        if (cand.isEmpty) df
        else {
          val (counts, n) = Stats.nullCounts(df, cand)
          val bad = counts.filter { case (_, nulls) =>
            (n - nulls) < (threshold * n).toLong }.keys.toSeq
          df.drop(bad: _*)
        }
      case "fill_mean"   => fillCentral(df, useMean = true)
      case "fill_median" => fillCentral(df, useMean = false)
      case "fill_mode"   => fillMode(df)
      case "forward_fill"  => directionalFill(df, forward = true)
      case "backward_fill" => directionalFill(df, forward = false)
      case other => throw new IllegalArgumentException(
        s"unknown missing_values strategy: $other")
    }
    // Reference metrics envelope (`missingValues.py:179-191`), deferred:
    // two agg jobs (input nulls+count, output nulls+count) when invoked.
    OpResult(out, Seq(s"missing_values strategy=$strategy"), () => {
      val (nullsBefore, nBefore) = Stats.nullCounts(df, df.columns.toSeq)
      val (nullsAfter, nAfter) = Stats.nullCounts(out, out.columns.toSeq)
      Map(
        "strategy_used" -> strategy,
        "rows_before" -> nBefore,
        "rows_after" -> nAfter,
        "columns_before" -> df.columns.length.toLong,
        "columns_after" -> out.columns.length.toLong,
        "total_missing_before" -> nullsBefore.values.sum,
        "total_missing_after" -> nullsAfter.values.sum,
        "missing_by_column" -> nullsBefore)
    })
  }

  /** fill_mean / fill_median: numeric → mean|median with the reference's
    * fallback chain mean→median→0 (`missingValues.py:100-107`, `:131-134`);
    * string → mode, "Unknown" when the column has no non-null value
    * (`:115-116`). Only NULLABLE columns are fitted and filled: one stats
    * job + one mode job + one projection over those. Behind the pipeline's
    * sanitizer every numeric and string column is non-nullable, so the op
    * then returns its input unchanged with zero jobs. */
  private def fillCentral(df: DataFrame, useMean: Boolean): DataFrame = {
    val numCols = nullableColsOfType(df, isNumeric)
    val strCols = nullableColsOfType(df, isString)
    if (numCols.isEmpty && strCols.isEmpty) return df
    val stats = Stats.numeric(df, numCols,
      Stats.Need(moments = useMean, median = true))
    val modes = Stats.modes(df, strCols)
    val proj = df.columns.map { c =>
      val dt = df.schema(c).dataType
      if (numCols.contains(c)) {
        val s = stats(c)
        val v = (if (useMean) s.mean.orElse(s.median) else s.median).getOrElse(0.0)
        coalesce(col(c), lit(v).cast(dt)).as(c)
      } else if (strCols.contains(c)) {
        val v = modes.get(c).map(_.toString).getOrElse("Unknown")
        coalesce(col(c), lit(v)).as(c)
      } else col(c)
    }
    df.select(proj.toSeq: _*)
  }

  /** fill_mode: every column → its mode (`missingValues.py:149-157`).
    * String columns with no mode get "Unknown"; an all-null numeric column
    * is left null (the reference would corrupt the dtype there). Only
    * nullable columns are fitted; none → the input, with zero jobs. */
  private def fillMode(df: DataFrame): DataFrame = {
    val targets = nullableColsOfType(df, isAtomic)
    if (targets.isEmpty) return df
    val modes = Stats.modes(df, targets)
    val proj = df.columns.map { c =>
      val dt = df.schema(c).dataType
      if (!targets.contains(c)) col(c)
      else modes.get(c) match {
        case Some(v: Double) => coalesce(col(c), lit(v).cast(dt)).as(c)
        case Some(v) => coalesce(col(c).cast(StringType), lit(v.toString)).cast(dt).as(c)
        case None if dt == StringType => coalesce(col(c), lit("Unknown")).as(c)
        case None => col(c)
      }
    }
    df.select(proj.toSeq: _*)
  }

  /** forward_fill / backward_fill over an explicit order (SURVEY §2.5).
    *
    * Routed by physical partition count: a multi-partition input goes to
    * [[graft.plans.PartitionedFill]] (range-partition + per-partition
    * scan-carry + driver boundary prefix-scan — no single-task stage,
    * oracle-equal by PartitionedFillSpec); a single-partition input keeps
    * the global running `last(ignoreNulls)` window, which costs no shuffle
    * there and cannot trigger the one-task WindowExec funnel.
    */
  private def directionalFill(df: DataFrame, forward: Boolean): DataFrame = {
    val (ord, added) = orderCol match {
      case Some(c) => (df, Seq.empty[String])
      case None => (df.withColumn("__row_id", monotonically_increasing_id()),
        Seq("__row_id"))
    }
    val key = orderCol.getOrElse("__row_id")
    val kept = ord.columns.filterNot(added.contains)
    if (ord.rdd.getNumPartitions > 1) {
      val filled =
        if (forward) graft.plans.PartitionedFill.ffill(ord, key)
        else graft.plans.PartitionedFill.bfill(ord, key)
      filled.select(kept.map(col).toSeq: _*)
    } else {
      // BOTH directions run as a [unboundedPreceding, current] RUNNING
      // frame — backward fill over the DESC order. A
      // [current, unboundedFollowing] frame is not a running aggregate:
      // WindowExec re-scans the rest of the partition for every row,
      // O(n²) — measured 9.5 s vs 0.3 s on the 15 k-row sf0.1 customer
      // fill (the r11 noop-sink bench surfaced it; count() had pruned
      // the projection). last(ignoreNulls) at-or-before current in DESC
      // order IS first(ignoreNulls) at-or-after current in ASC order.
      val base =
        if (forward) Window.orderBy(col(key))
        else Window.orderBy(col(key).desc)
      val proj = kept.map { c =>
        if (c == key || !isAtomic(ord.schema(c).dataType)) col(c)
        else last(col(c), ignoreNulls = true)
          .over(base.rowsBetween(Window.unboundedPreceding, 0)).as(c)
      }
      ord.select(proj.toSeq: _*)
    }
  }
}
