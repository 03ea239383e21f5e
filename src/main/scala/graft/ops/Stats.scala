package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Exprs._
import graft.functions.ExactPercentile

/** Statistics passes that parameterize transforms (fit/transform shape,
  * SURVEY.md §3.1). The reference issues one eager pandas call per column
  * (`df[col].mean()` etc.); here ALL per-column statistics for an operator
  * are computed in a single `agg` job and re-injected as literals — the
  * job count is bounded by the operator, not by the column count, which is
  * what keeps a 1000-column 100 TB table at O(1) scans per operator.
  *
  * Statistics are NEED-based: the percentile aggregate holds a value→count
  * histogram per column (bounded — it spills to a fixed-size digest above
  * `spark.graft.percentile.maxDistinct` distincts, see
  * [[graft.functions.ExactPercentile]]), so an operator that
  * only needs mean/std must not pay for three quantile buffers. All
  * requested quantiles of a column share ONE buffer via
  * `percentile(col, array(...))`.
  */
object Stats {

  /** What an operator needs; drives which aggregate buffers are built. */
  final case class Need(
      moments: Boolean = false,   // mean, stddev_samp, stddev_pop
      extremes: Boolean = false,  // min, max
      quantiles: Boolean = false, // q1, median, q3 (one shared buffer)
      median: Boolean = false,    // median only
      skewKurt: Boolean = false)  // skewness, kurtosis (report-only stats)

  /** Per-column numeric summary. Population vs sample std both carried:
    * sklearn scalers use ddof=0, pandas zscore uses ddof=1 (SURVEY §2.4 A5). */
  final case class Num(
      mean: Option[Double], median: Option[Double],
      q1: Option[Double], q3: Option[Double],
      stdSamp: Option[Double], stdPop: Option[Double],
      min: Option[Double], max: Option[Double],
      nNull: Long, n: Long,
      skew: Option[Double] = None, kurt: Option[Double] = None)

  /** One aggregation SCAN PLAN over all `cols`, computing only what `need`
    * asks — with one structural exception: when percentiles are requested
    * ALONGSIDE moments/extremes, the statistics run as TWO agg jobs, not
    * one. Mixing a typed-imperative aggregate (the percentile buffer) into
    * the same Aggregate forces ObjectHashAggregateExec, which evaluates
    * EVERY aggregate interpreted — avg/stddev/min/max lose whole-stage
    * codegen and the combined pass costs more than both passes separately
    * (measured at sf0.1 lineitem ×3 cols: 2.6 s combined vs 0.25 s codegen
    * declarative + 1.2 s percentile). The split keeps the declarative job
    * codegen'd; both jobs scan only the pruned columns, so the job count
    * per operator stays O(1). */
  def numeric(df: DataFrame, cols: Seq[String], need: Need): Map[String, Num] = {
    if (cols.isEmpty) return Map.empty
    val wantQ = need.quantiles
    val wantMed = need.median || wantQ
    val pcts = if (wantQ) Seq(0.25, 0.5, 0.75) else Seq(0.5)
    val declAggs = Seq(count(lit(1)).as("__n")) ++ cols.flatMap { c =>
      val d = col(c).cast(DoubleType)
      Seq(count(d).as(s"${c}__nn")) ++
        (if (need.moments) Seq(avg(d).as(s"${c}__mean"),
          stddev_samp(d).as(s"${c}__ssd"), stddev_pop(d).as(s"${c}__psd"))
         else Nil) ++
        (if (need.extremes) Seq(min(d).as(s"${c}__min"), max(d).as(s"${c}__max"))
         else Nil) ++
        // r21: skew/kurt are CentralMomentAgg — declarative/codegen, so
        // they ride the same scan as the other moments instead of the
        // separate agg job scalingStats used to pay (3 jobs → 2)
        (if (need.skewKurt) Seq(skewness(d).as(s"${c}__sk"),
          kurtosis(d).as(s"${c}__ku"))
         else Nil)
    }
    val pctAggs =
      if (wantMed) cols.map { c =>
        ExactPercentile.column(col(c).cast(DoubleType),
          array(pcts.map(lit): _*)).as(s"${c}__pct")
      } else Nil
    val split = pctAggs.nonEmpty && (need.moments || need.extremes)
    // The split runs TWO independent scans of `df`. For a deterministic
    // input that's free; for a non-deterministic one (sample(), a
    // rand-derived filter) the percentile job would see DIFFERENT rows
    // than the moments job — medians inconsistent with the counts they
    // parameterize. Detect non-determinism in the analyzed plan and pin
    // the input once so both jobs read the same materialized rows.
    val nonDet = split &&
      df.storageLevel == org.apache.spark.storage.StorageLevel.NONE &&
      df.queryExecution.analyzed
        .find(_.expressions.exists(_.exists(!_.deterministic))).isDefined
    val staged =
      if (nonDet)
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else df
    val (row, pctRow) =
      if (split)
        try {
          val declRow = staged.agg(declAggs.head, declAggs.tail: _*).head()
          val pRow = staged.agg(pctAggs.head, pctAggs.tail: _*).head()
          (declRow, pRow)
        } finally { if (nonDet) staged.unpersist(false) }
      else {
        // single job: either no percentile, or percentile + counts only
        // (counts are cheap even interpreted; a second scan isn't)
        val aggs = declAggs ++ pctAggs
        val r = df.agg(aggs.head, aggs.tail: _*).head()
        (r, r)
      }
    val total = row.getLong(row.fieldIndex("__n"))
    def get(n: String): Option[Double] = {
      val i = row.fieldIndex(n)
      if (row.isNullAt(i)) None else Some(row.getDouble(i))
    }
    cols.map { c =>
      val pct: Seq[Option[Double]] =
        if (!wantMed) Nil
        else {
          val i = pctRow.fieldIndex(s"${c}__pct")
          if (pctRow.isNullAt(i)) pcts.map(_ => None)
          else pctRow.getSeq[Double](i).map(Option(_))
        }
      val (q1, med, q3) =
        if (wantQ) (pct(0), pct(1), pct(2))
        else if (wantMed) (None, pct(0), None)
        else (None, None, None)
      val nonNull = row.getLong(row.fieldIndex(s"${c}__nn"))
      c -> Num(
        if (need.moments) get(s"${c}__mean") else None, med, q1, q3,
        if (need.moments) get(s"${c}__ssd") else None,
        if (need.moments) get(s"${c}__psd") else None,
        if (need.extremes) get(s"${c}__min") else None,
        if (need.extremes) get(s"${c}__max") else None,
        total - nonNull, total,
        if (need.skewKurt) get(s"${c}__sk") else None,
        if (need.skewKurt) get(s"${c}__ku") else None)
    }.toMap
  }

  /** Per-column (median, dev): the median and the `devP` percentile of
    * `|x − median|`, as a two-pass computation (median first, then the
    * percentile of the deviations) returns them. `graft_median_absdev`
    * computes both from ONE scan's value→count histogram — the fold
    * around the median is done at eval time, bit-identical to the second
    * scan it replaces (see [[graft.functions.MedianAbsDev]]). A column
    * whose histogram spilled to the bounded digest (cardinality >
    * `spark.graft.percentile.maxDistinct`) gets the digest median and no
    * dev from that scan; its dev comes from one second-pass job over the
    * spilled columns only. So the result is the same on both paths, and
    * the extra job runs only where exactness demands it. Columns with no
    * non-null value are omitted. */
  def medianDev(df: DataFrame, cols: Seq[String], devP: Double)
      : Map[String, (Double, Double)] = {
    if (cols.isEmpty) return Map.empty
    val aggs = cols.map(c =>
      ExactPercentile.medianAbsDev(col(c).cast(DoubleType), devP).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val md: Seq[(String, Double, Option[Double])] = cols.flatMap { c =>
      val i = row.fieldIndex(c)
      if (row.isNullAt(i) || row.getStruct(i).isNullAt(0)) None
      else {
        val r = row.getStruct(i)
        Some((c, r.getDouble(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      }
    }
    val spilled = md.collect { case (c, m, None) => c -> m }
    val secondPass: Map[String, Double] =
      if (spilled.isEmpty) Map.empty
      else {
        val aggs = spilled.map { case (c, m) =>
          pctl(abs(col(c).cast(DoubleType) - lit(m)), devP).as(c) }
        val r = df.agg(aggs.head, aggs.tail: _*).head()
        spilled.flatMap { case (c, _) =>
          val i = r.fieldIndex(c)
          if (r.isNullAt(i)) None else Some(c -> r.getDouble(i))
        }.toMap
      }
    md.flatMap { case (c, m, dev) =>
      dev.orElse(secondPass.get(c)).map(d => c -> ((m, d)))
    }.toMap
  }

  /** Per-column mode with the pandas tie-break: highest count, then
    * SMALLEST value (`Series.mode()` returns sorted, `.iloc[0]` — SURVEY
    * §2.4 A4). All requested columns of one type family share a single
    * melt → groupBy → top-1 job: `explode(array(struct(name, value)))`,
    * so the shuffle count does not grow with the column count.
    * Tie-break ordering uses the NATIVE type (numeric asc / lexicographic
    * asc) — two melt jobs at most.
    */
  def modes(df: DataFrame, cols: Seq[String]): Map[String, Any] = {
    val numeric = cols.filter(c => isNumeric(df.schema(c).dataType))
    val other = cols.filterNot(numeric.contains)
    meltMode(df, numeric, DoubleType) ++ meltMode(df, other, StringType)
  }

  private def meltMode(df: DataFrame, cols: Seq[String], vt: DataType): Map[String, Any] = {
    if (cols.isEmpty) return Map.empty
    val pairs = df.select(explode(array(cols.map(c =>
      struct(lit(c).as("c"), col(c).cast(vt).as("v"))): _*)).as("p"))
      .select(col("p.c").as("c"), col("p.v").as("v"))
      .where(col("v").isNotNull)
      .groupBy("c", "v").count()
    val w = Window.partitionBy("c").orderBy(desc("count"), asc("v"))
    pairs.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select("c", "v").collect()
      .map(r => r.getString(0) -> r.get(1)).toMap
  }

  /** Null count per column + total row count — one agg job. */
  def nullCounts(df: DataFrame, cols: Seq[String]): (Map[String, Long], Long) = {
    if (cols.isEmpty) return (Map.empty, df.count())
    val aggs = cols.map(c => count(when(col(c).isNull, 1)).as(c)) :+
      count(lit(1)).as("__n")
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    (cols.map(c => c -> row.getLong(row.fieldIndex(c))).toMap,
      row.getLong(row.fieldIndex("__n")))
  }
}
