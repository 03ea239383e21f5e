package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Exprs._

/** Categorical encoding operator — 3 methods
  * (`/root/reference/methods/encoding.py:22-229`, SURVEY.md §2.14).
  *
  *  - label: codes assigned by SORTED UNIQUE VALUE (sklearn LabelEncoder is
  *    lexicographic, NOT frequency order — `encoding.py:87-120`); nulls
  *    first become the literal "__MISSING__" (`encoding.py:94-97`).
  *    Implemented as dense_rank over the distinct values joined back via
  *    broadcast while an HLL probe says the dictionary is bounded; above
  *    the gate ([[Encode.MaxBroadcastCardinality]] — users run label
  *    encoding on arbitrary-cardinality ID columns) the codes come from
  *    [[Encode.rankedDistinct]] (partition-offset ranking, no global
  *    window) and a shuffle join. Both paths assign identical codes.
  *  - onehot: skips columns with >50 distinct values (`encoding.py:127-134`);
  *    emits `col_value` 0/1 columns including a `col_nan` null indicator
  *    (dummy_na=True), drops the original; `dropFirst` drops the first
  *    sorted value's column (`encoding.py:139-155`).
  *  - target: despite the reference's name, FREQUENCY encoding
  *    (`encoding.py:163-192`): value frequency (nulls included as a group)
  *    as a NEW `<col>_freq_encoded` column; original kept. A pure window
  *    — `count(*) over (partition by col) / count(*) over ()` — no
  *    collect, no join.
  */
object Encode {
  /** Dictionary-size gate: at or below this (approximate) cardinality the
    * label dictionary is built with a global-order window and joined via
    * broadcast; above it, both would break — the window funnels the
    * distinct set through ONE task and the broadcast ships it to every
    * executor (an arbitrary-cardinality ID column at 100 TB OOMs the
    * driver). Unlike oneHot's gate this never changes SEMANTICS — both
    * paths assign identical codes — so HLL error at the boundary is
    * harmless: it only picks the physical plan. */
  val MaxBroadcastCardinality: Int = 1 << 16

  /** Global sorted 0-based codes for a single-column distinct frame
    * (`value` → `value`, `code`) with NO single-task stage and no
    * driver-sized structure — the scale path when a dictionary outgrows
    * broadcast. Same partition-offset algorithm as
    * [[graft.plans.PartitionedFill]]: range-partition by value (partitions
    * tile the global order) and sort within partitions; pass 1 collects
    * one row count per partition; the driver prefix-scans those into
    * partition offsets; pass 2 assigns code = offset + local index.
    * Output is exactly `dense_rank() over (order by value) − 1` on the
    * same distinct input. Both passes share one shuffle (`Dataset.rdd` is
    * a lazy val, so the sorted RDD — and its range bounds — is computed
    * once and stage-reused). */
  def rankedDistinct(vals: DataFrame): DataFrame = {
    val spark = vals.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    val sorted = vals.repartitionByRange(n, col("value").asc)
      .sortWithinPartitions("value")
    val rdd = sorted.rdd
    val counts = rdd.mapPartitionsWithIndex { (pid, it) =>
      Iterator.single(pid -> it.size.toLong)
    }.collect().toMap
    val offsets = new Array[Long](counts.size)
    var acc = 0L
    for (p <- 0 until counts.size) { offsets(p) = acc; acc += counts(p) }
    val bc = spark.sparkContext.broadcast(offsets)
    val coded = rdd.mapPartitionsWithIndex { (pid, it) =>
      var code = bc.value(pid)
      it.map { r =>
        val out = org.apache.spark.sql.Row(r.getString(0), code)
        code += 1
        out
      }
    }
    spark.createDataFrame(coded,
      StructType(Seq(StructField("value", StringType, nullable = false),
        StructField("code", LongType, nullable = false))))
  }

  /** The label dictionary for a column: (value, code), codes by sorted
    * unique value (sklearn LabelEncoder order). `small` — decided by the
    * caller's cardinality probe — picks the window path vs
    * [[rankedDistinct]]; both produce identical codes. */
  private[ops] def labelDict(df: DataFrame, c: String,
      small: Boolean): DataFrame = {
    val filled = coalesce(col(c).cast(StringType), lit("__MISSING__"))
    val vals = df.select(filled.as("value")).distinct()
    if (small)
      vals.withColumn("code",
        (dense_rank().over(Window.orderBy(col("value"))) - 1).cast(LongType))
    else rankedDistinct(vals)
  }

  /** The label-encoding dictionary for a column: (value, code), codes by
    * sorted unique value (sklearn LabelEncoder order — `encoding.py:87-120`,
    * exposed by `get_encoding_mappings` `:231-240`). Cardinality-guarded:
    * above `maxBroadcast` (approximate) distinct values the global-window
    * path is replaced by [[rankedDistinct]]. */
  def labelMapping(df: DataFrame, c: String,
      maxBroadcast: Int = MaxBroadcastCardinality): DataFrame = {
    val filled = coalesce(col(c).cast(StringType), lit("__MISSING__"))
    val small =
      df.agg(approx_count_distinct(filled).as("a")).head().getLong(0) <=
        maxBroadcast
    labelDict(df, c, small)
  }

  /** Inverse of label encoding (reference `inverse_transform_labels`,
    * `encoding.py:242-264`): codes back to original string values by
    * joining the stored mapping. `small` says the mapping fits a
    * broadcast: the BUILDER of the mapping already knows its cardinality
    * class ([[labelMapping]]'s gate decided it), and re-measuring it
    * here would re-execute the mapping's whole plan just to pick a join
    * strategy. Pass false for a dictionary that outgrew
    * [[MaxBroadcastCardinality]]. */
  def inverseLabel(encoded: DataFrame, mapping: DataFrame, c: String,
      small: Boolean = true): DataFrame = {
    val m = if (small) broadcast(mapping) else mapping
    val joined = encoded.join(m, encoded(c) === mapping("code"), "left")
    joined.select(encoded.columns.map(n =>
      if (n == c) col("value").as(c) else encoded(n)).toSeq: _*)
  }

  /** Per-categorical-column summary (reference `get_categorical_summary`,
    * `encoding.py:266-285`): distinct count, missing count, mode (pandas
    * tie-break). One melt job + one mode job. */
  def categoricalSummary(df: DataFrame, columns: Seq[String] = Nil): DataFrame = {
    val cols = if (columns.nonEmpty) columns
               else graft.util.Exprs.colsOfType(df, graft.util.Exprs.isString)
    val spark = df.sparkSession
    import spark.implicits._
    if (cols.isEmpty)
      return Seq.empty[(String, Long, Long, String)]
        .toDF("column_name", "n_unique", "n_missing", "mode")
    val aggs = cols.flatMap(c => Seq(
      countDistinct(col(c)).as(s"${c}__u"),
      count(when(col(c).isNull, 1)).as(s"${c}__m")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val modes = Stats.modes(df, cols)
    cols.map { c =>
      (c, row.getLong(row.fieldIndex(s"${c}__u")),
        row.getLong(row.fieldIndex(s"${c}__m")),
        modes.get(c).map(_.toString).orNull)
    }.toDF("column_name", "n_unique", "n_missing", "mode")
  }
}

final case class Encode(
    method: String = "label",
    columns: Seq[String] = Nil,
    dropFirst: Boolean = false,
    maxOnehotCardinality: Int = 50,
    maxLabelBroadcast: Int = Encode.MaxBroadcastCardinality) extends Op {

  val name = s"encoding:$method"

  def apply(df: DataFrame): OpResult = {
    val targets = if (columns.nonEmpty) columns else colsOfType(df, isString)
    if (targets.isEmpty) return OpResult(df, Seq("no categorical columns"))
    val out = method match {
      case "label" =>
        // ONE eager HLL aggregation over the ORIGINAL frame picks every
        // column's path up front (the oneHot pattern): probing inside
        // the fold would rescan the accumulated plan, replaying the
        // earlier columns' dictionary joins once per remaining column.
        val cardAggs = targets.map(c => approx_count_distinct(
          coalesce(col(c).cast(StringType), lit("__MISSING__")))
          .as(s"${c}__card"))
        val cardRow = df.agg(cardAggs.head, cardAggs.tail: _*).head()
        targets.foldLeft(df) { (d, c) =>
          val small =
            cardRow.getLong(cardRow.fieldIndex(s"${c}__card")) <=
              maxLabelBroadcast
          labelEncode(d, df, c, small)
        }
      case "onehot" => oneHot(df, targets)
      case "target" =>
        // per-value counts via groupBy + BROADCAST join, total as a driver
        // literal: a `count(*) over ()` window would funnel the whole fact
        // table through one partition — the join keeps the plan shuffle-free
        // on the fact side (distinct values are bounded for categoricals)
        val total = df.count()
        targets.foldLeft(df) { (d, c) =>
          val freqs = df.groupBy(col(c).as("__enc_v"))
            .agg(count(lit(1)).as("__enc_n"))
          d.join(broadcast(freqs),
              d(c) <=> col("__enc_v"), "left")
            .withColumn(s"${c}_freq_encoded",
              col("__enc_n").cast(DoubleType) / lit(total))
            .drop("__enc_v", "__enc_n")
        }
      case other => throw new IllegalArgumentException(s"unknown encoding: $other")
    }
    OpResult(out, Seq(s"encoded [${targets.mkString(",")}] method=$method"))
  }

  /** Encode one column of `df`, building the dictionary from `source`
    * (the ORIGINAL frame — column c's values are untouched there, and
    * scanning it avoids replaying the fold's earlier joins). */
  private def labelEncode(df: DataFrame, source: DataFrame, c: String,
      small: Boolean): DataFrame = {
    val filled = coalesce(col(c).cast(StringType), lit("__MISSING__"))
    val dict = Encode.labelDict(source, c, small)
    val keyed = dict.withColumnRenamed("value", "__lbl_key")
      .withColumnRenamed("code", s"${c}__code")
    val joined = df.withColumn("__lbl_key", filled)
      .join(if (small) broadcast(keyed) else keyed, Seq("__lbl_key"), "left")
      .drop("__lbl_key")
    // in-place replacement, preserving column position (encoding.py:104)
    joined.select(df.columns.map(n =>
      if (n == c) col(s"${c}__code").as(c) else col(n)).toSeq: _*)
  }

  private def oneHot(df: DataFrame, targets: Seq[String]): DataFrame = {
    // Guard BEFORE collecting (encoding.py:127-134): one approx-cardinality
    // aggregation picks candidate columns, and distinct VALUES are collected
    // only for those — a high-cardinality string column (URLs, ids) never
    // reaches the driver. The 2x+16 margin over the exact limit makes the
    // HLL sketch's error irrelevant for the keep side (no true <=limit
    // column is skipped); the exact <=limit filter re-runs on the collected
    // values, so borderline columns still resolve exactly.
    val margin = maxOnehotCardinality * 2L + 16L
    val cardAggs = targets.map(c =>
      approx_count_distinct(col(c)).as(s"${c}__card"))
    val cardRow = df.agg(cardAggs.head, cardAggs.tail: _*).head()
    val candidates = targets.filter(c =>
      cardRow.getLong(cardRow.fieldIndex(s"${c}__card")) <= margin)
    // one job collects the candidate columns' distinct values (melt)
    val values: Map[String, Seq[String]] =
      if (candidates.isEmpty) Map.empty
      else df.select(explode(array(candidates.map(c =>
          struct(lit(c).as("c"), col(c).cast(StringType).as("v"))): _*)).as("p"))
        .select(col("p.c").as("c"), col("p.v").as("v"))
        .distinct().collect()
        .groupBy(_.getString(0))
        .map { case (c, rows) =>
          c -> rows.map(r => Option(r.getString(1))).collect { case Some(v) => v }
            .toSeq.sorted }
    val encodable = candidates.filter(c =>
      values.getOrElse(c, Nil).size <= maxOnehotCardinality)
    // Generated names can collide: a value "nan" with the null
    // indicator `<c>_nan`, a value of column "a" with an existing column
    // "a_<v>", or values of two encoded columns ("a"="b_c" vs "a_b"="c").
    // pandas get_dummies emits the duplicates; here every generated name
    // gets a deterministic "_2", "_3", … suffix on collision — seeded
    // with the pass-through names so existing columns always keep theirs,
    // resolved in projection order (columns in frame order, values
    // sorted), so the result is reproducible.
    val used = scala.collection.mutable.HashSet[String]()
    df.columns.filterNot(encodable.contains).foreach(used += _)
    def fresh(base: String): String =
      if (used.add(base)) base
      else {
        var i = 2
        while (!used.add(s"${base}_$i")) i += 1
        s"${base}_$i"
      }
    val proj = df.columns.toSeq.flatMap { c =>
      if (!encodable.contains(c)) Seq(col(c))
      else {
        val vs = values(c)
        val kept = if (dropFirst) vs.drop(1) else vs
        kept.map(v => when(col(c).cast(StringType) === lit(v), 1L).otherwise(0L)
          .as(fresh(s"${c}_$v"))) :+
          when(col(c).isNull, 1L).otherwise(0L).as(fresh(s"${c}_nan"))
      }
    }
    df.select(proj: _*)
  }
}
