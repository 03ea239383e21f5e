package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Parallelize

/** Dataset profiler (reference S4, `/root/reference/pipeline.py:411-496`,
  * SURVEY.md §2.1): shape, per-column dtype + missing count + content
  * bytes, duplicate-row count, sample rows.
  *
  * "Missing" for string columns is the reference's 5-heuristic union
  * (`pipeline.py:429-450`): NULL ∪ empty ∪ whitespace-only ∪ sentinel
  * tokens; for non-string columns NULL (∪ NaN for floating).
  *
  * Cost: three actions, independent of column count and linear in data
  * size — ONE aggregate for all per-column counts, byte estimates and the
  * row count, a `dropDuplicates().count()` for the duplicate count, and a
  * `limit(n)` sample. Under AQE that is 6 jobs over a multi-partition
  * input: the aggregate is a map-stage job plus a result job, the distinct
  * count a map-stage job for the dedup exchange, one for the count's gather
  * and a result job, the sample one job. A one-split input is planned as a
  * single partition ([[graft.util.Parallelize.singleSplit]]), so no
  * exchange is planned and the profile is 3 single-stage jobs.
  */
object Profile {
  /** Sentinel strings the reference treats as missing (`pipeline.py:437-441`). */
  val Sentinels: Seq[String] = Seq("nan", "null", "none", "na", "n/a",
    "missing", "unknown", "nil", "undefined")

  def missingPredicate(df: DataFrame, c: String): Column = df.schema(c).dataType match {
    case StringType =>
      col(c).isNull || trim(col(c)) === "" || lower(trim(col(c))).isin(Sentinels: _*)
    case FloatType | DoubleType => col(c).isNull || isnan(col(c))
    case _ => col(c).isNull
  }

  /** Per-column content-byte estimate — A14, the reference's
    * `memory_usage(deep=True)` analogue (`pipeline.py:456`,
    * `dataTypeConversion.py:182-191`): variable-width columns count their
    * actual UTF-8/binary payload bytes, fixed-width columns count non-null
    * values × type width. Deliberately an estimate of CONTENT bytes, not
    * of any engine's layout — pandas adds ~50 B of object overhead per
    * string cell, Spark columnar adds null bitmaps and offsets; content
    * bytes is the representation-independent number an external engine
    * can recompute. Nested types fall back to non-null count × Catalyst
    * default size. */
  def byteSizeAgg(df: DataFrame, c: String): Column = df.schema(c).dataType match {
    case StringType | BinaryType =>
      coalesce(sum(octet_length(col(c)).cast(LongType)), lit(0L))
    case dt => count(col(c)) * lit(dt.defaultSize.toLong)
  }

  final case class ColumnProfile(name: String, dtype: String, nMissing: Long,
      estBytes: Long)
  final case class DatasetProfile(rows: Long, cols: Int, duplicateRows: Long,
      estBytes: Long, columns: Seq[ColumnProfile], sample: Seq[Map[String, Any]])

  def apply(input: DataFrame, sampleRows: Int = 5): DatasetProfile = {
    val df = Parallelize.singleSplit(input)
    val cs = df.columns.toSeq
    val aggs = cs.map(c => count(when(missingPredicate(df, c), 1)).as(s"${c}__miss")) ++
      cs.map(c => byteSizeAgg(df, c).as(s"${c}__bytes")) :+
      count(lit(1)).as("__rows")
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    def l(n: String): Long = row.getLong(row.fieldIndex(n))
    val nRows = l("__rows")
    val nDup = nRows - df.dropDuplicates().count()
    val sample = df.limit(sampleRows).collect().map(r =>
      cs.map(c => c -> r.get(r.fieldIndex(c))).toMap).toSeq
    val cols = cs.map(c => ColumnProfile(c, df.schema(c).dataType.simpleString,
      l(s"${c}__miss"), l(s"${c}__bytes")))
    DatasetProfile(nRows, cs.length, nDup, cols.map(_.estBytes).sum, cols, sample)
  }

  /** The sample-rows + dtypes half of the profile envelope
    * (`pipeline.py:459-475` returns `head(5)` and per-column dtypes) as an
    * oracle-able long frame: `kind` = "dtype" rows carry each column's
    * Spark simpleString type, `kind` = "sample" rows melt the first
    * `sampleRows` rows one (row_idx, column_name) per output row. Numeric
    * values travel in `value_num` (native doubles — no string-format
    * drift against an external engine), everything else stringifies into
    * `value_str`. Pass an ORDERED frame for a deterministic sample — an
    * orderBy upstream turns the limit into TakeOrderedAndProject, which
    * is also the 100 TB shape (per-partition top-N, no global sort). */
  def sampleAsDataFrame(df: DataFrame, sampleRows: Int = 5): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cs = df.columns.toSeq
    val rows = df.limit(sampleRows).collect()
    val dtypes = cs.map(c => ("dtype", 0L, c, Option.empty[Double],
      Option(df.schema(c).dataType.simpleString)))
    val samples = rows.toSeq.zipWithIndex.flatMap { case (r, i) =>
      cs.map { c =>
        val v = r.get(r.fieldIndex(c))
        df.schema(c).dataType match {
          case _: NumericType =>
            ("sample", i + 1L, c,
              Option(v).map(_.asInstanceOf[Number].doubleValue()),
              Option.empty[String])
          case _ =>
            ("sample", i + 1L, c, Option.empty[Double],
              Option(v).map(_.toString))
        }
      }
    }
    (dtypes ++ samples)
      .toDF("kind", "row_idx", "column_name", "value_num", "value_str")
  }

  /** DataFrame form of the per-column profile — oracle-able: one row per
    * column (column_name, n_missing) plus pseudo-rows for the row,
    * duplicate and estimated-content-byte counts. */
  def asDataFrame(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val p = apply(df)
    (p.columns.map(c => (c.name, c.nMissing)) :+
      ("__total_rows", p.rows) :+ ("__duplicate_rows", p.duplicateRows) :+
      ("__est_bytes", p.estBytes))
      .toDF("column_name", "n_missing")
  }
}
