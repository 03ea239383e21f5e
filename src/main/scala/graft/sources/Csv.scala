package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Pipeline, PipelineConfig, PipelineJson, PipelineReport}
import graft.ops.TypeConvert

/** CSV source/sink — the reference's S1/S2 surface (SURVEY.md §2.1):
  * `pd.read_csv` with header + type inference (`/root/reference/pipeline.py:131`)
  * and `to_csv(index=False)` (`pipeline.py:208-214`).
  *
  * Inference is deliberately NOT Spark's `inferSchema` (which samples and
  * uses different heuristics): columns load as strings and the
  * [[graft.ops.TypeConvert]] auto-detector applies the reference's own
  * majority-vote rules (>70% numeric, >50% datetime, boolean token set —
  * `methods/dataTypeConversion.py:88-153`), so a CSV and a parquet path
  * through the engine make identical type decisions.
  *
  * Scale note: the CSV scan is splittable (no multiLine), so a 100 TB
  * input parallelizes across executors; the inference pass is one extra
  * full scan — at scale, cache the raw frame or sample the ratio job.
  */
object Csv {

  /** Read a headered CSV with all columns as strings (inference is the
    * caller's — or [[readInferred]]'s — explicit next step). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      // pandas reads "" as NaN; Spark's default nullValue is "" too, but be
      // explicit — this is a semantic anchor, not a default we inherit
      .option("nullValue", "")
      .csv(path)

  /** Read + apply the reference's auto type inference. */
  def readInferred(spark: SparkSession, path: String): DataFrame =
    TypeConvert(auto = true)(read(spark, path)).df

  /** Write a single headered CSV (the reference writes one file; Spark
    * writes a directory of part files — coalesce(1) only when a single
    * file is required, as here for contract parity; drop it at scale).
    * The coalesce is narrow: the write's last stage runs as one task,
    * after any exchange the plan already has. A frame from
    * [[graft.Pipeline.run]] over a one-split request is already one
    * partition with no exchange, so its write is one single-stage job,
    * interpreted under the gate's interpreted bound. */
  def write(df: DataFrame, path: String, singleFile: Boolean = true): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite").option("header", "true").csv(path)
  }

  /** The reference's flagship lifecycle, end to end
    * (`POST /clean-data`, `/root/reference/main.py:126-174`, SURVEY.md §3.1):
    * CSV in → JSON operations config → fixed-order pipeline with failure
    * isolation → CSV out. Returns the cleaned frame + per-stage report. */
  def cleanCsv(spark: SparkSession, inPath: String, operationsJson: String,
      outPath: String): (DataFrame, PipelineReport) = {
    val cfg: PipelineConfig = PipelineJson.parse(operationsJson)
    val (cleaned, report) = Pipeline.run(read(spark, inPath), cfg)
    write(cleaned, outPath)
    (cleaned, report)
  }
}
