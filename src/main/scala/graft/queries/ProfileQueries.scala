package graft
package queries

import org.apache.spark.sql.functions._
import graft.ops._
import QuerySupport._

/** The dataset profiler, the column reports and the end-to-end
  * cleaning pipeline (SURVEY.md §2.0, §2.1, §2.14, §2.16). */
object ProfileQueries {

  val all: Seq[Query] = Seq(

    // §2.0 pipeline end-to-end incl. the P2 inter-stage sanitizer quirk:
    // nulls are median-filled by the sanitizer BEFORE any op runs
    Query("q_pipeline_e2e", (s, dir) => {
      val (out, _) = Pipeline.run(dirtyCustomer(s, dir), PipelineConfig(
        dedup = true,
        normalize = Some(Normalize("minmax", columns = Seq("c_acctbal")))))
      out.select(col("c_custkey"), round(col("c_acctbal"), 6).as("c_acctbal"),
        col("c_mktsegment")).orderBy("c_custkey")
    },
      sql(s"""WITH t AS ($dirtyCustomerSql),
             | med AS (SELECT quantile_cont(c_acctbal, 0.5) AS m FROM t),
             | f AS (SELECT c_custkey, COALESCE(c_acctbal, m) AS b,
             |         COALESCE(c_mktsegment, '') AS c_mktsegment FROM t, med),
             | mm AS (SELECT min(b) AS lo, max(b) AS hi FROM f)
             |SELECT c_custkey, round((b - lo) / (hi - lo) * 1.0 + 0.0, 6) AS c_acctbal,
             | c_mktsegment
             |FROM f, mm ORDER BY c_custkey""".stripMargin)),

    // §2.1 S4 dataset profiler (sentinel-missing heuristics)
    Query("q_profile", (s, dir) => {
      val c = tbl(s, dir, "customer").select(
        col("c_custkey"),
        when(col("c_custkey") % 11 === 0, lit("N/A"))
          .when(col("c_custkey") % 13 === 0, lit(""))
          .otherwise(col("c_name")).as("c_name"),
        when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_acctbal"))
          .as("c_acctbal"),
        col("c_mktsegment"))
      Profile.asDataFrame(c).orderBy("column_name")
    },
      sql {
        val sentinels = Profile.Sentinels.map(sqlString).mkString(", ")
        s"""WITH t AS (SELECT c_custkey,
           |  CASE WHEN c_custkey % 11 = 0 THEN 'N/A'
           |       WHEN c_custkey % 13 = 0 THEN ''
           |       ELSE c_name END AS c_name,
           |  CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS c_acctbal,
           |  c_mktsegment FROM customer)
           |SELECT column_name, n_missing FROM (
           | SELECT 'c_custkey' AS column_name, count(*) FILTER (WHERE c_custkey IS NULL) AS n_missing FROM t
           | UNION ALL
           | SELECT 'c_name', count(*) FILTER (WHERE c_name IS NULL OR trim(c_name) = ''
           |   OR lower(trim(c_name)) IN ($sentinels)) FROM t
           | UNION ALL
           | SELECT 'c_acctbal', count(*) FILTER (WHERE c_acctbal IS NULL OR isnan(c_acctbal)) FROM t
           | UNION ALL
           | SELECT 'c_mktsegment', count(*) FILTER (WHERE c_mktsegment IS NULL OR trim(c_mktsegment) = ''
           |   OR lower(trim(c_mktsegment)) IN ($sentinels)) FROM t
           | UNION ALL
           | SELECT '__total_rows', count(*) FROM t
           | UNION ALL
           | SELECT '__duplicate_rows', count(*) - (SELECT count(*) FROM (SELECT DISTINCT * FROM t)) FROM t
           | UNION ALL
           | SELECT '__est_bytes', CAST(count(c_custkey) * 8 + count(c_acctbal) * 8
           |   + COALESCE(sum(strlen(c_name)), 0)
           |   + COALESCE(sum(strlen(c_mktsegment)), 0) AS BIGINT) FROM t
           |) ORDER BY column_name""".stripMargin
      }),

    // §2.1 profiler sample rows + dtypes (the rest of the S4 envelope,
    // pipeline.py:459-475) — ordered input makes the 5-row sample
    // deterministic and oracle-able
    Query("q_profile_sample", (s, dir) =>
      Profile.sampleAsDataFrame(tbl(s, dir, "customer").orderBy("c_custkey"))
        .orderBy("kind", "row_idx", "column_name"),
      // dtype literals below assert the profiler's reported Spark types for
      // the parquet physical types (int64->bigint, int32->int, ...); sample
      // values are compared natively (value_num as DOUBLE) so no float
      // string-format drift
      sql("""WITH i AS (SELECT *, row_number() OVER (ORDER BY c_custkey) AS rid
            |           FROM (SELECT * FROM customer ORDER BY c_custkey LIMIT 5))
            |SELECT kind, row_idx, column_name, value_num, value_str FROM (
            | SELECT 'dtype' AS kind, CAST(0 AS BIGINT) AS row_idx,
            |   'c_custkey' AS column_name, CAST(NULL AS DOUBLE) AS value_num,
            |   'bigint' AS value_str
            | UNION ALL SELECT 'dtype', 0, 'c_name', NULL, 'string'
            | UNION ALL SELECT 'dtype', 0, 'c_nationkey', NULL, 'int'
            | UNION ALL SELECT 'dtype', 0, 'c_acctbal', NULL, 'double'
            | UNION ALL SELECT 'dtype', 0, 'c_mktsegment', NULL, 'string'
            | UNION ALL SELECT 'sample', rid, 'c_custkey', CAST(c_custkey AS DOUBLE), NULL FROM i
            | UNION ALL SELECT 'sample', rid, 'c_name', NULL, c_name FROM i
            | UNION ALL SELECT 'sample', rid, 'c_nationkey', CAST(c_nationkey AS DOUBLE), NULL FROM i
            | UNION ALL SELECT 'sample', rid, 'c_acctbal', CAST(c_acctbal AS DOUBLE), NULL FROM i
            | UNION ALL SELECT 'sample', rid, 'c_mktsegment', NULL, c_mktsegment FROM i
            |) ORDER BY kind, row_idx, column_name""".stripMargin)),

    // §2.16 get_scaling_statistics (skew/kurt report-only, excluded here)
    Query("q_scaling_stats", (s, dir) =>
      Normalize.scalingStats(tbl(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"))
        .select(col("column_name"), col("n"),
          round(col("mean"), 6).as("mean"), round(col("std"), 6).as("std"),
          round(col("min"), 6).as("min"), round(col("q1"), 6).as("q1"),
          round(col("median"), 6).as("median"), round(col("q3"), 6).as("q3"),
          round(col("max"), 6).as("max"))
        .orderBy("column_name"),
      sql {
        def one(c: String) =
          s"""SELECT '$c' AS column_name, CAST(count($c) AS BIGINT) AS n,
             | round(avg($c), 6) AS mean, round(stddev_samp($c), 6) AS std,
             | round(min($c), 6) AS min, round(quantile_cont($c, 0.25), 6) AS q1,
             | round(quantile_cont($c, 0.5), 6) AS median,
             | round(quantile_cont($c, 0.75), 6) AS q3,
             | round(max($c), 6) AS max FROM lineitem""".stripMargin
        Seq("l_quantity", "l_extendedprice", "l_discount").map(one)
          .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
      }),

    // §2.14 get_categorical_summary
    Query("q_categorical_summary", (s, dir) =>
      Encode.categoricalSummary(dirtyCustomer(s, dir), Seq("c_mktsegment"))
        .orderBy("column_name"),
      sql(s"""WITH t AS ($dirtyCustomerSql)
             |SELECT 'c_mktsegment' AS column_name,
             | CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_unique,
             | CAST(count(*) FILTER (WHERE c_mktsegment IS NULL) AS BIGINT) AS n_missing,
             | $modeSegSql AS mode
             |FROM t ORDER BY column_name""".stripMargin))
  )
}
