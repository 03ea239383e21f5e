package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops._
import QuerySupport._

/** The cleaning operators on the TPC-H tables (SURVEY.md §2.8-§2.16):
  * exact dedup, missing values, outliers, type conversion, datetime
  * parsing, encoding, scaling and discretization. */
object CleaningQueries {

  /** Forward fill over c_custkey: the window path and the distributed one. */
  private lazy val ffillSql =
    s"""WITH t AS ($dirtyCustomerSql)
       |SELECT c_custkey,
       | last_value(c_acctbal IGNORE NULLS) OVER w AS c_acctbal,
       | last_value(c_mktsegment IGNORE NULLS) OVER w AS c_mktsegment
       |FROM t
       |WINDOW w AS (ORDER BY c_custkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |ORDER BY c_custkey""".stripMargin

  /** Backward fill over c_custkey: the window path and the distributed one. */
  private lazy val bfillSql =
    s"""WITH t AS ($dirtyCustomerSql)
       |SELECT c_custkey,
       | first_value(c_acctbal IGNORE NULLS) OVER w AS c_acctbal,
       | first_value(c_mktsegment IGNORE NULLS) OVER w AS c_mktsegment
       |FROM t
       |WINDOW w AS (ORDER BY c_custkey ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
       |ORDER BY c_custkey""".stripMargin

  val all: Seq[Query] = Seq(

    // §2.8 exact dedup: duplicate every row, drop exact duplicates back out.
    Query("q_dedup_exact", (s, dir) => {
      val d = tbl(s, dir, "documents")
      Dedup()(d.unionAll(d)).df.orderBy("doc_id")
    },
      sql("""SELECT DISTINCT * FROM
            | (SELECT * FROM documents UNION ALL SELECT * FROM documents)
            |ORDER BY doc_id""".stripMargin)),

    // §2.9 drop_rows
    Query("q_missing_drop_rows", (s, dir) =>
      MissingValues("drop_rows")(dirtyCustomer(s, dir)).df.orderBy("c_custkey"),
      sql(s"""WITH t AS ($dirtyCustomerSql)
             |SELECT * FROM t
             |WHERE c_acctbal IS NOT NULL AND c_mktsegment IS NOT NULL
             |ORDER BY c_custkey""".stripMargin)),

    // §2.9 fill_mean (numeric → mean, categorical → mode)
    Query("q_missing_fill_mean", (s, dir) => {
      val out = MissingValues("fill_mean")(dirtyCustomer(s, dir)).df
      out.select(col("c_custkey"), round(col("c_acctbal"), 6).as("c_acctbal"),
        col("c_mktsegment")).orderBy("c_custkey")
    },
      sql(s"""WITH t AS ($dirtyCustomerSql)
             |SELECT c_custkey,
             | round(COALESCE(c_acctbal, (SELECT avg(c_acctbal) FROM t)), 6) AS c_acctbal,
             | COALESCE(c_mktsegment, $modeSegSql) AS c_mktsegment
             |FROM t ORDER BY c_custkey""".stripMargin)),

    // §2.9 fill_median
    Query("q_missing_fill_median", (s, dir) => {
      val out = MissingValues("fill_median")(dirtyCustomer(s, dir)).df
      out.select(col("c_custkey"), round(col("c_acctbal"), 6).as("c_acctbal"),
        col("c_mktsegment")).orderBy("c_custkey")
    },
      sql(s"""WITH t AS ($dirtyCustomerSql)
             |SELECT c_custkey,
             | round(COALESCE(c_acctbal, (SELECT quantile_cont(c_acctbal, 0.5) FROM t)), 6) AS c_acctbal,
             | COALESCE(c_mktsegment, $modeSegSql) AS c_mktsegment
             |FROM t ORDER BY c_custkey""".stripMargin)),

    // §2.9 fill_mode (every column → its mode, pandas tie-break)
    Query("q_missing_fill_mode", (s, dir) =>
      MissingValues("fill_mode")(dirtyCustomer(s, dir)).df.orderBy("c_custkey"),
      sql(s"""WITH t AS ($dirtyCustomerSql)
             |SELECT c_custkey,
             | COALESCE(c_acctbal, (SELECT c_acctbal FROM t WHERE c_acctbal IS NOT NULL
             |   GROUP BY c_acctbal ORDER BY count(*) DESC, c_acctbal LIMIT 1)) AS c_acctbal,
             | COALESCE(c_mktsegment, $modeSegSql) AS c_mktsegment
             |FROM t ORDER BY c_custkey""".stripMargin)),

    // Per-op metrics envelope (missingValues.py:179-191): the op's
    // deferred metrics() thunk rendered as a one-row frame, value-checked
    // end to end — rows/columns before/after, per-column and total
    // missing counts.
    Query("q_missing_report", (s, dir) => {
      val m = MissingValues("fill_mean")(dirtyCustomer(s, dir)).metrics()
      val byCol = m("missing_by_column").asInstanceOf[Map[String, Long]]
      import s.implicits._
      Seq((m("strategy_used").toString,
        m("rows_before").asInstanceOf[Long], m("rows_after").asInstanceOf[Long],
        m("columns_before").asInstanceOf[Long], m("columns_after").asInstanceOf[Long],
        m("total_missing_before").asInstanceOf[Long],
        m("total_missing_after").asInstanceOf[Long],
        byCol("c_acctbal"), byCol("c_mktsegment")))
        .toDF("strategy_used", "rows_before", "rows_after",
          "columns_before", "columns_after", "total_missing_before",
          "total_missing_after", "missing_c_acctbal", "missing_c_mktsegment")
    },
      // total_missing_after is a prediction, not a recompute: fill_mean on
      // this frame always has a mean (acctbal) and a mode (mktsegment), so
      // every null is filled.
      sql(s"""WITH t AS ($dirtyCustomerSql)
             |SELECT 'fill_mean' AS strategy_used,
             | count(*) AS rows_before, count(*) AS rows_after,
             | CAST(3 AS BIGINT) AS columns_before, CAST(3 AS BIGINT) AS columns_after,
             | CAST(count(*) FILTER (WHERE c_acctbal IS NULL)
             |    + count(*) FILTER (WHERE c_mktsegment IS NULL) AS BIGINT) AS total_missing_before,
             | CAST(0 AS BIGINT) AS total_missing_after,
             | CAST(count(*) FILTER (WHERE c_acctbal IS NULL) AS BIGINT) AS missing_c_acctbal,
             | CAST(count(*) FILTER (WHERE c_mktsegment IS NULL) AS BIGINT) AS missing_c_mktsegment
             |FROM t""".stripMargin)),

    // §2.9 drop_columns (any null → column dropped)
    Query("q_missing_drop_columns", (s, dir) => {
      val c = tbl(s, dir, "customer").select(
        col("c_custkey"),
        when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_acctbal"))
          .as("c_acctbal"),
        col("c_mktsegment"))
      MissingValues("drop_columns")(c).df.orderBy("c_custkey")
    },
      sql("""SELECT c_custkey, c_mktsegment FROM customer ORDER BY c_custkey""")),

    // §2.9 forward_fill over explicit order
    Query("q_missing_ffill", (s, dir) =>
      MissingValues("forward_fill", orderCol = Some("c_custkey"))(
        dirtyCustomer(s, dir)).df.orderBy("c_custkey"),
      sql(ffillSql)),

    // §2.9 backward_fill over explicit order
    Query("q_missing_bfill", (s, dir) =>
      MissingValues("backward_fill", orderCol = Some("c_custkey"))(
        dirtyCustomer(s, dir)).df.orderBy("c_custkey"),
      sql(bfillSql)),

    // §7.4 distributed ffill/bfill (range-partition + boundary fix-up, no
    // single-task sort) — same oracle as the window path proves equality
    Query("q_missing_ffill_scale", (s, dir) =>
      graft.plans.PartitionedFill.ffill(dirtyCustomer(s, dir), "c_custkey",
        numPartitions = 8).orderBy("c_custkey"),
      sql(ffillSql)),

    Query("q_missing_bfill_scale", (s, dir) =>
      graft.plans.PartitionedFill.bfill(dirtyCustomer(s, dir), "c_custkey",
        numPartitions = 8).orderBy("c_custkey"),
      sql(bfillSql)),

    // §2.9 drop_rows_threshold (keep rows with >= int(t*ncols) non-null)
    Query("q_missing_drop_rows_threshold", (s, dir) =>
      MissingValues("drop_rows_threshold", threshold = 0.7)(
        dirtyCustomer(s, dir)).df.orderBy("c_custkey"),
      sql(s"""WITH t AS ($dirtyCustomerSql)
             |SELECT * FROM t
             |WHERE 1 + CAST(c_acctbal IS NOT NULL AS INT)
             |        + CAST(c_mktsegment IS NOT NULL AS INT) >= 2
             |ORDER BY c_custkey""".stripMargin)),

    // §2.9 drop_columns_threshold (keep cols with >= int(t*nrows) non-null)
    Query("q_missing_drop_columns_threshold", (s, dir) =>
      MissingValues("drop_columns_threshold", threshold = 0.9)(
        dirtyCustomer(s, dir)).df.orderBy("c_custkey"),
      sql("SELECT c_custkey FROM customer ORDER BY c_custkey")),

    // §2.10 IQR cap
    Query("q_outlier_iqr_cap", (s, dir) => {
      val li = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")
      Outliers("iqr", "cap", 1.5, columns = Seq("l_extendedprice"))(
          li, li.orderBy("l_orderkey", "l_linenumber")).df
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          round(col("l_extendedprice"), 6).as("l_extendedprice"))
    },
      sql("""WITH b AS (SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
            |                  quantile_cont(l_extendedprice, 0.75) AS q3
            |           FROM lineitem)
            |SELECT l_orderkey, l_linenumber, l_partkey,
            | round(CASE WHEN l_extendedprice < q1 - 1.5*(q3-q1) THEN q1 - 1.5*(q3-q1)
            |            WHEN l_extendedprice > q3 + 1.5*(q3-q1) THEN q3 + 1.5*(q3-q1)
            |            ELSE l_extendedprice END, 6) AS l_extendedprice
            |FROM lineitem, b
            |ORDER BY l_orderkey, l_linenumber, l_partkey, l_extendedprice""".stripMargin)),

    // §2.10 zscore remove
    Query("q_outlier_zscore_remove", (s, dir) => {
      val li = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      Outliers("zscore", "remove", 1.5,
        columns = Seq("l_quantity", "l_extendedprice"))(li).df
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    },
      sql("""WITH s AS (SELECT avg(l_quantity) AS mq, stddev_samp(l_quantity) AS sq,
            |                  avg(l_extendedprice) AS me, stddev_samp(l_extendedprice) AS se
            |           FROM lineitem)
            |SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
            |FROM lineitem, s
            |WHERE NOT ((l_quantity IS NOT NULL AND (l_quantity < mq - 1.5*sq OR l_quantity > mq + 1.5*sq))
            |        OR (l_extendedprice IS NOT NULL AND (l_extendedprice < me - 1.5*se OR l_extendedprice > me + 1.5*se)))
            |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin)),

    // §2.10 modified zscore (MAD) cap
    Query("q_outlier_modz_cap", (s, dir) => {
      val li = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")
      Outliers("modified_zscore", "cap", 1.0,
        columns = Seq("l_extendedprice"))(
          li, li.orderBy("l_orderkey", "l_linenumber")).df
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          round(col("l_extendedprice"), 6).as("l_extendedprice"))
    },
      sql("""WITH m AS (SELECT quantile_cont(l_extendedprice, 0.5) AS med FROM lineitem),
            |     d AS (SELECT quantile_cont(abs(l_extendedprice - med), 0.5) AS mad FROM lineitem, m)
            |SELECT l_orderkey, l_linenumber, l_partkey,
            | round(CASE WHEN l_extendedprice < med - 1.0*mad/0.6745 THEN med - 1.0*mad/0.6745
            |            WHEN l_extendedprice > med + 1.0*mad/0.6745 THEN med + 1.0*mad/0.6745
            |            ELSE l_extendedprice END, 6) AS l_extendedprice
            |FROM lineitem, m, d
            |ORDER BY l_orderkey, l_linenumber, l_partkey, l_extendedprice""".stripMargin)),

    // §2.10 isolation-forest proxy (contamination-quantile) remove
    Query("q_outlier_iforest_remove", (s, dir) => {
      val li = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      Outliers("isolation_forest", "remove", contamination = 0.1,
        columns = Seq("l_quantity", "l_extendedprice"))(li).df
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    },
      sql("""WITH mq AS (SELECT quantile_cont(l_quantity, 0.5) AS m FROM lineitem),
            |     me AS (SELECT quantile_cont(l_extendedprice, 0.5) AS m FROM lineitem),
            |     dq AS (SELECT quantile_cont(abs(l_quantity - mq.m), 0.9) AS d FROM lineitem, mq),
            |     de AS (SELECT quantile_cont(abs(l_extendedprice - me.m), 0.9) AS d FROM lineitem, me)
            |SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
            |FROM lineitem, mq, me, dq, de
            |WHERE NOT ((l_quantity IS NOT NULL AND (l_quantity < mq.m - dq.d OR l_quantity > mq.m + dq.d))
            |        OR (l_extendedprice IS NOT NULL AND (l_extendedprice < me.m - de.d OR l_extendedprice > me.m + de.d)))
            |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin)),

    // §2.10 log1p transform of outlier-bearing columns
    Query("q_outlier_log_transform", (s, dir) => {
      val li = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
      Outliers("zscore", "transform", 1.5, columns = Seq("l_quantity"))(
          li, li.orderBy("l_orderkey", "l_linenumber")).df
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity"), 6).as("l_quantity"))
    },
      sql("""SELECT l_orderkey, l_linenumber,
            | round(CASE WHEN l_quantity > 0 THEN ln(1.0 + l_quantity) ELSE l_quantity END, 6) AS l_quantity
            |FROM lineitem
            |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin)),

    // §2.11 auto type detection: stringly columns back to double/bool/timestamp
    Query("q_typeconvert_auto", (s, dir) => {
      def strly(d: DataFrame) = d.select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast(StringType).as("l_quantity"),
        when(col("l_discount") > 0.05, lit("yes")).otherwise(lit("no"))
          .as("disc_flag"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_str"))
      val raw = tbl(s, dir, "lineitem")
      TypeConvert(auto = true)(strly(raw),
        strly(raw.orderBy("l_orderkey", "l_linenumber"))).df
    },
      sql("""SELECT l_orderkey, l_linenumber,
            | CAST(CAST(l_quantity AS VARCHAR) AS DOUBLE) AS l_quantity,
            | l_discount > 0.05 AS disc_flag,
            | CAST(strftime(l_shipdate, '%Y-%m-%d') AS TIMESTAMP) AS ship_str
            |FROM lineitem
            |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin)),

    // §2.11 manual type mapping (errors='coerce' semantics)
    Query("q_typeconvert_manual", (s, dir) => {
      val li = tbl(s, dir, "lineitem")
        .orderBy("l_orderkey", "l_linenumber")
        .select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_linenumber").cast(StringType).as("ln_str"),
          col("l_quantity").cast(StringType).as("q_str"),
          when(col("l_discount") > 0.05, lit("yes")).otherwise(lit("no"))
            .as("bool_str"))
      // manual+coerce runs no stats job, so the sorted input costs nothing
      TypeConvert(auto = false, manual = Map(
        "ln_str" -> "int", "q_str" -> "float", "bool_str" -> "bool"))(li).df
    },
      sql("""SELECT l_orderkey, l_linenumber,
            | CAST(CAST(l_linenumber AS VARCHAR) AS BIGINT) AS ln_str,
            | CAST(CAST(l_quantity AS VARCHAR) AS DOUBLE) AS q_str,
            | l_discount > 0.05 AS bool_str
            |FROM lineitem
            |ORDER BY l_orderkey, l_linenumber, q_str""".stripMargin)),

    // §2.13 datetime parse + feature extraction
    Query("q_datetime_parse", (s, dir) => {
      val o = tbl(s, dir, "orders").orderBy("o_orderkey")
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("date_str"))
      DatetimeParse(extractFeatures = true)(o).df
    },
      sql("""WITH t AS (SELECT o_orderkey,
            |  CAST(strftime(o_orderdate, '%Y-%m-%d') AS TIMESTAMP) AS date_str
            |  FROM orders)
            |SELECT o_orderkey, date_str,
            | CAST(year(date_str) AS BIGINT) AS date_str_year,
            | CAST(month(date_str) AS BIGINT) AS date_str_month,
            | CAST(day(date_str) AS BIGINT) AS date_str_day,
            | CAST(hour(date_str) AS BIGINT) AS date_str_hour,
            | CAST(dayofweek(date_str) + 1 AS BIGINT) AS date_str_dayofweek
            |FROM t ORDER BY o_orderkey""".stripMargin)),

    // §2.14 label encoding (lexicographic codes)
    Query("q_encode_label", (s, dir) =>
      Encode("label")(tbl(s, dir, "nation").select("n_nationkey", "n_name"))
        .df.orderBy("n_nationkey"),
      sql("""SELECT n_nationkey,
            | CAST(DENSE_RANK() OVER (ORDER BY n_name) - 1 AS BIGINT) AS n_name
            |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // §2.14 one-hot encoding (incl. null indicator)
    Query("q_encode_onehot", (s, dir) =>
      Encode("onehot")(tbl(s, dir, "customer")
        .select("c_custkey", "c_mktsegment")).df.orderBy("c_custkey"),
      sql("""SELECT c_custkey,
            | CAST(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS BIGINT) AS c_mktsegment_AUTOMOBILE,
            | CAST(CASE WHEN c_mktsegment = 'BUILDING'   THEN 1 ELSE 0 END AS BIGINT) AS c_mktsegment_BUILDING,
            | CAST(CASE WHEN c_mktsegment = 'FURNITURE'  THEN 1 ELSE 0 END AS BIGINT) AS c_mktsegment_FURNITURE,
            | CAST(CASE WHEN c_mktsegment = 'HOUSEHOLD'  THEN 1 ELSE 0 END AS BIGINT) AS c_mktsegment_HOUSEHOLD,
            | CAST(CASE WHEN c_mktsegment = 'MACHINERY'  THEN 1 ELSE 0 END AS BIGINT) AS c_mktsegment_MACHINERY,
            | CAST(CASE WHEN c_mktsegment IS NULL        THEN 1 ELSE 0 END AS BIGINT) AS c_mktsegment_nan
            |FROM customer ORDER BY c_custkey""".stripMargin)),

    // §2.14 frequency ("target") encoding
    // r21 pre-sorted input (see the note on QuerySupport.dirtyCustomer):
    // the count aggs are sort-eliminated, and the BROADCAST left join plus the
    // ratio projection preserve the sorted stream order — evaluated above
    // the range exchange instead of twice below it.
    // r22: the sort moved back ABOVE the op. The r21 presort put it on
    // the op's input, but frequency encoding joins the count table above
    // it and Catalyst's EliminateSorts REMOVES a Sort under a Join
    // (SPARK-29343: join output order is unspecified) — the declared
    // order had silently been riding on parquet file order
    // (PresortContractSpec caught it). The fit aggregation still sees the
    // unsorted scan (the sort is above the whole op), and the derived
    // column here is one divide, so the range sampler's re-evaluation is
    // noise.
    Query("q_encode_freq", (s, dir) =>
      Encode("target")(tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_returnflag"))
        .df.orderBy("l_orderkey", "l_linenumber"),
      sql("""SELECT l_orderkey, l_linenumber, l_partkey, l_returnflag,
            | CAST(count(*) OVER (PARTITION BY l_returnflag) AS DOUBLE)
            |   / count(*) OVER () AS l_returnflag_freq_encoded
            |FROM lineitem
            |ORDER BY l_orderkey, l_linenumber, l_partkey, l_returnflag""".stripMargin)),

    // §2.14 one-hot's >50-distinct SKIP path (r15): lang (5 values) is
    // encoded, text (~500 distinct, over the 2·50+16 HLL margin) is
    // skipped and passes through untouched — the reference's guard
    // (encoding.py:127-134) against exploding a URL/id column
    Query("q_encode_onehot_skip", (s, dir) =>
      Encode("onehot")(tbl(s, dir, "documents")
        .select("doc_id", "lang", "text")).df.orderBy("doc_id"),
      // the skip path: text's cardinality is over the onehot margin, so it
      // must pass through byte-identical while lang expands; langs are the
      // generator's fixed set (same static-enumeration pattern as onehot)
      sql("""SELECT doc_id,
            | CAST(CASE WHEN lang = 'de' THEN 1 ELSE 0 END AS BIGINT) AS lang_de,
            | CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS lang_en,
            | CAST(CASE WHEN lang = 'es' THEN 1 ELSE 0 END AS BIGINT) AS lang_es,
            | CAST(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END AS BIGINT) AS lang_fr,
            | CAST(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END AS BIGINT) AS lang_zh,
            | CAST(CASE WHEN lang IS NULL THEN 1 ELSE 0 END AS BIGINT) AS lang_nan,
            | text
            |FROM documents ORDER BY doc_id""".stripMargin)),

    // §2.14 label-encoding's over-broadcast dictionary path (r15): the
    // gate forced to 100 so c_name's 1500 uniques take rankedDistinct
    // (partition-offset codes + shuffle join — no global window, no
    // broadcast) — identical codes to the window path by construction
    Query("q_encode_label_big", (s, dir) =>
      Encode("label", columns = Seq("c_name"), maxLabelBroadcast = 100)(
        tbl(s, dir, "customer").select("c_custkey", "c_name"))
        .df.orderBy("c_custkey"),
      // rankedDistinct must equal dense_rank−1 over the sorted uniques —
      // the big path's defining contract
      sql("""SELECT c_custkey,
            | CAST(dense_rank() OVER (ORDER BY c_name) - 1 AS BIGINT) AS c_name
            |FROM customer ORDER BY c_custkey""".stripMargin)),

    // §2.14 one-hot with drop_first (first sorted value's column dropped)
    Query("q_encode_onehot_dropfirst", (s, dir) =>
      Encode("onehot", dropFirst = true)(tbl(s, dir, "customer")
        .select("c_custkey", "c_mktsegment")).df.orderBy("c_custkey"),
      sql("""SELECT c_custkey,
            | CAST(CASE WHEN c_mktsegment = 'BUILDING'  THEN 1 ELSE 0 END AS BIGINT) AS c_mktsegment_BUILDING,
            | CAST(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END AS BIGINT) AS c_mktsegment_FURNITURE,
            | CAST(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END AS BIGINT) AS c_mktsegment_HOUSEHOLD,
            | CAST(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END AS BIGINT) AS c_mktsegment_MACHINERY,
            | CAST(CASE WHEN c_mktsegment IS NULL       THEN 1 ELSE 0 END AS BIGINT) AS c_mktsegment_nan
            |FROM customer ORDER BY c_custkey""".stripMargin)),

    // §2.14 label encode → inverse_transform round trip
    Query("q_encode_label_roundtrip", (s, dir) => {
      val n = tbl(s, dir, "nation").select("n_nationkey", "n_name")
      val mapping = Encode.labelMapping(n, "n_name")
      val encoded = Encode("label")(n).df
      Encode.inverseLabel(encoded, mapping, "n_name").orderBy("n_nationkey")
    },
      sql("SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey")),

    // §2.16 min-max scaling
    Query("q_normalize_minmax", (s, dir) => {
      val li = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
      Normalize("minmax", columns = Seq("l_quantity", "l_discount"))
        .fitTransform(li, li.orderBy("l_orderkey", "l_linenumber"))._1.df
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity"), 6).as("l_quantity"),
          round(col("l_discount"), 6).as("l_discount"))
    },
      sql("""WITH s AS (SELECT min(l_quantity) AS qlo, max(l_quantity) AS qhi,
            |                  min(l_discount) AS dlo, max(l_discount) AS dhi
            |           FROM lineitem)
            |SELECT l_orderkey, l_linenumber,
            | round((l_quantity - qlo) / (qhi - qlo) * 1.0 + 0.0, 6) AS l_quantity,
            | round((l_discount - dlo) / (dhi - dlo) * 1.0 + 0.0, 6) AS l_discount
            |FROM lineitem, s
            |ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount""".stripMargin)),

    // §2.16 standard scaling (population std, sklearn ddof=0)
    Query("q_normalize_standard", (s, dir) => {
      val c = tbl(s, dir, "customer").select("c_custkey", "c_acctbal")
      Normalize("standard", columns = Seq("c_acctbal"))(c).df
        .select(col("c_custkey"), round(col("c_acctbal"), 6).as("c_acctbal"))
        .orderBy("c_custkey")
    },
      sql("""WITH s AS (SELECT avg(c_acctbal) AS m, stddev_pop(c_acctbal) AS sd
            |           FROM customer)
            |SELECT c_custkey, round((c_acctbal - m) / sd, 6) AS c_acctbal
            |FROM customer, s ORDER BY c_custkey""".stripMargin)),

    // §2.16 row-wise L2 normalization
    Query("q_normalize_l2", (s, dir) => {
      val li = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      Normalize("normalize",
        columns = Seq("l_quantity", "l_extendedprice"))
        .fitTransform(li, li.orderBy("l_orderkey", "l_linenumber"))._1.df
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity"), 6).as("l_quantity"),
          round(col("l_extendedprice"), 6).as("l_extendedprice"))
    },
      sql("""SELECT l_orderkey, l_linenumber,
            | round(l_quantity / sqrt(l_quantity*l_quantity + l_extendedprice*l_extendedprice), 6) AS l_quantity,
            | round(l_extendedprice / sqrt(l_quantity*l_quantity + l_extendedprice*l_extendedprice), 6) AS l_extendedprice
            |FROM lineitem
            |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin)),

    // §2.16 robust scaling (median/IQR)
    Query("q_normalize_robust", (s, dir) => {
      val c = tbl(s, dir, "customer").select("c_custkey", "c_acctbal")
      Normalize("robust", columns = Seq("c_acctbal"))(c).df
        .select(col("c_custkey"), round(col("c_acctbal"), 6).as("c_acctbal"))
        .orderBy("c_custkey")
    },
      sql("""WITH s AS (SELECT quantile_cont(c_acctbal, 0.5) AS med,
            |                  quantile_cont(c_acctbal, 0.75) - quantile_cont(c_acctbal, 0.25) AS iqr
            |           FROM customer)
            |SELECT c_custkey, round((c_acctbal - med) / iqr, 6) AS c_acctbal
            |FROM customer, s ORDER BY c_custkey""".stripMargin)),

    // §2.16 minmax scale → inverse_transform round trip
    Query("q_normalize_minmax_roundtrip", (s, dir) => {
      val li = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
      // forward-fitted stats threaded into the inverse: one stats job total
      val (res, stats) = Normalize("minmax", columns = Seq("l_quantity"))
        .fitTransform(li, li.orderBy("l_orderkey", "l_linenumber"))
      Normalize.inverseFromStats(res.df, stats, "minmax", Seq("l_quantity"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity"), 6).as("l_quantity"))
    },
      sql("""SELECT l_orderkey, l_linenumber, round(l_quantity, 6) AS l_quantity
            |FROM lineitem
            |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin)),

    // discretization (pandas cut/qcut): learn edges in one agg, assign
    // bins in a pure codegen projection — edges ride as plan literals
    Query("q_discretize_width", (s, dir) =>
      {
        // r21 pre-sorted bin input + fit-on-unsorted (see the note on
        // QuerySupport.dirtyCustomer)
        val li = tbl(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_extendedprice",
            "l_quantity")
        graft.ops.Discretize.equalWidth(li,
            li.orderBy("l_orderkey", "l_linenumber"),
            Seq("l_extendedprice", "l_quantity"), nBins = 8, suffix = "_bin")
          .select("l_orderkey", "l_linenumber", "l_extendedprice_bin",
            "l_quantity_bin")
      },
      // same IEEE shape as Discretize.equalWidth: w = (mx-mn)/8 once, then
      // floor((x-mn)/w) clamped — identical doubles, identical bins
      sql("""WITH s AS (SELECT min(l_extendedprice) AS emn, max(l_extendedprice) AS emx,
            |                  min(l_quantity) AS qmn, max(l_quantity) AS qmx
            |           FROM lineitem)
            |SELECT l_orderkey, l_linenumber,
            |  CAST(least(floor((l_extendedprice - emn) / ((emx - emn) / 8.0)), 7) AS BIGINT)
            |    AS l_extendedprice_bin,
            |  CAST(least(floor((l_quantity - qmn) / ((qmx - qmn) / 8.0)), 7) AS BIGINT)
            |    AS l_quantity_bin
            |FROM lineitem, s ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    Query("q_discretize_quantile", (s, dir) =>
      {
        val li = tbl(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_extendedprice")
        graft.ops.Discretize.quantile(li,
            li.orderBy("l_orderkey", "l_linenumber"),
            Seq("l_extendedprice"), nBins = 4, suffix = "_bin")
          .select("l_orderkey", "l_linenumber", "l_extendedprice_bin")
      },
      // quantile_cont shares ExactPercentile's linear interpolation (the
      // q_outlier_iqr_cap precedent); right-closed intervals like qcut
      sql("""WITH q AS (SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
            |                  quantile_cont(l_extendedprice, 0.50) AS q2,
            |                  quantile_cont(l_extendedprice, 0.75) AS q3
            |           FROM lineitem)
            |SELECT l_orderkey, l_linenumber,
            |  CAST(l_extendedprice > q1 AS BIGINT) + CAST(l_extendedprice > q2 AS BIGINT)
            |    + CAST(l_extendedprice > q3 AS BIGINT) AS l_extendedprice_bin
            |FROM lineitem, q ORDER BY l_orderkey, l_linenumber""".stripMargin))
  )
}
