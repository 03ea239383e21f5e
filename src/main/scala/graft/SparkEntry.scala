package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops._
import graft.text.TextAnalysis
import graft.dedup.NearDup
import graft.sim.Similarity
import graft.streaming.Events
import graft.multimodal.Multimodal

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query below runs an operator from SURVEY.md §2 over the driver
  * corpus and has a DuckDB-equivalent in [[oracleSql]]. Conventions for
  * oracle-stable output (SURVEY.md §5.2):
  *  - deterministic ORDER BY on both sides (non-null keys, then value cols);
  *  - computed double columns rounded to 6 dp on BOTH sides (aggregation
  *    order differs between engines at the last ulp);
  *  - pass-through values left exact;
  *  - identical expression shapes so IEEE arithmetic matches bit-for-bit
  *    where no aggregation is involved.
  * Base tables are clean (FIXTURES.md), so queries inject deterministic
  * nulls/dirt via the same CASE expression on both sides.
  */
object SparkEntry {

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Scratch dir for the sink-roundtrip queries, unique per JVM: a fixed
    * `/tmp/graft_<fmt>_roundtrip_<sf>` collides when two Verify/Bench
    * invocations run the same sf concurrently — one overwrites the files
    * the other is mid-read on. The PID suffix keeps reruns within one JVM
    * idempotent (overwrite mode) while isolating concurrent processes;
    * [[sweepDeadScratch]] (called by Bench/Verify at startup, OUTSIDE
    * any timed region) bounds the cross-invocation accumulation. */
  private def roundtripPath(fmt: String, dir: String): String =
    s"/tmp/graft_${fmt}_roundtrip_${new java.io.File(dir).getName}" +
      s"_${ProcessHandle.current().pid()}"

  /** Delete `/tmp/graft_*_roundtrip_<sf>_<pid>` scratch whose owning
    * process is DEAD. Pid-suffixed sink scratch otherwise accumulates
    * one copy per invocation (~1 GB each for the bucketed lineitem at
    * sf10 — r17 measured /tmp filling from exactly this); a dead owner
    * can no longer be mid-read, so the delete is safe, and live pids
    * (a concurrent run) are left alone. Bench and Verify call this once
    * at startup, never inside a timed row. */
  private[graft] def sweepDeadScratch(dir: String): Unit = {
    val sf = new java.io.File(dir).getName
    def sweep(base: String, pat: scala.util.matching.Regex): Unit =
      Option(new java.io.File(base).listFiles()).foreach(_.foreach { f =>
        f.getName match {
          case pat(pid) =>
            // Try guards a stray name whose digits overflow Long
            // (NumberFormatException) or fall outside the OS pid range
            // (ProcessHandle.of throws) — such a name is not ours to
            // judge, so SKIP it rather than crash startup or delete it
            scala.util.Try(ProcessHandle.of(pid.toLong)).foreach { h =>
              if (!(h.isPresent && h.get().isAlive)) {
                def rec(g: java.io.File): Unit = {
                  Option(g.listFiles()).foreach(_.foreach(rec)); g.delete(); ()
                }
                rec(f)
              }
            }
          case _ => ()
        }
      })
    // optional `_suffix` after the pid: q_bucketed_join appends
    // `_orders`/`_lineitem` to its base path (r17 ADVICE — the
    // un-suffixed pattern silently skipped the ~1 GB bucketed scratch,
    // the very dirs the sweep exists for)
    sweep("/tmp", ("^graft_[a-z0-9]+_roundtrip_" +
      java.util.regex.Pattern.quote(sf) + "_([0-9]+)(?:_[a-z]+)?$").r)
    // r22: streaming checkpoints live on tmpfs (StreamRuns
    // checkpointScratch — RAM-backed!) and are deleted in-line by the
    // runs; a CRASHED invocation would leak them into memory until
    // reboot, so the dead-pid sweep covers them too (both possible
    // bases: /dev/shm and the JVM temp dir).
    val ckpt = ("^graft_ckpt_[a-z]+_" + java.util.regex.Pattern.quote(sf) +
      "_([0-9]+)_[0-9]+$").r
    sweep("/dev/shm", ckpt)
    sweep(System.getProperty("java.io.tmpdir", "/tmp"), ckpt)
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0: a
    * representative cleaning pipeline over lineitem (SURVEY.md §7.3). */
  def entry(spark: SparkSession): DataFrame = {
    val df = tbl(spark, "/root/testdata/sf0.001", "lineitem")
    val (out, _) = Pipeline.run(df, PipelineConfig(
      typeConvert = Some(TypeConvert()),
      textClean = Some(TextClean(Seq("lowercase", "remove_extra_spaces"))),
      missingValues = Some(MissingValues("fill_median")),
      dedup = true,
      outliers = Some(Outliers("iqr", "cap", 3.0,
        columns = Seq("l_extendedprice"))),
      encode = Some(Encode("target", columns = Seq("l_returnflag"))),
      normalize = Some(Normalize("minmax", columns = Seq("l_quantity")))))
    out
  }

  /** TPC-H Q5-flavored star join: revenue per nation for EUROPE
    * customers' 1997 orders, written as the bare declarative chain —
    * NO hand-placed broadcast hints, no pre-filtered scans. Exposed
    * (not inlined in the map) so PlanQualitySpec can assert what
    * Catalyst made of it: dimension joins broadcast under the
    * threshold, the region/date filters pushed into the scans, and the
    * lineitem read schema pruned to the 3 used columns. */
  private[graft] def joinAggPlan(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(tbl(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .join(tbl(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      .where(col("r_name") === "EUROPE" &&
        col("o_orderdate") >= lit("1997-01-01").cast(TimestampType) &&
        col("o_orderdate") < lit("1998-01-01").cast(TimestampType))
      .groupBy(col("n_name"))
      .agg(sum(moneyRevenue).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  /** Decimal-exact revenue term `l_extendedprice * (1 - l_discount)`.
    *
    * Money aggregates are decimal-exact BY POLICY (r17 verdict): the
    * inputs are exact 2-dp values stored as double, so casting each to
    * its decimal domain FIRST (price DECIMAL(12,2), discount
    * DECIMAL(3,2)) makes the per-row product an exact DECIMAL(17,4) and
    * the sum order-independent — a double sum over ~1e5 addends at
    * ~6e9 magnitude drifts 1e-4 with partial-agg schedule, so a
    * round(...,6) oracle hash cannot be stable. The twin SQL applies
    * the identical casts. */
  private def moneyRevenue: Column =
    col("l_extendedprice").cast(DecimalType(12, 2)) *
      (lit(1).cast(DecimalType(3, 2)) -
        col("l_discount").cast(DecimalType(3, 2)))

  /** DuckDB twin of [[moneyRevenue]]. */
  private val moneyRevenueSql =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * " +
      "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"

  // ---- shared injections (Spark side; SQL twins below) -------------------

  /** customer with deterministic nulls: acctbal null on custkey%7=0,
    * mktsegment null on custkey%5=0. */
  // r21 sort-below-projection pattern, applied to every projection/filter
  // -shaped op query that used to end in `.orderBy(...)`: the final sort
  // now runs on the op's INPUT, keyed by a unique raw-column prefix of the
  // old sort keys, and the op's derived expressions are evaluated ABOVE
  // the Sort. Why: a global orderBy is a range exchange, and the range
  // sampler evaluates the exchange's child once for the sample pass (plus
  // once more per imbalanced partition re-sample) before the map pass
  // evaluates it again — with the op's projection below the sort, the
  // expensive derived expressions ran 2-3×; with it above, exactly once,
  // and the sample pass scans only raw columns (guide §1.2 "don't compute
  // things you throw away", §2.3 "project before the exchange" inverted:
  // here the projection WIDENS rows, so it belongs after). Output rows
  // AND order are unchanged: the sort prefix is a unique key of the
  // table, so the dropped derived-column sort keys were order-inert; the
  // op's stats jobs see Aggregate(Sort(...)) and Catalyst's EliminateSorts
  // removes the sort there, so the stat pass pays nothing. Measured on
  // q_typeconvert_auto at sf0.1/32 cores: 4.57 → 3.48 s steady-state.
  private def dirtyCustomer(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer").select(
      col("c_custkey"),
      when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_acctbal"))
        .as("c_acctbal"),
      when(col("c_custkey") % 5 === 0, lit(null)).otherwise(col("c_mktsegment"))
        .as("c_mktsegment"))

  private val dirtyCustomerSql =
    """SELECT c_custkey,
      | CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS c_acctbal,
      | CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_mktsegment END AS c_mktsegment
      |FROM customer""".stripMargin

  private val modeSegSql =
    "(SELECT c_mktsegment FROM t WHERE c_mktsegment IS NOT NULL " +
      "GROUP BY c_mktsegment ORDER BY count(*) DESC, c_mktsegment LIMIT 1)"

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §2.8 exact dedup: duplicate every row, drop exact duplicates back out.
    "q_dedup_exact" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      Dedup()(d.unionAll(d)).df.orderBy("doc_id")
    }),

    // §2.9 drop_rows
    "q_missing_drop_rows" -> ((s, dir) =>
      MissingValues("drop_rows")(dirtyCustomer(s, dir)).df.orderBy("c_custkey")),

    // §2.9 fill_mean (numeric → mean, categorical → mode)
    "q_missing_fill_mean" -> ((s, dir) => {
      val out = MissingValues("fill_mean")(dirtyCustomer(s, dir)).df
      out.select(col("c_custkey"), round(col("c_acctbal"), 6).as("c_acctbal"),
        col("c_mktsegment")).orderBy("c_custkey")
    }),

    // §2.9 fill_median
    "q_missing_fill_median" -> ((s, dir) => {
      val out = MissingValues("fill_median")(dirtyCustomer(s, dir)).df
      out.select(col("c_custkey"), round(col("c_acctbal"), 6).as("c_acctbal"),
        col("c_mktsegment")).orderBy("c_custkey")
    }),

    // §2.10 IQR cap
    "q_outlier_iqr_cap" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")
      Outliers("iqr", "cap", 1.5, columns = Seq("l_extendedprice"))(
          li, li.orderBy("l_orderkey", "l_linenumber")).df
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          round(col("l_extendedprice"), 6).as("l_extendedprice"))
    }),

    // §2.10 zscore remove
    "q_outlier_zscore_remove" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      Outliers("zscore", "remove", 1.5,
        columns = Seq("l_quantity", "l_extendedprice"))(li).df
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    }),

    // §2.11 auto type detection: stringly columns back to double/bool/timestamp
    "q_typeconvert_auto" -> ((s, dir) => {
      def strly(d: DataFrame) = d.select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast(StringType).as("l_quantity"),
        when(col("l_discount") > 0.05, lit("yes")).otherwise(lit("no"))
          .as("disc_flag"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_str"))
      val raw = tbl(s, dir, "lineitem")
      TypeConvert(auto = true)(strly(raw),
        strly(raw.orderBy("l_orderkey", "l_linenumber"))).df
    }),

    // §2.13 datetime parse + feature extraction
    "q_datetime_parse" -> ((s, dir) => {
      val o = tbl(s, dir, "orders").orderBy("o_orderkey")
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("date_str"))
      DatetimeParse(extractFeatures = true)(o).df
    }),

    // §2.14 label encoding (lexicographic codes)
    "q_encode_label" -> ((s, dir) =>
      Encode("label")(tbl(s, dir, "nation").select("n_nationkey", "n_name"))
        .df.orderBy("n_nationkey")),

    // §2.14 one-hot encoding (incl. null indicator)
    "q_encode_onehot" -> ((s, dir) =>
      Encode("onehot")(tbl(s, dir, "customer")
        .select("c_custkey", "c_mktsegment")).df.orderBy("c_custkey")),

    // §2.14 frequency ("target") encoding
    // r21 pre-sorted input (see the note above dirtyCustomer): the count
    // aggs are sort-eliminated, and the BROADCAST left join plus the
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
    "q_encode_freq" -> ((s, dir) =>
      Encode("target")(tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_returnflag"))
        .df.orderBy("l_orderkey", "l_linenumber")),

    // §2.14 one-hot's >50-distinct SKIP path (r15): lang (5 values) is
    // encoded, text (~500 distinct, over the 2·50+16 HLL margin) is
    // skipped and passes through untouched — the reference's guard
    // (encoding.py:127-134) against exploding a URL/id column
    "q_encode_onehot_skip" -> ((s, dir) =>
      Encode("onehot")(tbl(s, dir, "documents")
        .select("doc_id", "lang", "text")).df.orderBy("doc_id")),

    // §2.14 label-encoding's over-broadcast dictionary path (r15): the
    // gate forced to 100 so c_name's 1500 uniques take rankedDistinct
    // (partition-offset codes + shuffle join — no global window, no
    // broadcast) — identical codes to the window path by construction
    "q_encode_label_big" -> ((s, dir) =>
      Encode("label", columns = Seq("c_name"), maxLabelBroadcast = 100)(
        tbl(s, dir, "customer").select("c_custkey", "c_name"))
        .df.orderBy("c_custkey")),

    // §2.12 text cleaning chain
    "q_textclean" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").orderBy("doc_id").select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          lit("  Hello, WORLD!!  <b>Tag</b> 123 ")).otherwise(col("text"))
          .as("text"))
      TextClean(Seq("lowercase", "remove_html", "remove_numbers",
        "remove_punctuation", "remove_extra_spaces"))(d).df
    }),

    // §2.12 remaining ops: uppercase, special-chars, whitespace, custom map
    "q_textclean_special" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").orderBy("doc_id").select(col("doc_id"),
        when(col("doc_id") % 5 === 1, lit(" mixed-CASE text & sym*bols  here "))
          .otherwise(col("text")).as("text"))
      TextClean(Seq("uppercase", "remove_special_chars", "remove_whitespace",
          "custom"),
        customPatterns = Seq("HERE" -> "THERE"))(d).df
    }),

    // §2.15 common-typos dictionary replacement
    "q_typofix_common" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").orderBy("doc_id").select(col("doc_id"),
        when(col("doc_id") % 3 === 0, lit("Teh managment adn thier deparment"))
          .when(col("doc_id") % 3 === 1, lit("definately occured untill now"))
          .otherwise(col("text")).as("text"))
      TypoFix("common_typos")(d).df
    }),

    // §2.16 min-max scaling
    "q_normalize_minmax" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
      Normalize("minmax", columns = Seq("l_quantity", "l_discount"))
        .fitTransform(li, li.orderBy("l_orderkey", "l_linenumber"))._1.df
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity"), 6).as("l_quantity"),
          round(col("l_discount"), 6).as("l_discount"))
    }),

    // §2.16 standard scaling (population std, sklearn ddof=0)
    "q_normalize_standard" -> ((s, dir) => {
      val c = tbl(s, dir, "customer").select("c_custkey", "c_acctbal")
      Normalize("standard", columns = Seq("c_acctbal"))(c).df
        .select(col("c_custkey"), round(col("c_acctbal"), 6).as("c_acctbal"))
        .orderBy("c_custkey")
    }),

    // §2.16 row-wise L2 normalization
    "q_normalize_l2" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      Normalize("normalize",
        columns = Seq("l_quantity", "l_extendedprice"))
        .fitTransform(li, li.orderBy("l_orderkey", "l_linenumber"))._1.df
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity"), 6).as("l_quantity"),
          round(col("l_extendedprice"), 6).as("l_extendedprice"))
    }),

    // §2.9 fill_mode (every column → its mode, pandas tie-break)
    "q_missing_fill_mode" -> ((s, dir) =>
      MissingValues("fill_mode")(dirtyCustomer(s, dir)).df.orderBy("c_custkey")),

    // Per-op metrics envelope (missingValues.py:179-191): the op's
    // deferred metrics() thunk rendered as a one-row frame, value-checked
    // end to end — rows/columns before/after, per-column and total
    // missing counts.
    "q_missing_report" -> ((s, dir) => {
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
    }),

    // §2.9 drop_columns (any null → column dropped)
    "q_missing_drop_columns" -> ((s, dir) => {
      val c = tbl(s, dir, "customer").select(
        col("c_custkey"),
        when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_acctbal"))
          .as("c_acctbal"),
        col("c_mktsegment"))
      MissingValues("drop_columns")(c).df.orderBy("c_custkey")
    }),

    // §2.9 forward_fill over explicit order
    "q_missing_ffill" -> ((s, dir) =>
      MissingValues("forward_fill", orderCol = Some("c_custkey"))(
        dirtyCustomer(s, dir)).df.orderBy("c_custkey")),

    // §2.9 backward_fill over explicit order
    "q_missing_bfill" -> ((s, dir) =>
      MissingValues("backward_fill", orderCol = Some("c_custkey"))(
        dirtyCustomer(s, dir)).df.orderBy("c_custkey")),

    // §7.4 distributed ffill/bfill (range-partition + boundary fix-up, no
    // single-task sort) — same oracle as the window path proves equality
    "q_missing_ffill_scale" -> ((s, dir) =>
      graft.plans.PartitionedFill.ffill(dirtyCustomer(s, dir), "c_custkey",
        numPartitions = 8).orderBy("c_custkey")),
    "q_missing_bfill_scale" -> ((s, dir) =>
      graft.plans.PartitionedFill.bfill(dirtyCustomer(s, dir), "c_custkey",
        numPartitions = 8).orderBy("c_custkey")),

    // §2.10 modified zscore (MAD) cap
    "q_outlier_modz_cap" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")
      Outliers("modified_zscore", "cap", 1.0,
        columns = Seq("l_extendedprice"))(
          li, li.orderBy("l_orderkey", "l_linenumber")).df
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          round(col("l_extendedprice"), 6).as("l_extendedprice"))
    }),

    // §2.10 isolation-forest proxy (contamination-quantile) remove
    "q_outlier_iforest_remove" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      Outliers("isolation_forest", "remove", contamination = 0.1,
        columns = Seq("l_quantity", "l_extendedprice"))(li).df
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    }),

    // §2.10 log1p transform of outlier-bearing columns
    "q_outlier_log_transform" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
      Outliers("zscore", "transform", 1.5, columns = Seq("l_quantity"))(
          li, li.orderBy("l_orderkey", "l_linenumber")).df
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity"), 6).as("l_quantity"))
    }),

    // §2.16 robust scaling (median/IQR)
    "q_normalize_robust" -> ((s, dir) => {
      val c = tbl(s, dir, "customer").select("c_custkey", "c_acctbal")
      Normalize("robust", columns = Seq("c_acctbal"))(c).df
        .select(col("c_custkey"), round(col("c_acctbal"), 6).as("c_acctbal"))
        .orderBy("c_custkey")
    }),

    // §2.15 fuzzy match: misspellings rewritten to the frequent spelling
    "q_typofix_fuzzy" -> ((s, dir) => {
      val c = tbl(s, dir, "customer").select(col("c_custkey"),
        when(col("c_custkey") % 17 === 0, lit("AUTOMOBIL"))
          .when(col("c_custkey") % 23 === 0, lit("BULDING"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))
      TypoFix("fuzzy_match", similarityThreshold = 0.8)(c).df
        .orderBy("c_custkey")
    }),

    // §7.5 distributed fuzzy match (LSH-blocked similarity self-join, no
    // driver O(distinct²) pass) — same oracle as the driver-side path
    "q_typofix_fuzzy_scale" -> ((s, dir) => {
      val c = tbl(s, dir, "customer").select(col("c_custkey"),
        when(col("c_custkey") % 17 === 0, lit("AUTOMOBIL"))
          .when(col("c_custkey") % 23 === 0, lit("BULDING"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))
      graft.plans.DistributedFuzzy.fix(c, "c_mktsegment", 0.8)
        .orderBy("c_custkey")
    }),

    // §2.15 corpus spell check (driver-side vocabulary; rows-only oracle)
    "q_typofix_spell" -> ((s, dir) => {
      // typos on ONE doc only: corpus frequency must stay 1 (freq>1 words
      // are vocabulary, i.e. treated as correct — spellingFix.py:209-229)
      val d = tbl(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") === 0,
          concat(col("text"), lit(" spakr qurey tabel"))).otherwise(col("text"))
          .as("text"))
      TypoFix("spell_check", similarityThreshold = 0.7)(d).df.orderBy("doc_id")
    }),

    // §7.5 distributed spell check (blocked vocabulary join, no
    // driver rare×vocab cross; rows-only oracle like q_typofix_spell)
    "q_typofix_spell_scale" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") === 0,
          concat(col("text"), lit(" spakr qurey tabel"))).otherwise(col("text"))
          .as("text"))
      graft.plans.DistributedSpell.fix(d, "text", 0.7).orderBy("doc_id")
    }),

    // §7.5 distributed spell-check CORRECTION MAP, value-checked: built
    // with levenshtein similarity (native in Spark and DuckDB — Ratcliff,
    // the reference default, has no SQL twin) so an external engine can
    // recompute the whole map: word freqs -> vocab/rare split -> blocked
    // candidate join -> best-match window pick.
    // Planted SINGLE-edit typos: one edit always shares a prefix/suffix/
    // sorted-chars block key with its correction, so the blocked join's
    // candidate set provably contains what the oracle's all-pairs join
    // finds (transpositions are 2 edits under levenshtein and would sit
    // below the 0.8 gate — that's why these differ from q_typofix_spell's
    // Ratcliff-tuned typos).
    "q_spell_corrections" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") === 0,
          concat(col("text"), lit(" sparkk tabble columnn")))
          .otherwise(col("text")).as("text"))
      graft.plans.DistributedSpell.corrections(d, "text", threshold = 0.8,
        sim = graft.plans.DistributedSpell.levSim)
        .select(col("__from").as("word"), col("__to").as("fix"))
        .orderBy("word")
    }),

    // §7.5 spell check END TO END, value-checked: same levSim map as
    // q_spell_corrections, then the word-boundary apply — the oracle
    // rebuilds the map AND the rewritten corpus (delimiter-preserving
    // split/rejoin; see the oracle comment). Closes the last apply-path
    // hash gap (q_typofix_spell{,_scale} stay rows-only for the Ratcliff
    // default, whose metric has no SQL twin).
    "q_typofix_spell_lev" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") === 0,
          concat(col("text"), lit(" sparkk tabble columnn")))
          .otherwise(col("text")).as("text"))
      graft.plans.DistributedSpell.fix(d, "text", threshold = 0.8,
        sim = graft.plans.DistributedSpell.levSim).orderBy("doc_id")
    }),

    // §2.0 pipeline end-to-end incl. the P2 inter-stage sanitizer quirk:
    // nulls are median-filled by the sanitizer BEFORE any op runs
    "q_pipeline_e2e" -> ((s, dir) => {
      val (out, _) = Pipeline.run(dirtyCustomer(s, dir), PipelineConfig(
        dedup = true,
        normalize = Some(Normalize("minmax", columns = Seq("c_acctbal")))))
      out.select(col("c_custkey"), round(col("c_acctbal"), 6).as("c_acctbal"),
        col("c_mktsegment")).orderBy("c_custkey")
    }),

    // §2.1 S4 dataset profiler (sentinel-missing heuristics)
    "q_profile" -> ((s, dir) => {
      val c = tbl(s, dir, "customer").select(
        col("c_custkey"),
        when(col("c_custkey") % 11 === 0, lit("N/A"))
          .when(col("c_custkey") % 13 === 0, lit(""))
          .otherwise(col("c_name")).as("c_name"),
        when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_acctbal"))
          .as("c_acctbal"),
        col("c_mktsegment"))
      Profile.asDataFrame(c).orderBy("column_name")
    }),

    // §2.1 profiler sample rows + dtypes (the rest of the S4 envelope,
    // pipeline.py:459-475) — ordered input makes the 5-row sample
    // deterministic and oracle-able
    "q_profile_sample" -> ((s, dir) =>
      Profile.sampleAsDataFrame(tbl(s, dir, "customer").orderBy("c_custkey"))
        .orderBy("kind", "row_idx", "column_name")),

    // §2.9 drop_rows_threshold (keep rows with >= int(t*ncols) non-null)
    "q_missing_drop_rows_threshold" -> ((s, dir) =>
      MissingValues("drop_rows_threshold", threshold = 0.7)(
        dirtyCustomer(s, dir)).df.orderBy("c_custkey")),

    // §2.9 drop_columns_threshold (keep cols with >= int(t*nrows) non-null)
    "q_missing_drop_columns_threshold" -> ((s, dir) =>
      MissingValues("drop_columns_threshold", threshold = 0.9)(
        dirtyCustomer(s, dir)).df.orderBy("c_custkey")),

    // §2.12 URL/email scrubbing
    "q_textclean_urls" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").orderBy("doc_id").select(col("doc_id"),
        when(col("doc_id") % 6 === 0,
          lit("Visit https://example.com/x and mail bob@test.org now"))
          .otherwise(col("text")).as("text"))
      TextClean(Seq("remove_urls", "remove_emails", "remove_extra_spaces"))(d)
        .df
    }),

    // §2.11 manual type mapping (errors='coerce' semantics)
    "q_typeconvert_manual" -> ((s, dir) => {
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
    }),

    // §2.14 one-hot with drop_first (first sorted value's column dropped)
    "q_encode_onehot_dropfirst" -> ((s, dir) =>
      Encode("onehot", dropFirst = true)(tbl(s, dir, "customer")
        .select("c_custkey", "c_mktsegment")).df.orderBy("c_custkey")),

    // §2.16 get_scaling_statistics (skew/kurt report-only, excluded here)
    "q_scaling_stats" -> ((s, dir) =>
      Normalize.scalingStats(tbl(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"))
        .select(col("column_name"), col("n"),
          round(col("mean"), 6).as("mean"), round(col("std"), 6).as("std"),
          round(col("min"), 6).as("min"), round(col("q1"), 6).as("q1"),
          round(col("median"), 6).as("median"), round(col("q3"), 6).as("q3"),
          round(col("max"), 6).as("max"))
        .orderBy("column_name")),

    // §2.14 get_categorical_summary
    "q_categorical_summary" -> ((s, dir) =>
      Encode.categoricalSummary(dirtyCustomer(s, dir), Seq("c_mktsegment"))
        .orderBy("column_name")),

    // §2.14 label encode → inverse_transform round trip
    "q_encode_label_roundtrip" -> ((s, dir) => {
      val n = tbl(s, dir, "nation").select("n_nationkey", "n_name")
      val mapping = Encode.labelMapping(n, "n_name")
      val encoded = Encode("label")(n).df
      Encode.inverseLabel(encoded, mapping, "n_name").orderBy("n_nationkey")
    }),

    // §2.16 minmax scale → inverse_transform round trip
    "q_normalize_minmax_roundtrip" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
      // forward-fitted stats threaded into the inverse: one stats job total
      val (res, stats) = Normalize("minmax", columns = Seq("l_quantity"))
        .fitTransform(li, li.orderBy("l_orderkey", "l_linenumber"))
      Normalize.inverseFromStats(res.df, stats, "minmax", Seq("l_quantity"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity"), 6).as("l_quantity"))
    }),

    // ---- LLM-pipeline extensions (SURVEY.md §7.6) ----------------------

    // text analysis: token/char counts + ratios
    // r21: the doc-kernel projection queries below sort their UNIQUE raw
    // key first and project the kernels above the Sort — same rows, same
    // order, kernel evaluated once instead of 2-3× (see the note above
    // dirtyCustomer).
    "q_text_stats" -> ((s, dir) => {
      val t = col("text")
      tbl(s, dir, "documents").orderBy("doc_id").select(col("doc_id"),
        TextAnalysis.charCount(t).as("n_chars"),
        TextAnalysis.tokenCount(t).as("n_tokens"),
        TextAnalysis.bpeTokenCount(t).as("n_bpe_tokens"),
        round(TextAnalysis.avgTokenLen(t), 6).as("avg_token_len"),
        round(TextAnalysis.alphaRatio(t), 6).as("alpha_ratio"),
        round(TextAnalysis.punctRatio(t), 6).as("punct_ratio"))
    }),

    // text quality scoring
    "q_text_quality" -> ((s, dir) => {
      val t = col("text")
      tbl(s, dir, "documents").orderBy("doc_id").select(col("doc_id"),
        round(TextAnalysis.stopwordRatio(t), 6).as("stopword_ratio"),
        round(TextAnalysis.qualityScore(t), 6).as("quality"))
    }),

    // Gopher-style repetition quality signals (word n-gram family)
    "q_quality_repetition" -> ((s, dir) =>
      graft.text.QualityFilters.repetitionSignals(
        tbl(s, dir, "documents").orderBy("doc_id"), "text", "doc_id")),

    // the FILTER form of the repetition signals — the thresholded
    // keep/drop an ingest pipeline actually runs (r10 verdict ask #3:
    // a wrong-direction comparison would pass the signal-only oracle).
    // Thresholds sit INSIDE this corpus's signal distributions (word
    // dup median ~0.54, bigram-frac p95 ~0.19) so both keep and drop
    // sides are populated; the operator's defaults stay the Gopher
    // values.
    "q_quality_filter" -> ((s, dir) =>
      // presorted input: the deterministic keep-filter pushes below the
      // Sort (fewer rows sorted), the kernel is evaluated once at the scan
      graft.text.QualityFilters.gopherRepetitionFilter(
          tbl(s, dir, "documents").orderBy("doc_id"), "text",
          maxDupWordFrac = 0.60, maxTopBigramCharFrac = 0.15,
          maxTopTrigramCharFrac = 0.15, maxDupFivegramCharFrac = 0.15)
        .select("doc_id")),

    // sequence-packing placement: concat docs in id order, cut 1000-token
    // windows (n_chars standing in for the token count)
    "q_seq_pack" -> ((s, dir) =>
      graft.plans.SequencePacking.plan(
        tbl(s, dir, "documents"), "doc_id", "n_chars", window = 1000)
        .orderBy("doc_id")),

    // bigram-LM quality score: fit on even docs, score all (held-out odd
    // docs exercise the unseen-bigram smoothing path)
    "q_lm_score" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val fit = graft.text.BigramLm.fit(d.where(col("doc_id") % 2 === 0), "text")
      graft.text.BigramLm.scoreBits(d, fit, "text", "doc_id").orderBy("doc_id")
    }),

    // the FILTER form of the LM score: keep docs at or under the bits
    // threshold (same fit as q_lm_score; sub-2-word docs drop — no
    // evidence of fluency). The corpus scores span ~[4.70, 5.23] bits,
    // so 4.95 splits it near the median — both sides populated.
    "q_lm_filter" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val fit = graft.text.BigramLm.fit(d.where(col("doc_id") % 2 === 0), "text")
      graft.text.BigramLm.filterByBits(d, fit, "text", "doc_id", maxBits = 4.95)
        .select("doc_id").orderBy("doc_id")
    }),

    // PII redaction: plant emails / IPs / phone-shaped runs, replace with
    // placeholder tokens
    "q_redact_pii" -> ((s, dir) => {
      val planted = when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact alice.smith+spam@example.co.uk now")))
        .when(col("doc_id") % 7 === 1,
          concat(lit("server 192.168.101.2 said: "), col("text")))
        .when(col("doc_id") % 7 === 2,
          concat(col("text"), lit(" call +14155550173 today")))
        .otherwise(col("text"))
      tbl(s, dir, "documents").orderBy("doc_id").select(col("doc_id"),
        graft.text.Redact.redactPii(planted).as("text"))
    }),

    // test-set decontamination: every 20th doc is the "benchmark"; the
    // corpus is the rest plus planted near-copies (first word dropped)
    // of the benchmark — those must flag, n=6 on ~50-word docs
    "q_decontaminate" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val bench = d.where(col("doc_id") % 20 === 0)
      val planted = bench.select((col("doc_id") + 100000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
      val corpus = d.where(col("doc_id") % 20 =!= 0).unionAll(planted)
      graft.text.Decontaminate
        .flagContaminated(corpus, bench, "text", "doc_id", n = 6)
        .select("doc_id", "contaminated").orderBy("doc_id")
    }),

    // the 100 TB path (r15): a broadcast Bloom filter over the benchmark
    // grams prunes the corpus gram stream SCAN-SIDE before the exact
    // verify semi-join sees it — bit-identical flags, shuffle volume
    // down to true hits + fpp stragglers
    "q_decontaminate_bloom" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val bench = d.where(col("doc_id") % 20 === 0)
      val planted = bench.select((col("doc_id") + 100000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
      val corpus = d.where(col("doc_id") % 20 =!= 0).unionAll(planted)
      graft.text.Decontaminate
        .flagContaminatedBloom(corpus, bench, "text", "doc_id", n = 6)
        .select("doc_id", "contaminated").orderBy("doc_id")
    }),

    // the FILTER form of decontamination: the kept corpus (planted
    // near-copies and any organically overlapping docs removed)
    "q_decontaminate_filter" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val bench = d.where(col("doc_id") % 20 === 0)
      val planted = bench.select((col("doc_id") + 100000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
      val corpus = d.where(col("doc_id") % 20 =!= 0).unionAll(planted)
      graft.text.Decontaminate
        .removeContaminated(corpus, bench, "text", "doc_id", n = 6)
        .select("doc_id").orderBy("doc_id")
    }),

    // CCNet-style boilerplate line removal: plant a shared footer on 2/3
    // of docs and a shared header on 1/3; lines in >=100 distinct docs
    // are stripped, the docs' own (unique) text lines survive intact
    "q_line_dedup" -> ((s, dir) => {
      val planted = tbl(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(lit("subscribe to our newsletter\n"), col("text"),
            lit("\nall rights reserved")))
          .when(col("doc_id") % 3 === 1,
            concat(col("text"), lit("\nall rights reserved")))
          .otherwise(col("text")).as("text"))
      graft.text.LineDedup.dropBoilerplate(planted, "text", "doc_id",
          minDocFreq = 100)
        .orderBy("doc_id")
    }),

    // Lee-et-al exact duplicated-PASSAGE removal: plant a shared 17-token
    // boilerplate passage (appended on 1/4 of docs, prepended on another
    // 1/4); every 8-gram inside it is corpus-duplicated, so the passage
    // tokens vanish while each doc's own text survives (plus any natural
    // >=8-token repeats, which both engines find identically)
    "q_substring_dedup" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
            concat_ws(" ", col("text"), lit(boilerplatePassage)))
          .when(col("doc_id") % 4 === 1,
            concat_ws(" ", lit(boilerplatePassage), col("text")))
          .otherwise(col("text")).as("text"))
      graft.text.PassageDedup
        .removeDuplicatePassages(d, "text", "doc_id", l = 8)
        .orderBy("doc_id")
    }),

    // winnowing (MOSS) fingerprints: distinct w-window minima over the
    // rolling k-gram hash sequence — one row per (doc, fingerprint)
    "q_winnow_fp" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        explode(TextAnalysis.winnowingFingerprint(col("text"))).as("fp"))
        .orderBy("doc_id", "fp")),

    // winnowing OVERLAP pairs — the partial-overlap/containment dedup
    // whole-doc MinHash structurally misses: planted 60%-prefix copies
    // (a containment case: |copy| / |orig| Jaccard ≈ 0.6 sits below
    // q_neardup_minhash's radar by design) must pair with their source
    // at overlap ≈ 1.0
    "q_winnow_pairs" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val planted = d.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          col("text").substr(lit(1),
            floor(length(col("text")) * 0.6).cast(IntegerType)).as("text"))
      NearDup.winnowPairs(d.unionAll(planted), "text", "doc_id")
        .orderBy("id_a", "id_b")
    }),

    // the winnow pairs resolved transitively — partial-overlap dedup
    // end-to-end (fingerprints -> shared-value pairs -> connected
    // components), same resolution machinery as q_neardup_clusters
    "q_winnow_clusters" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val planted = d.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          col("text").substr(lit(1),
            floor(length(col("text")) * 0.6).cast(IntegerType)).as("text"))
      NearDup.clusters(
        NearDup.winnowPairs(d.unionAll(planted), "text", "doc_id"))
        .orderBy("id")
    }),

    // language identification (function-word vote + CJK share)
    "q_lang_id" -> ((s, dir) =>
      tbl(s, dir, "documents").orderBy("doc_id")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.langId(col("text")).as("pred_lang"))),

    // language distribution (group-by aggregation surface)
    "q_lang_dist" -> ((s, dir) =>
      tbl(s, dir, "documents").groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 6).as("avg_chars"))
        .orderBy("lang")),

    // content fingerprint (normalization-robust exact-dup key)
    "q_fingerprint" -> ((s, dir) =>
      tbl(s, dir, "documents").orderBy("doc_id").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))),

    // deterministic exact dedup by fingerprint (keep smallest id)
    "q_dedup_fingerprint" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val copy = d.select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      NearDup.exactDedup(d.unionAll(copy), "text", "doc_id").orderBy("doc_id")
    }),

    // n-gram (5-shingle) Jaccard similarity of consecutive doc pairs
    "q_ngram_jaccard" -> ((s, dir) => {
      // r21: size-gated repartition — the shingle kernel runs twice over
      // the scan's few splits otherwise (see Parallelize)
      val d = graft.util.Parallelize.bySize(
        tbl(s, dir, "documents").select("doc_id", "text"), "doc_id")
      val a = d.select(col("doc_id").as("id_a"),
        NearDup.shingles(col("text")).as("sh_a"))
      val b = d.select(col("doc_id").as("id_b"),
        NearDup.shingles(col("text")).as("sh_b"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"),
          round(NearDup.jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
        .orderBy("id_a")
    }),

    // MinHash-LSH near-dup pairs (planted near-dups: last word dropped).
    // The drop operates on NORMALIZED text: raw text could end in
    // whitespace (where the regex removes nothing) or a line terminator
    // (where Java's $ matches before it but an external engine's RE2 $
    // does not) — normalizing first makes both engines see the same
    // mutation. Normalization is idempotent, so the signature stage
    // re-normalizing changes nothing.
    "q_neardup_minhash" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val mutated = d.select((col("doc_id") + 1000000).as("doc_id"),
        regexp_replace(NearDup.normalize(col("text")), "\\s+\\S+$", "")
          .as("text"))
      NearDup.minhashPairs(d.unionAll(mutated), "text", "doc_id",
        threshold = 0.5, bucketBatches = bucketBatchesEnv)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // §7.6 deterministic stratified sampling (corpus mixing): per-lang
    // keep rates via a salted-md5 threshold — partitioning-independent,
    // monotone in rate, reproducible by any engine with md5. Thresholds
    // are %08x(rate * 2^32): 0.5 -> 80000000, 0.25 -> 40000000,
    // 0.1 -> 19999999 (mirrored in the oracle CASE).
    "q_sample_stratified" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      graft.ops.Sampling.stratifiedSample(d, "lang", "doc_id",
        Map("en" -> 0.5, "fr" -> 0.25), defaultRate = 0.1)
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    // data-mixture sampling by token budget: per-lang keep rates derived
    // from n_chars totals (en capped at 30k tokens, de at 8k, rest 10%),
    // then the same deterministic salted-hash filter. At sf0.001 the
    // budgets exceed the corpus and the rate clamps to keep-all — the
    // clamp path is part of the contract.
    "q_sample_budget" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      graft.ops.Sampling.tokenBudgetSample(d, "lang", "doc_id", "n_chars",
        budgets = Map("en" -> 30000L, "de" -> 8000L), defaultRate = 0.1)
        ._1.select("doc_id", "lang").orderBy("doc_id")
    }),

    // temperature-flattened mixture (multilingual balancing, r14): per-
    // lang budget ∝ tokens^(1/τ) normalized to 30k, τ=2 — head langs
    // down-sampled, tail kept whole; rates rounded to 6 dp on BOTH
    // engines so pow/sum ulp drift cannot move a threshold
    "q_sample_temperature" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      graft.ops.Sampling.temperatureSample(d, "lang", "doc_id", "n_chars",
        targetTokens = 30000L, tau = 2.0)
        ._1.select("doc_id", "lang").orderBy("doc_id")
    }),

    // document chunking (r14): 6-token windows, 2-token overlap
    // (stride 4) — the pre-embedding splitter; blank docs emit nothing
    "q_chunk_docs" -> ((s, dir) =>
      graft.text.Chunker.chunk(tbl(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 6, overlapTokens = 2)
        .orderBy("doc_id", "chunk_id")),

    // deterministic train/val/test assignment (r14): cumulative salted-
    // hash intervals — stable under corpus growth, boundaries shared
    // with the oracle as LITERAL hex strings
    "q_split_assign" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      graft.ops.Sampling.assignSplits(d, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split").orderBy("doc_id")
    }),

    // deterministic global corpus shuffle (r15): md5-order position via
    // the partition-offset pattern (no global window); the oracle
    // recomputes the identical permutation with row_number over the
    // same md5 keys
    "q_corpus_shuffle" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "lang")
      graft.ops.Sampling.shufflePositions(d, "doc_id")
        .orderBy("doc_id")
    }),

    // chunk → pack composition (r15): split long docs into 6-token
    // chunks, then lay the chunk stream out into 8-token training
    // sequences — the actual pre-training layout path. The composite
    // chunk_key (doc_id·1e6 + chunk_id, valid for docs under 4M tokens
    // at stride 4) keeps packing order identical to (doc_id, chunk_id).
    "q_chunk_pack" -> ((s, dir) => {
      val chunks = graft.text.Chunker.chunk(tbl(s, dir, "documents"),
        "doc_id", "text", chunkTokens = 6, overlapTokens = 2)
        .select((col("doc_id") * 1000000L + col("chunk_id"))
          .as("chunk_key"), col("n_chunk_tokens"))
      graft.plans.SequencePacking.plan(chunks, "chunk_key",
        "n_chunk_tokens", window = 8).orderBy("chunk_key")
    }),

    // packed-sequence GATHER (r15): the materialized complement of
    // q_seq_pack/q_chunk_pack — actual 64-token training rows
    // reassembled from every doc piece that lands in them; every
    // sequence but the corpus tail is exactly 64 tokens
    "q_pack_gather" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"),
          when(length(trim(col("text"))) > 0,
            graft.text.TextAnalysis.tokens(col("text")))
            .otherwise(array().cast("array<string>")).as("toks"))
      graft.plans.SequencePacking.gather(d, "doc_id", "toks", window = 64)
        .orderBy("seq_id")
    }),

    // BPE TOKEN ACCOUNTING (r18): tokenizer-aware twins of the token-
    // budget family. Bpe.DemoMerges is a frozen 48-merge vocabulary
    // learned once from the sf0.001 corpus (BpeSpec pins provenance);
    // the oracle replays the IDENTICAL merge list as a recursive CTE
    // over DISTINCT words — one bracketed-unit string replace per rank
    // equals one greedy left-to-right pass per rank (BpeKernels
    // Scaladoc has the argument). Spark side never shuffles: counts and
    // token arrays are per-row codegen expressions.
    //
    // The whole family pre-filters null/blank documents on BOTH sides
    // (r18 ADVICE): the kernels are null-intolerant by contract (null
    // in → null out) while the oracle's recursive replay has no natural
    // null story, and rather than COALESCE the two into agreement the
    // degenerate rows are excluded up front — the filter is the same
    // predicate on both engines, so a future generator change cannot
    // silently flip a hash.

    // per-doc whitespace vs BPE token counts — the budget-accounting
    // primitive (whitespace undercounts subword tokens by the exact
    // factor a trainer's budget would be off by). n_ws uses the
    // EMPTY-FILTERED count so tab/newline-led text cannot drift from
    // the oracle's list_filter(x <> '') (r18 ADVICE).
    "q_bpe_tokens" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").where(bpeDocFilter)
      d.select(col("doc_id"),
        TextAnalysis.nonEmptyTokenCount(col("text")).as("n_ws"),
        graft.text.Bpe.tokenCount(col("text"), graft.text.Bpe.DemoMerges)
          .as("n_bpe")).orderBy("doc_id")
    }),

    // the token arrays themselves on a doc sample — pins the actual
    // tokenization (subword boundaries), not just counts. The engine
    // API stays array<string> (Bpe.withTokens); the REGISTERED query
    // projects the space-joined string because the driver's comparator
    // pandas-sorts raw columns and cannot hash array cells (r18's three
    // ERR rows). BPE tokens are substrings of whitespace words, so the
    // space join is injective on the token sequence.
    "q_bpe_encode" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      d.where(col("doc_id") % 50 === 0 && bpeDocFilter)
        .select(col("doc_id"), array_join(
          graft.text.Bpe.tokens(col("text"), graft.text.Bpe.DemoMerges),
          " ").as("toks"))
        .orderBy("doc_id")
    }),

    // BPE-token chunk windows (8 tokens, overlap 2): boundaries fall
    // INSIDE words — the context-length split a trainer actually makes,
    // which the whitespace chunker cannot express. Same scalar
    // projection at the query boundary as q_bpe_encode: chunk_tokens
    // ships space-joined (the engine call still yields the array).
    "q_chunk_bpe" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val toks = graft.text.Bpe.withTokens(
        d.where(col("doc_id") % 10 === 0 && bpeDocFilter)
          .select("doc_id", "text"),
        "text", "toks", graft.text.Bpe.DemoMerges)
      graft.text.Chunker.chunkTokenArray(toks, "doc_id", "toks",
        chunkTokens = 8, overlapTokens = 2)
        .select(col("doc_id"), col("chunk_id"), col("n_chunk_tokens"),
          array_join(col("chunk_tokens"), " ").as("chunk_tokens"))
        .orderBy("doc_id", "chunk_id")
    }),

    // sequence-packing placement under BPE counts (256-token windows) —
    // q_seq_pack's twin with the tokenizer a trainer budgets in
    "q_seq_pack_bpe" -> ((s, dir) => {
      val counted = graft.text.Bpe.withTokenCount(
        tbl(s, dir, "documents").where(bpeDocFilter)
          .select("doc_id", "text"),
        "text", "n_bpe", graft.text.Bpe.DemoMerges)
      graft.plans.SequencePacking.plan(counted, "doc_id", "n_bpe",
        window = 256).orderBy("doc_id")
    }),

    // mixture sampling by BPE-token budget — q_sample_budget's twin
    // (en capped at 20k BPE tokens, de at 6k, rest 10%)
    "q_sample_budget_bpe" -> ((s, dir) => {
      val counted = graft.text.Bpe.withTokenCount(
        tbl(s, dir, "documents").where(bpeDocFilter)
          .select("doc_id", "lang", "text"),
        "text", "n_bpe", graft.text.Bpe.DemoMerges)
      graft.ops.Sampling.tokenBudgetSample(counted, "lang", "doc_id",
        "n_bpe", budgets = Map("en" -> 20000L, "de" -> 6000L),
        defaultRate = 0.1)
        ._1.select("doc_id", "lang").orderBy("doc_id")
    }),

    // BPE AT A REALISTIC VOCABULARY (r19): Bpe.learn END-TO-END at
    // 1024 merges — the regime where the apply kernels' interesting
    // costs live (memo churn over ~916 distinct pre-tokens, the
    // `contains` precheck, the O(merges·|word|) loop), which the
    // 48-merge DemoMerges toy never touches. Pre-tokens are
    // adjacent-word bigrams (withBigramPreTokens — the 31-word
    // synthetic vocabulary saturates real training in ~48 merges; the
    // bigram derivation is replayed identically by the oracle, never
    // invented rows). The query LEARNS LIVE (one word-frequency
    // shuffle + bounded deterministic driver loop) and at sf0.01
    // reproduces the frozen BpeLearn1k.Merges the oracle replays —
    // training determinism IS the thing this row verifies.
    "q_bpe_learn1k" -> ((s, dir) => {
      val bg = graft.text.Bpe.withBigramPreTokens(
        tbl(s, dir, "documents").select("doc_id", "text"),
        "text", "bg_text")
      val merges = graft.text.Bpe.learn(bg, "bg_text", 1024)
      graft.text.Bpe.withTokenCount(bg, "bg_text", "n_bpe1k", merges)
        .select(col("doc_id"), col("n_bpe1k")).orderBy("doc_id")
    }),

    // TOKENIZER DIVERSITY (r19): greedy longest-match (WordPiece
    // inference) as a SECOND tokenizer family over the SAME frozen
    // vocabulary (BpeLearn1k's pieces) — the two inference rules
    // genuinely segment differently (WordPieceSpec pins a diverging
    // case), so a trainer can cross-check its budget under both.
    // Apply-only (the piece inventory derives from the already-learned
    // merges, no data pass); pure per-row codegen, corpus never
    // shuffles. The oracle replays greedy-longest exactly: a
    // longest-prefix argmax per (word, pos) + a recursive pointer walk.
    "q_wordpiece_tokens" -> ((s, dir) => {
      val bg = graft.text.Bpe.withBigramPreTokens(
        tbl(s, dir, "documents").select("doc_id", "text"),
        "text", "bg_text")
      graft.text.WordPiece.withPieceCount(bg, "bg_text", "n_wp",
        graft.text.WordPiece.vocabFromMerges(graft.text.BpeLearn1k.Merges))
        .select(col("doc_id"), col("n_wp")).orderBy("doc_id")
    }),

    // the pieces themselves on a doc sample (space-joined scalar at
    // the query boundary, the q_bpe_encode convention)
    "q_wordpiece_encode" -> ((s, dir) => {
      val bg = graft.text.Bpe.withBigramPreTokens(
        tbl(s, dir, "documents").where(col("doc_id") % 50 === 0)
          .select("doc_id", "text"),
        "text", "bg_text")
      bg.select(col("doc_id"), array_join(
          graft.text.WordPiece.pieces(col("bg_text"),
            graft.text.WordPiece.vocabFromMerges(graft.text.BpeLearn1k.Merges)),
          " ").as("pieces"))
        .orderBy("doc_id")
    }),

    // TOKENIZER FAMILY #3 (r20): unigram-LM (SentencePiece) inference —
    // Viterbi min-cost segmentation over integer piece costs derived
    // from the SAME learned merge list (Unigram.pieceCosts: fixed-point
    // Zipf log-probs by merge rank), completing the budget cross-check
    // triangle next to BPE rank-replay and greedy longest-match. The
    // likelihood optimum genuinely differs from both (UnigramSpec pins
    // diverging words: greedy commits to a long RARE piece where the
    // model prefers two short common ones). Apply-only per-row codegen,
    // corpus never shuffles; the oracle replays the identical DP as a
    // recursive CTE carrying the per-word Viterbi table as a list of
    // (cost, toks) structs — integer costs make the cross-engine
    // arithmetic exact, so tie-breaks cannot drift.
    "q_unigram_tokens" -> ((s, dir) => {
      val bg = graft.text.Bpe.withBigramPreTokens(
        tbl(s, dir, "documents").select("doc_id", "text"),
        "text", "bg_text")
      graft.text.Unigram.withPieceCount(bg, "bg_text", "n_ug",
        graft.text.Unigram.pieceCosts(graft.text.BpeLearn1k.Merges))
        .select(col("doc_id"), col("n_ug")).orderBy("doc_id")
    }),

    // the pieces themselves on a doc sample (space-joined scalar at
    // the query boundary, the q_wordpiece_encode convention)
    "q_unigram_encode" -> ((s, dir) => {
      val bg = graft.text.Bpe.withBigramPreTokens(
        tbl(s, dir, "documents").where(col("doc_id") % 50 === 0)
          .select("doc_id", "text"),
        "text", "bg_text")
      bg.select(col("doc_id"), array_join(
          graft.text.Unigram.pieces(col("bg_text"),
            graft.text.Unigram.pieceCosts(graft.text.BpeLearn1k.Merges)),
          " ").as("pieces"))
        .orderBy("doc_id")
    }),

    // LIKELIHOOD-TRAINED unigram vocabulary (r20): Viterbi-EM cost
    // training END-TO-END — the query LEARNS the cost table LIVE (one
    // word-frequency shuffle + a bounded deterministic driver EM loop,
    // Unigram.learnCosts) and at sf0.01 must reproduce the frozen
    // UnigramLearned.Costs the oracle replays through the same DP —
    // training determinism IS the thing this row verifies, exactly the
    // q_bpe_learn1k pattern — but measured NOT sf-dependent at sf0.1:
    // the table trained there differs in its integer costs yet induces
    // the same segmentations, so the cross-check passes (README;
    // count-coincidence at other scales is observed, not promised).
    "q_unigram_learn" -> ((s, dir) => {
      val bg = graft.text.Bpe.withBigramPreTokens(
        tbl(s, dir, "documents").select("doc_id", "text"),
        "text", "bg_text")
      val costs = graft.text.Unigram.learnCosts(bg, "bg_text",
        graft.text.BpeLearn1k.Merges, iters = 3)
      graft.text.Unigram.withPieceCount(bg, "bg_text", "n_ug_em", costs)
        .select(col("doc_id"), col("n_ug_em")).orderBy("doc_id")
    }),

    // END-TO-END TRAINING LAYOUT (r16): the full curation→layout chain a
    // real pre-training pipeline runs, composed from the r14/r15 pieces —
    // Gopher repetition filter → Bloom-prefiltered decontamination
    // (benchmark = every 20th doc) → ≤40-docs-per-lang cap → deterministic
    // epoch shuffle → 6-token/stride-4 chunks keyed by shuffle position →
    // 64-token packed training rows. Every stage is the already-green
    // operator with its production knobs; the oracle replays the chain in
    // SQL CTE by CTE. PlanQualitySpec pins the shuffle budget.
    "q_train_layout" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "lang", "text")
      val quality = graft.text.QualityFilters.gopherRepetitionFilter(
        d, "text", maxDupWordFrac = 0.60, maxTopBigramCharFrac = 0.15,
        maxTopTrigramCharFrac = 0.15, maxDupFivegramCharFrac = 0.15)
      val bench = d.where(col("doc_id") % 20 === 0).select("doc_id", "text")
      val clean = graft.text.Decontaminate
        .flagContaminatedBloom(quality, bench, "text", "doc_id", n = 6)
        .where(!col("contaminated")).drop("contaminated")
      val capped = graft.ops.Sampling.capPerGroup(clean, "lang", "doc_id",
        k = 40)
      val shuffled = graft.ops.Sampling.shufflePositions(
        capped.select("doc_id", "text"), "doc_id")
      // chunk in SHUFFLED order: the epoch permutation, not doc_id, is
      // the packing order — chunk_key = pos·1e6 + chunk_id tiles it
      val chunks = graft.text.Chunker.chunk(shuffled, "shuffle_pos",
          "text", chunkTokens = 6, overlapTokens = 2)
        .select((col("shuffle_pos") * 1000000L + col("chunk_id"))
          .as("chunk_key"),
          split(col("chunk_text"), " ").as("toks"))
      graft.plans.SequencePacking.gather(chunks, "chunk_key", "toks",
        window = 64).orderBy("seq_id")
    }),

    // §7.6 near-dup CLUSTER RESOLUTION: connected components over the
    // minhash pair list via min-label propagation — a chain of pairwise
    // near-dups resolves to ONE cluster even where the endpoints' own
    // similarity sits below threshold. The oracle rebuilds the exact
    // pair set (shared CTEs with q_neardup_minhash) and closes it with
    // a recursive CTE.
    "q_neardup_clusters" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val mutated = d.select((col("doc_id") + 1000000).as("doc_id"),
        regexp_replace(NearDup.normalize(col("text")), "\\s+\\S+$", "")
          .as("text"))
      NearDup.clusters(NearDup.minhashPairs(d.unionAll(mutated), "text",
        "doc_id", threshold = 0.5, bucketBatches = bucketBatchesEnv))
        .orderBy("id")
    }),

    // §7.6 INCREMENTAL dedup (crawl-refresh): a "new batch" of planted
    // docs — every third is a near-dup mutation of the reference corpus
    // (must be dropped), the rest are word-reversed (new gram sets, must
    // survive) — deduped AGAINST the documents table. The oracle
    // recomputes exact cross-corpus all-pairs Jaccard.
    "q_dedup_incremental" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val newBatch = d.select((col("doc_id") + 3000000).as("doc_id"),
        when(col("doc_id") % 3 === 0,
          regexp_replace(NearDup.normalize(col("text")), "\\s+\\S+$", ""))
          .otherwise(concat_ws(" ",
            reverse(split(NearDup.normalize(col("text")), " "))))
          .as("text"))
      NearDup.dedupAgainst(newBatch, d, "text", "doc_id", threshold = 0.5)
        .orderBy("doc_id")
    }),

    // SimHash: planted near-dup pairs differ in few bits. Uses the 56-bit
    // md5-token-hash variant so the signature itself is value-checkable by
    // an external SQL engine (the 64-bit xxhash64 default is not).
    "q_simhash" -> ((s, dir) => {
      // r21: both simhash kernel passes inherit the scan's split count —
      // size-gated repartition keeps all cores busy (see Parallelize)
      val d0 = graft.util.Parallelize.bySize(
        tbl(s, dir, "documents").select("doc_id", "text"), "doc_id")
      val d = d0.select(col("doc_id"),
        NearDup.simhash(col("text"), 56, NearDup.md5Hash56).as("sh"))
      // drop the last word of the NORMALIZED text — same reasoning as
      // q_neardup_minhash's mutation, and it matches the oracle's t2
      val mutated = d0.select(col("doc_id"),
        NearDup.simhash(
          regexp_replace(NearDup.normalize(col("text")), "\\s+\\S+$", ""),
          56, NearDup.md5Hash56).as("sh_mut"))
      d.join(mutated, "doc_id")
        .select(col("doc_id"), col("sh"),
          bit_count(col("sh").bitwiseXOR(col("sh_mut"))).cast(LongType)
            .as("hamming_to_neardup"))
        .orderBy("doc_id")
    }),

    // embedding cosine between consecutive vectors (exact, double fold)
    "q_cosine_pairs" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val a = e.select(col("vec_id").as("id_a"),
        Similarity.toDoubleArr(col("embedding")).as("va"))
      val b = e.select(col("vec_id").as("id_b"),
        Similarity.toDoubleArr(col("embedding")).as("vb"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"),
          round(graft.functions.VectorKernels.cosine(col("va"), col("vb")), 6)
            .as("sim"))
        .orderBy("id_a")
    }),

    // embedding-cosine near-dup pairs via hyperplane LSH (planted exact
    // duplicates: identical vectors always share every band, so recall on
    // the planted set is exactly 1 and the all-pairs oracle is comparable;
    // random 64-dim synthetic vectors never reach 0.95 cosine naturally)
    "q_embed_neardup" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = e.where(col("vec_id") < 20)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
      // planes AUTO (r20): bits-per-band scale with the corpus
      // (NearDup.autoPlanes — 8 bits/256 buckets at driver scales,
      // identical to the old fixed 32 planes; 12 bits at 200k rows).
      // A fixed 8-bit band was measured quadratic on the ×100
      // synthetic-embedding corpus: 200k random vectors in 256 buckets
      // = ~n²/512 candidates per band, 75 GB of candidate shuffle.
      // Identical vectors still share every band at ANY width, so
      // planted-duplicate recall stays exactly 1.
      NearDup.embeddingPairs(e.unionAll(planted), "embedding", "vec_id",
        dim = 64, threshold = 0.95, bands = 4,
        bucketBatches = bucketBatchesEnv)
        .orderBy("id_a", "id_b")
    }),

    // transitive cluster resolution over the embedding near-dup pairs —
    // the composition an embedding-dedup pipeline actually runs (pairs →
    // connected components → keep one per cluster); same resolution
    // machinery as q_neardup_clusters, driven by cosine-LSH pairs
    "q_embed_clusters" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = e.where(col("vec_id") < 20)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
      NearDup.clusters(
        NearDup.embeddingPairs(e.unionAll(planted), "embedding", "vec_id",
          dim = 64, threshold = 0.95, bands = 4,
          bucketBatches = bucketBatchesEnv))
        .orderBy("id")
    }),

    // brute-force cosine top-10 for the first 5 vectors (exact ANN baseline)
    "q_ann_topk" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.where(col("vec_id") < 5), 10)
        .orderBy("query_id", "rank")
    }),

    // IVF ANN probing ALL cells: the probed-cell union is the corpus, so
    // the output must EXACTLY equal brute-force top-k regardless of
    // clustering quality — an oracle-able invariant of the assignment/
    // probe/rerank machinery. The scale path (nprobe << nlist) is
    // recall-tested in ExtensionsSpec.
    "q_ann_ivf" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.where(col("vec_id") < 5), 10,
        nlist = 8, nprobe = 8)
        .orderBy("query_id", "rank")
    }),

    // LSH-bucketed ANN — approximate but fully deterministic: the oracle
    // rebuilds signatures from the literal plane-weight table, reproduces
    // the band join, and reranks (recall vs brute force in ExtensionsSpec)
    "q_ann_lsh" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.lshTopK(e, e.where(col("vec_id") < 5), 10, dim = 64,
        planes = 32, bands = 8)
        .orderBy("query_id", "rank")
    }),

    // int8 scalar quantization (r15): per-vector affine codes — exact
    // integer compare against DuckDB recomputing the same double-math
    // (pure projections, no UDF/shuffle; 4x storage shrink at scale)
    "q_embed_quantize" -> ((s, dir) => {
      // r21: sort the 64-dim VECTORS by their unique id, then explode —
      // same (vec_id, dim) order (posexplode emits dims ascending inside
      // each row and Generate preserves row order), but the range sort
      // moves n rows instead of 64n and its sample pass reads raw arrays
      // instead of evaluating the quantize transform (see the
      // sort-below-projection note above dirtyCustomer).
      val e = tbl(s, dir, "embeddings").orderBy("vec_id")
      graft.sim.Quantize.quantizeInt8(e, "vec_id", "embedding")
        .select(col("vec_id"),
          posexplode(col("codes")).as(Seq("dim", "code")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          col("code").cast("int").as("code"))
    }),

    // quantized ANN (r15): exact top-k over the int8-reconstructed
    // vectors — the compose check that a 4x-compressed corpus still
    // ranks; fully deterministic (both engines recompute the same codes
    // and the same dequantized double math)
    "q_ann_quantized" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val deq = graft.sim.Quantize.dequantizeInt8(
        graft.sim.Quantize.quantizeInt8(e, "vec_id", "embedding"),
        "vec_id")
      Similarity.bruteForceTopK(deq, deq.where(col("vec_id") < 5), 10,
        idCol = "vec_id", vecCol = "vec")
        .orderBy("query_id", "rank")
    }),

    // IVF × QUANTIZATION composition (r16): the search scans int8 codes
    // (4× less data), candidates rank by rounded quantized sim, the top
    // k·overfetch per query re-rank EXACTLY against the full-precision
    // vectors through a broadcast id-join — via the persistent index
    // whose fingerprint keys on the QUANTIZED corpus. nprobe == nlist
    // makes both stages deterministic pure functions of the codes +
    // floats, so the oracle replays candidate cut and refine in SQL;
    // the nprobe < nlist recall pin vs full-precision IVF lives in
    // ExtensionsSpec.
    "q_ann_ivf_quantized" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val idx = Similarity.ivfIndexAtQuantized(e,
        roundtripPath("ivfq8", dir), nlist = 8)
      Similarity.ivfTopKQuantizedRefine(e, e.where(col("vec_id") < 5), 10,
        nlist = 8, nprobe = 8, overfetch = 2, index = Some(idx))
        .orderBy("query_id", "rank")
    }),

    // tumbling 1h event-time windows
    "q_events_window" -> ((s, dir) =>
      Events.tumblingStats(Events.load(s, dir))
        .orderBy("window_start", "event_type")),

    // session assignment by inactivity gap
    "q_events_sessionize" -> ((s, dir) =>
      Events.sessionize(Events.load(s, dir))
        .orderBy("user_id", "session_id")),

    // the STREAMING ENGINE itself, oracle-checked (r10 verdict ask #2):
    // Trigger.AvailableNow file-source runs of the streaming twins —
    // micro-batch state merge / watermark / event-time timeout execution
    // verified against the same SQL as the batch forms
    "q_events_window_stream" -> ((s, dir) =>
      graft.streaming.StreamRuns.tumblingAvailableNow(s, dir)),

    "q_events_sessionize_stream" -> ((s, dir) =>
      graft.streaming.StreamRuns.sessionizeAvailableNow(s, dir)),

    "q_dedup_stream_run" -> ((s, dir) =>
      graft.streaming.StreamRuns.dedupExactAvailableNow(s, dir)),

    // the hopping-window streaming engine path (r13 verdict #2): the
    // overlapping-window Expand + state merge under AvailableNow,
    // hash-checked against the same SQL as the batch q_events_hopping
    "q_events_hopping_stream" -> ((s, dir) =>
      graft.streaming.StreamRuns.hoppingAvailableNow(s, dir)),

    // batch twin of the streaming ingest-dedup (Dedup.streamingExact):
    // first event per (user, type) in event-time order. ts emitted as
    // epoch micros so both engines compare the identical integer.
    "q_dedup_stream_twin" -> ((s, dir) =>
      graft.ops.Dedup.streamTwinExact(Events.load(s, dir), "ts",
        Seq("user_id", "event_type"), "event_id")
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
        .orderBy("user_id", "event_type")),

    // temporal AS-OF join (plans/AsofJoin): last-touch attribution —
    // each purchase matched to the user's most recent click within 1 h.
    // One shuffle, no join node (union-trick window form); the click
    // side is pre-aggregated to unique (user, ts) so tie-break order is
    // engine-independent.
    "q_asof_join" -> ((s, dir) => {
      val ev = Events.load(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
      graft.plans.AsofJoin.asofBackward(purchases, clicks, Seq("user_id"),
          "ts", "ts", toleranceSeconds = Some(3600.0))
        .select(col("event_id"), col("user_id"),
          round(col("ts").cast(DoubleType), 6).as("tsec"),
          round(col("asof_ts_sec"), 6).as("click_tsec"),
          col("asof_click_id").as("click_id"))
        .orderBy("event_id")
    }),

    // forward as-of: soonest error within 30 min after each purchase
    "q_asof_forward" -> ((s, dir) => {
      val ev = Events.load(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val errors = ev.where(col("event_type") === "error")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("err_id"))
      graft.plans.AsofJoin.asofForward(purchases, errors, Seq("user_id"),
          "ts", "ts", toleranceSeconds = Some(1800.0), prefix = "next_")
        .select(col("event_id"), col("user_id"),
          round(col("ts").cast(DoubleType), 6).as("tsec"),
          round(col("next_ts_sec"), 6).as("err_tsec"),
          col("next_err_id").as("err_id"))
        .orderBy("event_id")
    }),

    // interval-containment join (plans/IntervalJoin): every purchase that
    // fell inside an error's 10-minute incident window for the same user.
    // Grid-bucketed equi-join on (user, cell) — never a key-only join
    // with a range post-filter.
    "q_interval_join" -> ((s, dir) => {
      val ev = Events.load(s, dir)
      val tsec = col("ts").cast(DoubleType)
      val incidents = ev.where(col("event_type") === "error")
        .select(col("event_id").as("incident_id"), col("user_id"),
          tsec.as("w_start"), (tsec + 600d).as("w_end"))
      val pts = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), tsec.as("ptsec"))
      graft.plans.IntervalJoin.containment(incidents, pts, Seq("user_id"),
          "w_start", "w_end", "ptsec", cellSeconds = 600d)
        .select(col("incident_id"), col("event_id"),
          round(col("ptsec"), 6).as("ptsec"))
        .orderBy("incident_id", "event_id")
    }),

    // per-group cap sampling (anti-monoculture): at most 10 docs per
    // source, chosen by the deterministic salted-hash order shared with
    // q_sample_stratified. Binds at sf>=0.01 (25 docs/source).
    "q_sample_cap_group" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      graft.ops.Sampling.capPerGroup(d, "source", "doc_id", 10)
        .select("doc_id", "source").orderBy("doc_id")
    }),

    // hopping (sliding) event-time windows: width 1 h, slide 30 min —
    // every event counted in 2 overlapping windows via the map-side
    // Expand under Spark's window(), one hash aggregation, no self-join
    "q_events_hopping" -> ((s, dir) =>
      Events.hoppingStats(Events.load(s, dir))
        .orderBy("window_start_sec", "event_type")),

    // OLAP subtotal aggregations: ROLLUP (hierarchy subtotals) and CUBE
    // (all margins) compile to ONE Expand + hash aggregate — partial
    // aggregation stays map-side, one shuffle, no unions of per-level
    // scans. grouping_id disambiguates subtotal rows; keys coalesce to
    // 'ALL' so ordering never rides on engine null-sort differences.
    "q_rollup_agg" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast(LongType).as("grp_id"),
          count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 6).as("sum_qty"),
          round(sum(col("l_extendedprice")), 6).as("sum_price"))
        .select(col("grp_id"),
          coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
          col("n_rows"), col("sum_qty"), col("sum_price"))
        .orderBy("grp_id", "l_returnflag", "l_linestatus")),

    "q_cube_agg" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast(LongType).as("grp_id"),
          count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 6).as("sum_qty"))
        .select(col("grp_id"),
          coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
          col("n_rows"), col("sum_qty"))
        .orderBy("grp_id", "l_returnflag", "l_linestatus")),

    // discretization (pandas cut/qcut): learn edges in one agg, assign
    // bins in a pure codegen projection — edges ride as plan literals
    "q_discretize_width" -> ((s, dir) =>
      {
        // r21 pre-sorted bin input + fit-on-unsorted (see dirtyCustomer note)
        val li = tbl(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_extendedprice",
            "l_quantity")
        graft.ops.Discretize.equalWidth(li,
            li.orderBy("l_orderkey", "l_linenumber"),
            Seq("l_extendedprice", "l_quantity"), nBins = 8, suffix = "_bin")
          .select("l_orderkey", "l_linenumber", "l_extendedprice_bin",
            "l_quantity_bin")
      }),

    "q_discretize_quantile" -> ((s, dir) =>
      {
        val li = tbl(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_extendedprice")
        graft.ops.Discretize.quantile(li,
            li.orderBy("l_orderkey", "l_linenumber"),
            Seq("l_extendedprice"), nBins = 4, suffix = "_bin")
          .select("l_orderkey", "l_linenumber", "l_extendedprice_bin")
      }),

    // TF-IDF keyword extraction: top-5 terms per document. Integer-only
    // inputs to the score (tf, df, N) keep the ranking bit-identical
    // across engines; ties break on term order.
    "q_tfidf_topk" -> ((s, dir) =>
      graft.text.Keywords.tfidfTopK(tbl(s, dir, "documents"),
          "doc_id", "text", k = 5)
        .select(col("doc_id"), col("rk").cast(LongType).as("rk"),
          col("term"), col("tf"), col("df"),
          round(col("tfidf"), 6).as("tfidf"))
        .orderBy("doc_id", "rk")),

    // Okapi BM25 relevance of every doc against a fixed topic term list
    // (the crawl-vs-topic filter). Ordered by doc_id, never by score:
    // the per-doc term-sum is the one place engines may differ at an
    // ulp, and round(6) absorbs that only if ordering doesn't ride on it
    "q_bm25" -> ((s, dir) =>
      graft.text.Keywords.bm25(tbl(s, dir, "documents"),
          "doc_id", "text", Seq("join", "merge", "vector"))
        .orderBy("doc_id")),

    // per-group quality curation: the 5 best docs per language by the
    // heuristic quality score. Ranks on the ROUNDED score so both
    // engines rank the identical value (ulp-near scores become exact
    // ties, resolved by doc_id).
    "q_quality_topk" -> ((s, dir) => {
      val scored = tbl(s, dir, "documents").select(col("doc_id"),
        col("lang"),
        round(TextAnalysis.qualityScore(col("text")), 6).as("quality"))
      graft.ops.Sampling.topKPerGroup(scored, "lang", "quality",
          "doc_id", 5)
        .select(col("doc_id"), col("lang"), col("quality"),
          col("rk").cast(LongType).as("rk"))
        .orderBy("lang", "rk")
    }),

    // TPC-H-style star join-aggregation, declared fully declaratively:
    // Catalyst prunes lineitem to 3 columns, pushes the region/date
    // filters into the scans, auto-broadcasts every dimension under the
    // 10 MB threshold, and reorders as it sees fit — PlanQualitySpec
    // asserts the broadcast + pushdown actually happened (the "let the
    // optimizer work" story, checked rather than assumed).
    "q_join_agg" -> ((s, dir) => joinAggPlan(s, dir)),

    // the exact-percentile custom aggregate in GROUPED mode: median
    // price/quantity per return flag in ONE hash aggregation (the
    // bounded typed-imperative buffer runs per group; no window, no
    // per-group job loop)
    "q_group_median" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(graft.util.Exprs.pctl(col("l_extendedprice"), 0.5), 6)
            .as("med_price"),
          round(graft.util.Exprs.pctl(col("l_quantity"), 0.5), 6)
            .as("med_qty"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }),

    // rolling analytics: 3-event moving average of value per user in
    // event-time order — one hash shuffle by user, frame bounded to 3
    // rows regardless of history length
    "q_events_rolling" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-2, 0)
      Events.load(s, dir)
        .select(col("event_id"), col("user_id"),
          round(avg(col("value")).over(w), 6).as("roll_avg"),
          count(lit(1)).over(w).as("n_window"))
        .orderBy("event_id")
    }),

    // multimodal: binary content + byte-level features (decode is stubbed)
    "q_multimodal" -> ((s, dir) =>
      Multimodal.byteFeatures(Multimodal.asMedia(
        tbl(s, dir, "documents"), "text"))
        .select("doc_id", "byte_len", "content_sha").orderBy("doc_id")),

    // multimodal stub feature extraction (deterministic fake decoder;
    // scalar feature_i columns so the output is sortable/hashable)
    "q_multimodal_features" -> ((s, dir) => {
      val out = Multimodal.stubDecodeFeatures(Multimodal.asMedia(
        tbl(s, dir, "documents"), "text"))
      out.select(("doc_id" +: (0 until 8).map(i => s"feature_$i")).map(col): _*)
        .orderBy("doc_id")
    }),

    // S1/S2 CSV sink + source + reference-rule inference, value-checked:
    // write customer columns to CSV, read back as strings, let the
    // TypeConvert auto-detector restore long/double/string — the result
    // must equal the parquet original exactly (Java's Double.toString
    // emits the shortest parse-exact decimal, and these values stay in
    // plain notation).
    "q_csv_roundtrip" -> ((s, dir) => {
      val path = roundtripPath("csv", dir)
      val c = tbl(s, dir, "customer")
        .select("c_custkey", "c_acctbal", "c_mktsegment")
      graft.sources.Csv.write(c, path)
      graft.sources.Csv.readInferred(s, path).orderBy("c_custkey")
    }),

    // ORC roundtrip (the warehouse interchange format): write typed
    // columns — long, string, double, timestamp — to ORC, read back,
    // values must equal the parquet original exactly (native typed
    // round-trip, no re-inference)
    "q_orc_roundtrip" -> ((s, dir) => {
      val path = roundtripPath("orc", dir)
      val o = tbl(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      graft.sources.Orc.write(o, path)
      graft.sources.Orc.read(s, path).orderBy("o_orderkey")
    }),

    // Avro roundtrip (the Kafka/stream interchange format): write typed
    // event columns — long, timestamp(-micros), string, double — to
    // Avro, read back, values must equal the parquet original exactly.
    // ts emitted as epoch micros so the compare is integer-exact.
    "q_avro_roundtrip" -> ((s, dir) => {
      val path = roundtripPath("avro", dir)
      val e = Events.load(s, dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
      graft.sources.Avro.write(e, path)
      graft.sources.Avro.read(s, path)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
        .orderBy("event_id")
    }),

    // Hive-partitioned roundtrip + PRUNED read: write documents
    // partitioned by lang (bounded at 2 files per lang via the routing
    // shuffle), read back only lang='en' — the filter must prune at the
    // directory level (PartitionedSpec pins PartitionFilters + the
    // files-read set; this row pins the VALUES surviving the layout).
    "q_partitioned_roundtrip" -> ((s, dir) => {
      val path = roundtripPath("part", dir)
      graft.sources.Partitioned.write(tbl(s, dir, "documents"), path,
        partitionCols = Seq("lang"), filesPerPartition = 2,
        bucketBy = Seq("doc_id"))
      graft.sources.Partitioned.read(s, path)
        .where(col("lang") === "en")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // JSONL roundtrip (the LLM-corpus interchange format): write the
    // documents table as JSON Lines, read it back, values must survive
    "q_jsonl_roundtrip" -> ((s, dir) => {
      val path = roundtripPath("jsonl", dir)
      graft.sources.Jsonl.write(tbl(s, dir, "documents"), path)
      graft.sources.Jsonl.read(s, path)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // multimodal frame sampling: 64-byte frames, every 4th kept, one row
    // per kept frame with its digest. The corpus payload is ASCII
    // (verified), so byte-space digests equal the oracle's char-space
    // recompute.
    "q_multimodal_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(Multimodal.asMedia(
        tbl(s, dir, "documents"), "text"), frameBytes = 64, every = 4)
        .orderBy("doc_id", "frame_idx")),

    // REAL multimodal decode (r16): well-formed 24bpp BMPs synthesized
    // per row (dims from doc_id, pixels from the text's md5 stream),
    // header fields decoded back with pure byte-math expressions —
    // every 7th doc stays raw octet-stream media to exercise the
    // non-BMP null/fallback path. The oracle recomputes the embedded
    // dims from the same id arithmetic, so any endianness/offset slip
    // in EITHER the synthesizer or the decoder breaks the hash; a
    // hand-written golden BMP in MultimodalDecodeSpec rules out a
    // mirrored encode/decode error.
    "q_multimodal_decode" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val bmp = Multimodal.synthBmp(
        docs.where(col("doc_id") % 7 =!= 0), "doc_id", "text")
      val raw = Multimodal.asMedia(
        docs.where(col("doc_id") % 7 === 0), "text")
      val media = bmp.select("doc_id", "content", "meta")
        .unionAll(raw.select("doc_id", "content", "meta"))
      Multimodal.decodeBmpMeta(media)
        .select(col("doc_id"), col("is_bmp"),
          col("bmp_width").as("width"), col("bmp_height").as("height"),
          col("bmp_bpp").as("bpp"), col("bmp_file_size").as("file_size"),
          col("bmp_data_offset").as("data_offset"),
          col("bmp_compression").as("compression"),
          col("meta.mime").as("mime"))
        .orderBy("doc_id")
    }),

    // the audio twin: canonical PCM WAV headers (channels/rate from
    // doc_id, samples from the md5 stream) decoded back with byte math;
    // every 5th doc stays raw. duration is integer-derived from the
    // header's byte_rate — exactly what a real ingest computes.
    "q_multimodal_wav" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val wav = Multimodal.synthWav(
        docs.where(col("doc_id") % 5 =!= 0), "doc_id", "text")
      val raw = Multimodal.asMedia(
        docs.where(col("doc_id") % 5 === 0), "text")
      val media = wav.select("doc_id", "content", "meta")
        .unionAll(raw.select("doc_id", "content", "meta"))
      Multimodal.decodeWavMeta(media)
        .select(col("doc_id"), col("is_wav"),
          col("wav_channels").as("channels"),
          col("wav_sample_rate").as("sample_rate"),
          col("wav_bits").as("bits"),
          col("wav_data_bytes").as("data_bytes"),
          col("wav_n_samples").as("n_samples"),
          col("wav_duration_ms").as("duration_ms"),
          col("meta.mime").as("mime"))
        .orderBy("doc_id")
    }),

    // the big-endian container (r17): PNG signature + IHDR synthesized
    // per doc (real CRC32), decoded back with the beUint byte-math twin;
    // every 6th doc stays raw octet-stream to exercise the non-PNG path.
    // Raw docs can never sniff as PNG — the signature's first byte is
    // 0x89, outside any text encoding the corpus uses.
    "q_multimodal_png" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val png = Multimodal.synthPng(
        docs.where(col("doc_id") % 6 =!= 0), "doc_id")
      val raw = Multimodal.asMedia(
        docs.where(col("doc_id") % 6 === 0), "text")
      val media = png.select("doc_id", "content", "meta")
        .unionAll(raw.select("doc_id", "content", "meta"))
      Multimodal.decodePngMeta(media)
        .select(col("doc_id"), col("is_png"),
          col("png_width").as("width"), col("png_height").as("height"),
          col("png_bit_depth").as("bit_depth"),
          col("png_color_type").as("color_type"),
          col("png_interlace").as("interlace"),
          col("meta.mime").as("mime"))
        .orderBy("doc_id")
    }),

    // JPEG frame header (r17): baseline JFIF streams whose SOF0 sits at
    // an id-dependent offset (a COM segment of id%37+1 bytes precedes
    // it), decoded by the graft_jpeg_sof codegen marker-scan kernel —
    // the one container whose dims fixed-offset byte math cannot reach;
    // every 9th doc stays raw (text can never start with 0xFFD8).
    "q_multimodal_jpeg" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val jpg = Multimodal.synthJpeg(
        docs.where(col("doc_id") % 9 =!= 0), "doc_id", "text")
      val raw = Multimodal.asMedia(
        docs.where(col("doc_id") % 9 === 0), "text")
      val media = jpg.select("doc_id", "content", "meta")
        .unionAll(raw.select("doc_id", "content", "meta"))
      Multimodal.decodeJpegMeta(media)
        .select(col("doc_id"), col("is_jpeg"),
          col("jpeg_width").as("width"), col("jpeg_height").as("height"),
          col("jpeg_precision").as("precision"),
          col("jpeg_ncomp").as("ncomp"),
          col("jpeg_progressive").as("progressive"),
          col("meta.mime").as("mime"))
        .orderBy("doc_id")
    }),

    // GIF logical-screen descriptor (r17): complete no-frame GIF89a per
    // doc (LE dims, global color table sized 2^(id%8+1) from the md5
    // stream, trailer), decoded back with byte math; every 4th doc
    // stays raw. MediaSniffSpec pins that no raw doc text begins with
    // "GIF87a"/"GIF89a" (the one ASCII magic in the family).
    "q_multimodal_gif" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val gif = Multimodal.synthGif(
        docs.where(col("doc_id") % 4 =!= 0), "doc_id", "text")
      val raw = Multimodal.asMedia(
        docs.where(col("doc_id") % 4 === 0), "text")
      val media = gif.select("doc_id", "content", "meta")
        .unionAll(raw.select("doc_id", "content", "meta"))
      Multimodal.decodeGifMeta(media)
        .select(col("doc_id"), col("is_gif"),
          col("gif_width").as("width"), col("gif_height").as("height"),
          col("gif_has_gct").as("has_gct"),
          col("gif_gct_size").as("gct_size"),
          col("gif_bg_index").as("bg_index"),
          col("meta.mime").as("mime"))
        .orderBy("doc_id")
    }),

    // weighted sampling without replacement (r17): 200 documents drawn
    // proportional to n_chars via the Efraimidis–Spirakis key (ln(u)/w,
    // u from the salted-md5 52-bit prefix) — deterministic, partition-
    // independent, TakeOrdered-planned (per-partition k-heaps, no
    // corpus shuffle). Keys pre-rounded to 6 dp + id tie-break, the
    // repo ulp convention; the oracle replays the identical hash fold.
    "q_sample_weighted" -> ((s, dir) =>
      graft.ops.Sampling.weightedSample(
        tbl(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        "doc_id", "n_chars", k = 200)
        .orderBy("doc_id")),

    // PMI bigram collocations (r17): phrase mining / the association
    // statistic of tokenizer-merge induction. minCount 2 keeps the
    // sf0.01 result set non-trivial while dropping hapax-pair noise.
    "q_collocations" -> ((s, dir) =>
      graft.text.Collocations.pmiTopK(
        tbl(s, dir, "documents"), "text", minCount = 2L, k = 100)),

    // inverted-index materialization (r17): adjacent-word PHRASE terms
    // (the synthetic corpus has a ~31-word vocabulary where every
    // single word is a stopword by df — phrases are the granularity
    // with discriminating df) with a FRACTIONAL df window [1%, 5%] —
    // the scale guard (a stopword phrase's postings are the corpus; it
    // is dropped at the COUNT stage, before any list is assembled, and
    // the fraction keeps the same call meaningful at every sf).
    // The engine API keeps postings as array<bigint>
    // (InvertedIndex.phrasePostings); the REGISTERED query projects
    // to_json(postings) because the driver's comparator pandas-sorts
    // raw columns and cannot hash array cells — this was r18's
    // green→err regression. to_json of a sorted bigint array renders
    // byte-identically on Spark and DuckDB ("[1,2,3]", no spaces).
    "q_inverted_index" -> ((s, dir) =>
      graft.text.InvertedIndex.phrasePostings(
        tbl(s, dir, "documents"), "doc_id", "text",
        minDfFrac = 0.01, maxDfFrac = 0.05)
        .select(col("term"), col("df"),
          to_json(col("postings")).as("postings"))
        .orderBy("term")),

    // exact heavy hitters via Misra–Gries sketch → exact recount
    // (r17): candidates from ONE bounded-memory custom aggregate (the
    // vocabulary never shuffles — O(partitions·k) summary bytes move),
    // then a broadcast semi-join recount makes the output exact and
    // partitioning-independent, which is why a plain exact-count SQL
    // oracle can replay it.
    "q_heavy_hitters" -> ((s, dir) =>
      graft.text.HeavyHitterTerms.frequentTerms(
        tbl(s, dir, "documents"), "text", minFrac = 0.033)
        .orderBy("term")),

    // bucketed-table layout + co-located join (r17): both fact tables
    // written bucketed on the join key (8 buckets, in-bucket sorted),
    // then joined with ZERO Exchange — the ingest-once/join-free-forever
    // layout lever. BucketedSpec pins the no-Exchange plan; here the
    // result must also be VALUE-correct against a plain join oracle.
    "q_bucketed_join" -> ((s, dir) => {
      // largest scratch any query writes (~1 GB bucketed lineitem at
      // sf10) — the startup sweepDeadScratch is what keeps repeated
      // bench/verify invocations from accumulating copies until /tmp
      // fills (the r17 disk-full lesson)
      val base = roundtripPath("bucketed", dir)
      graft.sources.Bucketed.writeTable(
        tbl(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
        "graft_orders_bkt", base + "_orders", 8, "o_orderkey")
      graft.sources.Bucketed.writeTable(
        tbl(s, dir, "lineitem")
          .select("l_orderkey", "l_extendedprice", "l_discount"),
        "graft_lineitem_bkt", base + "_lineitem", 8, "l_orderkey")
      graft.sources.Bucketed.colocatedJoin(s,
        "graft_orders_bkt", "graft_lineitem_bkt",
        "o_orderkey", "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(sum(moneyRevenue).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")
    })
  )

  // ---- oracle SQL (DuckDB dialect, same parquet tables) ------------------

  /** Python string.punctuation with the single quote doubled for SQL. */
  private val punctSql = TextClean.Punctuation.replace("'", "''")

  private def typoChainSql(inner: String): String =
    TypoFix.CommonTypos.toSeq.sortBy(_._1).foldLeft(inner) {
      case (acc, (typo, fix)) =>
        s"regexp_replace($acc, '(?i)\\b$typo\\b', '$fix', 'g')"
    }

  /** DuckDB list literal of a string seq. */
  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  /** DuckDB twin of TextAnalysis.tokens/tokenCount as SQL fragments. */
  private val tokCountSql =
    "CASE WHEN len(trim(text)) = 0 THEN 0 ELSE " +
      "CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT) END"
  /** Shared CTE chain producing `q(doc_id, lang, stopword_ratio, quality)`
    * — the TextAnalysis.qualityScore twin, factored so the score query
    * and the per-group top-k curation query rank the identical value. */
  private def qualityCtesSql: String = {
    val stop = sqlList(graft.text.TextAnalysis.StopEn)
    s"""WITH t AS (SELECT doc_id, lang, text, $tokCountSql AS n_tokens,
       |  $distinctToksSql AS toks FROM documents),
       |r AS (SELECT doc_id, lang, n_tokens,
       |  CASE WHEN len(toks) > 0 THEN CAST(len(list_intersect(toks, $stop)) AS DOUBLE) / len(toks) END AS stop_ratio,
       |  CASE WHEN len(text) > 0 THEN CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / len(text) END AS alpha,
       |  CASE WHEN len(text) > 0 THEN CAST(len(text) - len(translate(text, '$punctSql', '')) AS DOUBLE) / len(text) END AS punct
       |  FROM t),
       |q AS (SELECT doc_id, lang, round(stop_ratio, 6) AS stopword_ratio,
       | round(least(1.0, CAST(n_tokens AS DOUBLE) / 50.0) * 0.25
       |   + COALESCE(alpha, 0.0) * 0.35
       |   + least(1.0, COALESCE(stop_ratio, 0.0) * 4.0) * 0.25
       |   + (1.0 - least(1.0, COALESCE(punct, 0.0) * 4.0)) * 0.15, 6) AS quality
       | FROM r)""".stripMargin
  }

  private val distinctToksSql =
    "CASE WHEN len(trim(text)) = 0 THEN [] ELSE " +
      "list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')) END"
  private def shingleSql(expr: String): String =
    s"CASE WHEN len($expr) >= 5 THEN list_distinct(list_transform(" +
      s"range(1, len($expr) - 3), i -> substr($expr, i, 5))) " +
      "ELSE CAST([] AS VARCHAR[]) END"
  private val normTextSql = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
  /** Shared plant for q_substring_dedup (17 tokens, all lowercase so the
    * normalized gram content is byte-identical in both engines). */
  private val boilerplatePassage = "privacy policy terms of service " +
    "cookie settings copyright notice all rights reserved contact us " +
    "about careers press"
  private val cosSql =
    "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"

  /** The exact minhash-pair ground truth shared by q_neardup_minhash and
    * q_neardup_clusters: planted last-word-dropped mutations, word-3-gram
    * shingles, all-pairs exact Jaccard thresholded at 0.5. Ends at the
    * `mh` CTE (id_a, id_b, j). */
  private lazy val minhashPairCtes =
    s"""u AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 1000000,
       |    regexp_replace($normTextSql, '\\s+\\S+$$', '') AS text
       |  FROM documents),
       |t AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(toks) - 1),
       |      i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS grams
       |  FROM (SELECT doc_id, string_split($normTextSql, ' ') AS toks FROM u)
       |  WHERE len(toks) >= 3),
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.grams, b.grams))) AS j
       |  FROM t a JOIN t b ON a.doc_id < b.doc_id),
       |mh AS (SELECT id_a, id_b, j FROM p WHERE j >= 0.5)""".stripMargin

  /** Full value-level winnowing recompute over a (doc_id, text) source
    * CTE/table: k-grams by substr, the same md5-hex base-16 fold as the
    * simhash oracle, w-window minima via a bounded self-join on gram
    * position, distinct values. Ends at the `wfp` CTE (doc_id, fp) —
    * shared by q_winnow_fp, q_winnow_pairs and q_winnow_clusters. */
  private def winnowFpCtes(src: String): String =
    s"""wd AS (SELECT doc_id, $normTextSql AS t FROM $src),
       |wg AS (SELECT doc_id, i, substr(t, i, 5) AS gram
       |      FROM (SELECT doc_id, t,
       |              unnest(generate_series(1, CAST(length(t) - 4 AS BIGINT))) AS i
       |            FROM wd WHERE length(t) >= 5)),
       |whv AS (SELECT doc_id, i, list_reduce(list_prepend(0::BIGINT,
       |        list_transform(string_split(substring(md5(gram), 1, 14), ''),
       |          c -> (strpos('0123456789abcdef', c) - 1)::BIGINT)),
       |        (a, v) -> a * 16 + v) AS h FROM wg),
       |wn AS (SELECT doc_id, max(i) AS nn FROM whv GROUP BY doc_id),
       |wmins AS (SELECT a.doc_id, a.i AS s, min(b.h) AS fp
       |         FROM whv a JOIN wn USING (doc_id)
       |         JOIN whv b ON b.doc_id = a.doc_id AND b.i >= a.i AND b.i < a.i + 4
       |         WHERE a.i + 3 <= wn.nn
       |         GROUP BY a.doc_id, a.i),
       |wfp AS (SELECT DISTINCT doc_id, CAST(fp AS BIGINT) AS fp FROM wmins)""".stripMargin

  /** The winnow-pair ground truth shared by q_winnow_pairs and
    * q_winnow_clusters: planted 60 %-prefix containment copies, winnowing
    * fingerprints, doc-frequency window filter (2..20), fingerprint-value
    * self-join with HAVING count >= 3. Ends at the `wpair` CTE
    * (id_a, id_b, n_shared) plus `wcnt` (doc_id, n). */
  private lazy val winnowPairCtes =
    s"""wpl AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 2000000,
       |    substr(text, 1, CAST(floor(length(text) * 0.6) AS INT)) AS text
       |  FROM documents WHERE doc_id % 7 = 0),
       |${winnowFpCtes("wpl")},
       |wkept AS (SELECT doc_id, fp FROM (
       |    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM wfp)
       |  WHERE df BETWEEN 2 AND 20),
       |wpair AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(count(*) AS BIGINT) AS n_shared
       |  FROM wkept a JOIN wkept b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 3),
       |wcnt AS (SELECT doc_id, count(*) AS n FROM wkept GROUP BY doc_id)""".stripMargin

  /** The levSim correction-map rebuild shared VERBATIM by
    * q_spell_corrections and q_typofix_spell_lev — one definition so the
    * two value-checked queries can never silently diverge on threshold,
    * tie-break, or limit. Ends at the `corr` CTE (word, fix). */
  private val spellLevMapCtes =
    s"""u AS (SELECT doc_id, CASE WHEN doc_id = 0
       |    THEN text || ' sparkk tabble columnn' ELSE text END AS text
       |  FROM documents),
       |toks AS (
       |  SELECT unnest(string_split_regex(lower(text), '\\W+')) AS w FROM u),
       |wf AS (SELECT w, count(*) AS n FROM toks WHERE length(w) > 0 GROUP BY w),
       |vocab AS (SELECT w FROM wf WHERE n > 1),
       |rare AS (SELECT w FROM wf WHERE n = 1 AND length(w) > 2),
       |cand AS (
       |  SELECT r.w AS rw, v.w AS vw,
       |    1.0 - CAST(levenshtein(r.w, v.w) AS DOUBLE)
       |        / greatest(length(r.w), length(v.w)) AS s
       |  FROM rare r JOIN vocab v ON abs(length(r.w) - length(v.w)) <= 2),
       |pick AS (
       |  SELECT rw, vw,
       |    row_number() OVER (PARTITION BY rw ORDER BY s DESC, vw ASC) AS rk
       |  FROM cand WHERE s >= 0.8),
       |corr AS (SELECT rw AS word, vw AS fix FROM pick WHERE rk = 1
       |  ORDER BY word LIMIT 500)""".stripMargin

  /** q_ann_lsh's hyperplanes as SQL literals: `Similarity.planeWeight` is
    * a pure split-mix hash of (plane, dim) — fixed public constants, no
    * RNG state — so the oracle carries the EXACT weight table and
    * rebuilds signatures independently. Double.toString round-trips, so
    * DuckDB parses back the identical bits. */
  private def planeWeightValuesSql(planes: Int, dim: Int): String =
    (0 until planes).map { p =>
      val ws = (0 until dim)
        .map(d => graft.sim.Similarity.planeWeight(p, d)).mkString("[", ",", "]")
      s"($p, $ws::DOUBLE[])"
    }.mkString(", ")

  /** The shared BPE-oracle CTE block (q_bpe_* family). Replays
    * [[graft.text.Bpe.DemoMerges]] rank by rank over DISTINCT words:
    * each word is encoded as bracketed units `\x01tok\x02` so ONE
    * left-to-right non-overlapping `replace` per rank is exactly the
    * greedy merge pass [[graft.functions.BpeKernels.mergePass]] runs —
    * units are self-delimited, so a replacement never consumes the
    * boundary of the next candidate pair (a bare space delimiter
    * would, and consecutive runs like `aaaa` would merge differently).
    * Must be opened with WITH RECURSIVE. Ends at `dcnt` (doc_id,
    * n_bpe); `wpos`/`wtok` are available for token-array consumers. */
  private lazy val bpeWordCtes: String =
    bpeCtes(graft.text.Bpe.DemoMerges,
      "SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text))," +
        " '\\s+'), x -> x <> '') AS ws FROM documents" + bpeDocFilterSql)

  /** The Spark-side twin of `bpeDocFilterSql`: the BPE family excludes
    * null/blank documents on both engines (r18 ADVICE — the kernels
    * are null-intolerant, the oracle replay has no null story, and an
    * explicit shared predicate beats COALESCE-ing the two into
    * accidental agreement). */
  private def bpeDocFilter: Column =
    col("text").isNotNull && col("text").rlike("\\S")

  // \S (not SQL trim, which strips only spaces): "has at least one
  // token" must mean the same thing for a tab-only document on both
  // engines.
  private val bpeDocFilterSql: String =
    """ WHERE text IS NOT NULL AND regexp_matches(text, '\S')"""

  /** The bigram pre-token `docw` derivation shared by the 1k-merge
    * tokenizer oracles (q_bpe_learn1k / q_wordpiece_*) — the SQL twin
    * of [[graft.text.Bpe.withBigramPreTokens]]. */
  private val bigramDocwSql: String =
    "SELECT doc_id, list_transform(range(1, len(ws0)), i -> ws0[i] || '_' || ws0[i+1]) AS ws" +
      " FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS ws0" +
      " FROM documents WHERE text IS NOT NULL) WHERE len(ws0) >= 2"

  /** Greedy longest-match oracle CTE block
    * ([[graft.text.WordPiece]]): per distinct word, a longest-prefix
    * argmax at every character position (plain join + max_by — ties
    * impossible: equal-length pieces matching the same substring ARE
    * the same piece), then a recursive pointer walk that appends the
    * winning piece and advances by its length — exactly the kernel's
    * greedy rule. The `[UNK]` rule IS oracle-replayed (r19 ADVICE): a
    * word containing a character outside the vocabulary gets stuck
    * mid-walk (no piece matches at that position — with every covered
    * character a single-char piece always matches, so stuck ⇔
    * uncovered character ⇔ kernel UNK), never reaches `pos =
    * length+1`, and the LEFT JOIN below coalesces it to the whole-word
    * `[UNK]` token exactly as [[graft.functions.WordPieceKernels]]
    * does. [[graft.text.WordPiece.vocabFromMerges]] happens to cover
    * the synthetic corpus alphabet, but nothing DEPENDS on that any
    * more. Ends at `dcnt` (doc_id, n_wp); `wtok`/`wpos` available for
    * token consumers. Must be opened with WITH RECURSIVE. */
  private def wordpieceCtes(pieces: Seq[String], docwSql: String): String = {
    def esc(s: String): String = s.replace("'", "''")
    val pieceValues = pieces.map(p =>
      s"('${esc(p)}', ${p.length})").mkString(", ")
    s"""pc(p, lp) AS (VALUES $pieceValues),
       |docw AS ($docwSql),
       |wpos AS (SELECT doc_id, CAST(i AS BIGINT) AS wi, ws[i] AS w
       |         FROM (SELECT doc_id, ws, unnest(generate_series(1, CAST(len(ws) AS BIGINT))) AS i FROM docw)),
       |dw AS (SELECT DISTINCT w FROM wpos),
       |wchar AS (SELECT w, CAST(unnest(generate_series(1, CAST(length(w) AS BIGINT))) AS BIGINT) AS pos FROM dw),
       |best AS (SELECT o.w, o.pos, max_by(c.p, c.lp) AS p, CAST(max(c.lp) AS BIGINT) AS adv
       |         FROM wchar o JOIN pc c ON substr(o.w, CAST(o.pos AS INTEGER), c.lp) = c.p
       |         GROUP BY o.w, o.pos),
       |walk AS (
       |  SELECT w, CAST(1 AS BIGINT) AS pos, CAST([] AS VARCHAR[]) AS toks FROM dw
       |  UNION ALL
       |  SELECT b.w, b.pos + s.adv, list_append(b.toks, s.p)
       |  FROM walk b JOIN best s ON s.w = b.w AND s.pos = b.pos),
       |wdone AS (SELECT w, toks FROM walk WHERE pos = CAST(length(w) AS BIGINT) + 1),
       |wtok AS (SELECT d.w, coalesce(c.toks, ['[UNK]']) AS toks
       |         FROM dw d LEFT JOIN wdone c ON d.w = c.w),
       |wcnt AS (SELECT w, CAST(len(toks) AS BIGINT) AS ntok FROM wtok),
       |dcnt AS (SELECT p.doc_id, CAST(sum(c.ntok) AS BIGINT) AS n_wp
       |         FROM wpos p JOIN wcnt c ON p.w = c.w GROUP BY p.doc_id)""".stripMargin
  }

  /** Unigram-LM Viterbi oracle CTE block ([[graft.text.Unigram]]): per
    * distinct word, the IDENTICAL min-cost DP the kernel runs, carried
    * through the recursion as a list of (cost, toks) structs — entry
    * k is the best segmentation of the length-(k−1) prefix; each step
    * appends position i+1's winner, chosen by `list_sort(...)[1]` over
    * (total asc, −length asc) exactly matching the kernel's tie-break
    * (equal total → longest last piece; equal total AND length is the
    * same piece, so the order is total). Integer costs make the sums
    * exact on both engines. An unreachable final position (a character
    * no piece covers) leaves the entry NULL and the coalesce below
    * replays the whole-word `[UNK]` rule. Ends at `dcnt`
    * (doc_id, n_ug); `wtok`/`wpos` available for token consumers.
    * Must be opened with WITH RECURSIVE. */
  private def unigramCtes(costed: Seq[(String, Long)],
      docwSql: String): String = {
    def esc(s: String): String = s.replace("'", "''")
    val pieceValues = costed.map { case (p, c) =>
      s"('${esc(p)}', ${p.length}, $c)" }.mkString(", ")
    s"""pc(p, lp, cost) AS (VALUES $pieceValues),
       |docw AS ($docwSql),
       |wpos AS (SELECT doc_id, CAST(i AS BIGINT) AS wi, ws[i] AS w
       |         FROM (SELECT doc_id, ws, unnest(generate_series(1, CAST(len(ws) AS BIGINT))) AS i FROM docw)),
       |dw AS (SELECT DISTINCT w FROM wpos),
       |wchar AS (SELECT w, CAST(unnest(generate_series(1, CAST(length(w) AS BIGINT))) AS BIGINT) AS i FROM dw),
       |mm AS (SELECT o.w, o.i, c.p, CAST(c.lp AS BIGINT) AS lp, CAST(c.cost AS BIGINT) AS cost
       |       FROM wchar o JOIN pc c ON c.lp <= o.i AND substr(o.w, CAST(o.i - c.lp + 1 AS INTEGER), c.lp) = c.p),
       |ends AS (SELECT w, i, list(struct_pack(lp := lp, cost := cost, p := p)) AS cands FROM mm GROUP BY w, i),
       |dp AS (
       |  SELECT w, CAST(0 AS BIGINT) AS i,
       |         [struct_pack(c := CAST(0 AS BIGINT), toks := CAST([] AS VARCHAR[]))] AS best
       |  FROM dw
       |  UNION ALL
       |  SELECT d.w, d.i + 1,
       |    list_append(d.best,
       |      CASE WHEN win.s IS NULL THEN NULL
       |           ELSE struct_pack(
       |             c := win.s.tot,
       |             toks := list_append(d.best[CAST(d.i + 2 - win.s.lp AS INTEGER)].toks, win.s.p))
       |      END)
       |  FROM dp d
       |  LEFT JOIN ends e ON e.w = d.w AND e.i = d.i + 1,
       |  LATERAL (SELECT list_sort(list_filter(
       |             list_transform(e.cands, c -> struct_pack(
       |               tot := d.best[CAST(d.i + 2 - c.lp AS INTEGER)].c + c.cost,
       |               nlp := -c.lp, p := c.p, lp := c.lp)),
       |             x -> x.tot IS NOT NULL))[1] AS s) win
       |  WHERE d.i < length(d.w)),
       |wvit AS (SELECT w, best[CAST(length(w) + 1 AS INTEGER)] AS e FROM dp WHERE i = length(w)),
       |wtok AS (SELECT w, coalesce(e.toks, ['[UNK]']) AS toks FROM wvit),
       |wcnt AS (SELECT w, CAST(len(toks) AS BIGINT) AS ntok FROM wtok),
       |dcnt AS (SELECT p.doc_id, CAST(sum(c.ntok) AS BIGINT) AS n_ug
       |         FROM wpos p JOIN wcnt c ON p.w = c.w GROUP BY p.doc_id)""".stripMargin
  }

  /** The BPE-oracle CTE block parameterized by merge list and the
    * `docw` (doc_id, ws) pre-token derivation — shared by the
    * DemoMerges family and the 1k-merge `q_bpe_learn1k` row. Merge
    * strings render as SQL literals with single quotes doubled (r18
    * ADVICE: a learned merge containing an apostrophe must not emit
    * broken SQL — DemoMerges happens to be ASCII-safe, a re-learned
    * vocabulary need not be). */
  private def bpeCtes(merges: Seq[graft.text.Bpe.Merge],
      docwSql: String): String = {
    def esc(s: String): String = s.replace("'", "''")
    val mergeValues = merges.map { m =>
      s"(${m.rank + 1}, chr(1)||'${esc(m.left)}'||chr(2)||chr(1)||'${esc(m.right)}'||chr(2)," +
        s" chr(1)||'${esc(m.left + m.right)}'||chr(2))"
    }.mkString(", ")
    val nRanks = merges.size
    s"""bm(rk, pat, rep) AS (VALUES $mergeValues),
       |docw AS ($docwSql),
       |wpos AS (SELECT doc_id, CAST(i AS BIGINT) AS wi, ws[i] AS w
       |         FROM (SELECT doc_id, ws, unnest(generate_series(1, CAST(len(ws) AS BIGINT))) AS i FROM docw)),
       |dw AS (SELECT DISTINCT w FROM wpos),
       |enc0 AS (SELECT w, array_to_string(list_transform(range(1, length(w) + 1), j -> chr(1)||w[j]||chr(2)), '') AS s FROM dw),
       |bpeit AS (
       |  SELECT w, s, 0 AS rk FROM enc0
       |  UNION ALL
       |  SELECT b.w, replace(b.s, m.pat, m.rep), b.rk + 1
       |  FROM bpeit b JOIN bm m ON m.rk = b.rk + 1),
       |wtok AS (SELECT w, string_split(trim(s, chr(1)||chr(2)), chr(2)||chr(1)) AS toks
       |         FROM bpeit WHERE rk = $nRanks),
       |wcnt AS (SELECT w, CAST(len(toks) AS BIGINT) AS ntok FROM wtok),
       |dcnt AS (SELECT p.doc_id, CAST(sum(c.ntok) AS BIGINT) AS n_bpe
       |         FROM wpos p JOIN wcnt c ON p.w = c.w GROUP BY p.doc_id)""".stripMargin
  }

  /** Opt-in peak-scratch bound for the minhash/embedding pair monsters
    * (SPARK_GRAFT_BUCKET_BATCHES, r19 verdict #4 in its r20
    * bucket-hash-slice form): processes the LSH bucket keyspace in N
    * sequential hash-slices inside [[NearDup.minhashPairs]], bounding
    * peak candidate-shuffle scratch to ~1/N uniformly — including on
    * duplicate-saturated corpora. Default 1 (the single-pass plan) so
    * default-run numbers and correctness rows are untouched; result
    * parity is spec-pinned (BandBatchSpec), so a batched bench row
    * measures the same answer under a different scratch profile. */
  private def bucketBatchesEnv: Int =
    sys.env.get("SPARK_GRAFT_BUCKET_BATCHES")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption).getOrElse(1)

  /** [[queries]] filtered by the comma-separated SPARK_GRAFT_ONLY env var
    * (shared by Bench and Verify). Names are trimmed, and unknown names
    * warn loudly — a typo must not silently select nothing. */
  def selectedQueries(): Map[String, (SparkSession, String) => DataFrame] =
    sys.env.get("SPARK_GRAFT_ONLY") match {
      case None =>
        // SPARK_GRAFT_SKIP: the complement filter (r17) — run everything
        // EXCEPT the named queries. Unlike ONLY, a skip run still updates
        // bench history: with only a handful of rows excluded, JVM/JIT
        // warmup amortizes over the ~120 that remain exactly as in a full
        // run, so the cold firsts stay baseline-grade. Exists for
        // re-running a scale suite minus its replication-artifact pair
        // monsters (sf10: minhash pair mass is C(100,2)/group by
        // construction and its shuffle spill evicts the page cache for
        // whoever runs next).
        sys.env.get("SPARK_GRAFT_SKIP") match {
          case None => queries
          case Some(raw) =>
            val names = raw.split(",").map(_.trim).filter(_.nonEmpty).toSet
            val unknown = names.filterNot(queries.contains)
            if (unknown.nonEmpty) System.err.println(
              s"[graft] SPARK_GRAFT_SKIP names not in queries: ${unknown.mkString(", ")}")
            queries.filterNot { case (n, _) => names(n) }
        }
      case Some(raw) =>
        val names = raw.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = names.filterNot(queries.contains)
        if (unknown.nonEmpty) System.err.println(
          s"[graft] SPARK_GRAFT_ONLY names not in queries: ${unknown.mkString(", ")}")
        queries.filter { case (n, _) => names(n) }
    }

  /** Shared by q_decontaminate and q_decontaminate_bloom — the bloom
    * variant's results are bit-identical by contract (prefilter + exact
    * verify), so both hash against the same ground truth. */
  private lazy val decontaminateFlagSql: String =
    """WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0),
      |corpus AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, regexp_replace(text, '^\S+\s+', '') AS text FROM bench
      |),
      |cw AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws FROM corpus),
      |bw AS (SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws FROM bench),
      |cg AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] AS g
      |       FROM (SELECT doc_id, ws, unnest(generate_series(1, CAST(len(ws) - 5 AS BIGINT))) AS i FROM cw)),
      |bg AS (SELECT DISTINCT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] AS g
      |       FROM (SELECT ws, unnest(generate_series(1, CAST(len(ws) - 5 AS BIGINT))) AS i FROM bw)),
      |hits AS (SELECT DISTINCT doc_id FROM cg JOIN bg USING (g))
      |SELECT c.doc_id, h.doc_id IS NOT NULL AS contaminated
      |FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
      |ORDER BY c.doc_id""".stripMargin

  def oracleSql: Map[String, String] = Map(

    "q_missing_drop_rows_threshold" ->
      s"""WITH t AS ($dirtyCustomerSql)
         |SELECT * FROM t
         |WHERE 1 + CAST(c_acctbal IS NOT NULL AS INT)
         |        + CAST(c_mktsegment IS NOT NULL AS INT) >= 2
         |ORDER BY c_custkey""".stripMargin,

    "q_missing_drop_columns_threshold" ->
      "SELECT c_custkey FROM customer ORDER BY c_custkey",

    "q_textclean_urls" ->
      """WITH t AS (SELECT doc_id,
        |  CASE WHEN doc_id % 6 = 0
        |       THEN 'Visit https://example.com/x and mail bob@test.org now'
        |       ELSE text END AS text FROM documents)
        |SELECT doc_id,
        | NULLIF(trim(regexp_replace(regexp_replace(regexp_replace(
        |   regexp_replace(text, '^nan$', ''),
        |   'https?://\S+|www\.\S+', '', 'g'),
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '', 'g'),
        |   '\s+', ' ', 'g')), '') AS text
        |FROM t ORDER BY doc_id""".stripMargin,

    "q_typeconvert_manual" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(CAST(l_linenumber AS VARCHAR) AS BIGINT) AS ln_str,
        | CAST(CAST(l_quantity AS VARCHAR) AS DOUBLE) AS q_str,
        | l_discount > 0.05 AS bool_str
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, q_str""".stripMargin,

    "q_encode_onehot_dropfirst" ->
      """SELECT c_custkey,
        | CAST(CASE WHEN c_mktsegment = 'BUILDING'  THEN 1 ELSE 0 END AS BIGINT) AS c_mktsegment_BUILDING,
        | CAST(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END AS BIGINT) AS c_mktsegment_FURNITURE,
        | CAST(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END AS BIGINT) AS c_mktsegment_HOUSEHOLD,
        | CAST(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END AS BIGINT) AS c_mktsegment_MACHINERY,
        | CAST(CASE WHEN c_mktsegment IS NULL       THEN 1 ELSE 0 END AS BIGINT) AS c_mktsegment_nan
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_scaling_stats" -> {
      def one(c: String) =
        s"""SELECT '$c' AS column_name, CAST(count($c) AS BIGINT) AS n,
           | round(avg($c), 6) AS mean, round(stddev_samp($c), 6) AS std,
           | round(min($c), 6) AS min, round(quantile_cont($c, 0.25), 6) AS q1,
           | round(quantile_cont($c, 0.5), 6) AS median,
           | round(quantile_cont($c, 0.75), 6) AS q3,
           | round(max($c), 6) AS max FROM lineitem""".stripMargin
      Seq("l_quantity", "l_extendedprice", "l_discount").map(one)
        .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    },

    "q_categorical_summary" ->
      s"""WITH t AS ($dirtyCustomerSql)
         |SELECT 'c_mktsegment' AS column_name,
         | CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_unique,
         | CAST(count(*) FILTER (WHERE c_mktsegment IS NULL) AS BIGINT) AS n_missing,
         | $modeSegSql AS mode
         |FROM t ORDER BY column_name""".stripMargin,

    "q_encode_label_roundtrip" ->
      "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey",

    "q_normalize_minmax_roundtrip" ->
      """SELECT l_orderkey, l_linenumber, round(l_quantity, 6) AS l_quantity
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,

    "q_text_stats" ->
      s"""WITH t AS (SELECT doc_id, text, $tokCountSql AS n_tokens FROM documents)
         |SELECT doc_id,
         | CAST(len(text) AS BIGINT) AS n_chars,
         | n_tokens,
         | CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS n_bpe_tokens,
         | CASE WHEN n_tokens > 0 THEN round(CAST(len(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE) / n_tokens, 6) END AS avg_token_len,
         | CASE WHEN len(text) > 0 THEN round(CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / len(text), 6) END AS alpha_ratio,
         | CASE WHEN len(text) > 0 THEN round(CAST(len(text) - len(translate(text, '$punctSql', '')) AS DOUBLE) / len(text), 6) END AS punct_ratio
         |FROM t ORDER BY doc_id""".stripMargin,

    "q_text_quality" ->
      s"""$qualityCtesSql
         |SELECT doc_id, stopword_ratio, quality FROM q
         |ORDER BY doc_id""".stripMargin,

    // per-group quality curation: rank rides on the ROUNDED score (the
    // same 6-dp value both engines emit), so near-ties are exact ties
    // and doc_id resolves them identically on both sides
    "q_quality_topk" ->
      s"""$qualityCtesSql,
         |k AS (SELECT doc_id, lang, quality, row_number() OVER
         |        (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rk
         |      FROM q)
         |SELECT doc_id, lang, quality, CAST(rk AS BIGINT) AS rk
         |FROM k WHERE rk <= 5 ORDER BY lang, rk""".stripMargin,

    // prefix-sum placement: cumulative tokens before each doc in id order
    // (sums CAST to BIGINT — DuckDB widens sum(BIGINT) to HUGEINT)
    "q_seq_pack" ->
      """WITH p AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(sum(n_chars) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_token
        |  FROM documents)
        |SELECT doc_id, n_tokens, start_token,
        |  CAST(start_token // 1000 AS BIGINT) AS seq_first,
        |  CAST((start_token + greatest(n_tokens, 1) - 1) // 1000 AS BIGINT) AS seq_last
        |FROM p ORDER BY doc_id""".stripMargin,

    // same tokenization + add-0.5 smoothing formula; float compare is
    // atol-based so cross-engine summation-order drift is tolerated
    "q_lm_score" ->
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)),'\s+'), x -> x<>'') AS ws FROM documents),
        |ref AS (SELECT * FROM w WHERE doc_id % 2 = 0),
        |uni AS (SELECT w1, count(*) AS c_uni FROM (SELECT unnest(ws) AS w1 FROM ref) GROUP BY w1),
        |vocab AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
        |refbi AS (SELECT ws[i] AS w1, ws[i+1] AS w2
        |          FROM (SELECT ws, unnest(generate_series(1, CAST(len(ws)-1 AS BIGINT))) AS i FROM ref)),
        |bi AS (SELECT w1, w2, count(*) AS c_bi FROM refbi GROUP BY w1, w2),
        |docbi AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
        |          FROM (SELECT doc_id, ws, unnest(generate_series(1, CAST(len(ws)-1 AS BIGINT))) AS i FROM w)),
        |scored AS (
        |  SELECT d.doc_id,
        |    -log2( (COALESCE(b.c_bi, 0) + 0.5) / (COALESCE(u.c_uni, 0) + 0.5 * (SELECT v FROM vocab)) ) AS bits
        |  FROM docbi d
        |  LEFT JOIN bi b ON d.w1 = b.w1 AND d.w2 = b.w2
        |  LEFT JOIN uni u ON d.w1 = u.w1
        |),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |        round(avg(bits), 6) AS bits_per_bigram FROM scored GROUP BY doc_id)
        |SELECT w.doc_id, COALESCE(a.n_bigrams, 0) AS n_bigrams, a.bits_per_bigram
        |FROM w LEFT JOIN agg a ON w.doc_id = a.doc_id
        |ORDER BY w.doc_id""".stripMargin,

    // q_lm_score's CTEs thresholded on the rounded score (both engines
    // compare the round-6 value, so the boundary is the same grid point);
    // docs with no bigrams have NULL score and drop on both sides
    "q_lm_filter" ->
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)),'\s+'), x -> x<>'') AS ws FROM documents),
        |ref AS (SELECT * FROM w WHERE doc_id % 2 = 0),
        |uni AS (SELECT w1, count(*) AS c_uni FROM (SELECT unnest(ws) AS w1 FROM ref) GROUP BY w1),
        |vocab AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
        |refbi AS (SELECT ws[i] AS w1, ws[i+1] AS w2
        |          FROM (SELECT ws, unnest(generate_series(1, CAST(len(ws)-1 AS BIGINT))) AS i FROM ref)),
        |bi AS (SELECT w1, w2, count(*) AS c_bi FROM refbi GROUP BY w1, w2),
        |docbi AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
        |          FROM (SELECT doc_id, ws, unnest(generate_series(1, CAST(len(ws)-1 AS BIGINT))) AS i FROM w)),
        |scored AS (
        |  SELECT d.doc_id,
        |    -log2( (COALESCE(b.c_bi, 0) + 0.5) / (COALESCE(u.c_uni, 0) + 0.5 * (SELECT v FROM vocab)) ) AS bits
        |  FROM docbi d
        |  LEFT JOIN bi b ON d.w1 = b.w1 AND d.w2 = b.w2
        |  LEFT JOIN uni u ON d.w1 = u.w1
        |),
        |agg AS (SELECT doc_id, round(avg(bits), 6) AS bits_per_bigram
        |        FROM scored GROUP BY doc_id)
        |SELECT doc_id FROM agg
        |WHERE bits_per_bigram <= CAST(4.95 AS DOUBLE)
        |ORDER BY doc_id""".stripMargin,

    // identical RE2-subset patterns on both sides; DuckDB needs the 'g'
    // flag (Spark's regexp_replace is global by default)
    "q_redact_pii" ->
      s"""SELECT doc_id,
        | regexp_replace(regexp_replace(regexp_replace(
        |   CASE WHEN doc_id % 7 = 0 THEN text || ' contact alice.smith+spam@example.co.uk now'
        |        WHEN doc_id % 7 = 1 THEN 'server 192.168.101.2 said: ' || text
        |        WHEN doc_id % 7 = 2 THEN text || ' call +14155550173 today'
        |        ELSE text END,
        |   '${graft.text.Redact.EmailRe}', '[EMAIL]', 'g'),
        |   '${graft.text.Redact.Ipv4Re}', '[IP]', 'g'),
        |   '${graft.text.Redact.PhoneRe}', '[PHONE]', 'g') AS text
        |FROM documents ORDER BY doc_id""".stripMargin,

    // joins on the literal gram string where Spark joins on its xxhash64
    // — equal results barring a ~2^-64 hash collision (which would flag a
    // clean doc, the safe direction)
    "q_decontaminate" -> decontaminateFlagSql,

    // bit-identical contract: the bloom path only PRUNES before the
    // exact verify join, so its oracle IS the exact path's SQL
    "q_decontaminate_bloom" -> decontaminateFlagSql,

    // q_decontaminate's CTEs, keep side only (anti-join on the hit set)
    "q_decontaminate_filter" ->
      """WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0),
        |corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, regexp_replace(text, '^\S+\s+', '') AS text FROM bench
        |),
        |cw AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws FROM corpus),
        |bw AS (SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws FROM bench),
        |cg AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] AS g
        |       FROM (SELECT doc_id, ws, unnest(generate_series(1, CAST(len(ws) - 5 AS BIGINT))) AS i FROM cw)),
        |bg AS (SELECT DISTINCT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] AS g
        |       FROM (SELECT ws, unnest(generate_series(1, CAST(len(ws) - 5 AS BIGINT))) AS i FROM bw)),
        |hits AS (SELECT DISTINCT doc_id FROM cg JOIN bg USING (g))
        |SELECT c.doc_id
        |FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
        |WHERE h.doc_id IS NULL
        |ORDER BY c.doc_id""".stripMargin,

    // same tokenization as QualityFilters (lower, trim, split on \s+,
    // drop empties); "cover" = occurrences x word-chars of the gram
    "q_quality_repetition" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws
        |  FROM documents
        |),
        |base AS (
        |  SELECT doc_id, ws, len(ws) AS nw,
        |    CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) AS tc,
        |    len(list_distinct(ws)) AS nd
        |  FROM w
        |),
        |i2 AS (SELECT doc_id, ws, unnest(generate_series(1, CAST(nw - 1 AS BIGINT))) AS i FROM base),
        |a2 AS (SELECT doc_id, max(c * cl) AS cover FROM (
        |    SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g, count(*) AS c,
        |      max(length(ws[i]) + length(ws[i+1])) AS cl
        |    FROM i2 GROUP BY doc_id, g)
        |  GROUP BY doc_id),
        |i3 AS (SELECT doc_id, ws, unnest(generate_series(1, CAST(nw - 2 AS BIGINT))) AS i FROM base),
        |a3 AS (SELECT doc_id, max(c * cl) AS cover FROM (
        |    SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g, count(*) AS c,
        |      max(length(ws[i]) + length(ws[i+1]) + length(ws[i+2])) AS cl
        |    FROM i3 GROUP BY doc_id, g)
        |  GROUP BY doc_id),
        |i5 AS (SELECT doc_id, ws, unnest(generate_series(1, CAST(nw - 4 AS BIGINT))) AS i FROM base),
        |a5 AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c * cl ELSE 0 END) AS cover FROM (
        |    SELECT doc_id,
        |      ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS g,
        |      count(*) AS c,
        |      max(length(ws[i]) + length(ws[i+1]) + length(ws[i+2]) + length(ws[i+3]) + length(ws[i+4])) AS cl
        |    FROM i5 GROUP BY doc_id, g)
        |  GROUP BY doc_id)
        |SELECT b.doc_id, CAST(b.nw AS BIGINT) AS n_words,
        |  CASE WHEN b.nw = 0 THEN 0.0
        |       ELSE round(1.0 - b.nd / CAST(b.nw AS DOUBLE), 6) END AS dup_word_frac,
        |  CASE WHEN COALESCE(b.tc, 0) = 0 THEN 0.0
        |       ELSE round(COALESCE(a2.cover, 0) / b.tc, 6) END AS top_bigram_char_frac,
        |  CASE WHEN COALESCE(b.tc, 0) = 0 THEN 0.0
        |       ELSE round(COALESCE(a3.cover, 0) / b.tc, 6) END AS top_trigram_char_frac,
        |  CASE WHEN COALESCE(b.tc, 0) = 0 THEN 0.0
        |       ELSE round(COALESCE(a5.cover, 0) / b.tc, 6) END AS dup_fivegram_char_frac
        |FROM base b
        |LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id) LEFT JOIN a5 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // same CTEs as q_quality_repetition but thresholded on the UNROUNDED
    // fractions (the Spark filter compares raw kernel values) — the
    // keep/drop direction is what this row pins
    "q_quality_filter" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws
        |  FROM documents
        |),
        |base AS (
        |  SELECT doc_id, ws, len(ws) AS nw,
        |    CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) AS tc,
        |    len(list_distinct(ws)) AS nd
        |  FROM w
        |),
        |i2 AS (SELECT doc_id, ws, unnest(generate_series(1, CAST(nw - 1 AS BIGINT))) AS i FROM base),
        |a2 AS (SELECT doc_id, max(c * cl) AS cover FROM (
        |    SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g, count(*) AS c,
        |      max(length(ws[i]) + length(ws[i+1])) AS cl
        |    FROM i2 GROUP BY doc_id, g)
        |  GROUP BY doc_id),
        |i3 AS (SELECT doc_id, ws, unnest(generate_series(1, CAST(nw - 2 AS BIGINT))) AS i FROM base),
        |a3 AS (SELECT doc_id, max(c * cl) AS cover FROM (
        |    SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g, count(*) AS c,
        |      max(length(ws[i]) + length(ws[i+1]) + length(ws[i+2])) AS cl
        |    FROM i3 GROUP BY doc_id, g)
        |  GROUP BY doc_id),
        |i5 AS (SELECT doc_id, ws, unnest(generate_series(1, CAST(nw - 4 AS BIGINT))) AS i FROM base),
        |a5 AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c * cl ELSE 0 END) AS cover FROM (
        |    SELECT doc_id,
        |      ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS g,
        |      count(*) AS c,
        |      max(length(ws[i]) + length(ws[i+1]) + length(ws[i+2]) + length(ws[i+3]) + length(ws[i+4])) AS cl
        |    FROM i5 GROUP BY doc_id, g)
        |  GROUP BY doc_id)
        |SELECT b.doc_id
        |FROM base b
        |LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id) LEFT JOIN a5 USING (doc_id)
        |WHERE (CASE WHEN b.nw = 0 THEN 0.0 ELSE 1.0 - b.nd / CAST(b.nw AS DOUBLE) END) <= CAST(0.60 AS DOUBLE)
        |  AND (CASE WHEN COALESCE(b.tc, 0) = 0 THEN 0.0 ELSE COALESCE(a2.cover, 0) / b.tc END) <= CAST(0.15 AS DOUBLE)
        |  AND (CASE WHEN COALESCE(b.tc, 0) = 0 THEN 0.0 ELSE COALESCE(a3.cover, 0) / b.tc END) <= CAST(0.15 AS DOUBLE)
        |  AND (CASE WHEN COALESCE(b.tc, 0) = 0 THEN 0.0 ELSE COALESCE(a5.cover, 0) / b.tc END) <= CAST(0.15 AS DOUBLE)
        |ORDER BY doc_id""".stripMargin,

    // same plant, line split on chr(10), doc-frequency threshold, ordered
    // string_agg reassembly; docs losing every line come back as ''
    "q_line_dedup" ->
      """WITH p AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter' || chr(10) || text || chr(10) || 'all rights reserved'
        |       WHEN doc_id % 3 = 1 THEN text || chr(10) || 'all rights reserved'
        |       ELSE text END AS text FROM documents),
        |l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM p),
        |l AS (SELECT doc_id, ls, unnest(generate_series(1, CAST(len(ls) AS BIGINT))) AS i FROM l0),
        |lx AS (SELECT doc_id, i, ls[i] AS line FROM l),
        |bp AS (SELECT line FROM lx WHERE trim(line) <> ''
        |       GROUP BY line HAVING count(DISTINCT doc_id) >= 100),
        |kept AS (SELECT doc_id, i, line FROM lx
        |         WHERE line NOT IN (SELECT line FROM bp)),
        |re AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS text
        |       FROM kept GROUP BY doc_id)
        |SELECT p.doc_id, COALESCE(re.text, '') AS text
        |FROM p LEFT JOIN re ON p.doc_id = re.doc_id
        |ORDER BY p.doc_id""".stripMargin,

    // Lee-et-al exact substring dedup ground truth: same plant, explode
    // every 8-token window of the normalized text, grams occurring >= 2
    // times corpus-wide mark their covered token positions, survivors
    // reassemble in order; fully-duplicated docs come back '' (never a
    // dropped row). Spark groups by xxhash64(gram), this groups by the
    // gram string itself — equivalent modulo 2^-64 hash collisions.
    "q_substring_dedup" ->
      s"""WITH p AS (SELECT doc_id,
         |  CASE WHEN doc_id % 4 = 0 THEN text || ' ' || '$boilerplatePassage'
         |       WHEN doc_id % 4 = 1 THEN '$boilerplatePassage' || ' ' || text
         |       ELSE text END AS text FROM documents),
         |toks AS (SELECT doc_id, string_split($normTextSql, ' ') AS t FROM p),
         |wins AS (SELECT doc_id, unnest(range(0, len(t) - 7)) AS pos, t
         |         FROM toks WHERE len(t) >= 8),
         |wg AS (SELECT doc_id, pos,
         |         array_to_string(list_slice(t, pos + 1, pos + 8), ' ') AS g
         |       FROM wins),
         |dup AS (SELECT doc_id, pos FROM wg WHERE g IN (
         |          SELECT g FROM wg GROUP BY g HAVING count(*) >= 2)),
         |cov AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS cp
         |        FROM dup),
         |tokpos AS (SELECT doc_id, unnest(t) AS tok,
         |             unnest(range(0, CAST(len(t) AS BIGINT))) AS tp
         |           FROM toks),
         |kept AS (SELECT a.doc_id, a.tp, a.tok FROM tokpos a
         |         LEFT JOIN cov c ON a.doc_id = c.doc_id AND a.tp = c.cp
         |         WHERE c.cp IS NULL),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tp) AS text,
         |          count(*) AS n_kept FROM kept GROUP BY doc_id),
         |base AS (SELECT doc_id, len(t) AS n_tok FROM toks)
         |SELECT b.doc_id, COALESCE(a.text, '') AS text,
         |  CAST(b.n_tok - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed
         |FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
         |ORDER BY b.doc_id""".stripMargin,

    // full value-level winnowing recompute (CTEs shared with the pair and
    // cluster forms below)
    "q_winnow_fp" ->
      s"""WITH ${winnowFpCtes("documents")}
         |SELECT doc_id, fp FROM wfp
         |ORDER BY doc_id, fp""".stripMargin,

    // the winnow-pair ground truth: same plant, fingerprints, df filter,
    // value self-join; overlap = shared / min(pairable fps of either side)
    "q_winnow_pairs" ->
      s"""WITH $winnowPairCtes
         |SELECT id_a, id_b, n_shared,
         |  round(n_shared / CAST(least(ca.n, cb.n) AS DOUBLE), 6) AS overlap
         |FROM wpair JOIN wcnt ca ON ca.doc_id = id_a
         |           JOIN wcnt cb ON cb.doc_id = id_b
         |ORDER BY id_a, id_b""".stripMargin,

    // the same pair set closed transitively with the recursive-CTE
    // pattern of q_neardup_clusters
    "q_winnow_clusters" ->
      s"""WITH RECURSIVE $winnowPairCtes,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM wpair
         |  UNION SELECT id_b, id_a FROM wpair),
         |reach(id, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id)
         |SELECT id, CAST(min(r) AS BIGINT) AS cluster FROM reach
         |GROUP BY id ORDER BY id""".stripMargin,

    "q_lang_id" -> {
      import graft.text.TextAnalysis._
      s"""WITH t AS (SELECT doc_id, lang, text, $distinctToksSql AS toks FROM documents),
         |s AS (SELECT doc_id, lang,
         |  CASE WHEN len(text) > 0 THEN CAST(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS DOUBLE) / len(text) ELSE 0.0 END AS cjk,
         |  len(list_intersect(toks, ${sqlList(StopDe)})) AS s_de,
         |  len(list_intersect(toks, ${sqlList(StopEn)})) AS s_en,
         |  len(list_intersect(toks, ${sqlList(StopEs)})) AS s_es,
         |  len(list_intersect(toks, ${sqlList(StopFr)})) AS s_fr
         |  FROM t)
         |SELECT doc_id, lang,
         | CASE WHEN cjk > 0.3 THEN 'zh'
         |      WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
         |      WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
         |      WHEN s_es >= s_fr THEN 'es'
         |      ELSE 'fr' END AS pred_lang
         |FROM s ORDER BY doc_id""".stripMargin
    },

    "q_lang_dist" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        | round(avg(n_chars), 6) AS avg_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_fingerprint" ->
      s"""SELECT doc_id, md5($normTextSql) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_dedup_fingerprint" ->
      s"""WITH u AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
         |r AS (SELECT doc_id, text, row_number() OVER
         |  (PARTITION BY md5($normTextSql) ORDER BY doc_id) AS rn FROM u)
         |SELECT doc_id, text FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q_ngram_jaccard" -> {
      val sh = shingleSql(normTextSql)
      s"""WITH t AS (SELECT doc_id, $sh AS sh FROM documents)
         |SELECT a.doc_id AS id_a,
         | CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
         |   THEN round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |     / len(list_distinct(list_concat(a.sh, b.sh))), 6) END AS jaccard
         |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
         |ORDER BY id_a""".stripMargin
    },

    // Exact all-pairs word-3-gram Jaccard ground truth. Valid as an oracle
    // for the LSH query because rotation-densified OPH has full recall on
    // this corpus (verified: 600/600 pairs at sf0.01) and the exact-Jaccard
    // verification step makes precision exact by construction.
    "q_neardup_minhash" ->
      s"""WITH $minhashPairCtes
         |SELECT id_a, id_b, round(j, 6) AS jaccard FROM mh
         |ORDER BY id_a, id_b""".stripMargin,

    "q_sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 8) <
        |  CASE WHEN lang = 'en' THEN '80000000'
        |       WHEN lang = 'fr' THEN '40000000'
        |       ELSE '19999999' END
        |ORDER BY doc_id""".stripMargin,

    // rate_s = min(1, budget_s / sum(n_chars)_s); threshold hex is the
    // TRUNCATED rate*2^32 ('floor' — DuckDB's bare BIGINT cast rounds),
    // lowercased (to_hex is uppercase); >=1 clamps to the keep-all
    // sentinel 'g' exactly like Sampling.thresholdHex
    "q_sample_budget" ->
      """WITH s AS (SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS toks
        |           FROM documents GROUP BY lang),
        |r AS (SELECT lang,
        |  CASE WHEN lang = 'en' THEN 30000.0 / toks
        |       WHEN lang = 'de' THEN 8000.0 / toks
        |       ELSE 0.1 END AS rate FROM s),
        |t AS (SELECT lang,
        |  CASE WHEN rate >= 1.0 THEN 'g'
        |       WHEN rate <= 0.0 THEN '0'
        |       ELSE lpad(lower(to_hex(CAST(floor(rate * 4294967296.0) AS BIGINT))), 8, '0')
        |  END AS thr FROM r)
        |SELECT d.doc_id, d.lang FROM documents d JOIN t ON d.lang = t.lang
        |WHERE substr(md5('graft:' || CAST(d.doc_id AS VARCHAR)), 1, 8) < t.thr
        |ORDER BY d.doc_id""".stripMargin,

    // rate_s = round(min(1, 30000·toks^(1/2)/Σw / toks), 6) — the 6-dp
    // rounding on BOTH sides makes pow/sum-order ulp drift irrelevant;
    // threshold construction identical to q_sample_budget
    "q_sample_temperature" ->
      """WITH s AS (SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS toks
        |           FROM documents GROUP BY lang),
        |w AS (SELECT lang, toks, pow(toks, 0.5) AS wt FROM s),
        |r AS (SELECT lang,
        |  round(LEAST(1.0, 30000.0 * (wt / (SELECT sum(wt) FROM w)) / toks), 6)
        |    AS rate FROM w),
        |t AS (SELECT lang,
        |  CASE WHEN rate >= 1.0 THEN 'g'
        |       WHEN rate <= 0.0 THEN '0'
        |       ELSE lpad(lower(to_hex(CAST(floor(rate * 4294967296.0) AS BIGINT))), 8, '0')
        |  END AS thr FROM r)
        |SELECT d.doc_id, d.lang FROM documents d JOIN t ON d.lang = t.lang
        |WHERE substr(md5('graft:' || CAST(d.doc_id AS VARCHAR)), 1, 8) < t.thr
        |ORDER BY d.doc_id""".stripMargin,

    // same tokenizer convention as tokCountSql; UNNEST(range(0, n,
    // stride)) reproduces the start list, 1-based inclusive list slicing
    // matches Spark's slice(ws, start+1, chunkTokens)
    "q_chunk_docs" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS ws,
        |    len(trim(text)) AS nz FROM documents),
        |c AS (SELECT doc_id, ws, UNNEST(range(0, len(ws), 4)) AS start
        |      FROM t WHERE nz > 0)
        |SELECT doc_id, CAST(start // 4 AS BIGINT) AS chunk_id,
        |  CAST(LEAST(6, len(ws) - start) AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(ws[start + 1 : start + 6], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    // ---- BPE family: every oracle opens WITH RECURSIVE over the shared
    // bpeWordCtes block, which replays Bpe.DemoMerges rank by rank over
    // distinct words (see the helper's Scaladoc for why one replace per
    // rank is exactly one greedy merge pass).

    "q_bpe_tokens" ->
      s"""WITH RECURSIVE $bpeWordCtes
         |SELECT dd.doc_id, CAST(len(dd.ws) AS BIGINT) AS n_ws, c.n_bpe
         |FROM docw dd JOIN dcnt c ON dd.doc_id = c.doc_id
         |ORDER BY dd.doc_id""".stripMargin,

    // tokens ship space-joined (scalar at the query boundary — the
    // driver's comparator cannot hash array cells); the prefiltered
    // docw makes every doc's token list non-empty, so the join is
    // inner and array_to_string never sees NULL-vs-[] ambiguity
    "q_bpe_encode" ->
      s"""WITH RECURSIVE $bpeWordCtes
         |SELECT p.doc_id,
         |  array_to_string(flatten(list(t.toks ORDER BY p.wi)), ' ') AS toks
         |FROM wpos p JOIN wtok t ON p.w = t.w
         |WHERE p.doc_id % 50 = 0 GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin,

    // window 8 / stride 6 over the flat per-doc token stream; list
    // slicing is 1-based inclusive (the q_chunk_docs convention);
    // chunk_tokens space-joined at the boundary like q_bpe_encode
    "q_chunk_bpe" ->
      s"""WITH RECURSIVE $bpeWordCtes,
         |ftok AS (SELECT p.doc_id, flatten(list(t.toks ORDER BY p.wi)) AS toks
         |         FROM wpos p JOIN wtok t ON p.w = t.w
         |         WHERE p.doc_id % 10 = 0 GROUP BY p.doc_id),
         |c AS (SELECT doc_id, toks, UNNEST(range(0, len(toks), 6)) AS start
         |      FROM ftok)
         |SELECT doc_id, CAST(start // 6 AS BIGINT) AS chunk_id,
         |  CAST(LEAST(8, len(toks) - start) AS BIGINT) AS n_chunk_tokens,
         |  array_to_string(toks[start + 1 : start + 8], ' ') AS chunk_tokens
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    // the q_seq_pack prefix sum, fed by BPE counts instead of n_chars
    "q_seq_pack_bpe" ->
      s"""WITH RECURSIVE $bpeWordCtes,
         |p AS (SELECT doc_id, n_bpe AS n_tokens,
         |  CAST(COALESCE(sum(n_bpe) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_token
         |  FROM dcnt)
         |SELECT doc_id, n_tokens, start_token,
         |  CAST(start_token // 256 AS BIGINT) AS seq_first,
         |  CAST((start_token + greatest(n_tokens, 1) - 1) // 256 AS BIGINT) AS seq_last
         |FROM p ORDER BY doc_id""".stripMargin,

    // 1024 frozen merges (BpeLearn1k — what live training reproduces
    // at sf0.01) replayed over bigram pre-tokens; the recursive CTE
    // runs 1024 replace ranks over ~916 distinct pre-token strings
    "q_bpe_learn1k" ->
      s"""WITH RECURSIVE ${bpeCtes(graft.text.BpeLearn1k.Merges, bigramDocwSql)}
         |SELECT doc_id, n_bpe AS n_bpe1k FROM dcnt ORDER BY doc_id""".stripMargin,

    // greedy longest-match over the same frozen vocabulary — the
    // wordpieceCtes walk replays the kernel's inference rule exactly
    "q_wordpiece_tokens" ->
      s"""WITH RECURSIVE ${wordpieceCtes(
             graft.text.WordPiece.vocabFromMerges(
               graft.text.BpeLearn1k.Merges), bigramDocwSql)}
         |SELECT doc_id, n_wp FROM dcnt ORDER BY doc_id""".stripMargin,

    "q_wordpiece_encode" ->
      s"""WITH RECURSIVE ${wordpieceCtes(
             graft.text.WordPiece.vocabFromMerges(
               graft.text.BpeLearn1k.Merges),
             bigramDocwSql + " AND doc_id % 50 = 0")}
         |SELECT p.doc_id,
         |  array_to_string(flatten(list(t.toks ORDER BY p.wi)), ' ') AS pieces
         |FROM wpos p JOIN wtok t ON p.w = t.w
         |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin,

    // unigram-LM Viterbi over the same frozen vocabulary at
    // rank-derived integer costs — unigramCtes replays the kernel's DP
    "q_unigram_tokens" ->
      s"""WITH RECURSIVE ${unigramCtes(
             graft.text.Unigram.pieceCosts(
               graft.text.BpeLearn1k.Merges), bigramDocwSql)}
         |SELECT doc_id, n_ug FROM dcnt ORDER BY doc_id""".stripMargin,

    "q_unigram_encode" ->
      s"""WITH RECURSIVE ${unigramCtes(
             graft.text.Unigram.pieceCosts(
               graft.text.BpeLearn1k.Merges),
             bigramDocwSql + " AND doc_id % 50 = 0")}
         |SELECT p.doc_id,
         |  array_to_string(flatten(list(t.toks ORDER BY p.wi)), ' ') AS pieces
         |FROM wpos p JOIN wtok t ON p.w = t.w
         |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin,

    // the EM-trained twin: the oracle replays the FROZEN sf0.01 cost
    // table (UnigramLearned, md5-pinned resource) through the same DP;
    // the query trains live — green hash == training determinism
    "q_unigram_learn" ->
      s"""WITH RECURSIVE ${unigramCtes(
             graft.text.UnigramLearned.Costs, bigramDocwSql)}
         |SELECT doc_id, n_ug AS n_ug_em FROM dcnt ORDER BY doc_id""".stripMargin,

    // the q_sample_budget threshold machinery with per-lang BPE totals
    "q_sample_budget_bpe" ->
      s"""WITH RECURSIVE $bpeWordCtes,
         |s AS (SELECT d.lang, CAST(sum(c.n_bpe) AS DOUBLE) AS toks
         |      FROM documents d JOIN dcnt c ON d.doc_id = c.doc_id
         |      GROUP BY d.lang),
         |r AS (SELECT lang,
         |  CASE WHEN lang = 'en' THEN 20000.0 / toks
         |       WHEN lang = 'de' THEN 6000.0 / toks
         |       ELSE 0.1 END AS rate FROM s),
         |t AS (SELECT lang,
         |  CASE WHEN rate >= 1.0 THEN 'g'
         |       WHEN rate <= 0.0 THEN '0'
         |       ELSE lpad(lower(to_hex(CAST(floor(rate * 4294967296.0) AS BIGINT))), 8, '0')
         |  END AS thr FROM r)
         |SELECT d.doc_id, d.lang FROM documents d JOIN t ON d.lang = t.lang
         |WHERE substr(md5('graft:' || CAST(d.doc_id AS VARCHAR)), 1, 8) < t.thr
         |  AND d.text IS NOT NULL AND regexp_matches(d.text, '\\S')
         |ORDER BY d.doc_id""".stripMargin,

    // the same salted-md5 permutation, as a plain window at oracle scale
    "q_corpus_shuffle" ->
      """SELECT doc_id, lang,
        |  CAST(row_number() OVER (ORDER BY
        |    md5('graft:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
        |    AS BIGINT) AS shuffle_pos
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the q_chunk_docs chunk CTE feeding the q_seq_pack prefix-sum
    // formula over the composite key; greatest(n,1) kept for formula
    // parity with the Spark side even though chunks are never empty
    "q_chunk_pack" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS ws,
        |    len(trim(text)) AS nz FROM documents),
        |c AS (SELECT doc_id, ws, UNNEST(range(0, len(ws), 4)) AS start
        |      FROM t WHERE nz > 0),
        |ch AS (SELECT CAST(doc_id * 1000000 + start // 4 AS BIGINT) AS chunk_key,
        |    CAST(LEAST(6, len(ws) - start) AS BIGINT) AS n_tokens FROM c),
        |p AS (SELECT chunk_key, n_tokens,
        |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY chunk_key
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_token
        |  FROM ch)
        |SELECT chunk_key, n_tokens, start_token,
        |  CAST(start_token // 8 AS BIGINT) AS seq_first,
        |  CAST((start_token + greatest(n_tokens, 1) - 1) // 8 AS BIGINT) AS seq_last
        |FROM p ORDER BY chunk_key""".stripMargin,

    // the q_seq_pack prefix sum over per-doc token counts, each doc
    // exploded over the sequences it spans, pieces sliced by the global
    // [gs, ge) span and reassembled in offset order (DuckDB list slicing
    // is 1-based inclusive: [gs-start+1 : ge-start])
    "q_pack_gather" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS ws,
        |    len(trim(text)) AS nz FROM documents),
        |n AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n FROM t WHERE nz > 0),
        |p AS (SELECT doc_id, ws, n,
        |    CAST(COALESCE(sum(n) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
        |  FROM n),
        |e AS (SELECT ws, n, start,
        |    UNNEST(range(start // 64, (start + n - 1) // 64 + 1)) AS seq
        |  FROM p),
        |pc AS (SELECT seq, GREATEST(seq * 64, start) - seq * 64 AS off,
        |    ws[CAST(GREATEST(seq * 64, start) - start + 1 AS BIGINT) :
        |       CAST(LEAST((seq + 1) * 64, start + n) - start AS BIGINT)] AS piece
        |  FROM e),
        |g AS (SELECT seq, flatten(list(piece ORDER BY off)) AS toks,
        |    count(*) AS n_docs FROM pc GROUP BY seq)
        |SELECT CAST(seq AS BIGINT) AS seq_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(n_docs AS BIGINT) AS n_docs,
        |  array_to_string(toks, ' ') AS seq_text
        |FROM g ORDER BY seq_id""".stripMargin,

    // the full training-layout chain replayed CTE by CTE: the
    // q_quality_filter CTEs (kept ids) → the q_decontaminate_filter
    // CTEs over the kept corpus → per-lang md5-rank cap (40) →
    // md5-order epoch positions → the q_chunk_docs chunk CTE keyed by
    // position → the q_pack_gather prefix-sum/slice/regroup at window 64
    "q_train_layout" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws
        |  FROM documents
        |),
        |base AS (
        |  SELECT doc_id, ws, len(ws) AS nw,
        |    CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) AS tc,
        |    len(list_distinct(ws)) AS nd
        |  FROM w
        |),
        |i2 AS (SELECT doc_id, ws, unnest(generate_series(1, CAST(nw - 1 AS BIGINT))) AS i FROM base),
        |a2 AS (SELECT doc_id, max(c * cl) AS cover FROM (
        |    SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g, count(*) AS c,
        |      max(length(ws[i]) + length(ws[i+1])) AS cl
        |    FROM i2 GROUP BY doc_id, g)
        |  GROUP BY doc_id),
        |i3 AS (SELECT doc_id, ws, unnest(generate_series(1, CAST(nw - 2 AS BIGINT))) AS i FROM base),
        |a3 AS (SELECT doc_id, max(c * cl) AS cover FROM (
        |    SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g, count(*) AS c,
        |      max(length(ws[i]) + length(ws[i+1]) + length(ws[i+2])) AS cl
        |    FROM i3 GROUP BY doc_id, g)
        |  GROUP BY doc_id),
        |i5 AS (SELECT doc_id, ws, unnest(generate_series(1, CAST(nw - 4 AS BIGINT))) AS i FROM base),
        |a5 AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c * cl ELSE 0 END) AS cover FROM (
        |    SELECT doc_id,
        |      ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS g,
        |      count(*) AS c,
        |      max(length(ws[i]) + length(ws[i+1]) + length(ws[i+2]) + length(ws[i+3]) + length(ws[i+4])) AS cl
        |    FROM i5 GROUP BY doc_id, g)
        |  GROUP BY doc_id),
        |qk AS (SELECT b.doc_id
        |  FROM base b
        |  LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id) LEFT JOIN a5 USING (doc_id)
        |  WHERE (CASE WHEN b.nw = 0 THEN 0.0 ELSE 1.0 - b.nd / CAST(b.nw AS DOUBLE) END) <= CAST(0.60 AS DOUBLE)
        |    AND (CASE WHEN COALESCE(b.tc, 0) = 0 THEN 0.0 ELSE COALESCE(a2.cover, 0) / b.tc END) <= CAST(0.15 AS DOUBLE)
        |    AND (CASE WHEN COALESCE(b.tc, 0) = 0 THEN 0.0 ELSE COALESCE(a3.cover, 0) / b.tc END) <= CAST(0.15 AS DOUBLE)
        |    AND (CASE WHEN COALESCE(b.tc, 0) = 0 THEN 0.0 ELSE COALESCE(a5.cover, 0) / b.tc END) <= CAST(0.15 AS DOUBLE)),
        |corpus AS (SELECT d.doc_id, d.lang, d.text FROM documents d JOIN qk USING (doc_id)),
        |bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0),
        |cw AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws FROM corpus),
        |bw AS (SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws FROM bench),
        |cg AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] AS g
        |       FROM (SELECT doc_id, ws, unnest(generate_series(1, CAST(len(ws) - 5 AS BIGINT))) AS i FROM cw)),
        |bg AS (SELECT DISTINCT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] AS g
        |       FROM (SELECT ws, unnest(generate_series(1, CAST(len(ws) - 5 AS BIGINT))) AS i FROM bw)),
        |hits AS (SELECT DISTINCT doc_id FROM cg JOIN bg USING (g)),
        |clean AS (SELECT c.doc_id, c.lang, c.text
        |  FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
        |  WHERE h.doc_id IS NULL),
        |capped AS (SELECT doc_id, text FROM (
        |    SELECT doc_id, text, row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('graft:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |    FROM clean)
        |  WHERE rn <= 40),
        |shuf AS (SELECT text,
        |    CAST(row_number() OVER (ORDER BY
        |      md5('graft:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
        |      AS BIGINT) AS pos
        |  FROM capped),
        |t AS (SELECT pos,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS ws,
        |    len(trim(text)) AS nz FROM shuf),
        |c AS (SELECT pos, ws, UNNEST(range(0, len(ws), 4)) AS start
        |      FROM t WHERE nz > 0),
        |ch AS (SELECT CAST(pos * 1000000 + start // 4 AS BIGINT) AS chunk_key,
        |    ws[start + 1 : start + 6] AS cts,
        |    CAST(LEAST(6, len(ws) - start) AS BIGINT) AS n FROM c),
        |p AS (SELECT chunk_key, cts, n,
        |    CAST(COALESCE(sum(n) OVER (ORDER BY chunk_key
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
        |  FROM ch),
        |e AS (SELECT cts AS ws, n, start,
        |    UNNEST(range(start // 64, (start + n - 1) // 64 + 1)) AS seq
        |  FROM p),
        |pc AS (SELECT seq, GREATEST(seq * 64, start) - seq * 64 AS off,
        |    ws[CAST(GREATEST(seq * 64, start) - start + 1 AS BIGINT) :
        |       CAST(LEAST((seq + 1) * 64, start + n) - start AS BIGINT)] AS piece
        |  FROM e),
        |g AS (SELECT seq, flatten(list(piece ORDER BY off)) AS toks,
        |    count(*) AS n_docs FROM pc GROUP BY seq)
        |SELECT CAST(seq AS BIGINT) AS seq_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(n_docs AS BIGINT) AS n_docs,
        |  array_to_string(toks, ' ') AS seq_text
        |FROM g ORDER BY seq_id""".stripMargin,

    // boundaries are the SAME literal hex strings the Spark side uses
    // (Sampling.cumulativeThresholdHex) — no float re-derivation at all
    "q_split_assign" -> {
      val Seq(t1, t2, t3) = graft.ops.Sampling
        .cumulativeThresholdHex(Seq(0.8, 0.1, 0.1))
      s"""SELECT doc_id,
         |  CASE WHEN h < '$t1' THEN 'train'
         |       WHEN h < '$t2' THEN 'val'
         |       WHEN h < '$t3' THEN 'test'
         |       ELSE NULL END AS split
         |FROM (SELECT doc_id,
         |        substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin
    },

    // The same exact pair ground truth, closed transitively with a
    // recursive CTE — every paired id maps to the smallest id reachable
    // through the pair graph, the cluster representative a dedup keeps.
    "q_neardup_clusters" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM mh
         |  UNION SELECT id_b, id_a FROM mh),
         |reach(id, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id)
         |SELECT id, CAST(min(r) AS BIGINT) AS cluster FROM reach
         |GROUP BY id ORDER BY id""".stripMargin,

    // exact cross-corpus ground truth: word-3-gram Jaccard between every
    // new-batch doc and every reference doc; a new doc survives iff no
    // reference doc reaches 0.5 (docs under 3 words have no grams and
    // survive by construction, both engines)
    "q_dedup_incremental" ->
      s"""WITH nw AS (
         |  SELECT doc_id + 3000000 AS doc_id,
         |    CASE WHEN doc_id % 3 = 0
         |      THEN regexp_replace($normTextSql, '\\s+\\S+$$', '')
         |      ELSE array_to_string(list_reverse(string_split($normTextSql, ' ')), ' ')
         |    END AS text
         |  FROM documents),
         |gr AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, len(toks) - 1),
         |      i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS grams
         |  FROM (SELECT doc_id, string_split($normTextSql, ' ') AS toks FROM documents)
         |  WHERE len(toks) >= 3),
         |gn AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, len(toks) - 1),
         |      i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS grams
         |  FROM (SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks FROM nw)
         |  WHERE len(toks) >= 3),
         |dropped AS (
         |  SELECT DISTINCT n.doc_id
         |  FROM gn n JOIN gr r ON
         |    CAST(len(list_intersect(n.grams, r.grams)) AS DOUBLE)
         |      / len(list_distinct(list_concat(n.grams, r.grams))) >= 0.5)
         |SELECT doc_id, text FROM nw
         |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
         |ORDER BY doc_id""".stripMargin,

    // Full value-level simhash recompute: md5-hex -> 56-bit token hash via
    // base-16 fold, per-bit ±1 vote sums, bit_or reassembly — identical
    // arithmetic to NearDup.simhash(_, 56, md5Hash56).
    "q_simhash" ->
      s"""WITH d AS (SELECT doc_id, $normTextSql AS t1,
         |    regexp_replace($normTextSql, '\\s+\\S+$$', '') AS t2 FROM documents),
         |tok AS (
         |  SELECT doc_id, 1 AS which, unnest(string_split(t1, ' ')) AS t FROM d
         |  UNION ALL
         |  SELECT doc_id, 2 AS which, unnest(string_split(t2, ' ')) AS t FROM d),
         |h AS (SELECT doc_id, which,
         |  list_reduce(list_prepend(0::BIGINT,
         |    list_transform(string_split(substring(md5(t), 1, 14), ''),
         |      c -> (strpos('0123456789abcdef', c) - 1)::BIGINT)),
         |    (a, v) -> a * 16 + v) AS hv
         |  FROM tok),
         |v AS (SELECT doc_id, which, b,
         |    sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
         |  FROM h CROSS JOIN (SELECT unnest(range(56)) AS b) r
         |  GROUP BY doc_id, which, b),
         |s AS (SELECT doc_id, which,
         |    bit_or(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS sh
         |  FROM v GROUP BY doc_id, which)
         |SELECT a.doc_id AS doc_id, a.sh AS sh,
         |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming_to_neardup
         |FROM s a JOIN s b ON a.doc_id = b.doc_id AND a.which = 1 AND b.which = 2
         |ORDER BY a.doc_id""".stripMargin,

    // the q_embed_neardup pair set (exact cosine threshold — LSH banding
    // with identical planted vectors has recall 1 there) closed
    // transitively with the same recursive-CTE pattern as
    // q_neardup_clusters
    "q_embed_clusters" ->
      """WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |u AS (SELECT * FROM e
        |      UNION ALL SELECT vec_id + 10000000, v FROM e WHERE vec_id < 20),
        |pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |       FROM u a JOIN u b ON a.vec_id < b.vec_id
        |       WHERE list_dot_product(a.v, b.v) /
        |         (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.95),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
        |  UNION SELECT id_b, id_a FROM pr),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e2.src, r.r FROM edges e2 JOIN reach r ON e2.dst = r.id)
        |SELECT id, CAST(min(r) AS BIGINT) AS cluster FROM reach
        |GROUP BY id ORDER BY id""".stripMargin,

    "q_cosine_pairs" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         |SELECT a.vec_id AS id_a, round($cosSql, 6) AS sim
         |FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
         |ORDER BY id_a""".stripMargin,

    "q_embed_neardup" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |u AS (SELECT * FROM e
         |      UNION ALL SELECT vec_id + 10000000, v FROM e WHERE vec_id < 20)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         | round(list_dot_product(a.v, b.v) /
         |   (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
         |   AS cosine
         |FROM u a JOIN u b ON a.vec_id < b.vec_id
         |WHERE list_dot_product(a.v, b.v) /
         |   (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.95
         |ORDER BY id_a, id_b""".stripMargin,

    "q_ann_topk" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
         |s AS (SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         |  round(list_dot_product(q.v, a.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(a.v, a.v))), 6) AS sim
         |  FROM e a, q WHERE a.vec_id <> q.vec_id),
         |r AS (SELECT *, CAST(row_number() OVER
         |  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank FROM s)
         |SELECT query_id, neighbor_id, sim, rank FROM r WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    // identical to the brute-force oracle: probing every IVF cell must
    // reproduce exact top-k
    // same affine int8 scheme in DuckDB double math: code =
    // clamp(round((x−min)/scale)) − 128; rounding operands are
    // non-negative so HALF_UP (Spark) and half-away-from-zero (DuckDB)
    // agree; codes compare as exact integers
    "q_embed_quantize" ->
      """WITH s AS (SELECT vec_id, embedding,
        |    CAST(list_min(embedding) AS DOUBLE) AS minv,
        |    (CAST(list_max(embedding) AS DOUBLE)
        |      - CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS scale
        |  FROM embeddings),
        |e AS (SELECT vec_id, minv, scale,
        |    UNNEST(embedding) AS x, UNNEST(range(len(embedding))) AS dim
        |  FROM s)
        |SELECT vec_id, CAST(dim AS BIGINT) AS dim,
        |  CAST(CASE WHEN scale = 0 THEN 0
        |    ELSE LEAST(127, GREATEST(-128,
        |      CAST(round((CAST(x AS DOUBLE) - minv) / scale) AS INTEGER) - 128))
        |    END AS INTEGER) AS code
        |FROM e ORDER BY vec_id, dim""".stripMargin,

    // q_embed_quantize's code formula, dequantized back per element in a
    // correlated lambda, then the q_ann_ivf cosine/rank tail
    "q_ann_quantized" ->
      """WITH s AS (SELECT vec_id, embedding,
        |    CAST(list_min(embedding) AS DOUBLE) AS minv,
        |    (CAST(list_max(embedding) AS DOUBLE)
        |      - CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS scale
        |  FROM embeddings),
        |d AS (SELECT vec_id, list_transform(embedding, x ->
        |    CASE WHEN scale = 0 THEN minv
        |      ELSE (LEAST(127, GREATEST(-128,
        |        CAST(round((CAST(x AS DOUBLE) - minv) / scale) AS INTEGER)
        |        - 128)) + 128) * scale + minv END) AS v
        |  FROM s),
        |q AS (SELECT vec_id, v FROM d WHERE vec_id < 5),
        |sc AS (SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
        |    round(list_dot_product(q.v, a.v)
        |      / (sqrt(list_dot_product(q.v, q.v))
        |         * sqrt(list_dot_product(a.v, a.v))), 6) AS sim
        |  FROM d a, q WHERE a.vec_id <> q.vec_id),
        |r AS (SELECT *, CAST(row_number() OVER
        |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
        |    AS BIGINT) AS rank FROM sc)
        |SELECT query_id, neighbor_id, sim, rank FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    // the q_embed_quantize/q_ann_quantized dequant CTEs feeding the
    // candidate cut (rounded quantized sim, id tie-break, k·overfetch =
    // 20), then the exact re-rank over the RAW vectors — both stages
    // replayed value-for-value
    "q_ann_ivf_quantized" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, embedding,
        |    CAST(list_min(embedding) AS DOUBLE) AS minv,
        |    (CAST(list_max(embedding) AS DOUBLE)
        |      - CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS scale
        |  FROM embeddings),
        |d AS (SELECT vec_id, list_transform(embedding, x ->
        |    CASE WHEN scale = 0 THEN minv
        |      ELSE (LEAST(127, GREATEST(-128,
        |        CAST(round((CAST(x AS DOUBLE) - minv) / scale) AS INTEGER)
        |        - 128)) + 128) * scale + minv END) AS v
        |  FROM s),
        |q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
        |sc AS (SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
        |    round(list_dot_product(q.v, a.v)
        |      / (sqrt(list_dot_product(q.v, q.v))
        |         * sqrt(list_dot_product(a.v, a.v))), 6) AS qsim
        |  FROM d a, q WHERE a.vec_id <> q.vec_id),
        |c AS (SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY qsim DESC, neighbor_id) AS crk
        |  FROM sc),
        |cand AS (SELECT query_id, neighbor_id FROM c WHERE crk <= 20),
        |x AS (SELECT cand.query_id, cand.neighbor_id,
        |    round(list_dot_product(qv.v, av.v)
        |      / (sqrt(list_dot_product(qv.v, qv.v))
        |         * sqrt(list_dot_product(av.v, av.v))), 6) AS sim
        |  FROM cand JOIN e qv ON qv.vec_id = cand.query_id
        |            JOIN e av ON av.vec_id = cand.neighbor_id),
        |r AS (SELECT *, CAST(row_number() OVER
        |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
        |    AS BIGINT) AS rank FROM x)
        |SELECT query_id, neighbor_id, sim, rank FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    "q_ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
         |s AS (SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         |  round(list_dot_product(q.v, a.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(a.v, a.v))), 6) AS sim
         |  FROM e a, q WHERE a.vec_id <> q.vec_id),
         |r AS (SELECT *, CAST(row_number() OVER
         |  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank FROM s)
         |SELECT query_id, neighbor_id, sim, rank FROM r WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    // Full LSH rebuild from the literal plane-weight table: signature =
    // packed sign bits of v · w_p; candidates = any equal 4-bit band of
    // the 32-bit signature (8 bands, same banding as lshTopK); exact
    // rerank over the candidate set. The candidate set is fully
    // deterministic, so the whole approximate result is value-checkable.
    "q_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |w AS (SELECT * FROM (VALUES ${planeWeightValuesSql(32, 64)}) t(p, pw)),
         |sig AS (
         |  SELECT e.vec_id, CAST(sum(CASE WHEN list_dot_product(e.v, w.pw) >= 0
         |    THEN (1::BIGINT << w.p) ELSE 0 END) AS BIGINT) AS s
         |  FROM e CROSS JOIN w GROUP BY e.vec_id),
         |cb AS (
         |  SELECT sig.vec_id AS c_id, b.b AS band, (sig.s >> CAST(4 * b.b AS INTEGER)) & 15 AS bb
         |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b) b),
         |cand AS (
         |  SELECT DISTINCT q.query_id, c.c_id
         |  FROM (SELECT c_id AS query_id, band, bb FROM cb WHERE c_id < 5) q
         |  JOIN cb c ON c.band = q.band AND c.bb = q.bb
         |  WHERE c.c_id <> q.query_id),
         |s AS (
         |  SELECT cand.query_id, cand.c_id AS neighbor_id,
         |    round(list_dot_product(qv.v, av.v) / (sqrt(list_dot_product(qv.v, qv.v)) * sqrt(list_dot_product(av.v, av.v))), 6) AS sim
         |  FROM cand JOIN e qv ON qv.vec_id = cand.query_id
         |            JOIN e av ON av.vec_id = cand.c_id),
         |r AS (SELECT *, CAST(row_number() OVER
         |  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank FROM s)
         |SELECT query_id, neighbor_id, sim, rank FROM r WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    "q_events_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        | CAST(count(*) AS BIGINT) AS n_events, round(avg(value), 6) AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_events_sessionize" ->
      """WITH x AS (SELECT user_id, event_id,
        |  CAST(epoch_us(ts) AS DOUBLE) / 1000000.0 AS tsec FROM events),
        |y AS (SELECT user_id, event_id, tsec,
        |  CASE WHEN lag(tsec) OVER w IS NULL OR tsec - lag(tsec) OVER w > 1800 THEN 1 ELSE 0 END AS brk
        |  FROM x WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
        |z AS (SELECT user_id, tsec, CAST(sum(brk) OVER
        |  (PARTITION BY user_id ORDER BY tsec, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM y)
        |SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
        | round(min(tsec), 6) AS start_sec,
        | round(max(tsec) - min(tsec), 6) AS duration_sec
        |FROM z GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    // the streaming twins verify against the same math as the batch
    // forms; the tumbling one is the identical SQL, the sessionize one
    // drops session_id (the streaming emit carries no counter) and
    // orders by session start instead
    "q_events_window_stream" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        | CAST(count(*) AS BIGINT) AS n_events, round(avg(value), 6) AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_events_sessionize_stream" ->
      """WITH x AS (SELECT user_id, event_id,
        |  CAST(epoch_us(ts) AS DOUBLE) / 1000000.0 AS tsec FROM events),
        |y AS (SELECT user_id, event_id, tsec,
        |  CASE WHEN lag(tsec) OVER w IS NULL OR tsec - lag(tsec) OVER w > 1800 THEN 1 ELSE 0 END AS brk
        |  FROM x WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
        |z AS (SELECT user_id, tsec, CAST(sum(brk) OVER
        |  (PARTITION BY user_id ORDER BY tsec, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM y)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        | round(min(tsec), 6) AS start_sec,
        | round(max(tsec) - min(tsec), 6) AS duration_sec
        |FROM z GROUP BY user_id, session_id
        |ORDER BY user_id, start_sec""".stripMargin,

    "q_dedup_stream_twin" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
        |FROM (SELECT *, row_number() OVER
        |  (PARTITION BY user_id, event_type ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    // the STREAMING dedup engine run (event-time-ordered replay) keeps
    // exactly the batch twin's survivors — same SQL
    "q_dedup_stream_run" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
        |FROM (SELECT *, row_number() OVER
        |  (PARTITION BY user_id, event_type ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    // DuckDB has a native ASOF JOIN — the oracle uses it directly, so the
    // union-trick window plan is checked against an independent
    // implementation of the same semantics. Tolerance nulls the match
    // columns (NULL gap comparisons propagate NULL, matching the Spark
    // keep-predicate).
    "q_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |  CAST(epoch_us(ts) AS DOUBLE) / 1000000.0 AS tsec FROM events),
        |c AS (SELECT user_id, tsec AS ctsec, max(event_id) AS click_id
        |      FROM e WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (SELECT event_id, user_id, tsec FROM e WHERE event_type = 'purchase'),
        |m AS (SELECT p.event_id, p.user_id, p.tsec, c.ctsec, c.click_id
        |      FROM p ASOF LEFT JOIN c
        |        ON p.user_id = c.user_id AND p.tsec >= c.ctsec)
        |SELECT event_id, user_id, round(tsec, 6) AS tsec,
        |  CASE WHEN tsec - ctsec <= 3600 THEN round(ctsec, 6) END AS click_tsec,
        |  CASE WHEN tsec - ctsec <= 3600 THEN click_id END AS click_id
        |FROM m ORDER BY event_id""".stripMargin,

    "q_asof_forward" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |  CAST(epoch_us(ts) AS DOUBLE) / 1000000.0 AS tsec FROM events),
        |er AS (SELECT user_id, tsec AS etsec, max(event_id) AS err_id
        |       FROM e WHERE event_type = 'error' GROUP BY 1, 2),
        |p AS (SELECT event_id, user_id, tsec FROM e WHERE event_type = 'purchase'),
        |m AS (SELECT p.event_id, p.user_id, p.tsec, er.etsec, er.err_id
        |      FROM p ASOF LEFT JOIN er
        |        ON p.user_id = er.user_id AND p.tsec <= er.etsec)
        |SELECT event_id, user_id, round(tsec, 6) AS tsec,
        |  CASE WHEN etsec - tsec <= 1800 THEN round(etsec, 6) END AS err_tsec,
        |  CASE WHEN etsec - tsec <= 1800 THEN err_id END AS err_id
        |FROM m ORDER BY event_id""".stripMargin,

    // plain inequality join is fine at oracle scale; the Spark side must
    // produce the identical pair set through the grid decomposition
    "q_interval_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |  CAST(epoch_us(ts) AS DOUBLE) / 1000000.0 AS tsec FROM events),
        |i AS (SELECT event_id AS incident_id, user_id, tsec AS w_start,
        |      tsec + 600 AS w_end FROM e WHERE event_type = 'error'),
        |p AS (SELECT event_id, user_id, tsec AS ptsec
        |      FROM e WHERE event_type = 'purchase')
        |SELECT i.incident_id, p.event_id, round(p.ptsec, 6) AS ptsec
        |FROM i JOIN p ON i.user_id = p.user_id
        |  AND p.ptsec BETWEEN i.w_start AND i.w_end
        |ORDER BY 1, 2""".stripMargin,

    "q_sample_cap_group" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |    ORDER BY md5('graft:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 10 ORDER BY doc_id""".stripMargin,

    // integer epoch-us arithmetic on both sides: window membership never
    // rides on double rounding at an exact half-hour boundary
    "q_events_hopping" ->
      """WITH x AS (SELECT event_type, value,
        |  (epoch_us(ts) // 1800000000 - i.i) * 1800 AS ws
        |  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS i) i)
        |SELECT ws AS window_start_sec, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(avg(value), 6) AS avg_value
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the streaming-engine hopping run must reproduce the batch SQL
    // bit-for-bit (complete mode evicts nothing)
    "q_events_hopping_stream" ->
      """WITH x AS (SELECT event_type, value,
        |  (epoch_us(ts) // 1800000000 - i.i) * 1800 AS ws
        |  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS i) i)
        |SELECT ws AS window_start_sec, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(avg(value), 6) AS avg_value
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // GROUPING bit order (first listed column = MSB) matches Spark's
    // grouping_id — verified, not assumed
    "q_rollup_agg" ->
      """SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS grp_id,
        |  coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(l_quantity), 6) AS sum_qty,
        |  round(sum(l_extendedprice), 6) AS sum_price
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY grp_id, l_returnflag, l_linestatus""".stripMargin,

    "q_cube_agg" ->
      """SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS grp_id,
        |  coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(l_quantity), 6) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY grp_id, l_returnflag, l_linestatus""".stripMargin,

    // same IEEE shape as Discretize.equalWidth: w = (mx-mn)/8 once, then
    // floor((x-mn)/w) clamped — identical doubles, identical bins
    "q_discretize_width" ->
      """WITH s AS (SELECT min(l_extendedprice) AS emn, max(l_extendedprice) AS emx,
        |                  min(l_quantity) AS qmn, max(l_quantity) AS qmx
        |           FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  CAST(least(floor((l_extendedprice - emn) / ((emx - emn) / 8.0)), 7) AS BIGINT)
        |    AS l_extendedprice_bin,
        |  CAST(least(floor((l_quantity - qmn) / ((qmx - qmn) / 8.0)), 7) AS BIGINT)
        |    AS l_quantity_bin
        |FROM lineitem, s ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // quantile_cont shares ExactPercentile's linear interpolation (the
    // q_outlier_iqr_cap precedent); right-closed intervals like qcut
    "q_discretize_quantile" ->
      """WITH q AS (SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
        |                  quantile_cont(l_extendedprice, 0.50) AS q2,
        |                  quantile_cont(l_extendedprice, 0.75) AS q3
        |           FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  CAST(l_extendedprice > q1 AS BIGINT) + CAST(l_extendedprice > q2 AS BIGINT)
        |    + CAST(l_extendedprice > q3 AS BIGINT) AS l_extendedprice_bin
        |FROM lineitem, q ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_tfidf_topk" ->
      """WITH w AS (SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |t AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM w GROUP BY 1, 2),
        |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM t GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |s AS (SELECT t.doc_id, t.term, t.tf, d.df,
        |        CAST(t.tf AS DOUBLE) * ln(n.n / CAST(d.df AS DOUBLE)) AS tfidf
        |      FROM t JOIN d USING (term) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk FROM s)
        |SELECT doc_id, CAST(rk AS BIGINT) AS rk, term, tf, df,
        |  round(tfidf, 6) AS tfidf
        |FROM r WHERE rk <= 5 ORDER BY doc_id, rk""".stripMargin,

    // same expression shape as Keywords.bm25 (k1=1.2, b=0.75, Lucene
    // idf); dl/avgdl are exact-integer sums so the only cross-engine
    // drift channel is the per-doc term sum, absorbed by round(6)
    "q_bm25" ->
      """WITH w AS (SELECT doc_id, list_filter(
        |    regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |l AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl FROM w),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |ad AS (SELECT avg(dl) AS avgdl FROM l),
        |t AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        |      FROM (SELECT doc_id, unnest(ws) AS term FROM w)
        |      WHERE term IN ('join', 'merge', 'vector') GROUP BY 1, 2),
        |d AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM t GROUP BY 1),
        |s AS (SELECT t.doc_id,
        |        ln(1.0 + (n.n - d.df + 0.5) / (d.df + 0.5)) * t.tf * (1.2 + 1) /
        |          (t.tf + 1.2 * ((1 - 0.75) + 0.75 * l2.dl / ad.avgdl)) AS s
        |      FROM t JOIN d USING (term) JOIN l l2 USING (doc_id)
        |        CROSS JOIN n CROSS JOIN ad)
        |SELECT l.doc_id, CAST(l.dl AS BIGINT) AS dl,
        |  round(coalesce(sc.score, 0.0), 6) AS score
        |FROM l LEFT JOIN (SELECT doc_id, sum(s) AS score FROM s GROUP BY 1) sc
        |  USING (doc_id)
        |ORDER BY l.doc_id""".stripMargin,

    "q_join_agg" ->
      s"""SELECT n_name,
        |  sum($moneyRevenueSql) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_group_median" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS med_price,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS med_qty,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_events_rolling" ->
      """SELECT event_id, user_id,
        |  round(avg(value) OVER w, 6) AS roll_avg,
        |  CAST(count(*) OVER w AS BIGINT) AS n_window
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q_multimodal" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        | sha256(text) AS content_sha
        |FROM documents ORDER BY doc_id""".stripMargin,

    // DuckDB twin of Multimodal.stubDecodeFeatures: same ascii-sum-of-
    // sha256-hex math, so the "fake decode" is value-level verified.
    "q_multimodal_features" -> {
      val feats = (0 until 8).map { i =>
        val s = (1 to 8).map(j => s"ascii(substr(h, ${i * 8 + j}, 1))")
          .mkString(" + ")
        s"round((($s) % 1000) / 1000.0, 6) AS feature_$i"
      }.mkString(",\n ")
      s"""WITH t AS (SELECT doc_id, sha256(text) AS h FROM documents)
         |SELECT doc_id,
         | $feats
         |FROM t ORDER BY doc_id""".stripMargin
    },

    // DuckDB twin of synthBmp→decodeBmpMeta: the decoded header fields
    // must equal the values the synthesizer embedded, recomputed from
    // the same doc_id arithmetic (width=id%21+1, height=id%13+1, rows
    // padded to 4 bytes, 54-byte header)
    "q_multimodal_decode" ->
      """SELECT doc_id,
        | doc_id % 7 <> 0 AS is_bmp,
        | CASE WHEN doc_id % 7 <> 0 THEN doc_id % 21 + 1 END AS width,
        | CASE WHEN doc_id % 7 <> 0 THEN doc_id % 13 + 1 END AS height,
        | CASE WHEN doc_id % 7 <> 0 THEN 24 END AS bpp,
        | CASE WHEN doc_id % 7 <> 0 THEN
        |   (((doc_id % 21 + 1) * 3 + 3) // 4) * 4 * (doc_id % 13 + 1) + 54
        | END AS file_size,
        | CASE WHEN doc_id % 7 <> 0 THEN 54 END AS data_offset,
        | CASE WHEN doc_id % 7 <> 0 THEN 0 END AS compression,
        | CASE WHEN doc_id % 7 <> 0 THEN 'image/bmp'
        |      ELSE 'application/octet-stream' END AS mime
        |FROM documents ORDER BY doc_id""".stripMargin,

    // DuckDB twin of synthWav→decodeWavMeta (16-bit PCM: block = 2ch,
    // byte_rate = rate*block, duration from integer header math)
    "q_multimodal_wav" ->
      """SELECT doc_id,
        | doc_id % 5 <> 0 AS is_wav,
        | CASE WHEN doc_id % 5 <> 0 THEN doc_id % 2 + 1 END AS channels,
        | CASE WHEN doc_id % 5 <> 0 THEN
        |   CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |        ELSE 44100 END
        | END AS sample_rate,
        | CASE WHEN doc_id % 5 <> 0 THEN 16 END AS bits,
        | CASE WHEN doc_id % 5 <> 0 THEN
        |   (doc_id % 200 + 1) * (doc_id % 2 + 1) * 2 END AS data_bytes,
        | CASE WHEN doc_id % 5 <> 0 THEN doc_id % 200 + 1 END AS n_samples,
        | CASE WHEN doc_id % 5 <> 0 THEN
        |   CAST(floor((doc_id % 200 + 1) * 1000.0 /
        |     CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |          ELSE 44100 END) AS BIGINT)
        | END AS duration_ms,
        | CASE WHEN doc_id % 5 <> 0 THEN 'audio/wav'
        |      ELSE 'application/octet-stream' END AS mime
        |FROM documents ORDER BY doc_id""".stripMargin,

    // DuckDB twin of synthPng→decodePngMeta: decoded IHDR fields equal
    // the synthesizer's id arithmetic (the CRC is not re-derived — the
    // decoder reads fixed offsets, and a CRC slip cannot move them)
    "q_multimodal_png" ->
      """SELECT doc_id,
        | doc_id % 6 <> 0 AS is_png,
        | CASE WHEN doc_id % 6 <> 0 THEN doc_id % 21 + 1 END AS width,
        | CASE WHEN doc_id % 6 <> 0 THEN doc_id % 13 + 1 END AS height,
        | CASE WHEN doc_id % 6 <> 0 THEN 8 END AS bit_depth,
        | CASE WHEN doc_id % 6 <> 0 THEN
        |   CASE doc_id % 3 WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 6 END
        | END AS color_type,
        | CASE WHEN doc_id % 6 <> 0 THEN 0 END AS interlace,
        | CASE WHEN doc_id % 6 <> 0 THEN 'image/png'
        |      ELSE 'application/octet-stream' END AS mime
        |FROM documents ORDER BY doc_id""".stripMargin,

    // DuckDB twin of synthJpeg→decodeJpegMeta: the marker scan's SOF
    // fields equal the synthesizer's id arithmetic regardless of the
    // id-dependent COM length the scanner had to skip
    "q_multimodal_jpeg" ->
      """SELECT doc_id,
        | doc_id % 9 <> 0 AS is_jpeg,
        | CASE WHEN doc_id % 9 <> 0 THEN doc_id % 333 + 1 END AS width,
        | CASE WHEN doc_id % 9 <> 0 THEN doc_id % 501 + 1 END AS height,
        | CASE WHEN doc_id % 9 <> 0 THEN 8 END AS precision,
        | CASE WHEN doc_id % 9 <> 0 THEN 3 END AS ncomp,
        | CASE WHEN doc_id % 9 <> 0 THEN FALSE END AS progressive,
        | CASE WHEN doc_id % 9 <> 0 THEN 'image/jpeg'
        |      ELSE 'application/octet-stream' END AS mime
        |FROM documents ORDER BY doc_id""".stripMargin,

    // DuckDB twin of synthGif→decodeGifMeta (LE 16-bit dims, packed
    // byte 0xF0 | id%8 => GCT present with 2^(id%8+1) entries)
    "q_multimodal_gif" ->
      """SELECT doc_id,
        | doc_id % 4 <> 0 AS is_gif,
        | CASE WHEN doc_id % 4 <> 0 THEN doc_id % 321 + 1 END AS width,
        | CASE WHEN doc_id % 4 <> 0 THEN doc_id % 214 + 1 END AS height,
        | CASE WHEN doc_id % 4 <> 0 THEN TRUE END AS has_gct,
        | CASE WHEN doc_id % 4 <> 0 THEN (2 << (doc_id % 8)) END AS gct_size,
        | CASE WHEN doc_id % 4 <> 0 THEN doc_id % 2 END AS bg_index,
        | CASE WHEN doc_id % 4 <> 0 THEN 'image/gif'
        |      ELSE 'application/octet-stream' END AS mime
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the CSV round-trip must reproduce the parquet original exactly
    "q_csv_roundtrip" ->
      """SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
        |ORDER BY c_custkey""".stripMargin,

    // the ORC round-trip must reproduce the parquet original exactly
    "q_orc_roundtrip" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // the Avro round-trip must reproduce the parquet original exactly
    // (timestamp-micros logical type: integer-exact micros)
    "q_avro_roundtrip" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,

    // the partitioned write+pruned read must reproduce the source slice
    // exactly (lang rides in directory names, read back as string)
    "q_partitioned_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE lang = 'en' ORDER BY doc_id""".stripMargin,

    // roundtrip fidelity: the JSONL write+read must reproduce the source
    "q_jsonl_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,

    // char-space recompute of the byte-frame sampler — equal because the
    // payload is ASCII (md5 hashes UTF-8 bytes in both engines)
    "q_multimodal_frames" ->
      """WITH m AS (SELECT doc_id, text,
        |  greatest(CAST(ceil(length(text) / 64.0) AS INTEGER) - 1, 0) AS maxf
        |  FROM documents),
        |f AS (SELECT doc_id, text, unnest(range(0, maxf + 1)) AS i FROM m)
        |SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
        |  md5(substring(text, CAST(i * 64 + 1 AS INTEGER), 64)) AS frame_md5
        |FROM f WHERE i % 4 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin,

    "q_dedup_exact" ->
      """SELECT DISTINCT * FROM
        | (SELECT * FROM documents UNION ALL SELECT * FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q_missing_drop_rows" ->
      s"""WITH t AS ($dirtyCustomerSql)
         |SELECT * FROM t
         |WHERE c_acctbal IS NOT NULL AND c_mktsegment IS NOT NULL
         |ORDER BY c_custkey""".stripMargin,

    "q_missing_fill_mean" ->
      s"""WITH t AS ($dirtyCustomerSql)
         |SELECT c_custkey,
         | round(COALESCE(c_acctbal, (SELECT avg(c_acctbal) FROM t)), 6) AS c_acctbal,
         | COALESCE(c_mktsegment, $modeSegSql) AS c_mktsegment
         |FROM t ORDER BY c_custkey""".stripMargin,

    "q_missing_fill_median" ->
      s"""WITH t AS ($dirtyCustomerSql)
         |SELECT c_custkey,
         | round(COALESCE(c_acctbal, (SELECT quantile_cont(c_acctbal, 0.5) FROM t)), 6) AS c_acctbal,
         | COALESCE(c_mktsegment, $modeSegSql) AS c_mktsegment
         |FROM t ORDER BY c_custkey""".stripMargin,

    "q_outlier_iqr_cap" ->
      """WITH b AS (SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
        |                  quantile_cont(l_extendedprice, 0.75) AS q3
        |           FROM lineitem)
        |SELECT l_orderkey, l_linenumber, l_partkey,
        | round(CASE WHEN l_extendedprice < q1 - 1.5*(q3-q1) THEN q1 - 1.5*(q3-q1)
        |            WHEN l_extendedprice > q3 + 1.5*(q3-q1) THEN q3 + 1.5*(q3-q1)
        |            ELSE l_extendedprice END, 6) AS l_extendedprice
        |FROM lineitem, b
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_extendedprice""".stripMargin,

    "q_outlier_zscore_remove" ->
      """WITH s AS (SELECT avg(l_quantity) AS mq, stddev_samp(l_quantity) AS sq,
        |                  avg(l_extendedprice) AS me, stddev_samp(l_extendedprice) AS se
        |           FROM lineitem)
        |SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem, s
        |WHERE NOT ((l_quantity IS NOT NULL AND (l_quantity < mq - 1.5*sq OR l_quantity > mq + 1.5*sq))
        |        OR (l_extendedprice IS NOT NULL AND (l_extendedprice < me - 1.5*se OR l_extendedprice > me + 1.5*se)))
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin,

    "q_typeconvert_auto" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(CAST(l_quantity AS VARCHAR) AS DOUBLE) AS l_quantity,
        | l_discount > 0.05 AS disc_flag,
        | CAST(strftime(l_shipdate, '%Y-%m-%d') AS TIMESTAMP) AS ship_str
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,

    "q_datetime_parse" ->
      """WITH t AS (SELECT o_orderkey,
        |  CAST(strftime(o_orderdate, '%Y-%m-%d') AS TIMESTAMP) AS date_str
        |  FROM orders)
        |SELECT o_orderkey, date_str,
        | CAST(year(date_str) AS BIGINT) AS date_str_year,
        | CAST(month(date_str) AS BIGINT) AS date_str_month,
        | CAST(day(date_str) AS BIGINT) AS date_str_day,
        | CAST(hour(date_str) AS BIGINT) AS date_str_hour,
        | CAST(dayofweek(date_str) + 1 AS BIGINT) AS date_str_dayofweek
        |FROM t ORDER BY o_orderkey""".stripMargin,

    "q_encode_label" ->
      """SELECT n_nationkey,
        | CAST(DENSE_RANK() OVER (ORDER BY n_name) - 1 AS BIGINT) AS n_name
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "q_encode_onehot" ->
      """SELECT c_custkey,
        | CAST(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS BIGINT) AS c_mktsegment_AUTOMOBILE,
        | CAST(CASE WHEN c_mktsegment = 'BUILDING'   THEN 1 ELSE 0 END AS BIGINT) AS c_mktsegment_BUILDING,
        | CAST(CASE WHEN c_mktsegment = 'FURNITURE'  THEN 1 ELSE 0 END AS BIGINT) AS c_mktsegment_FURNITURE,
        | CAST(CASE WHEN c_mktsegment = 'HOUSEHOLD'  THEN 1 ELSE 0 END AS BIGINT) AS c_mktsegment_HOUSEHOLD,
        | CAST(CASE WHEN c_mktsegment = 'MACHINERY'  THEN 1 ELSE 0 END AS BIGINT) AS c_mktsegment_MACHINERY,
        | CAST(CASE WHEN c_mktsegment IS NULL        THEN 1 ELSE 0 END AS BIGINT) AS c_mktsegment_nan
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // the skip path: text's cardinality is over the onehot margin, so it
    // must pass through byte-identical while lang expands; langs are the
    // generator's fixed set (same static-enumeration pattern as onehot)
    "q_encode_onehot_skip" ->
      """SELECT doc_id,
        | CAST(CASE WHEN lang = 'de' THEN 1 ELSE 0 END AS BIGINT) AS lang_de,
        | CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS lang_en,
        | CAST(CASE WHEN lang = 'es' THEN 1 ELSE 0 END AS BIGINT) AS lang_es,
        | CAST(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END AS BIGINT) AS lang_fr,
        | CAST(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END AS BIGINT) AS lang_zh,
        | CAST(CASE WHEN lang IS NULL THEN 1 ELSE 0 END AS BIGINT) AS lang_nan,
        | text
        |FROM documents ORDER BY doc_id""".stripMargin,

    // rankedDistinct must equal dense_rank−1 over the sorted uniques —
    // the big path's defining contract
    "q_encode_label_big" ->
      """SELECT c_custkey,
        | CAST(dense_rank() OVER (ORDER BY c_name) - 1 AS BIGINT) AS c_name
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_encode_freq" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_returnflag,
        | CAST(count(*) OVER (PARTITION BY l_returnflag) AS DOUBLE)
        |   / count(*) OVER () AS l_returnflag_freq_encoded
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_returnflag""".stripMargin,

    "q_textclean" ->
      s"""WITH t AS (SELECT doc_id,
         |  CASE WHEN doc_id % 4 = 0 THEN '  Hello, WORLD!!  <b>Tag</b> 123 '
         |       ELSE text END AS text FROM documents)
         |SELECT doc_id,
         | NULLIF(trim(regexp_replace(translate(regexp_replace(regexp_replace(
         |   lower(regexp_replace(text, '^nan$$', '')),
         |   '<[^>]+>', '', 'g'), '\\d+', '', 'g'),
         |   '$punctSql', ''), '\\s+', ' ', 'g')), '') AS text
         |FROM t ORDER BY doc_id""".stripMargin,

    "q_textclean_special" ->
      s"""WITH t AS (SELECT doc_id,
         |  CASE WHEN doc_id % 5 = 1 THEN ' mixed-CASE text & sym*bols  here '
         |       ELSE text END AS text FROM documents)
         |SELECT doc_id,
         | NULLIF(regexp_replace(trim(regexp_replace(regexp_replace(
         |   upper(regexp_replace(text, '^nan$$', '')),
         |   '[^a-zA-Z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')),
         |   'HERE', 'THERE', 'g'), '') AS text
         |FROM t ORDER BY doc_id""".stripMargin,

    "q_typofix_common" -> {
      val inner = typoChainSql("text")
      s"""WITH t AS (SELECT doc_id,
         |  CASE WHEN doc_id % 3 = 0 THEN 'Teh managment adn thier deparment'
         |       WHEN doc_id % 3 = 1 THEN 'definately occured untill now'
         |       ELSE text END AS text FROM documents)
         |SELECT doc_id, $inner AS text
         |FROM t ORDER BY doc_id""".stripMargin
    },

    "q_normalize_minmax" ->
      """WITH s AS (SELECT min(l_quantity) AS qlo, max(l_quantity) AS qhi,
        |                  min(l_discount) AS dlo, max(l_discount) AS dhi
        |           FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        | round((l_quantity - qlo) / (qhi - qlo) * 1.0 + 0.0, 6) AS l_quantity,
        | round((l_discount - dlo) / (dhi - dlo) * 1.0 + 0.0, 6) AS l_discount
        |FROM lineitem, s
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount""".stripMargin,

    "q_normalize_standard" ->
      """WITH s AS (SELECT avg(c_acctbal) AS m, stddev_pop(c_acctbal) AS sd
        |           FROM customer)
        |SELECT c_custkey, round((c_acctbal - m) / sd, 6) AS c_acctbal
        |FROM customer, s ORDER BY c_custkey""".stripMargin,

    "q_normalize_l2" ->
      """SELECT l_orderkey, l_linenumber,
        | round(l_quantity / sqrt(l_quantity*l_quantity + l_extendedprice*l_extendedprice), 6) AS l_quantity,
        | round(l_extendedprice / sqrt(l_quantity*l_quantity + l_extendedprice*l_extendedprice), 6) AS l_extendedprice
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin,

    "q_missing_fill_mode" ->
      s"""WITH t AS ($dirtyCustomerSql)
         |SELECT c_custkey,
         | COALESCE(c_acctbal, (SELECT c_acctbal FROM t WHERE c_acctbal IS NOT NULL
         |   GROUP BY c_acctbal ORDER BY count(*) DESC, c_acctbal LIMIT 1)) AS c_acctbal,
         | COALESCE(c_mktsegment, $modeSegSql) AS c_mktsegment
         |FROM t ORDER BY c_custkey""".stripMargin,

    "q_missing_drop_columns" ->
      """SELECT c_custkey, c_mktsegment FROM customer ORDER BY c_custkey""",

    // Full recompute of the distributed spell-check correction map
    // (the shared spellLevMapCtes chain): word frequencies -> vocab
    // (n>1) / rare (n=1, len>2) split -> all-pairs |Δlen|<=2 candidate
    // join (the oracle needs no blocking at this scale) -> levenshtein
    // similarity gate -> best-match pick.
    "q_spell_corrections" ->
      s"""WITH $spellLevMapCtes
         |SELECT word, fix FROM corr ORDER BY word""".stripMargin,

    // The same map rebuild, then the APPLY, both external: every cell is
    // split into its \W+ runs (dl) and \w+ runs (wl); when the text
    // starts with a non-word char the word list carries a leading empty
    // slot that must be dropped, after which interleaving dl[i] || wl[i]
    // reconstructs the text exactly (verified over leading / trailing /
    // empty / null-delimiter edge cases in DuckDB). Replacing wl[i]
    // through the map then reproduces applyWordMap's word-boundary,
    // case-insensitive, delimiter-preserving rewrite; the final LEFT
    // JOIN keeps null-text rows (whose split lists are null and generate
    // no pieces) as nulls, matching the Spark side.
    "q_typofix_spell_lev" ->
      s"""WITH $spellLevMapCtes,
         |parts AS (
         |  SELECT doc_id,
         |    string_split_regex(text, '\\w+') AS dl,
         |    CASE WHEN string_split_regex(text, '\\W+')[1] = ''
         |         THEN string_split_regex(text, '\\W+')[2:]
         |         ELSE string_split_regex(text, '\\W+') END AS wl
         |  FROM u),
         |idx AS (
         |  SELECT doc_id, dl, wl,
         |    unnest(generate_series(1, greatest(len(dl), len(wl)))) AS i
         |  FROM parts),
         |pieces AS (
         |  SELECT x.doc_id, x.i,
         |    coalesce(x.dl[x.i], '') ||
         |      coalesce(c.fix, coalesce(x.wl[x.i], '')) AS piece
         |  FROM idx x LEFT JOIN corr c ON lower(coalesce(x.wl[x.i], '')) = c.word),
         |reb AS (SELECT doc_id, string_agg(piece, '' ORDER BY i) AS text
         |  FROM pieces GROUP BY doc_id)
         |SELECT u.doc_id, reb.text FROM u LEFT JOIN reb USING (doc_id)
         |ORDER BY u.doc_id""".stripMargin,

    // total_missing_after is a prediction, not a recompute: fill_mean on
    // this frame always has a mean (acctbal) and a mode (mktsegment), so
    // every null is filled.
    "q_missing_report" ->
      s"""WITH t AS ($dirtyCustomerSql)
         |SELECT 'fill_mean' AS strategy_used,
         | count(*) AS rows_before, count(*) AS rows_after,
         | CAST(3 AS BIGINT) AS columns_before, CAST(3 AS BIGINT) AS columns_after,
         | CAST(count(*) FILTER (WHERE c_acctbal IS NULL)
         |    + count(*) FILTER (WHERE c_mktsegment IS NULL) AS BIGINT) AS total_missing_before,
         | CAST(0 AS BIGINT) AS total_missing_after,
         | CAST(count(*) FILTER (WHERE c_acctbal IS NULL) AS BIGINT) AS missing_c_acctbal,
         | CAST(count(*) FILTER (WHERE c_mktsegment IS NULL) AS BIGINT) AS missing_c_mktsegment
         |FROM t""".stripMargin,

    "q_missing_ffill" ->
      s"""WITH t AS ($dirtyCustomerSql)
         |SELECT c_custkey,
         | last_value(c_acctbal IGNORE NULLS) OVER w AS c_acctbal,
         | last_value(c_mktsegment IGNORE NULLS) OVER w AS c_mktsegment
         |FROM t
         |WINDOW w AS (ORDER BY c_custkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |ORDER BY c_custkey""".stripMargin,

    "q_missing_bfill" ->
      s"""WITH t AS ($dirtyCustomerSql)
         |SELECT c_custkey,
         | first_value(c_acctbal IGNORE NULLS) OVER w AS c_acctbal,
         | first_value(c_mktsegment IGNORE NULLS) OVER w AS c_mktsegment
         |FROM t
         |WINDOW w AS (ORDER BY c_custkey ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         |ORDER BY c_custkey""".stripMargin,

    "q_missing_ffill_scale" ->
      s"""WITH t AS ($dirtyCustomerSql)
         |SELECT c_custkey,
         | last_value(c_acctbal IGNORE NULLS) OVER w AS c_acctbal,
         | last_value(c_mktsegment IGNORE NULLS) OVER w AS c_mktsegment
         |FROM t
         |WINDOW w AS (ORDER BY c_custkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |ORDER BY c_custkey""".stripMargin,

    "q_missing_bfill_scale" ->
      s"""WITH t AS ($dirtyCustomerSql)
         |SELECT c_custkey,
         | first_value(c_acctbal IGNORE NULLS) OVER w AS c_acctbal,
         | first_value(c_mktsegment IGNORE NULLS) OVER w AS c_mktsegment
         |FROM t
         |WINDOW w AS (ORDER BY c_custkey ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         |ORDER BY c_custkey""".stripMargin,

    "q_outlier_modz_cap" ->
      """WITH m AS (SELECT quantile_cont(l_extendedprice, 0.5) AS med FROM lineitem),
        |     d AS (SELECT quantile_cont(abs(l_extendedprice - med), 0.5) AS mad FROM lineitem, m)
        |SELECT l_orderkey, l_linenumber, l_partkey,
        | round(CASE WHEN l_extendedprice < med - 1.0*mad/0.6745 THEN med - 1.0*mad/0.6745
        |            WHEN l_extendedprice > med + 1.0*mad/0.6745 THEN med + 1.0*mad/0.6745
        |            ELSE l_extendedprice END, 6) AS l_extendedprice
        |FROM lineitem, m, d
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_extendedprice""".stripMargin,

    "q_outlier_iforest_remove" ->
      """WITH mq AS (SELECT quantile_cont(l_quantity, 0.5) AS m FROM lineitem),
        |     me AS (SELECT quantile_cont(l_extendedprice, 0.5) AS m FROM lineitem),
        |     dq AS (SELECT quantile_cont(abs(l_quantity - mq.m), 0.9) AS d FROM lineitem, mq),
        |     de AS (SELECT quantile_cont(abs(l_extendedprice - me.m), 0.9) AS d FROM lineitem, me)
        |SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem, mq, me, dq, de
        |WHERE NOT ((l_quantity IS NOT NULL AND (l_quantity < mq.m - dq.d OR l_quantity > mq.m + dq.d))
        |        OR (l_extendedprice IS NOT NULL AND (l_extendedprice < me.m - de.d OR l_extendedprice > me.m + de.d)))
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin,

    "q_outlier_log_transform" ->
      """SELECT l_orderkey, l_linenumber,
        | round(CASE WHEN l_quantity > 0 THEN ln(1.0 + l_quantity) ELSE l_quantity END, 6) AS l_quantity
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,

    "q_normalize_robust" ->
      """WITH s AS (SELECT quantile_cont(c_acctbal, 0.5) AS med,
        |                  quantile_cont(c_acctbal, 0.75) - quantile_cont(c_acctbal, 0.25) AS iqr
        |           FROM customer)
        |SELECT c_custkey, round((c_acctbal - med) / iqr, 6) AS c_acctbal
        |FROM customer, s ORDER BY c_custkey""".stripMargin,

    "q_typofix_fuzzy" ->
      """SELECT c_custkey,
        | CASE WHEN c_custkey % 17 = 0 THEN 'AUTOMOBILE'
        |      WHEN c_custkey % 23 = 0 THEN 'BUILDING'
        |      ELSE c_mktsegment END AS c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_typofix_fuzzy_scale" ->
      """SELECT c_custkey,
        | CASE WHEN c_custkey % 17 = 0 THEN 'AUTOMOBILE'
        |      WHEN c_custkey % 23 = 0 THEN 'BUILDING'
        |      ELSE c_mktsegment END AS c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_pipeline_e2e" ->
      s"""WITH t AS ($dirtyCustomerSql),
         | med AS (SELECT quantile_cont(c_acctbal, 0.5) AS m FROM t),
         | f AS (SELECT c_custkey, COALESCE(c_acctbal, m) AS b,
         |         COALESCE(c_mktsegment, '') AS c_mktsegment FROM t, med),
         | mm AS (SELECT min(b) AS lo, max(b) AS hi FROM f)
         |SELECT c_custkey, round((b - lo) / (hi - lo) * 1.0 + 0.0, 6) AS c_acctbal,
         | c_mktsegment
         |FROM f, mm ORDER BY c_custkey""".stripMargin,

    "q_profile" -> {
      val sentinels = Profile.Sentinels.map(s => s"'$s'").mkString(", ")
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
    },

    // dtype literals below assert the profiler's reported Spark types for
    // the parquet physical types (int64->bigint, int32->int, ...); sample
    // values are compared natively (value_num as DOUBLE) so no float
    // string-format drift
    "q_profile_sample" ->
      """WITH i AS (SELECT *, row_number() OVER (ORDER BY c_custkey) AS rid
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
        |) ORDER BY kind, row_idx, column_name""".stripMargin,

    // Efraimidis–Spirakis weighted draw: u from the same md5 52-bit
    // prefix fold the simhash oracle uses (13 hex chars, digit fold),
    // key = round(ln(u)/w, 6), top-200 by (key desc, id). 2^52 =
    // 4503599627370496; +0.5 keeps u strictly inside (0,1).
    "q_sample_weighted" ->
      """WITH s AS (SELECT doc_id, lang, n_chars,
        |  round(ln((list_reduce(list_prepend(0::BIGINT,
        |      list_transform(string_split(substring(md5('graftw:' || CAST(doc_id AS VARCHAR)), 1, 13), ''),
        |        c -> (strpos('0123456789abcdef', c) - 1)::BIGINT)),
        |      (a, v) -> a * 16 + v) + 0.5) / 4503599627370496.0)
        |    / CAST(n_chars AS DOUBLE), 6) AS sample_key
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND CAST(n_chars AS DOUBLE) > 0.0),
        |t AS (SELECT * FROM s ORDER BY sample_key DESC, doc_id LIMIT 200)
        |SELECT doc_id, lang, n_chars, sample_key FROM t ORDER BY doc_id""".stripMargin,

    // PMI over adjacent-word bigrams: exact integer counts, the two
    // corpus totals exact-integer-valued doubles, one ln rounded to 6 dp
    // with (w1, w2) tie-break — operand order mirrors the Spark column
    // expression term by term.
    "q_collocations" ->
      """WITH d AS (SELECT list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |uni AS (SELECT w, count(*) AS cu FROM (SELECT unnest(ws) AS w FROM d) GROUP BY w),
        |nu AS (SELECT CAST(sum(cu) AS DOUBLE) AS n FROM uni),
        |nb AS (SELECT CAST(sum(CASE WHEN len(ws) >= 1 THEN len(ws) - 1 ELSE 0 END) AS DOUBLE) AS n FROM d),
        |bi AS (SELECT ws[i] AS w1, ws[i + 1] AS w2
        |  FROM (SELECT ws, unnest(generate_series(1, CAST(len(ws) - 1 AS BIGINT))) AS i FROM d)),
        |bc AS (SELECT w1, w2, count(*) AS np FROM bi GROUP BY w1, w2 HAVING count(*) >= 2),
        |s AS (SELECT bc.w1, bc.w2, bc.np,
        |  round(ln(CAST(bc.np AS DOUBLE) * nu.n * nu.n
        |    / (nb.n * CAST(u1.cu AS DOUBLE) * CAST(u2.cu AS DOUBLE))), 6) AS pmi
        |  FROM bc JOIN uni u1 ON bc.w1 = u1.w JOIN uni u2 ON bc.w2 = u2.w
        |  CROSS JOIN nu CROSS JOIN nb)
        |SELECT w1, w2, CAST(np AS BIGINT) AS n_pair, pmi FROM s
        |ORDER BY pmi DESC, w1, w2 LIMIT 100""".stripMargin,

    // inverted index: within-doc-distinct (doc, phrase) pairs, df
    // window as the IDENTICAL double products (0.01·N / 0.05·N) the
    // Spark side computes; postings stay a sorted BIGINT list in the
    // engine and ship as to_json at the query boundary (r18's
    // green→err regression: the driver's comparator cannot hash array
    // cells; "[1,2,3]" renders byte-identically on both engines).
    "q_inverted_index" ->
      """WITH d AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |p AS (SELECT DISTINCT doc_id, term FROM
        |  (SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS term
        |   FROM (SELECT doc_id, ws, unnest(generate_series(1, CAST(len(ws) - 1 AS BIGINT))) AS i FROM d))),
        |f AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY term),
        |w AS (SELECT f.term, f.df FROM f CROSS JOIN n
        |      WHERE CAST(f.df AS DOUBLE) >= 0.01 * n.n
        |        AND CAST(f.df AS DOUBLE) <= 0.05 * n.n)
        |SELECT w.term, w.df,
        |  CAST(to_json(list_sort(list(p.doc_id))) AS VARCHAR) AS postings
        |FROM w JOIN p USING (term)
        |GROUP BY w.term, w.df ORDER BY term""".stripMargin,

    // heavy hitters: the sketch is recall-guaranteed and the recount
    // exact, so the ground truth is the plain exact count with the
    // IDENTICAL 0.033·N double threshold
    "q_heavy_hitters" ->
      """WITH w AS (SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |t AS (SELECT term, CAST(count(*) AS BIGINT) AS n_occurrences FROM w GROUP BY term),
        |n AS (SELECT CAST(sum(n_occurrences) AS DOUBLE) AS n FROM t)
        |SELECT term, n_occurrences FROM t CROSS JOIN n
        |WHERE CAST(n_occurrences AS DOUBLE) >= 0.033 * n.n
        |ORDER BY term""".stripMargin,

    // the bucketed layout must not change a single value: plain join
    // ground truth, same decimal-exact revenue as q_join_agg (money
    // aggregates are decimal-exact by policy — see moneyRevenue)
    "q_bucketed_join" ->
      s"""SELECT o_orderpriority,
        |  sum($moneyRevenueSql) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  )
}
