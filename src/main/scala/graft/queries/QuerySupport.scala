package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.TextClean

/** Helpers shared by more than one query family. A Spark-side helper
  * sits beside its DuckDB twin. */
private[queries] object QuerySupport {

  def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Oracle SQL, rendered only when [[Sql.render]] is called. */
  def sql(text: => String): Oracle = Sql(() => text)

  /** `s` as a DuckDB string literal: single-quoted, inner quotes doubled. */
  def sqlString(s: String): String = "'" + s.replace("'", "''") + "'"

  /** DuckDB word split of the string expression `expr`: `\s+`-separated
    * pieces with the empty ones (leading or trailing whitespace) dropped. */
  def wordsSql(expr: String): String =
    s"list_filter(regexp_split_to_array($expr, '\\s+'), x -> x <> '')"

  /** Scratch dir for the sink-roundtrip queries, unique per JVM: a fixed
    * `/tmp/graft_<fmt>_roundtrip_<sf>` collides when two Verify/Bench
    * invocations run the same sf concurrently — one overwrites the files
    * the other is mid-read on. The PID suffix keeps reruns within one JVM
    * idempotent (overwrite mode) while isolating concurrent processes;
    * [[graft.SparkEntry.sweepDeadScratch]] (called by Bench/Verify at
    * startup, OUTSIDE any timed region) bounds the cross-invocation
    * accumulation. */
  def roundtripPath(fmt: String, dir: String): String =
    s"/tmp/graft_${fmt}_roundtrip_${new java.io.File(dir).getName}" +
      s"_${ProcessHandle.current().pid()}"

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
  def moneyRevenue: Column =
    col("l_extendedprice").cast(DecimalType(12, 2)) *
      (lit(1).cast(DecimalType(3, 2)) -
        col("l_discount").cast(DecimalType(3, 2)))

  /** DuckDB twin of [[moneyRevenue]]. */
  val moneyRevenueSql =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * " +
      "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"

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
  def dirtyCustomer(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer").select(
      col("c_custkey"),
      when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_acctbal"))
        .as("c_acctbal"),
      when(col("c_custkey") % 5 === 0, lit(null)).otherwise(col("c_mktsegment"))
        .as("c_mktsegment"))

  val dirtyCustomerSql =
    """SELECT c_custkey,
      | CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS c_acctbal,
      | CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_mktsegment END AS c_mktsegment
      |FROM customer""".stripMargin

  val modeSegSql =
    "(SELECT c_mktsegment FROM t WHERE c_mktsegment IS NOT NULL " +
      "GROUP BY c_mktsegment ORDER BY count(*) DESC, c_mktsegment LIMIT 1)"

  /** Python string.punctuation as a DuckDB string literal. */
  val punctSql = sqlString(TextClean.Punctuation)

  /** DuckDB twin of TextAnalysis.tokens/tokenCount as SQL fragments. */
  val tokCountSql =
    "CASE WHEN len(trim(text)) = 0 THEN 0 ELSE " +
      "CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT) END"

  val normTextSql = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"

  /** Gopher repetition-signal CTEs over `documents`, the QualityFilters
    * twin: `base` (doc_id, ws, nw = words, tc = word chars, nd = distinct
    * words) and the top-bigram, top-trigram and duplicated-5-gram
    * character covers `a2`, `a3`, `a5` (doc_id, cover). */
  lazy val repetitionCtes: String =
    raw"""w AS (
      |  SELECT doc_id,
      |    ${wordsSql("lower(trim(text))")} AS ws
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
      |  GROUP BY doc_id)""".stripMargin

  /** Word 6-grams of `corpus` and `bench`, and the corpus docs that share
    * one with the benchmark: ends at `hits` (doc_id). */
  lazy val ngramHitCtes: String =
    raw"""cw AS (SELECT doc_id, ${wordsSql("lower(trim(text))")} AS ws FROM corpus),
      |bw AS (SELECT ${wordsSql("lower(trim(text))")} AS ws FROM bench),
      |cg AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] AS g
      |       FROM (SELECT doc_id, ws, unnest(generate_series(1, CAST(len(ws) - 5 AS BIGINT))) AS i FROM cw)),
      |bg AS (SELECT DISTINCT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] AS g
      |       FROM (SELECT ws, unnest(generate_series(1, CAST(len(ws) - 5 AS BIGINT))) AS i FROM bw)),
      |hits AS (SELECT DISTINCT doc_id FROM cg JOIN bg USING (g))""".stripMargin

  /** Opt-in peak-scratch bound for the minhash/embedding pair monsters
    * (SPARK_GRAFT_BUCKET_BATCHES, r19 verdict #4 in its r20
    * bucket-hash-slice form): processes the LSH bucket keyspace in N
    * sequential hash-slices inside [[graft.dedup.NearDup.minhashPairs]], bounding
    * peak candidate-shuffle scratch to ~1/N uniformly — including on
    * duplicate-saturated corpora. Default 1 (the single-pass plan) so
    * default-run numbers and correctness rows are untouched; result
    * parity is spec-pinned (BandBatchSpec), so a batched bench row
    * measures the same answer under a different scratch profile. */
  def bucketBatchesEnv: Int =
    sys.env.get("SPARK_GRAFT_BUCKET_BATCHES")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption).getOrElse(1)
}
