package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import QuerySupport._

/** OLAP aggregations: ROLLUP / CUBE, the star join-aggregate and the
  * grouped exact median. */
object OlapQueries {

  /** TPC-H Q5-flavored star join: revenue per nation for EUROPE
    * customers' 1997 orders, written as the bare declarative chain —
    * NO hand-placed broadcast hints, no pre-filtered scans. Exposed
    * (not inlined in its row) so PlanQualitySpec can assert what
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

  val all: Seq[Query] = Seq(

    // OLAP subtotal aggregations: ROLLUP (hierarchy subtotals) and CUBE
    // (all margins) compile to ONE Expand + hash aggregate — partial
    // aggregation stays map-side, one shuffle, no unions of per-level
    // scans. grouping_id disambiguates subtotal rows; keys coalesce to
    // 'ALL' so ordering never rides on engine null-sort differences.
    Query("q_rollup_agg", (s, dir) =>
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
        .orderBy("grp_id", "l_returnflag", "l_linestatus"),
      // GROUPING bit order (first listed column = MSB) matches Spark's
      // grouping_id — verified, not assumed
      sql("""SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS grp_id,
            |  coalesce(l_returnflag, 'ALL') AS l_returnflag,
            |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
            |  CAST(count(*) AS BIGINT) AS n_rows,
            |  round(sum(l_quantity), 6) AS sum_qty,
            |  round(sum(l_extendedprice), 6) AS sum_price
            |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
            |ORDER BY grp_id, l_returnflag, l_linestatus""".stripMargin)),

    Query("q_cube_agg", (s, dir) =>
      tbl(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast(LongType).as("grp_id"),
          count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 6).as("sum_qty"))
        .select(col("grp_id"),
          coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
          col("n_rows"), col("sum_qty"))
        .orderBy("grp_id", "l_returnflag", "l_linestatus"),
      sql("""SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS grp_id,
            |  coalesce(l_returnflag, 'ALL') AS l_returnflag,
            |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
            |  CAST(count(*) AS BIGINT) AS n_rows,
            |  round(sum(l_quantity), 6) AS sum_qty
            |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
            |ORDER BY grp_id, l_returnflag, l_linestatus""".stripMargin)),

    // TPC-H-style star join-aggregation, declared fully declaratively:
    // Catalyst prunes lineitem to 3 columns, pushes the region/date
    // filters into the scans, auto-broadcasts every dimension under the
    // 10 MB threshold, and reorders as it sees fit — PlanQualitySpec
    // asserts the broadcast + pushdown actually happened (the "let the
    // optimizer work" story, checked rather than assumed).
    Query("q_join_agg", (s, dir) => joinAggPlan(s, dir),
      sql(s"""SELECT n_name,
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
            |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // the exact-percentile custom aggregate in GROUPED mode: median
    // price/quantity per return flag in ONE hash aggregation (the
    // bounded typed-imperative buffer runs per group; no window, no
    // per-group job loop)
    Query("q_group_median", (s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(graft.util.Exprs.pctl(col("l_extendedprice"), 0.5), 6)
            .as("med_price"),
          round(graft.util.Exprs.pctl(col("l_quantity"), 0.5), 6)
            .as("med_qty"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    },
      sql("""SELECT l_returnflag,
            |  round(quantile_cont(l_extendedprice, 0.5), 6) AS med_price,
            |  round(quantile_cont(l_quantity, 0.5), 6) AS med_qty,
            |  CAST(count(*) AS BIGINT) AS n_rows
            |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))
  )
}
