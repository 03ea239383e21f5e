package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: the Spark build over the tables of an sf
  * directory, declared together with its correctness oracle.
  *
  * Conventions for oracle-stable output (SURVEY.md §5.2):
  *  - deterministic ORDER BY on both sides (non-null keys, then value cols);
  *  - computed double columns rounded to 6 dp on BOTH sides (aggregation
  *    order differs between engines at the last ulp);
  *  - pass-through values left exact;
  *  - identical expression shapes so IEEE arithmetic matches bit-for-bit
  *    where no aggregation is involved.
  * Base tables are clean (FIXTURES.md), so queries inject deterministic
  * nulls/dirt via the same CASE expression on both sides.
  */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Oracle)

sealed trait Oracle

/** DuckDB SQL over the same parquet tables. Rendered only on demand:
  * Verify is its one caller, so Bench never builds oracle text. */
final case class Sql(render: () => String) extends Oracle

/** The query has no SQL twin; `reason` says why and what pins it instead. */
final case class NoOracle(reason: String) extends Oracle

/** Every registered query, family by family. A name declared twice is
  * an error here, not a silently replaced map entry. */
object QueryRegistry {
  val all: Seq[Query] = {
    val qs = CleaningQueries.all ++ TextCleaningQueries.all ++
      ProfileQueries.all ++ TextQueries.all ++ DedupQueries.all ++
      TokenizerQueries.all ++ LayoutQueries.all ++ SimilarityQueries.all ++
      TemporalQueries.all ++ OlapQueries.all ++ SourceQueries.all
    val repeated = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(repeated.isEmpty, s"query names declared twice: ${repeated.mkString(", ")}")
    qs
  }
}
