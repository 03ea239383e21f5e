package graft

import graft.queries.{NoOracle, QueryRegistry}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the query registry: every query is declared once, with either
  * oracle SQL or an explicit NoOracle, and the maps the driver contract
  * exposes are views of that one list. Also pins the ONLY/SKIP query
  * selection Bench and Verify share. No Spark session needed. */
class QueryRegistrySpec extends AnyFunSuite {

  private val noOracle: Map[String, NoOracle] =
    QueryRegistry.all.collect { case q if q.oracle.isInstanceOf[NoOracle] =>
      q.name -> q.oracle.asInstanceOf[NoOracle] }.toMap

  test("every query name is declared exactly once") {
    val names = QueryRegistry.all.map(_.name)
    assert(names.distinct.size == names.size,
      s"repeated: ${names.diff(names.distinct).mkString(", ")}")
    assert(SparkEntry.queries.keySet == names.toSet)
  }

  test("oracleSql covers exactly the queries without NoOracle") {
    assert(SparkEntry.oracleSql.keySet ==
      SparkEntry.queries.keySet -- noOracle.keySet)
  }

  test("only the two Ratcliff spell rows have no oracle") {
    assert(noOracle.keySet == Set("q_typofix_spell", "q_typofix_spell_scale"))
  }

  test("each NoOracle query gives a reason and is pinned by GoldenSpec") {
    noOracle.foreach { case (name, NoOracle(reason)) =>
      assert(reason.trim.nonEmpty, s"$name has an empty NoOracle reason")
    }
    assert(noOracle.keySet == GoldenSpec.pinned.keySet)
  }

  test("ONLY wins over SKIP; names are trimmed and keep their order") {
    val both = Map("SPARK_GRAFT_ONLY" -> " q_b , ,q_a", "SPARK_GRAFT_SKIP" -> "q_c")
    val only = SparkEntry.selection(both).get
    assert(only.variable == "SPARK_GRAFT_ONLY")
    assert(only.names == Seq("q_b", "q_a"))
    assert(only.keeps("q_a") && !only.keeps("q_c"))
    val skip = SparkEntry.selection(Map("SPARK_GRAFT_SKIP" -> "q_c,q_c")).get
    assert(skip.names == Seq("q_c", "q_c"))
    assert(skip.keeps("q_a") && !skip.keeps("q_c"))
    assert(SparkEntry.selection(Map.empty).isEmpty)
    // an empty ONLY selects nothing and still masks SKIP
    val empty = SparkEntry.selection(Map("SPARK_GRAFT_ONLY" -> "",
      "SPARK_GRAFT_SKIP" -> "q_c")).get
    assert(empty.names.isEmpty && !empty.keeps("q_a"))
  }
}
