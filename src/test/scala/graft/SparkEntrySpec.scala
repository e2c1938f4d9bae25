package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SparkEntry query registry, checked without a Spark session: every
  * query is defined once, and every query but the three declared
  * rows-only ones carries a DuckDB oracle. */
class SparkEntrySpec extends AnyFunSuite {

  test("spec names are unique") {
    val names = SparkEntry.specs.map(_.name)
    assert(names.distinct.size == names.size,
      names.diff(names.distinct).mkString(", "))
  }

  test("queries holds all 151 specs") {
    assert(SparkEntry.queries.size == 151)
  }

  test("every oracle belongs to a query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("only the three declared rows-only queries have no oracle") {
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet ==
      Set("q50_pipeline_manifest", "q51_pipeline_resume", "q60_flagship"))
  }
}
