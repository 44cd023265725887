package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registry query carries DuckDB oracle SQL, and every oracle
  * entry names a registry query. Reads the two maps only: no Spark
  * session, no job. */
class OracleCoverageSpec extends AnyFunSuite {

  test("oracleSql covers exactly the registry queries") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert((queries -- oracles).isEmpty, "queries without oracle SQL")
    assert((oracles -- queries).isEmpty, "oracle SQL without a query")
    assert(queries.size == 309)
  }
}
