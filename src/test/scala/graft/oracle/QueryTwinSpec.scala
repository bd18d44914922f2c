package graft.oracle

import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

/** Catalog parity between the Spark queries and their DuckDB twins. Only
  * map keys are compared, so no Spark job runs. tools/check.py iterates
  * the oracle entries, so a query without a twin would go ungated and an
  * orphan twin would fail as "spark result unreadable". */
class QueryTwinSpec extends AnyFunSuite {

  test("every query has exactly one DuckDB twin and vice versa") {
    val queries = SparkEntry.queries.keySet
    val twins = SparkEntry.oracleSql.keySet
    assert((queries -- twins).isEmpty, "queries without a twin")
    assert((twins -- queries).isEmpty, "twins without a query")
  }

  test("every kg_uber branch names a query") {
    val missing = OracleSql.uberParts.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"uberParts not in SparkEntry.queries: $missing")
  }
}
