package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry and its oracles are built once, as two maps with
  * the same keys. */
class RegistrySpec extends AnyFunSuite {

  test("every registered query has an oracle and every oracle a query") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size === 337)
  }

  test("no oracle is null or blank") {
    val bad = SparkEntry.oracleSql.collect {
      case (name, sql) if sql == null || sql.trim.isEmpty => name
    }
    assert(bad.isEmpty, s"null or blank oracles: ${bad.mkString(", ")}")
  }
}
