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
    // oracles are composed from shared SQL fragments: a fragment spliced
    // into a plain (non-interpolated) string or a dropped parenthesis
    // still gives non-blank SQL, so the composed text is checked too
    def problem(sql: String): Option[String] =
      if (sql == null || sql.trim.isEmpty) Some("null or blank")
      else if (sql.count(_ == '\'') % 2 != 0) Some("odd number of single quotes")
      else if ("""\$[A-Za-z_{]""".r.findFirstIn(sql).nonEmpty)
        Some("interpolation residue")
      else {
        val outsideLiterals = sql.split("'", -1).zipWithIndex
          .collect { case (part, i) if i % 2 == 0 => part }.mkString
        val depths = outsideLiterals.scanLeft(0) {
          case (d, '(') => d + 1
          case (d, ')') => d - 1
          case (d, _) => d
        }
        if (depths.last != 0 || depths.min < 0) Some("unbalanced parentheses")
        else None
      }
    val bad = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap { case (name, sql) =>
      problem(sql).map(p => s"$name ($p)")
    }
    assert(bad.isEmpty, s"malformed oracles: ${bad.mkString(", ")}")
  }
}
