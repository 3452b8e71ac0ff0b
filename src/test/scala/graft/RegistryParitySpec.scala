package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every graded query has an oracle and every oracle a query: the
  * correctness checker grades a query without an oracle "rows-only", so a
  * lost oracle would otherwise pass silently.
  */
class RegistryParitySpec extends AnyFunSuite {
  test("SparkEntry.queries and SparkEntry.oracleSql name the same queries") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(queries.nonEmpty)
    assert((queries -- oracles).isEmpty,
      s"queries without an oracle: ${(queries -- oracles).toSeq.sorted.mkString(", ")}")
    assert((oracles -- queries).isEmpty,
      s"oracles without a query: ${(oracles -- queries).toSeq.sorted.mkString(", ")}")
  }
}
