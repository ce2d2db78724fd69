package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query catalog: each name declared once, with its builder and its
  * oracle, and the two maps `queries` and `oracleSql` read from it. */
class CatalogSpec extends AnyFunSuite {

  private def q(name: String) = Query(name, (_, _) => null, s"SELECT '$name'")

  test("assembling a list with a repeated name throws and names every duplicate") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.assemble(Seq(q("q_a"), q("q_b")), Seq(q("q_c"), q("q_b"), q("q_d"), q("q_d")))
    }
    assert(e.getMessage.contains("q_b, q_d"), e.getMessage)
    assert(!e.getMessage.contains("q_a") && !e.getMessage.contains("q_c"))
    assert(SparkEntry.assemble(Seq(q("q_a")), Seq(q("q_b"))).map(_.name) === Seq("q_a", "q_b"))
  }

  test("the catalog holds 524 distinct names, each with a builder and an oracle") {
    val names = SparkEntry.catalog.map(_.name)
    assert(names.size === 524)
    assert(names.distinct.size === 524)
    assert(SparkEntry.catalog.forall(c => c.build != null && c.oracle != null && c.oracle.trim.nonEmpty))
  }

  test("queries and oracleSql have the same key set") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet === SparkEntry.catalog.map(_.name).toSet)
  }
}
