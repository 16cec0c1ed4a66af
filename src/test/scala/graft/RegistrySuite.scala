package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query declarations themselves: one [[Query]] per name, and the two
  * driver-facing maps derived from them. Needs no testdata and no session —
  * bodies are declared, never run. */
class RegistrySuite extends AnyFunSuite {

  private def q(name: String) =
    Query(name, (s, _) => s.emptyDataFrame, "SELECT 1 AS one")

  test("a name declared by two families is rejected, naming it") {
    val e = intercept[IllegalArgumentException](SparkEntry.declared(Seq(
      Seq(q("qa_first"), q("qz_twice")),
      Seq(q("qz_twice"), q("qb_other")))))
    assert(e.getMessage.contains("qz_twice"), e.getMessage)
    assert(!e.getMessage.contains("qa_first"), e.getMessage)
    assert(SparkEntry.declared(Seq(Seq(q("qa")), Seq(q("qb")))).map(_.name) ==
      Seq("qa", "qb"))
  }

  test("every declared query has a body and a non-blank oracle") {
    val (bodies, oracles) = (SparkEntry.queries, SparkEntry.oracleSql)
    assert(bodies.nonEmpty)
    assert(bodies.keySet == oracles.keySet)
    val blank = oracles.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(blank.isEmpty, s"blank oracle SQL: ${blank.toSeq.sorted}")
  }
}
