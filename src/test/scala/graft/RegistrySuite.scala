package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The query declarations themselves: one [[Query]] per name, the two
  * driver-facing maps derived from them, and [[Query.run]]'s declared
  * order. Needs no testdata; only the order case runs a body. */
class RegistrySuite extends AnyFunSuite {

  private def q(name: String) =
    Query(name, (s, _) => s.emptyDataFrame, Nil, "SELECT 1 AS one")

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

  test("run writes a multi-partition body in its declared order") {
    val spark = graft.agg.SparkTest.spark
    val query = Query("qo", (s, _) =>
      s.range(0, 1000, 1, 8).select((col("id") % 7).as("k"), col("id")),
      Seq(col("k"), col("id").desc), "SELECT 1 AS one")
    val got = query.run(spark, "").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 1000)
    assert(got.toSeq == got.sortBy { case (k, id) => (k, -id) }.toSeq)
  }
}
