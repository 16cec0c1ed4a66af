package graft.util

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.SparkTest
import graft.agg.SparkTest.rowsAndJobs

/** [[OutputOrder.sorted]], the declared queries' final-order rule: the same rows in the
  * same key order as `orderBy` — across directions, null keys and ties —
  * with one job fewer and no range exchange, or `orderBy`'s own plan when
  * the child already meets the order; loud on a key that is not an output
  * column; the frame itself when there is no order. */
class OutputOrderSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  /** An aggregated child over 8 map partitions: (k, g) groups, k null on
    * every 11th id, so k ties across g. */
  private def child: DataFrame = spark.range(0, 4000, 1, 8)
    .select(when(col("id") % 11 === 0, lit(null)).otherwise(col("id") % 23)
      .as("k"), (col("id") % 5).as("g"), col("id"))
    .groupBy("k", "g").agg(count(lit(1)).as("n"), sum("id").as("s"))

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString.toLowerCase

  /** name, order, and the columns that order compares. */
  private val cases: Seq[(String, Seq[Column], Seq[String])] = Seq(
    ("ascending", Seq(col("k"), col("g")), Seq("k", "g")),
    ("descending", Seq(col("k").desc, col("g").desc), Seq("k", "g")),
    ("null keys last", Seq(col("k").asc_nulls_last, col("g")), Seq("k", "g")),
    ("tied keys", Seq(col("k")), Seq("k")))

  cases.foreach { case (name, order, keyCols) =>
    test(s"$name: the rows of orderBy, one job fewer, no range exchange") {
      val viaOrderBy = child.orderBy(order: _*)
      val viaHelper = OutputOrder.sorted(child, order)
      val (want, wantJobs) = rowsAndJobs(viaOrderBy, s"orderBy-$name")
      val (got, gotJobs) = rowsAndJobs(viaHelper, s"sorted-$name")
      // the same rows with the same keys in the same order; rows that tie
      // on every key may sit in another order (orderBy's in-partition
      // radix sort moves them, the one-partition sort keeps arrival order)
      def keys(rows: Seq[Row]) = rows.map(r => keyCols.map(r.getAs[Any]))
      assert(want.nonEmpty && keys(got) == keys(want))
      assert(got.toSet == want.toSet && got.size == want.size)
      assert(gotJobs == wantJobs - 1, s"jobs: sorted $gotJobs, orderBy $wantJobs")
      assert(plan(viaOrderBy).contains("rangepartitioning"))
      assert(!plan(viaHelper).contains("rangepartitioning"), plan(viaHelper))
    }
  }

  test("a child already in order keeps orderBy's plan: no added exchange, no extra job") {
    val byId = spark.range(0, 1000, 1, 4).select(col("id"), (col("id") % 7).as("k"))
    val ranked = byId.withColumn("r",
      row_number().over(org.apache.spark.sql.expressions.Window.orderBy("k", "id")))
    for ((name, df, order) <- Seq(
        ("range-ordered", byId, Seq(col("id"))),
        ("one partition", byId.coalesce(1), Seq(col("k"), col("id").desc)),
        ("a window's order", ranked, Seq(col("k"), col("id"))))) {
      val (want, wantJobs) = rowsAndJobs(df.orderBy(order: _*), s"orderBy-$name")
      val viaHelper = OutputOrder.sorted(df, order)
      val (got, gotJobs) = rowsAndJobs(viaHelper, s"sorted-$name")
      assert(want.size == 1000 && got == want)
      assert(gotJobs == wantJobs, s"$name jobs: sorted $gotJobs, orderBy $wantJobs")
      // neither a range exchange nor the one-partition one on top
      assert(!plan(viaHelper).contains("rangepartitioning") &&
        !plan(viaHelper).contains("repartition_by_num"), plan(viaHelper))
    }
  }

  test("a key that is not an output column fails, naming it") {
    val narrowed = child.select("k", "n")
    // orderBy quietly reaches below the projection for a dropped column
    assert(narrowed.orderBy("g").columns.toSeq == Seq("k", "n"))
    val e = intercept[IllegalArgumentException](
      OutputOrder.sorted(narrowed, Seq(col("k"), col("g"))))
    assert(e.getMessage.contains("`g`"), e.getMessage)
  }

  test("no order returns the frame itself") {
    val df = child
    assert(OutputOrder.sorted(df, Nil) eq df)
  }
}
