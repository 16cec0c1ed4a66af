package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Column ⇄ Expression bridge. Spark 4 made the direct Column(expr)
  * constructor internal; `org.apache.spark.sql.classic.ExpressionUtils` is
  * `private[sql]`, so this one-file shim lives under the org.apache.spark.sql
  * namespace to re-export the two conversions the graft engine needs for its
  * custom aggregate expressions, and the plan-level frame constructor the
  * store listing cache needs. No Spark internals are forked. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER conversion to a real catalyst tree. [[expression]] returns a
    * lazy `ColumnNodeExpression` wrapper that only Dataset boundaries
    * unwrap — inside a function-registry builder it survives to execution
    * and dies unevaluable. This converts the column tree immediately
    * (unresolved functions become `UnresolvedFunction` nodes the analyzer
    * then resolves like any SQL-parsed call). */
  def expressionEager(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** The column names `c` refers to, as written: `col("k").desc` → k. */
  def columnNames(c: Column): Seq[String] =
    expressionEager(c).collect { case a: UnresolvedAttribute => a.name }

  /** A frame over `r` with fresh attribute ids, so two frames over one
    * relation join like two reads. `spark` must be the session `r` was
    * listed in: the relation carries that session's conf into the scan. */
  def frameOf(spark: SparkSession, r: LogicalRelation): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], r.newInstance())
}
