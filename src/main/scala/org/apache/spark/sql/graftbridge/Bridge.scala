package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made the direct Column(expr)
  * constructor internal; `org.apache.spark.sql.classic.ExpressionUtils` is
  * `private[sql]`, so this one-file shim lives under the org.apache.spark.sql
  * namespace to re-export the two conversions the graft engine needs for its
  * custom aggregate expressions. No Spark internals are forked. */
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
}
