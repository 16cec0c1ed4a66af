package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.graftbridge.Bridge

/** The one rule for sorting a bounded final answer: a declared query's
  * rows ([[graft.Query.run]]) and a breakdown report
  * ([[graft.agg.Breakdown.run]]). A global `orderBy` is a range exchange
  * whose partitioner first runs a sampling job over its child, one more
  * execution of an aggregated or joined plan. A range exchange into ONE
  * partition is `Exchange SinglePartition` and samples nothing; the stages
  * below keep their parallelism and only the final sort runs in one task.
  * Every such answer is small and is consumed as one partition anyway
  * (Verify writes `coalesce(1)`, reports are collected); operator outputs
  * that scale with the input (the `ext` sorts) keep `orderBy`. So does an
  * answer whose plan already meets the order, where `orderBy` adds no
  * exchange at all. */
object OutputOrder {
  /** `df` sorted by `order`, or `df` itself for `Nil`.
    * A key must be an output column: Spark would otherwise resolve one
    * dropped below the last projection and sort by a value not shown. */
  def sorted(df: DataFrame, order: Seq[Column]): DataFrame =
    if (order.isEmpty) df
    else {
      val missing = order.flatMap(Bridge.columnNames).filterNot(df.columns.contains)
      require(missing.isEmpty, missing.map(n => s"`$n`").mkString(
        "sort key ", ", ", " is not an output column of " + df.columns.mkString("[", ", ", "]")))
      val global = df.orderBy(order: _*)
      val prepared = global.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan // before any stage runs
        case p => p
      }
      prepared match {
        // the global sort over a range exchange: the one-partition form
        case SortExec(_, true, _: ShuffleExchangeExec, _) =>
          df.repartitionByRange(1, order: _*).sortWithinPartitions(order: _*)
        // already one partition or already in order (a grid by id, a
        // window's output): `orderBy` plans no exchange, samples nothing
        case _ => global
      }
    }
}
