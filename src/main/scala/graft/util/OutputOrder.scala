package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.graftbridge.Bridge

/** The rules for sorting a bounded final answer, in two forms.
  *
  * [[sorted]] is for a declared query's rows ([[graft.Query.run]]). A
  * global `orderBy` is a range exchange whose partitioner first runs a
  * sampling job over its child, one more execution of an aggregated or
  * joined plan. A range exchange into ONE partition is `Exchange
  * SinglePartition` and samples nothing; the stages below keep their
  * parallelism and only the final sort runs in one task. Every such answer
  * is small and is consumed as one partition anyway (Verify writes
  * `coalesce(1)`, reports are collected); operator outputs that scale with
  * the input (the `ext` sorts) keep `orderBy`. So does an answer whose plan
  * already meets the order, where `orderBy` adds no exchange at all.
  *
  * [[merged]] is for a breakdown report ([[graft.agg.Breakdown.run]]): the
  * aggregate's final merge and the sort of its few groups share the one
  * task that reads the aggregation's own exchange, so a report has one
  * shuffle and no planning pass chooses its form. */
object OutputOrder {
  /** `df` sorted by `order`, or `df` itself for `Nil`.
    * A key must be an output column: Spark would otherwise resolve one
    * dropped below the last projection and sort by a value not shown. */
  def sorted(df: DataFrame, order: Seq[Column]): DataFrame =
    if (order.isEmpty) df
    else {
      requireOutputs(df, order)
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

  /** `agg` sorted by `order` in the task that merges its partial buffers,
    * or `agg` itself for `Nil`: `coalesce(1)` reads every partition of the
    * aggregation's exchange in one task, which runs the final merge and
    * then sorts the groups. No exchange follows the aggregation's own, so
    * the report runs one job fewer than [[sorted]]'s form, and nothing is
    * planned to choose the form. Same key check as [[sorted]].
    *
    * Admissible only over an aggregate that plans its own exchange, the
    * one `coalesce(1)` then reads: over any other stage (a scan, a join's
    * reduce side, an aggregate whose input is already hash-partitioned by
    * its bare keys) `coalesce(1)` pulls that whole stage, every input row,
    * into one task. Breakdown's reports qualify: their inputs are scans
    * and row-wise projections of scans, hash-partitioned by nothing, and a
    * nullable key groups by its `keyCol` expression (`coalesce(k, -99)`),
    * which no input partitioning matches. */
  def merged(agg: DataFrame, order: Seq[Column]): DataFrame =
    if (order.isEmpty) agg
    else {
      requireOutputs(agg, order)
      agg.coalesce(1).sortWithinPartitions(order: _*)
    }

  private def requireOutputs(df: DataFrame, order: Seq[Column]): Unit = {
    val missing = order.flatMap(Bridge.columnNames).filterNot(df.columns.contains)
    require(missing.isEmpty, missing.map(n => s"`$n`").mkString(
      "sort key ", ", ", " is not an output column of " + df.columns.mkString("[", ", ", "]")))
  }
}
