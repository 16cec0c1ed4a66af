package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** One declared query path: its name, the Spark body that computes it from a
  * testdata directory, its final row order, and the DuckDB SQL that computes
  * the same answer over the same parquet tables (same column names, same
  * rounding). Each family registry declares a `Seq[Query]`; [[SparkEntry]]
  * derives the driver-facing maps from them. `order` has no default, like
  * `oracle`, and [[run]] applies it ([[graft.util.OutputOrder.sorted]]). It
  * is `Nil` for a one-row answer, for one its operator already sorts (a
  * breakdown report, an `ext` sort) and for a top-K whose `limit` consumes
  * the body's own `orderBy` — the one place a body still sorts. */
final case class Query(name: String,
    body: (SparkSession, String) => DataFrame, order: Seq[Column],
    oracle: String) {
  /** The body's rows in the declared order. */
  def run(s: SparkSession, dir: String): DataFrame =
    graft.util.OutputOrder.sorted(body(s, dir), order)
}
