package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query path: its name, the Spark body that computes it from a
  * testdata directory, and the DuckDB SQL that computes the same answer over
  * the same parquet tables (same column names, same rounding). Each family
  * registry declares a `Seq[Query]`; [[SparkEntry]] derives the driver-facing
  * maps from them. */
final case class Query(name: String,
    body: (SparkSession, String) => DataFrame, oracle: String)
