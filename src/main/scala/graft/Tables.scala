package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated test tables (TESTDATA.md). */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one table through [[graft.util.StoreSchemas]]: its schema is
    * inferred and its file listed once per path, so a query does not pay
    * a footer-inference job per table load; every read still scans the
    * parquet bytes. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = graft.util.StoreSchemas.read(spark, s"$dir/$name.parquet")
    // events.ts arrives in whatever physical form the generator used:
    //  - TIMESTAMP(NANOS), which Spark only reads as a long
    //    (spark.sql.legacy.parquet.nanosAsLong) → floor to micros;
    //  - TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads as
    //    TIMESTAMP_NTZ when inferTimestampNTZ is on → cast to LTZ.
    // Both normalize to TIMESTAMP_LTZ; the session timezone is UTC
    // everywhere, so the NTZ→LTZ cast is wall-clock identity and epoch
    // functions (unix_micros etc.) see the same instants the oracle does.
    val typed = if (name == "events") df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _: TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    } else df
    // NOTE on scan parallelism: these single-row-group files plan as ONE
    // scan split (Spark cannot split below row-group granularity). A
    // blanket repartition here was tried and measured NET-NEGATIVE: most
    // consumers are codegen pipelines cheap enough that the exchange (and
    // its determinism sort) costs more than the extra cores return, and
    // queries deriving several subtrees from one table pay it per
    // subtree. The one place scan parallelism genuinely gates throughput
    // — the ImageIO codec stage — rebalances at its own boundary
    // ([[graft.ext.Multimodal.synthesizeImages]]), the standard
    // "repartition before the expensive map" placement.
    typed
  }

  /** Register every table as a temp view for spark.sql use. */
  def views(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
