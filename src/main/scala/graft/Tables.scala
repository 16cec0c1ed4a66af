package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated test tables (TESTDATA.md). */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // SCHEMA cache per (dir, table) — metadata, not data (r14): a bare
  // spark.read.parquet infers the schema by reading footers in a small
  // job BEFORE the real scan, so every one of the ~209 bench queries paid
  // a fixed footer-inference job per table load (30-50 ms each, job-count
  // overhead on top). A catalog/table format (Hive, Iceberg, Delta) holds
  // exactly this metadata so readers never re-infer — this cache is that,
  // scoped per (dir, name). Results are unchanged: the cached StructType
  // IS the inferred one, and the driver generates each sf's tables once
  // (read-only test data). Queries still compute from the parquet bytes
  // on every run.
  // WRITE-ONCE ASSUMPTION (ADVICE r14): the cache is never invalidated,
  // so a table REGENERATED at the same path with a different schema
  // within one JVM would silently read through the stale StructType
  // (wrong columns/nulls, no error). That shape cannot happen on the
  // bench data (the driver generates each sf once, read-only), and no
  // code in this repo writes a Tables path; a writer added later must
  // invalidate its entry, the way the ANN store writers do
  // (util.StoreSchemas.invalidate).
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String),
      org.apache.spark.sql.types.StructType]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.computeIfAbsent((dir, name),
      _ => spark.read.parquet(path).schema)
    val df = spark.read.schema(schema).parquet(path)
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
