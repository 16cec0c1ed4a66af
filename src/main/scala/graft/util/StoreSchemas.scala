package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Schema cache for the store directories — the IVF/PQ stores (r15) and
  * the block-model store ([[graft.sources.BlockModelStore]]) — the
  * [[graft.Tables]] discipline applied to the stores: a bare
  * `spark.read.parquet(store)` infers the schema with a footer-reading
  * job before the real scan, so every serve call (and every bench pass
  * of the store queries) paid a fixed inference job for a schema that
  * never changes — the store is written by our own writers, and an
  * append reuses the write schema by construction. Metadata only;
  * every read still scans the parquet bytes.
  *
  * A store REWRITTEN at the same path with a different layout (IVF cells
  * added or dropped, other corpus columns) would read through a stale
  * schema — wrong or missing columns, no error — so every store writer
  * calls [[invalidate]] after each Overwrite or append. */
object StoreSchemas {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Read a store directory with its cached (first read: inferred)
    * schema — partition columns (`ivf_bkt`, `kslab`) ride the cached
    * schema, so partition pruning is unaffected. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val sch = cache.computeIfAbsent(path,
      _ => spark.read.parquet(path).schema)
    spark.read.schema(sch).parquet(path)
  }

  /** Drop the cached schema of `path` — called by the store writers
    * after every write to it. */
  def invalidate(path: String): Unit = cache.remove(path)
}
