package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructType

/** Schema and listing cache for the store directories — the IVF/PQ stores
  * (r15) and the block-model store ([[graft.sources.BlockModelStore]]) —
  * the [[graft.Tables]] discipline applied to the stores: a bare
  * `spark.read.parquet(store)` infers the schema with a footer-reading
  * job before the real scan, and every read lists the store directory
  * (globbing, partition discovery) while the frame is built, so every
  * serve call and every reserves request paid a fixed inference job and a
  * listing for a layout that never changes between writes — the store is
  * written by our own writers, and an append reuses the write schema by
  * construction. So a path keeps its schema and the relation it listed;
  * each [[read]] is a frame over that relation with fresh attribute ids.
  * Metadata only: every read still scans the parquet bytes, and no rows
  * are held.
  *
  * A store REWRITTEN at the same path (IVF cells added or dropped, other
  * corpus columns, another slab size) or APPENDED to would read through a
  * stale schema and a stale file list — wrong or missing columns, deleted
  * files, rows not seen, no error at planning — so every store writer
  * calls [[invalidate]] after each Overwrite or append, which drops both. */
object StoreSchemas {
  /** What one path keeps: its schema, and the relation `session` listed. */
  private final case class Listed(schema: StructType, session: SparkSession,
      relation: LogicalRelation)

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Listed]()

  /** Read a store directory with its cached (first read: inferred)
    * schema and listing — partition columns (`ivf_bkt`, `kslab`) ride the
    * cached schema, and pruning filters the cached listing, so partition
    * pruning is unaffected. Two reads of one store are two relations (fresh
    * attribute ids) and join like two reads. A read from another session
    * lists again for that session: the relation carries its session's
    * conf into the scan. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val listed = cache.compute(path, (_, old) =>
      if (old != null && (old.session eq spark)) old
      else {
        val sch = if (old != null) old.schema else spark.read.parquet(path).schema
        val relation = spark.read.schema(sch).parquet(path).queryExecution.analyzed
        Listed(sch, spark, relation.asInstanceOf[LogicalRelation])
      })
    Bridge.frameOf(spark, listed.relation)
  }

  /** Drop the cached schema and listing of `path` — called by the store
    * writers after every write to it. */
  def invalidate(path: String): Unit = cache.remove(path)
}
