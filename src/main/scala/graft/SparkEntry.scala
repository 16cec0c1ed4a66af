package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.TriMesh
import graft.operators.GridOps
import graft.QueryShared._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] exercises one operator from SURVEY.md §2; the
  * matching [[oracleSql]] is the ANSI-SQL equivalent DuckDB runs on the same
  * parquet tables. Double outputs are rounded on BOTH sides so the driver's
  * hash compare is immune to floating-point accumulation order.
  */
object SparkEntry {

  /** Flagship: the full reserves pipeline — grid synthesis → region flag
    * (broadcast point-in-solid) → mine depletion (broadcast surface rays) →
    * auto-weighted breakdown — in one lazy DataFrame plan with a single
    * low-cardinality shuffle. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val grid = GridOps.generate(spark, G)
      .withColumn("grade", ((col("i") * 7 + col("j") * 13 + col("k") * 17) % 97).cast("double"))
      .withColumn("lito", element_at(
        array(lit("high"), lit("medium"), lit("low")), (col("i") % 3 + 1).cast("int")))
      .withColumn("density", lit(2.7) + col("k") * 0.01)
    // pit BELOW the topo so the depletion band intersects the region solids
    val pit = TriMesh.quad("pit", Array(
      1100.3, 2050.1, 133.3, 1300.7, 2050.1, 133.3,
      1300.7, 2250.9, 133.3, 1100.3, 2250.9, 133.3))
    pipeline.Reserves.run(spark, grid, G,
      "lito;grade,mean,density,volume;density,mean,volume;volume,sum;density=mass,sum,volume",
      Seq(Region2, Region3), Seq(Topo), Seq(pit))
  }

  /** The family registries, listed once. */
  private def families: Seq[Seq[Query]] = Seq(
    QueriesBreakdown.queries,
    QueriesSpatial.queries,
    QueriesRelational.queries,
    QueriesDedup.queries,
    QueriesText.queries,
    QueriesSimilarity.queries,
    QueriesEval.queries,
    QueriesDrift.queries,
    QueriesSampling.queries,
    QueriesSketch.queries,
    QueriesGraph.queries,
    QueriesMultimodal.queries,
    QueriesStreaming.queries,
    QueriesPipeline.queries)

  /** The queries of `families` in one list. A name declared twice would
    * otherwise silently shadow, so it is rejected. */
  private[graft] def declared(families: Seq[Seq[Query]]): Seq[Query] = {
    val all = families.flatten
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, "duplicate query name across family registries: " +
      dups.toSeq.sorted.mkString(", "))
    all
  }

  /** Each declared query's Spark body in its declared order, by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    declared(families).map(q => q.name -> (q.run _)).toMap

  /** Each declared query's DuckDB oracle SQL, by name. */
  def oracleSql: Map[String, String] =
    declared(families).map(q => q.name -> q.oracle).toMap

  /** The entries of `named` whose name contains one of `patterns` — all of
    * them when none is given — sorted by name: the query selection every
    * main shares. */
  def select[V](named: Map[String, V], patterns: Seq[String]): Seq[(String, V)] =
    named.toSeq.sortBy(_._1)
      .filter { case (n, _) => patterns.isEmpty || patterns.exists(n.contains) }
}
