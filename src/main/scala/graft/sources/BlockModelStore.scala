package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.GridSchema
import graft.util.StoreSchemas

/** Partitioned Parquet layout for block models — the 100 TB storage story
  * (ARCHITECTURE.md): cells are written partitioned by z-slab
  * (`kslab = k / slabCells`), so any operator whose geometry bounds z —
  * depletion surfaces, region solids via their bounding boxes, grade
  * shells — prunes whole partitions at planning time instead of scanning
  * 100 TB and filtering. This is the engine-side realization of the
  * reference's `-X -t solid.00t` bounding-solid pushdown idea
  * (/root/reference/_gui.py:160-162, SURVEY.md §4).
  *
  * Reads go through [[StoreSchemas]]: the store's schema is inferred and
  * its directory listed once per path and write ([[write]] invalidates
  * both); each read still scans the listed files. The slab metadata file
  * is written and read through the Hadoop `FileSystem` of the store path,
  * the one Spark writes the Parquet to, so a URI (`file://`, `hdfs://`)
  * works like a bare local path.
  */
object BlockModelStore {
  private val SlabFile = "_graft_slab_cells"

  private def slabFile(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path, SlabFile)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  def write(df: DataFrame, path: String, slabCells: Int = 4): Unit = {
    df.withColumn("kslab", (col("k") / slabCells).cast("int"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("kslab")
      .parquet(path)
    // persist the partitioning parameter WITH the store: a reader that
    // re-defaulted it would compute wrong slab windows and silently prune
    // in-range cells
    val (fs, p) = slabFile(df.sparkSession, path)
    val out = fs.create(p, true)
    try out.write(slabCells.toString.getBytes("UTF-8")) finally out.close()
    StoreSchemas.invalidate(path)
  }

  /** The store's slab size, read back from its metadata file. */
  def slabCells(path: String, spark: SparkSession = SparkSession.active): Int = {
    val (fs, p) = slabFile(spark, path)
    require(fs.exists(p), s"$path is not a BlockModelStore (missing $SlabFile)")
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8").trim.toInt finally in.close()
  }

  /** Read only the z-slabs intersecting [zMin, zMax] — a partition-pruned
    * scan (`PartitionFilters` in the plan, zero I/O on other slabs). */
  def readZRange(spark: SparkSession, path: String, g: GridSchema,
      zMin: Double, zMax: Double): DataFrame = {
    val sc = slabCells(path, spark)
    val kLo = math.floor((zMin - g.oz) / g.sz).toInt / sc
    val kHi = math.floor((zMax - g.oz) / g.sz).toInt / sc
    StoreSchemas.read(spark, path)
      .filter(col("kslab") >= kLo && col("kslab") <= kHi)
  }

  /** Read only the cells whose slab intersects a solid's bounding box —
    * the pre-filter for region flagging at scale (the exact containment
    * test then runs on the pruned scan only). */
  def readForSolid(spark: SparkSession, path: String, g: GridSchema,
      solid: graft.model.TriMesh): DataFrame = {
    val b = solid.bounds
    readZRange(spark, path, g, b(4), b(5))
  }
}
