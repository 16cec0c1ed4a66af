package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{GridSchema, TriMesh}
import graft.util.Checkpoints.owning
import graft.util.StoreSchemas

/** Grid generation + per-cell geometry columns.
  *
  * Everything here is shuffle-free: `spark.range` over the cell count plus
  * pure ijk→xyz arithmetic, so a 100 TB block model materializes in
  * parallel across executors with no data movement (the analog of the
  * reference's grid synthesis, `vtk_Voxel.from_bb_schema` +
  * `vtk_mine.py:111-117`).
  */
object GridOps {

  /** Materialize a block-model DataFrame (id, i, j, k, x, y, z) from a
    * [[GridSchema]]. Cell id is x-fastest (VTK ordering). */
  def generate(spark: SparkSession, g: GridSchema, numPartitions: Int = 0): DataFrame = {
    val base =
      if (numPartitions > 0) spark.range(0, g.nCells, 1, numPartitions)
      else spark.range(g.nCells)
    val withIjk = base
      .withColumn("i", (col("id") % g.nx).cast("int"))
      .withColumn("j", ((col("id") / g.nx) % g.ny).cast("int"))
      .withColumn("k", (col("id") / (g.nx.toLong * g.ny)).cast("int"))
    if (!g.rotated) {
      withIjk
        .withColumn("x", lit(g.ox) + (col("i") + lit(0.5)) * g.sx)
        .withColumn("y", lit(g.oy) + (col("j") + lit(0.5)) * g.sy)
        .withColumn("z", lit(g.oz) + (col("k") + lit(0.5)) * g.sz)
    } else {
      val a = math.toRadians(-(g.bearing - 90.0))
      val c = math.cos(a); val s = math.sin(a)
      val lx = lit(g.ox) + (col("i") + lit(0.5)) * g.sx - lit(g.rotX)
      val ly = lit(g.oy) + (col("j") + lit(0.5)) * g.sy - lit(g.rotY)
      withIjk
        .withColumn("x", lit(g.rotX) + lit(c) * lx - lit(s) * ly)
        .withColumn("y", lit(g.rotY) + lit(s) * lx + lit(c) * ly)
        .withColumn("z", lit(g.oz) + (col("k") + lit(0.5)) * g.sz)
    }
  }

  /** Per-cell volume column (`cells_volume`,
    * /root/reference/pd_vtk.py:798-809; auto-added by the reserves pipeline,
    * vtk_reserves.py:49-50). Uniform grids get a constant; tables carrying
    * per-row `xlength/ylength/zlength` get the product. */
  def cellsVolume(df: DataFrame, g: GridSchema, out: String = "volume"): DataFrame =
    df.withColumn(out, lit(g.cellVolume))

  def cellsVolumeFromLengths(df: DataFrame, out: String = "volume"): DataFrame =
    df.withColumn(out, abs(col("xlength") * col("ylength") * col("zlength")))

  /** World → cell assignment by pure arithmetic — the scale-safe
    * `find_closest_cell` replacement (/root/reference/pd_vtk.py:671-702).
    * Adds i,j,k columns (−1 outside the grid, mirroring the reference's
    * unmatched −1). */
  def nearestCell(df: DataFrame, g: GridSchema,
      xCol: String = "x", yCol: String = "y", zCol: String = "z"): DataFrame = {
    require(!g.rotated, "nearestCell on rotated grids: unrotate first")
    val ci = floor((col(xCol) - g.ox) / g.sx).cast("long")
    val cj = floor((col(yCol) - g.oy) / g.sy).cast("long")
    val ck = floor((col(zCol) - g.oz) / g.sz).cast("long")
    val inside = ci >= 0 && ci < g.nx && cj >= 0 && cj < g.ny && ck >= 0 && ck < g.nz
    df.withColumn("i", when(inside, ci).otherwise(lit(-1L)).cast("int"))
      .withColumn("j", when(inside, cj).otherwise(lit(-1L)).cast("int"))
      .withColumn("k", when(inside, ck).otherwise(lit(-1L)).cast("int"))
  }

  /** Reduce the grid along one axis — `heatmap2d`
    * (/root/reference/pd_vtk.py:876-895): groupBy the two remaining axes +
    * a whitelisted aggregation (the reference eval()s `np.<op>`; a
    * distributed engine whitelists instead, SURVEY.md §2.6). */
  def heatmap2d(df: DataFrame, axis: String, valueCol: String,
      op: String = "mean"): DataFrame = {
    val keep = Seq("i", "j", "k").filterNot(_ == axis)
    val agg = op match {
      case "mean" => avg(col(valueCol))
      case "sum" => sum(col(valueCol))
      case "min" => min(col(valueCol))
      case "max" => max(col(valueCol))
      case "major" => graft.agg.MajorAgg(col(valueCol),
        df.schema(valueCol).dataType)
      case other => throw new IllegalArgumentException(s"heatmap2d op: $other")
    }
    df.groupBy(keep.map(col): _*).agg(agg.as(s"$valueCol $op"))
  }

  /** The in-band cells' out-of-band faces (i, j, k, dir), collected; the
    * in-band set is pinned for its two readers and released on return. */
  private def shellFaces(df: DataFrame, valueCol: String, lo: Double,
      hi: Double): Seq[(Int, Int, Int, Int)] = owning { sc =>
    val in = sc.pin(df.filter(col(valueCol) >= lo && col(valueCol) < hi)
      .select(col("i").cast("int"), col("j").cast("int"), col("k").cast("int"))
      .distinct())
    // (di, dj, dk) → the face of the cell toward that neighbor
    val dirs = Seq((-1, 0, 0), (1, 0, 0), (0, -1, 0), (0, 1, 0),
      (0, 0, -1), (0, 0, 1))
    // ONE job: explode every in-band cell into its six (neighbor, dir)
    // candidates, anti-join the neighbor keys against the in-band set —
    // survivors are exactly the faces whose neighbor is out of band
    val cand = in.select(col("i").as("ci"), col("j").as("cj"),
        col("k").as("ck"),
        explode(array(dirs.zipWithIndex.map { case ((di, dj, dk), d) =>
          struct((col("i") + di).as("i"), (col("j") + dj).as("j"),
            (col("k") + dk).as("k"), lit(d).as("d"))
        }: _*)).as("n"))
      .select(col("ci"), col("cj"), col("ck"),
        col("n.i"), col("n.j"), col("n.k"), col("n.d"))
    cand.join(in, Seq("i", "j", "k"), "left_anti")
      .select("ci", "cj", "ck", "d")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSeq
  }

  /** Grade-shell mesh: the blocky iso-surface of the cells whose value
    * falls in `[lo, hi)` — the engine's `vtk_grid_to_mesh`
    * (/root/reference/pd_vtk.py:1093-1111, which thresholds + extracts the
    * surface in VTK). A face is emitted wherever an in-band cell touches
    * an out-of-band (or out-of-grid) neighbor, so the result is the
    * closed boundary surface of the banded volume at cell resolution.
    *
    * Scale shape: the in-band set stays distributed; each of the six
    * directions is a broadcast-sized ANTI-join of the in-band keys
    * against their shifted selves (shuffle on cell keys only), and only
    * the boundary FACES — O(surface), not O(volume) — are collected to
    * build the driver-side [[TriMesh]] (meshes are KB-scale viz objects,
    * like every codec in `sources`). */
  def gradeShellMesh(df: DataFrame, g: GridSchema, valueCol: String,
      lo: Double, hi: Double, name: String = "shell"): TriMesh = {
    if (g.rotated) {
      // build in the unrotated lattice, then rotate the (small) mesh —
      // same convention as GridSchema.center / mesh_rotate_0261
      val flat = gradeShellMesh(df, g.copy(bearing = 90.0), valueCol, lo, hi, name)
      return RotatedRectFit.rotateMesh(flat, g.bearing, g.rotX, g.rotY)
    }
    val faces = shellFaces(df, valueCol, lo, hi)
    // quads at cell boundaries, both triangles wound outward
    val verts = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tris = scala.collection.mutable.ArrayBuffer.empty[Int]
    val seen = scala.collection.mutable.Map.empty[(Double, Double, Double), Int]
    def vtx(x: Double, y: Double, z: Double): Int =
      seen.getOrElseUpdate((x, y, z), {
        verts += x += y += z; verts.length / 3 - 1
      })
    faces.foreach { case (i, j, k, d) =>
      val x0 = g.ox + i * g.sx; val x1 = x0 + g.sx
      val y0 = g.oy + j * g.sy; val y1 = y0 + g.sy
      val z0 = g.oz + k * g.sz; val z1 = z0 + g.sz
      // corner quad per direction, counter-clockwise seen from OUTSIDE
      val quad: Array[(Double, Double, Double)] = d match {
        case 0 => Array((x0, y0, z0), (x0, y0, z1), (x0, y1, z1), (x0, y1, z0)) // -x
        case 1 => Array((x1, y0, z0), (x1, y1, z0), (x1, y1, z1), (x1, y0, z1)) // +x
        case 2 => Array((x0, y0, z0), (x1, y0, z0), (x1, y0, z1), (x0, y0, z1)) // -y
        case 3 => Array((x0, y1, z0), (x0, y1, z1), (x1, y1, z1), (x1, y1, z0)) // +y
        case 4 => Array((x0, y0, z0), (x0, y1, z0), (x1, y1, z0), (x1, y0, z0)) // -z
        case _ => Array((x0, y0, z1), (x1, y0, z1), (x1, y1, z1), (x0, y1, z1)) // +z
      }
      val q = quad.map { case (x, y, z) => vtx(x, y, z) }
      tris += q(0) += q(1) += q(2)
      tris += q(0) += q(2) += q(3)
    }
    TriMesh(name, verts.toArray, tris.toArray)
  }
}

/** Point-in-solid region flagging — the reference's only "join": every cell
  * against a list of small closed meshes, last mesh wins on overlap,
  * unflagged cells carry '' (`vtk_flag_region`, the reference's
  * vtk_flag_regions.py:54-79). A containment predicate
  * folded into a map — no shuffle on the block side. The meshes ship as
  * one Spark broadcast, so each executor builds each mesh's index once
  * ([[RegionFlagExpr]], [[graft.model.TriMesh]]). A solid with no triangles
  * flags no cell.
  */
object FlagRegions {
  def apply(spark: SparkSession, df: DataFrame, meshes: Seq[TriMesh],
      flagVar: String = "region", xCol: String = "x", yCol: String = "y",
      zCol: String = "z", footprint2d: Boolean = false): DataFrame =
    // one kernel call per cell inside whole-stage codegen
    // (operators.RegionFlagExpr); the meshes are broadcast once per call
    df.withColumn(flagVar, RegionFlagExpr.column(df.sparkSession.sparkContext,
      col(xCol).cast("double"), col(yCol).cast("double"),
      col(zCol).cast("double"), meshes, footprint2d))

  /** Flag a z-slab-partitioned block-model store
    * ([[graft.sources.BlockModelStore]]): only the slabs intersecting the
    * meshes' united z-range run the BVH containment kernel — the rest is
    * emitted with `''` straight off the scan, no geometry work. Both
    * branches are partition-pruned complements, so at 100 TB the expensive
    * kernel touches only the slabs a solid can reach (solids are usually
    * thin relative to the model's full depth).
    *
    * Output ≡ `apply` over the full store (same rows, same flags). */
  def fromStore(spark: SparkSession, path: String,
      g: GridSchema, meshes: Seq[TriMesh],
      flagVar: String = "region"): DataFrame = {
    if (meshes.isEmpty)
      return StoreSchemas.read(spark, path).withColumn(flagVar, lit(""))
    val (kLo, kHi) = graft.sources.BlockModelStore.slabWindow(spark, path,
      g, meshes.map(_.bounds(4)).min, meshes.map(_.bounds(5)).max)
    val full = StoreSchemas.read(spark, path)
    val hot = apply(spark,
      full.filter(col("kslab") >= kLo && col("kslab") <= kHi),
      meshes, flagVar)
    val cold = full.filter(col("kslab") < kLo || col("kslab") > kHi)
      .withColumn(flagVar, lit(""))
    hot.unionByName(cold)
  }
}

/** Mine-up / mine-down depletion — GridMine
  * (/root/reference/vtk_mine.py:41-94). Per cell:
  *
  *   fracBelow(surface) = clamp((z_surface − z_cellBottom) / Δz, 0, 1),
  *   null where the vertical ray misses the surface
  *
  * (the kernel the reference imports but lost — `vtk_block_mine`,
  * vtk_mine.py:39; reconstructed from `get_elevation` semantics per
  * SURVEY.md §2.5 ⚠).
  *
  *   mine = includeFrac × Π over excludes of (1 − coalesce(fracᵢ, 0-keep))
  *
  * where includeFrac = max over include surfaces (1.0 when none —
  * `gm.fill(1)`, vtk_reserves.py:59-60) and an exclude miss keeps the cell
  * (`where(isnan(fe), 1, 1−fe)`, vtk_mine.py:87).
  */
object MineDepletion {
  /** Continuous center-ray kernel (default, `subBlocks = 0`): one vertical
    * ray per cell, fraction interpolated from the surface elevation. Fast —
    * the right default at 100 TB scale (one BVH query per cell per mesh).
    *
    * Sub-block kernel (`subBlocks = n`): n×n vertical sub-columns per cell,
    * n sub-z samples each, keep a sub-block iff it is below some include
    * surface AND not below every exclude surface that covers it; mine =
    * kept/n³ (quantized to 1/n³). This mirrors the proportional-volume
    * convention of mining packages (the reference's own per-cell kernel is
    * a dangling import — vtk_mine.py:39 — and its golden table is
    * 1/125-quantized, i.e. n = 5; see DEVIATIONS.md §golden for the full
    * reconstruction analysis).
    */
  def apply(spark: SparkSession, df: DataFrame, includes: Seq[TriMesh],
      excludes: Seq[TriMesh], dz: Double, out: String = "mine",
      xCol: String = "x", yCol: String = "y", zCol: String = "z",
      subBlocks: Int = 0, cellSizeXY: (Double, Double) = (0, 0)): DataFrame = {
    if (subBlocks > 0)
      require(cellSizeXY._1 > 0 && cellSizeXY._2 > 0,
        "subBlocks kernel needs cellSizeXY")
    // one kernel call per cell (operators.MineExpr)
    df.withColumn(out, MineExpr.column(df.sparkSession.sparkContext,
      col(xCol).cast("double"), col(yCol).cast("double"),
      col(zCol).cast("double"), includes, excludes, dz, subBlocks,
      cellSizeXY._1, cellSizeXY._2))
  }
}

/** Surface elevation column — `get_elevation`
  * (/root/reference/pd_vtk.py:771-796): mean z of the vertical-ray hits,
  * null on miss. */
object Elevation {
  // no SparkSession parameter: the mesh is broadcast on the context of
  // `df`'s own session (same pattern as MineDepletion)
  def apply(df: DataFrame, mesh: TriMesh,
      out: String = "elevation", xCol: String = "x", yCol: String = "y"): DataFrame =
    // one kernel call per row (operators.ElevationExpr) — same pattern as
    // RegionFlagExpr/MineExpr, no ScalaUDF boundary in the fused scan
    df.withColumn(out, ElevationExpr.column(df.sparkSession.sparkContext,
      col(xCol).cast("double"), col(yCol).cast("double"), mesh))
}

/** Distance-to-surface column — the Raytracer's `tridist` mode
  * (/root/reference/pd_vtk.py:1205-1218): `‖p − mean(hits)‖` over the
  * vertical ray through (x, y). The hits share the point's x and y, so
  * the norm reduces to `|z − surfaceZ(x, y)|`; null when the ray misses
  * the mesh footprint (the reference leaves its null fill in place).
  * Composes the [[ElevationExpr]] kernel with `abs` — one fused
  * shuffle-free scan, the mesh ships once as a broadcast. */
object Tridist {
  def apply(df: DataFrame, mesh: TriMesh, out: String = "tridist",
      xCol: String = "x", yCol: String = "y", zCol: String = "z"): DataFrame =
    df.withColumn(out, abs(col(zCol).cast("double") -
      ElevationExpr.column(df.sparkSession.sparkContext,
        col(xCol).cast("double"), col(yCol).cast("double"), mesh)))
}
