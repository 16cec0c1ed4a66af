package graft

import org.apache.spark.sql.functions._

import graft.operators.{Elevation, FlagRegions, GridOps, MineDepletion, Tridist}
import graft.QueryShared._

/** Query registry — §2.5 — grids, region flags, depletion, elevation, shells, meshes.
  *
  * Each entry is one [[Query]]; shared fixtures and oracle fragments live in [[QueryShared]]. */
object QueriesSpatial {

  private[graft] val queries: Seq[Query] = Seq(

    // §2.5 grid synthesis from schema + per-cell volume (pure arithmetic,
    // shuffle-free)
    Query("q11_grid_generate", (s, _) =>
      GridOps.cellsVolume(GridOps.generate(s, G), G)
        .select("id", "i", "j", "k", "x", "y", "z", "volume"),
      Seq(col("id")),
      s"""WITH $GridSql
         SELECT id, i, j, k, x, y, z, 1000.0 AS volume FROM g ORDER BY id"""),


    // §2.5 point-in-solid region flagging (broadcast BVH ray-parity kernel,
    // last mesh wins, '' default)
    Query("q12_flag_regions", (s, _) =>
      FlagRegions(s, GridOps.generate(s, G), Seq(Region2, Region3))
        .select("id", "region"),
      Seq(col("id")),
      s"""WITH $GridSql
         SELECT id,
           CASE WHEN x BETWEEN 1151.2 AND 1248.8 AND y BETWEEN 2101.1 AND 2199.9
                     AND z BETWEEN 151.3 AND 249.7 THEN 'region3'
                WHEN x BETWEEN 1097.3 AND 1203.7 AND y BETWEEN 2051.3 AND 2148.8
                     AND z BETWEEN 141.2 AND 198.9 THEN 'region2'
                ELSE '' END AS region
         FROM g ORDER BY id"""),


    // §2.5 mine-up/mine-down depletion fractions (vertical-ray surface
    // elevation vs analytic plane algebra)
    Query("q13_mine_deplete", (s, _) =>
      MineDepletion(s, GridOps.generate(s, G), Seq(Topo), Seq(Pit), G.sz)
        .select(col("id"), round(col("mine"), 6).as("mine")),
      Seq(col("id")),
      s"""WITH $GridSql
         SELECT id,
           round(least(1, greatest(0, (152.3 - (z - 5)) / 10)) *
             (CASE WHEN x BETWEEN 1100.3 AND 1300.7 AND y BETWEEN 2050.1 AND 2250.9
                   THEN 1 - least(1, greatest(0, (173.456 - (z - 5)) / 10))
                   ELSE 1 END), 6) AS mine
         FROM g ORDER BY id"""),


    // §2.5 nearest-cell assignment: arbitrary points → ijk by floor
    // arithmetic, −1 outside the grid
    Query("q14_nearest_cell", (s, _) => {
      val pts = s.range(500)
        .withColumn("x", lit(995.0) + (col("id") * 7.3) % 310.0)
        .withColumn("y", lit(1995.0) + (col("id") * 11.7) % 210.0)
        .withColumn("z", lit(95.0) + (col("id") * 3.9) % 210.0)
      GridOps.nearestCell(pts, G).select("id", "i", "j", "k")
    }, Seq(col("id")),
      """WITH p AS (
           SELECT range AS id,
             995.0 + (range * CAST(7.3 AS DOUBLE)) % 310.0 AS x,
             1995.0 + (range * CAST(11.7 AS DOUBLE)) % 210.0 AS y,
             95.0 + (range * CAST(3.9 AS DOUBLE)) % 210.0 AS z
           FROM range(500)),
         c AS (
           SELECT id,
             CAST(floor((x - 1000) / 10) AS BIGINT) AS ci,
             CAST(floor((y - 2000) / 10) AS BIGINT) AS cj,
             CAST(floor((z - 100) / 10) AS BIGINT) AS ck
           FROM p)
         SELECT id,
           CAST(CASE WHEN ci BETWEEN 0 AND 29 AND cj BETWEEN 0 AND 19 AND ck BETWEEN 0 AND 19 THEN ci ELSE -1 END AS INT) AS i,
           CAST(CASE WHEN ci BETWEEN 0 AND 29 AND cj BETWEEN 0 AND 19 AND ck BETWEEN 0 AND 19 THEN cj ELSE -1 END AS INT) AS j,
           CAST(CASE WHEN ci BETWEEN 0 AND 29 AND cj BETWEEN 0 AND 19 AND ck BETWEEN 0 AND 19 THEN ck ELSE -1 END AS INT) AS k
         FROM c ORDER BY id"""),


    // §2.5 heatmap2d: reduce the grid along the z axis
    Query("q15_heatmap2d", (s, _) =>
      GridOps.heatmap2d(
        GridOps.generate(s, G)
          .withColumn("v", (col("i") * 7 + col("j") * 13 + col("k") * 17) % 97),
        "k", "v", "mean")
        .withColumnRenamed("v mean", "v_mean"),
      Seq(col("i"), col("j")),
      s"""WITH $GridSql
         SELECT i, j, avg((i * 7 + j * 13 + k * 17) % 97) AS v_mean
         FROM g GROUP BY i, j ORDER BY i, j"""),


    // §2.5 surface elevation (get_elevation): sloped plane, null off-footprint
    Query("q16_elevation", (s, _) =>
      Elevation(GridOps.generate(s, G), Slope)
        .select(col("id"), round(col("elevation"), 6).as("elev")),
      Seq(col("id")),
      s"""WITH $GridSql
         SELECT id,
           CASE WHEN x BETWEEN 1001 AND 1289.5 AND y BETWEEN 1900 AND 2350
                THEN round(50 + 0.01 * x + 0.02 * y, 6) END AS elev
         FROM g ORDER BY id"""),


    // §2.5 vertical-footprint (2D) region flagging
    Query("q36_flag2d", (s, _) =>
      FlagRegions(s, GridOps.generate(s, G), Seq(Slope), flagVar = "flag2d",
        footprint2d = true)
        .select("id", "flag2d"),
      Seq(col("id")),
      s"""WITH $GridSql
         SELECT id,
           CASE WHEN x BETWEEN 1001 AND 1289.5 AND y BETWEEN 1900 AND 2350
                THEN 'slope' ELSE '' END AS flag2d
         FROM g ORDER BY id"""),


    // §2.5 grade shells: threshold the grid into value bands
    Query("q37_grade_shells", (s, _) =>
      GridOps.generate(s, G)
        .withColumn("grade", (col("i") * 7 + col("j") * 13 + col("k") * 17) % 97)
        .withColumn("band", floor(col("grade") / 20).cast("int"))
        .groupBy("band")
        .agg(count(lit(1)).as("n"), min("grade").as("lo"), max("grade").as("hi")),
      Seq(col("band")),
      s"""WITH $GridSql
         SELECT CAST(floor(((i * 7 + j * 13 + k * 17) % 97) / 20) AS INT) AS band,
           count(*) AS n,
           min((i * 7 + j * 13 + k * 17) % 97) AS lo,
           max((i * 7 + j * 13 + k * 17) % 97) AS hi
         FROM g GROUP BY band ORDER BY band"""),


    // §2.5 flat ijk key encoding (vtk_grid_flag_ijk)
    Query("q38_ijk_key", (s, _) =>
      GridOps.generate(s, G)
        .select(col("id"),
          (col("i").cast("long") * 1000000L + col("j").cast("long") * 1000L +
            col("k").cast("long")).as("ijk")),
      Seq(col("id")),
      s"""WITH $GridSql
         SELECT id, CAST(i AS BIGINT) * 1000000 + CAST(j AS BIGINT) * 1000 + CAST(k AS BIGINT) AS ijk
         FROM g ORDER BY id"""),


    // §2.5 rotated grid (bearing ≠ 90): lattice stays integer, world xyz
    // materialized through the z-rotation
    Query("q39_rotated_grid", (s, _) =>
      GridOps.generate(s, G.copy(bearing = 45.0, rotX = 1000.0, rotY = 2000.0))
        .select(col("id"), round(col("x"), 6).as("x"), round(col("y"), 6).as("y"),
          col("z")),
      Seq(col("id")), {
      // embed the exact rotation constants the Scala side uses
      val a = math.toRadians(-(45.0 - 90.0))
      val c = math.cos(a); val sn = math.sin(a)
      s"""WITH $GridSql
         SELECT id,
           round(1000.0 + ($c) * (x - 1000.0) - ($sn) * (y - 2000.0), 6) AS x,
           round(2000.0 + ($sn) * (x - 1000.0) + ($c) * (y - 2000.0), 6) AS y,
           z
         FROM g ORDER BY id"""
    }),


    // operators: range join as a broadcast band lookup — the join node
    // disappears into one binary search per row (BandJoin.bandOf)
    Query("q47_range_band", (s, dir) =>
      li(s, dir)
        .withColumn("qty_band", coalesce(
          operators.BandJoin.bandOf(col("l_quantity"),
            Seq(("low", 0.0, 10.0), ("mid", 10.0, 25.0), ("high", 25.0, 45.0))),
          lit("other")))
        .groupBy("qty_band")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 2).as("sum_price")),
      Seq(col("qty_band")),
      // range join spelled relationally: LEFT JOIN on the interval condition
      """WITH bands(name, lo, hi) AS (VALUES
           ('low', 0.0, 10.0), ('mid', 10.0, 25.0), ('high', 25.0, 45.0)),
         j AS (SELECT coalesce(b.name, 'other') AS qty_band, l.l_extendedprice
               FROM lineitem l LEFT JOIN bands b
                 ON l.l_quantity >= b.lo AND l.l_quantity < b.hi)
         SELECT qty_band, count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price
         FROM j GROUP BY qty_band ORDER BY qty_band"""),


    // §2.5 Raytracer tridist: |z − surface| along the vertical ray over
    // the sloped plane, null off-footprint (pd_vtk.py:1205-1218)
    Query("q128_tridist", (s, _) =>
      Tridist(GridOps.generate(s, G), Slope)
        .select(col("id"), round(col("tridist"), 6).as("tridist")),
      Seq(col("id")),
      // tridist = |z − (analytic slope plane)| inside the footprint; the
      // ray-trace surfaceZ diverges from the plane algebra only in the last
      // ulps, absorbed by the shared 6 dp grain (the q16 discipline)
      s"""WITH $GridSql
         SELECT id,
           CASE WHEN x BETWEEN 1001 AND 1289.5 AND y BETWEEN 1900 AND 2350
                THEN round(abs(z - (50 + 0.01 * x + 0.02 * y)), 6) END AS tridist
         FROM g ORDER BY id"""),
  )
}
