package graft.model

/** Triangulated surface / closed solid — the engine's geometry IR, the
  * analog of the reference's `pv.PolyData` meshes
  * (/root/reference/pd_vtk.py:229-235). Meshes are KB-sized (region solids,
  * topo/pit surfaces) while the block model is the big side, so every
  * spatial operator ships its TriMeshes to the rows and evaluates per-row —
  * no shuffle (SURVEY.md §2.5 scale analysis).
  *
  * Kernels:
  *   - [[containsPoint]] — ray-crossing parity test, the analog of VTK
  *     `select_enclosed_points` (/root/reference/vtk_flag_regions.py:66);
  *   - [[surfaceZ]] — vertical-ray elevation, mean of hits, the analog of
  *     `get_elevation` / `Raytracer._raytrace_z`
  *     (/root/reference/pd_vtk.py:771-796, 1206-1221).
  *
  * A BVH over triangle AABBs accelerates both. It is `@transient` and never
  * serialized: the geometry expressions (operators.GeomExpressions) carry
  * their meshes in the task binary as codegen reference objects, every
  * task deserializes its own TriMesh copies, and each copy builds its
  * index on its first query — once per mesh per task. The build allocates
  * O(nTris) up front and nothing per node: about 20 ms for a
  * 20,000-triangle heightfield (4-core host, warm JIT).
  */
final case class TriMesh(name: String, verts: Array[Double], tris: Array[Int])
    extends Serializable {

  def nVerts: Int = verts.length / 3
  def nTris: Int = tris.length / 3

  /** xmin,xmax,ymin,ymax,zmin,zmax (VTK bounds order). */
  @transient lazy val bounds: Array[Double] = {
    val b = Array(Double.MaxValue, Double.MinValue, Double.MaxValue,
      Double.MinValue, Double.MaxValue, Double.MinValue)
    var i = 0
    while (i < verts.length) {
      val x = verts(i); val y = verts(i + 1); val z = verts(i + 2)
      if (x < b(0)) b(0) = x; if (x > b(1)) b(1) = x
      if (y < b(2)) b(2) = y; if (y > b(3)) b(3) = y
      if (z < b(4)) b(4) = z; if (z > b(5)) b(5) = z
      i += 3
    }
    b
  }

  // ---- BVH ----------------------------------------------------------------
  // Flat-array BVH ([[Bvh]]): median split on the longest axis, leaves ≤ 4
  // triangles; built on this instance's first query.
  @transient private lazy val bvh: Bvh = Bvh.build(this)

  /** All ray-hit parameters t ≥ tMin along origin + t·dir (unsorted). */
  def rayHits(ox: Double, oy: Double, oz: Double,
      dx: Double, dy: Double, dz: Double, tMin: Double): Array[Double] =
    bvh.rayHits(this, ox, oy, oz, dx, dy, dz, tMin)

  /** Point-in-solid parity test. The ray direction is a fixed, slightly
    * irregular unit vector so axis-aligned faces are never hit edge-on. */
  def containsPoint(x: Double, y: Double, z: Double): Boolean = {
    val b = bounds
    if (x < b(0) || x > b(1) || y < b(2) || y > b(3) || z < b(4) || z > b(5))
      return false
    val hits = rayHits(x, y, z, TriMesh.RayDx, TriMesh.RayDy, TriMesh.RayDz, 1e-12)
    (hits.length & 1) == 1
  }

  /** Elevation of the mesh above (x,y): mean z of all vertical-ray hits,
    * NaN when the column misses the mesh (pd_vtk.py:771-796 semantics). */
  def surfaceZ(x: Double, y: Double): Double = {
    val b = bounds
    if (x < b(0) || x > b(1) || y < b(2) || y > b(3)) return Double.NaN
    val z0 = b(4) - 1.0
    val hits = rayHits(x, y, z0, 0.0, 0.0, 1.0, 0.0)
    if (hits.isEmpty) Double.NaN
    else {
      var s = 0.0; var i = 0
      while (i < hits.length) { s += z0 + hits(i); i += 1 }
      s / hits.length
    }
  }

  /** True when a vertical line through (x,y) hits the mesh — the 2D
    * footprint test of `vtk_flag_region_2d`
    * (/root/reference/vtk_flag_regions.py:28-52). */
  def underFootprint(x: Double, y: Double): Boolean = !surfaceZ(x, y).isNaN

  /** Möller–Trumbore ray/triangle intersection; returns t or NaN. */
  private[model] def rayTri(ti: Int, ox: Double, oy: Double, oz: Double,
      dx: Double, dy: Double, dz: Double): Double = {
    val a = tris(3 * ti) * 3; val b = tris(3 * ti + 1) * 3; val c = tris(3 * ti + 2) * 3
    val e1x = verts(b) - verts(a); val e1y = verts(b + 1) - verts(a + 1); val e1z = verts(b + 2) - verts(a + 2)
    val e2x = verts(c) - verts(a); val e2y = verts(c + 1) - verts(a + 1); val e2z = verts(c + 2) - verts(a + 2)
    val px = dy * e2z - dz * e2y
    val py = dz * e2x - dx * e2z
    val pz = dx * e2y - dy * e2x
    val det = e1x * px + e1y * py + e1z * pz
    if (math.abs(det) < 1e-14) return Double.NaN
    val inv = 1.0 / det
    val tx = ox - verts(a); val ty = oy - verts(a + 1); val tz = oz - verts(a + 2)
    val u = (tx * px + ty * py + tz * pz) * inv
    if (u < -1e-12 || u > 1 + 1e-12) return Double.NaN
    val qx = ty * e1z - tz * e1y
    val qy = tz * e1x - tx * e1z
    val qz = tx * e1y - ty * e1x
    val v = (dx * qx + dy * qy + dz * qz) * inv
    if (v < -1e-12 || u + v > 1 + 1e-12) return Double.NaN
    (e2x * qx + e2y * qy + e2z * qz) * inv
  }
}

object TriMesh {
  // fixed quasi-random parity-ray direction (unit-ish; exactness irrelevant)
  val RayDx = 0.0012345
  val RayDy = 0.0023456
  val RayDz = 1.0

  /** Axis-aligned box solid as 12 triangles — the shape of the sample
    * region solids (vox_region*.vtk, FIXTURES.md §2). */
  def box(name: String, x0: Double, x1: Double, y0: Double, y1: Double,
      z0: Double, z1: Double): TriMesh = {
    val v = Array(
      x0, y0, z0, x1, y0, z0, x1, y1, z0, x0, y1, z0, // bottom 0-3
      x0, y0, z1, x1, y0, z1, x1, y1, z1, x0, y1, z1) // top 4-7
    val t = Array(
      0, 2, 1, 0, 3, 2, // bottom
      4, 5, 6, 4, 6, 7, // top
      0, 1, 5, 0, 5, 4, // y0 side
      2, 3, 7, 2, 7, 6, // y1 side
      1, 2, 6, 1, 6, 5, // x1 side
      3, 0, 4, 3, 4, 7) // x0 side
    TriMesh(name, v, t)
  }

  /** Planar quad surface (two triangles) through four points — the shape of
    * the sample mine surfaces (vox_mine_up/down.vtk, FIXTURES.md §3). */
  def quad(name: String, p: Array[Double]): TriMesh = {
    require(p.length == 12, "quad needs 4 xyz points")
    TriMesh(name, p, Array(0, 1, 2, 0, 2, 3))
  }

  /** n×n-node heightfield surface (2(n−1)² triangles) on a square lattice
    * from (x0, y0) with spacing `step`, each lattice square split along its
    * (i+1, j)–(i, j+1) diagonal; node z = z(x, y), called once per node
    * in row-major order (j outer, i inner). */
  private[graft] def heightfield(name: String, x0: Double, y0: Double, step: Double,
      n: Int)(z: (Double, Double) => Double): TriMesh = {
    val v = new Array[Double](3 * n * n)
    for (j <- 0 until n; i <- 0 until n) {
      val p = 3 * (j * n + i); val x = x0 + step * i; val y = y0 + step * j
      v(p) = x; v(p + 1) = y; v(p + 2) = z(x, y)
    }
    val t = for (j <- 0 until n - 1; i <- 0 until n - 1; a = j * n + i;
      k <- Seq(a, a + 1, a + n, a + 1, a + n + 1, a + n)) yield k
    TriMesh(name, v, t.toArray)
  }
}

/** Flat-array median-split BVH, built once per mesh instance (so once per
  * task, see [[TriMesh]]); queries prune by slab test. A node is a leaf iff
  * its first info word is negative. */
private[model] final class Bvh(
    val boxes: Array[Double],   // 6 per node: xmin,xmax,ymin,ymax,zmin,zmax
    val info: Array[Int],       // 2 per node: (leftChild, 0) or (~firstTriSlot, triCount)
    val order: Array[Int]) {    // triangle indices, leaves reference slots here

  def rayHits(m: TriMesh, ox: Double, oy: Double, oz: Double,
      dx: Double, dy: Double, dz: Double, tMin: Double): Array[Double] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Double]
    val stack = new Array[Int](64)
    var sp = 0
    stack(sp) = 0; sp += 1
    while (sp > 0) {
      sp -= 1
      val n = stack(sp)
      if (slabHit(n, ox, oy, oz, dx, dy, dz)) {
        val a = info(2 * n); val cnt = info(2 * n + 1)
        if (a < 0) { // leaf, possibly empty (the root of a 0-triangle mesh)
          val first = ~a
          var s = 0
          while (s < cnt) {
            val t = m.rayTri(order(first + s), ox, oy, oz, dx, dy, dz)
            if (!t.isNaN && t >= tMin) out += t
            s += 1
          }
        } else {
          stack(sp) = a; sp += 1
          stack(sp) = a + 1; sp += 1
        }
      }
    }
    out.toArray
  }

  private def slabHit(n: Int, ox: Double, oy: Double, oz: Double,
      dx: Double, dy: Double, dz: Double): Boolean = {
    val o = 6 * n
    var t0 = 0.0
    var t1 = Double.MaxValue
    var ax = 0
    while (ax < 3) {
      val lo = boxes(o + 2 * ax); val hi = boxes(o + 2 * ax + 1)
      val oc = ax match { case 0 => ox; case 1 => oy; case _ => oz }
      val dc = ax match { case 0 => dx; case 1 => dy; case _ => dz }
      if (math.abs(dc) < 1e-300) {
        if (oc < lo - 1e-9 || oc > hi + 1e-9) return false
      } else {
        val inv = 1.0 / dc
        var ta = (lo - oc) * inv
        var tb = (hi - oc) * inv
        if (ta > tb) { val tmp = ta; ta = tb; tb = tmp }
        if (ta > t0) t0 = ta
        if (tb < t1) t1 = tb
        if (t0 > t1 + 1e-9) return false
      }
      ax += 1
    }
    true
  }
}

private[model] object Bvh {
  private final val LeafMax = 4

  /** Median-split BVH in breadth-first node order, so a node's children sit
    * at (l, l + 1). Allocation is O(nTris) up front and nothing per node:
    * node boxes and info go straight into preallocated arrays (a median
    * split with leaves ≤ [[LeafMax]] makes fewer than 2·nTris nodes, one
    * root for an empty mesh), the BFS queue is an int array, and each split
    * reorders its `order` slice with a stable primitive merge sort. A
    * stable sort by `java.lang.Double.compare` of the centroid is one fixed
    * permutation, so the tree — and with it every traversal and summation
    * order — is a pure function of the mesh. */
  def build(m: TriMesh): Bvh = {
    val n = m.nTris
    val cent = new Array[Double](3 * n)
    val triBox = new Array[Double](6 * n)
    var t = 0
    while (t < n) {
      var ax = 0
      while (ax < 3) {
        val a = m.verts(m.tris(3 * t) * 3 + ax)
        val b = m.verts(m.tris(3 * t + 1) * 3 + ax)
        val c = m.verts(m.tris(3 * t + 2) * 3 + ax)
        triBox(6 * t + 2 * ax) = math.min(a, math.min(b, c))
        triBox(6 * t + 2 * ax + 1) = math.max(a, math.max(b, c))
        cent(3 * t + ax) = (a + b + c) / 3.0
        ax += 1
      }
      t += 1
    }
    val order = Array.range(0, n)
    val cap = math.max(1, 2 * n - 1)
    val boxes = new Array[Double](6 * cap)
    val info = new Array[Int](2 * cap)
    // node i's (first, cnt) slice of `order`; nodes are numbered in the
    // order they are queued, so the queue is walked by node index
    val queue = new Array[Int](2 * cap)
    // merge-sort scratch: the slice's keys and the buffers a merge reads from
    val key = new Array[Double](n)
    val tmpOrder = new Array[Int](n)
    val tmpKey = new Array[Double](n)
    var nNodes = 1
    queue(0) = 0; queue(1) = n
    var node = 0
    while (node < nNodes) {
      val first = queue(2 * node); val cnt = queue(2 * node + 1); val end = first + cnt
      val o = 6 * node
      var ax = 0
      while (ax < 3) {
        var lo = Double.MaxValue; var hi = Double.MinValue
        var s = first
        while (s < end) {
          val tb = 6 * order(s) + 2 * ax
          if (triBox(tb) < lo) lo = triBox(tb)
          if (triBox(tb + 1) > hi) hi = triBox(tb + 1)
          s += 1
        }
        boxes(o + 2 * ax) = lo; boxes(o + 2 * ax + 1) = hi
        ax += 1
      }
      if (cnt <= LeafMax) {
        info(2 * node) = ~first
        info(2 * node + 1) = cnt
      } else {
        // longest axis of the centroid extent
        var bestAx = 0; var bestExt = -1.0
        var a2 = 0
        while (a2 < 3) {
          var lo = Double.MaxValue; var hi = Double.MinValue
          var s = first
          while (s < end) {
            val c = cent(3 * order(s) + a2)
            if (c < lo) lo = c; if (c > hi) hi = c
            s += 1
          }
          if (hi - lo > bestExt) { bestExt = hi - lo; bestAx = a2 }
          a2 += 1
        }
        var s = first
        while (s < end) { key(s) = cent(3 * order(s) + bestAx); s += 1 }
        mergeSort(order, key, first, end, tmpOrder, tmpKey)
        val mid = cnt / 2
        val l = nNodes
        nNodes += 2
        info(2 * node) = l
        info(2 * node + 1) = 0
        queue(2 * l) = first; queue(2 * l + 1) = mid
        queue(2 * l + 2) = first + mid; queue(2 * l + 3) = cnt - mid
      }
      node += 1
    }
    new Bvh(java.util.Arrays.copyOf(boxes, 6 * nNodes),
      java.util.Arrays.copyOf(info, 2 * nNodes), order)
  }

  /** Stable ascending sort of `order[lo, hi)` by the parallel `key[lo, hi)`
    * under `java.lang.Double.compare`: insertion sort on short runs, merges
    * above them, reading from `tmpOrder`/`tmpKey`. */
  private def mergeSort(order: Array[Int], key: Array[Double], lo: Int, hi: Int,
      tmpOrder: Array[Int], tmpKey: Array[Double]): Unit =
    if (hi - lo <= 16) {
      var i = lo + 1
      while (i < hi) {
        val oi = order(i); val ki = key(i)
        var j = i - 1
        while (j >= lo && java.lang.Double.compare(key(j), ki) > 0) {
          order(j + 1) = order(j); key(j + 1) = key(j)
          j -= 1
        }
        order(j + 1) = oi; key(j + 1) = ki
        i += 1
      }
    } else {
      val mid = (lo + hi) >>> 1
      mergeSort(order, key, lo, mid, tmpOrder, tmpKey)
      mergeSort(order, key, mid, hi, tmpOrder, tmpKey)
      if (java.lang.Double.compare(key(mid - 1), key(mid)) > 0) {
        // merge back into [lo, hi); once the left run is spent the rest of
        // the right run is already in place
        System.arraycopy(order, lo, tmpOrder, lo, mid - lo)
        System.arraycopy(key, lo, tmpKey, lo, mid - lo)
        var i = lo; var j = mid; var d = lo
        while (i < mid) {
          if (j < hi && java.lang.Double.compare(key(j), tmpKey(i)) < 0) {
            order(d) = order(j); key(d) = key(j); j += 1
          } else {
            order(d) = tmpOrder(i); key(d) = tmpKey(i); i += 1
          }
          d += 1
        }
      }
    }
}
