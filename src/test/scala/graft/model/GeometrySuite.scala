package graft.model

import org.scalatest.funsuite.AnyFunSuite

class TriMeshSuite extends AnyFunSuite {
  private val box = TriMesh.box("b", 0, 10, 0, 20, 0, 30)

  test("containsPoint matches analytic box") {
    assert(box.containsPoint(5, 5, 5))
    assert(box.containsPoint(9.99, 19.99, 29.99))
    assert(!box.containsPoint(-0.1, 5, 5))
    assert(!box.containsPoint(5, 20.1, 5))
    assert(!box.containsPoint(5, 5, 30.5))
    assert(!box.containsPoint(50, 50, 50))
  }

  test("containsPoint on a dense sample grid vs analytic predicate") {
    val b = TriMesh.box("b", 1.3, 7.7, 2.1, 8.9, 3.2, 9.8)
    var errs = 0
    for (x <- 0 to 10; y <- 0 to 10; z <- 0 to 10) {
      val px = x + 0.5; val py = y + 0.5; val pz = z + 0.5
      val expected = px > 1.3 && px < 7.7 && py > 2.1 && py < 8.9 && pz > 3.2 && pz < 9.8
      if (b.containsPoint(px, py, pz) != expected) errs += 1
    }
    assert(errs == 0)
  }

  test("surfaceZ: flat quad gives the plane height, NaN off-footprint") {
    val q = TriMesh.quad("q", Array(0, 0, 5, 10, 0, 5, 10, 10, 5, 0, 10, 5))
    assert(math.abs(q.surfaceZ(3.3, 4.4) - 5.0) < 1e-9)
    assert(q.surfaceZ(11.0, 4.4).isNaN)
  }

  test("surfaceZ: sloped plane interpolates") {
    // z = 1 + 0.1x + 0.2y
    val q = TriMesh.quad("q", Array(0, 0, 1, 10, 0, 2, 10, 10, 4, 0, 10, 3))
    assert(math.abs(q.surfaceZ(4.0, 6.0) - (1 + 0.4 + 1.2)) < 1e-9)
  }

  test("BVH handles a mesh with many triangles (tessellated plane)") {
    // 20×20 grid of quads → 800 triangles at z = 7
    val n = 20
    val verts = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (j <- 0 to n; i <- 0 to n) verts ++= Seq(i.toDouble, j.toDouble, 7.0)
    val tris = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (j <- 0 until n; i <- 0 until n) {
      val v0 = j * (n + 1) + i
      tris ++= Seq(v0, v0 + 1, v0 + n + 2, v0, v0 + n + 2, v0 + n + 1)
    }
    val m = TriMesh("plane", verts.toArray, tris.toArray)
    assert(math.abs(m.surfaceZ(10.25, 15.75) - 7.0) < 1e-9)
    assert(m.surfaceZ(20.5, 10.0).isNaN)
  }

  test("a mesh with vertices but no triangles has no hits") {
    val e = TriMesh("e", Array(0.0, 0, 0, 10, 10, 10), Array())
    assert(!e.containsPoint(1, 1, 1))
    assert(!e.containsPoint(Double.NaN, 1, 1))
    assert(e.surfaceZ(1, 1).isNaN)
    assert(!e.underFootprint(5, 5))
    assert(e.rayHits(1, 1, 1, 0, 0, 1, 0).isEmpty)
    val none = TriMesh("none", Array(), Array())
    assert(!none.containsPoint(Double.NaN, 0, 0) && none.surfaceZ(Double.NaN, 0).isNaN)
  }

  import TriMeshSuite.{Ellipsoid, Heightfield, ReferenceBvh}

  /** Every triangle's ray parameter t ≥ tMin, in triangle order. */
  private def bruteHits(m: TriMesh, ox: Double, oy: Double, oz: Double,
      dx: Double, dy: Double, dz: Double, tMin: Double): Seq[Double] =
    (0 until m.nTris).map(m.rayTri(_, ox, oy, oz, dx, dy, dz))
      .filter(t => !t.isNaN && t >= tMin)

  private def inBox(b: Array[Double], x: Double, y: Double, z: Double): Boolean =
    x >= b(0) && x <= b(1) && y >= b(2) && y <= b(3) && z >= b(4) && z <= b(5)

  /** containsPoint exactly equals parity over all triangles; surfaceZ has
    * the same vertical-ray hit count and mean within 1e-9. */
  private def assertBruteParity(m: TriMesh, xs: Seq[Double], ys: Seq[Double],
      zs: Seq[Double]): Unit = {
    val b = m.bounds
    var inside = 0; var multi = 0
    for (x <- xs; y <- ys) {
      for (z <- zs) {
        val want = inBox(b, x, y, z) &&
          bruteHits(m, x, y, z, TriMesh.RayDx, TriMesh.RayDy, TriMesh.RayDz, 1e-12).size % 2 == 1
        assert(m.containsPoint(x, y, z) == want, s"containsPoint($x, $y, $z)")
        if (want) inside += 1
      }
      val z0 = b(4) - 1.0
      val want = if (inBox(b, x, y, b(4))) bruteHits(m, x, y, z0, 0, 0, 1, 0) else Nil
      assert(m.rayHits(x, y, z0, 0, 0, 1, 0).length == want.size, s"hits at ($x, $y)")
      val got = m.surfaceZ(x, y)
      if (want.isEmpty) assert(got.isNaN, s"surfaceZ($x, $y)")
      else assert(math.abs(got - want.map(z0 + _).sum / want.size) < 1e-9, s"surfaceZ($x, $y)")
      if (want.size > 1) multi += 1
    }
    // the lattice reaches inside the solid and through shared edges/vertices
    assert((zs.isEmpty || inside > 0) && multi > 0)
  }

  test("large heightfield: BVH kernels equal a brute-force loop over every triangle") {
    val h = Heightfield.mesh
    assert(h.nTris == 20000)
    // sample steps 7 and 11 against lattice step 3: every third column
    // lands on lattice nodes and every third diagonal on split edges
    def axis(o: Double, step: Double) = (0 until 46).map(o - 4 + step * _).takeWhile(_ <= o + 304)
    assertBruteParity(h, axis(Heightfield.X0, 7), axis(Heightfield.Y0, 7), Nil)
    assertBruteParity(h, axis(Heightfield.X0, 11), axis(Heightfield.Y0, 11),
      Seq(100.0, 141.7, 150.3, 158.9, 200.0))
  }

  test("lat/long ellipsoid: BVH kernels equal a brute-force loop over every triangle") {
    val e = Ellipsoid.mesh
    assert(e.nTris == 728)
    // the lattice runs through the poles' x/y, where the fan triangles meet
    def axis(c: Double) = (-12 to 12).map(c + 3.7 * _)
    assertBruteParity(e, axis(Ellipsoid.Cx), axis(Ellipsoid.Cy), axis(Ellipsoid.Cz))
  }

  test("BVH tree is the sortBy reference builder's, array for array") {
    val meshes = Seq(Heightfield.mesh, Ellipsoid.mesh, box,
      TriMesh.quad("q", Array(0, 0, 1, 10, 0, 2, 10, 10, 4, 0, 10, 3)),
      TriMesh("e", Array(0.0, 0, 0, 10, 10, 10), Array()))
    for (m <- meshes) {
      val got = Bvh.build(m); val want = ReferenceBvh.build(m)
      assert(java.util.Arrays.equals(got.boxes, want.boxes), m.name)
      assert(java.util.Arrays.equals(got.info, want.info), m.name)
      assert(java.util.Arrays.equals(got.order, want.order), m.name)
    }
  }
}

object TriMeshSuite {
  /** 101×101-node heightfield (20,000 triangles) on a step-3 lattice,
    * smooth relief plus seeded jitter. */
  object Heightfield {
    val X0 = 1000.0; val Y0 = 2000.0
    lazy val mesh: TriMesh = {
      val r = new java.util.SplittableRandom(11)
      TriMesh.heightfield("hf", X0, Y0, 3.0, 101) { (x, y) =>
        150 + 8 * math.sin(x / 37) * math.cos(y / 53) + r.nextDouble()
      }
    }
  }

  /** Latitude/longitude ellipsoid, 14 × 28 (728 triangles), rotated about z. */
  object Ellipsoid {
    val Cx = 50.0; val Cy = -20.0; val Cz = 10.0
    lazy val mesh: TriMesh = {
      val (nLat, nLon, a, b, c, th) = (14, 28, 40.0, 25.0, 15.0, 0.6)
      val v = scala.collection.mutable.ArrayBuffer.empty[Double]
      def add(ux: Double, uy: Double, uz: Double): Unit =
        v ++= Seq(Cx + ux * a * math.cos(th) - uy * b * math.sin(th),
          Cy + ux * a * math.sin(th) + uy * b * math.cos(th), Cz + uz * c)
      add(0, 0, 1)
      for (t <- 1 until nLat; s <- 0 until nLon) {
        val phi = math.Pi * t / nLat; val lam = 2 * math.Pi * s / nLon
        add(math.sin(phi) * math.cos(lam), math.sin(phi) * math.sin(lam), math.cos(phi))
      }
      add(0, 0, -1)
      val bottom = 1 + (nLat - 1) * nLon
      def ring(t: Int, s: Int): Int = 1 + (t - 1) * nLon + (s % nLon)
      val tris = scala.collection.mutable.ArrayBuffer.empty[Int]
      for (s <- 0 until nLon) tris ++= Seq(0, ring(1, s), ring(1, s + 1))
      for (t <- 1 until nLat - 1; s <- 0 until nLon)
        tris ++= Seq(ring(t, s), ring(t + 1, s), ring(t + 1, s + 1),
          ring(t, s), ring(t + 1, s + 1), ring(t, s + 1))
      for (s <- 0 until nLon) tris ++= Seq(bottom, ring(nLat - 1, s + 1), ring(nLat - 1, s))
      TriMesh("ellipsoid", v.toArray, tris.toArray)
    }
  }

  /** The earlier BVH builder, kept as the tree-shape reference: the same
    * breadth-first median split, with each split's slice reordered by
    * Scala's stable `sortBy` on the centroid. */
  object ReferenceBvh {
    def build(m: TriMesh): Bvh = {
      val n = m.nTris
      val cent = new Array[Double](3 * n)
      val triBox = new Array[Double](6 * n)
      for (t <- 0 until n; ax <- 0 until 3) {
        val a = m.verts(m.tris(3 * t) * 3 + ax)
        val b = m.verts(m.tris(3 * t + 1) * 3 + ax)
        val c = m.verts(m.tris(3 * t + 2) * 3 + ax)
        triBox(6 * t + 2 * ax) = math.min(a, math.min(b, c))
        triBox(6 * t + 2 * ax + 1) = math.max(a, math.max(b, c))
        cent(3 * t + ax) = (a + b + c) / 3.0
      }
      val order = Array.range(0, n)
      val boxes = scala.collection.mutable.ArrayBuffer.empty[Double]
      val info = scala.collection.mutable.ArrayBuffer.empty[Int]
      def alloc(): Int = {
        boxes ++= Seq(0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
        info ++= Seq(0, 0)
        boxes.length / 6 - 1
      }
      val queue = scala.collection.mutable.Queue((alloc(), 0, n))
      while (queue.nonEmpty) {
        val (node, first, cnt) = queue.dequeue()
        val b = Array(Double.MaxValue, Double.MinValue, Double.MaxValue,
          Double.MinValue, Double.MaxValue, Double.MinValue)
        for (s <- first until first + cnt; ax <- 0 until 3) {
          val ti = order(s)
          if (triBox(6 * ti + 2 * ax) < b(2 * ax)) b(2 * ax) = triBox(6 * ti + 2 * ax)
          if (triBox(6 * ti + 2 * ax + 1) > b(2 * ax + 1)) b(2 * ax + 1) = triBox(6 * ti + 2 * ax + 1)
        }
        for (k <- 0 until 6) boxes(6 * node + k) = b(k)
        if (cnt <= 4) {
          info(2 * node) = ~first
          info(2 * node + 1) = cnt
        } else {
          var bestAx = 0; var bestExt = -1.0
          for (a2 <- 0 until 3) {
            var lo = Double.MaxValue; var hi = Double.MinValue
            for (s <- first until first + cnt) {
              val c = cent(3 * order(s) + a2)
              if (c < lo) lo = c; if (c > hi) hi = c
            }
            if (hi - lo > bestExt) { bestExt = hi - lo; bestAx = a2 }
          }
          val sorted = order.slice(first, first + cnt).sortBy(ti => cent(3 * ti + bestAx))
          System.arraycopy(sorted, 0, order, first, cnt)
          val mid = cnt / 2
          val l = alloc(); val r = alloc()
          info(2 * node) = l
          info(2 * node + 1) = 0
          queue.enqueue((l, first, mid), (r, first + mid, cnt - mid))
        }
      }
      new Bvh(boxes.toArray, info.toArray, order)
    }
  }
}

class GridSchemaSuite extends AnyFunSuite {
  private val g = GridSchema(1000, 2000, 100, 10, 10, 10, 30, 20, 20)

  test("id ↔ ijk round-trip, x-fastest ordering") {
    assert(g.nCells == 12000)
    val id = g.id(3, 4, 5)
    assert(id == 3 + 30 * (4 + 20 * 5))
    assert((g.i(id), g.j(id), g.k(id)) == ((3, 4, 5)))
  }

  test("center ↔ cellAt inverse") {
    val (x, y, z) = g.center(7, 11, 13)
    assert((x, y, z) == ((1075.0, 2115.0, 235.0)))
    assert(g.cellAt(x, y, z) == g.id(7, 11, 13))
    assert(g.cellAt(999.0, 2005.0, 105.0) == -1L)
  }

  test("rotated grid: centers rotate about the point, cellAt inverts") {
    val r = g.copy(bearing = 45.0, rotX = 1000, rotY = 2000)
    val (x, y, z) = r.center(3, 2, 1)
    val (x0, y0, _) = g.center(3, 2, 1)
    // distance from rotation point is preserved
    val d0 = math.hypot(x0 - 1000, y0 - 2000)
    assert(math.abs(math.hypot(x - 1000, y - 2000) - d0) < 1e-9)
    assert(z == 115.0)
    assert(r.cellAt(x, y, z) == r.id(3, 2, 1))
  }

  test("fromBb applies the reference padding (+5 dims, −2 cells origin)") {
    val b = GridSchema.fromBb(Array(0, 100, 0, 50, 0, 30), 10, 10, 10)
    assert((b.nx, b.ny, b.nz) == ((15, 10, 8)))
    assert((b.ox, b.oy, b.oz) == ((-20.0, -20.0, -20.0)))
  }

  test("fromBbSchema parses size;offset;bearing") {
    val s = GridSchema.fromBbSchema(Array(0, 100, 0, 50, 0, 30), "10,10,10;0;45")
    assert(s.bearing == 45.0)
    assert(s.rotated)
    val u = GridSchema.fromBbSchema(Array(0, 100, 0, 50, 0, 30), "10")
    assert((u.sx, u.sy, u.sz) == ((10.0, 10.0, 10.0)))
    assert(!u.rotated)
  }
}
