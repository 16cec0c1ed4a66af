package perfbench

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.model.GridSchema

class BenchSuite extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", 2L)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val g = GridSchema(1000, 2000, 100, 5, 5, 5, 12, 10, 8)

  test("generators are deterministic per seed and change with the seed") {
    val dir = Files.createTempDirectory("perfbench-gen")
    def csv(seed: Long, name: String): Array[Byte] = {
      val p = dir.resolve(name)
      Gen.blockCsv(seed, g, p)
      Files.readAllBytes(p)
    }
    assert(csv(1, "a.csv").sameElements(csv(1, "b.csv")))
    assert(!csv(1, "c.csv").sameElements(csv(2, "d.csv")))

    def solids(seed: Long) = Gen.regions(seed, g).map(m => (m.verts.toSeq, m.tris.toSeq))
    assert(solids(1) == solids(1))
    assert(solids(1) != solids(2))

    def surfaces(seed: Long) = {
      val (topo, pits) = Gen.surfaces(seed, g, 11, 2)
      (topo +: pits).map(_.z.toSeq)
    }
    assert(surfaces(1) == surfaces(1))
    assert(surfaces(1) != surfaces(2))

    assert(Gen.corpus(1, 300) == Gen.corpus(1, 300))
    assert(Gen.corpus(1, 300) != Gen.corpus(2, 300))

    def schedule(seed: Long) = (0 until 40).map(Schedule.template(seed, _, 8))
    assert(schedule(1) == schedule(1))
    assert(schedule(1) != schedule(2))
    // every block of the schedule holds every template once
    schedule(3).grouped(8).foreach(b => assert(b.sorted == (0 until 8)))
  }

  test("latency tail is the highest percentile with ten samples above it") {
    assert(Seq(5, 10, 11, 15, 20, 26, 100, 1000, 5000).map(Stats.tailPercentile) ==
      Seq(0, 0, 9, 33, 50, 61, 90, 99, 99))
    for (n <- 11 to 600) {
      val p = Stats.tailPercentile(n)
      def above(q: Int) = n - math.max(1, (q * n + 99) / 100)
      assert(above(p) >= 10, s"n=$n p=$p")
      assert(p == 99 || above(p + 1) < 10, s"n=$n: p${p + 1} also has ten above")
    }
    assert(Stats.tail((1 to 100).map(_.toDouble).reverse) == ((90, 90.0)))
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == ((0, 1.0)))
  }

  test("every ladder prefix reads exactly the columns its full request reads") {
    val dir = Files.createTempDirectory("perfbench-ladder")
    val reserves = new ReservesWorkload(spark, 1, dir.resolve("reserves"))
    reserves.setup(0)
    reserves.templates.foreach { case (kind, spec) =>
      val (prefixes, full) = reserves.prefixes(spec, 0)
      val want = Workload.scannedColumns(full)
      assert(want.nonEmpty && want.flatten.toSet.contains("x"), kind)
      prefixes.foreach(p => assert(Workload.scannedColumns(p) == want, kind))
    }
  }

  test("the reference comparison finds a wrong answer") {
    val want = Array[Row](Row("oxide", 10L, 1.5), Row("fresh", 4L, 2.0))
    assert(Ref.diff(want.reverse, want, 1).isEmpty)
    assert(Ref.diff(Array(Row("oxide", 10L, 1.5), Row("fresh", 4L, 2.1)), want, 1).isDefined)
    assert(Ref.diff(want.take(1), want, 1).isDefined)
    assert(Ref.diff(Array(Row("oxide", 10L, 1.5), Row("fresh", 5L, 2.0)), want, 1).isDefined)
  }

  test("half-space containment agrees with the solid's own point test") {
    val solid = Gen.regions(4, g).head
    val hs = new Ref.HalfSpaces(solid)
    val r = new java.util.SplittableRandom(9)
    val b = solid.bounds
    for (_ <- 0 until 2000) {
      val (x, y, z) = (b(0) + (b(1) - b(0)) * r.nextDouble(),
        b(2) + (b(3) - b(2)) * r.nextDouble(), b(4) + (b(5) - b(4)) * r.nextDouble())
      assert(hs.contains(x, y, z) == solid.containsPoint(x, y, z), s"($x, $y, $z)")
    }
  }

  test("direct triangle lookup agrees with the surface's own elevation") {
    val (topo, pits) = Gen.surfaces(5, g, 21, 1)
    val r = new java.util.SplittableRandom(3)
    for (h <- Seq(topo, pits.head); _ <- 0 until 500) {
      val x = g.ox + g.nx * g.sx * r.nextDouble()
      val y = g.oy + g.ny * g.sy * r.nextDouble()
      assert(math.abs(Ref.elevation(h, x, y) - h.mesh.surfaceZ(x, y)) < 1e-9)
    }
  }
}
