package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.model.{GridSchema, TriMesh}

/** Seeded input generators. Every generator is a pure function of its seed
  * and sizes: the same seed gives the same inputs, byte for byte, and the
  * engine receives only what these functions produce. */
object Gen {

  // ---- reserves: block model, region solids, mine surfaces ---------------

  val Litos: Seq[String] = Seq("oxide", "transition", "fresh")

  /** Convex solid: a latitude/longitude-triangulated ellipsoid, rotated
    * about z. Every quad of the lat/long grid is planar, so the mesh is a
    * convex polyhedron with 2·nLon·(nLat−1) triangles. */
  def ellipsoid(name: String, cx: Double, cy: Double, cz: Double,
      a: Double, b: Double, c: Double, theta: Double,
      nLat: Int = 14, nLon: Int = 28): TriMesh = {
    val verts = scala.collection.mutable.ArrayBuffer.empty[Double]
    def add(ux: Double, uy: Double, uz: Double): Unit = {
      val (px, py) = (ux * a, uy * b)
      verts += cx + px * math.cos(theta) - py * math.sin(theta)
      verts += cy + px * math.sin(theta) + py * math.cos(theta)
      verts += cz + uz * c
    }
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
    for (t <- 1 until nLat - 1; s <- 0 until nLon) {
      tris ++= Seq(ring(t, s), ring(t + 1, s), ring(t + 1, s + 1))
      tris ++= Seq(ring(t, s), ring(t + 1, s + 1), ring(t, s + 1))
    }
    for (s <- 0 until nLon) tris ++= Seq(bottom, ring(nLat - 1, s + 1), ring(nLat - 1, s))
    TriMesh(name, verts.toArray, tris.toArray)
  }

  /** Three region solids in list order: two overlapping solids inside the
    * model and one wholly outside it (like the reference's region1), so
    * last-wins flagging and an empty region are both exercised. */
  def regions(seed: Long, g: GridSchema): Seq[TriMesh] = {
    val r = new SplittableRandom(seed * 31 + 7)
    def in(lo: Double, hi: Double) = lo + (hi - lo) * r.nextDouble()
    val (wx, wy, wz) = (g.nx * g.sx, g.ny * g.sy, g.nz * g.sz)
    Seq(
      ellipsoid("region_a", g.ox + wx * in(0.35, 0.42), g.oy + wy * in(0.38, 0.45),
        g.oz + wz * in(0.45, 0.5), wx * in(0.2, 0.24), wy * in(0.16, 0.2),
        wz * in(0.17, 0.2), in(0, math.Pi)),
      ellipsoid("region_out", g.ox + wx * in(1.4, 1.6), g.oy + wy * in(0.4, 0.6),
        g.oz + wz * in(0.45, 0.55), wx * 0.2, wy * 0.2, wz * 0.2, in(0, math.Pi)),
      ellipsoid("region_b", g.ox + wx * in(0.58, 0.64), g.oy + wy * in(0.55, 0.62),
        g.oz + wz * in(0.5, 0.56), wx * in(0.16, 0.2), wy * in(0.2, 0.24),
        wz * in(0.15, 0.18), in(0, math.Pi)))
  }

  /** A heightfield surface: nodes on a regular (x, y) lattice, each lattice
    * square split along its (i+1, j)–(i, j+1) diagonal. Kept as the node
    * table so a checker can find the triangle under a point directly. */
  final case class Heightfield(name: String, x0: Double, y0: Double,
      step: Double, n: Int, z: Array[Double]) {
    def zAt(i: Int, j: Int): Double = z(j * n + i)
    def mesh: TriMesh = {
      val v = new Array[Double](n * n * 3)
      for (j <- 0 until n; i <- 0 until n) {
        val p = 3 * (j * n + i)
        v(p) = x0 + i * step; v(p + 1) = y0 + j * step; v(p + 2) = zAt(i, j)
      }
      val t = scala.collection.mutable.ArrayBuffer.empty[Int]
      for (j <- 0 until n - 1; i <- 0 until n - 1) {
        val a = j * n + i; val b = a + 1; val c = a + n; val d = c + 1
        t ++= Seq(a, b, c, b, d, c)
      }
      TriMesh(name, v, t.toArray)
    }
  }

  /** Topography plus a pool of pit surfaces, all on one lattice that
    * overhangs the model footprint by two cells, so every cell column lies
    * under every surface. A pit equals the topography outside its bowl. */
  def surfaces(seed: Long, g: GridSchema, n: Int, pits: Int)
      : (Heightfield, Seq[Heightfield]) = {
    val r = new SplittableRandom(seed * 17 + 3)
    val (wx, wy, wz) = (g.nx * g.sx, g.ny * g.sy, g.nz * g.sz)
    val x0 = g.ox - 2 * g.sx; val y0 = g.oy - 2 * g.sy
    val step = (math.max(wx, wy) + 4 * math.max(g.sx, g.sy)) / (n - 1)
    val (p1, p2) = (r.nextDouble() * 6, r.nextDouble() * 6)
    val topo = Array.tabulate(n * n) { q =>
      val (x, y) = (x0 + (q % n) * step, y0 + (q / n) * step)
      g.oz + wz * 0.93 + wz * 0.03 * math.sin(x / 60 + p1) * math.cos(y / 80 + p2) +
        g.sz * 0.3 * r.nextDouble()
    }
    val pool = (0 until pits).map { p =>
      val cx = g.ox + wx * (0.4 + 0.2 * r.nextDouble())
      val cy = g.oy + wy * (0.4 + 0.2 * r.nextDouble())
      val (rx, ry) = (wx * (0.3 + 0.08 * r.nextDouble()), wy * (0.3 + 0.08 * r.nextDouble()))
      val depth = wz * (0.45 + 0.15 * r.nextDouble())
      Heightfield(s"pit$p", x0, y0, step, n, Array.tabulate(n * n) { q =>
        val (x, y) = (x0 + (q % n) * step, y0 + (q / n) * step)
        val d = (x - cx) * (x - cx) / (rx * rx) + (y - cy) * (y - cy) / (ry * ry)
        topo(q) - depth * math.max(0.0, 1.0 - d)
      })
    }
    (Heightfield("topo", x0, y0, step, n, topo), pool)
  }

  // ---- curation: a text corpus with near-duplicates -----------------------

  private val Syllables = Seq("ka", "lo", "mi", "ten", "ra", "su", "vo", "ne",
    "pi", "dor", "ul", "tra", "bes", "qui", "zen", "ma", "gor", "li", "fa", "ex")
  private val Stop: Map[String, Seq[String]] =
    graft.ext.TextAnalysis.stopwords.toMap

  /** `n` documents (doc_id, text, lang, source). Text mixes a language's
    * stopwords with content words drawn from a 4 000-word vocabulary;
    * about 12% of documents are edited copies of an earlier original (near
    * duplicates) and 3% exact copies. Copies are made of originals only, so
    * duplicate clusters stay small, as in real corpora. Some documents carry
    * heavy punctuation, so the quality gate has work to do. */
  def corpus(seed: Long, n: Int): Seq[Row] = {
    val r = new SplittableRandom(seed * 101 + 11)
    val vocab = Array.tabulate(4000) { w =>
      val a = Syllables(w % 20); val b = Syllables((w / 20) % 20)
      val c = if (w >= 400) Syllables((w / 400) % 20) else ""
      a + b + c
    }
    val langs = Seq("en", "en", "en", "de", "es", "fr", "pt", "zh")
    val originals = scala.collection.mutable.ArrayBuffer.empty[String]
    val out = Array.tabulate(n) { id =>
      val lang = langs(r.nextInt(langs.size))
      val roll = r.nextDouble()
      val text =
        if (id > 10 && roll < 0.03) originals(r.nextInt(originals.size))
        else if (id > 10 && roll < 0.15) {
          val toks = originals(r.nextInt(originals.size)).split(" ")
          for (_ <- 0 until 1 + r.nextInt(3)) toks(r.nextInt(toks.length)) =
            vocab(r.nextInt(vocab.length))
          toks.mkString(" ")
        } else {
          val noisy = r.nextDouble() < 0.1
          val len = 12 + r.nextInt(29)
          val t = (0 until len).map { _ =>
            val w =
              if (Stop.contains(lang) && r.nextDouble() < 0.25) {
                val s = Stop(lang); s(r.nextInt(s.size))
              } else {
                val u = r.nextDouble(); vocab((u * u * vocab.length).toInt)
              }
            if (noisy && r.nextDouble() < 0.4) w + "!!"
            else if (r.nextDouble() < 0.08) w + ","
            else w
          }.mkString(" ")
          originals += t
          t
        }
      Row(id.toLong, text, lang, s"src${id % 20}")
    }
    out.toSeq
  }

  val CorpusSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType)))

  // ---- the block model as a CSV with −99 sentinels ------------------------

  /** Generator-side facts about a CSV the checker compares a read-back
    * store against. Grades are summed in thousandths, exactly. */
  final case class CsvFacts(rows: Long, sep: String, gradeNulls: Long,
      densityNulls: Long, sumI: Long, sumJ: Long, sumK: Long,
      gradeMilli: Long, litoCounts: Map[String, Long], bytes: Long)

  private def centi(v: Double): String = {
    val c = math.round(v * 100)
    s"${c / 100}." + (100 + c % 100).toString.substring(1)
  }
  private def milli(v: Int): String = s"${v / 1000}." + (1000 + v % 1000).toString.substring(1)

  /** Writes the CSV of grid `g` to `path` and returns its facts. The
    * separator is drawn by the seed, so the sniffer is exercised. */
  def blockCsv(seed: Long, g: GridSchema, path: java.nio.file.Path): CsvFacts = {
    val r = new SplittableRandom(seed * 7 + 5)
    val sep = Seq(",", ";", "\t")(r.nextInt(3))
    val w = java.nio.file.Files.newBufferedWriter(path)
    var gn, dn, si, sj, sk, gm = 0L
    val lc = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    try {
      w.write(Seq("i", "j", "k", "x", "y", "z", "grade", "lito", "density").mkString(sep))
      w.newLine()
      for (k <- 0 until g.nz; j <- 0 until g.ny; i <- 0 until g.nx) {
        val (x, y, z) = g.center(i, j, k)
        val gradeMilli = 300 + r.nextInt(2500)
        val lito = Litos(math.max(0, math.min(2, (3 * k) / g.nz + r.nextInt(3) / 2 - r.nextInt(2))))
        val holeG = r.nextDouble() < 0.05
        val holeD = r.nextDouble() < 0.02
        val dens = 2200 + r.nextInt(800)
        si += i; sj += j; sk += k; lc(lito) += 1
        if (holeG) gn += 1 else gm += gradeMilli
        if (holeD) dn += 1
        w.write(Seq(i.toString, j.toString, k.toString, centi(x), centi(y), centi(z),
          if (holeG) "-99" else milli(gradeMilli), lito,
          if (holeD) "-99" else milli(dens)).mkString(sep))
        w.newLine()
      }
    } finally w.close()
    CsvFacts(g.nCells, sep, gn, dn, si, sj, sk, gm, lc.toMap,
      java.nio.file.Files.size(path))
  }
}
