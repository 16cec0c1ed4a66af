package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.agg.SparkTest

/** Round-13 op: Ivf.recommendNprobe, the serving default made callable.
  * (The round's windowed-by-slice drift cases live in DriftSuite.) */
class Round13OpsSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  test("recommendNprobe: clustered corpus -> 2, isotropic -> k; knee logic edges") {
    val rnd = new scala.util.Random(131)
    def unit(dim: Int): Seq[Double] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n).toSeq
    }
    // isotropic: 200 random unit vectors — no cell structure to exploit
    val iso = (0 until 200).map(i => (i.toLong, unit(16)))
      .toDF("vec_id", "embedding")
    val cIso = Ivf.train(iso, k = 4, iters = 2)
    val (uvIso, npIso) = Ivf.recommendNprobe(iso, cIso)
    assert(uvIso > 0.7, s"isotropic unexplained_var $uvIso should be ~1")
    assert(npIso == 4, "isotropic: no nprobe < k is safe -> recommend k")
    // clustered: 4 tight Gaussian blobs at distant centers
    val centers = Seq(Seq(8.0, 0, 0, 0), Seq(0, 8.0, 0, 0),
      Seq(0, 0, 8.0, 0), Seq(0, 0, 0, 8.0))
    val clus = (0 until 200).map { i =>
      (i.toLong, centers(i % 4).map(_ + rnd.nextGaussian() * 0.5))
    }.toDF("vec_id", "embedding")
    val cClus = Ivf.train(clus, k = 4, iters = 3)
    val (uvClus, npClus) = Ivf.recommendNprobe(clus, cClus)
    assert(uvClus < 0.3, s"clustered unexplained_var $uvClus should be ~0")
    assert(npClus == 2, "clustered: one-cell ceiling + a safety cell")
    // the knee interpolation, clamped to [2, k]
    assert(Ivf.nprobeFor(0.0, 8) == 2 && Ivf.nprobeFor(1.0, 8) == 8)
    assert(Ivf.nprobeFor(0.5, 8) == 4 && Ivf.nprobeFor(0.26, 8) == 3)
  }
}
