package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.SparkTest

/** Round-14 additions: the IVF store's persisted serving recommendation
  * (topKFromStoreAuto, the metadata sidecar and its incremental append),
  * the paired bootstrap test and its by-slice form, plus the ADVICE r13
  * fixes (nprobeFor clamp order, unexplainedVar's loud empty-corpus
  * failure). Its drift cases live in DriftSuite. */
class Round14OpsSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  test("topKFromStoreAuto serves with the store's persisted recommendation") {
    val rnd = new java.util.Random(11)
    val centers = Array.fill(4, 8)(rnd.nextGaussian())
    val train = (0 until 160).map(i => (i.toLong,
        centers(i % 4).map(x => (x + 0.05 * rnd.nextGaussian()).toFloat)))
      .toDF("vec_id", "embedding")
    val cents = Ivf.train(train, k = 4, iters = 3)
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_auto").toString
    Ivf.writeStore(train, path, cents)
    val m = Ivf.readStoreMeta(spark, path).get
    val queries = train.filter(col("vec_id") < 3)
    val auto = Ivf.topKFromStoreAuto(spark, path, queries, 5, cents)
      .select("query_id", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val manual = Ivf.topKFromStore(spark, path, queries, 5, cents,
        m.recommendedNprobe)
      .select("query_id", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == manual,
      "auto must serve exactly the persisted recommendation's result")
    // a pre-sidecar store fails loudly with the remedy
    val legacy = java.nio.file.Files
      .createTempDirectory("graft_ivf_legacy").toString
    Ivf.assign(train, cents).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("ivf_bkt").parquet(legacy)
    val e = intercept[RuntimeException] {
      Ivf.topKFromStoreAuto(spark, legacy, queries, 5, cents)
    }
    assert(e.getMessage.contains("topKFromStore"))
  }

  test("pairedBootstrapTest: constant shift is significant, symmetric noise is not, pairing cancels unit variance") {
    val rnd = new java.util.Random(29)
    // per-unit baselines vary WILDLY (0..100) — an unpaired comparison
    // of the two means would drown a small shift in that variance; the
    // paired test sees only the per-unit deltas
    val base = (0 until 300).map(i => i.toLong -> rnd.nextDouble() * 100)
    // b = a + 0.5 exactly: every delta 0.5, every replicate mean 0.5
    val shifted = base.map { case (id, a) => (id, a, a + 0.5) }
      .toDF("id", "a", "b")
    val r = Eval.pairedBootstrapTest(shifted, "id", "a", "b").head()
    assert(r.getAs[Long]("n") == 300L)
    assert(r.getAs[Double]("mean_delta") == 0.5)
    assert(r.getAs[Double]("ci_lo") == 0.5 &&
      r.getAs[Double]("ci_hi") == 0.5,
      "a constant delta collapses every replicate mean to it")
    assert(r.getAs[Int]("b_better") == 1 &&
      r.getAs[Int]("significant") == 1 && r.getAs[Int]("a_better") == 0)
    // small shift against huge unit variance: still significant BECAUSE
    // paired (delta = 0.1 + small noise; unit scale 100)
    val small = base.map { case (id, a) =>
      (id, a, a + 0.1 + 0.02 * rnd.nextGaussian()) }.toDF("id", "a", "b")
    val rs = Eval.pairedBootstrapTest(small, "id", "a", "b").head()
    assert(rs.getAs[Int]("b_better") == 1,
      "pairing must cancel the unit variance and expose the 0.1 shift")
    // symmetric zero-mean noise: CI straddles 0
    val noise = base.map { case (id, a) =>
      (id, a, a + rnd.nextGaussian()) }.toDF("id", "a", "b")
    val rn = Eval.pairedBootstrapTest(noise, "id", "a", "b").head()
    assert(rn.getAs[Int]("significant") == 0,
      s"zero-mean noise must not flag: $rn")
  }

  test("pairedBootstrapTestBy rows equal pairedBootstrapTest on the slice subset, alarm localizes") {
    val rnd = new java.util.Random(31)
    // cohort c1 carries a real +0.4 shift; c0 pure noise — the by-slice
    // readout must flag exactly c1, and each row must equal the
    // unsliced test run on that cohort alone (same (salt, rep, id)
    // weights — the house per-slice property)
    val rows = (0 until 400).map { i =>
      val g = "c" + (i % 2)
      val a = rnd.nextDouble() * 50
      val shift = if (g == "c1") 0.4 else 0.0
      (i.toLong, g, a, a + shift + 0.05 * rnd.nextGaussian())
    }
    val df = rows.toDF("id", "g", "a", "b")
    val by = Eval.pairedBootstrapTestBy(df, "g", "id", "a", "b")
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(by.size == 2)
    for (g <- Seq("c0", "c1")) {
      val sub = Eval.pairedBootstrapTest(
        df.filter(col("g") === g), "id", "a", "b").head().toSeq
      assert(by(g) == sub, s"cohort $g must equal the unsliced test")
    }
    // dropped seq = (n, mean_delta, ci_lo, ci_hi, b_better, a_better,
    // significant) — b_better at 4, significant at 6
    assert(by("c1")(4).asInstanceOf[Int] == 1 &&
      by("c1")(6).asInstanceOf[Int] == 1, "shifted cohort flags b_better")
    assert(by("c0")(6).asInstanceOf[Int] == 0, "noise cohort stays quiet")
  }

  test("nprobeFor clamps into [min(2,k), k] — k=1 returns 1, not 2 (ADVICE r13)") {
    assert(Ivf.nprobeFor(1.0, 1) == 1)
    assert(Ivf.nprobeFor(0.0, 8) == 2)
    assert(Ivf.nprobeFor(1.0, 8) == 8)
    assert(Ivf.nprobeFor(0.5, 8) == 4)
  }

  test("unexplainedVar fails loudly on an empty corpus (ADVICE r13)") {
    val empty = Seq.empty[(Long, Array[Float])]
      .toDF("vec_id", "embedding")
    val e = intercept[RuntimeException] {
      Ivf.unexplainedVar(empty, Array(Array(1.0, 0.0)))
    }
    assert(e.getMessage.contains("empty corpus"))
  }

  test("IVF store metadata: writeStore persists the serving recommendation, append re-derives it incrementally") {
    val rnd = new java.util.Random(7)
    // tightly clustered training corpus: 4 centers, sigma 0.05 — the
    // coarse quantizer explains almost everything (uv ~ 0)
    val centers = Array.fill(4, 8)(rnd.nextGaussian())
    def around(c: Array[Double], sigma: Double) =
      c.map(x => (x + sigma * rnd.nextGaussian()).toFloat)
    val train = (0 until 200).map(i =>
        (i.toLong, around(centers(i % 4), 0.05)))
      .toDF("vec_id", "embedding")
    val cents = Ivf.train(train, k = 4, iters = 3)
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_meta").toString
    Ivf.writeStore(train, path, cents)
    val m0 = Ivf.readStoreMeta(spark, path).get
    assert(m0.nRows == 200L && m0.k == 4)
    assert(m0.unexplainedVar < 0.2, "clustered corpus must measure ~0")
    assert(m0.recommendedNprobe == 2, "clustered corpus serves nprobe=2")
    assert(m0.recommendedNprobe ==
      Ivf.nprobeFor(m0.unexplainedVar, m0.k))
    // the sidecar must be invisible to the data scan
    val dataCols = spark.read.parquet(path).columns.toSet
    assert(!dataCols.contains("recommended_nprobe"))
    // append a batch the trained centroids DON'T explain (the mirrored
    // clusters — far from every center, mean ≈ −trainMean): the
    // recommendation must re-derive UP and the staleness cosine flip
    val batch = (200 until 400).map(i =>
        (i.toLong, around(centers(i % 4).map(-_), 0.05)))
      .toDF("vec_id", "embedding")
    Ivf.appendToStore(batch, path, cents)
    val m1 = Ivf.readStoreMeta(spark, path).get
    assert(m1.nRows == 400L)
    assert(m1.unexplainedVar > m0.unexplainedVar,
      "a poorly-explained batch must push unexplained_var up")
    assert(m1.recommendedNprobe > m0.recommendedNprobe,
      "the serving recommendation must re-derive on append")
    // incremental exactness: the combined ratio is the sum of parts
    assert(math.abs(m1.unexplainedVar -
      m1.sumResid2 / m1.sumNorm2) < 1e-12)
    assert(m1.sumNorm2 > m0.sumNorm2 && m1.sumResid2 > m0.sumResid2)
    // staleness alarm: the training mean is fixed at build (no batch
    // cosine yet); the far-isotropic append records a collapsed cosine
    assert(m0.lastBatchCos.isEmpty)
    assert(m0.trainMean.length == 8)
    assert(m1.trainMean.toSeq == m0.trainMean.toSeq,
      "append must not move the training mean")
    assert(m1.lastBatchCos.isDefined && m1.lastBatchCos.get < -0.8,
      "the mirrored batch must flip the staleness cosine")
  }

}
