package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.SparkTest

/** [[Eval]]'s paired bootstrap test and its by-slice form. */
class EvalSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

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
}
