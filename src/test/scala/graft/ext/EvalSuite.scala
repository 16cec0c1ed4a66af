package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.SparkTest

/** [[Eval]] by component: threshold sweeps and ranking quality (prCurve,
  * aucRoc, aucRocBy), agreement and calibration (classMetrics,
  * cohenKappa, calibrationBins), rank-normalized blends (blend,
  * blendKeyed), the degenerate-input guards, and the bootstrap CI and
  * paired bootstrap test with their by-slice forms. The two-sample drift
  * tests live in DriftSuite. */
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

  test("prCurve's only keyed shuffle is the per-score aggregate") {
    val df = (1L to 100L).map(i => (i * 0.01, (i % 2).toInt))
      .toDF("score", "label")
    // the frame handed to the gate: the corpus collapses per score in
    // one keyed shuffle, and the gate pins that table
    val plan = Eval.prCurvePerScore(df, "score", "label")
      .queryExecution.executedPlan.toString
    val keyed = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(keyed == 1,
      s"the corpus must collapse per-score before the sweep, got $keyed keyed exchanges:\n$plan")
    val gated = Eval.prCurve(df, "score", "label")
      .queryExecution.executedPlan.toString
    assert(!"Exchange hashpartitioning".r.findAllIn(gated).hasNext,
      s"gated prCurve must read the pinned per-score table, not re-shuffle:\n$gated")
  }

  test("prCurve replays the hand-computed threshold sweep") {
    val df = Seq((0.9, 1), (0.8, 1), (0.8, 0), (0.5, 0), (0.3, 1))
      .toDF("score", "label")
    val got = Eval.prCurve(df, "score", "label")
      .orderBy($"threshold".desc).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == Seq(
      (0.9, 1L, 0L, 1.0, 1.0 / 3.0),
      (0.8, 2L, 1L, 2.0 / 3.0, 2.0 / 3.0),
      (0.5, 2L, 2L, 2.0 / 4.0, 2.0 / 3.0),
      (0.3, 3L, 2L, 3.0 / 5.0, 3.0 / 3.0)))
  }

  test("aucRoc is the exact Mann-Whitney statistic with half-credit ties") {
    val df = Seq((0.9, 1), (0.8, 1), (0.8, 0), (0.5, 0), (0.3, 1))
      .toDF("score", "label")
    val r = Eval.aucRoc(df, "score", "label").collect()(0)
    // pairs: 5 wins + 1 tie (0.8 vs 0.8) of 6 → (5 + 0.5)/6... counted:
    // wins 3.5 of 6 comparisons (see ranks: 1 + 3.5 + 5 = 9.5)
    assert(r.getDouble(0) == 3.5 / 6.0)
    assert(r.getLong(1) == 3L && r.getLong(2) == 2L)
    // perfect separation → exactly 1; all-tied scores → exactly 0.5
    val perfect = Seq((0.9, 1), (0.8, 1), (0.2, 0)).toDF("score", "label")
    assert(Eval.aucRoc(perfect, "score", "label").collect()(0).getDouble(0) == 1.0)
    val tied = Seq((0.5, 1), (0.5, 0), (0.5, 1), (0.5, 0)).toDF("score", "label")
    assert(Eval.aucRoc(tied, "score", "label").collect()(0).getDouble(0) == 0.5)
  }

  test("classMetrics: hand-computed P/R/F1; never-predicted class gets NULLs") {
    val df = Seq(("a", "a"), ("a", "b"), ("b", "b"), ("b", "b"), ("c", "a"))
      .toDF("label", "pred")
    val rows = Eval.classMetrics(df, "label", "pred")
      .orderBy("cls").collect()
    def m(i: Int) = (rows(i).getString(0), rows(i).getLong(1),
      rows(i).getLong(2), rows(i).getLong(3))
    assert(m(0) == ("a", 2L, 2L, 1L) && rows(0).getDouble(4) == 0.5 &&
      rows(0).getDouble(5) == 0.5 && rows(0).getDouble(6) == 0.5)
    assert(m(1) == ("b", 2L, 3L, 2L) && rows(1).getDouble(5) == 1.0 &&
      rows(1).getDouble(6) == 0.8)
    assert(m(2) == ("c", 1L, 0L, 0L) && rows(2).isNullAt(4) &&
      rows(2).getDouble(5) == 0.0 && rows(2).isNullAt(6))
  }

  test("cohenKappa replays the chance-corrected agreement exactly") {
    val df = Seq((1, 1), (1, 0), (0, 0), (0, 0)).toDF("a", "b")
    val r = Eval.cohenKappa(df, "a", "b").collect()(0)
    assert(r.getLong(0) == 4L && r.getDouble(1) == 0.75 &&
      r.getDouble(2) == 0.5 && r.getDouble(3) == 0.5)
    // perfect agreement → kappa 1; independence-shaped table → kappa 0
    val perfect = Seq((1, 1), (0, 0)).toDF("a", "b")
    assert(Eval.cohenKappa(perfect, "a", "b").collect()(0).getDouble(3) == 1.0)
    val indep = Seq((1, 1), (1, 0), (0, 1), (0, 0)).toDF("a", "b")
    assert(Eval.cohenKappa(indep, "a", "b").collect()(0).getDouble(3) == 0.0)
  }

  test("calibrationBins: sigmoid deciles, exact pos_rate, top-bin clamp") {
    // logit 0 → p=0.5 (bin 5); big positive logits clamp into bin 9
    val df = Seq((0.0, 1), (0.0, 0), (100.0, 1), (100.0, 1), (-100.0, 0))
      .toDF("score", "label")
    val rows = Eval.calibrationBins(df, "score", "label")
      .orderBy("bin").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.toSeq == Seq(
      (0, 1L, 0.0, 0.0),        // p≈0 → bin 0, no positives
      (5, 2L, 0.5, 0.5),        // the two logit-0 rows, one positive
      (9, 2L, 1.0, 1.0)))       // p≈1 clamps to bin 9 (not bin 10)
  }

  test("aucRocBy slices == global aucRoc per slice; one-class slices NULL") {
    val df = Seq(("x", 0.9, 1), ("x", 0.8, 0), ("x", 0.5, 1),
      ("y", 0.7, 1), ("y", 0.6, 0), ("z", 0.5, 1), ("z", 0.4, 1))
      .toDF("g", "score", "label")
    val by = Eval.aucRocBy(df, "g", "score", "label").orderBy("g").collect()
    val gx = Eval.aucRoc(df.filter($"g" === "x"), "score", "label")
      .collect()(0).getDouble(0)
    val gy = Eval.aucRoc(df.filter($"g" === "y"), "score", "label")
      .collect()(0).getDouble(0)
    assert(by(0).getDouble(1) == gx && by(1).getDouble(1) == gy)
    assert(by(2).isNullAt(1)) // z has no negatives → undefined, not 0.5
  }

  test("aucRoc is invariant under the ecdf transform (monotone, tie-preserving)") {
    val rnd = new scala.util.Random(23)
    val df = (1 to 200).map(_ =>
      (math.floor(rnd.nextDouble() * 20) / 20.0, rnd.nextInt(2)))
      .toDF("score", "label")
    val raw = Eval.aucRoc(df, "score", "label").collect()(0).getDouble(0)
    val viaEcdf = Eval.aucRoc(
      Eval.ecdf(df, "score"), "pct", "label").collect()(0).getDouble(0)
    assert(raw == viaEcdf) // exact: identical rank structure
  }

  test("blend == the weighted left-assoc sum of each signal's ecdf rank") {
    val df = Seq((1L, 1.0, 10.0), (2L, 2.0, 5.0), (3L, 3.0, 5.0))
      .toDF("id", "a", "b")
    val got = Eval.blend(df, Seq("a" -> 0.7, "b" -> 0.3))
      .orderBy("id").collect().map(_.getDouble(3)).toSeq
    // a ranks: 0.5/3, 1.5/3, 2.5/3; b: 10 → 2.5/3, the tied 5s → 1/3
    val want = Seq(
      0.7 * (0.5 / 3.0) + 0.3 * (2.5 / 3.0),
      0.7 * (1.5 / 3.0) + 0.3 * (1.0 / 3.0),
      0.7 * (2.5 / 3.0) + 0.3 * (1.0 / 3.0))
    assert(got == want)
  }

  test("eval guards: degenerate inputs yield NULL, not an ANSI fault") {
    // all-negative corpus → recall undefined on every prCurve row
    val neg = Seq((0.9, 0), (0.5, 0)).toDF("score", "label")
    val pr = Eval.prCurve(neg, "score", "label").collect()
    assert(pr.forall(_.isNullAt(4)) && pr.forall(!_.isNullAt(3)))
    // single-class corpus → AUC undefined
    val auc = Eval.aucRoc(neg, "score", "label").collect()(0)
    assert(auc.isNullAt(0) && auc.getLong(1) == 0L && auc.getLong(2) == 2L)
    // constant, agreeing raters → p_e = 1 → kappa undefined
    val const = Seq((1, 1), (1, 1)).toDF("a", "b")
    val k = Eval.cohenKappa(const, "a", "b").collect()(0)
    assert(k.getDouble(2) == 1.0 && k.isNullAt(3))
  }

  test("blendKeyed == blend bit-for-bit, including NULL-signal rows") {
    val rnd = new scala.util.Random(7)
    val df = (1L to 100L).map { i =>
      (i,
        if (i % 17 == 0) None else Some(math.floor(rnd.nextDouble() * 10) / 10.0),
        Some(math.floor(rnd.nextDouble() * 5) / 5.0),
        Some(rnd.nextInt(3).toDouble))
    }.toDF("id", "a", "b", "c")
    val ws = Seq("a" -> 0.5, "b" -> 0.2, "c" -> 0.3)
    def m(d: org.apache.spark.sql.DataFrame) = d
      .select("id", "a", "b", "c", "blended").collect()
      .map(r => r.getLong(0) ->
        (0 to 3).map(i => if (r.isNullAt(i + 1)) null
          else r.getDouble(i + 1)).toSeq).toMap
    assert(m(Eval.blendKeyed(df, "id", ws)) == m(Eval.blend(df, ws)))
    // the shared-scan plan carries ONE corpus-keyed aggregate over the
    // exploded signals plus the pivot — not one aggregate per signal
    val plan = Eval.blendKeyed(df, "id", ws)
      .queryExecution.optimizedPlan.toString
    assert("Generate explode".r.findAllIn(plan).size <= 1)
  }

  test("blend keeps rows with a NULL signal (NULL blended), matching ecdf") {
    val df = Seq((1L, Some(1.0), Some(10.0)), (2L, None, Some(5.0)),
      (3L, Some(3.0), Some(5.0)))
      .toDF("id", "a", "b")
    val got = Eval.blend(df, Seq("a" -> 0.7, "b" -> 0.3))
      .orderBy("id").collect()
    assert(got.length == 3)            // row 2 survives
    assert(got(1).isNullAt(3))         // with NULL blended
    assert(!got(0).isNullAt(3) && !got(2).isNullAt(3))
    // non-NULL ranks exclude the NULL row from N: a's table is over 2 rows
    assert(got(0).getDouble(3) == 0.7 * (0.5 / 2.0) + 0.3 * (2.5 / 3.0))
  }

  test("bootstrapCI: CI brackets the mean, is deterministic, and collapses on constant data") {
    val df = (1L to 200L).map(i => (i, (i % 10).toDouble)).toDF("id", "x")
    val r1 = Eval.bootstrapCI(df, "id", "x").head()
    val r2 = Eval.bootstrapCI(df, "id", "x").head()
    assert(r1.toSeq == r2.toSeq, "same salt → identical CI, always")
    assert(r1.getAs[Long]("n") == 200L)
    assert(r1.getAs[Double]("mean") == 4.5)
    assert(r1.getAs[Double]("ci_lo") <= 4.5 && 4.5 <= r1.getAs[Double]("ci_hi"))
    assert(r1.getAs[Double]("ci_lo") < r1.getAs[Double]("ci_hi"))
    // a different salt reweights → a (generally) different CI
    val r3 = Eval.bootstrapCI(df, "id", "x", salt = "other").head()
    assert(r3.getAs[Double]("ci_lo") != r1.getAs[Double]("ci_lo") ||
      r3.getAs[Double]("ci_hi") != r1.getAs[Double]("ci_hi"))
    // constant data: every replicate mean is the constant
    val c = Eval.bootstrapCI(
      (1L to 100L).map((_, 7.0)).toDF("id", "x"), "id", "x").head()
    assert(c.getAs[Double]("ci_lo") == 7.0 && c.getAs[Double]("ci_hi") == 7.0)
  }

  test("bootstrapCIBy slices agree with per-slice bootstrapCI") {
    val df = (1L to 120L).map(i => (s"g${i % 2}", i, (i % 7).toDouble))
      .toDF("g", "id", "x")
    val sliced = Eval.bootstrapCIBy(df, "g", "id", "x")
      .collect().map(r => r.getAs[String]("g") -> r.toSeq.drop(1)).toMap
    for (g <- Seq("g0", "g1")) {
      val solo = Eval.bootstrapCI(df.filter(col("g") === g), "id", "x")
        .head().toSeq
      assert(sliced(g) == solo, s"slice $g must equal the solo CI")
    }
  }

  test("bootstrapCI and pairedBootstrapTest keep one row on an empty input") {
    val none = Seq((1L, 1.0, 2.0)).toDF("id", "a", "b").filter(lit(false))
    assert(Eval.bootstrapCI(none, "id", "a").collect().map(_.toSeq).toSeq ==
      Seq(Seq(0L, null, null, null)))
    assert(Eval.pairedBootstrapTest(none, "id", "a", "b").collect()
      .map(_.toSeq).toSeq == Seq(Seq(0L, null, null, null, 0, 0, 0)))
    // the sliced forms have no slice, so no row
    assert(Eval.bootstrapCIBy(none.withColumn("g", lit("g0")), "g", "id",
      "a").collect().isEmpty)
  }
}
