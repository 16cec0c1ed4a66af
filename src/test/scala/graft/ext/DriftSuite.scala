package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.SparkTest
import graft.util.{Checkpoints, GridGuard}

/** The drift family by component: the batch members (KS, rank-sum, chi²,
  * PSI), their by-slice forms and the one-call reports — hand-computed
  * cases, report ≡ member pins, and pin ownership (every member releases
  * what it pins; the caller releases the result). Random-sample property
  * pins live in PropertySuite, the windowed forms in EventStreamSuite. */
class DriftSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  test("rankSumTest: hand-computed U/z on a small pair; degenerate inputs") {
    // a = [1,2,3], b = [2,3,3,4]: rb = 19.5, U = 9.5, ties = 30,
    // sigma2 = 8 - 30/42, z = 3.5/sqrt(sigma2) ~ 1.2967 => no drift
    val a = Seq(1.0, 2.0, 3.0).toDF("v")
    val b = Seq(2.0, 3.0, 3.0, 4.0).toDF("v")
    val r = Eval.rankSumTest(a, b, "v").collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 4L)
    assert(r.getDouble(2) == 9.5)
    val sigma2 = 3.0 * 4.0 / 12.0 * ((7.0 + 1.0) - 30.0 / (7.0 * 6.0))
    assert(r.getDouble(3) == (9.5 - 3.0 * 4.0 / 2.0) / math.sqrt(sigma2))
    assert(r.getInt(4) == 0)
    // clearly shifted sample must flag, with z > 0 (b ranks higher)
    val hi = (1 to 30).map(i => (i % 5) + 100.0).toDF("v")
    val lo = (1 to 30).map(i => (i % 5).toDouble).toDF("v")
    val s = Eval.rankSumTest(lo, hi, "v").collect().head
    assert(s.getDouble(3) > 1.96 && s.getInt(4) == 1)
    // all-tied input: sigma = 0 => NULL z, no drift
    val t = Eval.rankSumTest(Seq(5.0, 5.0).toDF("v"),
      Seq(5.0, 5.0, 5.0).toDF("v"), "v").collect().head
    assert(t.isNullAt(3) && t.getInt(4) == 0)
  }

  test("chiSquareDrift: hand-computed 2x2; identical mix ~0; single category NULL") {
    // base: x*30, y*10; live: x*10, y*30 — chi2 = sum (O-E)^2/E = 20
    val base = (Seq.fill(30)("x") ++ Seq.fill(10)("y")).toDF("c")
    val live = (Seq.fill(10)("x") ++ Seq.fill(30)("y")).toDF("c")
    val r = Outliers.chiSquareDrift(base, live, "c").collect().head
    assert(r.getLong(0) == 40L && r.getLong(1) == 40L && r.getLong(2) == 2L)
    // E = 20 everywhere; (30-20)^2/20 * 4 = 20
    assert(math.abs(r.getDouble(3) - 20.0) < 1e-9)
    // dof=1 crit ~3.84 (Wilson-Hilferty gives ~3.83); drifted
    assert(r.getDouble(4) > 3.5 && r.getDouble(4) < 4.2)
    assert(r.getInt(5) == 1)
    // identical mixes: chi2 = 0 exactly, no drift
    val same = Outliers.chiSquareDrift(base, base, "c").collect().head
    assert(same.getDouble(3) == 0.0 && same.getInt(5) == 0)
    // single shared category: dof 0 => NULL statistic, no drift
    val one = Outliers.chiSquareDrift(Seq("x", "x").toDF("c"),
      Seq("x").toDF("c"), "c").collect().head
    assert(one.isNullAt(3) && one.isNullAt(4) && one.getInt(5) == 0)
  }

  test("driftReport rows equal the member statistics they reshape") {
    val base = (1 to 60).map(i =>
      ((i % 10).toDouble / 10.0, if (i % 3 == 0) "x" else "y")).toDF("v", "c")
    val live = (1 to 60).map(i =>
      (((i % 10) + 4).toDouble / 10.0 min 1.0, if (i % 4 == 0) "x" else "y"))
      .toDF("v", "c")
    val rep = Outliers.driftReport(base, live, "v", "c")
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(rep.keySet == Set("psi", "ks", "rank_sum", "chi2"))
    val ks = Eval.ksTest(base, live, "v").collect().head
    assert(rep("ks") == Seq(ks.getDouble(2), ks.getDouble(3), ks.getInt(4)))
    val rs = Eval.rankSumTest(base, live, "v").collect().head
    assert(rep("rank_sum") ==
      Seq(math.abs(rs.getDouble(3)), 1.96, rs.getInt(4)))
    val chi = Outliers.chiSquareDrift(base.select("c"), live.select("c"), "c")
      .collect().head
    assert(rep("chi2") ==
      Seq(chi.getDouble(3), chi.getDouble(4), chi.getInt(5)))
    // psi row ≡ the member's own 6 dp total (r13: the report derives its
    // bucket counts from the shared per-value table — must stay
    // bit-identical to psiDrift's raw-row bucketing)
    val psiM = Outliers.psiDrift(base, live, "v")
      .agg(round(sum($"psi"), 6)).first().getDouble(0)
    assert(rep("psi") ==
      Seq(psiM, 0.25, if (psiM > 0.25) 1 else 0))
    // the shifted value distribution must register on the value lenses
    assert(rep("ks")(2) == 1 && rep("rank_sum")(2) == 1)
  }

  test("chiSquareDrift respects the GridGuard category-cardinality ceiling") {
    spark.conf.set(graft.util.GridGuard.MaxDistinctConf, "50")
    try {
      val freeText = (1 to 500).map(i => s"not-a-category-$i").toDF("c")
      val e = intercept[IllegalArgumentException](
        Outliers.chiSquareDrift(freeText, freeText, "c"))
      assert(e.getMessage.contains("chiSquareDrift"))
    } finally spark.conf.unset(graft.util.GridGuard.MaxDistinctConf)
  }

  test("driftReport psi row follows psiDrift when values are NULL") {
    // psiDrift buckets a NULL value (greatest skips NULLs → bucket 0);
    // the report's per-value table drops NULLs, so its psi row must add
    // each side's NULL count back through the same bucket expression
    val base = Seq[Option[Double]](Some(0.15), Some(0.35), Some(0.55),
      Some(0.75), Some(0.95), Some(0.45)).map(v => (v, "c")).toDF("q", "c")
    val live = Seq[Option[Double]](Some(0.15), None, None, None, Some(0.55),
      Some(0.95)).map(v => (v, "c")).toDF("q", "c")
    val psiM = Outliers.psiDrift(base, live, "q")
      .agg(round(sum($"psi"), 6)).first().getDouble(0)
    assert(psiM == 0.830325)
    val rep = Outliers.driftReport(base, live, "q", "c")
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(rep("psi") == Seq(psiM, 0.25, 1))
  }

  test("every standalone drift member pins its result and leaves 0 net persistent RDDs once it is released") {
    val df = (0 until 240).map { i =>
      val g = "g" + (i % 3)
      val v = if (g == "g2") 0.8 + (i % 4) * 0.05 else (i % 10) / 10.0
      (g, math.round(v * 1e6) / 1e6, if (i % 5 == 0) "x" else "y")
    }.toDF("g", "v", "c")
    val base = df.filter($"g" =!= "g2")
    val live = df.filter($"g" === "g2")
    val members: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "ksTest" -> (() => Eval.ksTest(base, live, "v")),
      "rankSumTest" -> (() => Eval.rankSumTest(base, live, "v")),
      "ksTestBy" -> (() => Eval.ksTestBy(df, "g", "v")),
      "rankSumTestBy" -> (() => Eval.rankSumTestBy(df, "g", "v")),
      "psiDriftBy" -> (() => Outliers.psiDriftBy(df, "g", "v")),
      "chiSquareDriftBy" -> (() => Outliers.chiSquareDriftBy(df, "g", "c")),
      "driftReport" -> (() => Outliers.driftReport(base, live, "v", "c")),
      "driftReportBy" -> (() => Outliers.driftReportBy(df, "g", "v", "c")))
    val sc = spark.sparkContext
    def runAll(): Map[String, Seq[Seq[Any]]] = members.map { case (name, f) =>
      val before = sc.getPersistentRDDs.keySet.toSet
      val out = f()
      val rows = out.collect().map(_.toSeq).toSeq.sortBy(_.toString)
      assert(sc.getPersistentRDDs.keySet.toSet != before,
        s"$name must hand back a pinned result")
      Checkpoints.release(out)
      val leaked = sc.getPersistentRDDs.keySet.toSet -- before
      assert(leaked.isEmpty, s"$name leaked persistent RDDs $leaked")
      name -> rows
    }.toMap
    val on = runAll()
    spark.conf.set(GridGuard.EnabledConf, "false")
    val off = try runAll() finally spark.conf.unset(GridGuard.EnabledConf)
    for ((name, _) <- members)
      assert(off(name) == on(name), s"$name rows differ with the guard off")
  }
}
