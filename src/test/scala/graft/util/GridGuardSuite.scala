package graft.util

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.SparkTest
import graft.ext.{Eval, Outliers}

/** The rank/ECDF/KS grid family's "feed ROUNDED scores" 100 TB discipline,
  * enforced at runtime (VERDICT r11 #1): a default-on approx-distinct
  * pre-check that fails loudly before an unrounded-double column turns the
  * per-value grid into a one-task corpus sort. */
class GridGuardSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  // deterministic "raw continuous doubles": xorshift-ish irrational steps,
  // all distinct — exactly the input the discipline forbids
  private def rawDoubles(n: Int) =
    (1 to n).map(i => ("g" + (i % 3), i * math.Pi % 1.0)).toDF("g", "v")

  private def withCap[A](cap: Long)(f: => A): A = {
    spark.conf.set(GridGuard.MaxDistinctConf, cap.toString)
    try f
    finally spark.conf.unset(GridGuard.MaxDistinctConf)
  }

  test("guard fires on an unrounded random-double column across the grid family") {
    val df = rawDoubles(500)
    val half = df.filter($"g" === "g0")
    withCap(50) {
      val hits = Seq(
        "ksTest" -> (() => Eval.ksTest(half, df, "v")),
        "ksTestBy" -> (() => Eval.ksTestBy(df, "g", "v")),
        "quantileNormalize" -> (() => Eval.quantileNormalize(df, "g", "v")),
        "mutualInfo" -> (() => Eval.mutualInfo(
          df.withColumn("v2", $"v" * 2), "v", "v2")),
        "spearman" -> (() => Eval.spearman(
          df.withColumn("v2", $"v" * 2), "v", "v2")),
        "rankSumTest" -> (() => Eval.rankSumTest(half, df, "v")),
        "ecdfTable" -> (() => Eval.ecdfTable(df, "v")),
        "prCurve" -> (() => Eval.prCurve(
          df.withColumn("y", lit(1)), "v", "y")),
        "aucRoc" -> (() => Eval.aucRoc(
          df.withColumn("y", ($"v" > 0.5).cast("int")), "v", "y")),
        "chiSquareDrift" -> (() => Outliers.chiSquareDrift(half, df, "v")),
        "blendKeyed" -> (() => Eval.blendKeyed(
          df.withColumn("id", monotonically_increasing_id()), "id",
          Seq("v" -> 1.0))))
      val sc = spark.sparkContext
      hits.foreach { case (name, run) =>
        val before = sc.getPersistentRDDs.keySet.toSet
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains(name) &&
          e.getMessage.contains("ROUNDED"),
          s"$name must fail with the round-your-scores remedy: ${e.getMessage}")
        // a failing guard releases every pin the member took before it
        assert(sc.getPersistentRDDs.keySet.toSet == before,
          s"$name leaked persistent RDDs on failure")
      }
    }
  }

  test("windowed drift aggregates hard-cap their per-window state at the ceiling") {
    // the GridGuard ceiling carried INTO streaming state (KsDriftAgg and
    // siblings): an unrounded score column must fail at the first
    // over-cap update, not grow per-window state without bound
    withCap(20) {
      val base = (0 until 50).map(i => (i % 10).toDouble).toDF("v")
      val (bv, bc) = Eval.ksBaseline(base, "v") // 10 distinct: under cap
      val live = (0 until 200).map(i =>
        (new java.sql.Timestamp(1700000000000L + i * 1000L),
          i * math.Pi % 1.0)).toDF("ts", "v")
      val e = intercept[Throwable](
        Eval.ksDriftWindowed(live, "ts", "v", bv, bc).collect())
      def chain(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ chain(t.getCause)
      assert(chain(e).exists(m => m.contains("ks_drift") &&
        m.contains("ROUNDED")), s"unexpected failure: ${chain(e)}")
    }
  }

  test("guard passes rounded scores, and the opt-outs work") {
    val rounded = rawDoubles(500).select($"g", round($"v", 1).as("v"))
    withCap(50) {
      // 11 distinct rounded values — under the cap, op runs to completion
      assert(Eval.ksTestBy(rounded, "g", "v").count() == 3)
      // conf opt-out: same raw input as the firing case, guard skipped
      spark.conf.set(GridGuard.EnabledConf, "false")
      try {
        val r = Eval.ksTest(rawDoubles(200).filter($"g" === "g0"),
          rawDoubles(200), "v").collect().head
        assert(r.getLong(0) > 0 && r.getLong(1) > 0)
      } finally spark.conf.unset(GridGuard.EnabledConf)
    }
    // default cap (10^6): rounded bench-grain scores never trip it
    assert(Eval.spearman(rounded.withColumn("v2", round($"v" * 2, 1)),
      "v", "v2").count() == 1)
  }
}
