package graft.ext

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.SparkTest

/** Round-13 drift-matrix completions: the windowed-BY-slice composition
  * (the `slice` forms of ksDriftWindowed / rankSumDriftWindowed /
  * chiSquareDriftWindowed / psiWindowed), each pinned ≡ the verified
  * member it derives from — the house property for every by-slice view.
  * (The by-slice psiDriftBy / embeddingDriftBy / driftReportBy cases live
  * in DriftSuite.)
  * Plus Ivf.recommendNprobe, the serving default made callable. */
class Round13OpsSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  // two-day, two-slice event fixture shared by the windowed-by pins:
  // slice "a" stays on the baseline support both days; slice "b" shifts
  // up on day 2 — so exactly one (window, slice) cell drifts
  private def slicedEvents = (0 until 120).map { i =>
    val day = i / 60 + 1
    val g = if (i % 2 == 0) "a" else "b"
    val v = (i % 10).toDouble +
      (if (g == "b" && day == 2) 5.0 else 0.0)
    (i.toLong, new Timestamp(
      Timestamp.valueOf(f"2024-01-0$day 00:00:00").getTime + i * 60000L),
      g, v)
  }.toDF("id", "ts", "g", "v")

  private def cellOf(df: org.apache.spark.sql.DataFrame,
      ws: Timestamp, g: String) = {
    val dayEnd = new Timestamp(ws.getTime + 86400000L)
    df.filter(col("ts") >= ws && col("ts") < dayEnd && col("g") === g)
  }

  test("ksDriftWindowedBy cells equal ksTest(baseline, cell) bit-for-bit; only the shifted cell flags") {
    val base = (0 until 50).map(i => (i % 10).toDouble).toDF("v")
    val live = slicedEvents
    val (bv, bc) = Eval.ksBaseline(base, "v")
    val cells = Eval.ksDriftWindowed(live, "ts", "v", bv, bc,
        slice = Some("g"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.toSeq.drop(2))
      .toMap
    assert(cells.size == 4)
    for (((ws, g), got) <- cells) {
      val ref = Eval.ksTest(base, cellOf(live, ws, g), "v")
        .collect().head
      assert(got == ref.toSeq.drop(1),
        s"cell ($ws, $g): windowed $got != ksTest ${ref.toSeq.drop(1)}")
    }
    val flagged = cells.filter(_._2(3) == 1).keys.toSeq
    assert(flagged.map(_._2) == Seq("b") &&
      flagged.head._1.toString.startsWith("2024-01-02"),
      s"exactly day-2 slice b must flag, got $flagged")
  }

  test("rankSumDriftWindowedBy cells equal rankSumTest(baseline, cell) bit-for-bit") {
    val base = (0 until 50).map(i => (i % 10).toDouble).toDF("v")
    val live = slicedEvents
    val (bv, bc) = Eval.ksBaseline(base, "v")
    val cells = Eval.rankSumDriftWindowed(live, "ts", "v", bv, bc,
        slice = Some("g"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.toSeq.drop(2))
      .toMap
    assert(cells.size == 4)
    for (((ws, g), got) <- cells) {
      val ref = Eval.rankSumTest(base, cellOf(live, ws, g), "v")
        .collect().head
      assert(got == ref.toSeq.drop(1),
        s"cell ($ws, $g): windowed $got != rankSumTest ${ref.toSeq.drop(1)}")
    }
    // the shifted cell must flag with z > 0 (slice ranks higher)
    val shifted = cells.collect {
      case ((ws, "b"), got) if ws.toString.startsWith("2024-01-02") => got
    }.head
    assert(shifted(3) == 1 && shifted(2).asInstanceOf[Double] > 1.96)
  }

  test("chiSquareDriftWindowedBy cells equal chiSquareDrift at the 6dp grain") {
    val base = (Seq.fill(30)("x") ++ Seq.fill(20)("y")).toDF("c")
    // slice "a" keeps the baseline mix; slice "b" inverts on day 2
    val live = (0 until 120).map { i =>
      val day = i / 60 + 1
      val g = if (i % 2 == 0) "a" else "b"
      val c = if (g == "b" && day == 2) (if (i % 10 == 1) "x" else "y")
        else (if (i % 5 < 3) "x" else "y")
      (i.toLong, new Timestamp(
        Timestamp.valueOf(f"2024-01-0$day 00:00:00").getTime + i * 60000L),
        g, c)
    }.toDF("id", "ts", "g", "c")
    val (bcounts, _) = Outliers.chiSquareBaseline(base, "c")
    val cells = Outliers
      .chiSquareDriftWindowed(live, "ts", "c", bcounts, slice = Some("g"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.toSeq.drop(2))
      .toMap
    assert(cells.size == 4)
    for (((ws, g), got) <- cells) {
      val dayEnd = new Timestamp(ws.getTime + 86400000L)
      val slice = live.filter(col("ts") >= ws && col("ts") < dayEnd &&
        col("g") === g)
      val ref = Outliers.chiSquareDrift(base, slice, "c").collect().head
      assert(got(0) == ref.getLong(1) && got(1) == ref.getLong(2))
      assert(math.abs(got(2).asInstanceOf[Double] - ref.getDouble(3))
        <= 1.1e-6)
      assert(got(3).asInstanceOf[Double] == ref.getDouble(4))
      assert(got(4) == ref.getInt(5))
    }
    val flagged = cells.filter(_._2(4) == 1).keys.toSeq
    assert(flagged.map(_._2) == Seq("b") &&
      flagged.head._1.toString.startsWith("2024-01-02"),
      s"exactly day-2 slice b must flag, got $flagged")
  }

  test("psiWindowedBy cells equal psiWindowed on the slice substream") {
    val live = slicedEvents
    val (bcm, bt) = Outliers.psiBaseline(
      live.filter(col("ts") < lit("2024-01-02").cast("timestamp")),
      "v", 10, 0.0, 15.0)
    val cells = Outliers
      .psiWindowed(live, "ts", "v", bcm, bt, 10, 0.0, 15.0,
        slice = Some("g"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.toSeq.drop(2))
      .toMap
    assert(cells.size == 4)
    for (g <- Seq("a", "b")) {
      val sub = Outliers.psiWindowed(live.filter(col("g") === g),
          "ts", "v", bcm, bt, 10, 0.0, 15.0)
        .collect().map(r => r.getTimestamp(0) -> r.toSeq.drop(1)).toMap
      for ((ws, ref) <- sub)
        assert(cells((ws, g)) == ref,
          s"cell ($ws, $g): ${cells((ws, g))} != substream $ref")
    }
  }

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
