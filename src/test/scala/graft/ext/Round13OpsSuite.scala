package graft.ext

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.SparkTest

/** Round-13 drift-matrix completions: the two by-slice cells the docs
  * advertised (psiDriftBy / embeddingDriftBy) and the windowed-BY-slice
  * composition (the `slice` forms of ksDriftWindowed /
  * rankSumDriftWindowed / chiSquareDriftWindowed / psiWindowed), each
  * pinned ≡ the verified member it derives from — the house property for
  * every by-slice view.
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

  test("psiDriftBy rows equal round(sum(psiDrift(rest, own).psi), 6) per slice") {
    // three sources: g0/g1 share the score shape, g2 shifted hard so the
    // by-slice psi must flag exactly it
    val df = (0 until 240).map { i =>
      val g = "g" + (i % 3)
      val v = if (g == "g2") 0.85 + (i % 3) * 0.05
        else (i % 10) / 10.0
      (g, math.round(v * 1e6) / 1e6)
    }.toDF("g", "v")
    val by = Outliers.psiDriftBy(df, "g", "v", 10, 0.0, 1.0)
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(by.keySet == Set("g0", "g1", "g2"))
    for (g <- by.keySet) {
      val own = df.filter(col("g") === g)
      val rest = df.filter(col("g") =!= g)
      val psi = Outliers.psiDrift(rest, own, "v", 10, 0.0, 1.0)
        .agg(round(sum(col("psi")), 6)).first().getDouble(0)
      val (nOwn, nRest) = (own.count(), rest.count())
      assert(by(g) == Seq(nOwn, nRest, psi, if (psi > 0.25) 1 else 0),
        s"slice $g: by ${by(g)} != member (n_g=$nOwn, n_rest=$nRest, psi=$psi)")
    }
    // the shifted source must flag (g0/g1 may too: their REST side
    // contains g2's shifted third, which is itself a real drift — the
    // by-slice view is rest-relative by design)
    assert(by("g2")(3) == 1, "the shifted source must flag")
    // GridGuard gates the slice axis of the pinned count table
    spark.conf.set(graft.util.GridGuard.MaxDistinctConf, "2")
    val e = intercept[IllegalArgumentException] {
      Outliers.psiDriftBy(df, "g", "v", 10, 0.0, 1.0).collect()
    }
    assert(e.getMessage.contains("psiDriftBy"))
    spark.conf.unset(graft.util.GridGuard.MaxDistinctConf)
  }

  test("embeddingDriftBy rows equal embeddingDrift(rest, own) per slice at 1e-6") {
    val rnd = new scala.util.Random(97)
    // three clusters at distinct centers so per-slice drift is real
    val centers = Map("a" -> Array(1.0, 0.0, 0.0, 0.0),
      "b" -> Array(0.0, 1.0, 0.0, 0.0), "c" -> Array(0.5, 0.5, 0.5, 0.0))
    val df = (0 until 90).map { i =>
      val g = Seq("a", "b", "c")(i % 3)
      (i.toLong, g, centers(g).map(_ + rnd.nextGaussian() * 0.05).toSeq)
    }.toDF("vec_id", "g", "embedding")
    val by = Similarity.embeddingDriftBy(df, "g", "embedding")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(by.keySet == Set("a", "b", "c"))
    for (g <- by.keySet) {
      val own = df.filter(col("g") === g)
      val rest = df.filter(col("g") =!= g)
      val m = Similarity.embeddingDrift(rest, own).collect().head
      val r = by(g)
      assert(r.getLong(1) == m.getLong(1) && r.getLong(2) == m.getLong(0),
        s"slice $g: counts (${r.getLong(1)}, ${r.getLong(2)}) != member")
      // the member averages rest ROWS; the by-op derives the rest mean
      // from slice means — equal up to float summation order, inside
      // the 6 dp emission grain (scaladoc contract)
      assert(math.abs(r.getDouble(3) - m.getDouble(2)) <= 1.1e-6,
        s"slice $g: mean_cos ${r.getDouble(3)} != ${m.getDouble(2)}")
      assert(math.abs(r.getDouble(4) - m.getDouble(3)) <= 1.1e-6,
        s"slice $g: mean_l2 ${r.getDouble(4)} != ${m.getDouble(3)}")
    }
    // single-slice input: empty rest side => NULL cos/l2, no crash
    val one = Similarity
      .embeddingDriftBy(df.filter(col("g") === "a"), "g", "embedding")
      .collect().head
    assert(one.isNullAt(3) && one.isNullAt(4) && one.getLong(2) == 0L)
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

  test("driftReportBy rows equal the by-slice member statistics they reshape") {
    // three sources with distinct value shapes AND category mixes so
    // every lens has signal; values 6dp-rounded (the report's shared
    // (slice, value) table carries the rank-op grid discipline)
    val df = (0 until 300).map { i =>
      val g = "g" + (i % 3)
      val v = if (g == "g2") 0.8 + (i % 4) * 0.05 else (i % 10) / 10.0
      val c = if (g == "g1") (if (i % 5 == 0) "x" else "y")
        else (if (i % 2 == 0) "x" else "y")
      (g, math.round(v * 1e6) / 1e6, c)
    }.toDF("g", "v", "c")
    val rep = Outliers.driftReportBy(df, "g", "v", "c")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.toSeq.drop(2)).toMap
    assert(rep.size == 12, s"4 stats x 3 slices, got ${rep.size}")
    val psiM = Outliers.psiDriftBy(df, "g", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val ksM = Eval.ksTestBy(df, "g", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val rsM = Eval.rankSumTestBy(df, "g", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val chiM = Outliers.chiSquareDriftBy(df.select("g", "c"), "g", "c")
      .collect().map(r => r.getString(0) -> r).toMap
    for (g <- Seq("g0", "g1", "g2")) {
      assert(rep((g, "psi")) == Seq(psiM(g).getDouble(3), 0.25,
        psiM(g).getInt(4)), s"$g psi")
      assert(rep((g, "ks")) == Seq(ksM(g).getDouble(3),
        ksM(g).getDouble(4), ksM(g).getInt(5)), s"$g ks")
      assert(rep((g, "rank_sum")) == Seq(math.abs(rsM(g).getDouble(4)),
        1.96, rsM(g).getInt(5)), s"$g rank_sum")
      assert(rep((g, "chi2")) == Seq(chiM(g).getDouble(4),
        chiM(g).getDouble(5), chiM(g).getInt(6)), s"$g chi2")
    }
    // the lenses disagree by design: g2's value shift registers on the
    // value lenses, g1's category skew on the chi2 lens
    assert(rep(("g2", "ks"))(2) == 1 && rep(("g1", "chi2"))(2) == 1)
    // the shared (slice, value) table carries the rank-op grid
    // discipline for the WHOLE report — an unrounded score column must
    // fail loudly at the gate, naming the composed operator
    spark.conf.set(graft.util.GridGuard.MaxDistinctConf, "50")
    val raw = (0 until 200).map(i =>
      ("g" + (i % 2), i * math.Pi % 1.0, "x")).toDF("g", "v", "c")
    val e = intercept[IllegalArgumentException] {
      Outliers.driftReportBy(raw, "g", "v", "c").collect()
    }
    assert(e.getMessage.contains("driftReportBy"))
    spark.conf.unset(graft.util.GridGuard.MaxDistinctConf)
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
