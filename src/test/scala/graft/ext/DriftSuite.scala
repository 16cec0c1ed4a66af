package graft.ext

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.SparkTest
import graft.util.{Checkpoints, GridGuard}

/** The drift family by component: the batch members (KS, rank-sum, chi²,
  * PSI, embedding, vocabulary), their by-slice forms and the one-call
  * reports — hand-computed cases, by-slice ≡ member and report ≡ member
  * pins, and pin ownership (every member releases what it pins; the
  * caller releases the result, and the old guard-off key switches
  * nothing) — plus the windowed-by-slice forms and the vocabulary's windowed
  * lens, each cell ≡ its member or a local replay. Random-sample property
  * pins live in PropertySuite, the other windowed forms in
  * EventStreamSuite. */
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
      .withColumn("e", array($"v", lit(1.0) - $"v"))
      .withColumn("t", concat_ws(" ", $"c", $"g", lit("tok")))
    val base = df.filter($"g" =!= "g2")
    val live = df.filter($"g" === "g2")
    val members: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "ksTest" -> (() => Eval.ksTest(base, live, "v")),
      "chiSquareDrift" -> (() => Outliers.chiSquareDrift(base, live, "c")),
      "embeddingDriftBy" -> (() => Similarity.embeddingDriftBy(df, "g", "e")),
      "vocabDivergenceBy" ->
        (() => TextAnalysis.vocabDivergenceBy(df, "g", "t")),
      "rankSumTest" -> (() => Eval.rankSumTest(base, live, "v")),
      "ksTestBy" -> (() => Eval.ksTestBy(df, "g", "v")),
      "rankSumTestBy" -> (() => Eval.rankSumTestBy(df, "g", "v")),
      "psiDriftBy" -> (() => Outliers.psiDriftBy(df, "g", "v")),
      "chiSquareDriftBy" -> (() => Outliers.chiSquareDriftBy(df, "g", "c")),
      "driftReport" -> (() => Outliers.driftReport(base, live, "v", "c")),
      "driftReportBy" -> (() => Outliers.driftReportBy(df, "g", "v", "c")))
    val sc = spark.sparkContext
    members.foreach { case (name, f) =>
      val before = sc.getPersistentRDDs.keySet.toSet
      val out = f()
      out.collect()
      assert(sc.getPersistentRDDs.keySet.toSet != before,
        s"$name must hand back a pinned result")
      Checkpoints.release(out)
      val leaked = sc.getPersistentRDDs.keySet.toSet -- before
      assert(leaked.isEmpty, s"$name leaked persistent RDDs $leaked")
    }
  }

  test("psiDrift: identical slices score 0, shift scores positive, edges clamp") {
    val base = (0 until 10).flatMap(b => Seq.fill(5)(b / 10.0 + 0.05))
      .toDF("v")
    // identical distribution → every bucket's psi is exactly 0
    val same = Outliers.psiDrift(base, base, "v").orderBy("bucket").collect()
    assert(same.length == 10)
    assert(same.forall(r => r.getDouble(5) == 0.0))
    assert(same.forall(r => r.getLong(1) == 5L && r.getLong(2) == 5L))
    // live mass moved into the top bucket → that bucket drifts positive,
    // and every bucket's psi term is non-negative by construction
    val live = Seq.fill(50)(0.95).toDF("v")
    val drift = Outliers.psiDrift(base, live, "v").orderBy("bucket").collect()
    assert(drift(9).getDouble(5) > 0.5)
    assert(drift.forall(r => r.getDouble(5) >= 0.0))
    // out-of-range values clamp into the edge bins (counted, not lost)
    val wild = Seq(-5.0, 99.0).toDF("v")
    val clamped = Outliers.psiDrift(base, wild, "v").orderBy("bucket").collect()
    assert(clamped(0).getLong(2) == 1L && clamped(9).getLong(2) == 1L)
  }

  test("ksTest: hand-computed D on a small pair; zero on identical samples") {
    // a = [1,2,3], b = [2,3,3,4]: at v=2 the integer gap |2*4 - 1*3| = 5
    // is the max, so D = 5/12; d_crit = 1.358*sqrt(7/12) > D => no drift.
    val a = Seq(1.0, 2.0, 3.0).toDF("v")
    val b = Seq(2.0, 3.0, 3.0, 4.0).toDF("v")
    val r = Eval.ksTest(a, b, "v").collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 4L)
    assert(r.getDouble(2) == 5.0 / 12.0)
    assert(r.getDouble(3) == 1.358 * math.sqrt(7.0 / 12.0))
    assert(r.getInt(4) == 0)
    val same = Eval.ksTest(a, a, "v").collect().head
    assert(same.getDouble(2) == 0.0 && same.getInt(4) == 0)
  }

  test("ksTestBy: each group-vs-rest row equals the two-sample ksTest of the split") {
    // with exactly two groups, "rest of A" IS B — every output field must
    // match the pairwise test bit-for-bit (same integer gaps, same ratio
    // shapes). The values are chosen so A's max gap sits at v=4, a value
    // A never takes (the dense-grid property).
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 2.0),
      ("b", 2.0), ("b", 4.0), ("b", 4.0), ("b", 5.0)).toDF("g", "v")
    val by = Eval.ksTestBy(df, "g", "v").collect()
      .map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    val aVsB = Eval.ksTest(df.filter($"g" === "a"), df.filter($"g" === "b"),
      "v").collect().head.toSeq
    val bVsA = Eval.ksTest(df.filter($"g" === "b"), df.filter($"g" === "a"),
      "v").collect().head.toSeq
    assert(by("a") == aVsB, "group a vs rest must equal ksTest(a, b)")
    assert(by("b") == bVsA, "group b vs rest must equal ksTest(b, a)")
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

  test("windowed KS and rank-sum count NaN as one value above all others, as ksTest and rankSumTest do") {
    import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
    import org.scalatest.time.SpanSugar._
    implicit val signaler: Signaler = ThreadSignaler
    val day = Timestamp.valueOf("2024-01-01 12:00:00")
    // one NaN reached while baseline values remain (the merge walk used to
    // stall there, neither side <= NaN), and two NaNs (NaN != NaN, so each
    // is its own count-map entry); both against a baseline without and
    // with a NaN of its own
    val windows = Seq(Seq(0.5, Double.NaN),
      Seq(0.5, Double.NaN, 3.0, Double.NaN))
    val baselines = Seq(Seq(0.5, 1.0, 1.0, 2.0), Seq(0.5, Double.NaN, 1.0))
    for (b <- baselines; w <- windows) {
      val base = b.toDF("v")
      val live = w.map(v => (day, v)).toDF("ts", "v")
      val (bv, bc) = Eval.ksBaseline(base, "v")
      TimeLimits.failAfter(60.seconds) {
        val ks = Eval.ksDriftWindowed(live, "ts", "v", bv, bc)
          .collect().head.toSeq.drop(1)
        val ksRef = Eval.ksTest(base, live, "v").collect().head.toSeq.drop(1)
        assert(ks == ksRef, s"baseline $b, window $w")
        val rs = Eval.rankSumDriftWindowed(live, "ts", "v", bv, bc)
          .collect().head.toSeq.drop(1)
        val rsRef = Eval.rankSumTest(base, live, "v")
          .collect().head.toSeq.drop(1)
        assert(rs == rsRef, s"baseline $b, window $w")
      }
    }
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

  // three sources with deliberately different token mixes: g2's
  // vocabulary is disjoint from g0/g1's shared one, so the by-slice
  // divergence must rank g2 far above the others
  private def corpus = (0 until 90).map { i =>
    val g = "g" + (i % 3)
    val text = g match {
      case "g2" => s"zeta yotta xenon w${i % 4}"
      case _    => s"alpha beta gamma d${i % 5}"
    }
    (i.toLong, g, text)
  }.toDF("doc_id", "source", "text")

  test("vocabDivergence: identical slices diverge zero, JS is symmetric and bounded") {
    val a = Seq("alpha beta gamma", "beta beta delta").toDF("text")
    val same = TextAnalysis.vocabDivergence(a, a, "text").head()
    assert(same.getAs[Double]("kl_ab") == 0.0)
    assert(same.getAs[Double]("kl_ba") == 0.0)
    assert(same.getAs[Double]("js") == 0.0)
    val b = Seq("epsilon zeta", "zeta eta").toDF("text")
    val ab = TextAnalysis.vocabDivergence(a, b, "text").head()
    val ba = TextAnalysis.vocabDivergence(b, a, "text").head()
    assert(ab.getAs[Double]("js") == ba.getAs[Double]("js"),
      "JS must be symmetric")
    assert(ab.getAs[Double]("js") > 0.0 &&
      ab.getAs[Double]("js") <= math.log(2.0) + 1e-9,
      "JS of disjoint vocabularies is positive and <= ln 2")
    assert(ab.getAs[Double]("kl_ab") == ba.getAs[Double]("kl_ba"))
    assert(ab.getAs[Long]("vocab") == 7L) // union of 4 + 3 disjoint terms
  }

  test("vocabDivergence replays the hand-computed smoothed KL on a 2-term corpus") {
    // A = {x:2, y:0}, B = {x:0, y:1}; alpha=0.5, V=2
    // pa(x)=2.5/3, pa(y)=0.5/3; pb(x)=0.5/2, pb(y)=1.5/2
    val a = Seq("x x").toDF("text")
    val b = Seq("y").toDF("text")
    val r = TextAnalysis.vocabDivergence(a, b, "text").head()
    val (pax, pay, pbx, pby) = (2.5 / 3, 0.5 / 3, 0.5 / 2, 1.5 / 2)
    val klAb = pax * math.log(pax / pbx) + pay * math.log(pay / pby)
    assert(r.getAs[Double]("kl_ab") ==
      BigDecimal(klAb).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 1L)
  }

  test("vocabDivergenceBy rows equal vocabDivergence(own, rest) per slice") {
    val by = TextAnalysis.vocabDivergenceBy(corpus, "source", "text")
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(by.size == 3)
    for (g <- Seq("g0", "g1", "g2")) {
      val m = TextAnalysis.vocabDivergence(
        corpus.filter(col("source") === g),
        corpus.filter(col("source") =!= g), "text").head()
      // member: (n_a, n_b, vocab, kl_ab, kl_ba, js); by-slice renames
      // the sides but the numbers must be the member's own
      assert(by(g) == m.toSeq,
        s"slice $g must equal the pairwise member")
    }
    // the alarm ranks: the disjoint-vocabulary slice scores highest
    // (g0/g1's rest is HALF disjoint-g2, so their divergence is real
    // too — only the ordering is a sound assertion, not a margin)
    def js(g: String) = by(g)(5).asInstanceOf[Double]
    assert(js("g2") > js("g0") && js("g2") > js("g1"),
      "disjoint-vocabulary slice must rank above the shared-mix slices")
  }

  test("vocabDivergenceBy single-slice corpus degrades like the member (finite, no NULLs)") {
    val one = corpus.filter(col("source") === "g0")
    val by = TextAnalysis.vocabDivergenceBy(one, "source", "text").head()
    val m = TextAnalysis.vocabDivergence(one,
      one.filter(lit(false)), "text").head()
    assert(by.toSeq.drop(1) == m.toSeq)
    assert(!by.isNullAt(4) && !by.isNullAt(5) && !by.isNullAt(6))
  }

  test("vocabDivergenceWindowed equals a local replay of the projected K+1-category statistic; drift registers") {
    import java.sql.Timestamp
    // day 1 speaks the baseline vocabulary, day 2 a disjoint one
    val docs = (0 until 60).map { i =>
      val day = i / 30 + 1
      val text = if (day == 1) s"alpha beta gamma d${i % 5}"
        else s"zeta yotta xenon w${i % 4}"
      (i.toLong, new Timestamp(
        Timestamp.valueOf(f"2024-01-0$day 00:00:00").getTime + i * 60000L),
        text)
    }.toDF("doc_id", "ts", "text")
    val baseDf = docs.filter(col("ts") <
      lit("2024-01-02").cast("timestamp"))
    val (bc, bt) = TextAnalysis.vocabBaseline(baseDf, "text", topK = 5)
    assert(bc.size == 5 && bt == 120L) // 4 tokens x 30 docs
    val out = TextAnalysis
      .vocabDivergenceWindowed(docs, "ts", "text", bc, bt)
      .collect().map(r => r.getTimestamp(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(out.size == 2)
    // local replay: project each window's tokens onto the 5+OOV serving
    // vocabulary and run the member's smoothing arithmetic
    val toks = "[a-z0-9]+".r
    val winToks = docs.collect().map { r =>
      (r.getTimestamp(1).getTime / 86400000L,
        toks.findAllIn(r.getString(2).toLowerCase).toSeq)
    }.groupBy(_._1).view.mapValues(_.flatMap(_._2)).toMap
    val cats = bc.keys.toArray.sorted :+ " "
    val topMass = bc.values.sum
    for ((day, tks) <- winToks) {
      val ws = new Timestamp(day * 86400000L)
      val live = tks.groupBy(t => if (bc.contains(t)) t else " ")
        .view.mapValues(_.size.toLong).toMap
      val nL = tks.size.toLong
      val v = cats.length.toDouble
      var klAb = 0.0; var klBa = 0.0; var jsv = 0.0
      cats.foreach { c =>
        val cb = if (c == " ") bt - topMass else bc(c)
        val cl = live.getOrElse(c, 0L)
        val pa = (cb + 0.5) / (bt + 0.5 * v)
        val pb = (cl + 0.5) / (nL + 0.5 * v)
        klAb += pa * math.log(pa / pb)
        klBa += pb * math.log(pb / pa)
        jsv += pa * math.log(pa * 2.0 / (pa + pb)) / 2.0 +
          pb * math.log(pb * 2.0 / (pa + pb)) / 2.0
      }
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(out(ws) == ((nL, r6(klAb), r6(klBa), r6(jsv))),
        s"window $ws must equal the local replay")
    }
    // drift registers: the disjoint day scores far above the aligned one
    val byTime = out.toSeq.sortBy(_._1.getTime).map(_._2)
    assert(byTime.last._4 > 10 * byTime.head._4,
      "disjoint-vocabulary window must dominate the JS divergence")
  }

  test("windowed vocabulary monitors reject a non-positive or NaN alpha, naming it") {
    // a baseline whose top-K covers its whole total leaves the OOV cell at
    // 0, so at alpha = 0 that cell's smoothed shares are 0 and its log
    // terms are not finite
    val docs = Seq((1L, new Timestamp(1700000000000L), "a b", "en"),
      (2L, new Timestamp(1700000060000L), "a c", "en"))
      .toDF("doc_id", "ts", "text", "lang")
    val (bc, bt) = TextAnalysis.vocabBaseline(docs, "text", topK = 5)
    assert(bt == bc.values.sum, "top-K must cover the whole baseline")
    for (alpha <- Seq(0.0, -0.5, Double.NaN)) {
      val e1 = intercept[IllegalArgumentException](TextAnalysis
        .vocabDivergenceWindowed(docs, "ts", "text", bc, bt, alpha = alpha)
        .collect())
      assert(e1.getMessage.contains("alpha"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException](TextAnalysis
        .textGateWindowed(docs, "ts", "text", "lang", Array(0.5), Array(2L),
          Map("en" -> 2L), bc, bt, alpha = alpha)
        .collect())
      assert(e2.getMessage.contains("alpha"), e2.getMessage)
    }
  }

  test("vocabDivergenceWindowedBy: per-cell equals the unsliced twin on the slice substream, alarm localizes") {
    import java.sql.Timestamp
    import org.apache.spark.sql.functions.col
    // slice a speaks the baseline vocabulary both days; slice b switches
    // to a disjoint one on day 2 — exactly one (day, slice) cell drifts
    val docs = (0 until 80).map { i =>
      val day = i / 40 + 1
      val g = if (i % 2 == 0) "a" else "b"
      val text = if (g == "b" && day == 2) s"zeta yotta xenon w${i % 4}"
        else s"alpha beta gamma d${i % 5}"
      (i.toLong, new Timestamp(
        Timestamp.valueOf(f"2024-01-0$day 00:00:00").getTime + i * 60000L),
        g, text)
    }.toDF("doc_id", "ts", "g", "text")
    val (bc, bt) = TextAnalysis.vocabBaseline(
      docs.filter(col("ts") < lit("2024-01-02").cast("timestamp")),
      "text", topK = 5)
    val by = TextAnalysis
      .vocabDivergenceWindowed(docs, "ts", "text", bc, bt,
        slice = Some("g"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.toSeq.drop(2))
      .toMap
    assert(by.size == 4)
    for (g <- Seq("a", "b")) {
      val sub = TextAnalysis
        .vocabDivergenceWindowed(docs.filter(col("g") === g), "ts",
          "text", bc, bt)
        .collect()
        .map(r => (r.getTimestamp(0), g) -> r.toSeq.drop(1)).toMap
      sub.foreach { case (k, v) =>
        assert(by(k) == v, s"cell $k must equal the unsliced twin")
      }
    }
    val day2 = Timestamp.valueOf("2024-01-02 00:00:00")
    def js(k: (Timestamp, String)) = by(k)(3).asInstanceOf[Double]
    assert(js((day2, "b")) > 10 * js((day2, "a")),
      "the alarm must localize to the slice that switched vocabulary")
  }

  test("driftReport: a session that still sets graft.grid.guard=false gets the guard") {
    val docs = (0 until 200).map { i =>
      val src = if (i % 4 == 0) "live" else "base"
      (i.toLong, src, (i % 10) / 10.0 + (if (src == "live") 0.3 else 0.0),
        if (i % 3 == 0) "en" else "de")
    }.toDF("id", "src", "q", "lang")
    val base = docs.filter(col("src") === "base")
    val live = docs.filter(col("src") === "live")
    val sc = spark.sparkContext
    // the key no longer switches anything: more than ten distinct q
    // values over a ceiling of 5 fail the report's gate and release its
    // pins
    spark.conf.set("graft.grid.guard", "false")
    spark.conf.set(GridGuard.MaxDistinctConf, "5")
    try {
      val before = sc.getPersistentRDDs.keySet.toSet
      val e = intercept[IllegalArgumentException](
        Outliers.driftReport(base, live, "q", "lang"))
      assert(e.getMessage.contains("driftReport") &&
        e.getMessage.contains("ROUNDED"), e.getMessage)
      assert(sc.getPersistentRDDs.keySet.toSet == before,
        "a failing gate must release the report's pins")
    } finally {
      spark.conf.unset("graft.grid.guard")
      spark.conf.unset(GridGuard.MaxDistinctConf)
    }
  }

  test("pairwise drift members on an empty or an overlapping side") {
    val df = (0 until 60).map(i =>
      ("g" + (i % 3), (i % 10) / 10.0, if (i % 4 == 0) "x" else "y"))
      .toDF("g", "v", "c")
    val half = df.filter($"g" === "g0")
    val none = df.filter(lit(false))
    def row(f: => org.apache.spark.sql.DataFrame): Seq[Any] = {
      val rows = f.collect()
      assert(rows.length == 1, rows.mkString(", "))
      rows.head.toSeq
    }
    def dividesByZero(f: => org.apache.spark.sql.DataFrame): Unit = {
      val e = intercept[Exception](f.collect())
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
      assert(chain(e).exists(_.contains("DIVIDE_BY_ZERO")), chain(e))
    }
    // an empty side: KS and chi² divide by its zero count, and the
    // report fails with them; rank-sum keeps its row (σ = 0: NULL z)
    for ((a, b) <- Seq((df, none), (none, df))) {
      dividesByZero(Eval.ksTest(a, b, "v"))
      dividesByZero(Outliers.chiSquareDrift(a, b, "c"))
      dividesByZero(Outliers.driftReport(a, b, "v", "c"))
    }
    assert(row(Eval.rankSumTest(df, none, "v")) == Seq(60L, 0L, 0.0, null, 0))
    assert(row(Eval.rankSumTest(none, df, "v")) == Seq(0L, 60L, 0.0, null, 0))
    // overlapping sides (GridGuardSuite's half ⊂ df): each row of the
    // subset counts on both sides
    assert(row(Eval.ksTest(half, df, "v")) ==
      Seq(20L, 60L, 0.0, 0.35063409227664477, 0))
    assert(row(Eval.rankSumTest(half, df, "v")) == Seq(20L, 60L, 600.0, 0.0, 0))
    assert(row(Outliers.chiSquareDrift(half, df, "c")) ==
      Seq(20L, 60L, 2L, 0.0, 3.746922, 0))
    assert(Outliers.driftReport(half, df, "v", "c").collect().map(_.toSeq)
      .toSeq == Seq(Seq("chi2", 0.0, 3.746922, 0),
        Seq("ks", 0.0, 0.35063409227664477, 0), Seq("psi", 0.0, 0.25, 0),
        Seq("rank_sum", 0.0, 1.96, 0)))
  }

  test("pairwise drift members when both sides are empty") {
    val none = Seq((0.5, "x")).toDF("v", "c").filter(lit(false))
    def row(f: => org.apache.spark.sql.DataFrame): Seq[Any] = {
      val rows = f.collect()
      assert(rows.length == 1, rows.mkString(", "))
      rows.head.toSeq
    }
    // every member keeps its one row: NULL statistics, drifted 0 (the
    // global aggregates over no values have a row; nothing divides)
    assert(row(Eval.ksTest(none, none, "v")) == Seq(null, null, null, null, 0))
    assert(row(Eval.rankSumTest(none, none, "v")) ==
      Seq(null, null, null, null, 0))
    assert(row(Outliers.chiSquareDrift(none, none, "c")) ==
      Seq(null, null, 0L, null, null, 0))
    // the report keeps its four rows; psi smooths two empty sides to 0
    assert(Outliers.driftReport(none, none, "v", "c").collect()
      .map(_.toSeq).toSeq == Seq(Seq("chi2", null, null, 0),
        Seq("ks", null, null, 0), Seq("psi", 0.0, 0.25, 0),
        Seq("rank_sum", null, 1.96, 0)))
  }

  test("embeddingDrift: identical slices show cos 1 / l2 0; a shifted slice moves both") {
    val a = (0L until 10L).map(i =>
      (i, Array(1.0f, 2.0f, (i % 3).toFloat))).toDF("vec_id", "embedding")
    val same = Similarity.embeddingDrift(a, a).head()
    assert(same.getAs[Double]("mean_cos") == 1.0)
    assert(same.getAs[Double]("mean_l2") == 0.0)
    assert(same.getAs[Long]("n_base") == 10L)
    val b = a.select(col("vec_id"),
      transform(col("embedding"), x => x + lit(5.0f)).as("embedding"))
    val moved = Similarity.embeddingDrift(a, b).head()
    assert(moved.getAs[Double]("mean_l2") > 8.0)
    assert(moved.getAs[Double]("mean_cos") < 1.0)
  }
}
