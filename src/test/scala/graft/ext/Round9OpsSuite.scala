package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.SparkTest

/** Round-9 operators: vocabulary divergence, token entropy, Zipf fit,
  * simplified-silhouette cluster quality, reciprocal rank fusion. */
class Round9OpsSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  // ---- vocabDivergence ---------------------------------------------------

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

  // ---- tokenEntropy ------------------------------------------------------

  test("tokenEntropy: uniform, constant, and empty documents") {
    val df = Seq(
      (1L, "a b c d"),        // uniform over 4: H = ln 4, norm = 1
      (2L, "spam spam spam"), // constant: H = 0, norm NULL
      (3L, ""),               // empty: NULL entropy
      (4L, "a a b b")         // two tokens equal: H = ln 2, norm = 1
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tokenEntropy(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(got(0).getAs[Double]("entropy") ==
      BigDecimal(math.log(4.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got(0).getAs[Double]("norm_entropy") == 1.0)
    assert(got(1).getAs[Double]("entropy") == 0.0)
    assert(got(1).isNullAt(got(1).fieldIndex("norm_entropy")))
    assert(got(2).isNullAt(got(2).fieldIndex("entropy")))
    assert(got(2).getAs[Int]("n_tokens") == 0)
    assert(got(3).getAs[Double]("entropy") ==
      BigDecimal(math.log(2.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("tokenEntropy is a shuffle-free per-row map (no Exchange in the plan)") {
    val df = Seq((1L, "a b a")).toDF("doc_id", "text")
    val plan = TextAnalysis.tokenEntropy(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected no shuffle:\n$plan")
  }

  // ---- zipfFit -----------------------------------------------------------

  test("zipfFit recovers slope -1 with r2 1 on an exact power law") {
    // freq(rank r) = 720/r for r=1..6 -> ln(freq) = ln 720 - ln(rank)
    val docs = (1 to 6).flatMap { r =>
      Seq.fill(720 / r)(s"w$r")
    }.mkString(" ")
    val got = TextAnalysis.zipfFit(Seq(docs).toDF("text"), "text", 10).head()
    assert(got.getAs[Long]("n_terms") == 6L)
    assert(math.abs(got.getAs[Double]("slope") + 1.0) < 1e-6)
    assert(math.abs(got.getAs[Double]("r2") - 1.0) < 1e-6)
    assert(math.abs(got.getAs[Double]("intercept") - math.log(720.0)) < 1e-6)
  }

  test("zipfFit top-N compiles to TakeOrderedAndProject, never a full vocab sort") {
    val plan = TextAnalysis.zipfFit(Seq("a b c").toDF("text"), "text", 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject in plan:\n$plan")
  }

  test("degenerate guards: 1-term zipf, flat-count r2, empty-vector mse, empty pageRank") {
    // single distinct token: zero rank variance -> NULL slope/intercept/r2
    val one = TextAnalysis.zipfFit(Seq("solo solo solo").toDF("text"), "text", 10)
      .head()
    assert(one.getLong(0) == 1L)
    assert(one.isNullAt(1) && one.isNullAt(2) && one.isNullAt(3))
    // every count equal: zero freq variance -> NULL r2, slope 0 defined
    val flat = TextAnalysis.zipfFit(Seq("aa bb cc").toDF("text"), "text", 10)
      .head()
    assert(flat.getDouble(1) == 0.0 && flat.isNullAt(3))
    // empty embedding: NULL mse instead of an ANSI 0/0 fault
    val emptyVec = Similarity.scalarQuantize(
      Seq((1L, Array.empty[Float])).toDF("vec_id", "embedding"))
      .head()
    assert(emptyVec.isNullAt(2))
    // empty edge set fails loudly, not with an optimizer-phase fault
    val err = intercept[IllegalArgumentException] {
      Graph.pageRank(Seq.empty[(Long, Long)].toDF("src", "dst"),
        "src", "dst", 1)
    }
    assert(err.getMessage.contains("empty edge set"))
  }

  // ---- clusterQuality ----------------------------------------------------

  test("clusterQuality: separated clusters score near 1, merged clusters near 0") {
    // two tight, far-apart clusters and one cluster duplicated on top of
    // the first (its points are equidistant-ish -> low silhouette)
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    val rows = Seq(
      (1L, 0, v(0, 0)), (2L, 0, v(0, 1)), (3L, 0, v(1, 0)),
      (4L, 1, v(100, 100)), (5L, 1, v(100, 101)), (6L, 1, v(101, 100)),
      (7L, 2, v(0.5, 0.5)), (8L, 2, v(0.4, 0.4)), (9L, 2, v(0.6, 0.3))
    ).toDF("vec_id", "label", "embedding")
    val got = Similarity.clusterQuality(rows, "label")
      .orderBy("cluster").collect()
    assert(got.map(_.getAs[Long]("n")).toSeq == Seq(3L, 3L, 3L))
    // cluster 1 is 140 units from everything: silhouette ~ 1
    assert(got(1).getAs[Double]("mean_silhouette") > 0.99)
    // clusters 0 and 2 overlap: silhouette well below the separated one
    assert(got(0).getAs[Double]("mean_silhouette") < 0.5)
    assert(got(2).getAs[Double]("mean_silhouette") < 0.5)
  }

  test("clusterQuality a-distance: a point sitting on its centroid has a = 0") {
    def v(x: Double) = Array(x.toFloat)
    // cluster 0 is one point (its own centroid); cluster 1 far away
    val rows = Seq((1L, 0, v(5)), (2L, 1, v(50)), (3L, 1, v(50)))
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.clusterQuality(rows, "label")
      .orderBy("cluster").collect()
    assert(got(0).getAs[Double]("mean_a") == 0.0)
    assert(got(0).getAs[Double]("mean_silhouette") == 1.0)
    assert(got(1).getAs[Double]("mean_a") == 0.0)
  }

  // ---- rrfFuse -----------------------------------------------------------

  test("rrfFuse replays hand-computed reciprocal ranks, one-sided docs included") {
    val a = Seq((10L, 3.0), (20L, 2.0), (30L, 1.0)).toDF("id", "score")
    val b = Seq((20L, 9.0), (40L, 8.0)).toDF("id", "score")
    val got = Similarity.rrfFuse(a, b, "id", scoreCol = "score", k = 60)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("rrf")))
    def rrf(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // 20 is rank 2 in A and rank 1 in B; 10 only A rank 1; 40 only B rank 2
    assert(got.head == (20L, rrf(1.0 / 62 + 1.0 / 61)))
    assert(got.toMap == Map(
      20L -> rrf(1.0 / 62 + 1.0 / 61), 10L -> rrf(1.0 / 61),
      30L -> rrf(1.0 / 63), 40L -> rrf(1.0 / 62)))
    // fused order is score-desc with id tiebreak
    assert(got.map(_._1).toSeq == Seq(20L, 10L, 40L, 30L))
  }

  // ---- editDistanceVerify ------------------------------------------------

  test("editDistanceVerify keeps pairs within maxDist and reports the exact distance") {
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "the quick brown fix"),   // 1 edit from doc 1
      (3L, "completely different text entirely"),
      (4L, "the quick brown fox jumps")) // 6 edits from doc 1
      .toDF("doc_id", "text")
    val cand = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val got = Dedup.editDistanceVerify(cand, docs, "doc_id", "text", 5)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // (1,3) dies on the length prefilter (|19-34| > 5); (1,4) on distance
    assert(got.toSeq == Seq((1L, 2L, 1)))
    val loose = Dedup.editDistanceVerify(cand, docs, "doc_id", "text", 10)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(loose.toSeq == Seq((1L, 2L, 1), (1L, 4L, 6)))
  }

  // ---- Cms ---------------------------------------------------------------

  test("CMS estimates are exact at ample width and never undercount when narrow") {
    val toks = Seq.fill(7)("alpha") ++ Seq.fill(3)("beta") ++ Seq("gamma")
    val df = toks.toDF("tok")
    val probes = Seq("alpha", "beta", "gamma", "absent").toDF("tok")
    // wide sketch: collisions vanishingly unlikely over 3 keys
    val wide = Cms.estimates(Cms.cells(df, "tok", 4, 4096), probes, "tok",
      4, 4096).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wide == Map("alpha" -> 7L, "beta" -> 3L, "gamma" -> 1L,
      "absent" -> 0L))
    // 1-bucket sketch: every estimate collapses to the stream length —
    // the never-undercount bound at its degenerate extreme
    val narrow = Cms.estimates(Cms.cells(df, "tok", 2, 1), probes, "tok",
      2, 1).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(narrow.values.forall(_ == 11L))
  }

  test("CMS inner product bounds the exact equi-join size from above") {
    val a = (Seq.fill(4)("x") ++ Seq.fill(2)("y") ++ Seq("only_a")).toDF("tok")
    val b = (Seq.fill(3)("x") ++ Seq.fill(5)("y") ++ Seq("only_b")).toDF("tok")
    val exact = 4 * 3 + 2 * 5 // 22 join rows on shared keys
    val est = Cms.innerProduct(Cms.cells(a, "tok", 4, 4096),
      Cms.cells(b, "tok", 4, 4096)).head().getLong(0)
    assert(est == exact) // ample width: no collisions, bound is tight
    val estNarrow = Cms.innerProduct(Cms.cells(a, "tok", 4, 2),
      Cms.cells(b, "tok", 4, 2)).head().getLong(0)
    assert(estNarrow >= exact)
  }

  test("CMS cell table stays within d*w rows however large the input") {
    val df = (1 to 500).map(i => s"tok$i").toDF("tok")
    assert(Cms.cells(df, "tok", 4, 16).count() <= 4L * 16)
  }

  // ---- Chat --------------------------------------------------------------

  test("validateTurns flags each structural defect independently") {
    val turns = Seq(
      // conv 1: valid u/a/u/a
      (1L, 1, "user"), (1L, 2, "assistant"), (1L, 3, "user"),
      (1L, 4, "assistant"),
      // conv 2: double user turn (not alternating)
      (2L, 1, "user"), (2L, 2, "user"), (2L, 3, "assistant"),
      // conv 3: starts with assistant
      (3L, 1, "assistant"), (3L, 2, "user"), (3L, 3, "assistant"),
      // conv 4: single turn
      (4L, 1, "user")
    ).toDF("conv_id", "turn_idx", "role")
    val got = Chat.validateTurns(turns, "conv_id", "turn_idx", "role")
      .orderBy("conv_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5)))
    assert(got.toSeq == Seq(
      (1L, 4L, 1, 1, 1, 1),
      (2L, 3L, 1, 0, 1, 0),
      (3L, 3L, 0, 1, 1, 0),
      (4L, 1L, 1, 1, 0, 0)))
  }

  test("flatten assembles <|role|>content in turn order, out-of-order input included") {
    val turns = Seq(
      (1L, 2, "assistant", "hi there"), (1L, 1, "user", "hello"),
      (1L, 3, "user", "bye")
    ).toDF("conv_id", "turn_idx", "role", "content")
    val got = Chat.flatten(turns, "conv_id", "turn_idx", "role", "content")
      .head()
    assert(got.getLong(1) == 3L)
    assert(got.getString(2) ==
      "<|user|>hello<|assistant|>hi there<|user|>bye")
  }

  // ---- SkewJoin ----------------------------------------------------------

  test("saltedJoin equals the plain join and actually splits a hot key") {
    val big = (1L to 200L).map(i => (42L, i, i * 2.0)) ++
      Seq((7L, 999L, 1.0)) // hot key 42 plus a singleton key
    val bigDf = big.toDF("k", "rid", "v")
    val smallDf = Seq((42L, "hot"), (7L, "cold"), (8L, "unmatched"))
      .toDF("k", "tag")
    val salted = graft.operators.SkewJoin
      .saltedJoin(bigDf, smallDf, "k", 8, "rid")
    val plain = bigDf.join(smallDf, "k")
    assert(salted.count() == plain.count())
    assert(salted.select("k", "rid", "v", "tag").collect().toSet ==
      plain.select("k", "rid", "v", "tag").collect().toSet)
    // the hot key's rows really spread over multiple salt buckets
    import org.apache.spark.sql.functions.{conv => sconv}
    val nSalts = bigDf.filter($"k" === 42L)
      .select(pmod(sconv(substring(md5($"rid".cast("string")), 1, 15),
        16, 10).cast("long"), lit(8L)).as("s"))
      .distinct().count()
    assert(nSalts > 4, s"expected the hot key spread across salts, got $nSalts")
  }

  test("saltedJoin keeps big-side rows whose id column is NULL") {
    // md5(NULL) would yield a NULL salt and silently drop the row; the
    // sentinel coalesce must keep it matching like a plain join does
    val bigDf = Seq((Some(42L), Option(1L), 1.0), (Some(42L), None, 2.0))
      .toDF("k", "rid", "v")
    val smallDf = Seq((42L, "hot")).toDF("k", "tag")
    val salted = graft.operators.SkewJoin
      .saltedJoin(bigDf, smallDf, "k", 4, "rid")
    val plain = bigDf.join(smallDf, "k")
    assert(salted.count() == 2L)
    assert(salted.select("k", "rid", "v", "tag").collect().toSet ==
      plain.select("k", "rid", "v", "tag").collect().toSet)
  }

  // ---- labelPropagation --------------------------------------------------

  test("labelPropagation spreads a seed down a chain one hop per round, seeds clamped") {
    // chain 1-2-3-4 (symmetric); node 1 seeded "a"; node 4 seeded "b"
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L),
      (4L, 3L)).toDF("src", "dst")
    val seeds = Seq((1L, "a"), (4L, "b")).toDF("node", "lab")
    def run(iters: Int) = Graph.labelPropagation(
      edges, seeds, "src", "dst", "node", "lab", iters)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val r1 = run(1)
    assert(r1(2L).contains("a") && r1(3L).contains("b"))
    assert(r1(1L).contains("a") && r1(4L).contains("b"), "seeds clamped")
    // node 2 hears 'a' (from 1) and 'b' (from 3) in round 2: tie breaks
    // to the lexicographically smaller label
    val r2 = run(2)
    assert(r2(2L).contains("a") && r2(3L).contains("a"),
      s"tie must break to the smaller label: $r2")
  }

  test("labelPropagation leaves unreachable nodes NULL") {
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L))
      .toDF("src", "dst")
    val seeds = Seq((1L, "x")).toDF("node", "lab")
    val got = Graph.labelPropagation(edges, seeds, "src", "dst",
      "node", "lab", 3)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got(2L).contains("x"))
    assert(got(3L).isEmpty && got(4L).isEmpty)
  }

  // ---- scalarQuantize ----------------------------------------------------

  test("scalarQuantize: on-grid values reconstruct exactly, constants go to 0, range holds") {
    // dim 0 spans [0, 255] with on-grid points (exact reconstruction);
    // dim 1 is constant (lo == hi -> q = 0, xr = lo, zero error)
    val rows = Seq(
      (1L, Array(0.0f, 7.0f)),
      (2L, Array(255.0f, 7.0f)),
      (3L, Array(128.0f, 7.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.scalarQuantize(rows)
      .orderBy("vec_id").collect()
    assert(got.map(_.getAs[Double]("mse")).forall(_ == 0.0))
    val qs = got.map(_.getSeq[Byte](1))
    assert(qs(0) == Seq(-128.toByte, 0.toByte)) // 0 -> q=-128; const dim -> 0
    assert(qs(1) == Seq(127.toByte, 0.toByte))  // 255 -> q=127
    assert(qs(2) == Seq(0.toByte, 0.toByte))    // 128 -> round(128.0)=128 -> 0
    assert(qs.flatten.forall(b => b >= -128 && b <= 127))
  }

  test("scalarQuantize MSE is bounded by the quantization step") {
    // off-grid values: per-dim step = (hi-lo)/255, max err step/2
    val rows = (0 until 50).map(i => (i.toLong, Array(i * 0.13f, -i * 0.07f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.scalarQuantize(rows).collect()
    val step = math.pow(49 * 0.13f / 255.0 / 2.0, 2) +
      math.pow(49 * 0.07f / 255.0 / 2.0, 2)
    assert(got.map(_.getAs[Double]("mse")).forall(_ <= step),
      "per-vector MSE exceeds the half-step bound")
  }

  // ---- pageRank ----------------------------------------------------------

  test("pageRank replays a hand-computed chain with a dangling node, mass conserved") {
    // directed chain 1 -> 2 -> 3; node 3 is dangling (its mass spreads)
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = Graph.pageRank(edges, "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // reference replay of the same update rule
    val (d, n) = (0.85, 3.0)
    var pr = Map(1L -> 1 / n, 2L -> 1 / n, 3L -> 1 / n)
    for (_ <- 1 to 3) {
      val dang = pr(3L)
      pr = Map(
        1L -> ((1 - d) / n + d * (0.0 + dang / n)),
        2L -> ((1 - d) / n + d * (pr(1L) / 1 + dang / n)),
        3L -> ((1 - d) / n + d * (pr(2L) / 1 + dang / n)))
    }
    for (k <- pr.keys) assert(math.abs(got(k) - pr(k)) < 1e-12,
      s"node $k: ${got(k)} vs ${pr(k)}")
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "rank mass conserved")
  }

  test("pageRank: the hub of a symmetric star outranks its leaves") {
    val spokes = (2L to 6L)
    val edges = (spokes.map(l => (1L, l)) ++ spokes.map(l => (l, 1L)))
      .toDF("src", "dst")
    val got = Graph.pageRank(edges, "src", "dst", iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(spokes.forall(l => got(1L) > got(l)), s"hub must dominate: $got")
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  // ---- triangleCount -----------------------------------------------------

  test("triangleCount: K4 gives 3 per node; direction/dup/self-loop noise ignored") {
    // complete graph on {1,2,3,4} (4 triangles, each node in 3), plus a
    // pendant node 5, a duplicate edge, a reversed edge and a self-loop
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val edges = (k4 ++ Seq((2L, 1L), (1L, 2L), (3L, 3L), (4L, 5L)))
      .toDF("src", "dst")
    val got = Graph.triangleCount(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 0L))
  }

  test("triangleCount: triangle-free bipartite graph counts zero everywhere") {
    val edges = (for { a <- 1L to 3L; b <- 10L to 12L } yield (a, b))
      .toDF("src", "dst")
    val got = Graph.triangleCount(edges, "src", "dst").collect()
    assert(got.length == 6 && got.forall(_.getLong(1) == 0L))
  }

  // ---- logisticTrain / logisticScoreWith ---------------------------------

  test("logisticTrain replays the hand-computed first GD round") {
    // w=0 => sigmoid = 0.5 for every row, so round 1 is
    // w_j = lr * mean((y - 0.5) * x_j)
    val df = Seq((1.0, 0.2, 1.0), (1.0, 0.8, 0.0), (1.0, 0.4, 1.0))
      .toDF("x1", "x2", "y")
    val w = TextAnalysis.logisticTrain(df, Seq("x1", "x2"), "y",
      iters = 1, lr = 0.5)
    val g0 = (0.5 + (-0.5) + 0.5) / 3
    val g1 = (0.5 * 1.0 + (-0.5) * 1.0 + 0.5 * 1.0) / 3
    val g2 = (0.5 * 0.2 + (-0.5) * 0.8 + 0.5 * 0.4) / 3
    assert(math.abs(w(0) - 0.5 * g1) < 1e-12)
    assert(math.abs(w(1) - 0.5 * g0) < 1e-12) // x1 is constant 1.0 here too
    assert(math.abs(w(2) - 0.5 * g2) < 1e-12)
  }

  test("logisticTrain separates a linearly separable label and the gate predicts it") {
    // y = 1 iff x1 > 0.5; plenty of iterations at a bounded feature
    val rows = (0 until 40).map { i =>
      val x1 = i / 40.0
      (i.toLong, x1, if (x1 > 0.5) 1.0 else 0.0)
    }
    val df = rows.toDF("id", "x1", "y")
    val w = TextAnalysis.logisticTrain(df, Seq("x1"), "y",
      iters = 200, lr = 2.0)
    assert(w(1) > 0, "informative feature gets a positive weight")
    val scored = TextAnalysis.logisticScoreWith(df, "id", Seq("x1"), w)
      .join(df.select(col("id"), col("y")), "id")
      .select(col("pred"), col("y")).collect()
    val acc = scored.count(r =>
      r.getInt(0).toDouble == r.getDouble(1)).toDouble / scored.length
    assert(acc >= 0.9, s"train accuracy $acc after 200 rounds")
  }

  test("logisticScoreWith is a shuffle-free map and gates on the rounded score") {
    val df = Seq((1L, 0.5)).toDF("id", "x1")
    val scored = TextAnalysis.logisticScoreWith(df, "id", Seq("x1"),
      Array(0.0, 0.0))
    assert(!scored.queryExecution.executedPlan.toString.contains("Exchange"))
    val r = scored.head()
    assert(r.getDouble(1) == 0.5 && r.getInt(2) == 1) // sigma(0)=0.5 >= 0.5
  }

  test("rrfFuse ranks on the 6 dp-rounded score with id tiebreak") {
    // scores equal after rounding: rank order falls back to id
    val a = Seq((2L, 1.0000001), (1L, 1.0000004)).toDF("id", "score")
    val b = spark.emptyDataFrame
      .select(lit(0L).as("id"), lit(0.0).as("score")).limit(0)
    val got = Similarity.rrfFuse(a, b, "id", scoreCol = "score")
      .collect().map(_.getAs[Long]("id"))
    assert(got.toSeq == Seq(1L, 2L))
  }

  // ---- retrievalMetrics --------------------------------------------------

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("retrievalMetrics replays hand-computed hit/MRR/nDCG, including no-hit and no-qrels queries") {
    val runs = Seq(
      // q1: rel at ranks 1 and 3 (scores descending a > b > c)
      (1L, 10L, 0.9), (1L, 11L, 0.8), (1L, 12L, 0.7),
      // q2: nothing relevant retrieved
      (2L, 10L, 0.9), (2L, 11L, 0.8),
      // q3: no qrels at all
      (3L, 10L, 0.9)
    ).toDF("q", "d", "score")
    val qrels = Seq((1L, 10L), (1L, 12L), (1L, 99L), (2L, 98L),
      // q4: judged but the run returned NOTHING — must still emit a row
      (4L, 97L))
      .toDF("q", "d")
    val got = Eval.retrievalMetrics(runs, qrels, "q", "d", "score", 3)
      .orderBy("q").collect()
    val ln2 = Eval.Ln2
    def disc(r: Int) = 1.0 / (math.log(r + 1.0) / ln2)
    // q1: dcg = disc(1) + disc(3); idcg over min(3, n_rel=3) positions
    val ndcg1 = (disc(1) + disc(3)) / (disc(1) + disc(2) + disc(3))
    assert(got(0).getAs[Long]("n_rel") == 3L)
    assert(got(0).getAs[Int]("hit_k") == 1)
    assert(got(0).getAs[Double]("mrr") == 1.0)
    assert(got(0).getAs[Double]("ndcg") == r6(ndcg1))
    // q2: retrieved nothing relevant but one rel IS judged → ndcg 0, mrr 0
    assert(got(1).getAs[Long]("n_rel") == 1L)
    assert(got(1).getAs[Int]("hit_k") == 0)
    assert(got(1).getAs[Double]("mrr") == 0.0)
    assert(got(1).getAs[Double]("ndcg") == 0.0)
    // q3: no judgments → nDCG undefined (NULL), not 0
    assert(got(2).getAs[Long]("n_rel") == 0L)
    assert(got(2).isNullAt(got(2).fieldIndex("ndcg")))
    // q4: judged, zero rows retrieved → scores 0 instead of vanishing
    assert(got.length == 4)
    assert(got(3).getAs[Long]("q") == 4L)
    assert(got(3).getAs[Long]("n_rel") == 1L)
    assert(got(3).getAs[Int]("hit_k") == 0)
    assert(got(3).getAs[Double]("mrr") == 0.0)
    assert(got(3).getAs[Double]("ndcg") == 0.0)
  }

  test("retrievalMetrics ranks by score desc with doc-id tiebreak and caps idcg at k") {
    // two docs tie on score: doc 5 outranks doc 6; 4 judged docs, k=2
    val runs = Seq((1L, 6L, 0.5), (1L, 5L, 0.5)).toDF("q", "d", "score")
    val qrels = Seq((1L, 5L), (1L, 6L), (1L, 7L), (1L, 8L)).toDF("q", "d")
    val got = Eval.retrievalMetrics(runs, qrels, "q", "d", "score", 2)
      .head()
    assert(got.getAs[Double]("mrr") == 1.0) // doc 5 at rank 1
    assert(got.getAs[Double]("ndcg") == 1.0) // both slots rel, idcg = k slots
  }

  // ---- rrfFuseBy / retrievalMetricsMacro ----------------------------------

  test("rrfFuseBy fuses per query and matches single-query rrfFuse scores") {
    val runA = Seq((1L, 10L, 0.9), (1L, 11L, 0.8),
      (2L, 20L, 0.9), (2L, 21L, 0.8)).toDF("q", "d", "score")
    val runB = Seq((1L, 11L, 0.9), (1L, 12L, 0.8),
      (2L, 21L, 0.9)).toDF("q", "d", "score")
    val fused = Similarity.rrfFuseBy(runA, runB, "q", "d")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        r.getAs[Double]("rrf")).toMap
    // doc 11 in both runs for q1: 1/(60+2) + 1/(60+1)
    assert(fused((1L, 11L)) ==
      BigDecimal(1.0 / 62 + 1.0 / 61)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // one-run docs get only that run's term
    assert(fused((1L, 10L)) ==
      BigDecimal(1.0 / 61).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    // per-query isolation: q2's ranks never see q1's rows
    val single = Similarity.rrfFuse(runA.filter($"q" === 2L),
      runB.filter($"q" === 2L), "d")
      .collect().map(r => r.getAs[Long]("d") -> r.getAs[Double]("rrf")).toMap
    assert(fused((2L, 21L)) == single(21L) && fused((2L, 20L)) == single(20L))
  }

  test("retrievalMetricsMacro appends a macro row over judged queries only") {
    val runs = Seq((1L, 10L, 0.9), (1L, 11L, 0.8),
      (2L, 10L, 0.9), (3L, 10L, 0.9)).toDF("q", "d", "score")
    // q1 hits at rank 1; q2 judged but misses; q3 unjudged (excluded
    // from the macro denominator); q4 judged, retrieved nothing → zeros
    val qrels = Seq((1L, 10L), (2L, 99L), (4L, 98L)).toDF("q", "d")
    val got = Eval.retrievalMetricsMacro(runs, qrels, "q", "d", "score", 2)
      .collect()
    val macroRows = got.filter(_.getString(0) == "macro")
    assert(macroRows.length == 1 && macroRows.head.isNullAt(1))
    assert(macroRows.head.getAs[Long]("n_rel") == 3L, "q1, q2, q4 judged")
    assert(macroRows.head.getAs[Double]("hit_k") == 0.333333)
    assert(macroRows.head.getAs[Double]("mrr") == 0.333333)
    val per = got.filter(_.getString(0) == "query")
    assert(per.length == 4)
    assert(per.forall(r => r.getAs[Double]("hit_k") == 0.0 ||
      r.getAs[Double]("hit_k") == 1.0))
  }

  // ---- fleissKappa -------------------------------------------------------

  test("fleissKappa replays the hand-computed 2-rater 2-item case") {
    // i1: both raters say A (p_i = 1); i2: split A/B (p_i = 0)
    val df = Seq(
      (1L, "r1", "A"), (1L, "r2", "A"),
      (2L, "r1", "A"), (2L, "r2", "B")
    ).toDF("item", "rater", "vote")
    val got = Eval.fleissKappa(df, "item", "rater", "vote").head()
    assert(got.getAs[Long]("n_items") == 2L)
    assert(got.getAs[Long]("n_ratings") == 4L)
    assert(got.getAs[Double]("p_bar") == 0.5)
    assert(got.getAs[Double]("p_e") == 0.625) // (3/4)^2 + (1/4)^2
    assert(got.getAs[Double]("kappa") == r6((0.5 - 0.625) / 0.375))
  }

  test("fleissKappa: unanimous constant raters give p_e = 1 and NULL kappa") {
    val df = Seq((1L, "r1", "A"), (1L, "r2", "A"), (2L, "r1", "A"),
      (2L, "r2", "A")).toDF("item", "rater", "vote")
    val got = Eval.fleissKappa(df, "item", "rater", "vote").head()
    assert(got.getAs[Double]("p_e") == 1.0)
    assert(got.isNullAt(got.fieldIndex("kappa")))
  }

  // ---- brierDecomposition ------------------------------------------------

  test("brierDecomposition replays the hand-computed two-forecast case") {
    // log-odds 0 → p = 0.5 for both rows, outcomes split → one bin:
    // brier 0.25, reliability 0 (bin mean = bin outcome rate),
    // resolution 0 (one bin), uncertainty 0.25
    val df = Seq((0.0, 1), (0.0, 0)).toDF("score", "label")
    val got = Eval.brierDecomposition(df, "score", "label").head()
    assert(got.getAs[Long]("n") == 2L)
    assert(got.getAs[Double]("brier") == 0.25)
    assert(got.getAs[Double]("reliability") == 0.0)
    assert(got.getAs[Double]("resolution") == 0.0)
    assert(got.getAs[Double]("uncertainty") == 0.25)
  }

  test("brierDecomposition: perfect confident forecasts score 0 with full resolution") {
    // strong log-odds, correct: p ≈ 1 / 0 in the right bins
    val df = Seq((40.0, 1), (-40.0, 0)).toDF("score", "label")
    val got = Eval.brierDecomposition(df, "score", "label").head()
    assert(got.getAs[Double]("brier") == 0.0)
    assert(got.getAs[Double]("reliability") == 0.0)
    assert(got.getAs[Double]("resolution") == 0.25)
    assert(got.getAs[Double]("uncertainty") == 0.25)
  }

  // ---- bfsHops -----------------------------------------------------------

  test("bfsHops: path graph settles hop-by-hop, NULL past the cap, isolated seed at 0") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val seeds = Seq(1L, 9L).toDF("id") // 9 is not in the graph
    val got = Graph.bfsHops(edges, seeds, "src", "dst", "id", 3)
      .orderBy("node").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(got(1L) == Some(0) && got(2L) == Some(1) &&
      got(3L) == Some(2) && got(4L) == Some(3))
    assert(got(5L).isEmpty && got(6L).isEmpty, "beyond maxHops is NULL")
    assert(got(9L) == Some(0), "off-graph seed still reports hop 0")
  }

  test("bfsHops takes the SHORTEST route when two seeds compete") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 4L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val seeds = Seq(1L, 10L).toDF("id")
    val got = Graph.bfsHops(edges, seeds, "src", "dst", "id", 5)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(4L) == 1, "seed 10 reaches node 4 before seed 1's 3-hop route")
    assert(got(3L) == 2, "ties/competition settle at the minimum")
  }

  // ---- leakageSafeSplit --------------------------------------------------

  test("leakageSafeSplit keeps a whole near-dup component in one split and matches hashSplit on the group key") {
    val docs = (1L to 8L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Sampling.leakageSafeSplit(docs, "doc_id", pairs,
      Seq(0.5, 0.25, 0.25), "t")
    val rows = got.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("group_id"), r.getAs[Int]("split"))).toMap
    assert(Seq(1L, 2L, 3L).map(rows(_)._1).distinct == Seq(1L),
      "component {1,2,3} groups as canonical 1")
    assert(Seq(1L, 2L, 3L).map(rows(_)._2).distinct.size == 1,
      "the whole component lands in ONE split")
    assert(rows(5L)._1 == 5L && rows(6L)._1 == 5L &&
      rows(5L)._2 == rows(6L)._2)
    assert(rows(4L)._1 == 4L, "singleton groups as itself")
    // the split of a singleton must equal a plain hashSplit of its id
    val plain = Sampling.hashSplit(
        Seq(4L).toDF("group_id"), "group_id", Seq(0.5, 0.25, 0.25), "t")
      .head().getAs[Int]("split")
    assert(rows(4L)._2 == plain)
  }

  test("dupRateBySlice and crossSliceDupMatrix replay a hand-built two-source graph") {
    // srcA: docs 1,2,3 with 1-2 dup; srcB: docs 4,5 with 4-5 dup and 2-4
    // crossing sources
    val docs = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"), (5L, "B"))
      .toDF("doc_id", "src")
    val pairs = Seq((1L, 2L), (4L, 5L), (2L, 4L)).toDF("id_a", "id_b")
    val rates = Dedup.dupRateBySlice(docs, "doc_id", "src", pairs)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // component {1,2,4,5} canonical 1: dups are 2 (in A) and 4,5 (in B)
    assert(rates("A") == ((3L, 1L, 1.0 / 3)))
    assert(rates("B") == ((2L, 2L, 1.0)))
    val m = Dedup.crossSliceDupMatrix(docs, "doc_id", "src", pairs)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(m == Map(("A", "A") -> 1L, ("B", "B") -> 1L, ("A", "B") -> 1L))
  }

  // ---- canonicalByScore --------------------------------------------------

  test("canonicalByScore keeps the max-score member per component, id tiebreak, singletons survive") {
    val docs = Seq((1L, 0.2), (2L, 0.9), (3L, 0.9), (4L, 0.5))
      .toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.canonicalByScore(docs, "doc_id", pairs, "q")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("rep_id"), r.getAs[Int]("keep"))).toMap
    // component {1,2,3}: 2 and 3 tie at 0.9 → min id 2 wins
    assert(Seq(1L, 2L, 3L).map(got(_)._1).distinct == Seq(2L))
    assert(got(2L)._2 == 1 && got(1L)._2 == 0 && got(3L)._2 == 0)
    assert(got(4L) == (4L, 1), "singleton is its own representative")
  }

  // ---- timeDecayedValue --------------------------------------------------

  test("timeDecayedValue halves a value per half-life and counts recency") {
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2024-01-15 00:00:00")
    val t7 = Timestamp.valueOf("2024-01-22 00:00:00")  // 7 days later
    val df = Seq((1L, 10L, t0, 8.0), (2L, 11L, t7, 8.0))
      .toDF("user_id", "event_id", "ts", "value")
    val got = graft.streaming.EventStream.timeDecayedValue(df, 7.0)
      .collect().map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Double]("decayed_value"), r.getAs[Double]("decayed_count")))
      .toMap
    assert(got(2L) == (8.0, 1.0), "the newest event decays nothing")
    assert(got(1L)._1 == 4.0, "one half-life halves the value")
    assert(got(1L)._2 == 0.5)
  }

  test("timeDecayedValue composes incrementally: decay the old total, add the delta") {
    import java.sql.Timestamp
    def t(d: Int, h: Int) = Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
    val old = Seq((1L, 1L, t(1, 3), 4.0), (1L, 2L, t(3, 6), 2.0),
      (2L, 3L, t(2, 9), 8.0), (2L, 4L, t(4, 0), 1.0))
    val fresh = Seq((1L, 5L, t(8, 0), 6.0), (2L, 6L, t(9, 12), 3.0))
    def run(rows: Seq[(Long, Long, Timestamp, Double)]) =
      graft.streaming.EventStream
        .timeDecayedValue(rows.toDF("user_id", "event_id", "ts", "value"), 7.0)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val full = run(old ++ fresh)
    val oldV = run(old)
    val newV = run(fresh) // fresh contains the global max ts
    // carry factor: old totals decay by the old→new max-ts gap
    val tmaxOld = old.map(_._3.getTime).max
    val tmaxAll = (old ++ fresh).map(_._3.getTime).max
    val k = math.exp(-Eval.Ln2 *
      ((tmaxAll - tmaxOld) / 86400000.0) / 7.0)
    for (u <- Seq(1L, 2L)) {
      val expected = oldV(u) * k + newV(u)
      assert(math.abs(full(u) - expected) < 5e-6,
        s"user $u: full ${full(u)} vs incremental $expected")
    }
  }

  // ---- lengthBudgetReport ------------------------------------------------

  test("lengthBudgetReport replays hand-computed truncation cost per budget") {
    val df = Seq("a b c", "a b c d e", "a").toDF("text") // 3, 5, 1 tokens
    val got = TextAnalysis.lengthBudgetReport(df, "text", Seq(2, 4))
      .collect().map(r => r.getAs[Int]("budget") -> r).toMap
    val b2 = got(2)
    assert(b2.getAs[Long]("n_docs") == 3L)
    assert(b2.getAs[Long]("total_tokens") == 9L)
    assert(b2.getAs[Long]("docs_over") == 2L)
    assert(b2.getAs[Long]("tokens_lost") == 4L) // (3-2) + (5-2)
    assert(b2.getAs[Double]("kept_frac") == 5.0 / 9.0)
    val b4 = got(4)
    assert(b4.getAs[Long]("docs_over") == 1L)
    assert(b4.getAs[Long]("tokens_lost") == 1L)
    assert(b4.getAs[Double]("kept_frac") == 8.0 / 9.0)
  }

  // ---- krippendorffAlpha -------------------------------------------------

  test("krippendorffAlpha replays the hand case, drops unpairable items, hits 1 on perfect agreement") {
    // i1: A,A; i2: A,B → D_o = 0.5, D_e = 0.5, alpha = 0
    // i3 has ONE rating → unpairable, must not change anything
    val df = Seq((1L, "r1", "A"), (1L, "r2", "A"),
      (2L, "r1", "A"), (2L, "r2", "B"), (3L, "r1", "B"))
      .toDF("item", "rater", "vote")
    val got = Eval.krippendorffAlpha(df, "item", "rater", "vote").head()
    assert(got.getAs[Long]("n_items") == 2L)
    assert(got.getAs[Long]("n_ratings") == 4L)
    assert(got.getAs[Double]("d_o") == 0.5)
    assert(got.getAs[Double]("d_e") == 0.5)
    assert(got.getAs[Double]("alpha") == 0.0)
    val perfect = Seq((1L, "r1", "A"), (1L, "r2", "A"),
      (2L, "r1", "B"), (2L, "r2", "B")).toDF("item", "rater", "vote")
    assert(Eval.krippendorffAlpha(perfect, "item", "rater", "vote")
      .head().getAs[Double]("alpha") == 1.0)
  }

  test("krippendorffAlpha: one-category corpus has D_e = 0 and NULL alpha") {
    val df = Seq((1L, "r1", "A"), (1L, "r2", "A")).toDF("item", "rater", "v")
    val got = Eval.krippendorffAlpha(df, "item", "rater", "v").head()
    assert(got.getAs[Double]("d_e") == 0.0)
    assert(got.isNullAt(got.fieldIndex("alpha")))
  }

  // ---- quantileNormalize -------------------------------------------------

  test("quantileNormalize maps within-group percentiles onto global data values") {
    // group a: 1,2,3,4 ; group b: 101,102,103,104 — after normalization
    // both groups must map onto the SAME global values at the same ranks
    val df = (Seq(1.0, 2.0, 3.0, 4.0).map(("a", _)) ++
      Seq(101.0, 102.0, 103.0, 104.0).map(("b", _)))
      .zipWithIndex.map { case ((g, v), i) => (i.toLong, g, v) }
      .toDF("id", "grp", "x")
    val got = Eval.quantileNormalize(df, "grp", "x")
      .orderBy("grp", "x").collect()
      .map(r => (r.getAs[String]("grp"), r.getAs[Double]("x"),
        r.getAs[Double]("norm")))
    val a = got.filter(_._1 == "a").map(_._3).toSeq
    val b = got.filter(_._1 == "b").map(_._3).toSeq
    assert(a == b, "equal-shape groups normalize to the same global values")
    // pct of the k-th of 4 distinct values = (k - 0.5)/4 → global cum
    // fractions of the 8 pooled values are i/8: first covering value at
    // pct .125 is the global #1 (1.0), at .375 the #3 (3.0), …
    assert(a == Seq(1.0, 3.0, 101.0, 103.0))
    // every normalized output is an exact member of the pooled values
    val pool = Set(1.0, 2.0, 3.0, 4.0, 101.0, 102.0, 103.0, 104.0)
    assert(got.forall(r => pool.contains(r._3)))
  }

  // ---- rbo --------------------------------------------------------------

  test("rbo: identical lists extrapolate to 1, disjoint to 0, partial overlap replays by hand") {
    val a = (1L to 5L).map(i => (i, 10.0 - i)).toDF("id", "score")
    val idSame = Similarity.rbo(a, a, "id", p = 0.9, depth = 5).head()
    assert(idSame.getAs[Long]("overlap") == 5L)
    assert(idSame.getAs[Double]("rbo") == r6(1.0 - math.pow(0.9, 5)),
      "truncated RBO of identical prefixes carries exactly the prefix mass")
    assert(idSame.getAs[Double]("rbo_ext") == 1.0)
    val b = (11L to 15L).map(i => (i, 10.0 - i)).toDF("id", "score")
    val disj = Similarity.rbo(a, b, "id", p = 0.9, depth = 5).head()
    assert(disj.getAs[Long]("overlap") == 0L &&
      disj.getAs[Double]("rbo") == 0.0 &&
      disj.getAs[Double]("rbo_ext") == 0.0)
    // same top doc only: doc 1 at rank 1 both sides → contribution w(1)
    val c = (Seq((1L, 9.0)) ++ (12L to 15L).map(i => (i, 10.0 - i)))
      .toDF("id", "score")
    val one = Similarity.rbo(a, c, "id", p = 0.9, depth = 5).head()
    val w = Similarity.rboWeights(0.9, 5)
    assert(one.getAs[Long]("overlap") == 1L)
    assert(one.getAs[Double]("rbo") == r6(0.09999999999999998 * w(0)))
  }

  test("rboWeights: w(m) strictly decreases and w(depth) is the bare tail term") {
    val w = Similarity.rboWeights(0.9, 10)
    assert(w.zip(w.tail).forall { case (x, y) => x > y })
    assert(w(9) == math.pow(0.9, 9) / 10)
  }

  // ---- spearman ----------------------------------------------------------

  test("spearman: monotone agreement 1, reversal -1, tie-heavy hand case, constant NULL") {
    val up = Seq((1.0, 10.0), (2.0, 20.0), (3.0, 30.0)).toDF("a", "b")
    assert(Eval.spearman(up, "a", "b").head().getAs[Double]("rho") == 1.0)
    val down = Seq((1.0, 30.0), (2.0, 20.0), (3.0, 10.0)).toDF("a", "b")
    assert(Eval.spearman(down, "a", "b").head().getAs[Double]("rho") == -1.0)
    val const = Seq((1.0, 5.0), (2.0, 5.0)).toDF("a", "b")
    val cr = Eval.spearman(const, "a", "b").head()
    assert(cr.isNullAt(cr.fieldIndex("rho")), "all-tied signal is undefined")
    // ties: a = (1,1,2), b = (7,8,9): ranks a = (1.5, 1.5, 3), b = (1,2,3)
    // → rho = (3*13 - 6*6)/(sqrt(3*13.5-36)*sqrt(3*14-36)) = 3/sqrt(27)
    val tied = Seq((1.0, 7.0), (1.0, 8.0), (2.0, 9.0)).toDF("a", "b")
    val sab = 1.5 * 1 + 1.5 * 2 + 3.0 * 3
    val expect = (3 * sab - 6 * 6) /
      math.sqrt((3 * 13.5 - 36) * (3 * 14.0 - 36))
    assert(Eval.spearman(tied, "a", "b").head().getAs[Double]("rho") == expect)
  }

  // ---- pcaTopComponent ---------------------------------------------------

  test("pcaTopComponent recovers the dominant axis of an anisotropic cloud") {
    // points (±3, 0) and (0, ±1): C = diag(4.5, 0.5); the eigengap is 9×
    // per round, so 5 rounds leave tan(angle) = 9^-5 off the true e1
    val df = Seq(
      Array(3.0f, 0.0f), Array(-3.0f, 0.0f),
      Array(0.0f, 1.0f), Array(0.0f, -1.0f)
    ).map(Tuple1(_)).toDF("embedding")
    val v = Similarity.pcaTopComponent(df, iters = 5)
    assert(math.abs(v(0)) > 0.999999, s"v = ${v.toSeq}")
    assert(math.abs(v(1)) < 2e-5)
    assert(math.abs(v.map(z => z * z).sum - 1.0) < 1e-12, "unit norm")
    val rep = Similarity.pcaVarianceReport(df, iters = 5).head()
    assert(math.abs(rep.getAs[Double]("lambda") - 4.5) < 1e-6)
    assert(rep.getAs[Double]("total_var") == 5.0)
    assert(math.abs(rep.getAs[Double]("explained") - 0.9) < 1e-6)
  }

  test("pcaTopComponent centers: a shifted cloud gives the same direction") {
    def cloud(dx: Float) = Seq(
      Array(3.0f + dx, 0.0f), Array(-3.0f + dx, 0.0f),
      Array(dx, 1.0f), Array(dx, -1.0f)
    ).map(Tuple1(_)).toDF("embedding")
    val v0 = Similarity.pcaTopComponent(cloud(0.0f), iters = 3)
    val vShift = Similarity.pcaTopComponent(cloud(100.0f), iters = 3)
    assert(v0.zip(vShift).forall { case (a, b) => math.abs(a - b) < 1e-9 },
      "mean-centering makes the component translation-invariant")
  }

  test("pcaSecondComponent recovers the runner-up axis, orthogonal to the first") {
    // variances 4.5 / 0.5 / ~0.005 on axes 1 / 2 / 3
    val df = Seq(
      Array(3.0f, 0.0f, 0.0f), Array(-3.0f, 0.0f, 0.0f),
      Array(0.0f, 1.0f, 0.1f), Array(0.0f, -1.0f, -0.1f)
    ).map(Tuple1(_)).toDF("embedding")
    val v1 = Similarity.pcaTopComponent(df, iters = 6)
    val v2 = Similarity.pcaSecondComponent(df, iters = 6)
    assert(math.abs(v2.zip(v1).map { case (a, b) => a * b }.sum) < 1e-9,
      "second component is orthogonal to the first")
    assert(math.abs(v2.map(z => z * z).sum - 1.0) < 1e-12, "unit norm")
    assert(math.abs(v2(1)) > 0.99, s"axis 2 dominates v2: ${v2.toSeq}")
    assert(math.abs(v2(0)) < 1e-4)
  }

  test("embeddingOutliers ranks the planted outlier first and survives a constant dim") {
    // 20 tight points + one far outlier; dim 3 is constant (σ = 0)
    val rows = (1L to 20L).map(i =>
      (i, Array((i % 5).toFloat, (i % 3).toFloat, 2.0f))) :+
      (99L, Array(1000.0f, -1000.0f, 2.0f))
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.embeddingOutliers(df, k = 3).collect()
    assert(got.head.getLong(0) == 99L, "planted outlier scores highest")
    assert(got.head.getDouble(1) > 10 * got(1).getDouble(1))
    // constant dim contributes zero, not a division fault
    assert(got.forall(r => !r.getDouble(1).isNaN))
  }

  test("pcaProject plans shuffle-free; embeddingOutliers cuts via TakeOrderedAndProject") {
    val df = (1L to 8L).map(i => (i, Array(i.toFloat, (i % 3).toFloat)))
      .toDF("vec_id", "embedding")
    val p1 = Similarity.pcaProject(df, iters = 1)
      .queryExecution.executedPlan.toString
    assert(!p1.contains("Exchange"),
      s"projection must be a narrow codegen map:\n$p1")
    val p2 = Similarity.embeddingOutliers(df, k = 2)
      .queryExecution.executedPlan.toString
    assert(p2.contains("TakeOrderedAndProject"),
      s"top-k must not globally sort:\n$p2")
  }

  test("pcaProject emits the centered dominant-axis coordinate per row") {
    val df = Seq(
      (1L, Array(3.0f, 0.0f)), (2L, Array(-3.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.0f, -1.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.pcaProject(df, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(math.abs(got(1L)) - 3.0) < 1e-4)
    assert(got(1L) == -got(2L), "symmetric cloud projects symmetrically")
    assert(math.abs(got(3L)) < 1e-4 && math.abs(got(4L)) < 1e-4)
  }

  // ---- appendToStore / embeddingDrift ------------------------------------

  test("appendToStore: incremental build serves exactly what a one-shot store serves") {
    val emb = (0L until 40L).map { i =>
      (i, Array(math.cos(i.toDouble).toFloat, math.sin(i.toDouble).toFloat,
        (i % 7).toFloat), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val coarse = Ivf.train(emb, k = 4, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_append_test")
    val one = dir.resolve("one").toString
    val inc = dir.resolve("inc").toString
    Ivf.writeStore(emb, one, coarse)
    Ivf.writeStore(emb.filter(col("vec_id") < 20), inc, coarse)
    Ivf.appendToStore(emb.filter(col("vec_id") >= 20), inc, coarse)
    val q = emb.filter(col("vec_id") < 2)
    def serve(p: String) = Ivf.topKFromStore(spark, p, q, 5, coarse,
        nprobe = 4)
      .orderBy("query_id", "rank")
      .collect().map(_.toSeq).toSeq
    assert(serve(inc) == serve(one))
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

  // ---- PoissonThresholds -------------------------------------------------

  test("PoissonThresholds: weights average ~1 over the bucket space") {
    val th = Eval.PoissonThresholds
    assert(th.size == 8 && th.sameElements(th.sorted))
    // E[w] = Σ k·P(k) = 1 for Poisson(1); the discretized masses match
    val space = Sampling.Space.toDouble
    val masses = (th.head.toDouble / space) +:
      th.sliding(2).map(p => (p(1) - p(0)) / space).toSeq
    val ew = masses.zipWithIndex.map { case (m, k) => m * k }.sum +
      (1.0 - th.last / space) * 8
    assert(math.abs(ew - 1.0) < 1e-4, s"E[w] = $ew")
  }

  // ---- skewReport --------------------------------------------------------

  test("skewReport: uniform keys score zero gini / full entropy; a hot key dominates") {
    val uniform = (1L to 100L).map(i => (i, s"k${i % 4}")).toDF("id", "k")
    val u = Eval.skewReport(uniform, "k").head()
    assert(u.getAs[Long]("n_rows") == 100L && u.getAs[Long]("n_keys") == 4L)
    assert(u.getAs[Double]("gini") == 0.0)
    assert(u.getAs[Double]("max_share") == 0.25)
    assert(u.getAs[Double]("entropy") ==
      BigDecimal(math.log(4.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    val skewed = ((1L to 97L).map(i => (i, "hot")) ++
      Seq((98L, "a"), (99L, "b"), (100L, "c"))).toDF("id", "k")
    val sk = Eval.skewReport(skewed, "k").head()
    assert(sk.getAs[String]("top_key") == "hot")
    assert(sk.getAs[Double]("max_share") == 0.97)
    assert(sk.getAs[Double]("gini") > 0.7, "hot key → high gini")
    assert(sk.getAs[Double]("entropy") < 0.2, "hot key → low entropy")
  }

  // ---- decodeAudio -------------------------------------------------------

  test("decodeAudio round-trips synthesized PCM WAVs and matches a hand-computed RMS") {
    val docs = Seq((0L, "x"), (3L, "y")).toDF("doc_id", "text")
    val feats = Multimodal.audioFeatures(
        Multimodal.synthesizeAudio(docs, "doc_id"))
      .collect().map(f => f.id -> f).toMap
    assert(feats(0L).sampleRate == 8000 && feats(0L).channels == 1)
    assert(feats(0L).nSamples == 80L && feats(3L).nSamples == 320L)
    assert(feats(0L).durationMs == 10.0)
    // id 0: s(t) = (7t mod 2048) - 1024 for t < 80 → 7t - 1024 exactly
    val rms0 = math.sqrt((0 until 80)
      .map(t => math.pow(7.0 * t - 1024, 2)).sum / 80.0)
    assert(math.abs(feats(0L).rms - rms0) < 1e-9)
  }

  test("decodeAudio skips unknown RIFF chunks and rejects non-PCM loudly") {
    // hand-build a WAV with a LIST chunk between fmt and data
    val bb = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(56).put("WAVE".getBytes)
      .put("fmt ".getBytes).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000)
      .putShort(2).putShort(16)
      .put("LIST".getBytes).putInt(4).put("INFO".getBytes)
      .put("data".getBytes).putInt(4).putShort(3).putShort(-4)
    val f = Multimodal.decodeAudio(
      Multimodal.MediaRow(1L, bb.array(),
        Multimodal.MediaMeta("wav", 0, 0, 1)))
    assert(f.nSamples == 2L)
    assert(f.rms == math.sqrt((9.0 + 16.0) / 2))
    val bad = bb.array().clone()
    bad(20) = 85 // audioFormat short LE low byte → non-PCM
    val err = intercept[IllegalArgumentException] {
      Multimodal.decodeAudio(Multimodal.MediaRow(2L, bad,
        Multimodal.MediaMeta("wav", 0, 0, 1)))
    }
    assert(err.getMessage.contains("non-PCM"))
  }

  test("decodeAudio stays aligned past an odd-size data chunk (RIFF pad byte)") {
    // data chunk of 5 bytes (2 samples + dangling byte) padded to 6, then
    // a trailing LIST chunk the walker must still parse without faulting
    val bb = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(54).put("WAVE".getBytes)
      .put("fmt ".getBytes).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000)
      .putShort(2).putShort(16)
      .put("data".getBytes).putInt(5).putShort(3).putShort(-4)
      .put(9.toByte).put(0.toByte) // dangling payload byte + pad byte
      .put("LIST".getBytes).putInt(4).put("INFO".getBytes)
    val f = Multimodal.decodeAudio(
      Multimodal.MediaRow(7L, bb.array(),
        Multimodal.MediaMeta("wav", 0, 0, 1)))
    assert(f.nSamples == 2L)
    assert(f.rms == math.sqrt((9.0 + 16.0) / 2))
  }

  // ---- curateKeepBest ----------------------------------------------------

  test("curateKeepBest survives at least as many docs as curate, at >= quality, picking the better twin") {
    // near-dup pair: long high-quality doc 5 vs its clipped twin doc 2
    // (shared shingles => same LSH bucket); min-id keeps 2, keepBest 5
    val base = "the quick brown fox jumps over the lazy dog and keeps " +
      "running through the quiet green field toward the distant hills"
    val docs = Seq(
      (2L, base + " !!! ### $$$ %%% ^^^ &&&"), // symbol-spam twin
      (5L, base),
      (9L, "completely unrelated text about spark query planning today")
    ).toDF("doc_id", "text")
    val plain = graft.pipeline.CorpusCuration
      .curate(docs, minQuality = 0.0).collect().map(_.getLong(0)).toSet
    val best = graft.pipeline.CorpusCuration
      .curateKeepBest(docs, minQuality = 0.0).collect()
      .map(_.getLong(0)).toSet
    assert(plain == Set(2L, 9L), s"min-id keeps the clipped twin: $plain")
    assert(best == Set(5L, 9L), s"keepBest keeps the better twin: $best")
    // with the gate on, keepBest never keeps fewer rows than curate
    val cnt = graft.pipeline.CorpusCuration.curate(docs).count()
    val cntBest = graft.pipeline.CorpusCuration.curateKeepBest(docs).count()
    assert(cntBest >= cnt)
  }

  // ---- parseVideoMeta ----------------------------------------------------

  test("parseVideoMeta round-trips synthesized MP4s, reads v1 mvhd, rejects malformed boxes") {
    val docs = Seq((2L, "x"), (7L, "y")).toDF("doc_id", "text")
    val got = Multimodal.videoMeta(
        Multimodal.synthesizeVideo(docs, "doc_id"))
      .collect().map(v => v.id -> v).toMap
    assert(got(2L).brand == "isom" && got(2L).timescale == 600)
    assert(got(2L).duration == 1800L && got(2L).durationMs == 3000.0)
    assert(got(2L).nTracks == 3 && got(7L).nTracks == 2)
    assert(got(7L).duration == 4800L)
    // 64-bit (version 1) mvhd parses too
    val bb = java.nio.ByteBuffer.allocate(8 + 8 + 4 + 3 + 16 + 4 + 8)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    val total = bb.capacity
    bb.putInt(total).put("moov".getBytes)
      .putInt(total - 8).put("mvhd".getBytes)
      .put(1.toByte).put(Array[Byte](0, 0, 0))
      .putLong(0L).putLong(0L).putInt(90000).putLong(123456L)
    val v1 = Multimodal.parseVideoMeta(Multimodal.MediaRow(9L,
      bb.array(), Multimodal.MediaMeta("mp4", 0, 0, 1)))
    assert(v1.timescale == 90000 && v1.duration == 123456L)
    // a box whose size overruns the stream fails loudly
    val bad = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bad.putInt(9999).put("moov".getBytes)
    val err = intercept[IllegalArgumentException] {
      Multimodal.parseVideoMeta(Multimodal.MediaRow(10L, bad.array(),
        Multimodal.MediaMeta("mp4", 0, 0, 1)))
    }
    assert(err.getMessage.contains("malformed box"))
  }

  // ---- deflateRatio ------------------------------------------------------

  test("deflate_ratio: templates compress far below prose, noise above; empty = 1; deterministic") {
    val template = "buy now click here " * 100
    val rnd = new scala.util.Random(42)
    val noise = (1 to 400).map(_ => (rnd.nextInt(93) + 33).toChar).mkString
    val df = Seq((1L, template), (2L, noise), (3L, "")).toDF("id", "t")
      .select(col("id"),
        graft.functions.DeflateRatio.column(col("t")).as("r"))
    val got = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) < 0.05, s"template ratio ${got(1L)}")
    assert(got(2L) > 0.5, s"noise ratio ${got(2L)}")
    assert(got(3L) == 1.0)
    // stable across evaluations (fresh Deflater per call, fixed level)
    assert(df.collect().map(_.getDouble(1)).toSeq ==
      df.collect().map(_.getDouble(1)).toSeq)
    // SQL surface
    graft.GraftFunctions.register(spark)
    val viaSql = spark.sql(
      s"SELECT deflate_ratio('${"ab " * 50}') AS r").head().getDouble(0)
    assert(viaSql < 0.3)
  }

  // ---- nbLabelIssues -----------------------------------------------------

  test("nbLabelIssues surfaces the planted mislabel with the largest margin") {
    // 'en'-vocabulary docs labeled en, 'fr'-vocabulary docs labeled fr,
    // plus one en-vocabulary doc mislabeled fr
    val en = (1L to 5L).map(i => (i, "the cat sat on the mat", "en"))
    val fr = (6L to 10L).map(i => (i, "le chat dort sur le tapis", "fr"))
    val bad = Seq((99L, "the cat sat on the mat", "fr"))
    val df = (en ++ fr ++ bad).toDF("doc_id", "text", "lang")
    val got = TextAnalysis
      .nbLabelIssues(df, "doc_id", "text", "lang", topK = 5).collect()
    assert(got.nonEmpty)
    assert(got.head.getAs[Long]("doc_id") == 99L,
      "the planted mislabel tops the audit queue")
    assert(got.head.getAs[String]("pred") == "en" &&
      got.head.getAs[String]("label") == "fr")
    assert(got.head.getAs[Double]("margin") > 0)
    // margins are positive by construction (pred is the argmax)
    assert(got.forall(_.getAs[Double]("margin") >= 0))
  }

  // ---- mutualInfo --------------------------------------------------------

  test("mutualInfo: identical signals hit nmi 1, independent grids near 0, constants NULL") {
    // identical: each signal's entropy = MI (perfect dependence)
    val ident = (1L to 100L).map(i => (i.toDouble, i.toDouble)).toDF("a", "b")
    val gi = Eval.mutualInfo(ident, "a", "b", nBins = 4).head()
    assert(gi.getAs[Double]("nmi") == 1.0)
    assert(gi.getAs[Double]("mi") == gi.getAs[Double]("h_a"))
    // independent: full 4×4 product grid, every cell equal → MI exactly 0
    val indep = (for (x <- 0 until 4; y <- 0 until 4; r <- 0 until 2)
      yield (x.toDouble, y.toDouble)).zipWithIndex
      .map { case ((x, y), i) => (i.toLong, x, y) }.toDF("id", "a", "b")
    val g0 = Eval.mutualInfo(indep, "a", "b", nBins = 4).head()
    assert(g0.getAs[Double]("mi") == 0.0)
    // constant signal: zero entropy → nmi undefined
    val const = (1L to 50L).map(i => (i.toDouble, 7.0)).toDF("a", "b")
    val gc = Eval.mutualInfo(const, "a", "b", nBins = 4).head()
    assert(gc.getAs[Double]("h_b") == 0.0)
    assert(gc.isNullAt(gc.fieldIndex("nmi")))
  }

  // ---- psiOverTime -------------------------------------------------------

  test("psiOverTime: the baseline day scores exactly zero, a shifted day scores high") {
    import java.sql.Timestamp
    def t(day: Int, i: Int) = Timestamp.valueOf(f"2024-01-0$day 0$i:00:00")
    // day 1 (the baseline): values spread low; day 2: same shape (psi 0
    // vs itself only if counts AND totals match — they do for day 1);
    // day 3: all mass moved high
    val rows = (0 until 8).map(i => (t(1, i), (i % 4) * 0.1)) ++
      (0 until 8).map(i => (t(3, i), 0.9))
    val df = rows.toDF("ts", "value")
    val got = Outliers.psiOverTime(df, "ts", "value",
        col("ts") < lit("2024-01-02").cast("timestamp"), 10, 0.0, 1.0)
      .orderBy("ws").collect()
    assert(got.length == 2)
    assert(got(0).getAs[Double]("psi") == 0.0,
      "the baseline day against itself is exactly zero")
    assert(got(0).getAs[Long]("n") == 8L)
    assert(got(1).getAs[Double]("psi") > 1.0,
      "full mass relocation scores far above the 0.2 alarm bar")
  }

  // ---- trendTheilSen -----------------------------------------------------

  test("trendTheilSen shrugs off an outlier day and NULLs a 1-point series") {
    val df = (Seq((1.0, 2.0), (2.0, 4.0), (3.0, 6.0), (4.0, 8.0),
      (5.0, 1000.0)).map { case (x, y) => ("a", x, y) } ++
      Seq(("b", 7.0, 3.0))).toDF("g", "x", "y")
    val got = Outliers.trendTheilSen(df, "g", "x", "y")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(got("a").getAs[Long]("n_pairs") == 10L)
    assert(got("a").getAs[Double]("slope") == 2.0,
      "median of pairwise slopes ignores the outlier day (OLS would not)")
    assert(got("b").getAs[Long]("n_pairs") == 0L)
    assert(got("b").isNullAt(got("b").fieldIndex("slope")))
  }

  test("skewReport replays the hand-computed gini of counts (1, 9)") {
    val df = (Seq.fill(9)("big") :+ "small").zipWithIndex
      .map { case (k, i) => (i.toLong, k) }.toDF("id", "k")
    val got = Eval.skewReport(df, "k").head()
    // sorted counts (1, 9): gini = (2·(1·1 + 2·9) − 3·10) / (2·10) = 0.4
    assert(got.getAs[Double]("gini") == 0.4)
    assert(got.getAs[String]("top_key") == "big")
  }

  // ---- reliable checkpoint switch ----------------------------------------

  test("pageRank and bfsHops are identical under localCheckpoint and reliable checkpoint") {
    // graft.checkpoint.dir flips every iterative round from executor-local
    // to reliable storage — the cluster-survival mode. Same fixpoint.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 4L))
      .toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    def run() = (
      Graph.pageRank(edges, "src", "dst", 4)
        .withColumn("pr", round(col("pr"), 9))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet,
      Graph.bfsHops(edges, seeds, "src", "dst", "node", 4)
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1 else r.getInt(1))).toSet)
    val local = run()
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
      .toString
    spark.conf.set(graft.util.Checkpoints.DirConf, dir)
    try {
      val reliable = run()
      assert(reliable == local,
        "reliable-checkpoint rounds must reproduce the local fixpoint")
      assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        .count() > 0, "reliable mode must actually write checkpoint files")
    } finally spark.conf.unset(graft.util.Checkpoints.DirConf)
  }
}
