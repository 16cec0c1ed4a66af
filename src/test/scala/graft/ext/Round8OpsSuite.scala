package graft.ext

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.SparkTest

/** Round-8 operators: domain cap, bloom decontamination,
  * snapshot diff, weighted sampling, robust outliers. */
class Round8OpsSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  // ---- capPerGroupByScore ------------------------------------------------

  test("capPerGroupByScore equals the naive rank window, ties and small groups included") {
    val df = Seq(
      // group a: 6 rows, score ties at 5
      ("a", 1L, 5.0), ("a", 2L, 5.0), ("a", 3L, 7.0), ("a", 4L, 1.0),
      ("a", 5L, 5.0), ("a", 6L, 9.0),
      // group b: smaller than the cap
      ("b", 7L, 2.0), ("b", 8L, 3.0)).toDF("g", "id", "score")
    val got = Sampling.capPerGroupByScore(df, "g", "score", "id", 3)
      .orderBy("g", "id").collect().map(r => (r.getString(0), r.getLong(1)))
    val w = Window.partitionBy($"g").orderBy($"score".desc, $"id".asc)
    val want = df.withColumn("r", row_number().over(w)).filter($"r" <= 3)
      .orderBy("g", "id").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == want.toSeq)
    // score ties at the boundary break toward the smaller id
    assert(got.toSeq == Seq(("a", 1L), ("a", 3L), ("a", 6L), ("b", 7L), ("b", 8L)))
  }

  test("capPerGroupByScore compiles to a WindowGroupLimit partial top-N") {
    val df = Seq(("a", 1L, 2.0), ("a", 2L, 3.0)).toDF("g", "id", "score")
    val plan = Sampling.capPerGroupByScore(df, "g", "score", "id", 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit partial top-N in plan:\n$plan")
  }

  // ---- weightedSampleK ---------------------------------------------------

  test("weightedSampleK returns k rows and replays the A-ES formula exactly") {
    val rows = (1L to 200L).map(i => (i, (i % 7 + 1).toDouble))
    val df = rows.toDF("id", "w")
    val got = Sampling.weightedSampleK(df, "id", "w", 20, salt = "t")
      .select("id").as[Long].collect().toSet
    // replay: u from the same md5 bucket, key = -ln(u)/w, 20 smallest
    val bucketed = df.select($"id", $"w",
      Sampling.hashBucket($"id", "t").as("b")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val want = bucketed.map { case (id, w, b) =>
      (-math.log((b.toDouble + 0.5) / Sampling.Space.toDouble) / w, id)
    }.sortBy(identity).take(20).map(_._2).toSet
    assert(got == want)
    assert(got.size == 20)
  }

  test("weightedSampleK plans as TakeOrderedAndProject (no global sort)") {
    val df = (1L to 50L).map(i => (i, 1.0 + i)).toDF("id", "w")
    val plan = Sampling.weightedSampleK(df, "id", "w", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected per-partition top-k plan, got:\n$plan")
  }

  test("weightedSampleK favors heavy weights and caps at the row count") {
    // two strata: weight 50 vs weight 1 — the heavy half should dominate
    val df = (1L to 100L).map(i => (i, if (i <= 50) 50.0 else 1.0))
      .toDF("id", "w")
    val picked = Sampling.weightedSampleK(df, "id", "w", 30, salt = "bias")
      .select("id").as[Long].collect()
    assert(picked.count(_ <= 50L) >= 25, s"heavy stratum underdrawn: ${picked.toSeq}")
    assert(Sampling.weightedSampleK(df, "id", "w", 500).count() == 100)
  }

  test("TokenNgramHashes kernel == composed split/slice/xxhash64 chain, edges included") {
    val texts = Seq("one two three four five six seven eight nine",
      "exactly three tokens", "two tok", "", "   ",
      "\tleading tab keeps an empty first token after space-only trim x y z",
      "trailing tab after spaces  \t", "a  b   c d e f g h i")
    val df = texts.toDF("t")
    val k = 3
    val got = df.select(graft.functions.TokenNgramHashes.column($"t", k).as("h"))
      .as[Seq[Long]].collect().toSeq
    val composed = df
      .select(split(trim($"t"), "\\s+").as("toks"))
      .select(when(size($"toks") >= k,
        transform(sequence(lit(0), size($"toks") - k),
          i => xxhash64(concat_ws(" ", slice($"toks", i + 1, lit(k))))))
        .otherwise(array().cast("array<bigint>")).as("h"))
      .as[Seq[Long]].collect().toSeq
    assert(got == composed)
  }

  // ---- snapshotDiff ------------------------------------------------------

  test("incrementalFeatures == full recompute, touching only the delta") {
    def features(c: org.apache.spark.sql.DataFrame) =
      c.select($"id", length($"text").as("len"))
    val old = Seq((1L, "aaa"), (2L, "bb"), (3L, "gone")).toDF("id", "text")
    val cur = Seq((1L, "aaa"), (2L, "bb changed"), (4L, "new")).toDF("id", "text")
    val oldFeat = features(old)
    var touched: Set[Long] = Set.empty
    val got = graft.pipeline.CorpusCuration.incrementalFeatures(
      old, oldFeat, cur, idCol = "id") { delta =>
      touched = delta.select("id").as[Long].collect().toSet
      features(delta)
    }.collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val full = features(cur).collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(got == full)
    assert(touched == Set(2L, 4L)) // changed + added only; 1 carried, 3 dropped
  }

  // ---- funnel / retention ------------------------------------------------

  test("funnel keeps ordered in-window chains, greedy earliest per step") {
    def ev(id: Long, u: Long, t: Long, ty: String) =
      (id, new java.sql.Timestamp(t * 1000L), u, ty)
    val events = Seq(
      // user 1: completes view(10) -> click(20) -> purchase(30)
      ev(1, 1, 10, "view"), ev(2, 1, 20, "click"), ev(3, 1, 30, "purchase"),
      // user 2: purchase BEFORE the view — no ordered chain
      ev(4, 2, 10, "purchase"), ev(5, 2, 20, "view"), ev(6, 2, 30, "click"),
      // user 3: ordered but the chain closes outside the 100 s window
      ev(7, 3, 10, "view"), ev(8, 3, 50, "click"), ev(9, 3, 200, "purchase"),
      // user 4: greedy earliest — duplicate earlier steps don't block
      ev(10, 4, 5, "view"), ev(11, 4, 6, "view"), ev(12, 4, 7, "click"),
      ev(13, 4, 8, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = graft.streaming.EventStream.funnel(
      events, Seq("view", "click", "purchase"), 100L)
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 10000000L, 20000000L, 30000000L),
      (4L, 5000000L, 7000000L, 8000000L)))
  }

  test("cohortRetention counts distinct users per (cohort, offset) week") {
    val Week = 7L * 86400L
    def ev(id: Long, u: Long, week: Long) =
      (id, new java.sql.Timestamp(week * Week * 1000L + 1000L), u, "view")
    val events = Seq(
      ev(1, 1, 0), ev(2, 1, 0), ev(3, 1, 2), // user 1: cohort 0, active w0+w2
      ev(4, 2, 0), ev(5, 2, 1),              // user 2: cohort 0, active w0+w1
      ev(6, 3, 1))                           // user 3: cohort 1, active w1
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = graft.streaming.EventStream.cohortRetention(events)
      .orderBy("cohort_week", "week_offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((0L, 0L, 2L), (0L, 1L, 1L), (0L, 2L, 1L), (1L, 0L, 1L)))
  }

  // ---- resizeNearest -----------------------------------------------------

  test("resizeNearest: stride-2 subsample matches the analytic raster") {
    val ids = Seq(5L, 12L, 40L).toDF("doc_id")
    val resized = Multimodal.decodeFeatures(
      Multimodal.resizeNearest(Multimodal.synthesizeImages(ids, "doc_id"), 2, 2))
      .collect().map(f => f.id -> f).toMap
    for (id <- Seq(5L, 12L, 40L)) {
      val (w, h) = ((id % 13 + 3).toInt, (id % 7 + 2).toInt)
      val (nw, nh) = (math.max(1, w / 2), math.max(1, h / 2))
      val pix = for (y <- 0 until nh; x <- 0 until nw)
        yield ((id * 31 + 2 * x * 7 + 2 * y * 13) % 256).toDouble
      val f = resized(id)
      assert((f.width, f.height) == (nw, nh), s"id $id dims")
      assert(math.abs(f.brightness - pix.sum / pix.size) < 1e-9, s"id $id brightness")
    }
  }

  test("noveltyScore: unique docs score 1, duplicated docs score 0, mixed in between") {
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, shared), (2L, shared), // exact near-dups: every shingle shared
      (3L, "completely original words nowhere else written down"),
      (4L, shared + " plus unique continuation tokens here")).toDF("doc_id", "text")
    val got = TextAnalysis.noveltyScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(1L) == 0.0 && got(2L) == 0.0)
    assert(got(3L) == 1.0)
    assert(got(4L) > 0.0 && got(4L) < 1.0)
  }

  // ---- robustFlags -------------------------------------------------------

  test("flagsWith scores a STREAM against batch-trained thresholds, batch == stream") {
    val hist = ((1L to 50L).map(i => ("a", i, (i % 11).toDouble)) ++
      Seq(("a", 98L, 500.0))).toDF("k", "id", "v")
    val th = Outliers.thresholds(hist, "k", "v")
    val live = Seq(("a", 201L, 400.0), ("a", 202L, 5.0), ("a", 203L, -400.0))
      .toDF("k", "id", "v")
    val src = java.nio.file.Files.createTempDirectory("graft_outl_src").toString
    live.write.mode("append").parquet(src)
    val streamed = spark.readStream.schema(live.schema).parquet(src)
    val q = Outliers.flagsWith(streamed, th, "k", "id", "v")
      .writeStream.format("memory").queryName("outl_flags")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("outl_flags").select("id").as[Long].collect().toSet
    val batch = Outliers.flagsWith(live, th, "k", "id", "v")
      .select("id").as[Long].collect().toSet
    assert(got == batch)
    assert(got == Set(201L, 203L))
  }

  test("robustFlags finds planted outliers and skips zero-MAD keys") {
    val normal = (1L to 50L).map(i => ("a", i, (i % 11).toDouble))
    val planted = Seq(("a", 98L, 500.0), ("a", 99L, -500.0))
    val constant = (200L to 220L).map(i => ("b", i, 42.0)) :+ ("b", 221L, 9000.0)
    val df = (normal ++ planted ++ constant).toDF("k", "id", "v")
    val got = Outliers.robustFlags(df, "k", "id", "v")
      .select("id").as[Long].collect().toSet
    // the two planted extremes flag; the zero-MAD 'b' key flags nothing
    assert(got == Set(98L, 99L))
  }

  // ---- diversityReport / tokenizerFertility ------------------------------

  test("diversityReport: all-identical slice collapses, all-unique slice is 1.0") {
    val df = Seq(
      ("a", "alpha beta gamma delta"), ("a", "alpha beta gamma delta"),
      ("a", "alpha beta gamma delta"),
      ("b", "one two three four"), ("b", "five six seven eight")
    ).toDF("source", "text")
    val got = TextAnalysis.diversityReport(df, "source", "text")
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    // 'a': 3 docs x 2 distinct shingles each, only 2 distinct overall
    // 'b': 2 docs x 2 shingles, all 4 distinct
    assert(got.toSeq == Seq(("a", 3L, 6L, 2L, 2.0 / 6.0),
      ("b", 2L, 4L, 4L, 1.0)))
  }

  test("diversityReport approx path tracks exact within HLL tolerance") {
    val df = (1L to 300L).map(i =>
      ("s" + (i % 3), s"unique text number $i with shared filler words"))
      .toDF("source", "text")
    val exact = TextAnalysis.diversityReport(df, "source", "text")
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val approx = TextAnalysis.diversityReport(df, "source", "text",
        approx = true)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    exact.foreach { case (k, ex) =>
      assert(math.abs(approx(k) - ex).toDouble / ex < 0.1,
        s"$k: approx ${approx(k)} vs exact $ex")
    }
  }

  test("tokenizerFertility == bpeEncode joined and aggregated by group") {
    val df = Seq(
      (1L, "en", 20L, "the cat sat on the mat"),
      (2L, "en", 15L, "the cat ran far"),
      (3L, "de", 18L, "der hund lief weit")
    ).toDF("doc_id", "lang", "n_chars", "text")
    val got = TextAnalysis.tokenizerFertility(
      df, "doc_id", "text", "lang", "n_chars", 4)
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val enc = TextAnalysis.bpeEncode(df, "doc_id", "text", 4)
    val want = df.join(enc, Seq("doc_id")).groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("nc"),
        sum("n_tokens").as("nt"))
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(2).toDouble / r.getLong(3)))
    assert(got.toSeq == want.toSeq)
    // fertility is chars per token: strictly positive, finite
    assert(got.forall(g => g._5 > 0 && java.lang.Double.isFinite(g._5)))
  }

  // ---- nbQualityScore ----------------------------------------------------

  test("nbQualityScore replays the NB log-odds formula, empty docs get the prior") {
    val df = Seq(
      (1L, 1, "good clean prose text"),
      (2L, 1, "good text"),
      (3L, 0, "spam spam spam junk"),
      (4L, 0, "junk spam"),
      (5L, 0, "")).toDF("doc_id", "pos", "text")
    val got = TextAnalysis.nbQualityScore(df, "doc_id", "text", $"pos" === 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // hand replay: token counts with multiplicity
    val docs = Seq(1L -> ("good clean prose text", true),
      2L -> ("good text", true), 3L -> ("spam spam spam junk", false),
      4L -> ("junk spam", false), 5L -> ("", false))
    val toks = docs.flatMap { case (id, (t, p)) =>
      "[a-z0-9]+".r.findAllIn(t.toLowerCase).map(w => (id, p, w)) }
    val vocab = toks.map(_._3).distinct
    val tp = toks.count(_._2).toLong; val tn = toks.count(!_._2).toLong
    val v = vocab.size.toLong
    def w(tok: String) = {
      val cp = toks.count(x => x._2 && x._3 == tok)
      val cn = toks.count(x => !x._2 && x._3 == tok)
      math.log((cp + 1).toDouble / (tp + v)) -
        math.log((cn + 1).toDouble / (tn + v))
    }
    val prior = math.log(2.0 / 3.0)
    val want = docs.map { case (id, (t, _)) =>
      val dts = "[a-z0-9]+".r.findAllIn(t.toLowerCase).toSeq
      val score = BigDecimal(prior + dts.map(w).sum)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, dts.size.toLong, score, if (score > 0) 1 else 0)
    }
    assert(got.toSeq == want)
    // the quality slice scores positive, the spam slice negative
    assert(got(0)._4 == 1 && got(2)._4 == 0)
  }

  test("randomProjection and nbScoreWith plan with no Exchange (narrow maps)") {
    val emb = Seq((1L, Seq.fill(16)(0.5f))).toDF("vec_id", "embedding")
    val p1 = Similarity.randomProjection(emb, 4)
      .queryExecution.executedPlan.toString
    assert(!p1.contains("Exchange"), s"JL projection must not shuffle:\n$p1")
    val df = Seq((1L, 1, "good text"), (2L, 0, "junk")).toDF("doc_id", "pos", "text")
    val model = TextAnalysis.nbTrain(df, "text", $"pos" === 1)
    val p2 = TextAnalysis.nbScoreWith(df, model, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p2.contains("Exchange") && !p2.contains("Join"),
      s"broadcast NB scoring must not shuffle or join:\n$p2")
  }

  test("nbScoreWith == nbQualityScore on the training corpus; stream == batch") {
    val df = Seq(
      (1L, 1, "good clean prose text"), (2L, 1, "good text"),
      (3L, 0, "spam spam spam junk"), (4L, 0, "junk spam"), (5L, 0, ""))
      .toDF("doc_id", "pos", "text")
    val model = TextAnalysis.nbTrain(df, "text", $"pos" === 1)
    def rows(d: org.apache.spark.sql.DataFrame) = d.orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSeq
    assert(rows(TextAnalysis.nbScoreWith(df, model, "doc_id", "text")) ==
      rows(TextAnalysis.nbQualityScore(df, "doc_id", "text", $"pos" === 1)))
    // streamed serving: file source through the same narrow kernel
    val live = df.select("doc_id", "text")
    val src = java.nio.file.Files.createTempDirectory("graft_nb_src").toString
    live.write.mode("append").parquet(src)
    val streamed = spark.readStream.schema(live.schema).parquet(src)
    val q = TextAnalysis.nbScoreWith(streamed, model, "doc_id", "text")
      .writeStream.format("memory").queryName("nb_scores")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(rows(spark.table("nb_scores")) ==
      rows(TextAnalysis.nbScoreWith(live, model, "doc_id", "text")))
  }

  // ---- containmentPairs --------------------------------------------------

  test("NULL/zero/empty edges degrade, never crash or fabricate values") {
    // mmrTopK: a zero corpus vector is excluded, not an encoder fault
    val docs = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val mmr = Similarity.mmrTopK(docs, docs.filter($"vec_id" === 0L),
      3, 0.7, 5)
    assert(mmr.collect().map(_.getLong(2)).toSet == Set(1L))
    // temperatureMixture: empty frame → empty result; NULL source drops
    val empty = Seq.empty[(Long, String)].toDF("id", "src")
    assert(Sampling.temperatureMixture(empty, "src", 0.5, 1.0, "id")
      .count() == 0)
    val withNull = Seq((1L, "a"), (2L, null.asInstanceOf[String]))
      .toDF("id", "src")
    assert(Sampling.temperatureMixture(withNull, "src", 0.5, 5.0, "id")
      .collect().map(_.getLong(0)).toSet == Set(1L))
    // winsorize: a NULL measurement stays NULL (never the lower cut)
    val wdf = Seq(("k", 1L, Some(1.0)), ("k", 2L, Some(2.0)),
      ("k", 3L, None: Option[Double])).toDF("k", "id", "v")
    assert(Outliers.winsorize(wdf, "k", "v").orderBy("id")
      .collect()(2).isNullAt(3))
    // ecdf/discretize: NULL-score rows survive with NULL outputs and are
    // excluded from the percentile total
    val edf = Seq((1L, Some(1.0)), (2L, Some(2.0)),
      (3L, None: Option[Double])).toDF("id", "s")
    val e = Eval.ecdf(edf, "s").orderBy("id").collect()
    assert(e.length == 3 && e(2).isNullAt(2) && e(0).getDouble(2) == 0.25)
    val d = Outliers.discretize(edf, "s", 2).orderBy("id").collect()
    assert(d.length == 3 && d(2).isNullAt(2))
  }

  // ---- layout invariance (the distributed failure mode) -------------------

  test("new ops are invariant under repartition (layout-independence)") {
    val rnd = new scala.util.Random(29)
    val base = (0 until 40).map(i => s"w$i")
    val docs = (1L to 40L).map { i =>
      val st = rnd.nextInt(28)
      (i, if (i % 7 == 0) "en" else "de",
        base.slice(st, st + 8 + rnd.nextInt(6)).mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val shuffled = docs.repartition(7)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).toSet
    assert(rows(TextAnalysis.pmiCollocations(docs, "text", 2L)) ==
      rows(TextAnalysis.pmiCollocations(shuffled, "text", 2L)))
    assert(rows(TextAnalysis.nbMulticlass(docs, "doc_id", "text", "lang")) ==
      rows(TextAnalysis.nbMulticlass(shuffled, "doc_id", "text", "lang")))
    assert(rows(Dedup.containmentPairs(docs, "text", "doc_id", 0.3)) ==
      rows(Dedup.containmentPairs(shuffled, "text", "doc_id", 0.3)))
    assert(rows(graft.pipeline.CorpusCuration.decontaminatedSplit(
        docs, "text", "doc_id", 0.5, 0.5, "s2")) ==
      rows(graft.pipeline.CorpusCuration.decontaminatedSplit(
        shuffled, "text", "doc_id", 0.5, 0.5, "s2")))
    val emb = (0L until 30L).map(i =>
      (i, (i % 3).toInt, Seq.tabulate(8)(d => (i * 7 % 11 + d).toFloat)))
      .toDF("vec_id", "label", "embedding")
    val sEmb = emb.repartition(5)
    val q = emb.filter($"vec_id" < 2)
    assert(rows(Similarity.mmrTopK(emb, q, 4, 0.6, 10)) ==
      rows(Similarity.mmrTopK(sEmb, q, 4, 0.6, 10)))
    assert(rows(Eval.ecdf(docs.select($"doc_id",
        (($"doc_id" % 5).cast("double")).as("s")), "s")) ==
      rows(Eval.ecdf(shuffled.select($"doc_id",
        (($"doc_id" % 5).cast("double")).as("s")), "s")))
  }

  // ---- decontaminatedSplit -----------------------------------------------

  test("decontaminatedSplit == hashSplit + cross-LSH anti-join; test side intact") {
    val rnd = new scala.util.Random(17)
    val base = (0 until 50).map(i => s"w$i")
    val docs = (1L to 60L).map { i =>
      val start = rnd.nextInt(35)
      (i, base.slice(start, start + 10 + rnd.nextInt(5)).mkString(" "))
    }.toDF("doc_id", "text")
    val got = graft.pipeline.CorpusCuration.decontaminatedSplit(
        docs, "text", "doc_id", 0.5, 0.5, "s1")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // replay from the same components
    val split = Sampling.hashSplit(docs, "doc_id", Seq(0.5, 0.5), "s1")
    val train = split.filter($"split" === 0)
    val test = split.filter($"split" === 1)
    val leaky = Dedup.minhashLshCross(train, test, "text", "doc_id",
        minJaccard = 0.5)
      .select("id_new").as[Long].collect().toSet
    val want =
      train.select("doc_id").as[Long].collect().filterNot(leaky).toSet
        .map((id: Long) => (id, "train")) ++
      test.select("doc_id").as[Long].collect().toSet
        .map((id: Long) => (id, "test"))
    assert(got == want && leaky.nonEmpty)
    // test side survives untouched
    assert(got.count(_._2 == "test") == test.count())
  }

  test("decontaminatedSplit: an all-duplicate corpus empties the train side") {
    val docs = (1L to 40L)
      .map(i => (i, "the very same page text repeated everywhere"))
      .toDF("doc_id", "text")
    val got = graft.pipeline.CorpusCuration.decontaminatedSplit(
        docs, "text", "doc_id", 0.5, 0.9, "dup")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.nonEmpty && got.forall(_._2 == "test"),
      s"every train doc duplicates a test doc, got ${got.toSeq.sortBy(_._1)}")
  }

  // ---- plan-shape pins for the new narrow ops ----------------------------

  test("temperatureMixture plans as a shuffle-free narrow filter") {
    val df = (1L to 50L).map(i => (i, s"s${i % 3}")).toDF("id", "src")
    val plan = Sampling.temperatureMixture(df, "src", 0.5, 2.0, "id", "p")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"temperatureMixture must not shuffle:\n$plan")
  }

  // ---- winsorize / ecdf --------------------------------------------------

  test("winsorize clamps into the per-key interpolated percentile band") {
    val df = ((1 to 20).map(v => ("a", v.toLong, v.toDouble)) :+
      ("b", 100L, 1000.0)).toDF("k", "id", "v")
    val got = Outliers.winsorize(df, "k", "v", 0.05, 0.95)
      .orderBy("id").collect()
      .map(r => (r.getLong(1), r.getDouble(3))).toMap
    // key a, values 1..20: p05 ≈ 1.95, p95 ≈ 19.05 (type-7 interpolation;
    // exact bit layout is the engine's formula — assert to 1e-12)
    assert(math.abs(got(1L) - 1.95) < 1e-12 && got(2L) == 2.0)
    assert(math.abs(got(20L) - 19.05) < 1e-12 && got(19L) == 19.0)
    assert(got(10L) == 10.0)
    // a single-value key clamps to itself
    assert(got(100L) == 1000.0)
  }

  test("robustScale: modified z for all rows, NULL for zero-MAD keys") {
    val df = ((1 to 9).map(v => ("a", v.toLong, v.toDouble)) ++
      Seq(("b", 10L, 5.0), ("b", 11L, 5.0))).toDF("k", "id", "v")
    val got = Outliers.robustScale(df, "k", "id", "v")
      .orderBy("id").collect()
    // key a: median 5, MAD 2 → mz(1) = 0.6745*(1-5)/2
    assert(got(0).getDouble(3) == 0.6745 * (1.0 - 5.0) / 2.0)
    assert(got(4).getDouble(3) == 0.0) // the median itself
    // constant key b: MAD 0 → NULL, not 0
    assert(got(9).isNullAt(3) && got(10).isNullAt(3))
  }

  test("discretize: equal-frequency bins; a tie-group lands in ONE bin") {
    val df = (1 to 8).map(v => (v.toLong, v.toDouble)).toDF("id", "v")
    val got = Outliers.discretize(df, "v", 4)
      .orderBy("id").collect().map(_.getInt(2)).toSeq
    assert(got == Seq(0, 0, 1, 1, 2, 2, 3, 3))
    // heavy ties: every copy of the duplicated value gets the same bin
    val tied = ((1 to 12).map(i => (i.toLong, 5.0)) ++
      Seq((13L, 1.0), (14L, 9.0))).toDF("id", "v")
    val bins = Outliers.discretize(tied, "v", 4)
      .filter($"v" === 5.0).select("bin").distinct().collect()
    assert(bins.length == 1)
  }

  test("ecdf assigns mid-rank percentiles, ties share the midpoint") {
    val df = Seq((1L, 1.0), (2L, 2.0), (3L, 2.0), (4L, 3.0))
      .toDF("id", "score")
    val got = Eval.ecdf(df, "score").orderBy("id").collect()
      .map(r => r.getDouble(2)).toSeq
    assert(got == Seq(0.5 / 4.0, 2.0 / 4.0, 2.0 / 4.0, 3.5 / 4.0))
  }

  // ---- nbMulticlass ------------------------------------------------------

  test("nbMulticlass replays the k-way NB formula; empty docs tie to the first class") {
    val df = Seq(
      (1L, "a", "aa aa"), (2L, "a", "aa bb"),
      (3L, "b", "cc cc"), (4L, "b", "")).toDF("doc_id", "lang", "text")
    val got = TextAnalysis.nbMulticlass(df, "doc_id", "text", "lang")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    // hand replay: T_a=4 (aa x3, bb x1), T_b=2 (cc x2), V=3, priors 2/4
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val sA1 = r6(math.log(2.0 / 4.0) + (math.log(4.0) + math.log(4.0)) -
      2.0 * math.log(7.0)) // doc1 under class a
    assert(got(0) == (1L, 2L, "a", sA1))
    assert(got(1)._3 == "a" && got(2)._3 == "b")
    // doc 4 is empty: score = prior for both classes (equal) → 'a' wins
    assert(got(3) == (4L, 0L, "a", r6(math.log(2.0 / 4.0))))
  }

  // ---- temperatureMixture ------------------------------------------------

  test("temperatureMixture replays the per-source bucket cut exactly") {
    val df = (1L to 300L).map(i => (i, if (i <= 240) "big" else "small"))
      .toDF("id", "src")
    val got = Sampling.temperatureMixture(df, "src", 0.5, 3.0, "id", "t")
      .select("id").as[Long].collect().toSet
    val rates = Map(
      "big" -> math.min(3.0 * (1.0 / math.sqrt(240.0)), 1.0),
      "small" -> math.min(3.0 * (1.0 / math.sqrt(60.0)), 1.0))
    val want = df.select($"id", $"src",
        Sampling.hashBucket($"id", "t").as("b")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .filter { case (_, src, b) =>
        b < (rates(src) * Sampling.Space.toDouble).toLong }
      .map(_._1).toSet
    assert(got == want && got.nonEmpty)
    // tau < 1 up-weights the small source's retention FRACTION
    val fSmall = want.count(_ > 240L).toDouble / 60.0
    val fBig = want.count(_ <= 240L).toDouble / 240.0
    assert(fSmall > fBig, s"small $fSmall should exceed big $fBig")
  }

  test("temperatureMixture: tau=1 is a flat rate, k is monotone") {
    val df = (1L to 200L).map(i => (i, s"s${i % 4}")).toDF("id", "src")
    // tau = 1: rate = k for every source == hashFraction at the same salt
    val flat = Sampling.temperatureMixture(df, "src", 1.0, 0.3, "id", "m")
      .select("id").as[Long].collect().toSet
    val frac = Sampling.hashFraction(df, "id", 0.3, "m")
      .select("id").as[Long].collect().toSet
    assert(flat == frac)
    val k2 = Sampling.temperatureMixture(df, "src", 0.5, 0.6, "id", "m")
      .select("id").as[Long].collect().toSet
    val k1 = Sampling.temperatureMixture(df, "src", 0.5, 0.3, "id", "m")
      .select("id").as[Long].collect().toSet
    assert(k1.subsetOf(k2), "raising k must only add documents")
  }

  // ---- pmiCollocations / transitionMatrix --------------------------------

  test("pmiCollocations replays the exact probability-ratio formula") {
    val docs = Seq(
      (1L, "new york new york"),
      (2L, "york new"),
      (3L, "new")).toDF("doc_id", "text")
    val got = TextAnalysis.pmiCollocations(docs, "text", minCount = 2L)
      .orderBy("w1", "w2").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    // unigrams: new=4, york=3, T1=7; bigrams: (new,york)=2, (york,new)=2, T2=4
    def pmi(c12: Long, c1: Long, c2: Long) =
      BigDecimal(math.log((c12.toDouble * 7.0 * 7.0) /
        (4.0 * c1.toDouble * c2.toDouble)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(
      ("new", "york", 2L, 4L, 3L, pmi(2, 4, 3)),
      ("york", "new", 2L, 3L, 4L, pmi(2, 3, 4))))
  }

  test("pmiCollocations: minCount prunes, single-token docs count as unigrams only") {
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "c d"), (4L, "e"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.pmiCollocations(docs, "text", minCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(("a", "b", 2L))) // (c,d) has c12=1 → pruned
  }

  test("kaplanMeier: hand-computed curve, censoring, terminal-death pin") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val events = Seq(
      (1L, ts(0), 1L, "view"), (2L, ts(10), 1L, "purchase"),
      (3L, ts(0), 2L, "view"), (4L, ts(20), 2L, "view"),   // censored @20
      (5L, ts(0), 3L, "purchase"),                          // converts @0
      (6L, ts(0), 4L, "view"), (7L, ts(10), 4L, "click"))   // censored @10
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = graft.streaming.EventStream.kaplanMeier(events, "purchase")
      .orderBy("dur").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got == Seq(
      (0L, 4L, 1L, 0L, 0.75),   // S = 1 - 1/4
      (10L, 3L, 1L, 1L, 0.5),   // S = 0.75 * (1 - 1/3)
      (20L, 1L, 0L, 1L, 0.5)))  // censoring alone never moves S
    // every remaining user converting at once pins survival to exact 0
    val all = Seq((1L, ts(0), 1L, "view"), (2L, ts(5), 1L, "purchase"),
      (3L, ts(0), 2L, "view"), (4L, ts(5), 2L, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val last = graft.streaming.EventStream.kaplanMeier(all, "purchase")
      .orderBy("dur").collect()
    assert(last.length == 1 && last(0).getDouble(4) == 0.0)
  }

  test("transitionMatrix counts adjacencies per user with id tie-break") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val events = Seq(
      (1L, ts(10), 1L, "A"), (2L, ts(20), 1L, "B"), (3L, ts(30), 1L, "A"),
      // user 2: equal timestamps — event_id orders B(4) before B(5)
      (4L, ts(10), 2L, "B"), (5L, ts(10), 2L, "B"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = graft.streaming.EventStream.transitionMatrix(events)
      .orderBy("from_type", "to_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got == Seq(
      ("A", "B", 1L, 1L, 1.0),
      ("B", "A", 1L, 2L, 0.5),
      ("B", "B", 1L, 2L, 0.5)))
    // no cross-user adjacency: user 1's last event never chains to user 2
  }
}
