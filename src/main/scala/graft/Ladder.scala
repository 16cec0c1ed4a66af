package graft

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryShared.{G, Pit, Region2, Region3, Slope, Topo}
import graft.ext.{Cms, Dedup, Eval, Graph, Outliers, Similarity, TextAnalysis}
import graft.model.GridSchema
import graft.operators.{Elevation, FlagRegions, GridOps, MineDepletion}

/** The bench's scale ladder: every timed probe is a row of [[lines]] — a
  * metric line, an op name, the factors it runs at, and a factor ⇒ timed
  * action — and [[run]] times every line the same way. Per op a line
  * reports `sec_<f>x`; with two factors also `ratio_<f>x` and the cost
  * exponent ln(ratio) / ln(f / f0): ≈ 1 is linear (flat per-row or
  * per-round cost), ≫ 1 is superlinear. Diagnostics only, never part of
  * the driver contract.
  */
object Ladder {
  /** One row: `op`, timed by `run` — the action that materializes it
    * (`count()`, `foreach` or the noop sink) — plus an optional untimed
    * diagnostic count `(key, n)` reported as `<key>_<f>x`. */
  final case class Cell(op: String, run: () => Any,
      count: Option[(String, () => Long)] = None)

  /** One metric line: its `__probe_<name>` selector, the metric, the
    * factors every row runs at, `speedups` pairs (fused op, the separate
    * members it replaces) and `cells(f)`, which builds and pins the line's
    * inputs at factor f and returns the rows in output order. */
  final case class Line(name: String, metric: String, factors: Seq[Int],
      speedups: Seq[(String, String)] = Nil)(val cells: Int => Seq[Cell])

  /** Times `line`: builds and pins every factor's inputs, runs every cell
    * once untimed (first-use codegen and classload), times the matrix, then
    * takes the untimed counts while the inputs are still pinned. No cache
    * drop may run between factors: a dropped `localCheckpoint` has a
    * truncated lineage and cannot recompute. */
  def run(line: Line): String = {
    val built = line.factors.map(f => f -> line.cells(f))
    val cells = for ((f, cs) <- built; c <- cs) yield ((c.op, f), c.run)
    cells.foreach(_._2())
    val secs = interleavedTimes(cells)
    val counts = for ((f, cs) <- built; c <- cs; (key, n) <- c.count)
      yield ((c.op, f), (key, n()))
    assemble(line.metric, line.factors, built.head._2.map(_.op), secs,
      counts.toMap, line.speedups)
  }

  // Two INTERLEAVED passes over the whole (factor × op) matrix, per-cell
  // min. Timing each op min-of-2 back-to-back let one multi-second
  // contention window poison both samples of whichever op it landed on
  // (ngram_prefix once read 121× at 16× where isolated reruns measure
  // ~4-5×); interleaved, a window must recur at the same cell minutes
  // apart to survive.
  private def interleavedTimes[K](cells: Seq[(K, () => Any)]): Map[K, Double] = {
    def pass(): Map[K, Double] = cells.map { case (k, run) =>
      val t0 = System.nanoTime()
      run()
      k -> (System.nanoTime() - t0) / 1e9
    }.toMap
    val p1 = pass(); val p2 = pass()
    p1.map { case (k, v) => k -> math.min(v, p2(k)) }
  }

  /** The line's JSON from per-cell seconds and untimed counts, both keyed
    * by (op, factor); ops in table order. A ratio, exponent or speedup
    * whose times are not both positive is `null`. */
  private[graft] def assemble(metric: String, factors: Seq[Int],
      ops: Seq[String], secs: Map[(String, Int), Double],
      counts: Map[(String, Int), (String, Long)],
      speedups: Seq[(String, String)]): String = {
    def quotient(num: Double, den: Double): Option[Double] =
      if (num > 0 && den > 0) Some(num / den) else None
    def json(x: Option[Double]): String = x.fold("null")(_.toString)
    val (f0, f1) = (factors.head, factors.last)
    val opsJson = ops.map { op =>
      val sec = factors.map(f => s""""sec_${f}x":${secs((op, f))}""")
      val scale = if (factors.size < 2) Nil else {
        val ratio = quotient(secs((op, f1)), secs((op, f0)))
        Seq(s""""ratio_${f1}x":${json(ratio)}""",
          s""""exponent":${json(ratio.map(math.log(_) / math.log(f1.toDouble / f0)))}""")
      }
      val n = factors.flatMap(f =>
        counts.get((op, f)).map { case (k, v) => s""""${k}_${f}x":$v""" })
      s""""$op":${(sec ++ scale ++ n).mkString("{", ",", "}")}"""
    }
    val speedup = speedups.map { case (one, sep) =>
      s""""$one":""" + factors.map(f =>
        s""""${f}x":${json(quotient(secs((sep, f)), secs((one, f))))}""")
        .mkString("{", ",", "}")
    }
    s"""{"metric":"$metric","probes_isolated":true,"warmup":true,""" +
      s""""interleaved_passes":2,"factors":${factors.mkString("[", ",", "]")},""" +
      s""""ops":${opsJson.mkString("{", ",", "}")}""" +
      (if (speedup.isEmpty) "" else s""","speedup":${speedup.mkString("{", ",", "}")}""") +
      "}"
  }

  /** Directory for a probe line's store under java.io.tmpdir; everything
    * the line wrote there goes with [[dropStores]]. */
  def store(spark: SparkSession, line: String, tag: String): String =
    new File(storeRoot(spark, line), tag).toString

  def dropStores(spark: SparkSession, line: String): Unit =
    org.apache.hadoop.fs.FileUtil.fullyDelete(storeRoot(spark, line))

  private def storeRoot(spark: SparkSession, line: String): File =
    new File(sys.props("java.io.tmpdir"),
      s"graft_probe_${line}_${spark.sparkContext.applicationId}")

  private def cell(op: String)(run: => Any): Cell = Cell(op, () => run)
  private def counted(key: String)(op: String, df: DataFrame): Cell =
    Cell(op, () => df.count(), Some(key -> (() => df.count())))
  private def drain(df: DataFrame): Unit = df.foreach((_: Row) => ())

  /** One more than the column's maximum (1 on an empty table): the id
    * stride that keeps replica id ranges disjoint at any scale. */
  private def strideOf(df: DataFrame, c: String): Long =
    Option(df.agg(max(col(c))).first().get(0))
      .fold(0L)(_.asInstanceOf[Number].longValue) + 1L

  /** `df` unioned `f` times, copy i shifting each key column by i × its
    * stride; `df` itself at f = 1. */
  private def copies(df: DataFrame, f: Int, strides: (String, Long)*): DataFrame =
    if (f <= 1) df
    else (0 until f).map(i => strides.foldLeft(df) { case (d, (c, s)) =>
      d.withColumn(c, col(c) + lit(i * s)) }).reduce(_ union _)

  /** The corpus replicated `f`× with per-copy token tags, so copies are
    * textually DISJOINT: each reproduces the base corpus's near-dup
    * structure without cross-copy collisions, and a scale-safe path costs
    * ~f× the base. Returns (docs, a fixed benchmark slice of copy 0), both
    * eagerly pinned.
    *
    * The tag is FUSED into each alphanumeric run (`word` → `wordx3`) so the
    * shingle tokenizer (`[a-z0-9]+`) sees one token per original token. A
    * separator-attached tag like `word_3` splits into `word` + `3`: every
    * 3-gram shingle collapses to ~1-word document frequency and the ratio
    * explodes ~100× from candidate volume the real corpus does not have. */
  private def corpus(s: SparkSession, dir: String, f: Int): (DataFrame, DataFrame) = {
    val base = Tables.load(s, dir, "documents")
    val stride = strideOf(base, "doc_id")
    // "$1x<i>" is the only x+digits run ending a token, so equal tagged
    // tokens imply equal copy index; the 1× side is tagged too (copy 0)
    // so both sides run structurally identical text
    def copy(i: Int): DataFrame = base.select(
      (col("doc_id") + lit(i * stride)).as("doc_id"),
      regexp_replace(lower(col("text")), "([a-z0-9]+)", "$1x" + i).as("text"),
      col("lang"), col("source"))
    // EAGER pin: un-materialized, the f-wide union of regexp branches is
    // re-planned and re-run on every side of every self-join (an early
    // probe measured 45×/59× wall growth at 16× from exactly this)
    val docs = (0 until f).map(copy).reduce(_ union _).localCheckpoint(true)
    // copy-0 text: contamination hits stay constant while the corpus grows
    val bench = copy(0).filter(col("doc_id") % 100 === 0).localCheckpoint(true)
    (docs, bench)
  }

  /** Ring-plus-chord graph on n nodes (i → i±1, i+7 mod n), pinned: times
    * the per-round join-aggregate machinery, independent of how edges were
    * mined. */
  private def ring(s: SparkSession, n: Long): DataFrame = {
    val id = s.range(n).select(col("id"))
    Seq(1L, n - 1L, 7L).map(d =>
      id.select(col("id").as("src"), ((col("id") + d) % n).as("dst")))
      .reduce(_ union _).localCheckpoint(true)
  }

  private val F16 = Seq(1, 16)
  // three calendar days keyed off doc_id: a stream view of the corpus
  private def dayTs: Column =
    timestamp_seconds(lit(1704067200L) + (col("doc_id") % 3) * 86400L).as("ts")

  /** The ladder, in bench order. Cells that build their operator inside
    * the timed action do so on purpose: the operator's driver-side steps
    * (sketch merge, bloom collect, baselines) are part of its cost. */
  def lines(spark: SparkSession, dir: String): Seq[Line] = {
    import spark.implicits._
    Seq(
      // BVH kernels on the 12k oracle grid vs 1.2M cells (same footprint
      // at 10× x/y resolution, so the fixture meshes intersect identically)
      Line("geometry", "geometry_scale_probe", Seq(1, 100)) { f =>
        val g = if (f == 1) G else GridSchema(1000, 2000, 100, 1, 1, 10, 300, 200, 20)
        Seq(
          "flag_regions" -> FlagRegions(spark, GridOps.generate(spark, g), Seq(Region2, Region3)),
          "mine_deplete" -> MineDepletion(spark, GridOps.generate(spark, g), Seq(Topo), Seq(Pit), g.sz),
          "elevation" -> Elevation(GridOps.generate(spark, g), Slope)
        ).map((counted("rows") _).tupled)
      },
      // LSH / prefix-filter paths must stay linear in corpus size; the
      // candidate-pair counts tell candidate blowup from fixed overhead
      Line("dedup", "dedup_scale_probe", F16) { f =>
        val (docs, bench) = corpus(spark, dir, f)
        val path = store(spark, "dedup", s"lsh_$f")
        Dedup.writeLshStore(docs, "text", "doc_id", path)
        val cand = Map(
          "minhash_lsh" -> Dedup.minhashCandidates(docs, "text", "doc_id",
            numHashes = 16, bands = 4),
          "ngram_prefix" -> Dedup.ngramPrefixCandidates(docs, "text",
            "doc_id", Seq("lang", "source"), 0.3),
          "containment" -> Dedup.containmentCandidates(docs, "text",
            "doc_id", maxPosting = 2000))
        Seq(
          "minhash_lsh" -> Dedup.minhashLsh(docs, "text", "doc_id",
            numHashes = 16, bands = 4, minJaccard = 0.3),
          // a FIXED small batch deduped against the standing corpus: inline
          // re-runs the standing side's kernels every batch...
          "minhash_cross" -> Dedup.minhashLshCross(bench, docs,
            "text", "doc_id", minJaccard = 0.3),
          // ...the store-served shape wrote the standing index once, outside
          // the timed window, and scans it
          "minhash_cross_store" -> Dedup.minhashLshCrossFromStore(bench, spark,
            path, "text", "doc_id", minJaccard = 0.3),
          "lsh_dedup_win" -> Dedup.lshDedupSurvivors(
            docs.withColumn("ts", col("doc_id").cast("timestamp")),
            "text", "doc_id", "ts", "100 seconds"),
          "ngram_prefix" -> Dedup.ngramJaccardPairsPrefix(docs, "text",
            "doc_id", Seq("lang", "source"), 0.3),
          // the prefix-join stage alone, so a bad ngram_prefix ratio
          // attributes to candidate generation vs the verify join
          "ngram_prefix_cand" -> Dedup.ngramPrefixCandidates(docs, "text",
            "doc_id", Seq("lang", "source"), 0.3),
          "decontam" -> Dedup.decontaminate(docs, bench, "text", "doc_id"),
          "line_dedup" -> Dedup.dedupLines(docs, "text", "doc_id"),
          // sources repeat across copies: per-shard window rows grow f×
          "seq_pack" -> TextAnalysis.packSequences(docs, "text", "doc_id", 512),
          // every copy contains every other, so candidate pairs grow ~f× per
          // document by construction — read the ratio against cand_pairs
          "containment" -> Dedup.containmentPairs(docs, "text", "doc_id",
            minContainment = 0.5, maxPosting = 2000)
        ).map { case (op, df) => Cell(op, () => df.count(),
          cand.get(op).map(c => "cand_pairs" -> (() => c.count()))) }
      },
      // bounded sketch state, no vocabulary shuffle
      Line("sketch", "sketch_scale_probe", F16) { f =>
        val (docs, bench) = corpus(spark, dir, f)
        Seq(cell("heavy_hitters")(TextAnalysis.heavyHitters(docs, "text", 20).count()),
          cell("decontam_bloom")(
            Dedup.decontaminateBloom(docs, bench, "text", "doc_id").count()))
      },
      // eval operators collapse the corpus map-side by design
      Line("eval", "eval_scale_probe", F16) { f =>
        val docs = corpus(spark, dir, f)._1
        // a CHEAP score of bounded granularity: the full quality kernel
        // would time its own thread scaling, not the eval operators
        def scored = docs.select(col("doc_id"),
          round((length(col("text")) % 1000).cast("double") / 1000.0, 3).as("score"),
          (col("doc_id") % 2).cast("int").as("label"))
        def side(l: Int) = scored.filter(col("label") === l)
        Seq(cell("pr_curve")(Eval.prCurve(scored, "score", "label").count()),
          cell("auc_roc")(Eval.aucRoc(scored, "score", "label").count()),
          cell("ecdf")(Eval.ecdf(scored, "score").count()),
          cell("class_metrics")(Eval.classMetrics(
            docs.select(col("lang").as("label"), col("source").as("pred")),
            "label", "pred").count()),
          cell("ks_test")(Eval.ksTest(side(1), side(0), "score").count()),
          cell("rank_sum")(Eval.rankSumTest(side(1), side(0), "score").count()))
      },
      Line("text9", "text9_scale_probe", F16) { f =>
        val docs = corpus(spark, dir, f)._1
        val emb0 = Tables.load(spark, dir, "embeddings")
        val emb = copies(emb0, f, "vec_id" -> strideOf(emb0, "vec_id"))
          .localCheckpoint(true)
        val e = ring(spark, 20000L * f)
        def len(m: Int) = (length(col("text")) % m).cast("double")
        Seq(
          cell("vocab_div")(TextAnalysis.vocabDivergence(
            docs.filter(col("lang") === "en"),
            docs.filter(col("lang") =!= "en"), "text").count()),
          cell("vocab_div_by")(
            TextAnalysis.vocabDivergenceBy(docs, "source", "text").count()),
          cell("vocab_windowed") {
            val (vc, vt) = TextAnalysis.vocabBaseline(
              docs.filter(col("doc_id") % 2 === 0), "text", 50)
            TextAnalysis.vocabDivergenceWindowed(docs.select(dayTs, col("text")),
              "ts", "text", vc, vt).count()
          },
          // foreach: count() would prune the whole per-row projection
          cell("token_entropy")(drain(TextAnalysis.tokenEntropy(docs, "doc_id", "text"))),
          cell("zipf_fit")(TextAnalysis.zipfFit(docs, "text", 200).count()),
          cell("cms_cells")(Cms.estimates(
            Cms.cells(docs.select(explode(TextAnalysis.wordTokens("text")).as("tok")), "tok"),
            Seq("hash", "join").toDF("tok"), "tok").count()),
          cell("quantile_norm")(Eval.quantileNormalize(
            docs.select(col("doc_id"), col("lang"), len(997).as("x")), "lang", "x").count()),
          cell("logistic_train")(TextAnalysis.logisticTrain(docs.select(col("doc_id"),
            len(97).divide(97.0).as("x1"),
            (col("doc_id") % 7).cast("double").divide(7.0).as("x2"),
            (col("doc_id") % 2).cast("double").as("y")), Seq("x1", "x2"), "y")),
          cell("cluster_quality")(Similarity.clusterQuality(emb, "label").count()),
          // localThreshold = 0: the small-graph driver fast path must never
          // absorb the distributed round machinery under measurement
          cell("pagerank")(Graph.pageRank(e, "src", "dst", 3, localThreshold = 0).count()),
          cell("label_prop")(Graph.labelPropagation(e,
            e.select((col("src") * 20L).as("node"),
              (col("src") % 5L).cast("string").as("lab")).limit(1000),
            "src", "dst", "node", "lab", 3, localThreshold = 0).count()),
          cell("triangles")(Graph.triangleCount(e, "src", "dst").count()),
          cell("bfs_hops")(Graph.bfsHops(e,
            e.select(col("src").as("node")).filter(col("node") % 100L === 0L),
            "src", "dst", "node", 3, localThreshold = 0).count()))
      },
      // the q75/q83 workload (numMerges = 8) on a pinned corpus: the kernel,
      // not the parquet scan
      Line("bpe", "bpe_kernel_probe", Seq(1)) { _ =>
        val docs = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text")).localCheckpoint(true)
        Seq(cell("bpe_train")(TextAnalysis.bpeTrain(docs, "text", 8).count()),
          cell("bpe_encode")(drain(TextAnalysis.bpeEncode(docs, "doc_id", "text", 8))),
          cell("lm_score")(drain(TextAnalysis.lmScore(docs, "doc_id", "text"))))
      },
      // canonicalByScore alone on the q154 pair set; pairs grow ~16× by
      // construction (replicated corpus)
      Line("keepbest", "keepbest_kernel_probe", F16) { f =>
        val docs = corpus(spark, dir, f)._1
        val pairs = Dedup.minhashLsh(docs, "text", "doc_id",
          numHashes = 16, bands = 4, minJaccard = 0.3).localCheckpoint(true)
        val scored = docs.select(col("doc_id"),
          round(TextAnalysis.qualityScore("text"), 6).as("q")).localCheckpoint(true)
        Seq(Cell("canonical_by_score",
          () => Dedup.canonicalByScore(scored, "doc_id", pairs, "q").count(),
          Some("pairs" -> (() => pairs.count()))))
      },
      // vocabDivergence alone on pinned en/non-en projections: the q129
      // kernel without its scan and lang filter
      Line("vocabdiv", "vocabdiv_kernel_probe", F16) { f =>
        val docs = corpus(spark, dir, f)._1
        val en = docs.filter(col("lang") === "en").localCheckpoint(true)
        val non = docs.filter(col("lang") =!= "en").localCheckpoint(true)
        Seq(cell("vocab_divergence")(TextAnalysis.vocabDivergence(en, non, "text").count()))
      },
      // q201's one stateful aggregation vs the four windowed monitors over
      // the same pinned stream (the batch share of the win; streaming adds
      // one state store per member)
      Line("gate", "gate_fusion_probe", Seq(1),
          Seq("gate_one_pass" -> "members_four_passes")) { _ =>
        val ev = Tables.load(spark, dir, "events")
          .select(col("ts"), round(col("value"), 2).as("v"), col("event_type"))
          .localCheckpoint(true)
        val week = ev.filter(col("ts") < lit("2024-01-08").cast("timestamp"))
        val (bv, bc) = Eval.ksBaseline(week, "v")
        val (bcats, _) = Outliers.chiSquareBaseline(week, "event_type")
        val (bb, bt) = Outliers.psiBaseline(week, "v", 10, 0.0, 500.0)
        Seq(cell("gate_one_pass")(drain(Outliers.driftReportWindowed(ev, "ts", "v",
            "event_type", bv, bc, bcats, bb, bt, 10, 0.0, 500.0))),
          cell("members_four_passes") {
            drain(Eval.ksDriftWindowed(ev, "ts", "v", bv, bc))
            drain(Eval.rankSumDriftWindowed(ev, "ts", "v", bv, bc))
            drain(Outliers.chiSquareDriftWindowed(ev, "ts", "event_type", bcats))
            drain(Outliers.psiWindowed(ev, "ts", "v", bb, bt, 10, 0.0, 500.0))
          })
      },
      // q207's four document monitors as ONE stateful aggregation vs
      // deployed separately, from the same raw (ts, lang, text) pin. Each
      // side pays its own scoring: the gate scores and tokenizes once; the
      // members run the quality regex twice and re-tokenize — the fusion's
      // claim, so the members must not get a precomputed score
      Line("textgate", "textgate_fusion_probe", F16,
          Seq("gate_one_pass" -> "members_four_passes")) { f =>
        val docs = corpus(spark, dir, f)._1
          .select(dayTs, col("lang"), col("text")).localCheckpoint(true)
        def scored(d: DataFrame) =
          d.select(col("ts"), round(TextAnalysis.qualityScore("text"), 6).as("q"))
        val week = docs.filter(col("ts") < lit("2024-01-02").cast("timestamp"))
        val (bv, bc) = Eval.ksBaseline(scored(week), "q")
        val (bcats, _) = Outliers.chiSquareBaseline(week, "lang")
        val (vc, vt) = TextAnalysis.vocabBaseline(week, "text", 50)
        Seq(cell("gate_one_pass")(drain(TextAnalysis.textGateWindowed(docs, "ts",
            "text", "lang", bv, bc, bcats, vc, vt))),
          cell("members_four_passes") {
            drain(Eval.ksDriftWindowed(scored(docs), "ts", "q", bv, bc))
            drain(Eval.rankSumDriftWindowed(scored(docs), "ts", "q", bv, bc))
            drain(Outliers.chiSquareDriftWindowed(docs, "ts", "lang", bcats))
            drain(TextAnalysis.vocabDivergenceWindowed(docs, "ts", "text", vc, vt))
          })
      },
      // q193/q200's composed reports vs their four members on the same
      // pinned scored projection: the scoring chain is outside every timed
      // window, so the numbers are the composition cost alone
      Line("driftreport", "driftreport_fusion_probe", F16,
          Seq("report_one_call" -> "report_members_separate",
            "report_by_one_call" -> "report_by_members_separate")) { f =>
        val d = corpus(spark, dir, f)._1.select(col("source"),
          round(TextAnalysis.qualityScore("text"), 6).as("q"), col("lang"))
          .localCheckpoint(true)
        val b = d.filter(col("source") =!= "src9").localCheckpoint(true)
        val l = d.filter(col("source") === "src9").localCheckpoint(true)
        Seq(cell("report_one_call")(drain(Outliers.driftReport(b, l, "q", "lang"))),
          cell("report_members_separate") {
            drain(Outliers.psiDrift(b, l, "q"))
            drain(Eval.ksTest(b, l, "q"))
            drain(Eval.rankSumTest(b, l, "q"))
            drain(Outliers.chiSquareDrift(b, l, "lang"))
          },
          cell("report_by_one_call")(drain(Outliers.driftReportBy(d, "source", "q", "lang"))),
          cell("report_by_members_separate") {
            drain(Outliers.psiDriftBy(d, "source", "q", 10, 0.0, 1.0))
            drain(Eval.ksTestBy(d, "source", "q"))
            drain(Eval.rankSumTestBy(d, "source", "q"))
            drain(Outliers.chiSquareDriftBy(
              d.select(col("source"), col("lang")), "source", "lang"))
          })
      },
      // q208/q209's ×reps explode collapses map-side, so cost should grow
      // linearly with the unit count; replicas get DISJOINT unit ids, so
      // each copy draws fresh md5 weights (the honest scale shape)
      Line("pboot", "pboot_scale_probe", F16) { f =>
        val ev = Tables.load(spark, dir, "events")
        def perUser(t: String, as: String) = ev.filter(col("event_type") === t)
          .groupBy(col("user_id")).agg(round(avg(col("value")), 6).as(as))
        val d0 = perUser("view", "a").join(perUser("click", "b"), "user_id")
        val d = copies(d0, f, "user_id" -> strideOf(d0, "user_id")).localCheckpoint(true)
        Seq(cell("paired_bootstrap")(drain(Eval.pairedBootstrapTest(d, "user_id", "a", "b"))),
          cell("paired_bootstrap_by")(drain(Eval.pairedBootstrapTestBy(
            d.withColumn("cohort", (col("user_id") % 4).cast("string")),
            "cohort", "user_id", "a", "b"))))
      },
      // ROUND scaling at 5 vs 20 iterations on one graph: flat per-round
      // cost (exponent ≈ 1) shows the per-round pin + release holds at
      // depth; a leaking loop grows superlinearly
      Line("graphdepth", "graph_depth_probe", Seq(5, 20)) { iters =>
        val e = ring(spark, 20000L)
        Seq(cell("pagerank")(Graph.pageRank(e, "src", "dst", iters,
          localThreshold = 0).count()))
      },
      // q32's per-key running window and q42's interval join with keys
      // replicated DISJOINTLY: the growth model is more suppliers and users,
      // not f× history per key, so per-key state stays constant
      Line("window", "window_scale_probe", Seq(1, 100)) { f =>
        val li = copies(Tables.load(spark, dir, "lineitem").filter(col("l_suppkey") < 20),
          f, "l_suppkey" -> 1000L)
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        val running = li.withColumn("rn", row_number().over(w))
          .withColumn("running", round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .over(w.rowsBetween(Window.unboundedPreceding, 0)), 4))
          .select("l_suppkey", "rn", "running")
        // a user subset, like the supplier cut: 100× of it already yields
        // millions of rows
        val ev0 = Tables.load(spark, dir, "events").filter(col("user_id") < 400)
        val ev = copies(ev0, f, "user_id" -> strideOf(ev0, "user_id"),
          "event_id" -> strideOf(ev0, "event_id"))
        Seq("window_running" -> running,
          "attribution" -> streaming.EventStream.attribution(ev, "view", "purchase", 86400L)
        ).map((counted("rows") _).tupled)
      },
      // per-row text kernels into the noop sink: attributes a serial pin's
      // cost to the kernel that spends it
      Line("kernel", "kernel_probe", Seq(1)) { _ =>
        val docs = Tables.load(spark, dir, "documents")
        val q = round(TextAnalysis.qualityScore("text"), 6)
        Seq("baseline_text_len" -> length(col("text")),
          "wordTokens" -> size(TextAnalysis.wordTokens("text")),
          "qualityScore" -> TextAnalysis.qualityScore("text"),
          "meanWordLength" -> TextAnalysis.meanWordLength(col("text")),
          "alphaWordFraction" -> TextAnalysis.alphaWordFraction(col("text")),
          "langId" -> TextAnalysis.langId("text"),
          "q_plus_mwl" -> (q + round(TextAnalysis.meanWordLength(col("text")), 6)),
          "qs_plus_toks" -> (q + size(TextAnalysis.wordTokens("text")).cast("double"))
        ).map { case (op, k) => cell(op)(docs.select(col("doc_id"), k.as("k"))
          .write.format("noop").mode("overwrite").save()) }
      })
  }
}
