package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Checkpoints.{owning, scoped}

/** Classifier-evaluation operators — the audit side of every model gate in
  * the curation pipelines ([[TextAnalysis.nbQualityScore]], the
  * `trainingMix` classifier gate): threshold sweeps and ranking quality,
  * computed exactly.
  *
  * Scale discipline: both operators first collapse the corpus to ONE row
  * per distinct score (map-side-combined groupBy — scores are rounded by
  * the scorer, so this table is bounded by score granularity, not corpus
  * size, enforced by [[graft.util.GridGuard]]), then run the
  * order-statistic window over that aggregate. The single-partition
  * window is over the per-score table only; the corpus itself never
  * globally sorts.
  *
  * Pin ownership: operators that checkpoint internally (ksTest family,
  * aucRoc, mutualInfo, spearman) run under
  * [[graft.util.Checkpoints.scoped]], which releases their corpus-scale
  * internal pins on return or failure and hands back a BOUNDED pinned
  * frame (one row to |groups| rows) — a long-lived session that is done
  * reading a result can reclaim even that via
  * [[graft.util.Checkpoints.release]]. Operators whose result is
  * table-sized (prCurve, ecdf, blendKeyed, retrievalMetricsMacro) hand
  * back a lazy frame over their bounded pin, which the caller owns.
  */
object Eval {

  /** PRECISION/RECALL CURVE: one row per distinct score, classifying
    * `score >= threshold` as positive. `tp`/`fp` are running totals down
    * the score-descending sweep; precision and recall are emitted as
    * unrounded integer-ratio doubles (exact divisions — bit-identical in
    * any engine). `labelCol` must be 0/1. */
  def prCurve(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    // grid discipline, gated EXACTLY on the per-score table this op
    // builds anyway (no separate pre-check pass over the caller's
    // scoring projection — the r12 regression fix); the sweep window is
    // single-partition over that bounded pinned table
    val perScore = graft.util.GridGuard.gateTable(
      prCurvePerScore(df, scoreCol, labelCol), "prCurve", scoreCol)
    val totPos = sum(col("npos")).over(Window.partitionBy())
    val w = Window.orderBy(col("threshold").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perScore
      .withColumn("tp", sum(col("npos")).over(w))
      .withColumn("fp", sum(col("n") - col("npos")).over(w))
      .withColumn("p_total", totPos)
      .select(col("threshold"), col("tp"), col("fp"),
        (col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
          .as("precision"),
        // all-negative corpus: recall is undefined (NULL), not a fault —
        // ANSI mode would raise on the 0 divisor otherwise
        when(col("p_total") > 0,
          col("tp").cast("double") / col("p_total").cast("double"))
          .as("recall"))
  }

  /** [[prCurve]]'s per-score table: the frame its gate pins, and the
    * op's one keyed shuffle. */
  private[ext] def prCurvePerScore(df: DataFrame, scoreCol: String,
      labelCol: String): DataFrame =
    df.groupBy(col(scoreCol).as("threshold"))
      .agg(sum(col(labelCol)).cast("long").as("npos"), count(lit(1)).as("n"))

  /** Empirical-CDF (percentile-rank) TRANSFORM with the mid-rank tie
    * convention: `ecdf(x) = (#below + #equal/2) / N` — the rank
    * normalization that puts heterogeneous quality signals on one [0, 1]
    * scale before blending (a weighted sum of raw scores is dominated by
    * whichever signal has the widest units; percentile ranks are
    * unit-free). Ties take the group midpoint — the same convention as
    * [[aucRoc]]'s average ranks.
    *
    * Every term is an exact 0.5-multiple over an exact total, so the
    * unrounded output is bit-identical across engines. The per-score
    * table (bounded by score granularity) carries the window; the corpus
    * pays one groupBy and one score-keyed join back. */
  def ecdf(df: DataFrame, scoreCol: String,
      outCol: String = "pct"): DataFrame =
    // LEFT join: a NULL score has no rank — the row survives with NULL
    // pct instead of silently vanishing from the output
    df.join(ecdfTable(df, scoreCol, outCol), Seq(scoreCol), "left")

  /** [[ecdf]]'s (score → percentile) side table alone — join it back
    * yourself when composing several rank transforms over one scored
    * projection ([[blend]] does): `df.join(table)` inside [[ecdf]]
    * references `df` twice, so CHAINING k ecdf calls re-evaluates the
    * upstream scoring projection ~2^k times (measured 2× per level on
    * the regex-heavy quality signals). Building the k tables from the
    * ORIGINAL frame and joining them in one chain keeps it at one full
    * evaluation plus k column-pruned ones. */
  def ecdfTable(df: DataFrame, scoreCol: String,
      outCol: String = "pct"): DataFrame =
    ecdfTableImpl(df, scoreCol, outCol, guard = true)

  /** [[ecdfTable]] for composed internal callers that ALREADY guarded
    * the column ([[mutualInfo]] checks both its columns once on the
    * pinned pair projection) — skips the redundant per-call gate
    * (ADVICE r12: mutualInfo paid three guard passes where one
    * suffices). */
  private[ext] def ecdfTableNoGuard(df: DataFrame, scoreCol: String,
      outCol: String): DataFrame =
    ecdfTableImpl(df, scoreCol, outCol, guard = false)

  private def ecdfTableImpl(df: DataFrame, scoreCol: String,
      outCol: String, guard: Boolean): DataFrame = {
    // NULL scores are excluded from the ranking AND the total — they
    // can't equi-join back anyway, and counting them in N would skew
    // every surviving row's percentile
    val perRaw = df.filter(col(scoreCol).isNotNull)
      .groupBy(col(scoreCol)).agg(count(lit(1)).as("_n"))
    // grid discipline (covers ecdf/blend/discretize callers), gated
    // exactly on the per-score table built above — no extra input pass
    val per =
      if (guard) graft.util.GridGuard.gateTable(perRaw, "ecdfTable", scoreCol)
      else perRaw
    val w = Window.orderBy(col(scoreCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per
      .withColumn("_cum", sum(col("_n")).over(w))
      .withColumn("_tot", sum(col("_n")).over(Window.partitionBy()))
      .withColumn(outCol,
        ((col("_cum") - col("_n")).cast("double") +
          col("_n").cast("double") / lit(2.0)) / col("_tot").cast("double"))
      .select(col(scoreCol), col(outCol))
  }

  /** Per-class PRECISION/RECALL/F1 from the confusion matrix — the eval
    * companion to a k-way classifier ([[TextAnalysis.nbMulticlass]]).
    * The class list is the TRUE label set; a class never predicted gets
    * NULL precision/F1 (not 0 — "undefined" and "bad" are different
    * audit outcomes). Metrics are unrounded integer-ratio doubles; F1 is
    * the one fixed form `2·p·r / (p + r)`.
    *
    * Shape at 100 TB: the corpus collapses to the k²-row confusion
    * matrix map-side; every downstream join/aggregate runs on that. */
  def classMetrics(df: DataFrame, labelCol: String,
      predCol: String): DataFrame = {
    val cm = df.groupBy(col(labelCol).as("label"), col(predCol).as("pred"))
      .agg(count(lit(1)).as("n"))
    val byLabel = cm.groupBy(col("label")).agg(sum("n").as("n_label"))
    val byPred = cm.groupBy(col("pred")).agg(sum("n").as("n_pred"))
    val tp = cm.filter(col("label") === col("pred"))
      .select(col("label").as("cls"), col("n").as("tp"))
    val p = col("tp").cast("double") / col("n_pred").cast("double")
    val r = col("tp").cast("double") / col("n_label").cast("double")
    byLabel.select(col("label").as("cls"), col("n_label"))
      .join(byPred.select(col("pred").as("cls"), col("n_pred")),
        Seq("cls"), "left")
      .join(tp, Seq("cls"), "left")
      .na.fill(0L, Seq("n_pred", "tp"))
      .withColumn("precision", when(col("n_pred") > 0, p))
      .withColumn("recall", r)
      .withColumn("f1",
        when(col("n_pred") > 0 && (p + r) > 0,
          lit(2.0) * p * r / (p + r)))
      .select("cls", "n_label", "n_pred", "tp",
        "precision", "recall", "f1")
  }

  /** COHEN'S KAPPA — chance-corrected agreement between two raters
    * (e.g. two quality gates): `κ = (p_o − p_e) / (1 − p_e)`. The
    * expected agreement is computed from the EXACT integer sum
    * `Σ_c n_a(c)·n_b(c)` (order-free) over N², so the unrounded double
    * is engine-identical. Guard: the product sum overflows int64 past
    * ~3·10⁹ rows — aggregate per-partition or switch the marginals to
    * doubles at that scale (ANSI mode faults loudly, never wraps).
    * Returns one row: (n, p_o, p_e, kappa). */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cm = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("n"))
    val marg = cm.groupBy(col("a")).agg(sum("n").as("na"))
      .join(cm.groupBy(col("b")).agg(sum("n").as("nb")),
        col("a") === col("b"))
      .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("prod"))
    val agree = cm.filter(col("a") === col("b"))
      .agg(coalesce(sum("n"), lit(0L)).as("n_agree"))
    val total = cm.agg(sum("n").as("n_total"))
    val po = col("n_agree").cast("double") / col("n_total").cast("double")
    val pe = col("prod").cast("double") /
      (col("n_total").cast("double") * col("n_total").cast("double"))
    agree.crossJoin(total).crossJoin(marg)
      .select(col("n_total").as("n"), po.as("p_o"), pe.as("p_e"),
        // both raters constant and agreeing → p_e = 1 → 0/0; kappa is
        // undefined there (NULL), matching classMetrics/aucRocBy's
        // degenerate-input convention rather than an ANSI fault
        when(pe < 1.0, (po - pe) / (lit(1.0) - pe)).as("kappa"))
  }

  /** CALIBRATION (reliability) BINS: log-odds scores map through the
    * sigmoid to probabilities, bin on the 6 dp-ROUNDED probability
    * (engine-stable bin edges — the PSI discipline), and each bin
    * reports observed positive rate vs mean stated confidence. A gate
    * can rank perfectly (AUC 1) and still lie about its probabilities;
    * this is the audit that catches it. `pos_rate` is an exact integer
    * ratio (unrounded); `mean_conf` averages rounded values and rounds
    * at 6 dp (summation-order grain).
    *
    * One corpus pass with map-side combine into nBins rows. */
  def calibrationBins(df: DataFrame, scoreCol: String, labelCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins > 0)
    val prob = round(lit(1.0) / (lit(1.0) + exp(-col(scoreCol))), 6)
    df.select(prob.as("p"), col(labelCol).cast("long").as("y"))
      .withColumn("bin",
        least(floor(col("p") * nBins).cast("int"), lit(nBins - 1)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("p")), 6).as("mean_conf"),
        (sum(col("y")).cast("double") / count(lit(1)).cast("double"))
          .as("pos_rate"))
  }

  /** GROUP-SLICED ROC-AUC — [[aucRoc]] per `groupCol` slice (per
    * language, per source, per cohort): the fairness/robustness view a
    * single corpus-level AUC hides (a gate can rank well globally and
    * invert on one language). Same exact Mann–Whitney arithmetic; a
    * slice missing a class gets NULL auc (undefined, not 0.5).
    *
    * Scale note: unlike the global [[aucRoc]] (whose order-statistic
    * window is single-partition over the per-score table), every stage
    * here keys on the group — the rank window partitions by slice, so
    * parallelism grows with slice count. */
  def aucRocBy(df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: String): DataFrame = {
    val per = df.groupBy(col(groupCol).as("g"), col(scoreCol).as("s"))
      .agg(sum(col(labelCol)).cast("long").as("npos"),
        count(lit(1)).as("n"))
    val w = Window.partitionBy(col("g")).orderBy(col("s").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = per
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("avg_rank",
        (col("cum") - col("n")).cast("double") +
          (col("n") + lit(1L)).cast("double") / lit(2.0))
    val auc =
      (col("prs") -
        (col("n_pos").cast("double") * (col("n_pos") + lit(1L)).cast("double"))
          / lit(2.0)) /
        (col("n_pos").cast("double") * col("n_neg").cast("double"))
    ranked.groupBy(col("g"))
      .agg(sum(col("npos").cast("double") * col("avg_rank")).as("prs"),
        sum(col("npos")).cast("long").as("n_pos"),
        sum(col("n") - col("npos")).cast("long").as("n_neg"))
      .select(col("g").as(groupCol),
        when(col("n_pos") > 0 && col("n_neg") > 0, auc).as("auc"),
        col("n_pos"), col("n_neg"))
  }

  /** COMPOSITE signal BLEND: each score column rank-normalizes through
    * [[ecdf]] and the weighted left-associated sum becomes `outCol` —
    * the unit-free way to combine heterogeneous quality signals (a
    * weighted sum of RAW scores is dominated by whichever signal has the
    * widest numeric range; percentile ranks weight signals by what the
    * weights say). Weights are applied in the given order with one fixed
    * expression shape, so the result is reproducible bit-for-bit.
    *
    * Shape: one per-score aggregate + score-keyed join back per signal —
    * k bounded side tables, the corpus never sorts. */
  def blend(df: DataFrame, weights: Seq[(String, Double)],
      outCol: String = "blended"): DataFrame = {
    require(weights.nonEmpty, "need at least one (scoreCol, weight)")
    // grid discipline: each signal's ecdfTable call below pre-checks its
    // own column, so every rank table here is granularity-guarded
    // every rank table derives from the ORIGINAL frame (not the running
    // join), so the scoring projection evaluates once full-width plus
    // one column-pruned pass per signal — never 2^k times (see
    // [[ecdfTable]])
    // LEFT joins, matching [[ecdf]]'s convention: a row with a NULL in
    // any signal column survives with NULL `outCol` (the weighted sum
    // propagates the NULL) instead of silently vanishing
    val withPcts = weights.zipWithIndex.foldLeft(df) {
      case (acc, ((c, _), i)) =>
        acc.join(ecdfTable(df, c, s"_p$i"), Seq(c), "left")
    }
    val expr = weights.zipWithIndex
      .map { case ((_, w), i) => lit(w) * col(s"_p$i") }
      .reduce(_ + _)
    weights.indices.foldLeft(withPcts.withColumn(outCol, expr)) {
      (d, i) => d.drop(s"_p$i")
    }
  }

  /** [[blend]]'s SHARED-SCAN form for a unique-keyed frame: the scoring
    * projection — typically the expensive part (regex-heavy quality
    * signals) — evaluates exactly ONCE. Each row explodes into
    * (signal, value) pairs; one (signal, value)-keyed aggregate replaces
    * the k per-signal aggregates, the mid-rank window partitions by
    * signal, ranks join back on (signal, value), and a final pivot on
    * `idCol` reassembles (id, signals..., outCol). [[blend]] instead
    * re-evaluates `df` once full-width plus once column-pruned per
    * signal (k+1 scans) — at corpus scale the scan dominates, so this
    * shape is the one a 100 TB blend runs. Same arithmetic as [[ecdf]]
    * (exact 0.5-multiples over exact totals, NULL signals rank as NULL
    * and the row survives with NULL `outCol`); same left-assoc weighted
    * sum, so results are bit-identical with [[blend]]'s.
    *
    * Requires `idCol` unique (the pivot reassembles one row per id) and
    * returns only (idCol, signal columns, outCol) — callers needing other
    * columns join back on the id. */
  def blendKeyed(df: DataFrame, idCol: String,
      weights: Seq[(String, Double)],
      outCol: String = "blended"): DataFrame = owning { sc =>
    require(weights.nonEmpty, "need at least one (scoreCol, weight)")
    val sigs = weights.map(_._1)
    val exploded = df.select(col(idCol).as("_id"),
      posexplode(array(sigs.map(c => col(c).cast("double")): _*))
        .as(Seq("_sig", "_v")))
    val perRaw = exploded.filter(col("_v").isNotNull)
      .groupBy(col("_sig"), col("_v")).agg(count(lit(1)).as("_n"))
    // grid discipline for every signal's grain, gated EXACTLY on the
    // (signal, value) table built above (no separate multi-column HLL
    // pass over the caller's scoring projection — the r12 regression
    // fix): pin it, then one k-row collapse yields each signal's exact
    // distinct-value count; the result reads the pin, so the caller owns
    // it, and a failing gate releases it on the way out
    val cap = graft.util.GridGuard.cap(df.sparkSession)
    val per = sc.pin(perRaw)
    per.groupBy(col("_sig")).agg(count(lit(1)).as("_nv")).collect()
      .foreach { r =>
        val nv = r.getLong(1)
        if (nv > cap) graft.util.GridGuard.fail("blendKeyed",
          sigs(r.getInt(0)), nv.toString, cap)
      }
    val w = Window.partitionBy(col("_sig")).orderBy(col("_v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val table = per
      .withColumn("_cum", sum(col("_n")).over(w))
      .withColumn("_tot",
        sum(col("_n")).over(Window.partitionBy(col("_sig"))))
      .withColumn("_p",
        ((col("_cum") - col("_n")).cast("double") +
          col("_n").cast("double") / lit(2.0)) / col("_tot").cast("double"))
      .select(col("_sig"), col("_v"), col("_p"))
    val ranked = exploded.join(table, Seq("_sig", "_v"), "left")
    val vCols = sigs.indices.map(i =>
      max(when(col("_sig") === i, col("_v"))).as(s"_v$i"))
    val pCols = sigs.indices.map(i =>
      max(when(col("_sig") === i, col("_p"))).as(s"_p$i"))
    val expr = weights.zipWithIndex
      .map { case ((_, wt), i) => lit(wt) * col(s"_p$i") }
      .reduce(_ + _)
    ranked.groupBy(col("_id"))
      .agg((vCols ++ pCols).head, (vCols ++ pCols).tail: _*)
      .select(col("_id").as(idCol) +:
        sigs.zipWithIndex.map { case (c, i) => col(s"_v$i").as(c) } :+
        expr.as(outCol): _*)
  }

  /** ROC-AUC, exactly, as the Mann–Whitney rank statistic: the
    * probability a random positive outranks a random negative, ties at
    * half credit. Tie groups take their AVERAGE rank
    * (`ranks_below + (n+1)/2`), so every per-group term `npos · avgRank`
    * is an exact multiple of 0.5 — partial sums stay exact in doubles
    * (below 2⁵³), which makes the aggregation order-independent and the
    * unrounded result bit-identical across engines.
    * Returns one row: (auc, n_pos, n_neg). */
  def aucRoc(df: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = scoped { sc =>
    // grid discipline, gated exactly on the per-score table this op
    // builds anyway (the prCurve note); the rank window is
    // single-partition over that bounded pinned table (aucRocBy instead
    // partitions by slice)
    val perScore = graft.util.GridGuard.gateTable(
      df.groupBy(col(scoreCol).as("s"))
        .agg(sum(col(labelCol)).cast("long").as("npos"),
          count(lit(1)).as("n")),
      "aucRoc", scoreCol)
    val w = Window.orderBy(col("s").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = perScore
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("avg_rank",
        (col("cum") - col("n")).cast("double") +
          (col("n") + lit(1L)).cast("double") / lit(2.0))
    ranked.agg(
        sum(col("npos").cast("double") * col("avg_rank")).as("pos_rank_sum"),
        sum(col("npos")).cast("long").as("n_pos"),
        sum(col("n") - col("npos")).cast("long").as("n_neg"))
      .select(
        // single-class input → AUC undefined (NULL), same guard as
        // aucRocBy — not an ANSI divide-by-zero fault
        when(col("n_pos") > 0 && col("n_neg") > 0,
          (col("pos_rank_sum") -
            (col("n_pos").cast("double") * (col("n_pos") + lit(1L)).cast("double"))
              / lit(2.0)) /
            (col("n_pos").cast("double") * col("n_neg").cast("double")))
          .as("auc"),
        col("n_pos"), col("n_neg"))
  }

  /** ln 2 as one shared double so the nDCG discount `ln(r+1)/ln 2`
    * evaluates the same expression shape in Spark and in any SQL oracle
    * (library `log2` implementations differ in the last ulp between
    * engines; a fixed ln-ratio does not). */
  val Ln2: Double = math.log(2.0)

  /** RANKING-QUALITY METRICS for a retrieval run (BM25 / ANN / hybrid)
    * against a relevance-judgment table: per query, hit@k, MRR and
    * binary-relevance nDCG@k — the audit loop of a RAG retrieval stack
    * ([[TextAnalysis.bm25]], [[Similarity.bruteForceTopK]],
    * [[Similarity.rrfFuse]] produce `runs`; an annotation set or a
    * label-derived gold standard produces `qrels`).
    *
    * `runs` is (query, doc, score); ranks are recomputed here as
    * `score desc, doc asc` so ties are deterministic regardless of how
    * the run was produced. `qrels` is (query, doc) — binary relevance,
    * duplicates ignored. The ideal DCG normalizes by
    * `min(k, |qrels(q)|)` over ALL judged docs, not just retrieved ones,
    * so missing a relevant doc costs score. A query with no qrels rows
    * gets NULL ndcg (undefined, not 0 — the [[cohenKappa]] convention);
    * a query that retrieved no relevant doc gets mrr = 0. The output is
    * the UNION of run queries and judged queries: a judged query the run
    * returned nothing for scores (hit=0, mrr=0, ndcg=0) rather than
    * vanishing, so partial runs cannot overstate aggregate quality.
    *
    * Shape at 100 TB: everything keys on the query — one rank window
    * partitioned by query over the top-k run (bounded at k rows per
    * query), one broadcast-able qrels join, one per-query collapse.
    * Parallelism grows with query count; the corpus never appears.
    * Returns (query, n_rel, hit_k, mrr, ndcg) — mrr/ndcg rounded 6 dp. */
  def retrievalMetrics(runs: DataFrame, qrels: DataFrame,
      queryCol: String, docCol: String, scoreCol: String,
      k: Int = 10): DataFrame = {
    require(k > 0, s"k $k")
    val ranked = runs
      .withColumn("_rank", row_number().over(
        Window.partitionBy(col(queryCol))
          .orderBy(col(scoreCol).desc, col(docCol).asc)))
      .filter(col("_rank") <= k)
    val rels = qrels.select(col(queryCol), col(docCol)).distinct()
    val nRel = rels.groupBy(col(queryCol))
      .agg(count(lit(1)).cast("long").as("n_rel"))
    val dcgTerm = col("_r").cast("double") /
      (log(col("_rank").cast("double") + lit(1.0)) / lit(Ln2))
    val per = ranked
      .join(rels.withColumn("_hit", lit(1)), Seq(queryCol, docCol), "left")
      .withColumn("_r", coalesce(col("_hit"), lit(0)))
      .groupBy(col(queryCol))
      .agg(max(col("_r")).cast("int").as("hit_k"),
        // no relevant doc retrieved → min() is NULL → NULL reciprocal →
        // the standard MRR contribution of 0 (never an ANSI fault: the
        // divisor is a rank >= 1)
        coalesce(lit(1.0) /
            min(when(col("_r") === 1, col("_rank"))).cast("double"),
          lit(0.0)).as("_mrr"),
        sum(dcgTerm).as("_dcg"))
    // ideal DCG: the same discount summed over the first min(k, n_rel)
    // positions — a sequential fold in BOTH engines (order-stable)
    val idcg = aggregate(
      sequence(lit(1), least(lit(k), greatest(col("n_rel"), lit(1L)).cast("int"))),
      lit(0.0),
      (acc, i) => acc + lit(1.0) / (log(i.cast("double") + lit(1.0)) / lit(Ln2)))
    // FULL outer: a judged query for which the run returned ZERO rows
    // must still emit (hit=0, mrr=0, ndcg=0) — a left join driven by the
    // run would silently drop it and overstate aggregate quality on
    // partial runs (ADVICE r9).
    per.join(nRel, Seq(queryCol), "full_outer")
      .select(col(queryCol), coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("hit_k"), lit(0)).as("hit_k"),
        round(coalesce(col("_mrr"), lit(0.0)), 6).as("mrr"),
        when(col("n_rel") > 0,
          round(coalesce(col("_dcg"), lit(0.0)) / idcg, 6)).as("ndcg"))
  }

  /** [[retrievalMetrics]] plus MACRO averages — the standard multi-query
    * benchmark readout: per-query rows for drill-down and one macro row
    * for the headline number, in one frame.
    *
    * Per-query rows carry scope='query' and the [[retrievalMetrics]]
    * columns (hit_k widened to double so the schema matches the macro
    * hit RATE). The macro row carries scope='macro', a NULL query id,
    * n_rel = the number of JUDGED queries averaged, and the 6 dp-rounded
    * means of hit_k / mrr / ndcg over judged queries ONLY (n_rel > 0 —
    * an unjudged query has undefined quality and must not dilute the
    * average; judged-but-unretrieved queries DO count, as zeros).
    *
    * The per-query table is checkpointed before the two consumers read
    * it (it is bounded by query count; without the pin the whole run
    * pipeline would execute twice); the result reads it, so the caller
    * owns it. */
  def retrievalMetricsMacro(runs: DataFrame, qrels: DataFrame,
      queryCol: String, docCol: String, scoreCol: String,
      k: Int = 10): DataFrame = owning { sc =>
    val per = sc.pin(
      retrievalMetrics(runs, qrels, queryCol, docCol, scoreCol, k))
    val perRows = per.select(lit("query").as("scope"), col(queryCol),
      col("n_rel"), col("hit_k").cast("double").as("hit_k"),
      col("mrr"), col("ndcg"))
    val macroRow = per.filter(col("n_rel") > 0)
      .agg(count(lit(1)).cast("long").as("n_rel"),
        round(avg(col("hit_k").cast("double")), 6).as("hit_k"),
        round(avg(col("mrr")), 6).as("mrr"),
        round(avg(col("ndcg")), 6).as("ndcg"))
      .select(lit("macro").as("scope"),
        lit(null).cast(per.schema(queryCol).dataType).as(queryCol),
        col("n_rel"), col("hit_k"), col("mrr"), col("ndcg"))
    perRows.unionByName(macroRow)
  }

  /** FLEISS' KAPPA — chance-corrected agreement among MANY raters
    * (Fleiss 1971), the n-rater generalization of [[cohenKappa]]: three
    * quality gates, k annotation passes, model-ensemble votes. Input is
    * LONG format: one row per (item, rater, label); rater identity only
    * disambiguates rows (the statistic uses per-item label counts).
    * Assumes the same rater count per item (the classic statistic);
    * items with a single rating get NULL per-item agreement and drop
    * from P̄ (avg ignores NULL) rather than faulting the r(r−1) divisor.
    *
    * All inputs to the final ratios are exact integer sums (order-free);
    * P̄ averages one bounded double per item. Returns one row:
    * (n_items, n_ratings, p_bar, p_e, kappa), kappa NULL when p_e = 1
    * (all raters constant and identical — undefined, the
    * [[cohenKappa]] convention).
    *
    * Shape at 100 TB: the ratings collapse map-side to (item, label)
    * counts, then to one row per item, then to one global row; the
    * category table is bounded by label cardinality. */
  def fleissKappa(df: DataFrame, itemCol: String, raterCol: String,
      labelCol: String): DataFrame = {
    val nij = df.groupBy(col(itemCol).as("item"), col(labelCol).as("cat"))
      .agg(count(lit(1)).as("nij"))
    val perItem = nij.groupBy(col("item"))
      .agg(sum(col("nij")).as("r"),
        sum(col("nij") * col("nij")).as("ss"))
      .withColumn("p_i", when(col("r") > 1,
        (col("ss") - col("r")).cast("double") /
          (col("r") * (col("r") - lit(1L))).cast("double")))
    val g = perItem.agg(count(lit(1)).as("n_items"),
      sum(col("r")).cast("long").as("n_ratings"),
      avg(col("p_i")).as("p_bar"))
    val pj = nij.groupBy(col("cat")).agg(sum(col("nij")).as("cj"))
    val pe = pj.crossJoin(g.select(col("n_ratings").as("_t")))
      .agg(sum((col("cj").cast("double") / col("_t").cast("double")) *
        (col("cj").cast("double") / col("_t").cast("double"))).as("p_e"))
    g.crossJoin(pe)
      .select(col("n_items"), col("n_ratings"),
        round(col("p_bar"), 6).as("p_bar"),
        round(col("p_e"), 6).as("p_e"),
        round(when(col("p_e") < 1.0,
          (col("p_bar") - col("p_e")) / (lit(1.0) - col("p_e"))), 6)
          .as("kappa"))
  }

  /** BRIER SCORE with the Murphy (1973) decomposition — the
    * probability-side companion to [[calibrationBins]]: one number for
    * "how wrong are the stated probabilities" (brier), split into how
    * much the bins lie (reliability, lower better), how much they
    * separate outcomes (resolution, higher better), and the outcome
    * entropy floor (uncertainty). `scoreCol` is a log-odds score like
    * [[calibrationBins]] takes; it maps through the 6 dp-rounded sigmoid
    * so bin edges are engine-stable. The decomposition identity
    * `brier = rel − res + unc` holds up to within-bin variance of the
    * stated probabilities (exact only if every forecast equals its bin
    * mean) — emit all four, don't derive one from the rest.
    *
    * One corpus pass, map-side combined into nBins rows, then one global
    * row. Returns (n, brier, reliability, resolution, uncertainty). */
  def brierDecomposition(df: DataFrame, scoreCol: String, labelCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins > 0)
    val prob = round(lit(1.0) / (lit(1.0) + exp(-col(scoreCol))), 6)
    val binned = df.select(prob.as("p"), col(labelCol).cast("double").as("y"))
      .withColumn("bin",
        least(floor(col("p") * nBins).cast("int"), lit(nBins - 1)))
    val per = binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_b"), sum(col("p")).as("sp"),
        sum(col("y")).as("sy"),
        sum((col("p") - col("y")) * (col("p") - col("y"))).as("sq"))
    val nD = col("n_b").cast("double")
    per.crossJoin(
        per.agg(sum(col("n_b")).as("n"), sum(col("sy")).as("ty"))
          .select(col("n"), (col("ty") / col("n").cast("double")).as("ybar")))
      .select(col("n"), col("sq"),
        (nD * (col("sp") / nD - col("sy") / nD) *
          (col("sp") / nD - col("sy") / nD)).as("rel_b"),
        (nD * (col("sy") / nD - col("ybar")) *
          (col("sy") / nD - col("ybar"))).as("res_b"),
        col("ybar"))
      .groupBy(col("n"), col("ybar"))
      .agg(sum(col("sq")).as("tsq"), sum(col("rel_b")).as("trel"),
        sum(col("res_b")).as("tres"))
      .select(col("n"),
        round(col("tsq") / col("n").cast("double"), 6).as("brier"),
        round(col("trel") / col("n").cast("double"), 6).as("reliability"),
        round(col("tres") / col("n").cast("double"), 6).as("resolution"),
        round(col("ybar") * (lit(1.0) - col("ybar")), 6).as("uncertainty"))
  }

  /** KRIPPENDORFF'S ALPHA (nominal metric) — agreement that, unlike
    * [[fleissKappa]], tolerates MISSING ratings: raters may skip items
    * (the real shape of human annotation queues and abstaining model
    * gates). Items with fewer than 2 ratings are unpairable and drop.
    * Canonical normalization: `D_o = (1/n)·Σ_i (r_i² − Σ_c n_ic²)/(r_i−1)`,
    * `D_e = (n² − Σ_c n_c²)/(n(n−1))`, `α = 1 − D_o/D_e` where n counts
    * pairable ratings. α is NULL when D_e = 0 (every rating one
    * category — undefined, the [[cohenKappa]] convention).
    *
    * All inputs to the ratios are exact integer sums; the only
    * order-dependent float is the per-item sum inside D_o. Shape at
    * 100 TB: ratings collapse map-side to (item, label) counts, then per
    * item, then one row; category marginals are label-cardinality
    * bounded. Returns (n_items, n_ratings, d_o, d_e, alpha). */
  def krippendorffAlpha(df: DataFrame, itemCol: String, raterCol: String,
      labelCol: String): DataFrame = {
    val nij = df.groupBy(col(itemCol).as("item"), col(labelCol).as("cat"))
      .agg(count(lit(1)).as("nij"))
    val perItem = nij.groupBy(col("item"))
      .agg(sum(col("nij")).as("r"),
        sum(col("nij") * col("nij")).as("ss"))
      .filter(col("r") > 1)
    val pairable = nij
      .join(perItem.select(col("item")), Seq("item"), "left_semi")
    val g = perItem.agg(count(lit(1)).as("n_items"),
      sum(col("r")).cast("long").as("n_ratings"),
      sum((col("r") * col("r") - col("ss")).cast("double") /
        (col("r") - lit(1L)).cast("double")).as("_do_sum"))
    val nc = pairable.groupBy(col("cat")).agg(sum(col("nij")).as("cj"))
    val sq = nc.agg(sum(col("cj") * col("cj")).cast("long").as("_sumsq"))
    val n = col("n_ratings").cast("double")
    val dO = col("_do_sum") / n
    val dE = (n * n - col("_sumsq").cast("double")) /
      (n * (n - lit(1.0)))
    g.crossJoin(sq)
      .select(col("n_items"), col("n_ratings"),
        round(dO, 6).as("d_o"), round(dE, 6).as("d_e"),
        round(when(dE > 0, lit(1.0) - dO / dE), 6).as("alpha"))
  }

  /** CROSS-GROUP QUANTILE NORMALIZATION: replace each value with the
    * GLOBAL value at the same within-group percentile — the
    * distribution-matching transform that makes scores comparable across
    * sources whose scorers drift (source A's 0.7 and source B's 0.7 can
    * mean different things; their 80th percentiles mean the same). The
    * within-group percentile is the mid-rank [[ecdf]] (exact
    * 0.5-multiple arithmetic); the global inverse ECDF maps it back to a
    * DATA value — the min global value whose cumulative fraction covers
    * the percentile — so the output is an exact corpus value, no
    * interpolation (interpolated cuts diverge by an ulp across engines;
    * data values cannot).
    *
    * Shape at 100 TB: both sides collapse to per-score tables (bounded
    * by score GRANULARITY — feed scores at a rounded grain, enforced by
    * [[graft.util.GridGuard]]; raw continuous doubles make the
    * "per-score table" corpus-sized and the broadcast global table
    * unboundable); the inverse lookup is a
    * range join of the per-group table against the broadcast global
    * table; the corpus pays one groupBy and one join back on
    * (group, value). Output: input + `outCol`. */
  def quantileNormalize(df: DataFrame, groupCol: String, valCol: String,
      outCol: String = "norm"): DataFrame = {
    // grid discipline: the broadcast global table and the per-group
    // cumulative are bounded by VALUE granularity only — gated exactly
    // on the global per-value table built below (no separate pre-check
    // pass over the caller's scoring projection, the prCurve note)
    val perG = df.filter(col(valCol).isNotNull)
      .groupBy(col(groupCol), col(valCol)).agg(count(lit(1)).as("_n"))
    val wg = Window.partitionBy(col(groupCol)).orderBy(col(valCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gPct = perG
      .withColumn("_cum", sum(col("_n")).over(wg))
      .withColumn("_tot",
        sum(col("_n")).over(Window.partitionBy(col(groupCol))))
      .withColumn("_pct",
        ((col("_cum") - col("_n")).cast("double") +
          col("_n").cast("double") / lit(2.0)) / col("_tot").cast("double"))
      .select(col(groupCol), col(valCol), col("_pct"))
    val glob = graft.util.GridGuard.gateTable(
      df.filter(col(valCol).isNotNull)
        .groupBy(col(valCol).as("_gv")).agg(count(lit(1)).as("_gn")),
      "quantileNormalize", valCol)
    val wAll = Window.orderBy(col("_gv").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gCf = glob
      .withColumn("_gcum", sum(col("_gn")).over(wAll))
      .withColumn("_gtot", sum(col("_gn")).over(Window.partitionBy()))
      .withColumn("_gcf",
        col("_gcum").cast("double") / col("_gtot").cast("double"))
      .select(col("_gv"), col("_gcf"))
    // inverse ECDF: the smallest global value covering the percentile —
    // _gcf reaches 1.0 exactly (n/n), so every _pct < 1 matches
    val mapped = gPct
      .join(broadcast(gCf), col("_pct") <= col("_gcf"))
      .groupBy(col(groupCol), col(valCol))
      .agg(min(col("_gv")).as(outCol))
    df.join(mapped, Seq(groupCol, valCol), "left")
  }

  /** Poisson(1) CDF cut points in the md5-bucket space `[0, 2^60)` —
    * weight k is assigned when the bucket falls in `[t_{k−1}, t_k)`.
    * Public single source of truth for [[bootstrapCI]]'s SQL replicas. */
  lazy val PoissonThresholds: IndexedSeq[Long] = {
    val e1 = math.exp(-1.0)
    // cumulative e^-1 · Σ 1/k! for k = 0..7; weights cap at 8
    val cdf = (0 to 7).scanLeft(0.0) { (acc, k) =>
      acc + e1 / (1 to k).product.toDouble
    }.tail
    cdf.map(c => (c * Sampling.Space.toDouble).toLong).toIndexedSeq
  }

  /** DETERMINISTIC POISSON BOOTSTRAP CI for a corpus mean — error bars on
    * an eval metric WITHOUT resampling passes (Chamandy et al., "Estimating
    * Uncertainty for Massive Data Streams"): each of `reps` replicates
    * weights every row by a Poisson(1) count derived from an md5 bucket of
    * (salt, rep, id) — fully deterministic, so the same CI reproduces on
    * any engine/layout, the [[Sampling]] discipline applied to
    * uncertainty. One scan exploded ×reps (map-side combined to reps
    * rows), then order statistics over the bounded replicate table.
    *
    * CI convention: empirical order statistics of the replicate means at
    * floor(α·R) and ceil((1−α)·R) (1-based), α = 2.5% — document, don't
    * interpolate (interpolated cuts diverge across engines). Replicates
    * with zero total weight (vanishing probability beyond toy inputs)
    * yield NULL means and would shift the order-statistic indices —
    * inputs should carry ≥ ~50 rows.
    * Returns one row: (n, mean, ci_lo, ci_hi). */
  def bootstrapCI(df: DataFrame, idCol: String, valCol: String,
      reps: Int = 40, salt: String = "boot"): DataFrame = {
    require(reps >= 4, s"reps $reps")
    val base = df.select(col(idCol).as("_id"),
        col(valCol).cast("double").as("_x"))
      .filter(col("_x").isNotNull)
    val bucket = conv(substring(md5(concat(lit(salt + ":"),
        col("_rep").cast("string"), lit(":"), col("_id").cast("string"))),
      1, 15), 16, 10).cast("long")
    val w = PoissonThresholds.zipWithIndex.foldRight(
        lit(PoissonThresholds.size): Column) { case ((t, k), acc) =>
      when(bucket < t, lit(k)).otherwise(acc)
    }
    val perRep = base
      .withColumn("_rep", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("_w", w)
      .groupBy(col("_rep"))
      .agg(sum(col("_w") * col("_x")).as("_swx"),
        sum(col("_w")).cast("double").as("_sw"))
      .select(when(col("_sw") > 0, col("_swx") / col("_sw")).as("_m"))
      .filter(col("_m").isNotNull)
    val idxLo = math.max(1, math.floor(0.025 * reps).toInt)
    val idxHi = math.ceil(0.975 * reps).toInt
    val ranked = perRep.withColumn("_rn",
      row_number().over(Window.orderBy(col("_m").asc)))
    val ci = ranked.agg(
      min(when(col("_rn") === idxLo, col("_m"))).as("_lo"),
      min(when(col("_rn") === idxHi, col("_m"))).as("_hi"))
    base.agg(count(lit(1)).as("n"), avg(col("_x")).as("_mean"))
      .crossJoin(ci)
      .select(col("n"), round(col("_mean"), 6).as("mean"),
        round(col("_lo"), 6).as("ci_lo"), round(col("_hi"), 6).as("ci_hi"))
  }

  /** PAIRED BOOTSTRAP SIGNIFICANCE TEST on the difference of two
    * per-unit metrics — "did system B actually beat system A, or is the
    * delta noise?": the question a pair of point estimates (or even two
    * independent [[bootstrapCI]]s) cannot answer, because the two
    * metrics are measured on the SAME units (per-query retrieval scores,
    * per-user engagement under two rankers) and their per-unit
    * correlation must cancel, not inflate the variance. Delta = b − a
    * per unit; each replicate reweights WHOLE units (one Poisson weight
    * per (rep, unit), shared by both sides by construction — exactly
    * the pairing), then the [[bootstrapCI]] machinery verbatim over the
    * delta column: deterministic md5 weights, fixed order-statistic CI,
    * one scan ×reps. Significant = the 95% CI excludes 0, evaluated on
    * the 6 dp-rounded endpoints the frame carries (engine-stable).
    * Feed per-unit metrics ROUNDED (the house grain discipline).
    * Returns one row: (n, mean_delta, ci_lo, ci_hi, b_better, a_better,
    * significant). */
  def pairedBootstrapTest(df: DataFrame, idCol: String, aCol: String,
      bCol: String, reps: Int = 40,
      salt: String = "pboot"): DataFrame = {
    val deltas = df.select(col(idCol).as("_id"),
      (col(bCol).cast("double") - col(aCol).cast("double")).as("_d"))
    bootstrapCI(deltas, "_id", "_d", reps, salt)
      .select(col("n"), col("mean").as("mean_delta"),
        col("ci_lo"), col("ci_hi"),
        when(col("ci_lo") > 0, 1).otherwise(0).as("b_better"),
        when(col("ci_hi") < 0, 1).otherwise(0).as("a_better"),
        when(col("ci_lo") > 0 || col("ci_hi") < 0, 1).otherwise(0)
          .as("significant"))
  }

  /** [[pairedBootstrapTest]] PER SLICE — "WHICH cohort's B-vs-A delta
    * is real": the house by-slice composition applied to the paired
    * test (one grouped replicate aggregation, parallelism grows with
    * slice count; same deterministic weights keyed by (salt, rep, unit)
    * so a unit appearing under one slice reweights exactly as the
    * unsliced test would weight it). Returns one row per slice:
    * (groupCol, n, mean_delta, ci_lo, ci_hi, b_better, a_better,
    * significant). */
  def pairedBootstrapTestBy(df: DataFrame, groupCol: String,
      idCol: String, aCol: String, bCol: String, reps: Int = 40,
      salt: String = "pboot"): DataFrame = {
    val deltas = df.select(col(groupCol).as("_g"), col(idCol).as("_id"),
      (col(bCol).cast("double") - col(aCol).cast("double")).as("_d"))
    bootstrapCIBy(deltas, "_g", "_id", "_d", reps, salt)
      .select(col("_g").as(groupCol), col("n"),
        col("mean").as("mean_delta"), col("ci_lo"), col("ci_hi"),
        when(col("ci_lo") > 0, 1).otherwise(0).as("b_better"),
        when(col("ci_hi") < 0, 1).otherwise(0).as("a_better"),
        when(col("ci_lo") > 0 || col("ci_hi") < 0, 1).otherwise(0)
          .as("significant"))
  }

  /** [[bootstrapCI]] PER GROUP — error bars on each slice's mean ("is
    * src3's quality really below src5's, or noise?" — the question a
    * point estimate per source cannot answer). Same deterministic
    * Poisson weights and fixed order-statistic convention; every stage
    * keys on the group so parallelism grows with slice count.
    * Returns one row per group: (groupCol, n, mean, ci_lo, ci_hi). */
  def bootstrapCIBy(df: DataFrame, groupCol: String, idCol: String,
      valCol: String, reps: Int = 40, salt: String = "boot"): DataFrame = {
    require(reps >= 4, s"reps $reps")
    val base = df.select(col(groupCol).as("_g"), col(idCol).as("_id"),
        col(valCol).cast("double").as("_x"))
      .filter(col("_x").isNotNull)
    val bucket = conv(substring(md5(concat(lit(salt + ":"),
        col("_rep").cast("string"), lit(":"), col("_id").cast("string"))),
      1, 15), 16, 10).cast("long")
    val w = PoissonThresholds.zipWithIndex.foldRight(
        lit(PoissonThresholds.size): Column) { case ((t, k), acc) =>
      when(bucket < t, lit(k)).otherwise(acc)
    }
    val perRep = base
      .withColumn("_rep", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("_w", w)
      .groupBy(col("_g"), col("_rep"))
      .agg(sum(col("_w") * col("_x")).as("_swx"),
        sum(col("_w")).cast("double").as("_sw"))
      .select(col("_g"),
        when(col("_sw") > 0, col("_swx") / col("_sw")).as("_m"))
      .filter(col("_m").isNotNull)
    val idxLo = math.max(1, math.floor(0.025 * reps).toInt)
    val idxHi = math.ceil(0.975 * reps).toInt
    val ranked = perRep.withColumn("_rn", row_number().over(
      Window.partitionBy(col("_g")).orderBy(col("_m").asc)))
    val ci = ranked.groupBy(col("_g")).agg(
      min(when(col("_rn") === idxLo, col("_m"))).as("_lo"),
      min(when(col("_rn") === idxHi, col("_m"))).as("_hi"))
    base.groupBy(col("_g"))
      .agg(count(lit(1)).as("n"), avg(col("_x")).as("_mean"))
      .join(ci, Seq("_g"))
      .select(col("_g").as(groupCol), col("n"),
        round(col("_mean"), 6).as("mean"),
        round(col("_lo"), 6).as("ci_lo"), round(col("_hi"), 6).as("ci_hi"))
  }

  /** KEY-SKEW REPORT: the pre-join diagnostic that decides between a
    * plain shuffle join, a broadcast, and [[graft.operators.SkewJoin]] —
    * per-key distribution summarized as max key share, Shannon entropy
    * (ln-based; ln(n_keys) = the uniform ceiling) and the Gini
    * coefficient over per-key counts, plus the hottest key. The corpus
    * collapses map-side to one row per key; every statistic runs over
    * that bounded table (the Gini rank window sorts keys, never rows).
    * max_share and gini are exact integer ratios (unrounded); entropy
    * rounds at 6 dp (order-dependent sum over keys). NULL keys count as
    * a key (they hash-partition together — exactly the skew that
    * matters). Overflow posture: the Gini numerator's `Σ (2i−1)·c_i` and
    * `K·n` stay in int64 while `K·n < 9·10¹⁸` — beyond ~10⁹ keys on a
    * ~10⁹-row-per-key corpus ANSI faults loudly; pre-aggregate keys or
    * switch the Gini terms to doubles there. Returns one row:
    * (n_rows, n_keys, top_key, max_share, entropy, gini). */
  def skewReport(df: DataFrame, keyCol: String): DataFrame = {
    val per = df.groupBy(col(keyCol).cast("string").as("_k"))
      .agg(count(lit(1)).as("_c"))
    val ranked = per
      .withColumn("_i",
        row_number().over(Window.orderBy(col("_c").asc, col("_k").asc)))
      .withColumn("_j",
        row_number().over(Window.orderBy(col("_c").desc, col("_k").asc)))
    ranked.agg(
        sum(col("_c")).as("_n"), count(lit(1)).as("_keys"),
        max(col("_c")).as("_max"),
        min(when(col("_j") === 1, col("_k"))).as("_top"),
        sum(col("_c").cast("double") *
          log(col("_c").cast("double"))).as("_clogc"),
        sum((lit(2L) * col("_i") - lit(1L)) * col("_c")).as("_gsum"))
      .select(col("_n").as("n_rows"), col("_keys").as("n_keys"),
        col("_top").as("top_key"),
        (col("_max").cast("double") / col("_n").cast("double"))
          .as("max_share"),
        // H = ln n − (Σ c·ln c)/n — one fixed shape, exact when uniform
        round(log(col("_n").cast("double")) -
          col("_clogc") / col("_n").cast("double"), 6).as("entropy"),
        // Gini over the count-ascending ranking: (2·Σ i·c_i − (K+1)·n)
        // / (K·n) — all-integer numerator/denominator, exact ratio
        ((col("_gsum") - col("_keys") * col("_n")).cast("double") /
          (col("_keys") * col("_n")).cast("double")).as("gini"))
  }

  /** TWO-SAMPLE KOLMOGOROV–SMIRNOV drift test — the distribution-level
    * twin of [[graft.ext.Outliers.psiDrift]]'s binned monitor: D = max
    * |F_a(x) − F_b(x)| over the step ECDFs, sensitive to ANY
    * distributional change (location, scale, shape) without choosing
    * bins. `d_crit` is the asymptotic 5% cut 1.358·√((n_a+n_b)/(n_a·n_b))
    * (Smirnov); `drifted` = 1 iff d > d_crit.
    *
    * Engine-stable by construction: at each distinct value the ECDF gap
    * is |cna·n_b − cnb·n_a| / (n_a·n_b) — an exact INTEGER numerator, so
    * the max is decided on integers and only the final two ratios touch
    * doubles (both emitted with one fixed shape; overflow posture as
    * [[cohenKappa]]: the cross-products exceed int64 past ~3·10⁹ rows per
    * side — switch them to doubles at that scale, costing exactness of
    * the argmax among near-ties, not of the counts).
    *
    * Shape at 100 TB: one pass collapses both sides to the distinct-value
    * count table (granularity-bounded — feed ROUNDED scores, the rank-op
    * discipline, ENFORCED at runtime by [[graft.util.GridGuard]]'s
    * default-on distinct-count pre-check); the cumulative window runs on
    * that bounded table, everything after is scalar, and the one-row
    * result is pinned before the gate's table is released. Returns one
    * row: (n_a, n_b, d, d_crit, drifted). */
  def ksTest(a: DataFrame, b: DataFrame, valCol: String): DataFrame =
    // runtime grid discipline (ON by default), gated exactly on the
    // per-value table built here (the distributed groupBy is safe at any
    // cardinality; only the downstream one-task window is not): fail
    // before the single-partition cumulative sorts a corpus-sized table
    scoped(_ => ksTestOnPer(graft.util.GridGuard.gateTable(
      pairPerValueRaw(a, b, valCol), "ksTest", valCol)))

  /** The two-sided per-distinct-value count table `(_v, ca, cb)` that
    * [[ksTest]], [[rankSumTest]] and (bucketed) [[Outliers.psiDrift]]
    * all collapse their inputs to — ONE tagged-union aggregation.
    * [[Outliers.driftReport]] builds it once, gates it once, and feeds
    * every value-side member. Ungated and lazy — callers gate via
    * [[graft.util.GridGuard.gateTable]]. */
  private[ext] def pairPerValueRaw(a: DataFrame, b: DataFrame,
      valCol: String): DataFrame =
    a.select(col(valCol).as("_v"),
        lit(1L).as("_ia"), lit(0L).as("_ib"))
      .unionAll(b.select(col(valCol).as("_v"),
        lit(0L).as("_ia"), lit(1L).as("_ib")))
      .filter(col("_v").isNotNull)
      .groupBy(col("_v"))
      .agg(sum(col("_ia")).as("ca"), sum(col("_ib")).as("cb"))

  /** [[ksTest]]'s statistic from an already-gated per-value table (the
    * [[pairPerValueRaw]] shape) — identical downstream arithmetic, does
    * NOT release the caller's table. Returns the LAZY plan with no
    * internal pins: the caller pins the result (or one fused union of
    * several lenses, [[Outliers.driftReport]]), and the tiny cumulative
    * recomputes from the caller's table (deterministic — the same sorted
    * window over the same rows, so bit-identical). */
  private[ext] def ksTestOnPer(per: DataFrame): DataFrame = {
    val w = Window.orderBy(col("_v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = per
      .withColumn("cna", sum(col("ca")).over(w))
      .withColumn("cnb", sum(col("cb")).over(w))
      .select(col("cna"), col("cnb"))
    // the final cumulative IS the side total — no second corpus pass
    val tot = cum.agg(max(col("cna")).as("n_a"), max(col("cnb")).as("n_b"))
    val dnum = cum.crossJoin(broadcast(tot))
      .agg(max(abs(col("cna") * col("n_b") - col("cnb") * col("n_a")))
        .as("_dnum"))
    val nProd = col("n_a").cast("double") * col("n_b").cast("double")
    val d = col("_dnum").cast("double") / nProd
    val dCrit = lit(1.358) *
      sqrt((col("n_a") + col("n_b")).cast("double") / nProd)
    tot.crossJoin(dnum).select(col("n_a"), col("n_b"),
      d.as("d"), dCrit.as("d_crit"),
      when(d > dCrit, 1).otherwise(0).as("drifted"))
  }

  /** [[ksTest]] PER GROUP — each slice's value distribution against the
    * REST of the corpus ("which source drifted?"), the sliced drift view
    * next to [[aucRocBy]]/[[bootstrapCIBy]]. Same integer-exact gap
    * arithmetic; the rest-side ECDF of group g derives from the global
    * cumulative minus g's own (one corpus pass total).
    *
    * Shape at 100 TB: ONE corpus aggregation to the (group, value) count
    * table (pinned — three consumers), then everything runs on the
    * granularity-bounded grids: the dense per-(group, value) cumulative
    * is |groups| × |distinct values| rows (feed ROUNDED scores —
    * [[graft.util.GridGuard]] enforces both axes), the group list
    * broadcasts. Degenerate input with a single group yields
    * n_b = 0 and a NaN d (no rest distribution to compare against).
    * Returns one row per group: (groupCol, n_a, n_b, d, d_crit,
    * drifted). */
  def ksTestBy(df: DataFrame, groupCol: String,
      valCol: String): DataFrame = scoped { sc =>
    val base = df.select(col(groupCol).as("_g"), col(valCol).as("_v"))
      .filter(col("_v").isNotNull && col("_g").isNotNull)
    val pg = sc.pin(base.groupBy(col("_g"), col("_v"))
      .agg(count(lit(1)).as("c")))
    // grid discipline: the dense grid is |groups| × |values| — both axes
    // must be bounded (rounded scores; slice keys, not row ids). Gated
    // EXACTLY on the pinned (group, value) table built above: one k-row
    // collapse, no separate pre-check pass over the caller's projection.
    graft.util.GridGuard.gateAxes(pg, "ksTestBy",
      valCol -> "_v", groupCol -> "_g")
    ksTestByOnPg(pg, groupCol)
  }

  /** [[ksTestBy]]'s statistics from an already-gated (group, value)
    * count table `(_g, _v, c)` — identical downstream arithmetic; rows
    * with a NULL `_v` are dropped here (the standalone path filters them
    * before aggregating; [[Outliers.driftReportBy]]'s shared table
    * retains them for the psi lens's slice totals). Lazy and does NOT
    * release the caller's table (the [[ksTestOnPer]] contract). */
  private[ext] def ksTestByOnPg(pg0: DataFrame,
      groupCol: String): DataFrame = {
    val pg = pg0.filter(col("_v").isNotNull)
    val wv = Window.orderBy(col("_v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gv = pg.groupBy(col("_v")).agg(sum(col("c")).as("cv"))
      .withColumn("cumg", sum(col("cv")).over(wv))
      .select(col("_v"), col("cumg"))
    val groups = pg.groupBy(col("_g")).agg(sum(col("c")).as("n_a"))
    val tot = groups.agg(sum(col("n_a")).as("n"))
    // dense (group × value) grid so the max is evaluated at EVERY global
    // jump point — a gap can peak at a value the group never takes
    val wgv = Window.partitionBy(col("_g")).orderBy(col("_v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dense = gv.crossJoin(broadcast(groups))
      .join(pg, Seq("_g", "_v"), "left")
      .withColumn("cuma", sum(coalesce(col("c"), lit(0L))).over(wgv))
    val perG = dense.crossJoin(broadcast(tot))
      .withColumn("_gap", abs(col("cuma") * (col("n") - col("n_a")) -
        (col("cumg") - col("cuma")) * col("n_a")))
      .groupBy(col("_g"), col("n_a"), col("n"))
      .agg(max(col("_gap")).as("_dnum"))
    val nbCol = col("n") - col("n_a")
    val nProd = col("n_a").cast("double") * nbCol.cast("double")
    val d = col("_dnum").cast("double") / nProd
    val dCrit = lit(1.358) *
      sqrt((col("n_a") + nbCol).cast("double") / nProd)
    perG.select(col("_g").as(groupCol), col("n_a"),
      nbCol.as("n_b"), d.as("d"), dCrit.as("d_crit"),
      when(d > dCrit, 1).otherwise(0).as("drifted"))
  }

  /** [[ksDriftWindowed]]'s baseline inputs from the reference slice:
    * sorted distinct values with CUMULATIVE counts — run once against the
    * snapshot, hold on the driver / in the job config (the
    * [[Outliers.psiBaseline]] convention). Granularity-guarded before
    * collecting: the table must be bounded by score grain, it ships
    * inside the streaming plan. */
  def ksBaseline(df: DataFrame, valCol: String): (Array[Double], Array[Long]) = {
    val vals = df.select(col(valCol).cast("double").as("_v"))
      .filter(col("_v").isNotNull)
    graft.util.GridGuard.check(vals, "ksBaseline", "_v")
    val rows = vals.groupBy(col("_v")).agg(count(lit(1)).as("_c"))
      .orderBy(col("_v").asc).collect()
    val cum = new Array[Long](rows.length)
    var acc = 0L
    rows.zipWithIndex.foreach { case (r, i) => acc += r.getLong(1); cum(i) = acc }
    (rows.map(_.getDouble(0)), cum)
  }

  /** STREAMING-SHAPED [[ksTest]]: the KS drift statistic per EVENT-TIME
    * window (and per `slice` value, when given) against a DRIVER-HELD
    * baseline distribution (from [[ksBaseline]]) — the unbinned serving
    * twin next to [[Outliers.psiWindowed]] and
    * [[Similarity.embeddingDriftWindowed]]. ONE stateful windowed
    * aggregation ([[graft.agg.KsDriftAgg]]) whose per-cell state is the
    * cell's per-distinct-value counts — bounded by score granularity and
    * hard-capped at the [[graft.util.GridGuard]] ceiling, so an
    * unrounded score column fails loudly instead of growing state without
    * bound; the watermark expires old windows. Every slice compares
    * against the same driver-held baseline, not against the rest: the
    * serving analogue of [[ksTestBy]]'s rest side would need cross-slice
    * state, and a deployed monitor alarms each source against the
    * trained corpus instead. The same plan runs batch or streaming (add
    * `withWatermark` upstream); batch ≡ stream and per-cell batch ≡
    * `ksTest(baseline, cell)` are suite-pinned bit-for-bit (identical
    * integer-gap arithmetic inside the aggregate).
    *
    * Returns (ws, [slice,] n_live, d, d_crit, drifted) per cell. */
  def ksDriftWindowed(df: DataFrame, tsCol: String, valCol: String,
      baseVals: Array[Double], baseCum: Array[Long],
      windowDur: String = "1 day",
      slice: Option[String] = None): DataFrame = {
    require(baseVals.length == baseCum.length && baseVals.nonEmpty,
      "ksDriftWindowed: empty or misaligned baseline")
    ksLens(col(valCol).cast("double"), baseVals, baseCum)
      .cells(df, tsCol, windowDur, slice)
  }

  /** The KS member's windowed lens over the value column `v`. */
  private[ext] def ksLens(v: Column, baseVals: Array[Double],
      baseCum: Array[Long]): Outliers.CellLens =
    Outliers.CellLens(Seq("_v" -> v),
      cap => Seq(graft.agg.KsDriftAgg.column(col("_v"), baseVals, baseCum,
        cap).as("_ks")),
      Outliers.structFields("_ks", "n_live", "d", "d_crit", "drifted"))

  /** The rank-sum member's windowed lens over the value column `v`. */
  private[ext] def rankSumLens(v: Column, baseVals: Array[Double],
      baseCum: Array[Long]): Outliers.CellLens =
    Outliers.CellLens(Seq("_v" -> v),
      cap => Seq(graft.agg.RankSumDriftAgg.column(col("_v"), baseVals,
        baseCum, cap).as("_rs")),
      Outliers.structFields("_rs", "n_live", "u", "z", "drifted"))

  /** STREAMING-SHAPED [[rankSumTest]]: the location-drift statistic per
    * EVENT-TIME window (and per `slice` value, when given) against the
    * SAME driver-held [[ksBaseline]] artifact the KS twin takes (one
    * snapshot pass serves both monitors). Identical state/plan shape to
    * [[ksDriftWindowed]] ([[graft.agg.RankSumDriftAgg]] — per-distinct-
    * value counts, GridGuard-capped, watermark-expired); every slice
    * compares against the same driver-held baseline, not against the
    * rest. Per-cell batch ≡ `rankSumTest(baseline, cell)` bit-for-bit and
    * stream ≡ batch are suite-pinned. Returns
    * (ws, [slice,] n_live, u, z, drifted) per cell. */
  def rankSumDriftWindowed(df: DataFrame, tsCol: String, valCol: String,
      baseVals: Array[Double], baseCum: Array[Long],
      windowDur: String = "1 day",
      slice: Option[String] = None): DataFrame = {
    require(baseVals.length == baseCum.length && baseVals.nonEmpty,
      "rankSumDriftWindowed: empty or misaligned baseline")
    rankSumLens(col(valCol).cast("double"), baseVals, baseCum)
      .cells(df, tsCol, windowDur, slice)
  }

  /** MANN–WHITNEY / WILCOXON RANK-SUM drift test — the LOCATION-shift
    * member of the drift family ([[Outliers.psiDrift]] = binned shape,
    * [[ksTest]] = any-shape, [[Outliers.chiSquareDrift]] = categorical;
    * this one asks specifically "did the live slice's values move up or
    * down?", with full robustness to outliers because only ranks enter).
    * Mid-rank ties (the [[aucRoc]] convention) over the combined sample;
    * normal approximation with the standard tie correction:
    * `z = (U − n_a·n_b/2) / σ`,
    * `σ² = (n_a·n_b/12)·((N+1) − Σ(t³−t)/(N(N−1)))`, drifted at the
    * two-sided 5% cut |z| > 1.96 (fixed literal, the 1.358 discipline).
    * z > 0 means side b's values rank HIGHER than side a's.
    *
    * Engine-stable: every rank is an exact 0.5-multiple so U is exact in
    * doubles (order-independent below 2⁵³); the tie term Σ(t³−t) is
    * computed in DOUBLES from the first multiply (ADVICE r12) — exact
    * while t³ < 2⁵³ (t ≲ 2·10⁶ rows tied on one value, i.e. everywhere
    * int64 was exact) and degrading to ulp rounding, never a silent
    * int64 wrap, beyond; the DuckDB oracles mirror the double form so
    * parity holds at any scale. z and the flag are one fixed expression
    * shape. All-tied input gives σ = 0 → NULL z (undefined, the
    * [[cohenKappa]] convention).
    *
    * Shape at 100 TB: one pass collapses both sides to the per-distinct-
    * value count table (granularity-bounded, [[graft.util.GridGuard]]
    * enforced); the rank window runs on that bounded table, everything
    * after is scalar, and the one-row result is pinned before the gate's
    * table is released. Returns one row: (n_a, n_b, u, z, drifted). */
  def rankSumTest(a: DataFrame, b: DataFrame, valCol: String): DataFrame =
    // grid discipline, gated exactly on the per-value table built here
    // (the ksTest note)
    scoped(_ => rankSumOnPer(graft.util.GridGuard.gateTable(
      pairPerValueRaw(a, b, valCol), "rankSumTest", valCol)))

  /** [[rankSumTest]]'s statistic from an already-gated per-value table
    * (the [[pairPerValueRaw]] shape) — identical downstream arithmetic,
    * lazy, does NOT release the caller's table (the [[ksTestOnPer]]
    * contract). */
  private[ext] def rankSumOnPer(per: DataFrame): DataFrame = {
    val w = Window.orderBy(col("_v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nv = col("ca") + col("cb")
    val ranked = per
      .withColumn("_nv", nv)
      .withColumn("_cum", sum(nv).over(w))
      .withColumn("_avgrank",
        (col("_cum") - col("_nv")).cast("double") +
          (col("_nv") + lit(1L)).cast("double") / lit(2.0))
    val agg = ranked.agg(
      sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
      sum(col("cb").cast("double") * col("_avgrank")).as("_rb"),
      // tie term in DOUBLES from the first multiply (ADVICE r12): t³ in
      // int64 silently wraps past ~2·10⁶ rows tied on ONE value under
      // non-ANSI mode; the double form is exact below 2⁵³ and degrades
      // to a rounded (never wrapped) σ beyond — mirrored in the DuckDB
      // oracles so parity holds at any scale
      sum(col("_nv").cast("double") * col("_nv") * col("_nv") - col("_nv"))
        .as("_ties"))
    val nA = col("n_a").cast("double")
    val nB = col("n_b").cast("double")
    val nT = nA + nB
    val u = col("_rb") - nB * (nB + lit(1.0)) / lit(2.0)
    val sigma2 = nA * nB / lit(12.0) *
      ((nT + lit(1.0)) - col("_ties").cast("double") /
        (nT * (nT - lit(1.0))))
    val z = (u - nA * nB / lit(2.0)) / sqrt(sigma2)
    agg.select(col("n_a"), col("n_b"), u.as("u"),
      when(sigma2 > 0, z).as("z"),
      when(sigma2 > 0 && abs(z) > 1.96, 1).otherwise(0).as("drifted"))
  }

  /** [[rankSumTest]] PER GROUP — each slice's value LOCATION against the
    * REST of the corpus ("which source moved up/down?"), the rank-sum
    * sibling of [[ksTestBy]]. Structurally CHEAPER than the KS slice
    * view: for group-vs-rest the combined sample is always the whole
    * corpus, so ONE global mid-rank table serves every group (no dense
    * group × value grid) — each group pays a weighted sum over its own
    * per-value counts. Side convention: a = rest, b = the group, so
    * z > 0 means the GROUP's values rank higher than the rest's; each
    * output row is bit-identical to `rankSumTest(rest, own)`
    * (property-pinned — same exact 0.5-multiple rank sums, same integer
    * tie term, same fixed z shape).
    *
    * Shape at 100 TB: one corpus aggregation to the (group, value) count
    * table (pinned — two consumers, released after the bounded result
    * materializes), the rank window runs once on the granularity-bounded
    * global value table ([[graft.util.GridGuard]] enforced), and the
    * per-group collapse keys on the group. Returns one row per group:
    * (groupCol, n_g, n_rest, u, z, drifted); z NULL when σ = 0. */
  def rankSumTestBy(df: DataFrame, groupCol: String,
      valCol: String): DataFrame = scoped { sc =>
    val base = df.select(col(groupCol).as("_g"), col(valCol).as("_v"))
      .filter(col("_v").isNotNull && col("_g").isNotNull)
    val pg = sc.pin(base.groupBy(col("_g"), col("_v"))
      .agg(count(lit(1)).as("c")))
    // grid discipline gated exactly on the pinned (group, value) table
    // (the ksTestBy note — no separate pass over the caller's projection)
    graft.util.GridGuard.gateAxes(pg, "rankSumTestBy",
      valCol -> "_v", groupCol -> "_g")
    rankSumByOnPg(pg, groupCol)
  }

  /** [[rankSumTestBy]]'s statistics from an already-gated (group, value)
    * count table (the [[ksTestByOnPg]] contract: NULL `_v` rows dropped
    * here, lazy, caller's table not released). */
  private[ext] def rankSumByOnPg(pg0: DataFrame,
      groupCol: String): DataFrame = {
    val pg = pg0.filter(col("_v").isNotNull)
    val gv = pg.groupBy(col("_v")).agg(sum(col("c")).as("nv"))
    val w = Window.orderBy(col("_v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = gv
      .withColumn("_cum", sum(col("nv")).over(w))
      .withColumn("_avgrank",
        (col("_cum") - col("nv")).cast("double") +
          (col("nv") + lit(1L)).cast("double") / lit(2.0))
    val glob = ranked.agg(sum(col("nv")).as("n"),
      // double tie term from the first multiply (the rankSumTest note)
      sum(col("nv").cast("double") * col("nv") * col("nv") - col("nv"))
        .as("_ties"))
    val perG = pg.join(ranked.select(col("_v"), col("_avgrank")), Seq("_v"))
      .groupBy(col("_g"))
      .agg(sum(col("c")).as("n_g"),
        sum(col("c").cast("double") * col("_avgrank")).as("_rg"))
    val nB = col("n_g").cast("double")
    val nA = (col("n") - col("n_g")).cast("double")
    val nT = nA + nB
    val u = col("_rg") - nB * (nB + lit(1.0)) / lit(2.0)
    val sigma2 = nA * nB / lit(12.0) *
      ((nT + lit(1.0)) - col("_ties").cast("double") /
        (nT * (nT - lit(1.0))))
    val z = (u - nA * nB / lit(2.0)) / sqrt(sigma2)
    perG.crossJoin(broadcast(glob)).select(
      col("_g").as(groupCol), col("n_g"),
      (col("n") - col("n_g")).as("n_rest"), u.as("u"),
      when(sigma2 > 0, z).as("z"),
      when(sigma2 > 0 && abs(z) > 1.96, 1).otherwise(0).as("drifted"))
  }

  /** MUTUAL INFORMATION between two score columns over ECDF-decile bins
    * — the NONLINEAR dependence audit next to [[spearman]]'s monotone
    * one (two signals can be rank-uncorrelated yet share most of their
    * information; redundant signals waste blend weight and reviewer
    * time). Binning is by mid-rank ECDF (engine-stable under ties — the
    * discretize lesson; equal-width bins on raw values break on skewed
    * signals), nBins per side. Also reports the normalized form
    * `nmi = MI / √(H_a·H_b)` ∈ [0, 1] (NULL when either marginal
    * entropy is 0 — a constant signal carries no information).
    *
    * Shape at 100 TB: two per-score rank tables joined back (one
    * materialized scan of the pair projection), then everything runs on
    * the ≤ nBins² joint-count table. Overflow posture (the cohenKappa
    * discipline): the exact integer products `c·n` / `ca·cb` in the MI
    * log argument exceed int64 past ~3·10⁹ rows — ANSI mode faults
    * loudly there; switch those two products to doubles at that scale
    * (costs exactness of the log argument, not of the counts). Returns
    * one row: (n, mi, h_a, h_b, nmi), mi/entropies rounded 6 dp. */
  def mutualInfo(df: DataFrame, aCol: String, bCol: String,
      nBins: Int = 10): DataFrame = scoped { sc =>
    require(nBins > 1, s"nBins $nBins")
    val base = sc.pin(df.select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull))
    // grid discipline — checked ONCE on the PINNED pair projection (the
    // pre-check scans 16 bytes/row, never the caller's scoring kernels);
    // the two internal ecdfTable calls skip their per-call gate (ADVICE
    // r12: three guard passes where one suffices)
    graft.util.GridGuard.check(base, "mutualInfo", "a", "b")
    def binned(c: String, out: String) =
      ecdfTableNoGuard(base, c, "_p" + c)
        .withColumn(out,
          least(floor(col("_p" + c) * nBins).cast("int"), lit(nBins - 1)))
        .select(col(c), col(out))
    val withBins = base
      .join(binned("a", "ba"), Seq("a"))
      .join(binned("b", "bb"), Seq("b"))
    val joint = withBins.groupBy(col("ba"), col("bb"))
      .agg(count(lit(1)).as("c"))
    val ma = joint.groupBy(col("ba")).agg(sum(col("c")).as("ca"))
    val mb = joint.groupBy(col("bb")).agg(sum(col("c")).as("cb"))
    val tot = joint.agg(sum(col("c")).as("n"))
    val nD = col("n").cast("double")
    val miTerm = (col("c").cast("double") / nD) *
      log((col("c") * col("n")).cast("double") /
        (col("ca") * col("cb")).cast("double"))
    val stats = joint.join(ma, Seq("ba")).join(mb, Seq("bb"))
      .crossJoin(broadcast(tot))
      .agg(sum(miTerm).as("_mi"))
    def clogc(cnt: Column) = sum(cnt.cast("double") * log(cnt.cast("double")))
    val sa = ma.agg(clogc(col("ca")).as("_sa"))
    val sb = mb.agg(clogc(col("cb")).as("_sb"))
    val hA = log(nD) - col("_sa") / nD
    val hB = log(nD) - col("_sb") / nD
    tot.crossJoin(stats).crossJoin(sa).crossJoin(sb)
      .select(col("n"), round(col("_mi"), 6).as("mi"),
        round(hA, 6).as("h_a"), round(hB, 6).as("h_b"),
        round(when(hA > 0 && hB > 0,
          col("_mi") / sqrt(hA * hB)), 6).as("nmi"))
  }

  /** SPEARMAN RANK CORRELATION between two score columns — "do these
    * quality signals agree in ORDER?", the monotone-association audit
    * run before blending signals or replacing an expensive scorer with a
    * cheap one (Pearson on raw scores answers a different, scale-bound
    * question). Mid-rank ties (the [[aucRoc]] convention), pairwise
    * complete rows only.
    *
    * Every rank is an exact 0.5-multiple, so all five moment sums are
    * exact quarter-multiples (order-independent below ~2·10¹⁵ — fine to
    * ~10⁷ rows; past that, round the output) and the unrounded rho is
    * bit-identical cross-engine. Zero-variance inputs (an all-tied
    * signal) give NULL, the [[cohenKappa]] undefined convention.
    *
    * Shape at 100 TB: two per-score rank tables (score-granularity
    * bounded — feed ROUNDED scores, like every rank/percentile op here;
    * [[graft.util.GridGuard]] enforces it)
    * joined back by value, one 6-number moment reduce.
    * Returns one row: (n, rho). */
  def spearman(df: DataFrame, aCol: String,
      bCol: String): DataFrame = scoped { sc =>
    // the (a, b) projection has THREE consumers (the pair join + both
    // rank tables) — materialize it once (16 bytes/row at any scale) or
    // a regex-heavy caller scoring projection evaluates 3× (the
    // ecdfTable lesson; measured 2.9 s → ~1 s on the q160 signals)
    val base = sc.pin(df.select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull))
    // grid discipline on the pinned pair projection (the mutualInfo note)
    graft.util.GridGuard.check(base, "spearman", "a", "b")
    def rankTable(c: String, out: String) = {
      val per = base.groupBy(col(c)).agg(count(lit(1)).as("_n"))
      val w = Window.orderBy(col(c).asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      per.withColumn("_cum", sum(col("_n")).over(w))
        .select(col(c),
          ((col("_cum") - col("_n")).cast("double") +
            (col("_n") + lit(1L)).cast("double") / lit(2.0)).as(out))
    }
    val ranked = base
      .join(rankTable("a", "ra"), Seq("a"))
      .join(rankTable("b", "rb"), Seq("b"))
    val n = col("n").cast("double")
    val num = n * col("sab") - col("sa") * col("sb")
    val da = n * col("saa") - col("sa") * col("sa")
    val db = n * col("sbb") - col("sb") * col("sb")
    ranked.agg(count(lit(1)).as("n"),
        sum(col("ra")).as("sa"), sum(col("rb")).as("sb"),
        sum(col("ra") * col("ra")).as("saa"),
        sum(col("rb") * col("rb")).as("sbb"),
        sum(col("ra") * col("rb")).as("sab"))
      .select(col("n"),
        // single sqrt of the exact product: perfect correlation lands on
        // EXACTLY ±1 (num² = da·db), where sqrt(da)·sqrt(db) is off by
        // an ulp
        when(da > 0 && db > 0, num / sqrt(da * db)).as("rho"))
  }
}
