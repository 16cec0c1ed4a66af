package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.Checkpoints.scoped

/** Robust outlier detection over a keyed numeric stream — the data-quality
  * gate an event/metric pipeline runs before training on or alerting over
  * a value column. Mean/stddev z-scores break down exactly when needed
  * most (the outliers drag the mean); the robust form scores against the
  * MEDIAN and the median absolute deviation (MAD), whose breakdown point
  * is 50% — half the data can be corrupt before the gate moves
  * (Iglewicz & Hoaglin 1993, the modified z-score M = 0.6745·(x−med)/MAD).
  *
  * Shape at 100 TB: two aggregations over the value column grouped by the
  * key (exact `percentile` — switch to `percentile_approx` for sketch-
  * mergeable single-pass medians when the per-key value sets stop fitting
  * an aggregation buffer), each producing a KEY-CARDINALITY-sized table
  * that broadcast-joins back to the stream; the flagging pass itself is a
  * narrow codegen filter. No shuffle touches the full rows.
  *
  * Keys whose MAD is 0 (over half the values identical) yield no flags —
  * the modified z-score is undefined there, and "the majority value" is
  * the wrong thing to flag. Output: (key, id, value, mz) for |M| > cut.
  *
  * mz is emitted UNROUNDED, deliberately: median and MAD are order
  * statistics (no accumulation-order divergence — an external engine
  * computing the same interpolated percentile gets the bit-identical
  * double), and the score is one fixed-order IEEE expression on top, so
  * the raw double is cross-engine stable. Rounding would make it LESS
  * stable: the 2-decimal inputs park many scores exactly on decimal
  * half-boundaries, where different engines' rounding implementations
  * (BigDecimal HALF_UP vs scale-multiply-round) legitimately disagree
  * about the same double. */
object Outliers {

  /** Per-key (median, MAD) threshold table — the trained state of the
    * gate. KEY-CARDINALITY-sized output; computed over a batch (or a
    * representative history window) and handed to [[flagsWith]], which is
    * where the streaming twin comes from: percentiles are a stateful
    * aggregation a stream cannot run, but a trained threshold table
    * applied per-row is stateless. */
  def thresholds(df: DataFrame, keyCol: String, valCol: String): DataFrame = {
    val med = df.groupBy(col(keyCol))
      .agg(percentile(col(valCol), lit(0.5)).as("_med"))
    df.join(broadcast(med), Seq(keyCol))
      .groupBy(col(keyCol), col("_med"))
      .agg(percentile(abs(col(valCol) - col("_med")), lit(0.5)).as("_mad"))
  }

  /** Flag rows against a pre-trained [[thresholds]] table: broadcast join
    * + narrow codegen filter — stateless, so `data` may be a STREAMING
    * DataFrame (score live events against batch-trained thresholds, the
    * standard deploy shape) or the training batch itself (then ≡
    * [[robustFlags]], pinned in Round8OpsSuite). */
  def flagsWith(data: DataFrame, thresholds: DataFrame, keyCol: String,
      idCol: String, valCol: String, cut: Double = 3.5): DataFrame = {
    val mz = lit(0.6745) * (col(valCol) - col("_med")) / col("_mad")
    data.join(broadcast(thresholds), Seq(keyCol))
      .filter(col("_mad") > 0 && abs(mz) > cut)
      .select(col(keyCol), col(idCol), col(valCol), mz.as("mz"))
  }

  def robustFlags(df: DataFrame, keyCol: String, idCol: String,
      valCol: String, cut: Double = 3.5): DataFrame =
    flagsWith(df, thresholds(df, keyCol, valCol), keyCol, idCol, valCol, cut)

  /** ROBUST SCALING — the transform sibling of [[robustFlags]]: every
    * row's modified z-score `0.6745·(x − median) / MAD`, NULL for
    * zero-MAD keys (a constant column has no scale; 0 would claim every
    * value is central). Median/MAD resist 50% contamination where
    * mean/stddev scaling is dragged by the very outliers preprocessing
    * exists to tame. Same shape as [[flagsWith]] without the cut: two
    * key-cardinality aggregates broadcast back + a narrow codegen map;
    * output is unrounded (the q90 order-statistic discipline). */
  def robustScale(df: DataFrame, keyCol: String, idCol: String,
      valCol: String, outCol: String = "mz"): DataFrame = {
    val mz = lit(0.6745) * (col(valCol) - col("_med")) / col("_mad")
    df.join(broadcast(thresholds(df, keyCol, valCol)), Seq(keyCol))
      .select(col(keyCol), col(idCol), col(valCol),
        when(col("_mad") > 0, mz).as(outCol))
  }

  /** EQUAL-FREQUENCY DISCRETIZATION via the mid-rank ECDF:
    * `bin = ⌊ecdf(x)·nBins⌋` — feature binning for NB-style models,
    * mixture strata, monotone compression of heavy-tailed features.
    * Deliberately NOT interpolated percentile thresholds: an
    * interpolated cut compared `≤` against data carrying heavy ties
    * flips whole tie-groups across bins on a 1-ulp cross-engine
    * divergence (measured at sf0.001 — 286 of 1000 rows). The mid-rank
    * ECDF is exact 0.5-multiple arithmetic over an exact total, so the
    * bin boundary is the same double in every engine; a tie-group lands
    * wholly in one bin.
    *
    * Shape: [[graft.ext.Eval.ecdfTable]]'s per-value aggregate + one
    * value-keyed join back — no corpus sort, no interpolation. */
  def discretize(df: DataFrame, valCol: String, nBins: Int,
      outCol: String = "bin"): DataFrame = {
    require(nBins > 1, s"need nBins > 1, got $nBins")
    // LEFT join + explicit NULL guard: a NULL value keeps its row with a
    // NULL bin (least() skips nulls and would fabricate the top bin)
    df.join(Eval.ecdfTable(df, valCol, "_pct"), Seq(valCol), "left")
      .withColumn(outCol, when(col("_pct").isNotNull,
        least(floor(col("_pct") * nBins).cast("int"), lit(nBins - 1))))
      .drop("_pct")
  }

  /** Population-Stability-Index DRIFT report: how far a live slice's
    * distribution of `valCol` has moved from a baseline slice's — the
    * corpus-monitoring gate run per ingest batch (alert past the classic
    * 0.1/0.25 PSI thresholds before a shifted crawl poisons a training
    * mix). Values bucket into `nBuckets` fixed-width bins over [lo, hi]
    * (outside values clamp into the edge bins — they count, loudly, in
    * the tails); proportions are +0.5-smoothed so empty bins stay finite;
    * per-bucket `psi = (p_live − p_base)·ln(p_live / p_base)` ≥ 0, total
    * PSI = Σ psi. Bucket on an ENGINE-STABLE value (a rounded score, a
    * count) — raw float edges would let a 1-ulp divergence flip a bin.
    *
    * Shape at 100 TB: two narrow bucket maps + two nBuckets-sized
    * aggregations (map-side combine collapses everything); the totals
    * are two scalar pulls; the report is nBuckets rows. Output:
    * (bucket, n_base, n_live, p_base, p_live, psi) — proportions
    * unrounded (exact rational divisions), psi at 6 dp (ln). */
  def psiDrift(base: DataFrame, live: DataFrame, valCol: String,
      nBuckets: Int = 10, lo: Double = 0.0, hi: Double = 1.0): DataFrame = {
    require(nBuckets > 0 && hi > lo)
    def counts(df: DataFrame, name: String) =
      df.select(psiBucket(col(valCol), nBuckets, lo, hi).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as(name))
    val (tb, tl) = (base.count(), live.count())
    val session = base.sparkSession
    val all = session.range(nBuckets)
      .select(col("id").cast("int").as("bucket"))
    all.join(counts(base, "n_base"), Seq("bucket"), "left")
      .join(counts(live, "n_live"), Seq("bucket"), "left")
      .na.fill(0L, Seq("n_base", "n_live"))
      .withColumn("p_base", psiShare(col("n_base"), lit(tb), nBuckets))
      .withColumn("p_live", psiShare(col("n_live"), lit(tl), nBuckets))
      .withColumn("psi",
        round(psiTerm(col("p_base"), col("p_live")), 6))
  }

  /** The PSI family's +0.5-smoothed share of one side's bucket:
    * (count + 0.5) / (total + k/2), so an empty bucket stays finite. */
  private def psiShare(cnt: Column, total: Column,
      nBuckets: Int): Column =
    (cnt + lit(0.5)) / (total.cast("double") + lit(0.5 * nBuckets))

  /** The PSI family's per-bucket term (p_live − p_base)·ln(p_live /
    * p_base) ≥ 0 over two [[psiShare]]s; the members round it (or its
    * sum) at 6 dp. */
  private def psiTerm(pBase: Column, pLive: Column): Column =
    (pLive - pBase) * log(pLive / pBase)

  /** The PSI family's one bucket expression: `nBuckets` fixed-width bins
    * over [lo, hi], outside values clamped into the edge bins. `greatest`
    * skips NULLs, so a NULL value lands in bucket 0 (the DuckDB oracles
    * bucket the same way). */
  private[ext] def psiBucket(v: Column, nBuckets: Int, lo: Double,
      hi: Double): Column =
    least(greatest(floor((v - lit(lo)) / lit(hi - lo) * lit(nBuckets)),
      lit(0.0)), lit((nBuckets - 1).toDouble)).cast("int")

  /** CHI-SQUARED CATEGORICAL drift test — the drift family's member for
    * CATEGORY columns (lang, source, event type, license class), where
    * [[psiDrift]]'s fixed numeric range and [[Eval.ksTest]]'s ordering
    * don't apply: Pearson's χ² over the 2×k contingency table of
    * (slice, category) counts, `χ² = Σ (O − E)² / E` with
    * `E = rowTotal·catTotal / N` — all inputs exact integer counts, one
    * fixed expression shape ([[chiTerm]], E in doubles from the start),
    * so the unrounded statistic is engine-identical. The 5% critical
    * value ([[chiVerdict]]) uses the Wilson–Hilferty closed form
    * `dof·(1 − 2/(9·dof) + 1.6449·√(2/(9·dof)))³` (no inverse-CDF table
    * to ship; accurate to ~0.1% for dof ≥ 3, documented approximation —
    * the 1.358 discipline). Categories seen in either slice count;
    * dof = k − 1; k = 1 (single category) → NULL χ²/crit, drifted 0.
    * [[chiSquareDriftBy]] runs the same term and verdict.
    *
    * Shape at 100 TB: both slices collapse map-side to category counts;
    * the category table is cardinality-bounded
    * ([[graft.util.GridGuard]]-enforced — a free-text column is not a
    * category); everything after runs on k rows. Returns one row:
    * (n_base, n_live, k, chi2, chi2_crit, drifted). */
  def chiSquareDrift(base: DataFrame, live: DataFrame,
      catCol: String): DataFrame =
    // grid discipline gated exactly on the category table built here
    // (the Eval.ksTest note — no separate pre-check pass; a free-text
    // column still fails loudly, now with the exact count)
    scoped(_ => chiSquareOnPc(graft.util.GridGuard.gateTable(
      Eval.pairPerValueRaw(base, live, catCol), "chiSquareDrift", catCol)))

  /** [[chiSquareDrift]]'s statistic from an already-gated per-category
    * table (the [[Eval.pairPerValueRaw]] shape: `ca` base, `cb` live) —
    * lazy, does NOT release the caller's table (the [[Eval.ksTestOnPer]]
    * contract). */
  private[ext] def chiSquareOnPc(per: DataFrame): DataFrame = {
    val agg = per.agg(
      sum(col("ca")).as("n_base"), sum(col("cb")).as("n_live"),
      count(lit(1)).as("k"))
    val nB = col("n_base").cast("double")
    val nL = col("n_live").cast("double")
    val nT = nB + nL
    val cat = (col("ca") + col("cb")).cast("double")
    val chi2 = per.crossJoin(broadcast(agg))
      .agg(sum(chiTerm(col("ca"), nB, cat, nT) +
        chiTerm(col("cb"), nL, cat, nT)).as("_chi2"))
    agg.crossJoin(chi2).select(col("n_base") +: col("n_live") +: col("k") +:
      chiVerdict(col("_chi2"), col("k")): _*)
  }

  /** One contingency cell's Pearson term (O − E)² / E, E = rowTot·cat/nT
    * with every input a double from the start (the rowTot·cat product
    * passes int64 past ~3·10⁹ rows), shared by [[chiSquareDrift]] and
    * [[chiSquareDriftBy]]. */
  private def chiTerm(o: Column, rowTot: Column, cat: Column,
      nT: Column): Column = {
    val e = rowTot * cat / nT
    (o.cast("double") - e) * (o.cast("double") - e) / e
  }

  /** The χ² verdict from the summed [[chiTerm]]s and the category count
    * `k`, shared by [[chiSquareDrift]] and [[chiSquareDriftBy]]: `chi2`,
    * the Wilson–Hilferty 5% cut `chi2_crit` and `drifted`, all NULL / 0
    * at k = 1. */
  private def chiVerdict(chi2: Column, k: Column): Seq[Column] = {
    val dof = (k - lit(1L)).cast("double")
    // divisor floored at 1: the k = 1 output is gated to NULL below, but
    // codegen subexpression elimination evaluates this shared expression
    // EAGERLY (outside the when), so dof = 0 must not fault under ANSI;
    // for every emitted case (k > 1) the floor is inert
    val dofSafe = greatest(dof, lit(1.0))
    val wh = dof * pow(lit(1.0) - lit(2.0) / (lit(9.0) * dofSafe) +
      lit(1.6449) * sqrt(lit(2.0) / (lit(9.0) * dofSafe)), 3)
    // χ² rounds at 6 dp (the psi/mi convention — the k-term sum is
    // accumulation-order dependent across engines); the flag compares the
    // ROUNDED values so it is a pure function of the emitted columns
    val chi2R = round(chi2, 6)
    val whR = round(wh, 6)
    Seq(when(k > 1, chi2R).as("chi2"), when(k > 1, whR).as("chi2_crit"),
      when(k > 1 && chi2R > whR, 1).otherwise(0).as("drifted"))
  }

  /** [[chiSquareDrift]] PER SLICE — each slice's category mix against the
    * REST of the corpus ("which source's language mix shifted?"), the
    * categorical member of the by-slice drift views
    * ([[Eval.ksTestBy]] / [[Eval.rankSumTestBy]]). Rest-side counts
    * derive as global − own, so the corpus pays ONE (slice, category)
    * aggregation; the dense slice × category grid is bounded on both
    * axes ([[graft.util.GridGuard]] enforced). Each row carries the same
    * arithmetic shapes as the pairwise test (suite-pinned ≡
    * `chiSquareDrift(rest, own)` at the 6 dp emission grain — the two
    * sum the k terms in different orders). k counts categories with any
    * corpus presence, so it is the same for every slice; a slice holding
    * the whole corpus (single-slice input) has an empty rest side and
    * yields NaN χ². Returns one row per slice:
    * (groupCol, n_g, n_rest, k, chi2, chi2_crit, drifted). */
  def chiSquareDriftBy(df: DataFrame, groupCol: String,
      catCol: String): DataFrame = scoped { sc =>
    val base = df.select(col(groupCol).as("_g"),
        col(catCol).cast("string").as("_c"))
      .filter(col("_g").isNotNull && col("_c").isNotNull)
    val pg = sc.pin(base.groupBy(col("_g"), col("_c"))
      .agg(count(lit(1)).as("cnt")))
    // grid discipline gated exactly on the pinned (slice, category)
    // table (the Eval.ksTestBy note)
    graft.util.GridGuard.gateAxes(pg, "chiSquareDriftBy",
      catCol -> "_c", groupCol -> "_g")
    chiSquareByOnPc(pg, groupCol)
  }

  /** [[chiSquareDriftBy]]'s statistics from an already-gated (slice,
    * category) count table `(_g, _c, cnt)` — identical downstream
    * arithmetic, lazy, caller's table not released (the
    * lazy-composition contract of [[Eval.ksTestByOnPg]]). */
  private[ext] def chiSquareByOnPc(pg: DataFrame,
      groupCol: String): DataFrame = {
    val gc = pg.groupBy(col("_c")).agg(sum(col("cnt")).as("nc"))
    val groups = pg.groupBy(col("_g")).agg(sum(col("cnt")).as("n_g"))
    val kn = gc.agg(count(lit(1)).as("k"), sum(col("nc")).as("n"))
    val dense = gc.crossJoin(broadcast(groups))
      .join(pg, Seq("_g", "_c"), "left")
      .crossJoin(broadcast(kn))
      .withColumn("ol", coalesce(col("cnt"), lit(0L)))
      .withColumn("ob", col("nc") - col("ol"))
    val nL = col("n_g").cast("double")
    val nB = (col("n") - col("n_g")).cast("double")
    val nT = col("n").cast("double")
    val cat = col("nc").cast("double")
    val perG = dense
      .groupBy(col("_g"), col("n_g"), col("n"), col("k"))
      .agg(sum(chiTerm(col("ob"), nB, cat, nT) +
        chiTerm(col("ol"), nL, cat, nT)).as("_chi2"))
    perG.select(col("_g").as(groupCol) +: col("n_g") +:
      (col("n") - col("n_g")).as("n_rest") +: col("k") +:
      chiVerdict(col("_chi2"), col("k")): _*)
  }

  /** [[psiDrift]] PER SLICE — each slice's binned value distribution vs
    * the REST of the corpus ("which source's score distribution
    * shifted?"), the binned member of the by-slice drift views
    * ([[Eval.ksTestBy]] / [[Eval.rankSumTestBy]] / [[chiSquareDriftBy]]).
    * Rest-side bucket counts derive as global − own, so the corpus pays
    * ONE (slice, bucket) aggregation; the dense slice × nBuckets grid is
    * bounded on both axes (buckets by construction, slices by the
    * [[graft.util.GridGuard]] gate on the pinned count table). Side
    * convention matches [[driftReport]]'s psi row: base = rest,
    * live = the slice; each per-bucket term is the EXACT expression
    * [[psiDrift]] emits (same +0.5 smoothing, same 6 dp per-term round),
    * so a slice's psi is bit-identical to
    * `round(psiDrift(rest, own).agg(sum(psi)), 6)` — property-pinned.
    * `drifted` flags the classic 0.25 "significant shift" cut (the
    * [[driftReport]] threshold). A single-slice input has an empty rest
    * side: its proportions still smooth to finite values, but the psi is
    * meaningless (n_rest = 0) — slice before calling. Returns one row
    * per slice: (groupCol, n_g, n_rest, psi, drifted). */
  def psiDriftBy(df: DataFrame, groupCol: String, valCol: String,
      nBuckets: Int = 10, lo: Double = 0.0,
      hi: Double = 1.0): DataFrame = scoped { sc =>
    require(nBuckets > 0 && hi > lo)
    val pg = sc.pin(df.select(col(groupCol).as("_g"),
        psiBucket(col(valCol), nBuckets, lo, hi).as("bucket"))
      .filter(col("_g").isNotNull)
      .groupBy(col("_g"), col("bucket")).agg(count(lit(1)).as("cnt")))
    // slice-axis guard on the pinned table (the bucket axis is
    // nBuckets-bounded by construction)
    graft.util.GridGuard.gateAxes(pg, "psiDriftBy", groupCol -> "_g")
    psiByOnPb(pg, groupCol, nBuckets)
  }

  /** [[psiDriftBy]]'s statistics from an already-built (slice, bucket)
    * count table `(_g, bucket, cnt)` — [[driftReportBy]] derives that
    * table from its shared (slice, value) pin (integer-identical counts),
    * so the per-slice psi stays bit-identical to the standalone member.
    * Lazy; does NOT release the caller's table. */
  private[ext] def psiByOnPb(pg: DataFrame, groupCol: String,
      nBuckets: Int): DataFrame = {
    val gb = pg.groupBy(col("bucket")).agg(sum(col("cnt")).as("nb"))
    val groups = pg.groupBy(col("_g")).agg(sum(col("cnt")).as("n_g"))
    val tot = groups.agg(sum(col("n_g")).as("n"))
    val buckets = pg.sparkSession.range(nBuckets)
      .select(col("id").cast("int").as("bucket"))
    // dense grid: EVERY bucket × every slice — a bucket empty on both
    // sides still contributes a (small, nonzero) smoothed term exactly
    // as it does in psiDrift's all-buckets output
    val dense = groups.crossJoin(broadcast(buckets))
      .join(broadcast(gb), Seq("bucket"), "left")
      .join(pg, Seq("_g", "bucket"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("own", coalesce(col("cnt"), lit(0L)))
      .withColumn("restc", coalesce(col("nb"), lit(0L)) - col("own"))
    // the member's exact smoothing and term shapes
    val p = psiShare(col("restc"), col("n") - col("n_g"), nBuckets)
    val q = psiShare(col("own"), col("n_g"), nBuckets)
    val perG = dense
      .select(col("_g"), col("n_g"), col("n"),
        round(psiTerm(p, q), 6).as("_term"))
      .groupBy(col("_g"), col("n_g"), col("n"))
      .agg(round(sum(col("_term")), 6).as("psi"))
    perG.select(col("_g").as(groupCol), col("n_g"),
      (col("n") - col("n_g")).as("n_rest"), col("psi"),
      when(col("psi") > 0.25, 1).otherwise(0).as("drifted"))
  }

  /** ONE-CALL DRIFT REPORT: every corpus-level drift statistic between a
    * baseline and a live slice in one labeled frame — the summary a
    * nightly ingest gate actually reads ("did src9 drift, by every
    * lens?"), composed from the family's verified members:
    * [[psiDrift]] (binned shape; total PSI against the classic 0.25
    * "significant shift" cut), [[Eval.ksTest]] (any-shape),
    * [[Eval.rankSumTest]] (location; |z| against 1.96),
    * [[chiSquareDrift]] (category mix on `catCol`). Each member keeps
    * its own arithmetic and critical value; this just reshapes their
    * one-row outputs into (stat, statistic, threshold, drifted) — so a
    * report row is bit-identical to calling the member directly.
    * Feed ROUNDED `valCol` scores in [lo, hi] (every member's grid
    * discipline applies; the guards run per member — each gates the
    * bounded per-value table it builds, not the input). Returns 4 rows
    * ordered by stat: chi2, ks, psi, rank_sum.
    *
    * Scale shape: each side's (valCol, catCol) projection is PINNED once
    * and every member reads the pin, so the caller's scoring projection
    * evaluates once per report, not once per member and count pull. The
    * 4-row result materializes before both pins release.
    *
    * Cost, measured (`driftreport_fusion_probe`, sf0.1 at 1× and 16×):
    * sharing one per-value table across PSI/KS/rank-sum is wall-clock
    * PARITY with calling the members separately (speedup 0.97–1.00) —
    * on the already-pinned projection the members' own aggregations are
    * memory scans cheap enough that fixed per-job cost dominates, so
    * the collapse is a PASS-COUNT reduction (three value-side
    * aggregations → one), not a measured batch speedup at these sizes.
    * The projection pin above is where q193's real cost lives; the
    * by-slice sibling [[driftReportBy]] is the one whose shared table
    * measures an actual win (1.05×→1.22×, growing with corpus). */
  def driftReport(base: DataFrame, live: DataFrame, valCol: String,
      catCol: String, nBuckets: Int = 10, lo: Double = 0.0,
      hi: Double = 1.0): DataFrame = scoped { sc =>
    val bp = sc.pin(base.select(col(valCol), col(catCol)))
    val lp = sc.pin(live.select(col(valCol), col(catCol)))
    // PSI, KS and rank-sum all derive from the same per-distinct-value
    // (ca, cb) table: built once, gated once, each member's downstream
    // arithmetic unchanged. The gate's pin passes to this scope, so the
    // three lenses share it and the corpus aggregation runs once
    val per = graft.util.GridGuard.gateTable(
      Eval.pairPerValueRaw(bp, lp, valCol), "driftReport", valCol)
    // psiDrift's side totals count ALL rows, and its bucketing puts a
    // NULL value in a bucket too; the per-value table drops NULLs, so
    // each side's NULL count (total minus non-NULL) is pulled here, in
    // one job over the small pins
    val cnts = bp.agg(count(lit(1)), count(col(valCol)))
      .crossJoin(lp.agg(count(lit(1)), count(col(valCol)))).head()
    val (tb, tl) = (cnts.getLong(0), cnts.getLong(2))
    val psi = psiRowFromPer(per, tb, tl, tb - cnts.getLong(1),
      tl - cnts.getLong(3), nBuckets, lo, hi)
    // lenses composed lazily: the one union pin below materializes all
    // four plans in a single job, and every row stays bit-identical to
    // the standalone member call
    val ks = Eval.ksTestOnPer(per)
      .select(lit("ks").as("stat"), col("d").as("statistic"),
        col("d_crit").as("threshold"), col("drifted"))
    val rs = Eval.rankSumOnPer(per)
      .select(lit("rank_sum").as("stat"), abs(col("z")).as("statistic"),
        lit(1.96).as("threshold"), col("drifted"))
    // the chi lens's category table, gated exactly as the member gates
    // its own (same exact-count guard, same failure shape)
    val pc = graft.util.GridGuard.gateTable(
      Eval.pairPerValueRaw(bp, lp, catCol), "driftReport", catCol)
    val chi = chiSquareOnPc(pc)
      .select(lit("chi2").as("stat"), col("chi2").as("statistic"),
        col("chi2_crit").as("threshold"), col("drifted"))
    psi.unionAll(ks).unionAll(rs).unionAll(chi).orderBy("stat")
  }

  /** [[driftReport]]'s psi row from the shared per-value table: bucket
    * counts are sums of the table's integer counts plus each side's
    * NULL-value count (`nullB`/`nullL`, bucketed through the same
    * [[psiBucket]] expression) — identical to [[psiDrift]]'s own bucket
    * aggregation on the raw rows — and every downstream expression (the
    * [[psiShare]] smoothing, the 6 dp [[psiTerm]], the 6 dp total) is the
    * member's own, so the row equals
    * `round(psiDrift(base, live).agg(sum(psi)), 6)` bit-for-bit
    * (DriftSuite pins it, NULL values included). */
  private def psiRowFromPer(per: DataFrame, tb: Long, tl: Long,
      nullB: Long, nullL: Long, nBuckets: Int, lo: Double,
      hi: Double): DataFrame = {
    require(nBuckets > 0 && hi > lo)
    val nulls = per.sparkSession.range(1).select(
      lit(null).cast(per.schema("_v").dataType).as("_v"),
      lit(nullB).as("ca"), lit(nullL).as("cb"))
    val counts = per.select(col("_v"), col("ca"), col("cb")).unionAll(nulls)
      .groupBy(psiBucket(col("_v"), nBuckets, lo, hi).as("bucket"))
      .agg(sum(col("ca")).as("n_base"), sum(col("cb")).as("n_live"))
    val all = per.sparkSession.range(nBuckets)
      .select(col("id").cast("int").as("bucket"))
    val p = psiShare(col("n_base"), lit(tb), nBuckets)
    val q = psiShare(col("n_live"), lit(tl), nBuckets)
    all.join(counts, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_base", "n_live"))
      .withColumn("psi", round(psiTerm(p, q), 6))
      .agg(round(sum(col("psi")), 6).as("statistic"))
      .select(lit("psi").as("stat"), col("statistic"),
        lit(0.25).as("threshold"),
        when(col("statistic") > 0.25, 1).otherwise(0).as("drifted"))
  }

  /** [[driftReport]] PER SLICE — "WHICH source drifted, by every lens":
    * every by-slice drift statistic for every slice in one labeled
    * frame, composed from the family's verified members —
    * [[psiDriftBy]] (binned shape vs rest; 0.25 cut), [[Eval.ksTestBy]]
    * (any-shape), [[Eval.rankSumTestBy]] (location; |z| vs 1.96),
    * [[chiSquareDriftBy]] (category mix on `catCol`). Each row is
    * bit-identical to the member's own output reshaped to
    * (groupCol, stat, statistic, threshold, drifted) — suite-pinned.
    * Feed ROUNDED `valCol` scores in [lo, hi]: unlike standalone
    * [[psiDriftBy]] (buckets immediately, any grain), the shared table
    * here carries distinct VALUES for the KS/rank-sum lenses, so the
    * rank-op grid discipline applies to the whole report
    * ([[graft.util.GridGuard]]-gated on both axes).
    *
    * Scale shape: ONE (slice, value) corpus aggregation (pinned, gated
    * once) feeds the three value lenses — psi's bucket counts derive
    * from it by summation (integer-identical to the member's raw-row
    * bucketing), KS/rank-sum run their unchanged downstream arithmetic
    * on it — plus ONE (slice, category) aggregation for chi²; the
    * (groupCol, valCol, catCol) projection is pinned so an expensive
    * scoring chain evaluates once. Measured (`driftreport_fusion_probe`,
    * sf0.1): 1.05× over separate member calls at 1×, 1.22× at 16× —
    * the shared-aggregation saving grows with corpus size, unlike the
    * unsliced [[driftReport]]'s (parity; see its scaladoc).
    * NULL `_v` rows stay in the shared
    * table (psi's slice totals count them, the member's contract) and
    * drop inside the KS/rank-sum halves (theirs). Returns 4 rows per
    * slice ordered by (groupCol, stat). */
  def driftReportBy(df: DataFrame, groupCol: String, valCol: String,
      catCol: String, nBuckets: Int = 10, lo: Double = 0.0,
      hi: Double = 1.0): DataFrame = scoped { sc =>
    require(nBuckets > 0 && hi > lo)
    val proj = sc.pin(df.select(col(groupCol), col(valCol), col(catCol))
      .filter(col(groupCol).isNotNull))
    val pg = sc.pin(proj.select(col(groupCol).as("_g"), col(valCol).as("_v"))
      .groupBy(col("_g"), col("_v")).agg(count(lit(1)).as("c")))
    graft.util.GridGuard.gateAxes(pg, "driftReportBy",
      valCol -> "_v", groupCol -> "_g")
    // psi lens: (slice, bucket) counts by summing the shared table's
    // integer counts — a NULL value's row buckets exactly as the
    // member's raw-row bucketing does
    val pb = pg.select(col("_g"), psiBucket(col("_v"), nBuckets, lo, hi)
        .as("bucket"), col("c"))
      .groupBy(col("_g"), col("bucket")).agg(sum(col("c")).as("cnt"))
    // lenses composed lazily: one union pin below materializes all four
    // plans in a single job, every row bit-identical to the member's
    val psi = psiByOnPb(pb, groupCol, nBuckets)
      .select(col(groupCol), lit("psi").as("stat"),
        col("psi").as("statistic"), lit(0.25).as("threshold"),
        col("drifted"))
    val ks = Eval.ksTestByOnPg(pg, groupCol)
      .select(col(groupCol), lit("ks").as("stat"),
        col("d").as("statistic"), col("d_crit").as("threshold"),
        col("drifted"))
    val rs = Eval.rankSumByOnPg(pg, groupCol)
      .select(col(groupCol), lit("rank_sum").as("stat"),
        abs(col("z")).as("statistic"), lit(1.96).as("threshold"),
        col("drifted"))
    // the chi lens's (slice, category) table, built and gated exactly as
    // the standalone member builds its own (same projection, same
    // axis guard), read lazily by the union
    val pc = sc.pin(proj.select(col(groupCol).as("_g"),
        col(catCol).cast("string").as("_c"))
      .filter(col("_g").isNotNull && col("_c").isNotNull)
      .groupBy(col("_g"), col("_c")).agg(count(lit(1)).as("cnt")))
    graft.util.GridGuard.gateAxes(pc, "driftReportBy",
      catCol -> "_c", groupCol -> "_g")
    val chi = chiSquareByOnPc(pc, groupCol)
      .select(col(groupCol), lit("chi2").as("stat"),
        col("chi2").as("statistic"), col("chi2_crit").as("threshold"),
        col("drifted"))
    psi.unionAll(ks).unionAll(rs).unionAll(chi).orderBy(groupCol, "stat")
  }

  /** [[chiSquareDriftWindowed]]'s baseline inputs from the reference
    * slice: (category → count, total) — run once against the snapshot,
    * hold on the driver / in the job config (the [[psiBaseline]]
    * convention; guarded — a free-text column is not a category). */
  def chiSquareBaseline(df: DataFrame,
      catCol: String): (Map[String, Long], Long) = {
    val cats = df.select(col(catCol).cast("string").as("_c"))
      .filter(col("_c").isNotNull)
    graft.util.GridGuard.check(cats, "chiSquareBaseline", "_c")
    val rows = cats.groupBy(col("_c")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (rows, rows.values.sum)
  }

  /** STREAMING-SHAPED [[chiSquareDrift]]: the categorical-mix drift
    * statistic per EVENT-TIME window (and per `slice` value, when given)
    * against a DRIVER-HELD baseline count table (from
    * [[chiSquareBaseline]]) — the [[psiWindowed]] /
    * [[Eval.ksDriftWindowed]] shape for category columns. ONE stateful
    * windowed aggregation ([[graft.agg.ChiSquareDriftAgg]]) whose
    * per-cell state is the cell's per-category counts, GridGuard-capped;
    * the watermark expires old windows. Every slice compares against the
    * same driver-held baseline, not against the rest. Per-cell batch ≡
    * [[chiSquareDrift]] on the cell's rows up to float summation order
    * (the aggregate sums the k terms in sorted category order, the batch
    * plan in partition order; both round at 6 dp — suite-pinned at that
    * grain, the [[psiWindowed]] convention); stream ≡ batch exactly.
    * Returns (ws, [slice,] n_live, k, chi2, chi2_crit, drifted). */
  def chiSquareDriftWindowed(df: DataFrame, tsCol: String, catCol: String,
      baseCounts: Map[String, Long], windowDur: String = "1 day",
      slice: Option[String] = None): DataFrame = {
    require(baseCounts.nonEmpty, "chiSquareDriftWindowed: empty baseline")
    chiSquareLens(catCol, baseCounts).cells(df, tsCol, windowDur, slice)
  }

  /** One windowed drift lens: its stateless input projection (named, so
    * gate members reading the same input share one column), its
    * aggregate kernels given the [[graft.util.GridGuard]] state cap, and
    * its named output fields over one aggregated cell. */
  private[ext] final case class CellLens(inputs: Seq[(String, Column)],
      kernels: Long => Seq[Column], fields: Seq[(String, Column)]) {
    def apply(name: String): Column = fields.find(_._1 == name).get._2

    /** The lens on its own: every field under its own name. */
    def cells(df: DataFrame, tsCol: String, windowDur: String,
        slice: Option[String]): DataFrame =
      windowedCells(df, tsCol, windowDur, slice, Seq(this),
        fields.map { case (n, c) => c.as(n) })
  }

  /** The windowed drift family's one cell core: ONE stateful aggregation
    * keyed by the event-time window plus an optional slice column,
    * carrying every lens's kernels over the lenses' shared input
    * projection, reading the GridGuard state cap once, and emitting
    * `ws` (and the slice column) before `fields`. The same plan runs
    * batch or streaming (add `withWatermark` upstream); the watermark
    * expires whole windows. */
  private[ext] def windowedCells(df: DataFrame, tsCol: String,
      windowDur: String, slice: Option[String], lenses: Seq[CellLens],
      fields: Seq[Column]): DataFrame = {
    val cap = graft.util.GridGuard.cap(df.sparkSession)
    val inputs = lenses.flatMap(_.inputs).distinctBy(_._1)
      .map { case (n, c) => c.as(n) }
    val aggs = lenses.flatMap(_.kernels(cap))
    val key = slice.toSeq
    df.select(window(col(tsCol), windowDur).as("_w") +:
        (key.map(s => col(s).as("_slice")) ++ inputs): _*)
      .groupBy(col("_w") +: key.map(_ => col("_slice")): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(col("_w").getField("start").as("ws") +:
        (key.map(s => col("_slice").as(s)) ++ fields): _*)
  }

  /** `names` as fields of the aggregated struct column `struct`. */
  private[ext] def structFields(struct: String,
      names: String*): Seq[(String, Column)] =
    names.map(n => n -> col(struct).getField(n))

  /** The chi² member's windowed lens ([[graft.agg.ChiSquareDriftAgg]]). */
  private[ext] def chiSquareLens(catCol: String,
      baseCounts: Map[String, Long]): CellLens =
    CellLens(Seq("_c" -> col(catCol).cast("string")),
      cap => Seq(graft.agg.ChiSquareDriftAgg.column(col("_c"), baseCounts,
        cap).as("_x")),
      structFields("_x", "n_live", "k", "chi2", "chi2_crit", "drifted"))

  /** The PSI member's windowed lens: nBuckets conditional counters per
    * cell, and the smoothed-term sum as a fixed left fold at 6 dp. */
  private[ext] def psiLens(valCol: String, baseCounts: Map[Int, Long],
      baseTotal: Long, nBuckets: Int, lo: Double, hi: Double): CellLens = {
    require(nBuckets > 0 && hi > lo && baseTotal > 0)
    val twRaw = (0 until nBuckets).map(k => col(s"_c$k")).reduce(_ + _)
    val terms = (0 until nBuckets).map { k =>
      psiTerm(psiShare(lit(baseCounts.getOrElse(k, 0L)), lit(baseTotal),
        nBuckets), psiShare(col(s"_c$k"), twRaw, nBuckets))
    }
    CellLens(Seq("_b" -> psiBucket(col(valCol), nBuckets, lo, hi)),
      _ => (0 until nBuckets).map(k =>
        sum(when(col("_b") === k, 1L).otherwise(0L)).as(s"_c$k")),
      Seq("n" -> twRaw, "psi" -> round(terms.reduce(_ + _), 6)))
  }

  /** The KS / rank-sum / chi² columns both one-pass gates emit, in
    * order: (n_live, ks_d, ks_d_crit, ks_drifted, rs_u, rs_z,
    * rs_drifted, chi2_k, chi2, chi2_crit, chi2_drifted). */
  private[ext] def gateFields(ks: CellLens, rs: CellLens,
      chi: CellLens): Seq[Column] = Seq(
    ks("n_live").as("n_live"), ks("d").as("ks_d"),
    ks("d_crit").as("ks_d_crit"), ks("drifted").as("ks_drifted"),
    rs("u").as("rs_u"), rs("z").as("rs_z"),
    rs("drifted").as("rs_drifted"),
    chi("k").as("chi2_k"), chi("chi2").as("chi2"),
    chi("chi2_crit").as("chi2_crit"), chi("drifted").as("chi2_drifted"))

  /** THE WHOLE NIGHTLY DRIFT GATE AS ONE STATEFUL PASS:
    * [[Eval.ksDriftWindowed]] + [[Eval.rankSumDriftWindowed]] +
    * [[chiSquareDriftWindowed]] + [[psiWindowed]] evaluated in a SINGLE
    * windowed aggregation — one state store, one shuffle, one watermark,
    * where running the four monitors separately costs four stateful
    * operators over the same stream (and in Structured Streaming, four
    * checkpointed state stores). Per-cell state is the union of the
    * members' states: per-distinct-value counts (KS and rank-sum each
    * hold one, both hard-capped at the [[graft.util.GridGuard]]
    * ceiling), per-category counts (capped), and nBuckets PSI counters.
    * Every member keeps its own arithmetic against its own driver-held
    * baseline artifact — one [[Eval.ksBaseline]] table serves both
    * unbinned members, [[chiSquareBaseline]] the categorical,
    * [[psiBaseline]] the binned — so each output field is bit-identical
    * to the standalone windowed member (suite-pinned), which is in turn
    * pinned ≡ its batch test. With `slice`, one row per (window, slice)
    * cell: every slice compares against the same driver-held baselines,
    * not against the rest.
    *
    * Output is WIDE — one row per cell, the alert row a nightly gate
    * actually pages on: (ws, [slice,] n_live, ks_d, ks_d_crit,
    * ks_drifted, rs_u, rs_z, rs_drifted, chi2_k, chi2, chi2_crit,
    * chi2_drifted, psi, psi_drifted, any_drifted). The same plan runs
    * batch or streaming (add `withWatermark` upstream); a long
    * 4-rows-per-window reshape would re-aggregate the stream once per
    * lens, defeating the point. Feed ROUNDED `valCol` scores (the
    * members' grid discipline). */
  def driftReportWindowed(df: DataFrame, tsCol: String, valCol: String,
      catCol: String, baseVals: Array[Double], baseCum: Array[Long],
      baseCats: Map[String, Long], baseBuckets: Map[Int, Long],
      baseTotal: Long, nBuckets: Int = 10, lo: Double = 0.0,
      hi: Double = 1.0, windowDur: String = "1 day",
      slice: Option[String] = None): DataFrame = {
    require(baseVals.length == baseCum.length && baseVals.nonEmpty,
      "driftReportWindowed: empty or misaligned ks baseline")
    require(baseCats.nonEmpty, "driftReportWindowed: empty cat baseline")
    val v = col(valCol).cast("double")
    val ks = Eval.ksLens(v, baseVals, baseCum)
    val rs = Eval.rankSumLens(v, baseVals, baseCum)
    val chi = chiSquareLens(catCol, baseCats)
    val psi = psiLens(valCol, baseBuckets, baseTotal, nBuckets, lo, hi)
    val psiDrifted = when(psi("psi") > 0.25, 1).otherwise(0)
    windowedCells(df, tsCol, windowDur, slice, Seq(ks, rs, chi, psi),
      gateFields(ks, rs, chi) ++ Seq(psi("psi").as("psi"),
        psiDrifted.as("psi_drifted"),
        greatest(ks("drifted"), rs("drifted"), chi("drifted"), psiDrifted)
          .as("any_drifted")))
  }

  /** WINSORIZE: clamp `valCol` into its per-key exact-percentile
    * [pLo, pHi] band — heavy-tail taming for numeric features where
    * dropping outliers ([[robustFlags]]) loses the rows: extremes survive
    * as boundary values. The output keeps every input column and appends
    * `outCol`; values are existing data points or exact percentile
    * interpolations, emitted unrounded (order-statistic pipeline — the
    * q90 discipline).
    *
    * Shape at 100 TB: one key-cardinality percentile aggregate broadcast
    * back, then a narrow codegen clamp; swap `percentile` for
    * `percentile_approx` when per-key value sets outgrow aggregation
    * buffers (same posture as [[thresholds]]). */
  def winsorize(df: DataFrame, keyCol: String, valCol: String,
      pLo: Double = 0.05, pHi: Double = 0.95,
      outCol: String = "winsorized"): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, s"bad band [$pLo, $pHi]")
    val cuts = df.groupBy(col(keyCol))
      .agg(percentile(col(valCol), lit(pLo)).as("_lo"),
        percentile(col(valCol), lit(pHi)).as("_hi"))
    df.join(broadcast(cuts), Seq(keyCol))
      // least/greatest SKIP nulls, which would fabricate the lower cut
      // out of a missing measurement — a NULL input stays NULL
      .withColumn(outCol, when(col(valCol).isNotNull,
        least(greatest(col(valCol), col("_lo")), col("_hi"))))
      .drop("_lo", "_hi")
  }

  /** PSI DRIFT OVER TIME: [[psiDrift]] swept across event-time — one PSI
    * number per (daily) window against a fixed baseline slice, the drift
    * MONITOR a nightly pipeline alerts on (a single base-vs-live PSI
    * answers "did it drift?"; this answers "when, and how fast").
    * Same fixed-range bucketing and 0.5-count smoothing as [[psiDrift]]
    * (engine-stable bin edges, no empty-bucket log faults).
    *
    * Shape at 100 TB: the corpus collapses map-side to (window, bucket)
    * counts; the dense window×nBuckets grid and everything after run on
    * that bounded table. Returns (ws, n, psi) per window. */
  def psiOverTime(df: DataFrame, tsCol: String, valCol: String,
      baseline: Column, nBuckets: Int = 10, lo: Double = 0.0,
      hi: Double = 1.0): DataFrame = {
    require(nBuckets > 0 && hi > lo)
    val b = psiBucket(col(valCol), nBuckets, lo, hi)
    val baseCounts = df.filter(baseline).select(b.as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_base"))
    val tb = df.filter(baseline).count()
    require(tb > 0, "psiOverTime: empty baseline slice")
    val live = df
      .select(window(col(tsCol), "1 day").getField("start").as("ws"),
        b.as("bucket"))
      .groupBy(col("ws"), col("bucket")).agg(count(lit(1)).as("n_live"))
    val tw = live.groupBy(col("ws")).agg(sum(col("n_live")).as("tw"))
    val buckets = df.sparkSession.range(nBuckets)
      .select(col("id").cast("int").as("bucket"))
    val p = psiShare(coalesce(col("n_base"), lit(0L)), lit(tb), nBuckets)
    val q = psiShare(coalesce(col("n_live"), lit(0L)), col("tw"), nBuckets)
    tw.crossJoin(broadcast(buckets))
      .join(broadcast(baseCounts), Seq("bucket"), "left")
      .join(live, Seq("ws", "bucket"), "left")
      .select(col("ws"), col("tw"), psiTerm(p, q).as("_term"))
      .groupBy(col("ws"), col("tw"))
      .agg(round(sum(col("_term")), 6).as("psi"))
      .select(col("ws"), col("tw").as("n"), col("psi"))
  }

  /** STREAMING-SHAPED [[psiOverTime]]: drift per event-time window (and
    * per `slice` value, when given) as ONE windowed aggregation carrying
    * nBuckets conditional counters — the plan Structured Streaming runs
    * as-is (single stateful operator, complete or append mode; no
    * dense-grid join, no second aggregation) against a DRIVER-HELD
    * baseline histogram — the standing reference a deployed drift
    * monitor ships with, refreshed only when the baseline re-snapshots.
    * Every slice compares against the same driver-held baseline, not
    * against the rest. Batch output equals [[psiOverTime]] on the same
    * baseline slice up to float summation order (suite-pinned at 1e-9;
    * the k-term reduce here is a fixed left fold, the grid sum there is
    * an aggregate); a sliced cell equals the unsliced form on the
    * slice's substream.
    *
    * State per cell = nBuckets longs — bounded regardless of corpus
    * rate, the watermark expires old windows. Returns
    * (ws, [slice,] n, psi). */
  def psiWindowed(df: DataFrame, tsCol: String, valCol: String,
      baseCounts: Map[Int, Long], baseTotal: Long, nBuckets: Int = 10,
      lo: Double = 0.0, hi: Double = 1.0, windowDur: String = "1 day",
      slice: Option[String] = None): DataFrame =
    psiLens(valCol, baseCounts, baseTotal, nBuckets, lo, hi)
      .cells(df, tsCol, windowDur, slice)

  /** [[psiWindowed]]'s baseline inputs from a slice: (bucket → count,
    * total) — run once against the reference snapshot, hold on the
    * driver / in the job config. */
  def psiBaseline(df: DataFrame, valCol: String, nBuckets: Int = 10,
      lo: Double = 0.0, hi: Double = 1.0): (Map[Int, Long], Long) = {
    val rows = df.select(psiBucket(col(valCol), nBuckets, lo, hi)
        .as("bucket")).groupBy("bucket").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    (rows, rows.values.sum)
  }

  /** THEIL–SEN TREND: median of pairwise slopes per group — the robust
    * "is this metric drifting, and how fast per day" estimator (up to
    * ~29% corrupted points before the slope moves; an OLS slope chases
    * every outlier day). Run it on PRE-AGGREGATED series (daily means
    * per source/type): pair volume is quadratic in SERIES length, which
    * stays tiny when x is a day grid, while the corpus only paid the
    * aggregation. Feed y values ROUNDED (the caller's grain) so the
    * pairwise slopes — and the exact-percentile median over them — are
    * engine-identical unrounded (the q116 percentile-parity discipline).
    * Returns (group, n_pairs, slope) — slope NULL for 1-point series. */
  def trendTheilSen(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val pts = df.select(col(groupCol).as("_g"),
      col(xCol).cast("double").as("_x"), col(yCol).cast("double").as("_y"))
    val pairs = pts.as("a").join(pts.as("b"),
        col("a._g") === col("b._g") && col("a._x") < col("b._x"))
      .select(col("a._g").as("_g"),
        ((col("b._y") - col("a._y")) / (col("b._x") - col("a._x")))
          .as("_slope"))
    val groups = pts.select(col("_g")).distinct()
    groups.join(
        pairs.groupBy(col("_g")).agg(count(lit(1)).as("n_pairs"),
          percentile(col("_slope"), lit(0.5)).as("slope")),
        Seq("_g"), "left")
      .select(col("_g").as(groupCol),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"), col("slope"))
  }
}
