package graft.agg

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.{Bridge => ExpressionUtils}
import org.apache.spark.sql.types._

/** What the windowed drift monitors share beyond their [[CountsAgg]]
  * state: the numeric pair's over-cap remedy and baseline walk, and the
  * 6 dp rounding of the category pair. Each monitor counts a group's
  * distinct values — bounded by score GRANULARITY, not event rate —
  * against a driver-held baseline baked into the expression
  * (granularity-bounded, so it ships to executors like any broadcast
  * literal); an all-null group returns a null struct. */
private object DriftAggs {

  /** The numeric monitors' over-cap remedy: an unrounded score column
    * fails loudly at the first over-cap update. */
  val OverCapValues: String = "values — feed ROUNDED scores (the " +
    "graft.grid.maxDistinct discipline); unbounded granularity means " +
    "unbounded per-window state"

  /** The batch ops' 6 dp rounding (Spark round = HALF_UP via BigDecimal). */
  def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Walks the union of a sorted baseline (values + CUMULATIVE counts) and
    * the live counts' keys in ascending order, calling
    * `step(baseCount, liveCount)` once per value — 0 on the side that
    * lacks it. NaN is ONE value above all others, as in Spark's ordering
    * and grouping (so the batch tests agree): `<=` is false both ways
    * against NaN, so every NaN on either side (the live counts hold them
    * under one entry) folds into one last step. */
  def walk(baseVals: Array[Double], baseCum: Array[Long],
      live: mutable.HashMap[Double, Long])(step: (Long, Long) => Unit): Unit = {
    val nb = baseVals.count(!_.isNaN) // sorted: a NaN value comes last
    val liveVals = live.keysIterator.filterNot(_.isNaN).toArray
    java.util.Arrays.sort(liveVals)
    def cumAt(i: Int) = if (i == 0) 0L else baseCum(i - 1)
    var i = 0; var j = 0
    while (i < nb || j < liveVals.length) {
      val takeBase = j >= liveVals.length ||
        (i < nb && baseVals(i) <= liveVals(j))
      val takeLive = i >= nb ||
        (j < liveVals.length && liveVals(j) <= baseVals(i))
      var cb = 0L; var cl = 0L
      if (takeBase) { cb = baseCum(i) - cumAt(i); i += 1 }
      if (takeLive) { cl = live(liveVals(j)); j += 1 }
      step(cb, cl)
    }
    val baseNaN = baseCum(baseCum.length - 1) - cumAt(nb)
    val liveNaN = live.iterator.collect { case (v, c) if v.isNaN => c }.sum
    if (baseNaN > 0 || liveNaN > 0) step(baseNaN, liveNaN)
  }
}

/** Two-sample Kolmogorov–Smirnov statistic of a group's values against a
  * DRIVER-HELD baseline distribution (sorted values + CUMULATIVE counts).
  *
  * eval walks the merged jump points of both step ECDFs with the same
  * integer-exact gap arithmetic as [[graft.ext.Eval.ksTest]]
  * (max |cna·n_b − cnb·n_a|, doubles only in the final two ratios), so the
  * per-window result is bit-identical to `ksTest(baseline, windowSlice)` —
  * suite-pinned. State: the group's [[CountsAgg]] per-value counts,
  * hard-capped at `cap` (the [[graft.util.GridGuard]] ceiling: an
  * unrounded score column fails at the first over-cap update instead of
  * growing per-window state without bound). Output: (n_live, d, d_crit,
  * drifted). */
case class KsDriftAgg(
    child: Expression,
    baseVals: Array[Double],
    baseCum: Array[Long],
    override val cap: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends CountsAgg[Double] {

  require(baseVals.length == baseCum.length && baseVals.nonEmpty,
    "ks_drift: empty or misaligned baseline")

  override def prettyName: String = "ks_drift"
  override protected def layout = CountsAgg.DoubleKey
  override protected def overCap: String = DriftAggs.OverCapValues
  override def dataType: DataType = StructType(Seq(
    StructField("n_live", LongType, nullable = false),
    StructField("d", DoubleType, nullable = false),
    StructField("d_crit", DoubleType, nullable = false),
    StructField("drifted", IntegerType, nullable = false)))

  override def eval(buf: mutable.HashMap[Double, Long]): Any = {
    if (buf.isEmpty) return null
    val nA = baseCum(baseCum.length - 1)
    var nB = 0L
    buf.valuesIterator.foreach(nB += _)
    // at each jump point of either step ECDF the gap numerator
    // |cna·n_b − cnb·n_a| is exact integer arithmetic (the ksTest shape —
    // overflow posture as there: int64-safe to ~3·10⁹ rows per side)
    var cna = 0L; var cnb = 0L; var dnum = 0L
    DriftAggs.walk(baseVals, baseCum, buf) { (cb, cl) =>
      cna += cb; cnb += cl
      val gap = math.abs(cna * nB - cnb * nA)
      if (gap > dnum) dnum = gap
    }
    val nProd = nA.toDouble * nB.toDouble
    val d = dnum.toDouble / nProd
    val dCrit = 1.358 * math.sqrt((nA + nB).toDouble / nProd)
    InternalRow(nB, d, dCrit, if (d > dCrit) 1 else 0)
  }

  override def withNewMutableAggBufferOffset(o: Int): KsDriftAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KsDriftAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): KsDriftAgg =
    copy(child = c)
}

object KsDriftAgg {
  /** Column-level API: KS-vs-baseline struct of a numeric column. The
    * child is cast to double HERE (ADVICE r12): update() reads the
    * evaluated value as Double, so a float/decimal/int column passed
    * directly would otherwise fail with an opaque ClassCastException at
    * execution time instead of casting at analysis time. */
  def column(v: Column, baseVals: Array[Double], baseCum: Array[Long],
      cap: Long): Column =
    ExpressionUtils.column(
      KsDriftAgg(ExpressionUtils.expression(v.cast("double")),
        baseVals, baseCum, cap).toAggregateExpression())
}

/** Mann–Whitney rank-sum statistic of a group's values against a
  * DRIVER-HELD baseline distribution (sorted values + CUMULATIVE counts —
  * the same [[graft.ext.Eval.ksBaseline]] artifact the KS twin takes, so
  * one snapshot pass serves both monitors).
  *
  * eval walks the merged per-value counts in sorted order accumulating
  * the live side's mid-rank sum and the tie term with the exact same
  * arithmetic shapes as [[graft.ext.Eval.rankSumTest]] (rank sums are
  * exact 0.5-multiples, the tie term an exact integer sum, z one fixed
  * expression) — per-window result bit-identical to
  * `rankSumTest(baseline, windowSlice)`, suite-pinned.
  * Output: (n_live, u, z, drifted); z NULL when all values tie. */
case class RankSumDriftAgg(
    child: Expression,
    baseVals: Array[Double],
    baseCum: Array[Long],
    override val cap: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends CountsAgg[Double] {

  require(baseVals.length == baseCum.length && baseVals.nonEmpty,
    "rank_sum_drift: empty or misaligned baseline")

  override def prettyName: String = "rank_sum_drift"
  override protected def layout = CountsAgg.DoubleKey
  override protected def overCap: String = DriftAggs.OverCapValues
  override def dataType: DataType = StructType(Seq(
    StructField("n_live", LongType, nullable = false),
    StructField("u", DoubleType, nullable = false),
    StructField("z", DoubleType, nullable = true),
    StructField("drifted", IntegerType, nullable = false)))

  override def eval(buf: mutable.HashMap[Double, Long]): Any = {
    if (buf.isEmpty) return null
    val nA = baseCum(baseCum.length - 1)
    var nB = 0L
    buf.valuesIterator.foreach(nB += _)
    // tie term in DOUBLES (ADVICE r12, mirroring Eval.rankSumTest): t³
    // in int64 silently wraps past ~2·10⁶ rows tied on one value; the
    // double form is exact below 2⁵³ and degrades to rounding, not wrap
    var cum = 0L; var rb = 0.0; var ties = 0.0
    DriftAggs.walk(baseVals, baseCum, buf) { (cb, cl) =>
      val nv = cb + cl
      // batch shape: avgrank = (cum_through_v − nv) + (nv + 1)/2, an
      // exact 0.5-multiple; rb accumulates exact halves (order-free)
      val avgrank = cum.toDouble + (nv + 1L).toDouble / 2.0
      rb += cl.toDouble * avgrank
      ties += nv.toDouble * nv * nv - nv
      cum += nv
    }
    val (na, nb) = (nA.toDouble, nB.toDouble)
    val n = na + nb
    val u = rb - nb * (nb + 1.0) / 2.0
    val sigma2 = na * nb / 12.0 * ((n + 1.0) - ties / (n * (n - 1.0)))
    if (sigma2 > 0) {
      val z = (u - na * nb / 2.0) / math.sqrt(sigma2)
      InternalRow(nB, u, z, if (math.abs(z) > 1.96) 1 else 0)
    } else InternalRow(nB, u, null, 0)
  }

  override def withNewMutableAggBufferOffset(o: Int): RankSumDriftAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): RankSumDriftAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): RankSumDriftAgg =
    copy(child = c)
}

object RankSumDriftAgg {
  /** Column-level API: rank-sum-vs-baseline struct of a numeric column
    * (child cast to double here — the KsDriftAgg.column note). */
  def column(v: Column, baseVals: Array[Double], baseCum: Array[Long],
      cap: Long): Column =
    ExpressionUtils.column(
      RankSumDriftAgg(ExpressionUtils.expression(v.cast("double")),
        baseVals, baseCum, cap).toAggregateExpression())
}

/** Pearson chi-squared statistic of a group's CATEGORY mix against a
  * DRIVER-HELD baseline count table — [[graft.ext.Outliers
  * .chiSquareDriftWindowed]]'s kernel. Buffer = per-category counts,
  * capped like the numeric twins (a free-text column is not a category).
  * eval sums the per-category terms in SORTED category order (a
  * deterministic driver-side order; the batch aggregate's partition
  * order differs, so batch ≡ windowed holds to float summation order —
  * both sides round at 6 dp, suite-pinned at that grain) with the exact
  * same expression shapes as [[graft.ext.Outliers.chiSquareDrift]].
  * Output: (n_live, k, chi2, chi2_crit, drifted); k counts categories
  * seen in either side, statistic NULL at k = 1. */
case class ChiSquareDriftAgg(
    child: Expression,
    baseCounts: Map[String, Long],
    override val cap: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends CountsAgg[String] {

  require(baseCounts.nonEmpty, "chi2_drift: empty baseline")

  override def prettyName: String = "chi2_drift"
  override protected def layout = CountsAgg.StringKey
  override protected def overCap: String = "categories — a free-text " +
    "column is not a category (the graft.grid.maxDistinct discipline)"
  override def dataType: DataType = StructType(Seq(
    StructField("n_live", LongType, nullable = false),
    StructField("k", LongType, nullable = false),
    StructField("chi2", DoubleType, nullable = true),
    StructField("chi2_crit", DoubleType, nullable = true),
    StructField("drifted", IntegerType, nullable = false)))

  override protected def observe(buf: mutable.HashMap[String, Long],
      v: Any): Unit = add(buf, v.toString)

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    if (buf.isEmpty) return null
    val cats = (baseCounts.keySet ++ buf.keySet).toArray.sorted
    val nB = baseCounts.valuesIterator.sum.toDouble
    var nL0 = 0L
    buf.valuesIterator.foreach(nL0 += _)
    val nL = nL0.toDouble
    val nT = nB + nL
    val k = cats.length.toLong
    if (k <= 1) return InternalRow(nL0, k, null, null, 0)
    var chi2 = 0.0
    cats.foreach { c =>
      val ob = baseCounts.getOrElse(c, 0L).toDouble
      val ol = buf.getOrElse(c, 0L).toDouble
      val cat = (baseCounts.getOrElse(c, 0L) + buf.getOrElse(c, 0L)).toDouble
      val eb = nB * cat / nT
      val el = nL * cat / nT
      chi2 += (ob - eb) * (ob - eb) / eb + (ol - el) * (ol - el) / el
    }
    val dof = (k - 1L).toDouble
    val wh = dof * math.pow(1.0 - 2.0 / (9.0 * dof) +
      1.6449 * math.sqrt(2.0 / (9.0 * dof)), 3)
    val (c6, w6) = (DriftAggs.r6(chi2), DriftAggs.r6(wh))
    InternalRow(nL0, k, c6, w6, if (c6 > w6) 1 else 0)
  }

  override def withNewMutableAggBufferOffset(o: Int): ChiSquareDriftAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ChiSquareDriftAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): ChiSquareDriftAgg =
    copy(child = c)
}

object ChiSquareDriftAgg {
  /** Column-level API: chi2-vs-baseline struct of a category column
    * (child cast to string here — the KsDriftAgg.column note; update()
    * stringifies values, so the cast makes the contract explicit at
    * analysis time). */
  def column(v: Column, baseCounts: Map[String, Long], cap: Long): Column =
    ExpressionUtils.column(
      ChiSquareDriftAgg(ExpressionUtils.expression(v.cast("string")),
        baseCounts, cap).toAggregateExpression())
}

/** Stateful kernel of [[graft.ext.TextAnalysis.vocabDivergenceWindowed]]
  * — the text member's serving twin. The token space is the cap risk
  * (unlike a category column, a vocabulary grows with the corpus), so
  * the state is NOT the raw token counts: `update` PROJECTS each token
  * onto the driver-held serving vocabulary — the baseline's top-K
  * tokens, everything else folded into one out-of-vocabulary cell — and
  * the buffer is hard-bounded at K+1 counters per group by
  * construction, no guard needed. `eval` replays
  * [[graft.ext.TextAnalysis.vocabDivergence]]'s alpha-smoothed KL/JS
  * arithmetic over the FIXED K+1 categories (vocab = K+1 in the
  * smoothing denominators — the projected statistic, not the full-vocab
  * batch one; the serving monitor trades the unbounded tail for bounded
  * state, exactly the Misra–Gries posture). Null tokens are skipped; an
  * all-null group returns a null struct. */
case class VocabDriftAgg(
    child: Expression,
    baseCounts: Map[String, Long],
    baseTotal: Long,
    alpha: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends CountsAgg[String] {

  require(baseCounts.nonEmpty, "vocab_drift: empty baseline vocabulary")
  // alpha = 0 puts log(0) terms in eval whenever a category is empty on
  // either side (an all-covering top-K leaves the OOV cell at 0)
  require(alpha > 0, s"vocab_drift: smoothing alpha must be > 0, got $alpha")
  require(baseTotal >= baseCounts.valuesIterator.sum,
    "vocab_drift: baseTotal smaller than the top-K mass it must contain")

  /** The OOV cell's key — a single space cannot be produced by the word
    * tokenizer ([a-z0-9]+), so it never collides with a real token. */
  private val Oov = " "

  override def prettyName: String = "vocab_drift"
  override protected def layout = CountsAgg.StringKey
  override def dataType: DataType = StructType(Seq(
    StructField("n_live", LongType, nullable = false),
    StructField("kl_ab", DoubleType, nullable = false),
    StructField("kl_ba", DoubleType, nullable = false),
    StructField("js", DoubleType, nullable = false)))

  private def project(buf: mutable.HashMap[String, Long], tok: String): Unit =
    add(buf, if (baseCounts.contains(tok)) tok else Oov)

  // accepts a single token (the exploded form) OR a whole token array
  // (the fused-gate form, where the row grain must stay one-per-document
  // so the sibling aggregates in the same grouping see each doc once)
  override protected def observe(buf: mutable.HashMap[String, Long],
      v: Any): Unit = v match {
    case a: ArrayData =>
      var i = 0
      while (i < a.numElements()) {
        if (!a.isNullAt(i)) project(buf, a.getUTF8String(i).toString)
        i += 1
      }
    case t => project(buf, t.toString)
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    if (buf.isEmpty) return null
    var nL = 0L
    buf.valuesIterator.foreach(nL += _)
    // fixed category order: sorted top-K tokens, then the OOV cell —
    // deterministic term order so the 6 dp-rounded sums are replayable
    val cats = baseCounts.keysIterator.toArray.sorted :+ Oov
    val vocab = cats.length.toDouble
    val oovBase = baseTotal - baseCounts.valuesIterator.sum
    val denA = baseTotal.toDouble + alpha * vocab
    val denB = nL.toDouble + alpha * vocab
    var klAb = 0.0; var klBa = 0.0; var js = 0.0
    cats.foreach { c =>
      val cb = if (c == Oov) oovBase else baseCounts(c)
      val cl = buf.getOrElse(c, 0L)
      val pa = (cb.toDouble + alpha) / denA
      val pb = (cl.toDouble + alpha) / denB
      klAb += pa * math.log(pa / pb)
      klBa += pb * math.log(pb / pa)
      js += pa * math.log(pa * 2.0 / (pa + pb)) / 2.0 +
        pb * math.log(pb * 2.0 / (pa + pb)) / 2.0
    }
    InternalRow(nL, DriftAggs.r6(klAb), DriftAggs.r6(klBa), DriftAggs.r6(js))
  }

  override def withNewMutableAggBufferOffset(o: Int): VocabDriftAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VocabDriftAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): VocabDriftAgg =
    copy(child = c)
}

object VocabDriftAgg {
  /** Column-level API: alpha-smoothed KL/JS-vs-baseline struct of a
    * token column projected onto the baseline's top-K vocabulary (+1
    * OOV cell). */
  def column(tok: Column, baseCounts: Map[String, Long], baseTotal: Long,
      alpha: Double): Column =
    ExpressionUtils.column(
      VocabDriftAgg(ExpressionUtils.expression(tok.cast("string")),
        baseCounts, baseTotal, alpha).toAggregateExpression())

  /** The token-ARRAY form for fused gates: one update per document row
    * (the row grain the sibling aggregates need), iterating the array
    * inside the buffer update — no explode, identical statistic. */
  def columnTokens(toks: Column, baseCounts: Map[String, Long],
      baseTotal: Long, alpha: Double): Column =
    ExpressionUtils.column(
      VocabDriftAgg(ExpressionUtils.expression(toks.cast("array<string>")),
        baseCounts, baseTotal, alpha).toAggregateExpression())
}
