package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.agg.BreakdownSpec.{Row => SpecRow, Spec}
import graft.util.OutputOrder

/** The breakdown aggregation engine: compiles a variable-spec into ONE
  * `groupBy(keys).agg(exprs…)` — a single shuffle on low-cardinality
  * categorical keys, with partial (map-side) aggregation, hash-agg and spill
  * handled by Catalyst/Tungsten. This is the Spark-native re-expression of
  * the reference's per-group Python loop (`pd_breakdown`,
  * /root/reference/bm_breakdown.py:62-122 and `pd_breakdown_fn`,
  * bm_breakdown.py:179-245).
  *
  * Op vocabulary (bm_breakdown.py:11): breakdown, count, sum, mean, min,
  * max, var, std, sem, q1, q2, q3, pNN, major, list, text — with weighted
  * variants of sum / mean / q1-q3 (weight = product of the weight columns).
  * Beyond-reference scale ops: listN (bounded list), aq1/aq2/aq3 + apNN
  * (bounded-state quantile sketch), nunique / anunique (exact / HLL++
  * distinct count).
  *
  * Documented semantic decisions for a distributed engine:
  *   - null group keys are rendered as −99 / "-99" BEFORE grouping
  *     (pandas drops NaN groups, so the reference fills them:
  *     bm_breakdown.py:105-108); this also merges them with literal −99
  *     values, exactly as the reference does;
  *   - `list` returns distinct values in SORTED order (the reference's
  *     first-appearance order is undefined under parallelism);
  *   - `major` ties break toward the smallest value (see [[MajorAgg]]);
  *   - `count` stays integral (the reference casts to float);
  *   - `pNN` skips nulls (the reference's np.percentile lets NaN poison the
  *     result — a bug we do not replicate);
  *   - output rows are sorted by the group keys (pandas groupby sorts),
  *     by [[graft.util.OutputOrder.merged]]: a report has one row per
  *     classificatory group, so the final merge and the sort run in the
  *     one task that reads the aggregation's exchange — one shuffle per
  *     report, no range-sampling job (`merged` says why reports meet its
  *     precondition).
  */
object Breakdown {

  def apply(df: DataFrame, spec: String): DataFrame =
    run(df, BreakdownSpec.parse(spec))

  def run(df: DataFrame, spec: Spec): DataFrame = {
    val (agg, byKeys) = aggregate(df, spec)
    OutputOrder.merged(agg, byKeys)
  }

  /** The report's aggregate before its final order, and that order: the
    * group keys (`Nil` for the global aggregate). */
  private[agg] def aggregate(df: DataFrame, spec: Spec): (DataFrame, Seq[Column]) = {
    val keys = spec.keys
    val aggs0 = spec.aggs
    val keyCols = keys.map(r => keyCol(df, r).as(r.outName))
    val byKeys = keys.map(r => col(r.outName))
    if (keys.nonEmpty && aggs0.isEmpty) {
      // keys-only degenerate: the distinct groups (bm_breakdown.py:102-104)
      return (df.select(keyCols: _*).distinct(), byKeys)
    }
    // FUSION: n unweighted exact-quantile ops on the same variable become
    // ONE percentile(x, array(q…)) aggregate. Spark's Percentile is a
    // TypedImperativeAggregate buffering every group value — five separate
    // q1/q2/q3/p10/p90 aggregates buffer (and merge, and sort) the column
    // five times; the array form buffers it once and sorts once
    // (q04: 6.1 s → one-buffer cost). Results are identical: the same
    // interpolation on the same buffer, element-projected back per alias.
    val colsSet = df.columns.toSet
    def exactQuantile(r: SpecRow): Option[Double] =
      if (r.weights.exists(colsSet.contains) || !colsSet.contains(r.variable))
        None
      else r.op match {
        case Numbered("q" | "p", q) => Some(q)
        case _ => None
      }
    val fusable: Map[String, Map[Double, Int]] = aggs0
      .flatMap(r => exactQuantile(r).map(q => r.variable -> q))
      .groupBy(_._1).filter(_._2.size >= 2)
      .map { case (v, vqs) =>
        v -> vqs.map(_._2).distinct.sorted.zipWithIndex.toMap
      }
    val fuseName = fusable.keys.toSeq.sorted.zipWithIndex
      .map { case (v, i) => v -> s"_qfuse_$i" }.toMap
    def fusedOf(r: SpecRow): Option[(String, Int)] = for {
      q <- exactQuantile(r)
      qs <- fusable.get(r.variable)
      i <- qs.get(q)
    } yield (fuseName(r.variable), i)

    val plainAggCols = aggs0.filter(fusedOf(_).isEmpty)
      .map(r => aggCol(df, r).as(r.outName))
    val fusedAggCols = fusable.toSeq.sortBy(_._1).map { case (v, qs) =>
      val xv = nanvl(col(v).cast(DoubleType), lit(null).cast(DoubleType))
      val percentages = array(qs.toSeq.sortBy(_._2).map(p => lit(p._1)): _*)
      percentile(xv, percentages).as(fuseName(v))
    }
    val aggCols = plainAggCols ++ fusedAggCols
    val finalCols =
      keys.map(r => col(r.outName)) ++ aggs0.map { r =>
        fusedOf(r) match {
          case Some((helper, i)) => element_at(col(helper), i + 1).as(r.outName)
          case None => col(r.outName)
        }
      }
    // no keys: groupBy() is the global aggregate and byKeys is Nil
    (df.groupBy(keyCols: _*).agg(aggCols.head, aggCols.tail: _*)
      .select(finalCols: _*), byKeys)
  }

  /** An op name with a number suffix, as (stem, number): the quantile of
    * `q1`–`q3` (0.25–0.75) and `pNN` (NN/100), also behind the sketch
    * stems `aq`/`ap`, and the bound N of `listN`. */
  private object Numbered {
    def unapply(op: String): Option[(String, Double)] = {
      val stem = op.takeWhile(!_.isDigit)
      val digits = op.drop(stem.length)
      if (digits.isEmpty || !digits.forall(_.isDigit)) None
      else stem match {
        case "q" | "aq" if Seq("1", "2", "3").contains(digits) =>
          Some((stem, digits.toInt * 0.25))
        case "p" | "ap" => Some((stem, digits.toDouble / 100.0))
        case "list" => Some((stem, digits.toInt.toDouble))
        case _ => None
      }
    }
  }

  /** Group key with nulls (and NaN) rendered as −99, merging with literal
    * −99 values exactly like the reference's fillna(-99)
    * (bm_breakdown.py:105-108). */
  private def keyCol(df: DataFrame, r: SpecRow): Column = {
    val c = col(r.variable)
    df.schema(r.variable).dataType match {
      case StringType => coalesce(c, lit("-99"))
      case DoubleType | FloatType => coalesce(nanvl(c, lit(-99.0)), lit(-99.0))
      case dt: NumericType => coalesce(c, lit(-99).cast(dt))
      case _ => c
    }
  }

  private def aggCol(df: DataFrame, r: SpecRow): Column = {
    val cols = df.columns.toSet
    // weights are silently filtered to existing columns (bm_breakdown.py:199-203)
    val wts = r.weights.filter(cols.contains)
    val op = r.op
    // NaN inputs behave like pandas skipna everywhere: mask NaN → null so
    // count() skips it, avg() ignores it, and max() doesn't rank it greatest
    // (NaN sorts above all doubles in Spark). The weighted ops below mask
    // NaN independently; this makes the unweighted ops agree.
    def x: Column = nanvl(col(r.variable).cast(DoubleType), lit(null).cast(DoubleType))
    // product of all weight columns, NaN→0 like np.nan_to_num where needed
    def wprod: Column = wts.map(w => col(w).cast(DoubleType)).reduce(_ * _)

    if (op == "text") {
      // constant column from the raw 3rd cell, else the var name
      // (bm_breakdown.py:206-211)
      val v = if (r.cells.length > 2) r.cells(2) else r.variable
      max(lit(v))
    } else if (!cols.contains(r.variable)) {
      max(lit(null).cast(DoubleType)) // unknown var → null (bm_breakdown.py:212-214)
    } else op match {
      case "list" =>
        // sorted distinct, comma-joined (deviation: reference is
        // first-appearance order, bm_breakdown.py:215-216)
        concat_ws(",", sort_array(collect_set(col(r.variable).cast(StringType))))
      case Numbered("list", n) =>
        // `listN`: bounded-state variant for high-cardinality groups —
        // smallest N distinct values + ",…" overflow marker
        BoundedListAgg(col(r.variable), n.toInt)
      case "sum" if wts.nonEmpty =>
        // nansum(Π(x·w…)): null/NaN products contribute 0 (bm_breakdown.py:217-219)
        coalesce(sum(nanvl(x * wprod, lit(null).cast(DoubleType))), lit(0.0))
      case "mean" if wts.nonEmpty =>
        // rows where x non-null; ws = Π(w), NaN→0; null iff Σws = 0
        // (bm_breakdown.py:220-227)
        val w0 = coalesce(nanvl(wprod, lit(0.0)), lit(0.0))
        val den = sum(when(x.isNotNull, w0).otherwise(lit(0.0)))
        val num = sum(when(x.isNotNull, x * w0).otherwise(lit(0.0)))
        when(den =!= 0.0, num / den)
      case Numbered("q", q) if wts.nonEmpty => WeightedQuantile(x, wprod, q)
      case Numbered("aq" | "ap", q) =>
        // beyond-reference: bounded-state quantile sketch for unbounded
        // groups (ApproxWeightedQuantile Scaladoc); weightless → w ≡ 1.
        // Spark's exact `percentile` buffers every group value, which is
        // unbounded state at 100 TB; the sketch caps it at maxBins
        // (lossless below that cardinality)
        ApproxWeightedQuantile(x, if (wts.nonEmpty) wprod else lit(1.0), q, 256)
      case "nunique" | "anunique" =>
        // beyond-reference: distinct count (pandas nunique drops NaN).
        // `nunique` is exact — count_distinct shuffles every distinct value,
        // fine for categorical columns; `anunique` is the 100 TB path: an
        // HLL++ sketch (~KB bounded state per group, partial-aggregatable)
        // for high-cardinality columns (doc/user ids) where exactness would
        // move the column itself through the shuffle
        val v = df.schema(r.variable).dataType match {
          case DoubleType | FloatType => x
          case _ => col(r.variable)
        }
        if (op == "nunique") count_distinct(v) else approx_count_distinct(v)
      case "count" => count(x)
      case "sum" => coalesce(sum(x), lit(0.0)) // pandas all-NaN sum = 0.0
      case "mean" => avg(x)
      case "min" => min(x)
      case "max" => max(x)
      case "var" => var_samp(x) // pandas ddof=1
      case "std" => stddev_samp(x)
      case "sem" => stddev_samp(x) / sqrt(count(x)) // std/√n (ddof=1)
      case "major" => MajorAgg(col(r.variable), df.schema(r.variable).dataType)
      case Numbered("q" | "p", q) =>
        // pandas linear interpolation ≡ Spark percentile
        // (bm_breakdown.py:241-242); a weighted pNN ignores its weights
        percentile(x, lit(q))
      case _ =>
        max(lit(null).cast(DoubleType)) // unknown op → null (v stays NaN)
    }
  }
}
