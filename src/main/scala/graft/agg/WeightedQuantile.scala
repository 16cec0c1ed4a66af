package graft.agg

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.graftbridge.{Bridge => ExpressionUtils}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** A (value, weight) pair sink: [[WQBuffer]] keeps every pair, the
  * [[WQSketch]] a bounded histogram of them. */
trait WeightedPairs {
  def add(v: Double, w: Double): Unit
}

/** The two weighted quantiles' shared half: one null/NaN-masked
  * `(value, weight)` update into the buffer — the reference masks NaN in
  * either value or weight (bm_breakdown.py:147) — and a nullable double
  * result. */
abstract class WeightedQuantileAgg[B <: WeightedPairs]
  extends TypedImperativeAggregate[B] with BinaryLike[Expression] {

  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType

  override def update(buf: B, input: InternalRow): B = {
    val v = left.eval(input)
    val w = right.eval(input)
    if (v != null && w != null) {
      val vd = v.asInstanceOf[Double]
      val wd = w.asInstanceOf[Double]
      if (!vd.isNaN && !wd.isNaN) buf.add(vd, wd)
    }
    buf
  }
}

/** Growable (value, weight) pair buffer for [[WeightedQuantile]]. */
final class WQBuffer(var vs: Array[Double], var ws: Array[Double], var n: Int)
  extends WeightedPairs {
  def add(v: Double, w: Double): Unit = {
    if (n == vs.length) {
      val cap = math.max(16, vs.length * 2)
      vs = java.util.Arrays.copyOf(vs, cap)
      ws = java.util.Arrays.copyOf(ws, cap)
    }
    vs(n) = v; ws(n) = w; n += 1
  }
}

/** Weighted quantile aggregate replicating the reference estimator
  * `weighted_quantiles` (/root/reference/bm_breakdown.py:124-177) literally:
  *
  *   - drop pairs where value or weight is null/NaN;
  *   - sort by value; `ecdf = cumsum(w_sorted)`;
  *   - position `p = q * (Σw − 1)`;
  *   - `lo = searchsorted(ecdf, p, right)`, `hi = searchsorted(ecdf, p+1,
  *     right)` clamped to n−1;
  *   - linear interpolation `v[lo]·(1−frac) + v[hi]·frac`, `frac = p −
  *     ⌊p⌋`.
  *
  * This is intentionally NOT a textbook estimator (SURVEY.md §7.4 item 1).
  * The buffer holds every (value, weight) pair of the group — same memory
  * shape as the reference, which materializes each group. For 100 TB-scale
  * pipelines, groups are low-cardinality categorical breakdowns and values
  * per group dominate: callers needing bounded state should pre-aggregate or
  * use approx_percentile; this aggregate exists for exact reference parity.
  */
case class WeightedQuantile(
    left: Expression,
    right: Expression,
    q: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends WeightedQuantileAgg[WQBuffer] {

  override def prettyName: String = "weighted_quantile"

  override def createAggregationBuffer(): WQBuffer =
    new WQBuffer(new Array[Double](16), new Array[Double](16), 0)

  override def merge(a: WQBuffer, b: WQBuffer): WQBuffer = {
    var i = 0
    while (i < b.n) { a.add(b.vs(i), b.ws(i)); i += 1 }
    a
  }

  override def eval(buf: WQBuffer): Any = {
    val n = buf.n
    if (n == 0) return null // fully-masked early exit (bm_breakdown.py:149-150)
    // sort pairs by value (argsort, bm_breakdown.py:153-155); ties in value
    // are interchangeable for the result, so sort stability is irrelevant.
    val idx = Array.range(0, n).sortBy(buf.vs(_))
    WeightedQuantile.interpolate(n, q, i => buf.vs(idx(i)), i => buf.ws(idx(i)))
  }

  override def serialize(buf: WQBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.n)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putDouble(buf.vs(i)); bb.putDouble(buf.ws(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): WQBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val vs = new Array[Double](math.max(16, n))
    val ws = new Array[Double](math.max(16, n))
    var i = 0
    while (i < n) { vs(i) = bb.getDouble; ws(i) = bb.getDouble; i += 1 }
    new WQBuffer(vs, ws, n)
  }

  override def withNewMutableAggBufferOffset(o: Int): WeightedQuantile =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): WeightedQuantile =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WeightedQuantile =
    copy(left = newLeft, right = newRight)
}

object WeightedQuantile {
  /** The reference interpolation over `n` pairs in ascending value order:
    * `ecdf = cumsum(w)`, position `p = q·(Σw − 1)` (bm_breakdown.py:161),
    * `lo`/`hi` = searchsorted-right of `p` and `p + 1` clamped to n−1
    * (bm_breakdown.py:166), then `v[lo]·(1−frac) + v[hi]·frac`. */
  private[agg] def interpolate(n: Int, q: Double, value: Int => Double,
      weight: Int => Double): Double = {
    val ecdf = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += weight(i); ecdf(i) = acc; i += 1 }
    val p = q * (acc - 1.0)
    // searchsorted side='right': first index where ecdf[i] > key
    def ssRight(key: Double): Int = {
      var lo = 0; var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ecdf(mid) <= key) lo = mid + 1 else hi = mid
      }
      lo
    }
    // clamp lo defensively (reference relies on p < Σw for q ∈ [0,1], w ≥ 0)
    val lo = math.min(ssRight(p), n - 1)
    val hi = math.min(ssRight(p + 1.0), n - 1)
    val fHi = p - math.floor(p)
    value(lo) * (1.0 - fHi) + value(hi) * fHi
  }

  /** Column-level API: `weightedQuantile($"grade", $"w", 0.5)`. */
  def apply(value: Column, weight: Column, q: Double): Column =
    ExpressionUtils.column(
      WeightedQuantile(
        Cast(ExpressionUtils.expression(value), DoubleType),
        Cast(ExpressionUtils.expression(weight), DoubleType),
        q).toAggregateExpression())
}
