package graft.agg

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.graftbridge.{Bridge => ExpressionUtils}
import org.apache.spark.sql.types.DoubleType

/** Bounded weighted histogram: at most `maxBins` (center, weight) bins kept
  * sorted by center. Inserting an existing center adds weight (lossless);
  * overflowing merges the closest adjacent pair into its weighted mean
  * (Ben-Haim & Tom-Tov streaming-histogram rule). */
final class WQSketch(val maxBins: Int, var cs: Array[Double],
    var ws: Array[Double], var n: Int) extends WeightedPairs {

  def add(v: Double, w: Double): Unit = {
    // binary search for v in cs[0, n)
    var lo = 0; var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cs(mid) < v) lo = mid + 1 else hi = mid
    }
    if (lo < n && cs(lo) == v) { ws(lo) += w; return }
    if (n == cs.length) {
      val cap = math.min(math.max(16, cs.length * 2), maxBins + 1)
      cs = java.util.Arrays.copyOf(cs, cap)
      ws = java.util.Arrays.copyOf(ws, cap)
    }
    System.arraycopy(cs, lo, cs, lo + 1, n - lo)
    System.arraycopy(ws, lo, ws, lo + 1, n - lo)
    cs(lo) = v; ws(lo) = w; n += 1
    if (n > maxBins) compressOne()
  }

  private def compressOne(): Unit = {
    var best = 0
    var bestGap = Double.MaxValue
    var i = 0
    while (i < n - 1) {
      val gap = cs(i + 1) - cs(i)
      if (gap < bestGap) { bestGap = gap; best = i }
      i += 1
    }
    val w = ws(best) + ws(best + 1)
    cs(best) =
      if (w == 0.0) (cs(best) + cs(best + 1)) / 2
      else (cs(best) * ws(best) + cs(best + 1) * ws(best + 1)) / w
    ws(best) = w
    System.arraycopy(cs, best + 2, cs, best + 1, n - best - 2)
    System.arraycopy(ws, best + 2, ws, best + 1, n - best - 2)
    n -= 1
  }
}

/** Approximate weighted quantile with bounded state — the 100 TB companion
  * of [[WeightedQuantile]] (whose buffer is exact but grows with the
  * group). State is a `maxBins`-bin weighted streaming histogram, so any
  * group size aggregates in O(maxBins) memory; the quantile applies the
  * same reference position convention `p = q·(Σw − 1)` + linear
  * interpolation over the bins ([[WeightedQuantile]] semantics,
  * /root/reference/bm_breakdown.py:124-177). When a group has ≤ maxBins
  * DISTINCT values the sketch is lossless (equal values only ever merge
  * with each other) and the result equals the exact aggregate.
  */
case class ApproxWeightedQuantile(
    left: Expression,
    right: Expression,
    q: Double,
    maxBins: Int = 256,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends WeightedQuantileAgg[WQSketch] {

  override def prettyName: String = "approx_weighted_quantile"

  override def createAggregationBuffer(): WQSketch =
    new WQSketch(maxBins, new Array[Double](16), new Array[Double](16), 0)

  override def merge(a: WQSketch, b: WQSketch): WQSketch = {
    var i = 0
    while (i < b.n) { a.add(b.cs(i), b.ws(i)); i += 1 }
    a
  }

  override def eval(buf: WQSketch): Any = {
    val n = buf.n
    if (n == 0) return null
    WeightedQuantile.interpolate(n, q, buf.cs(_), buf.ws(_))
  }

  override def serialize(buf: WQSketch): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 16 * buf.n)
    bb.putInt(buf.maxBins); bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putDouble(buf.cs(i)); bb.putDouble(buf.ws(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): WQSketch = {
    val bb = ByteBuffer.wrap(bytes)
    val mb = bb.getInt
    val n = bb.getInt
    val cs = new Array[Double](math.max(16, n))
    val ws = new Array[Double](math.max(16, n))
    var i = 0
    while (i < n) { cs(i) = bb.getDouble; ws(i) = bb.getDouble; i += 1 }
    new WQSketch(mb, cs, ws, n)
  }

  override def withNewMutableAggBufferOffset(o: Int): ApproxWeightedQuantile =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ApproxWeightedQuantile =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ApproxWeightedQuantile =
    copy(left = newLeft, right = newRight)
}

object ApproxWeightedQuantile {
  /** Column-level API: `approxWeightedQuantile($"grade", $"w", 0.5, 256)`. */
  def apply(value: Column, weight: Column, q: Double, maxBins: Int): Column =
    ExpressionUtils.column(
      ApproxWeightedQuantile(
        Cast(ExpressionUtils.expression(value), DoubleType),
        Cast(ExpressionUtils.expression(weight), DoubleType),
        q, maxBins).toAggregateExpression())
}
