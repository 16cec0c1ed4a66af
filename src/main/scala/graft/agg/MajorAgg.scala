package graft.agg

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.graftbridge.{Bridge => ExpressionUtils}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `major` = mode with a deterministic tiebreak (smallest value wins).
  *
  * Reference: `df[name].value_counts().idxmax()` guarded by `df[name].any()`
  * (/root/reference/bm_breakdown.py:234-236). pandas' tie order is
  * hash-dependent; a distributed engine needs defined semantics, so ties
  * break toward the smallest value — documented deviation (SURVEY.md §7.4
  * item 3). Nulls are never counted (pandas value_counts drops NaN); a group
  * whose non-null values are all "falsy" (empty string / 0 / NaN) yields
  * null, mirroring the `.any()` guard.
  *
  * State is the shared [[CountsAgg]] (value → count) map per group —
  * bounded by the distinct count of a categorical column, so safe at
  * 100 TB scale. Supports StringType directly; numerics are cast to double
  * by the Column helper.
  */
case class MajorAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends CountsAgg[Any] {

  override def prettyName: String = "major"
  override def dataType: DataType = child.dataType

  // string keys are UTF8Strings, any other child is cast to double
  @transient override protected lazy val layout: CountsAgg.KeyLayout[Any] =
    (if (child.dataType == StringType) CountsAgg.Utf8Key else CountsAgg.DoubleKey)
      .asInstanceOf[CountsAgg.KeyLayout[Any]]

  override protected def observe(buf: mutable.HashMap[Any, Long], v: Any): Unit =
    v match {
      case d: java.lang.Double if d.isNaN => () // value_counts drops NaN
      case k => add(buf, k)
    }

  override def eval(buf: mutable.HashMap[Any, Long]): Any = {
    if (buf.isEmpty) return null
    // `.any()` guard: all-falsy groups yield null (bm_breakdown.py:235)
    val anyTruthy = buf.keysIterator.exists {
      case s: UTF8String => s.numBytes() > 0
      case d: java.lang.Double => d.doubleValue() != 0.0
      case _ => true
    }
    if (!anyTruthy) return null
    var bestK: Any = null
    var bestC = -1L
    buf.foreach { case (k, c) =>
      val better = c > bestC || (c == bestC && lt(k, bestK))
      if (better) { bestK = k; bestC = c }
    }
    bestK
  }

  private def lt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: UTF8String, y: UTF8String) => x.compareTo(y) < 0
    case (x: java.lang.Double, y: java.lang.Double) => x < y
    case _ => false
  }

  override def withNewMutableAggBufferOffset(o: Int): MajorAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MajorAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): MajorAgg =
    copy(child = c)
}

object MajorAgg {
  /** Column-level API: `major($"lito")`. Strings pass through; any other
    * type is cast to double. */
  def apply(value: Column, dt: DataType): Column = {
    val e = ExpressionUtils.expression(value)
    val child = if (dt == StringType) e else Cast(e, DoubleType)
    ExpressionUtils.column(MajorAgg(child).toAggregateExpression())
  }
}
