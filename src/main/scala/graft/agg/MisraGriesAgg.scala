package graft.agg

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.{Bridge => ExpressionUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries frequent-items summary over a string column: a bounded
  * `capacity`-counter sketch whose retained set is GUARANTEED to contain
  * every value with true frequency > n/(capacity+1) (n = stream length).
  * That guarantee is what makes exact heavy hitters tractable at corpus
  * scale: a full `groupBy(token)` shuffles the VOCABULARY (hundreds of
  * millions of keys on web text); this sketch reduces the first pass to a
  * per-partition bounded map + one tiny merge, after which an exact
  * recount only has to visit the ≤ `capacity` candidates (see
  * [[graft.ext.TextAnalysis.heavyHitters]] — the composition returns
  * exact counts, the sketch only bounds WHERE they can hide).
  *
  * Mechanics (Misra–Gries 1982): a miss on a full summary decrements every
  * counter and evicts zeros — each such event destroys `capacity+1` units
  * of count mass that arrived exactly once, hence the n/(capacity+1)
  * under-count bound. The decrement sweep is O(capacity) but amortized
  * O(1) per row (a sweep only fires after ≥ capacity distinct inserts
  * paid for it). Merge (Agarwal et al. 2013, "Mergeable Summaries"): add
  * counters, then subtract the (capacity+1)-th largest count and evict
  * non-positives — the merged sketch obeys the same bound over the
  * combined stream, so partial aggregation is safe at any tree depth. */
case class MisraGriesAgg(
    child: Expression,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends CountsAgg[UTF8String] {

  require(capacity > 0, s"capacity must be positive, got $capacity")

  override def prettyName: String = "misra_gries"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def layout = CountsAgg.Utf8Key

  override protected def observe(
      buf: mutable.HashMap[UTF8String, Long], v: Any): Unit = {
    val key = v.asInstanceOf[UTF8String]
    if (buf.size < capacity || buf.contains(key)) add(buf, key)
    else {
      // decrement-all sweep; evict exhausted counters
      val dead = mutable.ArrayBuffer.empty[UTF8String]
      buf.foreach { case (k, c) =>
        if (c == 1L) dead += k else buf.update(k, c - 1L)
      }
      dead.foreach(buf.remove)
    }
  }

  override def merge(
      a: mutable.HashMap[UTF8String, Long],
      b: mutable.HashMap[UTF8String, Long]): mutable.HashMap[UTF8String, Long] = {
    super.merge(a, b)
    if (a.size > capacity) {
      // subtract the (capacity+1)-th largest count, evict non-positives
      val counts = a.values.toArray
      java.util.Arrays.sort(counts)
      val cut = counts(a.size - capacity - 1)
      val dead = mutable.ArrayBuffer.empty[UTF8String]
      a.foreach { case (k, c) =>
        if (c <= cut) dead += k else a.update(k, c - cut)
      }
      dead.foreach(a.remove)
    }
    a
  }

  /** Retained candidate values, sorted by estimated count descending then
    * value ascending (deterministic transport order; estimates themselves
    * are NOT returned — callers recount exactly). */
  override def eval(buf: mutable.HashMap[UTF8String, Long]): Any = {
    val arr = buf.toArray
    java.util.Arrays.sort(arr, new java.util.Comparator[(UTF8String, Long)] {
      def compare(x: (UTF8String, Long), y: (UTF8String, Long)): Int = {
        val byCount = java.lang.Long.compare(y._2, x._2)
        if (byCount != 0) byCount else x._1.compareTo(y._1)
      }
    })
    new GenericArrayData(arr.map(_._1.asInstanceOf[Any]))
  }

  override def withNewMutableAggBufferOffset(o: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): MisraGriesAgg =
    copy(child = c)
}

object MisraGriesAgg {
  /** `misra_gries($"tok", capacity)` → `array<string>` of candidates. */
  def apply(value: Column, capacity: Int): Column =
    ExpressionUtils.column(
      MisraGriesAgg(ExpressionUtils.expression(value), capacity)
        .toAggregateExpression())
}
