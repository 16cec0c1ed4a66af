package graft.agg

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.{Bridge => ExpressionUtils}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Capped `list` op: the smallest `cap` distinct values in sorted order,
  * comma-joined, with a trailing `,…` overflow marker when the group held
  * more.
  *
  * The uncapped `list` (`sort_array(collect_set(...))`,
  * /root/reference/bm_breakdown.py:215-216 semantics) carries every
  * distinct value in aggregation state, which is unbounded for
  * high-cardinality groups at 100 TB. This variant's state is a bounded
  * sorted set of at most `cap + 1` strings — keeping the SMALLEST values
  * makes the cap deterministic under any partitioning (the kept prefix of
  * the global sorted order is partition-invariant), and the one extra slot
  * witnesses overflow without counting the tail. Spelled `listN` in the
  * breakdown grammar (e.g. `list8`); DEVIATIONS.md §list-cap. */
case class BoundedListAgg(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[UTF8String]]
  with UnaryLike[Expression] {

  require(cap > 0, "list cap must be positive")

  override def prettyName: String = s"list$cap"
  // null (not "") for a group with no non-null values — matches the SQL
  // convention (DuckDB list(...) FILTER over zero rows is NULL), so the
  // oracle hash-compare stays engine-agnostic on nullable columns
  override def nullable: Boolean = true
  override def dataType: DataType = StringType

  override def createAggregationBuffer(): java.util.TreeSet[UTF8String] =
    new java.util.TreeSet[UTF8String]()

  private def add(buf: java.util.TreeSet[UTF8String], v: UTF8String): Unit = {
    buf.add(v)
    if (buf.size > cap + 1) buf.pollLast() // keep smallest cap+1 only
  }

  override def update(
      buf: java.util.TreeSet[UTF8String], input: InternalRow): java.util.TreeSet[UTF8String] = {
    val v = child.eval(input)
    if (v != null) add(buf, v.asInstanceOf[UTF8String].clone())
    buf
  }

  override def merge(
      a: java.util.TreeSet[UTF8String], b: java.util.TreeSet[UTF8String]): java.util.TreeSet[UTF8String] = {
    b.forEach(v => add(a, v))
    a
  }

  override def eval(buf: java.util.TreeSet[UTF8String]): Any = {
    if (buf.isEmpty) return null
    val it = buf.iterator()
    val sb = new StringBuilder
    var n = 0
    while (it.hasNext && n < cap) {
      if (n > 0) sb.append(',')
      sb.append(it.next().toString)
      n += 1
    }
    if (buf.size > cap) sb.append(",…") // overflow witness
    UTF8String.fromString(sb.toString)
  }

  // `[n:int]([len:int][bytes])*`: the count-map aggregates' UTF-8 key
  // codec over the ascending set, with no counts
  override def serialize(buf: java.util.TreeSet[UTF8String]): Array[Byte] =
    CountsAgg.Utf8Key.encodeKeys(buf.size, buf)

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[UTF8String] = {
    val buf = new java.util.TreeSet[UTF8String]()
    CountsAgg.Utf8Key.decodeKeys(bytes)(buf.add)
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): BoundedListAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BoundedListAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): BoundedListAgg =
    copy(child = c)
}

object BoundedListAgg {
  /** Column-level API: values cast to string like the uncapped list op. */
  def apply(value: Column, cap: Int): Column = {
    val e = ExpressionUtils.expression(value)
    ExpressionUtils.column(
      BoundedListAgg(Cast(e, StringType), cap).toAggregateExpression())
  }
}
