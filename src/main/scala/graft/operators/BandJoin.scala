package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Kernel

/** Range join against a small band table (the grade-shell / binning shape:
  * every fact row lands in the band whose `[lo, hi)` interval contains its
  * value).
  *
  * Spark plans a `fact JOIN bands ON v >= lo AND v < hi` as a
  * BroadcastNestedLoopJoin — O(bands) comparisons per row and a join node
  * in the plan. For the overwhelmingly common case (bands sorted,
  * non-overlapping, known up front) the join disappears entirely: the
  * band table rides a [[graft.functions.Kernel]] call as a sorted array
  * and each row pays one binary search, staying inside whole-stage
  * codegen. Rows outside every band get null (≡ the range join's
  * non-match).
  */
final class BandKernel(val los: Array[Double], val his: Array[Double],
    val names: Array[UTF8String]) extends Serializable {
  /** Index of the band containing v, −1 when none. Bands are sorted by lo
    * and non-overlapping, so the candidate is the last band with lo ≤ v. */
  def find(v: Double): Int = {
    var lo = 0; var hi = los.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (los(mid) <= v) lo = mid + 1 else hi = mid
    }
    val c = lo - 1
    if (c >= 0 && v < his(c)) c else -1
  }

  /** The name of the band containing v, null when none. */
  def lookup(v: Double): UTF8String = {
    val i = find(v)
    if (i < 0) null else names(i)
  }
}

object BandJoin {

  /** Band column for sorted non-overlapping `[lo, hi)` bands — the
    * join-free fast path. */
  def bandOf(value: Column, bands: Seq[(String, Double, Double)]): Column = {
    val sorted = bands.sortBy(_._2)
    sorted.sliding(2).foreach {
      case Seq((_, _, h1), (_, l2, _)) =>
        require(h1 <= l2, s"bands overlap: hi=$h1 > lo=$l2")
      case _ =>
    }
    val kernel = new BandKernel(sorted.map(_._2).toArray,
      sorted.map(_._3).toArray,
      sorted.map(b => UTF8String.fromString(b._1)).toArray)
    Kernel.column("band_lookup", kernel, "lookup", StringType, mayReturnNull = true)(
      value.cast("double"))
  }

  /** General range join for a DataFrame band table (possibly overlapping
    * bands → one output row per matching band): broadcast the small side,
    * `theta` condition `v >= lo AND v < hi`. Inner semantics — non-matching
    * fact rows drop, like SQL. */
  def joinByRange(fact: DataFrame, bands: DataFrame, valueCol: String,
      loCol: String, hiCol: String): DataFrame =
    fact.join(broadcast(bands),
      col(valueCol) >= col(loCol) && col(valueCol) < col(hiCol))
}
