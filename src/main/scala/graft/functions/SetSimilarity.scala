package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Set-similarity kernels for the dedup verify path.
  *
  * The generic `array_intersect`/`array_union` builds a hash set per CALL —
  * fine per row, hostile per candidate PAIR (a near-dup verify pass runs
  * millions of pairs per partition at 100 TB). Hashing each shingle to a
  * 60-bit long once per document and keeping the array sorted turns every
  * pair verify into a single allocation-free merge scan, and the candidate
  * join ships compact long arrays instead of string arrays.
  */
object SetKernel extends Serializable {
  /** Intersection size of two ascending long arrays (merge scan). */
  def intersectSize(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}

object SetSimilarity {
  /** `sorted_intersect_size(a, b)`: merge-scan intersection count of two
    * ascending `array<bigint>` columns — one kernel call inside whole-stage
    * codegen (no ScalaUDF boundary, no per-call hash set). */
  def sortedIntersectSize(a: Column, b: Column): Column =
    Kernel.column("sorted_intersect_size", SetKernel, "intersectSize", IntegerType)(a, b)

  /** Jaccard of two sorted distinct-element long arrays:
    * |a∩b| / (|a| + |b| − |a∩b|). Catalyst CSE evaluates the merge scan
    * once per pair inside the generated code. */
  def jaccardSorted(a: Column, b: Column): Column = {
    val inter = sortedIntersectSize(a, b).cast("double")
    inter / (size(a).cast("double") + size(b).cast("double") - inter)
  }
}
