package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.BooleanType
import org.apache.spark.util.sketch.BloomFilter

/** The kernel behind [[ArrayMightContainBloom]]: the filter itself rides
  * the plan (`BloomFilter` compares by value — hash count, seed and bits —
  * so plans carrying equal filters compare equal) and ships once with the
  * task. */
case class BloomKernel(bf: BloomFilter) {
  /** True iff ANY element of the long array might be in the filter.
    * No false negatives: a true member always answers true. */
  def mightContainAny(arr: ArrayData): Boolean = {
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (bf.mightContainLong(arr.getLong(i))) return true
      i += 1
    }
    false
  }
}

/** `array_might_contain_bloom(array<bigint>)`: true iff any element MIGHT
  * be in the fixed Bloom filter — the probabilistic sibling of
  * [[ArrayOverlapsSet]] for reference sets too large to ship as sorted
  * longs (a Bloom filter at 1% fpp costs ~1.2 bytes/element vs 8, an
  * order of magnitude more headroom under the same broadcast budget).
  *
  * One-sided error only: false positives possible, false NEGATIVES never —
  * which is exactly the contract a prefilter needs (see
  * [[graft.ext.Dedup.decontaminateBloom]]: bloom prunes, an exact join
  * confirms, the composition is exact). */
object ArrayMightContainBloom {
  def column(arr: Column, bf: BloomFilter): Column = {
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos) // a private copy: later puts into `bf` do not reach the plan
    val copy = BloomFilter.readFrom(new ByteArrayInputStream(bos.toByteArray))
    Kernel.column("array_might_contain_bloom", BloomKernel(copy), "mightContainAny",
      BooleanType)(arr)
  }
}
