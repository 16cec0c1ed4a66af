package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.DoubleType

/** Asymmetric-distance computation for product quantization: squared L2
  * between a FULL query vector and the RECONSTRUCTION of a PQ code
  * (per-subspace codebook centroid lookup). One static call inside
  * whole-stage codegen per (query, code) pair; the codebooks ride the
  * serialized expression once per stage (m·ksub·dsub doubles — KB-scale).
  *
  * The point of PQ at 100 TB is not FLOPs — it is that the corpus side of
  * the candidate scan carries m small ints (≈ m bytes semantically)
  * instead of `dim` doubles: ~50–100× less storage/shuffle per vector.
  * The codebooks are compared by reference, like [[CentroidKernel]]'s.
  */
case class PqKernel(codebooks: Array[Array[Array[Double]]]) {
  /** cb(s)(k) is the dsub-dim centroid k of subspace s; code length m must
    * equal cb.length and the query dim must equal m·dsub, else null. */
  def adc(code: ArrayData, q: ArrayData): java.lang.Double = {
    val cb = codebooks
    val m = cb.length
    if (code.numElements() != m || m == 0) return null
    val dsub = cb(0)(0).length
    if (q.numElements() != m * dsub) return null
    var acc = 0.0
    var s = 0
    while (s < m) {
      if (code.isNullAt(s)) return null
      val k = code.getInt(s)
      if (k < 0 || k >= cb(s).length) return null
      val ctr = cb(s)(k)
      val off = s * dsub
      var i = 0
      while (i < dsub) {
        val t = q.getDouble(off + i) - ctr(i)
        acc += t * t
        i += 1
      }
      s += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

object PqAdc {
  def column(code: Column, query: Column, codebooks: Array[Array[Array[Double]]]): Column =
    Kernel.column("pq_adc", PqKernel(codebooks), "adc", DoubleType, mayReturnNull = true)(
      code, query)
}
