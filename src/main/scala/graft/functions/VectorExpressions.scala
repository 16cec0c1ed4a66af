package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType}

/** Native dot product over two `array<double>` columns.
  *
  * Matches `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, (acc,v) -> acc+v)`
  * exactly — sequential accumulation in array order (deterministic,
  * cross-engine exact), null when lengths differ or an element is null
  * (the lambda chain poisons the accumulator the same way) — but runs as
  * one static call inside whole-stage codegen instead of ~2·dim
  * interpreted lambda evals per pair. The pairwise-similarity operators
  * call this once per candidate PAIR, which is where the interpreted
  * overhead multiplies.
  */
object VectorKernel extends Serializable {
  /** Sentinel-free boxed result: null mirrors the lambda-chain null. */
  def dot(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

object DotProduct {
  def column(a: Column, b: Column): Column =
    Kernel.column("vec_dot", VectorKernel, "dot", DoubleType, mayReturnNull = true)(a, b)
}

/** Argmin-squared-L2 assignment of a vector to the nearest of k centroids
  * (ties break toward the smaller index). The centroid matrix rides the
  * serialized expression once per stage — KB-scale for any sane k·dim —
  * and each row costs one static k·dim scan inside whole-stage codegen:
  * the IVF coarse quantizer as a map, no shuffle, no UDF. The matrix is
  * compared by reference, so two plans built from one array compare equal.
  */
case class CentroidKernel(centroids: Array[Array[Double]]) {
  def nearest(v: ArrayData): Int = {
    val dim = v.numElements()
    var best = -1
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val ctr = centroids(c)
      if (ctr.length == dim) {
        var d = 0.0
        var i = 0
        while (i < dim && d < bestD) {
          val t = v.getDouble(i) - ctr(i)
          d += t * t
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
      }
      c += 1
    }
    best
  }

  /** First `nprobe` centroid indices by ascending squared L2 (selection
    * scan — k is small). Ties break toward the smaller index. */
  def probes(v: ArrayData, nprobe: Int): ArrayData = {
    val k = centroids.length
    val dim = v.numElements()
    val d = new Array[Double](k)
    var c = 0
    while (c < k) {
      val ctr = centroids(c)
      if (ctr.length == dim) {
        var s = 0.0
        var i = 0
        while (i < dim) { val t = v.getDouble(i) - ctr(i); s += t * t; i += 1 }
        d(c) = s
      } else d(c) = Double.MaxValue
      c += 1
    }
    val n = math.min(nprobe, k)
    val taken = new Array[Boolean](k)
    val out = new Array[Int](n)
    var j = 0
    var done = false
    while (j < n && !done) {
      var best = -1
      var bestD = Double.MaxValue
      var i = 0
      while (i < k) {
        if (!taken(i) && d(i) < bestD) { bestD = d(i); best = i }
        i += 1
      }
      // no comparable centroid left (NaN vector / dim mismatch): stop with
      // the probes found so far — consistent with nearest()'s silent −1
      if (best < 0) done = true
      else { taken(best) = true; out(j) = best; j += 1 }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(out, j))
  }
}

object NearestCentroid {
  def column(vec: Column, centroids: Array[Array[Double]]): Column = Kernel.column(
    "nearest_centroid", CentroidKernel(centroids), "nearest", IntegerType)(vec)
}

/** The `nprobe` nearest centroid indices for a query vector, ascending by
  * squared L2 (ties toward the smaller index) — the IVF probe list. */
object ProbeCentroids {
  def column(vec: Column, centroids: Array[Array[Double]], nprobe: Int): Column =
    Kernel.column("probe_centroids", CentroidKernel(centroids), "probes",
      ArrayType(IntegerType, containsNull = false))(vec, lit(nprobe))
}

/** Random-hyperplane LSH bucket: bit i = sign(v · h_i) with the
  * deterministic pseudo-random hyperplanes
  * h_i[d] = (1 + ((i·31 + d·17) mod 61)) − 30.5.
  *
  * Bit-identical to the SQL-lambda composition it replaces (one
  * `aggregate(zip_with(...))` PER BIT — ~2·dim·bits interpreted lambda
  * evals per row): the weights are exact small-half-integer doubles and the
  * accumulation runs in the same array order, so sign decisions match
  * exactly — including NaN projections, where Spark's comparison order
  * treats NaN as greater than every number (`NaN > 0` is TRUE), so the bit
  * is SET. A row with any null element yields bucket 0 — mirroring the
  * lambda chain, where the poisoned (null) projection fails `proj > 0` and
  * every bit falls to its `otherwise(0)` branch. Documented divergence: a
  * wholly-NULL input vector returns NULL (the standard null-propagating
  * Expression contract) where the lambda chain returned bucket 0.
  */
object HyperplaneKernel extends Serializable {
  def bucket(v: ArrayData, bits: Int): Long = {
    val n = v.numElements()
    var i = 0
    while (i < n) { if (v.isNullAt(i)) return 0L; i += 1 }
    var out = 0L
    var b = 0
    while (b < bits) {
      var acc = 0.0
      var d = 0
      while (d < n) {
        acc += v.getDouble(d) * ((1.0 + ((b * 31 + d * 17) % 61)) - 30.5)
        d += 1
      }
      // Spark comparison semantics: NaN sorts above every number, so the
      // lambda chain's `proj > 0` is true for a NaN projection
      if (acc > 0 || java.lang.Double.isNaN(acc)) out |= (1L << b)
      b += 1
    }
    out
  }
}

object HyperplaneBucket {
  def column(vec: Column, bits: Int): Column =
    Kernel.column("hyperplane_bucket", HyperplaneKernel, "bucket", LongType)(vec, lit(bits))
}
