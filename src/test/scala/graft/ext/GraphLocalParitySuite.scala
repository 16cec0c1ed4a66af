package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.agg.SparkTest

/** Parity pins for the r14 small-graph driver fast paths: every Graph
  * operator with a `localThreshold` must produce the same rows through the
  * local solver (threshold high, the default) and through the distributed
  * loop (`localThreshold = 0`). Graphs are pseudo-random but DETERMINISTIC
  * (hash-derived edges), with dangling nodes, cycles, multi-edges and
  * unreachable components — the shapes where a local reimplementation
  * diverges first. */
class GraphLocalParitySuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  // splitmix64 finalizer — deterministic pseudo-random edge generator
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  // ~600 directed edges over ~120 nodes: cycles, hubs, danglers (node ids
  // that appear only as dst), plus a disconnected tail past id 100
  private def randomEdges: Seq[(Long, Long)] =
    (0 until 600).map { i =>
      val h = mix(i.toLong)
      val s = math.floorMod(h, 100).toLong
      val d = math.floorMod(h >>> 17, 120).toLong
      (s, d)
    } ++ Seq((200L, 201L), (201L, 202L)) // unreachable island

  test("pageRank: local fast path equals the distributed loop to 1e-12") {
    val e = randomEdges.toDF("src", "dst")
    val local = Graph.pageRank(e, "src", "dst", 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dist = Graph.pageRank(e, "src", "dst", 5, localThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(local.keySet == dist.keySet)
    local.foreach { case (n, pr) =>
      assert(math.abs(pr - dist(n)) < 1e-12, s"node $n: $pr vs ${dist(n)}")
    }
    assert(math.abs(local.values.sum - 1.0) < 1e-9, "mass conserved")
  }

  test("labelPropagation: local fast path is bit-identical to the distributed loop") {
    val e = randomEdges.toDF("src", "dst")
    // seeds: every 7th node, two labels that force plurality ties, one
    // NULL-labeled seed (must behave like no seed on both paths)
    val seeds = ((0L until 120L by 7).map(n =>
      (n, if (n % 14 == 0) "aa" else "ab")) :+ (3L, null)).toDF("node", "lab")
    def run(thr: Long) = Graph.labelPropagation(
        e, seeds, "src", "dst", "node", "lab", 5, localThreshold = thr)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(run(1L << 20) == run(0))
  }

  test("labelPropagation: duplicate seed rows fall through to the distributed path") {
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val dup = Seq((1L, "x"), (1L, "x")).toDF("node", "lab")
    // duplicate seeds replicate through the distributed joins; the guard
    // must route this shape distributed — equality with the explicit
    // distributed call is the pin
    val fast = Graph.labelPropagation(e, dup, "src", "dst", "node", "lab", 2)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    val dist = Graph.labelPropagation(e, dup, "src", "dst", "node", "lab", 2,
        localThreshold = 0)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(fast == dist)
  }

  test("bfsHops: local fast path is bit-identical to the distributed loop") {
    val e = randomEdges.toDF("src", "dst")
    val seeds = (0L until 120L by 11).toDF("node")
    def run(thr: Long) = Graph.bfsHops(
        e, seeds, "src", "dst", "node", 5, localThreshold = thr)
      .collect().map { r =>
        r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))
      }.toMap
    assert(run(1L << 20) == run(0))
  }

  test("bfsHops: seed-only nodes (no edges touching them) appear with hops NULL-or-0 on both paths") {
    val e = Seq((1L, 2L)).toDF("src", "dst")
    val seeds = Seq(1L, 99L).toDF("node") // 99 is not in the edge set
    def run(thr: Long) = Graph.bfsHops(
        e, seeds, "src", "dst", "node", 3, localThreshold = thr)
      .collect().map { r =>
        r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))
      }.toMap
    val fast = run(1L << 20)
    assert(fast == run(0))
    assert(fast(99L).contains(0), "an isolated seed is at hop 0 of itself")
  }
}
