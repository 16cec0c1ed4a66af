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

  test("graph fast-path admission: NULL endpoints and oversized/NULL seeds fall through to the distributed loop") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val sch = StructType(Seq(StructField("src", LongType, nullable = true),
      StructField("dst", LongType, nullable = true)))
    // a NULL endpoint: the distributed joins drop it; the local path
    // must select AWAY rather than NPE (ADVICE r14)
    val eNull = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, 2L), Row(2L, 3L),
        Row(null, 5L), Row(3L, 1L))), sch)
    // NOTE the distributed loop emits a (NULL, pr) row for the NULL
    // endpoint (it survives the nodes union-distinct) — compare with
    // Option keys; the guarded path must take the SAME (distributed)
    // path and so agree exactly
    def prMap(df: org.apache.spark.sql.DataFrame): Map[Option[Long], Double] =
      df.collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        r.getDouble(1))).toMap
    val viaGuard = prMap(Graph.pageRank(eNull, "src", "dst", 3))
    val distributed = prMap(Graph.pageRank(eNull, "src", "dst", 3,
      localThreshold = 0))
    assert(viaGuard.keySet == distributed.keySet)
    viaGuard.foreach { case (k, v) =>
      assert(math.abs(v - distributed(k)) < 1e-12) }
    // seed set larger than the threshold: bfsHops must stay distributed
    // (bounded seed pull) and still return the right hops
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val manySeeds = (1L to 100L).toDF("node")
    val hops = Graph.bfsHops(e, manySeeds, "src", "dst", "node", 2,
        localThreshold = 50)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    assert(hops(1L) == 0 && hops(2L) == 0 && hops(3L) == 0)
    // NULL seed node: labelPropagation falls through (the distributed
    // join drops the NULL row) instead of NPE-ing on getLong
    val seedSch = StructType(Seq(StructField("node", LongType, true),
      StructField("lab", StringType, true)))
    val nullSeed = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, "a"), Row(null, "b"))),
      seedSch)
    val lp = Graph.labelPropagation(e, nullSeed, "src", "dst", "node",
      "lab", 2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(lp(1L) == "a" && lp(2L) == "a" && lp(3L) == "a")
  }
}
