package graft.ext

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Checkpoints.owning

/** Iterative graph analytics over plain edge DataFrames — the category the
  * rest of the engine reaches with [[Dedup.connectedComponents]] (label
  * propagation to a fixpoint) extended to damped power iteration.
  *
  * Everything is edge-relational: no graph object, no driver adjacency —
  * an iteration is a join-aggregate over the edge list, which is exactly
  * how GraphX/Pregel lower to shuffles anyway, minus the abstraction. */
object Graph {

  /** Both columns of the 2-column frame are LongType — the type the
    * small-graph driver fast paths handle; anything else falls through
    * to the distributed loop unchanged. */
  private def isLongPair(e: DataFrame): Boolean =
    e.schema.fields.length == 2 && e.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)

  /** Collect an admitted (≤ localThreshold) 2-long-column edge list, or
    * None when any value is NULL (ADVICE r14): the distributed joins
    * silently drop NULL src/dst where `Row.getLong` would NPE — path
    * selection must not change failure behavior, so a NULL-bearing edge
    * list stays on the distributed loop. */
  private def collectNonNullPairs(e: DataFrame): Option[Array[(Long, Long)]] = {
    val rows = e.collect()
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) None
    else Some(rows.map(r => (r.getLong(0), r.getLong(1))))
  }

  /** The driver-side seed admission bound (ADVICE r14): seed cardinality
    * is independent of edge cardinality, so the fast paths must bound
    * the seed pull too — `limit(threshold + 1)` caps the transfer where
    * a plain `collect()` of a corpus-scale seed set would OOM the
    * driver. Returns None (→ distributed loop) when the seed set
    * exceeds the threshold or any seed node is NULL. */
  private def collectBoundedSeeds(seeds: DataFrame,
      localThreshold: Long): Option[Array[org.apache.spark.sql.Row]] = {
    val lim = (math.min(localThreshold, (Int.MaxValue - 2).toLong) + 1L).toInt
    val rows = seeds.limit(lim).collect()
    if (rows.length > localThreshold || rows.exists(_.isNullAt(0))) None
    else Some(rows)
  }

  /** Deterministic UTF-8 byte-wise order — exactly Spark's string sort
    * order (UTF8String compares unsigned bytes), so the local plurality
    * tie-break matches the distributed `orderBy(label asc)`. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    var i = 0
    val m = math.min(x.length, y.length)
    while (i < m) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** PAGERANK by `iters` damped power-iteration rounds (Page et al. 1999):
    * pr ← (1−d)/N + d·(Σ_in pr/outdeg + dangling/N), dangling = the rank
    * mass of nodes with no out-edges, redistributed uniformly. On the
    * near-dup graph this scores how CENTRAL a document is in its
    * duplication neighbourhood (template hubs rank high — a curation
    * signal the pairwise jaccard can't see); on a link graph it is the
    * classic domain-authority quality weight.
    *
    * Shape at 100 TB: each round is one edges⋈pr hash join (both sides
    * partitioned by the join key; the edge side's exchange is reused
    * across rounds), a map-side-combined contribution sum, and a 1-double
    * dangling-mass pull — the driver never sees a node table. Each
    * round's rank table is eagerly truncated ([[graft.util.Checkpoints.pin]]:
    * `localCheckpoint` by default, a RELIABLE `checkpoint` when the
    * session sets `graft.checkpoint.dir` — the cluster-safe mode, since
    * executor loss makes local checkpoints non-recomputable) so the
    * lineage — and the work — stays LINEAR in `iters` instead of
    * re-deriving round t−1 under both of round t's consumers. Each
    * superseded round is released once the next materializes, the edge,
    * node and degree pins on return; the caller owns the last round.
    *
    * Determinism: contribution sums are the only order-dependent doubles
    * and the damping factor contracts their divergence every round; the
    * caller rounds the published ranks (6 dp is far above the residual).
    * Output: (node, pr), Σpr = 1 up to float error. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 5, damping: Double = 0.85,
      localThreshold: Long = 1L << 20): DataFrame = owning { sc =>
    // materialize the edge list ONCE: the caller's edges are often a
    // pipeline (LSH pair extraction) that must not re-run inside
    // every round's contribution join
    val e = sc.pin(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    // Small-graph fast path (r14) — the [[Dedup.connectedComponents]]
    // discipline extended to the power iteration: ≤ localThreshold
    // directed long-id edges (≈16 MB of pairs) solve on the driver in
    // microseconds per round, where the distributed loop pays
    // join+aggregate+pin job rounds of fixed overhead for the same
    // answer. The near-dup edge list is tiny relative to the corpus —
    // the common case even at 100 TB; past the threshold (or for
    // non-long ids) the loop below owns it. Update rule is the same
    // formula; contribution sums accumulate in sorted (dst, src) edge
    // order — order-dependence is confined to double addition, which
    // damping contracts every round (the same argument that makes the
    // 6 dp-rounded ranks engine-reproducible against the DuckDB oracle;
    // suite-pinned at 1e-12 on both paths). Scale probes pass
    // localThreshold = 0 so they keep certifying the distributed loop.
    val esOpt = if (isLongPair(e) && e.count() <= localThreshold)
      collectNonNullPairs(e) else None
    esOpt.fold(pageRankRounds(sc, e, iters, damping)) { es =>
      val nodesArr = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
      require(nodesArr.nonEmpty, "pageRank: empty edge set")
      val n = nodesArr.length.toDouble
      val idx = nodesArr.zipWithIndex.toMap
      val outdeg = new Array[Long](nodesArr.length)
      es.foreach { case (s, _) => outdeg(idx(s)) += 1 }
      val esSorted = es.map { case (s, d) => (idx(d), idx(s)) }.sorted
      val resid = 1.0 - damping
      var pr = Array.fill(nodesArr.length)(1.0 / n)
      for (_ <- 1 to iters) {
        var dang = 0.0
        var i = 0
        while (i < pr.length) { if (outdeg(i) == 0) dang += pr(i); i += 1 }
        val contrib = new Array[Double](pr.length)
        esSorted.foreach { case (d, s) => contrib(d) += pr(s) / outdeg(s) }
        val next = new Array[Double](pr.length)
        var j = 0
        while (j < pr.length) {
          next(j) = resid / n + damping * (contrib(j) + dang / n); j += 1
        }
        pr = next
      }
      val session = edges.sparkSession
      import session.implicits._
      nodesArr.indices.map(i => (nodesArr(i), pr(i))).toDF("node", "pr")
    }
  }

  /** [[pageRank]]'s distributed rounds over the pinned edge list `e`. */
  private def pageRankRounds(sc: graft.util.Checkpoints.Scope, e: DataFrame,
      iters: Int, damping: Double): DataFrame = {
    val nodes = sc.pin(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val n = nodes.count().toDouble
    // empty-graph guard: n = 0 would constant-fold 1/0 at ANALYSIS time
    // (ANSI) — fail loudly instead of with an optimizer-phase fault
    require(n > 0, "pageRank: empty edge set")
    val resid = 1.0 - damping
    val deg = sc.pin(e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg")))
    var pr = sc.pin(nodes.select(col("node"), (lit(1.0) / lit(n)).as("pr")))
    for (_ <- 1 to iters) {
      // dangling mass as a broadcast 1-row frame, NOT a driver pull —
      // pr is checkpointed, so its two consumers (dangling sum and the
      // contribution join) read the materialized round, and the whole
      // round stays one job (the checkpoint) instead of two
      val dang = pr.join(deg, Seq("node"), "left_anti")
        .agg(coalesce(sum(col("pr")), lit(0.0)).as("_dang"))
      val contribs = e
        .join(pr.withColumnRenamed("node", "src"), "src")
        .join(deg.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("pr") / col("outdeg")).as("s"))
      val next = sc.pin(nodes.join(contribs, Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"),
          (lit(resid) / lit(n) + lit(damping) *
            (coalesce(col("s"), lit(0.0)) + col("_dang") / lit(n)))
            .as("pr")))
      sc.release(pr)
      pr = next
    }
    pr
  }

  /** TRIANGLE COUNT per node over an UNDIRECTED graph (pass each edge
    * once in either orientation; duplicates and self-loops are dropped).
    * The clustering-coefficient numerator: on the near-dup graph a node
    * in many triangles sits in a dense duplication clique (template
    * families), where a high-PageRank node with few triangles is a hub
    * bridging distinct variants.
    *
    * The classic oriented-wedge formulation (each triangle counted once
    * as i < j < k): orient edges low→high, join wedges (i→j, i→k) on the
    * pivot i, close with a semi-join against the oriented edge set.
    * Shape at 100 TB: wedge volume is Σ outdeg(i)² of the ORIENTED graph
    * — orientation by id caps out-degree at roughly the true degree and
    * kills the hub blowup (the standard trick); all joins hash-partition
    * on node/edge keys. All-integer. Output: (node, triangles) for every
    * node of the graph, 0 included. */
  def triangleCount(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = owning { sc =>
    val und = sc.pin(edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("lo"),
        greatest(col("a"), col("b")).as("hi"))
      .distinct())
    val nodes = und.select(col("lo").as("node"))
      .union(und.select(col("hi").as("node"))).distinct()
    val wedges = und.as("e1").join(und.as("e2"),
        col("e1.lo") === col("e2.lo") && col("e1.hi") < col("e2.hi"))
      .select(col("e1.lo").as("i"), col("e1.hi").as("j"),
        col("e2.hi").as("k"))
    val tris = wedges.join(und,
        wedges("j") === und("lo") && wedges("k") === und("hi"),
        "left_semi")
    val perNode = tris.select(explode(array(col("i"), col("j"), col("k")))
        .as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("t"))
    nodes.join(perNode, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("t"), lit(0L)).as("triangles"))
  }

  /** SEMI-SUPERVISED LABEL PROPAGATION (Zhu & Ghahramani 2002 shape,
    * hard-label variant): seed nodes are CLAMPED to their label; every
    * round each node adopts the PLURALITY label of its in-neighbours'
    * current labels (ties: count desc, then label asc — deterministic),
    * unlabeled nodes stay NULL until a labelled neighbour reaches them.
    * On the near-dup graph this spreads a sparse trusted annotation
    * (language, topic, quality verdict) across duplication clusters; on a
    * link graph it is the classic weak-label expansion.
    *
    * Shape at 100 TB: each round is one edges⋈labels hash join, one
    * (node, label) count collapse (map-side combined) and one
    * WindowGroupLimit-able top-1 per node; rounds pin (localCheckpoint /
    * reliable checkpoint) and rotate like [[pageRank]], so lineage stays
    * linear and the caller owns only the last round. All-integer
    * arithmetic — the operator is exactly replayable cross-engine with no
    * float grain. */
  def labelPropagation(edges: DataFrame, seeds: DataFrame, srcCol: String,
      dstCol: String, nodeCol: String, labelCol: String,
      iters: Int = 5, localThreshold: Long = 1L << 20): DataFrame = owning { sc =>
    // same edge-list materialization as pageRank — rounds must join a
    // table, not re-run the caller's mining pipeline
    val e = sc.pin(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    // Small-graph fast path (r14), pageRank's twin: all-integer
    // plurality arithmetic with the SAME tie-break (count desc, then
    // label asc in UTF-8 byte order — Spark's string sort), so the
    // local result is bit-identical to the distributed loop's
    // (suite-pinned on both paths). Requires long ids, string labels
    // and DISTINCT seed nodes (duplicate seed rows replicate through
    // the distributed path's joins — that shape stays distributed).
    val sdOpt = if (isLongPair(e) &&
        seeds.schema(nodeCol).dataType == org.apache.spark.sql.types.LongType &&
        seeds.schema(labelCol).dataType == org.apache.spark.sql.types.StringType &&
        e.count() <= localThreshold)
      // bounded seed pull AFTER every cheap guard (ADVICE r14): seed
      // cardinality is independent of the edge count the threshold
      // admits on, and a NULL seed node falls through to the
      // distributed joins (which drop it) instead of NPE-ing getLong
      collectBoundedSeeds(seeds.select(col(nodeCol), col(labelCol)),
        localThreshold)
    else None
    val local = sdOpt.flatMap { rows =>
      val sd = rows
        .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
      (if (sd.map(_._1).distinct.length == sd.length)
        collectNonNullPairs(e) else None).map(es => (sd, es))
    }
    local.fold(labelPropagationRounds(sc, e, seeds.select(
        col(nodeCol).as("node"), col(labelCol).as("seed")), iters)) {
      case (sd, es) =>
        val nodesArr = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
        // NULL-labeled seed rows behave like no seed (coalesce skips
        // them in the distributed round) — drop them from the clamp map
        val seedMap = sd.filter(_._2 != null).toMap
        var lab: Map[Long, String] =
          nodesArr.map(nd => nd -> seedMap.getOrElse(nd, null)).toMap
        for (_ <- 1 to iters) {
          val votes = scala.collection.mutable.Map.empty[(Long, String), Long]
          es.foreach { case (s, d) =>
            val l = lab.getOrElse(s, null)
            if (l != null) votes((d, l)) = votes.getOrElse((d, l), 0L) + 1L
          }
          val top = votes.toSeq.groupBy(_._1._1).map { case (nd, vs) =>
            nd -> vs.map { case ((_, l), c) => (l, c) }
              .reduceLeft { (a, b) =>
                if (b._2 > a._2 || (b._2 == a._2 && utf8Lt(b._1, a._1))) b
                else a
              }._1
          }
          // the distributed round REPLACES labels: coalesce(seed, vote)
          // — an unseeded node with no votes this round goes back to
          // NULL, it does not keep its previous label
          lab = nodesArr.map { nd =>
            nd -> seedMap.getOrElse(nd, top.getOrElse(nd, null))
          }.toMap
        }
        val session = edges.sparkSession
        import session.implicits._
        nodesArr.map(nd => (nd, Option(lab(nd)))).toSeq.toDF("node", "label")
    }
  }

  /** [[labelPropagation]]'s distributed rounds over the pinned edge list
    * `e` and the (node, seed) frame `sd`. */
  private def labelPropagationRounds(sc: graft.util.Checkpoints.Scope,
      e: DataFrame, sd: DataFrame, iters: Int): DataFrame = {
    val nodes = sc.pin(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    var lab = sc.pin(nodes.join(sd, Seq("node"), "left")
      .select(col("node"), col("seed").as("label")))
    for (_ <- 1 to iters) {
      val votes = e.join(lab.withColumnRenamed("node", "src"), "src")
        .filter(col("label").isNotNull)
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("node"))
        .orderBy(col("c").desc, col("label").asc)
      val top = votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select(col("node"), col("label").as("vote"))
      val next = sc.pin(nodes.join(sd, Seq("node"), "left")
        .join(top, Seq("node"), "left")
        .select(col("node"), coalesce(col("seed"), col("vote")).as("label")))
      sc.release(lab)
      lab = next
    }
    lab
  }

  /** MULTI-SOURCE BFS: hop distance from the nearest seed, capped at
    * `maxHops` rounds. On the near-dup graph this measures how far a
    * document sits from a trusted (or poisoned) set through duplication
    * chains — "2 hops from known spam" is a curation gate the direct
    * pair list can't express; on a link graph it is the crawl-frontier
    * depth.
    *
    * Frontier form, not full re-propagation: round i joins the edges
    * against ONLY the nodes first settled at hop i−1, anti-joins the
    * settled set, and the new frontier settles at hop i. Each round's
    * shuffle is proportional to the frontier's edge neighbourhood — on
    * a high-diameter graph far cheaper than re-propagating every
    * settled distance (and identical in result: BFS settles each node
    * the first time it is reached). Rounds pin (localCheckpoint /
    * reliable checkpoint) and rotate like [[pageRank]], so lineage stays
    * linear and the caller owns the node table and the last distance
    * table the result reads; all-integer, exactly replayable
    * cross-engine.
    *
    * Output: (node, hops) for every node of the graph and every seed —
    * NULL hops = unreached within `maxHops` (distinguishable from
    * hop-maxHops, unlike a sentinel). */
  def bfsHops(edges: DataFrame, seeds: DataFrame, srcCol: String,
      dstCol: String, nodeCol: String, maxHops: Int = 5,
      localThreshold: Long = 1L << 20): DataFrame = owning { sc =>
    require(maxHops >= 0, s"maxHops $maxHops")
    val e = sc.pin(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    // Small-graph fast path (r14), pageRank's twin: BFS is all-integer
    // and settles each node at its first reach — the local frontier walk
    // is bit-identical to the distributed rounds (suite-pinned on both
    // paths). Long-id edges only; probes pass localThreshold = 0.
    // bounded seed pull before the edge collect (ADVICE r14): seed
    // cardinality is independent of the admitted edge count; NULL seeds
    // or NULL edge endpoints fall through to the distributed loop
    val seedsOpt = if (isLongPair(e) && e.count() <= localThreshold)
      collectBoundedSeeds(seeds.select(col(nodeCol).cast("long")),
        localThreshold)
    else None
    val esOpt = if (seedsOpt.isDefined) collectNonNullPairs(e) else None
    esOpt.fold(bfsHopsRounds(sc, e,
        seeds.select(col(nodeCol).cast("long").as("node")), maxHops)) { es =>
      val seedArr = seedsOpt.get.map(_.getLong(0)).distinct
      val nodesArr =
        (es.map(_._1) ++ es.map(_._2) ++ seedArr).distinct.sorted
      val adj = es.groupBy(_._1).map { case (s, out) => s -> out.map(_._2) }
      val dist = scala.collection.mutable.Map.empty[Long, Int]
      seedArr.foreach(nd => dist(nd) = 0)
      var frontier: Array[Long] = seedArr
      var hop = 1
      while (hop <= maxHops && frontier.nonEmpty) {
        frontier = frontier.flatMap(nd => adj.getOrElse(nd, Array.empty[Long]))
          .distinct.filterNot(dist.contains)
        frontier.foreach(nd => dist(nd) = hop)
        hop += 1
      }
      val session = edges.sparkSession
      import session.implicits._
      nodesArr.map(nd => (nd, dist.get(nd))).toSeq.toDF("node", "hops")
    }
  }

  /** [[bfsHops]]'s distributed frontier rounds over the pinned edge list
    * `e` and the long-cast (node) seed frame. */
  private def bfsHopsRounds(sc: graft.util.Checkpoints.Scope, e: DataFrame,
      seeds: DataFrame, maxHops: Int): DataFrame = {
    val nodes = sc.pin(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .union(seeds).distinct())
    var frontier = sc.pin(seeds.distinct().withColumn("hops", lit(0)))
    var dist = frontier
    for (i <- 1 to maxHops) {
      val nextFrontier = sc.pin(e
        .join(frontier.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node")).distinct()
        .join(dist, Seq("node"), "left_anti")
        .withColumn("hops", lit(i)))
      val nextDist = sc.pin(dist.union(nextFrontier))
      // round 0's frontier IS its distance table: the second release
      // finds it already dropped and leaves it alone
      sc.release(frontier)
      sc.release(dist)
      frontier = nextFrontier
      dist = nextDist
    }
    nodes.join(dist, Seq("node"), "left")
  }
}
