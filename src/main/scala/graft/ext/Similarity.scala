package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Checkpoints.scoped

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (few) query
  * vectors against a single scan of the corpus; one small top-k shuffle.
  * Scale path: partition-pruned search (IVF-style coarse quantization): a
  * cluster/bucket column prunes the scan to matching partitions before the
  * exact re-rank, turning a full-corpus scan into a bucket scan. Random
  * hyperplane (SimHash-style) bucketing for vectors is provided for when no
  * natural bucket exists.
  *
  * The per-pair hot paths (dot product, hyperplane bucketing) are native
  * codegen kernels ([[graft.functions.DotProduct]],
  * [[graft.functions.HyperplaneBucket]]) bit-identical to the sequential
  * SQL-lambda chains they replace — deterministic and cross-engine exact.
  */
object Similarity {

  /** Sequential-order dot product of two double arrays (native kernel —
    * see [[graft.functions.DotProduct]] for the exact lambda equivalence). */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.column(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine of two vectors; NULL when either is the zero vector, which has
    * no direction (and whose bare division ANSI mode — Spark 4's default —
    * turns into a job-killing `DIVIDE_BY_ZERO`). */
  def cosine(a: Column, b: Column): Column = cosineOver(a, norm(a), b, norm(b))

  // the one guarded cosine: every ranking, pair filter and cluster score in
  // the vector-search family divides here, over norms computed once per row
  private def cosineOver(a: Column, na: Column, b: Column, nb: Column): Column =
    when(na * nb > 0, dot(a, b) / (na * nb))

  /** One side of a cosine ranking: `(id, carried columns…, vec, norm)`,
    * the vector cast to `array<double>` and its norm computed once per row
    * (not once per pair). */
  private[ext] final case class Side(id: String, vec: String, norm: String) {
    /** The side's rows before the norm: `(id, carry…, vec)`. */
    def vectors(df: DataFrame, idCol: String, v: Column,
        carry: Column*): DataFrame =
      df.select(((col(idCol).as(id) +: carry) :+
        v.cast("array<double>").as(vec)): _*)
    def withNorm(df: DataFrame): DataFrame =
      df.withColumn(norm, Similarity.norm(col(vec)))
    def of(df: DataFrame, idCol: String, v: Column, carry: Column*): DataFrame =
      withNorm(vectors(df, idCol, v, carry: _*))
  }
  private val Corpus = Side("corpus_id", "cvec", "cnorm")
  private[ext] val Queries = Side("query_id", "qvec", "qnorm")

  /** `pairs` with the guarded cosine of side `c` against side `q` as `out`;
    * a zero vector's NULL drops its pair from candidacy. */
  private def scored(pairs: DataFrame, c: Side, q: Side, out: String): DataFrame =
    pairs.withColumn(out,
        cosineOver(col(c.vec), col(c.norm), col(q.vec), col(q.norm)))
      .filter(col(out).isNotNull)

  /** The per-query cut: number each query's rows by `order`, corpus id
    * breaking ties, and keep the first `k` (a `WindowGroupLimit` partial
    * top-k per partition). */
  private[ext] def perQuery(df: DataFrame, order: Column, k: Int,
      rankCol: String): DataFrame =
    df.withColumn(rankCol, row_number().over(
        Window.partitionBy(col("query_id")).orderBy(order, col("corpus_id"))))
      .filter(col(rankCol) <= k)

  /** The exact ranking every top-k here ends in: score the `(query,
    * corpus)` pairs of full vectors, cut each query at `k` on the 6 dp
    * cosine, and emit `(query_id, rank, corpus_id, carry…, cos)` with `cos`
    * at 6 dp. */
  private def rankExact(pairs: DataFrame, k: Int,
      carry: Seq[String] = Nil): DataFrame =
    perQuery(scored(pairs, Corpus, Queries, "cos"), round(col("cos"), 6).desc,
      k, "rank")
      .select(((Seq("query_id", "rank", "corpus_id") ++ carry).map(col) :+
        round(col("cos"), 6).as("cos")): _*)

  /** The verify half of every filter → verify search here (the JL
    * shortlist, PQ and IVFPQ candidates): join full vectors to the
    * candidate `(query_id, corpus_id, carry…)` rows and rank them exactly.
    * `queryVecs` holds each query's ORIGINAL vector as `(query_id, qvec)`
    * (`Queries.vectors`). */
  private[ext] def rerank(cand: DataFrame, corpus: DataFrame,
      queryVecs: DataFrame, k: Int, vecCol: String, idCol: String,
      carry: Seq[String] = Nil): DataFrame =
    rankExact(cand.join(Corpus.of(corpus, idCol, col(vecCol)), "corpus_id")
      .join(broadcast(Queries.withNorm(queryVecs)), "query_id"), k, carry)

  /** Every `(corpus, query)` pair of full vectors but a row with itself: a
    * cross join against the broadcast queries, or an equi-join on the
    * bucket when `bucketCol` is given. */
  private def pairs(corpus: DataFrame, queries: DataFrame,
      bucketCol: Option[String], vecCol: String, idCol: String): DataFrame = {
    val bkt = bucketCol.map(b => col(b).as("bkt")).toSeq
    val c = Corpus.of(corpus, idCol, col(vecCol), bkt: _*)
    val q = broadcast(Queries.of(queries, idCol, col(vecCol), bkt: _*))
    (if (bucketCol.isDefined) c.join(q, "bkt") else c.crossJoin(q))
      .filter(col("corpus_id") =!= col("query_id"))
  }

  /** Brute-force cosine top-k: for every query row (small set, broadcast),
    * the k nearest corpus rows. Norms are computed ONCE per vector in the
    * scan projection (not per pair); each pair costs a single dot product.
    * Deterministic: ties break on corpus id; a zero vector is no
    * candidate. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    rankExact(pairs(corpus, queries, None, vecCol, idCol), k)

  /** Bucket-pruned (IVF-style) top-k: only corpus rows whose bucket matches
    * the query's bucket are scanned — on partitioned storage this is
    * partition pruning, not a filter. [[bruteForceTopK]] with an equi-join
    * for the cross join. */
  def bucketTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      bucketCol: String, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    rankExact(pairs(corpus, queries, Some(bucketCol), vecCol, idCol), k)

  /** Random-hyperplane LSH bucket for a vector: bit i = sign(v · h_i) with
    * deterministic pseudo-random hyperplanes h_i[d] = ((1 + (i*31 + d*17)
    * mod 61) - 30.5). Vectors in the same bucket are likely high-cosine.
    * Native codegen kernel ([[graft.functions.HyperplaneBucket]]) — one
    * static dim×bits scan per row instead of an interpreted
    * `aggregate(zip_with(...))` per bit.
    *
    * NULL semantics: a NULL input vector yields a NULL bucket (standard
    * null-propagating expression), so null vectors land in the null-key
    * group under a groupBy — the pre-r5 lambda chain returned bucket 0 for
    * them; wrap with `coalesce(…, lit(0L))` if that behavior is wanted. */
  def hyperplaneBucket(vec: Column, bits: Int = 8): Column =
    graft.functions.HyperplaneBucket.column(vec.cast("array<double>"), bits)

  /** Embedding-based near-duplicate pairs: all pairs above a cosine
    * threshold inside each bucket (shuffle on bucket keys only). A zero
    * vector pairs with nothing (its cosine is NULL). */
  def embeddingNearDups(df: DataFrame, minCos: Double, bucketCol: String,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val t = Side("id", "v", "n")
      .of(df, idCol, col(vecCol), col(bucketCol).as("bkt"))
    t.as("l").join(t.as("r"),
        col("l.bkt") === col("r.bkt") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        round(cosineOver(col("l.v"), col("l.n"), col("r.v"), col("r.n")), 6)
          .as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): bucket the embeddings (a cluster id, a label, or
    * [[hyperplaneBucket]] — any deterministic partition), pair up
    * within-bucket rows with cosine ≥ `minCos`, connect the pairs into
    * duplicate groups, and keep only each group's min-id canonical; rows
    * in no pair survive untouched.
    *
    * Shape at 100 TB: the quadratic pair join is bucket-bounded
    * ([[embeddingNearDups]]), group closure is O(component-diameter)
    * label propagation ([[Dedup.connectedComponents]]), and the final cut
    * is one anti-join on ids. */
  def semanticDedup(df: DataFrame, minCos: Double, bucketCol: String,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val pairs = embeddingNearDups(df, minCos, bucketCol, vecCol, idCol)
    df.join(Dedup.nonCanonicalIds(pairs, idCol), Seq(idCol), "left_anti")
  }

  /** Johnson–Lindenstrauss RANDOM PROJECTION: compress `vecCol` to
    * `outDim` dimensions with the deterministic pseudo-random hyperplane
    * family [[hyperplaneBucket]] signs against
    * (h_i[d] = (1 + ((i·31 + d·17) mod 61)) − 30.5), scaled by 1/√outDim —
    * the standard cheap front-end for ANN and clustering when the raw
    * embedding width is the cost driver (distances are preserved within
    * (1±ε) at outDim = O(ln n / ε²), JL lemma).
    *
    * A narrow per-row map: outDim sequential-order dot products against
    * plan-literal hyperplanes — no shuffle, no model state, streaming-
    * safe, and bit-identical in any engine (exact half-integer weights,
    * fixed accumulation order; the projections are emitted UNROUNDED).
    * Output: (idCol, proj0 … proj{outDim−1}). */
  def randomProjection(df: DataFrame, outDim: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    projector(df, outDim, vecCol)(df).select(
      (col(idCol) +: (0 until outDim).map(i =>
        element_at(col("projv"), i + 1).as(s"proj$i"))): _*)

  /** Hyperplane i of the deterministic JL family (exact half-integers). */
  def jlPlane(i: Int, dim: Int): Array[Double] =
    Array.tabulate(dim)(d => (1.0 + ((i * 31 + d * 17) % 61)) - 30.5)

  // adds the projected vector as ONE array column, `projv` (single
  // formula site for randomProjection and projectedTopK); the input width
  // is read from `widthOf` once per call — one Spark job
  private def projector(widthOf: DataFrame, outDim: Int,
      vecCol: String): DataFrame => DataFrame = {
    val dim = widthOf.select(size(col(vecCol))).first().getInt(0)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val v = col(vecCol).cast("array<double>")
    _.withColumn("projv", array((0 until outDim).map(i =>
      dot(v, lit(jlPlane(i, dim))) * scale): _*))
  }

  /** JL-SHORTLISTED exact top-k: rank the corpus for each query in the
    * `outDim`-dim projected space, keep the `shortlist` best candidates,
    * exact-rerank ONLY those at full width — the standard
    * project→shortlist→rerank serving shape. Recall is governed by
    * `shortlist` (JL distance distortion shrinks as outDim grows); with
    * `shortlist ≥ corpus` the result IS brute force, which is how the
    * oracle checks it at budgeted settings too (both engines replay the
    * same deterministic projections, so the shortlist is identical).
    *
    * Shape at 100 TB: the scan-the-corpus stage touches outDim doubles
    * per row (dim/outDim less bandwidth and FLOPs than full-width brute
    * force) and shuffles only (query, corpus_id, pcos) into the per-query
    * top-N window (WindowGroupLimit bounds it per partition); full
    * vectors are joined back for shortlist SURVIVORS only — the PQ
    * re-rank discipline. Compose with [[bucketTopK]]/[[Ivf]] cells to
    * prune the scan itself. */
  def projectedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      outDim: Int, shortlist: Int, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    shortlistTopK(corpus, queries, k, outDim, shortlist,
      col("corpus_id") =!= col("query_id"), None, vecCol, idCol)

  /** The project → shortlist → re-rank body of [[projectedTopK]] and
    * [[hardNegatives]]: rank the pairs that pass `keep` in the
    * `outDim`-dim JL space (on the UNROUNDED projected cosine), keep each
    * query's `shortlist` best, and [[rerank]] only those at full width.
    * `label`, when given, rides from each side as `neg_label` (corpus) and
    * `qlabel` (query) for `keep` to compare; `neg_label` reaches the
    * output. */
  private def shortlistTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      outDim: Int, shortlist: Int, keep: Column, label: Option[String],
      vecCol: String, idCol: String): DataFrame = {
    val cp = Side("corpus_id", "cp", "cpn")
    val qp = Side("query_id", "qp", "qpn")
    // queries share the corpus's vector width (the full-width re-rank
    // compares them), so one width read serves both projections
    val proj = projector(corpus, outDim, vecCol)
    val c = cp.of(proj(corpus), idCol, col("projv"),
      label.map(l => col(l).as("neg_label")).toSeq: _*)
    val q = qp.of(proj(queries), idCol, col("projv"),
      label.map(l => col(l).as("qlabel")).toSeq: _*)
    val carry = label.map(_ => "neg_label").toSeq
    val keys = ("query_id" +: "corpus_id" +: carry).map(col)
    val short = perQuery(
        scored(c.crossJoin(broadcast(q)).filter(keep), cp, qp, "pcos")
          .select(keys :+ col("pcos"): _*),
        col("pcos").desc, shortlist, "prank")
      .select(keys: _*)
    rerank(short, corpus, Queries.vectors(queries, idCol, col(vecCol)), k,
      vecCol, idCol, carry)
  }

  /** Embedding CLUSTER MAP: assign every vector to its nearest of `k`
    * deterministic seed centroids (the `k` lowest-id vectors, squared-L2
    * nearest, ties toward the lower cluster index) and report each
    * cluster's population and coherence (mean cosine to its centroid) —
    * the corpus-level balance/diversity audit behind cluster-aware
    * pruning and mixture design (SemDeDup prunes WITHIN such clusters;
    * this maps them).
    *
    * Seeds, not Lloyd: iterated k-means centroids are deterministic only
    * up to float summation order (see [[Ivf.train]]), which no
    * cross-engine gate can pin; a reproducibility-gated report pins
    * centroids to actual corpus vectors so the assignment is bit-stable.
    * Callers wanting trained centroids run [[Ivf.train]] →
    * [[Ivf.assign]] and aggregate the same way.
    *
    * Shape at 100 TB: the seed pull is k·dim doubles to the driver;
    * assignment is a shuffle-free broadcast codegen map
    * ([[graft.functions.NearestCentroid]]); the report is one k-row
    * aggregate with map-side combine. */
  def clusterMap(df: DataFrame, k: Int, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val centroids = df.orderBy(col(idCol)).limit(k)
      .select(col(vecCol).cast("array<double>").as("c")).collect()
      .map(_.getSeq[Double](0).toArray)
    val session = df.sparkSession
    import session.implicits._
    val cdf = centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cluster", "c")
    df.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("cluster",
        graft.functions.NearestCentroid.column(col("v"), centroids))
      .join(broadcast(cdf), "cluster")
      // a zero vector's NULL cosine counts toward n but not toward the
      // coherence mean (NULL skips avg)
      .withColumn("cos2", cosine(col("v"), col("c")))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("cos2")), 6).as("mean_cos"))
  }

  /** HARD-NEGATIVE MINING — label-constrained nearest-neighbor search:
    * for each query (anchor), the `k` most cosine-similar corpus vectors
    * whose `labelCol` DIFFERS from the anchor's. High-similarity
    * wrong-label rows are the informative negatives for contrastive
    * training, and the same shape is general pre-filtered vector search
    * (the hard vector-DB case): the predicate is applied BEFORE the
    * shortlist window, so none of the candidate budget is spent on rows
    * the filter would discard — with a post-filter, a query whose top
    * `shortlist` projected neighbors all share its label would return
    * nothing.
    *
    * Execution is [[projectedTopK]]'s project→shortlist→rerank discipline
    * with the label carried through: the corpus scan touches `outDim`
    * doubles + one label per row, the per-query top-`shortlist` window
    * sees only cross-label pairs, and full-width vectors join back for
    * shortlist survivors only. `shortlist ≥ corpus` makes it exact. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      outDim: Int, shortlist: Int, labelCol: String = "label",
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    shortlistTopK(corpus, queries, k, outDim, shortlist,
      col("neg_label") =!= col("qlabel"), Some(labelCol), vecCol, idCol)

  /** MMR (Maximal Marginal Relevance, Carbonell & Goldstein 1998) DIVERSE
    * top-k: greedily select `k` of the query's `candidates` most-relevant
    * corpus vectors, each step maximizing
    * `lambda·rel(c) − (1−lambda)·max_{s∈S} sim(c, s)` — relevance traded
    * against redundancy with what is already selected. The serving-side
    * diversify step for retrieval/RAG and eval-set construction (top-k
    * without it returns k near-duplicates of the best hit).
    *
    * Stage 1 is the [[bruteForceTopK]] shape keeping the top `candidates`
    * per query (compose with [[projectedTopK]]/[[Ivf]] upstream to prune
    * the scan); stage 2 runs the O(k·candidates) greedy per query inside
    * one `mapGroups` over the bounded candidate set — the selection is
    * inherently sequential, but each group is `candidates` rows, so the
    * stage is embarrassingly parallel ACROSS queries and state never
    * exceeds candidates·dim doubles.
    *
    * Determinism: every score is built from fixed-order dot products and
    * the exact form `lambda·rel − (1−lambda)·maxSim` (1−lambda computed
    * once); ties break toward the lower corpus id; candidate membership
    * cuts on the 6 dp-rounded relevance like every top-k here. */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      lambda: Double, candidates: Int, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val session = corpus.sparkSession
    import session.implicits._
    val cand = perQuery(
        scored(pairs(corpus, queries, None, vecCol, idCol), Corpus, Queries,
          "rel"),
        round(col("rel"), 6).desc, candidates, "crank")
      .select(col("query_id"), col("corpus_id"), col("rel"), col("cvec"))
      .as[(Long, Long, Double, Seq[Double])]
    val oneMinus = 1.0 - lambda
    cand.groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val rows = it.toArray.sortBy(_._2) // id order; scores decide below
        val vecs = rows.map(_._4.toArray)
        val norms = vecs.map { v =>
          var s = 0.0; var i = 0
          while (i < v.length) { s += v(i) * v(i); i += 1 }
          math.sqrt(s)
        }
        def sim(a: Int, b: Int): Double = {
          val va = vecs(a); val vb = vecs(b)
          var s = 0.0; var i = 0
          while (i < va.length) { s += va(i) * vb(i); i += 1 }
          s / (norms(a) * norms(b))
        }
        val n = rows.length
        val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
        val maxSim = Array.fill(n)(Double.NegativeInfinity)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
        var step = 1
        while (step <= k && selected.length < n) {
          var best = -1; var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < n) {
            if (!selected.contains(i)) {
              val score =
                if (selected.isEmpty) rows(i)._3
                else lambda * rows(i)._3 - oneMinus * maxSim(i)
              // strict improvement wins; ties keep the lower corpus id
              // (rows are id-sorted, so the first seen wins ties)
              if (score > bestScore) { best = i; bestScore = score }
            }
            i += 1
          }
          selected += best
          out += ((qid, step, rows(best)._2, rows(best)._3))
          var j = 0
          while (j < n) {
            if (!selected.contains(j)) {
              val s = sim(j, best)
              if (s > maxSim(j)) maxSim(j) = s
            }
            j += 1
          }
          step += 1
        }
        out.iterator
      }
      .toDF("query_id", "mmr_rank", "corpus_id", "rel")
      .withColumn("rel", round(col("rel"), 6))
  }

  /** D4-style PROTOTYPICALITY scores (Tirumala et al. 2023 "D4"): each
    * vector's cosine to its [[clusterMap]] seed centroid, ranked within
    * its cluster (rank 1 = most prototypical), with the top `dropFrac`
    * of every cluster flagged for removal. After near-duplicates are
    * gone (SemDeDup), the most prototypical points are the semantically
    * redundant mass near each cluster center — dropping them is the
    * diversify step of the D4 recipe; the flag makes the cut auditable
    * instead of silent.
    *
    * Determinism: centroids are the `k` lowest-id corpus vectors (seed
    * centroids, not Lloyd means — see [[clusterMap]]); ranking orders by
    * the 6 dp-rounded cosine with id tiebreak; zero vectors (undefined
    * cosine, NULL) rank last via a −2 sentinel that no real cosine can
    * reach. `dropFrac` should be a binary-exact fraction (0.25, 0.5) so
    * `ceil(dropFrac · n)` is the same double in every engine.
    *
    * Shape at 100 TB: assignment is the same shuffle-free broadcast
    * codegen map as [[clusterMap]]; rank and cluster size share ONE
    * shuffle-by-cluster exchange (both windows partition identically).
    * k must exceed the executor-partition row count for the window state
    * to matter; per-cluster skew is bounded by the corpus balance the
    * [[clusterMap]] report itself audits. */
  def prototypicality(df: DataFrame, k: Int, dropFrac: Double,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val centroids = df.orderBy(col(idCol)).limit(k)
      .select(col(vecCol).cast("array<double>").as("c")).collect()
      .map(_.getSeq[Double](0).toArray)
    val session = df.sparkSession
    import session.implicits._
    val cdf = centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cluster", "c")
    val wr = Window.partitionBy(col("cluster"))
      .orderBy(coalesce(col("cos"), lit(-2.0)).desc, col(idCol))
    val wn = Window.partitionBy(col("cluster"))
    df.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("cluster",
        graft.functions.NearestCentroid.column(col("v"), centroids))
      .join(broadcast(cdf), "cluster")
      .withColumn("cos", round(cosine(col("v"), col("c")), 6))
      .withColumn("rnk", row_number().over(wr))
      .withColumn("n", count(lit(1)).over(wn))
      .withColumn("drop_flag",
        when(col("rnk") <= ceil(lit(dropFrac) * col("n")), 1).otherwise(0))
      .select(col(idCol), col("cluster"), col("cos"), col("rnk"),
        col("n"), col("drop_flag"))
  }

  /** CLUSTER QUALITY via the SIMPLIFIED SILHOUETTE (Hruschka et al. 2004):
    * per point, a = L2 distance to its OWN cluster centroid, b = min
    * distance to any OTHER centroid, s = (b − a) / max(a, b); reported as
    * the per-cluster mean. The O(n²) classical silhouette is replaced by
    * an O(n·k) centroid form — the only version that exists at corpus
    * scale — and it is the standard health check after [[clusterMap]] /
    * IVF training: a cluster whose mean s ≲ 0 is absorbing its
    * neighbours' points.
    *
    * Shape at 100 TB: centroids come from ONE posexplode aggregation that
    * collapses map-side to k·d cells; the k×d centroid table is rebuilt
    * as arrays and broadcast, so scoring is a shuffle-free per-row map
    * over the scan; the final per-cluster mean is a k-row aggregate.
    * Determinism: distances are compared on 6 dp-rounded values with a
    * centroid-id tiebreak, so `b`'s argmin is engine-portable. Output:
    * (cluster, n, mean_a, mean_silhouette) at 6 dp, ordered by cluster. */
  def clusterQuality(df: DataFrame, clusterCol: String,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val pts = df.select(col(clusterCol).as("cluster"), col(idCol),
      col(vecCol).cast("array<double>").as("v"))
    val cents = pts
      .select(col("cluster"), posexplode(col("v")).as(Seq("d", "x")))
      .groupBy(col("cluster"), col("d")).agg(avg(col("x")).as("m"))
      .groupBy(col("cluster"))
      .agg(array_sort(collect_list(struct(col("d"), col("m")))).as("ps"))
      .select(col("cluster").as("ccl"),
        expr("transform(ps, p -> p.m)").as("c"))
    val dist = sqrt(aggregate(zip_with(col("v"), col("c"),
        (x: Column, y: Column) => (x - y) * (x - y)),
      lit(0.0), (acc: Column, t: Column) => acc + t))
    val scored = pts.crossJoin(broadcast(cents))
      .select(col("cluster"), col(idCol), col("ccl"),
        round(dist, 6).as("dd"))
    val a = scored.filter(col("cluster") === col("ccl"))
      .select(col("cluster"), col(idCol), col("dd").as("a"))
    val b = scored.filter(col("cluster") =!= col("ccl"))
      .groupBy(col("cluster"), col(idCol)).agg(min(col("dd")).as("b"))
    a.join(b, Seq("cluster", idCol))
      .withColumn("s", when(greatest(col("a"), col("b")) > 0,
        (col("b") - col("a")) / greatest(col("a"), col("b")))
        .otherwise(lit(0.0)))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), round(avg(col("a")), 6).as("mean_a"),
        round(avg(col("s")), 6).as("mean_silhouette"))
  }

  /** INT8 SCALAR QUANTIZATION of an embedding column — the storage path of
    * an ANN stack: per-dimension corpus min/max affine-maps each float to
    * a signed byte (4× memory vs float32, 8× vs the double compute form),
    * the standard serving-store compression when PQ's codebook training
    * is overkill. Returns the quantized vector plus the per-vector
    * reconstruction MSE so recall regressions are auditable BEFORE the
    * store swap.
    *
    * Shape at 100 TB: the dim-stats aggregation collapses map-side to d
    * cells; the d-length lo/hi arrays broadcast; quantization and the MSE
    * are then one shuffle-free per-row HOF map. Determinism: the affine
    * arithmetic is a fixed left-associated form, `round` sees only
    * non-negative arguments (both engines round ties away from zero
    * there), and constant dims quantize to 0 with exact-lo
    * reconstruction. Output: (idCol, q array<tinyint>, mse at 6 dp). */
  def scalarQuantize(df: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val dims = df
      .select(posexplode(col(vecCol).cast("array<double>"))
        .as(Seq("d", "x")))
      .groupBy(col("d")).agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("d"), col("lo"), col("hi"))))
        .as("ds"))
      .select(expr("transform(ds, p -> p.lo)").as("los"),
        expr("transform(ds, p -> p.hi)").as("his"))
    df.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .crossJoin(broadcast(dims))
      .withColumn("q", expr(
        """transform(v, (x, i) -> CAST(
             CASE WHEN element_at(his, i + 1) > element_at(los, i + 1)
             THEN round((x - element_at(los, i + 1)) * 255.0 /
               (element_at(his, i + 1) - element_at(los, i + 1))) - 128
             ELSE 0 END AS TINYINT))"""))
      .withColumn("_xr", expr(
        """transform(v, (x, i) ->
             CASE WHEN element_at(his, i + 1) > element_at(los, i + 1)
             THEN element_at(los, i + 1) +
               round((x - element_at(los, i + 1)) * 255.0 /
                 (element_at(his, i + 1) - element_at(los, i + 1))) *
               (element_at(his, i + 1) - element_at(los, i + 1)) / 255.0
             ELSE element_at(los, i + 1) END)"""))
      // empty-vector guard: size(v) = 0 would fault the ANSI division;
      // an empty embedding has no reconstruction error to report → NULL
      .withColumn("mse", when(size(col("v")) > 0, round(expr(
        """aggregate(zip_with(v, _xr, (a, b) -> (a - b) * (a - b)),
           CAST(0.0 AS DOUBLE), (s, t) -> s + t) / size(v)"""), 6)))
      .select(col(idCol), col("q"), col("mse"))
  }

  /** RECIPROCAL RANK FUSION (Cormack, Clarke & Buettcher 2009): merge two
    * retrieval rankings — canonically a sparse (BM25) and a dense (ANN
    * cosine) run — into one list by Σ 1/(k + rank), the standard hybrid
    * step of a RAG / training-data retrieval stack. Score-scale-free by
    * construction, so the two runs need no calibration. A doc present in
    * only one run contributes only that run's term (the other is 0, the
    * conventional full-list limit).
    *
    * Shape at 100 TB: each input is already a top-N retrieval result
    * (driver-bounded), so ranking windows and the full-outer merge run on
    * ≤ 2N rows — the fusion itself never touches the corpus. Determinism:
    * ranks order by 6 dp-rounded score with id tiebreak; the fused order
    * ties break on id. Output: (idCol, rank_a, rank_b, rrf) at 6 dp,
    * best-first, top `topN`. */
  def rrfFuse(runA: DataFrame, runB: DataFrame, idCol: String,
      scoreCol: String = "score", k: Int = 60, topN: Int = 10): DataFrame = {
    def ranked(df: DataFrame, rn: String) = rankRun(df, Nil, idCol, scoreCol, rn)
    ranked(runA, "rank_a").join(ranked(runB, "rank_b"), Seq(idCol), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(k) + col("rank_a")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(k) + col("rank_b")), lit(0.0)), 6))
      .orderBy(col("rrf").desc, col(idCol))
      .limit(topN)
  }

  /** Per-query [[rrfFuse]] — the MULTI-QUERY serving shape of the hybrid
    * retrieval step: fuse two runs of (queryCol, idCol, scoreCol) rows,
    * ranking within each query (window partitioned by query, 6 dp-rounded
    * score desc, id tiebreak), full-outer-merging on (query, id), and
    * keeping the top `topN` fused rows PER QUERY.
    *
    * Shape at 100 TB: both inputs are per-query top-N retrieval results,
    * so every stage is bounded by queries × N rows hash-partitioned on
    * the query key — parallelism grows with query count, the corpus
    * never appears. Output: (queryCol, idCol, rank_a, rank_b, rrf). */
  def rrfFuseBy(runA: DataFrame, runB: DataFrame, queryCol: String,
      idCol: String, scoreCol: String = "score", k: Int = 60,
      topN: Int = 10): DataFrame = {
    def ranked(df: DataFrame, rn: String) =
      rankRun(df, Seq(queryCol), idCol, scoreCol, rn)
    ranked(runA, "rank_a")
      .join(ranked(runB, "rank_b"), Seq(queryCol, idCol), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(k) + col("rank_a")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(k) + col("rank_b")), lit(0.0)), 6))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col(queryCol))
          .orderBy(col("rrf").desc, col(idCol))))
      .filter(col("_rn") <= topN).drop("_rn")
  }

  /** A retrieval run's rows as `(by…, idCol, rn)`, `rn` numbering each
    * `by` group (the whole run when `by` is empty) on the 6 dp-rounded
    * score, id tiebreak — the ranking [[rrfFuse]], [[rrfFuseBy]] and
    * [[rbo]] share. */
  private def rankRun(df: DataFrame, by: Seq[String], idCol: String,
      scoreCol: String, rn: String): DataFrame =
    df.select((by :+ idCol).map(col) :+ round(col(scoreCol), 6).as("_s"): _*)
      .withColumn(rn, row_number().over(Window.partitionBy(by.map(col): _*)
        .orderBy(col("_s").desc, col(idCol))))
      .select((by :+ idCol :+ rn).map(col): _*)

  /** [[rbo]]'s per-rank suffix weights `w(m) = Σ_{k=m..depth} p^(k−1)/k`,
    * computed ONCE in fixed order on the driver — public so an external
    * SQL checker interpolates the IDENTICAL doubles instead of re-deriving
    * them with its own pow/fold order. */
  def rboWeights(p: Double, depth: Int): IndexedSeq[Double] = {
    val terms = (1 to depth).map(k => math.pow(p, k - 1) / k)
    terms.indices.map(m => terms.drop(m).foldRight(0.0)(_ + _))
  }

  /** RANK-BIASED OVERLAP (Webber et al. 2010, truncated at `depth`):
    * top-weighted similarity of two RANKINGS — the run-comparison audit
    * next to [[rrfFuse]]'s run-merge ("how differently do BM25 and the
    * dense run rank?" asked before fusing them, or across index builds /
    * re-embeddings as a drift check). `RBO = (1−p)·Σ_k p^(k−1)·|A_k∩B_k|/k`
    * regrouped per DOC: a doc first co-present at rank `m = max(ra, rb)`
    * contributes the suffix weight w(m) — so the computation is one join
    * of the two top-`depth` lists plus a `depth`-branch weight lookup, no
    * per-k loop. Ranks recompute on the 6 dp-rounded score with id
    * tiebreak (the [[rrfFuse]] convention).
    *
    * Two numbers: `rbo` is the truncated prefix sum (mass ≤ 1 − p^depth
    * by construction — identical prefixes score exactly 1 − p^depth),
    * and `rbo_ext` is Webber's extrapolated point estimate
    * `rbo + p^depth · overlap/depth` (agreement beyond the horizon
    * assumed to stay at the observed rate) — identical prefixes
    * extrapolate to exactly 1, disjoint to 0.
    * Bounded inputs (two top-N lists): scale-free by construction.
    * Returns one row: (depth, overlap, rbo, rbo_ext). */
  def rbo(runA: DataFrame, runB: DataFrame, idCol: String,
      scoreCol: String = "score", p: Double = 0.9,
      depth: Int = 10): DataFrame = {
    require(p > 0 && p < 1, s"p $p")
    require(depth > 0, s"depth $depth")
    def ranked(df: DataFrame, rn: String) =
      rankRun(df, Nil, idCol, scoreCol, rn).filter(col(rn) <= depth)
    val w = rboWeights(p, depth)
    val joined = ranked(runA, "rank_a")
      .join(ranked(runB, "rank_b"), Seq(idCol))
      .withColumn("_m", greatest(col("rank_a"), col("rank_b")))
    val weight = (1 to depth).foldLeft(lit(0.0): Column) { (acc, m) =>
      when(col("_m") === m, lit(w(m - 1))).otherwise(acc)
    }
    joined.agg(count(lit(1)).as("overlap"),
        coalesce(sum(weight), lit(0.0)).as("_ws"))
      .select(lit(depth).as("depth"), col("overlap"),
        round(lit(1.0 - p) * col("_ws"), 6).as("rbo"),
        round(lit(1.0 - p) * col("_ws") +
          lit(math.pow(p, depth)) * col("overlap").cast("double") /
            lit(depth.toDouble), 6).as("rbo_ext"))
  }

  /** Element-wise corpus mean of an embedding column — ONE
    * [[graft.agg.VectorMeanAgg]] reduce, d doubles to the driver. */
  def embeddingMean(df: DataFrame,
      vecCol: String = "embedding"): Array[Double] = {
    val m = df.select(col(vecCol).cast("array<double>").as("x"))
      .agg(graft.agg.VectorMeanAgg.column(col("x")).as("m"))
      .head().getSeq[Double](0)
    require(m.nonEmpty, "embeddingMean: empty corpus")
    m.toArray
  }

  /** EMBEDDING DRIFT between two corpus slices (snapshots, sources, the
    * trained-vs-live split behind an [[Ivf]] store): cosine of the mean
    * vectors and the L2 distance between them — the embedding-space
    * analogue of [[Outliers.psiDrift]], and the alarm that tells an
    * incrementally-appended ANN store ([[Ivf.appendToStore]]) its
    * centroids have gone stale. Two [[embeddingMean]] reduces; the
    * comparison is d driver-side doubles in fixed sequential order.
    * Returns one row: (n_base, n_live, mean_cos, mean_l2); cos is NULL
    * if either mean is the zero vector. */
  def embeddingDrift(base: DataFrame, live: DataFrame,
      vecCol: String = "embedding"): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val ma = embeddingMean(base, vecCol)
    val mb = embeddingMean(live, vecCol)
    require(ma.length == mb.length,
      s"embeddingDrift: dim ${ma.length} vs ${mb.length}")
    val nb = base.count()
    val nl = live.count()
    val dotAb = ma.zip(mb).map { case (a, b) => a * b }.sum
    val na = math.sqrt(ma.map(z => z * z).sum)
    val nbn = math.sqrt(mb.map(z => z * z).sum)
    val cos: Option[Double] =
      if (na > 0 && nbn > 0) Some(dotAb / (na * nbn)) else None
    val l2 = math.sqrt(
      ma.zip(mb).map { case (a, b) => (a - b) * (a - b) }.sum)
    Seq((nb, nl, cos, l2)).toDF("n_base", "n_live", "_c", "_l")
      .select(col("n_base"), col("n_live"),
        round(col("_c"), 6).as("mean_cos"), round(col("_l"), 6).as("mean_l2"))
  }

  /** [[embeddingDrift]] PER SLICE — each slice's mean embedding vs the
    * REST of the corpus's ("which source's embedding space moved?"), the
    * embedding member of the by-slice drift views
    * ([[graft.ext.Eval.ksTestBy]] / [[graft.ext.Outliers.psiDriftBy]]).
    * Fully distributed, one corpus pass: per-slice (mean, count) via ONE
    * [[graft.agg.VectorMeanAgg]] aggregation (slice count gated by
    * [[graft.util.GridGuard]] on the pinned slice table — a slice key,
    * not a row id), then the rest-side mean derives per dimension as
    * `(Σ_g n_g·m_g − n_g·m_g) / (n − n_g)` over the exploded
    * |slices| × d dim table — global-minus-own, the house by-slice
    * derivation, so slicing costs no second corpus pass. Cosine uses the
    * single-sqrt form `dot / sqrt(‖a‖²·‖b‖²)` (exact ±1 on perfect
    * alignment, the spearman lesson).
    *
    * Each row ≈ `embeddingDrift(rest, own)` for that slice —
    * property-pinned at 1e-6: the member averages the rest's ROWS
    * directly while this derives the rest mean from slice means, so the
    * two differ by float summation order, inside the 6 dp emission
    * grain. A single-slice input has an empty rest side → NULL cos/l2
    * (guarded divisions, the ANSI discipline). Returns one row per
    * slice: (groupCol, n_g, n_rest, mean_cos, mean_l2), 6 dp-rounded. */
  def embeddingDriftBy(df: DataFrame, groupCol: String,
      vecCol: String = "embedding"): DataFrame = scoped { sc =>
    val base = df.select(col(groupCol).as("_g"),
        col(vecCol).cast("array<double>").as("_x"))
      .filter(col("_g").isNotNull && col("_x").isNotNull)
    val pm = graft.util.GridGuard.gateTable(
      base.groupBy(col("_g"))
        .agg(count(lit(1)).as("n_g"),
          graft.agg.VectorMeanAgg.column(col("_x")).as("_m")),
      "embeddingDriftBy", groupCol)
    val dims = pm.select(col("_g"), col("n_g"),
      posexplode(col("_m")).as(Seq("_j", "_mj")))
    val glob = dims.groupBy(col("_j"))
      .agg(sum(col("_mj") * col("n_g").cast("double")).as("_sj"))
    val tot = pm.agg(sum(col("n_g")).as("n"))
    val rest = dims.join(broadcast(glob), Seq("_j"))
      .crossJoin(broadcast(tot))
      .withColumn("_rj",
        when(col("n") > col("n_g"),
          (col("_sj") - col("_mj") * col("n_g").cast("double")) /
            (col("n") - col("n_g")).cast("double")))
    val per = rest.groupBy(col("_g"), col("n_g"), col("n"))
      .agg(sum(col("_mj") * col("_rj")).as("_dot"),
        sum(col("_mj") * col("_mj")).as("_na2"),
        sum(col("_rj") * col("_rj")).as("_nb2"),
        sum((col("_mj") - col("_rj")) * (col("_mj") - col("_rj")))
          .as("_l22"))
    per.select(col("_g").as(groupCol), col("n_g"),
      (col("n") - col("n_g")).as("n_rest"),
      round(when(col("_na2") > 0 && col("_nb2") > 0,
        col("_dot") / sqrt(col("_na2") * col("_nb2"))), 6).as("mean_cos"),
      round(when(col("n") > col("n_g"), sqrt(col("_l22"))), 6)
        .as("mean_l2"))
  }

  /** [[embeddingDriftWindowed]]'s baseline inputs from the reference
    * slice (the store's training corpus): (mean vector, row count) — run
    * once against the snapshot, hold on the driver / in the job config,
    * the [[Outliers.psiBaseline]] convention. */
  def embeddingDriftBaseline(df: DataFrame,
      vecCol: String = "embedding"): (Array[Double], Long) =
    (embeddingMean(df, vecCol), df.count())

  /** STREAMING-SHAPED [[embeddingDrift]]: the live slice's mean vector
    * per EVENT-TIME window (and per `slice` value, when given), compared
    * against a DRIVER-HELD baseline mean (from [[embeddingDriftBaseline]]
    * on the store's training corpus) — the alarm that tells an
    * incrementally-appended ANN store its centroids have gone stale, as a
    * standing monitor instead of a batch audit. ONE stateful windowed
    * aggregation whose per-cell state is d+1 doubles
    * ([[graft.agg.VectorMeanAgg]]'s buffer — bounded regardless of event
    * rate; the watermark expires old windows), then a narrow per-cell
    * projection computing cosine/L2 against the baseline literal. Every
    * slice compares against the same driver-held baseline, not against
    * the rest ([[embeddingDriftBy]] is the rest-relative batch lens). The
    * same plan runs batch or streaming (add `withWatermark` upstream);
    * batch ≡ stream, per-window batch ≡ [[embeddingDrift]] on the
    * window's rows, and a sliced cell ≡ the unsliced form on the slice
    * substream are suite-pinned.
    *
    * Returns (ws, [slice,] n_live, mean_cos, mean_l2) per cell,
    * 6 dp-rounded; cos is NULL if either mean is the zero vector. */
  def embeddingDriftWindowed(df: DataFrame, tsCol: String,
      vecCol: String, baseMean: Array[Double], windowDur: String = "1 day",
      slice: Option[String] = None): DataFrame = {
    require(baseMean.nonEmpty, "embeddingDriftWindowed: empty baseline")
    Outliers.CellLens(Seq("_x" -> col(vecCol).cast("array<double>")),
        _ => Seq(count(lit(1)).as("_n"),
          graft.agg.VectorMeanAgg.column(col("_x")).as("_m")),
        ("n_live" -> col("_n")) +: baselineDriftFields(baseMean))
      .cells(df, tsCol, windowDur, slice)
  }

  /** Cosine/L2 of a cell's mean `_m` against the driver-held baseline —
    * the narrow per-cell projection after the stateful aggregation. */
  private def baselineDriftFields(
      baseMean: Array[Double]): Seq[(String, Column)] = {
    val mb = array(baseMean.map(lit(_)).toIndexedSeq: _*)
    val nb = math.sqrt(baseMean.map(z => z * z).sum)
    // a live dim that disagrees with the baseline fails LOUDLY (the
    // VectorMeanAgg convention) instead of zip_with null-padding its way
    // to silent NULL metrics; an all-null-vector window stays NULL
    val m = when(col("_m").isNull || size(col("_m")) === baseMean.length,
        col("_m"))
      .otherwise(raise_error(concat(
        lit("embeddingDriftWindowed: live dim "),
        size(col("_m")).cast("string"),
        lit(s" != baseline dim ${baseMean.length}"))))
    def fold(c: Column) = aggregate(c, lit(0.0), (acc, x) => acc + x)
    val dotAb = fold(zip_with(m, mb, (a, b) => a * b))
    val nl = sqrt(fold(transform(m, a => a * a)))
    val l2 = sqrt(fold(zip_with(m, mb, (a, b) => (a - b) * (a - b))))
    Seq("mean_cos" ->
        round(when(nl > 0 && lit(nb) > 0, dotAb / (nl * lit(nb))), 6),
      "mean_l2" -> round(l2, 6))
  }

  /** TOP PRINCIPAL COMPONENT of the embedding corpus by POWER ITERATION
    * (von Mises iteration over the centered covariance, never
    * materializing the d×d matrix): per round one scan computing
    * `s_i = (x_i − μ)·v` (the [[dot]] codegen kernel) and the d-vector
    * mean of `s_i·(x_i − μ)` (one [[graft.agg.VectorMeanAgg]] reduce),
    * then a d-double driver normalize — the [[graft.ext.TextAnalysis.logisticTrain]]
    * shape applied to spectral analysis. The dominant direction of an
    * embedding store drives whitening decisions, anisotropy diagnostics
    * (the ANN recall probe's isotropic-corpus finding made quantitative)
    * and JL-vs-PCA projection choices.
    *
    * Deterministic: v₀ = 1/√d (exact for power-of-two d), identical
    * arithmetic shapes replayable in SQL (dot = sequential fold; mean =
    * sum/n; normalize = w_j/‖w‖); both engines walk the same trajectory
    * so even the SIGN agrees without a convention. Rounds are scans, not
    * joins — no shuffle at all beyond the two reduces per round. */
  /** One covariance mat-vec `C·v = mean((x−μ)·v · (x−μ))` — the shared
    * kernel of the power-iteration family: one scan, one VectorMeanAgg
    * reduce, d doubles back. */
  private def covMatvec(x: DataFrame, mu: Array[Double],
      v: Array[Double]): Array[Double] = {
    val muCol = array(mu.map(lit(_)).toIndexedSeq: _*)
    val vCol = array(v.map(lit(_)).toIndexedSeq: _*)
    val base = x.select(
      zip_with(col("x"), muCol, (xi, mi) => xi - mi).as("c"))
    val s = dot(col("c"), vCol)
    base.select(transform(col("c"), ci => ci * s).as("g"))
      .agg(graft.agg.VectorMeanAgg.column(col("g")).as("w"))
      .head().getSeq[Double](0).toArray
  }

  def pcaTopComponent(df: DataFrame, vecCol: String = "embedding",
      iters: Int = 5): Array[Double] = {
    val x = df.select(col(vecCol).cast("array<double>").as("x"))
    val mu = embeddingMean(df, vecCol)
    val d = mu.length
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    for (_ <- 1 to iters) {
      val w = covMatvec(x, mu, v)
      val nrm = math.sqrt(w.map(z => z * z).sum)
      require(nrm > 0, "pcaTopComponent: zero-variance corpus")
      v = w.map(_ / nrm)
    }
    v
  }

  /** SECOND PRINCIPAL COMPONENT by power iteration with per-round
    * Gram–Schmidt against [[pcaTopComponent]]'s direction (projection
    * deflation — no explicit deflated matrix, no λ₁ needed): each round
    * is the same [[covMatvec]] scan, then a d-double driver
    * orthogonalize-and-normalize. Two components give the 2-D cluster /
    * outlier map ([[pcaProject]] per axis) and the next term of the
    * variance account. Deterministic like the first component; both
    * engines replay the identical trajectory. */
  def pcaSecondComponent(df: DataFrame, vecCol: String = "embedding",
      iters: Int = 5): Array[Double] = {
    val x = df.select(col(vecCol).cast("array<double>").as("x"))
    val mu = embeddingMean(df, vecCol)
    val v1 = pcaTopComponent(df, vecCol, iters)
    val d = mu.length
    def orthoNormalize(w: Array[Double]): Array[Double] = {
      val proj = w.zip(v1).map { case (wi, vi) => wi * vi }.sum
      val o = w.zip(v1).map { case (wi, vi) => wi - proj * vi }
      val nrm = math.sqrt(o.map(z => z * z).sum)
      require(nrm > 1e-12,
        "pcaSecondComponent: degenerate second direction " +
          "(rank-1 corpus or start parallel to v1)")
      o.map(_ / nrm)
    }
    var v = orthoNormalize(Array.fill(d)(1.0 / math.sqrt(d.toDouble)))
    for (_ <- 1 to iters) v = orthoNormalize(covMatvec(x, mu, v))
    v
  }

  /** Per-row PROJECTION onto [[pcaTopComponent]]'s direction — the
    * corpus' dominant-axis coordinate as a scalar feature column
    * (cluster/outlier maps, 1-D stratification, whitening's first step).
    * Scoring is a shuffle-free codegen map over the scan. */
  def pcaProject(df: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id", iters: Int = 5,
      outCol: String = "pc1"): DataFrame = {
    val mu = embeddingMean(df, vecCol)
    val v = pcaTopComponent(df, vecCol, iters)
    val muCol = array(mu.map(lit(_)).toIndexedSeq: _*)
    val vCol = array(v.map(lit(_)).toIndexedSeq: _*)
    df.select(col(idCol),
      round(dot(zip_with(col(vecCol).cast("array<double>"), muCol,
        (xi, mi) => xi - mi), vCol), 6).as(outCol))
  }

  /** DIAGONAL-MAHALANOBIS OUTLIER SCORES over the embedding corpus:
    * `z²(x) = Σ_j ((x_j − μ_j)/σ_j)²` with per-dimension corpus mean and
    * sample std — the embedding-space outlier gate (mis-embedded docs,
    * adversarial inputs, pipeline NaN-ish artifacts) that complements
    * the text-side [[graft.ext.Outliers.robustFlags]] and the
    * cluster-relative prototypicality score. The diagonal form skips the
    * d×d covariance inverse — exactly what's defensible at 100 TB, and
    * consistent after a whitening/PCA rotation.
    *
    * Two [[graft.agg.VectorMeanAgg]] reduces (x and x²) give μ and σ as
    * driver doubles (σ² = (E[x²] − μ²)·n/(n−1)); zero-variance
    * dimensions are excluded from the sum (they carry no signal and
    * would fault the division). Scoring is a shuffle-free codegen map;
    * the top-k cut is a TakeOrderedAndProject.
    * Returns the `k` highest-scoring rows: (idCol, score desc, id asc). */
  def embeddingOutliers(df: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id", k: Int = 20): DataFrame = {
    // stats and count over the SAME non-null subset: VectorMeanAgg skips
    // null vectors, so counting them in n would skew the ddof factor
    val nn = df.filter(col(vecCol).isNotNull)
    val mu = embeddingMean(nn, vecCol)
    val m2 = nn.select(col(vecCol).cast("array<double>").as("x"))
      .select(transform(col("x"), xi => xi * xi).as("x2"))
      .agg(graft.agg.VectorMeanAgg.column(col("x2")).as("m"))
      .head().getSeq[Double](0).toArray
    val n = nn.count()
    require(n > 1, "embeddingOutliers: need at least 2 vectors")
    val factor = n.toDouble / (n - 1).toDouble
    val sig = m2.zip(mu).map { case (s2, m) =>
      math.sqrt((s2 - m * m) * factor)
    }
    // zero-variance dims contribute 0 via a 0-multiplier instead of a
    // faulting division
    val invSig = sig.map(s => if (s > 0) 1.0 / s else 0.0)
    val muCol = array(mu.map(lit(_)).toIndexedSeq: _*)
    val invCol = array(invSig.map(lit(_)).toIndexedSeq: _*)
    val z = zip_with(
      zip_with(col(vecCol).cast("array<double>"), muCol,
        (xi, mi) => xi - mi),
      invCol, (ci, si) => ci * si)
    df.select(col(idCol), round(dot(z, z), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Variance account of [[pcaTopComponent]]'s direction: one row
    * `(n, lambda, total_var, explained)` — λ = mean((x−μ)·v)² (the
    * Rayleigh quotient at the returned v), total variance = mean ‖x−μ‖²
    * (= trace of the covariance), explained = λ/total. The scalar answer
    * to "is this store anisotropic enough that PCA projection beats a
    * random (JL) one?". One final scan. */
  def pcaVarianceReport(df: DataFrame, vecCol: String = "embedding",
      iters: Int = 5): DataFrame = {
    val mu = embeddingMean(df, vecCol)
    val v = pcaTopComponent(df, vecCol, iters)
    val muCol = array(mu.map(lit(_)).toIndexedSeq: _*)
    val vCol = array(v.map(lit(_)).toIndexedSeq: _*)
    val base = df.select(col(vecCol).cast("array<double>").as("x"))
      .select(zip_with(col("x"), muCol, (xi, mi) => xi - mi).as("c"))
    val s = dot(col("c"), vCol)
    base.select((s * s).as("s2"), dot(col("c"), col("c")).as("cc"))
      .agg(count(lit(1)).as("n"), avg(col("s2")).as("_l"),
        avg(col("cc")).as("_t"))
      .select(col("n"), round(col("_l"), 6).as("lambda"),
        round(col("_t"), 6).as("total_var"),
        round(col("_l") / col("_t"), 6).as("explained"))
  }
}
