package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{NearestCentroid, PqAdc}
import graft.util.Checkpoints.owning

/** Product quantization for embedding compression + two-stage ANN — the
  * FAISS-style IVFPQ construction from public literature (Jégou et al.,
  * "Product Quantization for Nearest Neighbor Search", PAMI 2011).
  *
  * The vector dim is split into `m` subspaces of `dsub = dim/m`; each
  * subspace gets its own `ksub`-centroid k-means codebook; a vector is
  * stored as the `m` per-subspace nearest-centroid indices. At 100 TB the
  * point is storage/shuffle compression: a 768-dim float64 row (6 KB)
  * becomes `m` small ints (≈`m` bytes semantically) — the candidate scan
  * and its shuffle shrink ~100×, and only the final re-rank touches full
  * vectors, for exactly the top-R candidate rows per query.
  *
  * Search = asymmetric distance (full query vs reconstructed code,
  * [[graft.functions.PqAdc]] — one static codegen call per pair) → per-query
  * top-R candidate cut → exact cosine re-rank of candidates only. */
object Pq {

  /** m × ksub × dsub codebooks. */
  final case class Codebooks(m: Int, dsub: Int,
      centroids: Array[Array[Array[Double]]])

  /** Train all m codebooks JOINTLY — one Lloyd iteration is ONE shuffle
    * over (subspace, cell) keys, not m sequential k-means runs. The
    * corpus explodes once into (s, id, subvector) rows; assignment picks
    * the subspace's codebook by a when-chain of per-subspace
    * [[NearestCentroid]] kernels (m static branches in one codegen stage);
    * recompute is a single groupBy(s, b) [[graft.agg.VectorMeanAgg]].
    * Same deterministic hash-init as [[Ivf.train]]. Requires dim % m == 0.
    */
  def train(df: DataFrame, m: Int, ksub: Int, iters: Int = 5,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): Codebooks = owning { sc =>
    val dim = df.select(size(col(vecCol))).first().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    // (s, id, subvector) — one narrow explode, reused every iteration;
    // the centroids end on the driver, so the scope releases it on return
    val sub = sc.pin(df.select(col(idCol).as("id"),
        posexplode(array((0 until m).map { s =>
          slice(col(vecCol).cast("array<double>"), s * dsub + 1, dsub)
        }: _*)))
      .withColumnRenamed("pos", "s").withColumnRenamed("col", "v"))
    def recompute(assigned: DataFrame,
        prev: Array[Array[Array[Double]]]): Array[Array[Array[Double]]] = {
      val got = assigned.groupBy(col("s"), col("b"))
        .agg(graft.agg.VectorMeanAgg.column(col("v")).as("c")).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray)
        .toMap
      Array.tabulate(m, ksub)((s, j) => got.getOrElse((s, j), prev(s)(j)))
    }
    def assign(cbs: Array[Array[Array[Double]]]): DataFrame = {
      // subspace-dispatched nearest centroid: m codegen branches
      val nearest = (0 until m).map { s =>
        (s, NearestCentroid.column(col("v"), cbs(s)))
      }.foldRight(lit(-1): org.apache.spark.sql.Column) {
        case ((s, nc), acc) => when(col("s") === s, nc).otherwise(acc)
      }
      sub.withColumn("b", nearest)
    }
    val zero = Array.fill(m, ksub)(Array.fill(dsub)(0.0))
    var cbs = recompute(
      sub.withColumn("b", pmod(hash(col("id")), lit(ksub)).cast("int")), zero)
    var it = 0
    while (it < iters) {
      cbs = recompute(assign(cbs), cbs)
      it += 1
    }
    Codebooks(m, dsub, cbs)
  }

  /** Corpus rows → PQ codes: `m` per-subspace [[NearestCentroid]] calls
    * (each a static codegen scan of ksub·dsub doubles), no shuffle. */
  def encode(df: DataFrame, cb: Codebooks,
      vecCol: String = "embedding", codeCol: String = "pq_code"): DataFrame =
    df.withColumn(codeCol, array((0 until cb.m).map { s =>
      NearestCentroid.column(
        slice(col(vecCol).cast("array<double>"), s * cb.dsub + 1, cb.dsub),
        cb.centroids(s))
    }: _*))

  /** Two-stage top-k: ADC over codes → top-`rerank` candidates per query →
    * exact cosine re-rank (same output shape/rounding as
    * [[Similarity.bruteForceTopK]]). `rerank` trades recall for the number
    * of full vectors touched; `rerank >= corpus size` degenerates to exact
    * brute force through a compressed first pass. */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int, cb: Codebooks,
      rerank: Int, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val c = encode(corpus, cb, vecCol)
      .select(col(idCol).as("corpus_id"), col("pq_code"))
    search(c, corpus, queries, queries, k, cb, rerank, vecCol, idCol)
  }

  /** The shared second half of every PQ search: ADC-rank the candidate
    * (corpus_id, pq_code[, ivf_bkt]) rows against `probed` (the queries,
    * or their per-cell rows when the codes carry `ivf_bkt`), cut to the top
    * `rerank`, then exact-cosine re-rank only those rows' full vectors
    * against the ORIGINAL `queries` ([[Similarity.rerank]]). The candidate
    * side never carries vectors — at 100 TB the scan and its shuffle move
    * m small ints per row. */
  private def search(codes: DataFrame, corpus: DataFrame, queries: DataFrame,
      probed: DataFrame, k: Int, cb: Codebooks, rerank: Int, vecCol: String,
      idCol: String): DataFrame = {
    require(rerank >= k, s"rerank $rerank < k $k")
    Similarity.rerank(candidates(codes, probed, cb, rerank, vecCol, idCol),
      corpus, queryVecs(queries, vecCol, idCol), k, vecCol, idCol)
  }

  /** Each query's vector once, as `(query_id, qvec)`: the flat ADC stage
    * and the re-rank read the same frame, so the two share one exchange. */
  private def queryVecs(queries: DataFrame, vecCol: String,
      idCol: String): DataFrame =
    Similarity.Queries.vectors(queries, idCol, col(vecCol))
      .dropDuplicates("query_id")

  /** ADC candidate stage → (query_id, corpus_id) of the top `rerank` per
    * query. When both sides carry `ivf_bkt` the join is cell-pruned. */
  private def candidates(codes: DataFrame, queries: DataFrame,
      cb: Codebooks, rerank: Int, vecCol: String, idCol: String): DataFrame = {
    val probed = codes.columns.contains("ivf_bkt") &&
      queries.columns.contains("ivf_bkt")
    val joined =
      if (probed) // IVFPQ: cell-pruned code scan; one row per (query, cell)
        codes.join(broadcast(Similarity.Queries
            .vectors(queries, idCol, col(vecCol), col("ivf_bkt"))
            .dropDuplicates("query_id", "ivf_bkt")),
          "ivf_bkt")
      else codes.crossJoin(broadcast(queryVecs(queries, vecCol, idCol)))
    Similarity.perQuery(joined
        .filter(col("corpus_id") =!= col("query_id"))
        .withColumn("adc", PqAdc.column(col("pq_code"), col("qvec"), cb.centroids)),
        col("adc").asc, rerank, "crank")
      .select("query_id", "corpus_id")
  }

  // ---- residual encoding (the full FAISS IVFPQ construction) ----------
  // Quantize v − coarse_centroid[cell] instead of v: residuals are small
  // and centered regardless of where a cluster sits in space, so the same
  // m/ksub budget spends its precision on local structure — the published
  // IVFADC variant (Jégou et al. 2011, §IV).

  private def coarseLit(coarse: Array[Array[Double]]) =
    typedLit(coarse.map(_.toSeq).toSeq)

  /** v − coarse[bkt], with `bkt` from a column. */
  private[ext] def residualFor(vec: org.apache.spark.sql.Column,
      bkt: org.apache.spark.sql.Column,
      coarse: Array[Array[Double]]): org.apache.spark.sql.Column =
    zip_with(vec, element_at(coarseLit(coarse), bkt + 1), (a, b) => a - b)

  /** Train codebooks on the coarse-assignment residuals. */
  def trainResidual(df: DataFrame, coarse: Array[Array[Double]],
      m: Int, ksub: Int, iters: Int = 5, vecCol: String = "embedding",
      idCol: String = "vec_id"): Codebooks = {
    val withResid = Ivf.assign(df, coarse, vecCol)
      .withColumn("_resid",
        residualFor(col(vecCol).cast("array<double>"), col("ivf_bkt"), coarse))
    train(withResid, m, ksub, iters, "_resid", idCol)
  }

  /** Corpus → (id, ivf_bkt, pq_code-of-residual). */
  def encodeResidual(df: DataFrame, coarse: Array[Array[Double]],
      cb: Codebooks, vecCol: String = "embedding",
      codeCol: String = "pq_code"): DataFrame = {
    val assigned = Ivf.assign(df, coarse, vecCol)
      .withColumn("_resid",
        residualFor(col(vecCol).cast("array<double>"), col("ivf_bkt"), coarse))
    encode(assigned, cb, "_resid", codeCol).drop("_resid")
  }

  /** IVFPQ search with residual codes: the query probes its `nprobe`
    * nearest cells, its residual AGAINST EACH PROBED CELL is computed once
    * per (query, cell) on the tiny broadcast side, and ADC runs between
    * that residual and the cell's residual codes. Exact re-rank as
    * always. `nprobe == k` with `rerank >= |corpus|` is exact. */
  def topKResidual(corpus: DataFrame, queries: DataFrame, k: Int,
      coarse: Array[Array[Double]], cb: Codebooks, rerank: Int,
      nprobe: Int, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val codes = encodeResidual(corpus, coarse, cb, vecCol)
      .select(col(idCol).as("corpus_id"), col("ivf_bkt"), col("pq_code"))
    search(codes, corpus, queries,
      probeResidualQueries(queries, coarse, nprobe, vecCol), k, cb, rerank,
      vecCol, idCol)
  }

  /** Queries exploded to their `nprobe` nearest cells, the query vector
    * replaced by its per-cell residual — the ADC stage then ranks
    * residual-vs-residual with no further changes. */
  private def probeResidualQueries(queries: DataFrame,
      coarse: Array[Array[Double]], nprobe: Int, vecCol: String): DataFrame =
    Ivf.probe(queries, coarse, nprobe, vecCol)
      .withColumn(vecCol,
        residualFor(col(vecCol).cast("array<double>"), col("ivf_bkt"), coarse))

  /** Persist the corpus as (id, pq_code) — plus the IVF cell as a Parquet
    * PARTITION column when a coarse quantizer is given. The serving shape:
    * the candidate scan reads ~m ints per vector from disk (50–100× less
    * IO than the embeddings), probes prune partitions at planning time,
    * and full vectors are joined only for the re-rank survivors. */
  def writeStore(corpus: DataFrame, path: String, cb: Codebooks,
      coarse: Option[Array[Array[Double]]] = None,
      vecCol: String = "embedding", idCol: String = "vec_id",
      residual: Boolean = false): Unit = {
    require(!residual || coarse.isDefined,
      "residual codes need a coarse quantizer")
    val enc =
      if (residual) encodeResidual(corpus, coarse.get, cb, vecCol)
        .select(col(idCol).as("corpus_id"), col("ivf_bkt"), col("pq_code"))
      else encode(corpus, cb, vecCol)
        .select(Seq(col(idCol).as("corpus_id"), col("pq_code")) ++
          coarse.map(c => NearestCentroid.column(
            col(vecCol).cast("array<double>"), c).as("ivf_bkt")).toSeq: _*)
    val w = enc.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
    coarse.fold(w)(_ => w.partitionBy("ivf_bkt")).parquet(path)
    graft.util.StoreSchemas.invalidate(path)
  }

  /** Search a [[writeStore]] store. With a coarse quantizer the query's
    * `nprobe` nearest cells become a partition-pruning filter (IVFPQ);
    * without one it is a flat PQ scan of the codes. `residual` must match
    * how the store was written — the codes' geometry (absolute vs
    * per-cell residual) decides which vector the ADC compares against. */
  def topKFromStore(spark: org.apache.spark.sql.SparkSession, path: String,
      corpus: DataFrame, queries: DataFrame, k: Int, cb: Codebooks,
      rerank: Int, coarse: Option[Array[Array[Double]]] = None,
      nprobe: Int = 1, vecCol: String = "embedding",
      idCol: String = "vec_id", residual: Boolean = false): DataFrame = {
    require(!residual || coarse.isDefined,
      "residual search needs a coarse quantizer")
    val probed = coarse match {
      case None => queries
      case Some(cc) if residual =>
        probeResidualQueries(queries, cc, nprobe, vecCol)
      case Some(cc) => Ivf.probe(queries, cc, nprobe, vecCol)
    }
    // cached store schema (r15, the Ivf.topKFromStore note)
    search(graft.util.StoreSchemas.read(spark, path), corpus, queries, probed,
      k, cb, rerank, vecCol, idCol)
  }
}
