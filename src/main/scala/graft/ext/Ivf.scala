package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{NearestCentroid, ProbeCentroids}

/** IVF (inverted-file) approximate nearest-neighbor search: a k-means
  * coarse quantizer assigns every vector to its nearest centroid; a query
  * probes only the `nprobe` nearest cells and exact-reranks inside them.
  *
  * 100 TB shape: training aggregates the corpus (tree-aggregated partial
  * sums per dim — two shuffles per iteration of k·dim doubles each);
  * assignment is a shuffle-free broadcast map
  * ([[graft.functions.NearestCentroid]]); search prunes the scan to
  * `nprobe/k` of the corpus before the exact re-rank. With
  * `nprobe == k` the result equals brute force exactly (every cell is
  * scanned, re-rank is exact) — which is how the oracle checks it.
  */
object Ivf {

  /** Deterministic Lloyd k-means. Init is hash-partition averaging
    * (centroid j = mean of rows with `hash(id) ≡ j mod k`) — deterministic
    * given ids, no driver-side data pass. Float summation order varies
    * across partitions, so centroids are deterministic only up to fp
    * rounding; callers needing exact cross-run parity should persist them.
    */
  def train(df: DataFrame, k: Int, iters: Int = 5,
      vecCol: String = "embedding", idCol: String = "vec_id"): Array[Array[Double]] = {
    val v = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val dim = v.select(size(col("v"))).first().getInt(0)
    // ONE array-buffer aggregate ([[graft.agg.VectorMeanAgg]]) — the
    // dim × avg(v[i]) expansion walks the array per dimension and bloats
    // the plan at realistic embedding dims (768–1536)
    def recompute(assigned: DataFrame, prev: Array[Array[Double]]): Array[Array[Double]] = {
      val m = assigned.groupBy(col("b"))
        .agg(graft.agg.VectorMeanAgg.column(col("v")).as("c")).collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      Array.tabulate(k)(j => m.getOrElse(j, prev(j))) // empty cell keeps its centroid
    }
    val zero = Array.fill(k)(Array.fill(dim)(0.0))
    var centroids = recompute(
      v.withColumn("b", pmod(hash(col("id")), lit(k)).cast("int")), zero)
    var it = 0
    while (it < iters) {
      centroids = recompute(
        v.withColumn("b", NearestCentroid.column(col("v"), centroids)), centroids)
      it += 1
    }
    centroids
  }

  /** Corpus with its IVF cell id attached (the list-assignment map). */
  def assign(df: DataFrame, centroids: Array[Array[Double]],
      vecCol: String = "embedding", bucketCol: String = "ivf_bkt"): DataFrame =
    df.withColumn(bucketCol,
      NearestCentroid.column(col(vecCol).cast("array<double>"), centroids))

  /** Fraction of the corpus's squared norm the coarse quantizer does NOT
    * explain: `Σ‖v − c(v)‖² / Σ‖v‖²` — ≈ 0 on a clustered space (cells
    * carry the structure), ≈ 1 on an isotropic one (cells are arbitrary
    * slices and IVF pruning discards true neighbors in proportion to
    * what it prunes). ONE corpus pass: the shuffle-free [[assign]] map
    * plus a two-sum aggregate — measurable at TRAIN time, before any
    * query arrives, which is exactly why it (and not a recall curve that
    * needs held-out queries) is the serving decision variable. */
  def unexplainedVar(df: DataFrame, centroids: Array[Array[Double]],
      vecCol: String = "embedding"): Double = {
    val (r2, n2, _, _) = residNormSums(df, centroids, vecCol)
    if (n2 <= 0) sys.error(
      "unexplainedVar: empty corpus or zero-norm vectors (sum of squared norms is 0)")
    r2 / n2
  }

  /** [[unexplainedVar]]'s raw accumulators `(Σ‖v − c(v)‖², Σ‖v‖², n)`
    * plus the slice's MEAN VECTOR — the decomposition that makes the
    * measurement INCREMENTAL: an append adds its batch sums to the
    * store's persisted sums and the combined ratio is exact, no re-scan
    * of the standing store ([[appendToStore]]'s metadata update); the
    * mean rides the SAME aggregate (one [[graft.agg.VectorMeanAgg]]
    * buffer beside the two sums), so the staleness cosine costs no
    * extra pass. ONE corpus pass total. */
  private def residNormSums(df: DataFrame, centroids: Array[Array[Double]],
      vecCol: String): (Double, Double, Long, Array[Double]) = {
    val cl = typedLit(centroids.map(_.toSeq).toSeq)
    val v = col(vecCol).cast("array<double>")
    val sq = (acc: org.apache.spark.sql.Column,
        x: org.apache.spark.sql.Column) => acc + x * x
    val row = assign(df, centroids, vecCol)
      .select(
        aggregate(zip_with(v, element_at(cl, col("ivf_bkt") + 1),
          (a, b) => a - b), lit(0.0), sq).as("r2"),
        aggregate(v, lit(0.0), sq).as("n2"),
        v.as("x"))
      .agg(sum(col("r2")), sum(col("n2")), count(lit(1)),
        graft.agg.VectorMeanAgg.column(col("x"))).first()
    if (row.isNullAt(0)) (0.0, 0.0, 0L, Array.empty[Double])
    else (row.getDouble(0), row.getDouble(1), row.getLong(2),
      if (row.isNullAt(3)) Array.empty[Double]
      else row.getSeq[Double](3).toArray)
  }

  /** Evidence-based probe-budget default (the ARCHITECTURE.md serving
    * rule, now callable from the serving path): measure
    * [[unexplainedVar]] on the trained quantizer and return
    * `(unexplained_var, nprobe)` from the recall-vs-nprobe curve's knee
    * logic. Clustered space (`unexplained_var` ≈ 0): recall sits at its
    * ceiling from one cell, so serve `nprobe = 2` — the one-cell optimum
    * plus a safety cell. Isotropic (≈ 1): IVF recall climbs ~linearly
    * with the probed FRACTION (bench curve: 0.325/0.495/0.75/1.0 at
    * 1/2/4/8 of 8), so no `nprobe < k` is safe — the recommendation
    * saturates at `k` (scan every cell = exact), which a caller should
    * read as "don't deploy IVF pruning here; use brute/PQ or re-embed
    * until the space clusters". In between, the same linearity gives the
    * interpolation `ceil(unexplained_var · k)`, clamped to [2, k]. */
  def recommendNprobe(df: DataFrame, centroids: Array[Array[Double]],
      vecCol: String = "embedding"): (Double, Int) = {
    val uv = unexplainedVar(df, centroids, vecCol)
    (uv, nprobeFor(uv, centroids.length))
  }

  /** [[recommendNprobe]]'s knee logic on an already-measured
    * `unexplained_var` (callers holding the measurement — the bench
    * probe — need not pay a second corpus pass). */
  def nprobeFor(unexplainedVar: Double, k: Int): Int =
    math.min(k, math.max(2, math.ceil(unexplainedVar * k).toInt))

  /** Top-k cosine search probing the `nprobe` nearest cells per query.
    * `nprobe == centroids.length` scans everything → exact brute force. */
  def topK(corpus: DataFrame, queries: DataFrame, kNN: Int,
      centroids: Array[Array[Double]], nprobe: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    Similarity.bucketTopK(assign(corpus, centroids, vecCol),
      probe(queries, centroids, nprobe, vecCol), kNN, "ivf_bkt", vecCol, idCol)
  }

  /** Queries exploded to their `nprobe` nearest cells as `ivf_bkt` — the
    * probe list every IVF and IVFPQ search joins its cells on. */
  private[ext] def probe(queries: DataFrame, centroids: Array[Array[Double]],
      nprobe: Int, vecCol: String): DataFrame =
    queries.withColumn("ivf_bkt", explode(ProbeCentroids.column(
      col(vecCol).cast("array<double>"), centroids, nprobe)))

  /** The store's serving metadata, persisted beside the cells (VERDICT
    * r13 task 6 — the serving rule as STORE STATE, not a re-measurement):
    * the [[unexplainedVar]] accumulators plus the derived
    * `(unexplained_var, recommended_nprobe)`, so a serving caller reads
    * the probe-budget default from the store instead of paying a corpus
    * pass, and an append can re-derive it incrementally (exact — the
    * accumulators are sums). `trainMean` is the TRAINING corpus's mean
    * vector (fixed at [[writeStore]] time); `lastBatchCos` is
    * [[Similarity.embeddingDrift]]'s mean-cosine between that and the
    * most recent appended batch — the staleness alarm re-checked on
    * every append for free (the batch mean rides the same aggregate as
    * the accumulators), None until the first append or when either mean
    * is zero/empty. */
  final case class StoreMeta(sumResid2: Double, sumNorm2: Double,
      nRows: Long, k: Int, unexplainedVar: Double,
      recommendedNprobe: Int, trainMean: Array[Double],
      lastBatchCos: Option[Double])

  /** The sidecar's directory under the store path — the leading
    * underscore keeps it invisible to `spark.read.parquet(store)` (the
    * `_SUCCESS` convention), so the data scan's schema is untouched. */
  private val MetaDir = "_graft_meta"

  private def metaOf(r2: Double, n2: Double, n: Long, k: Int,
      trainMean: Array[Double],
      lastBatchCos: Option[Double]): StoreMeta = {
    val uv = if (n2 > 0) r2 / n2 else 1.0
    StoreMeta(r2, n2, n, k, uv, nprobeFor(uv, k), trainMean, lastBatchCos)
  }

  /** d driver doubles: the staleness cosine between two mean vectors
    * (None when either is empty or zero-norm — the
    * [[Similarity.embeddingDrift]] NULL contract). */
  private def meanCos(a: Array[Double], b: Array[Double]): Option[Double] =
    if (a.isEmpty || a.length != b.length) None
    else {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val n2 = a.map(z => z * z).sum * b.map(z => z * z).sum
      if (n2 > 0) Some(dot / math.sqrt(n2)) else None
    }

  private def writeStoreMeta(spark: org.apache.spark.sql.SparkSession,
      path: String, m: StoreMeta): Unit = {
    import spark.implicits._
    Seq((m.sumResid2, m.sumNorm2, m.nRows, m.k, m.unexplainedVar,
        m.recommendedNprobe, m.trainMean.toSeq, m.lastBatchCos))
      .toDF("sum_resid2", "sum_norm2", "n_rows", "k", "unexplained_var",
        "recommended_nprobe", "train_mean", "last_batch_cos")
      .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/$MetaDir")
    graft.util.StoreSchemas.invalidate(s"$path/$MetaDir")
  }

  /** Read a store's serving metadata — None for a store written before
    * the sidecar existed (serve it with a measured [[recommendNprobe]]
    * or rebuild). */
  def readStoreMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[StoreMeta] =
    try {
      // cached sidecar schema (r15) — fixed by writeStoreMeta's toDF
      val r = graft.util.StoreSchemas.read(spark, s"$path/$MetaDir").first()
      Some(StoreMeta(r.getDouble(0), r.getDouble(1), r.getLong(2),
        r.getInt(3), r.getDouble(4), r.getInt(5),
        r.getSeq[Double](6).toArray,
        if (r.isNullAt(7)) None else Some(r.getDouble(7))))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Persist the corpus partitioned by IVF cell: a probe becomes Parquet
    * PARTITION PRUNING (`PartitionFilters` in the plan) — at 100 TB only
    * `nprobe/k` of the files are even opened, the scan-level version of
    * the inverted file. Also persists the serving metadata sidecar
    * (`_graft_meta`: unexplained-var accumulators +
    * `recommended_nprobe`) — one extra corpus pass at BUILD time, the
    * phase that already pays k-means; callers with an expensive upstream
    * should hand in a pinned frame. */
  def writeStore(corpus: DataFrame, path: String,
      centroids: Array[Array[Double]], vecCol: String = "embedding"): Unit = {
    assign(corpus, centroids, vecCol)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("ivf_bkt").parquet(path)
    graft.util.StoreSchemas.invalidate(path)
    val (r2, n2, n, mean) = residNormSums(corpus, centroids, vecCol)
    writeStoreMeta(corpus.sparkSession, path,
      metaOf(r2, n2, n, centroids.length, mean, None))
  }

  /** INCREMENTAL STORE APPEND: assign a new batch to the EXISTING
    * centroids and append into the cell partitions — the nightly
    * embedding ingest. Retraining the quantizer would reassign (and so
    * rewrite) every stored cell; appending touches only the partitions
    * the batch lands in, and [[topKFromStore]] serves the union with no
    * change (at `nprobe = k` still exact). The cost is drift: centroids
    * trained on the old corpus quantize new data less tightly, degrading
    * recall at small nprobe — watch [[Similarity.embeddingDrift]] between
    * the trained snapshot and the live batch and re-train (one full
    * rewrite) when it alarms. The serving-metadata sidecar re-derives
    * INCREMENTALLY: the batch's unexplained-var accumulators add to the
    * store's persisted sums (exact — they are sums; no standing-store
    * re-scan), so `recommended_nprobe` tracks the drifting union and a
    * batch from a new region of the space pushes it up — the staleness
    * signal in the same artifact the serving path reads. A pre-sidecar
    * store keeps no metadata (rebuild to adopt it). */
  def appendToStore(batch: DataFrame, path: String,
      centroids: Array[Array[Double]], vecCol: String = "embedding"): Unit = {
    assign(batch, centroids, vecCol)
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("ivf_bkt").parquet(path)
    graft.util.StoreSchemas.invalidate(path)
    readStoreMeta(batch.sparkSession, path).foreach { m =>
      val (r2, n2, n, bMean) = residNormSums(batch, centroids, vecCol)
      writeStoreMeta(batch.sparkSession, path,
        metaOf(m.sumResid2 + r2, m.sumNorm2 + n2, m.nRows + n, m.k,
          m.trainMean, meanCos(m.trainMean, bMean)))
    }
  }

  /** [[topKFromStore]] with the probe budget read FROM THE STORE: the
    * `_graft_meta` sidecar's `recommended_nprobe` — kept current by
    * [[writeStore]] and incrementally by [[appendToStore]] — so the
    * serving rule is closed end-to-end: the caller holds neither a
    * measurement nor a tuning knob, and a store whose appended corpus
    * drifted automatically serves with the wider budget its own
    * metadata derived. Fails loudly on a pre-sidecar store (pass
    * `nprobe` explicitly via [[topKFromStore]] or rebuild). */
  def topKFromStoreAuto(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, kNN: Int,
      centroids: Array[Array[Double]], vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val m = readStoreMeta(spark, path).getOrElse(sys.error(
      s"topKFromStoreAuto: no $MetaDir sidecar under $path (a store " +
        "written before the serving metadata existed) — pass nprobe " +
        "explicitly via topKFromStore, or rebuild with writeStore"))
    topKFromStore(spark, path, queries, kNN, centroids,
      m.recommendedNprobe, vecCol, idCol)
  }

  /** Search a [[writeStore]] store: the probe filter prunes partitions at
    * planning time, then the exact re-rank runs on the surviving cells. */
  def topKFromStore(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, kNN: Int, centroids: Array[Array[Double]],
      nprobe: Int, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    // cached store schema (r15): the serve path paid a footer-inference
    // job per call for a schema our own writer fixed at build time
    Similarity.bucketTopK(graft.util.StoreSchemas.read(spark, path),
      probe(queries, centroids, nprobe, vecCol), kNN, "ivf_bkt", vecCol, idCol)
  }
}
