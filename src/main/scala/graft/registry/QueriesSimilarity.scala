package graft

import org.apache.spark.sql.functions._

import graft.QueryShared._
import graft.util.Checkpoints.scoped

/** Query registry — LLM pipeline: ANN (brute/IVF/PQ/stores), embeddings/PCA, retrieval + fusion.
  *
  * Each entry is one [[Query]]; shared fixtures and oracle fragments live in [[QueryShared]]. */
object QueriesSimilarity {

  private[graft] val queries: Seq[Query] = Seq(

    // ext: embedding-cosine similar pairs within label buckets
    Query("q24_embed_pairs", (s, dir) =>
      ext.Similarity.embeddingNearDups(
        Tables.load(s, dir, "embeddings"), 0.3, "label"),
      Seq(col("id_a"), col("id_b")),
      s"""WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, round($CosSql, 6) AS cos
               FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
         SELECT id_a, id_b, cos FROM p WHERE cos >= 0.3 ORDER BY id_a, id_b"""),


    // ext: brute-force cosine top-k (ANN baseline) for 3 query vectors
    Query("q25_ann_topk", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      ext.Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3), 10)
    }, Seq(col("query_id"), col("rank")),
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         scored AS (SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
                      round($CosSql, 6) AS cos
                    FROM e a, e b WHERE b.vec_id < 3 AND a.vec_id <> b.vec_id),
         r AS (SELECT query_id, corpus_id, cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, corpus_id) AS INT) AS rank
               FROM scored)
         SELECT query_id, rank, corpus_id, cos FROM r
         WHERE rank <= 10 ORDER BY query_id, rank"""),


    // ext: IVF ANN — k-means coarse quantizer, nprobe = k (all cells) so
    // the result is exactly brute-force top-k and the oracle can check it;
    // the IvfSuite covers the pruned nprobe < k path
    Query("q41_ivf_topk", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val centroids = ext.Ivf.train(emb, k = 8, iters = 2)
      ext.Ivf.topK(emb, emb.filter(col("vec_id") < 3), 10,
        centroids, nprobe = 8)
    }, Seq(col("query_id"), col("rank")),
      // nprobe == k scans every IVF cell → exact brute-force top-k,
      // independent of where k-means put the centroids
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         scored AS (SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
                      round($CosSql, 6) AS cos
                    FROM e a, e b WHERE b.vec_id < 3 AND a.vec_id <> b.vec_id),
         r AS (SELECT query_id, corpus_id, cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, corpus_id) AS INT) AS rank
               FROM scored)
         SELECT query_id, rank, corpus_id, cos FROM r
         WHERE rank <= 10 ORDER BY query_id, rank"""),


    // ext: product quantization with a full re-rank budget — the PQ
    // analog of q41's nprobe=k trick: whatever the trained codebooks,
    // rerank >= |corpus| makes the two-stage search provably exact, so
    // the brute-force SQL oracle checks the whole PQ path
    // (train → encode → ADC candidates → exact re-rank)
    Query("q51_pq_topk", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val cb = ext.Pq.train(emb, m = 8, ksub = 16, iters = 2)
      ext.Pq.topK(emb, emb.filter(col("vec_id") < 3), 10, cb, rerank = 10000)
    }, Seq(col("query_id"), col("rank")),
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         scored AS (SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
                      round($CosSql, 6) AS cos
                    FROM e a, e b WHERE b.vec_id < 3 AND a.vec_id <> b.vec_id),
         r AS (SELECT query_id, corpus_id, cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, corpus_id) AS INT) AS rank
               FROM scored)
         SELECT query_id, rank, corpus_id, cos FROM r
         WHERE rank <= 10 ORDER BY query_id, rank"""),


    // ext: residual IVFPQ (IVFADC) — codes quantize v − coarse_centroid.
    // Same exactness trick at full budgets: nprobe = k_coarse probes every
    // cell and rerank >= |corpus| keeps all ADC candidates, so the oracle
    // checks the whole residual path (coarse train → residual train →
    // residual encode → per-cell query residual ADC → exact re-rank)
    Query("q52_ivfpq_residual", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val coarse = ext.Ivf.train(emb, k = 4, iters = 2)
      val cb = ext.Pq.trainResidual(emb, coarse, m = 8, ksub = 16, iters = 2)
      ext.Pq.topKResidual(emb, emb.filter(col("vec_id") < 3), 10,
        coarse, cb, rerank = 1000000, nprobe = 4)
    }, Seq(col("query_id"), col("rank")),
      // residual IVFPQ at nprobe = k_coarse and rerank >= |corpus| is exact,
      // so the oracle is the same brute-force top-k as q25/q51
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         scored AS (SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
                      round($CosSql, 6) AS cos
                    FROM e a, e b WHERE b.vec_id < 3 AND a.vec_id <> b.vec_id),
         r AS (SELECT query_id, corpus_id, cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, corpus_id) AS INT) AS rank
               FROM scored)
         SELECT query_id, rank, corpus_id, cos FROM r
         WHERE rank <= 10 ORDER BY query_id, rank"""),


    // ext: the ANN SERVING path — answer queries FROM a standing
    // partitioned residual-PQ store (probe = Parquet partition pruning,
    // ADC over m ints/vector, exact re-rank). The store SETUP (IVF train +
    // residual codebooks + write) is memoized per (application, sf) via
    // annStoreSetup — a serving deployment builds its index once; folding
    // training into every timed pass measured four phases under one
    // number (r8 verdict). Bench's ann_store_phase_probe reports
    // train/write/serve separately. At exactness budgets (nprobe = k
    // cells, rerank >= corpus) the result is exactly brute-force top-k,
    // so the oracle can hash-check it; IvfSuite covers the pruned
    // nprobe < k path and asserts PartitionFilters.
    Query("q62_ann_store", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (coarse, cb, path, n) = annStoreSetup(s, dir)
      ext.Pq.topKFromStore(s, path, emb,
        emb.filter(col("vec_id") < 3), 10, cb, rerank = n,
        coarse = Some(coarse), nprobe = 8, residual = true)
    }, Seq(col("query_id"), col("rank")),
      // store-served ANN at exactness budgets (nprobe = every cell, rerank =
      // whole corpus) == exact brute-force top-k, independent of k-means —
      // same oracle as q41
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         scored AS (SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
                      round($CosSql, 6) AS cos
                    FROM e a, e b WHERE b.vec_id < 3 AND a.vec_id <> b.vec_id),
         r AS (SELECT query_id, corpus_id, cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, corpus_id) AS INT) AS rank
               FROM scored)
         SELECT query_id, rank, corpus_id, cos FROM r
         WHERE rank <= 10 ORDER BY query_id, rank"""),


    // ext: embedding cluster map — 8 seed centroids (lowest vec_ids),
    // shuffle-free nearest-centroid assignment, per-cluster population +
    // coherence; the balance audit behind cluster-aware pruning
    Query("q98_cluster_map", (s, dir) =>
      ext.Similarity.clusterMap(
        Tables.load(s, dir, "embeddings"), 8),
      Seq(col("cluster")),
      // seed centroids = the 8 lowest vec_ids; assignment replicated as an
      // argmin over the cross join (L2 ties toward the lower cluster index)
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
         s AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
                 AS cluster, v AS c
               FROM e ORDER BY vec_id LIMIT 8),
         a AS (SELECT vec_id, v, cluster, c,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY list_distance(v, c), cluster) AS rn
               FROM e, s),
         b AS (SELECT * FROM a WHERE rn = 1)
         SELECT cluster, CAST(count(*) AS BIGINT) AS n,
           round(avg(CASE WHEN list_dot_product(v, v) > 0
               AND list_dot_product(c, c) > 0
             THEN list_dot_product(v, c) /
               (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(c, c)))
             END), 6) AS mean_cos
         FROM b GROUP BY cluster ORDER BY cluster"""),


    // ext: JL random projection — 64-dim embeddings compressed to 8
    // deterministic hyperplane components (unrounded doubles: exact
    // half-integer weights + fixed accumulation order are bit-identical
    // across engines)
    Query("q101_jl_projection", (s, dir) =>
      ext.Similarity.randomProjection(
        Tables.load(s, dir, "embeddings"), 8),
      Seq(col("vec_id")), {
      // the hyperplane literals interpolate from Similarity.jlPlane — ONE
      // source of truth for the weights in both engines
      val planes = (0 until 8).map { i =>
        val h = ext.Similarity.jlPlane(i, 64).mkString("[", ", ", "]")
        // * (1/sqrt) like the Spark side — x*(1/s) and x/s differ in IEEE
        s"list_dot_product(CAST(embedding AS DOUBLE[]), $h) * (1.0 / sqrt(8)) AS proj$i"
      }.mkString(",\n           ")
      s"""SELECT vec_id,
           $planes
         FROM embeddings ORDER BY vec_id"""
    }),


    // ext: JL-shortlisted ANN — rank in the 8-dim projected space, keep
    // 50 candidates, exact-rerank only those (project→shortlist→rerank)
    Query("q102_jl_topk", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      ext.Similarity.projectedTopK(emb, emb.filter(col("vec_id") < 3),
        10, 8, 50)
    }, Seq(col("query_id"), col("rank")), {
      // same projections as q101; shortlist ranked on the UNROUNDED pcos
      // (bit-identical both engines), exact stage ranked on the rounded cos
      val comps = (0 until 8).map { i =>
        val h = ext.Similarity.jlPlane(i, 64).mkString("[", ", ", "]")
        s"list_dot_product(v, $h) * (1.0 / sqrt(8))"
      }.mkString("[", ",\n             ", "]")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
         p AS (SELECT vec_id, $comps AS pv FROM e),
         s AS (SELECT pq.vec_id AS query_id, pc.vec_id AS corpus_id,
                 list_dot_product(pc.pv, pq.pv) /
                   (sqrt(list_dot_product(pc.pv, pc.pv)) *
                    sqrt(list_dot_product(pq.pv, pq.pv))) AS pcos
               FROM p pc, p pq
               WHERE pq.vec_id < 3 AND pc.vec_id <> pq.vec_id),
         sh AS (SELECT query_id, corpus_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY pcos DESC, corpus_id) AS prank
                FROM s),
         x AS (SELECT sh.query_id, sh.corpus_id,
                 round(list_dot_product(a.v, b.v) /
                   (sqrt(list_dot_product(a.v, a.v)) *
                    sqrt(list_dot_product(b.v, b.v))), 6) AS cos
               FROM sh JOIN e a ON a.vec_id = sh.corpus_id
                 JOIN e b ON b.vec_id = sh.query_id
               WHERE sh.prank <= 50),
         r AS (SELECT query_id, corpus_id, cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, corpus_id) AS INT) AS rank
               FROM x)
         SELECT query_id, rank, corpus_id, cos FROM r
         WHERE rank <= 10 ORDER BY query_id, rank""" }),


    // ext: hard-negative mining — per anchor (vec_id < 5), the 10 most
    // similar vectors with a DIFFERENT label; label filter applied
    // before the JL shortlist so the candidate budget is all cross-label
    Query("q105_hard_negatives", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      ext.Similarity.hardNegatives(emb,
        emb.filter(col("vec_id") < 5), 10, 8, 50)
    }, Seq(col("query_id"), col("rank")), {
      // q102's two-stage replay with the label predicate pushed under the
      // shortlist (hyperplane literals again interpolate from jlPlane)
      val comps = (0 until 8).map { i =>
        val h = ext.Similarity.jlPlane(i, 64).mkString("[", ", ", "]")
        s"list_dot_product(v, $h) * (1.0 / sqrt(8))"
      }.mkString("[", ",\n             ", "]")
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
         p AS (SELECT vec_id, label, $comps AS pv FROM e),
         s AS (SELECT pq.vec_id AS query_id, pc.vec_id AS corpus_id,
                 pc.label AS neg_label,
                 list_dot_product(pc.pv, pq.pv) /
                   (sqrt(list_dot_product(pc.pv, pc.pv)) *
                    sqrt(list_dot_product(pq.pv, pq.pv))) AS pcos
               FROM p pc, p pq
               WHERE pq.vec_id < 5 AND pc.label <> pq.label),
         sh AS (SELECT query_id, corpus_id, neg_label,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY pcos DESC, corpus_id) AS prank
                FROM s),
         x AS (SELECT sh.query_id, sh.corpus_id, sh.neg_label,
                 round(list_dot_product(a.v, b.v) /
                   (sqrt(list_dot_product(a.v, a.v)) *
                    sqrt(list_dot_product(b.v, b.v))), 6) AS cos
               FROM sh JOIN e a ON a.vec_id = sh.corpus_id
                 JOIN e b ON b.vec_id = sh.query_id
               WHERE sh.prank <= 50),
         r AS (SELECT query_id, corpus_id, neg_label, cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, corpus_id) AS INT) AS rank
               FROM x)
         SELECT query_id, rank, corpus_id, neg_label, cos FROM r
         WHERE rank <= 10 ORDER BY query_id, rank""" }),


    // ext: D4 prototypicality — cosine to the assigned seed centroid,
    // within-cluster rank, top-25% drop flag (the diversify cut)
    Query("q106_prototypicality", (s, dir) =>
      ext.Similarity.prototypicality(
        Tables.load(s, dir, "embeddings"), 8, 0.25),
      Seq(col("vec_id")),
      // q98's seed-centroid assignment + within-cluster prototype rank;
      // NULL cosines (zero vectors) rank last via the -2 sentinel
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
         s AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
                 AS cluster, v AS c
               FROM e ORDER BY vec_id LIMIT 8),
         a AS (SELECT vec_id, v, cluster, c,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY list_distance(v, c), cluster) AS rn
               FROM e, s),
         b AS (SELECT vec_id, cluster,
                 CASE WHEN list_dot_product(v, v) > 0
                     AND list_dot_product(c, c) > 0
                   THEN round(list_dot_product(v, c) /
                     (sqrt(list_dot_product(v, v)) *
                      sqrt(list_dot_product(c, c))), 6)
                 END AS cos
               FROM a WHERE rn = 1),
         r AS (SELECT vec_id, cluster, cos,
                 CAST(row_number() OVER (PARTITION BY cluster
                   ORDER BY coalesce(cos, -2.0) DESC, vec_id) AS INT)
                   AS rnk,
                 count(*) OVER (PARTITION BY cluster) AS n
               FROM b)
         SELECT vec_id, cluster, cos, rnk, CAST(n AS BIGINT) AS n,
           CASE WHEN rnk <= ceil(0.25 * n) THEN 1 ELSE 0 END AS drop_flag
         FROM r ORDER BY vec_id"""),


    // ext: MMR diverse top-k — greedy relevance-vs-redundancy selection
    // over a 20-candidate shortlist; oracle replays all 8 greedy steps
    Query("q110_mmr", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      ext.Similarity.mmrTopK(emb, emb.filter(col("vec_id") < 3),
        8, 0.7, 20)
    }, Seq(col("query_id"), col("mmr_rank")),
      MmrChainSql(8, 0.7, 20, 3)),


    // ext: BM25 keyword retrieval — the sparse complement to the ANN
    // stack; top-10 docs for a three-term query
    Query("q127_bm25", (s, dir) =>
      ext.TextAnalysis.bm25(Tables.load(s, dir, "documents"),
        "doc_id", "text", "hash join filter"),
      Seq(col("score").desc, col("doc_id")), {
      // Lucene-form BM25; k1/b-derived literals interpolate from the SAME
      // Scala doubles so the score arithmetic replays bit-for-bit
      val (k1, b) = (1.2, 0.75)
      s"""WITH d AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         dd AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, toks
                FROM d),
         st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
                FROM dd),
         h AS (SELECT doc_id, dl, unnest(toks) AS tok FROM dd),
         hits AS (SELECT doc_id, dl, tok FROM h
                  WHERE tok IN ('hash', 'join', 'filter')),
         tf AS (SELECT doc_id, dl, tok, CAST(count(*) AS DOUBLE) AS tf
                FROM hits GROUP BY doc_id, dl, tok),
         dft AS (SELECT tok, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
                 FROM hits GROUP BY tok),
         sc AS (SELECT tf.doc_id,
                  round(sum(ln(1.0 + (st.n - dft.df + 0.5)
                      / (dft.df + 0.5)) *
                    (tf.tf * ${k1 + 1.0}) /
                    (tf.tf + $k1 * (${1.0 - b} + $b * tf.dl
                      / st.avgdl))), 6) AS score
                FROM tf JOIN dft USING (tok), st GROUP BY tf.doc_id)
         SELECT doc_id, score FROM sc
         ORDER BY score DESC, doc_id LIMIT 10"""
    }),


    // ext: simplified-silhouette cluster quality over the label clusters —
    // O(n·k) centroid form, broadcast k×d centroid table
    Query("q132_cluster_quality", (s, dir) =>
      ext.Similarity.clusterQuality(
        Tables.load(s, dir, "embeddings"), "label"),
      Seq(col("cluster")),
      // simplified silhouette vs per-(cluster,dim) centroid means; the
      // point-centroid distances round at 6 dp BEFORE the a/b compare so
      // both engines pick the same argmin
      """WITH e AS (SELECT vec_id, label AS cluster,
                 CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         x AS (SELECT vec_id, cluster, unnest(v) AS xv,
                 unnest(generate_series(1, len(v))) AS d FROM e),
         cent AS (SELECT cluster AS ccl, d, avg(xv) AS m
                  FROM x GROUP BY cluster, d),
         dd AS (SELECT x.vec_id, x.cluster, cent.ccl,
                  round(sqrt(sum((x.xv - cent.m) * (x.xv - cent.m))), 6)
                    AS dd
                FROM x JOIN cent USING (d)
                GROUP BY x.vec_id, x.cluster, cent.ccl),
         a AS (SELECT vec_id, cluster, dd AS a FROM dd
               WHERE cluster = ccl),
         b AS (SELECT vec_id, cluster, min(dd) AS b FROM dd
               WHERE cluster <> ccl GROUP BY vec_id, cluster),
         s AS (SELECT a.cluster, a.a,
                 CASE WHEN greatest(a.a, b.b) > 0
                   THEN (b.b - a.a) / greatest(a.a, b.b)
                   ELSE 0.0 END AS s
               FROM a JOIN b USING (vec_id, cluster))
         SELECT cluster, CAST(count(*) AS BIGINT) AS n,
           round(avg(a), 6) AS mean_a,
           round(avg(s), 6) AS mean_silhouette
         FROM s GROUP BY cluster ORDER BY cluster"""),


    // ext: hybrid retrieval — reciprocal rank fusion of the q127 BM25 run
    // with a dense cosine top-10 (RAG's standard sparse+dense merge)
    Query("q133_hybrid_rrf", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val sparse = ext.TextAnalysis.bm25(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        "hash join filter")
      val dense = ext.Similarity
        .bruteForceTopK(emb, emb.filter(col("vec_id") === 0), 10)
        .select(col("corpus_id").as("doc_id"), col("cos").as("score"))
      ext.Similarity.rrfFuse(sparse, dense, "doc_id")
    }, Nil, {
      // RRF = 1/(60+rank_sparse) + 1/(60+rank_dense) over the q127 BM25
      // top-10 and the dense cosine top-10 for query vector 0; both ranks
      // order by (6 dp score desc, id) so the fusion is engine-portable
      val (k1, b) = (1.2, 0.75)
      s"""WITH d AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         dd AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, toks
                FROM d),
         st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
                FROM dd),
         h AS (SELECT doc_id, dl, unnest(toks) AS tok FROM dd),
         hits AS (SELECT doc_id, dl, tok FROM h
                  WHERE tok IN ('hash', 'join', 'filter')),
         tf AS (SELECT doc_id, dl, tok, CAST(count(*) AS DOUBLE) AS tf
                FROM hits GROUP BY doc_id, dl, tok),
         dft AS (SELECT tok, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
                 FROM hits GROUP BY tok),
         sc AS (SELECT tf.doc_id,
                  round(sum(ln(1.0 + (st.n - dft.df + 0.5)
                      / (dft.df + 0.5)) *
                    (tf.tf * ${k1 + 1.0}) /
                    (tf.tf + $k1 * (${1.0 - b} + $b * tf.dl
                      / st.avgdl))), 6) AS score
                FROM tf JOIN dft USING (tok), st GROUP BY tf.doc_id),
         bmtop AS (SELECT doc_id, score FROM sc
                   ORDER BY score DESC, doc_id LIMIT 10),
         ra AS (SELECT doc_id, CAST(row_number() OVER
                    (ORDER BY score DESC, doc_id) AS INT) AS rank_a
                FROM bmtop),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
         dn AS (SELECT a.vec_id AS doc_id, round($CosSql, 6) AS cos
                FROM e a, e b WHERE b.vec_id = 0 AND a.vec_id <> 0),
         dntop AS (SELECT doc_id, cos FROM dn
                   ORDER BY cos DESC, doc_id LIMIT 10),
         rb AS (SELECT doc_id, CAST(row_number() OVER
                    (ORDER BY cos DESC, doc_id) AS INT) AS rank_b
                FROM dntop),
         f AS (SELECT doc_id, rank_a, rank_b
               FROM ra FULL OUTER JOIN rb USING (doc_id))
         SELECT doc_id, rank_a, rank_b,
           round(coalesce(1.0 / (60 + rank_a), 0.0) +
                 coalesce(1.0 / (60 + rank_b), 0.0), 6) AS rrf
         FROM f ORDER BY rrf DESC, doc_id LIMIT 10"""
    }),


    // ext: int8 scalar quantization of the embedding store — per-dim
    // min/max affine map + per-vector reconstruction MSE (the recall
    // audit before a 4× store compression ships)
    Query("q140_int8_quant", (s, dir) =>
      ext.Similarity.scalarQuantize(Tables.load(s, dir, "embeddings"))
        .select(col("vec_id"), col("mse")),
      Seq(col("vec_id")),
      // same affine form left-associated; round() sees only non-negative
      // arguments so HALF_UP and half-away agree; (qv+128) == round(...)
      // exactly on integers, so the reconstruction skips the offset
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
         x AS (SELECT vec_id, unnest(v) AS x,
                 unnest(generate_series(1, len(v))) AS d FROM e),
         st AS (SELECT d, min(x) AS lo, max(x) AS hi FROM x GROUP BY d),
         r AS (SELECT vec_id, x.x,
                 CASE WHEN st.hi > st.lo
                 THEN st.lo + round((x.x - st.lo) * 255.0 / (st.hi - st.lo))
                   * (st.hi - st.lo) / 255.0
                 ELSE st.lo END AS xr
               FROM x JOIN st USING (d))
         SELECT vec_id, round(avg((x - xr) * (x - xr)), 6) AS mse
         FROM r GROUP BY vec_id ORDER BY vec_id"""),


    // ext: retrieval-quality audit — hit@10 / MRR / nDCG@10 of the brute
    // cosine run against label-match relevance judgments; every stage
    // keys on the query, the corpus never appears downstream of the run
    Query("q149_retrieval_metrics", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val runs = ext.Similarity.bruteForceTopK(
        emb, emb.filter(col("vec_id") < 10), 10)
      val qrels = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("label"))
        .join(emb.select(col("vec_id").as("corpus_id"), col("label")),
          "label")
        .filter(col("corpus_id") =!= col("query_id"))
        .select("query_id", "corpus_id")
      ext.Eval.retrievalMetrics(runs, qrels, "query_id", "corpus_id",
          "cos", 10)
    }, Seq(col("query_id")), {
      // ln-ratio discount (ln(r+1)/ln 2) interpolated from the SAME Scala
      // Ln2 double the Spark side uses — library log2's differ in the last
      // ulp between engines, a fixed ln-ratio does not
      val ln2 = ext.Eval.Ln2
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
         scored AS (SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
                      round($CosSql, 6) AS cos
                    FROM e a, e b
                    WHERE b.vec_id < 10 AND a.vec_id <> b.vec_id),
         run AS (SELECT query_id, corpus_id,
                   CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, corpus_id) AS INT) AS rank
                 FROM scored QUALIFY rank <= 10),
         qr AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id
                FROM embeddings q JOIN embeddings c ON q.label = c.label
                  AND c.vec_id <> q.vec_id
                WHERE q.vec_id < 10),
         nr AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
                FROM qr GROUP BY query_id),
         j AS (SELECT run.query_id, run.rank,
                 CASE WHEN qr.corpus_id IS NOT NULL THEN 1 ELSE 0 END
                   AS rel
               FROM run LEFT JOIN qr ON qr.query_id = run.query_id
                 AND qr.corpus_id = run.corpus_id),
         per AS (SELECT query_id, CAST(max(rel) AS INT) AS hit_k,
                   coalesce(1.0 / CAST(min(CASE WHEN rel = 1 THEN rank END)
                     AS DOUBLE), 0.0) AS mrr_raw,
                   sum(CAST(rel AS DOUBLE) /
                     (ln(CAST(rank AS DOUBLE) + 1.0) / $ln2)) AS dcg
                 FROM j GROUP BY query_id)
         SELECT per.query_id, nr.n_rel, per.hit_k,
           round(per.mrr_raw, 6) AS mrr,
           round(per.dcg / list_sum(list_transform(
             generate_series(1,
               least(10, CAST(greatest(nr.n_rel, 1) AS INT))),
             i -> 1.0 / (ln(CAST(i AS DOUBLE) + 1.0) / $ln2))), 6)
             AS ndcg
         FROM per JOIN nr USING (query_id) ORDER BY query_id"""
    }),


    // ext: rank-biased overlap of the q133 sparse/dense runs — the
    // run-COMPARISON audit next to RRF's run-merge; bounded inputs
    Query("q159_rbo", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val sparse = ext.TextAnalysis.bm25(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        "hash join filter")
      val dense = ext.Similarity
        .bruteForceTopK(emb, emb.filter(col("vec_id") === 0), 10)
        .select(col("corpus_id").as("doc_id"), col("cos").as("score"))
      ext.Similarity.rbo(sparse, dense, "doc_id")
    }, Nil, {
      // q133's bm25 + dense rank CTEs, then the per-doc suffix-weight
      // regrouping; the weights interpolate rboWeights' exact doubles
      val (k1, b) = (1.2, 0.75)
      val w = ext.Similarity.rboWeights(0.9, 10)
      val caseW = (1 to 10).map(m => s"WHEN $m THEN ${w(m - 1)}")
        .mkString("CASE greatest(ra.rank_a, rb.rank_b) ", " ", " END")
      s"""WITH d AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         dd AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, toks
                FROM d),
         st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
                FROM dd),
         h AS (SELECT doc_id, dl, unnest(toks) AS tok FROM dd),
         hits AS (SELECT doc_id, dl, tok FROM h
                  WHERE tok IN ('hash', 'join', 'filter')),
         tf AS (SELECT doc_id, dl, tok, CAST(count(*) AS DOUBLE) AS tf
                FROM hits GROUP BY doc_id, dl, tok),
         dft AS (SELECT tok, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
                 FROM hits GROUP BY tok),
         sc AS (SELECT tf.doc_id,
                  round(sum(ln(1.0 + (st.n - dft.df + 0.5)
                      / (dft.df + 0.5)) *
                    (tf.tf * ${k1 + 1.0}) /
                    (tf.tf + $k1 * (${1.0 - b} + $b * tf.dl
                      / st.avgdl))), 6) AS score
                FROM tf JOIN dft USING (tok), st GROUP BY tf.doc_id),
         bmtop AS (SELECT doc_id, score FROM sc
                   ORDER BY score DESC, doc_id LIMIT 10),
         ra AS (SELECT doc_id, CAST(row_number() OVER
                    (ORDER BY score DESC, doc_id) AS INT) AS rank_a
                FROM bmtop),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
         dn AS (SELECT a.vec_id AS doc_id, round($CosSql, 6) AS cos
                FROM e a, e b WHERE b.vec_id = 0 AND a.vec_id <> 0),
         dntop AS (SELECT doc_id, cos FROM dn
                   ORDER BY cos DESC, doc_id LIMIT 10),
         rb AS (SELECT doc_id, CAST(row_number() OVER
                    (ORDER BY cos DESC, doc_id) AS INT) AS rank_b
                FROM dntop),
         j AS (SELECT ra.doc_id, $caseW AS w
               FROM ra JOIN rb USING (doc_id))
         SELECT 10 AS depth, CAST(count(*) AS BIGINT) AS overlap,
           round(${1.0 - 0.9} * coalesce(sum(w), 0.0), 6) AS rbo,
           round(${1.0 - 0.9} * coalesce(sum(w), 0.0)
             + ${math.pow(0.9, 10)} * CAST(count(*) AS DOUBLE) / 10.0, 6)
             AS rbo_ext
         FROM j"""
    }),


    // ext: top principal component of the embedding store — 5 power-
    // iteration rounds, each one scan + one VectorMeanAgg reduce + a
    // d-double driver normalize (the logisticTrain shape, spectral)
    Query("q161_pca_loadings", (s, dir) => {
      import s.implicits._
      val v = ext.Similarity.pcaTopComponent(
        Tables.load(s, dir, "embeddings"))
      v.toIndexedSeq.zipWithIndex.map { case (vj, j) => (j + 1, vj) }
        .toDF("dim", "loading")
        .select(col("dim"), round(col("loading"), 6).as("loading"))
    }, Seq(col("dim")),
      s"""WITH $PcaRoundsSql
         SELECT CAST(g.j AS INT) AS dim, round(v5.v[g.j], 6) AS loading
         FROM v5, generate_series(1, 64) AS g(j)
         ORDER BY dim"""),


    // ext: the variance account of q161's direction — Rayleigh quotient
    // vs total variance: "is this store anisotropic enough that PCA
    // projection beats JL?" quantified
    Query("q162_pca_variance", (s, dir) =>
      ext.Similarity.pcaVarianceReport(Tables.load(s, dir, "embeddings")),
      Nil,
      s"""WITH $PcaRoundsSql,
         sc5 AS (SELECT list_sum(list_transform(generate_series(1, 64),
                  j2 -> (e.x[j2] - mu.mu[j2]) * v5.v[j2])) AS s,
                 list_sum(list_transform(generate_series(1, 64),
                  j2 -> (e.x[j2] - mu.mu[j2]) * (e.x[j2] - mu.mu[j2])))
                  AS cc
               FROM e, mu, v5)
         SELECT CAST(count(*) AS BIGINT) AS n,
           round(avg(s * s), 6) AS lambda,
           round(avg(cc), 6) AS total_var,
           round(avg(s * s) / avg(cc), 6) AS explained
         FROM sc5"""),


    // ext: nightly-append IVF store — build from the even half, APPEND
    // the odd half against the same centroids, serve the union; at
    // nprobe = k the search is exact, so the oracle is brute force
    Query("q163_store_append", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val coarse = ext.Ivf.train(emb, k = 8, iters = 2)
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_q163_store_${s.sparkContext.applicationId}").toString
      ext.Ivf.writeStore(emb.filter(col("vec_id") % 2 === 0), path, coarse)
      ext.Ivf.appendToStore(emb.filter(col("vec_id") % 2 === 1), path,
        coarse)
      ext.Ivf.topKFromStore(s, path,
        emb.filter(col("vec_id") < 3), 10, coarse, nprobe = 8)
    }, Seq(col("query_id"), col("rank")),
      // nprobe = k ⇒ exact: the same brute-force oracle as q25/q41 —
      // centroid quality affects only the partitioning, never the result
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
         scored AS (SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
                      round($CosSql, 6) AS cos
                    FROM e a, e b
                    WHERE b.vec_id < 3 AND a.vec_id <> b.vec_id),
         r AS (SELECT query_id, corpus_id, cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, corpus_id) AS INT) AS rank
               FROM scored)
         SELECT query_id, rank, corpus_id, cos FROM r
         WHERE rank <= 10 ORDER BY query_id, rank"""),


    // ext: per-row projection onto the q161 component — the dominant-
    // axis coordinate as a scalar feature (shuffle-free scoring map)
    Query("q167_pca_project", (s, dir) =>
      ext.Similarity.pcaProject(Tables.load(s, dir, "embeddings")),
      Seq(col("vec_id")),
      s"""WITH $PcaRoundsSql
         SELECT e.vec_id,
           round(list_sum(list_transform(generate_series(1, 64),
             j2 -> (e.x[j2] - mu.mu[j2]) * v5.v[j2])), 6) AS pc1
         FROM e, mu, v5 ORDER BY vec_id"""),


    // ext: second principal component — power iteration deflated by
    // per-round Gram–Schmidt against q161's direction; with q161/q167
    // this is the 2-D cluster-map / whitening basis
    Query("q171_pca_loadings2", (s, dir) => {
      import s.implicits._
      val v = ext.Similarity.pcaSecondComponent(
        Tables.load(s, dir, "embeddings"))
      v.toIndexedSeq.zipWithIndex.map { case (vj, j) => (j + 1, vj) }
        .toDF("dim", "loading2")
        .select(col("dim"), round(col("loading2"), 6).as("loading2"))
    }, Seq(col("dim")),
      s"""WITH $Pca2RoundsSql
         SELECT CAST(g.j AS INT) AS dim, round(u5.v[g.j], 6) AS loading2
         FROM u5, generate_series(1, 64) AS g(j)
         ORDER BY dim"""),


    // ext: diagonal-Mahalanobis embedding outliers — top-20 z² scores
    // (mis-embedded / adversarial rows); shuffle-free scoring map +
    // TakeOrderedAndProject cut
    Query("q172_embedding_outliers", (s, dir) =>
      ext.Similarity.embeddingOutliers(
        Tables.load(s, dir, "embeddings")),
      Nil,
      // per-dim mean/std as driver-shape arithmetic ((E[x²]−μ²)·n/(n−1));
      // zero-variance dims contribute 0 via a 0-multiplier
      """WITH e AS MATERIALIZED (SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS x
           FROM embeddings),
         nct AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
         st AS (SELECT list(m ORDER BY j) AS mu,
             list(m2 ORDER BY j) AS m2
           FROM (SELECT g.j AS j, avg(x[g.j]) AS m,
                   avg(x[g.j] * x[g.j]) AS m2
                 FROM e, generate_series(1, 64) AS g(j) GROUP BY g.j)),
         iv AS (SELECT mu, list_transform(generate_series(1, 64), j ->
             CASE WHEN sqrt((m2[j] - mu[j] * mu[j])
                 * (CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE))) > 0
               THEN 1.0 / sqrt((m2[j] - mu[j] * mu[j])
                 * (CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE)))
               ELSE 0.0 END) AS inv
           FROM st, nct),
         sc AS (SELECT vec_id,
             round(list_sum(list_transform(
               list_transform(generate_series(1, 64),
                 j -> (e.x[j] - iv.mu[j]) * iv.inv[j]),
               zi -> zi * zi)), 6) AS score
           FROM e, iv)
         SELECT vec_id, score FROM sc
         ORDER BY score DESC, vec_id LIMIT 20"""),


    // ext: the harness audits its own retrieval stack — hit/MRR/nDCG of
    // the sparse, dense and RRF-fused runs against one judgment set
    Query("q181_fusion_audit", (s, dir) => scoped { sc =>
      val emb = Tables.load(s, dir, "embeddings")
      val docs = Tables.load(s, dir, "documents")
      // the sparse run feeds its own audit AND the fusion (whose audit
      // reads it again) — bm25 hands back its topN already pinned, so the
      // corpus-scale BM25 scan runs once; dense/qrels are bounded but
      // re-read the same way, so they are pinned here
      val sparse = sc.own(ext.TextAnalysis.bm25(docs, "doc_id", "text",
        "hash join filter"))
      val dense = sc.pin(ext.Similarity
        .bruteForceTopK(emb, emb.filter(col("vec_id") === 0), 10)
        .select(col("corpus_id").as("doc_id"), col("cos").as("score")))
      val fused = ext.Similarity.rrfFuse(sparse, dense, "doc_id")
        .select(col("doc_id"), col("rrf").as("score"))
      val qrels = sc.pin(emb.as("q").filter(col("q.vec_id") === 0)
        .join(emb.as("c"),
          col("q.label") === col("c.label") && col("c.vec_id") =!= 0)
        .select(col("c.vec_id").as("doc_id"), lit(0L).as("qid")))
      def audit(run: org.apache.spark.sql.DataFrame, name: String) =
        ext.Eval.retrievalMetrics(run.withColumn("qid", lit(0L)),
            qrels, "qid", "doc_id", "score", 10)
          .select(lit(name).as("run"), col("n_rel"), col("hit_k"),
            col("mrr"), col("ndcg"))
      audit(sparse, "sparse").unionByName(audit(dense, "dense"))
        .unionByName(audit(fused, "fused"))
    }, Seq(col("run")), {
      // q133's three runs + q149's metric arithmetic over one judgment set
      val (k1, b) = (1.2, 0.75)
      val ln2 = ext.Eval.Ln2
      def metric(rel: String, name: String) =
        s"""SELECT '$name' AS run, nr.n_rel,
           CAST(max(j.rel) AS INT) AS hit_k,
           round(coalesce(1.0 / CAST(min(CASE WHEN j.rel = 1
               THEN j.rank END) AS DOUBLE), 0.0), 6) AS mrr,
           round(sum(CAST(j.rel AS DOUBLE)
               / (ln(CAST(j.rank AS DOUBLE) + 1.0) / $ln2))
             / list_sum(list_transform(generate_series(1,
                 least(10, CAST(greatest(nr.n_rel, 1) AS INT))),
               i -> 1.0 / (ln(CAST(i AS DOUBLE) + 1.0) / $ln2))), 6)
             AS ndcg
         FROM (SELECT r.rank,
                 CASE WHEN qr.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
               FROM $rel r LEFT JOIN qr ON qr.doc_id = r.doc_id) j, nr
         GROUP BY nr.n_rel"""
      s"""WITH d AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         dd AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, toks
                FROM d),
         st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
                FROM dd),
         h AS (SELECT doc_id, dl, unnest(toks) AS tok FROM dd),
         hits AS (SELECT doc_id, dl, tok FROM h
                  WHERE tok IN ('hash', 'join', 'filter')),
         tf AS (SELECT doc_id, dl, tok, CAST(count(*) AS DOUBLE) AS tf
                FROM hits GROUP BY doc_id, dl, tok),
         dft AS (SELECT tok, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
                 FROM hits GROUP BY tok),
         sc AS (SELECT tf.doc_id,
                  round(sum(ln(1.0 + (st.n - dft.df + 0.5)
                      / (dft.df + 0.5)) *
                    (tf.tf * ${k1 + 1.0}) /
                    (tf.tf + $k1 * (${1.0 - b} + $b * tf.dl
                      / st.avgdl))), 6) AS score
                FROM tf JOIN dft USING (tok), st GROUP BY tf.doc_id),
         bmtop AS (SELECT doc_id, score FROM sc
                   ORDER BY score DESC, doc_id LIMIT 10),
         ra AS (SELECT doc_id, CAST(row_number() OVER
                    (ORDER BY score DESC, doc_id) AS INT) AS rank
                FROM bmtop),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
         dn AS (SELECT a.vec_id AS doc_id, round($CosSql, 6) AS cos
                FROM e a, e b WHERE b.vec_id = 0 AND a.vec_id <> 0),
         dntop AS (SELECT doc_id, cos FROM dn
                   ORDER BY cos DESC, doc_id LIMIT 10),
         rb AS (SELECT doc_id, CAST(row_number() OVER
                    (ORDER BY cos DESC, doc_id) AS INT) AS rank
                FROM dntop),
         f AS (SELECT doc_id,
                 round(coalesce(1.0 / (60 + ra.rank), 0.0) +
                       coalesce(1.0 / (60 + rb.rank), 0.0), 6) AS rrf
               FROM ra FULL OUTER JOIN rb USING (doc_id)),
         ftop AS (SELECT doc_id, rrf FROM f
                  ORDER BY rrf DESC, doc_id LIMIT 10),
         fr AS (SELECT doc_id, CAST(row_number() OVER
                    (ORDER BY rrf DESC, doc_id) AS INT) AS rank
                FROM ftop),
         qr AS (SELECT c.vec_id AS doc_id
                FROM embeddings q JOIN embeddings c
                  ON q.label = c.label AND c.vec_id <> 0
                WHERE q.vec_id = 0),
         nr AS (SELECT CAST(count(*) AS BIGINT) AS n_rel FROM qr)
         SELECT * FROM (
           ${metric("ra", "sparse")}
           UNION ALL ${metric("rb", "dense")}
           UNION ALL ${metric("fr", "fused")})
         ORDER BY run"""
    }),


    // ext: MULTI-QUERY retrieval eval — q181 generalized from one
    // judgment set to a qrels TABLE over 8 queries: the full-dim cosine
    // run fused per-query (rrfFuseBy) with a truncated-32-dim run (the
    // Matryoshka-style cheap first-pass ranking), then per-query hit/MRR/
    // nDCG plus one macro-average row. Every stage keys on the query id;
    // parallelism grows with query count, the corpus appears only in the
    // two bounded top-k runs
    Query("q182_retrieval_multiquery", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      def run(frame: org.apache.spark.sql.DataFrame) =
        ext.Similarity.bruteForceTopK(frame,
            frame.filter(col("vec_id") < 8), 10)
          .select(col("query_id"), col("corpus_id"), col("cos").as("score"))
      val full = run(emb)
      val trunc = run(emb.select(col("vec_id"),
        slice(col("embedding"), 1, 32).as("embedding")))
      val fused = ext.Similarity
        .rrfFuseBy(full, trunc, "query_id", "corpus_id", "score")
        .select(col("query_id"), col("corpus_id"), col("rrf").as("score"))
      val qrels = queries.as("q")
        .join(emb.as("c"), col("q.label") === col("c.label") &&
          col("c.vec_id") =!= col("q.vec_id"))
        .select(col("q.vec_id").as("query_id"),
          col("c.vec_id").as("corpus_id"))
      ext.Eval.retrievalMetricsMacro(fused, qrels, "query_id",
          "corpus_id", "score", 10)
    }, Seq(col("scope"), col("query_id")), {
      // q181 generalized to 8 judged queries: full-dim and truncated-32-dim
      // cosine runs fused per query, then per-query metrics + a macro row
      val ln2 = ext.Eval.Ln2
      s"""WITH e AS MATERIALIZED (SELECT vec_id, label,
               CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         et AS (SELECT vec_id, v[1:32] AS v FROM e),
         runa AS (SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
                    CAST(row_number() OVER (PARTITION BY b.vec_id
                      ORDER BY round($CosSql, 6) DESC, a.vec_id) AS INT)
                      AS rank
                  FROM e a, e b
                  WHERE b.vec_id < 8 AND a.vec_id <> b.vec_id
                  QUALIFY rank <= 10),
         runb AS (SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
                    CAST(row_number() OVER (PARTITION BY b.vec_id
                      ORDER BY round($CosSql, 6) DESC, a.vec_id) AS INT)
                      AS rank
                  FROM et a, et b
                  WHERE b.vec_id < 8 AND a.vec_id <> b.vec_id
                  QUALIFY rank <= 10),
         fused AS (SELECT coalesce(a.query_id, b.query_id) AS query_id,
                     coalesce(a.corpus_id, b.corpus_id) AS corpus_id,
                     round(coalesce(1.0 / (60 + a.rank), 0.0) +
                           coalesce(1.0 / (60 + b.rank), 0.0), 6) AS rrf
                   FROM runa a FULL OUTER JOIN runb b
                     ON a.query_id = b.query_id
                     AND a.corpus_id = b.corpus_id),
         fr AS (SELECT query_id, corpus_id, rrf,
                  CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY rrf DESC, corpus_id) AS INT) AS rank
                FROM fused QUALIFY rank <= 10),
         qr AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id
                FROM embeddings q JOIN embeddings c ON q.label = c.label
                  AND c.vec_id <> q.vec_id
                WHERE q.vec_id < 8),
         nr AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
                FROM qr GROUP BY query_id),
         j AS (SELECT fr.query_id, fr.rank,
                 CASE WHEN qr.corpus_id IS NOT NULL THEN 1 ELSE 0 END
                   AS rel
               FROM fr LEFT JOIN qr ON qr.query_id = fr.query_id
                 AND qr.corpus_id = fr.corpus_id),
         per AS (SELECT query_id, CAST(max(rel) AS INT) AS hit,
                   coalesce(1.0 / CAST(min(CASE WHEN rel = 1 THEN rank END)
                     AS DOUBLE), 0.0) AS mrr_raw,
                   sum(CAST(rel AS DOUBLE) /
                     (ln(CAST(rank AS DOUBLE) + 1.0) / $ln2)) AS dcg
                 FROM j GROUP BY query_id),
         perq AS MATERIALIZED (
           SELECT query_id, coalesce(nr.n_rel, 0) AS n_rel,
             CAST(coalesce(per.hit, 0) AS DOUBLE) AS hit_k,
             round(coalesce(per.mrr_raw, 0.0), 6) AS mrr,
             CASE WHEN nr.n_rel > 0 THEN
               round(coalesce(per.dcg, 0.0) / list_sum(list_transform(
                 generate_series(1,
                   least(10, CAST(greatest(nr.n_rel, 1) AS INT))),
                 i -> 1.0 / (ln(CAST(i AS DOUBLE) + 1.0) / $ln2))), 6)
             END AS ndcg
           FROM per FULL OUTER JOIN nr USING (query_id))
         SELECT 'query' AS scope, query_id, n_rel, hit_k, mrr, ndcg
         FROM perq
         UNION ALL
         SELECT 'macro' AS scope, CAST(NULL AS BIGINT) AS query_id,
           CAST(count(*) AS BIGINT) AS n_rel,
           round(avg(hit_k), 6) AS hit_k, round(avg(mrr), 6) AS mrr,
           round(avg(ndcg), 6) AS ndcg
         FROM perq WHERE n_rel > 0
         ORDER BY scope, query_id"""
    }),
  )
}
