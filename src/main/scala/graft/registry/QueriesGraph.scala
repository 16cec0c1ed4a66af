package graft

import org.apache.spark.sql.functions._

import graft.QueryShared._

/** Query registry — LLM pipeline: PageRank, label propagation, triangles, multi-source BFS.
  *
  * Each entry is one [[Query]]; shared fixtures and oracle fragments live in [[QueryShared]]. */
object QueriesGraph {

  private[graft] val queries: Seq[Query] = Seq(

    // ext: PageRank over the symmetrized q21 near-dup graph — template
    // hubs rank high; 5 damped power-iteration rounds, each one
    // edges⋈rank join + map-side contribution sum
    Query("q139_pagerank", (s, dir) => {
      val pairs = ext.Dedup.minhashLsh(Tables.load(s, dir, "documents"),
        "text", "doc_id", numHashes = 16, bands = 4, minJaccard = 0.3)
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      ext.Graph.pageRank(edges, "src", "dst", 5)
        .select(col("node").as("doc_id"), round(col("pr"), 6).as("pr"))
    }, Seq(col("doc_id")), {
      // 5 generated MATERIALIZED power-iteration rounds over the q21 pair
      // CTEs; per-round: dangling-mass scalar (left-join null test = the
      // anti-join), contribution sum, rank refresh — the damping factor
      // contracts the sum-order float divergence every round
      val (damping, iters) = (0.85, 5)
      val resid = 1.0 - damping
      val rounds = (1 to iters).map { i =>
        s"""d$i AS MATERIALIZED (SELECT coalesce(sum(pr), 0.0) AS dang
             FROM pr${i - 1} p LEFT JOIN dg ON dg.node = p.node
             WHERE dg.outdeg IS NULL),
           c$i AS MATERIALIZED (SELECT e.dst AS node,
               sum(p.pr / dg.outdeg) AS s
             FROM ed e JOIN pr${i - 1} p ON p.node = e.src
                       JOIN dg ON dg.node = e.src
             GROUP BY e.dst),
           pr$i AS MATERIALIZED (SELECT nd.node,
               $resid / n + $damping * (coalesce(c.s, 0.0) + d.dang / n)
                 AS pr
             FROM nd LEFT JOIN c$i c ON c.node = nd.node, nn, d$i d)"""
      }.mkString(",\n")
      s"""$MinhashPairsSql,
         ed AS MATERIALIZED (
           SELECT id_a AS src, id_b AS dst FROM j WHERE jaccard >= 0.3
           UNION ALL
           SELECT id_b AS src, id_a AS dst FROM j WHERE jaccard >= 0.3),
         nd AS MATERIALIZED (SELECT DISTINCT node FROM
           (SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed)),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nd),
         dg AS MATERIALIZED (SELECT src AS node,
             CAST(count(*) AS BIGINT) AS outdeg FROM ed GROUP BY src),
         pr0 AS MATERIALIZED (SELECT node, 1.0 / n AS pr FROM nd, nn),
         $rounds
         SELECT node AS doc_id, round(pr, 6) AS pr FROM pr$iters
         ORDER BY doc_id"""
    }),


    // ext: label propagation over the near-dup graph — every 5th doc
    // seeds its lang; plurality vote per round, seeds clamped; exact
    // integer arithmetic (no float grain at all)
    Query("q142_label_prop", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val pairs = ext.Dedup.minhashLsh(docs, "text", "doc_id",
        numHashes = 16, bands = 4, minJaccard = 0.3)
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      val seeds = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("lang"))
      ext.Graph.labelPropagation(edges, seeds, "src", "dst",
        "doc_id", "lang", 5)
        .select(col("node").as("doc_id"), col("label"))
    }, Seq(col("doc_id")), {
      // 5 generated MATERIALIZED plurality-vote rounds over the q21 pair
      // CTEs; all-integer — no rounding grain anywhere
      val iters = 5
      val rounds = (1 to iters).map { i =>
        s"""v$i AS MATERIALIZED (SELECT e.dst AS node, l.label,
               CAST(count(*) AS BIGINT) AS c
             FROM ed e JOIN lb${i - 1} l ON l.node = e.src
             WHERE l.label IS NOT NULL GROUP BY e.dst, l.label),
           t$i AS MATERIALIZED (SELECT node, label AS vote FROM (
             SELECT node, label, row_number() OVER (PARTITION BY node
               ORDER BY c DESC, label) AS rn FROM v$i) WHERE rn = 1),
           lb$i AS MATERIALIZED (SELECT nd.node,
               coalesce(sd.seed, t.vote) AS label
             FROM nd LEFT JOIN sd ON sd.node = nd.node
                     LEFT JOIN t$i t ON t.node = nd.node)"""
      }.mkString(",\n")
      s"""$MinhashPairsSql,
         ed AS MATERIALIZED (
           SELECT id_a AS src, id_b AS dst FROM j WHERE jaccard >= 0.3
           UNION ALL
           SELECT id_b AS src, id_a AS dst FROM j WHERE jaccard >= 0.3),
         nd AS MATERIALIZED (SELECT DISTINCT node FROM
           (SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed)),
         sd AS MATERIALIZED (SELECT doc_id AS node, lang AS seed
           FROM documents WHERE doc_id % 5 = 0),
         lb0 AS MATERIALIZED (SELECT nd.node, sd.seed AS label
           FROM nd LEFT JOIN sd ON sd.node = nd.node),
         $rounds
         SELECT node AS doc_id, label FROM lb$iters ORDER BY doc_id"""
    }),


    // ext: per-node triangle counts over the near-dup graph — dense
    // duplication cliques vs bridging hubs; oriented-wedge join (i<j<k)
    Query("q148_triangles", (s, dir) => {
      val pairs = ext.Dedup.minhashLsh(Tables.load(s, dir, "documents"),
        "text", "doc_id", numHashes = 16, bands = 4, minJaccard = 0.3)
      ext.Graph.triangleCount(pairs, "id_a", "id_b")
        .select(col("node").as("doc_id"), col("triangles"))
    }, Seq(col("doc_id")),
      // oriented-wedge triangle count over the q21 pairs (already lo<hi
      // and distinct); all-integer
      s"""$MinhashPairsSql,
         und AS MATERIALIZED (SELECT id_a AS lo, id_b AS hi FROM j
           WHERE jaccard >= 0.3),
         nd AS (SELECT DISTINCT node FROM
           (SELECT lo AS node FROM und UNION ALL SELECT hi FROM und)),
         w AS (SELECT e1.lo AS i, e1.hi AS j, e2.hi AS k
               FROM und e1 JOIN und e2
                 ON e1.lo = e2.lo AND e1.hi < e2.hi),
         tri AS (SELECT w.i, w.j, w.k FROM w
                 WHERE EXISTS (SELECT 1 FROM und
                   WHERE und.lo = w.j AND und.hi = w.k)),
         pn AS (SELECT node, CAST(count(*) AS BIGINT) AS t FROM
                  (SELECT unnest([i, j, k]) AS node FROM tri)
                GROUP BY node)
         SELECT nd.node AS doc_id, coalesce(pn.t, 0) AS triangles
         FROM nd LEFT JOIN pn ON pn.node = nd.node
         ORDER BY doc_id"""),


    // ext: multi-source BFS over the near-dup graph — hop distance from
    // every 50th doc as the trusted seed set ("k hops from known-good");
    // frontier rounds, NULL = unreached within 5
    Query("q152_bfs_hops", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val pairs = ext.Dedup.minhashLsh(docs, "text", "doc_id",
        numHashes = 16, bands = 4, minJaccard = 0.3)
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      val seeds = docs.filter(col("doc_id") % 50 === 0).select(col("doc_id"))
      ext.Graph.bfsHops(edges, seeds, "src", "dst", "doc_id", 5)
        .select(col("node").as("doc_id"), col("hops"))
    }, Seq(col("doc_id")), {
      // 5 generated MATERIALIZED min-propagation rounds ≡ BFS settled set
      // after 5 frontiers; all-integer
      val rounds = (1 to 5).map { i =>
        s"""d$i AS MATERIALIZED (SELECT node, min(d) AS d FROM (
             SELECT node, d FROM d${i - 1}
             UNION ALL
             SELECT e.dst AS node, d${i - 1}.d + 1 AS d
             FROM e JOIN d${i - 1} ON e.src = d${i - 1}.node)
           GROUP BY node)"""
      }.mkString(",\n")
      s"""$MinhashPairsSql,
         und AS MATERIALIZED (SELECT id_a, id_b FROM j
           WHERE jaccard >= 0.3),
         e AS (SELECT id_a AS src, id_b AS dst FROM und
               UNION ALL SELECT id_b, id_a FROM und),
         sd AS (SELECT doc_id AS node FROM documents
                WHERE doc_id % 50 = 0),
         nd AS (SELECT DISTINCT node FROM
           (SELECT src AS node FROM e UNION ALL SELECT dst FROM e
            UNION ALL SELECT node FROM sd)),
         d0 AS MATERIALIZED (SELECT node, 0 AS d FROM sd),
         $rounds
         SELECT nd.node AS doc_id, CAST(d5.d AS INT) AS hops
         FROM nd LEFT JOIN d5 ON d5.node = nd.node
         ORDER BY doc_id"""
    }),
  )
}
