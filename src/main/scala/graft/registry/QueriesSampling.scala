package graft

import org.apache.spark.sql.functions._

import graft.QueryShared._

/** Query registry — LLM pipeline: deterministic hash splits, stratified/weighted sampling, mixtures.
  *
  * Each entry is one [[Query]]; shared fixtures and oracle fragments live in [[QueryShared]]. */
object QueriesSampling {

  private[graft] val queries: Seq[Query] = Seq(

    // ext: deterministic train/val/test split — pure hash of (salt, id),
    // so the oracle reproduces the exact assignment from the same md5
    Query("q55_hash_split", (s, dir) =>
      ext.Sampling.hashSplit(Tables.load(s, dir, "documents"),
          "doc_id", Seq(0.8, 0.1, 0.1), "v0")
        .select(col("doc_id"), col("split")),
      Seq(col("doc_id")), {
      val th = ext.Sampling.thresholds(Seq(0.8, 0.1, 0.1))
      s"""SELECT doc_id,
           CASE WHEN ${BucketSql("v0", "doc_id")} < ${th(0)} THEN 0
                WHEN ${BucketSql("v0", "doc_id")} < ${th(1)} THEN 1
                ELSE 2 END AS split
         FROM documents ORDER BY doc_id"""
    }),


    // ext: stratified deterministic sample — smallest (bucket, id) per
    // stratum; WindowGroupLimit makes the cut a partial top-n
    Query("q56_stratified_sample", (s, dir) =>
      ext.Sampling.stratifiedSampleN(Tables.load(s, dir, "documents"),
          Seq("lang"), 5, "doc_id", "s")
        .select(col("lang"), col("doc_id")),
      Seq(col("lang"), col("doc_id")),
      s"""SELECT lang, doc_id FROM documents
         QUALIFY row_number() OVER (PARTITION BY lang
           ORDER BY ${BucketSql("s", "doc_id")}, doc_id) <= 5
         ORDER BY lang, doc_id"""),


    // ext: deterministic weighted corpus mixture — rates sized from the
    // per-source counts, cut by the same md5 bucket as q55/q56
    Query("q57_mixture", (s, dir) =>
      ext.Sampling.mixture(Tables.load(s, dir, "documents"), "source",
          Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), 60L, "doc_id", "m1")
        .select(col("doc_id"), col("source")),
      Seq(col("doc_id")), {
      // mixture: the rate formula replays Sampling.mixture's IEEE-double
      // steps exactly — (w/Σw interpolated) * totalRows / count, floor into
      // the bucket space
      val weights = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2)
      val wtot = weights.values.sum
      val caseF = weights.toSeq.sortBy(_._1).map { case (src, w) =>
        s"WHEN '$src' THEN CAST(${w / wtot} AS DOUBLE)"
      }.mkString("CASE source ", " ", " END")
      s"""WITH c AS (SELECT source, count(*) AS cnt FROM documents
             WHERE source IN ('src0', 'src1', 'src2') GROUP BY source),
         r AS (SELECT source,
                 CAST(floor(least($caseF * 60 / cnt, CAST(1.0 AS DOUBLE))
                   * CAST(${ext.Sampling.Space} AS DOUBLE)) AS BIGINT) AS cut
               FROM c)
         SELECT d.doc_id, d.source FROM documents d
         JOIN r ON d.source = r.source
         WHERE ${BucketSql("m1", "d.doc_id")} < r.cut
         ORDER BY d.doc_id"""
    }),


    // ext: deterministic output sharding — md5-bucket shard + independent
    // second-hash within-shard order, the reproducible "global shuffle"
    // a training-data writer repartitions/sorts by; both columns narrow
    Query("q68_shuffle_shards", (s, dir) =>
      ext.Sampling.shuffleShards(
        Tables.load(s, dir, "documents").select("doc_id"),
        "doc_id", 8, salt = "s7"),
      Seq(col("doc_id")),
      // deterministic sharding: bucket mod n + an independent second bucket
      s"""SELECT doc_id,
           CAST(${BucketSql("s7", "doc_id")} % 8 AS INT) AS shard,
           ${BucketSql("s7#o", "doc_id")} AS shard_order
         FROM documents ORDER BY doc_id"""),


    // ext: per-domain cap — keep the 10 best (longest) docs per source;
    // the rank-limit window compiles to WindowGroupLimit partial top-N
    Query("q85_domain_cap", (s, dir) =>
      ext.Sampling.capPerGroupByScore(
        Tables.load(s, dir, "documents").select("doc_id", "source", "n_chars"),
        "source", "n_chars", "doc_id", 10),
      Seq(col("source"), col("doc_id")),
      """SELECT doc_id, source, n_chars FROM documents
         QUALIFY row_number() OVER (PARTITION BY source
           ORDER BY n_chars DESC, doc_id) <= 10
         ORDER BY source, doc_id"""),


    // ext: weighted sampling without replacement (Efraimidis-Spirakis),
    // weight = n_chars — reproducible k-row draw, TakeOrdered plan
    Query("q89_weighted_sample", (s, dir) =>
      ext.Sampling.weightedSampleK(
        Tables.load(s, dir, "documents").select("doc_id", "source", "n_chars"),
        "doc_id", "n_chars", 100, salt = "ws"),
      Seq(col("doc_id")),
      // the A-ES key replays weightedSampleK's IEEE steps exactly:
      // u = (bucket + 0.5) / 2^60, key = -ln(u) / weight
      s"""SELECT doc_id, source, n_chars FROM documents
         ORDER BY -ln((CAST(${BucketSql("ws", "doc_id")} AS DOUBLE) + 0.5)
             / CAST(${ext.Sampling.Space} AS DOUBLE))
           / CAST(n_chars AS DOUBLE), doc_id
         LIMIT 100"""),


    // ext: temperature (alpha-)sampling at tau=0.5 — per-source keep rate
    // k/sqrt(n): small sources survive, the hot crawl shrinks; sqrt is
    // IEEE-exact in both engines so the cut replays bit-identically
    Query("q111_temperature_mix", (s, dir) =>
      ext.Sampling.temperatureMixture(Tables.load(s, dir, "documents"),
          "source", 0.5, 3.0, "doc_id", "tm")
        .select(col("doc_id"), col("source")),
      Seq(col("doc_id")),
      // rate = least(3.0 * (1.0 / sqrt(cnt)), 1.0) — the exact form the
      // Scala side evaluates (x * (1/s), not x/s; sqrt is IEEE-exact)
      s"""WITH c AS (SELECT source, CAST(count(*) AS DOUBLE) AS cnt
             FROM documents GROUP BY source),
         r AS (SELECT source,
                 CAST(floor(least(3.0 * (1.0 / sqrt(cnt)),
                     CAST(1.0 AS DOUBLE))
                   * CAST(${ext.Sampling.Space} AS DOUBLE)) AS BIGINT)
                   AS cut
               FROM c)
         SELECT d.doc_id, d.source FROM documents d
         JOIN r ON d.source = r.source
         WHERE ${BucketSql("tm", "d.doc_id")} < r.cut
         ORDER BY d.doc_id"""),
  )
}
