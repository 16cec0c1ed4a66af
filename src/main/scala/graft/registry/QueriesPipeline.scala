package graft

import org.apache.spark.sql.functions._

import graft.QueryShared._

/** Query registry — end-to-end corpus curation compositions.
  *
  * Each entry is one [[Query]]; shared fixtures and oracle fragments live in [[QueryShared]]. */
object QueriesPipeline {

  private[graft] val queries: Seq[Query] = Seq(

    // pipeline: end-to-end corpus curation (near-dup canonical filter →
    // langid/quality/token features → quality gate)
    // no spread on the input (r14, paired probe: +0.67 s with it — the
    // curation win is the feature-table pin in curateBody, not extra
    // scan parallelism)
    Query("q46_corpus_curate", (s, dir) =>
      pipeline.CorpusCuration.curate(Tables.load(s, dir, "documents")),
      Seq(col("doc_id")),
      // composed from the tested q21/q43/q17/q18 fragments: near-dup
      // canonical filter (recursive closure), then features + quality gate
      s"""WITH RECURSIVE pairs AS (
           $MinhashPairsSql
           SELECT id_a, id_b FROM j WHERE jaccard >= 0.3),
         e AS (SELECT id_a AS a, id_b AS b FROM pairs
               UNION SELECT id_b, id_a FROM pairs),
         rr(a, b) AS (SELECT a, b FROM e
                      UNION SELECT rr.a, e.b FROM rr JOIN e ON rr.b = e.a),
         dupes AS (SELECT a AS doc_id FROM rr GROUP BY a
                   HAVING least(a, min(b)) <> a),
         keep AS (SELECT * FROM documents
                  WHERE doc_id NOT IN (SELECT doc_id FROM dupes)),
         t AS (SELECT doc_id, text, $ToksSql AS toks,
                 CASE WHEN len(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\\s+')) END AS tok_cnt
               FROM keep),
         s AS (SELECT doc_id, text, tok_cnt, $LangScoreSql FROM t),
         f AS (SELECT doc_id,
                 $LangCaseSql AS lang_id,
                 round(0.3 * least(tok_cnt / 100.0, 1.0)
                   + 0.4 * (1.0 - CASE WHEN len(text) > 0
                       THEN (CAST(len(text) AS DOUBLE) - CAST(len(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)) / len(text)
                       ELSE 0.0 END)
                   + 0.3 * least(CASE WHEN tok_cnt > 0
                       THEN (CAST(s_en AS DOUBLE) / tok_cnt) ELSE 0.0 END * 5.0, 1.0), 6) AS quality,
                 CAST(tok_cnt AS BIGINT) AS tok_cnt
               FROM s)
         SELECT doc_id, lang_id, quality, tok_cnt FROM f
         WHERE quality >= 0.55 ORDER BY doc_id"""),


    // pipeline: quality-aware curation — q46's pipeline keeping the BEST
    // member per near-dup cluster instead of the min-id one
    Query("q180_curate_keep_best", (s, dir) =>
      pipeline.CorpusCuration.curateKeepBest(
        Tables.load(s, dir, "documents")),
      Seq(col("doc_id")),
      // q46's composed chain with the q154 argmax replacing min-id
      s"""WITH RECURSIVE pairs AS (
           $MinhashPairsSql
           SELECT id_a, id_b FROM j WHERE jaccard >= 0.3),
         e AS (SELECT id_a AS a, id_b AS b FROM pairs
               UNION SELECT id_b, id_a FROM pairs),
         rr(a, b) AS (SELECT a, b FROM e
                      UNION SELECT rr.a, e.b FROM rr JOIN e ON rr.b = e.a),
         can AS (SELECT a AS doc_id, least(a, min(b)) AS canonical_id
                 FROM rr GROUP BY a),
         sq AS ($QualityCtesSql
                SELECT doc_id, $QualityValSql AS q FROM s),
         g AS (SELECT d.doc_id,
                 coalesce(can.canonical_id, d.doc_id) AS group_id, sq.q
               FROM documents d LEFT JOIN can USING (doc_id)
                 JOIN sq USING (doc_id)),
         rep AS (SELECT doc_id FROM g
                 QUALIFY row_number() OVER (PARTITION BY group_id
                   ORDER BY q DESC, doc_id) = 1),
         kept AS (SELECT * FROM documents
                  WHERE doc_id IN (SELECT doc_id FROM rep)),
         t2 AS (SELECT doc_id, text, $ToksSql AS toks,
                 CASE WHEN len(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\\s+')) END
                      AS tok_cnt
               FROM kept),
         s2 AS (SELECT doc_id, text, tok_cnt, $LangScoreSql FROM t2),
         f AS (SELECT doc_id,
                 $LangCaseSql AS lang_id,
                 round(0.3 * least(tok_cnt / 100.0, 1.0)
                   + 0.4 * (1.0 - CASE WHEN len(text) > 0
                       THEN (CAST(len(text) AS DOUBLE) - CAST(len(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)) / len(text)
                       ELSE 0.0 END)
                   + 0.3 * least(CASE WHEN tok_cnt > 0
                       THEN (CAST(s_en AS DOUBLE) / tok_cnt) ELSE 0.0 END
                       * 5.0, 1.0), 6) AS quality,
                 CAST(tok_cnt AS BIGINT) AS tok_cnt
               FROM s2)
         SELECT doc_id, lang_id, quality, tok_cnt FROM f
         WHERE quality >= 0.55 ORDER BY doc_id"""),
  )
}
