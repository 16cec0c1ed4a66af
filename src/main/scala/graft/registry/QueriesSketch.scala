package graft

import org.apache.spark.sql.functions._

import graft.QueryShared._

/** Query registry — LLM pipeline: Misra-Gries heavy hitters, count-min estimates and join sizing.
  *
  * Each entry is one [[Query]]; shared fixtures and oracle fragments live in [[QueryShared]]. */
object QueriesSketch {

  private[graft] val queries: Seq[Query] = Seq(

    // ext: exact top-20 tokens without a vocabulary shuffle — Misra-Gries
    // candidate sketch + exact recount of the retained set
    Query("q86_heavy_hitters", (s, dir) =>
      ext.TextAnalysis.heavyHitters(
        Tables.load(s, dir, "documents"), "text", 20),
      Nil,
      s"""SELECT word AS token, CAST(count(*) AS BIGINT) AS cnt
         FROM (SELECT unnest($ToksSql) AS word FROM documents)
         GROUP BY word ORDER BY cnt DESC, token LIMIT 20"""),


    // ext: count-min sketch point estimates — the cell table collapses
    // map-side to ≤ d·w rows; probes broadcast-join it (absent key → 0
    // + collisions). 'zzznope' exercises the absent-key path
    Query("q137_cms_counts", (s, dir) => {
      import s.implicits._
      val toks = Tables.load(s, dir, "documents")
        .select(explode(ext.TextAnalysis.wordTokens("text")).as("tok"))
      val probes = Seq("hash", "join", "filter", "data", "the", "zzznope")
        .toDF("tok")
      ext.Cms.estimates(ext.Cms.cells(toks, "tok"), probes, "tok")
    }, Seq(col("tok")),
      // same md5-prefix hash family; min over the 4 rows' cells, absent
      // cell = 0
      s"""WITH h AS (SELECT unnest($ToksSql) AS tok FROM documents),
         cells AS (SELECT j, ${CmsBucketSql("tok")} AS b,
                     CAST(count(*) AS BIGINT) AS cell
                   FROM h, generate_series(0, 3) g(j) GROUP BY j, b),
         probes AS (SELECT unnest(['hash', 'join', 'filter', 'data',
                      'the', 'zzznope']) AS tok),
         pb AS (SELECT tok, j, ${CmsBucketSql("tok")} AS b
                FROM probes, generate_series(0, 3) g(j))
         SELECT pb.tok, min(coalesce(cell, 0)) AS est
         FROM pb LEFT JOIN cells USING (j, b)
         GROUP BY pb.tok ORDER BY tok"""),


    // ext: CMS inner product — equi-join cardinality estimated from two
    // d·w cell tables without scanning either side (the planner's
    // pre-join sizing pass at 100 TB)
    Query("q138_cms_join_size", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      def toks(p: org.apache.spark.sql.Column) = docs.filter(p)
        .select(explode(ext.TextAnalysis.wordTokens("text")).as("tok"))
      ext.Cms.innerProduct(
        ext.Cms.cells(toks(col("source").isin("src0", "src1")), "tok"),
        ext.Cms.cells(toks(col("lang") === "zh"), "tok"))
    }, Nil,
      // CMS inner product: min over j of sum_b cellA*cellB
      s"""WITH ha AS (SELECT unnest($ToksSql) AS tok FROM documents
                WHERE source IN ('src0', 'src1')),
         hb AS (SELECT unnest($ToksSql) AS tok FROM documents
                WHERE lang = 'zh'),
         ca AS (SELECT j, ${CmsBucketSql("tok")} AS b,
                  CAST(count(*) AS BIGINT) AS cell
                FROM ha, generate_series(0, 3) g(j) GROUP BY j, b),
         cb AS (SELECT j, ${CmsBucketSql("tok")} AS b,
                  CAST(count(*) AS BIGINT) AS cell
                FROM hb, generate_series(0, 3) g(j) GROUP BY j, b),
         dots AS (SELECT ca.j, CAST(sum(ca.cell * cb.cell) AS BIGINT) AS dot
                  FROM ca JOIN cb ON ca.j = cb.j AND ca.b = cb.b
                  GROUP BY ca.j)
         SELECT min(dot) AS est_join_size FROM dots"""),
  )
}
