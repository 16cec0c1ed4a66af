package graft

import org.apache.spark.sql.functions._

import graft.QueryShared._
import graft.util.Checkpoints.scoped

/** Query registry — LLM pipeline: language/quality signals, BPE, LM scoring, DSIR, NB gates,
  * and (r14) the text member's drift family — per-source vocabulary
  * divergence (q204), its windowed serving twin and by-slice form
  * (q205/q206), and the one-pass text-feed gate (q207).
  *
  * Each entry is one [[Query]]; shared fixtures and oracle fragments live in [[QueryShared]]. */
object QueriesText {

  private[graft] val queries: Seq[Query] = Seq(

    // ext: token counting (whitespace tokenizer)
    Query("q17_token_count", (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          ext.TextAnalysis.tokenCount("text").cast("long").as("tok_cnt")),
      Seq(col("doc_id")),
      """SELECT doc_id,
         CAST(CASE WHEN len(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS tok_cnt
         FROM documents ORDER BY doc_id"""),


    // ext: language-ID heuristic + quality scoring (pure expressions)
    Query("q18_langid_quality", (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          ext.TextAnalysis.langId("text").as("lang_id"),
          round(ext.TextAnalysis.qualityScore("text"), 6).as("quality")),
      Seq(col("doc_id")),
      s"""$QualityCtesSql
         SELECT doc_id,
           $LangCaseSql AS lang_id,
           $QualityValSql AS quality
         FROM s ORDER BY doc_id"""),


    // ext: rolling-hash document fingerprint (min md5 over char 8-grams)
    Query("q19_fingerprint", (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          ext.TextAnalysis.fingerprint("text").as("fp")),
      Seq(col("doc_id")),
      """SELECT doc_id,
         list_min(list_transform(generate_series(1, greatest(len(text) - 7, 1)),
           i -> md5(substr(text, i, 8)))) AS fp
         FROM documents ORDER BY doc_id"""),


    // ext: characteristic terms per document (rational idf — see
    // TextAnalysis.tfidfTopTerms for the cross-engine rationale)
    Query("q45_tfidf", (s, dir) =>
      ext.TextAnalysis.tfidfTopTerms(
        Tables.load(s, dir, "documents"), "text", "doc_id", 3),
      Seq(col("doc_id"), col("rank")),
      // identical rational-idf arithmetic: tf * ((N+1)/(df+1)), both exact
      // IEEE ops, rounded at 6dp on both sides
      s"""WITH n AS (SELECT count(*) AS n FROM documents),
         tt AS (SELECT doc_id, unnest($ToksSql) AS term FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tt GROUP BY doc_id, term),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         sc AS (SELECT tf.doc_id, tf.term,
                  round(CAST(tf.tf AS DOUBLE) *
                    (CAST(n.n + 1 AS DOUBLE) / CAST(dfq.df + 1 AS DOUBLE)), 6) AS score
                FROM tf JOIN dfq ON tf.term = dfq.term, n),
         r AS (SELECT doc_id, term, score,
                 CAST(row_number() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, term) AS INT) AS rank
               FROM sc)
         SELECT doc_id, rank, term, score FROM r
         WHERE rank <= 3 ORDER BY doc_id, rank"""),


    // ext: sliding token-window chunking (training/RAG prep) — pure
    // codegen narrow ops, no shuffle
    Query("q49_chunk", (s, dir) =>
      ext.TextAnalysis.chunk(Tables.load(s, dir, "documents"),
          "text", "doc_id", 32, 8)
        .withColumn("chunk_id", col("chunk_id").cast("long"))
        .withColumn("n_tokens", col("n_tokens").cast("long")),
      Seq(col("doc_id"), col("chunk_id")),
      """WITH t AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
           FROM documents
           WHERE length(array_to_string(
             regexp_split_to_array(trim(text), '\s+'), '')) > 0),
         u AS (
           SELECT doc_id, unnest(list_transform(
             generate_series(0, (greatest(len(toks) - 8, 1) - 1) // 24),
             g -> struct_pack(chunk_id := g,
               n_tokens := len(list_slice(toks, g*24 + 1, g*24 + 32)),
               chunk := array_to_string(
                 list_slice(toks, g*24 + 1, g*24 + 32), ' ')))) AS c
           FROM t)
         SELECT doc_id, c.chunk_id AS chunk_id, c.n_tokens AS n_tokens,
                c.chunk AS chunk
         FROM u ORDER BY doc_id, chunk_id"""),


    // ext: PII redaction over deterministically-synthesized addresses
    // (the corpus is PII-free, so both engines inject the same patterns)
    Query("q50_redact", (s, dir) => {
      val doc = Tables.load(s, dir, "documents")
        .withColumn("aug", concat(substring(col("text"), 1, 80),
          lit(" mail user"), col("doc_id").cast("string"),
          lit("@ex.org or 555-123-4567 bye")))
      doc.select(col("doc_id"),
          ext.TextAnalysis.redactPii("aug").as("red"),
          ext.TextAnalysis.piiCounts("aug")._1.cast("long").as("n_email"),
          ext.TextAnalysis.piiCounts("aug")._2.cast("long").as("n_phone"))
    }, Seq(col("doc_id")),
      """WITH a AS (
           SELECT doc_id, substr(text, 1, 80) || ' mail user' ||
             CAST(doc_id AS VARCHAR) || '@ex.org or 555-123-4567 bye' AS aug
           FROM documents)
         SELECT doc_id,
           regexp_replace(regexp_replace(aug,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+',
             '<EMAIL>', 'g'),
             '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}', '<PHONE>', 'g') AS red,
           len(regexp_extract_all(aug,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+')) AS n_email,
           len(regexp_extract_all(aug,
             '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}')) AS n_phone
         FROM a ORDER BY doc_id"""),


    // ext: vocabulary building — per-token corpus frequency and document
    // frequency, top 50 by tf. The tokenizer-training / stopword-mining
    // prep step: explode → one groupBy on the token (the vocabulary
    // shuffle AQE also drives in q45), deterministic (tf desc, term) cut
    Query("q58_vocab", (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          explode(ext.TextAnalysis.wordTokens("text")).as("term"))
        .groupBy("term")
        .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("df"))
        .orderBy(col("tf").desc, col("term"))
        .limit(50),
      Nil,
      s"""WITH tt AS (SELECT doc_id, unnest($ToksSql) AS term FROM documents)
         SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
         FROM tt GROUP BY term
         ORDER BY tf DESC, term LIMIT 50"""),


    // ext: text normalization — the canonical lowercase/alnum form fed to
    // tokenizers and hashers; escape-free regex, pure narrow op
    Query("q59_normalize", (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          ext.TextAnalysis.normalize("text").as("norm"),
          length(ext.TextAnalysis.normalize("text")).cast("long").as("n_chars")),
      Seq(col("doc_id")),
      """SELECT doc_id,
           trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm,
           CAST(length(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS BIGINT) AS n_chars
         FROM documents ORDER BY doc_id"""),


    // ext: GPT-style sequence packing — concatenate per source shard, cut
    // every 512 tokens, one row per (doc, overlapped training sequence)
    Query("q64_seq_pack", (s, dir) =>
      ext.TextAnalysis.packSequences(
        Tables.load(s, dir, "documents"), "text", "doc_id", 512),
      Seq(col("source"), col("seq_id"), col("doc_id")),
      // packing replay: whitespace token counts (q17 semantics), per-source
      // running offset, one row per ctx=512 sequence a doc overlaps
      """WITH t AS (SELECT source, doc_id,
             CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS ntok
           FROM documents),
         w AS (SELECT source, doc_id, ntok,
             CAST(coalesce(sum(ntok) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
           FROM t WHERE ntok > 0)
         SELECT source,
                unnest(generate_series(CAST(start_tok // 512 AS BIGINT),
                                       CAST((start_tok + ntok - 1) // 512 AS BIGINT))) AS seq_id,
                doc_id, start_tok, ntok
         FROM w ORDER BY source, seq_id, doc_id"""),


    // ext: Gopher-style quality signals (mean word length, symbol/word,
    // alpha-word fraction, duplicate-3-gram repetition) — the mechanical
    // per-document filters production pipelines threshold on
    Query("q65_quality_signals", (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          round(ext.TextAnalysis.meanWordLength(col("text")), 6).as("mean_wlen"),
          round(ext.TextAnalysis.symbolWordRatio(col("text")), 6).as("sym_ratio"),
          round(ext.TextAnalysis.alphaWordFraction(col("text")), 6).as("alpha_frac"),
          round(ext.TextAnalysis.dupShingleFraction(col("text")), 6).as("dup3_frac")),
      Seq(col("doc_id")),
      // Gopher signals replayed in rational arithmetic: alnum-char totals /
      // token counts, symbol counts per whitespace word, letter-bearing word
      // fraction, 1 - distinct/total word 3-grams
      s"""WITH t AS (SELECT doc_id, text,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
             CASE WHEN len(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS words
           FROM documents)
         SELECT doc_id,
           round(CASE WHEN len(toks) > 0 THEN
             CAST(len(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS DOUBLE)
               / len(toks) ELSE 0 END, 6) AS mean_wlen,
           round(CASE WHEN words > 0 THEN
             CAST(len(text) - len(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
               / words ELSE 0 END, 6) AS sym_ratio,
           round(CASE WHEN words > 0 THEN
             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
               x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / words
             ELSE 0 END, 6) AS alpha_frac,
           round(CASE WHEN len(toks) >= 3 THEN
             1 - CAST(len($ShinglesSql) AS DOUBLE) / (len(toks) - 2)
             ELSE 0 END, 6) AS dup3_frac
         FROM t ORDER BY doc_id"""),


    // ext: token-budget corpus selection — per-source quality-ranked
    // greedy cut under a 2000-token budget; the oracle replays the q18
    // quality formula and the running window sum (CAST to BIGINT — the
    // q64 HUGEINT lesson)
    Query("q69_token_budget", (s, dir) =>
      ext.TextAnalysis.selectByTokenBudget(
        Tables.load(s, dir, "documents"), "text", "doc_id", 2000L),
      Seq(col("source"), col("doc_id")),
      // q18's quality replay ranked per source, running token sum under a
      // 2000-token budget; windowed sum CAST — DuckDB returns HUGEINT
      s"""WITH t AS (SELECT source, doc_id, text, $ToksSql AS toks,
             CASE WHEN len(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS tok_cnt
           FROM documents),
         s AS (SELECT source, doc_id, text, tok_cnt, $LangScoreSql FROM t),
         q AS (SELECT source, doc_id, CAST(tok_cnt AS BIGINT) AS ntok,
             round(0.3 * least(tok_cnt / 100.0, 1.0)
               + 0.4 * (1.0 - CASE WHEN len(text) > 0
                   THEN (CAST(len(text) AS DOUBLE) - CAST(len(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)) / len(text)
                   ELSE 0.0 END)
               + 0.3 * least(CASE WHEN tok_cnt > 0
                   THEN (CAST(s_en AS DOUBLE) / tok_cnt) ELSE 0.0 END * 5.0, 1.0), 6) AS quality
           FROM s WHERE tok_cnt > 0),
         w AS (SELECT source, doc_id, ntok, quality,
             CAST(sum(ntok) OVER (PARTITION BY source
               ORDER BY quality DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
           FROM q)
         SELECT source, doc_id, ntok, quality, cum_tok FROM w
         WHERE cum_tok <= 2000 ORDER BY source, doc_id"""),


    // ext: Gopher repetition signals over deterministically-synthesized
    // structure (corpus docs are single-line, so both engines inject the
    // same duplicate lines/paragraphs before measuring)
    Query("q70_repetition", (s, dir) => {
      val a = substring(col("text"), 1, 30)
      val b = substring(col("text"), 31, 30)
      val c = substring(col("text"), 61, 30)
      val aug = concat(a, lit("\n"), a, lit("\n\n"), b, lit("\n\n"), b,
        lit("\n\n"), c)
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          round(ext.TextAnalysis.dupLineFraction(aug), 6).as("dup_line"),
          round(ext.TextAnalysis.dupParaFraction(aug), 6).as("dup_para"))
    }, Seq(col("doc_id")),
      // repetition signals over the same synthesized line/paragraph layout
      s"""WITH t AS (SELECT doc_id,
             concat(substr(text, 1, 30), chr(10), substr(text, 1, 30),
               chr(10), chr(10), substr(text, 31, 30),
               chr(10), chr(10), substr(text, 31, 30),
               chr(10), chr(10), substr(text, 61, 30)) AS aug
           FROM documents),
         l AS (SELECT doc_id,
             list_filter(list_transform(string_split(aug, chr(10)),
               x -> trim(x)), x -> len(x) > 0) AS ls,
             list_filter(list_transform(string_split_regex(aug, '\\n{2,}'),
               x -> trim(x)), x -> len(x) > 0) AS ps
           FROM t)
         SELECT doc_id,
           round(CASE WHEN len(ls) > 0
             THEN 1 - CAST(len(list_distinct(ls)) AS DOUBLE) / len(ls)
             ELSE 0 END, 6) AS dup_line,
           round(CASE WHEN len(ps) > 0
             THEN 1 - CAST(len(list_distinct(ps)) AS DOUBLE) / len(ps)
             ELSE 0 END, 6) AS dup_para
         FROM l ORDER BY doc_id"""),


    // ext: corpus-trained bigram LM scoring (CCNet-style perplexity
    // filter) — per-doc length-normalized negative log likelihood under
    // add-1-smoothed corpus transition counts
    Query("q74_lm_score", (s, dir) =>
      ext.TextAnalysis.lmScore(
        Tables.load(s, dir, "documents"), "doc_id", "text"),
      Seq(col("doc_id")),
      // bigram LM scoring: add-1-smoothed corpus transition counts, context
      // count = occurrences as bigram head, V = corpus vocabulary
      s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents
             WHERE len($ToksSql) >= 2),
         gs AS (SELECT doc_id, t, unnest(generate_series(2, len(t))) AS g
                FROM toks),
         bg AS (SELECT doc_id, t[g-1] AS w1, t[g] AS w2 FROM gs),
         c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
         c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
         v AS (SELECT count(DISTINCT w) AS v
               FROM (SELECT unnest(t) AS w FROM toks))
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                round(-avg(ln((c2.c2 + 1.0) / (c1.c1 + 1.0 * v.v))), 6)
                  AS nll
         FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
         GROUP BY doc_id ORDER BY doc_id"""),


    // ext: distributed BPE merge learning — the 8 highest-frequency
    // symbol-pair merges over the corpus vocabulary, from characters
    Query("q75_bpe_train", (s, dir) =>
      ext.TextAnalysis.bpeTrain(
        Tables.load(s, dir, "documents"), "text", 8),
      Seq(col("rank")),
      // BPE merge learning: 8 generated rounds — pair counts over the
      // previous round's vocab, 1-row argmax (count desc, lhs, rhs), then a
      // literal [lhs][rhs] replace (greedy left-to-right, both engines)
      BpeTrainSql(8)),


    // ext: the learned tokenizer's vocabulary — corpus subword
    // frequencies after the q75 merge schedule
    Query("q76_bpe_vocab", (s, dir) =>
      ext.TextAnalysis.bpeSubwords(
        Tables.load(s, dir, "documents"), "text", 8),
      Seq(col("subword")),
      // BPE vocabulary: final-round subword frequencies (same CTE chain)
      BpeSubwordsSql(8)),


    // ext: cross-source shingle containment — the dataset-overlap audit
    // run before mixing corpora
    Query("q78_source_overlap", (s, dir) =>
      ext.Dedup.sourceOverlap(
        Tables.load(s, dir, "documents"), "source", "text"),
      Seq(col("src_a"), col("src_b")),
      // cross-source containment: per-source distinct shingle sets, shared
      // shingles joined, containment = n_common / |sh(src_a)|
      s"""WITH s AS (SELECT DISTINCT src, sh FROM
             (SELECT source AS src, unnest($ShinglesSql) AS sh
              FROM documents)),
         t AS (SELECT src, count(*) AS n_sh FROM s GROUP BY src),
         c AS (SELECT a.src AS src_a, b.src AS src_b,
                      CAST(count(*) AS BIGINT) AS n_common
               FROM s a JOIN s b ON a.sh = b.sh AND a.src <> b.src
               GROUP BY 1, 2)
         SELECT src_a, src_b, n_common,
                round(n_common / CAST(t.n_sh AS DOUBLE), 6) AS containment
         FROM c JOIN t ON t.src = c.src_a ORDER BY src_a, src_b"""),


    // ext: feature-hashing document embedding (hashing trick) — signed
    // token counts in 16 hashed slots, long format
    Query("q79_feature_hash", (s, dir) =>
      ext.TextAnalysis.featureHash(
        Tables.load(s, dir, "documents"), "doc_id", "text"),
      Seq(col("doc_id"), col("slot")),
      // feature hashing: 60-bit md5-prefix token hash, slot = h mod 16,
      // sign = bit 8; signed counts per (doc, slot)
      s"""WITH tok AS (SELECT doc_id, unnest($ToksSql) AS t FROM documents),
         h AS (SELECT doc_id,
                 CAST(CAST(concat('0x', substr(md5(t), 1, 15))
                   AS UBIGINT) AS BIGINT) AS h
               FROM tok)
         SELECT doc_id, CAST(h % 16 AS BIGINT) AS slot,
                CAST(sum(((h // 256) % 2) * 2 - 1) AS BIGINT) AS val
         FROM h GROUP BY doc_id, slot ORDER BY doc_id, slot"""),


    // ext: CCNet perplexity bucketing — head/middle/tail terciles of the
    // corpus-trained bigram-LM nll, thresholds broadcast (no global rank)
    Query("q80_ppl_buckets", (s, dir) =>
      ext.TextAnalysis.pplBuckets(
        Tables.load(s, dir, "documents"), "doc_id", "text"),
      Seq(col("doc_id")),
      // CCNet perplexity buckets: q74's scoring CTE + exact tercile value
      // thresholds (quantile_cont ≡ Spark percentile, pos = (n−1)·q)
      s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents
             WHERE len($ToksSql) >= 2),
         gs AS (SELECT doc_id, t, unnest(generate_series(2, len(t))) AS g
                FROM toks),
         bg AS (SELECT doc_id, t[g-1] AS w1, t[g] AS w2 FROM gs),
         c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
         c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
         v AS (SELECT count(DISTINCT w) AS v
               FROM (SELECT unnest(t) AS w FROM toks)),
         sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                  round(-avg(ln((c2.c2 + 1.0) / (c1.c1 + 1.0 * v.v))), 6)
                    AS nll
                FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
                  CROSS JOIN v
                GROUP BY doc_id),
         thr AS (SELECT quantile_cont(nll, 1.0/3) AS t1,
                        quantile_cont(nll, 2.0/3) AS t2 FROM sc)
         SELECT doc_id, n_bigrams, nll,
           CASE WHEN nll <= t1 THEN 'head'
                WHEN nll <= t2 THEN 'middle' ELSE 'tail' END AS bucket
         FROM sc CROSS JOIN thr ORDER BY doc_id"""),


    // ext: DSIR importance weights — hashed unigram+bigram log
    // target/raw likelihood ratio, target = src0+src1
    Query("q81_dsir", (s, dir) =>
      ext.TextAnalysis.dsirWeights(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        org.apache.spark.sql.functions.col("source").isin("src0", "src1")),
      Seq(col("doc_id")),
      // DSIR importance weights: hashed unigram+bigram features (60-bit md5
      // prefix, 64 slots), add-1-smoothed log target/raw rate ratio
      s"""WITH toks AS (SELECT doc_id, source IN ('src0', 'src1') AS tgt,
             $ToksSql AS t FROM documents),
         uni AS (SELECT doc_id, tgt, unnest(t) AS f FROM toks),
         bi AS (SELECT doc_id, tgt, t[g-1] || ' ' || t[g] AS f
                FROM (SELECT doc_id, tgt, t,
                        unnest(generate_series(2, len(t))) AS g
                      FROM toks WHERE len(t) >= 2)),
         fe AS (SELECT doc_id, tgt,
                  CAST(CAST(concat('0x', substr(md5(f), 1, 15))
                    AS UBIGINT) AS BIGINT) % 64 AS slot
                FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
         rates AS (SELECT slot,
                     sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
                     sum(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS cr
                   FROM fe GROUP BY slot),
         tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM rates),
         lr AS (SELECT slot, ln(ct + 1.0) - ln(nt + 64.0)
                  - ln(cr + 1.0) + ln(nr + 64.0) AS lr
                FROM rates CROSS JOIN tot),
         dc AS (SELECT doc_id, slot, count(*) AS n FROM fe
                WHERE NOT tgt GROUP BY doc_id, slot)
         SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_feats,
                round(sum(n * lr), 6) AS logw
         FROM dc JOIN lr USING (slot) GROUP BY doc_id ORDER BY doc_id"""),


    // ext: corpus datasheet — per-source volume, dup ratio, length
    // percentiles, language spread in one aggregation pass
    Query("q82_corpus_report", (s, dir) =>
      ext.TextAnalysis.corpusReport(
        Tables.load(s, dir, "documents")),
      Seq(col("source")),
      // corpus datasheet: per-source volume, exact-dup ratio via md5
      // digests, length percentiles, language spread
      s"""WITH t AS (SELECT source, lang, text,
             CASE WHEN len(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS tok
           FROM documents)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS n_tokens,
           round(avg(tok), 6) AS mean_tokens,
           round(1.0 - count(DISTINCT md5(text))
             / CAST(count(*) AS DOUBLE), 6) AS dup_ratio,
           quantile_cont(CAST(len(text) AS DOUBLE), 0.5) AS p50_chars,
           quantile_cont(CAST(len(text) AS DOUBLE), 0.9) AS p90_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         FROM t GROUP BY source ORDER BY source"""),


    // ext: real token counts under the corpus-trained BPE tokenizer —
    // the 8-merge schedule folded as literal replaces over distinct words
    Query("q83_bpe_encode", (s, dir) =>
      ext.TextAnalysis.bpeEncode(
        Tables.load(s, dir, "documents"), "doc_id", "text", 8),
      Seq(col("doc_id")),
      // BPE encoding: the generated training chain + rule fold over the
      // distinct-word table, joined back per document
      BpeEncodeSql(8)),


    // ext: DSIR Gumbel top-k — reproducible importance draw of the 200
    // most target-like candidates, noise keyed on (salt, doc_id)
    Query("q84_dsir_select", (s, dir) =>
      ext.TextAnalysis.dsirSelect(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        org.apache.spark.sql.functions.col("source").isin("src0", "src1"),
        200),
      Seq(col("key").desc, col("doc_id")),
      // DSIR Gumbel top-k: q81's weight CTE + deterministic (salt, id)-keyed
      // Gumbel perturbation, top 200 by perturbed weight
      s"""WITH toks AS (SELECT doc_id, source IN ('src0', 'src1') AS tgt,
             $ToksSql AS t FROM documents),
         uni AS (SELECT doc_id, tgt, unnest(t) AS f FROM toks),
         bi AS (SELECT doc_id, tgt, t[g-1] || ' ' || t[g] AS f
                FROM (SELECT doc_id, tgt, t,
                        unnest(generate_series(2, len(t))) AS g
                      FROM toks WHERE len(t) >= 2)),
         fe AS (SELECT doc_id, tgt,
                  CAST(CAST(concat('0x', substr(md5(f), 1, 15))
                    AS UBIGINT) AS BIGINT) % 64 AS slot
                FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
         rates AS (SELECT slot,
                     sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
                     sum(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS cr
                   FROM fe GROUP BY slot),
         tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM rates),
         lr AS (SELECT slot, ln(ct + 1.0) - ln(nt + 64.0)
                  - ln(cr + 1.0) + ln(nr + 64.0) AS lr
                FROM rates CROSS JOIN tot),
         dc AS (SELECT doc_id, slot, count(*) AS n FROM fe
                WHERE NOT tgt GROUP BY doc_id, slot),
         dw AS (SELECT doc_id, round(sum(n * lr), 6) AS logw
                FROM dc JOIN lr USING (slot) GROUP BY doc_id),
         g AS (SELECT doc_id, logw,
                 (CAST(CAST(concat('0x', substr(md5(concat('dsir',
                     CAST(doc_id AS VARCHAR))), 1, 15)) AS UBIGINT)
                   AS BIGINT) % 1048576 + 0.5) / 1048576.0 AS u
               FROM dw)
         SELECT doc_id, logw, round(logw - ln(-ln(u)), 6) AS key
         FROM g ORDER BY key DESC, doc_id LIMIT 200"""),


    // ext: lexical diversity per source — cross-document distinct-shingle
    // ratio; slice-level companion of the q94 per-document novelty
    Query("q96_diversity", (s, dir) =>
      ext.TextAnalysis.diversityReport(
        Tables.load(s, dir, "documents"), "source", "text"),
      Seq(col("source")),
      // hashed shingles mirror the Spark side exactly, so even a 60-bit
      // collision changes both engines' distinct counts identically
      s"""WITH d AS (SELECT source, $ShinglesSql AS sh FROM documents),
         u AS (SELECT source, unnest(list_transform(sh,
                 s -> ${baseHashSql("s")})) AS h FROM d),
         a AS (SELECT source, CAST(count(*) AS BIGINT) AS sh_total,
                 CAST(count(DISTINCT h) AS BIGINT) AS sh_distinct
               FROM u GROUP BY source),
         n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY source)
         SELECT source, n_docs, sh_total, sh_distinct,
           CAST(sh_distinct AS DOUBLE) / CAST(sh_total AS DOUBLE)
             AS diversity
         FROM n JOIN a USING (source) ORDER BY source"""),


    // ext: tokenizer fertility by language under the corpus-trained
    // 8-merge BPE schedule — chars per token, the tokenizer-fit audit
    Query("q97_fertility", (s, dir) =>
      ext.TextAnalysis.tokenizerFertility(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        "lang", "n_chars", 8),
      Seq(col("lang")),
      s"""${BpeDocTokensSql(8)}
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE)
             AS fertility
         FROM documents JOIN enc USING (doc_id)
         GROUP BY lang ORDER BY lang"""),


    // ext: GPT-3-style supervised quality filter — NB log-odds of the
    // "curated slice" label (src0/src1), trained on the corpus itself.
    // The classifier reads the token column three times, so the q99
    // family (q113/q114/q120/q121/q122/q151 too) runs on the pinned
    // raterBase projection — one tokenizer pass, released per query.
    Query("q99_quality_classifier", (s, dir) => scoped { sc =>
      ext.TextAnalysis.nbQualityScoreTokens(sc.pin(raterBase(s, dir)),
        "doc_id")
    }, Seq(col("doc_id")),
      // multinomial NB with add-one smoothing; pred compares the ROUNDED
      // score so both engines decide the boundary on the same double
      s"""SELECT doc_id, n_tokens, score, pred FROM ($NbScoredSql)
         ORDER BY doc_id"""),


    // ext: PMI collocations — adjacent-bigram phrase mining over the
    // corpus (c12 >= 5), PMI from exact-integer probability ratios
    Query("q108_pmi_collocations", (s, dir) =>
      ext.TextAnalysis.pmiCollocations(
        Tables.load(s, dir, "documents"), "text", 5L),
      Seq(col("w1"), col("w2")),
      // PMI argument formed as the same left-assoc double product in both
      // engines (exact below 2^53); ln output rounds at 6 dp
      s"""WITH tk AS (SELECT $ToksSql AS toks FROM documents),
         u AS (SELECT unnest(toks) AS w FROM tk),
         uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY w),
         bg AS (SELECT toks[g] AS w1, toks[g + 1] AS w2
               FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1))
                       AS g
                     FROM tk WHERE len(toks) >= 2)),
         bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
                FROM bg GROUP BY w1, w2),
         tot AS (SELECT (SELECT CAST(sum(c) AS DOUBLE) FROM uni) AS t1,
                   (SELECT CAST(sum(c12) AS DOUBLE) FROM bi) AS t2)
         SELECT w1, w2, c12, ua.c AS c1, ub.c AS c2,
           round(ln((CAST(c12 AS DOUBLE) * t1 * t1) /
             (t2 * CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE))), 6) AS pmi
         FROM bi JOIN uni ua ON ua.w = bi.w1
           JOIN uni ub ON ub.w = bi.w2, tot
         WHERE c12 >= 5 ORDER BY w1, w2"""),


    // ext: multiclass NB — the k-way nbQualityScore (supervised language
    // classifier trained on the lang labels; argmax on rounded scores).
    // The tokenized projection is pinned once (the score frame reads the
    // token column ~5x — the raterBase lesson), then released behind the
    // narrow per-doc result.
    Query("q112_nb_multiclass", (s, dir) => scoped { sc =>
      ext.TextAnalysis.nbMulticlassTokens(sc.pin(nbLangBase(s, dir)),
        "doc_id")
    }, Seq(col("doc_id")),
      // k-way NB: score_c = prior_c + Σ ln(cnt+1) − n_doc·ln(T_c+V) — only
      // OBSERVED (token, class) rows join (unseen tokens add ln(1) = 0)
      s"$NbMulticlassSql ORDER BY doc_id"),


    // ext: corpus vocabulary drift — KL/JS divergence between the English
    // and non-English token distributions (the PSI analogue for text)
    Query("q129_vocab_divergence", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      ext.TextAnalysis.vocabDivergence(
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang") =!= "en"), "text")
    }, Nil,
      // Laplace-smoothed KL/JS over the union vocabulary; the smoothed
      // probabilities replay the same double arithmetic in both engines and
      // the order-dependent sums are absorbed by the 6 dp grain
      s"""WITH ta AS (SELECT unnest($ToksSql) AS tok FROM documents
                WHERE lang = 'en'),
         tb AS (SELECT unnest($ToksSql) AS tok FROM documents
                WHERE lang <> 'en'),
         ca AS (SELECT tok, count(*) AS ca FROM ta GROUP BY tok),
         cb AS (SELECT tok, count(*) AS cb FROM tb GROUP BY tok),
         m AS (SELECT coalesce(ca.ca, 0) AS ca, coalesce(cb.cb, 0) AS cb
               FROM ca FULL OUTER JOIN cb USING (tok)),
         t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                 CAST(sum(cb) AS BIGINT) AS n_b,
                 CAST(count(*) AS BIGINT) AS vocab FROM m),
         p AS (SELECT n_a, n_b, vocab,
                 (CAST(ca AS DOUBLE) + 0.5)
                   / (CAST(n_a AS DOUBLE) + 0.5 * CAST(vocab AS DOUBLE)) AS pa,
                 (CAST(cb AS DOUBLE) + 0.5)
                   / (CAST(n_b AS DOUBLE) + 0.5 * CAST(vocab AS DOUBLE)) AS pb
               FROM m, t)
         SELECT n_a, n_b, vocab,
           round(sum(pa * ln(pa / pb)), 6) AS kl_ab,
           round(sum(pb * ln(pb / pa)), 6) AS kl_ba,
           round(sum(pa * ln(pa * 2.0 / (pa + pb)) / 2.0 +
                     pb * ln(pb * 2.0 / (pa + pb)) / 2.0), 6) AS js
         FROM p GROUP BY n_a, n_b, vocab"""),


    // ext: per-doc token Shannon entropy — repetition/diversity signal;
    // the whole histogram lives in one per-row HOF chain (no shuffle)
    Query("q130_token_entropy", (s, dir) =>
      ext.TextAnalysis.tokenEntropy(
        Tables.load(s, dir, "documents"), "doc_id", "text"),
      Seq(col("doc_id")),
      // per-doc histogram entropy: -(c/n)·ln(c/n) summed over distinct
      // tokens; empty docs NULL, single-token docs 0 with NULL norm
      s"""WITH d AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         base AS (SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
                    CAST(len(list_distinct(toks)) AS INT) AS n_distinct
                  FROM d),
         h AS (SELECT doc_id, unnest(toks) AS tok FROM d),
         cnt AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS c
                 FROM h GROUP BY doc_id, tok),
         ent AS (SELECT cnt.doc_id,
                   sum(-(c / n_tokens) * ln(c / n_tokens)) AS hh
                 FROM cnt JOIN base USING (doc_id) GROUP BY cnt.doc_id)
         SELECT doc_id, n_tokens, n_distinct,
           CASE WHEN n_tokens > 0 THEN round(coalesce(hh, 0.0), 6)
             END AS entropy,
           CASE WHEN n_distinct > 1
             THEN round(hh / ln(CAST(n_distinct AS DOUBLE)), 6)
             END AS norm_entropy
         FROM base LEFT JOIN ent USING (doc_id) ORDER BY doc_id"""),


    // ext: Zipf rank-frequency OLS over the top-200 tokens — corpus-health
    // slope/r² (natural text ≈ −1); top-N via TakeOrderedAndProject
    Query("q131_zipf", (s, dir) =>
      ext.TextAnalysis.zipfFit(
        Tables.load(s, dir, "documents"), "text", 200),
      Nil,
      // OLS of ln(freq) on ln(rank) over the deterministic (count desc,
      // token) top-200; the 5 sums fold on <=200 rows so the 6 dp grain
      // absorbs order effects
      s"""WITH h AS (SELECT unnest($ToksSql) AS tok FROM documents),
         c AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM h
               GROUP BY tok ORDER BY c DESC, tok LIMIT 200),
         r AS (SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, tok)
                    AS DOUBLE)) AS x,
                 ln(CAST(c AS DOUBLE)) AS y FROM c),
         sums AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
                    sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
                    sum(y * y) AS syy, sum(x * y) AS sxy FROM r)
         SELECT n_terms, round(m, 6) AS slope,
           round((sy - m * sx) / n_terms, 6) AS intercept,
           round(pow(sxy - sx * sy / n_terms, 2) /
             ((sxx - sx * sx / n_terms) * (syy - sy * sy / n_terms)), 6)
             AS r2
         FROM (SELECT *, (sxy - sx * sy / n_terms)
                 / (sxx - sx * sx / n_terms) AS m FROM sums)"""),


    // ext: logistic-regression quality gate — 5 rounds of full-batch GD
    // (one scan + one VectorMeanAgg gradient reduce per round, d+1-double
    // driver update); the convex complement to the q99 NB gate
    Query("q134_logistic_train", (s, dir) => {
      import s.implicits._
      val w = ext.TextAnalysis.logisticTrain(
        logitFeatures(Tables.load(s, dir, "documents")),
        Seq("x1", "x2"), "y")
      w.toIndexedSeq.zipWithIndex.map { case (wi, j) => (j, wi) }
        .toDF("j", "w")
        .select(col("j"), round(col("w"), 6).as("weight"))
    }, Seq(col("j")),
      // 5 generated GD rounds (MATERIALIZED — the chain is re-referenced);
      // the only cross-engine divergence is gradient-avg summation order,
      // ~1e-13 after amplification vs the 6 dp grain
      s"""$LogitChainSql
         SELECT j, round(w, 6) AS weight
         FROM (SELECT unnest([w0, w1, w2]) AS w, unnest([0, 1, 2]) AS j
               FROM it5)
         ORDER BY j"""),


    // ext: per-doc sigmoid scores + 0.5-gate under the q134 model — the
    // scoring pass is a pure codegen map over the scan
    Query("q135_logistic_scores", (s, dir) => {
      val f = logitFeatures(Tables.load(s, dir, "documents"))
      val w = ext.TextAnalysis.logisticTrain(f, Seq("x1", "x2"), "y")
      ext.TextAnalysis.logisticScoreWith(f, "doc_id",
        Seq("x1", "x2"), w)
    }, Seq(col("doc_id")),
      // sigmoid scores under the it5 weights; pred gates on the ROUNDED
      // score so both engines compare the same double against 0.5
      s"""$LogitChainSql
         SELECT doc_id,
           round(1.0 / (1.0 + exp(-$LogitDotSql)), 6) AS score,
           CASE WHEN round(1.0 / (1.0 + exp(-$LogitDotSql)), 6) >= 0.5
             THEN 1 ELSE 0 END AS pred
         FROM f, it5 ORDER BY doc_id"""),


    // ext: context-length sizing study — truncation cost at candidate
    // token budgets; kept_frac is an exact integer ratio
    Query("q156_length_budget", (s, dir) =>
      ext.TextAnalysis.lengthBudgetReport(
        Tables.load(s, dir, "documents"), "text", Seq(16, 32, 64, 128)),
      Nil,
      s"""WITH tk AS (SELECT CAST(len($ToksSql) AS BIGINT) AS t
             FROM documents),
         x AS (SELECT t, unnest([16, 32, 64, 128]) AS budget FROM tk)
         SELECT budget, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(t) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN t > budget THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_over,
           CAST(sum(greatest(t - budget, 0)) AS BIGINT) AS tokens_lost,
           CAST(sum(least(t, budget)) AS DOUBLE)
             / CAST(sum(t) AS DOUBLE) AS kept_frac
         FROM x GROUP BY budget ORDER BY budget"""),


    // ext: label-issue mining — the 20 docs whose lang label the q112
    // NB margins reject most confidently (the human-audit queue)
    Query("q173_label_issues", (s, dir) => scoped { sc =>
      ext.TextAnalysis.nbLabelIssuesTokens(sc.pin(nbLangBase(s, dir)),
        "doc_id")
    }, Nil,
      // per-(doc, class) NB scores shared with q112; margin = difference
      // of the two 6 dp-rounded scores
      s"""$NbMulticlassCtesSql,
         r AS (SELECT doc_id, cls, score,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, cls) AS rn
               FROM sc),
         top AS (SELECT doc_id, cls AS pred, score AS ps
                 FROM r WHERE rn = 1),
         own AS (SELECT sc.doc_id, sc.cls AS label, sc.score AS ls
                 FROM sc JOIN d ON d.doc_id = sc.doc_id
                   AND d.cls = sc.cls)
         SELECT top.doc_id, own.label, top.pred,
           round(top.ps - own.ls, 6) AS margin
         FROM top JOIN own ON own.doc_id = top.doc_id
         WHERE top.pred <> own.label
         ORDER BY margin DESC, top.doc_id LIMIT 20"""),

    // ext: per-source vocabulary drift — each source's token
    // distribution vs the rest of the corpus (q129's by-slice view,
    // "which source's vocabulary moved?"); one (source, token)
    // aggregation, rest = global − own, each row ≡ the pairwise member
    Query("q204_vocab_div_by_source", (s, dir) =>
      ext.TextAnalysis.vocabDivergenceBy(
        Tables.load(s, dir, "documents"), "source", "text"),
      Seq(col("source")),
      // q129's smoothing arithmetic per slice on the dense
      // (source x global token) grid: rest counts = global − own, the
      // union vocabulary IS the global one (own ∪ rest = corpus)
      s"""WITH h AS (SELECT source AS g, unnest($ToksSql) AS tok
             FROM documents WHERE source IS NOT NULL),
         pg AS (SELECT g, tok, CAST(count(*) AS BIGINT) AS c
                FROM h GROUP BY g, tok),
         gt AS (SELECT tok, CAST(sum(c) AS BIGINT) AS ct
                FROM pg GROUP BY tok),
         sl AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_g
                FROM pg GROUP BY g),
         t AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                 CAST(count(DISTINCT tok) AS BIGINT) AS vocab FROM pg),
         grid AS (SELECT sl.g, sl.n_g, gt.ct, coalesce(pg.c, 0) AS c,
                    n, vocab
                  FROM gt CROSS JOIN sl
                  LEFT JOIN pg ON pg.g = sl.g AND pg.tok = gt.tok, t),
         p AS (SELECT g, n_g, n, vocab,
                 (CAST(c AS DOUBLE) + 0.5)
                   / (CAST(n_g AS DOUBLE)
                      + 0.5 * CAST(vocab AS DOUBLE)) AS pa,
                 (CAST(ct - c AS DOUBLE) + 0.5)
                   / (CAST(n - n_g AS DOUBLE)
                      + 0.5 * CAST(vocab AS DOUBLE)) AS pb
               FROM grid)
         SELECT g AS source, n_g, n - n_g AS n_rest, vocab,
           round(sum(pa * ln(pa / pb)), 6) AS kl_ab,
           round(sum(pb * ln(pb / pa)), 6) AS kl_ba,
           round(sum(pa * ln(pa * 2.0 / (pa + pb)) / 2.0 +
                     pb * ln(pb * 2.0 / (pa + pb)) / 2.0), 6) AS js
         FROM p GROUP BY g, n_g, n, vocab ORDER BY source"""),

    // ext: WINDOWED vocabulary drift — each day's token mix vs a
    // driver-held top-50 baseline vocabulary from the even half
    // (q129's serving twin: K+1 bounded counters per window, the OOV
    // cell carries the tail); day = doc_id % 3 synthesizes the event
    // time the documents table doesn't carry
    Query("q205_vocab_windowed", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val (bc, bt) = ext.TextAnalysis.vocabBaseline(
        docs.filter(col("doc_id") % 2 === 0), "text", 50)
      val live = docs.select(
        timestamp_seconds(lit(1704067200L) + (col("doc_id") % 3) * 86400L)
          .as("ts"),
        col("text"))
      ext.TextAnalysis.vocabDivergenceWindowed(live, "ts", "text", bc, bt)
    }, Seq(col("ws")),
      // the VocabDriftAgg replay: top-50 baseline vocabulary (count desc,
      // token asc) from the even half, live tokens projected onto it with
      // the tail in the ' ' OOV cell, q129's smoothing over the FIXED
      // K+1 serving categories
      s"""WITH h0 AS (SELECT doc_id, unnest($ToksSql) AS tok
             FROM documents),
         base AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM h0
                  WHERE doc_id % 2 = 0 GROUP BY tok),
         top AS (SELECT tok, c FROM base ORDER BY c DESC, tok LIMIT 50),
         bt AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS total
                FROM base),
         kk AS (SELECT CAST(count(*) + 1 AS DOUBLE) AS v,
                  CAST(sum(c) AS BIGINT) AS topmass FROM top),
         live AS (SELECT TIMESTAMP '2024-01-01'
                    + (doc_id % 3) * INTERVAL 1 DAY AS ws,
                    CASE WHEN tok IN (SELECT tok FROM top)
                      THEN tok ELSE ' ' END AS cat
                  FROM h0),
         lc AS (SELECT ws, cat, CAST(count(*) AS BIGINT) AS cl
                FROM live GROUP BY ws, cat),
         nl AS (SELECT ws, CAST(sum(cl) AS BIGINT) AS n_live
                FROM lc GROUP BY ws),
         cats AS (SELECT tok AS cat, c AS cb FROM top
                  UNION ALL
                  SELECT ' ', bt.total - kk.topmass FROM bt, kk),
         grid AS (SELECT nl.ws, nl.n_live, cats.cat, cats.cb,
                    coalesce(lc.cl, 0) AS cl, kk.v, bt.total
                  FROM nl CROSS JOIN cats
                  LEFT JOIN lc ON lc.ws = nl.ws AND lc.cat = cats.cat,
                  kk, bt),
         p AS (SELECT ws, n_live,
                 (CAST(cb AS DOUBLE) + 0.5)
                   / (CAST(total AS DOUBLE) + 0.5 * v) AS pa,
                 (CAST(cl AS DOUBLE) + 0.5)
                   / (CAST(n_live AS DOUBLE) + 0.5 * v) AS pb
               FROM grid)
         SELECT ws, n_live,
           round(sum(pa * ln(pa / pb)), 6) AS kl_ab,
           round(sum(pb * ln(pb / pa)), 6) AS kl_ba,
           round(sum(pa * ln(pa * 2.0 / (pa + pb)) / 2.0 +
                     pb * ln(pb * 2.0 / (pa + pb)) / 2.0), 6) AS js
         FROM p GROUP BY ws, n_live ORDER BY ws"""),

    // ext: WINDOWED vocabulary drift BY SLICE — "which feed's
    // vocabulary moved, per day": q205's monitor with the source in the
    // grouping, every (day, source) cell vs the same driver-held top-50
    // baseline vocabulary, K+1 counters per cell by construction
    Query("q206_vocab_windowed_by", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val (bc, bt) = ext.TextAnalysis.vocabBaseline(
        docs.filter(col("doc_id") % 2 === 0), "text", 50)
      val live = docs.select(
        timestamp_seconds(lit(1704067200L) + (col("doc_id") % 3) * 86400L)
          .as("ts"),
        col("source"), col("text"))
      ext.TextAnalysis.vocabDivergenceWindowed(live, "ts", "text", bc, bt,
          slice = Some("source"))
    }, Seq(col("ws"), col("source")),
      // the q205 replay with source joined into the live groupings —
      // same top-50 baseline, same K+1 smoothing, per (day, source) cell
      s"""WITH h0 AS (SELECT doc_id, source, unnest($ToksSql) AS tok
             FROM documents),
         base AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM h0
                  WHERE doc_id % 2 = 0 GROUP BY tok),
         top AS (SELECT tok, c FROM base ORDER BY c DESC, tok LIMIT 50),
         bt AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS total
                FROM base),
         kk AS (SELECT CAST(count(*) + 1 AS DOUBLE) AS v,
                  CAST(sum(c) AS BIGINT) AS topmass FROM top),
         live AS (SELECT TIMESTAMP '2024-01-01'
                    + (doc_id % 3) * INTERVAL 1 DAY AS ws, source,
                    CASE WHEN tok IN (SELECT tok FROM top)
                      THEN tok ELSE ' ' END AS cat
                  FROM h0),
         lc AS (SELECT ws, source, cat, CAST(count(*) AS BIGINT) AS cl
                FROM live GROUP BY ws, source, cat),
         nl AS (SELECT ws, source, CAST(sum(cl) AS BIGINT) AS n_live
                FROM lc GROUP BY ws, source),
         cats AS (SELECT tok AS cat, c AS cb FROM top
                  UNION ALL
                  SELECT ' ', bt.total - kk.topmass FROM bt, kk),
         grid AS (SELECT nl.ws, nl.source, nl.n_live, cats.cat, cats.cb,
                    coalesce(lc.cl, 0) AS cl, kk.v, bt.total
                  FROM nl CROSS JOIN cats
                  LEFT JOIN lc ON lc.ws = nl.ws AND lc.source = nl.source
                    AND lc.cat = cats.cat,
                  kk, bt),
         p AS (SELECT ws, source, n_live,
                 (CAST(cb AS DOUBLE) + 0.5)
                   / (CAST(total AS DOUBLE) + 0.5 * v) AS pa,
                 (CAST(cl AS DOUBLE) + 0.5)
                   / (CAST(n_live AS DOUBLE) + 0.5 * v) AS pb
               FROM grid)
         SELECT ws, source, n_live,
           round(sum(pa * ln(pa / pb)), 6) AS kl_ab,
           round(sum(pb * ln(pb / pa)), 6) AS kl_ba,
           round(sum(pa * ln(pa * 2.0 / (pa + pb)) / 2.0 +
                     pb * ln(pb * 2.0 / (pa + pb)) / 2.0), 6) AS js
         FROM p GROUP BY ws, source, n_live ORDER BY ws, source"""),

    // ext: THE TEXT-FEED GATE AS ONE STATEFUL PASS — q201's fusion
    // applied to a document stream: per day, quality KS + rank-sum +
    // language-mix chi2 + vocabulary KL/JS in a single windowed
    // aggregation (one state store where four standing crawl monitors
    // ran before); every baseline from the day-1 snapshot
    Query("q207_text_gate_windowed", (s, dir) => scoped { sc =>
      val docs = Tables.load(s, dir, "documents")
      val live = sc.pin(docs.select(
        timestamp_seconds(
          lit(1704067200L) + (col("doc_id") % 3) * 86400L).as("ts"),
        col("lang"), col("text")))
      val week = live.filter(col("ts") < lit("2024-01-02").cast("timestamp"))
      val (bv, bc) = ext.Eval.ksBaseline(
        week.select(round(ext.TextAnalysis.qualityScore("text"), 6)
          .as("q")), "q")
      val (bcats, _) = ext.Outliers.chiSquareBaseline(week, "lang")
      val (vc, vt) = ext.TextAnalysis.vocabBaseline(week, "text", 50)
      ext.TextAnalysis.textGateWindowed(live, "ts", "text", "lang",
        bv, bc, bcats, vc, vt)
    }, Seq(col("ws")),
      // composes the windowed-member replays on the scored document
      // stream, joined on ws: one shared per-value cumulative table feeds
      // KS and rank-sum (the gate's own shape), chi2 on the lang mix,
      // the q205 vocabulary replay — every baseline from the day-1 slice
      s"""$QualityCtesSql,
         d0 AS (SELECT doc_id,
             TIMESTAMP '2024-01-01' + (doc_id % 3) * INTERVAL 1 DAY
               AS ws,
             $QualityValSql AS v, text
           FROM s),
         d AS MATERIALIZED (
           SELECT d0.doc_id, d0.ws, d0.v, d0.text, doc.lang AS c
           FROM d0 JOIN documents doc ON doc.doc_id = d0.doc_id),
         bq AS (SELECT v FROM d WHERE doc_id % 3 = 0),
         bcv AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM bq
                 GROUP BY v),
         nb AS (SELECT CAST(count(*) AS BIGINT) AS n_a FROM bq),
         lcv AS (SELECT ws, v, CAST(count(*) AS BIGINT) AS c FROM d
                 GROUP BY ws, v),
         nl AS (SELECT ws, CAST(count(*) AS BIGINT) AS n_live FROM d
                GROUP BY ws),
         vals AS (SELECT DISTINCT v FROM
                  (SELECT v FROM bcv UNION ALL SELECT v FROM lcv) u),
         wss AS (SELECT DISTINCT ws FROM d),
         cums AS (SELECT g.ws, g.v,
             coalesce(bcv.c, 0) + coalesce(lcv.c, 0) AS nv,
             coalesce(lcv.c, 0) AS cb,
             CAST(sum(coalesce(bcv.c, 0)) OVER (PARTITION BY g.ws
               ORDER BY g.v ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cna,
             CAST(sum(coalesce(lcv.c, 0)) OVER (PARTITION BY g.ws
               ORDER BY g.v ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cnb,
             CAST(sum(coalesce(bcv.c, 0) + coalesce(lcv.c, 0))
               OVER (PARTITION BY g.ws ORDER BY g.v ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
           FROM (SELECT w.ws, x.v FROM wss w CROSS JOIN vals x) g
             LEFT JOIN bcv ON bcv.v = g.v
             LEFT JOIN lcv ON lcv.ws = g.ws AND lcv.v = g.v),
         ks AS (SELECT t.ws, t.n_live,
             CAST(dnum AS DOUBLE) /
               (CAST(n_a AS DOUBLE) * CAST(n_live AS DOUBLE)) AS d,
             1.358 * sqrt(CAST(n_a + n_live AS DOUBLE) /
               (CAST(n_a AS DOUBLE) * CAST(n_live AS DOUBLE))) AS d_crit
           FROM (SELECT c.ws, nl.n_live,
                   max(abs(CAST(c.cna * nl.n_live AS BIGINT) -
                     CAST(c.cnb * nb.n_a AS BIGINT))) AS dnum
                 FROM cums c JOIN nl ON nl.ws = c.ws, nb
                 GROUP BY c.ws, nl.n_live) t, nb),
         rsagg AS (SELECT ws,
             CAST(sum(nv) - sum(cb) AS BIGINT) AS na2,
             CAST(sum(cb) AS BIGINT) AS n_b,
             sum(CAST(cb AS DOUBLE) * (CAST(cum - nv AS DOUBLE) +
               CAST(nv + 1 AS DOUBLE) / 2.0)) AS rb,
             sum(CAST(nv AS DOUBLE) * nv * nv - nv) AS ties
           FROM cums GROUP BY ws),
         rs AS (SELECT ws,
             rb - CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) + 1.0) / 2.0
               AS u,
             CASE WHEN CAST(na2 AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
                 ((CAST(na2 AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0) -
                  CAST(ties AS DOUBLE) /
                    ((CAST(na2 AS DOUBLE) + CAST(n_b AS DOUBLE)) *
                     (CAST(na2 AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0)))
                 > 0
               THEN (rb - CAST(n_b AS DOUBLE) *
                       (CAST(n_b AS DOUBLE) + 1.0) / 2.0
                     - CAST(na2 AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0) /
                 sqrt(CAST(na2 AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
                   ((CAST(na2 AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0) -
                    CAST(ties AS DOUBLE) /
                      ((CAST(na2 AS DOUBLE) + CAST(n_b AS DOUBLE)) *
                       (CAST(na2 AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0))))
             END AS z
           FROM rsagg),
         cb2 AS (SELECT c, CAST(count(*) AS BIGINT) AS cb FROM d
                 WHERE doc_id % 3 = 0 GROUP BY c),
         lc2 AS (SELECT ws, c, CAST(count(*) AS BIGINT) AS cl FROM d
                 GROUP BY ws, c),
         cats2 AS (SELECT DISTINCT c FROM
                   (SELECT c FROM cb2 UNION ALL SELECT c FROM lc2) u),
         cell AS (SELECT g.ws, g.c,
                    coalesce(cb2.cb, 0) AS cb, coalesce(lc2.cl, 0) AS cl
                  FROM (SELECT w.ws, x.c FROM wss w CROSS JOIN cats2 x) g
                    LEFT JOIN cb2 ON cb2.c = g.c
                    LEFT JOIN lc2 ON lc2.ws = g.ws AND lc2.c = g.c
                  WHERE coalesce(cb2.cb, 0) > 0
                    OR coalesce(lc2.cl, 0) > 0),
         ag AS (SELECT ws, CAST(sum(cb) AS BIGINT) AS n_base,
                  CAST(sum(cl) AS BIGINT) AS n_liv,
                  CAST(count(*) AS BIGINT) AS k
                FROM cell GROUP BY ws),
         terms2 AS (SELECT t.ws,
             (CAST(cb AS DOUBLE) - eb) * (CAST(cb AS DOUBLE) - eb) / eb +
             (CAST(cl AS DOUBLE) - el) * (CAST(cl AS DOUBLE) - el) / el
               AS term
           FROM (SELECT cell.ws, cb, cl,
                   CAST(n_base AS DOUBLE) * CAST(cb + cl AS DOUBLE) /
                     (CAST(n_base AS DOUBLE) + CAST(n_liv AS DOUBLE))
                     AS eb,
                   CAST(n_liv AS DOUBLE) * CAST(cb + cl AS DOUBLE) /
                     (CAST(n_base AS DOUBLE) + CAST(n_liv AS DOUBLE))
                     AS el
                 FROM cell JOIN ag ON ag.ws = cell.ws) t),
         x2 AS (SELECT ws, round(sum(term), 6) AS chi2
                FROM terms2 GROUP BY ws),
         crit2 AS (SELECT ws, round(CAST(k - 1 AS DOUBLE) *
             power(1.0 - 2.0 / (9.0 * CAST(k - 1 AS DOUBLE)) +
               1.6449 * sqrt(2.0 / (9.0 * CAST(k - 1 AS DOUBLE))), 3), 6)
             AS chi2_crit FROM ag WHERE k > 1),
         h0 AS (SELECT d.ws, d.doc_id,
                  unnest(regexp_extract_all(lower(d.text), '[a-z0-9]+'))
                    AS tok
                FROM d),
         vb AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM h0
                WHERE doc_id % 3 = 0 GROUP BY tok),
         vtop AS (SELECT tok, c FROM vb ORDER BY c DESC, tok LIMIT 50),
         vbt AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS total
                 FROM vb),
         vkk AS (SELECT CAST(count(*) + 1 AS DOUBLE) AS vv,
                   CAST(sum(c) AS BIGINT) AS topmass FROM vtop),
         vlive AS (SELECT ws, CASE WHEN tok IN (SELECT tok FROM vtop)
                     THEN tok ELSE ' ' END AS cat
                   FROM h0),
         vlc AS (SELECT ws, cat, CAST(count(*) AS BIGINT) AS cl
                 FROM vlive GROUP BY ws, cat),
         vnl AS (SELECT ws, CAST(sum(cl) AS BIGINT) AS n_tok
                 FROM vlc GROUP BY ws),
         vcats AS (SELECT tok AS cat, c AS cb FROM vtop
                   UNION ALL
                   SELECT ' ', vbt.total - vkk.topmass FROM vbt, vkk),
         vp AS (SELECT g.ws, g.n_tok,
                  (CAST(g.cb AS DOUBLE) + 0.5)
                    / (CAST(g.total AS DOUBLE) + 0.5 * g.vv) AS pa,
                  (CAST(g.cl AS DOUBLE) + 0.5)
                    / (CAST(g.n_tok AS DOUBLE) + 0.5 * g.vv) AS pb
                FROM (SELECT vnl.ws, vnl.n_tok, vcats.cat, vcats.cb,
                        coalesce(vlc.cl, 0) AS cl, vkk.vv, vbt.total
                      FROM vnl CROSS JOIN vcats
                        LEFT JOIN vlc ON vlc.ws = vnl.ws
                          AND vlc.cat = vcats.cat,
                        vkk, vbt) g),
         vagg AS (SELECT ws, n_tok,
                    round(sum(pa * ln(pa / pb)), 6) AS vocab_kl_ab,
                    round(sum(pb * ln(pb / pa)), 6) AS vocab_kl_ba,
                    round(sum(pa * ln(pa * 2.0 / (pa + pb)) / 2.0 +
                              pb * ln(pb * 2.0 / (pa + pb)) / 2.0), 6)
                      AS vocab_js
                  FROM vp GROUP BY ws, n_tok)
         SELECT ks.ws, ks.n_live,
           ks.d AS ks_d, ks.d_crit AS ks_d_crit,
           CASE WHEN ks.d > ks.d_crit THEN 1 ELSE 0 END AS ks_drifted,
           rs.u AS rs_u, rs.z AS rs_z,
           CASE WHEN abs(rs.z) > 1.96 THEN 1 ELSE 0 END AS rs_drifted,
           ag.k AS chi2_k,
           CASE WHEN ag.k > 1 THEN x2.chi2 END AS chi2,
           CASE WHEN ag.k > 1 THEN crit2.chi2_crit END AS chi2_crit,
           CASE WHEN ag.k > 1 AND x2.chi2 > crit2.chi2_crit
             THEN 1 ELSE 0 END AS chi2_drifted,
           vagg.n_tok AS vocab_n_tokens,
           vagg.vocab_kl_ab, vagg.vocab_kl_ba, vagg.vocab_js,
           greatest(
             CASE WHEN ks.d > ks.d_crit THEN 1 ELSE 0 END,
             CASE WHEN abs(rs.z) > 1.96 THEN 1 ELSE 0 END,
             CASE WHEN ag.k > 1 AND x2.chi2 > crit2.chi2_crit
               THEN 1 ELSE 0 END) AS any_drifted
         FROM ks JOIN rs ON rs.ws = ks.ws
           JOIN ag ON ag.ws = ks.ws
           JOIN x2 ON x2.ws = ks.ws
           LEFT JOIN crit2 ON crit2.ws = ks.ws
           JOIN vagg ON vagg.ws = ks.ws
         ORDER BY ks.ws"""),
  )
}
