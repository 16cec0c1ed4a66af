package graft

import org.apache.spark.sql.functions._

import graft.QueryShared._
import graft.util.Checkpoints.scoped

/** Query registry — LLM pipeline: exact/near dedup, decontamination, components, containment, snapshots.
  *
  * Each entry is one [[Query]]; shared fixtures and oracle fragments live in [[QueryShared]]. */
object QueriesDedup {

  private[graft] val queries: Seq[Query] = Seq(

    // ext: exact dedup by content digest (hash-groupBy); prefix-20 as the
    // content key because the synthetic corpus has no full-text dups
    Query("q20_dedup_exact", (s, dir) =>
      ext.Dedup.exact(
        Tables.load(s, dir, "documents").withColumn("pfx", expr("substr(text, 1, 20)")),
        "pfx", "doc_id"),
      Seq(col("content_hash")),
      """WITH m AS (SELECT md5(substr(text, 1, 20)) AS content_hash, doc_id FROM documents)
         SELECT content_hash, min(doc_id) AS canonical_id, count(*) AS n_copies
         FROM m GROUP BY content_hash HAVING count(*) > 1
         ORDER BY content_hash"""),


    // ext: MinHash + LSH banding near-dup pairs, verified by shingle Jaccard
    Query("q21_minhash_lsh", (s, dir) =>
      ext.Dedup.minhashLsh(Tables.load(s, dir, "documents"), "text", "doc_id",
        numHashes = 16, bands = 4, minJaccard = 0.3)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")),
      Seq(col("id_a"), col("id_b")),
      s"""$MinhashPairsSql
         SELECT id_a, id_b, round(jaccard, 6) AS jaccard
         FROM j WHERE jaccard >= 0.3 ORDER BY id_a, id_b"""),


    // ext: 60-bit SimHash sketch per document (expression-only bit fold)
    Query("q22_simhash", (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), ext.Dedup.simhash("text").as("sketch")),
      Seq(col("doc_id")),
      s"""WITH t AS (SELECT doc_id, list_distinct($ToksSql) AS toks FROM documents)
         SELECT doc_id, $SimhashSketchSql AS sketch
         FROM t ORDER BY doc_id"""),


    // ext: n-gram Jaccard pairs within (lang, source) blocks via the
    // prefix-filtered AllPairs join — lossless vs the block cross-product
    // (ExtSuite proves output-identical) and the shape that survives
    // blocks of millions of documents; cross-block recall is q21's LSH job
    Query("q23_ngram_jaccard", (s, dir) =>
      ext.Dedup.ngramJaccardPairsPrefix(Tables.load(s, dir, "documents"),
          "text", "doc_id", Seq("lang", "source"), 0.3)
          .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")),
      Seq(col("id_a"), col("id_b")),
      s"""WITH d AS (SELECT doc_id, concat(lang, source) AS blk, $ShinglesSql AS sh FROM documents),
         j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 (CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE))
                   / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
               FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id)
         SELECT id_a, id_b, round(jaccard, 6) AS jaccard
         FROM j WHERE jaccard >= 0.3 ORDER BY id_a, id_b"""),


    // ext: near-dup clusters → canonical id (min-label propagation over the
    // verified LSH pairs; the checkable form of "keep one copy per cluster")
    Query("q43_dup_components", (s, dir) => {
      val pairs = ext.Dedup.minhashLsh(Tables.load(s, dir, "documents"),
        "text", "doc_id", numHashes = 16, bands = 4, minJaccard = 0.3)
      ext.Dedup.connectedComponents(pairs)
    }, Seq(col("doc_id")),
      // transitive closure over the verified pair list (undirected), then
      // min reachable id per member — DuckDB's recursive CTE as the oracle
      // for the label-propagation connected components
      s"""WITH RECURSIVE pairs AS (
           $MinhashPairsSql
           SELECT id_a, id_b FROM j WHERE jaccard >= 0.3),
         e AS (SELECT id_a AS a, id_b AS b FROM pairs
               UNION SELECT id_b, id_a FROM pairs),
         r(a, b) AS (SELECT a, b FROM e
                     UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a)
         SELECT a AS doc_id, least(a, min(b)) AS canonical_id
         FROM r GROUP BY a ORDER BY doc_id"""),


    // ext: hamming-space LSH — pigeonhole chunk banding over the 60-bit
    // simhash, exact popcount verify
    Query("q44_simhash_pairs", (s, dir) => scoped { sc =>
      // hammingNearDups reads its sketch frame three times (banding +
      // both verify sides) — pre-sketch through the decoupled API (the
      // aHash pattern) and pin the 16-byte/row frame so the SimHash
      // kernel runs once
      val sk = sc.pin(Tables.load(s, dir, "documents")
        .select(col("doc_id"), ext.Dedup.simhash("text").as("sk")))
      ext.Dedup.hammingNearDups(sk, "sk", "doc_id", maxHamming = 2)
    }, Seq(col("id_a"), col("id_b")),
      // pigeonhole banding: 3 chunks of 20 bits; hamming ≤ 2 ⇒ some chunk equal
      s"""WITH tk AS (SELECT doc_id, list_distinct($ToksSql) AS toks FROM documents),
         t AS (SELECT doc_id, $SimhashSketchSql AS sk FROM tk),
         b AS (SELECT doc_id, g.c AS chunk, (sk >> (g.c * 20)) & 1048575 AS cv
               FROM t, generate_series(0, 2) AS g(c)),
         cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
                  FROM b l JOIN b r ON l.chunk = r.chunk AND l.cv = r.cv
                    AND l.doc_id < r.doc_id)
         SELECT c.id_a, c.id_b, CAST(bit_count(xor(a.sk, b.sk)) AS BIGINT) AS hamming
         FROM cand c JOIN t a ON a.doc_id = c.id_a JOIN t b ON b.doc_id = c.id_b
         WHERE bit_count(xor(a.sk, b.sk)) <= 2 ORDER BY id_a, id_b"""),


    // ext: windowed LSH dedup survivors (the streaming filter's batch twin;
    // EventStreamSuite proves the same plan emits identically under a
    // watermark). ts is synthesized from doc_id identically in both engines.
    Query("q53_lsh_dedup_win", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .withColumn("ts", col("doc_id").cast("timestamp"))
      ext.Dedup.lshDedupSurvivors(docs, "text", "doc_id", "ts", "100 seconds")
        .select(col("ws").cast("long").as("ws"), col("doc_id"))
    }, Seq(col("ws"), col("doc_id")),
      // windowed LSH dedup survivors: min-id wins each (window, band, bucket);
      // a doc survives iff it wins all `bands` of its buckets
      s"""WITH d AS (SELECT doc_id, $ShinglesSql AS sh FROM documents),
         h AS (SELECT doc_id, list_transform(sh, s -> ${baseHashSql("s")}) AS hv FROM d),
         g AS (SELECT doc_id, $SigSql AS sig FROM h),
         b AS (SELECT doc_id, (doc_id // 100) * 100 AS ws, t2.b AS band,
                 array_to_string(sig[(t2.b * 4 + 1):(t2.b * 4 + 4)], ',') AS band_key
               FROM g, generate_series(0, 3) AS t2(b)),
         w AS (SELECT ws, band, band_key, min(doc_id) AS doc_id
               FROM b GROUP BY ws, band, band_key),
         s AS (SELECT ws, doc_id, count(*) AS n FROM w GROUP BY ws, doc_id)
         SELECT CAST(ws AS BIGINT) AS ws, doc_id FROM s WHERE n = 4
         ORDER BY ws, doc_id"""),


    // ext: benchmark decontamination — every 97th document plays the eval
    // set; survivors share no word 3-gram with it (test-set leakage guard)
    Query("q60_decontam", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      ext.Dedup.decontaminate(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "text", "doc_id")
        .select("doc_id")
    }, Seq(col("doc_id")),
      s"""WITH b AS (SELECT DISTINCT unnest($ShinglesSql) AS sh
             FROM documents WHERE doc_id % 97 = 0),
         ce AS (SELECT doc_id, unnest($ShinglesSql) AS sh
             FROM documents WHERE doc_id % 97 <> 0),
         bad AS (SELECT DISTINCT doc_id FROM ce WHERE sh IN (SELECT sh FROM b))
         SELECT doc_id FROM documents
         WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
         ORDER BY doc_id"""),


    // ext: corpus-level line dedup (RefinedWeb recipe) — multi-line docs
    // synthesized deterministically (own text + the 5-group leader's
    // text), so leader lines occur 6× and are dropped everywhere while
    // singleton lines survive; leaders reassemble to ''
    Query("q63_line_dedup", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val multi = docs
        .withColumn("lid", col("doc_id") - col("doc_id") % 5)
        .join(docs.select(col("doc_id").as("lid"), col("text").as("ltext")),
          "lid")
        .select(col("doc_id"),
          concat_ws("\n", col("text"), col("ltext")).as("text"))
      ext.Dedup.dedupLines(multi, "text", "doc_id", maxOccurrences = 2)
    }, Seq(col("doc_id")),
      // corpus-level line dedup on the synthesized 2-line docs: lines
      // occurring more than twice across the corpus are dropped everywhere,
      // remaining lines reassemble in order (docs may empty to '')
      """WITH multi AS (
           SELECT a.doc_id AS doc_id,
                  concat(a.text, chr(10), b.text) AS text
           FROM documents a
           JOIN documents b ON b.doc_id = a.doc_id - a.doc_id % 5),
         lines AS (
           SELECT doc_id,
                  unnest(string_split(text, chr(10))) AS line,
                  unnest(generate_series(1, len(string_split(text, chr(10))))) AS pos
           FROM multi),
         hot AS (SELECT line FROM lines GROUP BY line HAVING count(*) > 2),
         kept AS (SELECT * FROM lines WHERE line NOT IN (SELECT line FROM hot))
         SELECT m.doc_id,
                coalesce(string_agg(k.line, chr(10) ORDER BY k.pos), '') AS text
         FROM multi m LEFT JOIN kept k ON k.doc_id = m.doc_id
         GROUP BY m.doc_id ORDER BY m.doc_id"""),


    // ext: broadcast decontamination — same semantics as q60 through the
    // driver-collected sorted-set kernel (shuffle-free narrow filter,
    // streaming-safe); oracle is q60's verbatim
    Query("q66_decontam_bcast", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      ext.Dedup.decontaminateBroadcast(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "text", "doc_id")
        .select("doc_id")
    }, Seq(col("doc_id")),
      // identical semantics to q60 — the broadcast kernel must agree with
      // the join shape exactly
      s"""WITH b AS (SELECT DISTINCT unnest($ShinglesSql) AS sh
             FROM documents WHERE doc_id % 97 = 0),
         ce AS (SELECT doc_id, unnest($ShinglesSql) AS sh
             FROM documents WHERE doc_id % 97 <> 0),
         bad AS (SELECT DISTINCT doc_id FROM ce WHERE sh IN (SELECT sh FROM b))
         SELECT doc_id FROM documents
         WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
         ORDER BY doc_id"""),


    // ext: SemDeDup — within-bucket cosine pairs → duplicate groups →
    // min-id canonical survives; singletons untouched
    Query("q67_semantic_dedup", (s, dir) =>
      ext.Similarity.semanticDedup(
        Tables.load(s, dir, "embeddings"), 0.3, "label")
        .select("vec_id"),
      Seq(col("vec_id")),
      // SemDeDup replay: label-bucket cosine pairs (q24 shape) → recursive
      // closure (q43 shape) → drop non-canonical members
      s"""WITH RECURSIVE
         e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, round($CosSql, 6) AS cos
               FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id),
         pairs AS (SELECT id_a, id_b FROM p WHERE cos >= 0.3),
         ed AS (SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
         r(a, b) AS (SELECT a, b FROM ed
                     UNION SELECT r.a, ed.b FROM r JOIN ed ON r.b = ed.a),
         drops AS (SELECT a AS vec_id FROM r GROUP BY a
                   HAVING a <> least(a, min(b)))
         SELECT vec_id FROM embeddings
         WHERE vec_id NOT IN (SELECT vec_id FROM drops) ORDER BY vec_id"""),


    // ext: decontamination audit — per-document distinct-shingle hit
    // counts against the benchmark set (q60's split), the report run
    // before anything is dropped
    Query("q71_contamination_report", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      ext.Dedup.contaminationReport(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "text", "doc_id")
    }, Seq(col("doc_id")),
      // decontamination audit: q60's corpus/bench split with the hit count
      // kept instead of collapsed into the anti-join
      s"""WITH b AS (SELECT DISTINCT unnest($ShinglesSql) AS sh
             FROM documents WHERE doc_id % 97 = 0),
         ce AS (SELECT doc_id, unnest($ShinglesSql) AS sh
             FROM documents WHERE doc_id % 97 <> 0)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
         FROM ce WHERE sh IN (SELECT sh FROM b)
         GROUP BY doc_id ORDER BY doc_id"""),


    // ext: boilerplate audit on the same synthesized corpus — the hot
    // lines q63 strips, with their occurrence counts
    Query("q72_boilerplate", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val multi = docs
        .withColumn("lid", col("doc_id") - col("doc_id") % 5)
        .join(docs.select(col("doc_id").as("lid"), col("text").as("ltext")),
          "lid")
        .select(col("doc_id"),
          concat_ws("\n", col("text"), col("ltext")).as("text"))
      ext.Dedup.boilerplateReport(multi, "text", maxOccurrences = 2)
    }, Seq(col("line")),
      // boilerplate audit: q63's synthesized corpus, hot lines + counts
      """WITH multi AS (
           SELECT a.doc_id AS doc_id,
                  concat(a.text, chr(10), b.text) AS text
           FROM documents a
           JOIN documents b ON b.doc_id = a.doc_id - a.doc_id % 5),
         lines AS (SELECT unnest(string_split(text, chr(10))) AS line
                   FROM multi)
         SELECT line, CAST(count(*) AS BIGINT) AS n FROM lines
         GROUP BY line HAVING count(*) > 2 ORDER BY line"""),


    // ext: exact substring-duplication spans (Lee et al. 2022 shape) on
    // the synthesized corpus — every group-of-5 shares its leader's text
    // as a suffix block, so each doc carries a corpus-duplicated span
    Query("q73_dup_spans", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val multi = docs
        .withColumn("lid", col("doc_id") - col("doc_id") % 5)
        .join(docs.select(col("doc_id").as("lid"), col("text").as("ltext")),
          "lid")
        .select(col("doc_id"),
          concat_ws("\n", col("text"), col("ltext")).as("text"))
      ext.Dedup.duplicatedSpans(multi, "doc_id", "text")
    }, Seq(col("doc_id"), col("span_start")),
      // substring-duplication spans: q72's synthesized corpus; duplicated
      // 8-token windows counted corpus-wide, consecutive starts merged into
      // maximal spans (islands by pos - row_number)
      """WITH multi AS (
           SELECT a.doc_id AS doc_id,
                  concat(a.text, chr(10), b.text) AS text
           FROM documents a
           JOIN documents b ON b.doc_id = a.doc_id - a.doc_id % 5),
         toks AS (SELECT doc_id,
                         regexp_split_to_array(trim(text), '\s+') AS t
                  FROM multi
                  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 8),
         gs AS (SELECT doc_id, t,
                       unnest(generate_series(1, len(t) - 7)) AS g
                FROM toks),
         grams AS (SELECT doc_id, g - 1 AS pos,
                          array_to_string(t[g:g+7], ' ') AS gram
                   FROM gs),
         hot AS (SELECT gram FROM grams
                 GROUP BY gram HAVING count(*) >= 2),
         isl AS (SELECT doc_id, pos,
                        pos - row_number()
                          OVER (PARTITION BY doc_id ORDER BY pos) AS grp
                 FROM grams WHERE gram IN (SELECT gram FROM hot))
         SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
                CAST(max(pos) - min(pos) + 8 AS BIGINT) AS span_tokens
         FROM isl GROUP BY doc_id, grp
         ORDER BY doc_id, span_start"""),


    // ext: span removal on the same corpus — group leaders (text = own
    // block twice) strip to empty; members keep only their unique block
    Query("q77_strip_spans", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val multi = docs
        .withColumn("lid", col("doc_id") - col("doc_id") % 5)
        .join(docs.select(col("doc_id").as("lid"), col("text").as("ltext")),
          "lid")
        .select(col("doc_id"),
          concat_ws("\n", col("text"), col("ltext")).as("text"))
      ext.Dedup.stripDuplicatedSpans(multi, "doc_id", "text")
    }, Seq(col("doc_id")),
      // span removal: q73's spans anti-applied to the token stream; rows
      // preserved (fully-duplicated docs rebuild to '')
      """WITH multi AS (
           SELECT a.doc_id AS doc_id,
                  concat(a.text, chr(10), b.text) AS text
           FROM documents a
           JOIN documents b ON b.doc_id = a.doc_id - a.doc_id % 5),
         toks AS (SELECT doc_id,
                         regexp_split_to_array(trim(text), '\s+') AS t
                  FROM multi),
         gs AS (SELECT doc_id, t,
                       unnest(generate_series(1, len(t) - 7)) AS g
                FROM toks WHERE len(t) >= 8),
         grams AS (SELECT doc_id, g - 1 AS pos,
                          array_to_string(t[g:g+7], ' ') AS gram
                   FROM gs),
         hot AS (SELECT gram FROM grams
                 GROUP BY gram HAVING count(*) >= 2),
         isl AS (SELECT doc_id, pos,
                        pos - row_number()
                          OVER (PARTITION BY doc_id ORDER BY pos) AS grp
                 FROM grams WHERE gram IN (SELECT gram FROM hot)),
         spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
                   FROM isl GROUP BY doc_id, grp),
         tok2 AS (SELECT doc_id, unnest(t) AS tok,
                         unnest(generate_series(0, len(t) - 1)) AS pos
                  FROM toks),
         keep AS (SELECT k.doc_id, k.pos, k.tok FROM tok2 k
                  WHERE NOT EXISTS (SELECT 1 FROM spans s
                    WHERE s.doc_id = k.doc_id
                      AND k.pos >= s.s AND k.pos < s.e)),
         rebuilt AS (SELECT doc_id,
                            string_agg(tok, ' ' ORDER BY pos) AS text
                     FROM keep GROUP BY doc_id)
         SELECT m.doc_id, coalesce(r.text, '') AS text
         FROM multi m LEFT JOIN rebuilt r USING (doc_id)
         ORDER BY m.doc_id"""),


    // ext: Bloom-prefiltered decontamination — q60's semantics (and
    // oracle, verbatim) through a bloom prune + exact confirm join
    Query("q87_decontam_bloom", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      ext.Dedup.decontaminateBloom(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "text", "doc_id")
        .select("doc_id")
    }, Seq(col("doc_id")),
      // same semantics (and SQL) as q60 — the bloom prune is an internal
      // optimization the exact confirm join erases
      s"""WITH b AS (SELECT DISTINCT unnest($ShinglesSql) AS sh
             FROM documents WHERE doc_id % 97 = 0),
         ce AS (SELECT doc_id, unnest($ShinglesSql) AS sh
             FROM documents WHERE doc_id % 97 <> 0),
         bad AS (SELECT DISTINCT doc_id FROM ce WHERE sh IN (SELECT sh FROM b))
         SELECT doc_id FROM documents
         WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
         ORDER BY doc_id"""),


    // ext: incremental snapshot diff — old/new corpus versions synthesized
    // deterministically from md5 buckets (5% added since old, 3% removed,
    // 10% edited via an appended marker), classified by content digest
    Query("q88_snapshot_diff", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      def bucket(salt: String) = ext.Sampling.hashBucket(col("doc_id"), salt)
      def cut(f: Double) = lit((f * ext.Sampling.Space).toLong)
      val oldSnap = docs.filter(bucket("add") >= cut(0.05))
        .withColumn("text", when(bucket("ed") < cut(0.10),
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      val newSnap = docs.filter(bucket("rm") >= cut(0.03))
      ext.Dedup.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
    }, Seq(col("doc_id")), {
      val cut05 = (0.05 * ext.Sampling.Space).toLong
      val cut10 = (0.10 * ext.Sampling.Space).toLong
      val cut03 = (0.03 * ext.Sampling.Space).toLong
      s"""WITH o AS (SELECT doc_id,
               md5(CASE WHEN ${BucketSql("ed", "doc_id")} < $cut10
                 THEN concat(text, ' v2') ELSE text END) AS dig_old
             FROM documents WHERE ${BucketSql("add", "doc_id")} >= $cut05),
         n AS (SELECT doc_id, md5(text) AS dig_new
             FROM documents WHERE ${BucketSql("rm", "doc_id")} >= $cut03)
         SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN dig_old = dig_new THEN 'unchanged'
                ELSE 'changed' END AS status
         FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
         ORDER BY doc_id"""
    }),


    // ext: document novelty — fraction of a doc's distinct shingles that
    // are corpus-unique; digest-only shuffle, the aggregate complement
    // of pairwise dedup
    Query("q94_novelty", (s, dir) =>
      ext.TextAnalysis.noveltyScore(
        Tables.load(s, dir, "documents"), "doc_id", "text"),
      Seq(col("doc_id")),
      // novelty over the same 60-bit shingle-hash convention the dedup
      // stack uses (first 15 md5 hex digits)
      s"""WITH d AS (SELECT doc_id, unnest(list_transform($ShinglesSql,
               s -> CAST(CAST(concat('0x', substr(md5(s), 1, 15)) AS UBIGINT)
                 AS BIGINT))) AS sh
             FROM documents),
         c AS (SELECT sh, count(*) AS c FROM d GROUP BY sh)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
           round(sum(CASE WHEN c = 1 THEN 1.0 ELSE 0.0 END) / count(*), 6)
             AS novelty
         FROM d JOIN c USING (sh)
         GROUP BY doc_id ORDER BY doc_id"""),


    // ext: cross-corpus near-dedup — a synthetic "new crawl" (hash half
    // of the corpus) LSH-matched AGAINST the standing half; candidate
    // pairs only ever span the two sides (incremental-ingest shape)
    Query("q95_cross_dedup", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val isNew = ext.Sampling.hashBucket(col("doc_id"), "xd") <
        lit(ext.Sampling.Space / 2)
      ext.Dedup.minhashLshCross(
        docs.filter(isNew), docs.filter(!isNew), "text", "doc_id",
        minJaccard = 0.3)
        .withColumn("jaccard", round(col("jaccard"), 6))
    }, Seq(col("id_new"), col("id_ref")),
      // q21's minhash machinery with a side column: candidates pair only
      // across the hash-half split (side 0 = "new crawl", side 1 = corpus)
      CrossDedupSql),


    // ext: store-served cross-dedup — the standing half's LSH index is
    // WRITTEN once (banded keys + shingle hashes) and the incoming half
    // is matched FROM it; same answer as q95, but the reference corpus's
    // kernels never re-run per batch (steady-state incremental ingest)
    Query("q100_cross_store", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val isNew = ext.Sampling.hashBucket(col("doc_id"), "xd") <
        lit(ext.Sampling.Space / 2)
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_q100_store_${s.sparkContext.applicationId}").toString
      ext.Dedup.writeLshStore(docs.filter(!isNew), "text", "doc_id", path)
      ext.Dedup.minhashLshCrossFromStore(docs.filter(isNew),
        s, path, "text", "doc_id", minJaccard = 0.3)
        .withColumn("jaccard", round(col("jaccard"), 6))
    }, Seq(col("id_new"), col("id_ref")),
      // the store-served path is pinned to the SAME oracle: serving the
      // reference side from its persisted index must not change one pair
      CrossDedupSql),


    // ext: paragraph-level corpus dedup — q63's recipe one unit up:
    // docs synthesized as (own text ¶ leader text), the shared leader
    // paragraph crosses the occurrence cap and is stripped everywhere
    Query("q104_para_dedup", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val multi = docs
        .withColumn("lid", col("doc_id") - col("doc_id") % 5)
        .join(docs.select(col("doc_id").as("lid"), col("text").as("ltext")),
          "lid")
        .select(col("doc_id"),
          concat_ws("\n\n", col("text"), col("ltext")).as("text"))
      ext.Dedup.dedupParagraphs(multi, "text", "doc_id",
        maxOccurrences = 2)
    }, Seq(col("doc_id")),
      // q63's CTE shape with the paragraph splitter and joiner
      """WITH multi AS (
           SELECT a.doc_id AS doc_id,
                  concat(a.text, chr(10), chr(10), b.text) AS text
           FROM documents a
           JOIN documents b ON b.doc_id = a.doc_id - a.doc_id % 5),
         paras AS (
           SELECT doc_id,
                  unnest(string_split_regex(text, '\n{2,}')) AS para,
                  unnest(generate_series(1,
                    len(string_split_regex(text, '\n{2,}')))) AS pos
           FROM multi),
         hot AS (SELECT para FROM paras GROUP BY para HAVING count(*) > 2),
         kept AS (SELECT * FROM paras
                  WHERE para NOT IN (SELECT para FROM hot))
         SELECT m.doc_id,
                coalesce(string_agg(k.para, chr(10) || chr(10)
                  ORDER BY k.pos), '') AS text
         FROM multi m LEFT JOIN kept k ON k.doc_id = m.doc_id
         GROUP BY m.doc_id ORDER BY m.doc_id"""),


    // ext: containment pairs — docs synthesized as (own ⧺ group-leader
    // text): every member CONTAINS the leader's shingles while Jaccard
    // stays low; bottom-k sampled-membership candidates + exact verify
    Query("q107_containment", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val multi = docs
        .withColumn("lid", col("doc_id") - col("doc_id") % 10)
        .join(docs.select(col("doc_id").as("lid"), col("text").as("ltext")),
          "lid")
        .select(col("doc_id"),
          concat_ws(" ", col("text"), col("ltext")).as("text"))
      // the containment plan runs the shingle kernel 4× by design; the
      // declared order sorts its pairs in one partition, so no
      // range-sampling pass runs all of it a second time
      ext.Dedup.containmentPairs(multi, "text", "doc_id",
        minContainment = 0.5)
    }, Seq(col("id_a"), col("id_b")),
      // bottom-k sampled-membership candidates (the 8 smallest shingle
      // hashes probe the full inverted index) + exact containment verify;
      // integer-ratio containments stay unrounded (exact divisions)
      s"""WITH m AS (SELECT d.doc_id,
               concat_ws(' ', d.text, l.text) AS text
             FROM documents d
             JOIN documents l ON l.doc_id = d.doc_id - d.doc_id % 10),
         d AS (SELECT doc_id, list_sort(list_transform($ShinglesSql,
                 s -> ${baseHashSql("s")})) AS sh FROM m),
         posts AS (SELECT doc_id, unnest(sh) AS h FROM d),
         probes AS (SELECT doc_id AS probe_id, unnest(sh[1:8]) AS h FROM d),
         cand AS (SELECT DISTINCT least(pr.probe_id, p.doc_id) AS id_a,
                    greatest(pr.probe_id, p.doc_id) AS id_b
                  FROM probes pr JOIN posts p USING (h)
                  WHERE pr.probe_id <> p.doc_id),
         x AS (SELECT c.id_a, c.id_b,
                 CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
                 CAST(len(a.sh) AS BIGINT) AS n_a,
                 CAST(len(b.sh) AS BIGINT) AS n_b
               FROM cand c JOIN d a ON a.doc_id = c.id_a
                 JOIN d b ON b.doc_id = c.id_b)
         SELECT id_a, id_b, n_a, n_b, inter,
           CAST(inter AS DOUBLE) / CAST(n_a AS DOUBLE) AS cont_a,
           CAST(inter AS DOUBLE) / CAST(n_b AS DOUBLE) AS cont_b
         FROM x
         WHERE greatest(CAST(inter AS DOUBLE) / CAST(n_a AS DOUBLE),
                        CAST(inter AS DOUBLE) / CAST(n_b AS DOUBLE)) >= 0.5
         ORDER BY id_a, id_b"""),


    // ext: leakage-safe split — hashSplit 80/20, then train docs
    // near-duplicating any test doc (cross-LSH at 0.3) are dropped
    Query("q115_decontam_split", (s, dir) =>
      pipeline.CorpusCuration.decontaminatedSplit(
        Tables.load(s, dir, "documents"), "text", "doc_id",
        testFrac = 0.2, minJaccard = 0.3, salt = "ds"),
      Seq(col("doc_id")), {
      // q95's cross-LSH machinery pointed at the split boundary (side =
      // hashSplit bucket vs the interpolated 80% threshold); leaky train
      // docs anti-join away, test survives intact
      val th = ext.Sampling.thresholds(Seq(0.8, 0.2)).head
      s"""WITH dd AS (SELECT doc_id, text,
             CASE WHEN ${BucketSql("ds", "doc_id")} < $th
               THEN 0 ELSE 1 END AS side
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
         j AS (SELECT c.id_new,
                 (CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE))
                   / CAST(len(list_distinct(list_concat(da.sh, db.sh)))
                       AS DOUBLE) AS jaccard
               FROM cand c JOIN d da ON da.doc_id = c.id_new
                 JOIN d db ON db.doc_id = c.id_ref),
         leaky AS (SELECT DISTINCT id_new AS doc_id FROM j
                   WHERE jaccard >= 0.3)
         SELECT doc_id, 'train' AS split FROM dd
         WHERE side = 0 AND doc_id NOT IN (SELECT doc_id FROM leaky)
         UNION ALL
         SELECT doc_id, 'test' AS split FROM dd WHERE side = 1
         ORDER BY doc_id"""
    }),


    // ext: LSH candidates → exact Levenshtein verify — the "≤ k edits"
    // dedup policy (threshold form band-limits the DP; length prefilter)
    Query("q136_edit_verify", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      ext.Dedup.editDistanceVerify(
        ext.Dedup.minhashCandidates(docs, "text", "doc_id"),
        docs, "doc_id", "text", 50)
    }, Seq(col("id_a"), col("id_b")),
      // candidate CTEs shared with q21; byte-level DuckDB levenshtein ==
      // codepoint-level Spark levenshtein on the ASCII test corpus
      s"""$MinhashPairsSql
         SELECT c.id_a, c.id_b,
           CAST(levenshtein(ta.text, tb.text) AS INT) AS edit_dist
         FROM cand c JOIN documents ta ON ta.doc_id = c.id_a
                     JOIN documents tb ON tb.doc_id = c.id_b
         WHERE levenshtein(ta.text, tb.text) <= 50
         ORDER BY id_a, id_b"""),


    // ext: leakage-safe split — q55's hash split keyed by near-dup
    // COMPONENT, so a duplication cluster never straddles train/test
    Query("q153_leakage_split", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val pairs = ext.Dedup.minhashLsh(docs, "text", "doc_id",
        numHashes = 16, bands = 4, minJaccard = 0.3)
      ext.Sampling.leakageSafeSplit(docs, "doc_id", pairs,
          Seq(0.8, 0.1, 0.1), "lk")
        .select(col("doc_id"), col("group_id"), col("split"))
    }, Seq(col("doc_id")), {
      // q43's recursive component closure + q55's bucket CASE, keyed on
      // the component canonical (singletons group as themselves)
      val th = ext.Sampling.thresholds(Seq(0.8, 0.1, 0.1))
      s"""WITH RECURSIVE pairs AS (
           $MinhashPairsSql
           SELECT id_a, id_b FROM j WHERE jaccard >= 0.3),
         e AS (SELECT id_a AS a, id_b AS b FROM pairs
               UNION SELECT id_b, id_a FROM pairs),
         r(a, b) AS (SELECT a, b FROM e
                     UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
         can AS (SELECT a AS doc_id, least(a, min(b)) AS canonical_id
                 FROM r GROUP BY a),
         g AS (SELECT d.doc_id,
                 coalesce(can.canonical_id, d.doc_id) AS group_id
               FROM documents d LEFT JOIN can USING (doc_id))
         SELECT doc_id, group_id,
           CASE WHEN ${BucketSql("lk", "group_id")} < ${th(0)} THEN 0
                WHEN ${BucketSql("lk", "group_id")} < ${th(1)} THEN 1
                ELSE 2 END AS split
         FROM g ORDER BY doc_id"""
    }),


    // ext: quality-aware canonicalization — keep the BEST copy per
    // near-dup cluster (max quality, id tiebreak), not the min-id one
    Query("q154_keep_best", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val pairs = ext.Dedup.minhashLsh(docs, "text", "doc_id",
        numHashes = 16, bands = 4, minJaccard = 0.3)
      val scored = docs.select(col("doc_id"),
        round(ext.TextAnalysis.qualityScore("text"), 6).as("q"))
      ext.Dedup.canonicalByScore(scored, "doc_id", pairs, "q")
        .select(col("doc_id"), col("group_id"), col("rep_id"), col("keep"))
    }, Seq(col("doc_id")),
      // q43's closure + quality argmax per component (score desc, id asc —
      // scores rounded 6 dp on both sides so the tie set is identical)
      s"""WITH RECURSIVE pairs AS (
           $MinhashPairsSql
           SELECT id_a, id_b FROM j WHERE jaccard >= 0.3),
         e AS (SELECT id_a AS a, id_b AS b FROM pairs
               UNION SELECT id_b, id_a FROM pairs),
         r(a, b) AS (SELECT a, b FROM e
                     UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
         can AS (SELECT a AS doc_id, least(a, min(b)) AS canonical_id
                 FROM r GROUP BY a),
         sq AS ($QualityCtesSql
                SELECT doc_id, $QualityValSql AS q FROM s),
         g AS (SELECT d.doc_id,
                 coalesce(can.canonical_id, d.doc_id) AS group_id, sq.q
               FROM documents d LEFT JOIN can USING (doc_id)
                 JOIN sq USING (doc_id)),
         rep AS (SELECT group_id, doc_id AS rep_id FROM g
                 QUALIFY row_number() OVER (PARTITION BY group_id
                   ORDER BY q DESC, doc_id) = 1)
         SELECT g.doc_id, g.group_id, rep.rep_id,
           CASE WHEN g.doc_id = rep.rep_id THEN 1 ELSE 0 END AS keep
         FROM g JOIN rep USING (group_id) ORDER BY g.doc_id"""),


    // ext: per-source duplication rate — the fraction each source would
    // lose to min-id component dedup (which feeds need ingest dedup)
    Query("q175_dup_rate_by_source", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val pairs = ext.Dedup.minhashLsh(docs, "text", "doc_id",
        numHashes = 16, bands = 4, minJaccard = 0.3)
      ext.Dedup.dupRateBySlice(docs, "doc_id", "source", pairs)
    }, Seq(col("source")),
      // q43's closure; a duplicate = a non-canonical component member
      s"""WITH RECURSIVE pairs AS (
           $MinhashPairsSql
           SELECT id_a, id_b FROM j WHERE jaccard >= 0.3),
         e AS (SELECT id_a AS a, id_b AS b FROM pairs
               UNION SELECT id_b, id_a FROM pairs),
         r(a, b) AS (SELECT a, b FROM e
                     UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
         can AS (SELECT a AS doc_id, least(a, min(b)) AS canonical_id
                 FROM r GROUP BY a)
         SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN can.canonical_id IS NOT NULL
               AND can.canonical_id <> d.doc_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_dup,
           CAST(sum(CASE WHEN can.canonical_id IS NOT NULL
               AND can.canonical_id <> d.doc_id THEN 1 ELSE 0 END)
             AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_rate
         FROM documents d LEFT JOIN can USING (doc_id)
         GROUP BY d.source ORDER BY d.source"""),


    // ext: cross-source duplication matrix — who duplicates whom
    // (mirrors/syndication); pair-volume cost, ≤ S² output rows
    Query("q176_cross_dup_matrix", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val pairs = ext.Dedup.minhashLsh(docs, "text", "doc_id",
        numHashes = 16, bands = 4, minJaccard = 0.3)
      ext.Dedup.crossSliceDupMatrix(docs, "doc_id", "source", pairs)
    }, Seq(col("slice_a"), col("slice_b")),
      s"""$MinhashPairsSql,
         und AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.3),
         m AS (SELECT least(da.source, db.source) AS slice_a,
                 greatest(da.source, db.source) AS slice_b
               FROM und JOIN documents da ON da.doc_id = und.id_a
                 JOIN documents db ON db.doc_id = und.id_b)
         SELECT slice_a, slice_b, CAST(count(*) AS BIGINT) AS n_pairs
         FROM m GROUP BY slice_a, slice_b ORDER BY slice_a, slice_b"""),


    // ext: near-dup component-SIZE histogram — the duplication-depth
    // curve (many pairs vs few mega-clusters need different dedup
    // strategies); size-1 row = documents outside any pair
    Query("q177_component_sizes", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val pairs = ext.Dedup.minhashLsh(docs, "text", "doc_id",
        numHashes = 16, bands = 4, minJaccard = 0.3)
      val comp = ext.Dedup.connectedComponents(pairs)
      val multi = comp.groupBy(col("canonical_id"))
        .agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_components"))
      val singles = docs
        .join(comp.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_components"))
        .select(lit(1L).as("sz"), col("n_components"))
      singles.unionByName(multi)
    }, Seq(col("sz")),
      s"""WITH RECURSIVE pairs AS (
           $MinhashPairsSql
           SELECT id_a, id_b FROM j WHERE jaccard >= 0.3),
         e AS (SELECT id_a AS a, id_b AS b FROM pairs
               UNION SELECT id_b, id_a FROM pairs),
         r(a, b) AS (SELECT a, b FROM e
                     UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
         can AS (SELECT a AS doc_id, least(a, min(b)) AS canonical_id
                 FROM r GROUP BY a),
         ms AS (SELECT canonical_id, CAST(count(*) AS BIGINT) AS sz
                FROM can GROUP BY canonical_id),
         hist AS (SELECT sz, CAST(count(*) AS BIGINT) AS n_components
                  FROM ms GROUP BY sz),
         singles AS (SELECT CAST(1 AS BIGINT) AS sz,
             CAST(count(*) AS BIGINT) AS n_components
           FROM documents d
           WHERE NOT EXISTS (SELECT 1 FROM can
                             WHERE can.doc_id = d.doc_id))
         SELECT sz, n_components FROM singles
         UNION ALL SELECT sz, n_components FROM hist
         ORDER BY sz"""),
  )
}
