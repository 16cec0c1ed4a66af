package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Checkpoints.{owning, scoped}

/** Text-analysis operators for large-scale training-data pipelines — all
  * pure Catalyst expressions (no UDFs): whole-stage-codegen'd, shuffle-free
  * per-row maps that scale linearly over a 100 TB corpus. Beyond-reference
  * surface (SURVEY.md §2.6 extensions).
  *
  * Most operators carry BOTH a column-name form (the historical surface;
  * some compose SQL lambda strings that need a stable reference) and a
  * `Column` form — the latter is what the SQL registration
  * ([[graft.GraftFunctions]]) builds on, since a SQL function receives
  * child expressions, not names.
  */
object TextAnalysis {

  /** Whitespace token count (0 for blank text). */
  def tokenCount(t: String): Column = tokenCount(col(t))
  def tokenCount(c: Column): Column =
    when(length(trim(c)) === 0, lit(0))
      .otherwise(size(split(trim(c), "\\s+")))

  /** Lowercased word tokens (BPE-ish: alphanumeric runs). */
  def wordTokens(t: String): Column = wordTokens(col(t))
  def wordTokens(c: Column): Column =
    call_function("regexp_extract_all", lower(c), lit("[a-z0-9]+"), lit(0))

  /** Word n-gram shingles (space-joined), distinct. Degenerate texts with
    * fewer than n tokens yield one whole-text shingle. The tokenization is
    * evaluated once and bound through a single-element transform (poor
    * man's let-binding) instead of re-running the regex per branch. */
  def shingles(t: String, n: Int = 3): Column =
    expr(
      s"""transform(array(regexp_extract_all(lower($t), '[a-z0-9]+', 0)), toks ->
           array_distinct(CASE WHEN size(toks) < $n
           THEN array(concat_ws(' ', toks))
           ELSE transform(sequence(1, size(toks) - ${n - 1}),
                  g -> concat_ws(' ', slice(toks, g, $n)))
           END))[0]""")

  /** [[shingles]] hashed to 60-bit longs (first 15 hex digits of md5) and
    * sorted ascending — the compact transport/verify form used by the dedup
    * pair-verify path ([[graft.functions.SetSimilarity.jaccardSorted]]).
    * Injective w.h.p. on any real corpus (collision odds per document pair
    * ≈ |shingles|²/2⁶¹), so Jaccard on these equals Jaccard on the strings;
    * the arrays ship ~6× smaller through the candidate-join shuffle. */
  def hashedShingles(t: String, n: Int = 3): Column =
    graft.functions.HashedShingles.column(col(t), n)

  /** Winnowing-style document fingerprint: minimum md5 over all character
    * 8-grams — a rolling-hash analog that is stable across engines.
    * Computed by the native [[graft.functions.MinMd5Ngram]] kernel (one
    * digest instance down the document); bit-identical to the composed
    * `array_min(transform(sequence(...), i => md5(substr(...))))` form,
    * which evaluated a lambda + fresh hex string per character position. */
  def fingerprint(t: String, n: Int = 8): Column = fingerprint(col(t), n)
  def fingerprint(c: Column, n: Int): Column =
    graft.functions.MinMd5Ngram.column(c, n)

  /** Top-`k` characteristic terms per document by TF-IDF.
    *
    * Shape at 100 TB: explode → (doc, term) count → term document-frequency
    * aggregate → join back on `term` → per-doc window top-k. The
    * df-side of the join is VOCABULARY-sized — hundreds of millions of
    * distinct terms on a web-scale corpus — so there is deliberately NO
    * broadcast hint: AQE picks broadcast when the (possibly `minDf`-pruned)
    * vocabulary is small and a sort-merge join on `term` when it is not.
    * `minDf` drops terms appearing in fewer than that many documents —
    * standard TF-IDF vocabulary pruning that both denoises the output and
    * legitimately shrinks the join's build side. The idf is the RATIONAL
    * (N+1)/(df+1) — not the textbook logarithm — because `ln` is not
    * guaranteed correctly rounded across engines while +,/ are exact IEEE,
    * keeping the oracle hash-stable; the ranking is identical (log is
    * monotone). Ties break lexicographically.
    */
  def tfidfTopTerms(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, k: Int, minDf: Long = 1L): org.apache.spark.sql.DataFrame = {
    val n = df.count()
    val terms = df.select(col(idCol).as("doc_id"),
      explode(wordTokens(textCol)).as("term"))
    // tf feeds BOTH the document-frequency aggregate and the score join;
    // both consumers sit above the same (doc_id, term) aggregation
    // exchange, so ReuseExchange runs the heavy explode + partial-count
    // map stage once and each branch replays only its reduce side — no
    // checkpoint, no blocks pinned past the query (the r6 eager checkpoint
    // here leaked a corpus-scale table per call)
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq0 = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val dfreq = if (minDf > 1L) dfreq0.filter(col("df") >= minDf) else dfreq0
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .withColumn("score", round(col("tf").cast("double") *
        (lit((n + 1).toDouble) / (col("df") + 1).cast("double")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("score"))
  }

  /** Corpus-trained add-k–smoothed bigram language-model scoring — the
    * CCNet-style perplexity filter (Wenzek et al. 2020) trained on the
    * corpus itself instead of an external KenLM: documents whose token
    * transitions are atypical for the corpus (gibberish, boilerplate
    * soup, wrong-language fragments) score a high negative log
    * likelihood and can be dropped by quantile.
    *
    * Model: p(w₂|w₁) = (c(w₁w₂) + a) / (c(w₁) + a·V), counts over the
    * whole corpus, c(w₁) = occurrences of w₁ as a bigram CONTEXT, V =
    * corpus vocabulary size; score = −mean ln p over the document's
    * bigrams (length-normalized, so long docs aren't penalized).
    *
    * Shape at 100 TB: the bigram stream carries only (id, 64-bit hashes);
    * both count tables aggregate with map-side combine down to
    * distinct-bigram/vocab size; the context count joins onto the BIGRAM
    * count table (small side), so the corpus-scale stream is joined
    * exactly once, on the bigram hash, with AQE free to broadcast the
    * fused rate table; V broadcasts as one row. Tokens are the lowercased
    * alphanumeric runs every other text operator uses.
    * Output: (idCol, n_bigrams, nll), nll rounded at 6 dp; documents with
    * fewer than two tokens have no bigrams and are skipped. */
  def lmScore(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, addK: Double = 1.0): org.apache.spark.sql.DataFrame = {
    // hash-only bigram stream via the native kernel (one tokenize + one
    // chained XXH64 pair per position); bit-identical to exploding
    // struct(w1, w2) and hashing per row — KernelSuite pins it
    val bg = df.select(col(idCol),
      explode(graft.functions.BigramHashes.column(col(textCol))).as("b"))
      .select(col(idCol), col("b.w1h").as("w1h"), col("b.bh").as("bh"))
    val c2 = bg.groupBy(col("bh"))
      .agg(count(lit(1)).as("c2"), first(col("w1h")).as("w1h"))
    // context counts DERIVE from the bigram table: c(w1) = Σ c(w1w2) over
    // w2 — identical integers to counting the stream again, minus one
    // corpus-scale scan + shuffle (the bigram kernel re-ran per consumer;
    // c2 is distinct-bigram-sized, so this aggregate is a side-table op).
    // Caveat: the equivalence conditions on no 64-bit bh collision —
    // colliding bigrams fold into one row whose first(w1h) credits all
    // their counts to one arbitrary context, where the direct
    // groupBy(w1h) counted each w1 exactly (probability ~n²/2⁶⁵,
    // negligible at any realistic distinct-bigram count)
    val c1 = c2.groupBy(col("w1h")).agg(sum(col("c2")).as("c1"))
    val rates = c2.join(c1, "w1h").select("bh", "c2", "c1")
    val v = df.select(wordTokens(textCol).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(col("toks")).as("w"))
      .agg(count_distinct(col("w")).as("v"))
    bg.join(rates, Seq("bh"))
      .crossJoin(broadcast(v))
      .withColumn("lp",
        log((col("c2") + addK) / (col("c1") + col("v") * addK)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), round(-avg(col("lp")), 6).as("nll"))
  }

  /** Distributed BPE merge learning (Sennrich et al. 2016, "Neural Machine
    * Translation of Rare Words with Subword Units" §3.2): learn the
    * `numMerges` highest-frequency symbol-pair merges over the corpus,
    * starting from characters. Ties break on (count desc, lhs, rhs) —
    * ASCII-lexicographic, engine-portable.
    *
    * Shape at 100 TB: ONE corpus pass builds the word-frequency table;
    * every merge round then iterates on that vocabulary table (distinct
    * words — millions of rows, corpus-size-independent): a weighted
    * adjacent-pair count with map-side combine, a 1-row argmax collect
    * (the same driver-synchronized round structure as Lloyd iterations in
    * [[Ivf]]), and a narrow per-row merge application. Symbol sequences
    * travel as `[sym][sym]…` strings so the merge application is a single
    * literal `replace` — left-to-right, non-overlapping, no rescan of the
    * replacement: exactly BPE's greedy semantics, and byte-identical
    * between engines. The word table is materialized (localCheckpoint) up
    * front — the rounds never re-scan the corpus — and lineage is re-cut
    * every 16 rounds so deep schedules don't accumulate a 2·N-deep plan.
    * A vocabulary of at most `localThreshold` distinct words (2²⁰ by
    * default; 0 forces the distributed rounds) runs the same merge loop on
    * the driver instead, with identical rules.
    * Output: (rank, lhs, rhs, n) — the merge table, rank ascending; stops
    * early (shorter output) if the vocabulary fully merges. */
  def bpeTrain(df: org.apache.spark.sql.DataFrame, textCol: String,
      numMerges: Int, localThreshold: Long = 1L << 20)
      : org.apache.spark.sql.DataFrame = owning { sc =>
    val spark = df.sparkSession
    import spark.implicits._
    bpeMerge(sc, df, textCol, numMerges, localThreshold)._1
      .toDF("rank", "lhs", "rhs", "n")
  }

  /** Corpus subword frequency table after [[bpeTrain]]'s merge schedule —
    * the learned tokenizer's vocabulary with corpus counts (the serving
    * artifact a real pipeline ships next to the merge rules). Same round
    * structure as the trainer; the final vocabulary's symbols explode
    * weighted by word frequency. Output: (subword, n).
    * On the distributed path (vocab > `localThreshold` distinct words)
    * the returned frame reads the loop's last lineage checkpoint, which
    * the caller owns; the driver fast-path returns a local frame. */
  def bpeSubwords(df: org.apache.spark.sql.DataFrame, textCol: String,
      numMerges: Int, localThreshold: Long = 1L << 20)
      : org.apache.spark.sql.DataFrame = owning { sc =>
    val (_, vocab) = bpeMerge(sc, df, textCol, numMerges, localThreshold)
    vocab.select(col("cnt"), explode(bpeSyms).as("subword"))
      .groupBy(col("subword")).agg(sum(col("cnt")).as("n"))
  }

  /** Per-document token counts under the corpus-trained BPE tokenizer:
    * learn [[bpeTrain]]'s merge schedule, encode every document with it,
    * and report the token count the REAL tokenizer would produce — the
    * number a pre-training budget is actually denominated in (whitespace
    * counts under-count rare and agglutinated words, which fragment into
    * several subwords). Composes with [[tokenBudget]]-style selection.
    *
    * Shape at 100 TB: training iterates on the materialized distinct-word
    * table ([[bpeTrain]]); the collected N-rule schedule is then applied
    * as ONE narrow projection folding N literal replaces over that same
    * distinct-word table (word → subword count, corpus-size-independent),
    * and the corpus-scale pass pre-aggregates per-document word counts
    * map-side before joining the small word→count map (AQE broadcasts
    * it). No corpus-scale shuffle beyond the per-doc word count.
    * `localThreshold` is [[bpeTrain]]'s driver fast-path bound.
    *
    * Output: (idCol, n_words, n_tokens) — n_words = word occurrences,
    * n_tokens = BPE subword count after `numMerges` merges; zero-word
    * documents emit no rows. */
  def bpeEncode(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, numMerges: Int, localThreshold: Long = 1L << 20)
      : org.apache.spark.sql.DataFrame = {
    val rules = owning(sc =>
      bpeMerge(sc, df, textCol, numMerges, localThreshold)._1)
    val chars = call_function("regexp_extract_all",
      col("word"), lit("."), lit(0))
    val enc = rules.foldLeft(
      concat(lit("["), array_join(chars, "]["), lit("]"))) {
        case (c, (_, l, r, _)) =>
          replace(c, lit(s"[$l][$r]"), lit(s"[$l$r]"))
      }
    val wtok = df.select(explode(wordTokens(textCol)).as("word")).distinct()
      .select(col("word"), size(call_function("regexp_extract_all",
        enc, lit("\\[([^\\]]*)\\]"), lit(1))).cast("long").as("ntok"))
    df.select(col(idCol), explode(wordTokens(textCol)).as("word"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("nw"))
      .join(wtok, Seq("word"))
      .groupBy(col(idCol))
      .agg(sum(col("nw")).as("n_words"),
        sum(col("nw") * col("ntok")).as("n_tokens"))
  }

  private def bpeSyms: Column = call_function("regexp_extract_all",
    col("seq"), lit("\\[([^\\]]*)\\]"), lit(1))

  /** Shared BPE merge loop: (rules, final vocabulary (cnt, seq)). Its
    * lineage cuts are pins of the caller's scope `sc`: on the DISTRIBUTED
    * path (vocab > `localThreshold` distinct words) the vocabulary reads
    * the last one, on the driver fast-path it is a driver-local frame
    * that reads none. */
  private def bpeMerge(sc: graft.util.Checkpoints.Scope,
      df: org.apache.spark.sql.DataFrame, textCol: String,
      numMerges: Int, localThreshold: Long): (Seq[(Long, String, String, Long)],
      org.apache.spark.sql.DataFrame) = {
    val chars = call_function("regexp_extract_all",
      col("word"), lit("."), lit(0))
    // The vocabulary is DISTINCT WORDS — bounded by language (millions of
    // rows at any corpus size), not by the corpus. Narrow-coalesce it
    // under the checkpoint so the N merge rounds don't each schedule a
    // full shuffle-partition-count of near-empty tasks: at bench scale
    // (~10⁴ words) the rounds' cost is task latency, not compute; at
    // vocabulary ceiling (~10⁶-10⁷ rows) a few hundred thousand rows per
    // task of narrow regex/replace work is still right-sized.
    val roundSlots = math.max(4, df.sparkSession.sparkContext.defaultParallelism / 4)
    var vocab = df.select(explode(wordTokens(textCol)).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), concat(lit("["),
        array_join(chars, "]["), lit("]")).as("seq"))
      .coalesce(roundSlots)
    // materialize-and-rotate: each cut releases the previous checkpoint's
    // blocks, the pin the lazy vocabulary reads (the new one is eager, so
    // the old lineage is never re-read)
    def cut(): Unit = {
      val cp = sc.pin(vocab)
      sc.release(vocab)
      vocab = cp
    }
    // THE corpus pass: without this cut every round's pair-count action
    // would re-scan the corpus through the groupBy lineage — N corpus
    // passes instead of one, which at 100 TB is the whole cost
    cut()
    // Small vocabularies (≤ localThreshold distinct words, 2²⁰ by default
    // ≈ tens of MB of (cnt, bracketed-seq) collected — the common case
    // even at 100 TB: the table is bounded by language, and natural
    // corpora sit well under 2²⁰ distinct [a-z0-9]+ tokens) run the merge
    // loop ON THE DRIVER: pair counting over the collected word table is
    // microseconds per round, where the distributed loop pays a full
    // job round of fixed scheduling latency per merge (the Dedup
    // union-find threshold pattern, Dedup.connectedComponents). Same
    // rules and same final vocabulary either way — identical tie-break
    // (count desc, then lhs/rhs ASCII-lexicographic: tokens are
    // [a-z0-9]+, so Java string order ≡ Spark's binary UTF-8 order) and
    // the SAME left-to-right non-overlapping literal replace
    // (java.lang.String.replace ≡ Spark's `replace`). Past the threshold
    // the distributed rounds below own it.
    if (vocab.count() <= localThreshold) {
      var seqs = vocab.collect().map(r => (r.getLong(0), r.getString(1)))
      sc.release(vocab)
      val rules = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
      var exhausted = false
      for (r <- 1 to numMerges if !exhausted) {
        val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
        seqs.foreach { case (cnt, seq) =>
          val syms = seq.substring(1, seq.length - 1).split("\\]\\[", -1)
          var i = 0
          while (i < syms.length - 1) {
            val k = (syms(i), syms(i + 1))
            counts(k) = counts.getOrElse(k, 0L) + cnt
            i += 1
          }
        }
        if (counts.isEmpty) exhausted = true
        else {
          var bl: String = null; var br: String = null; var bn = -1L
          counts.foreach { case ((l, rr), n) =>
            if (n > bn || (n == bn && (l < bl || (l == bl && rr < br)))) {
              bn = n; bl = l; br = rr
            }
          }
          rules += ((r.toLong, bl, br, bn))
          val target = s"[$bl][$br]"; val repl = s"[$bl$br]"
          seqs = seqs.map { case (cnt, s) => (cnt, s.replace(target, repl)) }
        }
      }
      val spark = df.sparkSession
      import spark.implicits._
      return (rules.toSeq, seqs.toSeq.toDF("cnt", "seq"))
    }
    val rules = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var exhausted = false
    for (r <- 1 to numMerges if !exhausted) {
      val best = vocab.select(col("cnt"), bpeSyms.as("s"))
        // single-symbol words host no pairs — and Spark's sequence(2, 1)
        // would DESCEND into an out-of-bounds element_at under ANSI
        .filter(size(col("s")) >= 2)
        .select(col("cnt"),
          explode(transform(sequence(lit(2), size(col("s"))),
            g => struct(element_at(col("s"), g - 1).as("lhs"),
              element_at(col("s"), g).as("rhs")))).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, rr) = (best(0).getString(0), best(0).getString(1))
        rules += ((r.toLong, l, rr, best(0).getLong(2)))
        vocab = vocab.withColumn("seq",
          replace(col("seq"), lit(s"[$l][$rr]"), lit(s"[$l$rr]")))
        if (r % 16 == 0) cut()
      }
    }
    (rules.toSeq, vocab)
  }

  /** Feature-hashing document embedding (the "hashing trick", Weinberger
    * et al. 2009): a dense `dim`-slot signed token-count vector per
    * document, from hashes alone — no trained model, so it is available
    * at curation time and bridges raw text into the embedding stack
    * ([[Similarity.embeddingNearDups]]/[[Similarity.semanticDedup]] accept the
    * assembled vectors). Token hash = the corpus-wide 60-bit md5 prefix
    * convention (cross-engine, same as minhash's base hash); slot =
    * h mod dim, sign = bit 8 of h.
    *
    * Output is LONG format (idCol, slot, val) — zero slots are absent,
    * and the (id, slot) aggregation combines map-side so the shuffle
    * carries ≤ dim rows per document regardless of document length.
    * Zero-token documents emit no rows. */
  def featureHash(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, dim: Int = 16): org.apache.spark.sql.DataFrame = {
    val h = expr(
      "CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT)")
    df.select(col(idCol), explode(wordTokens(textCol)).as("t"))
      .select(col(idCol), pmod(h, lit(dim)).as("slot"),
        (pmod(shiftright(h, 8), lit(2)) * 2 - 1).as("sgn"))
      .groupBy(col(idCol), col("slot"))
      .agg(sum(col("sgn")).as("val"))
  }

  /** Tiny per-language stopword lists for the language-ID heuristic.
    * Deterministic and SQL-expressible; not a trained model. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it"),
    "de" -> Seq("der", "die", "und", "das", "nicht", "ist", "ein", "ich"),
    "es" -> Seq("el", "la", "de", "que", "los", "una", "por", "como"),
    "fr" -> Seq("le", "les", "des", "est", "dans", "pour", "une", "sur"),
    "pt" -> Seq("o", "os", "um", "uma", "para", "com", "nao", "mais"))

  private def hitCount(tokens: Column, words: Seq[String]): Column =
    size(array_intersect(tokens, array(words.map(lit): _*)))

  /** Language-ID: distinct-stopword hit count per language, argmax with
    * declaration-order preference on ties; 'und' when nothing matches. */
  def langId(t: String): Column = langId(col(t))
  def langId(c: Column): Column = {
    val toks = wordTokens(c)
    val scores = stopwords.map { case (lang, words) => lang -> hitCount(toks, words) }
    val best = scores.map(_._2).reduce(greatest(_, _))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Sliding token-window chunking — the prep step that turns documents
    * into training/RAG windows. Whitespace tokens, windows of `size`
    * tokens starting every `size − overlap` tokens; the last window may be
    * short but never lies fully inside its predecessor. One output row per
    * chunk: (id, chunk_id, n_tokens, chunk).
    *
    * Shape at 100 TB: pure narrow ops — split, sequence, posexplode,
    * slice, concat_ws — all codegen'd, no shuffle, no UDF; output
    * partitioning inherits the scan. */
  def chunk(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, size: Int, overlap: Int): org.apache.spark.sql.DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"need 0 <= overlap < size, got size=$size overlap=$overlap")
    val stride = size - overlap
    df.select(col(idCol).as("doc_id"),
        split(trim(col(textCol)), "\\s+").as("toks"))
      .filter(length(concat_ws("", col("toks"))) > 0)
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0),
          // nChunks − 1 = floor((max(1, n − overlap) − 1) / stride)
          floor((greatest(org.apache.spark.sql.functions.size(col("toks"))
            - overlap, lit(1)) - 1) / stride).cast("int"))))
      .select(col("doc_id"), col("pos").as("chunk_id"),
        org.apache.spark.sql.functions.size(
          slice(col("toks"), col("pos") * stride + 1, lit(size))).as("n_tokens"),
        concat_ws(" ", slice(col("toks"), col("pos") * stride + 1, lit(size)))
          .as("chunk"))
  }

  /** GPT-style sequence packing (concatenate-and-chunk): per `srcCol`
    * shard, documents concatenate in ascending `idCol` order and the token
    * stream is cut every `ctxLen` tokens; each document emits one row per
    * training sequence it overlaps, with its offset in the shard's stream.
    * Zero-token documents occupy no sequence and are dropped.
    *
    * Shape at 100 TB: the running offset is a PER-SHARD sort-based window
    * over (ntok) longs — packing is embarrassingly parallel across shards,
    * exactly how production packers run; a single global order would
    * funnel one task, so there deliberately isn't one. The explode emits
    * ⌈ntok/ctxLen⌉ + 1 rows per doc at most. Output:
    * (source, seq_id, doc_id, start_tok, ntok).
    *
    * The default shard key is `srcCol` alone, which caps window
    * parallelism at SOURCE CARDINALITY — a 3-source 100 TB corpus would
    * funnel through 3 sort tasks. `subShards > 1` lifts that ceiling with
    * a composite key (source, hash(doc_id) mod subShards): each sub-shard
    * packs its own independent token stream (sequences never span
    * sub-shards), and the output gains a `sub_shard` column so sequence
    * ids stay interpretable per (source, sub_shard). */
  def packSequences(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, ctxLen: Int, srcCol: String = "source",
      subShards: Int = 1,
      orderCol: Option[String] = None): org.apache.spark.sql.DataFrame = {
    require(ctxLen > 0, s"ctxLen must be positive, got $ctxLen")
    require(subShards > 0, s"subShards must be positive, got $subShards")
    // `orderCol` overrides the in-shard concatenation order (ascending
    // doc id by default; the id stays the tiebreak) — the hook
    // [[graft.pipeline.CorpusCuration.trainingMix]] uses to pack in
    // [[Sampling.shuffleShards]]' content-shuffled order
    val cols = Seq(col(srcCol).as("source"), col(idCol).as("doc_id")) ++
      orderCol.map(o => col(o).as("_ord")) :+
      tokenCount(textCol).cast("long").as("ntok")
    val base = df.select(cols: _*)
    val (sharded, shardCols) =
      if (subShards == 1) (base, Seq(col("source")))
      else (base.withColumn("sub_shard",
        pmod(hash(col("doc_id")), lit(subShards))),
        Seq(col("source"), col("sub_shard")))
    val ordering = orderCol.map(_ => col("_ord")).toSeq :+ col("doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(shardCols: _*).orderBy(ordering: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val packed = sharded
      .filter(col("ntok") > 0)
      .withColumn("start_tok", coalesce(sum(col("ntok")).over(w), lit(0L)))
      // integral DIV (not fp /): exact past 2^53 tokens per shard
      .withColumn("seq_id", explode(sequence(
        expr(s"start_tok div $ctxLen"),
        expr(s"(start_tok + ntok - 1) div $ctxLen"))))
    if (subShards == 1)
      packed.select("source", "seq_id", "doc_id", "start_tok", "ntok")
    else
      packed.select("source", "sub_shard", "seq_id", "doc_id", "start_tok", "ntok")
  }

  /** One output row of [[packSequencesStream]] (and of
    * [[packSequences]] in its default shape). */
  case class PackedDoc(source: String, seq_id: Long, doc_id: Long,
    start_tok: Long, ntok: Long)

  /** Streaming twin of [[packSequences]]: the per-shard running token
    * offset lives in keyed state (ONE long per shard —
    * `flatMapGroupsWithState`, no timeout, state bounded by shard
    * cardinality), so sequences keep packing seamlessly across
    * micro-batches — the shape an always-on ingest-to-training pipeline
    * needs. Within a micro-batch a shard's documents pack in ascending
    * `idCol` order (deterministic); across batches, arrival order rules —
    * a single AvailableNow batch is therefore exactly [[packSequences]],
    * which the suite pins. `srcCol` is cast to string (the state key);
    * append output mode. */
  def packSequencesStream(df: org.apache.spark.sql.DataFrame,
      textCol: String, idCol: String, ctxLen: Int,
      srcCol: String = "source"): org.apache.spark.sql.DataFrame = {
    require(ctxLen > 0, s"ctxLen must be positive, got $ctxLen")
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(srcCol).cast("string").as("source"),
        col(idCol).cast("long").as("doc_id"),
        tokenCount(textCol).cast("long").as("ntok"))
      .filter(col("ntok") > 0)
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, PackedDoc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (src, docs, state) =>
          var off = state.getOption.getOrElse(0L)
          val out = docs.toVector.sortBy(_._2).flatMap { case (_, id, ntok) =>
            val start = off
            off += ntok
            (start / ctxLen to (start + ntok - 1) / ctxLen).map(seq =>
              PackedDoc(src, seq, id, start, ntok))
          }
          state.update(off)
          out.iterator
      }
      .toDF()
  }

  /** PII redaction for corpus curation: e-mail addresses and phone-shaped
    * digit runs replaced with type tags, plus match counts for audit.
    * Patterns are deliberately simple-dialect — character classes and
    * bounded repeats only, NO backslash escapes (`[.]` instead of `\.`) —
    * so the identical regex text means the same thing in Java regex and
    * RE2, and survives Spark SQL string-literal escape processing when
    * spliced into `expr(...)`. Cross-engine oracle-safe. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
  val PhoneRe = "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"

  /** (pattern, tag) pairs applied in order — the single source for both
    * the Column API and the `redact_pii` SQL registration. */
  val PiiPatterns: Seq[(String, String)] =
    Seq(EmailRe -> "<EMAIL>", PhoneRe -> "<PHONE>")

  def redactPii(t: String): Column =
    PiiPatterns.foldLeft(col(t)) { case (c, (re, tag)) =>
      regexp_replace(c, re, tag)
    }

  def piiCounts(t: String): (Column, Column) = (
    size(expr(s"regexp_extract_all($t, '$EmailRe', 0)")),
    size(expr(s"regexp_extract_all($t, '$PhoneRe', 0)")))

  /** Corpus text normalization: lowercase, every non-alphanumeric run →
    * one space, trim — the canonical form fed to tokenizers/hashers so
    * "Hello,  World!" and "hello world" dedup together. Escape-free regex
    * (same cross-engine dialect discipline as [[PiiPatterns]]); pure
    * codegen narrow op, zero shuffle. */
  def normalize(t: String): Column = normalize(col(t))
  def normalize(c: Column): Column =
    trim(regexp_replace(lower(c), "[^a-z0-9]+", " "))

  // ---- Gopher-style quality signals (Rae et al. 2021, arXiv:2112.11446
  // §A1.1): the mechanical per-document filters production pipelines
  // threshold on. All rational arithmetic over codegen'd regex/array ops
  // (one HOF filter in alphaWordFraction) — cross-engine exact.

  /** Mean alphanumeric word length: total alnum chars / word-token count
    * (0 for token-free text). */
  def meanWordLength(c: Column): Column = {
    val n = size(wordTokens(c)).cast("double")
    val chars = length(regexp_replace(lower(c), "[^a-z0-9]+", "")).cast("double")
    when(n > 0, chars / n).otherwise(0.0)
  }

  /** Symbol characters per whitespace word (Gopher's symbol-to-word
    * ratio generalized to all non-alnum-non-space chars). */
  def symbolWordRatio(c: Column): Column = {
    val words = tokenCount(c).cast("double")
    val symbols = (length(c) -
      length(regexp_replace(c, "[^A-Za-z0-9\\s]", ""))).cast("double")
    when(words > 0, symbols / words).otherwise(0.0)
  }

  /** Fraction of whitespace words containing at least one letter. */
  def alphaWordFraction(c: Column): Column = {
    val words = tokenCount(c).cast("double")
    val alpha = size(filter(split(trim(c), "\\s+"),
      t => t.rlike("[A-Za-z]"))).cast("double")
    when(words > 0, alpha / words).otherwise(0.0)
  }

  /** Duplicate word-n-gram fraction: 1 − distinct/total n-grams — the
    * Gopher repetition signal (high ⇒ boilerplate/looping text). Uses the
    * [[graft.functions.HashedShingles]] kernel's distinct count (60-bit
    * hashes: collision odds are negligible against the exact oracle). */
  def dupShingleFraction(c: Column, n: Int = 3): Column = {
    val toks = size(wordTokens(c))
    val total = (toks - (n - 1)).cast("double")
    val distinctN = size(graft.functions.HashedShingles.column(c, n)).cast("double")
    when(toks >= n, lit(1.0) - distinctN / total).otherwise(0.0)
  }

  /** Quality score ∈ [0,1]: rational-arithmetic blend of length, non-punct
    * ratio, and stopword density (no transcendentals — cross-engine exact). */
  def qualityScore(t: String): Column = qualityScore(col(t))
  def qualityScore(c: Column): Column = {
    val nChars = length(c).cast("double")
    val wc = tokenCount(c).cast("double")
    val nonPunct = length(regexp_replace(c, "[^A-Za-z0-9\\s]", "")).cast("double")
    val punctRatio = when(nChars > 0, (nChars - nonPunct) / nChars).otherwise(0.0)
    val stopRatio = when(wc > 0,
      hitCount(wordTokens(c), stopwords.head._2).cast("double") / wc).otherwise(0.0)
    lit(0.3) * least(wc / 100.0, lit(1.0)) +
      lit(0.4) * (lit(1.0) - punctRatio) +
      lit(0.3) * least(stopRatio * 5.0, lit(1.0))
  }

  /** Fraction of duplicated non-blank LINES within a document — the
    * Gopher repetition filter (Rae et al. 2021 §A1.1) a level above
    * [[dupShingleFraction]]'s n-grams: 1 − distinct/total over
    * space-trimmed, non-empty lines; 0 for line-free text. Pure narrow
    * array ops, no shuffle. */
  def dupLineFraction(c: Column): Column = repeatedFraction(split(c, "\n"))

  /** Fraction of duplicated non-blank PARAGRAPHS (runs split on 2+
    * newlines) — same recipe one level up. */
  def dupParaFraction(c: Column): Column =
    repeatedFraction(split(c, "\n{2,}"))

  private def repeatedFraction(parts: Column): Column = {
    val t = filter(transform(parts, p => trim(p)), p => length(p) > 0)
    when(size(t) > 0,
      lit(1.0) - size(array_distinct(t)).cast("double") / size(t).cast("double"))
      .otherwise(0.0)
  }

  /** Quality-ranked corpus selection under a per-source token budget —
    * the data-mixing step that caps each domain's contribution: within
    * every `srcCol` shard, documents rank by quality (6-dp rounded
    * [[qualityScore]] by default, or a caller-supplied column) descending
    * with `idCol` as the tiebreak, and survive while the running token
    * total stays within `budget`. Documents are atomic — one that would
    * cross the budget is dropped (with everything ranked below it), never
    * truncated; zero-token documents are dropped outright.
    *
    * Output: (source, doc_id, ntok, quality, cum_tok), cum_tok ≤ budget.
    *
    * Shape at 100 TB: one sort-based window per source — the same
    * per-shard parallelism ceiling as [[packSequences]], and here it is
    * semantic (the budget is per source, so the ranked scan must be
    * global within one): sources select independently in parallel, and a
    * finer budget unit wants a finer `srcCol`. */
  def selectByTokenBudget(df: org.apache.spark.sql.DataFrame,
      textCol: String, idCol: String, budget: Long,
      srcCol: String = "source",
      qualityCol: Option[String] = None): org.apache.spark.sql.DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val q = qualityCol.map(col).getOrElse(round(qualityScore(textCol), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.select(col(srcCol).as("source"), col(idCol).as("doc_id"),
        tokenCount(textCol).cast("long").as("ntok"), q.as("quality"))
      .filter(col("ntok") > 0)
      .withColumn("cum_tok", sum(col("ntok")).over(w))
      .filter(col("cum_tok") <= budget)
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): score
    * every document with the corpus-trained bigram LM ([[lmScore]]) and
    * split the corpus into head/middle/tail terciles of the nll
    * distribution — the standard pre-training recipe keeps head (and
    * often middle) and drops the gibberish tail.
    *
    * Buckets come from VALUE thresholds (the exact 1/3 and 2/3
    * percentiles of nll), not from a global rank: classification is then
    * a narrow broadcast-compare, with no single-task global window. The
    * threshold aggregate itself is 1 output row; at 100 TB swap the
    * exact percentile for `approx_percentile` (same plan shape) or
    * train thresholds on a sample, as CCNet does. The scored subtree
    * feeds both the thresholds and the output — its corpus-scale
    * shuffle is computed once and reused (ReuseExchange), only the
    * post-aggregate tail runs twice.
    *
    * Output: (idCol, n_bigrams, nll, bucket); docs with <2 tokens have
    * no bigrams and are absent, like [[lmScore]]. */
  def pplBuckets(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, addK: Double = 1.0): org.apache.spark.sql.DataFrame = {
    val scored = lmScore(df, idCol, textCol, addK)
    val thr = scored.agg(percentile(col("nll"),
        array(lit(1.0 / 3), lit(2.0 / 3))).as("t"))
      .select(element_at(col("t"), 1).as("t1"),
        element_at(col("t"), 2).as("t2"))
    scored.crossJoin(broadcast(thr))
      .withColumn("bucket",
        when(col("nll") <= col("t1"), lit("head"))
          .when(col("nll") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")))
      .select(col(idCol), col("n_bigrams"), col("nll"), col("bucket"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every candidate
    * (non-target) document by how much more likely its hashed n-gram
    * features are under the target distribution than under the raw pool
    * — log w(x) = Σ_f [ln p̂_tgt(slot(f)) − ln p̂_raw(slot(f))] over the
    * document's unigram + bigram occurrences, with add-1 smoothing over
    * `buckets` hashed slots. High-logw documents look like the target
    * corpus; resample by logw (+ Gumbel noise, caller-side) to tilt the
    * mixture.
    *
    * Feature hash = the corpus-wide 60-bit md5 prefix convention
    * (cross-engine, same as [[featureHash]]); slot = h mod buckets.
    *
    * Shape at 100 TB: two corpus passes, both shuffle-light — (1) the
    * slot-rate table aggregates target and raw counts in ONE map-side
    * combined groupBy over `buckets` keys (output ≤ buckets rows,
    * broadcast back with the two totals riding a 1-row cross join); (2)
    * per-doc (id, slot) counts combine map-side to ≤ buckets rows per
    * document before joining the broadcast rate table. No global sort,
    * no driver data path.
    *
    * Output: (idCol, n_feats, logw) for candidate documents with ≥1
    * token, logw rounded at 6 dp, higher = more target-like. */
  def dsirWeights(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, isTarget: Column,
      buckets: Int = 64): org.apache.spark.sql.DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    // one kernel scan per document replaces the uni/bi explode-union of
    // feature STRINGS + interpreted md5/conv/pmod per feature — slots are
    // computed before the explode, so only ints flow through the plan
    // (bit-identical; pinned by KernelSuite)
    val feats = df.select(col(idCol).as("doc_id"), isTarget.as("tgt"),
      explode(graft.functions.DsirSlots.column(col(textCol), buckets))
        .as("slot"))
    val rates = feats.groupBy(col("slot"))
      .agg(sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"),
        sum(when(!col("tgt"), 1L).otherwise(0L)).as("cr"))
    val totals = rates.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    val lr = rates.crossJoin(broadcast(totals))
      .select(col("slot"),
        (log(col("ct") + 1.0) - log(col("nt") + lit(buckets.toDouble))
          - log(col("cr") + 1.0)
          + log(col("nr") + lit(buckets.toDouble))).as("lr"))
    feats.filter(!col("tgt"))
      .groupBy(col("doc_id"), col("slot"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(lr), Seq("slot"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_feats"),
        round(sum(col("n") * col("lr")), 6).as("logw"))
      .withColumnRenamed("doc_id", idCol)
  }

  /** DSIR selection (Xie et al. 2023 §3, Gumbel top-k): sample the `k`
    * most target-like candidate documents WITHOUT replacement from the
    * importance distribution — equivalent to drawing by softmax(logw) —
    * by perturbing each [[dsirWeights]] score with deterministic Gumbel
    * noise g = −ln(−ln u) and keeping the k largest logw + g. The noise
    * is keyed on (salt, id) through the corpus-wide md5 convention, so
    * the draw is reproducible across runs, engines, and layouts.
    *
    * Shape at 100 TB: the perturbation is a narrow map over the weight
    * table; top-k is Spark's TakeOrdered (per-partition k, driver merges
    * k per partition) — no global sort. Ties break on id.
    *
    * Output: (idCol, logw, key), the k selected rows, key descending. */
  def dsirSelect(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, isTarget: Column, k: Int,
      buckets: Int = 64, salt: String = "dsir"):
      org.apache.spark.sql.DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val h = expr(s"CAST(conv(substring(md5(concat('$salt', " +
      s"CAST(`$idCol` AS STRING))), 1, 15), 16, 10) AS BIGINT)")
    val u = (pmod(h, lit(1048576L)).cast("double") + 0.5) / 1048576.0
    dsirWeights(df, idCol, textCol, isTarget, buckets)
      .withColumn("key", round(col("logw") - log(-log(u)), 6))
      .orderBy(col("key").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("logw"), col("key"))
  }

  /** Corpus datasheet: the per-source summary a dataset card reports
    * before training — document and token volume, exact-duplicate ratio,
    * length percentiles, and language spread.
    *
    * Shape at 100 TB: ONE groupBy(source) pass; the md5-distinct count
    * expands once (Spark's single-distinct rewrite), the exact
    * percentiles carry a value→count map whose cardinality is bounded by
    * distinct document lengths (swap for `approx_percentile` /
    * `approx_count_distinct` when even that is too wide). No driver data
    * path; output is one row per source.
    *
    * Output: (source, n_docs, n_tokens, mean_tokens, dup_ratio,
    * p50_chars, p90_chars, n_langs), ratios at 6 dp. */
  def corpusReport(df: org.apache.spark.sql.DataFrame,
      srcCol: String = "source", textCol: String = "text",
      langCol: String = "lang"): org.apache.spark.sql.DataFrame =
    df.select(col(srcCol).as("source"),
        tokenCount(textCol).cast("long").as("ntok"),
        length(col(textCol)).cast("double").as("nch"),
        md5(col(textCol).cast("binary")).as("dig"), col(langCol).as("lang"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("n_tokens"),
        round(avg(col("ntok")), 6).as("mean_tokens"),
        round(lit(1.0) - count_distinct(col("dig")) /
          count(lit(1)).cast("double"), 6).as("dup_ratio"),
        percentile(col("nch"), lit(0.5)).as("p50_chars"),
        percentile(col("nch"), lit(0.9)).as("p90_chars"),
        count_distinct(col("lang")).as("n_langs"))

  /** Document NOVELTY score: the fraction of a document's distinct word
    * n-gram shingles that appear NOWHERE else in the corpus — high for
    * original content, low for templated/boilerplate/near-duplicated text.
    * The aggregate complement of pairwise dedup: no candidate pairs, just
    * "how much of this document is corpus-unique".
    *
    * Shape at 100 TB: one explode of 60-bit shingle HASHES (strings never
    * leave the document row), a shingle-count aggregation that collapses
    * map-side, and one hash-keyed join back — the same digest-only
    * shuffle discipline as line dedup. Output: (idCol, n_shingles,
    * novelty) with novelty at 6 dp. */
  def noveltyScore(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, n: Int = 3): org.apache.spark.sql.DataFrame = {
    val sh = df.select(col(idCol),
      explode(hashedShingles(textCol, n)).as("sh"))
    val counts = sh.groupBy(col("sh")).agg(count(lit(1)).as("c"))
    sh.join(counts, "sh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        round(sum(when(col("c") === 1, 1.0).otherwise(0.0)) /
          count(lit(1)), 6).as("novelty"))
  }

  /** Supervised QUALITY CLASSIFIER: multinomial Naive Bayes log-odds of a
    * binary "reference-like" label, trained on the corpus itself — the
    * GPT-3-recipe page filter (Brown et al. 2020, Appendix A: a classifier
    * trained to separate a curated reference slice from raw crawl, every
    * page scored, high scorers kept). Model: per-token weight
    * `ln((c⁺+1)/(T⁺+V)) − ln((c⁻+1)/(T⁻+V))` (add-one smoothing, V =
    * corpus vocabulary), document score = class-prior log-odds + Σ weight
    * over the document's tokens WITH multiplicity; `pred` = 1 iff the
    * 6 dp-rounded score is positive (the comparison runs on the rounded
    * value so it is engine-portable). Documents with no word tokens score
    * the prior alone.
    *
    * Shape at 100 TB: token counts collapse map-side to vocabulary size;
    * the totals pull is 3 longs; the weight table joins the token stream
    * on the token key with NO broadcast assumption (a web-scale vocabulary
    * is not driver-sized — AQE broadcasts iff the smoothed table fits);
    * everything else is narrow. Output: (idCol, n_tokens, score, pred). */
  def nbQualityScore(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, posCol: Column): org.apache.spark.sql.DataFrame =
    nbQualityScoreTokens(df.select(col(idCol),
      posCol.cast("boolean").as("pos"), wordTokens(textCol).as("toks")),
      idCol)

  /** [[nbQualityScore]] over a PRE-TOKENIZED `(idCol, pos, toks)` frame —
    * the classifier evaluates the token column three times (the count
    * pull, then both sides of the weight join), so a caller that pins the
    * tokenized projection pays the regex once; the
    * [[nbMulticlassTokens]] contract for the binary gate. */
  def nbQualityScoreTokens(docs: org.apache.spark.sql.DataFrame,
      idCol: String): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol), col("pos"),
      explode(col("toks")).as("tok"))
    val counts = toks.groupBy(col("tok")).agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("cp"),
      sum(when(!col("pos"), 1L).otherwise(0L)).as("cn"))
    val tot = counts.agg(sum(col("cp")), sum(col("cn")), count(lit(1))).first()
    val (tp, tn, v) = (tot.getLong(0), tot.getLong(1), tot.getLong(2))
    val nd = docs.agg(sum(when(col("pos"), 1L).otherwise(0L)),
      count(lit(1))).first()
    val (np, nn) = (nd.getLong(0), nd.getLong(1) - nd.getLong(0))
    require(np > 0 && nn > 0, "both label classes must be non-empty")
    val prior = math.log(np.toDouble / nn.toDouble)
    val w = counts.select(col("tok"),
      (log((col("cp") + 1L).cast("double") / lit((tp + v).toDouble)) -
        log((col("cn") + 1L).cast("double") / lit((tn + v).toDouble))).as("w"))
    val sums = toks.join(w, Seq("tok"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("sw"))
    docs.select(col(idCol))
      .join(sums, Seq(idCol), "left")
      .withColumn("score",
        round(lit(prior) + coalesce(col("sw"), lit(0.0)), 6))
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"), col("score"),
        when(col("score") > 0, 1).otherwise(0).as("pred"))
  }

  /** MULTICLASS multinomial Naive Bayes — the k-way generalization of
    * [[nbQualityScore]] (supervised language/domain/register classifier
    * trained on an existing labeled slice). Per class c:
    * `score_c = ln(n_c/N) + Σ_tok ln((cnt_{tok,c}+1)/(T_c+V))`, prediction
    * is the argmax. The per-token sum is algebraically split as
    * `Σ ln(cnt+1) − n_doc·ln(T_c+V)`: tokens UNSEEN in class c contribute
    * ln(0+1) = 0 to the first term, so only OBSERVED (token, class)
    * count rows ever join the token stream — no dense vocab×k table.
    *
    * Ties (and the argmax boundary) are decided on the 6 dp-rounded
    * score with the lexicographically-first class winning, so engines
    * agree at the boundary. Shape at 100 TB: one (class, token) count
    * aggregation (vocab·k rows, map-side combined), the token stream
    * joins it by token with NO broadcast assumption, and the per-doc
    * regroup carries k rows per document; the class table (k rows) is a
    * broadcast. */
  def nbMulticlass(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, labelCol: String): org.apache.spark.sql.DataFrame =
    nbMulticlassTokens(df.select(col(idCol), col(labelCol).as("cls"),
      wordTokens(textCol).as("toks")), idCol)

  /** [[nbMulticlass]] over a PRE-TOKENIZED `(idCol, cls, toks)` frame —
    * for callers that materialized `wordTokens` once (the score frame has
    * several consumers of the token column, so a shared-scan caller that
    * pins the projection pays the regex exactly once; the [[nbTrainTokens]]
    * shape). `cls`/`toks` are positional contract column names. */
  def nbMulticlassTokens(docs: org.apache.spark.sql.DataFrame,
      idCol: String): org.apache.spark.sql.DataFrame =
    nbArgmax(nbClassScored(docs, idCol), idCol)
      .select(col(idCol), col("n_tokens"), col("pred"), col("score"))

  /** The (score desc, cls asc) argmax over the per-(doc, class) score
    * frame as ONE aggregation: `min(struct(-score, cls, …))` orders by
    * -score asc ≡ score desc, then cls asc — exactly the row
    * `row_number() OVER (PARTITION BY id ORDER BY score DESC, cls)` = 1
    * selects (Spark's double ordering treats -0.0 == 0.0 on both paths,
    * and a NULL score is per-DOC here — n_tokens is a doc property — so
    * NULL placement can't differ across a doc's k rows). The window form
    * shuffled all n·k rows and sorted each partition; the aggregate
    * collapses k rows per doc map-side before the exchange and sorts
    * nothing (r15; property-pinned against the window form on random
    * score grids with forced ties). */
  private[ext] def nbArgmax(scored: org.apache.spark.sql.DataFrame,
      idCol: String): org.apache.spark.sql.DataFrame =
    scored
      .groupBy(col(idCol))
      .agg(min(struct((-col("score")).as("_ns"), col("cls"),
        col("n_tokens"))).as("_m"))
      .select(col(idCol), col("_m.n_tokens").as("n_tokens"),
        col("_m.cls").as("pred"), (-col("_m._ns")).as("score"))

  /** The per-(document, class) score frame [[nbMulticlass]] and
    * [[nbLabelIssues]] share: input is the `(idCol, cls, toks)`
    * projection, output is `(idCol, n_tokens, cls, score)` with the 6 dp
    * rounding both consumers cut on. V and N stay DISTRIBUTED (1-row
    * frames cross-joined into the k-row class table) — no eager driver
    * action inside the operator, so the whole classifier is one lazy
    * DAG. */
  private def nbClassScored(docs: org.apache.spark.sql.DataFrame,
      idCol: String): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol), explode(col("toks")).as("tok"))
    val counts = docs.select(col("cls"), explode(col("toks")).as("tok"))
      .groupBy(col("cls"), col("tok")).agg(count(lit(1)).as("cnt"))
    val vdf = counts.select(col("tok")).distinct()
      .agg(count(lit(1)).as("_v"))
    val ndf = docs.agg(count(lit(1)).as("_nt"))
    val classes = docs.groupBy(col("cls")).agg(count(lit(1)).as("ndc"))
      .join(counts.groupBy(col("cls")).agg(sum(col("cnt")).as("tc")),
        Seq("cls"), "left")
      .crossJoin(broadcast(vdf)).crossJoin(broadcast(ndf))
      .select(col("cls"),
        log(col("ndc").cast("double") / col("_nt").cast("double"))
          .as("prior"),
        log((coalesce(col("tc"), lit(0L)) + col("_v")).cast("double"))
          .as("lntc"))
    val s = toks.join(counts, Seq("tok"))
      .groupBy(col(idCol), col("cls"))
      .agg(sum(log((col("cnt") + lit(1L)).cast("double"))).as("s"))
    val perDoc = docs.select(col(idCol),
      size(col("toks")).cast("long").as("n_tokens"))
    perDoc.crossJoin(broadcast(classes))
      .join(s, Seq(idCol, "cls"), "left")
      .withColumn("score", round(
        col("prior") + coalesce(col("s"), lit(0.0)) -
          col("n_tokens").cast("double") * col("lntc"), 6))
  }

  /** LABEL-ISSUE MINING (confident-learning shape, Northcutt et al.):
    * rank rows whose OBSERVED label the k-way NB classifier most
    * confidently rejects — `margin = score(pred) − score(label)` with
    * pred ≠ label, largest first. The top of this list is what a human
    * audits first: at real corpus scale a percent of mislabeled rows is
    * normal and silently poisons both training and every eval slice.
    * Same score table as [[nbMulticlass]] (cross-validation-free NB
    * margins — the cheap first pass, not a calibrated CL estimate).
    *
    * Shape at 100 TB: the per-(doc, class) score frame is the corpus ×k
    * (k = label cardinality); the disagreement filter and top-`k` cut
    * run on it (TakeOrderedAndProject). Returns
    * (idCol, label, pred, margin) — top `topK` by (margin desc, id). */
  def nbLabelIssues(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, labelCol: String,
      topK: Int = 20): org.apache.spark.sql.DataFrame =
    nbLabelIssuesTokens(df.select(col(idCol), col(labelCol).as("cls"),
      wordTokens(textCol).as("toks")), idCol, topK)

  /** [[nbLabelIssues]] over a PRE-TOKENIZED `(idCol, cls, toks)` frame —
    * same shared-scan contract as [[nbMulticlassTokens]]. */
  def nbLabelIssuesTokens(docs: org.apache.spark.sql.DataFrame,
      idCol: String, topK: Int = 20): org.apache.spark.sql.DataFrame = {
    val scored = nbClassScored(docs, idCol)
    // same one-aggregation (score desc, cls asc) argmax as
    // [[nbMulticlassTokens]] — see [[nbArgmax]]
    val top = nbArgmax(scored, idCol)
      .select(col(idCol), col("pred"), col("score").as("_ps"))
    val own = scored
      .join(docs.select(col(idCol), col("cls")), Seq(idCol, "cls"))
      .select(col(idCol), col("cls").as("label"), col("score").as("_ls"))
    top.join(own, Seq(idCol))
      .filter(col("pred") =!= col("label"))
      .select(col(idCol), col("label"), col("pred"),
        round(col("_ps") - col("_ls"), 6).as("margin"))
      .orderBy(col("margin").desc, col(idCol).asc)
      .limit(topK)
  }

  /** Driver-held NB classifier model: vocabulary, per-token log-odds
    * weights (same formula as [[nbQualityScore]]), class-prior log-odds.
    * The serving twin of the distributed scorer — see [[nbScoreWith]]. */
  final case class NbModel(vocab: Array[String], weights: Array[Double],
    prior: Double)

  /** Train an [[NbModel]] on a labeled batch. The vocabulary pull is
    * driver-sized and CAPPED — training at full corpus scale stays in
    * [[nbQualityScore]]'s join shape (no cap); this path exists to hand a
    * trained model to ingest-time scoring. A vocabulary above `maxVocab`
    * fails LOUDLY rather than silently truncating (a clipped vocabulary
    * would silently shift every score). */
  def nbTrain(df: org.apache.spark.sql.DataFrame, textCol: String,
      posCol: Column, maxVocab: Int = 2000000): NbModel =
    nbTrainTokens(df, wordTokens(textCol), posCol, maxVocab)

  /** [[nbTrain]] over a PRE-TOKENIZED column — for callers that already
    * materialized `wordTokens` once (a shared-scan pipeline computing
    * several signals from the same token array pays the regex exactly
    * once; the q150/q157 agreement audits' shape). */
  def nbTrainTokens(df: org.apache.spark.sql.DataFrame, toksCol: Column,
      posCol: Column, maxVocab: Int = 2000000): NbModel = {
    val docs = df.select(posCol.cast("boolean").as("pos"),
      toksCol.as("toks"))
    val toks = docs.select(col("pos"), explode(col("toks")).as("tok"))
    val counts = toks.groupBy(col("tok")).agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("cp"),
      sum(when(!col("pos"), 1L).otherwise(0L)).as("cn"))
    val tot = counts.agg(sum(col("cp")), sum(col("cn")), count(lit(1))).first()
    val (tp, tn, v) = (tot.getLong(0), tot.getLong(1), tot.getLong(2))
    require(v <= maxVocab,
      s"nbTrain vocabulary $v exceeds maxVocab=$maxVocab — score with " +
        "nbQualityScore's join shape instead of a driver-held model")
    val nd = docs.agg(sum(when(col("pos"), 1L).otherwise(0L)),
      count(lit(1))).first()
    val (np, nn) = (nd.getLong(0), nd.getLong(1) - nd.getLong(0))
    require(np > 0 && nn > 0, "both label classes must be non-empty")
    val rows = counts.collect()
    val vocab = new Array[String](rows.length)
    val w = new Array[Double](rows.length)
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      vocab(i) = r.getString(0)
      // the exact per-token formula nbQualityScore evaluates in codegen
      // (Math.log over the same IEEE divisions), so the two shapes agree
      w(i) = math.log((r.getLong(1) + 1L).toDouble / (tp + v).toDouble) -
        math.log((r.getLong(2) + 1L).toDouble / (tn + v).toDouble)
      i += 1
    }
    NbModel(vocab, w, math.log(np.toDouble / nn.toDouble))
  }

  /** The [[NbModel]] score as a bare COLUMN (6 dp-rounded, same value as
    * [[nbScoreWith]]'s `score`) — for inline narrow gates in composed
    * pipelines, batch or streaming. */
  def nbScore(model: NbModel, textCol: String): Column =
    nbScoreTokens(model, wordTokens(textCol))

  /** [[nbScore]] over a PRE-TOKENIZED column (same 6 dp-rounded value) —
    * the serving half of the [[nbTrainTokens]] shared-scan shape. */
  def nbScoreTokens(model: NbModel, toksCol: Column): Column =
    round(lit(model.prior) + graft.functions.TokenWeightSum.column(
      toksCol, model.vocab.zip(model.weights)), 6)

  /** Score rows against a pre-trained [[NbModel]]: one narrow codegen
    * lookup-sum per row ([[graft.functions.TokenWeightSum]]) — no join,
    * no shuffle, so `data` may be a STREAMING DataFrame (ingest-time
    * quality gating against a batch-trained classifier, the standard
    * deploy shape). On the training corpus itself this equals
    * [[nbQualityScore]] (pinned in Round8OpsSuite); on NEW data the two
    * differ only in bookkeeping: unseen tokens weigh 0 here and n_tokens
    * counts ALL tokens, while the join shape would drop unseen tokens
    * from both. Output: (idCol, n_tokens, score, pred). */
  def nbScoreWith(data: org.apache.spark.sql.DataFrame, model: NbModel,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame =
    data.select(col(idCol), wordTokens(textCol).as("_toks"))
      .select(col(idCol), size(col("_toks")).cast("long").as("n_tokens"),
        round(lit(model.prior) + graft.functions.TokenWeightSum.column(
          col("_toks"), model.vocab.zip(model.weights)), 6).as("score"))
      .withColumn("pred", when(col("score") > 0, 1).otherwise(0))

  /** Lexical DIVERSITY report per corpus slice: how much of a slice's
    * shingle mass is distinct. `sh_total` counts per-document distinct
    * shingles (so within-document repetition doesn't inflate the base);
    * `diversity = sh_distinct / sh_total` is the cross-document
    * distinct-n ratio — 1.0 when every document contributes fresh
    * n-grams, → 0 as the slice converges on shared boilerplate. The
    * slice-level companion of [[noveltyScore]] (which scores documents).
    *
    * Shape at 100 TB: shingle HASHES explode (strings stay in the row),
    * then one partial-aggregated count + count-distinct per group —
    * a digest-only shuffle keyed by (group, hash). The ratio is emitted
    * as the raw IEEE quotient (bit-identical in any engine), not
    * rounded: integer ratios can land exactly on decimal half-boundaries
    * where engines' rounding of the same double disagrees. */
  def diversityReport(df: org.apache.spark.sql.DataFrame, groupCol: String,
      textCol: String, n: Int = 3,
      approx: Boolean = false): org.apache.spark.sql.DataFrame = {
    val sh = df.select(col(groupCol),
      explode(hashedShingles(textCol, n)).as("sh"))
    // exact distinct carries the slice's full shingle-hash set through
    // the aggregation — vocabulary-sized state at 100 TB. approx = true
    // swaps in HLL++ (bounded sketch state, ~2% default error), the same
    // exact→sketch switch the breakdown engine's nunique/anunique makes
    val distinctAgg =
      if (approx) approx_count_distinct(col("sh")).as("sh_distinct")
      else count_distinct(col("sh")).as("sh_distinct")
    val agg = sh.groupBy(col(groupCol))
      .agg(count(lit(1)).as("sh_total"), distinctAgg)
    val docs = df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_docs"))
    docs.join(agg, Seq(groupCol))
      .withColumn("diversity", col("sh_distinct") / col("sh_total"))
      .select(col(groupCol), col("n_docs"), col("sh_total"),
        col("sh_distinct"), col("diversity"))
  }

  /** Tokenizer FERTILITY audit: characters per BPE token for each corpus
    * slice, under the corpus-trained merge schedule from [[bpeEncode]].
    * The standard tokenizer-fit metric — a language whose fertility is
    * far above the corpus mean is being shattered into char-level pieces
    * (its data is under-represented in the merge training), which inflates
    * its effective sequence length and training cost.
    *
    * Documents with no word tokens (e.g. scripts outside the tokenizer's
    * alphabet) carry no token count and are excluded, same as
    * [[bpeEncode]]'s output. Fertility is the raw IEEE quotient of two
    * exact long sums — engine-portable unrounded. */
  def tokenizerFertility(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, groupCol: String, charsCol: String,
      numMerges: Int): org.apache.spark.sql.DataFrame = {
    val enc = bpeEncode(df, idCol, textCol, numMerges)
    df.select(col(idCol), col(groupCol), col(charsCol))
      .join(enc, Seq(idCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(charsCol)).as("n_chars"),
        sum(col("n_tokens")).as("n_tokens"))
      .withColumn("fertility", col("n_chars") / col("n_tokens"))
  }

  /** EXACT top-`k` most frequent word tokens, computed without a
    * vocabulary-sized shuffle.
    *
    * A plain `explode → groupBy(token) → orderBy(count)` hash-partitions
    * the full VOCABULARY — hundreds of millions of distinct keys on a
    * web-scale corpus, a shuffle whose size has nothing to do with the
    * answer (k rows). This runs two linear passes instead:
    *
    *  1. one [[graft.agg.MisraGriesAgg]] summary over the token stream —
    *     partial per-partition bounded maps, one merge of `capacity`-sized
    *     sketches to the driver, NO token shuffle. The sketch's retained
    *     set provably contains every token with frequency > n/(capacity+1);
    *  2. an exact recount of ONLY the retained candidates: a narrow
    *     `InSet` filter (≤ capacity strings broadcast with the plan), then
    *     a groupBy whose key space is ≤ capacity — the map-side partial
    *     aggregation collapses everything before the (tiny) shuffle.
    *
    * The result is EXACT (counts come from the recount, not the sketch)
    * whenever the k-th true frequency exceeds n/(capacity+1) — with the
    * default capacity=4096 that means "the 20th most common word appears
    * in more than 0.02% of tokens", comfortably true of natural-language
    * corpora at any scale (Zipf); size capacity ≥ n/f_k when in doubt.
    * Ties break lexicographically. Output: (token, cnt), count-desc. */
  def heavyHitters(df: org.apache.spark.sql.DataFrame, textCol: String,
      k: Int, capacity: Int = 4096): org.apache.spark.sql.DataFrame = {
    require(k > 0 && capacity >= k, s"need capacity >= k > 0, got k=$k capacity=$capacity")
    val toks = df.select(explode(wordTokens(textCol)).as("token"))
    val candidates = toks
      .agg(graft.agg.MisraGriesAgg(col("token"), capacity).as("cand"))
      .head().getSeq[String](0)
    toks.filter(col("token").isInCollection(candidates))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(k)
  }

  /** BM25 KEYWORD RETRIEVAL (Robertson–Spärck Jones, the Lucene-form
    * idf): rank documents against a text query by
    * `Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))` with
    * `idf = ln(1 + (N−df+0.5)/(df+0.5))` — the sparse complement to the
    * vector-search stack (exact term match, no embedding model, the
    * baseline every retrieval benchmark starts from). Results order by
    * (6 dp-rounded score desc, id) and cut at `topN` via
    * TakeOrderedAndProject — no global sort.
    *
    * Shape at 100 TB: the token explode filters to QUERY terms before
    * any shuffle (a handful of tokens per doc survive, not the doc); the
    * df/N/avgdl statistics are |query|-row and 1-row broadcast frames
    * (one lazy DAG, no driver actions); candidate volume is
    * docs-containing-a-query-term. For many-query workloads, invert
    * once and join — this is the single-query serving shape. */
  def bm25(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, query: String, k1: Double = 1.2, b: Double = 0.75,
      topN: Int = 10): org.apache.spark.sql.DataFrame = scoped { sc =>
    val qTerms = "[a-z0-9]+".r.findAllIn(query.toLowerCase).toSeq.distinct
    require(qTerms.nonEmpty, s"query '$query' has no terms")
    // pin the tokenized projection ONCE (r15, the raterBase lesson):
    // three consumers (the corpus stats pull and the tf/dft branches of
    // `hits`) re-ran the wordTokens regex three times; the pinned rows
    // are (id, toks, dl) — the same bytes-per-row the shared-scan bases
    // hold — and release after the bounded topN result materializes
    val docs = sc.pin(df.select(col(idCol), wordTokens(textCol).as("toks"))
      .withColumn("dl", size(col("toks")).cast("double")))
    val stats = docs.agg(count(lit(1)).cast("double").as("_n"),
      avg(col("dl")).as("_avgdl"))
    val hits = docs
      .select(col(idCol), col("dl"), explode(col("toks")).as("tok"))
      .filter(col("tok").isInCollection(qTerms))
    val tf = hits.groupBy(col(idCol), col("dl"), col("tok"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dft = hits.select(col(idCol), col("tok")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).cast("double").as("_df"))
    tf.join(broadcast(dft), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("_idf",
        log(lit(1.0) + (col("_n") - col("_df") + lit(0.5)) /
          (col("_df") + lit(0.5))))
      .withColumn("_s", col("_idf") * (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) *
          (lit(1.0 - b) + lit(b) * col("dl") / col("_avgdl"))))
      .groupBy(col(idCol))
      .agg(round(sum(col("_s")), 6).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(topN)
  }

  /** PMI COLLOCATIONS — corpus phrase mining: every adjacent word bigram
    * occurring at least `minCount` times, scored by pointwise mutual
    * information ln(P(w1w2) / (P(w1)·P(w2))) with P over token (T1) and
    * bigram (T2) totals. High-PMI bigrams are the multiword units a
    * tokenizer/vocabulary should treat atomically, and the phrase-level
    * complement of the unigram [[heavyHitters]] report.
    *
    * Numerics: the PMI argument is formed as the exact-integer product
    * ratio (c12·T1·T1) / (T2·c1·c2) — exact under 2⁵³ — so both engines
    * hand ln() the same double; the output rounds at 6 dp (ln itself may
    * differ by an ulp across libm implementations). Guard your corpus
    * size: T1² · max(c12) must stay below 2⁵³ for the exactness argument
    * (at ~10⁸ tokens switch to the log-sum form).
    *
    * Shape at 100 TB: one token explode with map-side combine into a
    * vocabulary-sized unigram table, one bigram explode likewise; the
    * unigram re-join runs on the BIGRAM-distinct table (vocab², but only
    * observed pairs ≥ minCount after the pre-filter), not the corpus.
    * Totals are single-row broadcasts. */
  def pmiCollocations(df: org.apache.spark.sql.DataFrame, textCol: String,
      minCount: Long = 5L): org.apache.spark.sql.DataFrame = {
    val toks = df.select(wordTokens(textCol).as("toks"))
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val bi = toks.filter(size(col("toks")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(toks) - 1),
           i -> struct(element_at(toks, i) AS w1,
                       element_at(toks, i + 1) AS w2))""")).as("b"))
      .select(col("b.w1"), col("b.w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    // totals as 1-row broadcast frames — no eager driver action, the
    // whole report is one lazy DAG (the nbMulticlass discipline)
    val t1df = uni.agg(sum(col("c")).cast("double").as("_t1"))
    val t2df = bi.agg(sum(col("c12")).cast("double").as("_t2"))
    bi.filter(col("c12") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(t1df)).crossJoin(broadcast(t2df))
      // multiply as doubles (exact below 2^53, and int64 products would
      // overflow-fault under ANSI long before the exactness bound)
      .withColumn("pmi", round(log(
        (col("c12").cast("double") * col("_t1") * col("_t1")) /
          (col("_t2") * col("c1").cast("double") * col("c2").cast("double"))), 6))
      .select("w1", "w2", "c12", "c1", "c2", "pmi")
  }

  /** CORPUS VOCABULARY DIVERGENCE: KL(A‖B), KL(B‖A) and Jensen–Shannon
    * divergence between the word-token distributions of two corpus
    * slices — the text analogue of PSI ([[Outliers]]): "how far has this
    * month's crawl drifted from the reference mix", or "how different are
    * two sources really". Laplace smoothing with `alpha` over the UNION
    * vocabulary keeps every log finite; JS is computed against the
    * half-sum mixture so it is symmetric and bounded by ln 2.
    *
    * Shape at 100 TB: each side's token explode collapses map-side to
    * vocabulary size; one full-outer hash join on the token key merges
    * the two vocab tables; the three totals (N_a, N_b, |V|) are a 1-row
    * broadcast; the final reduce is a single sum. Nothing corpus-sized
    * ever shuffles. Output: one row (n_a, n_b, vocab, kl_ab, kl_ba, js)
    * with divergences at 6 dp. */
  def vocabDivergence(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame, textCol: String,
      alpha: Double = 0.5): org.apache.spark.sql.DataFrame = {
    def vocab(df: org.apache.spark.sql.DataFrame, cn: String) =
      df.select(explode(wordTokens(textCol)).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as(cn))
    val merged = vocab(a, "ca").join(vocab(b, "cb"), Seq("tok"), "full_outer")
      .select(coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val totals = merged.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
      count(lit(1)).as("vocab"))
    val pa = (col("ca").cast("double") + lit(alpha)) /
      (col("n_a").cast("double") + lit(alpha) * col("vocab").cast("double"))
    val pb = (col("cb").cast("double") + lit(alpha)) /
      (col("n_b").cast("double") + lit(alpha) * col("vocab").cast("double"))
    merged.crossJoin(broadcast(totals))
      .select(col("n_a"), col("n_b"), col("vocab"),
        (pa * log(pa / pb)).as("t_ab"), (pb * log(pb / pa)).as("t_ba"),
        (pa * log(pa * 2.0 / (pa + pb)) / 2.0 +
          pb * log(pb * 2.0 / (pa + pb)) / 2.0).as("t_js"))
      .groupBy(col("n_a"), col("n_b"), col("vocab"))
      .agg(round(sum(col("t_ab")), 6).as("kl_ab"),
        round(sum(col("t_ba")), 6).as("kl_ba"),
        round(sum(col("t_js")), 6).as("js"))
  }

  /** [[vocabDivergence]] PER SLICE — "WHICH source's vocabulary moved vs
    * the rest": the text member of the by-slice drift views
    * ([[Outliers.psiDriftBy]] / [[graft.ext.Eval.ksTestBy]]), completing
    * the matrix pattern for the statistic COVERAGE sells as "PSI's text
    * analogue for crawl-drift auditing". ONE corpus pass: the token
    * explode collapses map-side to the (slice, token) count table
    * (pinned, [[graft.util.GridGuard]]-gated on BOTH axes — a vocabulary
    * is the cap risk a category column isn't); global per-token counts,
    * per-slice totals and the (N, |V|) totals all re-aggregate that
    * bounded pin, and the rest side derives as global − own (the house
    * by-slice derivation — slicing costs no second corpus pass). The
    * dense slice × global-token grid exists because own ∪ rest = corpus:
    * the pairwise member's union vocabulary is the GLOBAL vocabulary for
    * every slice, so each row is `vocabDivergence(own, rest)` with
    * identical smoothing — suite-pinned ≡ the member per slice at the
    * 6 dp grain. |slices| × |V| grid rows, fully distributed (counts,
    * not corpus rows; no single-partition stage anywhere).
    *
    * Returns one row per slice:
    * (groupCol, n_g, n_rest, vocab, kl_ab, kl_ba, js) — kl_ab =
    * KL(own‖rest); a single-slice corpus degrades to the member's
    * empty-rest smoothing (finite, no NULLs). */
  def vocabDivergenceBy(df: org.apache.spark.sql.DataFrame,
      groupCol: String, textCol: String,
      alpha: Double = 0.5): org.apache.spark.sql.DataFrame = scoped { sc =>
    val pg = sc.pin(df.select(col(groupCol).as("_g"),
        explode(wordTokens(textCol)).as("tok"))
      .filter(col("_g").isNotNull)
      .groupBy(col("_g"), col("tok")).agg(count(lit(1)).as("c")))
    graft.util.GridGuard.gateAxes(pg, "vocabDivergenceBy",
      s"$textCol tokens" -> "tok", groupCol -> "_g")
    val glob = pg.groupBy(col("tok")).agg(sum(col("c")).as("ct"))
    val slices = pg.groupBy(col("_g")).agg(sum(col("c")).as("n_g"))
    val tot = pg.agg(sum(col("c")).as("n"),
      count_distinct(col("tok")).as("vocab"))
    val grid = glob.crossJoin(broadcast(slices))
      .join(pg, Seq("_g", "tok"), "left")
      .na.fill(0L, Seq("c"))
      .crossJoin(broadcast(tot))
    val av = lit(alpha) * col("vocab").cast("double")
    val pa = (col("c").cast("double") + lit(alpha)) /
      (col("n_g").cast("double") + av)
    val pb = ((col("ct") - col("c")).cast("double") + lit(alpha)) /
      ((col("n") - col("n_g")).cast("double") + av)
    grid
      .select(col("_g"), col("n_g"), col("n"), col("vocab"),
        (pa * log(pa / pb)).as("t_ab"), (pb * log(pb / pa)).as("t_ba"),
        (pa * log(pa * 2.0 / (pa + pb)) / 2.0 +
          pb * log(pb * 2.0 / (pa + pb)) / 2.0).as("t_js"))
      .groupBy(col("_g"), col("n_g"), col("n"), col("vocab"))
      .agg(round(sum(col("t_ab")), 6).as("kl_ab"),
        round(sum(col("t_ba")), 6).as("kl_ba"),
        round(sum(col("t_js")), 6).as("js"))
      .select(col("_g").as(groupCol), col("n_g"),
        (col("n") - col("n_g")).as("n_rest"), col("vocab"),
        col("kl_ab"), col("kl_ba"), col("js"))
  }

  /** [[vocabDivergenceWindowed]]'s driver-held baseline from the
    * reference snapshot: the top-K tokens by count (count desc, token
    * asc — deterministic tiebreak, both engines replay it) with their
    * counts, plus the snapshot's TOTAL token count (so the serving
    * vocabulary's OOV cell carries the tail mass `total − Σ topK`). Run
    * once against the snapshot, hold on the driver / in the job config
    * — the [[Outliers.psiBaseline]] convention. */
  def vocabBaseline(df: org.apache.spark.sql.DataFrame, textCol: String,
      topK: Int = 200): (Map[String, Long], Long) = owning { sc =>
    require(topK > 0, "vocabBaseline: topK must be positive")
    val cnts = sc.pin(df.select(explode(wordTokens(textCol)).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c")))
    val top = cnts.orderBy(col("c").desc, col("tok"))
      .limit(topK).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = cnts.agg(sum(col("c"))).first() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    (top, total)
  }

  /** STREAMING-SHAPED [[vocabDivergence]]: each event-time window's
    * (and, when `slice` is given, each (window, slice) cell's) token
    * distribution vs a DRIVER-HELD baseline vocabulary (from
    * [[vocabBaseline]] on the reference snapshot) — the crawl-drift
    * monitor as a standing alarm ("when did this feed's vocabulary
    * move") instead of a batch audit, completing the text member's
    * windowed form in the drift matrix. ONE stateful windowed
    * aggregation ([[graft.agg.VocabDriftAgg]]): `update` projects each
    * token onto the baseline's top-K vocabulary (everything else folds
    * into one OOV cell), so per-cell state is hard-bounded at K+1
    * counters BY CONSTRUCTION regardless of event rate or vocabulary
    * growth — the Misra–Gries posture applied to drift state; the
    * watermark expires whole windows. Every slice compares against the
    * same driver-held baseline, not against the rest (the batch
    * [[vocabDivergenceBy]] is the rest-relative lens). The statistic is
    * the member's α-smoothed KL/JS arithmetic over the FIXED K+1 serving
    * categories (vocab = K+1 in the smoothing denominators) — the
    * projected statistic a bounded monitor can carry, NOT the full-vocab
    * batch number; for "which tokens moved" run the batch member on the
    * flagged window. Same plan batch or streaming (add `withWatermark`
    * upstream); stream ≡ batch, the arithmetic ≡ a local replay, and a
    * sliced cell ≡ the unsliced form on the slice substream are
    * suite-pinned.
    *
    * Returns (ws, [slice,] n_live, kl_ab, kl_ba, js) per cell — kl_ab =
    * KL(baseline‖window), 6 dp. */
  def vocabDivergenceWindowed(df: org.apache.spark.sql.DataFrame,
      tsCol: String, textCol: String, baseCounts: Map[String, Long],
      baseTotal: Long, alpha: Double = 0.5, windowDur: String = "1 day",
      slice: Option[String] = None): org.apache.spark.sql.DataFrame =
    Outliers.CellLens(Seq("_tok" -> explode(wordTokens(textCol))),
        _ => Seq(graft.agg.VocabDriftAgg.column(col("_tok"), baseCounts,
          baseTotal, alpha).as("_vd")),
        vocabFields)
      .cells(df, tsCol, windowDur, slice)

  private def vocabFields =
    Outliers.structFields("_vd", "n_live", "kl_ab", "kl_ba", "js")

  /** THE TEXT-FEED GATE AS ONE STATEFUL PASS — the
    * [[graft.ext.Outliers.driftReportWindowed]] fusion applied to a
    * DOCUMENT stream: per event-time window, quality-score KS drift
    * (any-shape) + rank-sum (location) + language-mix chi² + vocabulary
    * KL/JS, all four in a SINGLE windowed aggregation — one state store
    * / shuffle / watermark where four standing monitors over the same
    * crawl feed would cost four stateful operators. The quality score
    * ([[qualityScore]], 6 dp) and the token array are computed in the
    * stateless pre-projection, so the row grain stays one-per-document
    * for every member ([[graft.agg.VocabDriftAgg]] iterates the token
    * array inside its buffer update — no explode). Per-window state =
    * two GridGuard-capped per-value tables + one capped category table
    * + K+1 vocabulary counters. Each field ≡ the standalone windowed
    * member bit-for-bit (identical aggregate kernels — suite-pinned);
    * stream ≡ batch. Measured (`textgate_fusion_probe`, sf0.1): 2.3×
    * over the four monitors deployed separately at 1×, 2.2× at 16× —
    * the win is the shared scan + ONE quality-regex/tokenize pass
    * (standalone KS and rank-sum each score, the vocabulary monitor
    * re-tokenizes and explodes), stable across corpus growth.
    *
    * `any_drifted` fires on the three members with critical values
    * (KS / rank-sum / chi²); the vocabulary divergence has no
    * distribution-free cut at this smoothing, so its columns are
    * reported for trending/alerting against a caller-chosen bar, not
    * folded into the flag. Returns one wide row per window:
    * (ws, n_live, ks_d, ks_d_crit, ks_drifted, rs_u, rs_z, rs_drifted,
    * chi2_k, chi2, chi2_crit, chi2_drifted, vocab_n_tokens, vocab_kl_ab,
    * vocab_kl_ba, vocab_js, any_drifted). */
  def textGateWindowed(df: org.apache.spark.sql.DataFrame, tsCol: String,
      textCol: String, catCol: String, baseVals: Array[Double],
      baseCum: Array[Long], baseCats: Map[String, Long],
      vocabCounts: Map[String, Long], vocabTotal: Long,
      alpha: Double = 0.5,
      windowDur: String = "1 day"): org.apache.spark.sql.DataFrame = {
    require(baseVals.length == baseCum.length && baseVals.nonEmpty,
      "textGateWindowed: empty or misaligned ks baseline")
    require(baseCats.nonEmpty, "textGateWindowed: empty cat baseline")
    val q = round(qualityScore(textCol), 6)
    val ks = Eval.ksLens(q, baseVals, baseCum)
    val rs = Eval.rankSumLens(q, baseVals, baseCum)
    val chi = Outliers.chiSquareLens(catCol, baseCats)
    // one token ARRAY per document: the row grain the sibling kernels need
    val vocab = Outliers.CellLens(Seq("_toks" -> wordTokens(textCol)),
      _ => Seq(graft.agg.VocabDriftAgg.columnTokens(col("_toks"),
        vocabCounts, vocabTotal, alpha).as("_vd")),
      vocabFields)
    Outliers.windowedCells(df, tsCol, windowDur, None,
      Seq(ks, rs, chi, vocab),
      Outliers.gateFields(ks, rs, chi) ++ Seq(
        vocab("n_live").as("vocab_n_tokens"),
        vocab("kl_ab").as("vocab_kl_ab"), vocab("kl_ba").as("vocab_kl_ba"),
        vocab("js").as("vocab_js"),
        greatest(ks("drifted"), rs("drifted"), chi("drifted"))
          .as("any_drifted")))
  }

  /** PER-DOCUMENT TOKEN ENTROPY: Shannon entropy (nats) of the document's
    * own word-token distribution, plus the ln(distinct)-normalized form —
    * a repetition/diversity signal orthogonal to [[dupShingleFraction]]
    * (a spam page looping ten phrases has low entropy at high length).
    * Degenerates: no tokens → NULL entropy; a single distinct token → 0
    * entropy with NULL norm_entropy (ln 1 = 0 denominator).
    *
    * Shape at 100 TB: a pure per-row codegen'd expression — the token
    * histogram lives inside one higher-order-function chain (distinct ×
    * filter-count), so the operator is a shuffle-free map over the scan.
    * Output: (idCol, n_tokens, n_distinct, entropy, norm_entropy) at
    * 6 dp. */
  /** Column form of [[tokenEntropy]]'s entropy (6 dp, NULL for empty
    * docs) — the SQL-registration surface (`token_entropy(t)`); binds the
    * token array once through the single-element-transform trick. */
  def tokenEntropyCol(c: Column): Column =
    element_at(transform(array(wordTokens(c)), toks =>
      when(size(toks) === 0, lit(null).cast("double")).otherwise(
        round(aggregate(
          transform(array_distinct(toks),
            u => size(filter(toks, x => x === u))),
          lit(0.0),
          (h, cnt) => h - (cnt.cast("double") / size(toks)) *
            log(cnt.cast("double") / size(toks))), 6))), 1)

  def tokenEntropy(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(idCol),
        wordTokens(textCol).as("_toks"))
      .select(col(idCol), size(col("_toks")).as("n_tokens"),
        size(array_distinct(col("_toks"))).as("n_distinct"),
        expr("""aggregate(
            transform(array_distinct(_toks),
              u -> size(filter(_toks, x -> x = u))),
            CAST(0.0 AS DOUBLE),
            (h, c) -> h - (CAST(c AS DOUBLE) / size(_toks)) *
              ln(CAST(c AS DOUBLE) / size(_toks)))""").as("_h"))
      .select(col(idCol), col("n_tokens"), col("n_distinct"),
        when(col("n_tokens") > 0, round(col("_h"), 6)).as("entropy"),
        when(col("n_distinct") > 1,
          round(col("_h") / log(col("n_distinct").cast("double")), 6))
          .as("norm_entropy"))

  /** LOGISTIC-REGRESSION QUALITY CLASSIFIER trained by `iters` rounds of
    * full-batch gradient descent — the convex, calibrated complement to
    * the [[nbQualityScore]] Naive Bayes gate (fastText-style linear page
    * filters are this model over hashed features). Update rule per round:
    * w ← w + lr · mean((y − σ(w·x)) · x) over the whole corpus.
    *
    * Shape at 100 TB: the canonical distributed-GD loop — each iteration
    * is ONE corpus scan whose per-row gradient folds into a single
    * [[graft.agg.VectorMeanAgg]] (map-side partial buffers of d+1
    * doubles), then a d+1-double driver update re-broadcast as literals.
    * No per-row state, no shuffle beyond the aggregate's 1-row exchange;
    * iteration count is the only scan multiplier (cache the feature
    * projection upstream if iterating hard).
    *
    * Determinism: the dot product folds left over zip_with (the same
    * left-associated sum both engines write), so the only cross-engine
    * divergence is gradient-mean summation order — ~1e−15 relative per
    * round, amplified ≲2× per iteration at bounded features (keep
    * features in [0, 1]), far inside a 6 dp output grain. Returns the
    * bias-first weight vector (driver-side, like [[NbModel]]). */
  def logisticTrain(df: org.apache.spark.sql.DataFrame,
      featureCols: Seq[String], labelCol: String, iters: Int = 5,
      lr: Double = 0.5): Array[Double] = {
    val feats = df.select(
      array(lit(1.0) +: featureCols.map(c => col(c).cast("double")): _*)
        .as("x"),
      col(labelCol).cast("double").as("y"))
    var w = Array.fill(featureCols.size + 1)(0.0)
    for (_ <- 1 to iters) {
      val wCol = array(w.map(lit(_)).toIndexedSeq: _*)
      val dot = aggregate(zip_with(wCol, col("x"),
          (wi: Column, xi: Column) => wi * xi),
        lit(0.0), (s: Column, t: Column) => s + t)
      val err = col("y") - lit(1.0) / (lit(1.0) + exp(-dot))
      val gm = feats
        .select(transform(col("x"), xi => err * xi).as("g"))
        .agg(graft.agg.VectorMeanAgg.column(col("g")).as("gm"))
        .head().getSeq[Double](0)
      w = w.zip(gm).map { case (wi, gi) => wi + lr * gi }
    }
    w
  }

  /** Score rows under a [[logisticTrain]] model: σ(w·x) at 6 dp plus the
    * 0.5-threshold prediction (compared on the ROUNDED score, so the
    * gate is engine-portable). Pure per-row codegen map. */
  def logisticScoreWith(df: org.apache.spark.sql.DataFrame, idCol: String,
      featureCols: Seq[String], weights: Array[Double]):
      org.apache.spark.sql.DataFrame = {
    val x = array(lit(1.0) +: featureCols.map(c => col(c).cast("double")): _*)
    val wCol = array(weights.map(lit(_)).toIndexedSeq: _*)
    val dot = aggregate(zip_with(wCol, x,
        (wi: Column, xi: Column) => wi * xi),
      lit(0.0), (s: Column, t: Column) => s + t)
    df.select(col(idCol),
        round(lit(1.0) / (lit(1.0) + exp(-dot)), 6).as("score"))
      .withColumn("pred", when(col("score") >= 0.5, 1).otherwise(0))
  }

  /** ZIPF RANK–FREQUENCY FIT: OLS of ln(freq) on ln(rank) over the corpus
    * top-`topN` tokens — natural text follows slope ≈ −1 (Zipf 1949);
    * machine-generated or templated corpora bend the curve, so the slope
    * and r² are a cheap corpus-health diagnostic next to [[corpusReport]].
    * Rank ties break on the token string for determinism.
    *
    * Shape at 100 TB: the token explode collapses map-side to vocabulary
    * size; `orderBy(...).limit(topN)` compiles to TakeOrderedAndProject
    * (per-partition top-N + driver merge of N·parts rows — never a full
    * vocab sort); ranking and the OLS reduce then run on ≤ topN rows.
    * Output: one row (n_terms, slope, intercept, r2) at 6 dp. */
  def zipfFit(df: org.apache.spark.sql.DataFrame, textCol: String,
      topN: Int = 200): org.apache.spark.sql.DataFrame = {
    val top = df.select(explode(wordTokens(textCol)).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(topN)
    val ranked = top.withColumn("rank", row_number().over(
        Window.orderBy(col("c").desc, col("tok"))))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("c").cast("double")).as("y"))
    // degenerate guards (ANSI division faults, not NULLs): a 1-term
    // corpus has zero rank variance (slope undefined) and an all-equal
    // -count top list has zero freq variance (r² undefined) — both yield
    // NULL, matching the eval harness convention
    val varX = col("sxx") - col("sx") * col("sx") / col("n_terms")
    val varY = col("syy") - col("sy") * col("sy") / col("n_terms")
    ranked.agg(count(lit(1)).as("n_terms"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("n_terms"),
        when(col("n_terms") > 1,
          (col("sxy") - col("sx") * col("sy") / col("n_terms")) / varX)
          .as("_m"),
        col("sx"), col("sy"), col("sxx"), col("syy"), col("sxy"))
      .select(col("n_terms"), round(col("_m"), 6).as("slope"),
        when(col("n_terms") > 1, round(
          (col("sy") - col("_m") * col("sx")) / col("n_terms"), 6))
          .as("intercept"),
        when(col("n_terms") > 1 && varY > 0, round(
          pow(col("sxy") - col("sx") * col("sy") / col("n_terms"), 2) /
            (varX * varY), 6))
          .as("r2"))
  }

  /** CONTEXT-LENGTH BUDGET REPORT: for each candidate max-sequence-length
    * budget, what truncating the corpus there would cost — docs over the
    * budget, tokens lost, and the kept-token fraction. The sizing study
    * run BEFORE committing to a context length / [[packSequences]]
    * config: "512 keeps 94% of tokens, 1024 keeps 99.2%" is the actual
    * decision input. `kept_frac` is an exact integer ratio (unrounded —
    * bit-identical cross-engine).
    *
    * Shape at 100 TB: one shuffle-free projection (token count ×
    * |budgets| rows via explode) into a map-side-combined |budgets|-row
    * aggregate. */
  def lengthBudgetReport(df: org.apache.spark.sql.DataFrame,
      textCol: String,
      budgets: Seq[Int]): org.apache.spark.sql.DataFrame = {
    require(budgets.nonEmpty && budgets.forall(_ > 0), s"budgets $budgets")
    df.select(size(wordTokens(textCol)).cast("long").as("t"))
      .select(col("t"),
        explode(array(budgets.map(b => lit(b)): _*)).as("budget"))
      .groupBy(col("budget"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("t")).as("total_tokens"),
        sum(when(col("t") > col("budget"), 1L).otherwise(0L))
          .as("docs_over"),
        sum(greatest(col("t") - col("budget"), lit(0L))).as("tokens_lost"),
        (sum(least(col("t"), col("budget").cast("long"))).cast("double") /
          sum(col("t")).cast("double")).as("kept_frac"))
      .orderBy(col("budget"))
  }
}
