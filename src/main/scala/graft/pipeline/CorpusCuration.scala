package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Sampling, TextAnalysis}
import graft.util.Checkpoints.owning

/** End-to-end corpus curation — the composed training-data pipeline the
  * extension operators exist for:
  *
  *   1. near-duplicate removal: MinHash+LSH candidate pairs → verified
  *      Jaccard → connected components → keep only cluster canonicals
  *      (which subsumes exact duplicates: identical texts share every
  *      band);
  *   2. per-document features: language-ID, quality score, token count;
  *   3. quality gate on the rounded score (both engines compare the same
  *      6-dp value, so the threshold is hash-stable at the boundary);
  *   0. (optional, runs first) a supervised NB classifier gate
  *      ([[TextAnalysis.nbScore]] against a pre-trained model) — the
  *      GPT-3-recipe page filter, a narrow stateless column shared
  *      verbatim with [[curateStream]].
  *
  * Every stage is a shuffle-bounded DataFrame op: the LSH band join and
  * the label-propagation joins are the only shuffles that touch pair
  * volume; features are per-row maps. Output: one row per surviving
  * document with its features.
  *
  * `maxBandBucket` (default 10 000) engages [[Dedup.minhashLsh]]'s skew
  * guard: any LSH band bucket holding more documents is dropped wholesale
  * before the self-join. Real corpora have boilerplate mega-buckets (empty
  * pages, shared headers) and one bucket of m documents yields m² candidate
  * pairs — at 100 TB a single hot bucket stalls the stage. Recall tradeoff:
  * a pair whose ONLY matching band is dropped is missed, but (a) members of
  * a hot bucket still pair through their other 3 bands, and (b) a bucket
  * with >10 000 members is boilerplate, not content worth deduplicating
  * pair-by-pair — exact dedup already collapses identical texts. Pass
  * `Int.MaxValue` to disable.
  */
object CorpusCuration {
  def curate(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", minJaccard: Double = 0.3,
      minQuality: Double = 0.55, maxBandBucket: Int = 10000,
      classifier: Option[TextAnalysis.NbModel] = None,
      minClassifierScore: Double = 0.0): DataFrame = {
    // optional GPT-3-recipe supervised gate FIRST: a narrow per-row
    // lookup-sum (no join), so the LSH stage never pays for pages the
    // classifier would drop anyway; gate-first also makes
    // `curate(df, classifier = Some(m))` ≡ `curate(gated df)` exactly
    val src = classifier match {
      case Some(m) =>
        df.filter(TextAnalysis.nbScore(m, textCol) > minClassifierScore)
      case None => df
    }
    curateBody(src, textCol, idCol, minJaccard, minQuality, maxBandBucket)
  }

  private def curateBody(df: DataFrame, textCol: String, idCol: String,
      minJaccard: Double, minQuality: Double,
      maxBandBucket: Int): DataFrame = owning { sc =>
    val pairs = Dedup.minhashLsh(df, textCol, idCol, numHashes = 16,
      bands = 4, minJaccard = minJaccard, maxBandBucket = maxBandBucket)
    // PIN the narrow feature table before the gate (r14): the gate is a
    // filter on a DERIVED column, and Catalyst pushes it below every
    // row-preserving operator down to the scan — which (a) re-evaluates
    // the quality regex chain once in the pushed filter and once in the
    // output projection (guide §4.4's duplication, Column edition), and
    // (b) nails both evaluations to the scan's own parallelism (ONE task
    // on single-row-group files). The pin is a materialization barrier:
    // features evaluate exactly once, at the plan's full parallelism,
    // and the gate + any caller orderBy (whose range-sampling pass
    // re-executes its child) read the tiny (id, lang, quality, tok_cnt)
    // rows — bytes-per-row bounded at any corpus scale (the q160-lesson
    // pin shape). The result reads the pin, so the caller owns it and
    // frees it with `Checkpoints.release` on the result.
    sc.pin(curationFeatures(
        df.join(Dedup.nonCanonicalIds(pairs, idCol), Seq(idCol), "left_anti"),
        textCol, idCol))
      .filter(col("quality") >= minQuality)
  }

  /** [[curate]] with QUALITY-AWARE representative choice: each near-dup
    * cluster keeps its HIGHEST-QUALITY member
    * ([[Dedup.canonicalByScore]], ties → min id) instead of the min-id
    * one — the same dedup volume before the gate, with surviving quality
    * ≥ min-id's by construction (the kept member's quality dominates its
    * cluster, so the quality gate passes at least as many survivors —
    * suite-pinned). Costs one extra quality projection over the corpus
    * and a per-cluster top-1 window next to [[curate]]'s plain min. */
  def curateKeepBest(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", minJaccard: Double = 0.3,
      minQuality: Double = 0.55,
      maxBandBucket: Int = 10000): DataFrame = owning { sc =>
    val pairs = Dedup.minhashLsh(df, textCol, idCol, numHashes = 16,
      bands = 4, minJaccard = minJaccard, maxBandBucket = maxBandBucket)
    // r15: ONE full-corpus feature pin feeds BOTH the representative
    // choice (its `_q` is the same round(qualityScore, 6) expression the
    // old standalone `scored` projection computed, so canonicalByScore
    // sees identical values) and the gate — the quality-regex chain,
    // the expensive kernel here, evaluates once per document instead of
    // twice (full-corpus scored pass + survivor features). Costs
    // langId/tokenCount over dropped duplicates too; measured net-win
    // (the features are row-local, so survivor rows are bit-identical).
    val feats = sc.pin(curationFeatures(df, textCol, idCol))
    val keepIds = Dedup.canonicalByScore(
        feats.select(col(idCol), col("quality").as("_q")), idCol, pairs,
        "_q")
      .filter(col("keep") === 1).select(col(idCol))
    feats.join(keepIds, Seq(idCol), "left_semi")
      .filter(col("quality") >= minQuality)
  }

  /** The per-document (row-local) feature projection every curation path
    * shares: language-ID, 6-dp quality score, token count. Row-local is
    * what makes it safe to carry forward through
    * [[incrementalFeatures]]. */
  def curationFeatures(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    df.select(col(idCol),
      TextAnalysis.langId(textCol).as("lang_id"),
      round(TextAnalysis.qualityScore(textCol), 6).as("quality"),
      TextAnalysis.tokenCount(textCol).cast("long").as("tok_cnt"))

  /** End-to-end TRAINING-MIX assembly — raw corpus to packed, shuffled
    * training sequences, every stage one of the oracle-checked operators:
    *
    *   1. [[curate]] — near-dup removal (LSH + connected components) and
    *      the quality gate;
    *   2. optional benchmark decontamination
    *      ([[Dedup.decontaminate]] join shape — this is a batch path);
    *   3. per-source token-budget selection
    *      ([[TextAnalysis.selectByTokenBudget]] domain caps);
    *   4. deterministic output sharding ([[Sampling.shuffleShards]]:
    *      md5 shard + independent within-shard order);
    *   5. per-shard GPT-style packing in the shuffled order
    *      ([[TextAnalysis.packSequences]] with `orderCol`).
    *
    * Output: (shard, seq_id, doc_id, start_tok, ntok) — one row per
    * (document, training sequence it overlaps), reproducible bit-for-bit
    * on any cluster layout from (corpus, salt) alone. Downstream writers
    * `repartition($"shard")` and read each shard's documents in
    * (seq_id, start_tok) order. */
  def trainingMix(df: DataFrame, bench: Option[DataFrame] = None,
      textCol: String = "text", idCol: String = "doc_id",
      srcCol: String = "source", budgetPerSource: Long = Long.MaxValue / 4,
      ctxLen: Int = 2048, nShards: Int = 1024, salt: String = "",
      minJaccard: Double = 0.3, minQuality: Double = 0.55,
      maxBandBucket: Int = 10000,
      classifier: Option[TextAnalysis.NbModel] = None,
      minClassifierScore: Double = 0.0): DataFrame = {
    val kept = curate(df, textCol, idCol, minJaccard, minQuality,
      maxBandBucket, classifier, minClassifierScore).select(col(idCol))
    val curated = df.join(kept, Seq(idCol), "left_semi")
    val clean = bench match {
      case Some(b) => Dedup.decontaminate(curated, b, textCol, idCol)
      case None => curated
    }
    val selected = TextAnalysis.selectByTokenBudget(clean, textCol, idCol,
      budgetPerSource, srcCol).select(col("doc_id").as(idCol))
    val body = df.select(col(idCol), col(textCol))
      .join(selected, Seq(idCol), "left_semi")
    val sharded = Sampling.shuffleShards(body, idCol, nShards, salt)
    TextAnalysis.packSequences(sharded, textCol, idCol, ctxLen,
        srcCol = "shard", orderCol = Some("shard_order"))
      .select(col("source").as("shard"), col("seq_id"), col("doc_id"),
        col("start_tok"), col("ntok"))
  }

  /** Ingest-time streaming curation — the first line of defense a
    * 100 TB/day pipeline runs BEFORE the batch [[curate]] pass:
    *
    *   1. optional benchmark decontamination via the broadcast-set kernel
    *      (stateless narrow filter — [[Dedup.decontaminateBroadcast]]'s
    *      predicate is the only decontamination shape a stream supports);
    *   2. quality gate (stateless per-row features, same threshold
    *      semantics as [[curate]]);
    *   3. windowed LSH near-dup dedup ([[Dedup.nearDupFilterStreamLsh]]):
    *      within each tumbling window only bucket-winning documents
    *      survive — watermark-bounded state, append-mode emission.
    *
    * Cross-window near-dups intentionally survive; the batch pass owns
    * global recall. Output: (ws, doc_id) of surviving documents per
    * window — join back to the payload store downstream. */
  def curateStream(df: DataFrame, bench: Option[DataFrame] = None,
      textCol: String = "text", idCol: String = "doc_id",
      tsCol: String = "ts", minQuality: Double = 0.55,
      windowDur: String = "10 minutes", watermark: String = "1 hour",
      classifier: Option[TextAnalysis.NbModel] = None,
      minClassifierScore: Double = 0.0): DataFrame = {
    val decontaminated = bench match {
      case Some(b) => Dedup.decontaminateBroadcast(df, b, textCol, idCol)
      case None => df
    }
    // the classifier gate is the same stateless column as the batch
    // path's — a batch-trained model scoring live ingest
    val classified = classifier match {
      case Some(m) => decontaminated
        .filter(TextAnalysis.nbScore(m, textCol) > minClassifierScore)
      case None => decontaminated
    }
    val gated = classified
      .filter(round(TextAnalysis.qualityScore(textCol), 6) >= minQuality)
    Dedup.nearDupFilterStreamLsh(gated, textCol, idCol, tsCol,
      windowDur, watermark)
  }

  /** Incremental re-run of a PER-DOCUMENT feature stage — the payoff of
    * [[graft.ext.Dedup.snapshotDiff]]: when 0.1% of a 100 TB corpus
    * changed between snapshots, recompute `featureFn` for the `added` +
    * `changed` documents only and carry every `unchanged` document's row
    * forward from the previous output; `removed` rows drop.
    *
    * EXACTNESS CONTRACT: `featureFn` must be per-document (row-local —
    * quality signals, language-ID, token counts, fingerprints …). For a
    * corpus-global stage (dedup, TF-IDF, DSIR rates) the carried rows
    * would be stale — re-run those stages on the full corpus instead,
    * where [[curate]]'s own shapes keep them tractable. The suite pins
    * incremental ≡ full recompute on the same snapshot pair.
    *
    * Shape at 100 TB: one digest diff join ([[Dedup.snapshotDiff]]) + two
    * id-keyed semi-joins; `featureFn` runs over the (tiny) delta. The
    * diff's statuses double as the run's audit row. */
  def incrementalFeatures(oldCorpus: DataFrame, oldFeatures: DataFrame,
      newCorpus: DataFrame, textCol: String = "text",
      idCol: String = "doc_id")(
      featureFn: DataFrame => DataFrame): DataFrame = {
    val diff = Dedup.snapshotDiff(oldCorpus, newCorpus, idCol, textCol)
    val dirty = diff.filter(col("status").isin("added", "changed"))
      .select(col(idCol))
    val carried = oldFeatures.join(
      diff.filter(col("status") === "unchanged").select(col(idCol)),
      Seq(idCol), "left_semi")
    val fresh = featureFn(newCorpus.join(dirty, Seq(idCol), "left_semi"))
    carried.unionByName(fresh)
  }

  /** Persist the STANDING curation state an incremental nightly run
    * serves from — written once over the full corpus, then advanced in
    * O(delta) (see [[incrementalCurate]]):
    *
    *   - `path/lsh`      — the corpus's banded + shingle tables
    *                       ([[Dedup.writeLshStore]]); per-document
    *                       kernels run here and never again;
    *   - `path/pairs`    — the verified near-dup pair list at
    *                       `minJaccard` (long ids);
    *   - `path/features` — [[curationFeatures]] for EVERY document,
    *                       ungated: a document dropped as a duplicate
    *                       tonight may be its cluster's sole survivor
    *                       tomorrow, and its carried feature row must
    *                       exist.
    *
    * `minJaccard`/`maxBandBucket` (and the default 16/4 LSH shape) are
    * part of the state's identity — [[incrementalCurate]] must be called
    * with the same values. */
  def writeCurationState(df: DataFrame, path: String,
      textCol: String = "text", idCol: String = "doc_id",
      minJaccard: Double = 0.3, maxBandBucket: Int = 10000): Unit = {
    val over = org.apache.spark.sql.SaveMode.Overwrite
    Dedup.writeLshStore(df, textCol, idCol, s"$path/lsh")
    Dedup.minhashLsh(df, textCol, idCol, numHashes = 16, bands = 4,
        minJaccard = minJaccard, maxBandBucket = maxBandBucket)
      .select(col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b"), col("jaccard"))
      .write.mode(over).parquet(s"$path/pairs")
    curationFeatures(df, textCol, idCol)
      .write.mode(over).parquet(s"$path/features")
  }

  /** The NIGHTLY incremental run — [[curate]]'s exact result on the new
    * snapshot at O(delta) kernel cost, the composition a 100 TB operator
    * actually schedules:
    *
    *   1. [[Dedup.snapshotDiff]] classifies the new snapshot against the
    *      old by content digest (narrow digest join — no text ships);
    *   2. the standing pair list restricts to pairs whose BOTH endpoints
    *      are unchanged (id-keyed semi-joins on a pair-volume table);
    *   3. the added+changed delta LSH-joins against the standing index
    *      ([[Dedup.minhashLshCrossFromStore]] — the delta pays its own
    *      map stage, the standing corpus pays a column-pruned scan),
    *      with hits filtered to unchanged reference ids so stale index
    *      rows (changed/removed docs) cannot witness pairs;
    *   4. the delta self-joins ([[Dedup.minhashLsh]] at delta scale);
    *   5. the three pair sets union into [[Dedup.connectedComponents]] —
    *      by construction exactly the full run's pair set, so canonical
    *      choice (and thus the survivor set) matches the full recompute;
    *   6. [[incrementalFeatures]] recomputes row-local features for the
    *      delta only and carries every unchanged document's row forward;
    *      survivors gate on quality as [[curate]] does.
    *
    * EXACTNESS: ≡ `curate(newCorpus)` (suite-pinned) provided the state
    * was written with the same `minJaccard`/`maxBandBucket`/LSH shape.
    * One margin: the hot-bucket cap counts buckets per-run, so a bucket
    * that crosses `maxBandBucket` only in the combined new corpus can
    * differ at the cap boundary — the cap is a spam defense, not a
    * semantic knob, and real deltas move bucket counts by epsilon.
    *
    * Afterwards, advance the state: [[Dedup.appendLshStore]] the delta
    * (append-only index; stale rows are filtered at read time exactly as
    * step 3 does), and write this run's pair list + features as the next
    * state — or rebuild with [[writeCurationState]] when stale volume
    * warrants compaction. */
  def incrementalCurate(spark: org.apache.spark.sql.SparkSession,
      statePath: String, oldCorpus: DataFrame, newCorpus: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      minJaccard: Double = 0.3, minQuality: Double = 0.55,
      maxBandBucket: Int = 10000): DataFrame = {
    val diff = Dedup.snapshotDiff(oldCorpus, newCorpus, idCol, textCol)
    val unchanged = diff.filter(col("status") === "unchanged")
      .select(col(idCol).cast("long").as(idCol))
    val delta = newCorpus.join(
      diff.filter(col("status").isin("added", "changed"))
        .select(col(idCol)),
      Seq(idCol), "left_semi")
    val pairsStd = spark.read.parquet(s"$statePath/pairs")
      .join(unchanged.select(col(idCol).as("id_a")), Seq("id_a"), "left_semi")
      .join(unchanged.select(col(idCol).as("id_b")), Seq("id_b"), "left_semi")
      .select("id_a", "id_b", "jaccard")
    val pairsCross = Dedup.minhashLshCrossFromStore(delta, spark,
        s"$statePath/lsh", textCol, idCol, minJaccard = minJaccard,
        maxBandBucket = maxBandBucket)
      .join(unchanged.select(col(idCol).as("id_ref")), Seq("id_ref"),
        "left_semi")
      .select(least(col("id_new"), col("id_ref")).as("id_a"),
        greatest(col("id_new"), col("id_ref")).as("id_b"), col("jaccard"))
    val pairsDelta = Dedup.minhashLsh(delta, textCol, idCol,
        numHashes = 16, bands = 4, minJaccard = minJaccard,
        maxBandBucket = maxBandBucket)
      .select(col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b"), col("jaccard"))
    val dropIds = Dedup.nonCanonicalIds(
      pairsStd.unionByName(pairsCross).unionByName(pairsDelta), idCol)
    incrementalFeatures(oldCorpus,
        spark.read.parquet(s"$statePath/features"), newCorpus, textCol,
        idCol)(curationFeatures(_, textCol, idCol))
      .join(dropIds, Seq(idCol), "left_anti")
      .filter(col("quality") >= minQuality)
  }

  /** LEAKAGE-SAFE train/test split: the deterministic
    * [[graft.ext.Sampling.hashSplit]] (assignment a pure function of
    * (id, salt) — no layout dependence), then every TRAIN document that
    * near-duplicates ANY test document is DROPPED from train. A hash
    * split alone only guarantees a document isn't in both sides; web
    * corpora carry the same page under many ids, and a test page's
    * near-twin in train is evaluation leakage the split can't see —
    * the cross-side [[graft.ext.Dedup.minhashLshCross]] at `minJaccard`
    * is exactly the q95 machinery pointed at the split boundary.
    *
    * Test stays intact (dropping from train preserves the eval set);
    * only train shrinks. Output: (idCol, split ∈ {train, test}).
    *
    * Shape at 100 TB: the split is a narrow map; the cross-LSH pays each
    * side's shingle/band kernels once, candidates are pair-volume, and
    * the final anti-join keys on the id. */
  def decontaminatedSplit(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", testFrac: Double = 0.2,
      minJaccard: Double = 0.8, salt: String = "",
      maxBandBucket: Int = Int.MaxValue): DataFrame = {
    require(testFrac > 0 && testFrac < 1, s"testFrac $testFrac")
    val split = graft.ext.Sampling.hashSplit(df, idCol,
      Seq(1.0 - testFrac, testFrac), salt)
    val train = split.filter(col("split") === 0)
    val test = split.filter(col("split") === 1)
    val leaky = Dedup.minhashLshCross(train, test, textCol, idCol,
        minJaccard = minJaccard, maxBandBucket = maxBandBucket)
      .select(col("id_new").as(idCol)).distinct()
    train.join(leaky, Seq(idCol), "left_anti")
      .select(col(idCol), lit("train").as("split"))
      .unionByName(test.select(col(idCol), lit("test").as("split")))
  }
}
