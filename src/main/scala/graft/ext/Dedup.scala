package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Checkpoints.owning
import graft.functions.SetSimilarity

/** Deduplication operators for training-data pipelines. Each is designed
  * around its 100 TB shape:
  *
  *   - exact: hash-groupBy — one shuffle on a 128-bit digest;
  *   - near-duplicate pairs: ONE filter-then-verify candidate pipeline,
  *     each step written once below. Every document maps shuffle-free to
  *     bucket keys (MinHash bands, SimHash/perceptual-hash chunks, prefix
  *     shingles, posting hashes); a hot-bucket cap drops spam buckets
  *     wholesale; one equi-join on the keys yields distinct candidate
  *     `(id_a, id_b)` pairs (candidates ≪ n²); the verify (exact Jaccard,
  *     xor-popcount, containment, edit distance) reads each end's payload
  *     back by id. A self-join's two sides shuffle on the same keys, so
  *     ReuseExchange serves both from ONE map stage — pinned by DedupSuite.
  *     The windowed survivors vote over the same buckets instead, with no
  *     pair materialized;
  *   - n-gram Jaccard all-pairs within a block: the exact reference the
  *     prefix filter is tested against (oracle-checkable small corpora);
  *   - embedding cosine: see [[Similarity]].
  */
object Dedup {

  /** Exact duplicate groups by content digest: canonical = min id. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"),
        count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)

  // deterministic affine hash family over a prime field (fits signed 64-bit:
  // a,b < p = 1e9+7, h < p → a*h+b < ~1e18). Single source of truth is the
  // native kernel — the oracle SQL interpolates THIS value, so a divergent
  // copy would silently break every minhash hash-compare.
  val Prime: Long = graft.functions.MinHashKernel.Prime
  def hashParams(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map(i => (2L * i + 3L, 5L * i + 7L))

  // ---- the candidate pipeline, one helper per step ------------------------

  private val BandKeys = Seq("band", "band_key")

  /** `(lead…, doc_id, sh)`: each document's hashed, sorted shingle set. The
    * caller's id expression passes through as given (the LSH store casts
    * to long, the in-memory members keep the input type). */
  private def shingled(df: DataFrame, textCol: String, id: Column,
      lead: Column*): DataFrame =
    df.select(lead :+ id.as("doc_id") :+
      TextAnalysis.hashedShingles(textCol).as("sh"): _*)

  /** `(lead…, doc_id, band, band_key)`: the MinHash band explode, one row
    * per band. Per-document work (tokenize → shingle → hash → signature →
    * band keys) is two native kernel calls
    * ([[graft.functions.HashedShingles]], [[graft.functions.MinHashBandKeys]])
    * inside whole-stage codegen — the SQL-lambda equivalent pays interpreted
    * eval per shingle per hash function, ~50× more per row. */
  private def bandedMinHash(df: DataFrame, textCol: String, id: Column,
      numHashes: Int, bands: Int, lead: Column*): DataFrame = {
    require(numHashes % bands == 0)
    df.select(lead :+ id.as("doc_id") :+
      posexplode(graft.functions.MinHashBandKeys.column(
        TextAnalysis.hashedShingles(textCol), hashParams(numHashes), bands))
        .as(BandKeys): _*)
  }

  /** Skew guard: a bucket with m members yields m² candidate pairs, and
    * real corpora have boilerplate mega-buckets (empty pages, headers).
    * Buckets holding more than `cap` rows, counted over all `sides`
    * together, are dropped wholesale from every side — the standard LSH
    * spam defense; their members still pair through their OTHER buckets.
    * The hot set is by definition tiny → broadcast anti-join, no extra
    * shuffle of the banded tables. `Int.MaxValue` turns the guard off. */
  private def dropHot(sides: Seq[DataFrame], keys: Seq[String],
      cap: Int): Seq[DataFrame] =
    if (cap == Int.MaxValue) sides
    else {
      val hot = sides.reduce(_.unionByName(_)).groupBy(keys.map(col): _*)
        .count().filter(col("count") > cap).select(keys.map(col): _*)
      sides.map(_.join(broadcast(hot), keys, "left_anti"))
    }

  /** Candidate pairs: `l` and `r` rows with equal `keys`, as distinct
    * `(id_a, id_b)` — the ids alone go through the distinct's shuffle
    * (cheap long columns); the caller reads payloads back to verify. A
    * self-join passes one frame twice with `ordered` (id_a < id_b); a
    * cross join has no order rule. */
  private def bucketPairs(l: DataFrame, r: DataFrame, keys: Seq[String],
      ordered: Boolean): DataFrame = {
    val on = keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _)
    l.as("l")
      .join(r.as("r"),
        if (ordered) on && col("l.doc_id") < col("r.doc_id") else on)
      .select(col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b"))
      .distinct()
  }

  /** `pairs` with column `v` of `t` (keyed by `doc_id`) attached to each
    * end as `v_a` and `v_b` — one equi-join per end on the id. */
  private def bothEnds(pairs: DataFrame, t: DataFrame, v: String): DataFrame =
    pairs
      .join(t.select(col("doc_id").as("id_a"), col(v).as(s"${v}_a")), "id_a")
      .join(t.select(col("doc_id").as("id_b"), col(v).as(s"${v}_b")), "id_b")

  /** Pigeonhole split of a 60-bit sketch into `maxHamming + 1` equal
    * chunks — any pair within `maxHamming` bit flips agrees on at least
    * one whole chunk. Returns (chunks, chunk mask, array of chunk values). */
  private def sketchChunks(sk: Column, maxHamming: Int): (Int, Long, Column) = {
    val chunks = maxHamming + 1
    require(60 % chunks == 0, s"60 bits must split evenly into $chunks chunks")
    val width = 60 / chunks
    val mask = (1L << width) - 1L
    (chunks, mask, array((0 until chunks).map { c =>
      shiftright(sk, c * width).bitwiseAND(lit(mask))
    }: _*))
  }

  /** The windowed "won every bucket" vote over `banded` (`_ts`, `doc_id`
    * and the bucket `keys`): the min id wins each (window, bucket), and
    * a document survives iff it won all `n` of its buckets. Two chained
    * aggregations — the composition Structured Streaming supports in
    * append mode. Output: (ws, doc_id). */
  private def wonEveryBucket(banded: DataFrame, windowDur: String,
      keys: Seq[String], n: Int): DataFrame =
    banded
      .groupBy(window(col("_ts"), windowDur).as("w") +: keys.map(col): _*)
      .agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("w"), col("doc_id"))
      .agg(count(lit(1)).as("_n_won"))
      .filter(col("_n_won") === lit(n))
      .select(col("w").getField("start").as("ws"), col("doc_id"))

  // ---- members -------------------------------------------------------------

  /** MinHash + LSH banding: returns candidate duplicate pairs
    * (id_a < id_b) with their verified n-gram Jaccard similarity.
    * bands × rowsPerBand = numHashes; candidate iff some band matches. */
  def minhashLsh(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 16, bands: Int = 4, minJaccard: Double = 0.0,
      maxBandBucket: Int = Int.MaxValue): DataFrame =
    verifyPairs(
      minhashCandidates(df, textCol, idCol, numHashes, bands, maxBandBucket),
      shingled(df, textCol, col(idCol)), minJaccard)

  /** One-pass candidate verify: each (id_a, id_b) pair explodes into its
    * two member rows, the shingle table joins ONCE on doc_id, and the pair
    * regroups to compute exact Jaccard. The shingle kernel runs over the
    * corpus exactly once and NOTHING is persisted — the r6 shape (join the
    * shingle table per pair side) needed a session-lifetime
    * MEMORY_AND_DISK cache to avoid a second kernel pass, and leaked it on
    * every call. Shuffle shape: candidates are pair-volume (AQE broadcasts
    * them when small, making the shingle side a narrow streamed scan); the
    * regroup shuffles shingle arrays for candidate MEMBERS only, never the
    * corpus.
    *
    * Regime note: this shape is right when candidate pairs P ≪ corpus
    * (banded LSH after the skew guard — the 16× probe sees ~10³–10⁴
    * pairs). When P ≫ documents, the 2P array rows through the regroup
    * dominate and [[containmentPairs]]'s per-side join shape wins — its
    * probe corpus produces ~10× more pairs than docs by construction.
    * Pick by the operator's expected pair regime, not by habit. */
  private def verifyPairs(cand: DataFrame, sh: DataFrame,
      minJaccard: Double): DataFrame = {
    val sides = cand.select(col("id_a"), col("id_b"),
      explode(array(col("id_a"), col("id_b"))).as("doc_id"))
    sides.join(sh, "doc_id")
      .groupBy(col("id_a"), col("id_b"))
      // exactly one non-null value per side per group (id_a < id_b); max
      // over the array type just selects it
      .agg(max(when(col("doc_id") === col("id_a"), col("sh"))).as("sh_a"),
        max(when(col("doc_id") === col("id_b"), col("sh"))).as("sh_b"))
      .withColumn("jaccard",
        SetSimilarity.jaccardSorted(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** LSH candidate pairs (some band-bucket shared, id_a < id_b, distinct) —
    * [[minhashLsh]]'s pre-verify stage, public so scale probes can measure
    * candidate VOLUME separately from wall time (a super-linear probe ratio
    * is only attributable once pair counts are known).
    *
    * The banded table feeds both sides of the self-join from one map stage
    * (ReuseExchange): the shingle+minhash kernels run over the corpus
    * once, with no persist/checkpoint pinning blocks for the session's
    * lifetime (the r6 localCheckpoint here leaked a corpus-proportional
    * table on every call). The skew-guard counting pass, when enabled, is
    * the one extra kernel pass. */
  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 16, bands: Int = 4,
      maxBandBucket: Int = Int.MaxValue): DataFrame = {
    val banded = dropHot(
      Seq(bandedMinHash(df, textCol, col(idCol), numHashes, bands)),
      BandKeys, maxBandBucket).head
    bucketPairs(banded, banded, BandKeys, ordered = true)
  }

  /** Cross-corpus MinHash+LSH: near-duplicate pairs BETWEEN two corpora —
    * a fresh snapshot against the already-curated reference — never within
    * one side. The incremental-ingest shape: each new crawl batch is
    * near-deduplicated against the standing corpus before admission, so
    * only genuinely novel content pays downstream curation compute.
    * Returns `(id_new, id_ref, jaccard)` with the same banding math and
    * exact-Jaccard verify as [[minhashLsh]].
    *
    * 100 TB shape: both sides map to banded keys shuffle-free (the same
    * native shingle/band kernels); the only corpus-scale shuffles are the
    * two band-key exchanges — and the reference side's banded table is a
    * pure function of its text, so a standing corpus can persist it as a
    * bucketed table and pay NOTHING per incoming batch. The verify regroup
    * moves shingle arrays for candidate members only. The skew guard drops
    * band buckets whose combined two-side population exceeds the cap —
    * boilerplate spam pairs across corpora exactly like within one. */
  def minhashLshCross(newDf: DataFrame, refDf: DataFrame, textCol: String,
      idCol: String, numHashes: Int = 16, bands: Int = 4,
      minJaccard: Double = 0.0, maxBandBucket: Int = Int.MaxValue)
      : DataFrame =
    crossCore(lshTables(newDf, textCol, idCol, numHashes, bands),
      lshTables(refDf, textCol, idCol, numHashes, bands),
      minJaccard, maxBandBucket)

  // the un-tagged per-corpus map stages (pure functions of the text):
  // (doc_id long, band, band_key) and (doc_id long, sh) — exactly what
  // [[writeLshStore]] persists and [[minhashLshCrossFromStore]] reloads
  private def lshTables(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, bands: Int): (DataFrame, DataFrame) = {
    val id = col(idCol).cast("long")
    (bandedMinHash(df, textCol, id, numHashes, bands),
      shingled(df, textCol, id))
  }

  /** [[minhashLshCross]]'s join core over pre-built per-side (banded,
    * shingle) tables. Ids tag with a side marker so the two corpora may
    * reuse id space (snapshots of the same collection usually do). */
  private def crossCore(newSide: (DataFrame, DataFrame),
      refSide: (DataFrame, DataFrame), minJaccard: Double,
      maxBandBucket: Int): DataFrame = {
    def tag(df: DataFrame, side: Int) = df.withColumn("doc_id",
      struct(lit(side).as("s"), col("doc_id").as("i")))
    val Seq(bn, br) = dropHot(Seq(tag(newSide._1, 0), tag(refSide._1, 1)),
      BandKeys, maxBandBucket)
    verifyPairs(bucketPairs(bn, br, BandKeys, ordered = false),
        tag(newSide._2, 0).unionByName(tag(refSide._2, 1)), minJaccard)
      .select(col("id_a.i").as("id_new"), col("id_b.i").as("id_ref"),
        col("jaccard"))
  }

  /** Persist a standing corpus's LSH index: its banded band-key table and
    * its shingle-hash table, both pure functions of the text — the
    * per-document shingle/minhash kernels run ONCE here and never again.
    * Every subsequent [[minhashLshCrossFromStore]] batch reads these
    * columnar tables instead of re-deriving them: the incoming snapshot
    * pays its own (small) map stage, the standing 100 TB corpus pays a
    * column-pruned scan. Layout: `path/banded` and `path/shingles`. */
  def writeLshStore(df: DataFrame, textCol: String, idCol: String,
      path: String, numHashes: Int = 16, bands: Int = 4): Unit =
    saveLshTables(df, textCol, idCol, path, numHashes, bands,
      org.apache.spark.sql.SaveMode.Overwrite)

  /** Append a delta batch's banded/shingle rows to an existing
    * [[writeLshStore]] index — the nightly state advance of an
    * incremental pipeline. The index stays APPEND-ONLY (no rewrite of
    * the standing corpus's partitions): rows for removed or changed
    * documents remain as stale entries, and read paths filter hits
    * against the live id set (as
    * [[graft.pipeline.CorpusCuration.incrementalCurate]] does with its
    * unchanged-status semi-join) — the standard LSM-style trade of
    * read-time filtering for O(delta) writes. Compact by rebuilding with
    * [[writeLshStore]] when stale volume warrants it. */
  def appendLshStore(delta: DataFrame, textCol: String, idCol: String,
      path: String, numHashes: Int = 16, bands: Int = 4): Unit =
    saveLshTables(delta, textCol, idCol, path, numHashes, bands,
      org.apache.spark.sql.SaveMode.Append)

  private def saveLshTables(df: DataFrame, textCol: String, idCol: String,
      path: String, numHashes: Int, bands: Int,
      mode: org.apache.spark.sql.SaveMode): Unit = {
    val (banded, sh) = lshTables(df, textCol, idCol, numHashes, bands)
    banded.write.mode(mode).parquet(s"$path/banded")
    sh.write.mode(mode).parquet(s"$path/shingles")
  }

  /** [[minhashLshCross]] with the reference side served from a
    * [[writeLshStore]] index — the steady-state incremental-ingest path.
    * `numHashes`/`bands` must match the store's (band keys are opaque
    * strings; mismatched parameters silently produce no matches, so pass
    * the same values, they are not discoverable from the store). */
  def minhashLshCrossFromStore(newDf: DataFrame,
      spark: org.apache.spark.sql.SparkSession, path: String,
      textCol: String, idCol: String, numHashes: Int = 16, bands: Int = 4,
      minJaccard: Double = 0.0, maxBandBucket: Int = Int.MaxValue)
      : DataFrame =
    crossCore(lshTables(newDf, textCol, idCol, numHashes, bands),
      (spark.read.parquet(s"$path/banded"),
        spark.read.parquet(s"$path/shingles")),
      minJaccard, maxBandBucket)

  /** Connected components over a duplicate-pair list → canonical id per
    * member (every node takes the minimum id reachable from it). Small
    * edge sets solve on the driver (union-find); larger ones run
    * min-label propagation with path halving — O(log diameter) rounds,
    * one job barrier per round, [[graft.util.Checkpoints.pin]] truncating the growing
    * lineage. The edge pin and every superseded round are released; the
    * caller owns the last round the result reads. Output:
    * (doc_id, canonical_id) for every id in a pair. */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIters: Int = 50,
      localThreshold: Long = 1L << 20): DataFrame = owning { sc =>
    // ids normalize to long up front: the driver fast path reads Long and
    // both paths must emit one schema regardless of the input's int/long
    val edges = sc.pin(pairs
      .select(col(idA).cast("long").as("src"), col(idB).cast("long").as("dst"))
      .union(pairs
        .select(col(idB).cast("long").as("src"), col(idA).cast("long").as("dst")))
      .distinct())
    // Small graphs (≤ localThreshold directed edges ≈ 16 MB of id pairs)
    // solve on the driver: union-find with path compression is
    // microseconds, where the distributed loop pays several full job
    // rounds of fixed overhead for the same answer. The near-dup pair
    // list is usually tiny relative to the corpus — this is the common
    // case even at 100 TB; past the threshold the propagation loop below
    // owns it. Same fixpoint either way (min id per component).
    if (edges.count() <= localThreshold) {
      val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
        }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra) = rb
      }
      val ids = es.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
      val compMin = scala.collection.mutable.HashMap.empty[Long, Long]
      ids.foreach { id =>
        val r = find(id)
        compMin(r) = math.min(compMin.getOrElse(r, Long.MaxValue), id)
      }
      val session = pairs.sparkSession
      import session.implicits._
      ids.toSeq.map(id => (id, compMin(find(id)))).toDF("doc_id", "canonical_id")
    } else componentRounds(sc, edges, maxIters)
  }

  /** [[connectedComponents]]' distributed min-label propagation over the
    * pinned, symmetric edge list. */
  private def componentRounds(sc: graft.util.Checkpoints.Scope,
      edges: DataFrame, maxIters: Int): DataFrame = {
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("canonical_id", col("doc_id"))
    var changed = 1L
    var it = 0
    var prevRound: Option[DataFrame] = None
    while (changed > 0 && it < maxIters) {
      val prop = edges.join(labels.withColumnRenamed("doc_id", "src"), "src")
        .groupBy(col("dst").as("doc_id"))
        .agg(min(col("canonical_id")).as("neighbor_min"))
      val stepped = labels.join(prop, Seq("doc_id"), "left")
        .select(col("doc_id"), col("canonical_id").as("old"),
          least(col("canonical_id"),
            coalesce(col("neighbor_min"), col("canonical_id"))).as("canonical_id"))
      // path halving: also hop to the CURRENT label of the chosen label —
      // min-over-reachable is monotone, so the shortcut preserves the
      // fixpoint while propagation distance ~doubles per round: O(log
      // diameter) rounds instead of O(diameter). Long chains (q67's
      // random-noise pair graph) drop from ~15 rounds to ~4.
      // The checkpoint is LAZY so the convergence count below is the
      // action that materializes it — one job barrier per round; next
      // round's joins read the stored blocks instead of the lineage.
      val next = sc.pin(stepped.as("x")
        .join(labels.select(col("doc_id").as("_ld"),
          col("canonical_id").as("_lc")).as("y"),
          col("x.canonical_id") === col("_ld"), "left")
        .select(col("x.doc_id").as("doc_id"), col("x.old").as("old"),
          least(col("x.canonical_id"),
            coalesce(col("_lc"), col("x.canonical_id"))).as("canonical_id")),
        eager = false)
      changed = next.filter(col("canonical_id") =!= col("old")).count()
      // the count materialized `next` with truncated lineage — the prior
      // round's blocks are unreachable from here on; release them now, so
      // block-manager usage stays bounded by TWO rounds of labels
      prevRound.foreach(sc.release)
      prevRound = Some(next)
      labels = next.drop("old")
      it += 1
    }
    // non-convergence must fail loudly: intermediate labels look valid but
    // split one dup cluster into several "canonicals"
    if (changed > 0) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIters rounds " +
        s"($changed labels still changing) — raise maxIters (component " +
        "diameter exceeds it)")
    labels
  }

  /** The ids a min-id dedup drops: every pair member whose
    * [[connectedComponents]] canonical is another id, as column `idCol`. */
  private[graft] def nonCanonicalIds(pairs: DataFrame,
      idCol: String): DataFrame =
    connectedComponents(pairs)
      .filter(col("canonical_id") =!= col("doc_id"))
      .select(col("doc_id").as(idCol))

  /** QUALITY-AWARE CANONICAL SELECTION: [[connectedComponents]] picks the
    * MIN-ID representative of each near-dup cluster — arbitrary. This
    * variant keeps the BEST row instead: within each component the
    * representative is the max-`scoreCol` member (ties: min id), so "drop
    * duplicates" becomes "keep the highest-quality copy" — what a
    * curation pipeline actually wants when near-dups differ in
    * truncation, boilerplate, or OCR noise. Rows outside any pair are
    * their own singleton group and survive.
    *
    * Scores should arrive ROUNDED (the caller's grain) so the tie set —
    * and therefore the id tiebreak — is engine-reproducible.
    *
    * Shape at 100 TB: the component solve touches only the pair list; the
    * corpus pays one join against it plus one per-group top-1 window
    * (WindowGroupLimit → partial top-n, no full sort). Output:
    * (idCol, group_id, rep_id, keep) — filter `keep = 1` to dedup. */
  def canonicalByScore(df: DataFrame, idCol: String, pairs: DataFrame,
      scoreCol: String): DataFrame = {
    val comp = connectedComponents(pairs)
      .select(col("doc_id").as(idCol), col("canonical_id"))
    val grouped = df.select(col(idCol), col(scoreCol))
      .join(comp, Seq(idCol), "left")
      .withColumn("group_id",
        coalesce(col("canonical_id"), col(idCol).cast("long")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group_id"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    val rep = grouped
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("group_id"), col(idCol).cast("long").as("rep_id"))
    grouped.join(rep, Seq("group_id"))
      .select(col(idCol), col("group_id"), col("rep_id"),
        when(col(idCol).cast("long") === col("rep_id"), 1).otherwise(0)
          .as("keep"))
  }

  /** PER-SLICE DUPLICATION RATE: for each slice (source, domain, crawl
    * snapshot) the fraction of its documents a min-id component dedup
    * would DROP — the per-provider duplication accounting that decides
    * which feeds deserve ingest-time dedup and which are already clean.
    * `n_dup` counts non-canonical component members; `dup_rate` is the
    * exact integer ratio (unrounded — engine-identical).
    *
    * Shape at 100 TB: the component solve touches only the pair list;
    * the corpus pays one left join against it and one slice-keyed
    * collapse. Returns (sliceCol, n_docs, n_dup, dup_rate). */
  def dupRateBySlice(df: DataFrame, idCol: String, sliceCol: String,
      pairs: DataFrame): DataFrame = {
    val comp = connectedComponents(pairs)
      .select(col("doc_id").as(idCol), col("canonical_id"))
    df.select(col(idCol), col(sliceCol))
      .join(comp, Seq(idCol), "left")
      .groupBy(col(sliceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("canonical_id").isNotNull &&
            col("canonical_id") =!= col(idCol).cast("long"), 1L)
          .otherwise(0L)).as("n_dup"))
      .withColumn("dup_rate",
        col("n_dup").cast("double") / col("n_docs").cast("double"))
  }

  /** CROSS-SLICE DUPLICATION MATRIX: verified near-dup pair counts per
    * unordered slice pair — WHO duplicates WHOM (mirror sites, syndicated
    * feeds, re-crawled domains). The diagonal is within-slice
    * duplication; heavy off-diagonal cells say two providers ship the
    * same content and one of them can be dropped from the mix.
    *
    * One pair-list join against the slice map per endpoint, then a
    * ≤ S²-row collapse — pair-volume cost, never corpus. Returns
    * (slice_a, slice_b, n_pairs) with slice_a ≤ slice_b. */
  def crossSliceDupMatrix(df: DataFrame, idCol: String, sliceCol: String,
      pairs: DataFrame): DataFrame =
    bothEnds(pairs,
        df.select(col(idCol).as("doc_id"), col(sliceCol).as("_s")), "_s")
      .select(least(col("_s_a"), col("_s_b")).as("slice_a"),
        greatest(col("_s_a"), col("_s_b")).as("slice_b"))
      .groupBy(col("slice_a"), col("slice_b"))
      .agg(count(lit(1)).as("n_pairs"))

  /** Exact Jaccard of two distinct-element arrays. */
  def jaccardArr(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** All-pairs n-gram Jaccard within a blocking key. The block bounds the
    * quadratic cost (shuffle on the block key, pairs within a block only) —
    * the 100 TB discipline is: tight blocks here, cross-block recall via
    * [[minhashLsh]]. */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      blockCols: Seq[String], minJaccard: Double): DataFrame = {
    val t = blockedShingles(df, textCol, idCol, blockCols)
    // hashed+sorted shingles: the pair verify is a merge scan over long
    // arrays instead of a per-pair hash set over strings (SetSimilarity)
    t.as("l").join(t.as("r"),
        col("l.blk") === col("r.blk") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b"),
        SetSimilarity.jaccardSorted(col("l.sh"), col("r.sh")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** EDIT-DISTANCE VERIFY of candidate pairs: exact Levenshtein distance
    * for each (id_a, id_b) candidate — the character-level second stage
    * behind a banding first stage ([[minhashCandidates]]), for when the
    * dedup policy is "≤ k edits" rather than shingle Jaccard (template
    * spam, OCR rescans, near-identical boilerplate variants).
    *
    * Two scale guards around the O(m·n) DP: a length prefilter
    * (| |a|−|b| | > k can never pass — evaluated on already-joined
    * lengths, no DP touched) and Spark's THRESHOLD form
    * `levenshtein(a, b, k)`, which band-limits the DP to O(k·min(m,n))
    * and returns −1 on early exit. Both joins hash on the id key only;
    * text moves once per candidate side.
    *
    * Distances are Unicode-codepoint edits (Spark semantics). A DuckDB
    * oracle replays byte-level edits, so cross-engine parity holds on
    * ASCII corpora (the test tables are ASCII; on multibyte corpora pin
    * with a suite instead). Output: (id_a, id_b, edit_dist ≤ maxDist). */
  def editDistanceVerify(cand: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    bothEnds(cand,
        docs.select(col(idCol).as("doc_id"), col(textCol).as("_t")), "_t")
      .filter(abs(length(col("_t_a")) - length(col("_t_b"))) <= maxDist)
      .withColumn("edit_dist",
        levenshtein(col("_t_a"), col("_t_b"), maxDist))
      .filter(col("edit_dist") >= 0)
      .select(col("id_a"), col("id_b"), col("edit_dist"))
  }

  /** Full MinHash signature as one string column — all `numHashes` minima
    * comma-joined (= every band key concatenated). Signature equality
    * implies near-identical shingle sets (J ≈ 1 across all hash
    * functions), so it is a high-precision near-dup key. */
  def minhashSignature(textCol: String, numHashes: Int = 16): Column =
    concat_ws("|", graft.functions.MinHashBandKeys.column(
      TextAnalysis.hashedShingles(textCol), hashParams(numHashes), 1))

  /** Streaming near-dup filter: drops documents whose full MinHash
    * signature was already seen inside the watermark window — the
    * streaming twin of [[minhashLsh]] at its high-precision point
    * (signature equality, no pair verify needed). State is one signature
    * per surviving document, expired by the watermark — the bounded-state
    * shape an at-least-once 100 TB/day ingest needs. */
  def nearDupFilterStream(df: DataFrame, textCol: String,
      tsCol: String = "ts", watermark: String = "1 hour"): DataFrame =
    df.withColumn("minhash_sig", minhashSignature(textCol))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("minhash_sig")

  /** Windowed LSH near-dup dedup — SURVIVORS of each tumbling window: a
    * document survives iff it is the min-id member of EVERY band bucket it
    * lands in (two chained aggregations; no self-join). Losing any bucket
    * means an earlier in-window document shares that band — an LSH
    * candidate dup — so the doc is dropped. Greedy bucket-local canonical
    * selection: within a window it keeps exactly the docs no bucket pairs
    * with a smaller id, a streaming-friendly approximation of
    * [[connectedComponents]] canonicals (a chain A–B, B–C may keep both A
    * and C; never two docs sharing a bucket). Precision is governed by the
    * band width `numHashes / bands` exactly as in [[minhashLsh]].
    *
    * The 100 TB shape: both aggregations shuffle (window, band, band_key)
    * / (window, doc_id) — small fixed-width keys, `bands` rows per doc, no
    * candidate pair materialization at all. Output: (ws, doc_id).
    *
    * Batch and streaming share this exact plan ([[nearDupFilterStreamLsh]]
    * adds the watermark): chained tumbling-window aggregations are one of
    * the stateful-operator compositions Structured Streaming supports in
    * append mode — unlike anything downstream of flatMapGroupsWithState —
    * which is why the per-doc "won all buckets" vote replaces explicit
    * per-bucket state. */
  def lshDedupSurvivors(df: DataFrame, textCol: String, idCol: String,
      tsCol: String = "ts", windowDur: String = "10 minutes",
      numHashes: Int = 16, bands: Int = 4): DataFrame =
    wonEveryBucket(
      bandedMinHash(df, textCol, col(idCol), numHashes, bands,
        col(tsCol).as("_ts")),
      windowDur, BandKeys, bands)

  /** Streaming twin of [[lshDedupSurvivors]]: the same chained-aggregation
    * plan under a watermark. Append mode emits a window's survivors once
    * the watermark passes its end; state per open window is bounded (one
    * row per live bucket + one per candidate survivor). Near-dups farther
    * apart than `windowDur` both survive — cross-window recall is the
    * batch pass's job ([[minhashLsh]] + [[connectedComponents]]); this is
    * the ingest-time first line of defense. */
  def nearDupFilterStreamLsh(df: DataFrame, textCol: String,
      idCol: String = "doc_id", tsCol: String = "ts",
      windowDur: String = "10 minutes", watermark: String = "1 hour",
      numHashes: Int = 16, bands: Int = 4): DataFrame =
    lshDedupSurvivors(df.withWatermark(tsCol, watermark), textCol, idCol,
      tsCol, windowDur, numHashes, bands)

  /** [[lshDedupSurvivors]] for HAMMING sketches — windowed near-dup
    * dedup over any 60-bit sketch column (perceptual image hashes:
    * [[Multimodal.aHash]] → this is streaming image dedup). Sketch
    * chunks play the role of LSH bands: min-id wins each
    * (window, chunk, value) bucket, a row survives iff it wins ALL
    * `maxHamming + 1` of its chunks — any pair within `maxHamming` bit
    * flips shares a whole chunk, so one of them loses that bucket. Same
    * two chained aggregations Structured Streaming supports; the
    * streaming caller adds `withWatermark` upstream.
    *
    * PRECISION, not just recall, drives the knobs — a chunk collision
    * between NON-dups deletes a row with no pair-level verify possible
    * in this no-pair-materialization shape:
    *  - default `maxHamming = 1` keeps chunks 30 bits wide: random
    *    collisions ≈ N²/2³¹ per window, vs N²/2²¹ at 20-bit chunks
    *    (thousands of false drops per 100k-row window). Raise
    *    `maxHamming` only with a matching window-size budget.
    *  - DEGENERATE chunk values (all-zero / all-one — flat or dark
    *    image regions, where unrelated sketches pile up) compete on
    *    the FULL sketch instead of the chunk, so they only dedup
    *    identical sketches. Cost: a near-dup pair whose ONLY agreeing
    *    chunk is degenerate both survive — the batch pass
    *    ([[hammingNearDups]], which does verify exactly) owns that
    *    tail, as it owns cross-window pairs. */
  def hammingDedupSurvivors(df: DataFrame, sketchCol: String,
      idCol: String, tsCol: String = "ts",
      windowDur: String = "10 minutes", maxHamming: Int = 1): DataFrame = {
    val (chunks, mask, chunkVals) = sketchChunks(col(sketchCol), maxHamming)
    val banded = df.select(col(tsCol).as("_ts"), col(idCol).as("doc_id"),
      col(sketchCol).as("_sk"), posexplode(chunkVals).as(Seq("chunk", "cv")))
      // degenerate chunks carry no locality signal: key them by the
      // full sketch so only identical sketches collide there. The tag
      // keeps the two key schemes in disjoint spaces — a full sketch
      // that happens to be numerically < 2^width (its high chunk is
      // all-zero, the very case this guard targets) must not collide
      // with another row's ordinary chunk value at the same index
      .withColumn("cv",
        when(col("cv") === 0L || col("cv") === lit(mask),
          struct(lit(1).as("deg"), col("_sk").as("v")))
          .otherwise(struct(lit(0).as("deg"), col("cv").as("v"))))
    wonEveryBucket(banded, windowDur, Seq("chunk", "cv"), chunks)
  }

  /** Prefix-filtered n-gram Jaccard pairs (AllPairs/SSJoin candidate
    * generation): for `J(a,b) ≥ t`, `|a∩b| ≥ t·|a|`, so in ANY fixed
    * global element order the first `|a| − ⌈t·|a|⌉ + 1` elements of `a`
    * and of `b` must share a member. Exploding only those prefixes and
    * equi-joining on the element replaces the block cross-product with a
    * candidate join whose volume tracks actual overlap — the shape that
    * survives blocks of millions of documents. Output is EXACTLY
    * [[ngramJaccardPairs]] (the filter is lossless); the hash-sorted
    * shingle arrays provide the global order for free. */
  def ngramJaccardPairsPrefix(df: DataFrame, textCol: String, idCol: String,
      blockCols: Seq[String], minJaccard: Double): DataFrame = {
    val (t, cand) = prefixStage(df, textCol, idCol, blockCols, minJaccard)
    verifyPairs(cand, t.select(col("doc_id"), col("sh")), minJaccard)
  }

  /** Prefix-filter candidate pairs only — [[ngramJaccardPairsPrefix]]'s
    * pre-verify stage, public so scale probes can attribute wall-time
    * growth to candidate volume vs overhead. */
  def ngramPrefixCandidates(df: DataFrame, textCol: String, idCol: String,
      blockCols: Seq[String], minJaccard: Double): DataFrame =
    prefixStage(df, textCol, idCol, blockCols, minJaccard)._2

  /** Shared stage of the prefix-filter join. The prefix self-join shuffles
    * both sides on the same (blk, ph) keys → ReuseExchange computes the
    * exploded prefix table once; the verify pass ([[verifyPairs]]) is the
    * one other shingle-kernel pass. Nothing persists — the r6
    * MEMORY_AND_DISK cache here leaked a corpus-scale table per call. */
  private def prefixStage(df: DataFrame, textCol: String, idCol: String,
      blockCols: Seq[String], minJaccard: Double): (DataFrame, DataFrame) = {
    val t = blockedShingles(df, textCol, idCol, blockCols)
    val prefixLen = size(col("sh")) - ceil(lit(minJaccard) * size(col("sh"))).cast("int") + 1
    val pref = t.select(col("blk"), col("doc_id"),
      explode(slice(col("sh"), lit(1), prefixLen)).as("ph"))
    (t, bucketPairs(pref, pref, Seq("blk", "ph"), ordered = true))
  }

  /** `(blk, doc_id, sh)`: the shingled table keyed by the concatenated
    * blocking columns. */
  private def blockedShingles(df: DataFrame, textCol: String, idCol: String,
      blockCols: Seq[String]): DataFrame =
    shingled(df, textCol, col(idCol),
      concat_ws("", blockCols.map(col): _*).as("blk"))

  /** Benchmark decontamination: drop corpus documents sharing ANY word
    * n-gram with a benchmark/eval set — the standard guard against test-set
    * leakage into training data. Both sides shingle through the same
    * 60-bit hash kernel; a corpus document is contaminated iff one of its
    * shingles appears in the benchmark's shingle set.
    *
    * Shape at 100 TB: the corpus side is one explode + one equi-join on the
    * shingle hash + one distinct on contaminated ids + an anti-join. The
    * benchmark side is aggregated to DISTINCT shingles first; no broadcast
    * hint — eval suites are usually MBs (AQE broadcasts them) but a "held
    * out split" can be corpus-scale (AQE sort-merge joins it). Returns the
    * surviving corpus rows unchanged. */
  def decontaminate(corpus: DataFrame, bench: DataFrame, textCol: String,
      idCol: String, n: Int = 3): DataFrame =
    dropContaminated(corpus, corpus, benchShingles(bench, textCol, n),
      textCol, idCol, n)

  /** The bench side of every decontamination member: its DISTINCT word
    * n-gram hashes, column `sh`. */
  private def benchShingles(bench: DataFrame, textCol: String,
      n: Int): DataFrame =
    bench.select(explode(TextAnalysis.hashedShingles(textCol, n)).as("sh"))
      .distinct()

  /** `(idCol, sh)` for every corpus shingle that the bench set `bsh` holds. */
  private def shingleHits(corpus: DataFrame, bsh: DataFrame, textCol: String,
      idCol: String, n: Int): DataFrame =
    corpus
      .select(col(idCol), explode(TextAnalysis.hashedShingles(textCol, n)).as("sh"))
      .join(bsh, "sh")

  /** `corpus` minus every `candidates` document with a shingle hit — the
    * one body of [[decontaminate]] (candidates = the corpus) and
    * [[decontaminateBloom]] (candidates = the Bloom prefilter's). */
  private def dropContaminated(corpus: DataFrame, candidates: DataFrame,
      bsh: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    val contaminated = shingleHits(candidates, bsh, textCol, idCol, n)
      .select(col(idCol))
      .distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Decontamination AUDIT — the report a pipeline runs BEFORE dropping
    * anything: for every contaminated corpus document, how many of its
    * DISTINCT word n-grams hit the benchmark's shingle set. Same
    * join shape (and cost) as [[decontaminate]], with the count kept
    * instead of collapsed into an anti-join; documents with zero hits do
    * not appear. Output: (idCol, n_hit). */
  def contaminationReport(corpus: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, n: Int = 3): DataFrame =
    shingleHits(corpus, benchShingles(bench, textCol, n), textCol, idCol, n)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit"))

  /** Decontamination fast path for benchmark sets that fit on the driver
    * (the common case — eval suites are MBs): the bench's distinct shingle
    * hashes are collected once, sorted, and shipped to executors as a
    * codegen reference set ([[graft.functions.ArrayOverlapsSet]]); the
    * corpus side is then ONE shuffle-free narrow filter (binary search per
    * shingle) — no explode, no join, no distinct aggregation. Stateless
    * per-row predicate, so it applies to a `readStream` corpus unchanged —
    * the streaming twin [[decontaminate]] cannot be (its contaminated-id
    * distinct is a stateful aggregation). Falls back to the join shape
    * when the bench side exceeds `maxBenchShingles` (a corpus-scale
    * "held-out split" needs the shuffle). */
  def decontaminateBroadcast(corpus: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, n: Int = 3,
      maxBenchShingles: Int = 5000000): DataFrame = {
    val sh = benchShingles(bench, textCol, n).limit(maxBenchShingles + 1)
      .collect().map(_.getLong(0))
    if (sh.length > maxBenchShingles) {
      // the join shape is a stateful aggregation + anti-join — it cannot
      // run on a stream, so an over-cap bench must fail LOUDLY there
      // rather than silently handing back an unrunnable plan
      require(!corpus.isStreaming,
        s"benchmark shingle set exceeds maxBenchShingles=$maxBenchShingles; " +
          "the join-shaped fallback cannot run on a streaming corpus — " +
          "raise the cap or decontaminate in batch")
      decontaminate(corpus, bench, textCol, idCol, n)
    } else
      // coalesce: NULL text must SURVIVE (null-propagating kernel would
      // drop it) — the join shape keeps null-text rows, and both paths
      // must agree exactly
      corpus.filter(!coalesce(graft.functions.ArrayOverlapsSet.column(
        TextAnalysis.hashedShingles(textCol, n), sh), lit(false)))
  }

  /** Decontamination through a BLOOM prefilter — the middle of the
    * broadcast-size spectrum. [[decontaminateBroadcast]] ships exact
    * sorted longs (8 B/shingle, capped at 5M); [[decontaminate]] pays a
    * full shuffle join. This variant ships a Bloom filter (~1.2 B/shingle
    * at 1% fpp — an order of magnitude more bench headroom under the same
    * broadcast budget) as a narrow per-row prefilter, then confirms the
    * few survivors through the exact shingle join.
    *
    * EXACT despite the sketch: a Bloom filter has no false negatives, so
    * every truly contaminated document reaches the confirm join; false
    * positives only cost those documents a pointless (tiny) join probe.
    * Result ≡ [[decontaminate]] row-for-row, pinned by DedupSuite.
    *
    * Shape at 100 TB: the corpus-side scan is one shuffle-free codegen
    * filter ([[graft.functions.ArrayMightContainBloom]]); the exact
    * shingle join runs over ~(contaminated + fpp · corpus) documents
    * instead of the whole corpus — at 1% fpp the join input is ~99%
    * smaller. The bench side is scanned twice (distinct-count + filter
    * build, both vocabulary-sized aggregations on MB-scale eval suites);
    * null-text corpus rows survive, matching the join shape. */
  def decontaminateBloom(corpus: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, n: Int = 3,
      fpp: Double = 0.01): DataFrame = {
    val bsh = benchShingles(bench, textCol, n)
    val expected = math.max(bsh.count(), 1L)
    val bloom = bsh.stat.bloomFilter("sh", expected, fpp)
    val candidates = corpus.filter(coalesce(
      graft.functions.ArrayMightContainBloom.column(
        TextAnalysis.hashedShingles(textCol, n), bloom), lit(false)))
    dropContaminated(corpus, candidates, bsh, textCol, idCol, n)
  }

  /** Incremental corpus snapshot diff: classify every document id across
    * two corpus versions as `added` / `removed` / `changed` / `unchanged`
    * by content digest — the planning step of an incremental pipeline run
    * (re-embed/re-score only `added`+`changed`, retire `removed`, skip the
    * usually-overwhelming `unchanged` majority instead of reprocessing
    * 100 TB because 0.1% moved).
    *
    * Shape at 100 TB: each side reduces to (id, md5(text)) — a narrow
    * projection shipping 16-byte digests, never text — then ONE full-outer
    * shuffle join on the id. Corpus stores bucketed by `idCol` (e.g.
    * [[graft.sources.BlockModelStore]]-style layouts) make that join
    * co-located and shuffle-free. Output: (idCol, status). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // digest never null even for null text (sentinel), so presence is
    // carried by the digest itself and a null-text document still diffs
    val dig = (c: Column) => coalesce(md5(c.cast("binary")), lit("<null>"))
    val o = oldDf.select(col(idCol), dig(col(textCol)).as("_dig_old"))
    val n = newDf.select(col(idCol), dig(col(textCol)).as("_dig_new"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("_dig_old").isNull, lit("added"))
          .when(col("_dig_new").isNull, lit("removed"))
          .when(col("_dig_old") === col("_dig_new"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Corpus-level LINE deduplication (the RefinedWeb/CCNet recipe): a line
    * whose exact text occurs more than `maxOccurrences` times ACROSS the
    * corpus (boilerplate: headers, nav bars, license blurbs) is dropped
    * from every document; documents reassemble in original line order
    * (empty string when nothing survives, so row count is preserved).
    *
    * Output schema is exactly (idCol, textCol) — the rebuilt text REPLACES
    * the input row; other input columns are dropped. Callers piping a
    * wider corpus table join the result back on `idCol` to retain them
    * (the narrow output keeps the reassembly shuffle free of payload
    * columns, which is the right default at 100 TB).
    *
    * Shape at 100 TB: lines explode narrowly; the occurrence count and
    * the drop anti-join shuffle a 128-bit line digest, never the line
    * text; reassembly groups by doc id with state bounded by document
    * size. No broadcast assumption on the hot set — boilerplate can be
    * corpus-scale, AQE picks the join strategy. */
  def dedupLines(df: DataFrame, textCol: String, idCol: String,
      maxOccurrences: Int = 1, sepRegex: String = "\n",
      joiner: String = "\n"): DataFrame = {
    val lines = df.select(col(idCol),
        posexplode(split(col(textCol), sepRegex)).as(Seq("pos", "line")))
      .withColumn("lh", md5(col("line")))
    val hot = lines.groupBy(col("lh")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxOccurrences).select("lh")
    val rebuilt = lines.join(hot, Seq("lh"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("line")))),
        x => x.getField("line")), joiner).as("_rebuilt"))
    df.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("_rebuilt"), lit("")).as(textCol))
  }

  /** [[dedupLines]] at PARAGRAPH granularity — the other unit the
    * RefinedWeb recipe dedups at (Penedo et al. 2023 §4.2): blocks
    * separated by blank lines. Runs of 3+ newlines canonicalize to the
    * two-newline joiner on reassembly (the standard lossy normalization —
    * paragraph identity, not byte layout, is what dedup keys on). */
  def dedupParagraphs(df: DataFrame, textCol: String, idCol: String,
      maxOccurrences: Int = 1): DataFrame =
    dedupLines(df, textCol, idCol, maxOccurrences,
      sepRegex = "\n{2,}", joiner = "\n\n")

  /** Corpus boilerplate REPORT — the audit companion to [[dedupLines]]:
    * the text and occurrence count of every line appearing more than
    * `maxOccurrences` times across the corpus (the headers/nav/license
    * blurbs line dedup would strip). One explode + one count aggregation;
    * map-side partial aggregation collapses repeats before the shuffle,
    * so shuffle volume is per-partition-distinct lines, and the output is
    * hot-set-sized. Output: (line, n). */
  def boilerplateReport(df: DataFrame, textCol: String,
      maxOccurrences: Int = 1): DataFrame =
    df.select(explode(split(col(textCol), "\n")).as("line"))
      .groupBy(col("line")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxOccurrences)

  /** Exact substring-duplication report (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): maximal token spans
    * whose every k-token window occurs at least `minCount` times across
    * the corpus. The paper builds a corpus suffix array — inherently
    * single-machine; the distributed equivalent hashes every k-token
    * window, counts occurrences, and merges runs of consecutive
    * duplicated window starts into maximal spans (a span of t duplicated
    * tokens is exactly a run of t−k+1 duplicated windows, so the two
    * formulations agree for spans ≥ k).
    *
    * Shape at 100 TB: the window stream is one row per token position
    * carrying only (id, pos, 64-bit window hash) — the count shuffles the
    * hash with map-side combine, never window text; the hot set joins
    * back by hash (AQE broadcasts it when duplication is sparse); the
    * island merge windows per document — parallelism = corpus size, state
    * = document length. No all-pairs anything.
    *
    * Tokens are whitespace runs (the [[TextAnalysis.packSequences]]
    * convention, not the lowercased shingle alphabet — span positions
    * must be recoverable offsets into the original text). Documents
    * shorter than k tokens cannot host a span and are skipped.
    * Output: (idCol, span_start, span_tokens), positions 0-based. */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minCount: Int = 2): DataFrame = {
    // positional gram hashes via the native kernel (one tokenize + one
    // XXH64 per position) — bit-identical to the composed
    // transform/slice/concat_ws/xxhash64 chain it replaces, which paid an
    // interpreted lambda and three allocations per token position
    val grams = df.select(col(idCol),
      posexplode(graft.functions.TokenNgramHashes.column(col(textCol), k))
        .as(Seq("pos", "gh")))
    val hot = grams.groupBy(col("gh")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount).select("gh")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    grams.join(hot, Seq("gh"))
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("grp"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) - min(col("pos")) + k).cast("long")
          .as("span_tokens"))
      .drop("grp")
  }

  /** Removal companion to [[duplicatedSpans]]: rebuild every document
    * with its duplicated spans cut out (whitespace canonicalized to one
    * space). Symmetric removal — EVERY occurrence of a duplicated span is
    * dropped, in contrast to Lee et al.'s keep-one-occurrence; pair with
    * a canonical-selection pass when one copy should survive (documented
    * deviation: symmetric removal needs no cross-document coordination,
    * so the rebuild stays a narrow per-document map under the span join).
    * Row count is preserved: span-free documents pass through verbatim
    * (modulo whitespace canonicalization), fully-duplicated documents
    * become empty strings. Output schema: (idCol, textCol). */
  def stripDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minCount: Int = 2): DataFrame = {
    val spans = duplicatedSpans(df, idCol, textCol, k, minCount)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_tokens")))
        .as("_spans"))
    df.select(col(idCol), split(trim(col(textCol)), "\\s+").as("_toks"))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol), array_join(
        filter(col("_toks"), (_, i) =>
          // exists over a NULL span list (span-free doc) is NULL → keep
          !coalesce(exists(col("_spans"),
            s => i >= s.getField("span_start") &&
              i < s.getField("span_start") + s.getField("span_tokens")),
            lit(false))),
        " ").as(textCol))
  }

  /** Cross-source n-gram containment report — the dataset-overlap audit
    * run before mixing corpora (how much of source A's shingle set also
    * appears in source B; asymmetric by design: a small corpus can be
    * fully contained in a large one without the converse). One
    * distinct-(source, shingle-hash) pass — map-side partial dedup, then
    * a self-join on the 60-bit shingle hash whose output is bounded by
    * (shingles shared) × (sources sharing them)²; with S sources the
    * report is ≤ S² rows. Output: (src_a, src_b, n_common, containment)
    * where containment = |sh(A) ∩ sh(B)| / |sh(A)|. */
  def sourceOverlap(df: DataFrame, srcCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val sh = df.select(col(srcCol).as("src"),
      explode(TextAnalysis.hashedShingles(textCol, n)).as("sh")).distinct()
    val tot = sh.groupBy(col("src")).agg(count(lit(1)).as("n_sh"))
    sh.select(col("src").as("src_a"), col("sh"))
      .join(sh.select(col("src").as("src_b"), col("sh")), Seq("sh"))
      .filter(col("src_a") =!= col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(tot.select(col("src").as("src_a"), col("n_sh").as("n_a")),
        Seq("src_a"))
      .select(col("src_a"), col("src_b"), col("n_common"),
        round(col("n_common").cast("double") / col("n_a"), 6)
          .as("containment"))
  }

  /** 60-bit SimHash over distinct word tokens: bit b of the sketch is the
    * sign of Σ_tokens (±1 per token-hash bit b); hash bit b lands at
    * sketch position 59−b. Near-duplicates have small Hamming distance.
    * Native kernel ([[graft.functions.SimHashSketch]]) — the equivalent
    * SQL `aggregate(zip_with(...))` chain re-evaluated the token md5 once
    * per bit through interpreted lambda eval. */
  def simhash(t: String): Column =
    graft.functions.SimHashSketch.column(col(t))

  /** Hamming distance between two simhash sketches. */
  def hamming(a: Column, b: Column): Column =
    call_function("bit_count", a.bitwiseXOR(b))

  /** SimHash near-duplicate pairs by pigeonhole banding: split the 60-bit
    * sketch into `maxHamming + 1` equal chunks — any pair within
    * `maxHamming` bit flips must agree on at least one whole chunk — then
    * equality-join per chunk and verify exact Hamming distance. The
    * shuffle carries only (chunk index, chunk value, id): candidate volume
    * is governed by chunk width, the verify is one xor+popcount per pair.
    * 60 must divide evenly; maxHamming = 2, 3, 4 → 20-, 15-, 12-bit chunks. */
  def simhashNearDups(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3): DataFrame =
    hammingNearDups(
      df.select(col(idCol), simhash(textCol).as("_sk")), "_sk", idCol,
      maxHamming)

  /** Pigeonhole-banded Hamming near-dup pairs over ANY 60-bit sketch
    * column — the [[simhashNearDups]] machinery decoupled from text so
    * other modalities plug in (perceptual image hashes:
    * [[Multimodal.aHash]] feeds this for image near-dup detection).
    * Split the sketch into `maxHamming + 1` equal chunks — a pair within
    * `maxHamming` flips must agree on at least one whole chunk —
    * equality-join per chunk, verify exact xor-popcount. Shuffles only
    * (chunk, value, id). */
  def hammingNearDups(df: DataFrame, sketchCol: String, idCol: String,
      maxHamming: Int = 3): DataFrame = {
    val t = df.select(col(idCol).as("doc_id"), col(sketchCol).as("sk"))
    val (_, _, chunkVals) = sketchChunks(col("sk"), maxHamming)
    val banded = t.select(col("doc_id"),
      posexplode(chunkVals).as(Seq("chunk", "cv")))
    bothEnds(bucketPairs(banded, banded, Seq("chunk", "cv"), ordered = true),
        t, "sk")
      .withColumn("hamming", hamming(col("sk_a"), col("sk_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
  }

  /** CONTAINMENT pairs — near-superset detection. Jaccard-driven dedup is
    * blind to asymmetric duplication: a document quoted whole inside a
    * much larger one has containment |A∩B|/|A| ≈ 1 but Jaccard ≈ |A|/|B|,
    * under every MinHash band threshold. This operator reports pairs where
    * EITHER direction's exact shingle containment reaches `minContainment`.
    *
    * Candidates cannot come from MinHash (it sketches Jaccard, exactly the
    * measure that hides these pairs). Instead: every document posts its
    * full hashed-shingle set to an inverted index and probes with its
    * `sampleK` SMALLEST shingle hashes — a bottom-k sketch, i.e. a uniform
    * sample of the doc's shingles, since the hash order is independent of
    * the text. If c(A→B) ≥ τ, each of A's sampled shingles lands in B
    * w.p. ≥ τ, so the pair is missed only with prob ≤ (1−τ)^k — 0.4% at
    * τ=0.5, k=8 — and every candidate is then verified EXACTLY (one merge
    * scan per pair), so false candidates cost time, never correctness.
    *
    * Scale shape: the probe side carries k hashes/doc; the posting side is
    * the corpus shingle volume but joins on a long key with AQE deciding
    * the build side. Hot shingles (boilerplate) would quadratically blow
    * the candidate set — `maxPosting` drops their posting lists wholesale
    * (broadcast anti-join, same spam defense as [[minhashCandidates]]'s
    * band cap); a contained pair still surfaces through its other sampled
    * shingles. Containments are emitted as unrounded integer-ratio doubles
    * (exact division results are bit-identical cross-engine). */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
      minContainment: Double = 0.5, sampleK: Int = 8,
      maxPosting: Int = Int.MaxValue): DataFrame = {
    val sh = shingled(df, textCol, col(idCol))
    // verify by joining the shingle table once per pair SIDE: on a
    // duplication-heavy corpus candidate pairs P ≫ documents, so the
    // dominant shuffle is the array-carrying pair rows — this shape moves
    // P of them (sh_a attaches, then sh_b), where the explode-and-regroup
    // alternative moves 2P into a hash agg whose max(when) compares
    // array<long> values row by row. The shingle kernel re-evaluates per
    // join side (corpus-linear, no shuffle) — cheaper than pinning a
    // corpus-scale array column at 100 TB.
    bothEnds(containmentCandidatesFrom(sh, sampleK, maxPosting), sh, "sh")
      .withColumn("inter",
        graft.functions.SetSimilarity.sortedIntersectSize(
          col("sh_a"), col("sh_b")).cast("long"))
      .withColumn("n_a", size(col("sh_a")).cast("long"))
      .withColumn("n_b", size(col("sh_b")).cast("long"))
      .withColumn("cont_a", col("inter").cast("double") / col("n_a").cast("double"))
      .withColumn("cont_b", col("inter").cast("double") / col("n_b").cast("double"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= minContainment)
      .select("id_a", "id_b", "n_a", "n_b", "inter", "cont_a", "cont_b")
  }

  /** [[containmentPairs]]'s candidate stage — public so scale probes can
    * measure candidate VOLUME separately from wall time (duplication is
    * what the operator detects, so candidate growth on a duplicated
    * corpus is signal, not overhead — a probe ratio is only attributable
    * once the pair counts are known). */
  def containmentCandidates(df: DataFrame, textCol: String, idCol: String,
      sampleK: Int = 8, maxPosting: Int = Int.MaxValue): DataFrame =
    containmentCandidatesFrom(shingled(df, textCol, col(idCol)), sampleK,
      maxPosting)

  // one construction site for the shingled frame; note the posts/probes/
  // verify subtrees still evaluate it independently (lazy, no persist —
  // house style), so the kernel runs ~4x per job by design (probes,
  // posts, and once per verify join side) — corpus-linear CPU, cheaper
  // than materializing a corpus-scale array column
  private def containmentCandidatesFrom(sh: DataFrame, sampleK: Int,
      maxPosting: Int): DataFrame = {
    val posts = dropHot(
      Seq(sh.select(col("doc_id"), explode(col("sh")).as("h"))), Seq("h"),
      maxPosting).head
    // bottom-k probe: hashedShingles is sorted ascending, so the k
    // smallest hashes are a prefix slice — no extra sort
    val probes = sh.select(col("doc_id").as("probe_id"),
      explode(slice(col("sh"), 1, sampleK)).as("h"))
    probes.join(posts, "h")
      .filter(col("probe_id") =!= col("doc_id"))
      .select(least(col("probe_id"), col("doc_id")).as("id_a"),
        greatest(col("probe_id"), col("doc_id")).as("id_b"))
      .distinct()
  }
}
