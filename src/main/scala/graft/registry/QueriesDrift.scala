package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryShared._
import graft.util.Checkpoints.scoped

/** Query registry — LLM pipeline: the drift matrix, COMPLETE as of r14:
  * every one of {PSI, KS, rank-sum, chi², embedding} has all three
  * single-lens forms — pairwise, by-slice ("which source drifted?"),
  * and a windowed streaming twin — AND the windowed-BY-slice
  * composition ("which source drifted, per day"): q196–q199 for
  * PSI / KS / rank-sum / chi², q203 for the embedding member. Every
  * windowed-BY cell compares against the same DRIVER-HELD global
  * baseline (the serving convention — a deployed monitor alarms each
  * slice against the trained corpus; the batch by-slice forms' rest-
  * relative semantics stay batch-only, where cross-slice state is one
  * aggregation away). Plus Theil–Sen trends and the one-call reports:
  * q193 (one slice, every lens), its r13 sibling q200 (every slice,
  * every lens, one shared (slice, value) aggregation), and the windowed
  * gates — all four serving monitors in ONE stateful aggregation: q201
  * (one wide alert row per day) and q202 (per (day, slice) — "which
  * cohort drifted today, by every lens").
  *
  * Each entry is one [[Query]]; shared fixtures and oracle fragments live in [[QueryShared]]. */
object QueriesDrift {

  /** `(source, q = 6 dp quality score, extra…)` over the documents — the
    * scored projection every source-vs-rest drift query pins once. */
  private def scoredSources(s: SparkSession, dir: String,
      extra: org.apache.spark.sql.Column*): DataFrame =
    Tables.load(s, dir, "documents").select(col("source") +:
      round(ext.TextAnalysis.qualityScore("text"), 6).as("q") +: extra: _*)

  private[graft] val queries: Seq[Query] = Seq(

    // ext: PSI drift monitor — src9's quality distribution vs everyone
    // else's, 10 fixed bins on the ROUNDED score (engine-stable edges)
    Query("q103_psi_drift", (s, dir) => scoped { sc =>
      // psiDrift evaluates each side twice (row count + bucket counts)
      // and both sides filter the SAME scored projection — pin it so the
      // quality regex runs once, not four times
      val docs = sc.pin(scoredSources(s, dir))
      ext.Outliers.psiDrift(
        docs.filter(col("source") =!= "src9"),
        docs.filter(col("source") === "src9"), "q", 10, 0.0, 1.0)
    }, Seq(col("bucket")),
      PsiDriftSql),


    // ext: embedding drift between the even/odd halves — the alarm that
    // tells the appended store its centroids went stale
    Query("q164_embedding_drift", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      ext.Similarity.embeddingDrift(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1))
    }, Nil,
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x
             FROM embeddings),
         na AS (SELECT CAST(count(*) AS BIGINT) AS n_base FROM e
                WHERE vec_id % 2 = 0),
         nb AS (SELECT CAST(count(*) AS BIGINT) AS n_live FROM e
                WHERE vec_id % 2 = 1),
         ma AS (SELECT list(m ORDER BY j) AS m FROM (
           SELECT g.j AS j, avg(x[g.j]) AS m
           FROM e, generate_series(1, 64) AS g(j)
           WHERE vec_id % 2 = 0 GROUP BY g.j)),
         mb AS (SELECT list(m ORDER BY j) AS m FROM (
           SELECT g.j AS j, avg(x[g.j]) AS m
           FROM e, generate_series(1, 64) AS g(j)
           WHERE vec_id % 2 = 1 GROUP BY g.j)),
         c AS (SELECT
             list_sum(list_transform(generate_series(1, 64),
               j -> ma.m[j] * mb.m[j])) AS ab,
             sqrt(list_sum(list_transform(generate_series(1, 64),
               j -> ma.m[j] * ma.m[j]))) AS nrm_a,
             sqrt(list_sum(list_transform(generate_series(1, 64),
               j -> mb.m[j] * mb.m[j]))) AS nrm_b,
             sqrt(list_sum(list_transform(generate_series(1, 64),
               j -> (ma.m[j] - mb.m[j]) * (ma.m[j] - mb.m[j])))) AS l2
           FROM ma, mb)
         SELECT n_base, n_live,
           round(CASE WHEN nrm_a > 0 AND nrm_b > 0
             THEN ab / (nrm_a * nrm_b) END, 6) AS mean_cos,
           round(l2, 6) AS mean_l2
         FROM na, nb, c"""),


    // ext: daily PSI sweep of the event value vs the first-week baseline
    // — the drift monitor form of q103 ("when did it drift, how fast")
    Query("q168_psi_over_time", (s, dir) =>
      ext.Outliers.psiOverTime(Tables.load(s, dir, "events"), "ts",
          "value", col("ts") < lit("2024-01-08").cast("timestamp"),
          nBuckets = 10, lo = 0.0, hi = 500.0),
      Seq(col("ws")),
      // same fixed-range bucketing + 0.5 smoothing as q103's psi; per-day
      // totals replace the single live total
      """WITH bb AS (SELECT ts,
             CAST(least(greatest(
               floor((value - 0.0) / 500.0 * 10), 0.0), 9.0) AS INT)
               AS bucket
           FROM events),
         base AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_base
                  FROM bb WHERE ts < TIMESTAMP '2024-01-08'
                  GROUP BY bucket),
         tbl AS (SELECT CAST(count(*) AS BIGINT) AS tb FROM bb
                 WHERE ts < TIMESTAMP '2024-01-08'),
         live AS (SELECT date_trunc('day', ts) AS ws, bucket,
                    CAST(count(*) AS BIGINT) AS n_live
                  FROM bb GROUP BY ws, bucket),
         tw AS (SELECT ws, CAST(sum(n_live) AS BIGINT) AS tw
                FROM live GROUP BY ws),
         grid AS (SELECT tw.ws, tw.tw, g.b AS bucket
                  FROM tw, generate_series(0, 9) AS g(b)),
         terms AS (SELECT grid.ws, grid.tw,
             ((coalesce(l.n_live, 0) + 0.5)
                / (CAST(grid.tw AS DOUBLE) + 5.0)
              - (coalesce(base.n_base, 0) + 0.5)
                / (CAST(tbl.tb AS DOUBLE) + 5.0))
             * ln(((coalesce(l.n_live, 0) + 0.5)
                  / (CAST(grid.tw AS DOUBLE) + 5.0))
                / ((coalesce(base.n_base, 0) + 0.5)
                  / (CAST(tbl.tb AS DOUBLE) + 5.0))) AS term
           FROM grid
           LEFT JOIN base ON base.bucket = grid.bucket
           LEFT JOIN live l ON l.ws = grid.ws AND l.bucket = grid.bucket,
             tbl)
         SELECT ws, tw AS n, round(sum(term), 6) AS psi
         FROM terms GROUP BY ws, tw ORDER BY ws"""),


    // ext: Theil–Sen robust trend of the daily mean value per event type
    // — median of pairwise slopes over the (tiny) pre-aggregated series
    Query("q169_theil_sen", (s, dir) => {
      val daily = Tables.load(s, dir, "events")
        .groupBy(col("event_type"),
          window(col("ts"), "1 day").getField("start").as("d"))
        .agg(round(avg(col("value")), 6).as("y"))
        .select(col("event_type"),
          (unix_micros(col("d")) / lit(86400000000L)).cast("double")
            .as("x"),
          col("y"))
      ext.Outliers.trendTheilSen(daily, "event_type", "x", "y")
    }, Seq(col("event_type")),
      // slopes are ratios of rounded daily means (identical doubles both
      // engines); quantile_cont ≡ Spark percentile bit-for-bit (q116 pin)
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS d,
             round(avg(value), 6) AS y
           FROM events GROUP BY event_type, d),
         pts AS (SELECT event_type,
             CAST(epoch_us(d) // 86400000000 AS DOUBLE) AS x, y
           FROM daily),
         pr AS (SELECT a.event_type,
             (b.y - a.y) / (b.x - a.x) AS slope
           FROM pts a JOIN pts b
             ON a.event_type = b.event_type AND a.x < b.x)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
           quantile_cont(slope, 0.5) AS slope
         FROM pr GROUP BY event_type ORDER BY event_type"""),


    // ext: two-sample Kolmogorov–Smirnov drift test — src9's quality
    // distribution vs everyone else's, the unbinned twin of q103's PSI
    // monitor (integer-exact ECDF gaps; asymptotic 5% critical value)
    Query("q184_ks_drift", (s, dir) => scoped { sc =>
      // the member returns its result already pinned: the scope keeps it
      // as the result and releases only the corpus pin
      val docs = sc.pin(scoredSources(s, dir))
      ext.Eval.ksTest(
        docs.filter(col("source") =!= "src9"),
        docs.filter(col("source") === "src9"), "q")
    }, Nil,
      // same smoothing arithmetic ORDER as the Spark side: (cnt + 0.5) /
      // (total + 0.5 * n); psi rounds at 6 dp over the ln
      // integer-exact ECDF gaps: D's argmax runs on |cna·n_b − cnb·n_a|
      // (pure int64); only the final d / d_crit ratios touch doubles, with
      // the SAME arithmetic shape as Eval.ksTest
      KsDriftSql),


    // ext: per-source KS drift — every source's quality distribution vs
    // the rest of the corpus, the sliced view of q184 ("which source
    // drifted?"); one corpus pass, grids bounded by score granularity
    Query("q185_ks_by_source", (s, dir) => scoped { sc =>
      ext.Eval.ksTestBy(sc.pin(scoredSources(s, dir)), "source", "q")
    }, Seq(col("source")),
      // the q184 integer-gap machinery sliced per source: the dense
      // (source × value) grid evaluates every group's ECDF at every global
      // jump point; rest-side cumulatives derive as (global − own)
      KsBySql),


    // ext: WINDOWED KS drift — q184's statistic as a per-day monitor
    // against the first-week baseline (the drift family's serving twin:
    // one stateful windowed aggregation, granularity-capped state; the
    // same plan runs under Structured Streaming, suite-pinned)
    Query("q186_ks_drift_windowed", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("ts"), round(col("value"), 2).as("v"))
      val (bv, bc) = ext.Eval.ksBaseline(
        ev.filter(col("ts") < lit("2024-01-08").cast("timestamp")), "v")
      ext.Eval.ksDriftWindowed(ev, "ts", "v", bv, bc)
    }, Seq(col("ws")),
      // the q184 integer-gap machinery per day against the first-week
      // baseline: the dense (window × value) grid evaluates each window's
      // ECDF at every jump point of either side
      KsWinSql),

    // ext: chi-squared CATEGORICAL drift — src9's language mix vs the
    // rest of the corpus (the drift member for category columns, where
    // PSI's numeric bins and KS's ordering don't apply)
    Query("q187_chi2_drift", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("source"), col("lang"))
      ext.Outliers.chiSquareDrift(
        docs.filter(col("source") =!= "src9"),
        docs.filter(col("source") === "src9"), "lang")
    }, Nil,
      // Pearson chi2 over the 2×k (slice, lang) table; expected counts in
      // doubles with the exact same multiply-then-divide shape; chi2/crit
      // rounded 6 dp (k-term sum order), flag compares the rounded values
      Chi2DriftSql),

    // ext: Mann–Whitney rank-sum drift — src9's quality vs the rest, the
    // LOCATION-shift member beside q184's any-shape KS (same slice, so
    // the two statistics read together: KS fires on any change, rank-sum
    // says specifically "moved up/down")
    Query("q188_rank_sum", (s, dir) => scoped { sc =>
      val docs = sc.pin(scoredSources(s, dir))
      ext.Eval.rankSumTest(
        docs.filter(col("source") =!= "src9"),
        docs.filter(col("source") === "src9"), "q")
    }, Nil,
      // mid-rank machinery over the per-value table (the q184 shape); U
      // and the tie term are exact (0.5-multiples / integer sums), z is
      // one fixed expression both engines replay
      RankSumSql),

    // ext: WINDOWED chi-squared drift — each day's event-type mix vs the
    // first-week baseline (q187's statistic as a serving monitor; one
    // stateful windowed aggregation, category-capped state)
    Query("q189_chi2_windowed", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val (bcnt, _) = ext.Outliers.chiSquareBaseline(
        ev.filter(col("ts") < lit("2024-01-08").cast("timestamp")),
        "event_type")
      ext.Outliers.chiSquareDriftWindowed(ev, "ts", "event_type", bcnt)
    }, Seq(col("ws")),
      // q187's chi2 per day vs the first-week baseline; cells with a count
      // on either side only (an absent category is not part of that
      // window's 2xk table); chi2/crit rounded 6 dp like the batch op
      Chi2WinSql),

    // ext: WINDOWED rank-sum drift — each day's value location vs the
    // first-week baseline, sharing q186's ksBaseline artifact (one
    // snapshot pass serves both unbinned monitors)
    Query("q190_rank_sum_windowed", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("ts"), round(col("value"), 2).as("v"))
      val (bv, bc) = ext.Eval.ksBaseline(
        ev.filter(col("ts") < lit("2024-01-08").cast("timestamp")), "v")
      ext.Eval.rankSumDriftWindowed(ev, "ts", "v", bv, bc)
    }, Seq(col("ws")),
      // q188's rank machinery per day against the first-week baseline on
      // the dense (window x value) grid; zero-count grid cells contribute
      // nothing to rb/ties so the per-window sums equal the merged walk
      RsWinSql),
    // ext: per-source rank-sum drift — every source's quality LOCATION vs
    // the rest (q185's sliced view for the rank-sum statistic; one global
    // mid-rank table serves every group, z > 0 = the source ranks higher)
    Query("q191_rank_sum_by_source", (s, dir) => scoped { sc =>
      ext.Eval.rankSumTestBy(sc.pin(scoredSources(s, dir)), "source", "q")
    }, Seq(col("source")),
      // one global mid-rank table (the q188 machinery), per-source weighted
      // sums; rest side = global minus own, same fixed u/z shapes
      RankSumBySql),
    // ext: per-source chi-squared drift — every source's LANGUAGE MIX vs
    // the rest (the categorical by-slice view; rest = global minus own,
    // one (source, lang) aggregation serves every slice)
    Query("q192_chi2_by_source", (s, dir) =>
      ext.Outliers.chiSquareDriftBy(
        Tables.load(s, dir, "documents").select(col("source"), col("lang")),
        "source", "lang"),
      Seq(col("source")),
      // the q187 2xk machinery per slice: rest-side counts = global - own
      // on the dense (source x lang) grid; chi2/crit rounded 6 dp
      Chi2BySql),

    // ext: ONE-CALL drift report — src9 vs the rest through every lens
    // (PSI / KS / rank-sum / chi2), each row bit-identical to the member
    // statistic it reshapes
    Query("q193_drift_report", (s, dir) => scoped { sc =>
      val docs = sc.pin(scoredSources(s, dir, col("lang")))
      ext.Outliers.driftReport(
        docs.filter(col("source") =!= "src9"),
        docs.filter(col("source") === "src9"), "q", "lang")
    }, Nil,
      // composes the four VERIFIED member oracles as subqueries — a report
      // row is definitionally the member's own number reshaped
      s"""SELECT 'psi' AS stat, round(sum(psi), 6) AS statistic,
           CAST(0.25 AS DOUBLE) AS threshold,
           CASE WHEN round(sum(psi), 6) > 0.25 THEN 1 ELSE 0 END
             AS drifted
         FROM ($PsiDriftSql)
         UNION ALL
         SELECT 'ks', d, d_crit, drifted FROM ($KsDriftSql)
         UNION ALL
         SELECT 'rank_sum', abs(z), CAST(1.96 AS DOUBLE), drifted
         FROM ($RankSumSql)
         UNION ALL
         SELECT 'chi2', chi2, chi2_crit, drifted FROM ($Chi2DriftSql)
         ORDER BY stat"""),

    // ext: per-source PSI drift — every source's binned quality
    // distribution vs the rest (q103's sliced view, the binned member of
    // the by-slice family beside q185/q191/q192; rest-side bucket counts
    // derive as global − own, one (source, bucket) aggregation)
    Query("q194_psi_by_source", (s, dir) => scoped { sc =>
      ext.Outliers.psiDriftBy(sc.pin(scoredSources(s, dir)), "source", "q",
        10, 0.0, 1.0)
    }, Seq(col("source")),
      // q103's psi machinery per slice on the dense (source x bucket) grid:
      // rest-side counts = global - own; per-term round 6 dp then the sum
      // rounds 6 dp, the exact shapes psiDriftBy emits
      PsiBySql),

    // ext: per-label embedding drift — each label cluster's mean
    // embedding vs the rest of the corpus's (the embedding member of the
    // by-slice family: "which source's embedding space moved?"); rest
    // means derive from the per-slice (mean, count) table, one corpus pass
    Query("q195_embedding_drift_by", (s, dir) =>
      ext.Similarity.embeddingDriftBy(
        Tables.load(s, dir, "embeddings"), "label", "embedding"),
      Seq(col("label")),
      // the q164 mean-vector machinery per slice: per-label per-dim means,
      // rest mean derived per dim as (sum_g n_g*m_g - n_g*m_g) / (n - n_g)
      // — the same global-minus-own arithmetic embeddingDriftBy runs
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS x
             FROM embeddings
             WHERE label IS NOT NULL AND embedding IS NOT NULL),
         dims AS (SELECT label, g.j AS j, avg(x[g.j]) AS mj,
                    CAST(count(*) AS BIGINT) AS n_g
                  FROM e, generate_series(1, 64) AS g(j)
                  GROUP BY label, g.j),
         gsum AS (SELECT j, sum(mj * CAST(n_g AS DOUBLE)) AS sj
                  FROM dims GROUP BY j),
         tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n
                 FROM (SELECT label, any_value(n_g) AS n_g
                       FROM dims GROUP BY label)),
         rest AS (SELECT d.label, d.n_g, n, d.mj,
                    CASE WHEN n > d.n_g
                      THEN (gl.sj - d.mj * CAST(d.n_g AS DOUBLE)) /
                        CAST(n - d.n_g AS DOUBLE) END AS rj
                  FROM dims d JOIN gsum gl ON gl.j = d.j, tot),
         per AS (SELECT label, n_g, n,
                   sum(mj * rj) AS dot, sum(mj * mj) AS na2,
                   sum(rj * rj) AS nb2,
                   sum((mj - rj) * (mj - rj)) AS l22
                 FROM rest GROUP BY label, n_g, n)
         SELECT label, n_g, CAST(n - n_g AS BIGINT) AS n_rest,
           round(CASE WHEN na2 > 0 AND nb2 > 0
             THEN dot / sqrt(na2 * nb2) END, 6) AS mean_cos,
           round(CASE WHEN n > n_g THEN sqrt(l22) END, 6) AS mean_l2
         FROM per ORDER BY label"""),

    // ext: WINDOWED KS drift BY SLICE — q186's per-day monitor with the
    // event type in the grouping ("which event type's value distribution
    // drifted, per day"); same stateful aggregate, per-(window, slice)
    // capped state, every cell vs the same first-week baseline
    Query("q196_ks_windowed_by", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("ts"), col("event_type"), round(col("value"), 2).as("v"))
      val (bv, bc) = ext.Eval.ksBaseline(
        ev.filter(col("ts") < lit("2024-01-08").cast("timestamp")), "v")
      ext.Eval.ksDriftWindowed(ev, "ts", "v", bv, bc,
        slice = Some("event_type"))
    }, Seq(col("ws"), col("event_type")),
      // q186's dense-grid machinery with the slice in the window key: each
      // (day, event type) cell's ECDF vs the shared first-week baseline
      ksWinBySqlF("event_type", "event_type")),

    // ext: WINDOWED rank-sum drift BY SLICE — q190's location monitor per
    // (day, event type), sharing the same ksBaseline artifact (one
    // snapshot pass serves both unbinned windowed-by monitors)
    Query("q197_rank_sum_windowed_by", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("ts"), col("event_type"), round(col("value"), 2).as("v"))
      val (bv, bc) = ext.Eval.ksBaseline(
        ev.filter(col("ts") < lit("2024-01-08").cast("timestamp")), "v")
      ext.Eval.rankSumDriftWindowed(ev, "ts", "v", bv, bc,
        slice = Some("event_type"))
    }, Seq(col("ws"), col("event_type")),
      // q190's rank machinery per (day, event type) against the first-week
      // baseline on the dense (window x slice x value) grid
      rsWinBySqlF("event_type", "event_type")),

    // ext: WINDOWED chi-squared drift BY SLICE — each (day, user cohort)'s
    // event-type mix vs the first-week global baseline ("which cohort's
    // behavior mix shifted, per day"); cohort = user_id % 4, the
    // categorical slice the events table affords
    Query("q198_chi2_windowed_by", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .withColumn("cohort", (col("user_id") % 4).cast("string"))
      val (bcnt, _) = ext.Outliers.chiSquareBaseline(
        ev.filter(col("ts") < lit("2024-01-08").cast("timestamp")),
        "event_type")
      ext.Outliers.chiSquareDriftWindowed(ev, "ts", "event_type",
        bcnt, slice = Some("cohort"))
    }, Seq(col("ws"), col("cohort")),
      // q189's chi2 machinery per (day, user cohort) vs the first-week
      // baseline; cells with a count on either side only, chi2/crit 6 dp
      chi2WinBySqlF("CAST(user_id % 4 AS VARCHAR)", "cohort")),

    // ext: WINDOWED PSI drift BY SLICE — the binned member of the
    // windowed-by composition: each (day, event type)'s value histogram
    // vs the first-week baseline, nBuckets counters per cell
    Query("q199_psi_windowed_by", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val (bcm, bt) = ext.Outliers.psiBaseline(
        ev.filter(col("ts") < lit("2024-01-08").cast("timestamp")),
        "value", 10, 0.0, 500.0)
      ext.Outliers.psiWindowed(ev, "ts", "value", bcm, bt, 10,
        0.0, 500.0, slice = Some("event_type"))
    }, Seq(col("ws"), col("event_type")),
      // q168's smoothing arithmetic per (day, event type) cell against the
      // shared first-week baseline histogram; psi rounds 6 dp over the sum
      psiWinBySqlF("event_type", "event_type", "value")),

    // ext: ONE-CALL BY-SLICE drift report — every source through every
    // lens (PSI / KS / rank-sum / chi2 vs the rest of the corpus), the
    // per-slice sibling of q193; ONE (source, value) aggregation feeds
    // the three value lenses, each row ≡ the by-slice member it reshapes
    Query("q200_drift_report_by", (s, dir) => scoped { sc =>
      ext.Outliers.driftReportBy(sc.pin(scoredSources(s, dir, col("lang"))),
        "source", "q", "lang")
    }, Nil,
      // composes the four VERIFIED by-slice member oracles as subqueries —
      // a report row is definitionally the member's own number reshaped
      // (the q193 pattern per slice)
      s"""SELECT source, 'psi' AS stat, CAST(psi AS DOUBLE) AS statistic,
           CAST(0.25 AS DOUBLE) AS threshold, drifted
         FROM ($PsiBySql)
         UNION ALL
         SELECT source, 'ks', d, d_crit, drifted FROM ($KsBySql)
         UNION ALL
         SELECT source, 'rank_sum', abs(z), CAST(1.96 AS DOUBLE), drifted
         FROM ($RankSumBySql)
         UNION ALL
         SELECT source, 'chi2', chi2, chi2_crit, drifted
         FROM ($Chi2BySql)
         ORDER BY source, stat"""),

    // ext: THE NIGHTLY DRIFT GATE AS ONE STATEFUL PASS — q186 + q189 +
    // q190 + windowed PSI evaluated in a single windowed aggregation
    // (one state store / shuffle / watermark instead of four monitors
    // over the same stream); one wide alert row per day, every field
    // bit-identical to the standalone windowed member
    Query("q201_drift_gate_windowed", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("ts"), round(col("value"), 2).as("v"),
          col("event_type"))
      val week = ev.filter(col("ts") < lit("2024-01-08").cast("timestamp"))
      val (bv, bc) = ext.Eval.ksBaseline(week, "v")
      val (bcats, _) = ext.Outliers.chiSquareBaseline(week, "event_type")
      val (bb, bt) = ext.Outliers.psiBaseline(week, "v", 10, 0.0, 500.0)
      ext.Outliers.driftReportWindowed(ev, "ts", "v",
        "event_type", bv, bc, bcats, bb, bt, 10, 0.0, 500.0)
    }, Seq(col("ws")),
      // joins the three VERIFIED windowed-member oracles on ws plus the
      // windowed-psi arithmetic (the q168/q199 smoothing shapes on the
      // rounded value) — a gate row is definitionally the members' own
      // numbers side by side
      s"""WITH psibb AS (SELECT ts,
             CAST(least(greatest(
               floor((round(value, 2) - 0.0) / 500.0 * 10), 0.0), 9.0)
               AS INT) AS bucket
           FROM events),
         psibase AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_base
                     FROM psibb WHERE ts < TIMESTAMP '2024-01-08'
                     GROUP BY bucket),
         psitbl AS (SELECT CAST(count(*) AS BIGINT) AS tb FROM psibb
                    WHERE ts < TIMESTAMP '2024-01-08'),
         psilive AS (SELECT date_trunc('day', ts) AS ws, bucket,
                       CAST(count(*) AS BIGINT) AS n_live
                     FROM psibb GROUP BY ws, bucket),
         psitw AS (SELECT ws, CAST(sum(n_live) AS BIGINT) AS tw
                   FROM psilive GROUP BY ws),
         psigrid AS (SELECT psitw.ws, psitw.tw, g.b AS bucket
                     FROM psitw, generate_series(0, 9) AS g(b)),
         psiterms AS (SELECT psigrid.ws,
             ((coalesce(l.n_live, 0) + 0.5)
                / (CAST(psigrid.tw AS DOUBLE) + 5.0)
              - (coalesce(psibase.n_base, 0) + 0.5)
                / (CAST(psitbl.tb AS DOUBLE) + 5.0))
             * ln(((coalesce(l.n_live, 0) + 0.5)
                  / (CAST(psigrid.tw AS DOUBLE) + 5.0))
                / ((coalesce(psibase.n_base, 0) + 0.5)
                  / (CAST(psitbl.tb AS DOUBLE) + 5.0))) AS term
           FROM psigrid
           LEFT JOIN psibase ON psibase.bucket = psigrid.bucket
           LEFT JOIN psilive l ON l.ws = psigrid.ws
             AND l.bucket = psigrid.bucket,
             psitbl),
         psiw AS (SELECT ws, round(sum(term), 6) AS psi
                  FROM psiterms GROUP BY ws)
         SELECT k.ws, k.n_live,
           k.d AS ks_d, k.d_crit AS ks_d_crit, k.drifted AS ks_drifted,
           r.u AS rs_u, r.z AS rs_z, r.drifted AS rs_drifted,
           c.k AS chi2_k, c.chi2, c.chi2_crit,
           c.drifted AS chi2_drifted,
           p.psi,
           CASE WHEN p.psi > 0.25 THEN 1 ELSE 0 END AS psi_drifted,
           greatest(k.drifted, r.drifted, c.drifted,
             CASE WHEN p.psi > 0.25 THEN 1 ELSE 0 END) AS any_drifted
         FROM ($KsWinSql) k
           JOIN ($RsWinSql) r ON r.ws = k.ws
           JOIN ($Chi2WinSql) c ON c.ws = k.ws
           JOIN psiw p ON p.ws = k.ws
         ORDER BY k.ws"""),

    // ext: the q201 gate PER SLICE — "which user cohort drifted today,
    // by every lens": still ONE stateful aggregation, the slice key
    // joined into the grouping; one wide alert row per (day, cohort)
    Query("q202_drift_gate_windowed_by", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("ts"), (col("user_id") % 4).cast("string").as("cohort"),
          round(col("value"), 2).as("v"), col("event_type"))
      val week = ev.filter(col("ts") < lit("2024-01-08").cast("timestamp"))
      val (bv, bc) = ext.Eval.ksBaseline(week, "v")
      val (bcats, _) = ext.Outliers.chiSquareBaseline(week, "event_type")
      val (bb, bt) = ext.Outliers.psiBaseline(week, "v", 10, 0.0, 500.0)
      ext.Outliers.driftReportWindowed(ev, "ts", "v",
        "event_type", bv, bc, bcats, bb, bt, 10, 0.0, 500.0,
        slice = Some("cohort"))
    }, Seq(col("ws"), col("cohort")),
      // joins the slice-parameterized windowed-BY member builders on
      // (ws, cohort) — every lens sliced by the same user cohort, each
      // cell's fields the members' own numbers side by side
      s"""SELECT k.ws, k.cohort, k.n_live,
           k.d AS ks_d, k.d_crit AS ks_d_crit, k.drifted AS ks_drifted,
           r.u AS rs_u, r.z AS rs_z, r.drifted AS rs_drifted,
           c.k AS chi2_k, c.chi2, c.chi2_crit,
           c.drifted AS chi2_drifted,
           p.psi,
           CASE WHEN p.psi > 0.25 THEN 1 ELSE 0 END AS psi_drifted,
           greatest(k.drifted, r.drifted, c.drifted,
             CASE WHEN p.psi > 0.25 THEN 1 ELSE 0 END) AS any_drifted
         FROM (${ksWinBySqlF("CAST(user_id % 4 AS VARCHAR)", "cohort")}) k
           JOIN (${rsWinBySqlF("CAST(user_id % 4 AS VARCHAR)", "cohort")})
             r ON r.ws = k.ws AND r.cohort = k.cohort
           JOIN (${chi2WinBySqlF("CAST(user_id % 4 AS VARCHAR)", "cohort")})
             c ON c.ws = k.ws AND c.cohort = k.cohort
           JOIN (${psiWinBySqlF("CAST(user_id % 4 AS VARCHAR)", "cohort",
             "round(value, 2)")})
             p ON p.ws = k.ws AND p.cohort = k.cohort
         ORDER BY k.ws, k.cohort"""),

    // ext: WINDOWED embedding drift BY SLICE — the drift matrix's last
    // cell (r14): each (day, label cluster)'s mean embedding vs the
    // driver-held training-corpus baseline ("which cluster's embedding
    // space moved, per day" — the staleness alarm the ANN store docs
    // point at, sliced). d+1 doubles of state per (window, slice) cell;
    // day = vec_id % 3 synthesizes the event time the embeddings table
    // doesn't carry, baseline = the even half (the q164 split)
    Query("q203_embedding_windowed_by", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (bm, _) = ext.Similarity.embeddingDriftBaseline(
        emb.filter(col("vec_id") % 2 === 0))
      val live = emb.select(
        timestamp_seconds(lit(1704067200L) + (col("vec_id") % 3) * 86400L)
          .as("ts"),
        col("label"), col("embedding"))
      ext.Similarity.embeddingDriftWindowed(live, "ts", "embedding", bm,
          slice = Some("label"))
    }, Seq(col("ws"), col("label")),
      // q164's mean-vector machinery per (day, label) cell against the
      // even-half baseline mean: per-dim avgs, then cos/L2 of the cell
      // mean vs the baseline mean, 6 dp — the q195 arithmetic with the
      // driver-held-baseline convention instead of rest-relative
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS x
             FROM embeddings),
         bm AS (SELECT g.j AS j, avg(x[g.j]) AS bj
                FROM e, generate_series(1, 64) AS g(j)
                WHERE vec_id % 2 = 0 GROUP BY g.j),
         bn AS (SELECT sqrt(sum(bj * bj)) AS nb FROM bm),
         live AS (SELECT TIMESTAMP '2024-01-01'
                    + (vec_id % 3) * INTERVAL 1 DAY AS ws, label, x
                  FROM e),
         dims AS (SELECT ws, label, g.j AS j, avg(x[g.j]) AS mj
                  FROM live, generate_series(1, 64) AS g(j)
                  GROUP BY ws, label, g.j),
         cnt AS (SELECT ws, label, CAST(count(*) AS BIGINT) AS n_live
                 FROM live GROUP BY ws, label),
         per AS (SELECT d.ws, d.label,
                   sum(d.mj * bm.bj) AS dot, sum(d.mj * d.mj) AS na2,
                   sum((d.mj - bm.bj) * (d.mj - bm.bj)) AS l22
                 FROM dims d JOIN bm ON bm.j = d.j
                 GROUP BY d.ws, d.label)
         SELECT per.ws, per.label, cnt.n_live,
           round(CASE WHEN sqrt(na2) > 0 AND nb > 0
             THEN dot / (sqrt(na2) * nb) END, 6) AS mean_cos,
           round(sqrt(l22), 6) AS mean_l2
         FROM per JOIN cnt ON cnt.ws = per.ws AND cnt.label = per.label,
           bn
         ORDER BY per.ws, per.label"""),
  )

  // single source of truth: the q103_psi_drift oracle AND the q193 drift-
  // report oracle (which composes it as a subquery) share this text
  private lazy val PsiDriftSql: String =
    s"""$QualityCtesSql,
           sc AS (SELECT source, $QualityValSql AS q FROM s),
           bb AS (SELECT CAST(least(greatest(floor((q - 0.0) / 1.0 * 10),
                    0.0), 9.0) AS INT) AS bucket
                  FROM sc WHERE source <> 'src9'),
           bl AS (SELECT CAST(least(greatest(floor((q - 0.0) / 1.0 * 10),
                    0.0), 9.0) AS INT) AS bucket
                  FROM sc WHERE source = 'src9'),
           cb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_base
                  FROM bb GROUP BY bucket),
           cl AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_live
                  FROM bl GROUP BY bucket),
           r AS (SELECT CAST(range AS INT) AS bucket FROM range(10)),
           j AS (SELECT r.bucket, coalesce(cb.n_base, 0) AS n_base,
                   coalesce(cl.n_live, 0) AS n_live
                 FROM r LEFT JOIN cb ON cb.bucket = r.bucket
                   LEFT JOIN cl ON cl.bucket = r.bucket),
           tt AS (SELECT (SELECT count(*) FROM bb) + 0.5 * 10 AS tb,
                   (SELECT count(*) FROM bl) + 0.5 * 10 AS tl)
           SELECT bucket, n_base, n_live,
             (n_base + 0.5) / tb AS p_base,
             (n_live + 0.5) / tl AS p_live,
             round(((n_live + 0.5) / tl - (n_base + 0.5) / tb) *
               ln(((n_live + 0.5) / tl) / ((n_base + 0.5) / tb)), 6) AS psi
           FROM j, tt ORDER BY bucket"""

  // single source of truth: the q184_ks_drift oracle AND the q193 drift-
  // report oracle (which composes it as a subquery) share this text
  private lazy val KsDriftSql: String =
    s"""$QualityCtesSql,
           sc AS (SELECT CASE WHEN source = 'src9' THEN 1 ELSE 0 END AS is_b,
                    $QualityValSql AS q FROM s),
           per AS (SELECT q,
                    CAST(sum(CASE WHEN is_b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                    CAST(sum(is_b) AS BIGINT) AS cb
                   FROM sc GROUP BY q),
           cum AS (SELECT
                    CAST(sum(ca) OVER (ORDER BY q ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cna,
                    CAST(sum(cb) OVER (ORDER BY q ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cnb
                   FROM per),
           tot AS (SELECT max(cna) AS n_a, max(cnb) AS n_b FROM cum),
           dn AS (SELECT max(abs(CAST(cna * n_b AS BIGINT) -
                    CAST(cnb * n_a AS BIGINT))) AS dnum FROM cum, tot)
           SELECT n_a, n_b,
             CAST(dnum AS DOUBLE) /
               (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS d,
             1.358 * sqrt(CAST(n_a + n_b AS DOUBLE) /
               (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))) AS d_crit,
             CASE WHEN CAST(dnum AS DOUBLE) /
                 (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) >
               1.358 * sqrt(CAST(n_a + n_b AS DOUBLE) /
                 (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
               THEN 1 ELSE 0 END AS drifted
           FROM tot, dn"""

  // single source of truth: the q187_chi2_drift oracle AND the q193 drift-
  // report oracle (which composes it as a subquery) share this text
  private lazy val Chi2DriftSql: String =
    """WITH t AS (SELECT lang AS c,
               CASE WHEN source <> 'src9' THEN 1 ELSE 0 END AS ib,
               CASE WHEN source = 'src9' THEN 1 ELSE 0 END AS il
             FROM documents WHERE lang IS NOT NULL),
           per AS (SELECT c, CAST(sum(ib) AS BIGINT) AS cb,
                    CAST(sum(il) AS BIGINT) AS cl
                   FROM t GROUP BY c),
           ag AS (SELECT CAST(sum(cb) AS BIGINT) AS n_base,
                    CAST(sum(cl) AS BIGINT) AS n_live,
                    CAST(count(*) AS BIGINT) AS k
                  FROM per),
           terms AS (SELECT
               (CAST(cb AS DOUBLE) - eb) * (CAST(cb AS DOUBLE) - eb) / eb +
               (CAST(cl AS DOUBLE) - el) * (CAST(cl AS DOUBLE) - el) / el
                 AS term
             FROM (SELECT cb, cl,
                     CAST(n_base AS DOUBLE) * CAST(cb + cl AS DOUBLE) /
                       (CAST(n_base AS DOUBLE) + CAST(n_live AS DOUBLE)) AS eb,
                     CAST(n_live AS DOUBLE) * CAST(cb + cl AS DOUBLE) /
                       (CAST(n_base AS DOUBLE) + CAST(n_live AS DOUBLE)) AS el
                   FROM per, ag)),
           x AS (SELECT round(sum(term), 6) AS chi2 FROM terms),
           crit AS (SELECT round(CAST(k - 1 AS DOUBLE) *
               power(1.0 - 2.0 / (9.0 * CAST(k - 1 AS DOUBLE)) +
                 1.6449 * sqrt(2.0 / (9.0 * CAST(k - 1 AS DOUBLE))), 3), 6)
               AS chi2_crit FROM ag)
           SELECT n_base, n_live, k,
             CASE WHEN k > 1 THEN chi2 END AS chi2,
             CASE WHEN k > 1 THEN chi2_crit END AS chi2_crit,
             CASE WHEN k > 1 AND chi2 > chi2_crit THEN 1 ELSE 0 END
               AS drifted
           FROM ag, x, crit"""

  // single source of truth: the q188_rank_sum oracle AND the q193 drift-
  // report oracle (which composes it as a subquery) share this text
  private lazy val RankSumSql: String =
    s"""$QualityCtesSql,
           sc AS (SELECT CASE WHEN source = 'src9' THEN 1 ELSE 0 END AS is_b,
                    $QualityValSql AS q FROM s),
           per AS (SELECT q,
                    CAST(sum(CASE WHEN is_b = 0 THEN 1 ELSE 0 END) AS BIGINT)
                      AS ca,
                    CAST(sum(is_b) AS BIGINT) AS cb
                   FROM sc GROUP BY q),
           rk AS (SELECT ca, cb, ca + cb AS nv,
                    CAST(sum(ca + cb) OVER (ORDER BY q ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS cum
                  FROM per),
           ag AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                    CAST(sum(cb) AS BIGINT) AS n_b,
                    sum(CAST(cb AS DOUBLE) * (CAST(cum - nv AS DOUBLE) +
                      CAST(nv + 1 AS DOUBLE) / 2.0)) AS rb,
                    sum(CAST(nv AS DOUBLE) * nv * nv - nv) AS ties
                  FROM rk)
           SELECT n_a, n_b,
             rb - CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) + 1.0) / 2.0
               AS u,
             CASE WHEN CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
                 ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0) -
                  CAST(ties AS DOUBLE) /
                    ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) *
                     (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0))) > 0
               THEN (rb - CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) + 1.0)
                       / 2.0
                     - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0) /
                 sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
                   ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0) -
                    CAST(ties AS DOUBLE) /
                      ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) *
                       (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0))))
             END AS z,
             CASE WHEN abs((rb - CAST(n_b AS DOUBLE) *
                   (CAST(n_b AS DOUBLE) + 1.0) / 2.0
                 - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0) /
                 sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
                   ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0) -
                    CAST(ties AS DOUBLE) /
                      ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) *
                       (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0)))))
                 > 1.96
               THEN 1 ELSE 0 END AS drifted
           FROM ag"""



  // single sources of truth: each by-slice oracle AND the q200
  // drift-report-by oracle (which composes them as subqueries) share
  // these texts - the q193 pattern applied per slice
  private lazy val KsBySql: String =
    s"""$QualityCtesSql,
         sc AS (SELECT source, $QualityValSql AS q FROM s),
         pg AS MATERIALIZED (SELECT source, q,
                  CAST(count(*) AS BIGINT) AS c
                 FROM sc GROUP BY source, q),
         gcum AS (SELECT q, CAST(sum(cv) OVER (ORDER BY q ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cumg
                  FROM (SELECT q, CAST(sum(c) AS BIGINT) AS cv
                        FROM pg GROUP BY q) gv),
         grp AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_a
                 FROM pg GROUP BY source),
         tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS n FROM grp),
         dense AS (SELECT g.source, g.n_a, v.cumg,
                  CAST(sum(coalesce(pg.c, 0)) OVER (PARTITION BY g.source
                    ORDER BY v.q ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cuma
                 FROM gcum v CROSS JOIN grp g
                   LEFT JOIN pg ON pg.source = g.source AND pg.q = v.q),
         perg AS (SELECT source, n_a, n,
                  max(abs(CAST(cuma * (n - n_a) AS BIGINT) -
                    CAST((cumg - cuma) * n_a AS BIGINT))) AS dnum
                 FROM dense, tot GROUP BY source, n_a, n)
         SELECT source, n_a, CAST(n - n_a AS BIGINT) AS n_b,
           CAST(dnum AS DOUBLE) /
             (CAST(n_a AS DOUBLE) * CAST(n - n_a AS DOUBLE)) AS d,
           1.358 * sqrt(CAST(n_a + (n - n_a) AS DOUBLE) /
             (CAST(n_a AS DOUBLE) * CAST(n - n_a AS DOUBLE))) AS d_crit,
           CASE WHEN CAST(dnum AS DOUBLE) /
               (CAST(n_a AS DOUBLE) * CAST(n - n_a AS DOUBLE)) >
             1.358 * sqrt(CAST(n_a + (n - n_a) AS DOUBLE) /
               (CAST(n_a AS DOUBLE) * CAST(n - n_a AS DOUBLE)))
             THEN 1 ELSE 0 END AS drifted
         FROM perg ORDER BY source"""

  private lazy val RankSumBySql: String =
    s"""$QualityCtesSql,
         sc AS (SELECT source, $QualityValSql AS q FROM s),
         pg AS MATERIALIZED (SELECT source, q,
                  CAST(count(*) AS BIGINT) AS c
                 FROM sc GROUP BY source, q),
         gv AS (SELECT q, CAST(sum(c) AS BIGINT) AS nv FROM pg GROUP BY q),
         rk AS (SELECT q, nv,
                  CAST(sum(nv) OVER (ORDER BY q ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
                FROM gv),
         gstat AS (SELECT CAST(sum(nv) AS BIGINT) AS n,
                  sum(CAST(nv AS DOUBLE) * nv * nv - nv) AS ties
                 FROM rk),
         per AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_g,
                  sum(CAST(c AS DOUBLE) * (CAST(cum - nv AS DOUBLE) +
                    CAST(nv + 1 AS DOUBLE) / 2.0)) AS rg
                 FROM pg JOIN rk USING (q) GROUP BY source)
         SELECT source, n_g, CAST(n - n_g AS BIGINT) AS n_rest,
           rg - CAST(n_g AS DOUBLE) * (CAST(n_g AS DOUBLE) + 1.0) / 2.0
             AS u,
           CASE WHEN CAST(n - n_g AS DOUBLE) * CAST(n_g AS DOUBLE) / 12.0 *
               ((CAST(n - n_g AS DOUBLE) + CAST(n_g AS DOUBLE) + 1.0) -
                CAST(ties AS DOUBLE) /
                  ((CAST(n - n_g AS DOUBLE) + CAST(n_g AS DOUBLE)) *
                   (CAST(n - n_g AS DOUBLE) + CAST(n_g AS DOUBLE) - 1.0)))
               > 0
             THEN (rg - CAST(n_g AS DOUBLE) * (CAST(n_g AS DOUBLE) + 1.0)
                     / 2.0
                   - CAST(n - n_g AS DOUBLE) * CAST(n_g AS DOUBLE) / 2.0) /
               sqrt(CAST(n - n_g AS DOUBLE) * CAST(n_g AS DOUBLE) / 12.0 *
                 ((CAST(n - n_g AS DOUBLE) + CAST(n_g AS DOUBLE) + 1.0) -
                  CAST(ties AS DOUBLE) /
                    ((CAST(n - n_g AS DOUBLE) + CAST(n_g AS DOUBLE)) *
                     (CAST(n - n_g AS DOUBLE) + CAST(n_g AS DOUBLE) - 1.0))))
           END AS z,
           CASE WHEN abs((rg - CAST(n_g AS DOUBLE) *
                 (CAST(n_g AS DOUBLE) + 1.0) / 2.0
               - CAST(n - n_g AS DOUBLE) * CAST(n_g AS DOUBLE) / 2.0) /
               sqrt(CAST(n - n_g AS DOUBLE) * CAST(n_g AS DOUBLE) / 12.0 *
                 ((CAST(n - n_g AS DOUBLE) + CAST(n_g AS DOUBLE) + 1.0) -
                  CAST(ties AS DOUBLE) /
                    ((CAST(n - n_g AS DOUBLE) + CAST(n_g AS DOUBLE)) *
                     (CAST(n - n_g AS DOUBLE) + CAST(n_g AS DOUBLE) - 1.0)))))
               > 1.96
             THEN 1 ELSE 0 END AS drifted
         FROM per, gstat ORDER BY source"""

  private lazy val Chi2BySql: String =
    """WITH base AS (SELECT source AS g, lang AS c FROM documents
                       WHERE source IS NOT NULL AND lang IS NOT NULL),
         pg AS (SELECT g, c, CAST(count(*) AS BIGINT) AS cnt
                FROM base GROUP BY g, c),
         gc AS (SELECT c, CAST(sum(cnt) AS BIGINT) AS nc FROM pg GROUP BY c),
         grp AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n_g
                 FROM pg GROUP BY g),
         kn AS (SELECT CAST(count(*) AS BIGINT) AS k,
                  CAST(sum(nc) AS BIGINT) AS n FROM gc),
         dense AS (SELECT grp.g, grp.n_g, gc.nc,
                     coalesce(pg.cnt, 0) AS ol,
                     gc.nc - coalesce(pg.cnt, 0) AS ob
                   FROM gc CROSS JOIN grp
                     LEFT JOIN pg ON pg.g = grp.g AND pg.c = gc.c),
         terms AS (SELECT g, n_g,
             (CAST(ob AS DOUBLE) - eb) * (CAST(ob AS DOUBLE) - eb) / eb +
             (CAST(ol AS DOUBLE) - el) * (CAST(ol AS DOUBLE) - el) / el
               AS term
           FROM (SELECT d.g, d.n_g, d.ob, d.ol,
                   (CAST(n - n_g AS DOUBLE)) * CAST(nc AS DOUBLE) /
                     CAST(n AS DOUBLE) AS eb,
                   CAST(n_g AS DOUBLE) * CAST(nc AS DOUBLE) /
                     CAST(n AS DOUBLE) AS el
                 FROM dense d, kn) t),
         x AS (SELECT g, n_g, round(sum(term), 6) AS chi2
               FROM terms GROUP BY g, n_g),
         crit AS (SELECT round(CAST(k - 1 AS DOUBLE) *
             power(1.0 - 2.0 / (9.0 * CAST(k - 1 AS DOUBLE)) +
               1.6449 * sqrt(2.0 / (9.0 * CAST(k - 1 AS DOUBLE))), 3), 6)
             AS chi2_crit, k, n FROM kn)
         SELECT x.g AS source, x.n_g, CAST(n - x.n_g AS BIGINT) AS n_rest,
           k,
           CASE WHEN k > 1 THEN chi2 END AS chi2,
           CASE WHEN k > 1 THEN chi2_crit END AS chi2_crit,
           CASE WHEN k > 1 AND chi2 > chi2_crit THEN 1 ELSE 0 END
             AS drifted
         FROM x, crit ORDER BY source"""

  private lazy val PsiBySql: String =
    s"""$QualityCtesSql,
         sc AS (SELECT source, $QualityValSql AS q FROM s),
         pb AS (SELECT source AS g,
                  CAST(least(greatest(floor((q - 0.0) / 1.0 * 10),
                    0.0), 9.0) AS INT) AS bucket,
                  CAST(count(*) AS BIGINT) AS cnt
                FROM sc WHERE source IS NOT NULL GROUP BY g, bucket),
         gb AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS nb
                FROM pb GROUP BY bucket),
         grp AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n_g
                 FROM pb GROUP BY g),
         tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n FROM grp),
         r AS (SELECT CAST(range AS INT) AS bucket FROM range(10)),
         dense AS (SELECT grp.g, grp.n_g, r.bucket,
                     coalesce(pb.cnt, 0) AS own,
                     coalesce(gb.nb, 0) - coalesce(pb.cnt, 0) AS restc
                   FROM grp CROSS JOIN r
                     LEFT JOIN gb ON gb.bucket = r.bucket
                     LEFT JOIN pb ON pb.g = grp.g AND pb.bucket = r.bucket),
         terms AS (SELECT g, n_g, n,
             round(((own + 0.5) / (CAST(n_g AS DOUBLE) + 5.0)
                  - (restc + 0.5) / (CAST(n - n_g AS DOUBLE) + 5.0)) *
               ln(((own + 0.5) / (CAST(n_g AS DOUBLE) + 5.0))
                / ((restc + 0.5) / (CAST(n - n_g AS DOUBLE) + 5.0))), 6)
               AS term
           FROM dense, tot),
         perg AS (SELECT g, n_g, n, round(sum(term), 6) AS psi
                  FROM terms GROUP BY g, n_g, n)
         SELECT g AS source, n_g, CAST(n - n_g AS BIGINT) AS n_rest, psi,
           CASE WHEN psi > 0.25 THEN 1 ELSE 0 END AS drifted
         FROM perg ORDER BY source"""



  // single sources of truth: each windowed-member oracle AND the
  // q201 one-pass windowed gate oracle (which joins them on ws) share
  // these texts
  private lazy val KsWinSql: String =
    """WITH e AS (SELECT date_trunc('day', ts) AS ws,
                  round(value, 2) AS v FROM events),
         b AS (SELECT round(value, 2) AS v FROM events
               WHERE ts < TIMESTAMP '2024-01-08'),
         bc AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY v),
         nb AS (SELECT CAST(count(*) AS BIGINT) AS n_a FROM b),
         lc AS (SELECT ws, v, CAST(count(*) AS BIGINT) AS c
                FROM e GROUP BY ws, v),
         nl AS (SELECT ws, CAST(count(*) AS BIGINT) AS n_live
                FROM e GROUP BY ws),
         vals AS (SELECT DISTINCT v FROM
                  (SELECT v FROM bc UNION ALL SELECT v FROM lc) u),
         grid AS (SELECT w.ws, x.v
                  FROM (SELECT DISTINCT ws FROM e) w CROSS JOIN vals x),
         cums AS (SELECT g.ws, g.v,
             CAST(sum(coalesce(bc.c, 0)) OVER (PARTITION BY g.ws
               ORDER BY g.v ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cna,
             CAST(sum(coalesce(lc.c, 0)) OVER (PARTITION BY g.ws
               ORDER BY g.v ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cnb
           FROM grid g LEFT JOIN bc ON bc.v = g.v
             LEFT JOIN lc ON lc.ws = g.ws AND lc.v = g.v),
         per AS (SELECT c.ws, nl.n_live,
             max(abs(CAST(c.cna * nl.n_live AS BIGINT) -
               CAST(c.cnb * nb.n_a AS BIGINT))) AS dnum
           FROM cums c JOIN nl ON nl.ws = c.ws, nb
           GROUP BY c.ws, nl.n_live)
         SELECT per.ws, per.n_live,
           CAST(dnum AS DOUBLE) /
             (CAST(n_a AS DOUBLE) * CAST(n_live AS DOUBLE)) AS d,
           1.358 * sqrt(CAST(n_a + n_live AS DOUBLE) /
             (CAST(n_a AS DOUBLE) * CAST(n_live AS DOUBLE))) AS d_crit,
           CASE WHEN CAST(dnum AS DOUBLE) /
               (CAST(n_a AS DOUBLE) * CAST(n_live AS DOUBLE)) >
             1.358 * sqrt(CAST(n_a + n_live AS DOUBLE) /
               (CAST(n_a AS DOUBLE) * CAST(n_live AS DOUBLE)))
             THEN 1 ELSE 0 END AS drifted
         FROM per, nb ORDER BY ws"""

  private lazy val Chi2WinSql: String =
    """WITH e AS (SELECT date_trunc('day', ts) AS ws, event_type AS c
                    FROM events),
         b AS (SELECT event_type AS c FROM events
               WHERE ts < TIMESTAMP '2024-01-08'),
         bc AS (SELECT c, CAST(count(*) AS BIGINT) AS cb FROM b GROUP BY c),
         lc AS (SELECT ws, c, CAST(count(*) AS BIGINT) AS cl
                FROM e GROUP BY ws, c),
         cats AS (SELECT DISTINCT c FROM
                  (SELECT c FROM bc UNION ALL SELECT c FROM lc) u),
         cell AS (SELECT g.ws, g.c,
                    coalesce(bc.cb, 0) AS cb, coalesce(lc.cl, 0) AS cl
                  FROM (SELECT w.ws, x.c
                        FROM (SELECT DISTINCT ws FROM e) w
                        CROSS JOIN cats x) g
                    LEFT JOIN bc ON bc.c = g.c
                    LEFT JOIN lc ON lc.ws = g.ws AND lc.c = g.c
                  WHERE coalesce(bc.cb, 0) > 0 OR coalesce(lc.cl, 0) > 0),
         ag AS (SELECT ws, CAST(sum(cb) AS BIGINT) AS n_base,
                  CAST(sum(cl) AS BIGINT) AS n_live,
                  CAST(count(*) AS BIGINT) AS k
                FROM cell GROUP BY ws),
         terms AS (SELECT t.ws,
             (CAST(cb AS DOUBLE) - eb) * (CAST(cb AS DOUBLE) - eb) / eb +
             (CAST(cl AS DOUBLE) - el) * (CAST(cl AS DOUBLE) - el) / el
               AS term
           FROM (SELECT cell.ws, cb, cl,
                   CAST(n_base AS DOUBLE) * CAST(cb + cl AS DOUBLE) /
                     (CAST(n_base AS DOUBLE) + CAST(n_live AS DOUBLE)) AS eb,
                   CAST(n_live AS DOUBLE) * CAST(cb + cl AS DOUBLE) /
                     (CAST(n_base AS DOUBLE) + CAST(n_live AS DOUBLE)) AS el
                 FROM cell JOIN ag ON ag.ws = cell.ws) t),
         x AS (SELECT ws, round(sum(term), 6) AS chi2
               FROM terms GROUP BY ws),
         crit AS (SELECT ws, round(CAST(k - 1 AS DOUBLE) *
             power(1.0 - 2.0 / (9.0 * CAST(k - 1 AS DOUBLE)) +
               1.6449 * sqrt(2.0 / (9.0 * CAST(k - 1 AS DOUBLE))), 3), 6)
             AS chi2_crit FROM ag WHERE k > 1)
         SELECT ag.ws, n_live, k,
           CASE WHEN k > 1 THEN chi2 END AS chi2,
           CASE WHEN k > 1 THEN crit.chi2_crit END AS chi2_crit,
           CASE WHEN k > 1 AND chi2 > crit.chi2_crit THEN 1 ELSE 0 END
             AS drifted
         FROM ag JOIN x ON x.ws = ag.ws
           LEFT JOIN crit ON crit.ws = ag.ws
         ORDER BY ag.ws"""

  private lazy val RsWinSql: String =
    """WITH e AS (SELECT date_trunc('day', ts) AS ws,
                  round(value, 2) AS v FROM events),
         b AS (SELECT round(value, 2) AS v FROM events
               WHERE ts < TIMESTAMP '2024-01-08'),
         bc AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY v),
         lc AS (SELECT ws, v, CAST(count(*) AS BIGINT) AS c
                FROM e GROUP BY ws, v),
         vals AS (SELECT DISTINCT v FROM
                  (SELECT v FROM bc UNION ALL SELECT v FROM lc) u),
         rk AS (SELECT g.ws, g.v,
             coalesce(bc.c, 0) + coalesce(lc.c, 0) AS nv,
             coalesce(lc.c, 0) AS cb,
             CAST(sum(coalesce(bc.c, 0) + coalesce(lc.c, 0))
               OVER (PARTITION BY g.ws ORDER BY g.v ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
           FROM (SELECT w.ws, x.v
                 FROM (SELECT DISTINCT ws FROM e) w CROSS JOIN vals x) g
             LEFT JOIN bc ON bc.v = g.v
             LEFT JOIN lc ON lc.ws = g.ws AND lc.v = g.v),
         ag AS (SELECT ws,
             CAST(sum(nv) - sum(cb) AS BIGINT) AS n_a,
             CAST(sum(cb) AS BIGINT) AS n_b,
             sum(CAST(cb AS DOUBLE) * (CAST(cum - nv AS DOUBLE) +
               CAST(nv + 1 AS DOUBLE) / 2.0)) AS rb,
             sum(CAST(nv AS DOUBLE) * nv * nv - nv) AS ties
           FROM rk GROUP BY ws)
         SELECT ws, n_b AS n_live,
           rb - CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) + 1.0) / 2.0
             AS u,
           CASE WHEN CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
               ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0) -
                CAST(ties AS DOUBLE) /
                  ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) *
                   (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0))) > 0
             THEN (rb - CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) + 1.0)
                     / 2.0
                   - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0) /
               sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
                 ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0) -
                  CAST(ties AS DOUBLE) /
                    ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) *
                     (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0))))
           END AS z,
           CASE WHEN abs((rb - CAST(n_b AS DOUBLE) *
                 (CAST(n_b AS DOUBLE) + 1.0) / 2.0
               - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0) /
               sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
                 ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0) -
                  CAST(ties AS DOUBLE) /
                    ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) *
                     (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0)))))
               > 1.96
             THEN 1 ELSE 0 END AS drifted
         FROM ag ORDER BY ws"""



  // slice-parameterized windowed-BY oracle builders: single source of
  // truth between q196-q199 (slice = event_type / cohort) and the q202
  // composed per-slice gate (every lens sliced by the same cohort)
  private def ksWinBySqlF(slice: String, name: String): String =
    s"""WITH e AS (SELECT date_trunc('day', ts) AS ws, $slice AS g,
                  round(value, 2) AS v FROM events),
         b AS (SELECT round(value, 2) AS v FROM events
               WHERE ts < TIMESTAMP '2024-01-08'),
         bc AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY v),
         nb AS (SELECT CAST(count(*) AS BIGINT) AS n_a FROM b),
         lc AS (SELECT ws, g, v, CAST(count(*) AS BIGINT) AS c
                FROM e GROUP BY ws, g, v),
         nl AS (SELECT ws, g, CAST(count(*) AS BIGINT) AS n_live
                FROM e GROUP BY ws, g),
         vals AS (SELECT DISTINCT v FROM
                  (SELECT v FROM bc UNION ALL SELECT v FROM lc) u),
         grid AS (SELECT w.ws, w.g, x.v
                  FROM (SELECT DISTINCT ws, g FROM e) w CROSS JOIN vals x),
         cums AS (SELECT gr.ws, gr.g, gr.v,
             CAST(sum(coalesce(bc.c, 0)) OVER (PARTITION BY gr.ws, gr.g
               ORDER BY gr.v ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cna,
             CAST(sum(coalesce(lc.c, 0)) OVER (PARTITION BY gr.ws, gr.g
               ORDER BY gr.v ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cnb
           FROM grid gr LEFT JOIN bc ON bc.v = gr.v
             LEFT JOIN lc ON lc.ws = gr.ws AND lc.g = gr.g AND lc.v = gr.v),
         per AS (SELECT c.ws, c.g, nl.n_live,
             max(abs(CAST(c.cna * nl.n_live AS BIGINT) -
               CAST(c.cnb * nb.n_a AS BIGINT))) AS dnum
           FROM cums c JOIN nl ON nl.ws = c.ws AND nl.g = c.g, nb
           GROUP BY c.ws, c.g, nl.n_live)
         SELECT per.ws, per.g AS $name, per.n_live,
           CAST(dnum AS DOUBLE) /
             (CAST(n_a AS DOUBLE) * CAST(n_live AS DOUBLE)) AS d,
           1.358 * sqrt(CAST(n_a + n_live AS DOUBLE) /
             (CAST(n_a AS DOUBLE) * CAST(n_live AS DOUBLE))) AS d_crit,
           CASE WHEN CAST(dnum AS DOUBLE) /
               (CAST(n_a AS DOUBLE) * CAST(n_live AS DOUBLE)) >
             1.358 * sqrt(CAST(n_a + n_live AS DOUBLE) /
               (CAST(n_a AS DOUBLE) * CAST(n_live AS DOUBLE)))
             THEN 1 ELSE 0 END AS drifted
         FROM per, nb ORDER BY ws, $name"""

  private def rsWinBySqlF(slice: String, name: String): String =
    s"""WITH e AS (SELECT date_trunc('day', ts) AS ws, $slice AS g,
                  round(value, 2) AS v FROM events),
         b AS (SELECT round(value, 2) AS v FROM events
               WHERE ts < TIMESTAMP '2024-01-08'),
         bc AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY v),
         lc AS (SELECT ws, g, v, CAST(count(*) AS BIGINT) AS c
                FROM e GROUP BY ws, g, v),
         vals AS (SELECT DISTINCT v FROM
                  (SELECT v FROM bc UNION ALL SELECT v FROM lc) u),
         rk AS (SELECT gr.ws, gr.g, gr.v,
             coalesce(bc.c, 0) + coalesce(lc.c, 0) AS nv,
             coalesce(lc.c, 0) AS cb,
             CAST(sum(coalesce(bc.c, 0) + coalesce(lc.c, 0))
               OVER (PARTITION BY gr.ws, gr.g ORDER BY gr.v ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
           FROM (SELECT w.ws, w.g, x.v
                 FROM (SELECT DISTINCT ws, g FROM e) w CROSS JOIN vals x)
             gr
             LEFT JOIN bc ON bc.v = gr.v
             LEFT JOIN lc ON lc.ws = gr.ws AND lc.g = gr.g AND lc.v = gr.v),
         ag AS (SELECT ws, g,
             CAST(sum(nv) - sum(cb) AS BIGINT) AS n_a,
             CAST(sum(cb) AS BIGINT) AS n_b,
             sum(CAST(cb AS DOUBLE) * (CAST(cum - nv AS DOUBLE) +
               CAST(nv + 1 AS DOUBLE) / 2.0)) AS rb,
             sum(CAST(nv AS DOUBLE) * CAST(nv AS DOUBLE) *
               CAST(nv AS DOUBLE) - CAST(nv AS DOUBLE)) AS ties
           FROM rk GROUP BY ws, g)
         SELECT ws, g AS $name, n_b AS n_live,
           rb - CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) + 1.0) / 2.0
             AS u,
           CASE WHEN CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
               ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0) -
                CAST(ties AS DOUBLE) /
                  ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) *
                   (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0))) > 0
             THEN (rb - CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) + 1.0)
                     / 2.0
                   - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0) /
               sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
                 ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0) -
                  CAST(ties AS DOUBLE) /
                    ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) *
                     (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0))))
           END AS z,
           CASE WHEN abs((rb - CAST(n_b AS DOUBLE) *
                 (CAST(n_b AS DOUBLE) + 1.0) / 2.0
               - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0) /
               sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
                 ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0) -
                  CAST(ties AS DOUBLE) /
                    ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) *
                     (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0)))))
               > 1.96
             THEN 1 ELSE 0 END AS drifted
         FROM ag ORDER BY ws, $name"""

  private def chi2WinBySqlF(slice: String, name: String): String =
    s"""WITH e AS (SELECT date_trunc('day', ts) AS ws,
                  $slice AS coh, event_type AS c
                    FROM events),
         b AS (SELECT event_type AS c FROM events
               WHERE ts < TIMESTAMP '2024-01-08'),
         bc AS (SELECT c, CAST(count(*) AS BIGINT) AS cb FROM b GROUP BY c),
         lc AS (SELECT ws, coh, c, CAST(count(*) AS BIGINT) AS cl
                FROM e GROUP BY ws, coh, c),
         cats AS (SELECT DISTINCT c FROM
                  (SELECT c FROM bc UNION ALL SELECT c FROM lc) u),
         cell AS (SELECT g.ws, g.coh, g.c,
                    coalesce(bc.cb, 0) AS cb, coalesce(lc.cl, 0) AS cl
                  FROM (SELECT w.ws, w.coh, x.c
                        FROM (SELECT DISTINCT ws, coh FROM e) w
                        CROSS JOIN cats x) g
                    LEFT JOIN bc ON bc.c = g.c
                    LEFT JOIN lc ON lc.ws = g.ws AND lc.coh = g.coh
                      AND lc.c = g.c
                  WHERE coalesce(bc.cb, 0) > 0 OR coalesce(lc.cl, 0) > 0),
         ag AS (SELECT ws, coh, CAST(sum(cb) AS BIGINT) AS n_base,
                  CAST(sum(cl) AS BIGINT) AS n_live,
                  CAST(count(*) AS BIGINT) AS k
                FROM cell GROUP BY ws, coh),
         terms AS (SELECT t.ws, t.coh,
             (CAST(cb AS DOUBLE) - eb) * (CAST(cb AS DOUBLE) - eb) / eb +
             (CAST(cl AS DOUBLE) - el) * (CAST(cl AS DOUBLE) - el) / el
               AS term
           FROM (SELECT cell.ws, cell.coh, cb, cl,
                   CAST(n_base AS DOUBLE) * CAST(cb + cl AS DOUBLE) /
                     (CAST(n_base AS DOUBLE) + CAST(n_live AS DOUBLE)) AS eb,
                   CAST(n_live AS DOUBLE) * CAST(cb + cl AS DOUBLE) /
                     (CAST(n_base AS DOUBLE) + CAST(n_live AS DOUBLE)) AS el
                 FROM cell JOIN ag ON ag.ws = cell.ws
                   AND ag.coh = cell.coh) t),
         x AS (SELECT ws, coh, round(sum(term), 6) AS chi2
               FROM terms GROUP BY ws, coh),
         crit AS (SELECT ws, coh, round(CAST(k - 1 AS DOUBLE) *
             power(1.0 - 2.0 / (9.0 * CAST(k - 1 AS DOUBLE)) +
               1.6449 * sqrt(2.0 / (9.0 * CAST(k - 1 AS DOUBLE))), 3), 6)
             AS chi2_crit FROM ag WHERE k > 1)
         SELECT ag.ws, ag.coh AS $name, n_live, k,
           CASE WHEN k > 1 THEN chi2 END AS chi2,
           CASE WHEN k > 1 THEN crit.chi2_crit END AS chi2_crit,
           CASE WHEN k > 1 AND chi2 > crit.chi2_crit THEN 1 ELSE 0 END
             AS drifted
         FROM ag JOIN x ON x.ws = ag.ws AND x.coh = ag.coh
           LEFT JOIN crit ON crit.ws = ag.ws AND crit.coh = ag.coh
         ORDER BY ag.ws, ag.coh"""

  private def psiWinBySqlF(slice: String, name: String,
      valExpr: String): String =
    s"""WITH bb AS (SELECT ts, $slice AS sl,
             CAST(least(greatest(
               floor(($valExpr - 0.0) / 500.0 * 10), 0.0), 9.0) AS INT)
               AS bucket
           FROM events),
         base AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_base
                  FROM bb WHERE ts < TIMESTAMP '2024-01-08'
                  GROUP BY bucket),
         tbl AS (SELECT CAST(count(*) AS BIGINT) AS tb FROM bb
                 WHERE ts < TIMESTAMP '2024-01-08'),
         live AS (SELECT date_trunc('day', ts) AS ws, sl AS g,
                    bucket, CAST(count(*) AS BIGINT) AS n_live
                  FROM bb GROUP BY ws, g, bucket),
         tw AS (SELECT ws, g, CAST(sum(n_live) AS BIGINT) AS tw
                FROM live GROUP BY ws, g),
         grid AS (SELECT tw.ws, tw.g, tw.tw, b.b AS bucket
                  FROM tw, generate_series(0, 9) AS b(b)),
         terms AS (SELECT grid.ws, grid.g, grid.tw,
             ((coalesce(l.n_live, 0) + 0.5)
                / (CAST(grid.tw AS DOUBLE) + 5.0)
              - (coalesce(base.n_base, 0) + 0.5)
                / (CAST(tbl.tb AS DOUBLE) + 5.0))
             * ln(((coalesce(l.n_live, 0) + 0.5)
                  / (CAST(grid.tw AS DOUBLE) + 5.0))
                / ((coalesce(base.n_base, 0) + 0.5)
                  / (CAST(tbl.tb AS DOUBLE) + 5.0))) AS term
           FROM grid
           LEFT JOIN base ON base.bucket = grid.bucket
           LEFT JOIN live l ON l.ws = grid.ws AND l.g = grid.g
             AND l.bucket = grid.bucket,
             tbl)
         SELECT ws, g AS $name, tw AS n, round(sum(term), 6) AS psi
         FROM terms GROUP BY ws, g, tw ORDER BY ws, $name"""
}
