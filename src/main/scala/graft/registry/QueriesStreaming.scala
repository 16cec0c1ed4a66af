package graft

import org.apache.spark.sql.functions._

import graft.QueryShared._

/** Query registry — event analytics: windows, sessions, attribution, funnels, chat transcripts.
  *
  * Each entry is one [[Query]]; shared fixtures and oracle fragments live in [[QueryShared]]. */
object QueriesStreaming {

  private[graft] val queries: Seq[Query] = Seq(

    // streaming twin: tumbling-window aggregation (batch plan == stream plan)
    Query("q27_event_windows", (s, dir) =>
      streaming.EventStream.windowedCounts(Tables.load(s, dir, "events"))
        .select(col("ws"), col("event_type"), col("n"), round(col("v"), 4).as("v")),
      Seq(col("ws"), col("event_type")),
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type,
         count(*) AS n, round(sum(value), 4) AS v
         FROM events GROUP BY ws, event_type ORDER BY ws, event_type"""),


    // streaming twin: gap-based sessionization (window-function batch form)
    Query("q28_sessionize", (s, dir) =>
      streaming.EventStream.sessionizeBatch(Tables.load(s, dir, "events"), 1800),
      Seq(col("user_id"), col("session_idx")),
      """WITH o AS (
           SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                  THEN 1 ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT user_id, ts,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
           FROM o)
         SELECT user_id, session_idx, count(*) AS n_events,
           (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS duration_sec
         FROM s GROUP BY user_id, session_idx ORDER BY user_id, session_idx"""),


    // streaming twin: view→purchase attribution (stream-stream interval
    // join in attributionStreaming; identical plan here in batch form).
    // Timestamps leave as epoch micros — both engines compare in µs.
    Query("q42_attribution", (s, dir) =>
      streaming.EventStream.attribution(
        Tables.load(s, dir, "events"), "view", "purchase", 86400L)
        .select(col("user_id"), col("from_id"), col("to_id"),
          unix_micros(col("from_ts")).as("from_us"),
          unix_micros(col("to_ts")).as("to_us")),
      Seq(col("user_id"), col("from_id"), col("to_id")),
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events)
         SELECT a.user_id AS user_id, a.event_id AS from_id, b.event_id AS to_id,
           a.us AS from_us, b.us AS to_us
         FROM e a JOIN e b ON a.user_id = b.user_id
           AND a.event_type = 'view' AND b.event_type = 'purchase'
           AND b.us > a.us AND b.us <= a.us + CAST(86400 AS BIGINT) * 1000000
         ORDER BY a.user_id, from_id, to_id"""),


    // streaming-twin family: ordered funnel (view → click → purchase
    // within 7 days) — earliest chain per user, k−1 min-agg joins
    Query("q91_funnel", (s, dir) =>
      streaming.EventStream.funnel(
        Tables.load(s, dir, "events"),
        Seq("view", "click", "purchase"), 7L * 86400L),
      Seq(col("user_id")),
      // greedy earliest chain per user — each step is a min over events
      // strictly after the previous step's timestamp
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
         s1 AS (SELECT user_id, min(us) AS t1_us FROM e
             WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, t1_us, min(us) AS t2_us
             FROM e JOIN s1 USING (user_id)
             WHERE event_type = 'click' AND us > t1_us
             GROUP BY e.user_id, t1_us),
         s3 AS (SELECT e.user_id, t1_us, t2_us, min(us) AS t3_us
             FROM e JOIN s2 USING (user_id)
             WHERE event_type = 'purchase' AND us > t2_us
             GROUP BY e.user_id, t1_us, t2_us)
         SELECT user_id, t1_us, t2_us, t3_us FROM s3
         WHERE t3_us <= t1_us + CAST(604800 AS BIGINT) * 1000000
         ORDER BY user_id"""),


    // weekly cohort retention — integer epoch weeks, no calendar math
    Query("q92_retention", (s, dir) =>
      streaming.EventStream.cohortRetention(Tables.load(s, dir, "events")),
      Seq(col("cohort_week"), col("week_offset")),
      """WITH w AS (SELECT user_id, epoch_us(ts) // 604800000000 AS week
             FROM events),
         c AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY user_id),
         d AS (SELECT DISTINCT user_id, week FROM w)
         SELECT cohort_week, week - cohort_week AS week_offset,
           CAST(count(*) AS BIGINT) AS n_users
         FROM d JOIN c USING (user_id)
         GROUP BY cohort_week, week_offset
         ORDER BY cohort_week, week_offset"""),


    // ext: first-order Markov transition matrix over per-user event
    // sequences ((ts, event_id) order; unrounded integer-ratio P(to|from))
    Query("q109_transitions", (s, dir) =>
      streaming.EventStream.transitionMatrix(
        Tables.load(s, dir, "events")),
      Seq(col("from_type"), col("to_type")),
      s"""WITH a AS (SELECT event_type AS from_type,
                 lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS to_type
               FROM events),
         c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
               FROM a WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
         t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
               FROM c GROUP BY from_type)
         SELECT from_type, to_type, n, n_from,
           CAST(n AS DOUBLE) / CAST(n_from AS DOUBLE) AS p
         FROM c JOIN t USING (from_type)
         ORDER BY from_type, to_type"""),


    // ext: SFT chat-turn validation gate — per-conversation structural
    // flags (starts-user / alternates / ends-assistant / >=2 turns)
    Query("q146_chat_validate", (s, dir) =>
      ext.Chat.validateTurns(chatTurns(
          Tables.load(s, dir, "events").filter(col("user_id") < 50)),
        "conv_id", "turn_idx", "role"),
      Seq(col("conv_id")),
      // all-integer structural flags over the shared turn CTE
      s"""WITH $ChatTurnsSql
         SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
           CASE WHEN min_by(role, turn_idx) = 'user' THEN 1 ELSE 0 END
             AS starts_user,
           CASE WHEN sum(CASE WHEN prev = role THEN 1 ELSE 0 END) = 0
             THEN 1 ELSE 0 END AS alternates,
           CASE WHEN max_by(role, turn_idx) = 'assistant' THEN 1 ELSE 0 END
             AS ends_assistant,
           CASE WHEN min_by(role, turn_idx) = 'user'
                 AND sum(CASE WHEN prev = role THEN 1 ELSE 0 END) = 0
                 AND max_by(role, turn_idx) = 'assistant'
                 AND count(*) >= 2 THEN 1 ELSE 0 END AS valid
         FROM (SELECT conv_id, turn_idx, role,
                 lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
                   AS prev
               FROM turns)
         GROUP BY conv_id ORDER BY conv_id"""),


    // ext: chat-template flatten — ordered <|role|>content training
    // string per conversation (packSequences takes it from here)
    Query("q147_chat_flatten", (s, dir) =>
      ext.Chat.flatten(chatTurns(
          Tables.load(s, dir, "events").filter(col("user_id") < 50)),
        "conv_id", "turn_idx", "role", "content"),
      Seq(col("conv_id")),
      s"""WITH $ChatTurnsSql
         SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
           string_agg(concat('<|', role, '|>', content), ''
             ORDER BY turn_idx) AS text
         FROM turns GROUP BY conv_id ORDER BY conv_id"""),


    // ext: recency-weighted engagement — half-life-decayed value/count
    // per user (decay is a shuffle-free projection + one combine)
    Query("q155_time_decay", (s, dir) =>
      streaming.EventStream.timeDecayedValue(
        Tables.load(s, dir, "events"), 7.0),
      Seq(col("user_id")), {
      // decay weight interpolates the SAME Ln2 double the Spark side uses;
      // identical (-ln2 * days / halflife) shape both engines
      val ln2 = ext.Eval.Ln2
      s"""WITH tm AS (SELECT max(epoch_us(ts)) AS tmax FROM events),
         w AS (SELECT user_id, value,
                 exp(-$ln2 * (CAST(tm.tmax - epoch_us(ts) AS DOUBLE)
                   / 86400000000.0) / 7.0) AS w
               FROM events, tm)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n,
           round(sum(value * w), 6) AS decayed_value,
           round(sum(w), 6) AS decayed_count
         FROM w GROUP BY user_id ORDER BY user_id"""
    }),
  )
}
