package graft

import org.apache.spark.sql.functions._

import graft.QueryShared._

/** Query registry — §2.6 beyond-reference relational — joins, windows, set ops, pivot, time buckets.
  *
  * Each entry is one [[Query]]; shared fixtures and oracle fragments live in [[QueryShared]]. */
object QueriesRelational {

  private[graft] val queries: Seq[Query] = Seq(

    // relational: 3-table join with broadcast dim, revenue per segment
    Query("q29_join_enrich", (s, dir) => {
      val o = ord(s, dir)
      val c = Tables.load(s, dir, "customer")
      li(s, dir)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
          count(lit(1)).as("n"))
    }, Seq(col("c_mktsegment")),
      """SELECT c_mktsegment,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
         count(*) AS n
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),


    // relational: top-k with deterministic tiebreak
    Query("q30_topk", (s, dir) =>
      ord(s, dir).select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(10),
      Nil,
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""),


    // relational: set operations (intersect / except / union-distinct)
    Query("q31_setops", (s, dir) => {
      val o = ord(s, dir)
      def ck(status: String) =
        o.filter(col("o_orderstatus") === status).select("o_custkey").distinct()
      val f = ck("F"); val p = ck("O")
      f.intersect(p).agg(count(lit(1)).as("n")).withColumn("tag", lit("both"))
        .union(f.except(p).agg(count(lit(1)).as("n")).withColumn("tag", lit("only_f")))
        .union(f.union(p).distinct().agg(count(lit(1)).as("n")).withColumn("tag", lit("either")))
        .select("tag", "n")
    }, Seq(col("tag")),
      """SELECT 'both' AS tag, count(*) AS n FROM (
           SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
           INTERSECT
           SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
         UNION ALL
         SELECT 'either', count(*) FROM (
           SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
           UNION
           SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
         UNION ALL
         SELECT 'only_f', count(*) FROM (
           SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
           EXCEPT
           SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
         ORDER BY tag"""),


    // relational: window functions — running revenue + row numbers
    Query("q32_window_running", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      li(s, dir).filter(col("l_suppkey") < 20)
        .withColumn("rn", row_number().over(w))
        .withColumn("running", round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)), 4))
        .select("l_suppkey", "rn", "running")
    }, Seq(col("l_suppkey"), col("rn")),
      """SELECT l_suppkey,
         CAST(row_number() OVER w AS INT) AS rn,
         round(sum(l_extendedprice * (1 - l_discount)) OVER (PARTITION BY l_suppkey
           ORDER BY l_shipdate, l_orderkey, l_linenumber ROWS UNBOUNDED PRECEDING), 4) AS running
         FROM lineitem WHERE l_suppkey < 20
         WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
         ORDER BY l_suppkey, rn"""),


    // relational: rollup with grouping indicators
    Query("q33_rollup", (s, dir) =>
      li(s, dir).rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping(col("l_returnflag")).as("g_rf"),
          grouping(col("l_linestatus")).as("g_ls"),
          count(lit(1)).as("n"), round(sum(col("l_quantity")), 4).as("sum_qty"))
        .select(
          when(col("g_rf") === 1, "ALL").otherwise(col("l_returnflag")).as("rf"),
          when(col("g_ls") === 1, "ALL").otherwise(col("l_linestatus")).as("ls"),
          col("n"), col("sum_qty")),
      Seq(col("rf"), col("ls")),
      """SELECT
         CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS rf,
         CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS ls,
         count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY rf, ls"""),


    // relational: JSON scalar extraction over the events props column
    Query("q34_json_events", (s, dir) =>
      Tables.load(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n"), round(avg(col("k")), 6).as("avg_k"),
          max(col("k")).as("max_k")),
      Seq(col("event_type")),
      """WITH t AS (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
         SELECT event_type, count(k) AS n, round(avg(k), 6) AS avg_k, max(k) AS max_k
         FROM t GROUP BY event_type ORDER BY event_type"""),


    // relational: time bucketing (date_trunc) over event timestamps
    Query("q35_time_buckets", (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("v")),
      Seq(col("day"), col("event_type")),
      """SELECT time_bucket(INTERVAL '1 day', ts) AS day, event_type,
         count(*) AS n, round(sum(value), 4) AS v
         FROM events GROUP BY day, event_type ORDER BY day, event_type"""),


    // ext: backward as-of join (events enriched with each user's latest
    // order at event time) — union-tag-window formulation, one shuffle
    Query("q40_asof_join", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      // dedupe right to one row per (key, time) for deterministic ties
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"), col("o_orderdate"))
        .orderBy(col("o_orderkey").desc)
      val ord1 = ord(s, dir)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      graft.operators.AsOfJoin
        .backward(ev, ord1.withColumnRenamed("o_custkey", "user_id"),
          "user_id", "ts", "o_orderdate", Seq("o_orderkey", "o_totalprice"))
        .groupBy(col("event_type"))
        .agg(count(col("o_orderkey")).as("n_matched"),
          sum(when(col("o_orderkey").isNull, 1).otherwise(0)).as("n_unmatched"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
    }, Seq(col("event_type")),
      """WITH o1 AS (
           SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey, o_orderdate
               ORDER BY o_orderkey DESC) AS rn
           FROM orders),
         o2 AS (SELECT * FROM o1 WHERE rn = 1),
         m AS (
           SELECT e.event_type, o2.o_orderkey, o2.o_totalprice
           FROM events e ASOF LEFT JOIN o2
           ON e.user_id = o2.o_custkey AND e.ts >= o2.o_orderdate)
         SELECT event_type, count(o_orderkey) AS n_matched,
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched,
           round(sum(o_totalprice), 2) AS sum_price
         FROM m GROUP BY event_type ORDER BY event_type"""),


    // §2.6 salted skew-join: explicit (key, salt) split of hot keys for
    // the joins AQE can't re-plan; result ≡ the plain join (the oracle
    // IS the plain join)
    Query("q141_salted_join", (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val ords = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      operators.SkewJoin.saltedJoin(li, ords, "l_orderkey", 4, "l_partkey")
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice")), 2).as("revenue"),
          count(lit(1)).as("n"))
    }, Seq(col("o_orderpriority")),
      // the salted join is semantically the plain join — 2 dp money grain
      // (summands on the 0.01 grid never land on a .005 tie)
      """SELECT o_orderpriority,
         round(sum(l_extendedprice), 2) AS revenue,
         count(*) AS n
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""),


    // §2.6 pivot: status columns per priority (sum-CASE oracle; absent
    // combos are NULL in both engines)
    Query("q143_pivot", (s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(lit(1L))),
      Seq(col("o_orderpriority")),
      // sum-CASE pivot: absent (priority, status) combos are NULL under
      // sum in both engines (count would give 0 in SQL but NULL in pivot)
      """SELECT o_orderpriority,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS "F",
         CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS "O",
         CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS "P"
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),


    // §2.6 unpivot/melt: wide part attributes to (attr, val) rows
    Query("q144_unpivot", (s, dir) =>
      Tables.load(s, dir, "part")
        .filter(col("p_partkey") <= 50)
        .unpivot(Array(col("p_partkey")),
          Array(col("p_size").cast("double").as("p_size"),
            col("p_retailprice").cast("double").as("p_retailprice")),
          "attr", "val"),
      Seq(col("p_partkey"), col("attr")),
      """SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val
         FROM part WHERE p_partkey <= 50
         UNION ALL
         SELECT p_partkey, 'p_retailprice', CAST(p_retailprice AS DOUBLE)
         FROM part WHERE p_partkey <= 50
         ORDER BY p_partkey, attr"""),


    // ext: per-user daily resample with forward fill — irregular events
    // to a dense model-ready state table; fill is an exact data value
    Query("q145_resample_fill", (s, dir) =>
      streaming.EventStream.resampleFill(
        Tables.load(s, dir, "events").filter(col("user_id") < 10)),
      Seq(col("user_id"), col("bucket")),
      // dense per-user daily grid + forward fill; the filled value is the
      // day's LAST observation by (ts, event_id) — exact, no rounding
      """WITH f AS (SELECT * FROM events WHERE user_id < 10),
         daily AS (SELECT user_id, date_trunc('day', ts) AS bucket, value
                   FROM (SELECT user_id, ts, event_id, value,
                           row_number() OVER (
                             PARTITION BY user_id, date_trunc('day', ts)
                             ORDER BY ts DESC, event_id DESC) AS rn
                         FROM f) WHERE rn = 1),
         span AS (SELECT user_id, date_trunc('day', min(ts)) AS d0,
                    date_trunc('day', max(ts)) AS d1
                  FROM f GROUP BY user_id),
         grid AS (SELECT user_id,
                    unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                      AS bucket
                  FROM span)
         SELECT g.user_id AS user_id, g.bucket AS bucket,
           last_value(d.value IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fill
         FROM grid g LEFT JOIN daily d
           ON d.user_id = g.user_id AND d.bucket = g.bucket
         ORDER BY g.user_id, g.bucket"""),
  )
}
