package graft

import org.apache.spark.sql.functions._

import graft.agg.Breakdown
import graft.operators.Factorize
import graft.sources.Ingest
import graft.QueryShared._

/** Query registry — §2.3/§2.4 — breakdown engine, filters/projections, capped/approx aggregates.
  *
  * Each entry is one [[Query]]; shared fixtures and oracle fragments live in [[QueryShared]]. */
object QueriesBreakdown {

  private[graft] val queries: Seq[Query] = Seq(
    // §2.4 breakdown engine: group keys + count/sum/mean/min/max
    Query("q01_breakdown_basic", (s, dir) =>
      Util.roundDoubles(
        Breakdown(li(s, dir),
          "l_returnflag;l_linestatus;l_quantity=sum_qty,sum;" +
          "l_extendedprice=avg_price,mean;l_discount=cnt_disc,count;" +
          "l_quantity=min_qty,min;l_quantity=max_qty,max"), 4),
      Nil,
      """SELECT l_returnflag, l_linestatus,
         round(coalesce(sum(l_quantity),0),4) AS sum_qty,
         round(avg(l_extendedprice),4) AS avg_price,
         count(l_discount) AS cnt_disc,
         round(min(l_quantity),4) AS min_qty,
         round(max(l_quantity),4) AS max_qty
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),


    // §2.4 weighted mean / weighted sum (weight product semantics)
    Query("q02_breakdown_weighted", (s, dir) =>
      Util.roundCols(
        Breakdown(li(s, dir),
          "l_returnflag;l_quantity=wavg_qty,mean,l_discount;" +
          "l_extendedprice=wsum_rev,sum,l_discount"),
        "wavg_qty" -> 6, "wsum_rev" -> 4),
      Nil,
      """SELECT l_returnflag,
         round(CASE WHEN sum(CASE WHEN l_quantity IS NOT NULL THEN coalesce(l_discount,0) ELSE 0 END) <> 0
           THEN sum(CASE WHEN l_quantity IS NOT NULL THEN l_quantity*coalesce(l_discount,0) ELSE 0 END)
              / sum(CASE WHEN l_quantity IS NOT NULL THEN coalesce(l_discount,0) ELSE 0 END)
           END, 6) AS wavg_qty,
         round(coalesce(sum(l_extendedprice*l_discount),0),4) AS wsum_rev
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),


    // §2.4 var/std/sem (sample, ddof=1)
    Query("q03_breakdown_stats", (s, dir) =>
      Util.roundDoubles(
        Breakdown(li(s, dir),
          "l_returnflag;l_quantity=var_qty,var;l_quantity=std_qty,std;" +
          "l_quantity=sem_qty,sem;l_quantity=cnt_qty,count"), 6),
      Nil,
      """SELECT l_returnflag,
         round(var_samp(l_quantity),6) AS var_qty,
         round(stddev_samp(l_quantity),6) AS std_qty,
         round(stddev_samp(l_quantity)/sqrt(count(l_quantity)),6) AS sem_qty,
         count(l_quantity) AS cnt_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),


    // §2.4 unweighted quantiles q1/q2/q3 + percentiles p10/p90
    Query("q04_breakdown_quantiles", (s, dir) =>
      Util.roundDoubles(
        Breakdown(li(s, dir),
          "l_returnflag;l_extendedprice=q1_price,q1;" +
          "l_extendedprice=q2_price,q2;l_extendedprice=q3_price,q3;" +
          "l_extendedprice=p10_price,p10;l_extendedprice=p90_price,p90"), 4),
      Nil,
      """SELECT l_returnflag,
         round(quantile_cont(l_extendedprice, 0.25),4) AS q1_price,
         round(quantile_cont(l_extendedprice, 0.50),4) AS q2_price,
         round(quantile_cont(l_extendedprice, 0.75),4) AS q3_price,
         round(quantile_cont(l_extendedprice, 0.10),4) AS p10_price,
         round(quantile_cont(l_extendedprice, 0.90),4) AS p90_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),


    // §2.4 major (deterministic mode) + list (sorted distinct join)
    Query("q05_breakdown_major_list", (s, dir) =>
      Breakdown(ord(s, dir),
        "o_orderstatus;o_orderpriority=major_prio,major;" +
        "o_orderpriority=prio_list,list;o_orderkey=cnt,count"),
      Nil,
      """WITH base AS (
           SELECT o_orderstatus,
             string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS prio_list,
             count(o_orderkey) AS cnt
           FROM orders GROUP BY o_orderstatus),
         c AS (
           SELECT o_orderstatus, o_orderpriority, count(*) AS n
           FROM orders WHERE o_orderpriority IS NOT NULL
           GROUP BY o_orderstatus, o_orderpriority),
         r AS (
           SELECT o_orderstatus, o_orderpriority,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY n DESC, o_orderpriority ASC) AS rn
           FROM c)
         SELECT base.o_orderstatus, r.o_orderpriority AS major_prio,
                base.prio_list, base.cnt
         FROM base JOIN r ON base.o_orderstatus = r.o_orderstatus AND r.rn = 1
         ORDER BY base.o_orderstatus"""),


    // §2.4 weighted quantiles — custom TypedImperativeAggregate implementing
    // the reference estimator (integer weights keep the oracle exact)
    Query("q06_breakdown_wquantile", (s, dir) =>
      Util.roundDoubles(
        Breakdown(li(s, dir),
          "l_returnflag;l_quantity=wq1_qty,q1,l_linenumber;" +
          "l_quantity=wq2_qty,q2,l_linenumber;" +
          "l_quantity=wq3_qty,q3,l_linenumber"), 6),
      Nil,
      """WITH v AS (
           SELECT l_returnflag AS k, l_quantity AS a,
                  CAST(l_linenumber AS DOUBLE) AS w
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_linenumber IS NOT NULL),
         agg AS (SELECT k, sum(w) AS S, count(*) AS n FROM v GROUP BY k),
         s AS (
           SELECT k, a,
             sum(w) OVER (PARTITION BY k ORDER BY a
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ecdf,
             row_number() OVER (PARTITION BY k ORDER BY a) AS rn
           FROM v),
         j AS (SELECT s.k, s.a, s.ecdf, s.rn, agg.S, agg.n
               FROM s JOIN agg ON s.k = agg.k),
         idx AS (
           SELECT k, any_value(S) AS S, any_value(n) AS n,
             least(sum(CASE WHEN ecdf <= 0.25*(S-1) THEN 1 ELSE 0 END), any_value(n)-1) AS lo1,
             least(sum(CASE WHEN ecdf <= 0.25*(S-1)+1 THEN 1 ELSE 0 END), any_value(n)-1) AS hi1,
             least(sum(CASE WHEN ecdf <= 0.50*(S-1) THEN 1 ELSE 0 END), any_value(n)-1) AS lo2,
             least(sum(CASE WHEN ecdf <= 0.50*(S-1)+1 THEN 1 ELSE 0 END), any_value(n)-1) AS hi2,
             least(sum(CASE WHEN ecdf <= 0.75*(S-1) THEN 1 ELSE 0 END), any_value(n)-1) AS lo3,
             least(sum(CASE WHEN ecdf <= 0.75*(S-1)+1 THEN 1 ELSE 0 END), any_value(n)-1) AS hi3
           FROM j GROUP BY k)
         SELECT i.k AS l_returnflag,
           round(jl1.a*(1-(0.25*(i.S-1)-floor(0.25*(i.S-1)))) + jh1.a*(0.25*(i.S-1)-floor(0.25*(i.S-1))),6) AS wq1_qty,
           round(jl2.a*(1-(0.50*(i.S-1)-floor(0.50*(i.S-1)))) + jh2.a*(0.50*(i.S-1)-floor(0.50*(i.S-1))),6) AS wq2_qty,
           round(jl3.a*(1-(0.75*(i.S-1)-floor(0.75*(i.S-1)))) + jh3.a*(0.75*(i.S-1)-floor(0.75*(i.S-1))),6) AS wq3_qty
         FROM idx i
         JOIN j jl1 ON jl1.k=i.k AND jl1.rn=i.lo1+1
         JOIN j jh1 ON jh1.k=i.k AND jh1.rn=i.hi1+1
         JOIN j jl2 ON jl2.k=i.k AND jl2.rn=i.lo2+1
         JOIN j jh2 ON jh2.k=i.k AND jh2.rn=i.hi2+1
         JOIN j jl3 ON jl3.k=i.k AND jl3.rn=i.lo3+1
         JOIN j jh3 ON jh3.k=i.k AND jh3.rn=i.hi3+1
         ORDER BY i.k"""),


    // §2.3/§2.4 null group keys rendered as -99 (fillna(-99) semantics)
    Query("q07_breakdown_nullkeys", (s, dir) =>
      Util.roundDoubles(
        Breakdown(
          li(s, dir).withColumn("rf_masked",
            when(col("l_returnflag") === "N", lit(null)).otherwise(col("l_returnflag"))),
          "rf_masked;l_quantity=sum_qty,sum"), 4),
      Nil,
      """SELECT coalesce(nullif(l_returnflag,'N'),'-99') AS rf_masked,
         round(coalesce(sum(l_quantity),0),4) AS sum_qty
         FROM lineitem GROUP BY 1 ORDER BY 1"""),


    // §2.3 −99 sentinel masking at ingest + global (no-keys) breakdown
    Query("q08_sentinel_mask", (s, dir) => {
      val withSentinel = li(s, dir).select(
        col("l_orderkey"),
        when(col("l_quantity") <= 2, lit(-99.0)).otherwise(col("l_quantity")).as("q99"))
      Util.roundDoubles(
        Breakdown(Ingest.maskSentinel(withSentinel),
          "q99=n_notnull,count;q99=sum_q,sum;l_orderkey=n_rows,count"), 4)
    }, Nil,
      """WITH m AS (
           SELECT l_orderkey,
             nullif(CASE WHEN l_quantity <= 2 THEN -99.0 ELSE l_quantity END, -99.0) AS q99
           FROM lineitem)
         SELECT count(q99) AS n_notnull,
                round(coalesce(sum(q99),0),4) AS sum_q,
                count(l_orderkey) AS n_rows
         FROM m"""),


    // §2.3 condition filter (expression pushdown to the scan)
    Query("q09_condition_filter", (s, dir) =>
      Util.roundCols(
        Breakdown(
          Ingest.filterCondition(li(s, dir),
            "l_discount > 0.05 AND l_returnflag = 'R'"),
          "l_linestatus;l_extendedprice=sum_price,sum;l_orderkey=cnt,count"),
        "sum_price" -> 4),
      Nil,
      """SELECT l_linestatus,
         round(coalesce(sum(l_extendedprice),0),4) AS sum_price,
         count(l_orderkey) AS cnt
         FROM lineitem
         WHERE l_discount > 0.05 AND l_returnflag = 'R'
         GROUP BY l_linestatus ORDER BY l_linestatus"""),


    // §2.3 string factorize (broadcast dim join, sorted code order)
    Query("q10_factorize", (s, dir) =>
      Factorize(li(s, dir), "l_returnflag", "rf_idx")
        .groupBy(col("l_returnflag"), col("rf_idx"))
        .agg(count(lit(1)).as("cnt")),
      Seq(col("l_returnflag")),
      """WITH g AS (
           SELECT l_returnflag, count(*) AS cnt FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag,
                CAST(dense_rank() OVER (ORDER BY l_returnflag) - 1 AS BIGINT) AS rf_idx,
                cnt
         FROM g ORDER BY l_returnflag"""),


    // §2.4 bounded-state list: smallest-N distinct + overflow marker —
    // the 100 TB-safe variant of `list` (BoundedListAgg)
    Query("q48_list_capped", (s, dir) =>
      Breakdown(ord(s, dir),
        "o_orderstatus;o_orderpriority=prio_l,list3;o_custkey=cust_l,list2"),
      Nil,
      """SELECT o_orderstatus,
           array_to_string(list_slice(
             list_sort(list(DISTINCT o_orderpriority)
               FILTER (o_orderpriority IS NOT NULL)), 1, 3), ',')
           || CASE WHEN count(DISTINCT o_orderpriority) > 3
              THEN ',…' ELSE '' END AS prio_l,
           array_to_string(list_slice(
             list_sort(list(DISTINCT CAST(o_custkey AS VARCHAR))
               FILTER (o_custkey IS NOT NULL)), 1, 2), ',')
           || CASE WHEN count(DISTINCT o_custkey) > 2
              THEN ',…' ELSE '' END AS cust_l
         FROM orders GROUP BY o_orderstatus"""),


    // §2.4 beyond-reference: exact distinct count per group (the HLL
    // `anunique` twin is suite-checked — sketch estimates aren't
    // oracle-comparable across engines)
    Query("q54_nunique", (s, dir) =>
      Breakdown(ord(s, dir),
        "o_orderstatus;o_custkey=nuniq_cust,nunique;" +
        "o_orderpriority=nuniq_prio,nunique"),
      Nil,
      """SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS nuniq_cust,
           count(DISTINCT o_orderpriority) AS nuniq_prio
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
  )
}
