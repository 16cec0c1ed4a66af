package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{approx_count_distinct, col, count_distinct}

/** Runtime enforcement of the rank/ECDF/KS GRID DISCIPLINE.
  *
  * The rank-statistic family ([[graft.ext.Eval.ksTest]], `ksTestBy`,
  * `rankSumTest`, `quantileNormalize`, `mutualInfo`, `spearman`,
  * `prCurve`, `aucRoc`, `ecdfTable` — and through the last, `ecdf`,
  * `blend` and `Outliers.discretize`; `Outliers.chiSquareDrift` for
  * categories) collapses the corpus to a
  * per-distinct-value table and runs an order-statistic window over it.
  * That shape is 100 TB-safe ONLY while the distinct-value table is bounded
  * by score GRANULARITY (rounded scores, counts) rather than corpus size:
  * feed raw continuous doubles and the "bounded" table approaches corpus
  * size, at which point the single-partition `Window.orderBy` cumulative
  * becomes a one-task sort of the corpus — a real scale-killer that, before
  * this guard, was prevented only by a doc comment.
  *
  * The guard always runs: a cheap `approx_count_distinct` pre-check
  * (map-side HLL, one column-pruned pass; ~5% relative error, fine for a
  * threshold comparison), or an exact count of a per-value table the
  * operator builds anyway, runs against `graft.grid.maxDistinct`
  * (default 10⁶ — the grain of a 6 dp-rounded [0, 1] score) and FAILS
  * LOUDLY with a "round your scores" remedy before any corpus-sized grid
  * is built. Cost note: the pre-check re-evaluates the guarded column's
  * projection once — operators whose input is already pinned run it on
  * the materialized pin, others pay one narrow scan; a session whose
  * scorer has a finer validated grain raises the ceiling. */
object GridGuard {
  /** Session conf: distinct-value ceiling per guarded column (long). */
  val MaxDistinctConf = "graft.grid.maxDistinct"

  val DefaultMaxDistinct = 1000000L

  /** The distinct-value ceiling: the conf'd value, else the default. It
    * is also the HARD CAP on windowed-drift aggregate state
    * ([[graft.agg.KsDriftAgg]] and siblings). */
  def cap(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption(MaxDistinctConf).map(_.toLong)
      .getOrElse(DefaultMaxDistinct)

  /** The "round your scores" failure, shared by every guard form so the
    * remedy reads the same whether the estimate was approximate (HLL
    * pre-check) or exact (a gated per-value table's row count). */
  def fail(op: String, colName: String, est: String, cap: Long): Nothing =
    throw new IllegalArgumentException(
      s"$op: column '$colName' has $est distinct values, over " +
        s"$MaxDistinctConf=$cap. The per-value grid would approach " +
        "corpus size and its single-partition rank window would become " +
        "a one-task sort of the corpus. Feed scores ROUNDED to a " +
        "bounded granularity (e.g. round(score, 6)), or raise " +
        s"$MaxDistinctConf if a finer grain is already validated.")

  /** Pre-check `cols`' approximate distinct counts on `df`; throws
    * `IllegalArgumentException` naming the operator, column, estimate and
    * remedy when any exceeds the ceiling. One aggregation pass covers all
    * requested columns. Use [[gateTable]] instead when the operator's
    * FIRST aggregation already builds the per-distinct-value table — the
    * exact gate there costs no extra input pass; this HLL form remains
    * for ops whose guarded projection is already pinned (a narrow
    * re-scan) or never materializes a per-value table at all
    * (baseline collects, the streaming monitors' setup). */
  def check(df: DataFrame, op: String, cols: String*): Unit = {
    val max = cap(df.sparkSession)
    val aggs = cols.map(c => approx_count_distinct(col(c)).as(s"_g_$c"))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.zipWithIndex.foreach { case (c, i) =>
      val est = row.getLong(i)
      if (est > max) fail(op, c, s"~$est", max)
    }
  }

  /** EXACT guard over an ALREADY-BUILT per-distinct-value table — the
    * r12-regression fix (VERDICT r12 #1): instead of a separate
    * `approx_count_distinct` pass that re-evaluates the caller's input
    * projection (a regex/NB scoring chain, one extra full corpus scan per
    * call), pin the bounded table the operator's first aggregation builds
    * anyway and gate the single-partition window on its exact `count()`.
    * No extra input pass (the distributed groupBy that builds the table
    * is safe at ANY cardinality — only the downstream one-task rank
    * window is not), and exact where the HLL check was ~5% approximate.
    *
    * Returns the PINNED table. The pin is taken in its own
    * [[Checkpoints.owning]] scope: a table over the ceiling is released
    * as the failure propagates, and otherwise the pin passes to the
    * caller — to the enclosing scope when there is one (a bounded member
    * result releases it there, and several lenses of one report can
    * share it), or embedded in a table-sized result, reclaimable by
    * [[Checkpoints.release]] on that result. */
  def gateTable(per: DataFrame, op: String, colName: String): DataFrame =
    Checkpoints.owning { sc =>
      val max = cap(per.sparkSession)
      val p = sc.pin(per)
      val n = p.count()
      if (n > max) fail(op, colName, n.toString, max)
      p
    }

  /** [[gateTable]]'s form for the by-slice ops whose first aggregation
    * is an ALREADY-PINNED (slice, value) table: exact distinct counts of
    * each axis in one aggregation pass over the bounded pin. `axes` maps
    * the user-facing column name (for the error) to the internal column
    * in the pinned table. */
  def gateAxes(pinned: DataFrame, op: String,
      axes: (String, String)*): Unit = {
    val max = cap(pinned.sparkSession)
    val aggs = axes.map { case (_, c) =>
      count_distinct(col(c)).as(s"_g_$c") }
    val row = pinned.agg(aggs.head, aggs.tail: _*).head()
    axes.zipWithIndex.foreach { case ((name, _), i) =>
      val n = row.getLong(i)
      if (n > max) fail(op, name, n.toString, max)
    }
  }
}
