package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.util.control.NonFatal

/** The session and release policy every main and the test suites share:
  * one place builds the local SparkSession, one place scopes a query run
  * so the persistent blocks it created cannot outlive it. */
object Harness {
  /** Core count: `SPARK_GRAFT_CPUS`, or `default` when it is unset. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  /** `local[cpus]` with shuffle partitions sized to the cores (local mode,
    * no remote executors, so small stages do not over-split), AQE on,
    * nanosecond parquet timestamps read as longs (normalized in
    * [[Tables.load]]), UTC and no UI; logs at WARN. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body`, then unpersist every persistent RDD that appeared while
    * it ran. Every library pin is released by its scope except the ones
    * the result reads, which pass to the result's caller — here the
    * harness, which owns them: they would otherwise stay resident and
    * tax every later query (r6's q46/q47/q48 were 6–60× their isolated
    * times from that accumulation). `Verify` reports any other leftover
    * as a leak before this sweep. A non-fatal failure is logged to stderr under `label`
    * and returned as `None`, so a crashed run cannot pass for a result;
    * fatal errors propagate. The release runs either way. */
  def releasing[A](spark: SparkSession, label: String)(body: => A): Option[A] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    try Some(body)
    catch {
      case NonFatal(e) =>
        System.err.println(s"$label failed: ${e.getMessage}")
        None
    } finally {
      (sc.getPersistentRDDs.keySet.toSet -- before)
        .foreach(id => sc.getPersistentRDDs.get(id)
          .foreach(_.unpersist(blocking = false)))
    }
  }

  /** Untimed first use before any timing: JVM, codegen and the parquet
    * footers of `sfDir`. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.load(spark, sfDir, "lineitem").limit(1).collect()
  }

  /** Wall seconds to build `df` and MATERIALIZE every row, run under
    * [[releasing]] (so `None` on failure). `foreach`, not `count()`: under
    * count() Catalyst legitimately prunes whatever the row count does not
    * need — q77's whole strip computation vanished via row-preserving-join
    * elimination and read 0.24 s for a ~2.4 s query — so the timed plan is
    * the one Verify writes. */
  def timed(spark: SparkSession, label: String)(df: => DataFrame): Option[Double] =
    releasing(spark, label) {
      val t0 = System.nanoTime()
      df.foreach((_: Row) => ())
      (System.nanoTime() - t0) / 1e9
    }
}
