package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD

/** Deterministic release of `localCheckpoint` storage.
  *
  * `Dataset.unpersist` is a no-op for checkpointed frames — the blocks
  * belong to the materialized RDD, not the CacheManager — so without an
  * explicit release they pin block-manager storage until the frame is
  * garbage-collected, which in a long-lived 100 TB pipeline session means
  * unbounded accumulation (and, in the bench, cleanup storms that landed on
  * unrelated queries). Query bodies and operators that pin intermediate
  * frames run under [[scoped]], the one owner that releases them on return
  * and on failure; per-round rotations (Graph, the BPE cut) call
  * [[Checkpoints.release]] at their natural completion point. */
object Checkpoints {
  /** Session conf key: when set to a path (HDFS/S3/local dir), iterative
    * operators pin each round with a RELIABLE `checkpoint()` against it
    * instead of `localCheckpoint`. */
  val DirConf = "graft.checkpoint.dir"

  /** Truncate lineage for an iterative round — the per-round fixpoint of
    * pageRank / labelPropagation / bfsHops / distributed
    * connected-components.
    *
    * `localCheckpoint` (the default) materializes to EXECUTOR storage:
    * fastest, but on a real cluster an executor loss makes the truncated
    * lineage non-recomputable and kills the job — acceptable for a
    * local[32] bench, not for a 100 TB PageRank hours into its rounds.
    * Setting `graft.checkpoint.dir` switches every round to a reliable
    * `checkpoint()` against that path (first use wires it into
    * `SparkContext.setCheckpointDir` if unset), which survives executor
    * loss at the price of a write to shared storage per round. Both
    * paths produce identical results (suite-pinned). */
  def pin[T](ds: Dataset[T], eager: Boolean = true): Dataset[T] = {
    val spark = ds.sparkSession
    spark.conf.getOption(DirConf).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        // `setCheckpointDir(root)` materializes rounds under a fresh
        // UUID subdir of `root`, so "wired to THIS conf value" means the
        // current checkpoint dir's PARENT is the conf root. Re-wire when
        // they differ — a changed graft.checkpoint.dir mid-session must
        // not silently keep writing to the stale location.
        val root = new org.apache.hadoop.fs.Path(dir)
        val fs = root.getFileSystem(sc.hadoopConfiguration)
        val want = fs.makeQualified(root)
        val wired = sc.getCheckpointDir.exists { cur =>
          val p = new org.apache.hadoop.fs.Path(cur).getParent
          p != null && fs.makeQualified(p) == want
        }
        if (!wired) sc.setCheckpointDir(dir)
        ds.checkpoint(eager = eager)
      case None => ds.localCheckpoint(eager = eager)
    }
  }

  /** `ds.pin()` syntax for [[pin]] — reads like the `localCheckpoint`
    * call it replaces at every iterative round site. */
  implicit class PinOps[T](private val ds: Dataset[T]) {
    def pin(eager: Boolean = true): Dataset[T] = Checkpoints.pin(ds, eager)
  }

  /** Drop the storage behind every checkpointed leaf of `ds`'s plan. Safe
    * ONLY once nothing will read the frame again: checkpoint lineage is
    * truncated, so released state cannot be recomputed. For reliable
    * checkpoints this DELETES the round's files under
    * `graft.checkpoint.dir` as well as unpersisting blocks — Spark's
    * ContextCleaner does not reclaim reliable checkpoint files unless
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is set (default
    * false), so without this a long PageRank keeps one full rank table
    * per round on shared storage for the job's lifetime. The
    * materialize-and-rotate loops (Graph rounds, the BPE cut) therefore
    * bound reliable-dir residency to ~2 rounds' worth. */
  def release(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed.collectLeaves().foreach {
      case l: LogicalRDD => releaseRdd(l.rdd)
      case _ => ()
    }

  private def releaseRdd(rdd: RDD[_]): Unit = {
    rdd.getCheckpointFile.foreach { f =>
      try {
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(rdd.context.hadoopConfiguration).delete(p, true)
      } catch {
        // NonFatal only: a swallowed InterruptedException/OOM would
        // absorb a genuine fault, and a silent IO failure would leave
        // the files this function promises to reclaim — log the path
        case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"checkpoint file delete failed, storage leaked: $f", e)
      }
    }
    rdd.unpersist(blocking = false)
  }

  /** The checkpointed RDD behind `ds` when `ds` IS a materialized pin (its
    * whole plan is the checkpointed leaf), None for any lazy frame —
    * including one that merely reads a pin. */
  private def pinnedRdd(ds: Dataset[_]): Option[RDD[_]] =
    ds.queryExecution.analyzed match {
      case l: LogicalRDD if l.rdd.isCheckpointed => Some(l.rdd)
      case _ => None
    }

  /** Whether `ds` is itself a materialized pin (see [[pinnedRdd]]). */
  def isPin(ds: Dataset[_]): Boolean = pinnedRdd(ds).isDefined

  /** The pins one [[scoped]] body owns. It records only what it pins or
    * adopts and never walks a lazy frame's leaves, so a lazy frame over
    * another owner's pin passes through it intact. */
  final class Scope private[Checkpoints] {
    private var owned = List.empty[RDD[_]]

    /** [[Checkpoints.pin]] (so `graft.checkpoint.dir` applies), released
      * when the scope ends unless it is the scope's result. */
    def pin(df: DataFrame): DataFrame = own(Checkpoints.pin(df))

    /** Adopt `df` when it is itself a pin — a table
      * [[GridGuard.gateTable]] pinned, a member's pinned result — and
      * pass any lazy frame through unrecorded. */
    def own(df: DataFrame): DataFrame = {
      pinnedRdd(df).foreach(r => owned ::= r)
      df
    }

    private[Checkpoints] def close(keep: Option[RDD[_]]): Unit =
      owned.filterNot(keep.contains).foreach(releaseRdd)
  }

  /** Run `body` as the owner of every pin it takes through its [[Scope]].
    * On return the result is pinned (unless it already is a pin) and
    * every other recorded pin is released; the caller owns the result
    * and may [[release]] it. On a throw every recorded pin is released
    * and the exception propagates. */
  def scoped(body: Scope => DataFrame): DataFrame = {
    val scope = new Scope
    var kept: Option[RDD[_]] = None
    try {
      val r = body(scope)
      val out = if (isPin(r)) r else pin(r)
      kept = pinnedRdd(out)
      out
    } finally scope.close(kept)
  }
}
