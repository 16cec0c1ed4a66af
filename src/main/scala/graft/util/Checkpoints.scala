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
  * unrelated queries). Library code takes every pin through a [[Scope]] of
  * [[owning]] (or [[scoped]]), and one close rule frees them: when the
  * scope ends, normally or by a throw, it releases every pin it owns that
  * its result does not read. Pins the result reads pass to the caller —
  * the enclosing scope when there is one, else whoever called, who may
  * [[release]] the result; a driver-side result reads none. Iterative
  * rounds drop a superseded round early with [[Scope.release]]. Library
  * code calls [[pin]] only through a scope; the bench-side `graft.Ladder`
  * and external callers (tests, the benchmark) may pin and release bare. */
object Checkpoints {
  /** Session conf key: when set to a path (HDFS/S3/local dir), iterative
    * operators pin each round with a RELIABLE `checkpoint()` against it
    * instead of `localCheckpoint`. */
  val DirConf = "graft.checkpoint.dir"

  /** Truncate lineage: an iterative round (the per-round fixpoint of
    * pageRank / labelPropagation / bfsHops / distributed
    * connected-components), or a frame several consumers read.
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
    val p = spark.conf.getOption(DirConf).filter(_.nonEmpty) match {
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
    retained.get.foreach(_ ++= pins(p))
    p
  }

  /** Pins taken on this thread inside [[retaining]]. */
  private val retained =
    ThreadLocal.withInitial[Option[collection.mutable.Buffer[RDD[_]]]](() => None)

  /** Run `body` keeping every pin taken on this thread reachable until it
    * returns. A pin no owner released then stays persisted, so a leak
    * check inside `body` sees it rather than racing Spark's
    * ContextCleaner, which unpersists an unreachable RDD on a GC. */
  def retaining[T](body: => T): T = {
    val outer = retained.get
    retained.set(Some(collection.mutable.Buffer.empty))
    try body finally retained.set(outer)
  }

  /** Drop the storage behind every checkpointed leaf of `ds`'s plan. Safe
    * ONLY once nothing will read the frame again: checkpoint lineage is
    * truncated, so released state cannot be recomputed. For reliable
    * checkpoints this DELETES the round's files under
    * `graft.checkpoint.dir` as well as unpersisting blocks — Spark's
    * ContextCleaner does not reclaim reliable checkpoint files unless
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is set (default
    * false), so without this a long PageRank would keep one full rank
    * table per round on shared storage for the job's lifetime. */
  def release(ds: Dataset[_]): Unit = pins(ds).foreach(releaseRdd)

  /** The checkpointed RDDs `ds`'s plan reads: its `LogicalRDD` leaves —
    * what [[release]] frees and what a scope's result keeps. */
  def pins(ds: Dataset[_]): Seq[RDD[_]] =
    ds.queryExecution.analyzed.collectLeaves().collect {
      case l: LogicalRDD => l.rdd
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

  /** Whether `ds` IS a materialized pin (its whole plan is the
    * checkpointed leaf) — false for any lazy frame, including one that
    * merely reads a pin. */
  def isPin(ds: Dataset[_]): Boolean = ds.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.isCheckpointed
    case _ => false
  }

  /** The pins one [[owning]] body owns. It records only what it pins and
    * what a nested scope hands up, and never walks a lazy frame's leaves,
    * so a lazy frame over another owner's pin passes through it intact. */
  final class Scope private[Checkpoints] {
    private var owned = List.empty[RDD[_]]

    private def add(rs: Seq[RDD[_]]): Unit =
      rs.foreach(r => if (!owned.exists(_ eq r)) owned ::= r)

    /** [[Checkpoints.pin]] (so `graft.checkpoint.dir` applies), owned by
      * this scope. `eager = false` defers the materialization to the
      * frame's first action. */
    def pin(df: DataFrame, eager: Boolean = true): DataFrame = {
      val p = Checkpoints.pin(df, eager)
      add(pins(p))
      p
    }

    /** Release now the pins of `df` this scope owns — a rotation's
      * superseded round, once the next round has materialized. Pins it
      * does not own, or has already released, are left alone. */
    def release(df: DataFrame): Unit = {
      val ps = pins(df)
      val (drop, keep) = owned.partition(r => ps.exists(_ eq r))
      owned = keep
      drop.foreach(releaseRdd)
    }

    /** The close rule: release every owned pin not in `keep`, and hand
      * the kept ones to `caller` when the scope is nested in another. */
    private[Checkpoints] def close(keep: Seq[RDD[_]], caller: Option[Scope]): Unit = {
      val (kept, drop) = owned.partition(r => keep.exists(_ eq r))
      drop.foreach(releaseRdd)
      caller.foreach(_.add(kept))
    }
  }

  /** The scopes open on this thread, innermost first. */
  private val open = ThreadLocal.withInitial[List[Scope]](() => Nil)

  /** Run `body` as the owner of every pin it takes through its [[Scope]],
    * under the one close rule: when the body returns or throws, every
    * owned pin its result does not read ([[pins]]) is released. The pins
    * a frame result reads pass to the caller — to the enclosing scope
    * when the call runs inside one, so a query body owns what its members
    * hand back; a driver-side result (a `Map`, a mesh, a local frame)
    * reads none, so nothing outlives the call. A throw propagates after
    * the release. */
  def owning[T](body: Scope => T): T = {
    val caller = open.get.headOption
    val scope = new Scope
    open.set(scope :: open.get)
    var keep: Seq[RDD[_]] = Nil
    try {
      val r = body(scope)
      r match { case ds: Dataset[_] => keep = pins(ds); case _ => () }
      r
    } finally {
      open.set(open.get.tail)
      scope.close(keep, caller)
    }
  }

  /** [[owning]] over a pinned result: the body's frame is pinned (unless
    * it already is a pin), so the caller owns exactly that one bounded
    * pin and every input pin is released. */
  def scoped(body: Scope => DataFrame): DataFrame = owning { sc =>
    val r = body(sc)
    if (isPin(r)) r else sc.pin(r)
  }
}
