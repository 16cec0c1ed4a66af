package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Per-JOB wall-clock breakdown of a declared query (guide §1 empirical,
  * UI-less sandbox edition): a SparkListener records every job's duration
  * and call site while the query runs once (after one untimed warmup), so
  * "2.6 s" attributes to the pins / collects / aggregate jobs that spend
  * it. The timed run carries its own job group, so its jobs — AQE stage
  * and broadcast jobs included, which inherit the group — are exactly the
  * group's ids in the status tracker. The last line,
  * `== suite queries=N jobs=J`, totals the jobs of the queries that ran.
  * Diagnostics only, beside the `Verify` and `Bench` entry points.
  *
  * Usage: runMain graft.ProbeJobs <sfDir> <nameSubstr...>
  */
object ProbeJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = Harness.session(
      Harness.cpus(Runtime.getRuntime.availableProcessors()))
    Harness.warmUp(spark, sfDir)
    val sc = spark.sparkContext

    // job id → (start time, call site); job id → wall ms once it ended
    val started = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val ended = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // last stage's name = the action's call site (e.g. "collect at
        // Eval.scala:123"); enough to attribute the job to an operator
        val site = js.stageInfos.lastOption.map(si =>
          s"${si.name} [tasks=${si.numTasks}]").getOrElse("?")
        started.put(js.jobId, (js.time, site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(started.get(je.jobId)).foreach { case (t0, _) =>
          ended.put(je.jobId, je.time - t0)
        }
    })

    /** Run `body` under job group `group` and return the group's job ids.
      * The listener bus delivers events in order, so once a later marker
      * job is in the status tracker and its end has reached the listener
      * above, every job of the group is in both — no fixed sleep. */
    def grouped[A](group: String)(body: => A): (A, Seq[Int]) = {
      sc.setJobGroup(group, group)
      val a = try body finally sc.clearJobGroup()
      val marker = s"$group-marker"
      sc.setJobGroup(marker, marker)
      try spark.range(1).collect() finally sc.clearJobGroup()
      while (!sc.statusTracker.getJobIdsForGroup(marker).exists(ended.containsKey))
        Thread.sleep(10)
      (a, sc.statusTracker.getJobIdsForGroup(group).toSeq.sorted)
    }

    def run(name: String, fn: (SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Option[Double] =
      Harness.timed(spark, s"[probeJobs] $name")(fn(spark, sfDir))
    val perQuery = SparkEntry.select(SparkEntry.queries, names).flatMap { case (name, fn) =>
      // warmup (untimed) with block release, exactly the bench discipline
      run(name, fn)
      val (timed, ids) = grouped(s"probeJobs-$name")(run(name, fn))
      timed.map { total =>
        val ms = ids.map(id => ended.getOrDefault(id, 0L))
        println(f"== $name total=$total%.3f s, jobs=${ids.length}, job-sum=${ms.sum / 1e3}%.3f s")
        ids.zip(ms).foreach { case (id, t) =>
          val site = Option(started.get(id)).map(_._2).getOrElse("?")
          println(f"   job $id%4d  ${t / 1e3}%7.3f s  $site")
        }
        ids.length
      }
    }
    println(s"== suite queries=${perQuery.size} jobs=${perQuery.sum}")
    spark.stop()
  }
}
