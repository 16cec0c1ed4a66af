package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Per-JOB wall-clock breakdown of a declared query (guide §1 empirical,
  * UI-less sandbox edition): a SparkListener records every job's duration
  * and call site while the query runs once (after one untimed warmup), so
  * "2.6 s" attributes to the pins / collects / aggregate jobs that spend
  * it. The last line, `== suite queries=N jobs=J`, totals the jobs of the
  * queries that ran. Diagnostics only — not part of the driver contract.
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

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // last stage's name = the action's call site (e.g. "collect at
        // Eval.scala:123"); enough to attribute the job to an operator
        val site = js.stageInfos.lastOption.map(si =>
          s"${si.name} [tasks=${si.numTasks}]").getOrElse("?")
        jobs.put(js.jobId, (js.time, site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(je.jobId)).foreach { case (t0, site) =>
          done.add((je.jobId, je.time - t0, site))
        }
      }
    })

    def run(name: String, fn: (SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Option[Double] =
      Harness.timed(spark, s"[probeJobs] $name")(fn(spark, sfDir))
    val perQuery = SparkEntry.select(SparkEntry.queries, names).flatMap { case (name, fn) =>
      // warmup (untimed) with block release, exactly the bench discipline
      run(name, fn)
      Thread.sleep(500)
      done.clear()
      run(name, fn).map { total =>
        Thread.sleep(300)
        val rows = done.toArray(Array.empty[(Int, Long, String)]).sortBy(_._1)
        val sum = rows.map(_._2).sum / 1e3
        println(f"== $name total=$total%.3f s, jobs=${rows.length}, job-sum=$sum%.3f s")
        rows.foreach { case (id, ms, site) =>
          println(f"   job $id%4d  ${ms / 1e3}%7.3f s  $site")
        }
        rows.length
      }
    }
    println(s"== suite queries=${perQuery.size} jobs=${perQuery.sum}")
    spark.stop()
  }
}
