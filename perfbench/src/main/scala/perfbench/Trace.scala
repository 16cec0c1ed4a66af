package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Spans recorded by the benchmark around each call it makes into a layer:
  * name, start, end, parent span and request id. They are kept in memory
  * and written out when the run ends. A tracer that is off records
  * nothing and costs one branch per call. */
final class Tracer(val on: Boolean) {
  final case class Span(id: Int, name: String, req: String, parent: Int,
      startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var req: String = ""

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        done += Span(id, name, req, parent, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def spans: Seq[Span] = done.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val lines = done.sortBy(_.id).map(s =>
      s"""{"id":${s.id},"name":"${s.name}","req":"${s.req}","parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Engine counters per request, from scheduler events. Jobs carry the
  * request id in a local property (AQE and broadcast jobs inherit it), and
  * stages and tasks are attributed through their job. */
final class EngineListener extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, tasksFailed, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleRead, spill, input, output = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)] // job start/end, epoch ms
  }
  private val accs = mutable.HashMap.empty[String, Acc]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  private val unpersisted = mutable.ArrayBuffer.empty[Int]

  private def acc(tag: String): Acc = accs.getOrElseUpdate(tag, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(EngineListener.Tag)))
      .getOrElse("")
    jobStart(e.jobId) = (tag, e.time)
    e.stageIds.foreach(s => if (!stageTag.contains(s)) stageTag(s) = tag)
    acc(tag).jobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (tag, t0) => acc(tag).intervals += ((t0, e.time)) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc(stageTag.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageTag.getOrElse(e.stageId, ""))
    a.tasks += 1
    if (e.reason != Success) a.tasksFailed += 1
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      a.spill += m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
      a.output += m.outputMetrics.bytesWritten
    }
  }
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    unpersisted += e.rddId
  }

  /** Counters of one tag; call after [[drain]]. */
  def get(tag: String): Acc = synchronized(accs.getOrElse(tag, new Acc))

  /** RDD ids unpersisted since the last call. */
  def takeUnpersisted(): Seq[Int] = synchronized {
    val out = unpersisted.toSeq; unpersisted.clear(); out
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
}

object EngineListener {
  val Tag = "perfbench.request"

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
