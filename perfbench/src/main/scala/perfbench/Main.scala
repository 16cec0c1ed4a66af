package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

/** Closed-loop benchmark: one client, one request at a time, on
  * `local[N]` with N the machine's processors.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>
  *
  * Untraced runs report the end-to-end metrics. Traced runs split
  * `--seconds` between an untraced window and a traced one (the difference
  * of their medians is the tracing overhead), then time a ladder of plan
  * prefixes, and report the per-layer metrics. Every run checks every
  * answer after its timed windows and writes `result.json` to `--out`. */
object Main {

  val PerLayer: Seq[(String, String)] = Seq(
    "engine.jobs" -> "count", "engine.stages" -> "count", "engine.tasks" -> "count",
    "engine.short_jobs" -> "count", "engine.overhead_s" -> "s", "engine.task_cpu_s" -> "s",
    "engine.gc_s" -> "s", "engine.shuffle_write_mb" -> "MB", "engine.shuffle_read_mb" -> "MB",
    "engine.spill_mb" -> "MB", "engine.tasks_failed" -> "count",
    "sources.scan_s" -> "s", "sources.input_mb" -> "MB", "sources.slab_read_ratio" -> "ratio",
    "sources.infer_s" -> "s", "sources.write_s" -> "s", "sources.output_mb" -> "MB",
    "sources.write_amp" -> "ratio",
    "operators.flag_s" -> "s", "operators.mine_s" -> "s", "operators.ns_per_cell" -> "ns",
    "agg.breakdown_s" -> "s", "agg.groups_out" -> "count", "agg.shuffle_mb" -> "MB",
    "functions.kernel_s" -> "s", "functions.ns_per_doc" -> "ns",
    "ext.dedup_s" -> "s", "ext.candidate_pairs" -> "count", "ext.pairs_kept" -> "count",
    "ext.pair_yield" -> "ratio",
    "pipeline.build_s" -> "s", "pipeline.exec_s" -> "s",
    "util.pins_created" -> "count", "util.pins_leaked" -> "count", "util.pinned_mb" -> "MB",
    "trace.overhead_s" -> "s")

  /** Set-up rounds per untraced run; set-up time is their median. */
  val SetupRounds = 3

  /** Typical calibration times on a 4-core x86-64 host with local[4], when
    * the benchmark was defined. A window whose calibration exceeds 1.5×
    * these is flagged: it was contended and proves nothing either way. */
  val NominalCpuS = 0.3
  val NominalShuffleS = 0.7

  final case class Rec(req: Request, latS: Double, error: Option[String], out: Array[Row],
      startMs: Long, endMs: Long, pinsCreated: Int, pinsLeaked: Int, pinnedMb: Double)

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (name, seed, seconds, trace) =
      (a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1")
    require(Workload.Names.contains(name), s"workload must be one of ${Workload.Names}")
    val dir = Paths.get(a("out")).toAbsolutePath
    Files.createDirectories(dir)
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    try run(spark, name, seed, seconds, trace, dir, t0)
    finally spark.stop()
    sys.exit(0)
  }

  private def secondsSince(t: Long) = (System.nanoTime() - t) / 1e9

  def run(spark: SparkSession, name: String, seed: Long, seconds: Double, trace: Boolean,
      dir: Path, t0: Long): Unit = {
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val sessionS = secondsSince(t0)

    val w = Workload(name, spark, seed, dir)
    val rounds = if (trace) 1 else SetupRounds
    val roundS = (0 until rounds).map { r =>
      val t = System.nanoTime()
      w.setup(r)
      val before = sc.getPersistentRDDs.keySet.toSet
      w.request(0).run(new Tracer(false))
      release(spark, before)
      val s = secondsSince(t)
      if (r > 0) Workload.delete(dir.resolve(s"in${r - 1}"))
      s
    }
    // warm-up: one request of every other kind, so no compile lands in the window
    val tw = System.nanoTime()
    (1 until w.blockSize).map(w.request).groupBy(_.kind).values.map(_.minBy(_.seq))
      .filter(r => w.request(0).kind != r.kind).toSeq.sortBy(_.seq).foreach { r =>
        val before = sc.getPersistentRDDs.keySet.toSet
        r.run(new Tracer(false))
        release(spark, before)
      }
    val warmS = secondsSince(tw)

    calibrate(spark, 64) // compiles the calibration plans, so both measurements are warm
    val cal = mutable.ArrayBuffer(calibrate(spark))
    // a traced run splits its time between an untraced and a traced window
    val windowS = if (trace) seconds / 2 else seconds
    val plain = window(spark, w, w.blockSize, windowS, new Tracer(false), None)
    val rssMb = peakRssMb()
    val (lis, tracer) = (new EngineListener, new Tracer(true))
    val traced =
      if (!trace) None
      else {
        sc.addSparkListener(lis)
        Some(window(spark, w, plain._1.last.req.seq + 1, windowS, tracer, Some(lis)))
      }
    cal += calibrate(spark)
    val ladder = traced.map(_ => w.ladder(new Ladder(spark, lis)))

    val recs = plain._1 ++ traced.map(_._1).getOrElse(Nil)
    val checkDir = dir.resolve("check")
    Files.createDirectories(checkDir)
    val tc = System.nanoTime()
    // reference queries run once each: interpreting them beats compiling them
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val checked = w.check(recs.filter(_.error.isEmpty).map(r => (r.req, r.out)), checkDir)
    val failures = recs.flatMap(r => r.error.map(r.req.seq -> _)).toMap ++ checked.failures
    println(f"[perfbench] checked ${recs.size} answers in ${secondsSince(tc)}%.1f s")
    failures.toSeq.sortBy(_._1).take(5).foreach { case (s, e) =>
      println(s"[perfbench] request $s failed: ${e.take(300)}")
    }

    println("[perfbench] median latency by kind: " + plain._1.groupBy(_.req.kind).toSeq.sortBy(_._1)
      .map { case (k, rs) => f"$k=${Stats.median(rs.map(_.latS))}%.3f s (${rs.size})" }.mkString(", "))
    val metrics: Seq[(String, Double, String)] = traced match {
      case None =>
        val lats = plain._1.map(_.latS)
        val (p, tail) = Stats.tail(lats)
        val setup = sessionS + Stats.median(roundS) + warmS
        println(f"[perfbench] setup_s=$setup%.4f s (session ${sessionS}%.3f s + median of " +
          s"${roundS.map(s => f"$s%.3f").mkString("[", ", ", "]")} s rounds + warm-up " + f"$warmS%.3f s)")
        println(f"[perfbench] latency_p50_s=${Stats.median(lats)}%.4f s over ${lats.size} requests")
        println(f"[perfbench] latency_tail_s=$tail%.4f s (p$p of ${lats.size} samples)")
        val rows = plain._1.map(_.req.rowsIn).sum
        println(f"[perfbench] rows_per_s=${rows / plain._2}%.1f rows/s ($rows rows in ${plain._2}%.3f s)")
        println(f"[perfbench] peak_rss_mb=$rssMb%.1f MB")
        Seq(("setup_s", setup, "s"), ("latency_p50_s", Stats.median(lats), "s"),
          ("latency_tail_s", tail, "s"), ("rows_per_s", rows / plain._2, "rows/s"),
          ("peak_rss_mb", rssMb, "MB"))
      case Some((t, _)) =>
        tracer.write(dir.resolve("spans.jsonl"))
        val layers = perLayer(t, plain._1, tracer, lis, ladder.get)
        PerLayer.map { case (n, u) => (n, layers.getOrElse(n, 0.0), u) }
    }
    val flagged = cal.map(_._1).max > 1.5 * NominalCpuS || cal.map(_._2).max > 1.5 * NominalShuffleS
    println(s"[perfbench] calibration cpu_s=${cal.map(c => f"${c._1}%.3f").mkString("[", ",", "]")}" +
      s" shuffle_s=${cal.map(c => f"${c._2}%.3f").mkString("[", ",", "]")}" +
      s" nominal=[$NominalCpuS,$NominalShuffleS] flagged=$flagged" +
      (if (flagged) " (above 1.5x nominal: contended window)" else ""))

    writeResult(dir.resolve("result.json"), name, seed, trace, recs, failures.keySet,
      checked.oracle, metrics, flagged)
    println(f"[perfbench] run took ${secondsSince(t0)}%.1f s in the JVM")
  }

  /** Closed loop for `seconds`: the next request starts when the previous
    * one has answered. Pins a request leaves behind are counted and then
    * released, outside its timed interval. */
  def window(spark: SparkSession, w: Workload, firstSeq: Int, seconds: Double, tr: Tracer,
      lis: Option[EngineListener]): (Seq[Rec], Double) = {
    val sc = spark.sparkContext
    val recs = mutable.ArrayBuffer.empty[Rec]
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var seq = firstSeq
    while (System.nanoTime() < deadline) {
      val req = w.request(seq)
      val before = sc.getPersistentRDDs.keySet.toSet
      tr.req = s"r$seq"
      if (lis.isDefined) sc.setLocalProperty(EngineListener.Tag, s"r$seq")
      val ms0 = System.currentTimeMillis()
      val s0 = System.nanoTime()
      val res = try Right(tr.span("request")(req.run(tr))) catch {
        case NonFatal(e) => Left(e.toString)
      }
      val lat = (System.nanoTime() - s0) / 1e9
      val ms1 = System.currentTimeMillis()
      sc.setLocalProperty(EngineListener.Tag, null)
      val leaked = sc.getPersistentRDDs.keySet.toSet -- before
      var created = leaked.size
      var pinnedMb = 0.0
      lis.foreach { l =>
        l.drain(sc)
        created += l.takeUnpersisted().count(id => !before.contains(id) && !leaked.contains(id))
        pinnedMb = sc.getRDDStorageInfo.filter(i => leaked.contains(i.id))
          .map(i => i.memSize + i.diskSize).sum / 1e6
      }
      release(spark, before)
      lis.foreach { l => l.drain(sc); l.takeUnpersisted() }
      recs += Rec(req, lat, res.left.toOption, res.getOrElse(Array.empty), ms0, ms1,
        created, leaked.size, pinnedMb)
      seq += 1
    }
    (recs.toSeq, secondsSince(t0))
  }

  /** Unpersist every RDD persisted since `before` was taken. */
  def release(spark: SparkSession, before: Set[Int]): Unit = {
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.keySet.toSet -- before).foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true)))
  }

  private def perLayer(traced: Seq[Rec], plain: Seq[Rec], tr: Tracer,
      lis: EngineListener, ladder: Map[String, Double]): Map[String, Double] = {
    val ok = traced.filter(_.error.isEmpty)
    def mean(f: Rec => Double): Double = if (ok.isEmpty) 0.0 else ok.map(f).sum / ok.size
    def acc(r: Rec) = lis.get(s"r${r.req.seq}")
    def spanMedian(n: String): Double = {
      val d = tr.spans.filter(_.name == n).map(_.seconds)
      if (d.isEmpty) 0.0 else Stats.median(d)
    }
    Map(
      "engine.jobs" -> mean(acc(_).jobs.toDouble),
      "engine.stages" -> mean(acc(_).stages.toDouble),
      "engine.tasks" -> mean(acc(_).tasks.toDouble),
      "engine.short_jobs" -> mean(acc(_).intervals.count { case (a, b) => b - a < 50 }.toDouble),
      "engine.overhead_s" -> mean(r => r.latS -
        EngineListener.unionMs(acc(r).intervals.toSeq, r.startMs, r.endMs) / 1e3),
      "engine.task_cpu_s" -> mean(acc(_).cpuNs / 1e9),
      "engine.gc_s" -> mean(acc(_).gcMs / 1e3),
      "engine.shuffle_write_mb" -> mean(acc(_).shuffleWrite / 1e6),
      "engine.shuffle_read_mb" -> mean(acc(_).shuffleRead / 1e6),
      "engine.spill_mb" -> mean(acc(_).spill / 1e6),
      "engine.tasks_failed" -> mean(acc(_).tasksFailed.toDouble),
      "sources.input_mb" -> mean(acc(_).input / 1e6),
      "pipeline.build_s" -> spanMedian("pipeline.build"),
      "pipeline.exec_s" -> spanMedian("pipeline.exec"),
      "util.pins_created" -> mean(_.pinsCreated.toDouble),
      "util.pins_leaked" -> mean(_.pinsLeaked.toDouble),
      "util.pinned_mb" -> mean(_.pinnedMb),
      "trace.overhead_s" -> (Stats.median(traced.map(_.latS)) - Stats.median(plain.map(_.latS)))
    ) ++ ladder
  }

  /** (CPU-bound, shuffle-shaped) fixed-work calibration seconds; `shrink`
    * divides the work, for a warm-up. */
  def calibrate(spark: SparkSession, shrink: Int = 1): (Double, Double) = {
    val t0 = System.nanoTime()
    spark.range((1L << 26) / shrink).selectExpr("sum(xxhash64(id) % 100000)").collect()
    val t1 = System.nanoTime()
    spark.range(4000000L / shrink).groupBy((col("id") % 100000L).as("k")).count()
      .foreach((_: Row) => ())
    ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def str(s: String) = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case c => c.toString
  } + "\""

  private def writeResult(path: Path, name: String, seed: Long, trace: Boolean, recs: Seq[Rec],
      failed: Set[Int], oracle: Seq[OracleCase], metrics: Seq[(String, Double, String)],
      flagged: Boolean): Unit = {
    val kinds = recs.groupBy(_.req.kind).map { case (k, rs) => s"${str(k)}:${rs.size}" }
    val cases = oracle.map(c =>
      s"""{"kind":${str(c.kind)},"sql":${str(c.sqlFile)},"out":${str(c.outDir)},""" +
        s""""docs":${str(c.docsDir)},"seqs":${c.seqs.mkString("[", ",", "]")}}""")
    val ms = metrics.map { case (n, v, u) => s"""${str(n)}:{"value":$v,"unit":${str(u)}}""" }
    val json = s"""{"workload":${str(name)},"seed":$seed,"trace":${if (trace) 1 else 0},""" +
      s""""attempted":${recs.size},"seqs":${recs.map(_.req.seq).mkString("[", ",", "]")},""" +
      s""""failed_seqs":${failed.toSeq.sorted.mkString("[", ",", "]")},""" +
      s""""kinds":${kinds.mkString("{", ",", "}")},"oracle":${cases.mkString("[", ",", "]")},""" +
      s""""calibration_flagged":$flagged,"metrics":${ms.mkString("{", ",", "}")}}"""
    Files.write(path, json.getBytes("UTF-8"))
  }
}
