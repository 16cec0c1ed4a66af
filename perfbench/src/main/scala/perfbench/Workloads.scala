package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.model.GridSchema
import graft.operators.{FlagRegions, GridOps, MineDepletion}
import graft.pipeline.{BmBreakdown, CorpusCuration, Reserves}
import graft.sources.{BlockModelStore, Ingest}
import perfbench.Ref.{Agg, Spec}

/** One timed request: `run` makes the public calls and returns the rows the
  * correctness check reads. `key` identifies the request's inputs, so equal
  * keys must give equal answers. */
final case class Request(seq: Int, kind: String, key: String, rowsIn: Long,
    run: Tracer => Array[Row])

/** A DuckDB comparison the Python wrapper runs after the JVM exits. */
final case class OracleCase(kind: String, sqlFile: String, outDir: String,
    docsDir: String, seqs: Seq[Int])

final case class CheckResult(failures: Map[Int, String], oracle: Seq[OracleCase] = Nil)

trait Workload {
  /** Requests per schedule block: seqs 0 until blockSize hold every kind. */
  def blockSize: Int
  /** Generate and write this round's inputs; later requests use the last round's. */
  def setup(round: Int): Unit
  def request(seq: Int): Request
  def check(outs: Seq[(Request, Array[Row])], checkDir: Path): CheckResult
  /** Per-layer metrics from materializing plan prefixes. */
  def ladder(l: Ladder): Map[String, Double]
}

/** Seeded request schedule: templates come in blocks, each block a seeded
  * permutation of all templates, so every run sees the same mix whatever
  * its seed; the seed orders the requests and draws their parameters. */
object Schedule {
  def template(seed: Long, seq: Int, templates: Int): Int = {
    val r = new SplittableRandom(seed * 7919L + seq / templates)
    val perm = Array.range(0, templates)
    for (i <- templates - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    perm(seq % templates)
  }
  def rng(seed: Long, seq: Int): SplittableRandom =
    new SplittableRandom(seed * 1000003L + seq * 7L + 1)
}

/** Times plan prefixes into a `noop` sink, each the best of two runs,
  * under a ladder tag so its engine counters stay apart from requests. */
final class Ladder(spark: SparkSession, lis: EngineListener) {
  private var n = 0
  def time(name: String)(f: => Unit): (Double, EngineListener#Acc) = {
    val sc = spark.sparkContext
    val runs = (0 until 2).map { _ =>
      val tag = s"ladder:$name:$n"; n += 1
      val before = sc.getPersistentRDDs.keySet.toSet
      sc.setLocalProperty(EngineListener.Tag, tag)
      val t0 = System.nanoTime()
      try f finally sc.setLocalProperty(EngineListener.Tag, null)
      val t = (System.nanoTime() - t0) / 1e9
      Main.release(spark, before)
      (t, tag)
    }
    lis.drain(sc)
    val (t, tag) = runs.minBy(_._1)
    (t, lis.get(tag))
  }
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Workload {
  /** Compute `f` for every key on a pool of four threads, so the
    * reference queries of a check run as concurrent Spark jobs. */
  def parMap[K, V](keys: Seq[K])(f: K => V): Map[K, V] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = keys.map(k => k -> pool.submit(new java.util.concurrent.Callable[V] {
        def call(): V = f(k)
      }))
      futures.map { case (k, fu) => k -> fu.get() }.toMap
    } finally pool.shutdown()
  }

  def apply(name: String, spark: SparkSession, seed: Long, dir: Path): Workload = name match {
    case "reserves" => new ReservesWorkload(spark, seed, dir)
    case "curation" => new CurationWorkload(spark, seed, dir)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
  val Names: Seq[String] = Seq("reserves", "curation")

  /** Columns each file scan in `df`'s physical plan reads. */
  def scannedColumns(df: DataFrame): Seq[Set[String]] =
    df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f.requiredSchema.fieldNames.toSet
    }

  def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def delete(p: Path): Unit = {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}

/** The paper's pipeline. Set-up loads a block-model CSV (separator sniff,
  * schema inference, −99 mask) and writes it to the z-slab store; each
  * request flags the stored model by convex region solids, depletes it by
  * a topography and a pit surface, and runs a mine-weighted breakdown.
  * Successive requests share the model. */
final class ReservesWorkload(spark: SparkSession, seed: Long, dir: Path) extends Workload {
  val g: GridSchema = GridSchema(1000, 2000, 100, 5, 5, 5, 64, 64, 32)
  val regions = Gen.regions(seed, g)
  private val (topo, pits) = Gen.surfaces(seed, g, 101, 3)
  private val topoMesh = topo.mesh
  private val pitMeshes = pits.map(_.mesh)
  // the solids' z-range: cells outside it cannot be flagged, so only these
  // slabs are read
  private val (zLo, zHi) = (regions.map(_.bounds(4)).min, regions.map(_.bounds(5)).max)
  private var store = ""
  private var facts: Gen.CsvFacts = _
  private var inferS, writeS = 0.0

  val templates: Seq[(String, Spec)] = Seq(
    "grades" -> Spec(Seq("lito"), Seq(Agg("vol", "sum", "volume"),
      Agg("grade_mean", "mean", "grade"), Agg("density_mean", "mean", "density"))),
    "tonnage" -> Spec(Seq("lito"), Seq(Agg("grade_w", "mean", "grade", Seq("density", "volume")),
      Agg("mass", "sum", "density", Seq("volume")), Agg("vol", "sum", "volume"))),
    "median" -> Spec(Nil, Seq(Agg("grade_wq2", "q2", "grade", Seq("density")),
      Agg("vol", "sum", "volume"), Agg("grade_max", "max", "grade"),
      Agg("lito_major", "major", "lito"), Agg("litos", "list", "lito"))),
    "quartiles" -> Spec(Seq("lito"), Seq(Agg("grade_q1", "q1", "grade"),
      Agg("grade_q3", "q3", "grade"), Agg("vol", "sum", "volume"))))
  def blockSize: Int = templates.size

  def setup(round: Int): Unit = {
    val in = dir.resolve(s"in$round")
    Files.createDirectories(in)
    val csv = in.resolve("blocks.csv")
    facts = Gen.blockCsv(seed, g, csv)
    store = in.resolve("store").toString
    val t0 = System.nanoTime()
    val df = Ingest.load(spark, csv.toString)
    val t1 = System.nanoTime()
    BlockModelStore.write(df, store)
    inferS = (t1 - t0) / 1e9
    writeS = (System.nanoTime() - t1) / 1e9
  }

  /** Differences between the stored model and the generator's facts. */
  private def storeProblem(): Option[String] = {
    val r = spark.read.parquet(store).agg(count(lit(1)), count(when(col("grade").isNull, 1)),
      count(when(col("density").isNull, 1)), sum("i"), sum("j"), sum("k"),
      sum(round(col("grade") * 1000).cast("long")),
      count(when(col("lito") === "oxide", 1)), count(when(col("lito") === "transition", 1)),
      count(when(col("lito") === "fresh", 1))).head()
    val got = (0 until r.length).map(r.getLong)
    val want = Seq(facts.rows, facts.gradeNulls, facts.densityNulls, facts.sumI, facts.sumJ,
      facts.sumK, facts.gradeMilli) ++ Gen.Litos.map(l => facts.litoCounts.getOrElse(l, 0L))
    if (got != want) Some(s"stored model $got vs generator $want")
    else if (scala.util.Try(BlockModelStore.slabCells(store)).isFailure)
      Some("store has no slab metadata")
    else None
  }

  def model: DataFrame = BlockModelStore.readZRange(spark, store, g, zLo, zHi)

  private def report(spec: Spec, pit: Int): DataFrame = Reserves.run(spark, model, g,
    spec.graftSpec, regions, Seq(topoMesh), Seq(pitMeshes(pit)))

  def request(seq: Int): Request = {
    val (kind, spec) = templates(Schedule.template(seed, seq, templates.size))
    val pit = Schedule.rng(seed, seq).nextInt(pits.size)
    Request(seq, kind, s"$kind|$pit", g.nCells, tr => {
      val df = tr.span("pipeline.build")(report(spec, pit))
      tr.span("pipeline.exec")(df.collect())
    })
  }

  def check(outs: Seq[(Request, Array[Row])], checkDir: Path): CheckResult =
    storeProblem() match {
      case Some(p) => CheckResult(outs.map(_._1.seq -> p).toMap)
      case None => checkReports(outs)
    }

  private def checkReports(outs: Seq[(Request, Array[Row])]): CheckResult = {
    val solids = regions.map(m => (m.name, new Ref.HalfSpaces(m))).reverse // last wins
    val (t, ps, dz) = (topo, pits, g.sz)
    val regionOf = udf((x: Double, y: Double, z: Double) =>
      solids.collectFirst { case (n, h) if h.contains(x, y, z) => n }.getOrElse(""))
    val mineOf = udf((x: Double, y: Double, z: Double, p: Int) =>
      Ref.fracBelow(t, x, y, z, dz) * (1.0 - Ref.fracBelow(ps(p), x, y, z, dz)))
    // the whole store, not the slab window: a pruning bug must show here
    val cells = spark.read.parquet(store)
      .select(col("x"), col("y"), col("z"), col("grade"), col("lito"), col("density"),
        lit(g.cellVolume).as("volume"),
        regionOf(col("x"), col("y"), col("z")).as("region"))
      .filter(col("region") =!= "")
    val withMine = pits.indices.foldLeft(cells)((df, p) =>
      df.withColumn(s"mine_p$p", mineOf(col("x"), col("y"), col("z"), lit(p)))).cache()
    withMine.createOrReplaceTempView("ref_cells")
    val specs = templates.toMap
    val want = Workload.parMap(outs.map(_._1.key).distinct) { key =>
      val Array(kind, pit) = key.split('|')
      spark.sql(Ref.sql(s"(SELECT *, mine_p$pit AS mine FROM ref_cells)",
        specs(kind).reserves)).collect()
    }
    withMine.unpersist()
    CheckResult(outs.flatMap { case (r, rows) =>
      Ref.diff(rows, want(r.key), specs(r.kind).reserves.keys.size).map(r.seq -> _)
    }.toMap)
  }

  /** Ladder prefixes of one request in the order its optimized plan runs
    * them (the region filter is pushed below the depletion kernel, so
    * flagging sees every cell and depletion only flagged ones), each
    * reading exactly the store columns the full request reads. */
  def prefixes(spec: Spec, pit: Int): (Seq[DataFrame], DataFrame) = {
    val full = report(spec, pit)
    val cols = Workload.scannedColumns(full).flatten.distinct.map(col)
    val scan = model.select(cols: _*)
    val flagged = FlagRegions(spark, GridOps.cellsVolume(scan, g), regions)
      .filter(col("region") =!= "")
    val mined = MineDepletion(spark, flagged, Seq(topoMesh), Seq(pitMeshes(pit)), g.sz,
      cellSizeXY = (g.sx, g.sy))
    (Seq(scan, flagged, mined), full)
  }

  def ladder(l: Ladder): Map[String, Double] = {
    val spec = templates(Schedule.template(seed, 1, templates.size))._2
    val (Seq(scan, flagged, mined), _) = prefixes(spec, 0)
    val (tScan, _) = l.time("scan")(l.noop(scan))
    val (tFlag, _) = l.time("flag")(l.noop(flagged))
    val (tMine, _) = l.time("mine")(l.noop(mined))
    // a fresh DataFrame per run: collecting one twice would reuse its
    // materialized shuffle stages
    var groups = 0
    val (tFull, acc) = l.time("full") { groups = report(spec, 0).collect().length }
    val cells = model.count().toDouble
    val storeBytes = Workload.dirBytes(java.nio.file.Paths.get(store))
    val slabs = Files.list(java.nio.file.Paths.get(store)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("kslab=")).map(_.drop(6).toInt).toSeq
    val sc = BlockModelStore.slabCells(store)
    val (kLo, kHi) = (math.floor((zLo - g.oz) / g.sz).toInt / sc, math.floor((zHi - g.oz) / g.sz).toInt / sc)
    Map(
      "sources.scan_s" -> tScan,
      "sources.slab_read_ratio" -> slabs.count(k => k >= kLo && k <= kHi).toDouble / slabs.size,
      "sources.infer_s" -> inferS,
      "sources.write_s" -> writeS,
      "sources.output_mb" -> storeBytes / 1e6,
      "sources.write_amp" -> storeBytes.toDouble / facts.bytes,
      "operators.flag_s" -> (tFlag - tScan),
      "operators.mine_s" -> (tMine - tFlag),
      "operators.ns_per_cell" -> (tMine - tScan) * 1e9 / cells,
      "agg.breakdown_s" -> (tFull - tMine),
      "agg.groups_out" -> groups,
      "agg.shuffle_mb" -> acc.shuffleWrite / 1e6)
  }
}

/** Corpus curation over a pinned corpus: near-duplicate removal, text
  * kernels and the quality gate, with tens of jobs per request. */
final class CurationWorkload(spark: SparkSession, seed: Long, dir: Path) extends Workload {
  val docs = 1500
  private var docsPath = ""
  private var corpus: DataFrame = _
  // curate is eight in ten of the mix, so the median and the latency tail
  // both fall inside its latency mode, not on a boundary between kinds
  val kinds: Seq[String] = Seq.fill(8)("curate") ++ Seq("keep_best", "minhash")
  def blockSize: Int = kinds.size
  private val oracleQuery = Map("curate" -> "q46_corpus_curate",
    "keep_best" -> "q180_curate_keep_best", "minhash" -> "q21_minhash_lsh")

  def setup(round: Int): Unit = {
    docsPath = dir.resolve(s"in$round/documents").toString
    spark.createDataFrame(Gen.corpus(seed, docs).asJava, Gen.CorpusSchema)
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(docsPath)
    if (corpus != null) graft.util.Checkpoints.release(corpus)
    corpus = graft.util.Checkpoints.pin(spark.read.parquet(docsPath))
  }

  private def minhash: DataFrame =
    graft.ext.Dedup.minhashLsh(corpus, "text", "doc_id", numHashes = 16, bands = 4,
      minJaccard = 0.3)

  def request(seq: Int): Request = {
    val kind = kinds(Schedule.template(seed, seq, kinds.size))
    Request(seq, kind, kind, docs, tr => {
      val df = tr.span("pipeline.build")(kind match {
        case "curate" => CorpusCuration.curate(corpus)
        case "keep_best" => CorpusCuration.curateKeepBest(corpus)
        case _ => minhash.select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      })
      tr.span("pipeline.exec")(df.collect())
    })
  }

  /** Every answer of a kind must equal the first; the first is written
    * out for the registry's DuckDB oracle, which the wrapper runs. */
  def check(outs: Seq[(Request, Array[Row])], checkDir: Path): CheckResult = {
    val byKind = outs.groupBy(_._1.kind)
    val failures = byKind.values.flatMap { os =>
      val first = os.head._2.map(_.toString).sorted.toSeq
      os.tail.collect { case (r, rows) if rows.map(_.toString).sorted.toSeq != first =>
        r.seq -> "answer differs from the first answer of its kind"
      }
    }.toMap
    val empty = byKind.collect { case (_, os) if os.head._2.isEmpty =>
      os.map(_._1.seq -> "empty answer") }.flatten.toMap
    val cases = byKind.toSeq.sortBy(_._1).filter(_._2.head._2.nonEmpty).map { case (kind, os) =>
      val rows = os.head._2
      val out = checkDir.resolve(kind).toString
      spark.createDataFrame(rows.toSeq.asJava, rows.head.schema).coalesce(1)
        .write.mode("overwrite").parquet(out)
      val sqlFile = checkDir.resolve(s"$kind.sql")
      Files.write(sqlFile, graft.SparkEntry.oracleSql(oracleQuery(kind)).getBytes("UTF-8"))
      OracleCase(kind, sqlFile.toString, out, docsPath, os.map(_._1.seq))
    }
    CheckResult(failures ++ empty, cases)
  }

  def ladder(l: Ladder): Map[String, Double] = {
    val (tScan, _) = l.time("scan")(l.noop(corpus.select("doc_id", "text")))
    val (tKern, _) = l.time("kernels")(l.noop(CorpusCuration.curationFeatures(corpus)))
    val (tDedup, _) = l.time("dedup")(l.noop(minhash))
    l.time("full")(CorpusCuration.curate(corpus).collect())
    val cand = graft.ext.Dedup.minhashCandidates(corpus, "text", "doc_id", 16, 4).count().toDouble
    val kept = minhash.count().toDouble
    Map(
      "functions.kernel_s" -> (tKern - tScan),
      "functions.ns_per_doc" -> (tKern - tScan) * 1e9 / docs,
      "ext.dedup_s" -> (tDedup - tScan),
      "ext.candidate_pairs" -> cand,
      "ext.pairs_kept" -> kept,
      "ext.pair_yield" -> (if (cand > 0) kept / cand else 0.0))
  }
}

