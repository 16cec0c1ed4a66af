package graft.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.SparkTest
import graft.ext.{Dedup, Eval, Graph, Ivf, Pq, Similarity, TextAnalysis}
import graft.model.GridSchema
import graft.operators.GridOps

/** [[Checkpoints.owning]] and [[Checkpoints.scoped]], the one owner of
  * library pins, under one close rule: every owned pin the result does
  * not read is released on return and on failure, the pins it reads pass
  * to the caller, lazy frames over another owner's pin are left intact,
  * pins are reliable under `graft.checkpoint.dir`, and the iterative and
  * driver-pulling members that run under a scope leak nothing. */
class CheckpointsSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  private def persistent: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def nums: DataFrame = (1 to 100).toDF("x")

  private def checkpointFile(df: DataFrame): Option[String] =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }
      .flatMap(_.getCheckpointFile)

  private def exists(file: String): Boolean = {
    val p = new Path(file)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def withCheckpointDir[A](f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(Checkpoints.DirConf, dir)
    try f(dir)
    finally spark.conf.unset(Checkpoints.DirConf)
  }

  private def filesUnder(dir: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(java.nio.file.Files.isRegularFile(_)).count()
    finally s.close()
  }

  test("owning: a result that reads one scope pin keeps that pin and only that pin") {
    val before = persistent
    val out = Checkpoints.owning { sc =>
      val a = sc.pin(nums)
      sc.pin(nums.select(($"x" * 2).as("y"))).count()
      a.filter($"x" > 50)
    }
    val kept = Checkpoints.pins(out).map(_.id).toSet
    assert(kept.size == 1 && persistent -- before == kept)
    assert(out.count() == 50)
    Checkpoints.release(out)
    assert(persistent == before)
  }

  test("owning: a driver-value result releases every pin") {
    val before = persistent
    val total = Checkpoints.owning { sc =>
      val a = sc.pin(nums)
      sc.pin(a.select(($"x" * 2).as("y"))).agg(sum($"y")).first().getLong(0)
    }
    assert(total == 10100L)
    assert(persistent == before)
  }

  test("owning: a throw releases every pin and propagates") {
    val before = persistent
    val e = intercept[IllegalStateException] {
      Checkpoints.owning[DataFrame] { sc =>
        val a = sc.pin(nums)
        sc.pin(a.select(($"x" + 1).as("x")), eager = false).count()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(persistent == before)
  }

  test("owning: a pin dropped with Scope.release is not released a second time") {
    val before = persistent
    var dropped: org.apache.spark.rdd.RDD[_] = null
    val n = Checkpoints.owning { sc =>
      val a = sc.pin(nums)
      dropped = Checkpoints.pins(a).head
      val n = a.count()
      sc.release(a)
      sc.release(a) // a second drop finds nothing owned
      assert(!persistent.contains(dropped.id))
      // persisted again by another holder: no longer this scope's, so
      // closing the scope must leave it alone
      dropped.persist()
      n
    }
    assert(n == 100)
    assert(persistent.contains(dropped.id),
      "closing the scope released a pin it had already dropped")
    dropped.unpersist()
    assert(persistent == before)
  }

  /** A deterministic directed graph that is not one component: a chain,
    * a cycle, a hub and an island, on long ids. */
  private def edges: DataFrame =
    ((0L until 30L).map(i => (i, i + 1)) ++ (40L until 50L).map(i =>
      (i, if (i == 49L) 40L else i + 1)) ++ (0L until 10L).map(i => (60L, 61L + i)) ++
      Seq((100L, 101L))).toDF("src", "dst")

  /** The distributed paths of the iterative operators, each returning a
    * frame whose pins the caller owns. */
  private def distributedRounds: Seq[(String, () => DataFrame)] = {
    val seeds = Seq((0L, "a"), (40L, "b"), (60L, "a")).toDF("node", "lab")
    Seq(
      "pageRank" -> (() => Graph.pageRank(edges, "src", "dst", 4,
        localThreshold = 0)),
      "labelPropagation" -> (() => Graph.labelPropagation(edges, seeds,
        "src", "dst", "node", "lab", 4, localThreshold = 0)),
      "bfsHops" -> (() => Graph.bfsHops(edges, seeds, "src", "dst", "node",
        4, localThreshold = 0)),
      "connectedComponents" -> (() => Dedup.connectedComponents(
        edges.toDF("id_a", "id_b"), localThreshold = 0)),
      "bpeSubwords" -> (() => TextAnalysis.bpeSubwords(Seq("abab abc",
        "ababab cab", "abc bcbc", "cab abab").toDF("text"), "text", 20,
        localThreshold = 0)))
  }

  test("distributed iterative rounds leave 0 net persistent RDDs once their result is released") {
    distributedRounds.foreach { case (name, f) =>
      val before = persistent
      val out = f()
      assert(out.count() > 0, name)
      Checkpoints.release(out)
      val leaked = persistent -- before
      assert(leaked.isEmpty, s"$name leaked persistent RDDs $leaked")
    }
  }

  test("with graft.checkpoint.dir set, no checkpoint files remain once the iterative results are released") {
    distributedRounds.foreach { case (name, f) =>
      withCheckpointDir { dir =>
        val out = f()
        assert(out.count() > 0, name)
        assert(filesUnder(dir) > 0, s"$name wrote no reliable checkpoint")
        Checkpoints.release(out)
        assert(filesUnder(dir) == 0, s"$name left checkpoint files under $dir")
      }
    }
  }

  test("vocabBaseline, gradeShellMesh and Pq.trainResidual leave 0 net persistent RDDs after they return") {
    val docs = Seq("the cat sat", "the dog sat down", "a cat and a dog")
      .toDF("text")
    val g = GridSchema(0, 0, 0, 1, 1, 1, 6, 5, 4)
    val grid = GridOps.generate(spark, g).withColumn("v", col("k").cast("double"))
    val vecs = (0 until 40).map(i => (i.toLong,
      Seq(i % 5 * 1.0, i % 7 * 1.0, i % 3 * 1.0, i % 2 * 1.0))).toDF("vec_id", "embedding")
    val coarse = Ivf.train(vecs, k = 2, iters = 2)
    val members: Seq[(String, () => Any)] = Seq(
      "vocabBaseline" -> (() => TextAnalysis.vocabBaseline(docs, "text", 3)),
      "gradeShellMesh" -> (() => GridOps.gradeShellMesh(grid, g, "v", 1.0, 2.0)),
      "trainResidual" -> (() => Pq.trainResidual(vecs, coarse, m = 2,
        ksub = 2, iters = 2)))
    members.foreach { case (name, f) =>
      val before = persistent
      f()
      val leaked = persistent -- before
      assert(leaked.isEmpty, s"$name leaked persistent RDDs $leaked")
    }
  }

  test("scoped releases its inputs and hands back a readable pinned result") {
    val before = persistent
    val out = Checkpoints.scoped { sc =>
      val a = sc.pin(nums)
      val b = sc.pin(a.select(($"x" * 2).as("y")))
      b.agg(sum($"y").as("s"))
    }
    assert(Checkpoints.isPin(out))
    assert((persistent -- before).size == 1, "only the result stays pinned")
    assert(out.first().getLong(0) == 10100L)
    Checkpoints.release(out)
    assert(persistent == before)
  }

  test("a throwing body releases every pin it took and rethrows") {
    val before = persistent
    val e = intercept[IllegalStateException] {
      Checkpoints.scoped { sc =>
        sc.pin(nums)
        sc.pin(nums.select(($"x" + 1).as("x")))
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(persistent == before)
  }

  test("a result that is already a pin is neither re-pinned nor released") {
    val before = persistent
    val pinned = Checkpoints.pin(nums)
    val created = persistent -- before
    val out = Checkpoints.scoped(_ => pinned)
    assert(out eq pinned)
    // a recorded pin returned as the result (here through a second
    // Dataset over the same checkpoint) is kept, not released
    val kept = Checkpoints.scoped(sc => sc.pin(nums).toDF())
    assert((persistent -- before).size == created.size + 1)
    assert(out.count() == 100 && kept.count() == 100)
    Seq(out, kept).foreach(Checkpoints.release)
    assert(persistent == before)
  }

  test("a nested scope over a lazy frame that reads an outer scope's pin leaves that pin readable") {
    val before = persistent
    val out = Checkpoints.scoped { outer =>
      val scored = outer.pin(nums.select(
        ($"x" % 7).cast("double").as("v"), ($"x" % 2).as("y"),
        array(($"x" % 3).cast("double"), lit(1.0)).as("e"),
        ($"x" % 4).as("g")))
      val mid = persistent
      // each nested body returns a lazy frame over `scored`; the nested
      // scopes must not release it, and hand their pinned results (and
      // the members' own) up to this scope
      val perG = Checkpoints.scoped { inner =>
        inner.pin(scored.select($"g")).count()
        scored.groupBy($"g").agg(count(lit(1)).as("n"))
      }
      val pos = Checkpoints.owning(_ => scored.filter($"y" === 1))
      val auc = Eval.aucRoc(scored, "v", "y")
      val drift = Similarity.embeddingDriftBy(scored, "g", "e")
      assert(mid.subsetOf(persistent), "the outer pin must survive")
      assert(scored.count() == 100 && pos.count() == 50)
      auc.crossJoin(drift.agg(count(lit(1)).as("slices")))
        .crossJoin(perG.agg(sum($"n").as("rows")))
    }
    val row = out.first()
    assert(row.getLong(3) == 4L && row.getLong(4) == 100L)
    assert((persistent -- before).size == 1)
    Checkpoints.release(out)
    assert(persistent == before)
  }

  test("with graft.checkpoint.dir set, scope pins are reliable checkpoints and their files are gone after the scope") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-scope")
    spark.conf.set(Checkpoints.DirConf, dir.toString)
    try {
      var input: DataFrame = null
      val out = Checkpoints.scoped { sc =>
        input = sc.pin(nums)
        input.agg(sum($"x").as("s"))
      }
      val (inFile, outFile) = (checkpointFile(input), checkpointFile(out))
      assert(inFile.isDefined && outFile.isDefined,
        "both the input and the result must be reliable checkpoints")
      assert(!exists(inFile.get), "the scope must delete its input's files")
      assert(exists(outFile.get) && out.first().getLong(0) == 5050L)
      Checkpoints.release(out)
      assert(!exists(outFile.get))
    } finally spark.conf.unset(Checkpoints.DirConf)
  }

  test("aucRoc, mutualInfo, spearman and bm25 pin their result and leave 0 net persistent RDDs once it is released") {
    val df = (0 until 200).map { i =>
      val v = math.round((i % 17) / 17.0 * 1e6) / 1e6
      (i.toLong, v, math.round((i * 7 % 13) / 13.0 * 1e6) / 1e6,
        if (i % 3 == 0) 1 else 0,
        s"alpha beta ${if (i % 4 == 0) "gamma" else "delta"} w${i % 9}")
    }.toDF("id", "v", "w", "y", "text")
    val members: Seq[(String, () => DataFrame)] = Seq(
      "aucRoc" -> (() => Eval.aucRoc(df, "v", "y")),
      "mutualInfo" -> (() => Eval.mutualInfo(df, "v", "w", 4)),
      "spearman" -> (() => Eval.spearman(df, "v", "w")),
      "bm25" -> (() => TextAnalysis.bm25(df, "id", "text", "gamma w3")))
    members.foreach { case (name, f) =>
      val before = persistent
      val out = f()
      out.collect()
      assert(Checkpoints.isPin(out), s"$name must hand back a pinned result")
      Checkpoints.release(out)
      val leaked = persistent -- before
      assert(leaked.isEmpty, s"$name leaked persistent RDDs $leaked")
    }
  }

  // ---- reliable checkpoints: Eval pins, file reclamation, dir re-wiring --

  test("spearman and mutualInfo are identical under localCheckpoint and reliable checkpoint") {
    // Eval's internal shared-scan pins route through Checkpoints.pin
    // (VERDICT r10 #2): with graft.checkpoint.dir set they must write
    // reliable checkpoints and reproduce the local-path results exactly.
    val df = (1 to 200)
      .map(i => (i.toDouble % 37, (i * i).toDouble % 23)).toDF("a", "b")
    def run() = (
      Eval.spearman(df, "a", "b").collect().toSeq.map(_.toSeq),
      Eval.mutualInfo(df, "a", "b", 5).collect().toSeq.map(_.toSeq))
    val local = run()
    withCheckpointDir { dir =>
      val reliable = run()
      assert(reliable == local,
        "reliable-checkpoint Eval pins must reproduce the local results")
      assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        .count() > 0, "reliable mode must actually write under the conf dir")
    }
  }

  test("Checkpoints.release deletes a reliable round's files (ContextCleaner does not)") {
    withCheckpointDir { dir =>
      val pinned = Checkpoints.pin(spark.range(100).toDF("id"))
      assert(pinned.count() == 100)
      assert(filesUnder(dir) > 0, "eager reliable pin must write checkpoint files")
      Checkpoints.release(pinned)
      assert(filesUnder(dir) == 0,
        "release must delete the round's reliable checkpoint files — " +
          "Spark's cleaner won't (cleanCheckpoints defaults to false)")
    }
  }

  test("pin follows a changed graft.checkpoint.dir instead of the stale wiring") {
    val d1 = java.nio.file.Files.createTempDirectory("graft-ckpt11a").toString
    val d2 = java.nio.file.Files.createTempDirectory("graft-ckpt11b").toString
    try {
      spark.conf.set(Checkpoints.DirConf, d1)
      Checkpoints.pin(spark.range(10).toDF("id")).count()
      assert(filesUnder(d1) > 0)
      spark.conf.set(Checkpoints.DirConf, d2)
      Checkpoints.pin(spark.range(10).toDF("id")).count()
      assert(filesUnder(d2) > 0,
        "a changed graft.checkpoint.dir must re-wire the checkpoint root")
    } finally spark.conf.unset(Checkpoints.DirConf)
  }
}
