package graft.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.SparkTest
import graft.ext.{Eval, Similarity, TextAnalysis}

/** [[Checkpoints.scoped]], the one owner of query-body and operator pins:
  * inputs released on return and on failure, the result handed to the
  * caller, lazy frames over another owner's pin left intact, reliable
  * pins under `graft.checkpoint.dir`, and the ownership contract of the
  * members that run under it. */
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
        sc.own(Checkpoints.pin(nums.select(($"x" + 1).as("x"))))
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

  test("with the guard off, a nested scope over an outer scope's pin leaves that pin readable") {
    spark.conf.set(GridGuard.EnabledConf, "false")
    try {
      val before = persistent
      val out = Checkpoints.scoped { outer =>
        val scored = outer.pin(nums.select(
          ($"x" % 7).cast("double").as("v"), ($"x" % 2).as("y"),
          array(($"x" % 3).cast("double"), lit(1.0)).as("e"),
          ($"x" % 4).as("g")))
        val mid = persistent
        // guard off: each member's gate hands back a lazy frame over
        // `scored`; the members' own scopes must not release it
        val auc = outer.own(Eval.aucRoc(scored, "v", "y"))
        val drift = outer.own(Similarity.embeddingDriftBy(scored, "g", "e"))
        assert(mid.subsetOf(persistent), "the outer pin must survive")
        assert(scored.count() == 100)
        auc.crossJoin(drift.agg(count(lit(1)).as("slices")))
      }
      val row = out.first()
      assert(row.getLong(3) == 4L)
      assert((persistent -- before).size == 1)
      Checkpoints.release(out)
      assert(persistent == before)
    } finally spark.conf.unset(GridGuard.EnabledConf)
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
    def runAll(): Map[String, Seq[Seq[Any]]] = members.map { case (name, f) =>
      val before = persistent
      val out = f()
      val rows = out.collect().map(_.toSeq).toSeq.sortBy(_.toString)
      assert(Checkpoints.isPin(out), s"$name must hand back a pinned result")
      Checkpoints.release(out)
      val leaked = persistent -- before
      assert(leaked.isEmpty, s"$name leaked persistent RDDs $leaked")
      name -> rows
    }.toMap
    val on = runAll()
    spark.conf.set(GridGuard.EnabledConf, "false")
    val off = try runAll() finally spark.conf.unset(GridGuard.EnabledConf)
    for ((name, _) <- members)
      assert(off(name) == on(name), s"$name rows differ with the guard off")
  }
}
