package graft.functions

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.funsuite.AnyFunSuite

import graft.SourceTree
import graft.agg.SparkTest
import graft.ext.TextAnalysis
import graft.model.TriMesh
import graft.operators.{BandJoin, ElevationExpr, MineExpr, RegionFlagExpr}

/** The per-row kernels behind the one [[Kernel]] expression: each kernel's
  * parity with the SQL composition it replaces, the same rows under
  * codegen and interpreted eval, the SQL surface's literal arguments, and
  * the rule that [[Kernel]] is the only expression that writes its own
  * codegen. */
class KernelSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  test("BigramHashes kernel == composed struct-explode xxhash64 chain") {
    val texts = Seq("the quick brown fox", "one", "", "a a a", "Mixed CASE 42!")
    val df = texts.toDF("t")
    val got = df.select($"t",
      explode(graft.functions.BigramHashes.column($"t")).as("b"))
      .select($"t", $"b.w1h", $"b.bh")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).toSeq).toMap
    val ts = TextAnalysis.wordTokens("t")
    val composed = df.filter(size(ts) >= 2)
      .select($"t", explode(transform(sequence(lit(2), size(ts)),
        g => struct(element_at(ts, g - 1).as("w1"), element_at(ts, g).as("w2"))))
        .as("b"))
      .select($"t", xxhash64($"b.w1"), xxhash64($"b.w1", $"b.w2"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).toSeq).toMap
    assert(got == composed)
  }

  test("DsirSlots kernel == composed uni+bigram md5-slot chain") {
    val texts = Seq("The quick brown-fox 42 jumps", "single", "", "!!!",
      "a b a b a")
    val df = texts.toDF("t")
    val buckets = 64
    val got = df.select(graft.functions.DsirSlots.column($"t", buckets).as("s"))
      .as[Seq[Int]].collect().toSeq.map(_.sorted)
    val ts = TextAnalysis.wordTokens("t")
    val uni = df.select($"t", explode(ts).as("f"))
    val bi = df.filter(size(ts) >= 2).select($"t",
      explode(transform(sequence(lit(2), size(ts)), g =>
        concat(element_at(ts, g - 1), lit(" "), element_at(ts, g)))).as("f"))
    val composedRows = uni.unionByName(bi)
      .select($"t", pmod(
        expr("CAST(conv(substring(md5(f),1,15),16,10) AS BIGINT)"),
        lit(buckets)).cast("int").as("slot"))
      .collect().map(r => (r.getString(0), r.getInt(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    val composed = texts.map(t => composedRows.getOrElse(t, Seq.empty))
    assert(got == composed)
  }

  test("MinMd5Ngram kernel == composed md5/substr formula, edges included") {
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "exactly8", "short", "", "åccénted ünicode tèxt here",
      "aaaaaaaaaaaaaaaaaaaa")
    val df = texts.toDF("t")
    val got = df.select(TextAnalysis.fingerprint("t").as("fp"))
      .as[String].collect().toSeq
    val composed = df.select(array_min(transform(
      sequence(lit(1), greatest(length($"t") - 7, lit(1))),
      i => md5($"t".substr(i, lit(8))))).as("fp")).as[String].collect().toSeq
    assert(got == composed)
  }

  // ---- one expression, two evaluation paths ------------------------------

  /** Every kernel, by name, over the [[fixture]]'s columns. */
  private def kernels(sc: org.apache.spark.SparkContext): Seq[(String, Column)] = {
    val box = TriMesh.box("s", 0, 10, 0, 10, 0, 10)
    val roof = TriMesh.quad("r", Array(0, 0, 6, 10, 0, 6, 10, 10, 6, 0, 10, 6))
    val hs = HashedShingles.column($"t", 2)
    val centroids = Array(Array(0.0, 0.0), Array(1.0, 1.0), Array(-2.0, 3.0))
    val bloom = BloomFilter.create(100, 0.01)
    bloom.putLong(ShingleKernel.hash60("b c"))
    Seq(
      "hashed_shingles" -> HashedShingles.column($"t", 3),
      "min_md5_ngram" -> MinMd5Ngram.column($"t", 4),
      "token_ngram_hashes" -> TokenNgramHashes.column($"t", 2),
      "dsir_slots" -> DsirSlots.column($"t", 16),
      "bigram_hashes" -> BigramHashes.column($"t"),
      "simhash_sketch" -> SimHashSketch.column($"t"),
      "minhash_band_keys" -> MinHashBandKeys.column(hs, Seq((3L, 5L), (7L, 11L)), 2),
      "array_overlaps_set" -> ArrayOverlapsSet.column(hs, Array(ShingleKernel.hash60("b c"))),
      "token_weight_sum" -> TokenWeightSum.column(split($"t", " "),
        Array("b" -> 0.5, "a" -> 2.0)),
      "deflate_ratio" -> DeflateRatio.column($"t"),
      "vec_dot" -> DotProduct.column($"v", $"w"),
      "nearest_centroid" -> NearestCentroid.column($"v", centroids),
      "probe_centroids" -> ProbeCentroids.column($"v", centroids, 2),
      "hyperplane_bucket" -> HyperplaneBucket.column($"v", 8),
      "sorted_intersect_size" -> SetSimilarity.sortedIntersectSize(hs,
        HashedShingles.column(lit("a b c d"), 2)),
      "array_might_contain_bloom" -> ArrayMightContainBloom.column(hs, bloom),
      "pq_adc" -> PqAdc.column($"code", $"v",
        Array(Array(Array(0.0), Array(2.0)), Array(Array(1.0), Array(-1.0)))),
      "band_lookup" -> BandJoin.bandOf($"x", Seq(("lo", 0.0, 5.0), ("hi", 5.0, 20.0))),
      "region_flag" -> RegionFlagExpr.column(sc, $"x", $"y", $"z", Seq(box)),
      "mine_fraction" -> MineExpr.column(sc, $"x", $"y", $"z", Seq(roof), Seq.empty,
        2.0, 0, 0, 0),
      "surface_elevation" -> ElevationExpr.column(sc, $"x", $"y", roof))
  }

  /** Two partitions, so no projection folds into a local relation. */
  private def fixture: DataFrame = Seq[(Int, String, Seq[java.lang.Double],
      Seq[java.lang.Double], Seq[Int], java.lang.Double, java.lang.Double, java.lang.Double)](
    (1, "a b c d", Seq(1.0, 2.0), Seq(0.5, -1.0), Seq(1, 0), 1.0, 2.0, 3.0),
    (2, "", Seq(-2.5, 3.0), Seq(2.0, 2.0), Seq(0, 1), 7.0, 8.0, 5.5),
    (3, null, null, Seq(1.0, 1.0), null, null, 2.0, 3.0),
    (4, "x b c y b c", Seq(1.0, null), Seq(1.0, 2.0), Seq(1, 1), 30.0, 30.0, 1.0),
    (5, "single", Seq(0.0, 0.0), Seq(1.0), Seq(0), 4.0, 4.0, null)
  ).toDF("id", "t", "v", "w", "code", "x", "y", "z").repartition(2)

  /** `body` with the session confs set, the previous values restored after. */
  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { confs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("every kernel returns the same rows under codegen and interpreted eval, nulls included") {
    val cases = kernels(spark.sparkContext)
    assert(cases.size == 21)
    def rows(c: Column) = fixture.select($"id", c.as("out")).orderBy("id").collect().toSeq
    // no silent fallback: generated code that fails to compile fails the case
    val compiled = withConfs("spark.sql.codegen.fallback" -> "false",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      cases.map { case (name, c) =>
        val df = fixture.select(c)
        df.collect()
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains(name)),
          s"$name is not in a whole-stage codegen stage:\n$plan")
        name -> rows(c)
      }
    }
    val interpreted = withConfs("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      cases.map { case (name, c) => name -> rows(c) }
    }
    compiled.zip(interpreted).foreach { case ((name, a), (_, b)) =>
      assert(a == b, s"$name: codegen $a != interpreted $b")
    }
    val byName = compiled.toMap
    assert(byName("region_flag").map(_.getString(1)) == Seq("s", "s", "", "", ""),
      "a null coordinate flags ''")
    assert(byName("hashed_shingles")(2).isNullAt(1), "a null text gives null")
    assert(byName("vec_dot")(3).isNullAt(1), "a null element gives null")
  }

  // ---- SQL surface ---------------------------------------------------------

  test("a SQL kernel given a column where a literal integer belongs fails naming the function") {
    graft.GraftFunctions.register(spark)
    Seq(("a b c d", 2)).toDF("t", "n").createOrReplaceTempView("kernel_args")
    assert(spark.sql("SELECT size(hashed_shingles(t, 2)) FROM kernel_args").head().getInt(0) == 3)
    val e = intercept[Exception](
      spark.sql("SELECT hashed_shingles(t, n) FROM kernel_args").collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).toList
    assert(msgs.exists(m => m != null &&
      m.contains("hashed_shingles: argument 2 must be a literal integer")), msgs.mkString("\n"))
  }

  // ---- the rule ------------------------------------------------------------

  test("Kernel is the only expression in src/main/scala that writes its own codegen") {
    val files = SourceTree.scalaFiles(SourceTree.mainScala)
    assert(files.size > 50, s"scanned too few sources: ${files.size}")
    val overrides = files.flatMap(f => "def doGenCode".r.findAllMatchIn(Files.readString(f))
      .map(_ => f.getFileName.toString))
    assert(overrides == List("Kernel.scala"),
      s"doGenCode outside graft.functions.Kernel: ${overrides.mkString(", ")}")
  }
}
