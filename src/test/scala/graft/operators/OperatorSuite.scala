package graft.operators

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.SparkEnv
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.SparkTest
import graft.model.{GridSchema, TriMesh}
import graft.sources.BlockModelStore

class AsOfJoinSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  private def ts(min: Long) = new Timestamp(min * 60000L)

  test("backward as-of picks the latest right row at-or-before, per key") {
    val trades = Seq((1L, ts(10), "t1"), (1L, ts(30), "t2"), (2L, ts(5), "t3"))
      .toDF("acct", "t", "trade")
    val quotes = Seq((1L, ts(8), 100.0), (1L, ts(10), 101.0), (1L, ts(25), 105.0),
      (2L, ts(6), 50.0)).toDF("acct", "qt", "px")
    val out = AsOfJoin.backward(trades, quotes, "acct", "t", "qt", Seq("px"))
      .orderBy("t").collect()
    val byTrade = out.map(r => r.getString(2) ->
      (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(byTrade("t1").contains(101.0)) // equal timestamps included (<=)
    assert(byTrade("t2").contains(105.0))
    assert(byTrade("t3").isEmpty) // no quote at-or-before
  }

  test("values come from one right row (struct transport)") {
    val l = Seq((1L, ts(10), "e")).toDF("k", "t", "tag")
    val r = Seq((1L, ts(5), Some(7L), Option.empty[Double]),
      (1L, ts(8), Option.empty[Long], Some(3.0))).toDF("k", "rt", "a", "b")
    val out = AsOfJoin.backward(l, r, "k", "t", "rt", Seq("a", "b")).collect()(0)
    // latest right row is (null, 3.0) — 'a' must NOT leak from the earlier row
    assert(out.isNullAt(3) && out.getDouble(4) == 3.0)
  }
}

class BandJoinSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  private val bands = Seq(("low", 0.0, 10.0), ("mid", 10.0, 25.0), ("high", 25.0, 45.0))

  test("bandOf equals the relational range join on every boundary") {
    val vals = Seq(-1.0, 0.0, 9.999, 10.0, 24.999, 25.0, 44.999, 45.0, 100.0)
      .toDF("v")
    val viaExpr = vals.withColumn("b",
      graft.operators.BandJoin.bandOf(col("v"), bands))
      .collect().map(r => r.getDouble(0) -> Option(r.getString(1))).toMap
    val bandsDf = bands.toDF("name", "lo", "hi")
    val viaJoin = graft.operators.BandJoin
      .joinByRange(vals, bandsDf, "v", "lo", "hi")
      .collect().map(r => r.getDouble(0) -> Some(r.getString(1))).toMap
    vals.collect().map(_.getDouble(0)).foreach { v =>
      assert(viaExpr(v) == viaJoin.getOrElse(v, None), s"v=$v")
    }
    assert(viaExpr(0.0).contains("low") && viaExpr(10.0).contains("mid"))
    assert(viaExpr(45.0).isEmpty && viaExpr(-1.0).isEmpty) // [lo, hi) edges
  }

  test("overlapping bands are rejected in the fast path") {
    intercept[IllegalArgumentException] {
      graft.operators.BandJoin.bandOf(lit(1.0),
        Seq(("a", 0.0, 11.0), ("b", 10.0, 20.0)))
    }
  }
}

class GraftFunctionsSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  test("weighted_quantile and major usable from SQL") {
    graft.GraftFunctions.register(spark)
    Seq(("a", 10.0, 1.0), ("a", 20.0, 2.0), ("a", 30.0, 1.0),
      ("b", 5.0, 1.0), ("b", 5.0, 1.0), ("b", 9.0, 1.0))
      .toDF("k", "v", "w").createOrReplaceTempView("t_wq")
    val out = spark.sql(
      """SELECT k, weighted_quantile(v, w, 0.5) AS q, major(k) AS m
         FROM t_wq GROUP BY k ORDER BY k""").collect()
    assert(out(0).getDouble(1) == 20.0)
    assert(out(0).getString(2) == "a")
  }

  test("r8 kernels usable from SQL: min_md5_ngram, token_ngram_hashes, dsir_slots, bigram_hashes") {
    graft.GraftFunctions.register(spark)
    Seq("the quick brown fox jumps over it").toDF("t")
      .createOrReplaceTempView("t_k8")
    val r = spark.sql(
      """SELECT min_md5_ngram(t) AS fp, size(token_ngram_hashes(t, 3)) AS ng,
           size(dsir_slots(t, 64)) AS ds, size(bigram_hashes(t)) AS bg
         FROM t_k8""").head()
    assert(r.getString(0).length == 32)
    assert(r.getInt(1) == 5)  // 7 tokens -> 5 positional 3-grams
    assert(r.getInt(2) == 13) // 7 unigrams + 6 bigrams
    assert(r.getInt(3) == 6)
  }

  test("misra_gries usable from SQL: retained set covers the heavy token") {
    graft.GraftFunctions.register(spark)
    (Seq.fill(50)("hot") ++ (1 to 30).map(i => s"c$i")).toDF("t")
      .createOrReplaceTempView("t_mg")
    val retained = spark.sql("SELECT misra_gries(t, 8) FROM t_mg")
      .head().getSeq[String](0)
    assert(retained.contains("hot") && retained.size <= 8)
    // estimate-desc transport order puts the heavy token first
    assert(retained.head == "hot")
  }

  test("kernel functions usable from SQL: shingles, simhash, jaccard") {
    graft.GraftFunctions.register(spark)
    Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"))
      .toDF("id", "t").createOrReplaceTempView("t_kern")
    val r = spark.sql(
      """SELECT jaccard_sorted(a.sh, b.sh) AS j,
           a.sk = b.sk AS same_sketch,
           sorted_intersect_size(a.sh, b.sh) AS inter
         FROM (SELECT hashed_shingles(t) AS sh, simhash(t) AS sk FROM t_kern WHERE id = 1) a,
              (SELECT hashed_shingles(t) AS sh, simhash(t) AS sk FROM t_kern WHERE id = 2) b
      """).collect()(0)
    assert(r.getDouble(0) > 0.5 && r.getDouble(0) < 1.0) // near-dup jaccard
    assert(r.getInt(2) > 0)
  }

  test("SQL major() handles non-string, non-double columns (INT keys)") {
    graft.GraftFunctions.register(spark)
    Seq(("a", 3), ("a", 3), ("a", 7), ("b", 1), ("b", 2), ("b", 2))
      .toDF("k", "i").createOrReplaceTempView("t_major_int")
    // INT child used to ship Integer keys into MajorAgg.serialize and throw
    // ClassCastException during partial-aggregate exchange; the builder now
    // casts like the Column API does.
    val out = spark.sql(
      "SELECT k, major(i) AS m FROM t_major_int GROUP BY k ORDER BY k").collect()
    assert(out(0).getDouble(1) == 3.0)
    assert(out(1).getDouble(1) == 2.0)
  }

  test("round-4 SQL surface: redact_pii, vec_dot, bounded_list") {
    graft.GraftFunctions.register(spark)
    Seq(("g", "mail a@b.org now", Array(1.0, 2.0), Array(3.0, 4.0)),
      ("g", "call 555-123-4567", Array(0.0, 1.0), Array(1.0, 0.0)))
      .toDF("k", "t", "va", "vb").createOrReplaceTempView("t_r4")
    val r = spark.sql(
      """SELECT redact_pii(t) AS red, vec_dot(va, vb) AS d FROM t_r4
         ORDER BY t""").collect()
    assert(r(0).getString(0) == "call <PHONE>" && r(0).getDouble(1) == 0.0)
    assert(r(1).getString(0) == "mail <EMAIL> now" && r(1).getDouble(1) == 11.0)
    val l = spark.sql(
      "SELECT bounded_list(t, 1) AS l FROM t_r4 GROUP BY k").collect()(0)
    assert(l.getString(0) == "call 555-123-4567,…")
  }

  test("round-6 SQL surface: gopher quality signals") {
    graft.GraftFunctions.register(spark)
    Seq((1L, "aa bbb cccc"), (2L, "x! y? z."), (3L, "w w w w w"))
      .toDF("id", "t").createOrReplaceTempView("t_r6q")
    val r = spark.sql(
      """SELECT mean_word_length(t) AS mw, symbol_word_ratio(t) AS sr,
           alpha_word_fraction(t) AS af, dup_shingle_fraction(t) AS df
         FROM t_r6q ORDER BY id""").collect()
    assert(r(0).getDouble(0) == 3.0)
    assert(r(1).getDouble(1) == 1.0)
    assert(math.abs(r(2).getDouble(3) - 2.0 / 3.0) < 1e-12)
  }

  test("round-9 SQL surface: token_entropy matches the DataFrame operator") {
    graft.GraftFunctions.register(spark)
    Seq((1L, "a b c d"), (2L, "spam spam spam"), (3L, ""))
      .toDF("doc_id", "text").createOrReplaceTempView("t_r9e")
    val viaSql = spark.sql(
      "SELECT doc_id, token_entropy(text) AS e FROM t_r9e ORDER BY doc_id")
      .collect().map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    val viaOp = graft.ext.TextAnalysis
      .tokenEntropy(spark.table("t_r9e"), "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    assert(viaSql.toSeq == viaOp.toSeq)
    assert(viaSql(0).contains(BigDecimal(math.log(4.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    assert(viaSql(1).contains(0.0) && viaSql(2).isEmpty)
  }

  test("round-5 SQL text surface: token_count, lang_id, quality_score, normalize_text, fingerprint") {
    graft.GraftFunctions.register(spark)
    Seq((1L, "the cat and the dog walked to the park"),
      (2L, "  Hello,\tWorld!!  "))
      .toDF("id", "t").createOrReplaceTempView("t_r5t")
    val r = spark.sql(
      """SELECT token_count(t) AS tc, lang_id(t) AS lang,
           quality_score(t) AS q, normalize_text(t) AS n, fingerprint(t) AS fp
         FROM t_r5t ORDER BY id""").collect()
    assert(r(0).getInt(0) == 9 && r(0).getString(1) == "en")
    assert(r(0).getDouble(2) > 0.5)
    assert(r(1).getString(3) == "hello world")
    assert(r(1).getString(4).length == 32) // md5 hex
    // SQL ≡ Column API (same composition, same results)
    val viaCol = spark.table("t_r5t").select(
      org.apache.spark.sql.functions.col("id"),
      graft.ext.TextAnalysis.tokenCount("t"),
      graft.ext.TextAnalysis.langId("t"),
      graft.ext.TextAnalysis.normalize("t"),
      graft.ext.TextAnalysis.fingerprint("t"))
      .orderBy("id").collect()
    assert(viaCol(0).getInt(1) == r(0).getInt(0))
    assert(viaCol(0).getString(2) == r(0).getString(1))
    assert(viaCol(1).getString(3) == r(1).getString(3))
    assert(viaCol(1).getString(4) == r(1).getString(4))
  }

  test("round-5 SQL surface: hyperplane_bucket, vector_mean") {
    graft.GraftFunctions.register(spark)
    Seq(("g", Array(1.0f, 0.0f)), ("g", Array(0.9f, 0.1f)), ("g", Array(-1.0f, 0.0f)))
      .toDF("k", "v").createOrReplaceTempView("t_r5")
    val b = spark.sql(
      "SELECT hyperplane_bucket(v) AS b FROM t_r5 ORDER BY v[0] DESC").collect()
    assert(b(0).getLong(0) == b(1).getLong(0)) // near-parallel share a bucket
    assert(b(0).getLong(0) != b(2).getLong(0)) // antipodal differ
    val m = spark.sql(
      "SELECT vector_mean(v) AS m FROM t_r5 GROUP BY k").collect()(0)
        .getSeq[Double](0)
    assert(math.abs(m(0) - (1.0f + 0.9f + -1.0f) / 3.0) < 1e-7)
  }
}

class ElevationSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  test("codegen elevation: plane height inside footprint, null outside, no UDF") {
    val quad = TriMesh.quad("q",
      Array(0, 0, 5, 10, 0, 5, 10, 10, 5, 0, 10, 5))
    // repartition keeps the optimizer from folding the expression into a
    // LocalTableScan, so the assertion sees the real codegen plan
    val pts = Seq((3.3, 4.4), (9.9, 0.1), (11.0, 4.4)).toDF("x", "y")
      .repartition(2)
    val out = Elevation(pts, quad)
    // the kernel is a native Expression — no ScalaUDF boundary in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"))
    assert(plan.contains("surface_elevation"))
    val rows = out.orderBy("x").collect()
      .map(r => if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    assert(rows(0).exists(z => math.abs(z - 5.0) < 1e-9))
    assert(rows(1).exists(z => math.abs(z - 5.0) < 1e-9))
    assert(rows(2).isEmpty) // off-footprint ray miss
  }

  test("tridist: |z − surface| along the vertical ray, null on miss, no UDF") {
    // sloped plane z = 2 + 0.5x over x∈[0,10], y∈[0,10]
    val quad = TriMesh.quad("q",
      Array(0, 0, 2, 10, 0, 7, 10, 10, 7, 0, 10, 2))
    val pts = Seq((4.0, 5.0, 10.0), (4.0, 5.0, 1.0), (12.0, 5.0, 3.0))
      .toDF("x", "y", "z").repartition(2)
    val out = Tridist(pts, quad)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"))
    val rows = out.orderBy($"z".desc).collect()
      .map(r => if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    // surface at x=4 is z=4: distances |10−4| and |1−4| — the reference's
    // ‖p − mean(hits)‖ reduces to the vertical gap on a vertical ray
    assert(rows(0).exists(d => math.abs(d - 6.0) < 1e-9))
    assert(rows(2).exists(d => math.abs(d - 3.0) < 1e-9))
    assert(rows(1).isEmpty) // x=12 is off-footprint → null, not 0
  }
}

class FlagRegionsSuite extends AnyFunSuite {
  test("a region solid with vertices but no triangles flags no cell") {
    val g = GridSchema(0, 0, 0, 10, 10, 10, 4, 4, 4)
    val solid = TriMesh.box("s", 4, 26, 4, 26, 4, 26)
    val empty = TriMesh("e", Array(0.0, 0, 0, 40, 40, 40), Array())
    val flags = FlagRegions(SparkTest.spark, GridOps.generate(SparkTest.spark, g),
        Seq(solid, empty))
      .select("x", "y", "z", "region").collect()
    assert(flags.length == 64)
    flags.foreach { r =>
      val in = Seq(r.getDouble(0), r.getDouble(1), r.getDouble(2)).forall(c => c > 4 && c < 26)
      assert(r.getString(3) == (if (in) "s" else ""), r)
    }
    assert(flags.count(_.getString(3) == "s") == 27)
  }
}

/** The geometry kernels ship their meshes by broadcast: the expressions a
  * task binary carries stay small, and concurrent tasks that share one mesh
  * instance (and its one index) answer exactly as direct kernel calls. */
class GeomExpressionsSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  // 101 × 101 nodes = 20,000 triangles, ~0.5 MB of vertex and index arrays
  private def topo = TriMesh.heightfield("topo", 0, 0, 1.0, 101)(
    (x, y) => 60 + 8 * math.sin(x / 13) * math.cos(y / 17))
  private def pit = TriMesh.heightfield("pit", 0, 0, 1.0, 101)(
    (x, y) => 30 + 0.004 * ((x - 50) * (x - 50) + (y - 50) * (y - 50)))

  test("the geometry expressions carry no mesh arrays into the task binary") {
    val hf = topo
    val grid = GridOps.generate(spark, GridSchema(0, 0, 0, 10, 10, 10, 4, 4, 4))
    val exprs = Seq(
      MineDepletion(spark, grid, Seq(hf), Seq.empty, 10.0),
      FlagRegions(spark, grid, Seq(hf)),
      Elevation(grid, hf))
      .flatMap(_.queryExecution.executedPlan.collect { case p => p.expressions }.flatten)
      .flatMap(_.collect {
        case e @ (_: MineExpr | _: RegionFlagExpr | _: ElevationExpr) => e
      })
    assert(exprs.map(_.getClass) ==
      Seq(classOf[MineExpr], classOf[RegionFlagExpr], classOf[ElevationExpr]))
    val ser = SparkEnv.get.closureSerializer.newInstance()
    exprs.foreach { e =>
      val bytes = ser.serialize(e).remaining()
      assert(bytes < 16 * 1024, s"${e.prettyName} serializes to $bytes bytes")
    }
  }

  test("tasks sharing one mesh instance answer exactly as direct kernel calls") {
    val (t, p) = (topo, pit)
    val solids = Seq(TriMesh.box("a", 10, 60, 10, 60, 20, 70),
      TriMesh.box("b", 40, 95, 30, 80, 5, 45))
    val g = GridSchema(0, 0, 0, 5, 5, 5, 20, 20, 16)
    val grid = GridOps.generate(spark, g, numPartitions = 8)
    assert(grid.rdd.getNumPartitions >= 8)
    val out = Elevation(MineDepletion(spark, FlagRegions(spark, grid, solids),
        Seq(t), Seq(p), g.sz), t)
      .select("x", "y", "z", "region", "mine", "elevation").collect()
    assert(out.length == g.nCells)
    def orNull(v: Double): Any = if (v.isNaN) null else v
    def frac(m: TriMesh, x: Double, y: Double, z: Double): Double = {
      val zs = m.surfaceZ(x, y)
      if (zs.isNaN) Double.NaN
      else math.min(1.0, math.max(0.0, (zs - (z - g.sz / 2)) / g.sz))
    }
    out.foreach { r =>
      val (x, y, z) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      val region = solids.reverse.find(_.containsPoint(x, y, z)).fold("")(_.name)
      val e = frac(p, x, y, z)
      val mine = if (e.isNaN) frac(t, x, y, z) else frac(t, x, y, z) * (1.0 - e)
      assert(r.getString(3) == region, r)
      assert(r.get(4) == orNull(mine), r)
      assert(r.get(5) == orNull(t.surfaceZ(x, y)), r)
    }
    assert(out.map(_.getString(3)).distinct.length == 3) // "", a, b
  }
}

class BlockModelStoreSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  test("z-slab partitioning prunes scans for z-bounded geometry") {
    val g = GridSchema(0, 0, 0, 10, 10, 10, 4, 4, 16)
    val df = GridOps.generate(spark, g)
    val path = Files.createTempDirectory("graft_store").toString + "/bm"
    BlockModelStore.write(df, path, slabCells = 4)
    // a solid spanning z 52..78 touches slabs 1 (k 5-7) only
    val solid = TriMesh.box("s", 1, 39, 1, 39, 52.3, 77.7)
    val pruned = BlockModelStore.readForSolid(spark, path, g, solid)
    assert(pruned.count() == 4L * 4 * 4) // slab 1 = k 4..7 only
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("kslab"))
    // every z present is within the pruned slabs, none outside
    val zs = pruned.select(min("z"), max("z")).head()
    assert(zs.getDouble(0) >= 40.0 && zs.getDouble(1) <= 80.0)
  }

  test("FlagRegions.fromStore: pruned kernel, identical output to full flag") {
    val g = GridSchema(0, 0, 0, 10, 10, 10, 4, 4, 16)
    val df = GridOps.generate(SparkTest.spark, g)
    val path = Files.createTempDirectory("graft_store2").toString + "/bm"
    BlockModelStore.write(df, path, slabCells = 4)
    val solid = TriMesh.box("s", 5, 35, 5, 35, 52.0, 78.0)
    val viaStore = FlagRegions.fromStore(SparkTest.spark, path, g, Seq(solid))
      .select("id", "region").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val direct = FlagRegions(SparkTest.spark,
        SparkTest.spark.read.parquet(path), Seq(solid))
      .select("id", "region").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaStore == direct)
    assert(viaStore.values.count(_ == "s") > 0) // solid actually flags cells
    // cold branch really skipped the kernel: all flags outside the z-range are ''
    assert(viaStore.filter(_._2 == "s").nonEmpty)
  }

  test("a store written to a file:// URI reads back pruned") {
    val g = GridSchema(0, 0, 0, 10, 10, 10, 4, 4, 16)
    val path = "file://" + Files.createTempDirectory("graft_store_uri") + "/bm"
    BlockModelStore.write(GridOps.generate(spark, g), path, slabCells = 4)
    assert(BlockModelStore.slabCells(path, spark) == 4)
    val solid = TriMesh.box("s", 1, 39, 1, 39, 52.3, 77.7)
    assert(BlockModelStore.readForSolid(spark, path, g, solid).count() == 4L * 4 * 4)
  }

  test("readZRange follows a store rewritten with another schema and slab size") {
    val g = GridSchema(0, 0, 0, 10, 10, 10, 4, 4, 16)
    val path = Files.createTempDirectory("graft_store_rewrite").toString + "/bm"
    val (zMin, zMax) = (52.3, 77.7) // k 5..7
    BlockModelStore.write(GridOps.generate(spark, g), path, slabCells = 4)
    val first = BlockModelStore.readZRange(spark, path, g, zMin, zMax)
    assert(!first.columns.contains("grade"))
    assert(first.count() == 4L * 4 * 4) // slab 1 = k 4..7
    BlockModelStore.write(GridOps.generate(spark, g)
      .withColumn("grade", col("k") * 0.5), path, slabCells = 8)
    val second = BlockModelStore.readZRange(spark, path, g, zMin, zMax)
    assert(second.columns.contains("grade"))
    assert(second.count() == 4L * 4 * 8) // slab 0 = k 0..7
    assert(second.agg(max("grade")).head().getDouble(0) == 3.5)
  }

  test("gradeShellMesh: closed boundary surface of a value band") {
    val g = GridSchema(0, 0, 0, 1, 1, 1, 6, 5, 4)
    val grid = GridOps.generate(spark, g)
      .withColumn("v", col("k").cast("double"))
    // band = everything → shell is the grid's bounding box
    val all = GridOps.gradeShellMesh(grid, g, "v", 0.0, 100.0)
    val expectFaces = 2 * (6 * 5 + 5 * 4 + 4 * 6) // 2 tris per boundary quad
    assert(all.nTris == 2 * expectFaces)
    assert(all.containsPoint(3.0, 2.5, 2.0))      // interior
    assert(!all.containsPoint(6.5, 2.5, 2.0))     // outside
    // band = one z-slab (k == 1) → a 6×5×1 closed box
    val slab = GridOps.gradeShellMesh(grid, g, "v", 1.0, 2.0)
    assert(slab.nTris == 2 * (2 * (6 * 5) + 2 * (5 * 1) + 2 * (1 * 6)))
    assert(slab.containsPoint(3.0, 2.5, 1.5))
    assert(!slab.containsPoint(3.0, 2.5, 2.5))    // above the slab
    // ASYMMETRIC band (regression: the face/neighbor shift was once
    // inverted, which symmetric bands cannot detect): cells (0,0,0) and
    // (1,0,0) → a closed 2×1×1 box with proper end caps
    val two = GridOps.gradeShellMesh(
      grid.withColumn("v2", col("id").cast("double")), g, "v2", 0.0, 2.0)
    assert(two.nTris == 2 * (2 * 2 + 2 * 1 + 2 * 2), s"got ${two.nTris}")
    assert(two.containsPoint(1.0, 0.5, 0.5))   // interior spans both cells
    assert(two.containsPoint(0.1, 0.5, 0.5))   // -x end cap present
    assert(two.containsPoint(1.9, 0.5, 0.5))   // +x end cap present
    assert(!two.containsPoint(2.5, 0.5, 0.5))  // past the +x cap
    assert(!two.containsPoint(-0.5, 0.5, 0.5))
    // the shell round-trips through mesh egress (viz handoff)
    val d = Files.createTempDirectory("graft_shell").toString
    graft.sources.ObjCodec.write(slab, d + "/s.obj")
    assert(graft.sources.ObjCodec.read(d + "/s.obj").nTris == slab.nTris)
    // rotated grid: shell = unrotated shell rotated about rotPoint
    val gr = g.copy(bearing = 135.0, rotX = 1.0, rotY = 2.0)
    val rot = GridOps.gradeShellMesh(
      GridOps.generate(spark, gr).withColumn("v", col("k").cast("double")),
      gr, "v", 1.0, 2.0)
    assert(rot.nTris == slab.nTris)
    // a rotated interior probe: rotate the unrotated probe point the same way
    val a = math.toRadians(-(135.0 - 90.0))
    val (px, py) = (1.0 + math.cos(a) * (3.0 - 1.0) - math.sin(a) * (2.5 - 2.0),
      2.0 + math.sin(a) * (3.0 - 1.0) + math.cos(a) * (2.5 - 2.0))
    assert(rot.containsPoint(px, py, 1.5))
    assert(!rot.containsPoint(px, py, 2.5))
  }

  test("Decimate: QEM collapse hits the face target and keeps the surface") {
    // densely triangulated flat patch: 10×10 cells = 200 faces on
    // z = 2 + 0.1x + 0.2y over [0,10]²
    def zOf(x: Double, y: Double) = 2.0 + 0.1 * x + 0.2 * y
    val verts = mutable.ArrayBuffer.empty[Double]
    for (j <- 0 to 10; i <- 0 to 10)
      verts ++= Seq(i.toDouble, j.toDouble, zOf(i, j))
    val tris = mutable.ArrayBuffer.empty[Int]
    for (j <- 0 until 10; i <- 0 until 10) {
      val v0 = j * 11 + i
      tris ++= Seq(v0, v0 + 1, v0 + 12, v0, v0 + 12, v0 + 11)
    }
    val dense = TriMesh("p", verts.toArray, tris.toArray)
    assert(dense.nTris == 200)
    val slim = graft.operators.Decimate(dense, 0.8)
    assert(slim.nTris <= 40 && slim.nTris >= 2, s"got ${slim.nTris} faces")
    // every surviving vertex still lies on the analytic plane (QEM error 0
    // on-plane; boundary quadrics keep the rim from eroding)
    (0 until slim.nVerts).foreach { v =>
      val (x, y, z) = (slim.verts(3 * v), slim.verts(3 * v + 1), slim.verts(3 * v + 2))
      assert(math.abs(z - zOf(x, y)) < 1e-6, s"vertex off plane: ($x,$y,$z)")
    }
    // footprint preserved: projected area of the patch stays 10×10
    def area(m: TriMesh): Double = (0 until m.nTris).map { t =>
      val (a, b, c) = (m.tris(3 * t), m.tris(3 * t + 1), m.tris(3 * t + 2))
      val ux = m.verts(3 * b) - m.verts(3 * a)
      val uy = m.verts(3 * b + 1) - m.verts(3 * a + 1)
      val wx = m.verts(3 * c) - m.verts(3 * a)
      val wy = m.verts(3 * c + 1) - m.verts(3 * a + 1)
      math.abs(ux * wy - uy * wx) / 2
    }.sum
    assert(math.abs(area(slim) - 100.0) < 1.0, s"area ${area(slim)}")
    // reduction 0 → identity; elevation through the decimated surface
    // matches the dense one at interior probes
    assert(graft.operators.Decimate(dense, 0.0) eq dense)
    val pts = spark.range(25)
      .withColumn("x", (col("id") % 5).cast("double") * 2.0 + 0.7)
      .withColumn("y", floor(col("id") / 5).cast("double") * 2.0 + 0.6)
    val dEl = Elevation(pts, dense).select("id", "elevation")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sEl = Elevation(pts, slim).select("id", "elevation")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    dEl.foreach { case (id, z) => assert(math.abs(z - sEl(id)) < 1e-6, s"pt $id") }
  }
}
