package graft.agg

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object SparkTest {
  /** Fixed at local[4] whatever SPARK_GRAFT_CPUS says: suite results must
    * not depend on the host. */
  lazy val spark: SparkSession = graft.Harness.session(4)
}

class BreakdownSpecSuite extends AnyFunSuite {
  test("commalist grammar: rows by ';', cells by ','") {
    val s = BreakdownSpec.parse("lito;grade,mean,density,volume;volume,sum")
    assert(s.rows.length == 3)
    assert(s.keys.map(_.variable) == Vector("lito"))
    assert(s.aggs.head.weights == Vector("density", "volume"))
  }

  test("=alias renames output; 'var op' otherwise") {
    val s = BreakdownSpec.parse("density=mass,sum,volume;grade,mean")
    assert(s.aggs.map(_.outName) == Vector("mass", "grade mean"))
  }

  test("breakdown/empty op rows are keys") {
    val s = BreakdownSpec.parse("a,breakdown;b,;c;d,sum")
    assert(s.keys.map(_.variable) == Vector("a", "b", "c"))
  }

  test("addWeight appends mine to mean/sum rows only, idempotently") {
    val s = BreakdownSpec.addWeight(
      BreakdownSpec.parse("lito;grade,mean,density;volume,sum;grade,max;x,sum,mine"),
      "mine")
    assert(s.rows.map(_.cells) == Vector(
      Vector("lito"),
      Vector("grade", "mean", "density", "mine"),
      Vector("volume", "sum", "mine"),
      Vector("grade", "max"),
      Vector("x", "sum", "mine")))
  }

  test("addRegion prepends region key unless present") {
    val s1 = BreakdownSpec.addRegion(BreakdownSpec.parse("lito;grade,mean"))
    assert(s1.rows.head.cells == Vector("region", "", ""))
    val s2 = BreakdownSpec.addRegion(BreakdownSpec.parse("region,breakdown;grade,mean"))
    assert(s2.rows.count(_.variable == "region") == 1)
  }
}

class BreakdownSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  private lazy val df = Seq(
    // (lito, grade, density, volume, mine)
    ("high", Some(10.0), Some(2.0), 100.0, 1.0),
    ("high", Some(20.0), Some(2.0), 100.0, 0.5),
    ("high", None, Some(3.0), 100.0, 1.0),
    ("low", Some(5.0), None, 100.0, 0.0),
    ("low", Some(7.0), Some(1.0), 100.0, 0.0)
  ).toDF("lito", "grade", "density", "volume", "mine")

  test("weighted mean: Σ(x·w)/Σw over non-null x, null weights → 0") {
    val out = Breakdown(df, "lito;grade=g,mean,mine").orderBy("lito").collect()
    // high: (10*1 + 20*0.5) / 1.5 = 13.3333...; low: Σw = 0 → null
    assert(math.abs(out(0).getDouble(1) - 20.0 / 1.5) < 1e-12)
    assert(out(1).isNullAt(1))
  }

  test("weighted sum: nansum of products (null product contributes 0)") {
    val out = Breakdown(df, "lito;grade=m,sum,density,mine").orderBy("lito").collect()
    // high: 10*2*1 + 20*2*0.5 + null = 40; low: 5*null*0 + 7*1*0 = 0
    assert(out(0).getDouble(1) == 40.0)
    assert(out(1).getDouble(1) == 0.0)
  }

  test("unweighted stats match pandas semantics (sum of none = 0.0)") {
    val empty = Seq(("a", Option.empty[Double])).toDF("k", "v")
    val out = Breakdown(empty, "k;v=s,sum;v=c,count;v=m,mean").collect()
    assert(out(0).getDouble(1) == 0.0) // pandas all-NaN sum = 0.0
    assert(out(0).getLong(2) == 0L)
    assert(out(0).isNullAt(3))
  }

  test("unweighted ops skip NaN inputs like pandas skipna") {
    val d = Seq(("a", 1.0), ("a", Double.NaN), ("a", 3.0)).toDF("k", "v")
    val out = Breakdown(d,
      "k;v=c,count;v=m,mean;v=mx,max;v=mn,min;v=s,sum").collect()
    assert(out(0).getLong(1) == 2L)       // NaN not counted
    assert(out(0).getDouble(2) == 2.0)    // mean of 1,3
    assert(out(0).getDouble(3) == 3.0)    // NaN must not win max
    assert(out(0).getDouble(4) == 1.0)
    assert(out(0).getDouble(5) == 4.0)    // nansum
  }

  test("null group keys render as -99 and merge with literal -99") {
    val d = Seq((Option.empty[Double], 1.0), (Some(-99.0), 2.0), (Some(1.0), 3.0))
      .toDF("k", "v")
    val out = Breakdown(d, "k;v=s,sum").orderBy("k").collect()
    assert(out.map(r => (r.getDouble(0), r.getDouble(1))).toSeq ==
      Seq((-99.0, 3.0), (1.0, 3.0)))
  }

  test("major: mode with smallest-value tiebreak; all-falsy group → null") {
    val d = Seq(("g1", "b"), ("g1", "b"), ("g1", "a"), ("g2", "z"), ("g2", "y"),
      ("g3", ""), ("g3", "")).toDF("k", "v")
    val out = Breakdown(d, "k;v=m,major").orderBy("k").collect()
    assert(out(0).getString(1) == "b") // clear winner
    assert(out(1).getString(1) == "y") // tie 1-1 → smallest
    assert(out(2).isNullAt(1)) // .any() guard: all empty strings
  }

  test("list: sorted distinct, comma-joined") {
    val d = Seq(("g", "c"), ("g", "a"), ("g", "c"), ("g", "b")).toDF("k", "v")
    val out = Breakdown(d, "k;v=l,list").collect()
    assert(out(0).getString(1) == "a,b,c")
  }

  test("text and unknown-variable columns") {
    val out = Breakdown(df, "lito;note,text,hello;missing_col,sum").orderBy("lito").collect()
    assert(out(0).getString(1) == "hello")
    assert(out(0).isNullAt(2))
  }

  test("quantiles q1/q2/q3 match pandas linear interpolation") {
    val d = Seq.tabulate(5)(i => ("g", (i + 1).toDouble)).toDF("k", "v")
    val out = Breakdown(d, "k;v=a,q1;v=b,q2;v=c,q3").collect()
    assert(out(0).getDouble(1) == 2.0) // pandas quantile(.25) of 1..5
    assert(out(0).getDouble(2) == 3.0)
    assert(out(0).getDouble(3) == 4.0)
  }

  test("aq ops: sketch quantiles through the spec grammar") {
    val d = Seq(("a", 10.0, 1.0), ("a", 20.0, 2.0), ("a", 30.0, 1.0))
      .toDF("k", "v", "w")
    val out = Breakdown(d, "k;v=m,aq2,w;v=u,aq2").collect()
    // lossless (3 distinct values): weighted == WeightedQuantile semantics,
    // unweighted == w ≡ 1 (reference position convention)
    assert(out(0).getDouble(1) == 20.0)
    assert(out(0).getDouble(2) == 20.0)
  }

  test("keys-only spec yields distinct groups") {
    val out = Breakdown(df, "lito").collect()
    assert(out.map(_.getString(0)).sorted.toSeq == Seq("high", "low"))
  }

  test("global (no-keys) aggregation") {
    val out = Breakdown(df, "grade=n,count;grade=s,sum").collect()
    assert(out(0).getLong(0) == 4L)
    assert(out(0).getDouble(1) == 42.0)
  }

  test("keyed and keys-only reports sort by key with no range-sampling exchange") {
    for (spec <- Seq("lito;grade=g,mean;grade=q,q2", "lito")) {
      val out = Breakdown(df, spec)
      assert(out.collect().map(_.getString(0)).toSeq == Seq("high", "low"))
      val plan = out.queryExecution.executedPlan.toString.toLowerCase
      assert(!plan.contains("rangepartitioning"), s"$spec:\n$plan")
    }
  }
}

class WeightedQuantileSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  private def wq(vals: Seq[(Double, Double)], q: Double): Option[Double] = {
    val df = vals.toDF("v", "w")
    val r = df.agg(WeightedQuantile(col("v"), col("w"), q)).collect()(0)
    if (r.isNullAt(0)) None else Some(r.getDouble(0))
  }

  test("equal weights reproduce the interpolated median") {
    // S=4, p=1.5, ecdf=[1,2,3,4] → 2*0.5 + 3*0.5 = 2.5
    assert(wq(Seq(1.0 -> 1.0, 2.0 -> 1.0, 3.0 -> 1.0, 4.0 -> 1.0), 0.5).get == 2.5)
  }

  test("weight pulls the quantile toward the heavy value") {
    // a=[10,20,30], w=[1,2,1]: S=4, p=1.5, ecdf=[1,3,4] → lo=hi=1 → 20
    assert(wq(Seq(10.0 -> 1.0, 20.0 -> 2.0, 30.0 -> 1.0), 0.5).get == 20.0)
  }

  test("null/NaN pairs are dropped; empty → null") {
    assert(wq(Seq(1.0 -> Double.NaN, Double.NaN -> 1.0), 0.5).isEmpty)
    assert(wq(Seq(1.0 -> Double.NaN, 5.0 -> 1.0), 0.5).get == 5.0)
  }

  test("matches the reference estimator on a fractional-weight case") {
    // a=[1,2,3], w=[0.5,0.25,0.25]: S=1.0, p=q*(S-1)=0 → ecdf=[.5,.75,1.0]
    // lo=ssRight(0)=0, hi=ssRight(1)=2(clamped), frac=0 → a[0]=1.0
    assert(wq(Seq(1.0 -> 0.5, 2.0 -> 0.25, 3.0 -> 0.25), 0.5).get == 1.0)
  }

  test("distributed merge equals single-partition result") {
    val vals = (1 to 1000).map(i => (i.toDouble % 37, (i % 5).toDouble + 0.5))
    val df1 = vals.toDF("v", "w").repartition(8)
    val df2 = vals.toDF("v", "w").coalesce(1)
    val a = df1.agg(WeightedQuantile(col("v"), col("w"), 0.75)).collect()(0).getDouble(0)
    val b = df2.agg(WeightedQuantile(col("v"), col("w"), 0.75)).collect()(0).getDouble(0)
    assert(a == b)
  }
}

class ApproxWeightedQuantileSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  test("lossless when distinct values fit the bins: equals exact") {
    // 10k rows but only 37 distinct values — no compression happens
    val vals = (1 to 10000).map(i => (i.toDouble % 37, (i % 5).toDouble + 0.5))
    val df = vals.toDF("v", "w").repartition(8)
    for (q <- Seq(0.25, 0.5, 0.75, 0.9)) {
      val exact = df.agg(WeightedQuantile(col("v"), col("w"), q))
        .collect()(0).getDouble(0)
      val approx = df.agg(ApproxWeightedQuantile(col("v"), col("w"), q, 64))
        .collect()(0).getDouble(0)
      assert(approx == exact, s"q=$q")
    }
  }

  test("bounded bins approximate a wide distribution") {
    // 20k distinct values, 128 bins: within a few percent of exact
    val vals = (1 to 20000).map(i => (i.toDouble, 1.0))
    val df = vals.toDF("v", "w").repartition(8)
    for (q <- Seq(0.1, 0.5, 0.9)) {
      val approx = df.agg(ApproxWeightedQuantile(col("v"), col("w"), q, 128))
        .collect()(0).getDouble(0)
      val truth = q * 20000
      assert(math.abs(approx - truth) / 20000 < 0.05, s"q=$q got $approx")
    }
  }

  test("null/NaN dropped; empty group yields null; SQL surface") {
    graft.GraftFunctions.register(spark)
    Seq((Double.NaN, 1.0), (1.0, Double.NaN))
      .toDF("v", "w").createOrReplaceTempView("t_awq")
    val r = spark.sql(
      "SELECT approx_weighted_quantile(v, w, 0.5, 32) FROM t_awq").collect()(0)
    assert(r.isNullAt(0))
    Seq((10.0, 1.0), (20.0, 2.0), (30.0, 1.0))
      .toDF("v", "w").createOrReplaceTempView("t_awq2")
    val v = spark.sql(
      "SELECT approx_weighted_quantile(v, w, 0.5) FROM t_awq2").collect()(0)
    assert(v.getDouble(0) == 20.0) // lossless → reference estimator value
  }

  test("listN caps state and marks overflow; agrees with list when under cap") {
    val df = (0 until 100).map(i => ("g", s"v${"%03d".format(i)}"))
      .toDF("k", "s")
    // under the cap: identical to the uncapped sorted-distinct list
    val small = df.filter("s < 'v003'")
    val full = Breakdown(small, "k;s=l,list").collect()(0).getAs[String]("l")
    val capped = Breakdown(small, "k;s=l,list8").collect()(0).getAs[String]("l")
    assert(full == capped && capped == "v000,v001,v002")
    // over the cap: smallest 8 + overflow marker, deterministic under
    // any partitioning (smallest-prefix of the global sorted order)
    val over = Breakdown(df.repartition(8), "k;s=l,list8")
      .collect()(0).getAs[String]("l")
    assert(over == (0 until 8).map(i => s"v${"%03d".format(i)}")
      .mkString(",") + ",…")
    // duplicate values don't trip the overflow witness
    val dup = (0 until 50).map(_ => ("g", "same")).toDF("k", "s")
    assert(Breakdown(dup, "k;s=l,list4").collect()(0)
      .getAs[String]("l") == "same")
    // all-null group → SQL NULL (matches DuckDB list() FILTER semantics,
    // not ""), so listN stays oracle-safe on nullable columns
    val nulls = Seq(("g", Option.empty[String]), ("g", None))
      .toDF("k", "s")
    assert(Breakdown(nulls, "k;s=l,list4").collect()(0).isNullAt(1))
  }

  test("apNN: bounded-state percentile, lossless under the bin cap") {
    // < 256 distinct values → sketch is lossless, equals the exact pNN
    val df = (1 to 100).map(i => ("g", i.toDouble)).toDF("k", "v")
    val out = Breakdown(df, "k;v=p50,p50;v=ap50,ap50;v=p90,p90;v=ap90,ap90")
      .collect()(0)
    assert(out.getAs[Double]("ap50") == out.getAs[Double]("p50"))
    assert(out.getAs[Double]("ap90") == out.getAs[Double]("p90"))
  }

  test("nunique drops null/NaN; anunique estimates within HLL tolerance") {
    val df = Seq(
      ("a", Some(1.0)), ("a", Some(1.0)), ("a", Some(2.0)),
      ("a", Some(Double.NaN)), ("a", None),
      ("b", None), ("b", Some(Double.NaN))).toDF("k", "v")
    val out = Breakdown(df, "k;v=nu,nunique").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // pandas nunique semantics: NaN and null both dropped
    assert(out == Map("a" -> 2L, "b" -> 0L))
    // strings count distinct raw values
    val s = Seq(("g", "x"), ("g", "x"), ("g", "y"), ("g", null))
      .toDF("k", "s")
    assert(Breakdown(s, "k;s=nu,nunique").collect()(0).getLong(1) == 2L)
    // anunique: HLL++ estimate within its default 5% rsd on 1000 distincts
    val wide = (1 to 5000).map(i => ("g", (i % 1000).toDouble)).toDF("k", "v")
    val est = Breakdown(wide, "k;v=anu,anunique").collect()(0).getLong(1)
    assert(math.abs(est - 1000L) <= 150L, s"estimate $est too far from 1000")
  }
}
