package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.agg.SparkTest

class HarnessSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  private def persistent: Int = spark.sparkContext.getPersistentRDDs.size

  test("session(4) has four shuffle partitions and the UTC timezone") {
    val s = Harness.session(4)
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("releasing leaves no net persistent RDDs after a body that pins") {
    val before = persistent
    val out = Harness.releasing(spark, "[harness test] pin") {
      val n = spark.range(100).localCheckpoint(true).count()
      assert(persistent > before, "the body's pin must be visible inside it")
      n
    }
    assert(out.contains(100L))
    assert(persistent == before)
  }

  test("a non-fatal failure returns the failure marker and still releases") {
    val before = persistent
    val out = Harness.releasing(spark, "[harness test] boom") {
      spark.range(100).localCheckpoint(true)
      throw new IllegalStateException("boom")
    }
    assert(out.isEmpty)
    assert(persistent == before)
  }

  test("a fatal error propagates") {
    val before = persistent
    intercept[LinkageError] {
      Harness.releasing(spark, "[harness test] fatal") {
        spark.range(100).localCheckpoint(true)
        throw new LinkageError("fatal")
      }
    }
    assert(persistent == before)
  }
}
