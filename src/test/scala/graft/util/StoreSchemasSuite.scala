package graft.util

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.SparkTest
import graft.ext.{Ivf, Pq, Similarity}

/** The store schema cache must follow a store rewritten at the same path
  * with a different layout inside one JVM. */
class StoreSchemasSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  // two tight, well-separated clusters around (±10, 0, 0, 0)
  private lazy val vecs = (0 until 40).map { i =>
    val base = if (i % 2 == 0) 10.0 else -10.0
    (i.toLong, Array.tabulate(4)(d => (if (d == 0) base else 0.0) + (i % 5) * 0.1))
  }.toDF("vec_id", "embedding")

  private def triples(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  private def tmpStore(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/store"

  test("a PQ store rewritten from residual IVF cells to flat codes reads its new layout") {
    val coarse = Ivf.train(vecs, k = 2, iters = 4)
    val queries = vecs.filter(col("vec_id") === 0)
    val exact = triples(Similarity.bruteForceTopK(vecs, queries, 5))
    val path = tmpStore("graft_schema_pq")
    val resid = Pq.trainResidual(vecs, coarse, m = 2, ksub = 4, iters = 4)
    Pq.writeStore(vecs, path, resid, Some(coarse), residual = true)
    assert(triples(Pq.topKFromStore(spark, path, vecs, queries, 5, resid,
      rerank = 40, coarse = Some(coarse), nprobe = 2, residual = true)) == exact)
    val plain = Pq.train(vecs, m = 2, ksub = 4, iters = 4)
    Pq.writeStore(vecs, path, plain)
    assert(StoreSchemas.read(spark, path).columns.toSeq == Seq("corpus_id", "pq_code"))
    assert(triples(Pq.topKFromStore(spark, path, vecs, queries, 5, plain,
      rerank = 40)) == exact)
  }

  test("an IVF store rewritten with an extra corpus column reads the new column") {
    val c = Ivf.train(vecs, k = 2, iters = 4)
    val path = tmpStore("graft_schema_ivf")
    Ivf.writeStore(vecs, path, c)
    Ivf.topKFromStore(spark, path, vecs.filter(col("vec_id") === 0), 5, c,
      nprobe = 1).collect()
    Ivf.writeStore(vecs.withColumn("label", (col("vec_id") % 3).cast("int")),
      path, c)
    val labels = StoreSchemas.read(spark, path).select("vec_id", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(labels == (0 until 40).map(i => i.toLong -> i % 3).toMap)
  }
}
