package graft.util

import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.SparkTest
import graft.ext.{Ivf, Pq, Similarity}

/** The store schema and listing cache must follow a store rewritten at
  * the same path with a different layout, or appended to, inside one JVM;
  * two reads of one store must stay two relations, and a read from another
  * session must be bound to that session. */
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

  private def ids(df: org.apache.spark.sql.DataFrame) =
    df.select("vec_id").collect().map(_.getLong(0)).toSet

  test("rows appended to an IVF store are visible to the next read") {
    val c = Ivf.train(vecs, k = 2, iters = 4)
    val path = tmpStore("graft_listing_append")
    Ivf.writeStore(vecs.filter(col("vec_id") < 30), path, c)
    assert(ids(StoreSchemas.read(spark, path)) == (0L until 30L).toSet)
    Ivf.appendToStore(vecs.filter(col("vec_id") >= 30), path, c)
    assert(ids(StoreSchemas.read(spark, path)) == (0L until 40L).toSet)
    // ids 5, 15, 25 and 35 share one vector: the appended 35 is a neighbour
    assert(triples(Ivf.topKFromStore(spark, path, vecs.filter(col("vec_id") === 5), 3, c,
      nprobe = 2)).map(_._3) == Set(15L, 25L, 35L))
  }

  test("two reads of one store joined on their id resolve and return every row") {
    val path = tmpStore("graft_listing_join")
    Ivf.writeStore(vecs, path, Ivf.train(vecs, k = 2, iters = 4))
    val (a, b) = (StoreSchemas.read(spark, path), StoreSchemas.read(spark, path))
    val pairs = a.join(b, a("vec_id") === b("vec_id")).select(a("vec_id"), b("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length == 40 && pairs.forall(p => p._1 == p._2))
    assert(pairs.map(_._1).toSet == (0L until 40L).toSet)
  }

  test("a read from another session is bound to that session") {
    val path = tmpStore("graft_listing_session")
    Ivf.writeStore(vecs, path, Ivf.train(vecs, k = 2, iters = 4))
    assert(ids(StoreSchemas.read(spark, path)) == (0L until 40L).toSet)
    val other = spark.newSession()
    val read = StoreSchemas.read(other, path)
    def session(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.asInstanceOf[LogicalRelation].relation
        .asInstanceOf[HadoopFsRelation].sparkSession
    assert((read.sparkSession eq other) && (session(read) eq other))
    assert(ids(read) == (0L until 40L).toSet)
    assert(session(StoreSchemas.read(spark, path)) eq spark)
  }
}
