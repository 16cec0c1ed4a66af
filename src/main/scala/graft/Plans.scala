package graft

import java.nio.file.{Files, Paths}

/** Optimization-round tooling: dump `.explain("formatted")` for declared
  * queries to text files, so plan claims (Exchange counts, join strategy,
  * PushedFilters/ReadSchema) are checkable without running Spark.
  *
  * Usage: runMain graft.Plans <sfDir> <outDir> <tag> [nameSubstr,...]
  * Writes <outDir>/<query>_<tag>.txt per selected query. Not part of the
  * driver contract; changes nothing about what queries compute.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, tag) = (args(0), args(1), args(2))
    val only = args.drop(3).headOption.toSeq.flatMap(_.split(',').toSeq)
    val spark = Harness.session(Harness.cpus(4))
    new java.io.File(outDir).mkdirs()
    SparkEntry.select(SparkEntry.queries, only).foreach { case (name, fn) =>
      // released per query: building a plan still executes the query
      // body's eager pins
      Harness.releasing(spark, s"[plans] $name") {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
        System.err.println(s"[plans] wrote $name")
      }
    }
    spark.stop()
  }
}
