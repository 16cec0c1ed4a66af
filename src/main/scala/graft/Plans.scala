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
    val only: String => Boolean =
      if (args.length > 3) { val pats = args(3).split(',').toSeq
        name => pats.exists(name.contains)
      } else _ => true
    val spark = Harness.session(Harness.cpus(4))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // released per query: building a plan still executes the query
      // body's eager pins
      if (only(name)) Harness.releasing(spark, s"[plans] $name") {
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
