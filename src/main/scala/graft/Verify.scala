package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for a DuckDB compare (`tools/local_verify.py`).
  *
  * Leak check: after a query's write, every persistent RDD it created that
  * is not a leaf its result reads (the pins its caller owns) is a pin no
  * owner released; `Checkpoints.retaining` keeps such a pin from being
  * garbage-collected away first. Each leaking query is printed to stderr,
  * and once every output and `oracle_sql.json` are written the run exits
  * non-zero. The check runs before [[Harness.releasing]] sweeps the
  * leftovers. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated name filter (substring match) —
    // dump/compare just those queries for a fast local iteration loop
    val only = args.drop(2).headOption.toSeq.flatMap(_.split(',').toSeq)
    val spark = Harness.session(Harness.cpus(4))
    def persistent: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    new java.io.File(outDir).mkdirs()
    val leaking = SparkEntry.select(SparkEntry.queries, only).flatMap { case (name, fn) =>
      Harness.releasing(spark, s"[verify] $name")(graft.util.Checkpoints.retaining {
        val before = persistent
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        val leaked = persistent -- before --
          graft.util.Checkpoints.pins(df).map(_.id)
        if (leaked.nonEmpty) System.err.println(s"[verify] $name leaked " +
          s"${leaked.size} pins its result does not read (rdd ids " +
          s"${leaked.toSeq.sorted.mkString(", ")})")
        leaked.nonEmpty
      }).filter(identity).map(_ => name)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.select(SparkEntry.oracleSql, only)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (leaking.nonEmpty) {
      System.err.println(s"[verify] ${leaking.size} queries leaked pins: " +
        leaking.mkString(", "))
      sys.exit(1)
    }
  }
}
