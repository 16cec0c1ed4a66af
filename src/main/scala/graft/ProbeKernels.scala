package graft

import org.apache.spark.sql.functions._

/** Micro-times each per-row text kernel on the documents table with the
  * noop sink (guide §1.4) — attributes a serial pin's cost to the kernel
  * that spends it. Diagnostics only.
  * Usage: runMain graft.ProbeKernels <sfDir>
  */
object ProbeKernels {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = Harness.session(
      Harness.cpus(Runtime.getRuntime.availableProcessors()))
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val docs = Tables.load(spark, sfDir, "documents")
    val kernels = Seq(
      "baseline_text_len" -> length(col("text")),
      "wordTokens" -> size(ext.TextAnalysis.wordTokens("text")),
      "qualityScore" -> ext.TextAnalysis.qualityScore("text"),
      "meanWordLength" -> ext.TextAnalysis.meanWordLength(col("text")),
      "alphaWordFraction" -> ext.TextAnalysis.alphaWordFraction(col("text")),
      "langId" -> ext.TextAnalysis.langId("text"),
      "q_plus_mwl" -> (round(ext.TextAnalysis.qualityScore("text"), 6) +
        round(ext.TextAnalysis.meanWordLength(col("text")), 6)),
      "qs_plus_toks" -> (round(ext.TextAnalysis.qualityScore("text"), 6) +
        size(ext.TextAnalysis.wordTokens("text")).cast("double")))
    kernels.foreach { case (name, c) =>
      val df = docs.select(col("doc_id"), c.as("k"))
      df.write.format("noop").mode("overwrite").save() // warm
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      println(f"kernel $name%-20s ${math.min(t1 - t0, t2 - t1) / 1e9}%7.3f s")
    }
    spark.stop()
  }
}
