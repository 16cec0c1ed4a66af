package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.SparkTest

/** Round-11 cases: conf-driven checkpoint routing for the Eval/Pq/Spatial
  * internal pins, reliable-checkpoint file reclamation, and dir re-wiring
  * on a changed `graft.checkpoint.dir`. */
class Round11OpsSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  private def withCheckpointDir[A](f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt11").toString
    spark.conf.set(graft.util.Checkpoints.DirConf, dir)
    try f(dir)
    finally spark.conf.unset(graft.util.Checkpoints.DirConf)
  }

  // ---- Eval internal pins honor graft.checkpoint.dir ---------------------

  test("spearman and mutualInfo are identical under localCheckpoint and reliable checkpoint") {
    // Eval's internal shared-scan pins route through Checkpoints.pin
    // (VERDICT r10 #2): with graft.checkpoint.dir set they must write
    // reliable checkpoints and reproduce the local-path results exactly.
    val df = (1 to 200)
      .map(i => (i.toDouble % 37, (i * i).toDouble % 23)).toDF("a", "b")
    def run() = (
      Eval.spearman(df, "a", "b").collect().toSeq.map(_.toSeq),
      Eval.mutualInfo(df, "a", "b", 5).collect().toSeq.map(_.toSeq))
    val local = run()
    withCheckpointDir { dir =>
      val reliable = run()
      assert(reliable == local,
        "reliable-checkpoint Eval pins must reproduce the local results")
      assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        .count() > 0, "reliable mode must actually write under the conf dir")
    }
  }

  // ---- release() reclaims reliable checkpoint files ----------------------

  test("Checkpoints.release deletes a reliable round's files (ContextCleaner does not)") {
    withCheckpointDir { dir =>
      import graft.util.Checkpoints.PinOps
      val pinned = spark.range(100).toDF("id").pin()
      assert(pinned.count() == 100)
      def files(): Long = {
        val p = java.nio.file.Paths.get(dir)
        val s = java.nio.file.Files.walk(p)
        try s.filter(java.nio.file.Files.isRegularFile(_)).count()
        finally s.close()
      }
      assert(files() > 0, "eager reliable pin must write checkpoint files")
      graft.util.Checkpoints.release(pinned)
      assert(files() == 0,
        "release must delete the round's reliable checkpoint files — " +
          "Spark's cleaner won't (cleanCheckpoints defaults to false)")
    }
  }

  // ---- pin() re-wires when graft.checkpoint.dir changes ------------------

  test("pin follows a changed graft.checkpoint.dir instead of the stale wiring") {
    import graft.util.Checkpoints.PinOps
    val d1 = java.nio.file.Files.createTempDirectory("graft-ckpt11a").toString
    val d2 = java.nio.file.Files.createTempDirectory("graft-ckpt11b").toString
    def filesUnder(d: String): Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
      try s.filter(java.nio.file.Files.isRegularFile(_)).count()
      finally s.close()
    }
    try {
      spark.conf.set(graft.util.Checkpoints.DirConf, d1)
      spark.range(10).toDF("id").pin().count()
      assert(filesUnder(d1) > 0)
      spark.conf.set(graft.util.Checkpoints.DirConf, d2)
      spark.range(10).toDF("id").pin().count()
      assert(filesUnder(d2) > 0,
        "a changed graft.checkpoint.dir must re-wire the checkpoint root")
    } finally spark.conf.unset(graft.util.Checkpoints.DirConf)
  }

  // ---- BPE driver fast-path == distributed rounds ------------------------

  test("bpeTrain/bpeSubwords: driver fast-path equals the distributed merge rounds") {
    // The driver loop (vocab <= graft.bpe.driver.max) must replay the
    // distributed rounds exactly: same tie-break (count desc, lhs/rhs
    // ASCII), same left-to-right non-overlapping literal replace. The
    // corpus has a deliberate count TIE (ab vs bc) and a self-overlap
    // word (ababab) to exercise both.
    val docs = Seq(
      "abab abc", "ababab cab", "abc bcbc", "cab abab").toDF("text")
    def run(): (Seq[(Long, String, String, Long)], Set[(String, Long)]) = (
      TextAnalysis.bpeTrain(docs, "text", 5)
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getString(2), r.getLong(3))).toSeq,
      TextAnalysis.bpeSubwords(docs, "text", 5)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet)
    val viaDriver = run()
    spark.conf.set("graft.bpe.driver.max", "0")
    try {
      val viaRounds = run()
      assert(viaDriver._1 == viaRounds._1,
        "merge schedules must be identical across paths")
      assert(viaDriver._2 == viaRounds._2,
        "final subword vocabularies must be identical across paths")
    } finally spark.conf.unset("graft.bpe.driver.max")
    assert(viaDriver._1.nonEmpty)
  }

  // ---- pre-tokenized NB variants == the raw-text operators ----------------

  test("nbMulticlassTokens / nbLabelIssuesTokens / nbQualityScoreTokens equal the raw-text paths") {
    // The shared-scan variants take a (id, cls|pos, toks) frame a caller
    // pinned; on an UNPINNED frame built with the same wordTokens
    // expression they must be bit-identical to the raw-text operators —
    // the refactor moved the tokenize site, not the math.
    val docs = Seq(
      (1L, "en", "the quick brown fox jumps over the lazy dog"),
      (2L, "en", "a quick brown dog naps in the sun all day"),
      (3L, "de", "der schnelle braune fuchs springt sehr hoch"),
      (4L, "de", "ein brauner hund schlaeft in der warmen sonne"),
      (5L, "en", "der quick fox und the dog"), // mixed: a likely issue row
      (6L, "fr", "le renard brun rapide saute par dessus le chien"))
      .toDF("doc_id", "lang", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().toSeq.map(_.toSeq)

    val mcTok = docs.select(col("doc_id"), col("lang").as("cls"),
      TextAnalysis.wordTokens("text").as("toks"))
    assert(rows(TextAnalysis.nbMulticlassTokens(mcTok, "doc_id")) ==
      rows(TextAnalysis.nbMulticlass(docs, "doc_id", "text", "lang")))
    assert(
      TextAnalysis.nbLabelIssuesTokens(mcTok, "doc_id", 3)
        .collect().toSeq.map(_.toSeq) ==
      TextAnalysis.nbLabelIssues(docs, "doc_id", "text", "lang", 3)
        .collect().toSeq.map(_.toSeq))

    val posTok = docs.select(col("doc_id"),
      (col("lang") === "en").as("pos"),
      TextAnalysis.wordTokens("text").as("toks"))
    assert(rows(TextAnalysis.nbQualityScoreTokens(posTok, "doc_id")) ==
      rows(TextAnalysis.nbQualityScore(docs, "doc_id", "text",
        col("lang") === "en")))
  }
}
