package graft.ext

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.SparkTest

class TextAnalysisSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  test("tokenCount handles blanks and runs of whitespace") {
    val df = Seq("a b  c", "", "   ", "one").toDF("text")
    val got = df.select(TextAnalysis.tokenCount("text")).as[Int].collect().toSeq
    assert(got == Seq(3, 0, 0, 1))
  }

  test("langId picks the dominant stopword language, 'und' when none") {
    val df = Seq(
      "the cat and the dog of it",
      "der hund und die katze ist",
      "xyzzy qwerty").toDF("text")
    val got = df.select(TextAnalysis.langId("text")).as[String].collect().toSeq
    assert(got == Seq("en", "de", "und"))
  }

  test("normalize: lowercase, punct runs to one space, trimmed") {
    val df = Seq("  Hello,\tWorld!!  ", "already clean", "", "a--b__c")
      .toDF("text")
    val got = df.select(TextAnalysis.normalize("text")).as[String].collect().toSeq
    assert(got == Seq("hello world", "already clean", "", "a b c"))
  }

  test("fingerprint is stable and discriminates different texts") {
    val df = Seq("the quick brown fox jumps", "the quick brown fox jumps",
      "a completely different sentence").toDF("text")
    val fps = df.select(TextAnalysis.fingerprint("text")).as[String].collect()
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  test("tfidf ranks document-specific terms above corpus-wide ones") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common common zebra zebra zebra"),
      (2L, "common yak yak"),
      (3L, "common xenon")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(docs, "text", "doc_id", 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    // 'common' appears in every doc → low idf; unique terms rank first
    assert(out.contains((1L, 1, "zebra")))
    assert(out.contains((2L, 1, "yak")))
    assert(out.contains((3L, 1, "xenon")))
  }

  test("tfidf: no mandatory broadcast of the vocabulary side; minDf prunes") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common common zebra zebra zebra"),
      (2L, "common yak yak"),
      (3L, "common xenon")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(docs, "text", "doc_id", 2)
    // the document-frequency aggregate is vocabulary-sized at corpus scale:
    // the join must carry NO broadcast hint (AQE decides at runtime)
    val logical = out.queryExecution.optimizedPlan.toString
    assert(!logical.toLowerCase.contains("broadcast"), logical.take(800))
    // minDf = 2 drops every term that appears in a single document; only
    // the corpus-wide 'common' survives the vocabulary prune
    val pruned = TextAnalysis.tfidfTopTerms(docs, "text", "doc_id", 2, minDf = 2L)
      .select("term").distinct().as[String].collect().toSet
    assert(pruned == Set("common"))
  }

  test("qualityScore rewards clean english text") {
    val df = Seq(
      "the cat and the dog walked to the park and it was sunny in the town",
      "@@@@ #### !!!! %%%%").toDF("text")
    val s = df.select(TextAnalysis.qualityScore("text")).as[Double].collect()
    assert(s(0) > 0.7 && s(1) < 0.5)
  }

  test("gopher signals: analytic values on handcrafted docs") {
    val df = Seq(
      (1L, "aa bbb cccc"),          // 9 alnum chars / 3 toks = 3.0
      (2L, "x! y? z."),             // 3 symbols / 3 words = 1.0
      (3L, "a b 1 2"),              // 2 letter-words / 4 = 0.5
      (4L, "w w w w w"),            // 3-grams: 3 total, 1 distinct -> 2/3
      (5L, "")                      // all signals 0 on empty
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        TextAnalysis.meanWordLength(col("text")).as("mw"),
        TextAnalysis.symbolWordRatio(col("text")).as("sr"),
        TextAnalysis.alphaWordFraction(col("text")).as("af"),
        TextAnalysis.dupShingleFraction(col("text")).as("df"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got(1L)._1 == 3.0)
    assert(got(2L)._2 == 1.0)
    assert(got(3L)._3 == 0.5)
    assert(math.abs(got(4L)._4 - 2.0 / 3.0) < 1e-12)
    assert(got(5L) == ((0.0, 0.0, 0.0, 0.0)))
  }

  test("packSequences: per-shard offsets, boundary-spanning docs, zero-token drop") {
    val docs = Seq(
      (0L, "a", (1 to 6).map(_ => "w").mkString(" ")),  // 6 toks: seqs 0
      (1L, "a", (1 to 3).map(_ => "w").mkString(" ")),  // start 6, spans 0..1 (ctx 8)
      (2L, "a", "  "),                                  // zero tokens: dropped
      (3L, "a", (1 to 8).map(_ => "w").mkString(" ")),  // start 9, spans 1..2
      (4L, "b", (1 to 2).map(_ => "w").mkString(" "))   // fresh shard: seq 0
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.packSequences(docs, "text", "doc_id", 8)
      .orderBy("source", "seq_id", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(
      ("a", 0L, 0L, 0L, 6L), ("a", 0L, 1L, 6L, 3L),
      ("a", 1L, 1L, 6L, 3L), ("a", 1L, 3L, 9L, 8L),
      ("a", 2L, 3L, 9L, 8L),
      ("b", 0L, 4L, 0L, 2L)))
  }

  test("packSequences subShards>1: independent per-sub-shard packing invariants") {
    val docs = Seq.tabulate(60)(i =>
      (i.toLong, s"src${i % 2}", (1 to i % 7 + 1).map(_ => "w").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val packed = TextAnalysis.packSequences(docs, "text", "doc_id", 8,
      subShards = 3)
    assert(packed.columns.toSeq ==
      Seq("source", "sub_shard", "seq_id", "doc_id", "start_tok", "ntok"))
    val rows = packed.collect().map(r => (r.getString(0), r.getInt(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    // every doc lands in exactly one (source, sub_shard)
    assert(rows.groupBy(_._4).forall { case (_, rs) =>
      rs.map(r => (r._1, r._2)).distinct.length == 1
    })
    // all 60 docs have >= 1 token, so all survive
    assert(rows.map(_._4).distinct.length == 60)
    rows.groupBy(r => (r._1, r._2)).foreach { case (_, rs) =>
      // within a sub-shard, start_tok is the running sum of prior ntok in
      // ascending doc_id order — a contiguous token stream
      val perDoc = rs.map(r => (r._4, r._5, r._6)).distinct.sortBy(_._1)
      var run = 0L
      perDoc.foreach { case (_, start, ntok) =>
        assert(start == run); run += ntok
      }
      // each doc emits exactly the ctx sequences it overlaps
      rs.foreach { case (_, _, seq, _, start, ntok) =>
        assert(seq >= start / 8 && seq <= (start + ntok - 1) / 8)
      }
      val byDoc = rs.groupBy(_._4)
      byDoc.foreach { case (_, drs) =>
        val (start, ntok) = (drs.head._5, drs.head._6)
        assert(drs.length == ((start + ntok - 1) / 8 - start / 8 + 1).toInt)
      }
    }
    // sub-shard union ≡ the docs of the subShards=1 packing (same ntok)
    val flat = TextAnalysis.packSequences(docs, "text", "doc_id", 8)
      .select("doc_id", "ntok").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(r => (r._4, r._6)).toSet == flat)
  }

  test("dupLineFraction / dupParaFraction: blanks, singles, repeats") {
    val df = Seq(
      "a\na\nb",               // lines a,a,b → 1 − 2/3
      "a\n\n a \n\nb",         // paras a,a,b (trimmed) → 1 − 2/3; lines same
      "one line only",         // single → 0
      "", "   ", " \n \n ",    // nothing non-blank → 0
      "p\n\n\n\np"             // 2+ newline runs are ONE separator → p,p → 0.5
    ).toDF("text")
    val got = df.select(
      TextAnalysis.dupLineFraction(col("text")).as("l"),
      TextAnalysis.dupParaFraction(col("text")).as("p"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    def ~=(x: Double, y: Double) = math.abs(x - y) < 1e-9
    assert(~=(got(0)._1, 1.0 - 2.0 / 3) && ~=(got(0)._2, 0.0))
    assert(~=(got(1)._1, 1.0 - 2.0 / 3) && ~=(got(1)._2, 1.0 - 2.0 / 3))
    assert(got(2) == ((0.0, 0.0)) && got(3) == ((0.0, 0.0)))
    assert(got(4) == ((0.0, 0.0)) && got(5) == ((0.0, 0.0)))
    assert(~=(got(6)._2, 0.5))
  }

  test("lmScore: add-1 bigram NLL against hand-computed counts") {
    // corpus bigrams: (a,b)×3, (b,a)×1, (b,c)×1; contexts a=3, b=2; V=3
    val df = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "z"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.lmScore(df, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // p(a,b)=(3+1)/(3+3)=2/3, p(b,a)=p(b,c)=(1+1)/(2+3)=2/5
    val lnAB = math.log(2.0 / 3); val lnBX = math.log(2.0 / 5)
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    assert(got.length == 2) // single-token doc 3 has no bigrams
    assert(got(0) == ((1L, 3L, r6(-(2 * lnAB + lnBX) / 3))))
    assert(got(1) == ((2L, 2L, r6(-(lnAB + lnBX) / 2))))
  }

  test("bpeTrain: greedy merges, deterministic tie-breaks, early stop") {
    // counts: low*3, lower*2, newest*1 — hand-traced merge schedule:
    // r1 (l,o) 5 [ties (o,w) on count, lhs breaks], r2 (lo,w) 5,
    // r3 (e,r) 2 [ties (low,e), lhs 'e' < 'low'], r4 (low,er) 2
    val df = Seq("low low low lower lower newest").toDF("text")
    val got = TextAnalysis.bpeTrain(df, "text", 4).orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, "l", "o", 5L), (2L, "lo", "w", 5L),
      (3L, "e", "r", 2L), (4L, "low", "er", 2L)))
    // single-char-word corpus has no adjacent pairs: empty table, early stop
    assert(TextAnalysis.bpeTrain(
      Seq("a b a").toDF("text"), "text", 3).count() == 0)
  }

  test("featureHash matches an independent md5 reference") {
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val words = Seq("foo", "bar", "foo", "baz9")
    val expected = words.map(h60)
      .groupBy(h => h % 16)
      .map { case (slot, hs) =>
        (1L, slot, hs.map(h => ((h >> 8) % 2) * 2 - 1).sum) }
      .toSeq.sortBy(_._2)
    val got = TextAnalysis.featureHash(
        Seq((1L, words.mkString(" "))).toDF("doc_id", "text"),
        "doc_id", "text")
      .orderBy("slot").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == expected)
    // blank documents emit no rows
    assert(TextAnalysis.featureHash(
      Seq((2L, "  ")).toDF("doc_id", "text"), "doc_id", "text").count() == 0)
  }

  test("bpeSubwords: frequency-weighted vocabulary after the merge schedule") {
    // after the 4 merges above (the 4th, (low,er), fully merges 'lower'):
    // low→[low], lower→[lower], newest stays characters
    val df = Seq("low low low lower lower newest").toDF("text")
    val got = TextAnalysis.bpeSubwords(df, "text", 4).orderBy("subword")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("e", 2L), ("low", 3L), ("lower", 2L),
      ("n", 1L), ("s", 1L), ("t", 1L), ("w", 1L)))
  }

  test("bpeEncode: real token counts under the trained schedule") {
    // same corpus/schedule as the bpeTrain test — after (l,o) (lo,w) (e,r)
    // (low,er): low → 1 subword, lower → 1, newest → 6 characters (none of
    // its adjacent pairs ever win a merge round)
    val df = Seq((1L, "low low low lower lower newest"), (2L, "  "))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpeEncode(df, "doc_id", "text", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 6L, 3L * 1 + 2L * 1 + 6L))) // doc 2 absent
  }

  test("dsirSelect: deterministic Gumbel top-k over the weight table") {
    val docs = Seq(
      (1L, true, "alpha beta alpha"),
      (2L, true, "alpha beta gamma"),
      (3L, false, "alpha beta alpha beta"),
      (4L, false, "delta epsilon zeta"),
      (5L, false, "alpha gamma beta")
    ).toDF("doc_id", "tgt", "text")
    val sel = TextAnalysis.dsirSelect(docs, "doc_id", "text", col("tgt"), 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(sel.length == 2)
    // independent reference: dsirWeights + MessageDigest-keyed Gumbel noise
    val w = TextAnalysis.dsirWeights(docs, "doc_id", "text", col("tgt"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    def h60(s: String) = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 15), 16)
    def key(id: Long) = {
      val u = (h60("dsir" + id) % 1048576L + 0.5) / 1048576.0
      math.round((w(id) - math.log(-math.log(u))) * 1e6) / 1e6
    }
    val expect = w.keys.toSeq.map(id => (id, w(id), key(id)))
      .sortBy { case (id, _, k) => (-k, id) }.take(2)
    assert(sel.toSeq.sortBy(t => (-t._3, t._1)) == expect)
  }

  test("selectByTokenBudget: quality ranking, atomic prefix cut, per-source budgets") {
    val docs = Seq(
      // source a — quality-ranked: d1(0.9, 3), d2(0.8, 4), d3(0.7, 2), d4(0.6, 1)
      (1L, "a", "w w w", 0.9),
      (2L, "a", "w w w w", 0.8),
      (3L, "a", "w w", 0.7),
      (4L, "a", "w", 0.6),
      (5L, "a", "   ", 0.99),   // zero tokens → dropped despite top quality
      // source b — its own budget
      (6L, "b", "w w w w w w", 0.5),
      (7L, "b", "w w w", 0.4)
    ).toDF("doc_id", "source", "text", "q")
    val got = TextAnalysis.selectByTokenBudget(docs, "text", "doc_id",
      budget = 7L, qualityCol = Some("q"))
      .orderBy("source", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    // a: cum 3, 7, 9, 10 → the PREFIX within budget survives; d3 would
    // cross and is dropped atomically, taking d4 with it (prefix cut,
    // not best-fit packing)
    assert(got.toSeq == Seq(
      ("a", 1L, 3L, 3L), ("a", 2L, 4L, 7L),
      ("b", 6L, 6L, 6L)))
    // default quality path runs and respects the budget bound
    val dflt = TextAnalysis.selectByTokenBudget(docs, "text", "doc_id", 5L)
    assert(dflt.collect().forall(_.getLong(4) <= 5L))
  }

  test("packSequencesStream: one batch ≡ packSequences; shard offsets " +
      "persist across checkpoint restarts") {
    val docs = Seq(
      (0L, "a", (1 to 6).map(_ => "w").mkString(" ")),
      (1L, "a", (1 to 3).map(_ => "w").mkString(" ")),
      (3L, "a", (1 to 8).map(_ => "w").mkString(" ")),
      (4L, "b", (1 to 2).map(_ => "w").mkString(" "))
    ).toDF("doc_id", "source", "text")
    val src = java.nio.file.Files.createTempDirectory("graft_pack_src").toString
    val sink = java.nio.file.Files.createTempDirectory("graft_pack_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_pack_ckpt").toString
    docs.write.mode("append").parquet(src)
    def drain(): Unit = {
      val q = TextAnalysis.packSequencesStream(
        spark.readStream.schema(docs.schema).parquet(src),
        "text", "doc_id", 8)
        .writeStream.outputMode("append").format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    drain()
    def sinkRows() = spark.read.parquet(sink)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val batch = TextAnalysis.packSequences(docs, "text", "doc_id", 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(sinkRows() == batch) // one AvailableNow batch ≡ the batch op
    // late second batch: shard a's offset must CONTINUE from 6+3+8 = 17
    Seq((9L, "a", (1 to 4).map(_ => "w").mkString(" ")))
      .toDF("doc_id", "source", "text")
      .write.mode("append").parquet(src)
    drain()
    val late = (sinkRows() -- batch).filter(_._3 == 9L)
    // 4 tokens from offset 17 span ctx sequences 2..2 (17/8=2, 20/8=2)
    assert(late == Set(("a", 2L, 9L, 17L, 4L)))
  }

  test("chunk: window/overlap semantics and edge cases") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "only three words"),                        // n < size
      (3L, "a b c d"),                                 // n == size
      (4L, ""), (5L, "   ")                            // blank → no chunks
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunk(docs, "text", "doc_id", 4, 1)
      .orderBy("doc_id", "chunk_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    // stride 3: doc 1 → chunks at 0,3,6 (last takes tokens 7..10)
    assert(out.filter(_._1 == 1L).toSeq == Seq(
      (1L, 0, 4, "w1 w2 w3 w4"),
      (1L, 1, 4, "w4 w5 w6 w7"),
      (1L, 2, 4, "w7 w8 w9 w10")))
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0, 3, "only three words")))
    assert(out.filter(_._1 == 3L).toSeq == Seq((3L, 0, 4, "a b c d")))
    assert(!out.exists(r => r._1 == 4L || r._1 == 5L))
    // adjacent chunks share exactly `overlap` tokens
    assert(out.filter(_._1 == 1L).sliding(2).forall {
      case Array(a, b) => a._4.split(" ").takeRight(1).sameElements(
        b._4.split(" ").take(1))
      case _ => true
    })
  }

  test("redactPii replaces and counts emails/phones") {
    val df = Seq(
      "write a@b.org or b.c@d-e.io now",
      "call 555-123-4567 or 555.987.6543",
      "clean text").toDF("text")
    val got = df.select(
      TextAnalysis.redactPii("text").as("red"),
      TextAnalysis.piiCounts("text")._1.as("ne"),
      TextAnalysis.piiCounts("text")._2.as("np"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    assert(got(0) == (("write <EMAIL> or <EMAIL> now", 2, 0)))
    assert(got(1) == (("call <PHONE> or <PHONE>", 0, 2)))
    assert(got(2) == (("clean text", 0, 0)))
  }

  // ---- BPE driver fast-path == distributed rounds ------------------------

  test("bpeTrain/bpeSubwords: driver fast-path equals the distributed merge rounds") {
    // The driver loop (vocab <= localThreshold) must replay the
    // distributed rounds exactly: same tie-break (count desc, lhs/rhs
    // ASCII), same left-to-right non-overlapping literal replace. The
    // corpus has a deliberate count TIE (ab vs bc) and a self-overlap
    // word (ababab) to exercise both.
    val docs = Seq(
      "abab abc", "ababab cab", "abc bcbc", "cab abab").toDF("text")
    def run(localThreshold: Long)
        : (Seq[(Long, String, String, Long)], Set[(String, Long)]) = (
      TextAnalysis.bpeTrain(docs, "text", 5, localThreshold)
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getString(2), r.getLong(3))).toSeq,
      TextAnalysis.bpeSubwords(docs, "text", 5, localThreshold)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet)
    val viaDriver = run(1L << 20)
    val viaRounds = run(0)
    assert(viaDriver._1 == viaRounds._1,
      "merge schedules must be identical across paths")
    assert(viaDriver._2 == viaRounds._2,
      "final subword vocabularies must be identical across paths")
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

  /** The pre-r15 window-argmax form, kept here as the reference. */
  private def windowArgmax(scored: org.apache.spark.sql.DataFrame,
      idCol: String): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("cls").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(idCol), col("n_tokens"), col("cls").as("pred"),
        col("score"))
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("nbArgmax == window argmax on random score grids with forced ties") {
    val rnd = new scala.util.Random(151)
    // scores drawn from a TINY rounded set so most docs carry several
    // exact ties; classes include ordering-sensitive names (prefix pairs,
    // digits vs letters) so the cls-asc tie-break is actually exercised
    val classes = Seq("a", "aa", "b", "de", "en", "z0", "z1")
    for (trial <- 0 until 3) {
      val grid = for {
        doc <- 0 until 200
        cls <- classes
      } yield (doc.toLong, cls,
        math.round(rnd.nextInt(5) * 0.25 * 1e6 - 5e5) / 1e6,
        (doc % 7).toLong)
      val scored = grid.toDF("doc_id", "cls", "score", "n_tokens")
      val got = rows(TextAnalysis.nbArgmax(scored, "doc_id")
        .select(col("doc_id"), col("n_tokens"), col("pred"), col("score")))
      val want = rows(windowArgmax(scored, "doc_id"))
      assert(got == want, s"trial $trial")
    }
  }

  test("nbArgmax tie-break matches the window at the ±0.0 boundary") {
    // -0.0 and 0.0 must compare EQUAL (Spark's SQLOrderingUtil double
    // ordering) on both paths, so the tie falls through to cls asc
    val scored = Seq(
      (1L, "b", 0.0, 3L), (1L, "a", -0.0, 3L),
      (2L, "b", -0.0, 4L), (2L, "a", 0.0, 4L),
      (3L, "z", -1.5, 2L), (3L, "y", -1.5, 2L)
    ).toDF("doc_id", "cls", "score", "n_tokens")
    val got = TextAnalysis.nbArgmax(scored, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == Map(1L -> "a", 2L -> "a", 3L -> "y"))
    // the selected score survives the -x round-trip bit-for-bit
    val want = rows(windowArgmax(scored, "doc_id"))
    assert(rows(TextAnalysis.nbArgmax(scored, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("pred"),
        col("score"))) == want)
  }

  test("nbMulticlassTokens end-to-end: duplicated class corpora tie to the first class") {
    // classes "mm" and "aa" get IDENTICAL token streams, so every doc's
    // two scores are exactly equal and pred must be the
    // lexicographically-first class — the real-path tie case
    val docs = (0 until 40).flatMap { i =>
      val toks = Seq(s"tok${i % 5}", "common", s"w${i % 3}")
      Seq((i.toLong * 2, "mm", toks), (i.toLong * 2 + 1, "aa", toks))
    }.toDF("doc_id", "cls", "toks")
    val out = TextAnalysis.nbMulticlassTokens(docs, "doc_id").collect()
    assert(out.length == 80)
    // both label classes have the same priors and token counts, so each
    // doc's "aa" and "mm" scores are identical and "aa" must win
    assert(out.forall(_.getString(2) == "aa"))
  }

  test("heavyHitters equals the exact top-k on a Zipf-ish corpus") {
    // token t_i appears ~ 200/i times; plenty of one-off noise tokens
    val words = (1 to 40).flatMap(i => Seq.fill(200 / i)(s"t$i")) ++
      (1 to 300).map(i => s"noise$i")
    val docs = words.grouped(17).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val got = TextAnalysis.heavyHitters(docs, "text", 10, capacity = 64)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val exact = docs.select(explode(TextAnalysis.wordTokens("text")).as("t"))
      .groupBy("t").count().orderBy($"count".desc, $"t".asc).limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == exact)
  }

  test("bm25 replays the scoring formula; docs without query terms excluded") {
    val df = Seq((1L, "hash join"), (2L, "hash hash hash scan scan scan"),
      (3L, "other words entirely")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25(df, "doc_id", "text", "hash join")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val (k1, b) = (1.2, 0.75)
    val n = 3.0; val avgdl = (2.0 + 6.0 + 3.0) / 3.0
    def idf(dfq: Double) = math.log(1.0 + (n - dfq + 0.5) / (dfq + 0.5))
    def term(tf: Double, dfq: Double, dl: Double) =
      idf(dfq) * (tf * (k1 + 1.0)) /
        (tf + k1 * ((1.0 - b) + b * dl / avgdl))
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.keySet == Set(1L, 2L)) // doc 3 matches nothing
    assert(got(1L) == r6(term(1, 2, 2) + term(1, 1, 2)))
    assert(got(2L) == r6(term(3, 2, 6)))
    // the short doc holding the RARE term outranks the tf-stuffed one
    assert(got(1L) > got(2L))
  }
}

class DedupSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog " * 5
  private lazy val docs = Seq(
    (0L, base),
    (1L, base + "with one small change"), // near-dup of 0
    (2L, "an entirely different document about spark and data processing pipelines at scale"),
    (3L, base), // exact dup of 0
    (4L, "another unrelated text body mentioning neither foxes nor dogs at all today")
  ).toDF("doc_id", "text")

  test("exact dedup finds the identical pair only") {
    val d = Dedup.exact(docs, "text", "doc_id").collect()
    assert(d.length == 1)
    assert(d(0).getLong(1) == 0L && d(0).getLong(2) == 2L)
  }

  test("minhash LSH surfaces the near-duplicate pair") {
    val pairs = Dedup.minhashLsh(docs, "text", "doc_id", minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // near-dup found
    assert(pairs.contains((0L, 3L))) // exact dup found
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L)) // unrelated not paired
  }

  test("decontaminateBroadcast equals the join-shaped decontaminate") {
    val corpus = Seq(
      (10L, "totally clean document body here"),
      (11L, base),                       // shares shingles with the bench
      (12L, "another clean and unrelated one"),
      (13L, null.asInstanceOf[String])   // NULL text survives on BOTH paths
    ).toDF("doc_id", "text")
    val bench = Seq((0L, base)).toDF("doc_id", "text")
    val viaJoin = Dedup.decontaminate(corpus, bench, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaSet = Dedup.decontaminateBroadcast(corpus, bench, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaJoin == Set(10L, 12L, 13L) && viaSet == viaJoin)
    // over-cap bench side falls back to the join shape, same answer
    val fallback = Dedup.decontaminateBroadcast(corpus, bench, "text",
      "doc_id", maxBenchShingles = 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(fallback == viaJoin)
  }

  test("dedupLines drops corpus-frequent lines, keeps order, preserves rows") {
    val docs = Seq(
      (1L, "unique one\nBOILER\nunique two"),
      (2L, "BOILER\nother text"),
      (3L, "BOILER"),          // empties entirely
      (4L, "solo\nBOILER\nsolo") // in-doc repeats count toward the corpus tally
    ).toDF("doc_id", "text")
    val got = Dedup.dedupLines(docs, "text", "doc_id", maxOccurrences = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // BOILER occurs 4x > 2 -> dropped everywhere; "solo" occurs 2x <= 2 -> kept
    assert(got == Map(
      1L -> "unique one\nunique two",
      2L -> "other text",
      3L -> "",
      4L -> "solo\nsolo"))
  }

  test("simhash: near-dups at small hamming distance, unrelated far") {
    val sk = docs.select(col("doc_id"), Dedup.simhash("text").as("s"))
    val pairs = sk.as("l").crossJoin(sk.as("r"))
      .filter(col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id"), col("r.doc_id"),
        Dedup.hamming(col("l.s"), col("r.s")).as("h"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Number](2).longValue())).toMap
    assert(pairs((0L, 3L)) == 0) // identical text, identical sketch
    assert(pairs((0L, 1L)) < 15) // near-dup: small distance
    assert(pairs((0L, 2L)) > 15) // unrelated: large distance
  }

  test("ngram jaccard pairs within a block") {
    val blocked = docs.withColumn("blk", lit("1"))
    val pairs = Dedup.ngramJaccardPairs(blocked, "text", "doc_id", Seq("blk"), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L)))
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 2L)))
  }

  test("prefix-filtered jaccard pairs equal the block cross-product exactly") {
    // larger corpus: 40 docs, shared phrases → nontrivial pair structure
    val rnd = new scala.util.Random(23)
    val phrases = Vector("the quick brown fox", "jumps over the lazy dog",
      "spark engines shuffle data", "parquet files store columns",
      "weighted quantiles need sorting")
    val corpus = (0L until 40L).map { i =>
      val body = (0 until 3 + rnd.nextInt(3))
        .map(_ => phrases(rnd.nextInt(phrases.length))).mkString(" ")
      (i, body)
    }.toDF("doc_id", "text").withColumn("blk", lit("b"))
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    val crossProduct = norm(
      Dedup.ngramJaccardPairs(corpus, "text", "doc_id", Seq("blk"), 0.3))
    val prefixed = norm(
      Dedup.ngramJaccardPairsPrefix(corpus, "text", "doc_id", Seq("blk"), 0.3))
    assert(prefixed == crossProduct && crossProduct.nonEmpty)
  }

  test("simhash pigeonhole banding finds near-dups, skips unrelated") {
    val pairs = Dedup.simhashNearDups(docs, "text", "doc_id", maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L))) // identical text → hamming 0
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L)) // unrelated
    // recall guarantee: ANY pair with true hamming <= maxHamming is found
    val sk = docs.select(col("doc_id"), Dedup.simhash("text").as("s"))
    val truth = sk.as("l").crossJoin(sk.as("r"))
      .filter(col("l.doc_id") < col("r.doc_id"))
      .filter(Dedup.hamming(col("l.s"), col("r.s")) <= 2)
      .select(col("l.doc_id"), col("r.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == truth) // pigeonhole banding is lossless at <= maxHamming
  }

  test("decontaminate drops corpus docs overlapping the benchmark set") {
    val bench = Seq((100L, "what is the capital of france paris obviously"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "a clean training document about spark shuffles and partitions"),
      // contains the benchmark 3-gram "capital of france" → contaminated
      (2L, "quiz answers the capital of france is paris of course it is"),
      (3L, "another unrelated document mentioning nothing sensitive at all"))
      .toDF("doc_id", "text")
    val kept = Dedup.decontaminate(corpus, bench, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
    // corpus rows pass through unchanged (schema + values)
    val full = Dedup.decontaminate(corpus, bench, "text", "doc_id").collect()
    assert(full.forall(_.length == 2))
  }

  test("connected components assign min id per dup cluster") {
    val pairs = Seq((1L, 2L), (2L, 5L), (7L, 8L), (3L, 9L), (9L, 4L))
      .toDF("id_a", "id_b")
    val expect = Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 7L -> 7L, 8L -> 7L,
      3L -> 3L, 9L -> 3L, 4L -> 3L)
    // chains resolve transitively: {1,2,5}→1, {7,8}→7, {3,4,9}→3 — on
    // BOTH dispatch paths (driver union-find and distributed propagation)
    val local = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == expect)
    val distributed = Dedup.connectedComponents(pairs, localThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distributed == expect)
  }

  test("connected components: long chain (distributed path halving)") {
    // a 40-node path graph — diameter 39 exercises the O(log d) halving
    val pairs = (0L until 39L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs, localThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 40 && cc.values.forall(_ == 0L))
  }

  test("maxBandBucket drops hot LSH buckets (spam guard)") {
    // 6 identical docs: every band bucket holds all 6 → capped at 3,
    // all buckets drop, no candidate pairs survive
    val spam = (0L until 6L).map(i => (i, base)).toDF("doc_id", "text")
    val capped = Dedup.minhashLsh(spam, "text", "doc_id", maxBandBucket = 3)
    assert(capped.count() == 0)
    val uncapped = Dedup.minhashLsh(spam, "text", "doc_id")
    assert(uncapped.count() == 15) // all 6-choose-2 pairs
  }

  test("shingle kernel is bit-identical to the SQL md5/conv chain") {
    // the native kernel must reproduce the SQL-composed hashes exactly —
    // the DuckDB oracle recomputes them with md5/conv on its side
    val sqlHashed = sort_array(transform(
      graft.ext.TextAnalysis.shingles("text"),
      s => conv(substring(md5(s), 1, 15), 16, 10).cast("long")))
    val rows = docs
      .withColumn("t2", lit("")) // degenerate empty-text path
      .select(
        graft.ext.TextAnalysis.hashedShingles("text").as("k"),
        sqlHashed.as("s"),
        graft.ext.TextAnalysis.hashedShingles("t2").as("k0"),
        sort_array(transform(graft.ext.TextAnalysis.shingles("t2"),
          s => conv(substring(md5(s), 1, 15), 16, 10).cast("long"))).as("s0"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
      assert(r.getSeq[Long](2) == r.getSeq[Long](3))
    }
  }

  test("hashed sorted-array jaccard equals string-array jaccard") {
    // the verify path hashes shingles to sorted 60-bit longs; the merge-scan
    // jaccard must equal array_intersect/union over the original strings
    val t = docs.select(col("doc_id"),
      graft.ext.TextAnalysis.shingles("text").as("sh"),
      graft.ext.TextAnalysis.hashedShingles("text").as("hs"))
    val both = t.as("l").crossJoin(t.as("r"))
      .filter(col("l.doc_id") < col("r.doc_id"))
      .select(
        Dedup.jaccardArr(col("l.sh"), col("r.sh")).as("j_str"),
        graft.functions.SetSimilarity.jaccardSorted(col("l.hs"), col("r.hs")).as("j_hash"))
      .collect()
    both.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("boilerplateReport surfaces hot lines with their counts") {
    val df = Seq(
      (1L, "head\nbody one"), (2L, "head\nbody two"),
      (3L, "head\nunique"), (4L, "solo")).toDF("doc_id", "text")
    val got = Dedup.boilerplateReport(df, "text", maxOccurrences = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("head", 3L)))
    // at the default threshold the twice-occurring body lines still hide
    val loose = Dedup.boilerplateReport(df, "text")
      .collect().map(_.getString(0)).toSet
    assert(loose == Set("head"))
  }

  test("duplicatedSpans merges duplicated k-gram runs into maximal spans") {
    val shared = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val df = Seq(
      (1L, shared + " ta tb tc"),
      (2L, shared + " td te tf"),
      (3L, "x1 x2 x3 x4 zz x1 x2 x3 x4 qq"),
      (4L, "u1 u2 u3 u4 u5 u6")).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(df, "doc_id", "text", k = 4)
      .orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // docs 1/2 share a 10-token prefix (windows 0..6 → one maximal span);
    // doc 3 repeats a 4-gram WITHIN itself (two disjoint spans); doc 4 is
    // unique and hosts none
    assert(got.toSeq == Seq((1L, 0L, 10L), (2L, 0L, 10L),
      (3L, 0L, 4L), (3L, 5L, 4L)))
  }

  test("stripDuplicatedSpans removes covered tokens, preserves rows") {
    val shared = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val df = Seq(
      (1L, shared + " ta tb tc"),
      (2L, shared + " td te tf"),
      (4L, "u1 u2 u3 u4 u5 u6")).toDF("doc_id", "text")
    val got = Dedup.stripDuplicatedSpans(df, "doc_id", "text", k = 4)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "ta tb tc"), (2L, "td te tf"),
      (4L, "u1 u2 u3 u4 u5 u6")))
    // fully-duplicated documents become empty strings, rows preserved
    val dup = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    val got2 = Dedup.stripDuplicatedSpans(dup, "doc_id", "text", k = 4)
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(got2.toSeq == Seq("", ""))
  }

  test("sourceOverlap: asymmetric containment over distinct shingle sets") {
    // A = {xyz, yzw, yzq}, B = {xyz, yzw}, C = {ppp} (disjoint)
    val df = Seq(
      ("A", "x y z w"), ("A", "x y z q"),
      ("B", "x y z w"), ("C", "p p p p")).toDF("source", "text")
    val got = Dedup.sourceOverlap(df, "source", "text")
      .orderBy("src_a", "src_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(("A", "B", 2L, 0.666667), ("B", "A", 2L, 1.0)))
  }

  test("dedup operators leave no persistent blocks (scoped cache lifetimes)") {
    val sc = spark.sparkContext
    def leakedBy(body: => Unit): Set[Int] = {
      val before = sc.getPersistentRDDs.keySet.toSet
      body
      sc.getPersistentRDDs.keySet.toSet -- before
    }
    assert(leakedBy(
      Dedup.minhashLsh(docs, "text", "doc_id", minJaccard = 0.5).count()
    ).isEmpty, "minhashLsh leaked blocks")
    assert(leakedBy(
      Dedup.ngramJaccardPairsPrefix(docs.withColumn("blk", lit(1)),
        "text", "doc_id", Seq("blk"), 0.3).count()
    ).isEmpty, "ngramJaccardPairsPrefix leaked blocks")
    assert(leakedBy {
      val pairs = Dedup.minhashLsh(docs, "text", "doc_id", minJaccard = 0.5)
      Dedup.connectedComponents(pairs).count() // driver union-find path
    }.isEmpty, "connectedComponents (driver path) leaked blocks")
    // distributed path: per-round checkpoints and the edge table are
    // released as the loop advances; only the FINAL round's checkpoint may
    // remain — it backs the returned frame
    val pairs = Dedup.minhashLsh(docs, "text", "doc_id", minJaccard = 0.5)
    val left = leakedBy(
      Dedup.connectedComponents(pairs, localThreshold = 0).count())
    assert(left.size <= 1,
      s"connectedComponents (distributed path) left ${left.size} RDDs")
  }

  test("each candidate self-join reads its bucket table through a ReusedExchange") {
    // both sides of a self-join shuffle on the same keys, so AQE serves
    // the second from the first's map stage: the shingle kernels run once.
    // containmentPairs has no bucket self-join (probes and postings are
    // different tables); its two verify ends share the shingle table's
    // exchange instead
    val rnd = new scala.util.Random(7)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val rows = (0L until 200L).map { i =>
      (i, Seq.fill(8 + rnd.nextInt(8))(words(rnd.nextInt(words.length)))
        .mkString(" "))
    }
    val corpus = spark.sparkContext.parallelize(rows, 4).toDF("doc_id", "text")
    val helper = new org.apache.spark.sql.execution.adaptive
      .AdaptiveSparkPlanHelper {}
    def reused(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      helper.collectWithSubqueries(df.queryExecution.executedPlan) {
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
      }.size
    }
    assert(reused(Dedup.minhashCandidates(corpus, "text", "doc_id")) >= 1,
      "minhashCandidates")
    assert(reused(Dedup.ngramPrefixCandidates(
      corpus.withColumn("blk", lit("b")), "text", "doc_id", Seq("blk"),
      0.5)) >= 1, "ngramPrefixCandidates")
    assert(reused(Dedup.containmentPairs(corpus, "text", "doc_id")) >= 1,
      "containmentPairs")
  }

  test("decontaminateBloom equals the exact join shape, null text surviving") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "zeta eta theta iota kappa"),
      (3L, "alpha beta gamma something else"), // shares a 3-gram with bench
      (4L, null.asInstanceOf[String]),
      (5L, "totally clean text here indeed")).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma")).toDF("doc_id", "text")
    val got = Dedup.decontaminateBloom(corpus, bench, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val want = Dedup.decontaminate(corpus, bench, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == want)
    assert(got == Seq(2L, 4L, 5L)) // 1 and 3 share the bench 3-gram; null survives
  }

  test("snapshotDiff classifies added/removed/changed/unchanged, null text included") {
    val old = Seq(
      (1L, "same"), (2L, "before"), (3L, "gone"),
      (5L, null.asInstanceOf[String])).toDF("id", "text")
    val cur = Seq(
      (1L, "same"), (2L, "after"), (4L, "fresh"),
      (5L, null.asInstanceOf[String])).toDF("id", "text")
    val got = Dedup.snapshotDiff(old, cur, "id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "added", 5L -> "unchanged"))
  }

  test("dedupParagraphs strips hot paragraphs, keeps order, canonicalizes gaps") {
    val boiler = "subscribe to our newsletter"
    val df = Seq(
      (1L, s"alpha one\n\n$boiler\n\n\nbeta two"),
      (2L, s"$boiler\n\ngamma three"),
      (3L, s"delta four\n\n$boiler")).toDF("doc_id", "text")
    val got = Dedup.dedupParagraphs(df, "text", "doc_id")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    // the 3x paragraph is stripped everywhere; survivors keep document
    // order; the \n\n\n run canonicalizes to the \n\n joiner
    assert(got.toSeq == Seq((1L, "alpha one\n\nbeta two"),
      (2L, "gamma three"), (3L, "delta four")))
  }

  test("minhashLshCross == within-union LSH restricted to cross-side pairs") {
    val newDf = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different text about spark engines"),
      (3L, "the quick brown fox jumps over the lazy cat")
    ).toDF("doc_id", "text")
    val refDf = Seq(
      (11L, "the quick brown fox jumps over the lazy dog today"),
      (12L, "unrelated reference corpus document entirely"),
      (13L, "completely different text about spark engines and scale")
    ).toDF("doc_id", "text")
    val got = Dedup.minhashLshCross(newDf, refDf, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // same banding over the union: cross pairs are exactly the union's
    // pairs with one member per side (new ids < ref ids here, so id_a=new)
    val newIds = Set(1L, 2L, 3L)
    val want = Dedup.minhashLsh(newDf.unionByName(refDf), "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => newIds(p._1) && !newIds(p._2)).toSet
    assert(got == want)
    assert(got.nonEmpty) // the fox and spark docs must pair across sides
  }

  test("minhashLshCrossFromStore == the inline shape (same pairs, same jaccard)") {
    val newDf = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different text about spark engines")
    ).toDF("doc_id", "text")
    val refDf = Seq(
      (11L, "the quick brown fox jumps over the lazy dog today"),
      (12L, "unrelated reference corpus document entirely")
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_lsh_store")
      .toString
    Dedup.writeLshStore(refDf, "text", "doc_id", path)
    def collect(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fromStore = collect(
      Dedup.minhashLshCrossFromStore(newDf, spark, path, "text", "doc_id"))
    val inline = collect(
      Dedup.minhashLshCross(newDf, refDf, "text", "doc_id"))
    assert(fromStore == inline)
    assert(fromStore.nonEmpty)
  }

  test("minhashLshCross keeps overlapping id spaces apart (snapshot ids)") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine")
    ).toDF("doc_id", "text")
    // same table on both sides: every doc pairs with ITSELF across sides
    // at jaccard 1.0, and never within a side
    val got = Dedup.minhashLshCross(docs, docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 1L, 1.0), (2L, 2L, 1.0)))
  }

  test("containmentPairs finds the near-superset MinHash-Jaccard misses") {
    val extra = (1 to 16).map(i => s"x$i").mkString(" ")
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, s"a b c d e f $extra"),
      (3L, "p q r s t u")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "text", "doc_id", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))).toSeq
    // doc 1 (4 shingles) is wholly inside doc 2 (20 shingles)
    assert(got == Seq((1L, 2L, 4L, 20L, 4L, 1.0, 0.2)))
    // the same pair's Jaccard is 0.2 — invisible to the 0.3 LSH gate
    val lsh = Dedup.minhashLsh(docs, "text", "doc_id", minJaccard = 0.3)
      .collect()
    assert(!lsh.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
  }

  test("containmentPairs with sampleK >= all shingles == exhaustive all-pairs") {
    val rnd = new scala.util.Random(3)
    // overlapping windows of one shared token stream: containment-rich
    val base = (0 until 40).map(i => s"w$i")
    val docs = (1L to 12L).map { i =>
      val start = rnd.nextInt(30)
      val len = 6 + rnd.nextInt(12)
      (i, base.slice(start, (start + len) min base.size).mkString(" "))
    }.toDF("doc_id", "text")
    def collect(d: org.apache.spark.sql.DataFrame) = d
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSeq
    val sampled = collect(
      Dedup.containmentPairs(docs, "text", "doc_id", 0.3, sampleK = 1000))
    // exhaustive reference: every pair through the exact verify
    val sh = docs.select($"doc_id",
      TextAnalysis.hashedShingles("text").as("sh"))
    val naive = sh.as("a").join(sh.as("b"),
        $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"),
        graft.functions.SetSimilarity.sortedIntersectSize(
          $"a.sh", $"b.sh").cast("long").as("inter"),
        size($"a.sh").cast("double").as("na"),
        size($"b.sh").cast("double").as("nb"))
      .filter(greatest($"inter" / $"na", $"inter" / $"nb") >= 0.3)
    val want = collect(naive.select($"id_a", $"id_b", lit(0L).as("p"),
      lit(0L).as("q"), $"inter"))
    assert(sampled == want && sampled.nonEmpty)
  }

  test("containmentPairs survives a hot-posting cap (pair found via other samples)") {
    // 'h h h' is a boilerplate shingle shared by every doc; cap drops it
    val docs = Seq(
      (1L, "h h h a b c d e"),
      (2L, "h h h a b c d e z1 z2 z3 z4 z5 z6 z7 z8"),
      (3L, "h h h p q r s"),
      (4L, "h h h m n o k")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "text", "doc_id", 0.6,
        maxPosting = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.contains((1L, 2L)))
  }

  test("aHash replays the analytic raster; hammingNearDups pairs by distance") {
    val docs = Seq(1L, 2L, 3L).toDF("doc_id")
    val media = Multimodal.synthesizeImages(docs, "doc_id")
    val got = Multimodal.aHash(media).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    def expected(id: Long): Long = {
      val w = id % 13 + 3; val h = id % 7 + 2
      val ps = (0 until 60).map { k =>
        (id * 31 + ((k % 10) * w / 10) * 7 + ((k / 10) * h / 6) * 13) % 256 }
      val tot = ps.sum
      ps.zipWithIndex.foldLeft(0L) { case (acc, (p, k)) =>
        if (p * 60 > tot) acc | (1L << k) else acc }
    }
    assert(got == Seq(1L, 2L, 3L).map(i => (i, expected(i))))
    // generalized pigeonhole banding over hand sketches
    val sk = Seq((1L, 0L), (2L, 3L), (3L, 7L), (4L, 0xF0F0F0L))
      .toDF("id", "sk")
    val pairs = Dedup.hammingNearDups(sk, "sk", "id", 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // d(1,2)=2 and d(2,3)=1 pass; d(1,3)=3 is a candidate (two chunks
    // agree) but the exact verify rejects it; 4 is far from everything
    assert(pairs == Set((1L, 2L), (2L, 3L)))
  }

  test("hammingDedupSurvivors: near-dups drop, degenerate chunks can't mass-delete") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val base = (0xAAAAAL << 40) | (0xBBBBBL << 20) | 0xCCCCCL
    val rows = Seq(
      (1L, ts(10), base),        // canonical
      (2L, ts(20), base ^ 3L),   // 2 flips in chunk 0 → loses chunks 1,2
      (3L, ts(30), (0x11111L << 40) | (0x22222L << 20) | 0x33333L),
      // 4 and 5 are NOT near-dups (hamming 3) but share all-zero high
      // chunks — the degenerate-chunk guard must keep BOTH (the old
      // chunk-value key would have falsely deleted 5)
      (4L, ts(40), 0L), (5L, ts(50), 7L)
    ).toDF("id", "ts", "ahash")
    val got = Dedup.hammingDedupSurvivors(rows, "ahash", "id",
        windowDur = "10 minutes", maxHamming = 2)
      .collect().map(_.getLong(1)).toSet
    assert(got == Set(1L, 3L, 4L, 5L))
  }

  test("hammingDedupSurvivors: degenerate full-sketch keys can't collide with ordinary chunk values") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    // maxHamming=1 → two 30-bit chunks. X's high chunk is all-zero, so its
    // degenerate key is the full sketch 5 — numerically equal to Y's
    // ORDINARY high-chunk value 5. Hamming(X, Y) = 4, far from dup; an
    // untagged key space would bucket them together at chunk 1 and
    // falsely delete Y.
    val x = 5L
    val y = (5L << 30) | 9L
    val rows = Seq((1L, ts(10), x), (2L, ts(20), y)).toDF("id", "ts", "ahash")
    val got = Dedup.hammingDedupSurvivors(rows, "ahash", "id",
        windowDur = "10 minutes", maxHamming = 1)
      .collect().map(_.getLong(1)).toSet
    assert(got == Set(1L, 2L))
  }

  test("editDistanceVerify keeps pairs within maxDist and reports the exact distance") {
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "the quick brown fix"),   // 1 edit from doc 1
      (3L, "completely different text entirely"),
      (4L, "the quick brown fox jumps")) // 6 edits from doc 1
      .toDF("doc_id", "text")
    val cand = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val got = Dedup.editDistanceVerify(cand, docs, "doc_id", "text", 5)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // (1,3) dies on the length prefilter (|19-34| > 5); (1,4) on distance
    assert(got.toSeq == Seq((1L, 2L, 1)))
    val loose = Dedup.editDistanceVerify(cand, docs, "doc_id", "text", 10)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(loose.toSeq == Seq((1L, 2L, 1), (1L, 4L, 6)))
  }

  test("dupRateBySlice and crossSliceDupMatrix replay a hand-built two-source graph") {
    // srcA: docs 1,2,3 with 1-2 dup; srcB: docs 4,5 with 4-5 dup and 2-4
    // crossing sources
    val docs = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"), (5L, "B"))
      .toDF("doc_id", "src")
    val pairs = Seq((1L, 2L), (4L, 5L), (2L, 4L)).toDF("id_a", "id_b")
    val rates = Dedup.dupRateBySlice(docs, "doc_id", "src", pairs)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // component {1,2,4,5} canonical 1: dups are 2 (in A) and 4,5 (in B)
    assert(rates("A") == ((3L, 1L, 1.0 / 3)))
    assert(rates("B") == ((2L, 2L, 1.0)))
    val m = Dedup.crossSliceDupMatrix(docs, "doc_id", "src", pairs)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(m == Map(("A", "A") -> 1L, ("B", "B") -> 1L, ("A", "B") -> 1L))
  }

  test("canonicalByScore keeps the max-score member per component, id tiebreak, singletons survive") {
    val docs = Seq((1L, 0.2), (2L, 0.9), (3L, 0.9), (4L, 0.5))
      .toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.canonicalByScore(docs, "doc_id", pairs, "q")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("rep_id"), r.getAs[Int]("keep"))).toMap
    // component {1,2,3}: 2 and 3 tie at 0.9 → min id 2 wins
    assert(Seq(1L, 2L, 3L).map(got(_)._1).distinct == Seq(2L))
    assert(got(2L)._2 == 1 && got(1L)._2 == 0 && got(3L)._2 == 0)
    assert(got(4L) == (4L, 1), "singleton is its own representative")
  }
}

class SimilaritySuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  private lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f, 0.0f), 0),
    (2L, Array(0.0f, 1.0f, 0.0f), 1),
    (3L, Array(0.0f, 0.95f, 0.05f), 1),
    (4L, Array(0.0f, 0.0f, 1.0f), 2)
  ).toDF("vec_id", "embedding", "label")

  /** `vecs` plus two zero vectors (ids 5, 6) in label bucket 0. */
  private lazy val withZeros = vecs.union(Seq(
    (5L, Array(0.0f, 0.0f, 0.0f), 0),
    (6L, Array(0.0f, 0.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label"))

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("semanticDedup keeps min-id canonicals and all singletons") {
    // label buckets: {0,1} near-parallel (dup pair), {2,3} near-parallel,
    // {4} singleton — survivors are the min ids 0 and 2 plus the singleton
    val out = Similarity.semanticDedup(vecs, 0.9, "label")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(0L, 2L, 4L))
  }

  test("brute-force top-k ranks by cosine") {
    val out = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0), 2)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(out.toSeq == Seq((1, 1L), (2, 2L)).take(2) ||
      out.head == ((1, 1L))) // nearest is the almost-parallel vector
  }

  test("bucketed search only scans the matching bucket") {
    val out = Similarity.bucketTopK(vecs, vecs.filter($"vec_id" === 2), 5, "label")
      .collect().map(_.getLong(2)).toSet
    assert(out == Set(3L)) // only label-1 partners
  }

  test("hyperplane bucket groups parallel vectors") {
    val b = vecs.select($"vec_id", Similarity.hyperplaneBucket($"embedding").as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(0L) == b(1L)) // nearly parallel → same bucket
    assert(b(2L) == b(3L))
  }

  test("hyperplane kernel: bit-identical to the SQL lambda chain, no lambdas in plan") {
    // the native kernel must reproduce the interpreted aggregate(zip_with)
    // composition exactly — same weights, same accumulation order
    def sqlBucket(vec: org.apache.spark.sql.Column, bits: Int) = {
      val planes = (0 until bits).map { i =>
        val proj = aggregate(
          zip_with(vec.cast("array<double>"),
            sequence(lit(0), size(vec) - 1).cast("array<double>"),
            (x, d) => x * (((lit(1.0) + pmod(lit(i * 31).cast("double") + d * 17.0, lit(61.0)))) - 30.5)),
          lit(0.0), (acc, v) => acc + v)
        when(proj > 0, lit(1L)).otherwise(lit(0L)) * (1L << i)
      }
      planes.reduce(_ + _)
    }
    val rnd = new scala.util.Random(7)
    val wide = ((0L until 50L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat))) :+
      // NaN projection: Spark's comparison order sets the bit (NaN > 0)
      (50L, Array.tabulate(16)(d => if (d == 0) Float.NaN else 0.5f)))
      .toDF("vec_id", "embedding")
    val rows = wide.select(
      Similarity.hyperplaneBucket($"embedding", 12).as("k"),
      sqlBucket($"embedding", 12).as("s")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // the bucket column compiles to the static kernel — no interpreted
    // higher-order functions left in the plan
    val plan = wide.select(Similarity.hyperplaneBucket($"embedding").as("b"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("lambdafunction") && !plan.contains("aggregate("),
      plan.take(600))
    // null element mirrors the lambda chain: poisoned projection → bucket 0
    val withNull = Seq((1L, Array[java.lang.Double](1.0, null, 2.0)))
      .toDF("vec_id", "embedding")
    assert(withNull.select(Similarity.hyperplaneBucket($"embedding"))
      .collect()(0).getLong(0) == 0L)
  }

  test("clusterMap assigns to the nearest seed, seeds to themselves") {
    // 2-d vectors around two well-separated seeds (ids 0 and 1)
    val vecs = Seq(
      (0L, Seq(0.0f, 0.0f)), (1L, Seq(10.0f, 10.0f)),
      (2L, Seq(0.5f, 0.2f)), (3L, Seq(9.5f, 10.1f)), (4L, Seq(0.1f, 0.9f)))
    val df = vecs.toDF("vec_id", "embedding")
    val rows = Similarity.clusterMap(df, 2).orderBy("cluster").collect()
    val got = rows.map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got == Seq((0, 3L), (1, 2L)))
    // the zero seed centroid has no direction → its coherence is NULL
    // (not a fault); the non-degenerate cluster's is a valid cosine
    assert(rows(0).isNullAt(2))
    val c1 = rows(1).getDouble(2)
    assert(c1 >= -1.0 - 1e-9 && c1 <= 1.0 + 1e-9)
  }

  test("randomProjection replays dot(v, h_i)/sqrt(k) exactly") {
    val vec = Array.tabulate(16)(d => (d * 0.25f) - 1.0f)
    val df = Seq((7L, vec.toSeq)).toDF("vec_id", "embedding")
    val got = Similarity.randomProjection(df, 4).collect()(0)
    val scale = 1.0 / math.sqrt(4.0)
    (0 until 4).foreach { i =>
      val h = Similarity.jlPlane(i, 16)
      var acc = 0.0
      (0 until 16).foreach(d => acc += vec(d).toDouble * h(d))
      assert(got.getDouble(1 + i) == acc * scale) // bit-exact, no tolerance
    }
  }

  test("projectedTopK with shortlist >= corpus == brute force exactly") {
    val rnd = new scala.util.Random(7)
    // 4 well-separated clusters + noise: the structured case JL serves
    // (uniform-random cosines are near-constant and NO shortlist helps)
    val vecs = (0L until 40L).map { i =>
      val c = (i % 4).toInt
      (i, Seq.tabulate(16)(d =>
        (if (d / 4 == c) 3.0f else 0.0f) + rnd.nextFloat() - 0.5f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 2)
    def collect(d: org.apache.spark.sql.DataFrame) = d
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val exact = collect(Similarity.bruteForceTopK(df, queries, 5))
    assert(collect(Similarity.projectedTopK(df, queries, 5, 8, 40)) == exact)
    // at a 12-candidate budget the projected shortlist still recalls most
    // of the true top-5 (JL preserves relative distances approximately)
    val budget = collect(Similarity.projectedTopK(df, queries, 5, 8, 12))
    val recall = budget.map(x => (x._1, x._3)).toSet
      .intersect(exact.map(x => (x._1, x._3)).toSet).size.toDouble / exact.size
    assert(recall >= 0.6, s"JL shortlist recall $recall")
  }

  test("hardNegatives at full shortlist == label-filtered brute force") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 40L).map { i =>
      val c = (i % 4).toInt
      (i, c, Seq.tabulate(16)(d =>
        (if (d / 4 == c) 3.0f else 0.0f) + rnd.nextFloat() - 0.5f))
    }
    val df = vecs.toDF("vec_id", "label", "embedding")
    val queries = df.filter($"vec_id" < 3)
    val got = Similarity.hardNegatives(df, queries, 5, 8, 40)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getDouble(4))).toSeq
    // naive replay: brute force then drop same-label rows, re-rank
    val naive = Similarity.bruteForceTopK(df, queries, 40).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1).toSeq.flatMap { case (q, rows) =>
        val qLabel = (q % 4).toInt
        rows.filter { case (_, c, _) => (c % 4).toInt != qLabel }
          .sortBy { case (_, c, cos) => (-cos, c) }.take(5).zipWithIndex
          .map { case ((_, c, cos), i) => (q, i + 1, c, (c % 4).toInt, cos) }
      }.sortBy(x => (x._1, x._2))
    assert(got == naive)
    // every mined negative really carries a different label
    assert(got.forall { case (q, _, _, l, _) => l != (q % 4).toInt })
  }

  test("hardNegatives pre-filters: full k even when projected neighbors share the label") {
    // anchor's own cluster (same label) dominates similarity; a
    // post-filtered shortlist of 3 would return nothing cross-label
    val vecs =
      (0L until 10L).map(i => (i, 0, Seq.tabulate(8)(d => if (d < 4) 5.0f else 0.1f))) ++
      (10L until 14L).map(i => (i, 1, Seq.tabulate(8)(d => if (d < 4) 0.1f else 5.0f)))
    val df = vecs.toDF("vec_id", "label", "embedding")
    val got = Similarity.hardNegatives(df, df.filter($"vec_id" === 0L),
      4, 4, 3)
    // shortlist 3 < same-label cluster size, yet all 3 survivors are
    // cross-label (capped by the shortlist, never empty)
    val rows = got.collect()
    assert(rows.length == 3)
    assert(rows.forall(_.getInt(3) == 1))
  }

  test("prototypicality ranks centroid-nearest first and flags ceil(frac*n)") {
    // cluster 0 seed = id 0 at the origin-ish; cluster 1 seed = id 1
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.6f, 0.4f)),
      (4L, Seq(0.1f, 0.9f)), (5L, Seq(0.4f, 0.6f)), (6L, Seq(0.2f, 0.8f)))
    val df = vecs.toDF("vec_id", "embedding")
    val rows = Similarity.prototypicality(df, 2, 0.5)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getInt(3),
        r.getLong(4), r.getInt(5)))
    // ids 0,2,3 go to cluster 0; 1,4,5,6 to cluster 1 (nearest seed)
    assert(rows.map(_._2).toSeq == Seq(0, 1, 0, 0, 1, 1, 1))
    // seeds are their own centroids: cos 1, rank 1, flagged
    assert(rows(0)._3 == 1.0 && rows(0)._4 == 1 && rows(0)._6 == 1)
    assert(rows(1)._3 == 1.0 && rows(1)._4 == 1 && rows(1)._6 == 1)
    // cluster sizes 3 and 4 → ceil(0.5*n) = 2 flagged in each
    assert(rows.count(r => r._2 == 0 && r._6 == 1) == 2)
    assert(rows.count(r => r._2 == 1 && r._6 == 1) == 2)
    // within a cluster, rank order follows cosine-to-centroid descending
    val c1 = rows.filter(_._2 == 1).sortBy(_._4)
    assert(c1.map(_._3).toSeq == c1.map(_._3).sortBy(-(_: Double)).toSeq)
  }

  test("prototypicality shares ONE keyed exchange between rank and size windows") {
    val df = (0L until 20L).map(i =>
      (i, Seq.tabulate(4)(d => (i + d).toFloat))).toDF("vec_id", "embedding")
    val plan = Similarity.prototypicality(df, 2, 0.25)
      .queryExecution.executedPlan.toString
    val keyed = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(keyed == 1, s"expected 1 keyed exchange, got $keyed:\n$plan")
  }

  test("prototypicality ranks zero vectors last (NULL cosine sentinel)") {
    val df = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 0.0f)), (2L, Seq(0.8f, 0.2f)))
      .toDF("vec_id", "embedding")
    // k=1: everything lands in cluster 0 (seed id 0)
    val rows = Similarity.prototypicality(df, 1, 0.25)
      .orderBy("rnk").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 2L, 1L))
    assert(rows(2).isNullAt(2)) // the zero vector's cosine is NULL
    // ceil(0.25*3) = 1 → only the seed is flagged
    assert(rows.map(_.getInt(5)).toSeq == Seq(1, 0, 0))
  }

  test("mmrTopK with lambda=1 reduces to pure-relevance ranking") {
    val rnd = new scala.util.Random(5)
    val vecs = (0L until 30L).map { i =>
      (i, Seq.tabulate(12)(_ => rnd.nextFloat() - 0.3f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 2)
    val mmr = Similarity.mmrTopK(df, queries, 5, 1.0, 20)
      .orderBy("query_id", "mmr_rank").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    val brute = Similarity.bruteForceTopK(df, queries, 5)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(mmr == brute)
  }

  test("mmrTopK diversifies: second pick escapes the near-duplicate cluster") {
    // cluster X: three near-identical highly relevant vectors; cluster Y:
    // one slightly less relevant but orthogonal-ish vector
    val docs = Seq(
      (100L, Seq(1.0f, 0.0f, 0.0f)),            // the query
      (1L, Seq(0.99f, 0.10f, 0.00f)),           // X
      (2L, Seq(0.99f, 0.11f, 0.00f)),           // X (near-dup of 1)
      (3L, Seq(0.98f, 0.12f, 0.00f)),           // X (near-dup of 1)
      (4L, Seq(0.80f, 0.00f, 0.60f)))           // Y (distinct direction)
      .toDF("vec_id", "embedding")
    val queries = docs.filter($"vec_id" === 100L)
    val relOrder = Similarity.mmrTopK(docs, queries, 3, 1.0, 4)
      .orderBy("mmr_rank").collect().map(_.getLong(2)).toSeq
    assert(relOrder == Seq(1L, 2L, 3L)) // pure relevance: all from X
    val diverse = Similarity.mmrTopK(docs, queries, 3, 0.5, 4)
      .orderBy("mmr_rank").collect().map(_.getLong(2)).toSeq
    assert(diverse.head == 1L)          // most relevant still first
    assert(diverse(1) == 4L, s"second pick should diversify, got $diverse")
  }

  test("mmrTopK caps at the candidate-set size") {
    val docs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)), (2L, Seq(0.8f, 0.2f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.mmrTopK(docs, docs.filter($"vec_id" === 0L),
      10, 0.7, 2)
    assert(got.count() == 2)
  }

  test("clusterQuality: separated clusters score near 1, merged clusters near 0") {
    // two tight, far-apart clusters and one cluster duplicated on top of
    // the first (its points are equidistant-ish -> low silhouette)
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    val rows = Seq(
      (1L, 0, v(0, 0)), (2L, 0, v(0, 1)), (3L, 0, v(1, 0)),
      (4L, 1, v(100, 100)), (5L, 1, v(100, 101)), (6L, 1, v(101, 100)),
      (7L, 2, v(0.5, 0.5)), (8L, 2, v(0.4, 0.4)), (9L, 2, v(0.6, 0.3))
    ).toDF("vec_id", "label", "embedding")
    val got = Similarity.clusterQuality(rows, "label")
      .orderBy("cluster").collect()
    assert(got.map(_.getAs[Long]("n")).toSeq == Seq(3L, 3L, 3L))
    // cluster 1 is 140 units from everything: silhouette ~ 1
    assert(got(1).getAs[Double]("mean_silhouette") > 0.99)
    // clusters 0 and 2 overlap: silhouette well below the separated one
    assert(got(0).getAs[Double]("mean_silhouette") < 0.5)
    assert(got(2).getAs[Double]("mean_silhouette") < 0.5)
  }

  test("clusterQuality a-distance: a point sitting on its centroid has a = 0") {
    def v(x: Double) = Array(x.toFloat)
    // cluster 0 is one point (its own centroid); cluster 1 far away
    val rows = Seq((1L, 0, v(5)), (2L, 1, v(50)), (3L, 1, v(50)))
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.clusterQuality(rows, "label")
      .orderBy("cluster").collect()
    assert(got(0).getAs[Double]("mean_a") == 0.0)
    assert(got(0).getAs[Double]("mean_silhouette") == 1.0)
    assert(got(1).getAs[Double]("mean_a") == 0.0)
  }

  test("rrfFuse replays hand-computed reciprocal ranks, one-sided docs included") {
    val a = Seq((10L, 3.0), (20L, 2.0), (30L, 1.0)).toDF("id", "score")
    val b = Seq((20L, 9.0), (40L, 8.0)).toDF("id", "score")
    val got = Similarity.rrfFuse(a, b, "id", scoreCol = "score", k = 60)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("rrf")))
    def rrf(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // 20 is rank 2 in A and rank 1 in B; 10 only A rank 1; 40 only B rank 2
    assert(got.head == (20L, rrf(1.0 / 62 + 1.0 / 61)))
    assert(got.toMap == Map(
      20L -> rrf(1.0 / 62 + 1.0 / 61), 10L -> rrf(1.0 / 61),
      30L -> rrf(1.0 / 63), 40L -> rrf(1.0 / 62)))
    // fused order is score-desc with id tiebreak
    assert(got.map(_._1).toSeq == Seq(20L, 10L, 40L, 30L))
  }

  test("rrfFuse ranks on the 6 dp-rounded score with id tiebreak") {
    // scores equal after rounding: rank order falls back to id
    val a = Seq((2L, 1.0000001), (1L, 1.0000004)).toDF("id", "score")
    val b = spark.emptyDataFrame
      .select(lit(0L).as("id"), lit(0.0).as("score")).limit(0)
    val got = Similarity.rrfFuse(a, b, "id", scoreCol = "score")
      .collect().map(_.getAs[Long]("id"))
    assert(got.toSeq == Seq(1L, 2L))
  }

  test("rrfFuseBy fuses per query and matches single-query rrfFuse scores") {
    val runA = Seq((1L, 10L, 0.9), (1L, 11L, 0.8),
      (2L, 20L, 0.9), (2L, 21L, 0.8)).toDF("q", "d", "score")
    val runB = Seq((1L, 11L, 0.9), (1L, 12L, 0.8),
      (2L, 21L, 0.9)).toDF("q", "d", "score")
    val fused = Similarity.rrfFuseBy(runA, runB, "q", "d")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        r.getAs[Double]("rrf")).toMap
    // doc 11 in both runs for q1: 1/(60+2) + 1/(60+1)
    assert(fused((1L, 11L)) ==
      BigDecimal(1.0 / 62 + 1.0 / 61)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // one-run docs get only that run's term
    assert(fused((1L, 10L)) ==
      BigDecimal(1.0 / 61).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    // per-query isolation: q2's ranks never see q1's rows
    val single = Similarity.rrfFuse(runA.filter($"q" === 2L),
      runB.filter($"q" === 2L), "d")
      .collect().map(r => r.getAs[Long]("d") -> r.getAs[Double]("rrf")).toMap
    assert(fused((2L, 21L)) == single(21L) && fused((2L, 20L)) == single(20L))
  }

  test("rbo: identical lists extrapolate to 1, disjoint to 0, partial overlap replays by hand") {
    val a = (1L to 5L).map(i => (i, 10.0 - i)).toDF("id", "score")
    val idSame = Similarity.rbo(a, a, "id", p = 0.9, depth = 5).head()
    assert(idSame.getAs[Long]("overlap") == 5L)
    assert(idSame.getAs[Double]("rbo") == r6(1.0 - math.pow(0.9, 5)),
      "truncated RBO of identical prefixes carries exactly the prefix mass")
    assert(idSame.getAs[Double]("rbo_ext") == 1.0)
    val b = (11L to 15L).map(i => (i, 10.0 - i)).toDF("id", "score")
    val disj = Similarity.rbo(a, b, "id", p = 0.9, depth = 5).head()
    assert(disj.getAs[Long]("overlap") == 0L &&
      disj.getAs[Double]("rbo") == 0.0 &&
      disj.getAs[Double]("rbo_ext") == 0.0)
    // same top doc only: doc 1 at rank 1 both sides → contribution w(1)
    val c = (Seq((1L, 9.0)) ++ (12L to 15L).map(i => (i, 10.0 - i)))
      .toDF("id", "score")
    val one = Similarity.rbo(a, c, "id", p = 0.9, depth = 5).head()
    val w = Similarity.rboWeights(0.9, 5)
    assert(one.getAs[Long]("overlap") == 1L)
    assert(one.getAs[Double]("rbo") == r6(0.09999999999999998 * w(0)))
  }

  test("rboWeights: w(m) strictly decreases and w(depth) is the bare tail term") {
    val w = Similarity.rboWeights(0.9, 10)
    assert(w.zip(w.tail).forall { case (x, y) => x > y })
    assert(w(9) == math.pow(0.9, 9) / 10)
  }

  test("scalarQuantize: on-grid values reconstruct exactly, constants go to 0, range holds") {
    // dim 0 spans [0, 255] with on-grid points (exact reconstruction);
    // dim 1 is constant (lo == hi -> q = 0, xr = lo, zero error)
    val rows = Seq(
      (1L, Array(0.0f, 7.0f)),
      (2L, Array(255.0f, 7.0f)),
      (3L, Array(128.0f, 7.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.scalarQuantize(rows)
      .orderBy("vec_id").collect()
    assert(got.map(_.getAs[Double]("mse")).forall(_ == 0.0))
    val qs = got.map(_.getSeq[Byte](1))
    assert(qs(0) == Seq(-128.toByte, 0.toByte)) // 0 -> q=-128; const dim -> 0
    assert(qs(1) == Seq(127.toByte, 0.toByte))  // 255 -> q=127
    assert(qs(2) == Seq(0.toByte, 0.toByte))    // 128 -> round(128.0)=128 -> 0
    assert(qs.flatten.forall(b => b >= -128 && b <= 127))
  }

  test("scalarQuantize MSE is bounded by the quantization step") {
    // off-grid values: per-dim step = (hi-lo)/255, max err step/2
    val rows = (0 until 50).map(i => (i.toLong, Array(i * 0.13f, -i * 0.07f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.scalarQuantize(rows).collect()
    val step = math.pow(49 * 0.13f / 255.0 / 2.0, 2) +
      math.pow(49 * 0.07f / 255.0 / 2.0, 2)
    assert(got.map(_.getAs[Double]("mse")).forall(_ <= step),
      "per-vector MSE exceeds the half-step bound")
  }

  test("pcaTopComponent recovers the dominant axis of an anisotropic cloud") {
    // points (±3, 0) and (0, ±1): C = diag(4.5, 0.5); the eigengap is 9×
    // per round, so 5 rounds leave tan(angle) = 9^-5 off the true e1
    val df = Seq(
      Array(3.0f, 0.0f), Array(-3.0f, 0.0f),
      Array(0.0f, 1.0f), Array(0.0f, -1.0f)
    ).map(Tuple1(_)).toDF("embedding")
    val v = Similarity.pcaTopComponent(df, iters = 5)
    assert(math.abs(v(0)) > 0.999999, s"v = ${v.toSeq}")
    assert(math.abs(v(1)) < 2e-5)
    assert(math.abs(v.map(z => z * z).sum - 1.0) < 1e-12, "unit norm")
    val rep = Similarity.pcaVarianceReport(df, iters = 5).head()
    assert(math.abs(rep.getAs[Double]("lambda") - 4.5) < 1e-6)
    assert(rep.getAs[Double]("total_var") == 5.0)
    assert(math.abs(rep.getAs[Double]("explained") - 0.9) < 1e-6)
  }

  test("pcaTopComponent centers: a shifted cloud gives the same direction") {
    def cloud(dx: Float) = Seq(
      Array(3.0f + dx, 0.0f), Array(-3.0f + dx, 0.0f),
      Array(dx, 1.0f), Array(dx, -1.0f)
    ).map(Tuple1(_)).toDF("embedding")
    val v0 = Similarity.pcaTopComponent(cloud(0.0f), iters = 3)
    val vShift = Similarity.pcaTopComponent(cloud(100.0f), iters = 3)
    assert(v0.zip(vShift).forall { case (a, b) => math.abs(a - b) < 1e-9 },
      "mean-centering makes the component translation-invariant")
  }

  test("pcaSecondComponent recovers the runner-up axis, orthogonal to the first") {
    // variances 4.5 / 0.5 / ~0.005 on axes 1 / 2 / 3
    val df = Seq(
      Array(3.0f, 0.0f, 0.0f), Array(-3.0f, 0.0f, 0.0f),
      Array(0.0f, 1.0f, 0.1f), Array(0.0f, -1.0f, -0.1f)
    ).map(Tuple1(_)).toDF("embedding")
    val v1 = Similarity.pcaTopComponent(df, iters = 6)
    val v2 = Similarity.pcaSecondComponent(df, iters = 6)
    assert(math.abs(v2.zip(v1).map { case (a, b) => a * b }.sum) < 1e-9,
      "second component is orthogonal to the first")
    assert(math.abs(v2.map(z => z * z).sum - 1.0) < 1e-12, "unit norm")
    assert(math.abs(v2(1)) > 0.99, s"axis 2 dominates v2: ${v2.toSeq}")
    assert(math.abs(v2(0)) < 1e-4)
  }

  test("embeddingOutliers ranks the planted outlier first and survives a constant dim") {
    // 20 tight points + one far outlier; dim 3 is constant (σ = 0)
    val rows = (1L to 20L).map(i =>
      (i, Array((i % 5).toFloat, (i % 3).toFloat, 2.0f))) :+
      (99L, Array(1000.0f, -1000.0f, 2.0f))
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.embeddingOutliers(df, k = 3).collect()
    assert(got.head.getLong(0) == 99L, "planted outlier scores highest")
    assert(got.head.getDouble(1) > 10 * got(1).getDouble(1))
    // constant dim contributes zero, not a division fault
    assert(got.forall(r => !r.getDouble(1).isNaN))
  }

  test("pcaProject plans shuffle-free; embeddingOutliers cuts via TakeOrderedAndProject") {
    val df = (1L to 8L).map(i => (i, Array(i.toFloat, (i % 3).toFloat)))
      .toDF("vec_id", "embedding")
    val p1 = Similarity.pcaProject(df, iters = 1)
      .queryExecution.executedPlan.toString
    assert(!p1.contains("Exchange"),
      s"projection must be a narrow codegen map:\n$p1")
    val p2 = Similarity.embeddingOutliers(df, k = 2)
      .queryExecution.executedPlan.toString
    assert(p2.contains("TakeOrderedAndProject"),
      s"top-k must not globally sort:\n$p2")
  }

  test("pcaProject emits the centered dominant-axis coordinate per row") {
    val df = Seq(
      (1L, Array(3.0f, 0.0f)), (2L, Array(-3.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.0f, -1.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.pcaProject(df, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(math.abs(got(1L)) - 3.0) < 1e-4)
    assert(got(1L) == -got(2L), "symmetric cloud projects symmetrically")
    assert(math.abs(got(3L)) < 1e-4 && math.abs(got(4L)) < 1e-4)
  }

  test("embeddingNearDups pairs no zero vector") {
    // minCos -1 keeps every pair whose cosine is defined: in bucket 0 that
    // is (0, 1) only — 5 and 6 are zero vectors, with each other or not
    val pairs = Similarity.embeddingNearDups(withZeros, -1.0, "label")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L), (2L, 3L)))
  }

  test("semanticDedup keeps the zero-vector rows") {
    val out = Similarity.semanticDedup(withZeros, 0.9, "label")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(0L, 2L, 4L, 5L, 6L))
  }

  test("one guarded cosine and one per-query cut in the graft/ext sources") {
    // a Column cosine divided over two norms, and the per-query ranking
    // window, each written once — in Similarity's shared kernel
    val cosineDivision = """dot\(.*\)\s*/\s*\(.*\*""".r
    val perQueryWindow = """Window\.partitionBy\(col\("query_id"\)\)""".r
    val files = graft.SourceTree.scalaFiles(
      graft.SourceTree.mainScala.resolve("graft/ext"))
    assert(files.size > 10, s"scanned too few sources: ${files.size}")
    def sites(re: scala.util.matching.Regex) = files.flatMap { f =>
      java.nio.file.Files.readString(f).split('\n').toSeq.zipWithIndex.collect {
        case (l, i) if re.findFirstIn(l).isDefined => s"${f.getFileName}:${i + 1}"
      }
    }
    Seq(cosineDivision, perQueryWindow).foreach { re =>
      val at = sites(re)
      assert(at.size == 1 && at.head.startsWith("Similarity.scala:"),
        s"${re.regex} in graft/ext: ${at.mkString(", ")}")
    }
  }
}

class CorpusCurationSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  test("curation drops near-dup copies, keeps canonicals, gates quality") {
    val good = "the quick brown fox jumps over the lazy dog and it is fine " * 3
    val docs = Seq(
      (10L, good),                       // canonical of the dup cluster
      (11L, good),                       // exact copy → dropped
      (12L, good + "tail"),              // near copy → dropped
      (20L, "another clean english document that is long enough to pass the gate " * 3),
      (30L, "!!!! ???? ///\\\\ ####"))   // junk → quality-gated
      .toDF("doc_id", "text")
    val out = graft.pipeline.CorpusCuration.curate(docs, minJaccard = 0.5)
      .collect().map(r => r.getLong(0)).toSet
    assert(out == Set(10L, 20L))
  }

  test("incrementalCurate == full curate on the changed snapshot (night-2 run)") {
    val good = "the quick brown fox jumps over the lazy dog and it is fine " * 3
    val clean = "another clean english document that is long enough to pass the gate " * 3
    val third = "yet another perfectly ordinary and sufficiently long piece of text here " * 3
    // dup relations use EXACT copies (Jaccard 1 matches every LSH band)
    // so the expected survivor set is deterministic — banding recall at
    // J≈0.9 is probabilistic by design
    val oldCorpus = Seq(
      (10L, good), (11L, good),          // standing dup cluster
      (20L, clean), (40L, clean),        // standing dup cluster
      (30L, third))
      .toDF("doc_id", "text")
    val state = java.nio.file.Files
      .createTempDirectory("graft_cur_state").toString
    graft.pipeline.CorpusCuration.writeCurationState(oldCorpus, state,
      minJaccard = 0.5)
    // night 2: 10 removed (its dup 11 must now survive), 30 changed into
    // a copy of 20's cluster, 50/51 added as a fresh dup cluster, 52
    // added junk
    val newCorpus = Seq(
      (11L, good),
      (20L, clean), (40L, clean),
      (30L, clean),
      (50L, third), (51L, third),
      (52L, "!!!! ???? ////"))
      .toDF("doc_id", "text")
    val inc = graft.pipeline.CorpusCuration.incrementalCurate(spark,
        state, oldCorpus, newCorpus, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getLong(3))).toSet
    val full = graft.pipeline.CorpusCuration.curate(newCorpus,
        minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getLong(3))).toSet
    assert(inc == full)
    // the run exercised every diff class: a revived survivor (11), a
    // changed doc joining a standing cluster (30 vs 20/40), a fresh
    // delta-only cluster (50/51), and the quality gate (52)
    assert(inc.map(_._1) == Set(11L, 20L, 50L))
    // night-3 state advance: the added+changed delta appends to the
    // index (stale rows for 30's old text remain — read paths filter by
    // live status, as incrementalCurate itself does)
    val delta = newCorpus.join(
      graft.ext.Dedup.snapshotDiff(oldCorpus, newCorpus, "doc_id", "text")
        .filter($"status".isin("added", "changed")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    graft.ext.Dedup.appendLshStore(delta, "text", "doc_id", s"$state/lsh")
    val banded = spark.read.parquet(s"$state/lsh/banded")
    // ids: 5 old ∪ {30 again, 50, 51, 52} = 8 distinct
    assert(banded.select("doc_id").distinct().count() == 8)
    // 30 carries BOTH its stale and fresh band rows — the append-only trade
    assert(banded.filter($"doc_id" === 30L).count() >
      banded.filter($"doc_id" === 50L).count())
  }

  test("classifier gate: curate(df, model) == curate(pre-gated df), stream shares it") {
    val good = "the quick brown fox jumps over the lazy dog and it is fine " * 3
    val spammy = "buy cheap pills now click here buy cheap pills now " * 3
    val docs = Seq(
      (10L, good), (11L, good),          // dup cluster, both classifier-pass
      (20L, "another clean english document that is long enough to pass the gate " * 3),
      (30L, spammy))                     // classifier-dropped
      .toDF("doc_id", "text")
    // train on a labeled slice: good-like positive, spam negative
    val labeled = Seq((1, good), (1, "clean english document text"),
      (0, spammy), (0, "buy cheap click now")).toDF("pos", "text")
    val m = TextAnalysis.nbTrain(labeled, "text", $"pos" === 1)
    val gated = graft.pipeline.CorpusCuration.curate(docs,
        minJaccard = 0.5, classifier = Some(m))
      .collect().map(_.getLong(0)).toSet
    val manual = graft.pipeline.CorpusCuration.curate(
        docs.filter(TextAnalysis.nbScore(m, "text") > 0), minJaccard = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(gated == manual)
    assert(!gated.contains(30L) && gated.contains(10L) && gated.contains(20L))
    // the streaming path applies the same stateless column
    val withTs = docs.withColumn("ts",
      org.apache.spark.sql.functions.col("doc_id").cast("timestamp"))
    val streamGated = graft.pipeline.CorpusCuration.curateStream(withTs,
        None, windowDur = "1000 seconds", watermark = "10 seconds",
        classifier = Some(m))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!streamGated.contains(30L))
  }

  test("curateStream: decontaminate + gate + windowed dedup, batch == stream") {
    val good = "the quick brown fox jumps over the lazy dog and it is fine " * 3
    val leaky = "a quick brown fox benchmark question appears here today " * 3
    val docs = Seq(
      (10L, good),              // survives
      (11L, good),              // in-window exact dup of 10 → dropped
      (20L, leaky),             // shares a bench 3-gram → decontaminated
      (30L, "!!!! ????"),       // junk → quality-gated
      (40L, "another clean english document that is long enough to pass the gate " * 3),
      // flush sentinel: far-future event advances the watermark past the
      // first window so append mode emits it; its OWN window stays open
      (100000L, "distinct flush sentinel body that is long and clean enough to pass " * 3))
      .toDF("doc_id", "text")
      .withColumn("ts", org.apache.spark.sql.functions.col("doc_id").cast("timestamp"))
    // trigrams hit only `leaky` ("… fox benchmark question …"), not `good`
    val bench = Seq((0L, "fox benchmark question time")).toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.CorpusCuration.curateStream(df, Some(bench),
        windowDur = "100 seconds", watermark = "10 seconds")
    val batch = run(docs).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batch == Set(10L, 40L, 100000L))
    val dir = java.nio.file.Files.createTempDirectory("graft_curate_stream").toString
    docs.write.mode("overwrite").parquet(dir)
    val q = run(spark.readStream.schema(docs.schema).parquet(dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("curate_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("curate_out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch - 100000L) // sentinel's window never closes
  }

  test("trainingMix: curate → decontaminate → budget → shard → pack, " +
      "composed invariants hold and the output is layout-invariant") {
    val good = "the quick brown fox jumps over the lazy dog and it is fine " * 3
    val clean2 = "another clean english document that is long enough to pass the gate " * 3
    val leaky = "a quick brown fox benchmark question appears here today " * 3
    val docs = (Seq(
      (10L, "web", good),       // canonical of the dup cluster
      (11L, "web", good),       // exact dup → dropped by curate
      (20L, "web", leaky),      // shares a bench 3-gram → decontaminated
      (30L, "web", "!!!! ????")) ++ // junk → quality-gated
      (40L until 60L).map(i => (i, "wiki", clean2 + s" tail$i")))
      .toDF("doc_id", "source", "text")
    val bench = Seq((0L, "fox benchmark question time")).toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.CorpusCuration.trainingMix(df, Some(bench),
        budgetPerSource = 300L, ctxLen = 64, nShards = 4, salt = "t",
        minJaccard = 0.5)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    val out = run(docs)
    val ids = out.map(_._3)
    assert(ids.contains(10L) && !ids.contains(11L)) // dedup kept the canonical
    assert(!ids.contains(20L))                      // decontaminated
    assert(!ids.contains(30L))                      // quality-gated
    // wiki budget: each tail doc is ~36 tokens; 300 tokens keep ~8 of 20
    val wiki = ids.filter(_ >= 40L)
    assert(wiki.nonEmpty && wiki.size < 20)
    // packing invariants per shard: in shuffled order, offsets are the
    // running sum (contiguous token stream), seq ids cover each doc's span
    out.groupBy(_._1).foreach { case (_, rs) =>
      val docsIn = rs.map(r => (r._3, r._4, r._5)).toSeq.distinct.sortBy(_._2)
      var runTok = 0L
      docsIn.foreach { case (_, start, ntok) =>
        assert(start == runTok); runTok += ntok
      }
      rs.foreach { case (_, seq, _, start, ntok) =>
        assert(seq >= start / 64 && seq <= (start + ntok - 1) / 64)
      }
    }
    // bit-reproducible on a different input layout
    assert(run(docs.repartition(13)) == out)
  }

  test("new-op plan shapes: shuffleShards narrow, token budget one window exchange") {
    val docs = (0L until 100L)
      .map(i => (i, "s" + i % 2, "w x y z " * (i % 5 + 1).toInt))
      .toDF("doc_id", "source", "text")
    // sharding must stay a narrow projection — no exchange anywhere
    val shardPlan = Sampling.shuffleShards(docs, "doc_id", 8)
      .queryExecution.executedPlan.toString
    assert(!shardPlan.contains("Exchange"), shardPlan.take(400))
    // budget selection: exactly one hash exchange (the per-source window)
    val sel = TextAnalysis.selectByTokenBudget(docs, "text", "doc_id", 50L)
    sel.count()
    val p = sel.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p.take(600))
  }

  test("streaming curation end-to-end: parquet source → parquet sink, " +
      "checkpoint-restart drain matches the batch twin") {
    import org.apache.spark.sql.functions.col
    val good = "the quick brown fox jumps over the lazy dog and it is fine " * 3
    val docs = Seq(
      (10L, good),              // survives
      (11L, good),              // in-window exact dup of 10 → dropped
      (30L, "!!!! ????"),       // junk → quality-gated
      (40L, "another clean english document that is long enough to pass the gate " * 3))
      .toDF("doc_id", "text")
      .withColumn("ts", col("doc_id").cast("timestamp"))
    val src = java.nio.file.Files.createTempDirectory("graft_cstream_src").toString
    val sink = java.nio.file.Files.createTempDirectory("graft_cstream_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cstream_ckpt").toString
    docs.write.mode("append").parquet(src)
    def runOnce(): Unit = {
      val q = graft.pipeline.CorpusCuration.curateStream(
        spark.readStream.schema(docs.schema).parquet(src), None,
        windowDur = "100 seconds", watermark = "10 seconds")
        .writeStream.outputMode("append").format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    runOnce()
    // the watermark (max ts 40s − 10s) has not passed the [0,100s) window
    // yet — append mode has emitted nothing, but state is checkpointed
    val sinkSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ws",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType)))
    assert(spark.read.schema(sinkSchema).parquet(sink).isEmpty)
    // drain at "shutdown": append one clean far-future document to the
    // SOURCE, restart the query on its existing checkpoint — the next
    // micro-batch's watermark closes the first window and flushes its
    // survivors to the sink (the sessionization drain recipe, composed
    // over the curation pipeline)
    Seq((100000L, "distinct flush sentinel body that is long and clean enough to pass " * 3))
      .toDF("doc_id", "text")
      .withColumn("ts", col("doc_id").cast("timestamp"))
      .write.mode("append").parquet(src)
    runOnce()
    val streamed = spark.read.parquet(sink)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // batch twin over the SAME post-drain source; the sentinel's own
    // window never closes, so it is the one row append mode withholds
    val batch = graft.pipeline.CorpusCuration.curateStream(
      spark.read.parquet(src), None,
      windowDur = "100 seconds", watermark = "10 seconds")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch - 100000L)
    assert(streamed == Set(10L, 40L))
  }

  test("injected mega-bucket: skew guard bounds candidate volume") {
    // 40 identical boilerplate docs share EVERY band → one bucket of 40
    // in each of the 4 bands → 4 × 40² candidate shape without the guard.
    // With maxBandBucket = 10 every boilerplate bucket is dropped wholesale
    // (zero pairs from the mega-bucket, not 780), while a genuine small
    // dup cluster elsewhere still collapses through its sub-cap buckets.
    val good = "the quick brown fox jumps over the lazy dog and it is fine " * 3
    val boiler = "this page is intentionally left blank and the content is gone " * 3
    val docs = (Seq((10L, good), (11L, good)) ++
      (100L until 140L).map(i => (i, boiler))).toDF("doc_id", "text")
    val pairs = graft.ext.Dedup.minhashLsh(docs, "text", "doc_id",
      numHashes = 16, bands = 4, minJaccard = 0.5, maxBandBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 11L))) // mega-bucket contributed ZERO pairs
    // end-to-end: curate with the guard keeps all boilerplate copies (the
    // documented recall tradeoff) but still dedups the genuine cluster
    val out = graft.pipeline.CorpusCuration.curate(docs, minJaccard = 0.5,
      maxBandBucket = 10).collect().map(_.getLong(0)).toSet
    assert(!out.contains(11L) && out.contains(10L))
    assert((100L until 140L).forall(out.contains))
  }
}

class SamplingSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  private lazy val docs = (0L until 2000L).map(i => (i, s"doc$i",
    if (i % 3 == 0) "en" else if (i % 3 == 1) "pt" else "es"))
    .toDF("doc_id", "text", "lang")

  test("hashFraction: deterministic, partitioning-invariant, ~uniform") {
    val a = Sampling.hashFraction(docs, "doc_id", 0.25, "s1")
      .select("doc_id").as[Long].collect().toSet
    val b = Sampling.hashFraction(docs.repartition(16), "doc_id", 0.25, "s1")
      .select("doc_id").as[Long].collect().toSet
    assert(a == b)                              // same rows on any layout
    assert(math.abs(a.size - 500) < 100)        // ~25% of 2000
    // monotone: a smaller fraction is a subset of a larger one (the
    // property that makes corpus down-scaling reproducible)
    val smaller = Sampling.hashFraction(docs, "doc_id", 0.1, "s1")
      .select("doc_id").as[Long].collect().toSet
    assert(smaller.subsetOf(a))
    // a different salt draws a different sample
    val other = Sampling.hashFraction(docs, "doc_id", 0.25, "s2")
      .select("doc_id").as[Long].collect().toSet
    assert(other != a)
  }

  test("shuffleShards: deterministic, layout-invariant, balanced, " +
      "independent order key") {
    def run(df: org.apache.spark.sql.DataFrame) =
      Sampling.shuffleShards(df, "doc_id", 8, salt = "x")
        .select("doc_id", "shard", "shard_order")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val a = run(docs)
    val b = run(docs.repartition(16))
    assert(a.toSet == b.toSet) // assignment survives any input layout
    // every shard populated, roughly uniform (2000/8 = 250)
    val sizes = a.groupBy(_._2).view.mapValues(_.length).toMap
    assert(sizes.keySet == (0 until 8).toSet)
    assert(sizes.values.forall(n => n > 150 && n < 350))
    // the within-shard order key is independent of the id order: sorting
    // shard 0 by shard_order must not reproduce ascending doc_id
    val s0 = a.filter(_._2 == 0).sortBy(_._3).map(_._1)
    assert(s0.length > 10 && !(s0 sameElements s0.sorted))
    assert(a.map(_._3).distinct.length == a.length) // order key collision-free here
    // a different salt reshards
    val c = Sampling.shuffleShards(docs, "doc_id", 8, salt = "y")
      .select("doc_id", "shard")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(c.toSet != a.map(t => (t._1, t._2)).toSet)
  }

  test("hashSplit: total partition, stable, ~weight proportions") {
    val out = Sampling.hashSplit(docs, "doc_id", Seq(0.8, 0.1, 0.1), "v0")
    val counts = out.groupBy("split").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set(0, 1, 2))
    assert(counts.values.sum == 2000L)          // total: every row in one split
    assert(math.abs(counts(0) - 1600L) < 150)
    assert(math.abs(counts(1) - 200L) < 80 && math.abs(counts(2) - 200L) < 80)
    // leak-safety: the assignment of old rows is unchanged when new rows
    // arrive (pure function of id+salt)
    val half = Sampling.hashSplit(docs.filter(col("doc_id") < 1000),
      "doc_id", Seq(0.8, 0.1, 0.1), "v0")
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val full = out.select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(half.forall { case (id, s) => full(id) == s })
  }

  test("mixture: ~target proportions, caps at source size, deterministic") {
    // srcA 1000 rows, srcB 1000 rows, srcC only 20 rows
    val mixed = ((0L until 1000L).map(i => (i, "srcA")) ++
      (1000L until 2000L).map(i => (i, "srcB")) ++
      (2000L until 2020L).map(i => (i, "srcC")) ++
      (3000L until 3100L).map(i => (i, "ignored")))
      .toDF("doc_id", "source")
    val out = Sampling.mixture(mixed, "source",
      Map("srcA" -> 0.5, "srcB" -> 0.3, "srcC" -> 0.2), 200L, "doc_id", "t")
    val counts = out.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!counts.contains("ignored"))          // unweighted sources dropped
    assert(math.abs(counts("srcA") - 100L) < 40) // 50% of 200
    assert(math.abs(counts("srcB") - 60L) < 35)  // 30% of 200
    assert(counts("srcC") == 20L)                // target 40 > |srcC| → all of it
    // deterministic across layouts
    val again = Sampling.mixture(mixed.repartition(16), "source",
      Map("srcA" -> 0.5, "srcB" -> 0.3, "srcC" -> 0.2), 200L, "doc_id", "t")
      .select("doc_id").as[Long].collect().toSet
    assert(again == out.select("doc_id").as[Long].collect().toSet)
  }

  test("stratifiedSampleN: exactly n per stratum, deterministic, group-limited") {
    val out = Sampling.stratifiedSampleN(docs, Seq("lang"), 10, "doc_id", "s")
    val perLang = out.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perLang == Map("en" -> 10L, "pt" -> 10L, "es" -> 10L))
    // deterministic across layouts
    val again = Sampling.stratifiedSampleN(docs.repartition(16), Seq("lang"),
      10, "doc_id", "s").select("doc_id").as[Long].collect().toSet
    assert(again == out.select("doc_id").as[Long].collect().toSet)
    // small strata are taken whole
    val tiny = Sampling.stratifiedSampleN(docs.filter(col("doc_id") < 5),
      Seq("lang"), 10, "doc_id", "s")
    assert(tiny.count() == 5)
    // the rank <= n cut runs as a partial top-n, not a full per-group sort
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(800))
  }
}

class IvfSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  // two tight, well-separated clusters around (10,0,...) and (-10,0,...)
  private lazy val vecs = {
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 10.0 else -10.0
      (i.toLong, Array.tabulate(4)(d => (if (d == 0) base else 0.0) + (i % 5) * 0.1))
    }
    rows.toDF("vec_id", "embedding")
  }

  test("k-means separates well-separated clusters") {
    val c = Ivf.train(vecs, k = 2, iters = 4)
    assert(c.length == 2)
    // one centroid near +10, the other near -10 on dim 0
    assert(c.map(_(0)).sorted.zip(Seq(-10.0, 10.0)).forall {
      case (got, want) => math.abs(got - want) < 1.0 })
    val buckets = Ivf.assign(vecs, c).select("vec_id", "ivf_bkt")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // every even id shares one bucket, every odd id the other
    assert(buckets.filterKeys(_ % 2 == 0).values.toSet.size == 1)
    assert(buckets.filterKeys(_ % 2 == 1).values.toSet.size == 1)
    assert(buckets(0L) != buckets(1L))
  }

  test("IVF store: probes prune partitions at planning time") {
    val c = Ivf.train(vecs, k = 2, iters = 4)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf").toString + "/store"
    Ivf.writeStore(vecs, path, c)
    val queries = vecs.filter(col("vec_id") === 0)
    val out = Ivf.topKFromStore(spark, path, queries, 5, c, nprobe = 1)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("ivf_bkt"))
    // pruned search equals the in-memory nprobe=1 path
    val viaMem = Ivf.topK(vecs, queries, 5, c, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val viaStore = out
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaStore == viaMem && viaStore.nonEmpty)
  }

  test("PQ: codes reconstruct clusters; rerank >= corpus equals brute force") {
    val cb = Pq.train(vecs, m = 2, ksub = 4, iters = 4)
    assert(cb.m == 2 && cb.dsub == 2 && cb.centroids.forall(_.length == 4))
    // ADC of a vector against its own code = squared reconstruction error;
    // with 4 codewords per 2-dim subspace on 2 tight clusters it is small
    val enc = Pq.encode(vecs, cb)
    val adc = enc.select(graft.functions.PqAdc.column(
        col("pq_code"), col("embedding").cast("array<double>"), cb.centroids))
      .collect().map(_.getDouble(0))
    assert(adc.forall(_ < 1.0), s"max recon err ${adc.max}")
    // two-stage search with full rerank budget ≡ exact brute force
    val queries = vecs.filter(col("vec_id") === 0)
    val exact = Similarity.bruteForceTopK(vecs, queries, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val viaPq = Pq.topK(vecs, queries, 5, cb, rerank = 40)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaPq == exact)
    // tight rerank budget still recalls the true top-5 on clustered data
    val tight = Pq.topK(vecs, queries, 5, cb, rerank = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert((tight intersect exact).size >= 4, s"recall ${tight intersect exact}")
  }

  test("IVFPQ store: partition-pruned code scan, exact at full budgets") {
    val cb = Pq.train(vecs, m = 2, ksub = 4, iters = 4)
    val coarse = Ivf.train(vecs, k = 2, iters = 4)
    val path = java.nio.file.Files.createTempDirectory("graft_pq").toString + "/store"
    Pq.writeStore(vecs, path, cb, Some(coarse))
    val queries = vecs.filter(col("vec_id") === 0)
    val out = Pq.topKFromStore(spark, path, vecs, queries, 5, cb,
      rerank = 40, coarse = Some(coarse), nprobe = 2)
    // nprobe = k and rerank >= corpus → exact brute force, through a store
    // whose candidate scan reads only (id, code) columns
    val exact = Similarity.bruteForceTopK(vecs, queries, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(out.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet == exact)
    // the probe is partition pruning, not a filter
    val pruned = Pq.topKFromStore(spark, path, vecs, queries, 5, cb,
      rerank = 40, coarse = Some(coarse), nprobe = 1)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("ivf_bkt"))
    // nprobe = 1 stays inside the query's own (even-id) cluster
    val ids = pruned.collect().map(_.getLong(2)).toSet
    assert(ids.nonEmpty && ids.forall(_ % 2 == 0))
    // flat code store (no coarse quantizer) also round-trips
    val flat = java.nio.file.Files.createTempDirectory("graft_pqf").toString + "/s"
    Pq.writeStore(vecs, flat, cb)
    assert(Pq.topKFromStore(spark, flat, vecs, queries, 5, cb, rerank = 40)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet == exact)
  }

  test("residual IVFPQ store: pruned residual-code scan, exact at full budgets") {
    val shifted = vecs.withColumn("embedding",
      expr("transform(embedding, x -> x + 1000.0)"))
    val coarse = Ivf.train(shifted, k = 2, iters = 4)
    val cb = Pq.trainResidual(shifted, coarse, m = 2, ksub = 4, iters = 4)
    val path = java.nio.file.Files.createTempDirectory("graft_pqr").toString + "/store"
    Pq.writeStore(shifted, path, cb, Some(coarse), residual = true)
    val queries = shifted.filter(col("vec_id") === 0)
    val exact = Similarity.bruteForceTopK(shifted, queries, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val out = Pq.topKFromStore(spark, path, shifted, queries, 5, cb,
      rerank = 40, coarse = Some(coarse), nprobe = 2, residual = true)
    assert(out.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet == exact)
    // the probe still prunes partitions; nprobe = 1 stays in-cluster
    val pruned = Pq.topKFromStore(spark, path, shifted, queries, 5, cb,
      rerank = 40, coarse = Some(coarse), nprobe = 1, residual = true)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("ivf_bkt"))
    val ids = pruned.collect().map(_.getLong(2)).toSet
    assert(ids.nonEmpty && ids.forall(_ % 2 == 0))
  }

  test("residual IVFPQ: smaller reconstruction error, exact at full budgets") {
    // shift both clusters far from the origin: plain PQ must spend its
    // codewords on absolute position, residual PQ only on local structure
    val shifted = vecs.withColumn("embedding",
      expr("transform(embedding, x -> x + 1000.0)"))
    val coarse = Ivf.train(shifted, k = 2, iters = 4)
    val plain = Pq.train(shifted, m = 2, ksub = 2, iters = 4)
    val resid = Pq.trainResidual(shifted, coarse, m = 2, ksub = 2, iters = 4)
    def reconErr(codes: org.apache.spark.sql.DataFrame, cb: Pq.Codebooks,
        vec: org.apache.spark.sql.Column): Double =
      codes.select(graft.functions.PqAdc.column(col("pq_code"), vec,
          cb.centroids).as("e"))
        .agg(org.apache.spark.sql.functions.avg("e")).collect()(0).getDouble(0)
    val plainErr = reconErr(Pq.encode(shifted, plain),
      plain, col("embedding").cast("array<double>"))
    val residErr = reconErr(
      Pq.encodeResidual(shifted, coarse, resid)
        .withColumn("_r", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .withColumn("_r", graft.ext.Pq.residualFor(col("_r"), col("ivf_bkt"), coarse)),
      resid, col("_r"))
    assert(residErr < plainErr,
      s"residual $residErr should beat plain $plainErr on shifted clusters")
    // exactness: nprobe = k, rerank >= corpus → identical to brute force
    val queries = shifted.filter(col("vec_id") === 0)
    val exact = Similarity.bruteForceTopK(shifted, queries, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val viaResid = Pq.topKResidual(shifted, queries, 5, coarse, resid,
      rerank = 40, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaResid == exact)
  }

  test("duplicate query rows don't corrupt the probed top-k") {
    // a queries DF carrying the same vec_id twice (e.g. from a join) must
    // behave as if it appeared once — the probed candidate branch dedups
    // (query_id, ivf_bkt) like the flat branch dedups query_id
    val coarse = Ivf.train(vecs, k = 2, iters = 4)
    val cb = Pq.trainResidual(vecs, coarse, m = 2, ksub = 4, iters = 4)
    val q1 = vecs.filter(col("vec_id") === 0)
    val q2 = q1.union(q1) // duplicated query row
    def run(q: org.apache.spark.sql.DataFrame) =
      Pq.topKResidual(vecs, q, 5, coarse, cb, rerank = 40, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(run(q2) == run(q1))
  }

  test("NaN query vectors neither crash nor match (probe list empty)") {
    val c = Ivf.train(vecs, k = 2, iters = 2)
    val bad = Seq((99L, Array(Double.NaN, 0.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    // used to AIOOBE inside ProbeCentroids; now the row just yields no probes
    assert(Ivf.topK(vecs, bad, 5, c, nprobe = 2).count() == 0)
  }

  test("vector_mean: flat single-aggregate plan and exact means at dim 512") {
    val dim = 512
    val n = 50
    val hi = (0 until n).map(i =>
        (i.toLong, Array.tabulate(dim)(d => (i * dim + d) * 0.001)))
      .toDF("vec_id", "embedding")
    val agg = hi.groupBy(lit(0).as("b"))
      .agg(graft.agg.VectorMeanAgg.column(
        col("embedding").cast("array<double>")).as("c"))
    // the plan carries ONE aggregate, not dim × avg(embedding[i])
    val plan = agg.queryExecution.optimizedPlan.toString
    assert(plan.contains("vector_mean"))
    assert(!plan.contains("avg("))
    val got = agg.collect()(0).getSeq[Double](1).toArray
    val want = Array.tabulate(dim)(d =>
      (0 until n).map(i => (i * dim + d) * 0.001).sum / n)
    assert(got.length == dim)
    got.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-9) }
    // k = 1 training: every row lands in bucket 0, centroid = corpus mean
    val c = Ivf.train(hi, k = 1, iters = 1)
    assert(c.length == 1 && c(0).length == dim)
    c(0).zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-9) }
  }

  test("vector_mean: skips null vectors, empty group yields null") {
    val df = Seq(
      (0, Some(Array(1.0, 3.0))), (0, None), (0, Some(Array(3.0, 5.0))),
      (1, None)).toDF("g", "v")
    val out = df.groupBy("g")
      .agg(graft.agg.VectorMeanAgg.column(col("v")).as("m"))
      .collect().map(r => r.getInt(0) -> Option(r.get(1))).toMap
    assert(out(0).get.asInstanceOf[scala.collection.Seq[Double]].toSeq == Seq(2.0, 4.0))
    assert(out(1).isEmpty)
  }

  test("nprobe = k equals brute force; nprobe = 1 stays in-cluster") {
    val c = Ivf.train(vecs, k = 2, iters = 4)
    val queries = vecs.filter(col("vec_id") < 2)
    val exact = Similarity.bruteForceTopK(vecs, queries, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val all = Ivf.topK(vecs, queries, 5, c, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(all == exact)
    // nprobe=1: results only come from the query's own cluster (same parity)
    val pruned = Ivf.topK(vecs, queries, 5, c, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(pruned.nonEmpty)
    pruned.foreach { case (q, cid) => assert(q % 2 == cid % 2) }
  }

  test("recommendNprobe: clustered corpus -> 2, isotropic -> k; knee logic edges") {
    val rnd = new scala.util.Random(131)
    def unit(dim: Int): Seq[Double] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n).toSeq
    }
    // isotropic: 200 random unit vectors — no cell structure to exploit
    val iso = (0 until 200).map(i => (i.toLong, unit(16)))
      .toDF("vec_id", "embedding")
    val cIso = Ivf.train(iso, k = 4, iters = 2)
    val (uvIso, npIso) = Ivf.recommendNprobe(iso, cIso)
    assert(uvIso > 0.7, s"isotropic unexplained_var $uvIso should be ~1")
    assert(npIso == 4, "isotropic: no nprobe < k is safe -> recommend k")
    // clustered: 4 tight Gaussian blobs at distant centers
    val centers = Seq(Seq(8.0, 0, 0, 0), Seq(0, 8.0, 0, 0),
      Seq(0, 0, 8.0, 0), Seq(0, 0, 0, 8.0))
    val clus = (0 until 200).map { i =>
      (i.toLong, centers(i % 4).map(_ + rnd.nextGaussian() * 0.5))
    }.toDF("vec_id", "embedding")
    val cClus = Ivf.train(clus, k = 4, iters = 3)
    val (uvClus, npClus) = Ivf.recommendNprobe(clus, cClus)
    assert(uvClus < 0.3, s"clustered unexplained_var $uvClus should be ~0")
    assert(npClus == 2, "clustered: one-cell ceiling + a safety cell")
    // the knee interpolation, clamped to [2, k]
    assert(Ivf.nprobeFor(0.0, 8) == 2 && Ivf.nprobeFor(1.0, 8) == 8)
    assert(Ivf.nprobeFor(0.5, 8) == 4 && Ivf.nprobeFor(0.26, 8) == 3)
  }

  test("topKFromStoreAuto serves with the store's persisted recommendation") {
    val rnd = new java.util.Random(11)
    val centers = Array.fill(4, 8)(rnd.nextGaussian())
    val train = (0 until 160).map(i => (i.toLong,
        centers(i % 4).map(x => (x + 0.05 * rnd.nextGaussian()).toFloat)))
      .toDF("vec_id", "embedding")
    val cents = Ivf.train(train, k = 4, iters = 3)
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_auto").toString
    Ivf.writeStore(train, path, cents)
    val m = Ivf.readStoreMeta(spark, path).get
    val queries = train.filter(col("vec_id") < 3)
    val auto = Ivf.topKFromStoreAuto(spark, path, queries, 5, cents)
      .select("query_id", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val manual = Ivf.topKFromStore(spark, path, queries, 5, cents,
        m.recommendedNprobe)
      .select("query_id", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == manual,
      "auto must serve exactly the persisted recommendation's result")
    // a pre-sidecar store fails loudly with the remedy
    val legacy = java.nio.file.Files
      .createTempDirectory("graft_ivf_legacy").toString
    Ivf.assign(train, cents).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("ivf_bkt").parquet(legacy)
    val e = intercept[RuntimeException] {
      Ivf.topKFromStoreAuto(spark, legacy, queries, 5, cents)
    }
    assert(e.getMessage.contains("topKFromStore"))
  }

  test("nprobeFor clamps into [min(2,k), k] — k=1 returns 1, not 2 (ADVICE r13)") {
    assert(Ivf.nprobeFor(1.0, 1) == 1)
    assert(Ivf.nprobeFor(0.0, 8) == 2)
    assert(Ivf.nprobeFor(1.0, 8) == 8)
    assert(Ivf.nprobeFor(0.5, 8) == 4)
  }

  test("unexplainedVar fails loudly on an empty corpus (ADVICE r13)") {
    val empty = Seq.empty[(Long, Array[Float])]
      .toDF("vec_id", "embedding")
    val e = intercept[RuntimeException] {
      Ivf.unexplainedVar(empty, Array(Array(1.0, 0.0)))
    }
    assert(e.getMessage.contains("empty corpus"))
  }

  test("IVF store metadata: writeStore persists the serving recommendation, append re-derives it incrementally") {
    val rnd = new java.util.Random(7)
    // tightly clustered training corpus: 4 centers, sigma 0.05 — the
    // coarse quantizer explains almost everything (uv ~ 0)
    val centers = Array.fill(4, 8)(rnd.nextGaussian())
    def around(c: Array[Double], sigma: Double) =
      c.map(x => (x + sigma * rnd.nextGaussian()).toFloat)
    val train = (0 until 200).map(i =>
        (i.toLong, around(centers(i % 4), 0.05)))
      .toDF("vec_id", "embedding")
    val cents = Ivf.train(train, k = 4, iters = 3)
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_meta").toString
    Ivf.writeStore(train, path, cents)
    val m0 = Ivf.readStoreMeta(spark, path).get
    assert(m0.nRows == 200L && m0.k == 4)
    assert(m0.unexplainedVar < 0.2, "clustered corpus must measure ~0")
    assert(m0.recommendedNprobe == 2, "clustered corpus serves nprobe=2")
    assert(m0.recommendedNprobe ==
      Ivf.nprobeFor(m0.unexplainedVar, m0.k))
    // the sidecar must be invisible to the data scan
    val dataCols = spark.read.parquet(path).columns.toSet
    assert(!dataCols.contains("recommended_nprobe"))
    // append a batch the trained centroids DON'T explain (the mirrored
    // clusters — far from every center, mean ≈ −trainMean): the
    // recommendation must re-derive UP and the staleness cosine flip
    val batch = (200 until 400).map(i =>
        (i.toLong, around(centers(i % 4).map(-_), 0.05)))
      .toDF("vec_id", "embedding")
    Ivf.appendToStore(batch, path, cents)
    val m1 = Ivf.readStoreMeta(spark, path).get
    assert(m1.nRows == 400L)
    assert(m1.unexplainedVar > m0.unexplainedVar,
      "a poorly-explained batch must push unexplained_var up")
    assert(m1.recommendedNprobe > m0.recommendedNprobe,
      "the serving recommendation must re-derive on append")
    // incremental exactness: the combined ratio is the sum of parts
    assert(math.abs(m1.unexplainedVar -
      m1.sumResid2 / m1.sumNorm2) < 1e-12)
    assert(m1.sumNorm2 > m0.sumNorm2 && m1.sumResid2 > m0.sumResid2)
    // staleness alarm: the training mean is fixed at build (no batch
    // cosine yet); the far-isotropic append records a collapsed cosine
    assert(m0.lastBatchCos.isEmpty)
    assert(m0.trainMean.length == 8)
    assert(m1.trainMean.toSeq == m0.trainMean.toSeq,
      "append must not move the training mean")
    assert(m1.lastBatchCos.isDefined && m1.lastBatchCos.get < -0.8,
      "the mirrored batch must flip the staleness cosine")
  }

  test("appendToStore: incremental build serves exactly what a one-shot store serves") {
    val emb = (0L until 40L).map { i =>
      (i, Array(math.cos(i.toDouble).toFloat, math.sin(i.toDouble).toFloat,
        (i % 7).toFloat), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val coarse = Ivf.train(emb, k = 4, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_append_test")
    val one = dir.resolve("one").toString
    val inc = dir.resolve("inc").toString
    Ivf.writeStore(emb, one, coarse)
    Ivf.writeStore(emb.filter(col("vec_id") < 20), inc, coarse)
    Ivf.appendToStore(emb.filter(col("vec_id") >= 20), inc, coarse)
    val q = emb.filter(col("vec_id") < 2)
    def serve(p: String) = Ivf.topKFromStore(spark, p, q, 5, coarse,
        nprobe = 4)
      .orderBy("query_id", "rank")
      .collect().map(_.toSeq).toSeq
    assert(serve(inc) == serve(one))
  }

  test("a zero vector is no candidate: PQ, residual IVFPQ and both store paths equal brute force at full budgets") {
    val withZero = vecs.union(
      Seq((40L, Array.fill(4)(0.0))).toDF("vec_id", "embedding"))
    // the zero vector is both in the corpus and a query: it ranks nothing
    // and nothing ranks it
    val queries = withZero.filter(col("vec_id").isin(0L, 1L, 40L))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val exact = rows(Similarity.bruteForceTopK(withZero, queries, 5))
    assert(exact.size == 10 && !exact.exists(r => r(0) == 40L || r(2) == 40L))
    val cb = Pq.train(withZero, m = 2, ksub = 4, iters = 2)
    assert(rows(Pq.topK(withZero, queries, 5, cb, rerank = 41)) == exact)
    val coarse = Ivf.train(withZero, k = 2, iters = 2)
    val cbr = Pq.trainResidual(withZero, coarse, m = 2, ksub = 4, iters = 2)
    assert(rows(Pq.topKResidual(withZero, queries, 5, coarse, cbr,
      rerank = 41, nprobe = 2)) == exact)
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_zero").toString
    Pq.writeStore(withZero, s"$dir/flat", cb)
    assert(rows(Pq.topKFromStore(spark, s"$dir/flat", withZero, queries, 5,
      cb, rerank = 41)) == exact)
    Pq.writeStore(withZero, s"$dir/res", cbr, Some(coarse), residual = true)
    assert(rows(Pq.topKFromStore(spark, s"$dir/res", withZero, queries, 5,
      cbr, rerank = 41, coarse = Some(coarse), nprobe = 2,
      residual = true)) == exact)
  }
}

class MultimodalSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  private lazy val media = Multimodal.synthesizeFromText(
    Seq((1L, "hello world"), (2L, "abc")).toDF("id", "text"), "text", "id")

  test("schema: binary media + typed metadata struct") {
    val f = media.schema("media")
    assert(f.dataType.typeName == "binary")
    assert(media.schema("meta").dataType.typeName == "struct")
  }

  test("batched decode path equals per-row stub features") {
    val ds = media.as[Multimodal.MediaRow]
    val batched = Multimodal.decodeFeatures(ds, batchSize = 1).collect().sortBy(_.id)
    val direct = ds.collect().map(Multimodal.stubDecode).sortBy(_.id)
    assert(batched.toSeq == direct.toSeq)
    assert(batched(0).nBytes == "hello world".length)
  }

  test("frame sampling explodes every nth frame with index") {
    val out = Multimodal.frameSample(media, 2).collect()
    assert(out.forall(_.getInt(1) % 2 == 0))
    assert(out.nonEmpty)
  }

  test("resize stub rewrites metadata only") {
    val out = Multimodal.resizeStub(media, 64, 64)
      .select("meta.width", "meta.height").distinct().collect()
    assert(out.map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((64, 64)))
  }

  test("palette-indexed images decode through the palette, not raw indices") {
    // 2-entry palette: index 0 → black, 1 → white, half-half image — the
    // mean of raw indices would be 0.5; true luminance is 127.5
    val icm = new java.awt.image.IndexColorModel(1, 2,
      Array[Byte](0, -1), Array[Byte](0, -1), Array[Byte](0, -1))
    val img = new java.awt.image.BufferedImage(2, 1,
      java.awt.image.BufferedImage.TYPE_BYTE_BINARY, icm)
    img.getRaster.setSample(0, 0, 0, 0)
    img.getRaster.setSample(1, 0, 0, 1)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "gif", bos)
    val f = Multimodal.decodeImage(Multimodal.MediaRow(1L, bos.toByteArray,
      Multimodal.MediaMeta("gif", 2, 1, 1)))
    assert((f.width, f.height) == (2, 1))
    assert(f.brightness == 127.5)
  }

  test("image rows decode for REAL through ImageIO: dims + mean luminance") {
    val ids = Seq(3L, 10L, 47L)
    val imgs = Multimodal.synthesizeImages(ids.toDF("id"), "id")
    val got = Multimodal.decodeFeatures(imgs).collect()
      .map(f => f.id -> f).toMap
    ids.foreach { id =>
      val w = (id % 13 + 3).toInt
      val h = (id % 7 + 2).toInt
      val expect = (for (y <- 0 until h; x <- 0 until w)
        yield ((id * 31 + x * 7 + y * 13) % 256).toDouble).sum / (w * h)
      val f = got(id)
      assert((f.width, f.height) == (w, h))
      assert(math.abs(f.brightness - expect) < 1e-9)
      // the digest is of the PNG container, not the pixels — non-empty and
      // distinct from the raw-bytes stub path is what matters here
      assert(f.nBytes > 8 && f.digest.length == 32)
    }
  }
}
