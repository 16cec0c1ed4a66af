package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.SparkTest

class EventStreamSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  private def ts(min: Long): Timestamp = new Timestamp((min + 60) * 60000L)

  private lazy val events = Seq(
    // user 1: two sessions separated by a 2h gap
    EventStream.Event(1, ts(0), 1, "view", 1.0),
    EventStream.Event(2, ts(10), 1, "click", 2.0),
    EventStream.Event(3, ts(140), 1, "view", 3.0),
    // user 2: one session
    EventStream.Event(4, ts(5), 2, "view", 4.0),
    EventStream.Event(5, ts(20), 2, "buy", 5.0))

  test("batch sessionize: gap splits sessions, durations correct") {
    val out = EventStream.sessionizeBatch(events.toDF(), gapSec = 1800)
      .orderBy("user_id", "session_idx").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq == Seq(
      (1L, 2L, 600L), // user 1 session 1: 2 events, 10 min
      (1L, 1L, 0L),   // user 1 session 2: 1 event
      (2L, 2L, 900L)))
  }

  test("sliding windows overlap: each event counted dur/slide times") {
    val out = EventStream.slidingCounts(events.toDF(), "1 hour", "30 minutes")
    val total = out.agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    assert(total == events.length * 2L) // 1h window, 30min slide → 2 windows each
    // tumbling via default slide stays the old shape
    val tumbling = EventStream.windowedCounts(events.toDF())
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    assert(tumbling == events.length.toLong)
  }

  test("streaming windowed counts over a file source match batch") {
    val dir = Files.createTempDirectory("graft_stream").toString
    events.toDF().write.mode("overwrite").parquet(dir)
    val batch = EventStream.windowedCounts(spark.read.parquet(dir))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    val stream = spark.readStream
      .schema(events.toDF().schema)
      .parquet(dir)
      .withWatermark("ts", "10 minutes")
    val q = EventStream.windowedCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("win_out")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("psiWindowed: batch equals psiOverTime against the same baseline, and stream equals batch") {
    import org.apache.spark.sql.functions.{col, lit}
    val rows = (0 until 40).map { i =>
      // days 1-2 low values (baseline = day 1), days 3-4 shifted high
      val day = i / 10 + 1
      val v = if (day <= 2) (i % 5) * 0.1 else 0.8 + (i % 2) * 0.1
      (i.toLong, new Timestamp(
        Timestamp.valueOf(f"2024-01-0$day 00:00:00").getTime + i * 60000L), v)
    }
    val df = rows.toDF("event_id", "ts", "value")
    val baselinePred = col("ts") < lit("2024-01-02").cast("timestamp")
    val viaGrid = graft.ext.Outliers
      .psiOverTime(df, "ts", "value", baselinePred, 10, 0.0, 1.0)
      .collect().map(r => r.getTimestamp(0) ->
        (r.getLong(1), r.getAs[Double]("psi"))).toMap
    val (bc, bt) = graft.ext.Outliers
      .psiBaseline(df.filter(baselinePred), "value", 10, 0.0, 1.0)
    val viaWin = graft.ext.Outliers
      .psiWindowed(df, "ts", "value", bc, bt, 10, 0.0, 1.0)
      .collect().map(r => r.getTimestamp(0) ->
        (r.getLong(1), r.getAs[Double]("psi"))).toMap
    assert(viaWin.keySet == viaGrid.keySet)
    for ((k, (n, psi)) <- viaGrid) {
      assert(viaWin(k)._1 == n)
      assert(math.abs(viaWin(k)._2 - psi) < 1e-9,
        s"window $k: grid $psi vs windowed ${viaWin(k)._2}")
    }
    // drift actually registers: shifted days score far above baseline days
    assert(viaGrid.values.map(_._2).max > 1.0)
    // streaming twin: same plan under Structured Streaming
    val dir = Files.createTempDirectory("graft_psi_stream").toString
    df.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(df.schema).parquet(dir)
      .withWatermark("ts", "1 hour")
    val q = graft.ext.Outliers
      .psiWindowed(stream, "ts", "value", bc, bt, 10, 0.0, 1.0)
      .writeStream.outputMode("complete")
      .format("memory").queryName("psi_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("psi_out")
      .collect().map(r => r.getTimestamp(0) ->
        (r.getLong(1), r.getAs[Double]("psi"))).toMap
    assert(streamed == viaWin, "stream must equal the batch run exactly")
  }

  test("decayStream: online state matches the batch decay aligned to each user's clock, late events converge") {
    import org.apache.spark.sql.functions.{col, exp, lit, unix_micros, max => smax}
    val rows = Seq(
      EventStream.Event(1, ts(0), 1, "view", 8.0),
      EventStream.Event(2, ts(60 * 24 * 7), 1, "view", 2.0), // +7d: one half-life
      EventStream.Event(3, ts(30), 2, "view", 4.0),
      // user 2's second event lands in BATCH 2 but is EARLIER than a
      // batch-2 event for user 1 — exercises ordinary cross-user order
      EventStream.Event(4, ts(60 * 24 * 14), 2, "view", 1.0),
      // late arrival for user 1 in batch 2: older than event 2
      EventStream.Event(5, ts(60 * 24 * 3), 1, "view", 16.0))
    val dirA = Files.createTempDirectory("graft_decay").toString
    rows.take(3).toDF().write.parquet(dirA + "/b=000")
    rows.drop(3).toDF().write.parquet(dirA + "/b=001")
    val stream = spark.readStream.schema(rows.toDF().schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dirA + "/b=*")
      .as[EventStream.Event]
    val q = EventStream.decayStream(stream, 7.0)
      .writeStream.outputMode("update")
      .format("memory").queryName("decay_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    // last update per user wins
    val got = spark.table("decay_out").collect()
      .groupBy(_.getLong(0)).map { case (u, rs) =>
        u -> rs.maxBy(_.getLong(1))
      }
    // expected: batch decay computed per user against the user's OWN
    // last event time (realign timeDecayedValue's global-tmax output)
    val df = rows.toDF()
    val batch = EventStream.timeDecayedValue(df, 7.0)
    val tmaxAll = df.agg(smax(unix_micros(col("ts")))).head().getLong(0)
    val lastPerUser = df.groupBy(col("user_id"))
      .agg(smax(unix_micros(col("ts"))).as("lu"))
    val aligned = batch.join(lastPerUser, "user_id")
      .select(col("user_id"),
        (col("decayed_value") *
          exp(lit(graft.ext.Eval.Ln2) *
            ((lit(tmaxAll) - col("lu")).cast("double") /
              lit(86400000000.0)) / lit(7.0))).as("v"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (u <- Seq(1L, 2L)) {
      val sv = got(u).getDouble(2)
      assert(math.abs(sv - aligned(u)) < 2e-5,
        s"user $u: stream $sv vs aligned batch ${aligned(u)}")
    }
    assert(got(1L).getLong(1) == 3L && got(2L).getLong(1) == 2L)
  }

  test("streaming image dedup: hammingDedupSurvivors batch == stream over a file source") {
    // synthesized images hashed for real, then the windowed Hamming
    // survivor plan runs identically batch and streaming (append mode,
    // watermark-closed windows; the far-future row flushes every window)
    val docs = (1L to 40L).toDF("doc_id")
    val hashes = graft.ext.Multimodal.aHash(
        graft.ext.Multimodal.synthesizeImages(docs, "doc_id"))
      .withColumn("ts", org.apache.spark.sql.functions.expr(
        "timestamp_micros(CAST(CASE WHEN id = 40 THEN 1000000 " +
          "ELSE id * 60 END * 1000000 AS LONG))"))
    val dir = Files.createTempDirectory("graft_imgdedup").toString
    hashes.write.mode("overwrite").parquet(dir)
    val batch = graft.ext.Dedup.hammingDedupSurvivors(
        spark.read.parquet(dir), "ahash", "id", windowDur = "10 minutes")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet
    val stream = spark.readStream.schema(hashes.schema).parquet(dir)
      .withWatermark("ts", "10 seconds")
    val q = graft.ext.Dedup.hammingDedupSurvivors(
        stream, "ahash", "id", windowDur = "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("img_dedup_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("img_dedup_out")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet
    // all watermark-closed windows agree; the flush row's own window may
    // stay open (nothing newer advances past it)
    assert(streamed == batch || streamed == batch.filterNot(_._2 == 40L))
    assert(streamed.nonEmpty && streamed.size < 39)
  }

  test("resampleFill: dense daily grid, last-of-day wins, gaps carry forward") {
    def day(d: Int, min: Int) = new Timestamp(
      java.sql.Timestamp.valueOf(f"2024-01-${d}%02d 00:00:00").getTime +
        min * 60000L)
    val evs = Seq(
      EventStream.Event(1, day(1, 10), 1, "a", 5.0),
      EventStream.Event(2, day(1, 20), 1, "a", 7.0),  // later same day wins
      EventStream.Event(3, day(3, 0), 1, "a", 9.0),   // day 2 is a gap
      EventStream.Event(4, day(2, 0), 2, "a", 1.0))
    val got = EventStream.resampleFill(evs.toDF())
      .orderBy("user_id", "bucket").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString.take(10),
        r.getDouble(2)))
    assert(got.toSeq == Seq(
      (1L, "2024-01-01", 7.0),  // last of day 1
      (1L, "2024-01-02", 7.0),  // gap: carried forward
      (1L, "2024-01-03", 9.0),
      (2L, "2024-01-02", 1.0))) // single-day user: 1-row grid
  }

  test("windowed CMS cells: batch == stream, per-window state capped at d*w") {
    // two 1h windows of event types; d=2, w=8 keeps collisions plausible
    // while the cap stays visible
    val evs = (1L to 20L).map { i =>
      EventStream.Event(i, ts(i), 1, s"type${i % 5}", 1.0)
    } ++ (21L to 30L).map { i =>
      EventStream.Event(i, ts(i + 70), 1, s"type${i % 3}", 1.0)
    }
    val dir = Files.createTempDirectory("graft_cms_stream").toString
    evs.toDF().write.mode("overwrite").parquet(dir)
    def cells(df: org.apache.spark.sql.DataFrame) =
      graft.ext.Cms.cellsWindowed(df, "event_type", "ts", "1 hour", 2, 8)
    val batch = cells(spark.read.parquet(dir)).collect()
      .map(r => (r.getTimestamp(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    // per-window cap: at most d*w = 16 cells however many keys arrive
    assert(batch.groupBy(_._1).values.forall(_.size <= 16))
    val stream = spark.readStream.schema(evs.toDF().schema).parquet(dir)
      .withWatermark("ts", "10 minutes")
    val q = cells(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("cms_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("cms_out").collect()
      .map(r => (r.getTimestamp(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed == batch)
  }

  test("hotValues: bounded Misra-Gries state retains guaranteed heavy values, batch and stream") {
    // window 0: 'view' x6 of n=10 (> n/(cap+1) = 3.33 at cap=2) must be
    // retained under ANY arrival order; window 1: 'buy' x4 of 5 likewise
    val evs = (1L to 10L).map { i =>
      EventStream.Event(i, ts(i), 1, if (i <= 6) "view" else s"t$i", 1.0)
    } ++ (11L to 15L).map { i =>
      EventStream.Event(i, ts(i + 70), 1, if (i <= 14) "buy" else "other", 1.0)
    }
    val dir = Files.createTempDirectory("graft_hot").toString
    evs.toDF().write.mode("overwrite").parquet(dir)
    def check(rows: Array[org.apache.spark.sql.Row]): Unit = {
      assert(rows.length == 2)
      val byWindow = rows.map(r =>
        r.getTimestamp(0) -> r.getSeq[String](1).toSet).toMap
      val Seq(w0, w1) = byWindow.keys.toSeq.sortBy(_.getTime)
      assert(byWindow(w0).contains("view"), s"w0 lost 'view': $byWindow")
      assert(byWindow(w1).contains("buy"), s"w1 lost 'buy': $byWindow")
      assert(byWindow.values.forall(_.size <= 2), "capacity bound violated")
    }
    check(EventStream.hotValues(spark.read.parquet(dir), "event_type",
      capacity = 2).collect())
    val stream = spark.readStream.schema(evs.toDF().schema).parquet(dir)
      .withWatermark("ts", "10 minutes")
    val q = EventStream.hotValues(stream, "event_type", capacity = 2)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hot_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    check(spark.table("hot_out").collect())
  }

  test("chunk + redact run unchanged under Structured Streaming") {
    // both are stateless narrow ops, so the same code drives a stream —
    // the property a 100 TB ingest pipeline needs (no batch/stream fork)
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_chunk_stream").toString
    val docs = Seq(
      (1L, ("alpha beta gamma delta epsilon zeta " * 4) + "mail a@b.org"),
      (2L, "short doc only")).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(dir)
    def transform(df: org.apache.spark.sql.DataFrame) =
      graft.ext.TextAnalysis.chunk(
        df.withColumn("text", graft.ext.TextAnalysis.redactPii("text")),
        "text", "doc_id", 8, 2)
    val batch = transform(spark.read.parquet(dir))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(3))).toSet
    val q = transform(spark.readStream.schema(docs.schema).parquet(dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("chunk_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("chunk_out")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(3))).toSet
    assert(streamed == batch && batch.nonEmpty)
    assert(batch.exists(_._3.contains("<EMAIL>"))) // redaction ran in-stream
  }

  test("broadcast decontamination runs unchanged under Structured Streaming") {
    // the sorted-set kernel is a stateless per-row predicate — the stream
    // twin the join-shaped decontaminate (stateful distinct) cannot be
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_decon_stream").toString
    val docs = Seq(
      (1L, "the quick brown fox jumps high"),
      (2L, "completely unrelated corpus text body"),
      (3L, "quick brown fox phrases appear here too")).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(dir)
    val bench = Seq((100L, "a quick brown fox benchmark")).toDF("doc_id", "text")
    def transform(df: org.apache.spark.sql.DataFrame) =
      graft.ext.Dedup.decontaminateBroadcast(df, bench, "text", "doc_id")
    val batch = transform(spark.read.parquet(dir))
      .collect().map(_.getLong(0)).toSet
    assert(batch == Set(2L)) // docs 1 and 3 share the "quick brown fox" 3-gram
    val q = transform(spark.readStream.schema(docs.schema).parquet(dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("decon_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("decon_out").collect().map(_.getLong(0)).toSet == batch)
  }

  test("streaming dedup drops re-delivered events within the watermark") {
    val dir = Files.createTempDirectory("graft_dedup").toString
    val dup = events ++ events.take(3) // re-delivery of the first three
    dup.toDF().write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(events.toDF().schema).parquet(dir)
    val q = EventStream.dedupStream(stream, watermark = "10 hours")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("dedup_out").collect()
    assert(got.length == events.length)
    assert(got.map(_.getLong(0)).toSet == events.map(_.event_id).toSet)
  }

  test("stateful streaming sessionizer emits closed sessions") {
    val dir = Files.createTempDirectory("graft_stream2").toString
    events.toDF().write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(events.toDF().schema).parquet(dir).as[EventStream.Event]
    val q = EventStream.sessionizeStreaming(stream, gapSec = 1800)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("sess_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // within one micro-batch, the closed session of user 1 is emitted
    // (the open tail sessions live in state until timeout)
    assert(got.contains((1L, 2L, 600L)))
  }

  test("streaming near-dup filter drops re-seen minhash signatures") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("ts", TimestampType), StructField("text", StringType)))
    val body = "the quick brown fox jumps over the lazy dog again and again"
    val rows = Seq(
      org.apache.spark.sql.Row(1L, ts(0), body),
      org.apache.spark.sql.Row(2L, ts(1), body),   // same signature → dropped
      org.apache.spark.sql.Row(3L, ts(2), "a completely different document about spark shuffles"))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
    val dir = Files.createTempDirectory("graft_ndf").toString
    df.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = graft.ext.Dedup.nearDupFilterStream(stream, "text")
      .writeStream.outputMode("append")
      .format("memory").queryName("ndf_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("ndf_out").collect().map(_.getLong(0)).toSet
    assert(got.size == 2 && got.contains(3L))
    assert(got.intersect(Set(1L, 2L)).size == 1) // one of the twins survives
  }

  test("streaming LSH near-dup filter: window survivors match batch") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("ts", TimestampType), StructField("text", StringType)))
    val body = "the quick brown fox jumps over the lazy dog again and again"
    def t(sec: Long) = new Timestamp(sec * 1000L)
    val rows = Seq(
      org.apache.spark.sql.Row(1L, t(10), body),
      org.apache.spark.sql.Row(2L, t(20), body),  // twin of 1, same window → dropped
      org.apache.spark.sql.Row(3L, t(30), "a completely different document about spark shuffles"),
      org.apache.spark.sql.Row(4L, t(150), body), // twin of 1, NEXT window → survives
      // flush doc: advances the watermark far past every window above
      org.apache.spark.sql.Row(99L, t(100000), "late flush sentinel closing all windows"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val dir = Files.createTempDirectory("graft_lsh_stream").toString
    df.write.mode("overwrite").parquet(dir)

    val batch = graft.ext.Dedup.lshDedupSurvivors(
      spark.read.parquet(dir), "text", "doc_id", windowDur = "100 seconds")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet
    assert(batch.map(_._2) == Set(1L, 3L, 4L, 99L)) // 2 lost its buckets to 1

    val q = graft.ext.Dedup.nearDupFilterStreamLsh(
      spark.readStream.schema(schema).parquet(dir), "text",
      windowDur = "100 seconds", watermark = "10 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("lsh_ndf_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("lsh_ndf_out")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet
    // every window the watermark closed must agree exactly with batch; the
    // flush doc's own window stays open (nothing newer), so allow its absence
    assert(streamed == batch || streamed == batch.filterNot(_._2 == 99L))
    assert(streamed.map(_._2).intersect(Set(1L, 2L, 3L, 4L)) == Set(1L, 3L, 4L))
  }

  test("stream-stream attribution join matches batch within the window") {
    val evs = Seq(
      EventStream.Event(1, ts(0), 1, "view", 1.0),
      EventStream.Event(2, ts(5), 1, "purchase", 2.0),   // within 10 min
      EventStream.Event(3, ts(30), 1, "purchase", 3.0),  // outside
      EventStream.Event(4, ts(0), 2, "view", 4.0),
      EventStream.Event(5, ts(5), 3, "purchase", 5.0))   // other user
    val batch = EventStream.attribution(evs.toDF(), "view", "purchase", 600)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch == Set((1L, 1L, 2L)))
    val dir = Files.createTempDirectory("graft_attr").toString
    evs.toDF().write.mode("overwrite").parquet(dir)
    def stream = spark.readStream.schema(evs.toDF().schema).parquet(dir)
    val q = EventStream.attributionStreaming(stream, stream, "view", "purchase", 600)
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("attr_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == batch) // stream-stream join emits the same pairs
  }

  test("streaming sessionizer keeps millisecond precision for sub-second gaps") {
    // real gap 1.7s > gapSec=1 must split; truncating to whole seconds
    // (2 - 1 = 1, not > 1) would wrongly merge them — batch splits here too.
    val evs = Seq(
      EventStream.Event(1, new Timestamp(1200L), 9, "view", 1.0),
      EventStream.Event(2, new Timestamp(2900L), 9, "view", 1.0),
      EventStream.Event(3, new Timestamp(999999000L), 9, "view", 1.0))
    val dir = Files.createTempDirectory("graft_stream3").toString
    evs.toDF().write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(evs.toDF().schema).parquet(dir).as[EventStream.Event]
    val q = EventStream.sessionizeStreaming(stream, gapSec = 1)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_ms")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("sess_ms")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // events 1 and 2 each close as their own single-event session (the
    // third may also close once the watermark passes its gap). Before the
    // ms fix the first two merged into one (9,2,1) session.
    assert(got.count(_ == ((9L, 1L, 0L))) >= 2)
  }

  test("event-time timeout: replaying the same data emits identical sessions") {
    val evs = Seq(
      EventStream.Event(1, ts(0), 7, "view", 1.0),
      EventStream.Event(2, ts(10), 7, "click", 1.0),
      EventStream.Event(3, ts(140), 7, "view", 1.0), // 2h gap closes session 1 in-batch
      EventStream.Event(4, ts(500), 8, "view", 1.0)) // advances the watermark far past user 7
    val dir = Files.createTempDirectory("graft_replay").toString
    evs.toDF().write.mode("overwrite").parquet(dir)
    def run(name: String): Seq[(Long, Long, Long)] = {
      val stream = spark.readStream
        .schema(evs.toDF().schema).parquet(dir).as[EventStream.Event]
      val q = EventStream.sessionizeStreaming(stream, gapSec = 1800)
        .writeStream.outputMode("append")
        .format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    }
    val a = run("replay_a")
    val b = run("replay_b")
    assert(a == b) // closure depends on event time only — replays agree
    assert(a.contains((7L, 2L, 600L))) // gap-split session closed in-batch
    // the tail session closes when the WATERMARK (not wall clock) passes
    // last + gap: ts(500) − 10 min ≫ ts(140) + 30 min
    assert(a.contains((7L, 1L, 0L)))
  }

  test("drainSessions: terminated stream emits every tail session") {
    // every session still open when the stream terminates: without a drain
    // the watermark parks behind last+gap and nothing is ever emitted
    val evs = Seq(
      EventStream.Event(1, ts(0), 21, "view", 1.0),
      EventStream.Event(2, ts(10), 21, "click", 1.0),
      EventStream.Event(3, ts(5), 22, "view", 1.0))
    val src = Files.createTempDirectory("graft_drain_src").toString
    val outDir = Files.createTempDirectory("graft_drain_out").toString
    val ckpt = Files.createTempDirectory("graft_drain_ck").toString
    evs.toDF().write.mode("overwrite").parquet(src)
    def run(): Unit = {
      val stream = spark.readStream
        .schema(evs.toDF().schema).parquet(src).as[EventStream.Event]
      val q = EventStream.sessionizeStreaming(stream, gapSec = 1800)
        .writeStream.outputMode("append")
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt) // state survives restarts
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_events", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("duration_sec", org.apache.spark.sql.types.LongType)))
    def emitted(): Set[(Long, Long, Long)] =
      spark.read.schema(outSchema).parquet(outDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    run()
    assert(emitted().isEmpty) // tail sessions stuck in state, as documented
    EventStream.drainSessions(spark, src, gapSec = 1800, watermarkSec = 600)
    run() // same checkpoint: restored state + sentinel-advanced watermark
    // ALL tail sessions flush; the sentinel's own session is not emitted
    assert(emitted() == Set((21L, 2L, 600L), (22L, 1L, 0L)))
    // batch consumers strip the synthetic row; a repeat drain is a no-op
    // timestamp-wise (sentinel ts derives from the real events only)
    val s1 = spark.read.parquet(src)
    assert(s1.count() == 4)
    assert(EventStream.withoutDrainSentinels(s1).count() == 3)
    val again = EventStream.drainSessions(spark, src, gapSec = 1800, watermarkSec = 600)
    val first = s1.filter(org.apache.spark.sql.functions.col("event_id") ===
      Long.MinValue).select("ts").first().getTimestamp(0)
    assert(again.ts == first)
  }

  test("ksDriftWindowed: per-window batch equals ksTest bit-for-bit, stream equals batch, drift registers") {
    import org.apache.spark.sql.functions.col
    // baseline values 0..9 uniform; day 1 drawn from the same support,
    // day 2 shifted by +5 — a two-window synthetic drift
    val base = (0 until 50).map(i => (i % 10).toDouble).toDF("v")
    val live = (0 until 60).map { i =>
      val day = i / 30 + 1
      (i.toLong, new Timestamp(
        Timestamp.valueOf(f"2024-01-0$day 00:00:00").getTime + i * 60000L),
        ((i % 10) + (if (day == 2) 5 else 0)).toDouble)
    }.toDF("id", "ts", "v")
    val (bv, bc) = graft.ext.Eval.ksBaseline(base, "v")
    assert(bv.length == 10 && bc.last == 50L)
    val batch = graft.ext.Eval
      .ksDriftWindowed(live, "ts", "v", bv, bc)
      .collect().map(r => r.getTimestamp(0) -> r.toSeq.drop(1)).toMap
    assert(batch.size == 2)
    // per-window twin: ksTest(baseline, slice) agrees BIT-FOR-BIT —
    // n_b/n_live, d, d_crit, drifted all identical
    for ((ws, got) <- batch) {
      val dayEnd = new Timestamp(ws.getTime + 86400000L)
      val slice = live.filter(col("ts") >= ws && col("ts") < dayEnd)
      val ref = graft.ext.Eval.ksTest(base, slice, "v").collect().head
      assert(got == ref.toSeq.drop(1),
        s"window $ws: windowed $got != ksTest ${ref.toSeq.drop(1)}")
    }
    // drift actually registers: the shifted day trips the 5% cut, the
    // aligned day does not
    val byTime = batch.toSeq.sortBy(_._1.getTime).map(_._2)
    assert(byTime.head(3) == 0, "aligned window must not flag drift")
    assert(byTime.last(3) == 1, "shifted window must flag drift")
    // streaming twin: same plan under Structured Streaming
    val dir = Files.createTempDirectory("graft_ksdrift_stream").toString
    live.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(live.schema).parquet(dir)
      .withWatermark("ts", "1 hour")
    val q = graft.ext.Eval
      .ksDriftWindowed(stream, "ts", "v", bv, bc)
      .writeStream.outputMode("complete")
      .format("memory").queryName("ksdrift_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("ksdrift_out")
      .collect().map(r => r.getTimestamp(0) -> r.toSeq.drop(1)).toMap
    assert(streamed == batch, "stream must equal the batch run exactly")
  }

  test("rankSumDriftWindowed: per-window batch equals rankSumTest bit-for-bit, stream equals batch, shift flags") {
    import org.apache.spark.sql.functions.col
    // baseline 0..9 uniform; day 1 same support, day 2 shifted up by 5
    val base = (0 until 50).map(i => (i % 10).toDouble).toDF("v")
    val live = (0 until 60).map { i =>
      val day = i / 30 + 1
      (i.toLong, new Timestamp(
        Timestamp.valueOf(f"2024-01-0$day 00:00:00").getTime + i * 60000L),
        ((i % 10) + (if (day == 2) 5 else 0)).toDouble)
    }.toDF("id", "ts", "v")
    val (bv, bc) = graft.ext.Eval.ksBaseline(base, "v")
    val batch = graft.ext.Eval
      .rankSumDriftWindowed(live, "ts", "v", bv, bc)
      .collect().map(r => r.getTimestamp(0) -> r.toSeq.drop(1)).toMap
    assert(batch.size == 2)
    for ((ws, got) <- batch) {
      val dayEnd = new Timestamp(ws.getTime + 86400000L)
      val slice = live.filter(col("ts") >= ws && col("ts") < dayEnd)
      val ref = graft.ext.Eval.rankSumTest(base, slice, "v").collect().head
      // ref = (n_a, n_b, u, z, drifted); windowed = (n_live=n_b, u, z, drifted)
      assert(got == ref.toSeq.drop(1),
        s"window $ws: windowed $got != rankSumTest ${ref.toSeq.drop(1)}")
    }
    val byTime = batch.toSeq.sortBy(_._1.getTime).map(_._2)
    assert(byTime.head(3) == 0, "aligned window must not flag")
    assert(byTime.last(3) == 1 &&
      byTime.last(2).asInstanceOf[Double] > 1.96,
      "shifted-up window must flag with z > 0")
    val dir = Files.createTempDirectory("graft_rs_stream").toString
    live.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(live.schema).parquet(dir)
      .withWatermark("ts", "1 hour")
    val q = graft.ext.Eval
      .rankSumDriftWindowed(stream, "ts", "v", bv, bc)
      .writeStream.outputMode("complete")
      .format("memory").queryName("rs_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("rs_out")
      .collect().map(r => r.getTimestamp(0) -> r.toSeq.drop(1)).toMap
    assert(streamed == batch, "stream must equal the batch run exactly")
  }

  test("chiSquareDriftWindowed: per-window batch equals chiSquareDrift at the 6dp grain, stream equals batch") {
    import org.apache.spark.sql.functions.col
    // baseline mix x:30 y:20; day 1 similar, day 2 inverted hard
    val base = (Seq.fill(30)("x") ++ Seq.fill(20)("y")).toDF("c")
    val live = (0 until 60).map { i =>
      val day = i / 30 + 1
      val c = if (day == 1) (if (i % 5 < 3) "x" else "y")
        else (if (i % 10 == 0) "x" else "y")
      (i.toLong, new Timestamp(
        Timestamp.valueOf(f"2024-01-0$day 00:00:00").getTime + i * 60000L), c)
    }.toDF("id", "ts", "c")
    val (bcounts, btot) = graft.ext.Outliers.chiSquareBaseline(base, "c")
    assert(btot == 50L && bcounts("x") == 30L)
    val batch = graft.ext.Outliers
      .chiSquareDriftWindowed(live, "ts", "c", bcounts)
      .collect().map(r => r.getTimestamp(0) -> r.toSeq.drop(1)).toMap
    assert(batch.size == 2)
    for ((ws, got) <- batch) {
      val dayEnd = new Timestamp(ws.getTime + 86400000L)
      val slice = live.filter(col("ts") >= ws && col("ts") < dayEnd)
      val ref = graft.ext.Outliers.chiSquareDrift(base, slice, "c")
        .collect().head
      // ref = (n_base, n_live, k, chi2, crit, drifted); the aggregate
      // sums the k terms in sorted category order, the batch plan in
      // partition order — equal at the 6 dp emission grain (psiWindowed
      // convention), so compare the rounded values within one ulp-flip
      assert(got(0) == ref.getLong(1) && got(1) == ref.getLong(2))
      assert(math.abs(got(2).asInstanceOf[Double] - ref.getDouble(3)) <= 1.1e-6)
      assert(got(3).asInstanceOf[Double] == ref.getDouble(4))
      assert(got(4) == ref.getInt(5))
    }
    val byTime = batch.toSeq.sortBy(_._1.getTime).map(_._2)
    assert(byTime.head(4) == 0 && byTime.last(4) == 1,
      "only the inverted-mix window should flag")
    val dir = Files.createTempDirectory("graft_chi2_stream").toString
    live.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(live.schema).parquet(dir)
      .withWatermark("ts", "1 hour")
    val q = graft.ext.Outliers
      .chiSquareDriftWindowed(stream, "ts", "c", bcounts)
      .writeStream.outputMode("complete")
      .format("memory").queryName("chi2_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("chi2_out")
      .collect().map(r => r.getTimestamp(0) -> r.toSeq.drop(1)).toMap
    assert(streamed == batch, "stream must equal the batch run exactly")
  }

  test("embeddingDriftWindowed: batch equals embeddingDrift per window, stream equals batch, drift registers") {
    import org.apache.spark.sql.functions.col
    // baseline ~ axis e0; window 1 (day 1) drawn from the same direction,
    // window 2 (day 2) rotated toward e1 — a two-window synthetic drift
    def vec(axis: Int, i: Int): Array[Float] = {
      val v = new Array[Float](4)
      v(axis) = 1.0f
      v((axis + 1) % 4) = 0.1f * (i % 3)
      v
    }
    val base = (0 until 30).map(i => (i.toLong, vec(0, i)))
      .toDF("vec_id", "embedding")
    val live = (0 until 40).map { i =>
      val day = i / 20 + 1
      (i.toLong, new Timestamp(
        Timestamp.valueOf(f"2024-01-0$day 00:00:00").getTime + i * 60000L),
        vec(if (day == 1) 0 else 1, i))
    }.toDF("vec_id", "ts", "embedding")
    val (bm, bn) = graft.ext.Similarity.embeddingDriftBaseline(base)
    assert(bn == 30L)
    val batch = graft.ext.Similarity
      .embeddingDriftWindowed(live, "ts", "embedding", bm)
      .collect().map(r => r.getTimestamp(0) ->
        (r.getLong(1), r.getAs[Double]("mean_cos"), r.getAs[Double]("mean_l2")))
      .toMap
    assert(batch.size == 2)
    // per-window batch twin: embeddingDrift(base, windowSlice) agrees
    for ((ws, (n, cosW, l2W)) <- batch) {
      val dayEnd = new Timestamp(ws.getTime + 86400000L)
      val slice = live.filter(col("ts") >= ws && col("ts") < dayEnd)
      val ref = graft.ext.Similarity.embeddingDrift(base, slice).head()
      assert(ref.getLong(1) == n)
      assert(math.abs(ref.getAs[Double]("mean_cos") - cosW) < 1e-9,
        s"window $ws: batch-audit cos vs windowed cos")
      assert(math.abs(ref.getAs[Double]("mean_l2") - l2W) < 1e-9)
    }
    // drift actually registers: day 2's rotated slice scores far worse
    val byTime = batch.toSeq.sortBy(_._1.getTime).map(_._2)
    assert(byTime.head._2 > 0.9, "aligned window should cos~1 vs baseline")
    assert(byTime.last._2 < 0.5, "rotated window must drop the cosine")
    assert(byTime.last._3 > byTime.head._3, "rotated window must raise L2")
    // streaming twin: same plan under Structured Streaming
    val dir = Files.createTempDirectory("graft_embdrift_stream").toString
    live.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(live.schema).parquet(dir)
      .withWatermark("ts", "1 hour")
    val q = graft.ext.Similarity
      .embeddingDriftWindowed(stream, "ts", "embedding", bm)
      .writeStream.outputMode("complete")
      .format("memory").queryName("embdrift_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("embdrift_out")
      .collect().map(r => r.getTimestamp(0) ->
        (r.getLong(1), r.getAs[Double]("mean_cos"), r.getAs[Double]("mean_l2")))
      .toMap
    assert(streamed == batch, "stream must equal the batch run exactly")
  }

  test("windowed-BY-slice drift: stream equals batch for the ks and psi members") {
    import org.apache.spark.sql.functions.{col, lit}
    // two slices x two days; slice b shifts up on day 2 — the r13
    // composition's serving form ("which source drifted, per day") must
    // run the same plan under Structured Streaming (the ksDriftWindowed
    // convention; the slice key just joins the window in the grouping)
    val base = (0 until 50).map(i => (i % 10).toDouble).toDF("v")
    val live = (0 until 120).map { i =>
      val day = i / 60 + 1
      val g = if (i % 2 == 0) "a" else "b"
      val v = (i % 10).toDouble + (if (g == "b" && day == 2) 5.0 else 0.0)
      (i.toLong, new Timestamp(
        Timestamp.valueOf(f"2024-01-0$day 00:00:00").getTime + i * 60000L),
        g, v)
    }.toDF("id", "ts", "g", "v")
    val (bv, bc) = graft.ext.Eval.ksBaseline(base, "v")
    val batch = graft.ext.Eval
      .ksDriftWindowed(live, "ts", "v", bv, bc, slice = Some("g"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.toSeq.drop(2))
      .toMap
    assert(batch.size == 4)
    val dir = Files.createTempDirectory("graft_ksby_stream").toString
    live.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(live.schema).parquet(dir)
      .withWatermark("ts", "1 hour")
    val q = graft.ext.Eval
      .ksDriftWindowed(stream, "ts", "v", bv, bc, slice = Some("g"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("ksby_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("ksby_out")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.toSeq.drop(2))
      .toMap
    assert(streamed == batch, "ks stream must equal the batch run exactly")
    // psi member: nBuckets conditional counters per (window, slice)
    val (bcm, bt) = graft.ext.Outliers.psiBaseline(
      live.filter(col("ts") < lit("2024-01-02").cast("timestamp")),
      "v", 10, 0.0, 15.0)
    val pBatch = graft.ext.Outliers
      .psiWindowed(live, "ts", "v", bcm, bt, 10, 0.0, 15.0,
        slice = Some("g"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.toSeq.drop(2))
      .toMap
    val q2 = graft.ext.Outliers
      .psiWindowed(stream, "ts", "v", bcm, bt, 10, 0.0, 15.0,
        slice = Some("g"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("psiby_out")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    val pStreamed = spark.table("psiby_out")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.toSeq.drop(2))
      .toMap
    assert(pStreamed == pBatch, "psi stream must equal the batch run exactly")
  }

  test("embeddingDriftWindowedBy: per-cell equals the unsliced twin on the slice substream, stream equals batch, drift registers per slice") {
    import org.apache.spark.sql.functions.col
    // two slices x two days; slice b rotates away from the baseline on
    // day 2 while slice a stays aligned — the last drift-matrix cell's
    // serving question ("WHICH slice's embedding space moved, per day")
    // must localize the alarm to (day2, b) only
    def vec(axis: Int, i: Int): Array[Float] = {
      val v = new Array[Float](4)
      v(axis) = 1.0f
      v((axis + 1) % 4) = 0.1f * (i % 3)
      v
    }
    val base = (0 until 30).map(i => (i.toLong, vec(0, i)))
      .toDF("vec_id", "embedding")
    val live = (0 until 80).map { i =>
      val day = i / 40 + 1
      val g = if (i % 2 == 0) "a" else "b"
      (i.toLong, new Timestamp(
        Timestamp.valueOf(f"2024-01-0$day 00:00:00").getTime + i * 60000L),
        g, vec(if (g == "b" && day == 2) 1 else 0, i))
    }.toDF("vec_id", "ts", "g", "embedding")
    val (bm, bn) = graft.ext.Similarity.embeddingDriftBaseline(base)
    assert(bn == 30L)
    val batch = graft.ext.Similarity
      .embeddingDriftWindowed(live, "ts", "embedding", bm,
        slice = Some("g"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.toSeq.drop(2))
      .toMap
    assert(batch.size == 4)
    // per-cell ≡ the UNSLICED twin on the slice substream (the windowed-
    // BY convention: the slice key joins the grouping, nothing else
    // changes — same aggregate, same driver-held baseline)
    for (g <- Seq("a", "b")) {
      val sub = graft.ext.Similarity
        .embeddingDriftWindowed(live.filter(col("g") === g), "ts",
          "embedding", bm)
        .collect()
        .map(r => (r.getTimestamp(0), g) -> r.toSeq.drop(1))
        .toMap
      sub.foreach { case (k, v) =>
        assert(batch(k) == v, s"cell $k must equal the unsliced twin")
      }
    }
    // the alarm localizes: a stays aligned both days, b drops on day 2
    val day2 = Timestamp.valueOf("2024-01-02 00:00:00")
    val cosOf = (k: (Timestamp, String)) =>
      batch(k)(1).asInstanceOf[Double] // (n_live, mean_cos, mean_l2)
    assert(cosOf((day2, "a")) > 0.9, "aligned slice must stay cos~1")
    assert(cosOf((day2, "b")) < 0.5, "rotated slice must drop the cosine")
    // streaming twin: same plan under Structured Streaming
    val dir = Files.createTempDirectory("graft_embby_stream").toString
    live.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(live.schema).parquet(dir)
      .withWatermark("ts", "1 hour")
    val q = graft.ext.Similarity
      .embeddingDriftWindowed(stream, "ts", "embedding", bm,
        slice = Some("g"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("embby_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("embby_out")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.toSeq.drop(2))
      .toMap
    assert(streamed == batch, "stream must equal the batch run exactly")
  }

  test("vocabDivergenceWindowed: stream equals batch under a watermark") {
    import org.apache.spark.sql.functions.{col, lit}
    // day 1 speaks the baseline vocabulary, day 2 a disjoint one — the
    // text member's serving twin must run the same single stateful
    // aggregation (K+1 bounded counters per window) under Structured
    // Streaming and produce the identical projected statistic
    val docs = (0 until 60).map { i =>
      val day = i / 30 + 1
      val text = if (day == 1) s"alpha beta gamma d${i % 5}"
        else s"zeta yotta xenon w${i % 4}"
      (i.toLong, new Timestamp(
        Timestamp.valueOf(f"2024-01-0$day 00:00:00").getTime + i * 60000L),
        text)
    }.toDF("doc_id", "ts", "text")
    val (bc, bt) = graft.ext.TextAnalysis.vocabBaseline(
      docs.filter(col("ts") < lit("2024-01-02").cast("timestamp")),
      "text", topK = 5)
    val batch = graft.ext.TextAnalysis
      .vocabDivergenceWindowed(docs, "ts", "text", bc, bt)
      .collect().map(r => r.getTimestamp(0) -> r.toSeq.drop(1)).toMap
    assert(batch.size == 2)
    val dir = Files.createTempDirectory("graft_vocab_stream").toString
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
      .withWatermark("ts", "1 hour")
    val q = graft.ext.TextAnalysis
      .vocabDivergenceWindowed(stream, "ts", "text", bc, bt)
      .writeStream.outputMode("complete")
      .format("memory").queryName("vocab_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("vocab_out")
      .collect().map(r => r.getTimestamp(0) -> r.toSeq.drop(1)).toMap
    assert(streamed == batch, "stream must equal the batch run exactly")
    // the BY-slice form (doc_id % 2 as the slice) runs the same single
    // stateful aggregation with the slice key in the grouping
    val docsBy = docs.withColumn("g",
      (col("doc_id") % 2).cast("string"))
    val batchBy = graft.ext.TextAnalysis
      .vocabDivergenceWindowed(docsBy, "ts", "text", bc, bt,
        slice = Some("g"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.toSeq.drop(2))
      .toMap
    assert(batchBy.size == 4)
    val q2 = graft.ext.TextAnalysis
      .vocabDivergenceWindowed(
        spark.readStream.schema(docs.schema).parquet(dir)
          .withWatermark("ts", "1 hour")
          .withColumn("g", (col("doc_id") % 2).cast("string")),
        "ts", "text", bc, bt, slice = Some("g"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("vocabby_out")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    val streamedBy = spark.table("vocabby_out")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.toSeq.drop(2))
      .toMap
    assert(streamedBy == batchBy,
      "by-slice stream must equal the batch run exactly")
  }

  test("textGateWindowed: one pass equals the four members field-for-field, stream equals batch") {
    import org.apache.spark.sql.functions.{col, lit, round}
    // day 1 is the baseline; day 2 shifts every lens at once: quality
    // collapses (short punct-heavy pages), the language mix inverts,
    // and the vocabulary switches to a disjoint one
    val docs = (0 until 80).map { i =>
      val day = i / 40 + 1
      val text = if (day == 1)
        s"the of and alpha beta gamma delta d${i % 5} epsilon zeta"
      else s"zz!!@@ ##$$%% w${i % 4}"
      val lang = if (day == 1) { if (i % 4 == 0) "de" else "en" }
        else { if (i % 4 == 0) "en" else "de" }
      (i.toLong, new Timestamp(
        Timestamp.valueOf(f"2024-01-0$day 00:00:00").getTime + i * 60000L),
        lang, text)
    }.toDF("doc_id", "ts", "lang", "text")
    val week = docs.filter(col("ts") < lit("2024-01-02").cast("timestamp"))
    val (bv, bc) = graft.ext.Eval.ksBaseline(
      week.select(round(graft.ext.TextAnalysis.qualityScore("text"), 6)
        .as("q")), "q")
    val (bcats, _) = graft.ext.Outliers.chiSquareBaseline(week, "lang")
    val (vc, vt) = graft.ext.TextAnalysis.vocabBaseline(week, "text", 5)
    val gate = graft.ext.TextAnalysis
      .textGateWindowed(docs, "ts", "text", "lang", bv, bc, bcats, vc, vt)
      .collect().map(r => r.getTimestamp(0) -> r).toMap
    assert(gate.size == 2)
    // field-for-field against the standalone members on the same frame
    val scored = docs.select(col("ts"),
      round(graft.ext.TextAnalysis.qualityScore("text"), 6).as("q"),
      col("lang"), col("text"))
    val ksm = graft.ext.Eval.ksDriftWindowed(scored, "ts", "q", bv, bc)
      .collect().map(r => r.getTimestamp(0) -> r).toMap
    val rsm = graft.ext.Eval.rankSumDriftWindowed(scored, "ts", "q",
        bv, bc)
      .collect().map(r => r.getTimestamp(0) -> r).toMap
    val chim = graft.ext.Outliers.chiSquareDriftWindowed(scored, "ts",
        "lang", bcats)
      .collect().map(r => r.getTimestamp(0) -> r).toMap
    val vocm = graft.ext.TextAnalysis.vocabDivergenceWindowed(docs, "ts",
        "text", vc, vt)
      .collect().map(r => r.getTimestamp(0) -> r).toMap
    for ((ws, g) <- gate) {
      assert(g.getAs[Long]("n_live") == ksm(ws).getAs[Long]("n_live"))
      assert(g.getAs[Double]("ks_d") == ksm(ws).getAs[Double]("d"))
      assert(g.getAs[Double]("ks_d_crit") ==
        ksm(ws).getAs[Double]("d_crit"))
      assert(g.getAs[Int]("ks_drifted") ==
        ksm(ws).getAs[Int]("drifted"))
      assert(g.getAs[Double]("rs_u") == rsm(ws).getAs[Double]("u"))
      assert(g.getAs[Double]("rs_z") == rsm(ws).getAs[Double]("z"))
      assert(g.getAs[Int]("rs_drifted") ==
        rsm(ws).getAs[Int]("drifted"))
      assert(g.getAs[Long]("chi2_k") == chim(ws).getAs[Long]("k"))
      assert(g.getAs[Double]("chi2") == chim(ws).getAs[Double]("chi2"))
      assert(g.getAs[Int]("chi2_drifted") ==
        chim(ws).getAs[Int]("drifted"))
      assert(g.getAs[Long]("vocab_n_tokens") ==
        vocm(ws).getAs[Long]("n_live"))
      assert(g.getAs[Double]("vocab_kl_ab") ==
        vocm(ws).getAs[Double]("kl_ab"))
      assert(g.getAs[Double]("vocab_kl_ba") ==
        vocm(ws).getAs[Double]("kl_ba"))
      assert(g.getAs[Double]("vocab_js") ==
        vocm(ws).getAs[Double]("js"))
    }
    // the alarm lands exactly where planted
    val day1 = Timestamp.valueOf("2024-01-01 00:00:00")
    val day2 = Timestamp.valueOf("2024-01-02 00:00:00")
    assert(gate(day1).getAs[Int]("any_drifted") == 0,
      "the baseline day must not alarm")
    assert(gate(day2).getAs[Int]("any_drifted") == 1)
    assert(gate(day2).getAs[Double]("vocab_js") >
      10 * gate(day1).getAs[Double]("vocab_js"),
      "the vocabulary lens must separate the switched day")
    // streaming twin: same plan under Structured Streaming
    val dir = Files.createTempDirectory("graft_textgate_stream").toString
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
      .withWatermark("ts", "1 hour")
    val q = graft.ext.TextAnalysis
      .textGateWindowed(stream, "ts", "text", "lang", bv, bc, bcats,
        vc, vt)
      .writeStream.outputMode("complete")
      .format("memory").queryName("textgate_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("textgate_out")
      .collect().map(r => r.getTimestamp(0) -> r.toSeq.drop(1)).toMap
    val batchSeq = gate.map { case (k, r) => k -> r.toSeq.drop(1) }
    assert(streamed == batchSeq, "stream must equal the batch run exactly")
  }

  test("driftReportWindowed: one pass equals the four windowed members field-for-field, stream equals batch") {
    // values 0..9 day 1, shifted +5 day 2; categories invert on day 2 —
    // every lens has signal in exactly one window
    val live = (0 until 120).map { i =>
      val day = i / 60 + 1
      val v = (i % 10).toDouble + (if (day == 2) 5.0 else 0.0)
      val c = if (day == 2) (if (i % 10 == 0) "x" else "y")
        else (if (i % 5 < 3) "x" else "y")
      (i.toLong, new Timestamp(
        Timestamp.valueOf(f"2024-01-0$day 00:00:00").getTime + i * 60000L),
        v, c)
    }.toDF("id", "ts", "v", "c")
    val baseV = (0 until 50).map(i => (i % 10).toDouble).toDF("v")
    val baseC = (Seq.fill(30)("x") ++ Seq.fill(20)("y")).toDF("c")
    val (bv, bc) = graft.ext.Eval.ksBaseline(baseV, "v")
    val (bcats, _) = graft.ext.Outliers.chiSquareBaseline(baseC, "c")
    val (bb, bt) = graft.ext.Outliers.psiBaseline(baseV, "v", 10, 0.0, 15.0)
    val gate = graft.ext.Outliers.driftReportWindowed(live, "ts", "v", "c",
      bv, bc, bcats, bb, bt, 10, 0.0, 15.0)
    val wide = gate.collect()
      .map(r => r.getTimestamp(0) -> r).toMap
    assert(wide.size == 2)
    val ks = graft.ext.Eval.ksDriftWindowed(live, "ts", "v", bv, bc)
      .collect().map(r => r.getTimestamp(0) -> r).toMap
    val rs = graft.ext.Eval.rankSumDriftWindowed(live, "ts", "v", bv, bc)
      .collect().map(r => r.getTimestamp(0) -> r).toMap
    val chi = graft.ext.Outliers.chiSquareDriftWindowed(live, "ts", "c", bcats)
      .collect().map(r => r.getTimestamp(0) -> r).toMap
    val psi = graft.ext.Outliers
      .psiWindowed(live, "ts", "v", bb, bt, 10, 0.0, 15.0)
      .collect().map(r => r.getTimestamp(0) -> r).toMap
    for ((ws, g) <- wide) {
      assert(g.getLong(1) == ks(ws).getLong(1))          // n_live
      assert(g.getDouble(2) == ks(ws).getDouble(2))      // ks_d
      assert(g.getDouble(3) == ks(ws).getDouble(3))      // ks_d_crit
      assert(g.getInt(4) == ks(ws).getInt(4))            // ks_drifted
      assert(g.getDouble(5) == rs(ws).getDouble(2))      // rs_u
      assert(g.getDouble(6) == rs(ws).getDouble(3))      // rs_z
      assert(g.getInt(7) == rs(ws).getInt(4))            // rs_drifted
      assert(g.getLong(8) == chi(ws).getLong(2))         // chi2_k
      assert(g.getDouble(9) == chi(ws).getDouble(3))     // chi2
      assert(g.getDouble(10) == chi(ws).getDouble(4))    // chi2_crit
      assert(g.getInt(11) == chi(ws).getInt(5))          // chi2_drifted
      assert(g.getDouble(12) == psi(ws).getDouble(2))    // psi
      assert(g.getInt(13) == (if (psi(ws).getDouble(2) > 0.25) 1 else 0))
      assert(g.getInt(14) == Seq(g.getInt(4), g.getInt(7), g.getInt(11),
        g.getInt(13)).max)                               // any_drifted
    }
    // day 2 must alarm on every lens, day 1 on none
    val byTime = wide.toSeq.sortBy(_._1.getTime).map(_._2)
    assert(byTime.head.getInt(14) == 0 && byTime.last.getInt(14) == 1)
    assert(byTime.last.getInt(4) == 1 && byTime.last.getInt(11) == 1)
    // streaming twin: the SAME single stateful aggregation
    val dir = Files.createTempDirectory("graft_gate_stream").toString
    live.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(live.schema).parquet(dir)
      .withWatermark("ts", "1 hour")
    val q = graft.ext.Outliers.driftReportWindowed(stream, "ts", "v", "c",
        bv, bc, bcats, bb, bt, 10, 0.0, 15.0)
      .writeStream.outputMode("complete")
      .format("memory").queryName("gate_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("gate_out")
      .collect().map(r => r.getTimestamp(0) -> r.toSeq.drop(1)).toMap
    assert(streamed == wide.map { case (k, r) => k -> r.toSeq.drop(1) },
      "gate stream must equal the batch run exactly")
  }

  test("driftReportWindowedBy cells equal driftReportWindowed on the slice substream, stream equals batch") {
    import org.apache.spark.sql.functions.col
    // slice b shifts values AND inverts categories on day 2; slice a
    // stays on baseline — exactly one (window, slice) cell alarms
    // v/c derive from i/2 so BOTH parity slices carry the full value
    // support and the baseline category mix — parity-on-i would give
    // each slice only even/odd values, a real PSI drift in every cell
    val live = (0 until 240).map { i =>
      val day = i / 120 + 1
      val g = if (i % 2 == 0) "a" else "b"
      val shifted = g == "b" && day == 2
      val j = i / 2
      val v = (j % 10).toDouble + (if (shifted) 5.0 else 0.0)
      val c = if (shifted) (if (j % 10 == 1) "x" else "y")
        else (if (j % 5 < 3) "x" else "y")
      (i.toLong, new Timestamp(
        Timestamp.valueOf(f"2024-01-0$day 00:00:00").getTime + i * 60000L),
        g, v, c)
    }.toDF("id", "ts", "g", "v", "c")
    val baseV = (0 until 50).map(i => (i % 10).toDouble).toDF("v")
    val baseC = (Seq.fill(30)("x") ++ Seq.fill(20)("y")).toDF("c")
    val (bv, bc) = graft.ext.Eval.ksBaseline(baseV, "v")
    val (bcats, _) = graft.ext.Outliers.chiSquareBaseline(baseC, "c")
    val (bb, bt) = graft.ext.Outliers.psiBaseline(baseV, "v", 10, 0.0, 15.0)
    val cells = graft.ext.Outliers.driftReportWindowed(live, "ts", "v",
        "c", bv, bc, bcats, bb, bt, 10, 0.0, 15.0, slice = Some("g"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.toSeq.drop(2))
      .toMap
    assert(cells.size == 4)
    // per-cell ≡ the unsliced gate on the slice's substream (identical
    // aggregate kernels, identical fixed psi fold)
    for (g <- Seq("a", "b")) {
      val sub = graft.ext.Outliers.driftReportWindowed(
          live.filter(col("g") === g), "ts", "v", "c",
          bv, bc, bcats, bb, bt, 10, 0.0, 15.0)
        .collect().map(r => r.getTimestamp(0) -> r.toSeq.drop(1)).toMap
      for ((ws, ref) <- sub)
        assert(cells((ws, g)) == ref,
          s"cell ($ws, $g): ${cells((ws, g))} != substream gate $ref")
    }
    // exactly day-2 slice b alarms (any_drifted is the last field)
    val alarms = cells.filter(_._2.last == 1).keys.toSeq
    assert(alarms.map(_._2) == Seq("b") &&
      alarms.head._1.toString.startsWith("2024-01-02"), s"got $alarms")
    // streaming twin
    val dir = Files.createTempDirectory("graft_gateby_stream").toString
    live.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(live.schema).parquet(dir)
      .withWatermark("ts", "1 hour")
    val q = graft.ext.Outliers.driftReportWindowed(stream, "ts", "v",
        "c", bv, bc, bcats, bb, bt, 10, 0.0, 15.0, slice = Some("g"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("gateby_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("gateby_out")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.toSeq.drop(2))
      .toMap
    assert(streamed == cells, "sliced gate stream must equal batch")
  }
}
