package graft.agg

import java.nio.file.Files

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The per-value aggregates' shared value → count state, by component:
  * the six count-map aggregates ([[KsDriftAgg]], [[RankSumDriftAgg]],
  * [[ChiSquareDriftAgg]], [[VocabDriftAgg]], [[MajorAgg]],
  * [[MisraGriesAgg]]) and [[BoundedListAgg]]'s key set — serialized state
  * round trips, keys past `writeUTF`'s 65,535-byte limit, the distinct-key
  * cap on the merge path, golden bytes of the two key layouts, and which
  * sources may write a byte stream. */
class CountStateSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  private def ref(dt: DataType) = BoundReference(0, dt, nullable = true)
  private def str(s: String) = UTF8String.fromString(s)

  /** `agg`'s buffer after one update per value (null = a null input). */
  private def feed[B](agg: TypedImperativeAggregate[B], values: Any*): B = {
    val buf = agg.createAggregationBuffer()
    values.foreach(v => agg.update(buf, InternalRow(v)))
    buf
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString

  /** The serialized state's round trip: equal buffer, equal result. */
  private def roundTrips[B](agg: TypedImperativeAggregate[B], buf: B): Unit = {
    val back = agg.deserialize(agg.serialize(buf))
    assert(back == buf, s"${agg.prettyName}: state changed in its round trip")
    assert(agg.eval(back) == agg.eval(buf),
      s"${agg.prettyName}: result changed in its round trip")
  }

  private val baseVals = Array(0.5, 1.5, 2.5)
  private val baseCum = Array(2L, 5L, 6L)

  test("each count-map aggregate and the bounded list round-trip their serialized state") {
    val nums = Seq(0.5, 1.0, 1.0, null, 2.5, -0.0, 3.0)
    roundTrips(KsDriftAgg(ref(DoubleType), baseVals, baseCum, 100),
      feed(KsDriftAgg(ref(DoubleType), baseVals, baseCum, 100), nums: _*))
    roundTrips(RankSumDriftAgg(ref(DoubleType), baseVals, baseCum, 100),
      feed(RankSumDriftAgg(ref(DoubleType), baseVals, baseCum, 100), nums: _*))
    val cats = Seq("en", "de", "en", null, "fr", "日本").map(Option(_).map(str).orNull)
    val chi = ChiSquareDriftAgg(ref(StringType), Map("en" -> 4L, "de" -> 1L), 100)
    roundTrips(chi, feed(chi, cats: _*))
    val vocab = VocabDriftAgg(ref(StringType), Map("en" -> 3L, "fr" -> 2L), 9L, 0.5)
    roundTrips(vocab, feed(vocab, cats: _*))
    val majorS = MajorAgg(ref(StringType))
    roundTrips(majorS, feed(majorS, cats: _*))
    val majorD = MajorAgg(ref(DoubleType))
    roundTrips(majorD, feed(majorD, (nums :+ Double.NaN): _*))
    val mg = MisraGriesAgg(ref(StringType), 3)
    roundTrips(mg, feed(mg, cats: _*))
    val list = BoundedListAgg(ref(StringType), 2)
    roundTrips(list, feed(list, cats: _*))
    // empty state too
    roundTrips(majorS, majorS.createAggregationBuffer())
    roundTrips(list, list.createAggregationBuffer())
  }

  test("a key longer than 65,535 bytes survives every UTF-8-keyed state") {
    val long = "k" * 70000 + "é"
    val vals = Seq(long, long, "b", null).map(Option(_).map(str).orNull)
    val chi = ChiSquareDriftAgg(ref(StringType), Map(long -> 3L, "b" -> 1L), 100)
    val vocab = VocabDriftAgg(ref(StringType), Map(long -> 3L), 4L, 0.5)
    val major = MajorAgg(ref(StringType))
    val mg = MisraGriesAgg(ref(StringType), 4)
    val list = BoundedListAgg(ref(StringType), 2)
    roundTrips(chi, feed(chi, vals: _*))
    roundTrips(vocab, feed(vocab, vals: _*))
    roundTrips(major, feed(major, vals: _*))
    roundTrips(mg, feed(mg, vals: _*))
    roundTrips(list, feed(list, vals: _*))
    assert(major.eval(major.deserialize(major.serialize(feed(major, vals: _*)))) ==
      str(long))
    // and through a shuffle: two partitions' partial states merge
    val row = Seq(long, "b", long, "c").toDF("s").repartition(2)
      .agg(MajorAgg(col("s"), StringType).as("m"),
        MisraGriesAgg(col("s"), 4).as("hot"), BoundedListAgg(col("s"), 3).as("l"))
      .head()
    assert(row.getString(0) == long)
    assert(row.getSeq[String](1).head == long)
    assert(row.getString(2) == Seq("b", "c", long).mkString(","))
  }

  test("the cap guard fires in merge on two under-cap states whose union is over it") {
    val ks = KsDriftAgg(ref(DoubleType), baseVals, baseCum, 2)
    val rs = RankSumDriftAgg(ref(DoubleType), baseVals, baseCum, 2)
    val chi = ChiSquareDriftAgg(ref(StringType), Map("en" -> 1L), 2)
    val cases: Seq[(String, () => Any)] = Seq(
      "ks_drift" -> (() => ks.merge(feed(ks, 1.0, 2.0), feed(ks, 3.0))),
      "rank_sum_drift" -> (() => rs.merge(feed(rs, 1.0, 2.0), feed(rs, 3.0))),
      "chi2_drift" -> (() => chi.merge(feed(chi, str("a"), str("b")),
        feed(chi, str("c")))))
    for ((name, merge) <- cases) {
      val e = intercept[IllegalArgumentException](merge())
      assert(e.getMessage.contains(name) && e.getMessage.contains("over 2"),
        e.getMessage)
    }
    assert(ks.merge(feed(ks, 1.0, 2.0), feed(ks, 2.0)).size == 2,
      "a union at the cap is allowed")
  }

  test("golden bytes: [n:int]([key][count:long])* with a double or a [len:int] UTF-8 key") {
    // double key: 1.5 = 3ff8…, −0.25 = bfd0…, 2.0 = 4000…
    val ks = KsDriftAgg(ref(DoubleType), baseVals, baseCum, 10)
    assert(hex(ks.serialize(feed(ks, 1.5, 1.5))) ==
      "00000001" + "3ff8000000000000" + "0000000000000002")
    val rs = RankSumDriftAgg(ref(DoubleType), baseVals, baseCum, 10)
    assert(hex(rs.serialize(feed(rs, -0.25))) ==
      "00000001" + "bfd0000000000000" + "0000000000000001")
    val majorD = MajorAgg(ref(DoubleType))
    assert(hex(majorD.serialize(feed(majorD, 2.0, Double.NaN))) ==
      "00000001" + "4000000000000000" + "0000000000000001")
    // UTF-8 key, not writeUTF's modified UTF-8: NUL is 00 (not c0 80), a
    // supplementary character is 4 bytes f0 9f 98 80 (not a 6-byte pair)
    val key = "a\u0000😀"
    val chi = ChiSquareDriftAgg(ref(StringType), Map("en" -> 1L), 10)
    assert(hex(chi.serialize(feed(chi, str(key), str(key), str(key)))) ==
      "00000001" + "00000006" + "6100f09f9880" + "0000000000000003")
    val vocab = VocabDriftAgg(ref(StringType), Map("é" -> 1L), 1L, 0.5)
    assert(hex(vocab.serialize(feed(vocab, str("é")))) ==
      "00000001" + "00000002" + "c3a9" + "0000000000000001")
    val majorS = MajorAgg(ref(StringType))
    assert(hex(majorS.serialize(feed(majorS, str(key), str(key)))) ==
      "00000001" + "00000006" + "6100f09f9880" + "0000000000000002")
    val mg = MisraGriesAgg(ref(StringType), 3)
    assert(hex(mg.serialize(feed(mg, str("x")))) ==
      "00000001" + "00000001" + "78" + "0000000000000001")
    // the bounded list's key set: the same key bytes, no counts, ascending
    val list = BoundedListAgg(ref(StringType), 4)
    assert(hex(list.serialize(feed(list, str("b"), str("a")))) ==
      "00000002" + "00000001" + "61" + "00000001" + "62")
    assert(hex(majorS.serialize(majorS.createAggregationBuffer())) == "00000000")
  }

  test("MisraGries retains every value above the n/(c+1) frequency bound") {
    // n = 1000; capacity 9 → guarantee threshold n/10 = 100
    val stream = Seq.fill(300)("hot1") ++ Seq.fill(200)("hot2") ++
      (1 to 500).map(i => s"cold$i")
    val retained = stream.toDF("t")
      .agg(graft.agg.MisraGriesAgg(col("t"), 9))
      .head().getSeq[String](0).toSet
    assert(retained.contains("hot1") && retained.contains("hot2"))
    assert(retained.size <= 9)
  }

  test("only the shared count state and VectorMeanAgg write aggregate state streams") {
    val files = graft.SourceTree.scalaFiles(
      graft.SourceTree.mainScala.resolve("graft/agg"))
    assert(files.size > 5, s"scanned too few sources: ${files.size}")
    val streams = files.filter { f =>
      val src = Files.readString(f)
      src.contains("DataOutputStream") || src.contains("DataInputStream")
    }.map(_.getFileName.toString).toSet
    assert(streams == Set("CountsAgg.scala", "VectorMeanAgg.scala"),
      s"graft/agg sources with their own state streams: ${streams.toSeq.sorted}")
  }
}
