package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The scale ladder's line assembly on synthetic per-cell times and counts:
  * no Spark, only the JSON every probe line is built from. */
class LadderSuite extends AnyFunSuite {
  private def parse(line: String): JsonNode = new ObjectMapper().readTree(line)
  private def keys(n: JsonNode): Seq[String] = n.fieldNames().asScala.toSeq

  test("assemble: per-factor keys, ratio and exponent, zero-base guard, speedups, counts, table order") {
    val secs = Map(
      ("linear", 1) -> 0.5, ("linear", 16) -> 8.0,
      ("flat", 1) -> 2.0, ("flat", 16) -> 2.0,
      ("zero", 1) -> 0.0, ("zero", 16) -> 1.0)
    val line = parse(Ladder.assemble("x_scale_probe", Seq(1, 16),
      Seq("zero", "linear", "flat"), secs,
      Map(("linear", 1) -> ("cand_pairs" -> 7L), ("linear", 16) -> ("cand_pairs" -> 112L)),
      Seq("flat" -> "linear")))
    assert(line.get("metric").asText == "x_scale_probe")
    assert(keys(line.get("ops")) == Seq("zero", "linear", "flat"))
    val linear = line.get("ops").get("linear")
    assert(keys(linear) == Seq("sec_1x", "sec_16x", "ratio_16x", "exponent",
      "cand_pairs_1x", "cand_pairs_16x"))
    assert(linear.get("sec_1x").asDouble == 0.5 && linear.get("sec_16x").asDouble == 8.0)
    assert(linear.get("ratio_16x").asDouble == 16.0)
    assert(linear.get("exponent").asDouble == 1.0)
    assert(linear.get("cand_pairs_1x").asLong == 7L && linear.get("cand_pairs_16x").asLong == 112L)
    val flat = line.get("ops").get("flat")
    assert(flat.get("ratio_16x").asDouble == 1.0 && flat.get("exponent").asDouble == 0.0)
    val zero = line.get("ops").get("zero")
    assert(zero.get("ratio_16x").isNull && zero.get("exponent").isNull)
    val speedup = line.get("speedup").get("flat")
    assert(keys(speedup) == Seq("1x", "16x"))
    assert(speedup.get("1x").asDouble == 0.25 && speedup.get("16x").asDouble == 4.0)
  }

  test("assemble: one factor reports seconds only; no speedup pairs, no speedup field") {
    val line = parse(Ladder.assemble("k_probe", Seq(1), Seq("b", "a"),
      Map(("a", 1) -> 0.3, ("b", 1) -> 0.1), Map.empty, Nil))
    assert(keys(line.get("ops")) == Seq("b", "a"))
    assert(keys(line.get("ops").get("a")) == Seq("sec_1x"))
    assert(!line.has("speedup"))
    assert(line.get("factors").toString == "[1]")
  }
}
