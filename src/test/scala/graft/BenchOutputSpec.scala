package graft

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The bench output contract: the compact line is the one the
  * artifact capture parses out of the last ~2 KB of output, so its
  * keys, its total and its size are pinned here. */
class BenchOutputSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
  private def parse(line: String): JsonNode = mapper.readTree(line)

  private val sample = Bench.compactLine("/data/tpch/sf0.1",
    Seq("q01" -> 1.004, "q02" -> 0.004, "q03" -> 12.004),
    Seq("q03" -> 11.9), Seq("q02"), 0.75)

  test("the compact line parses as JSON with the parsed keys") {
    val j = parse(sample)
    Seq("value", "queries", "quiet", "failed", "sf", "quiet_share")
      .foreach(k => assert(j.has(k), s"missing $k"))
    assert(j.get("sf").asText === "/data/tpch/sf0.1")
    assert(j.get("quiet").get("q03").decimalValue.compareTo(
      BigDecimal("11.9").bigDecimal) === 0)
    assert(j.get("queries").fieldNames.asScala.toSeq === Seq("q01", "q02", "q03"))
  }

  test("value is the sum of the printed 2-decimal queries values") {
    assert(sample.contains("\"queries\":{\"q01\":1.00,\"q02\":0.00,\"q03\":12.00}"))
    val j = parse(sample)
    val qs = j.get("queries").elements.asScala.map(_.decimalValue).toSeq
    assert(j.get("value").decimalValue.compareTo(qs.reduce(_ add _)) === 0)
    // 1.00 + 0.00 + 12.00, not the rounded raw sum 13.01
    assert(sample.contains("\"value\":13.00,"))
  }

  test("no key of the removed carry schedule appears") {
    val keys = parse(sample).fieldNames.asScala.toSet
    Seq("carried", "once", "demoted", "quiet_agreed", "load_1m_at_min_rep")
      .foreach(k => assert(!keys(k), s"$k is back"))
  }

  test("a failed line is listed in failed by its short key") {
    val failed = parse(sample).get("failed").elements.asScala.map(_.asText).toSeq
    assert(failed === Seq("q02"))
  }

  test("the whole catalog at two-digit values stays inside the 2 KB capture window") {
    val keys = QueryCatalog.all.map(q => Bench.shortKey(q.name))
    assert(keys.size >= 100)
    val line = Bench.compactLine("/srv/graft/testdata/sf0.1",
      keys.map(_ -> 99.99), keys.take(Bench.QuietN).map(_ -> 99.99),
      Seq.empty, 1.0)
    val bytes = line.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    assert(bytes <= 1900, s"compact line is $bytes bytes")
    assert(parse(line).get("queries").size === keys.size)
  }

  test("per-line summary: min and median of the reps") {
    assert(Bench.summary(Seq(3.0, 1.0, 2.0)) === ((1.0, 2.0)))
    assert(Bench.summary(Seq(5.0, 5.0, 9.0)) === ((5.0, 5.0)))
    assert(Bench.summary(Seq(4.0)) === ((4.0, 4.0)))
    assert(Bench.summary(Seq(4.0, 1.0, 2.0, 3.0)) === ((1.0, 2.5)))
    intercept[IllegalArgumentException](Bench.summary(Seq.empty))
  }
}
