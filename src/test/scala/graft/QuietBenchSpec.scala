package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Guards the quiet tools: the `quiet_bench` line is the baseline format
  * `QuietDiff` reads back, chunk verdicts are judged at the final fold, the
  * regression flag sits strictly above [[QuietDiff.RatioFlag]], and a bad
  * baseline fails instead of silently diffing against nothing. */
class QuietBenchSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  private def parseObj(line: String): JsonNode = {
    val node = mapper.readTree(line) // throws JsonProcessingException on bad JSON
    assert(node.isObject, s"line is not a JSON object: $line")
    node
  }

  private def measurement(mins: Seq[(String, Double)],
                          chunks: Seq[QuietBench.Chunk] = Seq(QuietBench.Chunk(true, Seq(0.1, 0.1))),
                          cal0: Double = 0.13, quietCal: Double = 0.13) =
    QuietBench.Measurement(mins, Seq("q03_c" -> "Boom: x"), chunks, cal0, quietCal)

  test("parseBaseline round-trips a quiet_bench line") {
    val mins = Seq("q01_a" -> 0.263, "q02_b" -> 12.5, "q177_c" -> 8.874)
    val line = QuietBench.renderBench(measurement(mins), "/sf")
    val node = parseObj(line)
    assert(node.get("metric").asText == "quiet_bench")
    assert(node.get("nqueries").asInt == 3)
    assert(node.get("errors").get("q03_c").asText == "Boom: x")
    assert(QuietDiff.parseBaseline(line) == mins.toMap)
  }

  test("a diff flags only ratios strictly above RatioFlag") {
    val baseline = Map("q01_a" -> 1.0, "q02_b" -> 1.0, "q03_new" -> 1.0)
    val m = measurement(Seq("q01_a" -> 1.3, "q02_b" -> 1.301, "q04_new" -> 5.0))
    val node = parseObj(QuietDiff.renderDiff(m, baseline, "base.json", "/sf"))
    assert(node.get("flagged").elements().asScala.map(_.asText).toSeq == Seq("q02_b"))
    assert(node.get("queries").get("q01_a").get("ratio").asDouble == 1.3)
    assert(node.get("queries").get("q04_new").get("base").isNull)
  }

  test("a chunk quiet against an inflated interim fold is re-judged noisy at the final fold") {
    // chunk 0 was judged against a fold still at the steal-inflated 0.5 s
    // calibration; chunk 1's probes later folded the reference down to 0.13
    val chunks = Seq(QuietBench.Chunk(quietInterim = true, Seq.fill(6)(0.3)),
                     QuietBench.Chunk(quietInterim = true, Seq.fill(6)(0.12)))
    val m = measurement(Seq("q01_a" -> 1.0), chunks, cal0 = 0.5, quietCal = 0.13)
    assert(m.chunkQuiet == Seq(false, true))
    val bench = parseObj(QuietBench.renderBench(m, "/sf"))
    assert(!bench.get("all_chunks_quiet").asBoolean)
    val c0 = bench.get("chunks").get("0")
    assert(!c0.get("quiet").asBoolean && c0.get("quiet_interim").asBoolean)
    assert(bench.get("chunks").get("1").get("quiet").asBoolean)
    val diff = parseObj(QuietDiff.renderDiff(m, Map("q01_a" -> 1.0), "base.json", "/sf"))
    assert(!diff.get("quiet").asBoolean)
    assert(!diff.get("chunks").get("0").get("quiet").asBoolean)
  }

  test("a missing, empty, truncated or query-less baseline fails loudly, naming the path") {
    val dir = java.nio.file.Files.createTempDirectory("quiet_base")
    val missing = dir.resolve("missing.json").toString
    val empty = java.nio.file.Files.writeString(dir.resolve("empty.json"), "").toString
    val truncated = java.nio.file.Files.writeString(dir.resolve("cut.json"),
      """{"metric":"quiet_bench","queries":{"q01_a":0.5,"q02""").toString
    val noQueries = java.nio.file.Files.writeString(dir.resolve("none.json"),
      """{"metric":"quiet_bench","queries":{},"sf":"/sf"}""").toString
    Seq(missing, empty, truncated, noQueries).foreach { path =>
      val e = intercept[IllegalArgumentException](QuietDiff.loadBaseline(path))
      assert(e.getMessage.contains(path))
    }
    val ok = java.nio.file.Files.writeString(dir.resolve("ok.json"),
      QuietBench.renderBench(measurement(Seq("q01_a" -> 0.5)), "/sf")).toString
    assert(QuietDiff.loadBaseline(ok) == Map("q01_a" -> 0.5))
  }

  test("end-to-end: measure() on a 2-query prefix times both queries") {
    val m = QuietBench.measure(spark, "/root/testdata/sf0.001",
      n => Seq("q01", "q02").exists(n.startsWith), probeRows = 100000L)
    assert(m.errors.isEmpty, s"quiet queries failed: ${m.errors}")
    assert(m.mins.map(_._1) == Seq("q01_fraud_filter", "q02_top10_by_user"))
    assert(m.mins.forall(_._2 > 0.0))
    assert(m.chunks.size == 1 && m.chunks.head.probes.size == QuietBench.Passes + 1)
    val node = parseObj(QuietBench.renderBench(m, "/sf"))
    assert(node.get("nqueries").asInt == 2)
  }
}
