package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Bench's summary line is the run's gate record: a query that throws
  * is timed as `-1.0` and left out of the total, so the line must COUNT
  * it — otherwise a failing query makes the total look faster.
  */
class BenchSummarySpec extends AnyFunSuite with Matchers {

  test("summaryJson counts a failed query and parses as strict JSON") {
    val json = Bench.summaryJson(
      Seq("q_ok" -> 1.5, "q_boom" -> -1.0, "q \"odd\"\tname" -> 0.25),
      throughput = 1234.5, sfDir = "/data/sf\"0.1", cpus = 4)
    // strict JSON (jackson ships on the Spark classpath)
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    m.get("n_failed").asInt() shouldBe 1
    m.get("n_queries").asInt() shouldBe 3
    m.get("cpus").asInt() shouldBe 4
    // the failed query is in neither the total nor the top ten
    m.get("value").asDouble() shouldBe 1.75
    m.get("queries").has("q_boom") shouldBe false
    m.get("queries").get("q \"odd\"\tname").asDouble() shouldBe 0.25
    m.get("pipeline_throughput_msgs_per_sec").asDouble() shouldBe 1234.5
    m.get("sf").asText() shouldBe "/data/sf\"0.1"
  }

  test("history parse: an escaped SF path matches its own record") {
    val sf = "/data/sf\"0.1\\x"
    val record = s"""{"sf":${Verify.jsonStr(sf)},"timings_ms":{"q_a":1500,"q_b":250}}"""
    Bench.timingsAtSf(record, sf) shouldBe Some(Map("q_a" -> 1.5, "q_b" -> 0.25))
  }

  test("history parse: a record at another SF is ignored") {
    val record = """{"sf":"/data/sf0.01","timings_ms":{"q_a":1500}}"""
    Bench.timingsAtSf(record, "/data/sf0.1") shouldBe None
  }

  test("history parse: failed (-1) entries are dropped") {
    // a full record: the summary's own keys precede timings_ms
    val record = """{"value":1.5,"queries":{"q_a":1.5},"sf":"/data/sf0.1",""" +
      """"timings_ms":{"q_a":1500,"q_boom":-1}}"""
    Bench.timingsAtSf(record, "/data/sf0.1") shouldBe Some(Map("q_a" -> 1.5))
  }

  test("a run with a failed query keeps the shipping record") {
    val ok = Seq("q_a" -> 1.5, "q_b" -> 0.25)
    val failed = ok :+ ("q_boom" -> -1.0)
    val history = Seq("BENCH_FULL_sf0.1.json", "BENCH_BEST_sf0.1.json")
    val shipping = Seq("BENCH_FULL_LATEST.json", "BENCH_SUMMARY.json")
    Bench.recordFiles(subset = false, ok, "sf0.1").toSet shouldBe
      (history ++ shipping).toSet
    Bench.recordFiles(subset = false, failed, "sf0.1").toSet shouldBe
      history.toSet
    Bench.recordFiles(subset = true, ok, "sf0.1") shouldBe empty
  }

  test("a run on fewer cores keeps a summary recorded on more") {
    val ok = Seq("q_a" -> 1.5)
    val history = Seq("BENCH_FULL_sf0.1.json", "BENCH_BEST_sf0.1.json")
    val shipping = Seq("BENCH_FULL_LATEST.json", "BENCH_SUMMARY.json")
    def files(cpus: Int, shippingCpus: Option[Int]) =
      Bench.recordFiles(subset = false, ok, "sf0.1", cpus, shippingCpus).toSet
    files(8, Some(32)) shouldBe history.toSet
    files(32, Some(32)) shouldBe (history ++ shipping).toSet
    files(32, Some(8)) shouldBe (history ++ shipping).toSet
    // a summary without the field may be replaced
    files(8, None) shouldBe (history ++ shipping).toSet

    // the field round-trips through the summary line
    val line = Bench.summaryJson(ok, throughput = 1.0, sfDir = "/data/sf0.1", cpus = 32)
    Bench.summaryCpus(line) shouldBe Some(32)
    Bench.summaryCpus("""{"metric":"total_queries","value":1.5}""") shouldBe None
  }
}
