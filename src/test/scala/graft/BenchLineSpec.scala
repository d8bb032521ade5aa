package graft

import java.util.Locale
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The contract of Bench's stdout line and BENCH_SELF.json record,
  * built from synthetic results (no Spark session): both parse as JSON
  * under a comma-decimal default locale, the line keeps exactly the
  * contract keys, and it fits the ~2.5 KB window in which sbt stdout is
  * tail-parsed (build.sbt `StdoutOutput`). */
class BenchLineSpec extends AnyFunSuite {

  private val lineKeys = Seq("metric", "value", "unit", "queries", "n_queries", "errors",
    "sf", "cpus", "shuffle_partitions", "stream_parts", "stream_sink", "small_exchange_bytes", "full")

  private val sfDir = "/data/testdata/sf0.1"

  /** One entry per declared query: the 20 longest names are the
    * slowest at 3-digit seconds, so the top-20 map is its widest. */
  private val full: Seq[Bench.Result] = {
    val longest = SparkEntry.queries.keys.toSeq.sortBy(n => (-n.length, n)).take(20).toSet
    SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.map { case (n, i) =>
      (n, if (longest(n)) 100.0 + i * 1.37 else i * 0.013, true)
    }
  }

  /** Runs `body` with a comma-decimal default locale in force. */
  private def underGermany[A](body: => A): A = {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try body finally Locale.setDefault(saved)
  }

  private def read(json: String): JsonNode = new ObjectMapper().readTree(json)

  test("the line parses as JSON and keeps exactly the contract keys") {
    val line = underGermany(Bench.line(full, sfDir))
    val node = read(line)
    assert(node.fieldNames.asScala.toSeq === lineKeys)
    assert(node.get("n_queries").asInt === full.size)
    assert(node.get("queries").size === 20)
    assert(node.get("errors").size === 0)
    assert(node.get("full").asText === "BENCH_SELF.json")
  }

  test("value is the total over every entry, not only the top 20") {
    val rs = (1 to 25).map(i => (f"q$i%02d", i.toDouble, true))
    val node = read(underGermany(Bench.line(rs, sfDir)))
    assert(node.get("queries").size === 20)
    assert(node.get("value").asDouble === 325.0)
  }

  test("a failed entry appears in errors, in the line and the record") {
    val rs = full.map { case (n, s, _) => (n, s, n != "j1_equi_join_agg") }
    for (json <- underGermany(Seq(Bench.line(rs, sfDir), Bench.record(rs, sfDir)))) {
      assert(read(json).get("errors").elements.asScala.map(_.asText).toSeq === Seq("j1_equi_join_agg"))
    }
  }

  test("the record parses, lists every entry and totals like the line") {
    val node = read(underGermany(Bench.record(full, sfDir)))
    assert(node.get("queries").fieldNames.asScala.toSeq === full.map(_._1))
    assert(node.get("value").asDouble === read(underGermany(Bench.line(full, sfDir))).get("value").asDouble)
  }

  test("a full 196-entry line fits the 2,500-byte stdout tail window") {
    assert(full.size === 196)
    val bytes = underGermany(Bench.line(full, sfDir)).getBytes("UTF-8").length
    assert(bytes < 2500, s"line is $bytes bytes")
  }
}
