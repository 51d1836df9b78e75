package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The bench artifacts, without a Spark session: the committed
  * BENCHLINE.json is exactly the printed line, and both artifacts parse
  * and carry their stamps whatever a query's error message holds. */
class BenchSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  test("BENCHLINE.json is the printed line; both artifacts parse with their stamps") {
    // A newline, a quote, and a surrogate pair split by the 80-unit cut.
    val head = "boom \"quoted\"\nsecond line "
    val err = head + "x" * (79 - head.length) + "😀" + "tail"
    assert(Character.isHighSurrogate(err.charAt(79)))
    val results = Seq(("q01_scan", 0.5, None), ("q02_multi_topic", 0.7, Some(err)))
    val (line, full) = Bench.artifacts(results, 0.25, 0.3, "/sf", "4")
    val dir = Files.createTempDirectory("graft-bench-spec")
    val printed = Bench.publish(line, full, dir.toString)

    assert(new String(Files.readAllBytes(dir.resolve("BENCHLINE.json")), "UTF-8") ==
      printed + "\n")
    val l = mapper.readTree(printed)
    assert(l.get("n_queries").asInt == 2)
    assert(l.get("n_errors").asInt == 1)
    assert(l.get("cpus").asInt == 4)
    assert(l.get("commit").asText.nonEmpty)
    val shown = l.get("errors").get("q02_multi_topic").asText
    assert(shown == err.take(79), "cut on the code-point boundary")

    val f = mapper.readTree(Files.readAllBytes(Paths.get(dir.toString, "BENCHFULL.json")))
    assert(f.get("cpus").asInt == 4)
    assert(f.get("commit").asText == l.get("commit").asText)
    assert(f.get("queries").get("q02_multi_topic").get("err").asText == err)
  }
}
