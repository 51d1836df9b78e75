package graft.render

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** S6/P7 byte-format parity with the reference's documented shape:
  * `[` pioneer `, {pretty record}`* `]`, key/value try-parsed as JSON
  * (`/root/reference/src/kbrowse/search.clj:25-32,44-72`). */
class JsonArrayRenderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val mapper = new ObjectMapper()

  test("output is a valid JSON array led by the pioneer sentinel") {
    val df = Seq(("t", 0, 0L, "k0", """{"k": 7}"""), ("t", 1, 1L, "107", "v1"))
      .toDF("topic", "partition", "offset", "key", "value")
    val sb = new StringBuilder
    JsonArrayRender.render(df, b => { sb.append(new String(b, "UTF-8")); () })
    val root = mapper.readTree(sb.toString)
    assert(root.isArray)
    assert(root.get(0).get("type").asText() == "pioneer")
    assert(root.size() == 3)
  }

  test("key/value strings that parse as JSON are replaced by parsed values") {
    val df = Seq(("t", 0, 0L, "107", """{"k": 7}"""), ("t", 0, 1L, "k0", "v0"))
      .toDF("topic", "partition", "offset", "key", "value")
    val sb = new StringBuilder
    JsonArrayRender.render(df, b => { sb.append(new String(b, "UTF-8")); () })
    val arr = mapper.readTree(sb.toString)
    val r1 = arr.get(1)
    assert(r1.get("key").isNumber && r1.get("key").asLong() == 107L) // "107" → 107
    assert(r1.get("value").isObject && r1.get("value").get("k").asInt() == 7)
    val r2 = arr.get(2)
    assert(r2.get("key").isTextual && r2.get("key").asText() == "k0") // unparseable stays
    assert(r2.get("value").asText() == "v0")
  }

  test("records are comma-prefixed pretty chunks (streaming-safe format)") {
    val chunk = JsonArrayRender.renderRecord("""{"a":1}""")
    assert(chunk.startsWith(", {"))
    assert(chunk.contains("\n")) // pretty-printed
  }
}
