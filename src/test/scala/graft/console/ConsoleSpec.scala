package graft.console

import java.net.{HttpURLConnection, URI}

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.QueryOptions
import graft.server.HttpService

/** C6/C7 headlessly: the incremental parser driven over a REAL chunked
  * /search response, and the URL-state codec round-tripped through the
  * reference's field names (`main.js:403-423, 428-506`). */
class ConsoleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val svc = new HttpService(spark, port = 0, graft.core.Config.Defaults.copy(
    kafkaBootstrapServers = Map("sandbox" -> TestSpark.Sf))).start()
  private val mapper = new ObjectMapper()

  // ---------------------------------------------------------------- C6

  test("parser emits each object as its closing brace arrives, skipping the pioneer") {
    val p = new IncrementalJson.Parser()
    assert(p.append("""[{"type":"pioneer"}""") == Seq())
    assert(p.append(""", {"a": 1}, {"b""") == Seq("""{"a": 1}"""))
    // partial object completes on the next chunk; rescan is transparent
    assert(p.append("""": {"nested": 2}}""") == Seq("""{"b": {"nested": 2}}"""))
    assert(p.append("]") == Seq())
  }

  test("braces inside string values are data, not structure (reference quirk fixed)") {
    val p = new IncrementalJson.Parser()
    p.append(IncrementalJson.PioneerPrefix)
    val got = p.append(""", {"value": "{oops", "k": 1}, {"value": "}}{"}""")
    assert(got == Seq("""{"value": "{oops", "k": 1}""", """{"value": "}}{"}"""))
  }

  test("chunk boundaries mid-string and mid-escape do not split objects") {
    val p = new IncrementalJson.Parser()
    p.append(IncrementalJson.PioneerPrefix)
    // chunk 1 ends ON the backslash of an escape sequence; chunk 2 opens
    // with the escaped char (here `"` -> \" stays inside the string).
    assert(p.append(", {\"v\": \"a\\") == Seq())
    assert(p.append("\"b}\", \"n\": 3}") == Seq("{\"v\": \"a\\\"b}\", \"n\": 3}"))
  }

  test("error bodies are recognized before parsing (main.js:522)") {
    assert(IncrementalJson.isError("""{"error":"Missing --bootstrap-servers"}"""))
    assert(!IncrementalJson.isError(IncrementalJson.PioneerPrefix))
  }

  test("parser over a real chunked /search response, incrementally") {
    val url = new URI(s"http://localhost:${svc.boundPort}/search?" +
      s"bootstrap-servers=${TestSpark.Sf}&topics=events&key-regex=13").toURL
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    conn.setReadTimeout(120000)
    assert(conn.getResponseCode == 200)
    val in = conn.getInputStream
    val parser = new IncrementalJson.Parser()
    val objects = Seq.newBuilder[String]
    var sawObjectBeforeEof = false
    val chunk = new Array[Byte](256) // smaller than the body: many appends
    var n = in.read(chunk)
    while (n > 0) {
      val got = parser.append(new String(chunk, 0, n, "UTF-8"))
      objects ++= got
      if (got.nonEmpty && in.available() > 0) sawObjectBeforeEof = true
      n = in.read(chunk)
    }
    val all = objects.result()
    assert(all.nonEmpty)
    // every emitted object is standalone-parseable, keys all match the regex
    all.foreach { js =>
      val node = mapper.readTree(js)
      assert(node.get("type").asText() == "result")
      assert(node.get("key").asLong() == 13L)
    }
  }

  // ---------------------------------------------------------------- C7

  private val state = ConsoleState(
    key = "13", valRegex = "k\": 8", bootstrapServers = TestSpark.Sf,
    topic = "events", relativeOffset = "-50", follow = false,
    defaultPartition = true, keyDeserializer = QueryOptions.StringDeser,
    valueDeserializer = QueryOptions.MsgpackDeser,
    schemaRegistryURL = "", partitions = "")

  test("URL state round-trips through the reference's JSON-in-location format") {
    val url = ConsoleState.toUrlState(state)
    assert(url.startsWith("?{"))
    assert(ConsoleState.fromUrlState(url).contains(state))
    // and through percent-encoding, as a browser would deliver it
    val encoded = "?" + java.net.URLEncoder.encode(url.substring(1), "UTF-8")
    assert(ConsoleState.fromUrlState(encoded).contains(state))
    assert(ConsoleState.fromUrlState("") == None)
    assert(ConsoleState.fromUrlState("?") == None)
  }

  test("searchPath maps console state to API args (value wrapped, key exact)") {
    val path = ConsoleState.searchPath(state)
    assert(path.startsWith("/search?"))
    val opts = QueryOptions.parseQueryString(path.substring("/search?".length))
    assert(opts.keyRegex.contains("13")) // exact
    assert(opts.valRegex.contains(""".*k": 8.*""")) // contains-semantics wrap
    assert(opts.printOffset.contains(10000L)) // console default (main.js:455)
    assert(opts.defaultPartition)
    assert(opts.valueDeserializer == QueryOptions.MsgpackDeser)
    assert(opts.topics == Seq("events"))
  }

  test("a console-built path drives a real search end-to-end") {
    val simple = ConsoleState(bootstrapServers = TestSpark.Sf, topic = "events",
      key = "13")
    val path = ConsoleState.searchPath(simple)
    val url = new URI(s"http://localhost:${svc.boundPort}$path").toURL
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    assert(conn.getResponseCode == 200)
    val body = scala.io.Source.fromInputStream(conn.getInputStream).mkString
    val arr = mapper.readTree(body)
    assert(arr.isArray && arr.size() > 1)
    assert(arr.get(0).get("type").asText() == "pioneer")
  }

  test("GET / serves the console with the reference's full element-id inventory") {
    val url = new URI(s"http://localhost:${svc.boundPort}/").toURL
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    assert(conn.getResponseCode == 200)
    assert(conn.getContentType.startsWith("text/html"))
    val html = scala.io.Source.fromInputStream(conn.getInputStream)("UTF-8").mkString
    // The reference's puppeteer checkIDs inventory, verbatim
    // (/root/reference/test-console.js:65-96): main UI, help buttons,
    // loading dialog, modal dialog — plus the ids our own JS drives.
    val mainUi = Seq("key", "val-regex", "bootstrap-servers",
      "schema-registry-url", "topic", "default-partition", "relative-offset",
      "follow", "key-deserializer", "value-deserializer", "partitions")
    val helpButtons = Seq("help-partition", "help-key", "help-value",
      "help-offset", "help-follow", "help-partition-csv")
    val loadingDialog = Seq("loading-partition", "loading-offset",
      "loading-timestamp", "loading-num-results")
    val modalDialog = Seq("dialog-bg", "dialog-fg", "dialog-text")
    val ours = Seq("submit", "cancel", "results", "default-partition-lookup")
    (mainUi ++ helpButtons ++ loadingDialog ++ modalDialog ++ ours).foreach { id =>
      assert(html.contains(s"""id="$id""""), s"missing element id $id")
    }
  }

  test("search-some/none: a matching key yields results, a non-matching one only the pioneer") {
    // test-console.js:99-114 headlessly: the console submits searchPath(state);
    // #results stays empty exactly when the body carries no result objects.
    def bodyFor(key: String): String = {
      val path = ConsoleState.searchPath(
        ConsoleState(bootstrapServers = TestSpark.Sf, topic = "events", key = key))
      val conn = new URI(s"http://localhost:${svc.boundPort}$path").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      assert(conn.getResponseCode == 200)
      scala.io.Source.fromInputStream(conn.getInputStream).mkString
    }
    val some = mapper.readTree(bodyFor("1.*"))
    assert((0 until some.size()).exists(i => some.get(i).get("type").asText() == "result"))
    val none = mapper.readTree(bodyFor("noresults"))
    // pioneer plus trailing offset/progress markers at most — zero results
    (0 until none.size()).foreach { i =>
      assert(none.get(i).get("type").asText() != "result", none.toString.take(200))
    }
  }
}
