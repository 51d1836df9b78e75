package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** The reference's option parsing + validation rules, same error strings
  * (`/root/reference/src/kbrowse/cli.clj:27-66`), plus the query-string
  * decode-then-split quirk (`core.clj:56-63`). */
class QueryOptionsSpec extends AnyFunSuite {

  private val base = Map("bootstrap-servers" -> "b:9092", "topics" -> "t")

  test("missing --bootstrap-servers rejected") {
    val e = intercept[IllegalArgumentException](QueryOptions.fromMap(Map("topics" -> "t")))
    assert(e.getMessage.contains("bootstrap-servers"))
  }

  test("missing --topics rejected") {
    val e = intercept[IllegalArgumentException](
      QueryOptions.fromMap(Map("bootstrap-servers" -> "b")))
    assert(e.getMessage.contains("topics"))
  }

  test("--default-partition requires --key-regex") {
    val e = intercept[IllegalArgumentException](
      QueryOptions.fromMap(base + ("default-partition" -> "true")))
    assert(e.getMessage == "--default-partition requires --key-regex")
  }

  test("--default-partition xor --partitions") {
    val e = intercept[IllegalArgumentException](QueryOptions.fromMap(
      base ++ Map("default-partition" -> "true", "key-regex" -> "k", "partitions" -> "1")))
    assert(e.getMessage == "--default-partition / --partitions not intended for use together")
  }

  test("--start-timestamp xor --relative-offset") {
    val e = intercept[IllegalArgumentException](QueryOptions.fromMap(
      base ++ Map("start-timestamp" -> "1", "relative-offset" -> "2")))
    assert(e.getMessage == "--start-timestamp / --relative-offset not intended for use together")
  }

  test("--print-offset 0 rejected (offset % 0 would fail mid-stream); a negative one stays") {
    val e = intercept[IllegalArgumentException](
      QueryOptions.fromMap(base + ("print-offset" -> "0")))
    assert(e.getMessage == "--print-offset must not be 0")
    val cli = intercept[IllegalArgumentException](QueryOptions.parse(Seq(
      "--bootstrap-servers", "b", "--topics", "t", "--print-offset", "0")))
    assert(cli.getMessage == e.getMessage)
    assert(QueryOptions.fromMap(base + ("print-offset" -> "-5")).printOffset.contains(-5L))
  }

  test("unknown option rejected") {
    intercept[IllegalArgumentException](QueryOptions.fromMap(base + ("frobnicate" -> "1")))
  }

  test("malformed numeric options surface as argument errors (the 400 channel)") {
    val e1 = intercept[IllegalArgumentException](
      QueryOptions.fromMap(base + ("relative-offset" -> "abc")))
    assert(e1.getMessage.contains("relative-offset"))
    val e2 = intercept[IllegalArgumentException](
      QueryOptions.fromMap(base + ("partitions" -> "3,x")))
    assert(e2.getMessage.contains("partitions"))
  }

  test("CLI args parse: flags take no value, pairs do") {
    val o = QueryOptions.parse(Seq("--bootstrap-servers", "b", "--topics", "a,b",
      "--key-regex", "k.*", "--follow"))
    assert(o.topics == Seq("a", "b"))
    assert(o.keyRegex.contains("k.*"))
    assert(o.follow)
  }

  test("query-string parse: URL-decode happens BEFORE splitting (the quirk)") {
    // %26 decodes to '&' first, so the regex fragment is torn apart —
    // the reference's documented limitation, preserved.
    val o = QueryOptions.parseQueryString(
      "bootstrap-servers=b&topics=t&key-regex=a%26val-regex=b")
    assert(o.keyRegex.contains("a"))
    assert(o.valRegex.contains("b"))
  }

  test("query-string parse: plain fields round-trip") {
    val o = QueryOptions.parseQueryString(
      "bootstrap-servers=b%3A9092&topics=x,y&relative-offset=-5&print-offset=100")
    assert(o.bootstrapServers == "b:9092")
    assert(o.topics == Seq("x", "y"))
    assert(o.relativeOffset.contains(-5L))
    assert(o.printOffset.contains(100L))
  }
}
