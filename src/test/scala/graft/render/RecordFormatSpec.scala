package graft.render

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.QueryOptions
import graft.log.LogQuery

/** The record writer's two paths ([[JsonArrayRender.RecordFormat]]) held
  * to [[JsonArrayRender.renderRecord]], record by record: every record's
  * bytes are `renderRecord` of its `to_json` text, encoded as UTF-8. The
  * key and value texts are generated over the JSON grammar the byte path
  * scans, over every kind of text it hands to the fields path, and as
  * mutations of both; topics over printable ASCII, which the byte path
  * copies, and any other text. */
class RecordFormatSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)

  private val space: Gen[String] = Gen.frequency(
    6 -> Gen.const(""),
    2 -> Gen.const(" "),
    1 -> Gen.listOfN(3, Gen.oneOf(" ", "\t", "\n", "\r")).map(_.mkString))

  private def spaced(g: Gen[String]): Gen[String] =
    for { a <- space; s <- g; b <- space } yield a + s + b

  private val integer: Gen[String] = Gen.oneOf(
    Gen.chooseNum(-1000L, 1000L),
    Gen.chooseNum(-999999999999999999L, 999999999999999999L)).map(_.toString)

  private val plainString: Gen[String] = Gen.listOf(
    Gen.oneOf((' ' to '~').filterNot(c => c == '"' || c == '\\')))
    .map(cs => "\"" + cs.mkString + "\"")

  /** A text in the subset the byte path scans; `depth` bounds its nesting. */
  private def scanned(depth: Int): Gen[String] = {
    val leaf = Gen.oneOf(integer, plainString, Gen.oneOf("true", "false", "null"))
    if (depth == 0) leaf
    else Gen.frequency(
      3 -> leaf,
      1 -> Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, spaced(scanned(depth - 1))))
        .map(_.mkString("[", ",", "]")),
      1 -> Gen.choose(0, 4).flatMap(n => Gen.listOfN(n,
          Gen.zip(spaced(plainString), spaced(scanned(depth - 1)))))
        .map(_.distinctBy(_._1.trim).map { case (k, v) => k + ":" + v }.mkString("{", ",", "}")))
  }

  /** An array text nested `depth` levels deep. */
  private def nested(depth: Int): String = "[" * depth + "]" * depth

  /** Texts that are not JSON: the fields path writes them as strings. */
  private val plainTexts = Seq("user-7", "k0", "+1", "NaN", "Infinity", ".5",
    "'a'", "/* c */ 1", "# x", "x", "abc def", "héllo ✓ 日本語", "=", "]", "}", "", " ",
    "  ", "\t\n\r ", "\u0001", " \u000b1") ++
    (0 until 128).map(_.toChar).filterNot("{[\"-0123456789tfn \t\n\r".contains(_))
      .map(c => s"${c}1")

  /** JSON texts outside the scanned subset, which go to the fields
    * path. */
  private val fallbackTexts = Seq(
    "-0", " -0 ", "007", "00", "-007", "1234567890123456789", "12345678901234567890",
    "-12345678901234567890", "9223372036854775807", "-9223372036854775808",
    "1e2", "1E+2", "1.0", "-1.5e-3", "[1.5]", "{\"a\":1e2}",
    "{\"a\":1,\"a\":2}", "{\"a\":{\"b\":1,\"b\":2}}", "[{\"x\":[],\"x\":{}}]",
    "1 2", "truex", "[truex]", "nul", "tru", "[1,]", "[1 2]", "{\"a\" 1}", "{,}", "[,1]",
    "{\"a\":}", "\"q\" x", "{} {}", "[]]", "{", "[", "\"", "-", "--1", "[-]",
    "{\"a\":1,}", "{1:2}", "{'a':1}", "{\"a\":1,x\":2}", "-Infinity",
    "\"\\\"\"", "\"\\/\"", "\"\\u0041\"", "\"\\ud83d x\"", "\"\\udc00\"",
    "{\"\\ud83d\":[\"\\ud83d\\ude00 \\u00e9\"]}", "[\"a\\nb\"]", "\"\\\\\"",
    "\"a\u0001b\"", "\"\u007f\"", "[\"tab\tin\"]", "\u2028", "\"\u2028\"", "[\"é\"]",
    "\"😀\"", "😀 emoji", "\uFEFF{}", "\uFEFF12", "\uFEFFk", "\u00a0 1", "𝟙",
    "[" * 33 + "]" * 33, "{\"a\":" * 33 + "1" + "}" * 33, nested(999), nested(1000),
    nested(1001),
    (0 until 70).map(i => s""""k$i":$i""").mkString("{", ",", "}"),
    // A name past Jackson's read limit, and a text as long with none.
    "{\"" + "a" * 50001 + "\":1}", "[\"" + "a" * 50001 + "\"]")

  /** Texts at the edges of the subset that the byte path does scan. */
  private val scannedTexts = Seq("0", "-1", "123456789012345678", "-123456789012345678",
    " 12 ", "\t[ ]\n", "{}", "[]", "[{}]", "[[]]", "{\"\":\"\"}", "\"\"", "\"q\"",
    "{\"a\":[1,{\"b\":[true,false,null]},[]],\"b\":{}}", "[{\"a\":1},{\"a\":2}]",
    "{\"a\":1,\"b\":{\"a\":2}}", "{\"k\": 7}", "\"/ ~ ' < >\"",
    "[" * 32 + "]" * 32, "{\"a\":" * 31 + "[1]" + "}" * 31, "[\"" + "a" * 49996 + "\"]",
    (0 until 64).map(i => s""""k$i":$i""").mkString("{", ",", "}"))

  /** One text with a random byte inserted, removed or replaced. */
  private def mutated(text: String): Gen[String] =
    for {
      at <- Gen.choose(0, text.length)
      c <- Gen.oneOf(Gen.choose(' ', '~'), Gen.oneOf('\\', '"', '\u0001', 'é', ',', ':', ']', '}'))
      how <- Gen.choose(0, 2)
    } yield how match {
      case 0 => text.patch(at, c.toString, 0)
      case 1 => text.patch(at, "", 1)
      case _ => text.patch(at, c.toString, 1)
    }

  /** Strings that are not well-formed UTF-8: a lone continuation byte, a
    * truncated sequence, an overlong form, an encoded surrogate, a code
    * point past U+10FFFF and bytes that start no sequence. */
  private val malformed: Seq[Array[Byte]] = Seq(
    Array(0x80), Array(0x6b, 0xbf), Array(0xc3), Array(0xc3, 0x28), Array(0xe2, 0x82),
    Array(0xf0, 0x9f, 0x98), Array(0xc0, 0xaf), Array(0xe0, 0x80, 0xaf),
    Array(0xed, 0xa0, 0x80), Array(0xed, 0xbf, 0xbf), Array(0xf4, 0x90, 0x80, 0x80),
    Array(0xf5, 0x80, 0x80, 0x80), Array(0xff), Array(0x31, 0xfe), Array(0x7b, 0x7d, 0xc3))
    .map(_.map(_.toByte))

  /** A topic: any valid text, quotes, backslashes and control characters
    * included. */
  private val anyText: Gen[String] = Gen.listOf(Gen.frequency(
    8 -> Gen.choose(' ', '~'),
    2 -> Gen.choose('\u0000', '\u001f'),
    1 -> Gen.oneOf('"', '\\', '\u007f', '\u2028', '\u2029', '\uFEFF', 'é', '✓', '日'),
    1 -> Gen.const('\ud83d'))).map { cs =>
    // A high surrogate only as the first half of a pair.
    cs.mkString.replace("\ud83d", "\ud83d\ude00")
  }

  private val keyOrValue: Gen[Array[Byte]] = Gen.frequency(
    6 -> spaced(scanned(3)).map(bytes),
    2 -> Gen.oneOf(scannedTexts).map(bytes),
    2 -> Gen.oneOf(plainTexts).map(bytes),
    2 -> Gen.oneOf(fallbackTexts).map(bytes),
    3 -> scanned(3).flatMap(mutated).map(bytes),
    1 -> Gen.oneOf(fallbackTexts).flatMap(mutated).map(bytes),
    1 -> anyText.map(bytes),
    1 -> Gen.oneOf(malformed))

  private def orNull[T](g: Gen[T]): Gen[Any] = Gen.frequency(9 -> g, 1 -> Gen.const(null))

  private val record: Gen[Row] = for {
    tpe <- Gen.oneOf("result", "offset")
    topic <- orNull(Gen.frequency(4 -> Gen.oneOf("events", "clicks").map(bytes),
      2 -> anyText.map(bytes), 1 -> Gen.oneOf(malformed)))
    partition <- orNull(Gen.oneOf(Gen.choose(0, 9), Gen.oneOf(Int.MinValue, Int.MaxValue, -1)))
    offset <- orNull(Gen.oneOf(Gen.choose(0L, 100000L), Gen.oneOf(Long.MinValue, Long.MaxValue)))
    ts <- orNull(Gen.choose(-1L, 1800000000000L))
    key <- orNull(keyOrValue)
    value <- orNull(keyOrValue)
  } yield Row(tpe, topic, partition, offset, ts, key, value)

  /** The record frame of `rows`, whose BINARY topic, key and value are cast
    * to strings as the deserializer casts a Kafka source's (malformed UTF-8
    * stays in the string's bytes). */
  private def frame(rows: Seq[Row]): DataFrame = {
    val schema = StructType.fromDDL("type STRING, topic BINARY, partition INT, " +
      "offset BIGINT, timestamp BIGINT, key BINARY, value BINARY")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema).selectExpr(
      "type", "CAST(topic AS STRING) AS topic", "partition", "offset", "timestamp",
      "CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value")
  }

  /** Per record of `df`: whether it took the byte path, its bytes and the
    * reference's. */
  private def written(df: DataFrame): Seq[(Boolean, Array[Byte], Array[Byte], String)] = {
    val rows: Array[InternalRow] = df.queryExecution.toRdd.map(_.copy()).collect()
    val json = df.toJSON.collect()
    assert(rows.length == json.length)
    val format = new JsonArrayRender.RecordFormat(df.schema)
    rows.toSeq.zip(json).map { case (row, text) =>
      val out = new ByteArrayOutputStream
      format.write(row, out)
      (format.encode(row), out.toByteArray, JsonArrayRender.renderRecord(text).getBytes(UTF_8),
        text)
    }
  }

  private def assertIdentical(df: DataFrame): Seq[Boolean] =
    written(df).map { case (byteFast, got, want, text) =>
      assert(got.sameElements(want), s"byte path $byteFast on $text:\n" +
        s"${new String(got, UTF_8)}\n  !=\n${new String(want, UTF_8)}")
      byteFast
    }

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default.withSize(20), Seed(seed)).get

  test("generated records render byte-identically to renderRecord on both paths") {
    val rows = sample(Gen.listOfN(8000, record), 20261019L)
    val paths = assertIdentical(frame(rows))
    assert(paths.count(identity) > 1000, "too few records took the byte path")
    assert(paths.count(!_) > 1000, "too few records took the fields path")
  }

  /** A record whose key and value are `key` and `value` and whose other
    * fields are plain. */
  private def kv(key: String, value: String): Row =
    Row("result", bytes("events"), 3, 7L, 1704067200000L, bytes(key), bytes(value))

  test("the scanned subset and printable-ASCII topics take the byte path") {
    val texts = scannedTexts ++ sample(Gen.listOfN(500, spaced(scanned(4))), 7L)
    val paths = assertIdentical(frame(texts.map(t => kv(t, t))))
    texts.zip(paths).foreach { case (t, byteFast) => assert(byteFast, t) }
    val topics = Seq("", " ", "a b", "~!#$%&'()*+,-./09:;<=>?@AZ[]^_`az{|}") ++
      sample(Gen.listOfN(200, plainString.map(q => q.substring(1, q.length - 1))), 8L)
    val topicPaths = assertIdentical(frame(topics.map(t =>
      Row("result", bytes(t), 0, 1L, 2L, bytes("1"), bytes("[]")))))
    topics.zip(topicPaths).foreach { case (t, byteFast) => assert(byteFast, t) }
  }

  test("every fallback text goes to the fields path, record by record") {
    val texts = fallbackTexts ++ plainTexts
    val paths = assertIdentical(frame(texts.map(t => kv("0", t)) ++ texts.map(t => kv(t, "[]"))))
    (texts ++ texts).zip(paths).foreach { case (t, byteFast) => assert(!byteFast, t) }
    val topics = Seq("a\"b", "a\\b", "\u0000", "tab\t", "\u007f", "tópic", "日本", "😀", "\uFEFFt")
    val topicPaths = assertIdentical(frame(topics.map(t =>
      Row("result", bytes(t), 0, 1L, 2L, bytes("1"), bytes("[]")))))
    topics.zip(topicPaths).foreach { case (t, byteFast) => assert(!byteFast, t) }
    val broken = assertIdentical(frame(malformed.flatMap(b => Seq(
      Row("result", b, 0, 1L, 2L, bytes("1"), bytes("[]")),
      Row("result", bytes("t"), 0, 1L, 2L, b, bytes("[]")),
      Row("result", bytes("t"), 0, 1L, 2L, bytes("{}"), b)))))
    assert(!broken.exists(identity))
  }

  test("texts nested 999, 1000 and 1001 deep: only one that fits inside a record parses") {
    val texts = Seq(999, 1000, 1001).map(nested)
    val out = written(frame(texts.map(t => kv(t, t))))
    val reader = new com.fasterxml.jackson.databind.ObjectMapper()
    val values = out.zip(texts).map { case ((byteFast, got, want, _), t) =>
      assert(!byteFast && got.sameElements(want), t.length)
      reader.readTree(new String(got, UTF_8).stripPrefix(", ")).get("value")
    }
    assert(values.head.isArray)
    assert(values.tail.map(v => v.isTextual && texts.contains(v.asText)) == Seq(true, true))
  }

  test("ints, longs and a record of nulls on the byte path") {
    val rows = Seq(
      Row("result", null, null, null, null, null, null),
      Row("offset", bytes("t"), Int.MinValue, Long.MinValue, Long.MaxValue, null, null),
      Row("result", bytes("t"), Int.MaxValue, 0L, -1L, bytes("-9"), bytes("9")))
    assert(assertIdentical(frame(rows)).forall(identity))
    val allNull = frame(Seq(Row(null, null, null, null, null, null, null)))
    assert(assertIdentical(allNull) == Seq(true))
    assert(new String(written(allNull).head._2, UTF_8) == ", { }")
  }

  test("every record of the sf0.1 events dump takes the byte path") {
    val sf = new java.io.File(new java.io.File(TestSpark.Sf).getParentFile, "sf0.1").getPath
    val opts = QueryOptions.parseQueryString(s"bootstrap-servers=$sf&topics=events")
    val df = LogQuery.stream(spark, opts.bootstrapServers, opts)
    val schema = df.schema
    val (records, fallbacks) = df.queryExecution.toRdd.mapPartitions { rows =>
      val format = new JsonArrayRender.RecordFormat(schema)
      var n, f = 0L
      rows.foreach { r => n += 1; if (!format.encode(r)) f += 1 }
      Iterator((n, f))
    }.collect().reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    assert(records == spark.read.parquet(s"$sf/events.parquet").count())
    assert(records > 50000)
    assert(fallbacks == 0)
  }
}
