package graft.core

/** The query surface of the reference engine, as a typed options model.
  *
  * Mirrors the 13 CLI options of `/root/reference/src/kbrowse/cli.clj:21-53`
  * plus the resurrected `start-timestamp` / `stop-timestamp` pair (read and
  * validated by the reference — `search.clj:152-153`, `cli.clj:65-66` — but
  * never declared in `cli-options`, so unreachable there; SURVEY.md §2.4 L5
  * resurrects it as a first-class time window).
  *
  * Validation reproduces the reference's four rules with the same error
  * strings (`cli.clj:27-30,61-66`).
  */
final case class QueryOptions(
    bootstrapServers: String,
    topics: Seq[String],
    keyDeserializer: String = QueryOptions.StringDeser,
    valueDeserializer: String = QueryOptions.StringDeser,
    schemaRegistryUrl: Option[String] = None,
    partitions: Option[Seq[Int]] = None,
    defaultPartition: Boolean = false,
    keyRegex: Option[String] = None,
    valRegex: Option[String] = None,
    relativeOffset: Option[Long] = None,
    startTimestamp: Option[Long] = None,
    stopTimestamp: Option[Long] = None,
    printOffset: Option[Long] = None,
    checkCrcs: Boolean = true,
    follow: Boolean = false)

object QueryOptions {
  val StringDeser = "org.apache.kafka.common.serialization.StringDeserializer"
  val MsgpackDeser = "graft.functions.MsgpackDeserializer"
  /** The reference's registry-backed Avro deserializer (`kafka.clj:38`);
    * offline binding parses only the wire envelope (ConfluentWire). */
  val AvroDeser = "io.confluent.kafka.serializers.KafkaAvroDeserializer"

  /** Parse `--key value` style CLI args (the reference's tools.cli surface,
    * `cli.clj:21-53`); boolean flags take no value. Unknown options throw,
    * like parse-opts' error channel (`cli.clj:59-60`).
    */
  def parse(args: Seq[String]): QueryOptions = {
    val flagOpts = Set("--default-partition", "--follow", "--help")
    var m = Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (!a.startsWith("--")) throw new IllegalArgumentException(s"Unknown option: $a")
      if (flagOpts(a)) { m += a.drop(2) -> "true"; i += 1 }
      else if (i + 1 < args.length) { m += a.drop(2) -> args(i + 1); i += 2 }
      else throw new IllegalArgumentException(s"Missing value for $a")
    }
    fromMap(m)
  }

  /** Parse an HTTP query string the way the reference does — URL-decode the
    * whole string first, then split on `&` and `=` (`core.clj:56-63`; the
    * documented consequence that regexes containing `&`/`=` cannot be
    * expressed is preserved, SURVEY.md §2.5 C1).
    */
  def parseQueryString(qs: String): QueryOptions = fromMap(queryArgs(qs))

  /** The raw query string as a key → value map, decoded before it is
    * split (the quirk above); a bare key maps to "true". The one splitter
    * behind [[parseQueryString]] and the HTTP routes. */
  def queryArgs(qs: String): Map[String, String] =
    java.net.URLDecoder.decode(qs, "UTF-8").split("&").iterator.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k -> v
        case Array(k) => k -> "true"
      }
    }.toMap

  private val known = Set(
    "bootstrap-servers", "topics", "key-deserializer", "value-deserializer",
    "schema-registry-url", "default-partition", "key-regex", "val-regex",
    "partitions", "print-offset", "check-crcs", "relative-offset",
    "start-timestamp", "stop-timestamp", "follow", "help")

  /** Numeric option parse with the 400-contract error type (a bare
    * NumberFormatException would surface as a 500 through the HTTP layer,
    * breaking the C4 error channel). */
  private def num(m: Map[String, String], key: String): Option[Long] =
    m.get(key).map { v =>
      try v.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(s"--$key expects an integer, got '$v'")
      }
    }

  def fromMap(m: Map[String, String]): QueryOptions = {
    val unknown = m.keySet -- known
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(s"""["Unknown option: ${unknown.toSeq.sorted.mkString(", ")}"]""")
    val opts = QueryOptions(
      bootstrapServers = m.getOrElse("bootstrap-servers",
        throw new IllegalArgumentException("Missing --bootstrap-servers")),
      topics = m.getOrElse("topics",
        throw new IllegalArgumentException("Missing --topics")).split(",").toSeq,
      keyDeserializer = m.getOrElse("key-deserializer", StringDeser),
      valueDeserializer = m.getOrElse("value-deserializer", StringDeser),
      schemaRegistryUrl = m.get("schema-registry-url"),
      partitions = m.get("partitions").map(_.split(",").toSeq.map { p =>
        try p.trim.toInt
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(s"--partitions expects integers, got '$p'")
        }
      }),
      defaultPartition = m.contains("default-partition"),
      keyRegex = m.get("key-regex"),
      valRegex = m.get("val-regex"),
      relativeOffset = num(m, "relative-offset"),
      startTimestamp = num(m, "start-timestamp"),
      stopTimestamp = num(m, "stop-timestamp"),
      printOffset = num(m, "print-offset"),
      checkCrcs = m.get("check-crcs").forall(_.toBoolean),
      follow = m.contains("follow"))
    validate(opts)
  }

  /** The reference's validation rules, same error strings (`cli.clj:61-66`),
    * plus one of ours: a zero `print-offset`, which the progress sampler's
    * `offset % n` would fail on mid-stream (ANSI `REMAINDER_BY_ZERO`)
    * after `/search` has committed its 200. A negative one samples the
    * multiples of its magnitude and stays allowed. */
  def validate(o: QueryOptions): QueryOptions = {
    if (o.printOffset.contains(0L))
      throw new IllegalArgumentException("--print-offset must not be 0")
    if (o.defaultPartition && o.keyRegex.isEmpty)
      throw new IllegalArgumentException("--default-partition requires --key-regex")
    if (o.defaultPartition && o.partitions.nonEmpty)
      throw new IllegalArgumentException("--default-partition / --partitions not intended for use together")
    if (o.startTimestamp.nonEmpty && o.relativeOffset.nonEmpty)
      throw new IllegalArgumentException("--start-timestamp / --relative-offset not intended for use together")
    o
  }
}
