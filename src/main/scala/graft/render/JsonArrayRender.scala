package graft.render

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream,
  OutputStream, StringWriter}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.core.{JsonFactoryBuilder, JsonGenerator, StreamReadConstraints,
  StreamWriteConstraints}
import com.fasterxml.jackson.core.io.SerializedString
import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.core.util.DefaultIndenter
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.io.LZ4CompressionCodec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{col, struct, to_json}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The reference's chunked JSON-array output format (S6/P7):
  *
  *   `[` `{"type":"pioneer"}` `, {record}`* `]`
  *
  * The pioneer sentinel exists because JSON forbids trailing commas in a
  * stream whose length is unknown: every real record can then safely
  * PREPEND a comma (`/root/reference/src/kbrowse/search.clj:25-32`).
  * Records are pretty-printed (`search.clj:68-72`), and string key/value
  * fields are replaced by their parsed JSON when they parse — the
  * try-parse-JSON record semantic (`search.clj:44-66`): `"107"` becomes the
  * number 107, `"{\"k\":1}"` becomes a nested object, `"k0"` stays a string.
  *
  * Driver-side render, one pass per record: [[partitions]] ships each
  * partition's rows as Spark's own `UnsafeRow` bytes, one partition at a
  * time, so the result set is never materialized on the driver — the same
  * no-server-side-buffering property as the reference's streaming loop.
  * The request thread writes each row once, straight into its final
  * `", " + pretty JSON` UTF-8 bytes ([[RecordFormat]]). A row whose
  * key/value JSON stays within a subset Jackson prints back token for
  * token is copied byte by byte into the printer's layout, with no parse
  * tree and no generator; any other row is written whole by Jackson's tree
  * parser and pretty printer. [[renderRecord]], over the row's `to_json`
  * text, is the reference both are held to.
  *
  * Output goes to a chunk sink: each call is one chunk (one HTTP chunk on
  * the routes), a fresh array the sink may keep. `[`, the pioneer and `]`
  * are chunks of their own. Records are appended whole to a buffer that is
  * passed on after the first record, at the end of each partition, and
  * before the record that would take it past the chunk size — so a chunk
  * holds whole records, and a single record longer than the chunk size is
  * a chunk of its own.
  */
object JsonArrayRender {
  val Pioneer = """{"type":"pioneer"}"""

  /** The `/search` chunk size. The JDK `HttpServer` cuts any longer write
    * into 4096-byte chunks (`sun.net.httpserver.ChunkedOutputStream`),
    * which would split records. */
  val ChunkBytes = 4096

  /** Reads nest at most one level less than the writers may write: a
    * key/value text is written one level deep inside its record, so one
    * nested as deep as the write limit fails its parse and is written as
    * a plain string, like any text Jackson cannot read. */
  private val mapper = {
    val writeDepth = StreamWriteConstraints.defaults().getMaxNestingDepth
    new ObjectMapper(new JsonFactoryBuilder().streamReadConstraints(
      StreamReadConstraints.builder().maxNestingDepth(writeDepth - 1).build()).build())
  }
  // Immutable and thread-safe: one for every record of every request.
  private val prettyWriter = mapper.writerWithDefaultPrettyPrinter()
  /** The same printer over UTF-8 bytes. Combining surrogate pairs writes a
    * supplementary character (an emoji) as its four UTF-8 bytes, as the
    * char-based [[prettyWriter]] does, not as two escaped surrogates. */
  private val recordWriter = prettyWriter
    .`with`(JsonWriteFeature.COMBINE_UNICODE_SURROGATES_IN_UTF8)
    .without(JsonGenerator.Feature.AUTO_CLOSE_TARGET)

  private def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  private val Comma = utf8(", ")
  private val Escape = UTF8String.fromString("\\u")

  // The byte path's layout: DefaultPrettyPrinter's, with its line break.
  private val Eol = utf8(DefaultIndenter.SYS_LF)
  private val OpenRecord = utf8(", {")
  private val CloseRecord = Array.concat(Eol, utf8("}"))
  private val CloseEmpty = utf8(" }")
  private val Colon = utf8(" : ")
  private val EmptyObject = utf8("{ }")
  private val EmptyArray = utf8("[ ]")
  private val OpenArray = utf8("[ ")
  private val CloseArray = utf8(" ]")
  private val True = utf8("true")
  private val False = utf8("false")
  private val Null = utf8("null")
  private val MaxDigits = 18
  private val MaxDepth = 32
  private val MaxKeys = 64
  /** Jackson's read limit on a name; a longer one fails the parse, and a
    * text this short holds no string past its string limit either. */
  private val MaxScanned = StreamReadConstraints.DEFAULT_MAX_NAME_LEN

  /** Try-parse a JSON-ish text the way cheshire's parse-string does: any
    * valid JSON value (object, array, number, bool, null) replaces the
    * string; anything unparseable keeps the original. */
  private def tryParse(text: String): Option[com.fasterxml.jackson.databind.JsonNode] =
    try Option(mapper.readTree(text)).filter(!_.isMissingNode) // readTree("") is Missing, not an error
    catch { case _: Exception => None }

  /** Render one record's compact JSON (a `to_json` row) as the pretty,
    * comma-prefixed chunk the reference emits. The served routes write
    * records from their rows instead ([[RecordFormat]]); this is the
    * reference they are held to, byte for byte. */
  def renderRecord(rowJson: String): String = {
    val node = mapper.readTree(rowJson)
    node match {
      case obj: ObjectNode =>
        for (f <- Seq("key", "value")) {
          val v = obj.get(f)
          if (v != null && v.isTextual)
            tryParse(v.asText()).foreach(parsed => obj.set[ObjectNode](f, parsed))
        }
      case _ => ()
    }
    ", " + prettyWriter.writeValueAsString(node)
  }

  /** Stream the record frame `df` through `out` as one chunked JSON array
    * (`/search`, the CLI), records coalesced into chunks of at most
    * [[ChunkBytes]]. Throws IllegalArgumentException, before any output,
    * on a column that is not string, int or long. */
  def render(df: DataFrame, out: Array[Byte] => Unit): Unit = {
    val format = new RecordFormat(df.schema)
    // `select` gives each render a query execution of its own, as the
    // verbatim route's `to_json` does: a frame may be rendered again.
    framed(out)(stream(partitions(df.select(col("*"))), out, ChunkBytes)(format.write))
  }

  /** Same array framing with the rows VERBATIM — the `/pipeline`
    * analytics stream, where rows are data, not log records, so the
    * key/value try-parse must not apply: each row is its `to_json` text,
    * built in the plan, one row per chunk. One copy of the pioneer/comma
    * framing contract serves both routes (the console's incremental
    * parser depends on it). */
  def renderVerbatim(df: DataFrame, out: Array[Byte] => Unit): Unit =
    framed(out) {
      stream(partitions(df.select(to_json(struct(col("*"))))), out, 0) { (row, buf) =>
        buf.write(Comma)
        row.getUTF8String(0).writeTo(buf)
      }
    }

  /** The record chunks of `df` without the array framing, one record per
    * chunk: the body of one follow micro-batch, whose array stays open
    * across batches. */
  def renderRecords(df: DataFrame, out: Array[Byte] => Unit): Unit = {
    val format = new RecordFormat(df.schema)
    stream(partitions(df.select(col("*"))), out, 0)(format.write)
  }

  private def framed(out: Array[Byte] => Unit)(records: => Unit): Unit = {
    out(utf8("["))
    out(utf8(Pioneer))
    records
    out(utf8("]"))
  }

  /** Writes each row of `parts` into the pending chunk with `write` and
    * passes chunks to `out` by the rules in the header. */
  private def stream(parts: Iterator[Iterator[InternalRow]], out: Array[Byte] => Unit,
      chunkBytes: Int)(write: (InternalRow, OutputStream) => Unit): Unit = {
    val pending = new Pending
    var first = true
    parts.foreach { rows =>
      rows.foreach { row =>
        val start = pending.size
        write(row, pending)
        if (first) { out(pending.take(pending.size)); first = false }
        else if (pending.size > chunkBytes) {
          if (start > 0) out(pending.take(start))
          if (pending.size > chunkBytes) out(pending.take(pending.size))
        }
      }
      if (pending.size > 0) out(pending.take(pending.size))
    }
  }

  /** The chunk being filled. */
  private final class Pending extends ByteArrayOutputStream(2 * ChunkBytes) {
    /** The first `n` bytes as a new array; the rest move to the front. */
    def take(n: Int): Array[Byte] = {
      val chunk = java.util.Arrays.copyOf(buf, n)
      System.arraycopy(buf, n, buf, 0, count - n)
      count -= n
      chunk
    }
  }

  /** Writes a row of a record frame as `", "` and its pretty JSON, with the
    * bytes `renderRecord` makes of the row's `to_json` text, encoded as
    * UTF-8: null fields omitted, string `key`/`value` try-parsed.
    *
    * The byte path ([[encode]]) writes a row's final bytes into one reused
    * buffer, in one pass over its fields:
    *  - field names and separators are byte templates made once from the
    *    schema, in `DefaultPrettyPrinter`'s layout;
    *  - ints and longs are ASCII digits;
    *  - a string field is copied between quotes when it is printable
    *    ASCII without a quote or backslash, which Jackson writes unescaped;
    *  - a `key` or `value` is scanned once in a subset of JSON that Jackson
    *    reads and prints back token for token, and its tokens are copied
    *    into the printer's layout: object entries one per line, indented
    *    two spaces per object level; arrays inline as `[ a, b ]`; `{ }`
    *    and `[ ]` when empty. The subset: objects without duplicate keys,
    *    arrays, `true`, `false`, `null`, integers of at most [[MaxDigits]]
    *    digits without a leading zero and other than `-0`, strings of
    *    printable ASCII without a backslash, nothing but whitespace after
    *    the value, at most [[MaxDepth]] containers deep, [[MaxKeys]] keys
    *    in the open objects and [[MaxScanned]] bytes.
    *
    * Any other row goes whole to the fields path ([[fields]]), which
    * parses each `key`/`value` to a Jackson tree and prints the record with
    * a new pretty generator (one reused across records writes the
    * printer's root separator before every record after the first). It
    * takes a float, an escape, a duplicate key, trailing tokens, deeper
    * nesting, a `key` or `value` that is not JSON (`user-7`, an empty text;
    * the fields path writes it as a string) and any string with a byte
    * that needs an escape or is not ASCII (a malformed UTF-8 one decodes to
    * U+FFFD in the row's text).
    *
    * On that path a `\uXXXX` escape in a parsed key or value can stand for
    * a lone surrogate. The char-based printer writes it as is and the
    * encoding turns it into `?`, while the UTF-8 generator fails on it or
    * escapes it. So a record whose key or value holds `\u` is written by
    * the char-based printer and then encoded. */
  private[render] final class RecordFormat(schema: StructType) {
    private val types: Array[DataType] = schema.fields.map { f =>
      f.dataType match {
        case _: StringType | IntegerType | LongType => f.dataType
        case t => throw new IllegalArgumentException(s"record column ${f.name} is " +
          s"${t.simpleString}: records hold string, int and long columns")
      }
    }
    private val names = schema.fields.map(f => new SerializedString(f.name))
    private val parsed = schema.fields.map(f => f.name == "key" || f.name == "value")
    /** Per field: its line, indent and quoted name, then the separator. */
    private val heads =
      names.map(n => Array.concat(Eol, utf8("  \""), n.asQuotedUTF8(), utf8("\""), Colon))

    /** The byte path's output: `size` bytes of `buf`. */
    private var buf = new Array[Byte](1024)
    private var size = 0
    /** The text being written: `len` bytes at `start` of `base`; `p` is the
      * scanner's position in it. */
    private var base: AnyRef = _
    private var start = 0L
    private var len = 0
    private var p = 0
    /** The keys of the objects the scanner is in, as `[from, to)` ranges of
      * the text; `keys` of them are in use. */
    private val keyFrom = new Array[Int](MaxKeys)
    private val keyTo = new Array[Int](MaxKeys)
    private var keys = 0
    private val digitBytes = new Array[Byte](20)

    def write(row: InternalRow, out: OutputStream): Unit =
      if (encode(row)) out.write(buf, 0, size)
      else {
        out.write(Comma)
        if (parsed.indices.exists(i =>
            parsed(i) && !row.isNullAt(i) && row.getUTF8String(i).contains(Escape))) {
          val chars = new StringWriter
          fields(row, prettyWriter.createGenerator(chars))
          out.write(utf8(chars.toString))
        } else fields(row, recordWriter.createGenerator(out))
      }

    /** Writes `row` by the byte path into `buf`; false if the row needs
      * the fields path. */
    private[render] def encode(row: InternalRow): Boolean = {
      size = 0
      put(OpenRecord)
      var first = true
      var i = 0
      while (i < types.length) {
        if (!row.isNullAt(i)) {
          if (!first) put(',')
          first = false
          put(heads(i))
          types(i) match {
            case IntegerType => digits(row.getInt(i).toLong)
            case LongType => digits(row.getLong(i))
            case _ =>
              load(row.getUTF8String(i))
              if (!(if (parsed(i)) keyOrValue() else quoted())) return false
          }
        }
        i += 1
      }
      put(if (first) CloseEmpty else CloseRecord)
      true
    }

    private def room(n: Int): Unit =
      if (size + n > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(2 * buf.length, size + n))

    private def put(b: Int): Unit = {
      room(1)
      buf(size) = b.toByte
      size += 1
    }

    private def put(bytes: Array[Byte]): Unit = {
      room(bytes.length)
      System.arraycopy(bytes, 0, buf, size, bytes.length)
      size += bytes.length
    }

    private def digits(v: Long): Unit =
      if (v == Long.MinValue) put(utf8(v.toString))
      else {
        var x = math.abs(v)
        var k = digitBytes.length
        while ({ k -= 1; digitBytes(k) = ('0' + x % 10).toByte; x /= 10; x != 0 }) ()
        if (v < 0) { k -= 1; digitBytes(k) = '-' }
        room(digitBytes.length - k)
        System.arraycopy(digitBytes, k, buf, size, digitBytes.length - k)
        size += digitBytes.length - k
      }

    private def load(s: UTF8String): Unit = {
      base = s.getBaseObject
      start = s.getBaseOffset
      len = s.numBytes
      p = 0
    }

    /** The text's byte at `i` as 0-255, or -1 past its end. */
    private def at(i: Int): Int = if (i < len) Platform.getByte(base, start + i) & 0xff else -1

    /** Copies the text's bytes `[from, to)`. */
    private def copy(from: Int, to: Int): Unit = {
      room(to - from)
      Platform.copyMemory(base, start + from, buf, Platform.BYTE_ARRAY_OFFSET + size, to - from)
      size += to - from
    }

    /** The whole text as a JSON string; false unless it is printable ASCII
      * without a quote or backslash, which needs no escape. */
    private def quoted(): Boolean = {
      var i = 0
      var b = at(i)
      while (b >= 0x20 && b <= 0x7e && b != '"' && b != '\\') { i += 1; b = at(i) }
      i == len && { put('"'); copy(0, len); put('"'); true }
    }

    /** A `key` or `value` text in the scanned subset, copied into the
      * printer's layout. */
    private def keyOrValue(): Boolean = len <= MaxScanned && {
      keys = 0
      skipSpace()
      value(1, 0) && { skipSpace(); p == len }
    }

    private def skipSpace(): Unit = {
      var b = at(p)
      while (b == ' ' || b == '\n' || b == '\r' || b == '\t') { p += 1; b = at(p) }
    }

    /** One value at `p`, inside `level` objects and `depth` containers. */
    private def value(level: Int, depth: Int): Boolean = {
      val b = at(p)
      if (b == '{') depth < MaxDepth && obj(level + 1, depth + 1)
      else if (b == '[') depth < MaxDepth && arr(level, depth + 1)
      else if (b == '"') str()
      else if (b == 't') word(True)
      else if (b == 'f') word(False)
      else if (b == 'n') word(Null)
      else int()
    }

    private def obj(level: Int, depth: Int): Boolean = {
      p += 1
      skipSpace()
      if (at(p) == '}') { p += 1; put(EmptyObject); return true }
      put('{')
      val opened = keys
      var more = true
      while (more) {
        newline(level)
        val key = p
        if (!str() || !fresh(opened, key + 1, p - 1)) return false
        skipSpace()
        if (at(p) != ':') return false
        p += 1
        skipSpace()
        put(Colon)
        if (!value(level, depth)) return false
        skipSpace()
        if (at(p) == ',') { p += 1; skipSpace(); put(',') }
        else if (at(p) == '}') { p += 1; more = false }
        else return false
      }
      keys = opened
      newline(level - 1)
      put('}')
      true
    }

    private def arr(level: Int, depth: Int): Boolean = {
      p += 1
      skipSpace()
      if (at(p) == ']') { p += 1; put(EmptyArray); return true }
      put(OpenArray)
      var more = true
      while (more) {
        if (!value(level, depth)) return false
        skipSpace()
        if (at(p) == ',') { p += 1; skipSpace(); put(Comma) }
        else if (at(p) == ']') { p += 1; more = false }
        else return false
      }
      put(CloseArray)
      true
    }

    private def newline(level: Int): Unit = {
      put(Eol)
      var i = 0
      while (i < level) { put(' '); put(' '); i += 1 }
    }

    /** Records the key `[from, to)` of the object opened at `opened`;
      * false if that object has it already or the key table is full. */
    private def fresh(opened: Int, from: Int, to: Int): Boolean = {
      var k = opened
      while (k < keys) {
        if (keyTo(k) - keyFrom(k) == to - from) {
          var i = 0
          while (i < to - from && at(keyFrom(k) + i) == at(from + i)) i += 1
          if (i == to - from) return false
        }
        k += 1
      }
      keys < MaxKeys && {
        keyFrom(keys) = from
        keyTo(keys) = to
        keys += 1
        true
      }
    }

    /** A string of printable ASCII without a backslash, copied. */
    private def str(): Boolean = at(p) == '"' && {
      val from = p
      p += 1
      var b = at(p)
      while (b >= 0x20 && b <= 0x7e && b != '"' && b != '\\') { p += 1; b = at(p) }
      b == '"' && { p += 1; copy(from, p); true }
    }

    /** `true`, `false` or `null`; what may follow is the caller's check. */
    private def word(w: Array[Byte]): Boolean = {
      var i = 0
      while (i < w.length && at(p + i) == w(i)) i += 1
      i == w.length && { p += w.length; put(w); true }
    }

    /** An integer of 1 to [[MaxDigits]] digits, no leading zero, not `-0`;
      * a fraction or exponent fails the caller's check of what follows. */
    private def int(): Boolean = {
      val from = p
      if (at(p) == '-') p += 1
      val first = p
      if (at(p) == '0') p += 1
      else while (at(p) >= '0' && at(p) <= '9') p += 1
      val n = p - first
      n >= 1 && n <= MaxDigits && !(n == 1 && at(first) == '0' && first > from) &&
        { copy(from, p); true }
    }

    private def fields(row: InternalRow, g: JsonGenerator): Unit = {
      g.writeStartObject()
      var i = 0
      while (i < types.length) {
        if (!row.isNullAt(i)) {
          g.writeFieldName(names(i))
          types(i) match {
            case IntegerType => g.writeNumber(row.getInt(i))
            case LongType => g.writeNumber(row.getLong(i))
            case _ =>
              val s = row.getUTF8String(i).toString
              (if (parsed(i)) tryParse(s) else None) match {
                case Some(node) => g.writeTree(node)
                case None => g.writeString(s)
              }
          }
        }
        i += 1
      }
      g.writeEndObject()
      g.close()
    }
  }

  /** The rows of `df`, one iterator per partition, streamed with these
    * invariants:
    *  - partition order: partition p's rows, in their in-partition order,
    *    come before partition p+1's, so a global sort streams sorted;
    *  - one job per partition, each a single task, run one at a time on
    *    the calling thread — in its job group, so a deadline or a client
    *    cancel kills the running job and fails any later one;
    *  - one partition held at a time: a job's rows arrive as one
    *    compressed byte array and are decoded as they are consumed, and
    *    the next job starts only when the consumer asks for its rows (a
    *    consumer that stops, e.g. on a broken pipe, starts no further
    *    job).
    * The SQL-execution scope covers planning and executing the plan up to
    * its final stage (AQE's stage jobs), not the per-partition jobs. */
  private def partitions(df: DataFrame): Iterator[Iterator[InternalRow]] = {
    val qe = df.queryExecution
    val fields = df.schema.length
    val rdd = SQLExecution.withNewExecutionId(qe, Some("render"))(qe.executedPlan.execute())
    Iterator.range(0, rdd.getNumPartitions).map { p =>
      decode(rdd.sparkContext.runJob(rdd, PartitionRows, Seq(p)).head, fields)
    }
  }

  /** [[PartitionRows]]'s bytes back as rows, as Spark's `collect` decodes
    * them. */
  private def decode(bytes: Array[Byte], fields: Int): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private val in = new DataInputStream(new LZ4CompressionCodec(SparkEnv.get.conf)
        .compressedInputStream(new ByteArrayInputStream(bytes)))
      private var rowBytes = in.readInt()
      def hasNext: Boolean = rowBytes >= 0
      def next(): InternalRow = {
        if (rowBytes < 0) throw new NoSuchElementException("end of partition")
        val buf = new Array[Byte](rowBytes)
        in.readFully(buf)
        val row = new UnsafeRow(fields)
        row.pointTo(buf, rowBytes)
        rowBytes = in.readInt()
        if (rowBytes < 0) in.close()
        row
      }
    }
}

/** The per-partition job of [[JsonArrayRender]]: one partition's rows in
  * Spark's `collect` encoding — each `UnsafeRow` as its size and its bytes,
  * `-1` after the last, LZ4-compressed. A top-level object, not a closure:
  * `runJob` neither runs the closure cleaner nor a serialization check on
  * it. */
private[render] object PartitionRows
    extends ((TaskContext, Iterator[InternalRow]) => Array[Byte]) with Serializable {
  def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(
      new LZ4CompressionCodec(SparkEnv.get.conf).compressedOutputStream(bytes))
    val scratch = new Array[Byte](4096)
    rows.foreach { r =>
      val row = r.asInstanceOf[UnsafeRow]
      out.writeInt(row.getSizeInBytes)
      row.writeToStream(out, scratch)
    }
    out.writeInt(-1)
    out.close()
    bytes.toByteArray
  }
}
