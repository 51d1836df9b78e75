package graft.render

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream,
  OutputStream, StringWriter}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.core.io.SerializedString
import com.fasterxml.jackson.core.json.JsonWriteFeature
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
  * `", " + pretty JSON` UTF-8 bytes; no JSON text is built and parsed back.
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

  private val mapper = new ObjectMapper()
  // Immutable and thread-safe: one for every record of every request.
  private val prettyWriter = mapper.writerWithDefaultPrettyPrinter()
  /** The same printer over UTF-8 bytes. Combining surrogate pairs writes a
    * supplementary character (an emoji) as its four UTF-8 bytes, as the
    * char-based [[prettyWriter]] does, not as two escaped surrogates. */
  private val recordWriter = prettyWriter
    .`with`(JsonWriteFeature.COMBINE_UNICODE_SURROGATES_IN_UTF8)
    .without(JsonGenerator.Feature.AUTO_CLOSE_TARGET)

  private val Comma = ", ".getBytes(StandardCharsets.UTF_8)
  private val Escape = UTF8String.fromString("\\u")

  private def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

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
    * UTF-8: null fields omitted, string `key`/`value` try-parsed. One
    * generator per record: a generator reused across records writes the
    * printer's root separator before every record after the first.
    *
    * A row's strings are valid UTF-8, but a `\uXXXX` escape in a parsed
    * key or value can stand for a lone surrogate. The char-based printer
    * writes it as is and the encoding turns it into `?`, while the UTF-8
    * generator fails on it or escapes it. So a record whose key or value
    * holds `\u` is written by the char-based printer and then encoded. */
  private final class RecordFormat(schema: StructType) {
    private val types: Array[DataType] = schema.fields.map { f =>
      f.dataType match {
        case _: StringType | IntegerType | LongType => f.dataType
        case t => throw new IllegalArgumentException(s"record column ${f.name} is " +
          s"${t.simpleString}: records hold string, int and long columns")
      }
    }
    private val names = schema.fields.map(f => new SerializedString(f.name))
    private val parsed = schema.fields.map(f => f.name == "key" || f.name == "value")

    def write(row: InternalRow, out: OutputStream): Unit = {
      out.write(Comma)
      if (parsed.indices.exists(i =>
          parsed(i) && !row.isNullAt(i) && row.getUTF8String(i).contains(Escape))) {
        val chars = new StringWriter
        fields(row, prettyWriter.createGenerator(chars))
        out.write(utf8(chars.toString))
      } else fields(row, recordWriter.createGenerator(out))
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
