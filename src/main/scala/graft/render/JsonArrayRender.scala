package graft.render

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.io.LZ4CompressionCodec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{col, struct, to_json}

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
  * Driver-side render: [[rows]] streams the result one partition at a
  * time, so the result set is never materialized on the driver — the same
  * no-server-side-buffering property as the reference's streaming loop.
  */
object JsonArrayRender {
  val Pioneer = """{"type":"pioneer"}"""

  private val mapper = new ObjectMapper()
  // Immutable and thread-safe: one for every record of every request.
  private val prettyWriter = mapper.writerWithDefaultPrettyPrinter()

  /** Try-parse a JSON-ish text the way cheshire's parse-string does: any
    * valid JSON value (object, array, number, bool, null) replaces the
    * string; anything unparseable keeps the original. */
  private def tryParse(text: String): Option[com.fasterxml.jackson.databind.JsonNode] =
    try Option(mapper.readTree(text)).filter(!_.isMissingNode) // readTree("") is Missing, not an error
    catch { case _: Exception => None }

  /** Render one record's compact JSON (a [[rows]] row) as the pretty,
    * comma-prefixed chunk the reference emits. */
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

  /** Stream the DataFrame through `out` as one chunked JSON array. */
  def render(df: DataFrame, out: String => Unit): Unit =
    renderWith(df, out, renderRecord)

  /** Same array framing with the rows VERBATIM — the `/pipeline`
    * analytics stream, where rows are data, not log records, so the
    * key/value try-parse must not apply. One copy of the
    * pioneer/comma framing contract serves both routes (the console's
    * incremental parser depends on it). */
  def renderVerbatim(df: DataFrame, out: String => Unit): Unit =
    renderWith(df, out, row => ", " + row)

  /** The record chunks of `df` without the array framing: the body of one
    * follow micro-batch, whose array stays open across batches. */
  def renderRecords(df: DataFrame, out: String => Unit): Unit =
    rows(df).foreach(row => out(renderRecord(row)))

  private def renderWith(df: DataFrame, out: String => Unit,
      perRecord: String => String): Unit = {
    out("[")
    out(Pioneer)
    rows(df).foreach(row => out(perRecord(row)))
    out("]")
  }

  /** The rows of `df` as compact JSON text (`to_json` over all columns,
    * built in the plan), streamed with these invariants:
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
  def rows(df: DataFrame): Iterator[String] = {
    val json = df.select(to_json(struct(col("*"))))
    val qe = json.queryExecution
    val rdd = SQLExecution.withNewExecutionId(qe, Some("render"))(qe.executedPlan.execute())
    Iterator.range(0, rdd.getNumPartitions).flatMap { p =>
      decode(rdd.sparkContext.runJob(rdd, PartitionJson, Seq(p)).head)
    }
  }

  private def decode(bytes: Array[Byte]): Iterator[String] = new Iterator[String] {
    private val in = new DataInputStream(new LZ4CompressionCodec(SparkEnv.get.conf)
      .compressedInputStream(new ByteArrayInputStream(bytes)))
    private var len = in.readInt()
    def hasNext: Boolean = len >= 0
    def next(): String = {
      if (len < 0) throw new NoSuchElementException("end of partition")
      val buf = new Array[Byte](len)
      in.readFully(buf)
      len = in.readInt()
      if (len < 0) in.close()
      new String(buf, StandardCharsets.UTF_8)
    }
  }
}

/** The per-partition job of [[JsonArrayRender.rows]]: one partition's JSON
  * texts, each as a length-prefixed UTF-8 string and `-1` after the last,
  * LZ4-compressed. A top-level object, not a closure: `runJob` neither
  * runs the closure cleaner nor a serialization check on it. */
private[render] object PartitionJson
    extends ((TaskContext, Iterator[InternalRow]) => Array[Byte]) with Serializable {
  def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(
      new LZ4CompressionCodec(SparkEnv.get.conf).compressedOutputStream(bytes))
    rows.foreach { row =>
      val text = row.getUTF8String(0)
      out.writeInt(text.numBytes)
      text.writeTo(out)
    }
    out.writeInt(-1)
    out.close()
    bytes.toByteArray
  }
}
