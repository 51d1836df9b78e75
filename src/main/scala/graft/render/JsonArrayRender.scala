package graft.render

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.DataFrame

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
  * Driver-side render: `toLocalIterator` holds one partition at a time, so
  * the result set is never materialized on the driver — the same
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

  /** Render one record's compact JSON (a `df.toJSON` row) as the pretty,
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

  private def renderWith(df: DataFrame, out: String => Unit,
      perRecord: String => String): Unit = {
    out("[")
    out(Pioneer)
    val it = df.toJSON.toLocalIterator()
    while (it.hasNext) out(perRecord(it.next()))
    out("]")
  }
}
