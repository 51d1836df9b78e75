package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.SparkSession

import graft.core.{Config, QueryOptions}
import graft.log.LogQuery

/** Order-insensitive digest of a multiset of rows: the wrapping 64-bit sum
  * of the first 8 bytes (little-endian) of each row's MD5. The generator's
  * `stats.Digest` computes the same value from the HTTP response. */
final class Digest {
  private val md5 = MessageDigest.getInstance("MD5")
  private var sum = 0L
  var rows = 0L

  def add(row: String): Unit = {
    val d = md5.digest(row.getBytes(StandardCharsets.UTF_8))
    var v = 0L
    var i = 7
    while (i >= 0) { v = (v << 8) | (d(i) & 0xffL); i -= 1 }
    sum += v
    rows += 1
  }

  def hex: String = f"$sum%016x"
}

/** The serial in-process reference every HTTP response is checked against,
  * computed once per distinct request after set-up (every plan the timed
  * phase serves has also run once).
  *
  *  - `/search`: the same `LogQuery.stream` the route builds, digested over
  *    `type|topic|partition|offset` per record.
  *  - `/pipeline`: the registered query on the configured cluster's
  *    directory, digested over each verbatim `toJSON` row.
  */
object Reference {
  def searchKey(t: String, topic: String, partition: Int, offset: Long): String =
    s"$t|$topic|$partition|$offset"

  def compute(spark: SparkSession, config: Config, plan: JsonNode): ObjectNode = {
    val mapper = new ObjectMapper()
    val out = mapper.createObjectNode()
    var t = System.nanoTime()
    def put(id: String, d: Digest): Unit = {
      val o = mapper.createObjectNode()
      o.put("rows", d.rows)
      o.put("digest", d.hex)
      val now = System.nanoTime()
      o.put("ms", (now - t) / 1e6)
      t = now
      out.set[JsonNode](id, o)
    }
    Option(plan.get("search")).iterator.flatMap(_.elements().asScala).foreach { req =>
      val opts = QueryOptions.parseQueryString(req.get("query").asText())
      val d = new Digest
      val it = LogQuery.stream(spark, opts.bootstrapServers, opts)
        .select("type", "topic", "partition", "offset").toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        d.add(searchKey(r.getString(0), r.getString(1), r.getInt(2), r.getLong(3)))
      }
      put(req.get("id").asText(), d)
    }
    Option(plan.get("pipeline")).iterator.flatMap(_.elements().asScala).foreach { req =>
      val query = graft.SparkEntry.queries(req.get("name").asText())
      val dir = config.kafkaBootstrapServers(req.get("dir").asText())
      val d = new Digest
      val (_, frames) = graft.ops.Materialize.collecting {
        val it = query(spark, dir).toJSON.toLocalIterator()
        while (it.hasNext) d.add(it.next())
      }
      graft.ops.Materialize.release(frames)
      put(req.get("id").asText(), d)
    }
    out
  }
}
