package perfbench

import java.io.{IOException, OutputStream}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{Config, QueryOptions}
import graft.log.LogQuery
import graft.ops.{Deadline, Materialize}
import graft.render.JsonArrayRender
import graft.server.ResultCache

/** One span: `busy` is the time spent inside the span's calls, which for a
  * metered span (many short calls, e.g. one `renderRecord` per record) is
  * less than `end - start`. */
final case class Span(name: String, parent: String, start: Long, end: Long, busy: Long,
    calls: Long, chars: Long)

/** In-memory spans and counters per request id, written out on request by
  * the control port when the run ends. */
final class SpanLog {
  final class Req {
    val spans = ArrayBuffer.empty[Span]
    val counters = scala.collection.mutable.Map.empty[String, Long]
  }
  private val reqs = new ConcurrentHashMap[String, Req]()
  private def req(id: String): Req = reqs.computeIfAbsent(id, _ => new Req)

  def add(id: String, s: Span): Unit = { val r = req(id); r.synchronized(r.spans += s) }
  def count(id: String, name: String, v: Long): Unit = {
    val r = req(id); r.synchronized(r.counters(name) = r.counters.getOrElse(name, 0L) + v)
  }

  def time[T](id: String, name: String)(body: => T): T = {
    val t = System.nanoTime()
    try body finally {
      val e = System.nanoTime()
      add(id, Span(name, "http", t, e, e - t, 1, 0))
    }
  }

  /** Accumulates many short calls into one span of the request. */
  final class Meter(id: String, name: String) {
    private var start = -1L
    private var end = 0L
    private var busy = 0L
    private var calls = 0L
    private var chars = 0L
    def apply[T](body: => T): T = {
      val t = System.nanoTime()
      try body finally {
        val e = System.nanoTime()
        if (start < 0) start = t
        end = e; busy += e - t; calls += 1
      }
    }
    def addChars(n: Long): Unit = chars += n
    def close(): Unit = if (start >= 0) add(id, Span(name, "http", start, end, busy, calls, chars))
  }

  def dump(mapper: ObjectMapper): ObjectNode = {
    val out = mapper.createObjectNode()
    reqs.asScala.foreach { case (id, r) => r.synchronized {
      val o = mapper.createObjectNode()
      val arr = mapper.createArrayNode()
      r.spans.foreach { s =>
        val j = mapper.createObjectNode()
        j.put("name", s.name); j.put("parent", s.parent)
        j.put("start", s.start); j.put("end", s.end); j.put("busy", s.busy)
        j.put("calls", s.calls); j.put("chars", s.chars)
        arr.add(j)
      }
      o.set[JsonNode]("spans", arr)
      val c = mapper.createObjectNode()
      r.counters.foreach { case (k, v) => c.put(k, v) }
      o.set[JsonNode]("counters", c)
      out.set[JsonNode](id, o)
    }}
    out
  }
}

/** The traced twin of `graft.server.HttpService`'s `/search` and
  * `/pipeline` routes. Nothing in the program is instrumented: this class
  * makes the same public calls in the same order as the real handlers and
  * records a span around each one, keyed by the `X-Bench-Id` request
  * header.
  *
  * Spans (all children of the request's root `http` span):
  *  - `construct`: building and analysing the DataFrame — `LogQuery.stream`
  *    for `/search`, `SparkEntry.queries(name)(spark, dir)` for `/pipeline`
  *  - `plan`: `queryExecution.executedPlan` of the rendered frame
  *  - `exec`: time inside `toLocalIterator`'s `hasNext`/`next`
  *  - `render`: `JsonArrayRender.renderRecord` per record (`/search`) or the
  *    verbatim `", " + row` framing (`/pipeline`)
  * What is left of the client's time to last byte is the server's own
  * (socket writes, chunk framing, the result-cache buffer, HTTP parsing).
  *
  * Spark jobs are attributed to a request and phase through the local
  * properties `perfbench.req` / `perfbench.phase`, read by [[Listeners]].
  */
final class TracedService(spark: SparkSession, config: Config) {
  val spans = new SpanLog
  private val cache = new ResultCache(config.cacheMaxItems,
    config.cacheTtlMinutes * 60L * 1000, config.cacheItemSizeLimit)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val sc = spark.sparkContext

  private def tag(id: String, phase: String): Unit = {
    sc.setLocalProperty("perfbench.req", id)
    sc.setLocalProperty("perfbench.phase", phase)
  }
  private def untag(): Unit = {
    sc.setLocalProperty("perfbench.req", null)
    sc.setLocalProperty("perfbench.phase", null)
  }

  private def reply(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }
  private def errorJson(msg: String): String =
    new ObjectMapper().createObjectNode().put("error", String.valueOf(msg)).toString

  private def queryArgs(ex: HttpExchange): Map[String, String] = {
    val qs = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    java.net.URLDecoder.decode(qs, "UTF-8").split("&").iterator.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k -> v
        case Array(k) => k -> "true"
      }
    }.toMap
  }

  /** Chunk writer with the routes' result-cache buffer; every write is
    * flushed as its own chunk, like the real routes. */
  private final class Sink(os: OutputStream, id: String) {
    val buffer = new java.lang.StringBuilder()
    var oversize = false
    def apply(s: String): Unit = {
      os.write(s.getBytes(StandardCharsets.UTF_8)); os.flush()
      spans.count(id, "chunks", 1)
      if (!oversize) {
        buffer.append(s)
        if (buffer.length > 4 * 1024 * 1024) oversize = true
      }
    }
  }

  /** `JsonArrayRender.renderWith`, metered. */
  private def renderTraced(id: String, df: DataFrame, sink: Sink, perRecord: String => String): Unit = {
    sink("[")
    sink(JsonArrayRender.Pioneer)
    val json = df.toJSON
    spans.time(id, "plan")(json.queryExecution.executedPlan)
    val exec = new spans.Meter(id, "exec")
    val render = new spans.Meter(id, "render")
    try {
      val it = exec(json.toLocalIterator())
      while (exec(it.hasNext)) {
        val row = exec(it.next())
        val chunk = render(perRecord(row))
        render.addChars(chunk.length)
        sink(chunk)
      }
    } finally { exec.close(); render.close() }
    sink("]")
  }

  private def search(ex: HttpExchange, id: String): Unit = {
    val args = queryArgs(ex)
    val opts = try QueryOptions.fromMap(args) catch { case e: IllegalArgumentException =>
      return reply(ex, 400, errorJson(e.getMessage))
    }
    if (opts.follow) return reply(ex, 400, errorJson("follow is served untraced"))
    tag(id, "construct")
    val df = try spans.time(id, "construct") {
      val d = LogQuery.stream(spark, opts.bootstrapServers, opts)
        .sortWithinPartitions("type", "topic", "partition", "offset")
      d.schema
      d
    } catch { case e: IllegalArgumentException =>
      untag()
      return reply(ex, 400, errorJson(e.getMessage))
    }
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(200, 0L)
    val os = ex.getResponseBody
    val sink = new Sink(os, id)
    try {
      Deadline.withDeadlineGroup(spark, config.stopConsumersAfterNSeconds) { group =>
        tag(id, "exec")
        try renderTraced(id, df, sink, JsonArrayRender.renderRecord)
        catch { case e: IOException => Deadline.cancel(spark, group); throw e }
      }
      if (!sink.oversize) cache.put(cache.key(args), sink.buffer.toString)
    } catch {
      case _: IOException => ()
      case e: Exception => System.err.println(s"[perfbench-traced] mid-stream failure: ${e.getMessage}")
    } finally { untag(); os.close() }
  }

  private def pipeline(ex: HttpExchange, id: String): Unit = {
    val args = queryArgs(ex)
    val query = args.get("name").flatMap(graft.SparkEntry.queries.get) match {
      case Some(q) => q
      case None => return reply(ex, 400, errorJson(s"unknown query: ${args.get("name")}"))
    }
    val dir = args.get("dir").flatMap(config.kafkaBootstrapServers.get) match {
      case Some(d) => d
      case None => return reply(ex, 400, errorJson(s"unknown dir: ${args.get("dir")}"))
    }
    var toClose: Option[OutputStream] = None
    val (_, frames) = Materialize.collecting {
      try Deadline.withDeadlineGroup(spark, config.stopConsumersAfterNSeconds) { group =>
        tag(id, "construct")
        val before = Materialize.liveCount(spark)
        val built = try spans.time(id, "construct") {
          val d = query(spark, dir)
          d.schema
          Right(d)
        } catch { case e: Exception => Left(String.valueOf(e.getMessage)) }
        spans.count(id, "construct_frames", Materialize.liveCount(spark) - before)
        built match {
          case Left(msg) => reply(ex, 400, errorJson(msg))
          case Right(df) =>
            ex.getResponseHeaders.set("Content-Type", "application/json")
            ex.sendResponseHeaders(200, 0L)
            val os = ex.getResponseBody
            toClose = Some(os)
            val sink = new Sink(os, id)
            tag(id, "exec")
            try {
              try renderTraced(id, df, sink, row => ", " + row)
              catch { case e: IOException => Deadline.cancel(spark, group); throw e }
              if (!sink.oversize) cache.put(cache.key(args), sink.buffer.toString)
            } catch {
              case _: IOException => ()
              case e: Exception =>
                System.err.println(s"[perfbench-traced] pipeline mid-stream failure: ${e.getMessage}")
            }
        }
      } catch { case e: Exception =>
        System.err.println(s"[perfbench-traced] pipeline aborted: ${e.getMessage}")
      } finally untag()
    }
    Materialize.release(frames)
    spans.count(id, "live_frames_after", Materialize.liveCount(spark))
    toClose.foreach(os => try os.close() catch { case _: Exception => () })
  }

  private def route(path: String)(h: (HttpExchange, String) => Unit): Unit =
    server.createContext(path, (ex: HttpExchange) => {
      val id = Option(ex.getRequestHeaders.getFirst("X-Bench-Id")).getOrElse("-")
      val t = System.nanoTime()
      try h(ex, id)
      catch { case e: Exception =>
        try reply(ex, 500, errorJson(e.getMessage)) catch { case _: Exception => () }
      } finally {
        val e = System.nanoTime()
        spans.add(id, Span("http", "", t, e, e - t, 1, 0))
      }
    })

  route("/search")(search)
  route("/pipeline")(pipeline)

  def start(): this.type = {
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.start(); this
  }
  def stop(): Unit = server.stop(0)
  def port: Int = server.getAddress.getPort
}
