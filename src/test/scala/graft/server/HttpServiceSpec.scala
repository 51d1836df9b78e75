package graft.server

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import scala.io.Source

import com.fasterxml.jackson.core.JsonToken
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Murmur2

/** C3–C5 route contract over the JDK server binding. */
class HttpServiceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  // The fixture dir is a CONFIGURED cluster ("sandbox"): /search's
  // `bootstrap-servers` and /pipeline's `dir` resolve through this map —
  // names resolve, configured raw locations pass, anything else is 400
  // (VERDICT r11 item 4).
  private val configured = graft.core.Config.Defaults.copy(
    kafkaBootstrapServers = Map("sandbox" -> TestSpark.Sf))
  private lazy val svc = new HttpService(spark, port = 0, configured).start()
  private val mapper = new ObjectMapper()

  private def get(path: String): (Int, String) = getFrom(svc.boundPort, path)

  private def getFrom(port: Int, path: String): (Int, String) = {
    val url = new URI(s"http://localhost:$port$path").toURL
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(5000)
    val status = conn.getResponseCode
    val stream = if (status >= 400) conn.getErrorStream else conn.getInputStream
    val body = if (stream == null) "" else Source.fromInputStream(stream).mkString
    (status, body)
  }

  /** The data of each chunk of a raw chunked response to GET `path`. */
  private def rawChunks(port: Int, path: String): Seq[Array[Byte]] = {
    val sock = new java.net.Socket("localhost", port)
    val raw = try {
      sock.setSoTimeout(120000)
      sock.getOutputStream.write(
        s"GET $path HTTP/1.1\r\nHost: localhost\r\nConnection: close\r\n\r\n".getBytes(UTF_8))
      sock.getInputStream.readAllBytes()
    } finally sock.close()
    def crlf(from: Int): Int = {
      val i = new String(raw, from, raw.length - from, ISO_8859_1).indexOf("\r\n")
      assert(i >= 0, "unterminated line")
      from + i
    }
    val head = new String(raw, 0, raw.length, ISO_8859_1)
    assert(head.startsWith("HTTP/1.1 200") &&
      head.toLowerCase.contains("transfer-encoding: chunked"), head.take(200))
    val chunks = Seq.newBuilder[Array[Byte]]
    var pos = head.indexOf("\r\n\r\n") + 4
    var size = -1
    while (size != 0) {
      val eol = crlf(pos)
      size = Integer.parseInt(new String(raw, pos, eol - pos, ISO_8859_1).trim, 16)
      if (size > 0) chunks += java.util.Arrays.copyOfRange(raw, eol + 2, eol + 2 + size)
      pos = eol + 2 + size + 2
    }
    chunks.result()
  }

  /** The byte length of each record of a record chunk (`", " + JSON`)*. */
  private def recordLengths(chunk: Array[Byte]): Seq[Int] = {
    assert(chunk.startsWith(", ".getBytes(UTF_8)), new String(chunk, UTF_8).take(80))
    // "[ " has the length of the leading ", ": parser offsets are chunk offsets.
    val asArray = "[ ".getBytes(UTF_8) ++ chunk.drop(2) ++ "]".getBytes(UTF_8)
    val p = mapper.getFactory.createParser(asArray)
    assert(p.nextToken() == JsonToken.START_ARRAY)
    val ends = Seq.newBuilder[Int]
    while (p.nextToken() == JsonToken.START_OBJECT) {
      p.skipChildren()
      ends += p.currentLocation().getByteOffset.toInt
    }
    assert(p.currentToken() == JsonToken.END_ARRAY)
    val e = ends.result()
    assert(e.lastOption.contains(chunk.length), "a chunk ends inside a record")
    (0 +: e).sliding(2).map { case Seq(a, b) => b - a }.toSeq
  }

  private val searchQs =
    s"bootstrap-servers=${TestSpark.Sf}&topics=events&key-regex=13"

  test("/health") {
    assert(get("/health") == (200, "OK"))
  }

  test("/search streams a pioneer-led JSON array of matching records") {
    val (status, body) = get(s"/search?$searchQs")
    assert(status == 200)
    val arr = mapper.readTree(body)
    assert(arr.isArray && arr.size() > 1)
    assert(arr.get(0).get("type").asText() == "pioneer")
    assert(arr.get(1).get("key").asLong() == 13L) // "13" try-parsed to number
  }

  test("/search with --follow streams the tail; the L3 kill switch closes the array") {
    // A short wall-clock deadline stands in for the reference's
    // stop-consumers-after-n-seconds guard (`search.clj:118-122`): the
    // snapshot streams out as chunks, then the deadline expires and the
    // JSON array is closed cleanly.
    val fsvc = new HttpService(spark, port = 0,
      configured.copy(stopConsumersAfterNSeconds = 5)).start()
    try {
      val t0 = System.nanoTime()
      val url = new URI(s"http://localhost:${fsvc.boundPort}/search?$searchQs&follow").toURL
      val conn = url.openConnection().asInstanceOf[HttpURLConnection]
      conn.setReadTimeout(120000)
      assert(conn.getResponseCode == 200)
      val body = Source.fromInputStream(conn.getInputStream).mkString
      val elapsedSec = (System.nanoTime() - t0) / 1e9
      assert(elapsedSec >= 4.5) // held open until the kill switch, not a bounded scan
      val arr = mapper.readTree(body) // parses ⇒ the deadline closed the array
      assert(arr.isArray && arr.size() > 1)
      assert(arr.get(0).get("type").asText() == "pioneer")
      (1 until arr.size()).foreach { i =>
        assert(arr.get(i).get("key").asLong() == 13L)
        assert(arr.get(i).get("type").asText() == "result")
      }
    } finally fsvc.stop()
  }

  test("follow: client disconnect kills the streaming query on next write (L4)") {
    // Own fixture dir → own watched stream dir, so appending a file here
    // cannot disturb other suites' streaming counts.
    val fixture = java.nio.file.Files.createTempDirectory("graft-follow-l4")
    java.nio.file.Files.createSymbolicLink(fixture.resolve("events.parquet"),
      java.nio.file.Paths.get(TestSpark.Sf, "events.parquet"))
    // Not a configured cluster: follow tails any fixture directory.
    val fsvc = new HttpService(spark, port = 0,
      configured.copy(stopConsumersAfterNSeconds = 600)).start()
    try {
      val url = new URI(
        s"http://localhost:${fsvc.boundPort}/search?bootstrap-servers=$fixture&topics=events&follow").toURL
      val conn = url.openConnection().asInstanceOf[HttpURLConnection]
      conn.setReadTimeout(120000)
      assert(conn.getResponseCode == 200)
      val is = conn.getInputStream
      is.read(new Array[Byte](64)) // ensure the stream is flowing…
      is.close(); conn.disconnect() // …then walk away
      // Append a batch to the watched dir so a write is guaranteed after
      // the disconnect: the broken pipe must fail the query (not let it
      // run to the 600 s deadline).
      val streamDir = graft.streaming.StreamingLog.streamDir(fixture.toString)
      val tmpOut = java.nio.file.Files.createTempDirectory("graft-follow-append").toString
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.schema(
          "event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING")
        .parquet(s"${TestSpark.Sf}/events.parquet").limit(100)
        .coalesce(1).write.mode("overwrite").parquet(tmpOut)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmpOut)).iterator()
      val dst = java.nio.file.Paths.get(streamDir, "appended.parquet")
      while (part.hasNext) {
        val p = part.next()
        if (p.toString.endsWith(".parquet")) java.nio.file.Files.copy(p, dst)
      }
      val deadline = System.currentTimeMillis() + 60000
      while (System.currentTimeMillis() < deadline &&
        spark.streams.active.exists(q => Option(q.name).exists(_.startsWith("graft-follow"))))
        Thread.sleep(250)
      assert(!spark.streams.active.exists(q =>
        Option(q.name).exists(_.startsWith("graft-follow"))))
    } finally fsvc.stop()
  }

  test("follow: a client leaving a quiet topic stops the stream within seconds (L4)") {
    // No record carries this key, so the stream never writes a record: the
    // departure can only surface through the keep-alive writes.
    val fsvc = new HttpService(spark, port = 0,
      configured.copy(stopConsumersAfterNSeconds = 600)).start()
    def following = spark.streams.active.exists(q =>
      Option(q.name).exists(_.startsWith("graft-follow")))
    try {
      val sock = new java.net.Socket("localhost", fsvc.boundPort)
      sock.setSoTimeout(60000)
      sock.getOutputStream.write((s"GET /search?bootstrap-servers=${TestSpark.Sf}" +
        "&topics=events&key-regex=no-such-key&follow HTTP/1.1\r\nHost: localhost\r\n\r\n")
        .getBytes("UTF-8"))
      val in = sock.getInputStream
      val seen = new StringBuilder
      val buf = new Array[Byte](256)
      while (!seen.toString.contains("pioneer")) {
        val n = in.read(buf)
        assert(n > 0, s"response ended early: $seen")
        seen.append(new String(buf, 0, n, "UTF-8"))
      }
      assert(seen.toString.startsWith("HTTP/1.1 200"), seen.toString)
      // The pioneer is written before the query starts.
      val started = System.nanoTime() + 30L * 1000000000L
      while (!following && System.nanoTime() < started) Thread.sleep(50)
      assert(following, "the follow stream is running before the client leaves")
      sock.close()
      val until = System.nanoTime() + 10L * 1000000000L
      while (following && System.nanoTime() < until) Thread.sleep(100)
      assert(!following, "the stream outlived its client by 10 s")
    } finally fsvc.stop()
  }

  test("/search with bad args → 400 error contract (C4)") {
    val (status, body) = get("/search?topics=events")
    assert(status == 400)
    assert(mapper.readTree(body).get("error").asText().contains("bootstrap-servers"))
  }

  test("unknown topic → 400 (plan analyzes before the response commits)") {
    val (status, body) = get(
      s"/search?bootstrap-servers=${TestSpark.Sf}&topics=nonexistent")
    assert(status == 400)
    assert(mapper.readTree(body).get("error").asText().contains("unknown topic"))
  }

  test("/search resolves bootstrap-servers through the cluster map") {
    val byName = get("/search?bootstrap-servers=sandbox&topics=events&key-regex=13")
    assert(byName == get(s"/search?$searchQs"))
    // A real fixture, readable but not configured: no read, no archive.
    val fixture = java.nio.file.Files.createTempDirectory("graft-unconfigured")
    java.nio.file.Files.createSymbolicLink(fixture.resolve("events.parquet"),
      java.nio.file.Paths.get(TestSpark.Sf, "events.parquet"))
    val (status, body) = get(s"/search?bootstrap-servers=$fixture&topics=events")
    assert(status == 400, body)
    assert(mapper.readTree(body).get("error").asText().contains("unknown bootstrap-servers"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(graft.log.LogStore.derivedDir(fixture.toString))))
  }

  test("follow streams only the asked-for topics; an unknown one is a 400") {
    val (status, body) = get(s"/search?bootstrap-servers=${TestSpark.Sf}&topics=nope&follow")
    assert(status == 400 && body.contains("unknown topic: nope"), body)
    val fsvc = new HttpService(spark, port = 0,
      configured.copy(stopConsumersAfterNSeconds = 3)).start()
    try {
      val (ok, clicks) = getFrom(fsvc.boundPort,
        s"/search?bootstrap-servers=${TestSpark.Sf}&topics=clicks&follow")
      assert(ok == 200)
      val arr = mapper.readTree(clicks)
      assert(arr.size() > 1)
      (1 until arr.size()).foreach(i => assert(arr.get(i).get("topic").asText() == "clicks"))
    } finally fsvc.stop()
  }

  test("malformed numeric arg → 400 before the stream commits") {
    val (status, body) = get(
      s"/search?bootstrap-servers=${TestSpark.Sf}&topics=events&relative-offset=abc")
    assert(status == 400)
    assert(mapper.readTree(body).get("error").asText().contains("relative-offset"))
  }

  test("print-offset=0 → 400 before the stream commits; a negative one samples |n|") {
    val (status, body) = get(
      s"/search?bootstrap-servers=${TestSpark.Sf}&topics=events&partitions=3&print-offset=0")
    assert(status == 400)
    assert(mapper.readTree(body).get("error").asText().contains("print-offset"))
    val (ok, sampled) = get(
      s"/search?bootstrap-servers=${TestSpark.Sf}&topics=events&partitions=3&key-regex=x&print-offset=-5")
    assert(ok == 200)
    val arr = mapper.readTree(sampled)
    val offsets = (1 until arr.size()).map(arr.get(_))
    assert(offsets.nonEmpty && offsets.forall(r =>
      r.get("type").asText() == "offset" && r.get("offset").asLong() % 5 == 0))
  }

  test("quote-bearing bad option still emits valid JSON (C4 escaping)") {
    // The echoed bad value contains a double quote; the error body must be
    // Jackson-escaped everywhere, not string-interpolated (VERDICT r3 #7).
    val (status, body) = get(
      s"/search?bootstrap-servers=${TestSpark.Sf}&topics=events&relative-offset=ab%22c")
    assert(status == 400)
    assert(mapper.readTree(body).get("error").asText().contains("ab\"c"))
  }

  test("invalid regex fails MID-STREAM: 200 committed, stream truncated (C4)") {
    // Same trade-off as the reference: the regex compiles inside the
    // already-committed streaming response, so the error can only truncate
    // the stream, not change the status (`core.clj:106-110` applies only
    // to argument errors).
    val (status, body) = get(
      s"/search?bootstrap-servers=${TestSpark.Sf}&topics=events&key-regex=%5B")
    assert(status == 200)
    assert(body.startsWith("[" + """{"type":"pioneer"}"""))
    intercept[Exception](mapper.readTree(body)) // truncated JSON
  }

  test("/cached replays the completed search result byte-for-byte (S7)") {
    val (_, direct) = get(s"/search?$searchQs")
    val (status, cached) = get(s"/cached?$searchQs")
    assert(status == 200)
    assert(cached == direct)
  }

  test("/cached misses return an empty body") {
    val (status, body) = get("/cached?bootstrap-servers=zzz&topics=nope")
    assert(status == 200)
    assert(body.isEmpty)
  }

  test("/default-partition computes the murmur2 placement") {
    val (status, body) = get("/default-partition?topic=events&key=13")
    assert(status == 200)
    assert(body == Murmur2.partition("13", 10).toString)
  }

  test("concurrent searches run in parallel request threads") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val futures = Seq("13", "7", "1[0-2]").map { re =>
      Future(get(s"/search?bootstrap-servers=${TestSpark.Sf}&topics=events&key-regex=$re"))
    }
    val results = Await.result(Future.sequence(futures), 120.seconds)
    results.foreach { case (status, body) =>
      assert(status == 200)
      assert(mapper.readTree(body).get(0).get("type").asText() == "pioneer")
    }
  }

  test("/server-configs lists clusters, topics and deserializers (C5)") {
    val (status, body) = get("/server-configs")
    assert(status == 200)
    val cfg = mapper.readTree(body)
    assert(cfg.get("bootstrap-servers").isArray)
    assert(cfg.get("key-deserializers").size() == 2)
    assert(cfg.get("schema-registry-urls").isNull) // avro hidden offline
  }

  test("/pipeline runs an analytics query and releases its caches on completion") {
    // q51_tfidf registers a query-lifetime cached aggregate — the exact
    // long-lived-service leak the Materialize release path exists for.
    // The route must stream the result AND leave no NEW registered
    // frame behind (identity, not a zero-count: the shared test session
    // legitimately holds other suites' frames, and the release is
    // request-scoped by design — it must not touch them).
    val before = graft.ops.Materialize.liveSnapshot(spark)
    val (status, body) = get(s"/pipeline?name=q51_tfidf&dir=${TestSpark.Sf}")
    assert(status == 200)
    val arr = mapper.readTree(body)
    assert(arr.isArray && arr.size() > 1, body.take(200))
    assert(arr.get(0).get("type").asText() == "pioneer")
    assert(arr.get(1).has("doc_id"), arr.get(1).toString)
    val leaked = graft.ops.Materialize.liveSnapshot(spark) -- before
    assert(leaked.isEmpty,
      s"pipeline request left ${leaked.size} registered caches behind")
  }

  test("/pipeline without a name lists the query catalog") {
    val (status, body) = get("/pipeline")
    assert(status == 200)
    val names = mapper.readTree(body).get("queries")
    assert(names != null && names.isArray)
    val set = (0 until names.size()).map(names.get(_).asText()).toSet
    assert(set.contains("q01_scan") &&
      set.contains("q62_containment_stratified"), set.take(5).toString)
    // Compact, in sorted order: the bytes a per-request mapper wrote.
    assert(body == graft.SparkEntry.queries.keys.toSeq.sorted
      .map(n => s""""$n"""").mkString("""{"queries":[""", ",", "]}"))
  }

  test("/pipeline argument errors reach the 400 channel pre-commit (C4)") {
    val (s1, b1) = get("/pipeline?name=no_such_query&dir=/tmp")
    assert(s1 == 400 && b1.contains("unknown query: no_such_query"), b1)
    val (s2, b2) = get("/pipeline?name=q01_scan")
    assert(s2 == 400 && b2.contains("dir required"), b2)
    // An unconfigured dir is rejected by the allowlist before any build
    // work runs — no caches to sweep, and no arbitrary-path reads.
    val before = graft.ops.Materialize.liveSnapshot(spark)
    val (s3, b3) = get("/pipeline?name=q51_tfidf&dir=/no/such/dir")
    assert(s3 == 400 && b3.contains("unknown dir"), b3)
    assert((graft.ops.Materialize.liveSnapshot(spark) -- before).isEmpty)
  }

  test("/pipeline resolves a configured cluster NAME to its location") {
    val (status, body) = get("/pipeline?name=q24_text_stats&dir=sandbox")
    assert(status == 200)
    val arr = mapper.readTree(body)
    assert(arr.isArray && arr.size() > 1, body.take(200))
    assert(arr.get(0).get("type").asText() == "pioneer")
  }

  test("/pipeline rejects paths outside the configured map (allowlist)") {
    // An absolute path that exists and is Spark-readable but is not a
    // configured value must still be 400 — the ADVICE r11 surface.
    val (status, body) = get("/pipeline?name=q01_scan&dir=/root/testdata/sf0.01")
    assert(status == 400 && body.contains("unknown dir"), body)
  }

  test("/cached replays a completed pipeline result byte-for-byte (S7 parity)") {
    val qs = s"name=q24_text_stats&dir=${TestSpark.Sf}"
    val (_, direct) = get(s"/pipeline?$qs")
    val (status, cached) = get(s"/cached?$qs")
    assert(status == 200)
    assert(cached.nonEmpty && cached == direct)
  }

  test("/search sends whole records in chunks of at most 4 KB; /pipeline and follow one row per chunk") {
    // Several partitions: AQE would coalesce this small result into one.
    val session = spark.newSession()
    session.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val msvc = new HttpService(session, port = 0, configured).start()
    val form = "topics=events,clicks&key-regex=1[0-9]&print-offset=10"
    val qs = s"bootstrap-servers=${TestSpark.Sf}&$form"
    val (chunks, cached) = try {
      val c = rawChunks(msvc.boundPort, s"/search?$qs")
      (c, getFrom(msvc.boundPort, s"/cached?$qs"))
    } finally msvc.stop()
    assert(new String(chunks.head, UTF_8) == "[")
    assert(new String(chunks(1), UTF_8) == graft.render.JsonArrayRender.Pioneer)
    assert(new String(chunks.last, UTF_8) == "]")
    val records = chunks.slice(2, chunks.size - 1)
    records.foreach(c => assert(c.length <= 4096, c.length))
    val lengths = records.map(recordLengths)
    assert(lengths.head.size == 1, "the first record goes alone")
    // The records of each partition, as the route builds and streams them.
    val opts = graft.core.QueryOptions.parseQueryString(qs)
    val perPartition = graft.log.LogQuery.stream(session, opts.bootstrapServers, opts)
      .sortWithinPartitions("type", "topic", "partition", "offset")
      .rdd.mapPartitions(it => Iterator(it.size)).collect().toSeq
    val total = perPartition.sum
    assert(perPartition.count(_ > 0) >= 2, perPartition)
    assert(lengths.map(_.size).sum == total)
    assert(records.size < total / 4, s"${records.size} chunks for $total records")
    // A chunk ends after the first record, at a partition's end, or where
    // the next record would not have fit.
    val partitionEnds = perPartition.scanLeft(0)(_ + _).tail.toSet
    val ends = lengths.map(_.size).scanLeft(0)(_ + _).tail
    assert(partitionEnds.filter(e => e > 0 && e < total).subsetOf(ends.toSet),
      (partitionEnds, ends))
    for (i <- 1 until records.size - 1 if !partitionEnds(ends(i)))
      assert(records(i).length + lengths(i + 1).head > 4096, s"chunk $i ended early")
    val body = new String(chunks.flatten.toArray, UTF_8)
    assert(mapper.readTree(body).size() == total + 1)
    assert(cached == (200, body), "/cached replays the streamed body")

    val pipeline = rawChunks(svc.boundPort, "/pipeline?name=q24_text_stats&dir=sandbox")
    val rows = pipeline.slice(2, pipeline.size - 1)
    assert(rows.size > 1)
    rows.foreach(c => assert(recordLengths(c).size == 1))

    val fsvc = new HttpService(spark, port = 0,
      configured.copy(stopConsumersAfterNSeconds = 3)).start()
    try {
      val follow = rawChunks(fsvc.boundPort, s"/search?$searchQs&follow")
      assert(new String(follow.last, UTF_8) == "]")
      val tail = follow.slice(2, follow.size - 1).filter(c => new String(c, UTF_8) != " ")
      assert(tail.nonEmpty)
      tail.foreach(c => assert(recordLengths(c).size == 1))
    } finally fsvc.stop()
  }
}
