package graft.render

import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.{SparkException, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.QueryOptions
import graft.log.LogQuery
import graft.ops.Deadline

/** The result stream behind every route ([[JsonArrayRender]]):
  *  - job shape: one single-task job per partition, one at a time, in
  *    partition order and in the caller's job group;
  *  - bytes: the same output as the `toJSON.toLocalIterator()` path it
  *    replaced, except for narrowed day-time intervals;
  *  - cancellation: a deadline inside or between partition jobs, and a
  *    client leaving between partitions. */
class RenderStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val mapper = new ObjectMapper()

  private def text(chunk: Array[Byte]): String = new String(chunk, StandardCharsets.UTF_8)

  /** One started job, as the listener saw it. */
  private final case class Job(id: Int, group: String, sqlExecution: Boolean,
      stages: Seq[Int])

  /** The jobs `body` started and the listener events of their lifetimes,
    * in bus order. The listener bus is asynchronous, so a marker job
    * under its own group is run after the body: once the listener has seen
    * it, it has seen every earlier event. */
  private def recording[T](body: => T): (T, Seq[Job], Seq[SparkListenerEvent]) = {
    val sc = spark.sparkContext
    val events = new ConcurrentLinkedQueue[SparkListenerEvent]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = events.add(e)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = events.add(e)
      override def onTaskStart(e: SparkListenerTaskStart): Unit = events.add(e)
    }
    val marker = s"render-stream-marker-${java.util.UUID.randomUUID()}"
    def prop(e: SparkListenerJobStart, k: String) =
      Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    def markerSeen = events.asScala.exists {
      case e: SparkListenerJobStart => prop(e, "spark.jobGroup.id").contains(marker)
      case _ => false
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.setJobGroup(marker, "listener marker", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val until = System.nanoTime() + 30L * 1000000000L
      while (!markerSeen && System.nanoTime() < until) Thread.sleep(10)
      assert(markerSeen, "the listener never saw the marker job")
      val all = events.asScala.toSeq
      val jobs = all.collect { case e: SparkListenerJobStart
          if !prop(e, "spark.jobGroup.id").contains(marker) =>
        Job(e.jobId, prop(e, "spark.jobGroup.id").getOrElse(""),
          prop(e, "spark.sql.execution.id").isDefined, e.stageIds)
      }
      val ids = jobs.map(_.id).toSet
      val stageIds = jobs.flatMap(_.stages).toSet
      (result, jobs, all.filter {
        case e: SparkListenerJobStart => ids(e.jobId)
        case e: SparkListenerJobEnd => ids(e.jobId)
        case e: SparkListenerTaskStart => stageIds(e.stageId)
        case _ => false
      })
    } finally sc.removeSparkListener(listener)
  }

  /** Render `df` verbatim under job group `group`; returns the body. */
  private def renderIn(group: String, df: DataFrame): String = {
    val sc = spark.sparkContext
    val sb = new StringBuilder
    sc.setJobGroup(group, "render", interruptOnCancel = false)
    try JsonArrayRender.renderVerbatim(df, b => { sb.append(text(b)); () })
    finally sc.clearJobGroup()
    sb.toString
  }

  /** The per-partition jobs of one stream (AQE's stage jobs run inside
    * the SQL execution and are excluded), after checking their shape: one
    * task each, never two running at once, all in `group`. */
  private def partitionJobs(group: String, jobs: Seq[Job],
      events: Seq[SparkListenerEvent]): Seq[Job] = {
    val perPartition = jobs.filter(!_.sqlExecution)
    assert(perPartition.nonEmpty)
    assert(jobs.forall(_.group == group), jobs)
    val ids = perPartition.map(_.id).toSet
    val lifecycle = events.collect {
      case e: SparkListenerJobStart if ids(e.jobId) => s"start ${e.jobId}"
      case e: SparkListenerJobEnd if ids(e.jobId) => s"end ${e.jobId}"
    }
    assert(lifecycle == perPartition.flatMap(j => Seq(s"start ${j.id}", s"end ${j.id}")),
      "two jobs of one stream overlapped")
    // A job's stage list also names the skipped map stages it reads; only
    // the stage that launched tasks counts.
    perPartition.foreach { j =>
      val tasks = events.count {
        case e: SparkListenerTaskStart => j.stages.contains(e.stageId) &&
          !jobs.exists(o => o.id != j.id && o.stages.contains(e.stageId))
        case _ => false
      }
      assert(tasks == 1, s"job ${j.id} ran $tasks tasks")
    }
    // Stage jobs only ever run before the stream's first partition job.
    val firstPartitionJob = jobs.indexWhere(!_.sqlExecution)
    assert(jobs.drop(firstPartitionJob).forall(!_.sqlExecution), jobs)
    perPartition
  }

  private def ids(body: String): Seq[Long] = {
    val arr = mapper.readTree(body)
    (1 until arr.size()).map(arr.get(_).get("id").asLong())
  }

  private def noCoalesce: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s
  }

  test("one single-task job per partition, one at a time, in the caller's job group") {
    val group = s"render-shape-${java.util.UUID.randomUUID()}"
    val df = spark.range(0, 400, 1, 4).selectExpr("id", "cast(id AS string) AS s")
    val (body, jobs, events) = recording(renderIn(group, df))
    assert(partitionJobs(group, jobs, events).size == 4)
    assert(jobs.size == 4) // no plan stage to run here
    assert(ids(body) == (0L until 400L))
  }

  test("after AQE's stage jobs, one job per partition of the final plan, in partition order") {
    val s = noCoalesce
    val group = s"render-shape-aqe-${java.util.UUID.randomUUID()}"
    val df = s.range(0, 400, 1, 4).toDF("id").repartition(3, col("id")).sortWithinPartitions("id")
    val (body, jobs, events) = recording(renderIn(group, df))
    assert(partitionJobs(group, jobs, events).size == 3)
    assert(jobs.exists(_.sqlExecution), "the shuffle stage ran no job")
    assert(ids(body) == df.collect().map(_.getLong(0)).toSeq)
  }

  test("the CLI's canonical order survives the stream over several partitions") {
    val s = noCoalesce
    val opts = QueryOptions.parseQueryString(
      s"bootstrap-servers=${TestSpark.Sf}&topics=events,clicks&key-regex=1[0-9]")
    val df = LogQuery.canonical(LogQuery.stream(s, opts.bootstrapServers, opts))
    val group = s"render-canonical-${java.util.UUID.randomUUID()}"
    val sb = new StringBuilder
    val (_, jobs, events) = recording {
      s.sparkContext.setJobGroup(group, "render", interruptOnCancel = false)
      try JsonArrayRender.render(df, b => { sb.append(text(b)); () })
      finally s.sparkContext.clearJobGroup()
    }
    assert(partitionJobs(group, jobs, events).size >= 3)
    val arr = mapper.readTree(sb.toString)
    val got = (1 until arr.size()).map { i =>
      val r = arr.get(i)
      (r.get("type").asText(), r.get("topic").asText(), r.get("partition").asInt(),
        r.get("offset").asLong())
    }
    val want = df.select("type", "topic", "partition", "offset").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3))).toSeq
    assert(got.size > 10)
    assert(got == want)
    assert(got == got.sortBy(identity))
  }

  /** The replaced path: `toJSON.toLocalIterator()` in the same framing. */
  private def oldPath(df: DataFrame, perRecord: String => String): String = {
    val sb = new StringBuilder("[" + JsonArrayRender.Pioneer)
    val it = df.toJSON.toLocalIterator()
    while (it.hasNext) sb.append(perRecord(it.next()))
    sb.append("]").toString
  }

  private def rendered(f: (DataFrame, Array[Byte] => Unit) => Unit, df: DataFrame): String =
    text(renderedBytes(f, df))

  private def renderedBytes(f: (DataFrame, Array[Byte] => Unit) => Unit,
      df: DataFrame): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream
    f(df, bytes.write(_))
    bytes.toByteArray
  }

  test("renderVerbatim is byte-identical to the toJSON framing on every column type") {
    val df = spark.range(0, 6, 1, 3).selectExpr(
      """element_at(array('héllo ✓ 日本語 😀', 'say "hi"', 'back\\slash', '',
        |  'tab\tnew\nline', CAST(NULL AS string)), CAST(id AS int) + 1) AS s""".stripMargin,
      "CAST(id * 7 - 20 AS int) AS i",
      "(id - 3) * 1000000000000 AS l",
      "CAST(CAST(id AS float) / 3 AS float) AS f",
      "CAST((id - 2.5) / 7 AS decimal(20, 5)) AS dec",
      """element_at(array(CAST('NaN' AS double), CAST('Infinity' AS double),
        |  CAST('-Infinity' AS double), -0.0D, 1e300D, 0.1D), CAST(id AS int) + 1) AS d""".stripMargin,
      "id % 2 = 0 AS b",
      "timestamp_micros(1704067200000000 + id * 1234567) AS ts",
      "date_add(DATE'2024-02-28', CAST(id AS int)) AS dt",
      "unhex(lpad(hex(id * 4099), 6, '0')) AS bin",
      "array(id, NULL, id + 1) AS arr",
      "map('a', id, 'b', NULL) AS m",
      "named_struct('x', id, 'y', CAST(NULL AS string), 'z', array(CAST(NULL AS double))) AS st",
      "CAST(NULL AS int) AS n",
      "id AS dup", "CAST(id AS string) AS dup")
    val body = rendered(JsonArrayRender.renderVerbatim, df)
    assert(body == oldPath(df, ", " + _))
    for (text <- Seq("日本語 😀", """say \"hi\"""", """back\\slash""", "\"NaN\"",
        "\"-Infinity\"", "-0.0", "1.0E300", """"dup":0,"dup":"0"""", """"st":{"x":0,"z":[null]}"""))
      assert(body.contains(text), text)
  }

  /** A record frame of edge values over 3 partitions, no shuffle. Key and
    * value are BINARY cast to strings, as the deserializer casts a Kafka
    * source's, so the last records' malformed UTF-8 stays in the strings
    * (their text decodes it to U+FFFD). */
  private def edgeRecords: DataFrame = {
    val texts = Seq("007", "1e2", "-0", "null", "true", " 12 ", "1 2", """{"a":1,"a":2}""",
      "[1,", "", "\"q\"", "107", "k0", "héllo ✓ 日本語", "😀 emoji 👍🏽", "say \"hi\" \\ /",
      "tab\tnew\nline\r\u0001\u001f\u007f\u2028",
      // Escapes that parse to lone surrogates (a truncated emoji, as
      // JSON.stringify writes it), a pair and a plain escape.
      "\"\\ud83d x\"", "{\"a\":\"\\udc00\"}", "{\"\\ud83d\":[\"\\ud83d\\ude00 \\u00e9\"]}",
      "12345678901234567890", "  ", "\uFEFFk0",
      "é" * 2100)
    assert(texts.last.getBytes(StandardCharsets.UTF_8).length > 4096)
    def utf8(s: String) = s.getBytes(StandardCharsets.UTF_8)
    val malformed = Array(0x6b, 0xc3, 0x28, 0xed, 0xa0, 0x80, 0xff).map(_.toByte)
    val rows = texts.indices.map { i =>
      org.apache.spark.sql.Row("result", if (i == 4) null else s"tópic-$i", i % 3, i * 7L,
        1704067200000L + i, utf8(texts(i)), utf8(texts(texts.size - 1 - i)))
    } ++ Seq(
      org.apache.spark.sql.Row("offset", "t", 0, 1L, 2L, null, utf8("v")),
      org.apache.spark.sql.Row("result", "t", 1, 2L, 3L, utf8("k"), null),
      org.apache.spark.sql.Row("result", "t", 2, 3L, 4L, null, null),
      org.apache.spark.sql.Row("result", "t", 0, 4L, 5L, malformed, utf8("{}")),
      org.apache.spark.sql.Row("result", "t", 1, 5L, 6L, utf8("k"), malformed),
      org.apache.spark.sql.Row(null, null, null, null, null, null, null))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "type STRING, topic STRING, partition INT, offset BIGINT, timestamp BIGINT, " +
        "key BINARY, value BINARY")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .withColumn("key", col("key").cast("string"))
      .withColumn("value", col("value").cast("string"))
  }

  test("render is byte-identical to the toJSON path for each /search request form") {
    val forms = Seq(
      "topics=events&key-regex=13&default-partition",
      "topics=events&key-regex=1[0-9]",
      """topics=events&val-regex=\{"k": 7\}""",
      "topics=events&partitions=2,5&print-offset=50&key-regex=1[0-9]",
      "topics=events&relative-offset=-100",
      "topics=events&start-timestamp=1704153600000&stop-timestamp=1704175200000",
      "topics=events,clicks&key-regex=1[0-9]",
      "topics=events")
    val frames = forms.map { form =>
      val opts = QueryOptions.parseQueryString(s"bootstrap-servers=${TestSpark.Sf}&$form")
      form -> LogQuery.stream(spark, opts.bootstrapServers, opts)
        .sortWithinPartitions("type", "topic", "partition", "offset")
    } :+ ("edge records" -> edgeRecords)
    // The old path served each chunk as `getBytes(UTF_8)`, so the oracle
    // is its text so encoded (a lone surrogate becomes `?`).
    val bodies = frames.map { case (form, df) =>
      val bytes = renderedBytes(JsonArrayRender.render(_, _), df)
      val body = text(bytes)
      assert(mapper.readTree(body).size() > 1, s"$form matched no record")
      assert(bytes.sameElements(
        oldPath(df, JsonArrayRender.renderRecord).getBytes(StandardCharsets.UTF_8)), form)
      body
    }
    val edges = bodies.last
    assert(mapper.readTree(edges).size() == 31)
    for (t <- Seq("😀 emoji 👍🏽", "\"key\" : 100.0", "\"value\" : \"007\"", ", { }",
        "\"key\" : \"k\uFFFD(\uFFFD", "\"key\" : 12345678901234567890",
        "\"key\" : \"  \"", "\"key\" : \"\uFEFFk0\"", "\"key\" : 0,",
        "\"key\" : \"[1,\"", "\"key\" : \"\"", "\"key\" : \"q\"", "\\u0001",
        "\"key\" : \"? x\"", "\"a\" : \"?\"", "\"?\" : [ \"😀 é\" ]"))
      assert(edges.contains(t), t)
    // Follow's record chunks are the same bytes.
    val follow = new StringBuilder("[" + JsonArrayRender.Pioneer)
    JsonArrayRender.renderRecords(frames.last._2, b => { follow.append(text(b)); () })
    assert(follow.append("]").toString == edges)
  }

  test("a record column that is not string, int or long is refused before any output") {
    val df = spark.range(0, 3).selectExpr("CAST(id AS string) AS key", "id * 0.5D AS score")
    var chunks = 0
    val e = intercept[IllegalArgumentException] {
      JsonArrayRender.render(df, _ => chunks += 1)
    }
    assert(e.getMessage.contains("score"), e.getMessage)
    assert(chunks == 0)
  }

  test("known difference: a narrowed day-time interval prints in its own units") {
    val df = spark.sql("SELECT INTERVAL '3' DAY AS i")
    assert(rendered(JsonArrayRender.renderVerbatim, df) ==
      """[{"type":"pioneer"}, {"i":"INTERVAL '3' DAY"}]""")
    assert(oldPath(df, ", " + _) ==
      """[{"type":"pioneer"}, {"i":"INTERVAL '3 00:00:00' DAY TO SECOND"}]""")
  }

  /** Runs `render` under a deadline like `/search` does; returns the
    * failure, the rendered text and the deadline's job group. */
  private def underDeadline(seconds: Int)(render: (Array[Byte] => Unit) => Unit)
      : (Throwable, String, String) = {
    val sb = new StringBuilder
    var group = ""
    val e = intercept[SparkException] {
      Deadline.withDeadlineGroup(spark, seconds) { g =>
        group = g
        render(b => { sb.append(text(b)); () })
      }
    }
    (e, sb.toString, group)
  }

  private def assertNoActiveJob(group: String): Unit = {
    val tracker = spark.sparkContext.statusTracker
    def active = tracker.getActiveJobIds.toSet.intersect(tracker.getJobIdsForGroup(group).toSet)
    val until = System.nanoTime() + 10L * 1000000000L
    while (active.nonEmpty && System.nanoTime() < until) Thread.sleep(50)
    assert(active.isEmpty, s"jobs of $group still running")
  }

  test("a deadline expiring inside a partition job cancels it mid-stream") {
    import spark.implicits._
    // Partition 0 renders at once; partition 1's job outlives the deadline.
    val df = spark.range(0, 8, 1, 4).as[Long].mapPartitions { it =>
      if (TaskContext.getPartitionId() > 0) Thread.sleep(60000)
      it
    }.toDF("id")
    val t0 = System.nanoTime()
    val (e, body, group) = underDeadline(3)(JsonArrayRender.renderVerbatim(df, _))
    assert((System.nanoTime() - t0) / 1e9 < 30, "the cancel was not prompt")
    assert(e.getMessage.contains("cancelled"), e.getMessage)
    assert(body == """[{"type":"pioneer"}, {"id":0}, {"id":1}""")
    assertNoActiveJob(group)
  }

  test("a deadline expiring between partition jobs fails the next job") {
    val df = spark.range(0, 8, 1, 4).toDF("id")
    val (e, body, group) = underDeadline(2) { out =>
      // The consumer stalls past the deadline on partition 0's last row.
      JsonArrayRender.renderVerbatim(df, b => {
        out(b); if (text(b).contains("\"id\":1}")) Thread.sleep(4000)
      })
    }
    assert(e.getMessage.contains("cancelled"), e.getMessage)
    assert(body == """[{"type":"pioneer"}, {"id":0}, {"id":1}""")
    assertNoActiveJob(group)
  }

  test("a consumer failing with IOException between partitions starts no further job") {
    val df = spark.range(0, 400, 1, 4).toDF("id")
    var group = ""
    val (_, jobs, _) = recording {
      intercept[java.io.IOException] {
        Deadline.withDeadlineGroup(spark, 600) { g =>
          group = g
          JsonArrayRender.renderVerbatim(df, b =>
            if (text(b).contains("\"id\":99}")) throw new java.io.IOException("Broken pipe"))
        }
      }
    }
    assert(jobs.count(_.group == group) == 1, jobs)
  }
}
