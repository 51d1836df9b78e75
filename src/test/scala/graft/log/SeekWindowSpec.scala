package graft.log

import java.io.File
import java.net.{HttpURLConnection, URI}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{max, min}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.{QueryOptions, Tables}
import graft.render.JsonArrayRender
import graft.server.HttpService

/** The relative-offset window sought by the archive's footer bounds
  * ([[LogQuery.consumed]] on the archive layout) keeps exactly the rows of
  * the aggregate window ([[LogQuery.consumedFrom]]) over the same archive:
  * `EXCEPT ALL` both ways is empty, and the `/search` body is the same
  * bytes as the aggregate frame's rendering. Every n from the start, the
  * end and past either end, over all partitions, an explicit pair and the
  * default partition, for one topic and for two; on the archive
  * [[LogStore.materialize]] writes, on one whose partitions span several
  * files and row groups, and on one with a partition directory missing. */
class SeekWindowSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val Topics = Seq("events", "clicks")
  private val services = scala.collection.mutable.Buffer.empty[HttpService]

  override def afterAll(): Unit = services.foreach(_.stop())

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  /** An archive shape: its directory and a session on its layout. */
  private final class Shape(val dir: String) {
    val session: SparkSession = TestSpark.onArchive(dir)
    lazy val service: HttpService = {
      val svc = new HttpService(session, port = 0, graft.core.Config.Defaults.copy(
        kafkaBootstrapServers = Map("sandbox" -> TestSpark.Sf))).start()
      services += svc
      svc
    }
    /** The largest partition of any archived topic. */
    lazy val largest: Long = Topics.map(t =>
      LogStore.topic(session, dir, t).groupBy("partition").count()
        .agg(max("count")).head().getLong(0)).max
  }

  private lazy val plain = {
    val dir = tmp("graft-seek-plain")
    LogStore.materialize(spark, TestSpark.Sf, dir, Topics)
    new Shape(dir)
  }

  /** Three files per partition directory, each cut into row groups of a
    * few rows: the bounds are the min and max over all of them. */
  private lazy val split = {
    val dir = tmp("graft-seek-split")
    Topics.foreach(t => RecordLog.build(spark, TestSpark.Sf, t).repartition(3)
      .write.mode(SaveMode.Overwrite)
      .option("parquet.block.size", "1024")
      .option("parquet.page.size.row.check.min", "4")
      .option("parquet.page.size.row.check.max", "4")
      .partitionBy("partition").parquet(s"$dir/$t"))
    new Shape(dir)
  }

  /** Partition 5 of `events` deleted: no files, so no bounds and no rows. */
  private lazy val holed = {
    val dir = tmp("graft-seek-holed")
    LogStore.materialize(spark, TestSpark.Sf, dir, Topics)
    val gone = new File(s"$dir/events/partition=5")
    gone.listFiles().foreach(_.delete())
    assert(gone.delete())
    new Shape(dir)
  }

  test("the split archive really spans several files and row groups per partition") {
    val groups = Tables.resolve(split.session, s"${split.dir}/events").rowGroups
    val shapes = new File(s"${split.dir}/events").listFiles()
      .filter(_.getName.startsWith("partition=")).map { d =>
        val p = d.getName.stripPrefix("partition=")
        (d.listFiles().count(_.getName.endsWith(".parquet")),
          groups.count(_.partition("partition") == p))
      }
    assert(shapes.exists { case (files, rowGroups) => files > 1 && rowGroups > files },
      shapes.toSeq)
  }

  test("footer bounds are the aggregate's bounds; sf0.001 partition files are one row group") {
    for (shape <- Seq(plain, split, holed); t <- Topics) {
      val fromFooters = LogStore.offsetBounds(
        Tables.resolve(shape.session, s"${shape.dir}/$t").rowGroups, t)
      val aggregated = LogStore.topic(shape.session, shape.dir, t)
        .groupBy("partition").agg(min("offset"), max("offset") + 1)
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(fromFooters.contains(aggregated), s"${shape.dir}/$t")
    }
    assert(!LogStore.offsetBounds(Tables.resolve(holed.session,
      s"${holed.dir}/events").rowGroups, "events").get.contains(5))
    val groups = Tables.resolve(plain.session, s"${plain.dir}/events").rowGroups
    assert(groups.map(_.partition("partition")).distinct.size == groups.size)
  }

  test("row groups of another topic, or without statistics, give no bounds") {
    val groups = Tables.resolve(plain.session, s"${plain.dir}/events").rowGroups
    assert(LogStore.offsetBounds(groups, "clicks").isEmpty)
    assert(LogStore.offsetBounds(groups.map(g => g.copy(stats = g.stats - "offset")),
      "events").isEmpty)
    assert(LogStore.offsetBounds(Nil, "events").contains(Map.empty))
  }

  private def options(topics: Seq[String], pick: String, n: Long): QueryOptions = {
    val o = QueryOptions(bootstrapServers = TestSpark.Sf, topics = topics,
      relativeOffset = Some(n))
    pick match {
      case "all" => o
      case "2,5" => o.copy(partitions = Some(Seq(2, 5)))
      // The key is also the key regex: the body keeps that key's records.
      case "default" => o.copy(defaultPartition = true, keyRegex = Some("13"))
    }
  }

  private def query(o: QueryOptions): String =
    s"bootstrap-servers=${o.bootstrapServers}&topics=${o.topics.mkString(",")}" +
      s"&relative-offset=${o.relativeOffset.get}" +
      o.partitions.map(ps => s"&partitions=${ps.mkString(",")}").getOrElse("") +
      (if (o.defaultPartition) s"&default-partition&key-regex=${o.keyRegex.get}" else "")

  private def get(port: Int, qs: String): String = {
    val conn = new URI(s"http://localhost:$port/search?$qs").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    assert(conn.getResponseCode == 200)
    new String(conn.getInputStream.readAllBytes(), "UTF-8")
  }

  /** The aggregate frame's `/search` body: the route's frame and renderer
    * over the aggregate window. */
  private def aggregateBody(aggregated: DataFrame, o: QueryOptions): String = {
    val out = new java.io.ByteArrayOutputStream()
    JsonArrayRender.render(LogQuery.streamFrom(aggregated, o)
      .sortWithinPartitions("type", "topic", "partition", "offset"), out.write(_))
    out.toString("UTF-8")
  }

  private def sameWindow(shape: Shape, topics: Seq[String], pick: String, n: Long): Long = {
    val o = options(topics, pick, n)
    val sought = LogQuery.consumed(shape.session, TestSpark.Sf, o)
    val plan = sought.queryExecution.executedPlan.toString
    Seq("HashAggregate", "Exchange", "Join").foreach(op =>
      assert(!plan.contains(op), s"not sought by footer bounds: $plan"))
    val aggregated = LogQuery.consumedFrom(
      topics.map(LogStore.topic(shape.session, shape.dir, _)).reduce(_ union _), o)
    val what = s"${shape.dir} ${topics.mkString("+")} $pick n=$n"
    assert(sought.exceptAll(aggregated).isEmpty, what)
    assert(aggregated.exceptAll(sought).isEmpty, what)
    assert(get(shape.service.boundPort, query(o)) == aggregateBody(aggregated, o), what)
    sought.count()
  }

  private def ns(shape: Shape): Seq[Long] =
    Seq(0L, 1L, -1L, -100L, shape.largest + 5, -(shape.largest + 5))

  test("archive as materialized: every n, partition choice and topic set") {
    val rows = for (n <- ns(plain); pick <- Seq("all", "2,5", "default");
                    topics <- Seq(Seq("events"), Topics))
      yield (n, sameWindow(plain, topics, pick, n))
    // Not vacuous: the window keeps rows except past the end.
    assert(rows.forall { case (n, c) => (n == plain.largest + 5) == (c == 0) }, rows)
  }

  test("partitions split into several files and row groups") {
    for (n <- ns(split); pick <- Seq("all", "2,5"); topics <- Seq(Seq("events"), Topics))
      sameWindow(split, topics, pick, n)
  }

  test("a partition directory missing") {
    for (n <- ns(holed); pick <- Seq("all", "2,5"); topics <- Seq(Seq("events"), Topics))
      sameWindow(holed, topics, pick, n)
  }
}
