package graft.log

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.QueryOptions
import graft.render.JsonArrayRender

/** Building a `/search` plan runs no Spark job: `HttpService` builds and
  * analyzes it before the response commits, outside any deadline group.
  * Once a session has resolved a topic's parquet relation
  * (`Tables.parquet`), a build lists no files and runs no
  * schema-inference job — on a pinned archive and on the fixture's derived
  * one, for one topic and for two. A warm archived tail (`relative-offset`) request
  * finds its seek positions in the kept parquet footers: it too builds
  * with 0 jobs, and it executes as nothing but the per-partition render
  * jobs — no bounds aggregate, shuffle or broadcast. A `print-offset`
  * request reads its slice in one scan, not one for results and one for
  * progress rows. */
class SearchBuildJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val store = {
    val dir = java.nio.file.Files.createTempDirectory("graft-build-jobs").toString
    LogStore.materialize(spark, TestSpark.Sf, dir)
    dir
  }

  private def opts(topics: Seq[String], tail: Boolean): QueryOptions =
    QueryOptions(bootstrapServers = TestSpark.Sf, topics = topics,
      keyRegex = Option.when(!tail)("13"),
      relativeOffset = Option.when(tail)(-100L))

  /** The `/search` frame, as the route builds it. */
  private def searchFrame(s: SparkSession, o: QueryOptions): DataFrame =
    LogQuery.stream(s, o.bootstrapServers, o)
      .sortWithinPartitions("type", "topic", "partition", "offset")

  private def build(s: SparkSession, topics: Seq[String], tail: Boolean = false): Unit =
    searchFrame(s, opts(topics, tail)).schema

  /** A fresh session (its own conf and its own resolved relations) on the
    * pinned archive, or on the fixture's derived one when `pinned` is
    * false. */
  private def session(pinned: Boolean): SparkSession =
    if (pinned) TestSpark.onArchive(store) else spark.newSession()

  for ((layout, pinned) <- Seq("archived layout" -> true, "derived archive" -> false);
       topics <- Seq(Seq("events"), Seq("events", "clicks"))) {
    test(s"$layout, ${topics.mkString("+")}: a warm session builds the plan with 0 jobs") {
      val s = session(pinned)
      // The cold build resolves the relations, running the inference job:
      // the probe is not blind.
      assert(TestSpark.jobsDuring(s)(build(s, topics)) >= 1)
      assert(TestSpark.jobsDuring(s)(build(s, topics)) == 0)
    }
  }

  for (topics <- Seq(Seq("events"), Seq("events", "clicks")))
    test(s"archived layout, ${topics.mkString("+")}: a warm tail request builds with 0 jobs " +
        "and renders with one single-task job per output partition") {
      val s = session(pinned = true)
      assert(TestSpark.jobsDuring(s)(build(s, topics, tail = true)) >= 1)
      // Warm: the footer bounds are read and kept with the relation.
      assert(TestSpark.jobsDuring(s)(build(s, topics, tail = true)) == 0)
      val df = searchFrame(s, opts(topics, tail = true))
      val parts = df.queryExecution.executedPlan.execute().getNumPartitions
      val body = new java.io.ByteArrayOutputStream()
      // Every job in any group: a broadcast would run under its own.
      val jobs = TestSpark.jobsStarted(s)(JsonArrayRender.render(df, body.write(_)))
      assert(new ObjectMapper().readTree(body.toByteArray).size() > 1,
        "the tail rendered no record")
      assert(jobs.size == parts, jobs.map(_.stageInfos.map(_.name)))
      assert(jobs.forall(j => j.stageInfos.map(_.numTasks) == Seq(1)),
        jobs.map(_.stageInfos.map(i => s"${i.name}:${i.numTasks}")))
      val plan = df.queryExecution.executedPlan.toString
      Seq("Exchange", "HashAggregate", "Join").foreach(op => assert(!plan.contains(op), plan))
    }

  test("a print-offset request scans once: progress and result rows from one projection") {
    val s = session(pinned = true)
    val o = QueryOptions.parseQueryString(s"bootstrap-servers=${TestSpark.Sf}" +
      "&topics=events&partitions=2,5&print-offset=50&key-regex=1[0-9]")
    val df = searchFrame(s, o)
    assert(!df.schema("type").nullable)
    val scans = df.queryExecution.sparkPlan.collect {
      case scan: org.apache.spark.sql.execution.FileSourceScanExec => scan
    }
    assert(scans.size == 1, df.queryExecution.sparkPlan)
    // The same rows as results ∪ progress, the two-scan definition.
    val consumed = LogQuery.consumed(s, o.bootstrapServers, o)
    val union = LogQuery.resultsFrom(consumed, o).unionByName(consumed
      .filter(org.apache.spark.sql.functions.col("offset") % 50 === 0)
      .selectExpr("'offset' AS type", "topic", "partition", "offset", "timestamp", "key",
        "value"))
    assert(df.exceptAll(union).isEmpty && union.exceptAll(df).isEmpty)
    assert(df.filter("type = 'offset'").count() > 0 && df.filter("type = 'result'").count() > 0)
    val parts = df.queryExecution.executedPlan.execute().getNumPartitions
    val body = new java.io.ByteArrayOutputStream()
    val jobs = TestSpark.jobsStarted(s)(JsonArrayRender.render(df, body.write(_)))
    assert(jobs.size == parts && jobs.forall(_.stageInfos.map(_.numTasks) == Seq(1)),
      jobs.map(_.stageInfos.map(i => s"${i.name}:${i.numTasks}")))
  }
}
