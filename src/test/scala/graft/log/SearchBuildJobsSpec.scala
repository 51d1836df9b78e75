package graft.log

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.QueryOptions

/** Building a `/search` plan runs no Spark job: `HttpService` builds and
  * analyzes it before the response commits, outside any deadline group.
  * Once a session has resolved a topic's parquet relation
  * (`Tables.parquet`), a build lists no files and runs no
  * schema-inference job — on the archived layout and on the live one, for
  * one topic and for two. */
class SearchBuildJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val store = {
    val dir = java.nio.file.Files.createTempDirectory("graft-build-jobs").toString
    LogStore.materialize(spark, TestSpark.Sf, dir)
    dir
  }

  /** Jobs started on this thread while `body` runs. The listener bus is
    * asynchronous, so a marker job under a second group is run after the
    * body: once the listener has seen it, it has seen every earlier job. */
  private def jobsDuring(s: SparkSession)(body: => Unit): Int = {
    val sc = s.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val probe = s"search-build-${java.util.UUID.randomUUID()}"
    val marker = s"$probe-marker"
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(probe, "plan build", interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener marker", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val until = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains(marker) && System.nanoTime() < until) Thread.sleep(10)
      assert(groups.contains(marker), "the listener never saw the marker job")
      groups.asScala.count(_ == probe)
    } finally sc.removeSparkListener(listener)
  }

  private def build(s: SparkSession, topics: Seq[String]): Unit = {
    val opts = QueryOptions(bootstrapServers = TestSpark.Sf, topics = topics,
      keyRegex = Some("13"))
    LogQuery.stream(s, opts.bootstrapServers, opts).schema
  }

  /** A fresh session (its own conf and its own resolved relations) on the
    * archived layout, or on the live one when `archive` is false. */
  private def session(archive: Boolean): SparkSession = {
    val s = spark.newSession()
    if (archive) {
      s.conf.set("spark.graft.recordSource", "archive")
      s.conf.set("spark.graft.archiveDir", store)
    }
    s
  }

  for ((layout, archive) <- Seq("archived" -> true, "live" -> false);
       topics <- Seq(Seq("events"), Seq("events", "clicks"))) {
    test(s"$layout layout, ${topics.mkString("+")}: a warm session builds the plan with 0 jobs") {
      val s = session(archive)
      // The cold build resolves the relations, running the inference job:
      // the probe is not blind.
      assert(jobsDuring(s)(build(s, topics)) >= 1)
      assert(jobsDuring(s)(build(s, topics)) == 0)
    }
  }
}
