package graft.log

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
      assert(TestSpark.jobsDuring(s)(build(s, topics)) >= 1)
      assert(TestSpark.jobsDuring(s)(build(s, topics)) == 0)
    }
  }
}
