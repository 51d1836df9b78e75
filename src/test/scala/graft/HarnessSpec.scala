package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Materialize

/** The query harness releases every frame a run registers, whether the
  * sink returns or throws, and stays the only place in `src/main` that
  * releases a query's frames. The record log has one layout: no record-log
  * switch is left, and only `RecordLog` reads where the archive is. */
class HarnessSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("run times a query and releases its frames") {
    Materialize.releaseAll(spark)
    val baseline = Materialize.liveSnapshot(spark)
    var liveInSink = 0
    val r = Harness.run(spark, "q51_tfidf", TestSpark.Sf) { df =>
      df.write.format("noop").mode("overwrite").save()
      liveInSink = (Materialize.liveSnapshot(spark) -- baseline).size
    }
    assert(r.error.isEmpty, r.error)
    assert(r.seconds > 0)
    assert(liveInSink > 0, "q51_tfidf registers a barrier frame")
    assert(Materialize.liveSnapshot(spark) == baseline)
  }

  test("run returns what the sink throws and still releases its frames") {
    Materialize.releaseAll(spark)
    val baseline = Materialize.liveSnapshot(spark)
    val r = Harness.run(spark, "q51_tfidf", TestSpark.Sf) { _ =>
      throw new IllegalStateException("sink failed")
    }
    assert(r.error.map(_.getMessage).contains("sink failed"))
    assert(Materialize.liveSnapshot(spark) == baseline)
  }

  private def holders(needle: String): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .filter(f => new String(Files.readAllBytes(f), "UTF-8").contains(needle))
      .map(_.getFileName.toString).sorted
  }

  test("src/main releases frames only in Harness") {
    assert(holders("Materialize.releaseAll(") == Seq("Harness.scala"))
  }

  test("src/main names no record-log switch; only RecordLog reads the archive location") {
    Seq("spark.graft.recordSource", "spark.graft.cacheRecordLog", "spark.graft.offsets")
      .foreach(switch => assert(holders(switch).isEmpty, switch))
    assert(holders("spark.graft.archiveDir") == Seq("RecordLog.scala"))
  }
}
