package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ops.Materialize

/** The micro-batch combinator: each batch's registered frames are
  * released whether the operator returns or throws, and it stays the
  * only micro-batch writer (as [[graft.GraftSession]] stays the only
  * session builder) in `src/main`. */
class MicroBatchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Frames registered now that were not live in `before` — identity,
    * not a count (other suites' leftovers may be pruned meanwhile). */
  private def leaked(before: Set[Dataset[_]]): Set[Dataset[_]] =
    Materialize.liveSnapshot(spark) -- before

  test("an op that materializes and returns leaves no frame live after each batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val before = Materialize.liveSnapshot(spark)
    val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val liveInBatch = scala.collection.mutable.ArrayBuffer.empty[Int]
    val input = MemoryStream[Long]
    val q = MicroBatch.each(input.toDF()) { (batch, _) =>
        frames += Materialize.barrier(batch.selectExpr("value * 2 AS v"))
        liveInBatch += leaked(before).size
      }
      .queryName("micro_batch_release_test")
      .start()
    try {
      Seq(Seq(1L, 2L), Seq(3L), Seq(4L, 5L, 6L)).foreach { p =>
        input.addData(p)
        q.processAllAvailable()
        assert(leaked(before).isEmpty)
      }
    } finally q.stop()
    assert(frames.size == 3)
    assert(liveInBatch.forall(_ == 1)) // the barrier was live inside the batch
    frames.foreach(f => assert(f.storageLevel == StorageLevel.NONE))
  }

  test("an op that registers a frame and throws fails the query and leaks nothing") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val before = Materialize.liveSnapshot(spark)
    val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val input = MemoryStream[Long]
    val q = MicroBatch.each(input.toDF()) { (batch, _) =>
        frames += Materialize.barrier(batch.selectExpr("value * 2 AS v"))
        throw new IllegalStateException("operator failed mid-batch")
      }
      .queryName("micro_batch_failure_test")
      .start()
    try {
      input.addData(Seq(1L, 2L))
      val e = intercept[StreamingQueryException](q.processAllAvailable())
      assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(c => c.getMessage != null &&
          c.getMessage.contains("operator failed mid-batch")), e)
    } finally q.stop()
    assert(frames.size == 1)
    assert(frames.head.storageLevel == StorageLevel.NONE)
    assert(leaked(before).isEmpty)
  }

  test("src/main has one foreachBatch call and one SparkSession builder") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def holders(needle: String): Seq[String] = files
      .filter(f => new String(Files.readAllBytes(f), "UTF-8").contains(needle))
      .map(_.getFileName.toString).sorted
    assert(holders(".foreachBatch") == Seq("MicroBatch.scala"))
    assert(holders("SparkSession.builder") == Seq("GraftSession.scala"))
  }
}
