package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Streaming Bloom admission: the packed-literal probe is bit-equal to
  * the q71 join-relation form, and the union of per-batch reports under
  * the frozen filter is bit-equal to the batch replay. */
class StreamBloomSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private type Rec = (Long, Long, Long)
  private def rows(df: org.apache.spark.sql.DataFrame): Set[Rec] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("packed probe ≡ the q71 broadcast-join probe on the fixture") {
    val docs = graft.core.Tables.load(spark, TestSpark.Sf, "documents")
    val evalPred = col("doc_id") % 97 === 0
    val expect = rows(graft.pipeline.BloomDecontam.bloomReport(
      docs, "doc_id", "text", evalPred, n = 4))
    assert(expect.nonEmpty)
    val packed = graft.pipeline.BloomDecontam.packedFilter(
      docs.filter(evalPred), "text", n = 4)
    val got = rows(graft.pipeline.BloomDecontam.bloomReportWith(
      docs.filter(!evalPred), "doc_id", "text", n = 4, packed))
    assert(got == expect,
      s"extra=${got -- expect} missing=${expect -- got}")
  }

  test("multi-batch admission ≡ the batch replay under the frozen filter") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = graft.core.Tables.load(spark, TestSpark.Sf, "documents")
    val evalPred = col("doc_id") % 97 === 0
    val packed = graft.pipeline.BloomDecontam.packedFilter(
      docs.filter(evalPred), "text", n = 4)
    val corpus = docs.filter(!evalPred)
    val expect = rows(graft.pipeline.BloomDecontam.bloomReportWith(
      corpus, "doc_id", "text", n = 4, packed))

    val docRows = corpus.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    val parts = docRows.grouped(math.max(1, (docRows.length + 2) / 3)).toSeq
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Rec)]
    val input = MemoryStream[(Long, String)]
    val q = MicroBatch.each(input.toDF().toDF("doc_id", "text")) {
        (batch, batchId) =>
          rows(graft.pipeline.BloomDecontam.bloomReportWith(batch, "doc_id",
            "text", n = 4, packed)).foreach(r => got += batchId -> r)
      }
      .queryName("stream_bloom_fixture_test")
      .start()
    try {
      parts.foreach { p => input.addData(p); q.processAllAvailable() }
    } finally q.stop()

    assert(parts.length == 3)
    assert(got.map(_._2).toSet == expect,
      s"extra=${got.map(_._2).toSet -- expect} " +
        s"missing=${expect -- got.map(_._2).toSet}")
    // One report row per document, from the one batch carrying it.
    assert(got.size == got.toSet.size && got.size == expect.size)
  }

  test("acceptance never undercounts: every true eval gram accepts") {
    import spark.implicits._
    // A doc made ENTIRELY of eval text must have every gram accepted.
    val eval = Seq((1L, "e1 e2 e3 e4 e5 e6 e7 e8")).toDF("doc_id", "text")
    val packed = graft.pipeline.BloomDecontam.packedFilter(eval, "text", n = 4)
    val probe = Seq((2L, "e1 e2 e3 e4 e5 e6 e7 e8")).toDF("doc_id", "text")
    val r = graft.pipeline.BloomDecontam.bloomReportWith(
      probe, "doc_id", "text", n = 4, packed).collect()
    assert(r.length == 1)
    assert(r.head.getLong(1) === 5L && r.head.getLong(2) === 5L)
  }
}
