package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.pipeline.{CorpusWriter, Novelty}

/** Streaming novelty: the union of per-batch scores against the frozen
  * gram index is BIT-equal to the batch replay on the same rows. */
class StreamNoveltySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private type Rec = (Long, Long, Long, Double)
  private def rows(df: org.apache.spark.sql.DataFrame): Set[Rec] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getDouble(3))).toSet

  test("multi-batch scoring ≡ the batch replay against the same index") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = graft.core.Tables.load(spark, TestSpark.Sf, "documents")
    val pred = col("doc_id") % 7 === 0
    val tbl = "graft_test_stream_novelty_idx"
    CorpusWriter.writeGramIndex(docs.filter(!pred), "text", n = 4, tbl,
      buckets = 8)
    try {
      val expect = rows(Novelty.noveltyAgainstIndex(spark, tbl,
        docs.filter(pred), "doc_id", "text", n = 4))
      assert(expect.nonEmpty)

      val incRows = docs.filter(pred).select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().toSeq.sortBy(_._1)
      val parts = incRows.grouped(math.max(1, (incRows.length + 2) / 3)).toSeq
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Rec)]
      val input = MemoryStream[(Long, String)]
      val q = MicroBatch.each(input.toDF().toDF("doc_id", "text")) {
          (batch, batchId) =>
            rows(Novelty.noveltyAgainstIndex(spark, tbl, batch, "doc_id",
              "text", n = 4)).foreach(r => got += batchId -> r)
        }
        .queryName("stream_novelty_fixture_test")
        .start()
      try {
        parts.foreach { p => input.addData(p); q.processAllAvailable() }
      } finally q.stop()

      assert(parts.length === 3)
      assert(got.map(_._2).toSet === expect,
        s"extra=${got.map(_._2).toSet -- expect} " +
          s"missing=${expect -- got.map(_._2).toSet}")
      assert(got.size === expect.size)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_meta")
    }
  }
}
