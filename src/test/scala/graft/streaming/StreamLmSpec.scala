package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.pipeline.{CorpusWriter, TrigramModel}

/** Streaming LM scoring: the union of per-batch scores against the
  * frozen trigram model is BIT-equal to the batch replay on the same
  * rows. */
class StreamLmSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private type Rec = (Long, Long, Long, Double, Long, Long, Long, Long)
  private def rows(df: org.apache.spark.sql.DataFrame): Set[Rec] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getDouble(3), r.getLong(4), r.getLong(5), r.getLong(6),
      r.getLong(7))).toSet

  test("multi-batch scoring ≡ the batch replay against the same model") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = graft.core.Tables.load(spark, TestSpark.Sf, "documents")
    val tbl = "graft_test_stream_lm"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_meta")
    CorpusWriter.writeLmModel(docs.filter(col("doc_id") % 2 === 0),
      "text", tbl, buckets = 8)
    try {
      val scoreDocs = docs.filter(col("doc_id") % 2 === 1).limit(30)
      val (expect, f1) = graft.ops.Materialize.collecting {
        rows(TrigramModel.scoreFromModel(scoreDocs, "doc_id", "text",
          spark.table(tbl)))
      }
      graft.ops.Materialize.release(f1)
      assert(expect.nonEmpty)
      // The held-out half genuinely exercises backoff somewhere.
      assert(expect.exists(r => r._6 + r._7 + r._8 > 0))

      val incRows = scoreDocs.select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().toSeq.sortBy(_._1)
      val parts = incRows.grouped(math.max(1, (incRows.length + 2) / 3)).toSeq
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Rec)]
      val input = MemoryStream[(Long, String)]
      val q = MicroBatch.each(input.toDF().toDF("doc_id", "text")) {
          (batch, batchId) =>
            rows(TrigramModel.scoreFromModel(batch, "doc_id", "text",
              spark.table(tbl))).foreach(r => got += batchId -> r)
        }
        .queryName("stream_lm_fixture_test")
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
