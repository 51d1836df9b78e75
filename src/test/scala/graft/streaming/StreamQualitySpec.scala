package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Streaming quality scoring: the union of per-batch scores under
  * frozen corpus-trained weights is BIT-EQUAL to the batch q77 replay,
  * and nothing survives the per-batch cache release. */
class StreamQualitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private type Rec = (Long, Long, Long, Long)
  private def rows(df: org.apache.spark.sql.DataFrame): Set[Rec] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSet

  test("multi-batch scoring ≡ the batch q77 replay under shared weights") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = graft.core.Tables.load(spark, TestSpark.Sf, "documents")
    val expect = rows(graft.pipeline.QualityClassifier.trainAndScore(
      docs, "doc_id", "lang", "text", "n_chars", "en", rounds = 4))
    assert(expect.nonEmpty)

    val w = graft.pipeline.QualityClassifier.train(
      docs, "doc_id", "lang", "text", "n_chars", "en", rounds = 4)
    val docRows = docs.select(col("doc_id"), col("text"), col("lang"),
        col("n_chars"))
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
    val parts = docRows.grouped(math.max(1, (docRows.length + 2) / 3)).toSeq
    val scoredRows = scala.collection.mutable.ArrayBuffer.empty[(Long, Rec)]
    val input = MemoryStream[(Long, String, String, Long)]
    val q = MicroBatch.each(
        input.toDF().toDF("doc_id", "text", "lang", "n_chars")) {
        (batch, batchId) =>
          rows(graft.pipeline.QualityClassifier.scoreWith(batch, "doc_id",
            "lang", "text", "n_chars", "en", w))
            .foreach(r => scoredRows += batchId -> r)
      }
      .queryName("stream_quality_fixture_test")
      .start()
    try {
      parts.foreach { p => input.addData(p); q.processAllAvailable() }
    } finally q.stop()

    assert(parts.length == 3)
    assert(scoredRows.map(_._2).toSet == expect,
      s"extra=${scoredRows.map(_._2).toSet -- expect} " +
        s"missing=${expect -- scoredRows.map(_._2).toSet}")
    // One score per document, from the one batch carrying it.
    assert(scoredRows.size == scoredRows.toSet.size &&
      scoredRows.size == expect.size)
    // Cache hygiene: train() released its feature frame; the stream
    // registers nothing.
    assert(graft.ops.Materialize.liveSnapshot(spark).isEmpty ||
      graft.ops.Materialize.liveSnapshot(spark)
        .forall(d => !d.queryExecution.analyzed.toString.contains("stream_quality")))
  }

  test("scoreWith rejects a wrong-dimension weight vector") {
    val docs = graft.core.Tables.load(spark, TestSpark.Sf, "documents")
    intercept[IllegalArgumentException] {
      graft.pipeline.QualityClassifier.scoreWith(docs, "doc_id", "lang",
        "text", "n_chars", "en", Array(1L, 2L))
    }
  }
}
