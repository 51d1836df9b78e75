package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.pipeline.{CorpusWriter, ScalarQuant}

/** Streaming SQ8 retrieval: the union of per-batch probes against the
  * frozen codes + grid is BIT-equal to the batch replay. */
class StreamSq8Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private type Rec = (Long, Long, Long, Long) // qid, vec_id, score bits, rn
  private def rows(df: org.apache.spark.sql.DataFrame): Set[Rec] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getLong(3))).toSet

  test("multi-batch probes ≡ the batch replay against the same index") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val emb = graft.core.Tables.load(spark, TestSpark.Sf, "embeddings")
    val tbl = "graft_test_stream_sq8_idx"
    Seq(tbl, s"${tbl}_grid", s"${tbl}_meta").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    CorpusWriter.writeSq8Index(emb, "vec_id", "embedding", dim = 64, tbl,
      buckets = 8)
    try {
      val qids = Seq(0L, 1L, 2L, 3L, 4L, 5L)
      val queries = emb.filter(col("vec_id").isin(qids: _*))
      val (expect, f1) = graft.ops.Materialize.collecting {
        rows(ScalarQuant.sq8TopKFromIndex(spark, tbl, queries, "vec_id",
          "embedding", dim = 64, topK = 5))
      }
      graft.ops.Materialize.release(f1)
      assert(expect.nonEmpty)

      val qRows = queries
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("emb"))
        .as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
      val parts = qRows.grouped(2).toSeq // three 2-query micro-batches
      val got = scala.collection.mutable.ArrayBuffer.empty[Rec]
      val input = MemoryStream[(Long, Seq[Double])]
      val q = MicroBatch.each(input.toDF().toDF("vec_id", "embedding")) {
          (batch, _) =>
            // The index path `require`s a nonempty batch of queries.
            if (!batch.isEmpty)
              got ++= rows(ScalarQuant.sq8TopKFromIndex(spark, tbl, batch,
                "vec_id", "embedding", dim = 64, topK = 5))
        }
        .queryName("stream_sq8_fixture_test")
        .start()
      try {
        parts.foreach { p => input.addData(p); q.processAllAvailable() }
      } finally q.stop()
      assert(parts.length === 3)
      assert(got.toSet == expect)
      assert(got.size == expect.size) // no duplicate emissions
    } finally {
      Seq(tbl, s"${tbl}_grid", s"${tbl}_meta").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
