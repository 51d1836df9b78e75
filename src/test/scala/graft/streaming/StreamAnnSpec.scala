package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.pipeline.{Clustering, CorpusWriter}

/** Streaming ANN retrieval: the union of per-batch probes against the
  * frozen IVF sidecar is BIT-equal to the batch replay. */
class StreamAnnSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private type Rec = (Long, Long, Long, Long) // qid, vec_id, cos bits, rn
  private def rows(df: org.apache.spark.sql.DataFrame): Set[Rec] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getLong(3))).toSet

  test("multi-batch probes ≡ the batch replay against the same index") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val emb = graft.core.Tables.load(spark, TestSpark.Sf, "embeddings")
    val tbl = "graft_test_stream_ann_idx"
    CorpusWriter.writeIvfIndex(emb, "vec_id", "embedding", tbl,
      k = 8, rounds = 2)
    try {
      val qids = Seq(0L, 1L, 2L, 3L, 4L, 5L)
      val queries = emb.filter(col("vec_id").isin(qids: _*))
      val expect = rows(Clustering.ivfTopKFromIndex(spark, tbl, queries,
        "vec_id", "embedding", nprobe = 2, topK = 5))
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
              got ++= rows(Clustering.ivfTopKFromIndex(spark, tbl, batch,
                "vec_id", "embedding", nprobe = 2, topK = 5))
        }
        .queryName("stream_ann_fixture_test")
        .start()
      try {
        parts.foreach { p => input.addData(p); q.processAllAvailable() }
      } finally q.stop()
      assert(got.toSet == expect)
      assert(got.size == expect.size) // no duplicate emissions
    } finally {
      Seq(tbl, s"${tbl}_cent", s"${tbl}_meta").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
