package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Streaming semantic decontamination: the union of per-batch
  * annotations is BIT-EQUAL to the batch q73 replay (static eval set →
  * no arrival-order or stop-bound caveats), and a long-running stream
  * accumulates no caches. */
class StreamSemanticSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private type Rec = (Long, Long, Double, Boolean)
  private def rows(df: org.apache.spark.sql.DataFrame): Set[Rec] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getBoolean(3))).toSet

  test("multi-batch admission ≡ the batch q73 replay, cos bits included") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val emb = graft.core.Tables.load(spark, TestSpark.Sf, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
    val expect = rows(graft.pipeline.Similarity.semanticDecontam(
      emb, "vec_id", "emb", col("vec_id") % 97 === 0, tau = 0.35))
    assert(expect.nonEmpty)

    val evalVecs = emb.filter(col("vec_id") % 97 === 0)
    val corpusRows = emb.filter(col("vec_id") % 97 =!= 0)
      .as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
    val parts = corpusRows.grouped(
      math.max(1, (corpusRows.length + 2) / 3)).toSeq
    val admitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Rec)]
    val input = MemoryStream[(Long, Seq[Double])]
    val q = MicroBatch.each(input.toDF().toDF("vec_id", "emb")) {
        (batch, batchId) =>
          rows(graft.pipeline.Similarity.semanticDecontamAgainst(batch,
            evalVecs, "vec_id", "emb", 0.35))
            .foreach(r => admitted += batchId -> r)
      }
      .queryName("stream_semantic_fixture_test")
      .start()
    try {
      parts.foreach { p => input.addData(p); q.processAllAvailable() }
    } finally q.stop()

    assert(parts.length == 3)
    assert(admitted.map(_._2).toSet == expect,
      s"extra=${admitted.map(_._2).toSet -- expect} " +
        s"missing=${expect -- admitted.map(_._2).toSet}")
    // Exactly one annotation per corpus vector, from the one batch
    // carrying it.
    assert(admitted.size == admitted.toSet.size && admitted.size == expect.size)
    // Cache hygiene: nothing registered survives the per-batch release.
    assert(graft.ops.Materialize.liveSnapshot(spark).isEmpty ||
      graft.ops.Materialize.liveSnapshot(spark)
        .forall(d => !d.queryExecution.analyzed.toString.contains("stream_semantic")))
  }
}
