package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.pipeline.Funnel

/** Streaming funnel: per-batch counters summed over batches ≡ the batch
  * funnel over the union (additivity of row-local stage flags). */
class StreamFunnelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private type Key = (String, Int, String)
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Key, (Long, Long))] =
    df.collect().map(r => ((r.getString(0), r.getInt(1), r.getString(2)),
      (r.getLong(3), r.getLong(4)))).toSeq

  test("summed micro-batch counters ≡ the batch funnel over the union") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = graft.core.Tables.load(spark, TestSpark.Sf, "documents")
    val stages = Funnel.rowLocalStageCols("text")
    graft.functions.GraftFunctions.register(spark)
    val expect = rows(Funnel.report(
      docs.select(col("source") +:
        stages.map { case (n, c) => c.as(n) }: _*),
      "source", stages.map(_._1))).toMap
    assert(expect.nonEmpty)
    assert(expect.values.exists { case (e, p) => p < e }) // real attrition

    val docRows = docs.select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)].collect().toSeq.sortBy(_._1)
    val parts = docRows.grouped(
      math.max(1, (docRows.length + 2) / 3)).toSeq
    val acc = scala.collection.mutable.Map.empty[Key, (Long, Long)]
    val input = MemoryStream[(Long, String, String)]
    val q = MicroBatch.each(input.toDF().toDF("doc_id", "source", "text")) {
        (batch, _) =>
          graft.functions.GraftFunctions.register(batch.sparkSession)
          val flagged = batch.select(col("source") +:
            stages.map { case (n, c) => c.as(n) }: _*)
          rows(Funnel.report(flagged, "source", stages.map(_._1))).foreach {
            case (k, (e, p)) =>
              val (e0, p0) = acc.getOrElse(k, (0L, 0L))
              acc(k) = (e0 + e, p0 + p)
          }
      }
      .queryName("stream_funnel_fixture_test")
      .start()
    try {
      parts.foreach { p => input.addData(p); q.processAllAvailable() }
    } finally q.stop()
    assert(acc.toMap == expect)
  }
}
