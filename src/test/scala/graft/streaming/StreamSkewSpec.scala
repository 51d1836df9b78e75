package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ops.SkewReport

/** Streaming skew counters: per-batch (key, n) rows summed over batches
  * and pushed through profileFromCounts ≡ the batch keyProfile over the
  * union (additivity of counts). */
class StreamSkewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("merged micro-batch counters ≡ the batch profile over the union") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val ev = graft.core.Tables.load(spark, TestSpark.Sf, "events")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSeq
    val expect = rows(SkewReport.keyProfile(ev, "event_type", 100L))
    assert(expect.nonEmpty)

    val evRows = ev.select("event_id", "event_type")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    val parts = evRows.grouped(math.max(1, (evRows.length + 2) / 3)).toSeq
    val acc = scala.collection.mutable.Map.empty[String, Long]
    val input = MemoryStream[(Long, String)]
    val q = MicroBatch.each(input.toDF().toDF("event_id", "event_type")) {
        (batch, _) =>
          // Each batch's (key, n) counters; the sum over batches feeds
          // profileFromCounts.
          batch.groupBy(col("event_type").as("key"))
            .agg(count(lit(1)).as("n")).collect().foreach { r =>
            val k = r.getString(0)
            acc(k) = acc.getOrElse(k, 0L) + r.getLong(1)
          }
      }
      .queryName("stream_skew_fixture_test")
      .start()
    try {
      parts.foreach { p => input.addData(p); q.processAllAvailable() }
    } finally q.stop()

    val merged = acc.toSeq.toDF("key", "n")
    assert(rows(SkewReport.profileFromCounts(merged, 100L)) == expect)
  }
}
