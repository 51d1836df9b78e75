package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.{QueryOptions, Tables}
import graft.queries.Conformance

/** L2/Q17: the streaming replay under Trigger.AvailableNow must agree with
  * the batch plan (FIXTURES.md §C Q17, SURVEY.md §7.2 step 7). */
class StreamingLogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("tumbling agg: batch and AvailableNow streaming replay agree") {
    val batch = Conformance.tumblingAgg(Tables.load(spark, TestSpark.Sf, "events"))
      .collect().map(_.mkString("|")).toSet
    val streamed = StreamingLog.tumblingReplay(spark, TestSpark.Sf, "tumbling_replay_test")
      .collect().map(_.mkString("|")).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("follow-mode projection applies regex filters incrementally") {
    val opts = QueryOptions(bootstrapServers = TestSpark.Sf, topics = Seq("events"),
      keyRegex = Some("1[0-3]"))
    val streamed = StreamingLog.replayAvailableNow(
      StreamingLog.follow(spark, TestSpark.Sf, opts), "follow_replay_test")
      .collect()
    val expectedKeys = streamed.map(_.getAs[String]("key")).toSet
    assert(streamed.nonEmpty)
    assert(expectedKeys.subsetOf(Set("10", "11", "12", "13")))
    // Same record count as the batch key filter over the log.
    val batchCount = graft.log.LogQuery.results(spark, TestSpark.Sf,
      opts.copy(bootstrapServers = "sandbox:9092")).count()
    assert(streamed.length.toLong == batchCount)
  }

  test("follow honours topics: a clicks replay holds the batch clicks, labelled clicks") {
    val opts = QueryOptions(bootstrapServers = TestSpark.Sf, topics = Seq("clicks"))
    val streamed = StreamingLog.replayAvailableNow(
      StreamingLog.follow(spark, TestSpark.Sf, opts), "follow_clicks_test").collect()
    val clicks = graft.log.RecordLog.topic(spark, TestSpark.Sf, "clicks").count()
    assert(clicks > 0 && clicks < graft.log.RecordLog.events(spark, TestSpark.Sf).count())
    assert(streamed.length.toLong == clicks)
    assert(streamed.forall(_.getAs[String]("topic") == "clicks"))
    val both = StreamingLog.replayAvailableNow(StreamingLog.follow(spark, TestSpark.Sf,
      opts.copy(topics = Seq("events", "clicks"))), "follow_both_test").collect()
    assert(both.groupBy(_.getAs[String]("topic")).map { case (t, rs) => t -> rs.length.toLong } ==
      Map("events" -> graft.log.RecordLog.events(spark, TestSpark.Sf).count(), "clicks" -> clicks))
    val e = intercept[IllegalArgumentException](
      StreamingLog.follow(spark, TestSpark.Sf, opts.copy(topics = Seq("nope"))))
    assert(e.getMessage.contains("unknown topic: nope"))
  }
}
