package graft.log

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.{Murmur2, QueryOptions}
import graft.functions.GraftFunctions

/** The reference's 8 CLI integration scenarios
  * (`/root/reference/run-integration-tests:103-176`) ported to in-memory
  * fixtures: topic-a has 10 partitions and three string records —
  * k0→v0, k0→v1 (same partition, offsets 0/1), k2→v2 (partition 3). */
class CliScenariosSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val recSchema = StructType(Seq(
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", LongType),
    StructField("key", StringType),
    StructField("value", StringType)))

  private val p0 = Murmur2.partition("k0", 10)
  private lazy val topicA = spark.createDataFrame(
    java.util.List.of(
      Row("topic-a", p0, 0L, 1000L, "k0", "v0"),
      Row("topic-a", p0, 1L, 2000L, "k0", "v1"),
      Row("topic-a", 3, 0L, 3000L, "k2", "v2")),
    recSchema)

  assert(Murmur2.partition("k2", 10) == 3) // fixture invariant from the harness

  private def opts(kv: (String, String)*): QueryOptions =
    QueryOptions.fromMap(Map("bootstrap-servers" -> "sandbox:9092", "topics" -> "topic-a") ++ kv)

  private def run(o: QueryOptions): Seq[Row] =
    LogQuery.canonical(LogQuery.resultsFrom(LogQuery.consumedFrom(topicA, o), o))
      .collect().toSeq

  test("scenario 1: --key-regex k0 → exact full-match, first value v0") {
    val rows = run(opts("key-regex" -> "k0"))
    assert(rows.map(_.getAs[String]("value")) == Seq("v0", "v1"))
    assert(rows.forall(_.getAs[String]("key") == "k0"))
  }

  test("scenario 2: --key-regex k.* → fuzzy match finds all three records") {
    // The reference asserts v0 arrives first — an artifact of poll order,
    // which is explicitly nondeterministic (SURVEY.md §7.4 risk 2). Under
    // canonical (topic, partition, offset) order we assert content + the
    // within-partition offset order instead.
    val rows = run(opts("key-regex" -> "k.*"))
    assert(rows.map(_.getAs[String]("value")).toSet == Set("v0", "v1", "v2"))
    val k0vals = rows.filter(_.getAs[String]("key") == "k0").map(_.getAs[String]("value"))
    assert(k0vals == Seq("v0", "v1"))
  }

  test("scenario 3: --val-regex v0 → exact value match") {
    assert(run(opts("val-regex" -> "v0")).map(_.getAs[String]("value")) == Seq("v0"))
  }

  test("scenario 4: --val-regex v.* → fuzzy match finds all three records") {
    val rows = run(opts("val-regex" -> "v.*"))
    assert(rows.map(_.getAs[String]("value")).toSet == Set("v0", "v1", "v2"))
  }

  test("scenario 5: --relative-offset 1 → skips offset 0, first value v1") {
    val rows = run(opts("relative-offset" -> "1"))
    assert(rows.map(_.getAs[String]("value")) == Seq("v1"))
  }

  test("scenario 6: --partitions 3 → explicit pruning finds v2") {
    assert(run(opts("partitions" -> "3")).map(_.getAs[String]("value")) == Seq("v2"))
  }

  /** The same topic archived as [[LogStore]] lays it out, read through a
    * session on the archive layout: the relative-offset window seeks by
    * the footers' offset bounds instead of aggregating the rows. */
  private lazy val archived = {
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-archive").toString
    topicA.write.partitionBy("partition").parquet(s"$dir/topic-a")
    TestSpark.onArchive(dir)
  }

  private def runArchived(o: QueryOptions): Seq[Row] = {
    val df = LogQuery.canonical(LogQuery.results(archived, o.bootstrapServers, o))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("BroadcastExchange"), plan)
    df.collect().toSeq
  }

  test("scenario 5 on the archived layout: the seek by footer bounds skips offset 0") {
    val o = opts("relative-offset" -> "1")
    assert(runArchived(o).map(_.getAs[String]("value")) == Seq("v1"))
    assert(runArchived(o) == run(o))
  }

  test("scenario 6 on the archived layout: explicit pruning finds v2") {
    val o = opts("partitions" -> "3")
    assert(runArchived(o).map(_.getAs[String]("value")) == Seq("v2"))
    assert(runArchived(o) == run(o))
  }

  test("pruning + relative offset compose: bounds come from the pruned slice") {
    // Only k0's partition is assigned; relative offset 1 seeks earliest+1
    // WITHIN that partition → exactly v1 (k2's partition never probed).
    val rows = run(opts("partitions" -> p0.toString, "relative-offset" -> "1"))
    assert(rows.map(_.getAs[String]("value")) == Seq("v1"))
  }

  test("full-match anchoring: regex k does NOT match key k0 (re-matches parity)") {
    assert(run(opts("key-regex" -> "k")).isEmpty)
  }

  test("default-partition pruning scans only murmur2(key)'s partition") {
    val rows = run(opts("default-partition" -> "true", "key-regex" -> "k0"))
    assert(rows.map(_.getAs[String]("value")) == Seq("v0", "v1"))
    assert(rows.forall(_.getAs[Int]("partition") == p0))
  }

  // Scenarios 7–8: msgpack. The source delivers RAW BINARY key/value (as
  // a real Kafka source would); the --key/value-deserializer options drive
  // the decode inside the pipeline. Bytes of "k"/"v" decode to fixints
  // 107/118, and the regex runs on the string rendering.
  private lazy val msgTopic = {
    GraftFunctions.register(spark)
    val schema = StructType(Seq(
      StructField("topic", StringType),
      StructField("partition", IntegerType),
      StructField("offset", LongType),
      StructField("timestamp", LongType),
      StructField("key", BinaryType),
      StructField("value", BinaryType)))
    val rows = (0L until 3L).map(i =>
      Row("topic-msg", 0, i, 1000L + i, "k".getBytes, "v".getBytes))
    spark.createDataFrame(java.util.List.of(rows: _*), schema)
  }

  private val msgDeser = Seq(
    "key-deserializer" -> QueryOptions.MsgpackDeser,
    "value-deserializer" -> QueryOptions.MsgpackDeser)

  test("scenario 7: msgpack round-trip — key 107, value 118") {
    val o = opts(msgDeser: _*)
    val rows = LogQuery.canonical(
      LogQuery.resultsFrom(LogQuery.consumedFrom(msgTopic, o), o)).collect()
    assert(rows.length == 3)
    assert(rows.forall(r => r.getAs[String]("key") == "107" && r.getAs[String]("value") == "118"))
  }

  test("scenario 8: msgpack + --key-regex 107 matches all records") {
    val o = opts(msgDeser :+ ("key-regex" -> "107"): _*)
    val rows = LogQuery.resultsFrom(LogQuery.consumedFrom(msgTopic, o), o).collect()
    assert(rows.length == 3)
  }

  test("string deserializer on binary columns casts UTF-8 bytes") {
    val o = opts() // default StringDeserializer both sides
    val rows = LogQuery.resultsFrom(LogQuery.consumedFrom(msgTopic, o), o).collect()
    assert(rows.forall(r => r.getAs[String]("key") == "k" && r.getAs[String]("value") == "v"))
  }
}
