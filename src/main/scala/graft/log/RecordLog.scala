package graft.log

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.GraftFunctions

/** The deterministic parquet stand-in for a partitioned Kafka topic
  * (FIXTURES.md §B.1) mirroring the reference's 6-field record model
  * (`/root/reference/src/kbrowse/search.clj:34-42`): every `events` row
  * becomes a record on topic "events", placed on one of 10 partitions by
  * the same murmur2 placement Kafka's DefaultPartitioner would use
  * (`/root/reference/src/kbrowse/kafka.clj:59-70`), with per-partition
  * offsets assigned in `(ts, event_id)` order.
  *
  * Schema: topic string, partition int, offset long, timestamp long
  * (epoch millis, like the reference's `.timestamp`), key string,
  * value string.
  *
  * One layout: every topic read goes through the archive ([[LogStore]]),
  * where `partition` is the directory key and each partition's offset
  * bounds sit in the parquet footers, so partition, offset and timestamp
  * predicates prune directories and row groups. The archive is either
  *  - pinned: `spark.graft.archiveDir` names it (a deployment whose
  *    archive is built out of band); or
  *  - derived: `sfDir`'s archive at [[LogStore.derivedDir]], built from
  *    the fixture on the first read; a regenerated fixture is archived
  *    into a directory of its own.
  * [[build]], the synthesis of offsets from the raw table, is only what
  * [[LogStore.materialize]] writes. On a real Kafka-backed cluster
  * `partition`/`offset` arrive free from the source and that synthesis
  * disappears.
  */
object RecordLog {
  val NumPartitions = 10

  /** Column metadata declaring `partition` as the murmur2 placement of
    * `key` — the license for KeyPartitionPruneRule to turn a literal key
    * predicate into partition pruning on ANY query over this log
    * (SURVEY.md §4). Attached by the synthesis and by the archive read. */
  val partitionMeta: org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putString(graft.plans.KeyPartitionPruneRule.PartitionOfKey, "key")
      .putLong(graft.plans.KeyPartitionPruneRule.NumPartitionsKey, NumPartitions.toLong)
      .build()

  /** Each topic of the record-log family as the predicate on `events`
    * rows it holds: "events" is the full table; "clicks" is the
    * click-only slice published as its own topic (used by the
    * multi-topic union conformance query, FIXTURES.md §C Q2). */
  private val topicRows: ListMap[String, Column] = ListMap(
    "events" -> lit(true),
    "clicks" -> (col("event_type") === "click"))

  /** The topics of the record log. */
  val Topics: Seq[String] = topicRows.keys.toSeq

  /** The rows of `events` (a batch or a streaming frame over the events
    * table) that topic `name` holds: the one definition of a topic, shared
    * by the archive's synthesis and the follow stream. */
  def rowsOf(events: DataFrame, name: String): DataFrame =
    events.filter(predicate(name))

  private def predicate(name: String): Column = topicRows.getOrElse(name,
    throw new IllegalArgumentException(s"unknown topic: $name"))

  /** The primary "events" topic. */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    topic(spark, sfDir, "events")

  /** Topic `name` of `sfDir`'s record log, read from its archive. */
  def topic(spark: SparkSession, sfDir: String, name: String): DataFrame =
    seekable(spark, sfDir, name).records

  /** A topic's records and each partition's offset bounds
    * `(earliest, latest)`: min offset and max offset + 1, taken from the
    * archive's parquet footers. `bounds` is asked only by a request that
    * seeks; it is `None` where the footers cannot answer. */
  final case class Seekable(records: DataFrame, bounds: () => Option[Map[Int, (Long, Long)]])

  /** [[topic]] as a [[Seekable]] ([[LogStore.seekable]]). A derived
    * archive holds [[Topics]] only: any other name fails before it is
    * built. A pinned one holds whatever was archived there. */
  def seekable(spark: SparkSession, sfDir: String, name: String): Seekable = {
    if (pinned(spark).isEmpty) predicate(name)
    LogStore.seekable(spark, archive(spark, sfDir), name)
  }

  private def pinned(spark: SparkSession): Option[String] =
    spark.conf.getOption("spark.graft.archiveDir")

  /** The archive `spark` reads `sfDir`'s topics from: the pinned
    * `spark.graft.archiveDir`, or else `sfDir`'s derived archive, built
    * first when the fixture's current generation has none. The
    * mains call this once, untimed, before they time any query. */
  def archive(spark: SparkSession, sfDir: String): String =
    pinned(spark).getOrElse(LogStore.derived(spark, sfDir))

  /** The synthesis of topic `name` from `sfDir`'s events table — what
    * [[LogStore.materialize]] archives. Its `row_number` window runs one
    * task per synthetic partition, once per archive build. */
  private[log] def build(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    GraftFunctions.register(spark)
    val keyed = rowsOf(Tables.load(spark, sfDir, "events"), name).select(
        col("ts"),
        col("event_id"),
        col("user_id").cast("string").as("key"),
        col("props").as("value"))
      .withColumn("partition",
        GraftFunctions.kafkaPartition(col("key"), NumPartitions).as("partition", partitionMeta))
    val w = Window.partitionBy(col("partition")).orderBy(col("ts"), col("event_id"))
    keyed.withColumn("offset", (row_number().over(w) - 1).cast("long"))
      .select(
        lit(name).as("topic"),
        col("partition"),
        col("offset"),
        unix_millis(col("ts").cast("timestamp")).as("timestamp"),
        col("key"),
        col("value"))
  }
}
