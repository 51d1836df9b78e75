package graft.log

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * Scale notes:
  *  - On a real Kafka-backed cluster `partition`/`offset` arrive free from
  *    the source and this whole mapping disappears; the `row_number` window
  *    here exists only for the parquet stand-in. Its parallelism is bounded
  *    by the 10 synthetic partitions — confined to test scale by design
  *    (VERDICT r2 item 3); the scalable derivation (range-partitioned sort +
  *    per-partition base-offset broadcast) lives in
  *    [[graft.ops.ScalableRank]] and is enabled with
  *    `spark.graft.offsets=scalable`.
  *  - Caching the materialized log is OPT-IN (`spark.graft.cacheRecordLog=
  *    true`): an unconditional eager `.cache()` of the whole topic defeats
  *    parquet pushdown/pruning for every downstream query and would
  *    materialize the full 100 TB topic (VERDICT r2 item 2). The conformance
  *    driver may opt in at sf0.01 where sharing one scan across ~25 queries
  *    wins.
  */
object RecordLog {
  val NumPartitions = 10

  /** Column metadata declaring `partition` as the murmur2 placement of
    * `key` — the license for KeyPartitionPruneRule to turn a literal key
    * predicate into partition pruning on ANY query over this log
    * (SURVEY.md §4). Attached by both the live synthesis and the archived
    * layout so the rule fires regardless of where the log is read from. */
  val partitionMeta: org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putString(graft.plans.KeyPartitionPruneRule.PartitionOfKey, "key")
      .putLong(graft.plans.KeyPartitionPruneRule.NumPartitionsKey, NumPartitions.toLong)
      .build()

  private val cache = TrieMap.empty[(String, String, String), DataFrame]

  /** Unpersist and drop any cached topics of `spark` — the release path for
    * the opt-in cache, which would otherwise retain the cached DataFrames
    * for the JVM lifetime (ADVICE r03). */
  def clearCache(spark: SparkSession): Unit = {
    val pfx = System.identityHashCode(spark).toString
    cache.keys.filter(_._1 == pfx).toSeq.foreach { k =>
      cache.remove(k).foreach(_.unpersist(false))
    }
  }

  /** The primary "events" topic. */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    topic(spark, sfDir, "events")

  /** A topic of the record-log family: "events" is the full table;
    * "clicks" is the click-only slice published as its own topic (used by
    * the multi-topic union conformance query, FIXTURES.md §C Q2).
    *
    * `spark.graft.recordSource=archive` (with `spark.graft.archiveDir`)
    * answers topic reads from the [[LogStore]] archived layout instead of
    * re-synthesizing offsets from the raw table — the production lake
    * shape, where partition/offset/timestamp predicates prune directories
    * and row groups instead of filtering a computed column (layout
    * equivalence is oracle-checked by q08b). */
  def topic(spark: SparkSession, sfDir: String, name: String): DataFrame =
    archiveDir(spark) match {
      case Some(dir) => LogStore.topic(spark, dir, name)
      case None if spark.conf.getOption("spark.graft.cacheRecordLog").contains("true") =>
        cache.getOrElseUpdate((System.identityHashCode(spark).toString, sfDir, name),
          build(spark, sfDir, name).cache())
      case None => build(spark, sfDir, name)
    }

  /** A topic's records and, where its layout keeps them, each partition's
    * offset bounds `(earliest, latest)`: min offset and max offset + 1.
    * `bounds` is asked only by a request that seeks; it is `None` where
    * only a scan could answer. */
  final case class Seekable(records: DataFrame, bounds: () => Option[Map[Int, (Long, Long)]])

  /** [[topic]] as a [[Seekable]]: the archive layout keeps its bounds in
    * the parquet footers ([[LogStore.seekable]]); the live synthesis has
    * none. */
  def seekable(spark: SparkSession, sfDir: String, name: String): Seekable =
    archiveDir(spark) match {
      case Some(dir) => LogStore.seekable(spark, dir, name)
      case None => Seekable(topic(spark, sfDir, name), () => None)
    }

  /** The archive `spark` reads topics from, when its record source is the
    * archive layout. */
  private def archiveDir(spark: SparkSession): Option[String] =
    Option.when(spark.conf.getOption("spark.graft.recordSource").contains("archive"))(
      spark.conf.getOption("spark.graft.archiveDir").getOrElse(
        throw new IllegalArgumentException(
          "spark.graft.recordSource=archive requires spark.graft.archiveDir")))

  /** The live synthesis of topic `name` from `sfDir`, whatever
    * `spark.graft.recordSource` says — what [[LogStore.materialize]]
    * archives. */
  private[log] def build(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    GraftFunctions.register(spark)
    val ev0 = Tables.load(spark, sfDir, "events")
    val ev = name match {
      case "events" => ev0
      case "clicks" => ev0.filter(col("event_type") === "click")
      case other => throw new IllegalArgumentException(s"unknown topic: $other")
    }
    val keyed = ev.select(
        col("ts"),
        col("event_id"),
        col("user_id").cast("string").as("key"),
        col("props").as("value"))
      .withColumn("partition",
        GraftFunctions.kafkaPartition(col("key"), NumPartitions).as("partition", partitionMeta))
    val withOffset =
      if (spark.conf.getOption("spark.graft.offsets").contains("scalable"))
        // Range-partitioned two-pass rank: parallelism follows data size,
        // not the 10 synthetic partitions (see ScalableRank).
        graft.ops.ScalableRank.addRank(keyed, "partition", Seq("ts", "event_id"),
          "offset", spark.sessionState.conf.numShufflePartitions)
      else {
        val w = Window.partitionBy(col("partition")).orderBy(col("ts"), col("event_id"))
        keyed.withColumn("offset", (row_number().over(w) - 1).cast("long"))
      }
    withOffset
      .select(
        lit(name).as("topic"),
        col("partition"),
        col("offset"),
        unix_millis(col("ts").cast("timestamp")).as("timestamp"),
        col("key"),
        col("value"))
  }

  /** Multi-topic scan (SURVEY §2.1 S2): union of per-topic logs. */
  def topics(spark: SparkSession, sfDir: String, names: Seq[String]): DataFrame =
    names.map(topic(spark, sfDir, _)).reduce(_ union _)
}
