package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.{QueryOptions, Tables}
import graft.log.{LogQuery, RecordLog}

/** Follow mode (L2) — the reference's `--follow` tail
  * (`/root/reference/src/kbrowse/cli.clj:52`, `search.clj:103-122` ignores
  * stop-offsets and loops forever) — bound to Structured Streaming.
  *
  * On a Kafka-backed cluster this is `readStream.format("kafka")` and the
  * record fields arrive from the source. The offline binding streams the
  * events parquet through the same projection/filter pipeline:
  *  - `Trigger.AvailableNow` = "catch up with the snapshot, then stop" —
  *    the bounded-replay mode the tests assert batch/stream agreement on;
  *  - `Trigger.ProcessingTime` = true tailing for a growing directory.
  *
  * Topics: each asked-for topic is its rows of the events stream, by the
  * same definition the archive is built from ([[RecordLog.rowsOf]]).
  *
  * Offsets: the archive's per-partition offsets come from a global
  * window — impossible incrementally (an unbounded shuffle-sort). A real
  * log source delivers offsets; the file stand-in uses `event_id` as the
  * monotone offset surrogate, documented here.
  */
object StreamingLog {

  /** The streaming record pipeline: the SAME LogQuery column pipeline as
    * batch — partition pruning (A1/A2), timestamp window (L5), regex
    * filters (P2/P3), result envelope ∪ progress heartbeats (P6) are all
    * pure column ops, so they apply unchanged to the unbounded stream.
    * The one batch-only piece is the relative-offset seek (its bounds
    * probe is an aggregation+join, unsupported on a stream): a real Kafka
    * source seeks at subscription time (`startingOffsets`); the file
    * stand-in can't, so it is rejected on the 400-contract channel.
    */
  def follow(spark: SparkSession, sfDir: String, opts: QueryOptions): DataFrame = {
    if (opts.relativeOffset.nonEmpty)
      throw new IllegalArgumentException(
        "--relative-offset needs a seekable source; not supported in follow mode here")
    graft.functions.GraftFunctions.register(spark)
    val raw = eventsStream(spark, sfDir)
    val recs = opts.topics.map(t => RecordLog.rowsOf(raw, t).select(
      lit(t).as("topic"),
      graft.functions.GraftFunctions.kafkaPartition(col("user_id").cast("string"),
        RecordLog.NumPartitions).as("partition"),
      col("event_id").as("offset"), // monotone surrogate (see scaladoc)
      unix_millis(col("ts")).as("timestamp"),
      col("user_id").cast("string").as("key"),
      col("props").as("value"))).reduce(_ union _)
    LogQuery.streamFrom(LogQuery.consumedFrom(recs, opts), opts)
  }

  /** Run a streaming DataFrame to completion under Trigger.AvailableNow
    * into a memory sink and return the result table. */
  def replayAvailableNow(df: DataFrame, name: String,
      outputMode: String = "append"): DataFrame = {
    val spark = df.sparkSession
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  /** Q17's tumbling aggregation as a bounded streaming replay — asserts
    * the batch plan and the incremental plan agree (FIXTURES.md §C Q17). */
  def tumblingReplay(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val agg = graft.queries.Conformance.tumblingAgg(eventsStream(spark, sfDir))
    replayAvailableNow(agg, name, outputMode = "complete")
  }

  /** File-stream source over the events fixture. The file source requires
    * a DIRECTORY to watch (new files appearing there are the "appended
    * log"), so the single fixture file is exposed through a symlinked
    * stream directory; `ts` arrives as the nanos long and goes through the
    * same µs conversion as the batch load. */
  /** The watched stream directory for a fixture dir (file source requires
    * a directory; the single fixture file is symlinked in). */
  def streamDir(sfDir: String): String = {
    import java.nio.file.{Files, Paths}
    val dir = Paths.get("/tmp", s"graft-stream-${Integer.toHexString(sfDir.hashCode)}")
    Files.createDirectories(dir)
    val link = dir.resolve("events.parquet")
    if (!Files.exists(link))
      Files.createSymbolicLink(link, Paths.get(sfDir, "events.parquet"))
    dir.toString
  }

  private[graft] def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = streamDir(sfDir)
    // The stream source needs an explicit schema declaring what's ON DISK
    // (it cannot infer, and the fixture's ts physical type has varied
    // across generations — nanos-as-long vs native micros). Take the raw
    // file schema from the session's resolved batch relation, then apply
    // the shared normalization so the stream sees the exact batch schema.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = Tables.parquet(spark, dir).schema
    Tables.normalizeEventsTs(spark.readStream.schema(rawSchema).parquet(dir))
  }
}
