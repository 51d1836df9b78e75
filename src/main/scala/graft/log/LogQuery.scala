package graft.log

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Murmur2, QueryOptions}

/** Declarative build of the reference's whole search pipeline
  * (`/root/reference/src/kbrowse/search.clj:124-201`) as one Catalyst
  * logical plan over a record log:
  *
  *   scan (S1/S2) → partition pruning (A1/A2) → offset window (A3/A4, S5)
  *   → timestamp window (L5) → regex filters (P2/P3) → projection (P1)
  *
  * With a progress sampler (P6) the last two steps are one projection:
  * each record explodes into its progress row, its result row, both or
  * neither.
  *
  * Everything is a stock `Column` expression, so Catalyst pushes the
  * prunable predicates (partition, offset, timestamp) into the parquet
  * scan; on a Kafka-backed source they become `assign` /
  * `startingOffsets` options computed at plan time (SURVEY.md §4).
  *
  * Scale notes:
  *  - partition/offset/timestamp pruning happens before any regex work, so
  *    at 100 TB the expensive `RLike` only ever sees the pruned slice;
  *  - the offset-boundary probe (S5) is a metadata lookup on the
  *    archive layout: each partition's (min, max + 1) offset comes from
  *    the row-group statistics in the parquet footers, read once per file
  *    state, and the window is literal per-partition predicates on the
  *    scan — one pass, no aggregate, no shuffle, no broadcast. Only a
  *    frame whose bounds the footers cannot give (an in-memory frame)
  *    probes by a per-partition aggregate broadcast back;
  *  - no collect, no driver loop: the plan is a single DAG.
  */
object LogQuery {

  /** kbrowse regexes are `re-matches` = full-string match
    * (`search.clj:74-81`); Spark `RLike` is find-semantics, so anchor.
    */
  def anchored(pattern: String): String = "^(?:" + pattern + ")$"

  /** Resolve the pruned, windowed, record stream (pre-regex) — the stream
    * the reference's consumer loop actually "consumes" after assign+seek.
    *
    * When every topic keeps its partitions' offset bounds (the archive
    * layout, [[RecordLog.seekable]]), a relative-offset window is known
    * before the scan: it becomes literal `partition = p AND offset >= k`
    * predicates on each topic's scan ([[seekTo]]), and no bounds stage
    * runs. Otherwise [[consumedFrom]] derives the bounds from the rows.
    */
  def consumed(spark: SparkSession, sfDir: String, opts: QueryOptions): DataFrame = {
    val topics = opts.topics.map(RecordLog.seekable(spark, sfDir, _))
    val sought = opts.relativeOffset.flatMap { n =>
      val each = topics.map(t => t.bounds().map(b => t.records.filter(seekTo(b, n))))
      Option.when(each.forall(_.isDefined))(each.flatten.reduce(_ union _))
    }
    sought match {
      // Already windowed: the rest of the pipeline runs without A3.
      case Some(recs) => consumedFrom(recs, opts.copy(relativeOffset = None))
      case None => consumedFrom(topics.map(_.records).reduce(_ union _), opts)
    }
  }

  /** A3 over known bounds: each partition's records from `earliest + n`
    * (n >= 0) or `latest + n` (n < 0) on — the rows [[consumedFrom]]'s
    * aggregate window keeps. A start past `Long.MaxValue` keeps nothing
    * (the aggregate would fail on the overflow). A partition without
    * bounds holds no record. */
  private def seekTo(bounds: Map[Int, (Long, Long)], n: Long): Column =
    bounds.toSeq.sorted.flatMap { case (p, (earliest, latest)) =>
      val start = if (n >= 0) earliest + n else latest + n
      Option.when(n < 0 || start >= earliest)(
        col("partition") === p && col("offset") >= start)
    }.reduceOption(_ || _).getOrElse(lit(false))

  /** The deserializer plug point (SURVEY §1.2): when the source delivers
    * BINARY key/value (a real Kafka source does), the configured
    * deserializer produces the string rendering the regexes run against —
    * string cast or msgpack decode (`kafka.clj:34-38`, scenarios 7–8 of
    * the reference harness). String-typed sources pass through. */
  private def deserialize(recs: DataFrame, opts: QueryOptions): DataFrame = {
    import org.apache.spark.sql.types.BinaryType
    def de(name: String, deser: String) = recs.schema(name).dataType match {
      case BinaryType if deser == QueryOptions.MsgpackDeser =>
        graft.functions.GraftFunctions.msgpackDecode(col(name))
      case BinaryType if deser == QueryOptions.AvroDeser =>
        // The reference wires `schema.registry.url` through to
        // KafkaAvroDeserializer (`search.clj:132-135`); here the registry
        // is the file-based stand-in and decode is the real thing
        // (wire envelope → GenericDatumReader → JSON rendering).
        val url = opts.schemaRegistryUrl.getOrElse(throw new IllegalArgumentException(
          "Avro deserialization requires --schema-registry-url"))
        graft.functions.GraftFunctions.registerAvro(recs.sparkSession,
          graft.functions.AvroDeserializer.loadRegistry(url))
        graft.functions.GraftFunctions.avroDecode(col(name))
      case BinaryType => col(name).cast("string")
      case _ => col(name)
    }
    if (recs.schema.exists(_.dataType == org.apache.spark.sql.types.BinaryType)) {
      graft.functions.GraftFunctions.register(recs.sparkSession)
      recs.withColumn("key", de("key", opts.keyDeserializer))
        .withColumn("value", de("value", opts.valueDeserializer))
    } else recs
  }

  /** Same pipeline over an arbitrary record DataFrame (schema: topic,
    * partition, offset, timestamp, key, value — key/value may be BINARY,
    * see [[deserialize]]) — the binding point for in-memory fixtures and
    * future real-Kafka sources. */
  def consumedFrom(recs0: DataFrame, opts: QueryOptions): DataFrame = {
    val recs = deserialize(recs0, opts)
    // A1 explicit / A2 murmur2-default partition pruning (`search.clj:139-148`).
    val pruned = opts.partitions match {
      case Some(ps) => recs.filter(col("partition").isin(ps: _*))
      case None if opts.defaultPartition =>
        // key-regex is treated as a *literal* key here, like the reference
        // feeding it to DefaultPartitioner (`kafka.clj:59-70`).
        val p = Murmur2.partition(opts.keyRegex.get, RecordLog.NumPartitions)
        recs.filter(col("partition") === lit(p))
      case None => recs
    }

    // A3 relative-offset seek (`kafka.clj:111-123`): n >= 0 → earliest + n,
    // n < 0 → latest + n, where latest is the end position (max offset + 1),
    // matching KafkaConsumer.seekToEnd + position semantics.
    // This is the general definition, for frames whose bounds only a scan
    // can give (in-memory frames); [[consumed]] seeks archived topics by
    // their footer bounds instead.
    // Bounds are probed from the PRUNED slice, like the reference probing
    // only assigned partitions (`kafka.clj:99-109`) — probing the unpruned
    // union would scan every partition of every topic (VERDICT r2 item 4).
    val windowed = opts.relativeOffset match {
      case Some(n) =>
        val bounds = pruned.groupBy("topic", "partition").agg(
          min("offset").as("__earliest"),
          (max("offset") + 1).as("__latest"))
        val start = if (n >= 0) col("__earliest") + n else col("__latest") + n
        pruned
          .join(broadcast(bounds), Seq("topic", "partition"))
          .filter(col("offset") >= start)
          .drop("__earliest", "__latest")
      case None => pruned
    }

    // L5 resurrected timestamp window: [start, stop) on the record's
    // epoch-millis timestamp.
    windowed
      .where(opts.startTimestamp.map(t => col("timestamp") >= lit(t)).getOrElse(lit(true)))
      .where(opts.stopTimestamp.map(t => col("timestamp") < lit(t)).getOrElse(lit(true)))
  }

  /** Matching records only (the reference's `:type :result` rows),
    * projected through the 6-field record model (`search.clj:34-42`).
    */
  def results(spark: SparkSession, sfDir: String, opts: QueryOptions): DataFrame =
    resultsFrom(consumed(spark, sfDir, opts), opts)

  /** Regex filters + result projection over a pre-consumed stream. */
  def resultsFrom(scanned: DataFrame, opts: QueryOptions): DataFrame =
    scanned.where(matches(opts)).select(lit("result").as("type") +: recordColumns: _*)

  /** The regex filters (P2/P3): both anchored, each only when given. */
  private def matches(opts: QueryOptions): Column =
    (opts.keyRegex.map(r => col("key").rlike(anchored(r))) ++
      opts.valRegex.map(r => col("value").rlike(anchored(r)))).reduceOption(_ && _)
      .getOrElse(lit(true))

  private def recordColumns: Seq[Column] =
    Seq("topic", "partition", "offset", "timestamp", "key", "value").map(col)

  /** Full output stream: results and progress heartbeats. Progress rows
    * (P6, `search.clj:95-101`) sample the *consumed* stream — every record
    * with `offset % printOffset == 0` regardless of regex match — typed
    * `:offset`, like the reference emitting them before the regex check
    * (`search.clj:176`).
    */
  def stream(spark: SparkSession, sfDir: String, opts: QueryOptions): DataFrame =
    streamFrom(consumed(spark, sfDir, opts), opts)

  /** Results and progress over a pre-consumed stream, in one projection of
    * one scan: each record explodes into its 0–2 output types, `offset`
    * before `result` as the reference emits them. */
  def streamFrom(scanned: DataFrame, opts: QueryOptions): DataFrame =
    opts.printOffset match {
      case Some(n) =>
        val matched = matches(opts)
        val types = when(col("offset") % lit(n) === 0,
          when(matched, array(lit("offset"), lit("result"))).otherwise(array(lit("offset"))))
          .otherwise(when(matched, array(lit("result"))))
        scanned.select(explode(types).as("type") +: recordColumns: _*)
      case None => resultsFrom(scanned, opts)
    }

  /** Canonical deterministic output order (the reference's output order is
    * poll interleaving — nondeterministic; the oracle contract fixes it,
    * SURVEY.md §7.4).
    */
  def canonical(df: DataFrame): DataFrame =
    df.orderBy("type", "topic", "partition", "offset")
}
