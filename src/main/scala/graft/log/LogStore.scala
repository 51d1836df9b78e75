package graft.log

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Topic archive (tiered storage): a record-log topic materialized ONCE as
  * partition-directory parquet — the lake layout of a compacted/archived
  * Kafka topic.
  *
  * Why it matters at 100 TB: in the live stand-in, `partition` is a
  * COMPUTED column, so `--partitions 3,5` filters after the scan. In the
  * archive, `partition` is the directory key: the same predicate becomes
  * directory-level partition pruning (`PartitionFilters` on the scan — a
  * scan of 2/10ths of the data), and offset/timestamp predicates hit
  * parquet row-group min/max. Archive once, then every exploratory query
  * pays only for what it touches.
  */
object LogStore {

  /** Archive `sfDir`'s topics under `storeDir/<topic>/partition=<p>/...`.
    * Reads the live synthesis, not [[RecordLog.topic]]: with the archive
    * layout on, that would copy the current `spark.graft.archiveDir`
    * instead of `sfDir`. */
  def materialize(spark: SparkSession, sfDir: String, storeDir: String,
      topics: Seq[String] = Seq("events", "clicks")): Unit =
    topics.foreach { t =>
      RecordLog.build(spark, sfDir, t)
        .write.mode(SaveMode.Overwrite)
        .partitionBy("partition")
        .parquet(s"$storeDir/$t")
    }

  /** Identity of the archive's upstream: every archived topic derives
    * from the fixture's events.parquet, so its (size, mtime) names the
    * fixture GENERATION the archive was built from. */
  private def sourceFingerprint(sfDir: String): String = {
    val f = new java.io.File(s"$sfDir/events.parquet")
    s"${f.length()}:${f.lastModified()}"
  }

  /** [[materialize]] guarded by a source-fingerprint marker: reuse the
    * existing archive only when every requested topic's `_SUCCESS` exists
    * AND the marker matches the CURRENT fixture's events.parquet
    * (size + mtime). A bare `_SUCCESS` check silently served archives
    * built from a superseded fixture generation after the driver
    * regenerated the testdata (round-13 hazard): timings and layout
    * checks would run against stale rows with nothing flagging it. */
  def ensureMaterialized(spark: SparkSession, sfDir: String, storeDir: String,
      topics: Seq[String] = Seq("events", "clicks")): Unit = {
    val marker = java.nio.file.Paths.get(storeDir, ".source-fingerprint")
    val fp = sourceFingerprint(sfDir)
    val fresh = topics.forall(t =>
        new java.io.File(s"$storeDir/$t/_SUCCESS").exists()) &&
      java.nio.file.Files.exists(marker) &&
      new String(java.nio.file.Files.readAllBytes(marker), "UTF-8") == fp
    if (!fresh) {
      materialize(spark, sfDir, storeDir, topics)
      java.nio.file.Files.createDirectories(marker.getParent)
      java.nio.file.Files.write(marker, fp.getBytes("UTF-8"))
    }
  }

  /** Read an archived topic back in the canonical record-column order.
    * Partition predicates prune directories; offset/timestamp predicates
    * push to parquet.
    *
    * The topic's relation is resolved once per session
    * ([[graft.core.Tables.parquet]]): a `/search` against a warm session
    * lists no files and runs no schema-inference job to build its plan.
    * The memo is keyed by the file state under the topic directory, so a
    * [[materialize]] over the same directory is picked up by the next
    * call. */
  def topic(spark: SparkSession, storeDir: String, name: String): DataFrame =
    graft.core.Tables.parquet(spark, s"$storeDir/$name")
      .select(col("topic"),
        col("partition").cast("int").as("partition", RecordLog.partitionMeta),
        col("offset"), col("timestamp"), col("key"), col("value"))
}
