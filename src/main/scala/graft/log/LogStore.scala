package graft.log

import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.Tables

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
    * ([[graft.core.Tables.resolve]]): a `/search` against a warm session
    * lists no files and runs no schema-inference job to build its plan.
    * The memo is keyed by the file state under the topic directory, so a
    * [[materialize]] over the same directory is picked up by the next
    * call. */
  def topic(spark: SparkSession, storeDir: String, name: String): DataFrame =
    seekable(spark, storeDir, name).records

  /** [[topic]] with its per-partition offset bounds, taken from the
    * row-group statistics of the same files ([[offsetBounds]]). The
    * footers are read on the first bounds request for the directory's
    * file state and kept with its relation: a warm tail request lists no
    * files, reads no footer and runs no Spark job to find its seek
    * positions — kbrowse's `seekToEnd` + `position`, a metadata lookup
    * (`kafka.clj:99-123`). */
  def seekable(spark: SparkSession, storeDir: String, name: String): RecordLog.Seekable = {
    val r = Tables.resolve(spark, s"$storeDir/$name")
    RecordLog.Seekable(
      r.frame.select(col("topic"),
        col("partition").cast("int").as("partition", RecordLog.partitionMeta),
        col("offset"), col("timestamp"), col("key"), col("value")),
      () => offsetBounds(r.rowGroups, name))
  }

  /** Each partition's `(earliest, latest)` — min offset, max offset + 1 —
    * over `groups`, the row groups of topic `name`'s archive: exactly the
    * per-(topic, partition) min/max aggregate over its rows. `None` when
    * the statistics cannot answer for a non-empty row group: no
    * statistics, a file outside a `partition=` directory, an `offset`
    * column that is all null or not INT64, or a `topic` column that is
    * not `name` on every row (the aggregate would group those rows
    * apart). */
  private[log] def offsetBounds(groups: Seq[Tables.RowGroup],
      name: String): Option[Map[Int, (Long, Long)]] = {
    def known(g: Tables.RowGroup, c: String) =
      g.stats.get(c).filter(s => !s.isEmpty && s.isNumNullsSet)
    def isName(v: Any) = v match {
      case b: Binary => b.toStringUsingUTF8 == name
      case _ => false
    }
    def answers(g: Tables.RowGroup) =
      g.partition.contains("partition") &&
        known(g, "topic").exists(t => t.getNumNulls == 0 &&
          isName(t.genericGetMin) && isName(t.genericGetMax)) &&
        known(g, "offset").exists(o =>
          o.hasNonNullValue && o.genericGetMin.isInstanceOf[java.lang.Long])
    val nonEmpty = groups.filter(_.rows > 0)
    Option.when(nonEmpty.forall(answers)) {
      nonEmpty.groupMapReduce(_.partition("partition").toInt) { g =>
        val o = g.stats("offset")
        (o.genericGetMin.asInstanceOf[Long], o.genericGetMax.asInstanceOf[Long])
      } { case ((lo1, hi1), (lo2, hi2)) => (lo1 min lo2, hi1 max hi2) }
        .map { case (p, (lo, hi)) => p -> (lo, hi + 1) }
    }
  }
}
