package graft.log

import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap

import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.Tables

/** Topic archive (tiered storage): a record-log topic materialized ONCE as
  * partition-directory parquet — the lake layout of a compacted/archived
  * Kafka topic, and the one layout [[RecordLog]] reads.
  *
  * Why it matters at 100 TB: `partition` is the directory key, so a
  * `--partitions 3,5` predicate becomes directory-level partition pruning
  * (`PartitionFilters` on the scan — a scan of 2/10ths of the data), and
  * offset/timestamp predicates hit parquet row-group min/max. Archive
  * once, then every exploratory query pays only for what it touches.
  *
  * An archive is either pinned (built out of band, e.g. by
  * [[materialize]], and named by the session conf: [[RecordLog.archive]])
  * or derived: `sfDir`'s archive at [[derivedDir]], one directory per
  * fixture generation, built on its first read by [[derived]].
  */
object LogStore {

  /** Archive `sfDir`'s topics under `storeDir/<topic>/partition=<p>/...`.
    * Reads the synthesis ([[RecordLog.build]]), not [[RecordLog.topic]],
    * which would copy the pinned archive instead of `sfDir`. */
  def materialize(spark: SparkSession, sfDir: String, storeDir: String,
      topics: Seq[String] = RecordLog.Topics): Unit =
    topics.foreach { t =>
      RecordLog.build(spark, sfDir, t)
        .write.mode(SaveMode.Overwrite)
        .partitionBy("partition")
        .parquet(s"$storeDir/$t")
    }

  /** Where `sfDir`'s derived archive lives: one directory per fixture
    * location AND generation under the JVM's temporary directory. The
    * name carries the size and mtime of the fixture's events.parquet,
    * from which every archived topic derives, so a regenerated fixture
    * is archived into a new directory and never over the files that
    * requests on the previous generation are still reading. */
  def derivedDir(sfDir: String): String = {
    val events = new java.io.File(s"$sfDir/events.parquet")
    Paths.get(System.getProperty("java.io.tmpdir"),
      s"${derivedPrefix(sfDir)}${events.length()}-${events.lastModified()}").toString
  }

  /** The name every generation of `sfDir`'s derived archive starts with. */
  private def derivedPrefix(sfDir: String): String = {
    val where = new java.io.File(sfDir).getCanonicalPath
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(where.getBytes(UTF_8)).take(8).map(b => f"${b & 0xff}%02x").mkString
    s"graft-archive-$digest-"
  }

  /** [[materialize]] into `storeDir` unless every requested topic's
    * `_SUCCESS` is already there; true when this call built it.
    *
    * Builds of one directory are serialized: within the JVM by a lock per
    * directory, across processes by a file lock in it. A caller that
    * waited re-checks, so the first build is the only one. */
  def ensureMaterialized(spark: SparkSession, sfDir: String, storeDir: String,
      topics: Seq[String] = RecordLog.Topics): Boolean = {
    def complete = topics.forall(t => new java.io.File(s"$storeDir/$t/_SUCCESS").exists())
    !complete && building.computeIfAbsent(storeDir, _ => new Object).synchronized {
      Files.createDirectories(Paths.get(storeDir))
      val lock = FileChannel.open(Paths.get(storeDir, ".lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        lock.lock()
        !complete && { materialize(spark, sfDir, storeDir, topics); true }
      } finally lock.close()
    }
  }

  /** `sfDir`'s derived archive ([[derivedDir]]), built when it is not
    * complete. A build then removes the generations of `sfDir`'s archive
    * older than the newest previous one: a request still reading the
    * generation just superseded keeps its files. */
  def derived(spark: SparkSession, sfDir: String): String = {
    val dir = derivedDir(sfDir)
    if (ensureMaterialized(spark, sfDir, dir)) {
      val prefix = derivedPrefix(sfDir)
      val generation = s"${java.util.regex.Pattern.quote(prefix)}(\\d+)-(\\d+)".r
      val older = Option(Paths.get(dir).getParent.toFile.listFiles()).toSeq.flatten
        .flatMap(f => f.getName match {
          case generation(size, mtime) if f.getPath != dir => Some((mtime.toLong, size.toLong) -> f)
          case _ => None
        })
        .sortBy(_._1).map(_._2).dropRight(1)
      older.foreach(deleteTree)
    }
    dir
  }

  /** Delete `dir` and everything under it, as far as it still exists: a
    * build in another process may be removing the same generation. */
  private def deleteTree(dir: java.io.File): Unit =
    scala.util.Try(Files.walk(dir.toPath)).foreach { paths =>
      try paths.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
      finally paths.close()
    }

  /** One lock object per archive directory [[ensureMaterialized]] has
    * been asked to build. */
  private val building = new ConcurrentHashMap[String, Object]()

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
