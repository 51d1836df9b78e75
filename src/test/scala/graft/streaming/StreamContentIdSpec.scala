package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.pipeline.Multimodal

/** Streaming content-ID: micro-batched probes replay the batch verdicts
  * bit-for-bit, and a streamed frame-index landing grows the reference
  * set identically to the batch chain. */
class StreamContentIdSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def drop(ts: String*): Unit =
    ts.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private lazy val assets = Multimodal.plantedAssets(
    graft.core.Tables.load(spark, TestSpark.Sf, "documents"))

  test("multi-batch probes ≡ the batch replay against the same index") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tbl = "graft_test_cid_idx"
    drop(tbl, s"${tbl}_meta")
    Multimodal.writeFrameIndex(assets.filter(col("asset_id") < 10000),
      tbl, buckets = 8)
    val probes = assets.filter(col("asset_id") >= 10000)
    val want = Multimodal.contentIdAgainstIndex(spark, tbl, probes,
        minShared = 2)
      .collect().map(_.mkString("|")).toSeq.sorted
    val rows = probes.collect().toSeq.sortBy(_.asset_id)
    val parts = (0 until 3).map(r => rows.filter(_.asset_id % 3 == r))
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    val input = MemoryStream[Multimodal.MediaAsset]
    val q = MicroBatch.each(input.toDF()) { (batch, _) =>
        if (!batch.isEmpty)
          got ++= Multimodal.contentIdAgainstIndex(spark, tbl,
            batch.as[Multimodal.MediaAsset], minShared = 2)
            .collect().map(_.mkString("|"))
      }
      .queryName("stream_content_id_test")
      .start()
    try {
      parts.foreach { p => input.addData(p); q.processAllAvailable() }
    } finally q.stop()
    assert(got.toSeq.sorted == want)
    drop(tbl, s"${tbl}_meta")
  }

  test("shift-tolerant streamed probe ≡ the batch replay against the same shingle index (r19)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val shifted = Multimodal.plantedShiftedAssets(
      graft.core.Tables.load(spark, TestSpark.Sf, "documents"))
    val tbl = "graft_test_scid_idx"
    drop(tbl, s"${tbl}_meta", s"${tbl}_srcs")
    Multimodal.writeShingleIndex(shifted.filter(col("asset_id") < 30000),
      tbl, buckets = 8)
    val probes = shifted.filter(col("asset_id") >= 30000)
    val want = Multimodal.shiftContentIdAgainstIndex(spark, tbl, probes,
        minShared = 2)
      .collect().map(_.mkString("|")).toSeq.sorted
    val rows = probes.collect().toSeq.sortBy(_.asset_id)
    val parts = (0 until 3).map(r => rows.filter(_.asset_id % 3 == r))
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    val input = MemoryStream[Multimodal.MediaAsset]
    val q = MicroBatch.each(input.toDF()) { (batch, _) =>
        if (!batch.isEmpty)
          got ++= Multimodal.shiftContentIdAgainstIndex(spark, tbl,
            batch.as[Multimodal.MediaAsset], minShared = 2)
            .collect().map(_.mkString("|"))
      }
      .queryName("stream_shift_content_id_test")
      .start()
    try {
      parts.foreach { p => input.addData(p); q.processAllAvailable() }
    } finally q.stop()
    assert(got.toSeq.sorted == want)
    assert(want.nonEmpty)
    drop(tbl, s"${tbl}_meta", s"${tbl}_srcs")
  }

  test("streamed frame-index landing ≡ the batch write+append union at the refcount fold") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = assets.filter(col("asset_id") < 10000)
    val a = base.filter(col("asset_id") % 2 === 0)
    val b = base.filter(col("asset_id") % 2 === 1)
    val batchTbl = "graft_test_cid_land_batch"
    val streamTbl = "graft_test_cid_land_stream"
    drop(batchTbl, s"${batchTbl}_meta", s"${batchTbl}_srcs",
      streamTbl, s"${streamTbl}_meta", s"${streamTbl}_srcs")
    Multimodal.writeFrameIndex(a, batchTbl, buckets = 8)
    Multimodal.appendToFrameIndex(b, batchTbl, src = "cidspec:odds")
    Multimodal.writeFrameIndex(a, streamTbl, buckets = 8)
    val rows = b.collect().toSeq.sortBy(_.asset_id)
    val parts = (0 until 3).map(r => rows.filter(_.asset_id % 3 == r))
    val input = MemoryStream[Multimodal.MediaAsset]
    val q = StreamLanding.intoFrameIndex(spark, input.toDF(), streamTbl,
        srcPrefix = "cidspec")()
      .queryName("stream_cid_landing_test")
      .start()
    try {
      parts.foreach { p => input.addData(p); q.processAllAvailable() }
    } finally q.stop()
    // Refcount discipline (r19): equality lives at the read fold.
    def fold(t: String): Map[(Int, Long), Long] =
      spark.table(t).groupBy("f", "print").agg(sum("c").as("c"))
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
        .toMap
    assert(fold(streamTbl) == fold(batchTbl))
    // Compaction restores one row per (f, print).
    Multimodal.compactFrameIndex(spark, streamTbl)
    assert(spark.table(streamTbl).count() == fold(batchTbl).size)
    assert(fold(streamTbl) == fold(batchTbl))
    drop(batchTbl, s"${batchTbl}_meta", s"${batchTbl}_srcs",
      streamTbl, s"${streamTbl}_meta", s"${streamTbl}_srcs")
  }

  test("streamed shingle landing + takedown ≡ the batch chain at the fold (r19)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val shifted = Multimodal.plantedShiftedAssets(
      graft.core.Tables.load(spark, TestSpark.Sf, "documents"))
    val base = shifted.filter(col("asset_id") < 30000)
    val a = base.filter(col("asset_id") % 2 === 0)
    val b = base.filter(col("asset_id") % 2 === 1)
    val tbl = "graft_test_shingle_stream"
    val ref = "graft_test_shingle_stream_ref"
    drop(tbl, s"${tbl}_meta", s"${tbl}_srcs", ref, s"${ref}_meta")
    Multimodal.writeShingleIndex(a, tbl, buckets = 8)
    val rows = b.collect().toSeq.sortBy(_.asset_id)
    val parts = (0 until 3).map(r => rows.filter(_.asset_id % 3 == r))
    val input = MemoryStream[Multimodal.MediaAsset]
    val q = StreamLanding.intoShingleIndex(spark, input.toDF(), tbl,
        srcPrefix = "shspec-land")()
      .queryName("stream_shingle_landing_test")
      .start()
    try {
      parts.foreach { p => input.addData(p); q.processAllAvailable() }
    } finally q.stop()
    // Then take the streamed half back DOWN in micro-batches: the fold
    // must land back at the initial write.
    val input2 = MemoryStream[Multimodal.MediaAsset]
    val q2 = StreamRetire.fromShingleIndex(spark, input2.toDF(), tbl,
        srcPrefix = "shspec-td")()
      .queryName("stream_shingle_takedown_test")
      .start()
    try {
      parts.foreach { p => input2.addData(p); q2.processAllAvailable() }
    } finally q2.stop()
    Multimodal.writeShingleIndex(a, ref, buckets = 8)
    val probes = shifted.filter(col("asset_id") >= 30000)
    def v(t: String) = Multimodal.shiftContentIdAgainstIndex(spark, t,
        probes, minShared = 2)
      .collect().map(_.mkString("|")).toSeq
    assert(v(tbl) == v(ref))
    Multimodal.compactShingleIndex(spark, tbl)
    assert(v(tbl) == v(ref))
    assert(spark.table(tbl).select("shingle").collect().map(_.getLong(0)).toSet
      == spark.table(ref).select("shingle").collect().map(_.getLong(0)).toSet)
    drop(tbl, s"${tbl}_meta", s"${tbl}_srcs", ref, s"${ref}_meta")
  }

  test("streamed takedown: retired assets stop matching from the commit on (r19)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = assets.filter(col("asset_id") < 10000)
    val doomed = base.filter(col("asset_id") % 2 === 1)
    val tbl = "graft_test_cid_takedown"
    val ref = "graft_test_cid_takedown_ref"
    drop(tbl, s"${tbl}_meta", s"${tbl}_srcs", ref, s"${ref}_meta")
    Multimodal.writeFrameIndex(base, tbl, buckets = 8)
    Multimodal.writeFrameIndex(base.filter(col("asset_id") % 2 === 0),
      ref, buckets = 8)
    val rows = doomed.collect().toSeq.sortBy(_.asset_id)
    val parts = (0 until 3).map(r => rows.filter(_.asset_id % 3 == r))
    val input = MemoryStream[Multimodal.MediaAsset]
    val q = StreamRetire.fromFrameIndex(spark, input.toDF(), tbl,
        srcPrefix = "cidspec-td")()
      .queryName("stream_cid_takedown_test")
      .start()
    try {
      parts.foreach { p => input.addData(p); q.processAllAvailable() }
    } finally q.stop()
    val probes = assets.filter(col("asset_id") >= 10000)
    def verdicts(t: String) =
      Multimodal.contentIdAgainstIndex(spark, t, probes, minShared = 2)
        .collect().map(_.mkString("|")).toSeq
    // Takedown ≡ an index of the remaining reference assets...
    assert(verdicts(tbl) == verdicts(ref))
    // ...including after compaction folds the tombstones away.
    Multimodal.compactFrameIndex(spark, tbl)
    assert(verdicts(tbl) == verdicts(ref))
    assert(spark.table(tbl).select("f", "print").collect().map(_.toSeq).toSet
      == spark.table(ref).select("f", "print").collect().map(_.toSeq).toSet)
    drop(tbl, s"${tbl}_meta", s"${tbl}_srcs", ref, s"${ref}_meta")
  }
}
