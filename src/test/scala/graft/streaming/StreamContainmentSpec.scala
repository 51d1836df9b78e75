package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Streaming containment admission over the stored sidecar: the union of
  * per-batch admissions matches the batch q65/q67 replay of the same
  * increment, batch-vs-batch pairs stay excluded, and a long-running
  * stream accumulates no caches. */
class StreamContainmentSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def randText(seed: Int, n: Int): String = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
  }

  private type Pair = (Long, Long, Long, Long, Double)
  private def rows(df: org.apache.spark.sql.DataFrame): Set[Pair] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getDouble(4))).toSet

  /** One micro-batch's admission pairs against the stored sidecar. */
  private def admit(batch: org.apache.spark.sql.DataFrame, tbl: String,
      minCont: Double) =
    graft.pipeline.MinHashDedup.incrementalContainmentPairs(
      batch.sparkSession, tbl, batch, "doc_id", "text", minCont,
      graft.pipeline.MinHashDedup.StrataSpan)

  private def released[T](body: => T): T = {
    val (out, frames) = graft.ops.Materialize.collecting(body)
    graft.ops.Materialize.release(frames)
    out
  }

  test("multi-batch admission ≡ the batch replay on the documents fixture") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // The q65/q67 registration's split at the fixture SF: corpus =
    // doc_id % 5 != 0, increment = doc_id % 5 == 0.
    val docs = graft.core.Tables.load(spark, TestSpark.Sf, "documents")
      .selectExpr("CAST(doc_id AS LONG) AS doc_id", "text")
    val corpus = docs.filter("doc_id % 5 != 0")
    val increment = docs.filter("doc_id % 5 = 0")
    val expect = released {
      rows(graft.pipeline.MinHashDedup.incrementalContainmentPairs(
        corpus, increment, "doc_id", "text", 0.6))
    }
    assert(expect.nonEmpty) // the fixture plants subsumption pairs

    val tbl = "graft_test_stream_containment"
    graft.pipeline.CorpusWriter.writeStratifiedIndex(
      corpus, "doc_id", "text", tbl, buckets = 4)

    // Three micro-batches in id order; the sink accumulates each batch's
    // pairs tagged with its batch id (single stream thread — no races).
    val incRows = increment.as[(Long, String)].collect().toSeq.sortBy(_._1)
    val parts = incRows.grouped(math.max(1, (incRows.length + 2) / 3)).toSeq
    val admitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Pair)]
    val input = MemoryStream[(Long, String)]
    val q = MicroBatch.each(input.toDF().toDF("doc_id", "text")) {
        (batch, batchId) =>
          rows(admit(batch, tbl, 0.6)).foreach(p => admitted += batchId -> p)
      }
      .queryName("stream_containment_fixture_test")
      .start()
    try {
      parts.foreach { p => input.addData(p); q.processAllAvailable() }
    } finally q.stop()

    assert(parts.length == 3)
    assert(admitted.map(_._2).toSet == expect,
      s"extra=${admitted.map(_._2).toSet -- expect} " +
        s"missing=${expect -- admitted.map(_._2).toSet}")
    // No double emission: each pair is found by exactly the one batch
    // carrying its increment document.
    assert(admitted.size == admitted.toSet.size && admitted.size == expect.size)
    // Cache hygiene: the per-batch release left nothing registered.
    assert(graft.ops.Materialize.liveSnapshot(spark)
      .forall(d => !d.queryExecution.analyzed.toString.contains(tbl)))
  }

  test("batch-vs-batch pairs are excluded; admission is corpus-gated only") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // Corpus: one page. Batch 1: a quote from it (admits, containment
    // 1.0) plus an unrelated doc. Batch 2: the SAME quote under a new id
    // — it admits against the CORPUS again, but never pairs with batch
    // 1's copy (no batch-vs-batch, no batch-vs-earlier-batch: the
    // sidecar's membership is fixed until the corpus lands again).
    val page = randText(11, 900)
    val quote = page.substring(200, 280)
    val tbl = "graft_test_stream_containment_x"
    graft.pipeline.CorpusWriter.writeStratifiedIndex(
      Seq((1L, page)).toDF("doc_id", "text"), "doc_id", "text", tbl,
      buckets = 4)

    val admitted = scala.collection.mutable.ArrayBuffer.empty[Pair]
    val input = MemoryStream[(Long, String)]
    val q = MicroBatch.each(input.toDF().toDF("doc_id", "text")) {
        (batch, _) => rows(admit(batch, tbl, 0.9)).foreach(admitted += _)
      }
      .queryName("stream_containment_gate_test")
      .start()
    try {
      input.addData(Seq((10L, quote), (11L, randText(12, 300))))
      q.processAllAvailable()
      input.addData(Seq((20L, quote)))
      q.processAllAvailable()
    } finally q.stop()

    val got = admitted.toSet
    assert(got.exists(p => p._1 == 10L && p._2 == 1L && p._5 == 1.0), got)
    assert(got.exists(p => p._1 == 20L && p._2 == 1L && p._5 == 1.0), got)
    // Every emitted pair has a corpus doc on the corp side — ids 10/20
    // never pair with each other despite being identical text.
    assert(got.forall(_._2 == 1L), got)
    assert(got.size == 2, got)
  }
}
