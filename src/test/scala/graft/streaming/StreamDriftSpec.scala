package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.pipeline.SourceDrift

/** Streaming drift monitor: each micro-batch's report is BIT-equal to
  * the batch driftFromReference replay on the same rows; a batch drawn
  * proportionally from the reference corpus scores (near) zero; a
  * disjoint-vocabulary batch carries the full reference mass. */
class StreamDriftSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def report(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
    val r = df.collect()
    assert(r.length === 1)
    (r(0).getLong(0), r(0).getLong(1), r(0).getLong(2))
  }

  test("multi-batch monitoring ≡ the batch replay per batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = graft.core.Tables.load(spark, TestSpark.Sf, "documents")
    val ref = SourceDrift.referencePpm(docs, "text", v = 64)
    // The synthetic fixture's whitespace-token vocabulary is small; the
    // reference is capped by it.
    assert(ref.nonEmpty && ref.length <= 64)

    val docRows = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    val parts = docRows.grouped(math.max(1, (docRows.length + 2) / 3)).toSeq
    val got = scala.collection.mutable.Map.empty[Long, (Long, Long, Long)]
    val input = MemoryStream[(Long, String)]
    val q = MicroBatch.each(input.toDF().toDF("doc_id", "text")) {
        (batch, batchId) =>
          got(batchId) = report(SourceDrift.driftFromReference(batch, "text", ref))
      }
      .queryName("stream_drift_fixture_test")
      .start()
    try {
      parts.foreach { p => input.addData(p); q.processAllAvailable() }
    } finally q.stop()

    assert(parts.length === 3 && got.size === 3)
    parts.zipWithIndex.foreach { case (p, i) =>
      val batch = p.toDF("doc_id", "text")
      assert(got(i.toLong) ===
        report(SourceDrift.driftFromReference(batch, "text", ref)),
        s"batch $i")
    }
  }

  test("proportional batch scores ~0; disjoint batch carries full reference mass") {
    import spark.implicits._
    val corpus = Seq((1L, "x x x y"), (2L, "x y y")).toDF("doc_id", "text")
    // x: 4/7, y: 3/7 of 7 tokens.
    val ref = SourceDrift.referencePpm(corpus, "text", v = 4)
    // A batch with the same 4:3 ratio reproduces the distribution; the
    // only residue is ppm truncation (DIV) on each side.
    val same = Seq((10L, "x x x x y y y")).toDF("doc_id", "text")
    val (_, _, l1Same) = {
      val r = SourceDrift.driftFromReference(same, "text", ref).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    assert(l1Same <= 2L, s"truncation residue only, got $l1Same")
    // A disjoint batch misses every reference term entirely.
    val disjoint = Seq((11L, "p q r")).toDF("doc_id", "text")
    val l1Dis = SourceDrift.driftFromReference(disjoint, "text", ref)
      .collect()(0).getLong(2)
    assert(l1Dis === ref.map(_._2).sum)
    // Empty batch: same full-mass answer, no division blowup.
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val l1Empty = SourceDrift.driftFromReference(empty, "text", ref)
      .collect()(0).getLong(2)
    assert(l1Empty === ref.map(_._2).sum)
  }
}
