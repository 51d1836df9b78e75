package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.pipeline.KllSketch

/** KLL: rank-error bound observed on the fixture (one-shot, merged
  * splits, reordered splits, streamed micro-batches), determinism under
  * a fixed order, and the no-range-contract property the grid lacks. */
class StreamKllSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val K = 256

  private lazy val values: Seq[Double] = {
    val events = graft.core.Tables.load(spark, TestSpark.Sf, "events")
    events.select("value").collect().map(_.getDouble(0)).toSeq
  }
  private lazy val sorted: Vector[Double] = values.sorted.toVector

  /** Exact rank (# values <= x). */
  private def exactRank(x: Double): Long = sorted.count(_ <= x).toLong

  /** Max observed |est - exact| rank error over a probe sweep,
    * normalized by n. */
  private def maxRankErr(s: KllSketch): Double = {
    val probes = (1 until 40).map(i => sorted((sorted.size - 1) * i / 40))
    probes.map(x => math.abs(s.rank(x) - exactRank(x)).toDouble / values.size)
      .max
  }

  // KLL's ε at k=256 is well under 1%; assert a 2% envelope so the
  // bound is observed with margin, never tuned to the fixture.
  private val Envelope = 0.02

  test("one-shot sketch: rank error within the envelope; n exact") {
    val s = KllSketch.empty(K)
    values.foreach(s.update)
    assert(s.n == values.size.toLong)
    assert(maxRankErr(s) <= Envelope, s"err=${maxRankErr(s)}")
    // Space: far below n (the point of a sketch).
    assert(s.retained < values.size / 2, s"retained=${s.retained}")
  }

  test("merged splits and REORDERED splits stay within the envelope") {
    for (order <- Seq(identity[Seq[Double]] _, (v: Seq[Double]) => v.reverse)) {
      val parts = order(values).grouped(math.max(1, values.size / 7)).toSeq
      val merged = parts.zipWithIndex.map { case (p, i) =>
        val s = KllSketch.empty(K, seed = 100L + i)
        p.foreach(s.update)
        s
      }.foldLeft(KllSketch.empty(K))(_ merge _)
      assert(merged.n == values.size.toLong)
      assert(maxRankErr(merged) <= Envelope, s"err=${maxRankErr(merged)}")
    }
  }

  test("deterministic: same values, same order, same seed → same estimates") {
    def build(): KllSketch = {
      val s = KllSketch.empty(K, seed = 7L)
      values.foreach(s.update)
      s
    }
    val a = build(); val b = build()
    val probes = Seq(0.01, 0.25, 0.5, 0.75, 0.99)
    assert(probes.map(a.quantile) == probes.map(b.quantile))
    assert(a.retained == b.retained)
  }

  test("quantile estimates bracket the exact selection-rule answer") {
    val s = KllSketch.ofColumn(
      graft.core.Tables.load(spark, TestSpark.Sf, "events"), "value", K)
    for (p <- Seq(0.1, 0.5, 0.9, 0.99)) {
      val exact = sorted(math.floor(p * (sorted.size - 1)).toInt)
      val est = s.quantile(p)
      // The estimate's exact rank must be within the envelope of p·n.
      val r = exactRank(est).toDouble / values.size
      assert(math.abs(r - p) <= Envelope + 1.0 / values.size,
        s"p=$p est=$est rank=$r")
      assert(est >= sorted.head && est <= sorted.last)
      // And it should be near the exact answer in VALUE order too
      // (same magnitude — sanity, not a bound).
      assert(math.signum(est) == math.signum(exact) || exact == 0.0)
    }
  }

  test("streamed micro-batches: per-batch sketches merge within the envelope") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val parts = values.grouped(math.max(1, values.size / 3)).toSeq
    val running = KllSketch.empty(K)
    val input = MemoryStream[Double]
    val q = MicroBatch.each(input.toDF().toDF("value")) { (batch, batchId) =>
        if (!batch.isEmpty)
          running.merge(KllSketch.ofColumn(batch, "value", K, 0x6b6c6cL + batchId))
      }
      .queryName("stream_kll_test")
      .start()
    try {
      parts.foreach { p => input.addData(p); q.processAllAvailable() }
    } finally q.stop()
    assert(running.n == values.size.toLong)
    assert(maxRankErr(running) <= Envelope, s"err=${maxRankErr(running)}")
  }

  test("no range contract: values far outside any grid register exactly in n") {
    val s = KllSketch.empty(K)
    val wild = Seq(-1e18, 1e18, 3.14, -2.71, 0.0)
    wild.foreach(s.update)
    assert(s.n == wild.size.toLong)
    assert(s.quantile(0.0) == -1e18 && s.quantile(1.0) == 1e18)
  }
}
