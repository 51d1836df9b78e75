package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.functions.GraftFunctions
import graft.pipeline.HeavyHitters

/** Streaming heavy hitters — [[HeavyHitters]] (q98) composed with the
  * streaming front door, the SIXTH batch/streaming duality (exact dedup
  * q56/StreamDedup, then containment q67, semantic q73, quality q77 and
  * Bloom q71, each its batch operator run through [[MicroBatch.each]]).
  *
  * Ingest never stops, so "which n-grams are trending past 1/k of the
  * stream" must be answerable WITHOUT replaying history. The state is a
  * driver-held mergeable Misra–Gries summary (Agarwal et al., PODS'12):
  * each micro-batch computes per-partition MG summaries DISTRIBUTED
  * (≤ m slim rows per partition reach the driver — the bounded-collect
  * contract), the driver sums them into the running summary and
  * re-reduces by subtracting the (m+1)-th largest counter, which
  * preserves the global guarantee
  *
  *   exact(t) − N/(m+1)  ≤  count(t)  ≤  exact(t)
  *
  * for N = total stream tokens — so the summary's candidate set is a
  * SUPERSET of every true heavy hitter at threshold N/k whenever
  * m + 1 ≥ k, whatever the batch arrival order. Contents of the summary
  * are order-dependent (as with any MG sketch); the BOUNDS are not, and
  * StreamHittersSpec pins the superset property against the batch q98
  * replay plus the two-sided count bound term by term.
  *
  * Unlike the other five dualities there is no bit-equal batch replay:
  * the honest streaming answer to an exact-count question over an
  * unbounded stream IS a bounded-error summary; the exact second pass
  * (q98's) runs at audit time over the landed corpus. */
object StreamHitters {

  /** The driver-held mergeable MG summary. Not thread-safe; foreachBatch
    * calls arrive serially. */
  final class Summary(val m: Int) {
    require(m >= 1, s"summary size must be positive: $m")
    private val counts = scala.collection.mutable.HashMap.empty[String, Long]
    private var seen = 0L

    /** Total tokens observed across all merged batches. */
    def total: Long = seen

    /** Current counter for `term` (0 if not tracked). */
    def count(term: String): Long = counts.getOrElse(term, 0L)

    /** Tracked candidates with their residual counters. */
    def candidates: Map[String, Long] = counts.toMap

    /** Guaranteed maximum undercount: exact(t) − count(t) ≤ this. */
    def maxError: Long = seen / (m + 1)

    /** Merge one batch's per-partition summaries (term → residual sum)
      * observed over `batchTokens` stream tokens. */
    def merge(batchSummary: Iterable[(String, Long)], batchTokens: Long): Unit = {
      batchSummary.foreach { case (t, c) =>
        counts.update(t, counts.getOrElse(t, 0L) + c)
      }
      if (counts.size > m) {
        // subtract the (m+1)-th largest counter from all; drop ≤ 0 —
        // the PODS'12 merge reduction that keeps the N/(m+1) bound
        val kth = counts.values.toArray.sorted(Ordering[Long].reverse)(m)
        counts.filterInPlace((_, c) => c - kth > 0L)
        counts.mapValuesInPlace((_, c) => c - kth)
      }
      seen += batchTokens
    }
  }

  /** Configure (not start) the stream: `docs` is a streaming DataFrame
    * carrying `textCol`; each micro-batch's per-partition MG summaries
    * merge into `summary`, then `sink` observes (summary, batchId).
    * The caller sets trigger/queryName and calls `.start()`. */
  def admit(docs: DataFrame, textCol: String, summary: Summary,
      n: Int = 2)(sink: (Summary, Long) => Unit): DataStreamWriter[Row] =
    MicroBatch.each(docs) { (batch, batchId) =>
      GraftFunctions.register(batch.sparkSession)
      import batch.sparkSession.implicits._
      val toks = batch.select(
          explode_outer(GraftFunctions.wordGrams(col(textCol), n)).as("term"))
        .filter(col("term").isNotNull)
      // one distributed pass; ≤ partitions·m rows reach the driver
      val parts = HeavyHitters.partitionSummaries(toks.as[String], summary.m)
        .groupBy("term").agg(sum("residual").as("residual"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val batchTokens = batch.select(
        sum(size(GraftFunctions.wordGrams(col(textCol), n))).cast("long"))
        .collect()(0)
      summary.merge(parts.toSeq,
        if (batchTokens.isNullAt(0)) 0L else batchTokens.getLong(0))
      sink(summary, batchId)
    }
}
