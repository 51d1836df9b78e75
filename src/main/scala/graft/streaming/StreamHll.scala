package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.pipeline.HyperLogLog

/** Streaming distinct-count telemetry — [[HyperLogLog]] (q132) composed
  * with the streaming front door, the ELEVENTH batch/streaming duality.
  * The question "how many distinct tokens has this stream carried?" is
  * unanswerable exactly without replaying history; the HLL register
  * array answers it in [[HyperLogLog.M]] bytes of driver state with a
  * sharper duality than any other sketch here: register merge is
  * elementwise max, which is COMMUTATIVE and IDEMPOTENT, so the
  * steady-state register array is BIT-equal to the batch sketch over
  * the union of all arrived rows, whatever the batch boundaries or
  * arrival order — where [[StreamHitters]]' MG summary can only promise
  * order-free BOUNDS, the HLL state itself is order-free, and
  * StreamHllSpec pins the replay register-for-register.
  *
  * Per batch: one distributed `(register, max rho)` aggregate — the
  * map-side partial max means ≤ [[HyperLogLog.M]] slim rows reach the
  * driver per batch (the bounded-collect contract), merged into the
  * running array by max. No state store, no join, no broadcast. */
object StreamHll {

  /** Driver-held register array. Not thread-safe; foreachBatch calls
    * arrive serially. */
  final class Sketch {
    private[streaming] val regs = new Array[Int](HyperLogLog.M)

    /** Current register snapshot (defensive copy). */
    def registers: Array[Int] = regs.clone()

    /** The raw HLL estimate of distinct fingerprints seen so far. */
    def estimate: Double = HyperLogLog.estimate(regs)

    /** Merge one batch's register array (elementwise max). */
    private[streaming] def merge(batchRegs: Array[Int]): Unit = {
      var i = 0
      while (i < regs.length) {
        if (batchRegs(i) > regs(i)) regs(i) = batchRegs(i)
        i += 1
      }
    }
  }

  /** Configure (not start) the monitor: `docs` is a streaming DataFrame
    * carrying `textCol`; each micro-batch's register maxima
    * ([[HyperLogLog.sketchOf]], a ≤ [[HyperLogLog.M]]-row bounded
    * collect per batch) fold into `sketch`, then `sink` observes
    * (sketch, batchId). The caller sets trigger/queryName and calls
    * `.start()`. */
  def monitor(docs: DataFrame, textCol: String, sketch: Sketch,
      n: Int = 3)(
      sink: (Sketch, Long) => Unit): DataStreamWriter[Row] =
    MicroBatch.each(docs) { (batch, batchId) =>
      sketch.merge(HyperLogLog.sketchOf(batch, textCol, n))
      sink(sketch, batchId)
    }
}
