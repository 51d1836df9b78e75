package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.ops.Materialize

/** The one micro-batch combinator: kbrowse's `--follow` consumer loop
  * (`search.clj:103-122`) as a Structured Streaming writer that hands
  * each micro-batch to a batch operator.
  *
  * Every streaming dual is a batch operator run through [[each]]: the
  * probe and scoring duals call it directly (their specs pin the union
  * over micro-batches against the batch replay), while
  * [[StreamLanding]], [[StreamRetire]], [[StreamHll]], [[StreamHitters]],
  * [[StreamQuantiles]] and `/search?follow` wrap it with their own state
  * or idempotency key. */
object MicroBatch {

  /** Configure (not start) an append-mode stream over `stream` that runs
    * `op(batch, batchId)` on the stream thread (driver-side; batches
    * arrive serially). The frames `op` registers with [[Materialize]]
    * are released when it returns or throws, so a long-running stream
    * holds no cache across batches. No emptiness probe: an operator that
    * needs rows tests `batch.isEmpty` itself. The caller sets
    * `queryName`/`trigger` and calls `.start()`. */
  def each(stream: DataFrame)(
      op: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Materialize.releasing(op(batch, batchId))
      }
}
