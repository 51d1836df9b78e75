package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.pipeline.CorpusWriter

/** Streaming sidecar LANDING — the ingest half the other streaming
  * duals assume already happened: where the novelty, winnow and ANN
  * probes ([[graft.pipeline.Novelty.noveltyAgainstIndex]] /
  * [[graft.pipeline.Winnow.admitAgainstIndex]] /
  * [[graft.pipeline.Clustering.ivfTopKFromIndex]] over each micro-batch,
  * through [[MicroBatch.each]]) PROBE a frozen sidecar, this op
  * GROWS one, appending each arriving micro-batch through the same
  * landing functions the batch path uses ([[CorpusWriter
  * .appendToGramIndex]] / [[CorpusWriter.appendToWinnowIndex]]), so a
  * corpus ingested as a stream ends with the BIT-same sidecar as one
  * landed in batches (StreamLandingSpec pins it).
  *
  * Arrival-order independence: the gram/winnow sidecars are ADDITIVE
  * refcounts (r18) — landings commute under the reader's sum, so any
  * batch split and ordering yields the same fold. foreachBatch is
  * at-least-once, so each landing carries `src = "{prefix}:{batchId}"`
  * and a replayed batch is skipped ([[CorpusWriter.srcApplied]] — the
  * landing itself is the applied-marker, no separate-write crash
  * window). Restarting a landing stream against the SAME sidecar from
  * a FRESH checkpoint (batch ids restart at 0) needs a new `srcPrefix`,
  * and two streams landing into one sidecar must use distinct prefixes
  * — which is why `srcPrefix` is EXPLICIT (no default, r19): a shared
  * accidental prefix would collide on `src` and silently skip
  * legitimate batches. The vector-index landings keep their anti-join
  * idempotency.
  *
  * The landing stream and any probe streams over the same sidecar must
  * not interleave mid-batch semantics: a probe sees the sidecar as of
  * its own batch start (parquet snapshot), the same read-your-landings
  * story as the batch path. */
object StreamLanding {

  /** Configure (not start) gram-index landing: each micro-batch of
    * (`textCol`) documents appends its unseen gram fingerprints into
    * `table` (a [[CorpusWriter.writeGramIndex]] sidecar). `onBatch`
    * fires after each landing commits (checkpoint/telemetry hook). */
  def intoGramIndex(spark: SparkSession, docs: DataFrame, textCol: String,
      table: String, srcPrefix: String)(
      onBatch: Long => Unit = _ => ()): DataStreamWriter[Row] =
    MicroBatch.each(docs) { (batch, batchId) =>
      if (!batch.isEmpty)
        CorpusWriter.appendToGramIndex(batch, textCol, table,
          src = s"$srcPrefix:$batchId")
      onBatch(batchId)
    }

  /** Configure (not start) winnow-index landing: the [[intoGramIndex]]
    * discipline at [[graft.pipeline.Winnow]] fingerprint grain. */
  def intoWinnowIndex(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, table: String, srcPrefix: String)(
      onBatch: Long => Unit = _ => ()): DataStreamWriter[Row] =
    MicroBatch.each(docs) { (batch, batchId) =>
      if (!batch.isEmpty)
        CorpusWriter.appendToWinnowIndex(batch, idCol, textCol, table,
          src = s"$srcPrefix:$batchId")
      onBatch(batchId)
    }

  /** Configure (not start) IVF-index landing (VERDICT r16 #4): each
    * micro-batch of vectors assigns under the sidecar's FROZEN stored
    * centroids and appends its unseen vec_ids ([[CorpusWriter
    * .appendToIvfIndex]]) — so a stream-ingested corpus ends with the
    * bit-same retrieval index as a batch landing chain, and a standing
    * ANN prober over the same table sees each batch's vectors from its
    * next micro-batch on. The lifted batch cache each landing registers
    * is released per batch by [[MicroBatch.each]] — a long-lived landing
    * stream must not accumulate one cached frame per micro-batch. */
  def intoIvfIndex(spark: SparkSession, vecs: DataFrame, idCol: String,
      embCol: String, table: String)(
      onBatch: Long => Unit = _ => ()): DataStreamWriter[Row] =
    MicroBatch.each(vecs) { (batch, batchId) =>
      if (!batch.isEmpty)
        CorpusWriter.appendToIvfIndex(batch, idCol, embCol, table)
      onBatch(batchId)
    }

  /** Configure (not start) IVF-PQ-index landing: [[intoIvfIndex]] with
    * the batch ALSO encoding under the frozen PQ codebooks. */
  def intoIvfPqIndex(spark: SparkSession, vecs: DataFrame, idCol: String,
      embCol: String, table: String)(
      onBatch: Long => Unit = _ => ()): DataStreamWriter[Row] =
    MicroBatch.each(vecs) { (batch, batchId) =>
      if (!batch.isEmpty)
        CorpusWriter.appendToIvfPqIndex(batch, idCol, embCol, table)
      onBatch(batchId)
    }

  /** Configure (not start) RESIDUAL IVF-PQ landing (r20 — the r19
    * verdict's "a stream cannot grow a residual index today" gap):
    * [[intoIvfPqIndex]] with the batch assigning under the frozen
    * coarse centroids and PQ-encoding its RESIDUALS under the frozen
    * residual codebooks ([[CorpusWriter.appendToResidualIvfPqIndex]]
    * guards enc=residual both ways, so this dual can never land raw
    * codes into a residual sidecar). Anti-join idempotency like the
    * other vector landings. */
  def intoResidualIvfPqIndex(spark: SparkSession, vecs: DataFrame,
      idCol: String, embCol: String, table: String)(
      onBatch: Long => Unit = _ => ()): DataStreamWriter[Row] =
    MicroBatch.each(vecs) { (batch, batchId) =>
      if (!batch.isEmpty)
        CorpusWriter.appendToResidualIvfPqIndex(batch, idCol, embCol,
          table)
      onBatch(batchId)
    }

  /** Configure (not start) frame-index landing: each micro-batch of
    * assets extracts map-side and appends its (frame, print) asset
    * refcounts ([[graft.pipeline.Multimodal.appendToFrameIndex]]) — the
    * content-ID reference set grown at ingest, replay-safe per batch
    * under `src = "{prefix}:{batchId}"`. */
  def intoFrameIndex(spark: SparkSession, assets: DataFrame,
      table: String, srcPrefix: String)(
      onBatch: Long => Unit = _ => ()): DataStreamWriter[Row] =
    MicroBatch.each(assets) { (batch, batchId) =>
      if (!batch.isEmpty) {
        import graft.pipeline.Multimodal.assetEnc
        graft.pipeline.Multimodal.appendToFrameIndex(
          batch.as[graft.pipeline.Multimodal.MediaAsset], table,
          src = s"$srcPrefix:$batchId")
      }
      onBatch(batchId)
    }

  /** Configure (not start) shingle-index landing (r19): each
    * micro-batch of assets appends its shingle refcounts
    * ([[graft.pipeline.Multimodal.appendToShingleIndex]]) — the
    * shift-tolerant content-ID reference set grown at ingest,
    * replay-safe per batch under `src = "{prefix}:{batchId}"`. */
  def intoShingleIndex(spark: SparkSession, assets: DataFrame,
      table: String, srcPrefix: String)(
      onBatch: Long => Unit = _ => ()): DataStreamWriter[Row] =
    MicroBatch.each(assets) { (batch, batchId) =>
      if (!batch.isEmpty) {
        import graft.pipeline.Multimodal.assetEnc
        graft.pipeline.Multimodal.appendToShingleIndex(
          batch.as[graft.pipeline.Multimodal.MediaAsset], table,
          src = s"$srcPrefix:$batchId")
      }
      onBatch(batchId)
    }

  /** Configure (not start) postings-index landing (r19): each
    * micro-batch of documents appends its postings/lengths/stats
    * ([[graft.pipeline.Bm25.appendToPostingsIndex]]) — the lexical
    * search index grown at ingest, replay-safe per batch AND per
    * sub-table under `src = "{prefix}:{batchId}"`. */
  def intoPostingsIndex(spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String, table: String, srcPrefix: String)(
      onBatch: Long => Unit = _ => ()): DataStreamWriter[Row] =
    MicroBatch.each(docs) { (batch, batchId) =>
      if (!batch.isEmpty)
        graft.pipeline.Bm25.appendToPostingsIndex(batch, idCol,
          textCol, table, src = s"$srcPrefix:$batchId")
      onBatch(batchId)
    }

  /** Configure (not start) POSITIONAL-index landing (r20): each
    * micro-batch of documents appends its (term, doc_id, pos)
    * occurrence refcounts ([[graft.pipeline.PhraseIndex
    * .appendToPhraseIndex]]) — phrase/proximity search grown at
    * ingest, replay-safe per batch under `src = "{prefix}:{batchId}"`. */
  def intoPhraseIndex(spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String, table: String, srcPrefix: String)(
      onBatch: Long => Unit = _ => ()): DataStreamWriter[Row] =
    MicroBatch.each(docs) { (batch, batchId) =>
      if (!batch.isEmpty)
        graft.pipeline.PhraseIndex.appendToPhraseIndex(batch, idCol,
          textCol, table, src = s"$srcPrefix:$batchId")
      onBatch(batchId)
    }

  /** Configure (not start) REGEX-trigram-index landing (r20): each
    * micro-batch of documents appends its distinct (gram, doc_id)
    * presence refcounts ([[graft.pipeline.RegexIndex
    * .appendToRegexIndex]]) — indexed regex search grown at ingest,
    * replay-safe per batch under `src = "{prefix}:{batchId}"`. */
  def intoRegexIndex(spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String, table: String, srcPrefix: String)(
      onBatch: Long => Unit = _ => ()): DataStreamWriter[Row] =
    MicroBatch.each(docs) { (batch, batchId) =>
      if (!batch.isEmpty)
        graft.pipeline.RegexIndex.appendToRegexIndex(batch, idCol,
          textCol, table, src = s"$srcPrefix:$batchId")
      onBatch(batchId)
    }

  /** Configure (not start) doc-STORE landing (r20): each micro-batch
    * appends its (doc_id, text) rows to the [[graft.pipeline
    * .RegexIndex.writeDocStore]] content store — the fetch half of the
    * codesearch pair, grown at ingest beside [[intoRegexIndex]],
    * replay-safe per batch. */
  def intoDocStore(spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String, table: String, srcPrefix: String)(
      onBatch: Long => Unit = _ => ()): DataStreamWriter[Row] =
    MicroBatch.each(docs) { (batch, batchId) =>
      if (!batch.isEmpty)
        graft.pipeline.RegexIndex.appendToDocStore(batch, idCol,
          textCol, table, src = s"$srcPrefix:$batchId")
      onBatch(batchId)
    }

  /** Configure (not start) SQ8-index landing: each micro-batch encodes
    * under the frozen stored grid with CLAMPING (the q165 landing
    * discipline) and appends its unseen vec_ids. */
  def intoSq8Index(spark: SparkSession, vecs: DataFrame, idCol: String,
      embCol: String, table: String)(
      onBatch: Long => Unit = _ => ()): DataStreamWriter[Row] =
    MicroBatch.each(vecs) { (batch, batchId) =>
      if (!batch.isEmpty)
        CorpusWriter.appendToSq8Index(batch, idCol, embCol, table)
      onBatch(batchId)
    }
}
