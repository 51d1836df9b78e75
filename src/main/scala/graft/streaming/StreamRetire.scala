package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.pipeline.CorpusWriter

/** Streaming DELETES — the removal half [[StreamLanding]]'s ingest half
  * pairs with (r17): a takedown/expiry stream must stop being served
  * without waiting for a rewrite window.
  *
  *  - Retrieval indexes (SQ8/IVF/IVF-PQ): each micro-batch of retired
  *    ids lands as TOMBSTONES ([[CorpusWriter.appendTombstones]] — an
  *    O(batch) append); every stored-index probe anti-joins standing
  *    tombstones, so a delete is un-servable from its batch commit on;
  *    the periodic `apply*Tombstones` rewrite is a COST knob, not a
  *    correctness one (probe ≡ post-apply bit-for-bit, TombstoneSpec).
  *  - Trigram LM + gram/winnow refcount indexes (r18): counts are
  *    ADDITIVE, so these delete streams need no tombstones at all —
  *    each micro-batch subtract-lands its negated counts
  *    ([[CorpusWriter.retireFromLmModel]] /
  *    [[CorpusWriter.retireFromGramIndex]] /
  *    [[CorpusWriter.retireFromWinnowIndex]], O(batch)); the readers'
  *    sum + zero-skip nets the deleted docs out exactly, from the
  *    landing commit on.
  *
  * Arrival-order independence: tombstone rows are a SET under the
  * readers' distinct (duplicates harmless), and subtract landings
  * commute (integer addition), so any batch split and ordering yields
  * the same served answers. Replay safety (ADVICE r17): foreachBatch
  * is at-least-once, and a re-executed subtract batch would
  * double-apply — every subtract landing therefore carries
  * `src = "{prefix}:{batchId}"` and a replayed `src` is skipped
  * ([[CorpusWriter.srcApplied]]; the landing is its own applied-marker,
  * so there is no separate-write crash window). Restarting against the
  * same sidecar from a FRESH checkpoint needs a new `srcPrefix` —
  * `srcPrefix` is therefore EXPLICIT (no default, r19): two streams
  * retiring into one sidecar under an accidental shared prefix would
  * collide on `src` and silently skip legitimate batches. Ordering
  * contract with a concurrent landing stream: a retire stream must
  * TRAIL the landing stream for the same docs — landings only commute
  * in the END state, and a retire batch committing before its docs'
  * land batch drives nets negative, which the read-fold guard turns
  * into hard probe failures until the land batch commits (correct
  * final state, loud interim). The gate is ENFORCEABLE (r20):
  * pass `gateOnLandSrcCol` naming a column of the retire stream that
  * carries each row's landing tag, and every batch `require`s those
  * landings applied ([[CorpusWriter.requireLanded]]) BEFORE any
  * subtract lands — a premature retire fails the stream loudly
  * instead of putting the sidecar in the loud-interim state. Gated
  * streams suit the all-landed deployment; docs from a tag-less
  * initial `write*` have no landing to name and retire ungated. */
object StreamRetire {

  /** Configure (not start) tombstone landing for a stored index:
    * `ids` is a streaming DataFrame carrying `idCol`. */
  def intoTombstones(spark: SparkSession, ids: DataFrame, idCol: String,
      table: String)(onBatch: Long => Unit = _ => ()): DataStreamWriter[Row] =
    MicroBatch.each(ids) { (batch, batchId) =>
      if (!batch.isEmpty)
        CorpusWriter.appendTombstones(spark, table, batch, idCol)
      onBatch(batchId)
    }

  /** Configure (not start) the LM delete stream: each micro-batch of
    * retired TRAINING DOCS subtract-lands its counts, idempotently per
    * batch id. */
  def fromLmModel(spark: SparkSession, docs: DataFrame, textCol: String,
      table: String, srcPrefix: String,
      gateOnLandSrcCol: Option[String] = None)(
      onBatch: Long => Unit = _ => ()): DataStreamWriter[Row] =
    MicroBatch.each(docs) { (batch, batchId) =>
      if (!batch.isEmpty) {
        gateOnLandSrcCol.foreach(
          CorpusWriter.requireLanded(spark, table, batch, _))
        CorpusWriter.retireFromLmModel(batch, textCol, table,
          src = s"$srcPrefix:$batchId")
      }
      onBatch(batchId)
    }

  /** Configure (not start) the gram-index delete stream: each
    * micro-batch of retired DOCS subtract-lands its gram refcounts —
    * the takedown is un-witnessable by novelty probes from the landing
    * commit on ([[CorpusWriter.readGramIndex]]'s fold), O(batch) per
    * batch, idempotent per batch id. */
  def fromGramIndex(spark: SparkSession, docs: DataFrame, textCol: String,
      table: String, srcPrefix: String,
      gateOnLandSrcCol: Option[String] = None)(
      onBatch: Long => Unit = _ => ()): DataStreamWriter[Row] =
    MicroBatch.each(docs) { (batch, batchId) =>
      if (!batch.isEmpty) {
        gateOnLandSrcCol.foreach(
          CorpusWriter.requireLanded(spark, table, batch, _))
        CorpusWriter.retireFromGramIndex(batch, textCol, table,
          src = s"$srcPrefix:$batchId")
      }
      onBatch(batchId)
    }

  /** [[fromGramIndex]] at frame grain — the streaming TAKEDOWN path
    * for the content-ID reference set: each micro-batch of retired
    * ASSETS subtract-lands its frame refcounts, un-matchable from the
    * landing commit on ([[graft.pipeline.Multimodal.readFrameIndex]]'s
    * fold). */
  def fromFrameIndex(spark: SparkSession, assets: DataFrame,
      table: String, srcPrefix: String,
      gateOnLandSrcCol: Option[String] = None)(
      onBatch: Long => Unit = _ => ()): DataStreamWriter[Row] =
    MicroBatch.each(assets) { (batch, batchId) =>
      if (!batch.isEmpty) {
        gateOnLandSrcCol.foreach(
          CorpusWriter.requireLanded(spark, table, batch, _))
        import graft.pipeline.Multimodal.assetEnc
        graft.pipeline.Multimodal.retireFromFrameIndex(
          batch.as[graft.pipeline.Multimodal.MediaAsset], table,
          src = s"$srcPrefix:$batchId")
      }
      onBatch(batchId)
    }

  /** [[fromFrameIndex]] at SHINGLE grain — the streaming takedown for
    * the shift-tolerant content-ID reference set. */
  def fromShingleIndex(spark: SparkSession, assets: DataFrame,
      table: String, srcPrefix: String,
      gateOnLandSrcCol: Option[String] = None)(
      onBatch: Long => Unit = _ => ()): DataStreamWriter[Row] =
    MicroBatch.each(assets) { (batch, batchId) =>
      if (!batch.isEmpty) {
        gateOnLandSrcCol.foreach(
          CorpusWriter.requireLanded(spark, table, batch, _))
        import graft.pipeline.Multimodal.assetEnc
        graft.pipeline.Multimodal.retireFromShingleIndex(
          batch.as[graft.pipeline.Multimodal.MediaAsset], table,
          src = s"$srcPrefix:$batchId")
      }
      onBatch(batchId)
    }

  /** The postings-index delete stream (r19): each micro-batch of
    * retired DOCS subtract-lands its postings, lengths, and stats —
    * BM25 idf/avgdl renormalize through the netted stats from the
    * landing commit on ([[graft.pipeline.Bm25.retireFromPostingsIndex]]),
    * O(batch), idempotent per batch id per sub-table. */
  def fromPostingsIndex(spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String, table: String, srcPrefix: String,
      gateOnLandSrcCol: Option[String] = None)(
      onBatch: Long => Unit = _ => ()): DataStreamWriter[Row] =
    MicroBatch.each(docs) { (batch, batchId) =>
      if (!batch.isEmpty) {
        // The postings landing commits THREE sub-tables (stats last)
        // — gate on all three, or a retire could subtract stats a
        // mid-crash landing never added. One tag collect, three
        // probes.
        gateOnLandSrcCol.foreach(
          CorpusWriter.requireLandedAll(spark,
            Seq(table, s"${table}_lens", s"${table}_stats"), batch, _))
        graft.pipeline.Bm25.retireFromPostingsIndex(batch, idCol,
          textCol, table, src = s"$srcPrefix:$batchId")
      }
      onBatch(batchId)
    }

  /** The positional-index delete stream (r20): each micro-batch of
    * retired DOCS subtract-lands its (term, doc_id, pos) occurrence
    * refcounts — phrase/proximity matches stop serving the deleted
    * docs from the landing commit on
    * ([[graft.pipeline.PhraseIndex.retireFromPhraseIndex]]), O(batch),
    * idempotent per batch id. */
  def fromPhraseIndex(spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String, table: String, srcPrefix: String,
      gateOnLandSrcCol: Option[String] = None)(
      onBatch: Long => Unit = _ => ()): DataStreamWriter[Row] =
    MicroBatch.each(docs) { (batch, batchId) =>
      if (!batch.isEmpty) {
        gateOnLandSrcCol.foreach(
          CorpusWriter.requireLanded(spark, table, batch, _))
        graft.pipeline.PhraseIndex.retireFromPhraseIndex(batch, idCol,
          textCol, table, src = s"$srcPrefix:$batchId")
      }
      onBatch(batchId)
    }

  /** The regex-trigram-index delete stream (r20): each micro-batch of
    * retired DOCS subtract-lands its (gram, doc_id) presence refcounts
    * — indexed regex probes stop nominating the deleted docs from the
    * landing commit on ([[graft.pipeline.RegexIndex
    * .retireFromRegexIndex]]), O(batch), idempotent per batch id.
    * The doc STORE deliberately has no delete stream: a doc retired
    * here is never nominated again, so its store row is unreachable
    * from this commit on, and the store's reclaim
    * ([[graft.pipeline.RegexIndex.retireFromDocStore]]) is a scheduled
    * O(store) rewrite — per-micro-batch it would violate the O(batch)
    * landing contract every stream in this module keeps. */
  def fromRegexIndex(spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String, table: String, srcPrefix: String,
      gateOnLandSrcCol: Option[String] = None)(
      onBatch: Long => Unit = _ => ()): DataStreamWriter[Row] =
    MicroBatch.each(docs) { (batch, batchId) =>
      if (!batch.isEmpty) {
        gateOnLandSrcCol.foreach(
          CorpusWriter.requireLanded(spark, table, batch, _))
        graft.pipeline.RegexIndex.retireFromRegexIndex(batch, idCol,
          textCol, table, src = s"$srcPrefix:$batchId")
      }
      onBatch(batchId)
    }

  /** [[fromGramIndex]] at winnowed-fingerprint grain. */
  def fromWinnowIndex(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, table: String, srcPrefix: String,
      gateOnLandSrcCol: Option[String] = None)(
      onBatch: Long => Unit = _ => ()): DataStreamWriter[Row] =
    MicroBatch.each(docs) { (batch, batchId) =>
      if (!batch.isEmpty) {
        gateOnLandSrcCol.foreach(
          CorpusWriter.requireLanded(spark, table, batch, _))
        CorpusWriter.retireFromWinnowIndex(batch, idCol, textCol, table,
          src = s"$srcPrefix:$batchId")
      }
      onBatch(batchId)
    }
}
