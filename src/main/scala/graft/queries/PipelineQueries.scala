package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.GraftFunctions
import graft.oracle.Duck
import graft.pipeline.{BigramModel, Bm25, BloomDecontam, Boilerplate, BpeMerges, Clustering, Curriculum, CorpusDiff, DedupEval, CorpusStats, CountMin, Decontam, DupClusters, DiverseSelect, EpochShuffle, HeavyHitters, Importance, IncrementalDedup, MinHashDedup, Novelty, Passages, PhraseIndex, ProductQuant, Projection, QualityClassifier, RegexIndex, RepeatedSpans, Sampling, ShardPack, SimHash, Similarity, SnapshotLanding, SourceDrift, TermCommonness, TextStats, TfIdf, TrigramModel, Vocabulary}

/** LLM-training-data pipeline operators as driver-checked conformance
  * queries over `documents.parquet` / `embeddings.parquet` (builder brief:
  * dedup, similarity search, text analysis — each 100 TB-shaped).
  */
object PipelineQueries {

  /** q198's batch sweep — one pattern per compiler shape (plain
    * class+quantifier, alternation, leading (?i), nested group),
    * shared verbatim between the query and its oracle. */
  private val BatchPatterns = Seq(
    "slow [a-z]+ join",
    "vector window batch|customer data group",
    "(?i)FAST (TABLE|KEY) ORDER",
    "data (line|row)")

  /** q200's conjunction — the second member is deliberately
    * unanalyzable (tolerated in a conjunction, poison in a union). */
  private val ConjunctivePatterns = Seq(
    "slow [a-z]+ join",
    "(line|row) [a-z]+")

  /** Build-once fixture: the q186 postings sidecar (evens written,
    * odds landed) shared by every stored-postings consumer. ONE
    * definition — the consumers used to carry byte-identical copies
    * of this block, where a drifted copy would silently change
    * whichever query ran second. */
  private def ensurePostingsFixture(s: SparkSession, sf: String): String = {
    val tbl = s"graft_q186_postings_${Tables.fixtureKey(sf, "documents")}"
    if (!s.catalog.tableExists(s"${tbl}_meta")) {
      val docs = Tables.load(s, sf, "documents")
      Bm25.writePostingsIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", tbl, buckets = 32)
      Bm25.appendToPostingsIndex(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", tbl, src = "q186:odds")
    }
    tbl
  }

  /** The q191 positional sidecar, shared by the phrase + proximity
    * consumers (same one-definition rationale). */
  private def ensurePhraseFixture(s: SparkSession, sf: String): String = {
    val tbl = s"graft_q191_phrase_${Tables.fixtureKey(sf, "documents")}"
    if (!s.catalog.tableExists(s"${tbl}_meta")) {
      val docs = Tables.load(s, sf, "documents")
      PhraseIndex.writePhraseIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", tbl, buckets = 32)
      PhraseIndex.appendToPhraseIndex(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", tbl, src = "q191:odds")
    }
    tbl
  }

  /** The q194 trigram sidecar, shared by every regex consumer (same
    * one-definition rationale). */
  private def ensureRegexFixture(s: SparkSession, sf: String): String = {
    val tbl = s"graft_q194_regex_${Tables.fixtureKey(sf, "documents")}"
    if (!s.catalog.tableExists(s"${tbl}_meta")) {
      val docs = Tables.load(s, sf, "documents")
      RegexIndex.writeRegexIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", tbl, buckets = 32)
      RegexIndex.appendToRegexIndex(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", tbl, src = "q194:odds")
    }
    tbl
  }


  val EmbeddingDim = 64

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact + fingerprint dedup cardinalities per source: the hash-groupBy
    // dedup plan (map-side partial agg, one shuffle on `source`).
    "q20_dedup_exact" -> ((s, sf) => {
      GraftFunctions.register(s)
      Tables.load(s, sf, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_unique"),
          countDistinct(GraftFunctions.rollingHash(col("text"))).as("n_unique_fp"))
        .orderBy("source")
    }),

    // Per-doc 32-bit fingerprint — known-answer test of the native
    // rolling_hash expression against its pure-SQL DuckDB rendering.
    // `fp_mb` hashes the text suffixed with 2-, 3- and 4-byte code points
    // (the q32 derived-column pattern): the oracle walks true UTF-8 bytes
    // via encode(), so multibyte parity is driver-checked, not assumed
    // (VERDICT r5 item 4 — the last ASCII-only oracle precondition).
    "q21_fingerprint" -> ((s, sf) => {
      GraftFunctions.register(s)
      Tables.load(s, sf, "documents")
        .selectExpr("doc_id", "text",
          "concat(text, element_at(array('', 'é', '中文', '☃𝄞'), cast(doc_id % 4 + 1 AS INT))) AS t_mb")
        .selectExpr("doc_id", "rolling_hash(text) AS fp", "rolling_hash(t_mb) AS fp_mb")
        .orderBy("doc_id")
    }),

    // BPE merge training (r14): learn the first 8 tokenizer merges
    // from corpus word frequencies — the corpus is tokenized ONCE into
    // the word-count dict; every merge round runs over the vocab-sized
    // frame (pair-count exchange + 1-row TakeOrdered argmax collect +
    // literal native replace). Produces the vocabulary q79 scores.
    "q102_bpe_merges" -> ((s, sf) =>
      BpeMerges.merges(Tables.load(s, sf, "documents"), "text", rounds = 8)),

    // Curriculum ordering (r14): easy→hard NTILE bands over n_chars
    // with a deterministic md5 within-band shuffle — global position
    // WITHOUT a one-partition window: two range-partitioned
    // ScalableCumSum passes, band index in closed form from the rank.
    "q103_curriculum" -> ((s, sf) =>
      Curriculum.order(Tables.load(s, sf, "documents"), "doc_id", "n_chars",
        buckets = 7)),

    // Fuzzy-dedup calibration (r14): simhash Hamming-ball capture rate
    // banded by TRUE n-gram Jaccard decile — the composed eval that
    // justifies a detector choice at 100 TB; pair-sized join of two
    // bucketed discoveries, never all-pairs.
    "q104_dedup_eval" -> ((s, sf) =>
      DedupEval.simhashCalibration(Tables.load(s, sf, "documents"),
        "doc_id", "text", labelMin = 0.3)),

    // Source term-distribution drift (r14): pairwise L1 over top-256
    // term ppm frequencies — ONE corpus exchange (source×term counts),
    // then broadcast-sized grid math; exact integers end to end.
    "q105_source_drift" -> ((s, sf) =>
      SourceDrift.termDrift(Tables.load(s, sf, "documents"), "source",
        "text", v = 256)),

    // Increment novelty vs the standing corpus (r14): per increment
    // doc, the fraction of its distinct 4-grams the corpus has never
    // seen — the NON-broadcast contamination grain (the reference side
    // IS the corpus: gram-keyed equi-join, never a broadcast contract).
    "q106_novelty" -> ((s, sf) =>
      Novelty.noveltyReport(Tables.load(s, sf, "documents"), "doc_id",
        "text", incrementPred = col("doc_id") % 7 === 0, n = 4)),

    // q106 through the STORED corpus gram index (r14): the sidecar
    // deployment form (CorpusWriter.writeGramIndex, bucketed by
    // gram_fp) — bit-equal to q106, no corpus re-tokenize; the oracle
    // IS q106's oracle.
    "q107_sidecar_novelty" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      val tbl = s"graft_q107_gramidx_${Tables.fixtureKey(sf, "documents")}"
      val pred = col("doc_id") % 7 === 0
      if (!s.catalog.tableExists(s"${tbl}_meta"))
        graft.pipeline.CorpusWriter.writeGramIndex(
          docs.filter(!pred), "text", n = 4, tbl, buckets = 32)
      Novelty.noveltyAgainstIndex(s, tbl, docs.filter(pred), "doc_id",
        "text", n = 4)
    }),

    // BPE encoding (r14): q102's apply step — per doc the token count
    // under the LEARNED 6-merge tokenizer (the number q38/q70/q74
    // budget math actually wants); the char-split + chained replaces
    // run over the distinct-word dictionary only, joined back AQE-sized.
    "q108_bpe_encode" -> ((s, sf) =>
      BpeMerges.trainAndEncode(Tables.load(s, sf, "documents"), "doc_id",
        "text", rounds = 6)),

    // Tokenizer fertility (r16): q108's per-doc token counts rolled up
    // per language — BPE tokens per word under the corpus-trained merge
    // table, the tokenizer-efficiency signal vocabulary-allocation
    // decisions are made from. No new corpus pass.
    "q152_tokenizer_fertility" -> ((s, sf) =>
      BpeMerges.fertilityReport(Tables.load(s, sf, "documents"), "doc_id",
        "text", "lang", rounds = 6)),

    // Stored-profile salted join (r16): q146's differential salting
    // against a PERSISTED profile sidecar — repeated runs of the same
    // join skip the measurement pass entirely. The oracle stays the
    // plain SQL join: salting is answer-invisible under any persisted
    // (even stale) profile.
    "q153_stored_profile_join" -> ((s, sf) => {
      val pre = s"graft_q153_${Tables.fixtureKey(sf, "lineitem")}"
      if (!s.catalog.tableExists(s"${pre}_prof")) {
        graft.pipeline.CorpusWriter.dropOrphanedLocation(s, s"${pre}_prof")
        graft.ops.SkewReport.joinProfile(
            Tables.load(s, sf, "lineitem").select("l_orderkey"),
            Tables.load(s, sf, "orders").select("o_orderkey"),
            "l_orderkey", "o_orderkey", targetRowsPerTask = 5L)
          .select("key", "salts")
          .write.format("parquet").saveAsTable(s"${pre}_prof")
      }
      graft.ops.SaltedJoin.autoJoinWithProfile(
          Tables.load(s, sf, "lineitem").select("l_orderkey", "l_quantity"),
          Tables.load(s, sf, "orders").select("o_orderkey", "o_orderpriority"),
          "l_orderkey", "o_orderkey", s.table(s"${pre}_prof"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("sum_qty"))
        .orderBy("o_orderpriority")
    }),

    // Trigram LM with stupid backoff (r16): the CCNet-shaped quality
    // filter — train on the even-id half, score the held-out odd half,
    // so the trigram→bigram→unigram→unseen backoff chain is live.
    "q154_trigram_backoff" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      TrigramModel.backoffScore(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
    }),

    // Landed LM model (r16): the q154 model stored as a bucketed count
    // sidecar in TWO landings (write + plain append — counts are
    // additive, the reader's sum-fold IS the merge), scored bit-equal
    // to the in-session form; the oracle IS q154's oracle.
    "q155_landed_lm" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      val tbl = s"graft_q155_lm_${Tables.fixtureKey(sf, "documents")}"
      if (!s.catalog.tableExists(s"${tbl}_meta")) {
        graft.pipeline.CorpusWriter.writeLmModel(
          docs.filter(col("doc_id") % 4 === 0), "text", tbl, buckets = 32)
        graft.pipeline.CorpusWriter.appendToLmModel(
          docs.filter(col("doc_id") % 4 === 2), "text", tbl,
          src = "q155:land2")
      }
      TrigramModel.scoreFromModel(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", s.table(tbl))
    }),

    // SQ8 scalar-quantized retrieval (r16): the train-free member of
    // the compression family beside PQ — per-dim min/max grid, int8
    // codes, integer dequantized dot, bounded-heap top-k per query.
    "q156_sq8_topk" -> ((s, sf) =>
      graft.pipeline.ScalarQuant.sq8TopK(Tables.load(s, sf, "embeddings"),
        "vec_id", "embedding", queryIds = Seq(0L, 1L, 2L), dim = 64,
        topK = 10)),

    // Stored BPE merges (r16): the q108 encode against a PERSISTED
    // merge-table sidecar — training runs once at landing, every later
    // encode collects the ≤64 frozen rows; the oracle IS q108's.
    "q164_stored_bpe" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      val tbl = s"graft_q164_bpe_${Tables.fixtureKey(sf, "documents")}"
      if (!s.catalog.tableExists(tbl)) {
        graft.pipeline.CorpusWriter.writeBpeMerges(docs, "text",
          rounds = 6, tbl)
      }
      BpeMerges.encodeFromMerges(docs, "doc_id", "text", s.table(tbl))
    }),

    // Landed SQ8 index (r16): the flat-index twin of q137/q140 — the
    // grid trains at the WRITE landing (even-id half) and freezes; the
    // odd half lands encoded under the stored grid with CLAMPING (a
    // late vector can exceed the training min/max); probes lift query
    // vectors in-session and scan stored codes only. The oracle
    // replays the split-trained grid + clamped codes.
    "q165_landed_sq8" -> ((s, sf) => {
      val emb = Tables.load(s, sf, "embeddings")
      val tbl = s"graft_q165_sq8_${Tables.fixtureKey(sf, "embeddings")}"
      if (!s.catalog.tableExists(s"${tbl}_meta")) {
        graft.pipeline.CorpusWriter.writeSq8Index(
          emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
          dim = 64, tbl, buckets = 16)
        graft.pipeline.CorpusWriter.appendToSq8Index(
          emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", tbl)
      }
      graft.pipeline.ScalarQuant.sq8TopKFromIndex(s, tbl,
        emb.filter(col("vec_id").isin(0L, 1L, 2L)), "vec_id", "embedding",
        dim = 64, topK = 10)
    }),

    // Multimodal exact dedup (r17): duplicate asset groups by
    // whole-content fingerprint over the planted corpus (exact
    // replicas every doc_id % 20, half variants every % 10) — dedup
    // runs on EXTRACTED feature rows; content never moves past the
    // map-side extract.
    "q167_asset_dedup" -> ((s, sf) =>
      graft.pipeline.Multimodal.assetDedup(
        graft.pipeline.Multimodal.plantedAssets(
          Tables.load(s, sf, "documents")))),

    // Multimodal frame-overlap near-dup (r17): asset pairs sharing >= 2
    // aligned sampled-frame fingerprints — the truncated/re-edited
    // detector (exact replicas share all 4; half variants share the 2
    // leading frames; everything else shares none). Pairs emit from
    // grouped (frame, print) cells under the MaxFrameCell contract.
    "q168_frame_overlap" -> ((s, sf) =>
      graft.pipeline.Multimodal.frameOverlapPairs(
        graft.pipeline.Multimodal.plantedAssets(
          Tables.load(s, sf, "documents")), minShared = 2)),

    // Shift-tolerant frame overlap (r19): q168's aligned detector
    // scores a one-frame-shifted re-edit 0 — here content fingerprints
    // as a block-print SEQUENCE shingled pairwise (the winnow
    // discipline at frame grain), matched position-free, so the
    // planted ShiftPad variants (asset_id + 30000) pair with their
    // originals on every interior shingle.
    "q180_shifted_overlap" -> ((s, sf) =>
      graft.pipeline.Multimodal.shiftTolerantOverlapPairs(
        graft.pipeline.Multimodal.plantedShiftedAssets(
          Tables.load(s, sf, "documents")), minShared = 2)),

    // Shift-tolerant content-ID (r19): the q180 shingles as a STORED
    // refcounted reference set with an O(deleted) takedown — index on
    // the %20 base assets in two landings, take one slice back DOWN,
    // probe the shifted variants: variants of indexed-and-kept content
    // match on their interior shingles (where q178's aligned frames
    // score 0); variants of retired or never-indexed content miss.
    "q185_shifted_content_id" -> ((s, sf) => {
      val assets = graft.pipeline.Multimodal.plantedShiftedAssets(
        Tables.load(s, sf, "documents"))
      val tbl = s"graft_q185_shingles_${Tables.fixtureKey(sf, "documents")}"
      if (!s.catalog.tableExists(s"${tbl}_meta")) {
        graft.pipeline.Multimodal.writeShingleIndex(
          assets.filter(col("asset_id") < 30000 &&
            col("asset_id") % 40 === 0), tbl, buckets = 16)
        graft.pipeline.Multimodal.appendToShingleIndex(
          assets.filter(col("asset_id") < 30000 &&
            col("asset_id") % 40 === 20), tbl, src = "q185:land2")
        graft.pipeline.Multimodal.retireFromShingleIndex(
          assets.filter(col("asset_id") < 30000 &&
            col("asset_id") % 80 === 40), tbl, src = "q185:takedown")
        graft.pipeline.Multimodal.compactShingleIndex(s, tbl)
      }
      graft.pipeline.Multimodal.shiftContentIdAgainstIndex(s, tbl,
        assets.filter(col("asset_id") >= 30000), minShared = 2)
    }),

    // Multimodal embedding near-dup (r17): the extract output plugged
    // straight into the banded sign-LSH + exact-cosine machinery
    // (q33's pipeline at stub-embedding grain) — exact replicas land
    // at cos = 1; half variants scatter and must be rejected.
    "q169_asset_embedding_dedup" -> ((s, sf) =>
      graft.pipeline.Multimodal.embeddingNearDups(
        graft.pipeline.Multimodal.plantedAssets(
          Tables.load(s, sf, "documents")), minCos = 0.9)),

    // Multimodal content-ID admission (r17): arriving assets probe the
    // stored frame-print sidecar (two landings — even/odd base assets)
    // — exact replicas hit 4/4 frames, leading-half edits hit 2/4,
    // novel content hits 0; flagged at >= 2. The asset-store twin of
    // q110's landed novelty.
    "q178_content_id" -> ((s, sf) => {
      val assets = graft.pipeline.Multimodal.plantedAssets(
        Tables.load(s, sf, "documents"))
      val tbl = s"graft_q178_frames_${Tables.fixtureKey(sf, "documents")}"
      if (!s.catalog.tableExists(s"${tbl}_meta")) {
        graft.pipeline.Multimodal.writeFrameIndex(
          assets.filter(col("asset_id") < 10000 && col("asset_id") % 2 === 0),
          tbl, buckets = 16)
        graft.pipeline.Multimodal.appendToFrameIndex(
          assets.filter(col("asset_id") < 10000 && col("asset_id") % 2 === 1),
          tbl, src = "q178:odds")
      }
      graft.pipeline.Multimodal.contentIdAgainstIndex(s, tbl,
        assets.filter(col("asset_id") >= 10000), minShared = 2)
    }),

    // Content-ID TAKEDOWN (r19): the frame index is now asset-
    // refcounted (the r18 gram discipline at the one grain where
    // removals are the business case) — retire the odd base assets by
    // an O(deleted) subtract landing + compaction; probes must answer
    // ≡ an index of the remaining (even) reference assets, so the
    // oracle is q178's with the tighter index predicate.
    "q184_retired_content_id" -> ((s, sf) => {
      val assets = graft.pipeline.Multimodal.plantedAssets(
        Tables.load(s, sf, "documents"))
      val tbl = s"graft_q184_frames_${Tables.fixtureKey(sf, "documents")}"
      if (!s.catalog.tableExists(s"${tbl}_meta")) {
        graft.pipeline.Multimodal.writeFrameIndex(
          assets.filter(col("asset_id") < 10000), tbl, buckets = 16)
        graft.pipeline.Multimodal.retireFromFrameIndex(
          assets.filter(col("asset_id") < 10000 && col("asset_id") % 2 === 1),
          tbl, src = "q184:takedown")
        graft.pipeline.Multimodal.compactFrameIndex(s, tbl)
      }
      graft.pipeline.Multimodal.contentIdAgainstIndex(s, tbl,
        assets.filter(col("asset_id") >= 10000), minShared = 2)
    }),

    // Landed-index staleness report (r17): an IVF-PQ sidecar landed
    // from the EVEN half only, probed against the CURRENT full corpus
    // — per query, how many true top-10 neighbors the stale index can
    // still recover. The number that schedules a re-land, measured
    // instead of guessed (the q87 recall meter pointed at a stored
    // index that missed a growth wave).
    "q175_index_staleness" -> ((s, sf) => {
      val emb = Tables.load(s, sf, "embeddings")
      val tbl = s"graft_q175_ivfpq_${Tables.fixtureKey(sf, "embeddings")}"
      if (!s.catalog.tableExists(s"${tbl}_meta")) {
        graft.pipeline.CorpusWriter.writeIvfPqIndex(
          emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", tbl,
          kCoarse = 8, coarseRounds = 2, m = 8, k = 16, pqRounds = 2,
          dim = EmbeddingDim)
      }
      ProductQuant.indexStaleness(s, tbl, emb, "vec_id", "embedding",
        queryIds = Seq(1L, 2L, 3L), nprobe = 3, topK = 10)
    }),

    // Tombstoned SQ8 deletes (r17): the LSM discipline between a
    // delete request and the retirement rewrite — removals land as
    // tombstone rows (two landings here) and the probe anti-joins them
    // WITHOUT any member rewrite, so the answer equals q171's
    // retired-index answer exactly; applying the tombstones later is a
    // cost knob (TombstoneSpec pins probe ≡ post-apply bit-for-bit).
    "q174_tombstoned_sq8" -> ((s, sf) => {
      val emb = Tables.load(s, sf, "embeddings")
      val tbl = s"graft_q174_sq8_${Tables.fixtureKey(sf, "embeddings")}"
      if (!s.catalog.tableExists(s"${tbl}_meta")) {
        graft.pipeline.CorpusWriter.writeSq8Index(
          emb, "vec_id", "embedding", dim = 64, tbl, buckets = 16)
        graft.pipeline.CorpusWriter.appendTombstones(s, tbl,
          emb.filter(col("vec_id") % 4 === 1), "vec_id")
        graft.pipeline.CorpusWriter.appendTombstones(s, tbl,
          emb.filter(col("vec_id") % 4 === 3), "vec_id")
      }
      graft.pipeline.ScalarQuant.sq8TopKFromIndex(s, tbl,
        emb.filter(col("vec_id").isin(0L, 2L, 4L)), "vec_id", "embedding",
        dim = 64, topK = 10)
    }),

    // Whole-span verified repeats (r17, the q69 stretch): prefix
    // doubling over window fingerprints — per doc the longest
    // power-of-two token span whose WHOLE fingerprint occurs in >= 2
    // distinct docs (q69's coverage spans can be chimeras: each window
    // repeated somewhere, the whole nowhere). Lens 2,4,8,16.
    "q173_whole_repeats" -> ((s, sf) =>
      RepeatedSpans.wholeRepeats(Tables.load(s, sf, "documents"),
        "doc_id", "text", window = 2, minDocs = 2, doublings = 3)),

    // LM retirement (r17): train on %4∈{0,2} in two landings, then
    // RETIRE the %4=2 half by a subtract landing (negated counts,
    // O(deleted) — never a model rewrite) + compaction; scoring must be
    // bit-equal to a model trained on %4=0 alone, so the oracle IS the
    // q155 oracle with the smaller train predicate.
    "q170_retired_lm" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      val tbl = s"graft_q170_lm_${Tables.fixtureKey(sf, "documents")}"
      if (!s.catalog.tableExists(s"${tbl}_meta")) {
        graft.pipeline.CorpusWriter.writeLmModel(
          docs.filter(col("doc_id") % 4 === 0), "text", tbl, buckets = 32)
        graft.pipeline.CorpusWriter.appendToLmModel(
          docs.filter(col("doc_id") % 4 === 2), "text", tbl,
          src = "q170:land2")
        graft.pipeline.CorpusWriter.retireFromLmModel(
          docs.filter(col("doc_id") % 4 === 2), "text", tbl,
          src = "q170:retire2")
        graft.pipeline.CorpusWriter.compactLmModel(s, tbl)
      }
      TrigramModel.scoreFromModel(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", s.table(tbl))
    }),

    // SQ8 retirement (r17): write the FULL-corpus index (grid trains on
    // everything and stays frozen through the delete), retire the odd
    // half by one anti-join rewrite, probe from the even half — the
    // oracle scores full-grid codes over remaining members only.
    "q171_retired_sq8" -> ((s, sf) => {
      val emb = Tables.load(s, sf, "embeddings")
      val tbl = s"graft_q171_sq8_${Tables.fixtureKey(sf, "embeddings")}"
      if (!s.catalog.tableExists(s"${tbl}_meta")) {
        graft.pipeline.CorpusWriter.writeSq8Index(
          emb, "vec_id", "embedding", dim = 64, tbl, buckets = 16)
        graft.pipeline.CorpusWriter.retireFromSq8Index(s, tbl,
          emb.filter(col("vec_id") % 2 === 1), "vec_id")
      }
      graft.pipeline.ScalarQuant.sq8TopKFromIndex(s, tbl,
        emb.filter(col("vec_id").isin(0L, 2L, 4L)), "vec_id", "embedding",
        dim = 64, topK = 10)
    }),

    // Gram-index retirement (r17, refcounted r18): the delete is an
    // O(deleted) SUBTRACT landing — negated doc refcounts append, the
    // read fold keeps fingerprints netting > 0; NO remaining-corpus
    // re-tokenize (r17 verdict's weak edge, closed). The probe must
    // answer ≡ an index built on the remaining reference corpus, so
    // the oracle is q106's with an independent reference predicate.
    "q172_retired_novelty" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      val tbl = s"graft_q172_gramidx_${Tables.fixtureKey(sf, "documents")}"
      val inc = col("doc_id") % 7 === 0
      if (!s.catalog.tableExists(s"${tbl}_meta")) {
        graft.pipeline.CorpusWriter.writeGramIndex(
          docs.filter(!inc), "text", n = 4, tbl, buckets = 32)
        graft.pipeline.CorpusWriter.retireFromGramIndex(
          docs.filter(!inc && col("doc_id") % 2 === 1), "text", tbl,
          src = "q172:retire")
      }
      Novelty.noveltyAgainstIndex(s, tbl, docs.filter(inc), "doc_id",
        "text", n = 4)
    }),

    // Winnow-index retirement (r18, the q172 twin at MOSS grain): write
    // the full reference selection refcounted, subtract-land the odd
    // half, compact (exercising the fold + srcs-preserving rewrite),
    // probe the increment — must answer ≡ an index of the remaining
    // reference corpus (admit oracle, independent reference predicate).
    "q179_retired_winnow" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      val tbl = s"graft_q179_winidx_${Tables.fixtureKey(sf, "documents")}"
      val inc = col("doc_id") % 7 === 0
      if (!s.catalog.tableExists(s"${tbl}_meta")) {
        graft.pipeline.CorpusWriter.writeWinnowIndex(
          docs.filter(!inc), "doc_id", "text", n = 4, w = 4, tbl,
          buckets = 32)
        graft.pipeline.CorpusWriter.retireFromWinnowIndex(
          docs.filter(!inc && col("doc_id") % 2 === 1), "doc_id", "text",
          tbl, src = "q179:retire")
        graft.pipeline.CorpusWriter.compactWinnowIndex(s, tbl)
      }
      graft.pipeline.Winnow.admitAgainstIndex(s, tbl, docs.filter(inc),
        "doc_id", "text", n = 4, w = 4)
    }),

    // Landed novelty (r14): the q107 gram index built in TWO landings
    // (write + additive refcount append — the reader's fold makes
    // write+append ≡ write-union) must answer bit-equal to q106/q107;
    // the oracle IS q106's oracle.
    "q110_landed_novelty" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      val tbl = s"graft_q110_gramidx_${Tables.fixtureKey(sf, "documents")}"
      val pred = col("doc_id") % 7 === 0
      if (!s.catalog.tableExists(s"${tbl}_meta")) {
        graft.pipeline.CorpusWriter.writeGramIndex(
          docs.filter(!pred && col("doc_id") % 2 === 0), "text", n = 4,
          tbl, buckets = 32)
        graft.pipeline.CorpusWriter.appendToGramIndex(
          docs.filter(!pred && col("doc_id") % 2 === 1), "text", tbl,
          src = "q110:land2")
      }
      Novelty.noveltyAgainstIndex(s, tbl, docs.filter(pred), "doc_id",
        "text", n = 4)
    }),

    // Compacted landed novelty (r19): q110's fixture taken through
    // compactGramIndex — the refcount fold's read-time cost (q110 paid
    // +0.4 s at sf0.1 for the O(deleted) delete path) collapses back to
    // the one-row-per-fp fast path; the answer is pinned unchanged
    // (q106's oracle). The bench point the r18 verdict asked for.
    "q182_compacted_novelty" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      val tbl = s"graft_q182_gramidx_${Tables.fixtureKey(sf, "documents")}"
      val pred = col("doc_id") % 7 === 0
      if (!s.catalog.tableExists(s"${tbl}_meta")) {
        graft.pipeline.CorpusWriter.writeGramIndex(
          docs.filter(!pred && col("doc_id") % 2 === 0), "text", n = 4,
          tbl, buckets = 32)
        graft.pipeline.CorpusWriter.appendToGramIndex(
          docs.filter(!pred && col("doc_id") % 2 === 1), "text", tbl,
          src = "q182:land2")
        graft.pipeline.CorpusWriter.compactGramIndex(s, tbl)
      }
      Novelty.noveltyAgainstIndex(s, tbl, docs.filter(pred), "doc_id",
        "text", n = 4)
    }),

    // Partitioned corpus store + pruned read (r14): the dedup sink
    // (CorpusWriter.writeDeduped, partitionBy lang) written at landing,
    // then read back under a partition filter — PlanAuditSpec asserts
    // the lang predicate prunes DIRECTORIES (PartitionFilters), never
    // scanning the other languages' files. Oracle: dedup + filter in SQL.
    "q112_partitioned_read" -> ((s, sf) => {
      val dir = s"/tmp/graft-q112-${Tables.fixtureKey(sf, "documents")}"
      // _SUCCESS, not bare existence: a crashed partial write leaves the
      // directory without the marker and must be repaired (overwrite).
      if (!new java.io.File(s"$dir/_SUCCESS").exists())
        graft.pipeline.CorpusWriter.writeDeduped(
          Tables.load(s, sf, "documents"), "doc_id", "text", "lang", dir)
      s.read.parquet(dir).filter(col("lang") === "en")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
        .orderBy("lang")
    }),

    // BM25 self-retrieval MRR (r14): the lexical-retrieval tuning
    // meter — every 997th doc queries its own first 5 tokens; rank of
    // the source doc in the batch top-10, reciprocal rank in 2^20
    // fixed point. ONE scan for the union term set, per-query top-k
    // via map-side bounded heaps, never a per-query corpus window.
    "q114_bm25_mrr" -> ((s, sf) =>
      Bm25.selfRetrievalMrr(Tables.load(s, sf, "documents"), "doc_id",
        "text")),

    // Split-leakage audit (r14): after the leakage-safe split (q59's
    // machinery), measure the RESIDUAL — per val doc, the fraction of
    // its 4-grams any train doc contains (clusters can't cross the
    // split; quoted paragraphs below the near-dup bar still can).
    "q117_split_leakage" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      DupClusters.splitLeakageReport(docs, "doc_id", "text",
        MinHashDedup.nearDupPairs(docs, "doc_id", "text", 0.5),
        "doc_a", "doc_b", valFrac = 0.1, n = 4)
    }),

    // Incremental cluster maintenance (r15): the standing corpus's
    // duplicate clusters land ONCE as a bucketed sidecar
    // (CorpusWriter.writeClusters over CC of the corpus-only pairs);
    // the increment's pairs (any edge touching a doc_id % 5 == 0 doc —
    // the q56/q65 landing split) then fold in via updateClusters
    // (contract → CC over new edges only → relabel), never re-running
    // CC over the full pair set. Must be bit-equal to full CC over ALL
    // pairs — the oracle IS q37's.
    "q118_incremental_clusters" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      val tbl = s"graft_q118_clusters_${Tables.fixtureKey(sf, "documents")}"
      if (!s.catalog.tableExists(s"${tbl}_meta")) {
        val pairs = MinHashDedup.nearDupPairs(docs, "doc_id", "text", 0.5)
        val inc = col("doc_a") % 5 === 0 || col("doc_b") % 5 === 0
        graft.pipeline.CorpusWriter.writeClusters(
          DupClusters.connectedComponents(pairs.filter(!inc), "doc_a", "doc_b"),
          tbl, buckets = 32)
        graft.pipeline.CorpusWriter.updateClusters(s, tbl,
          pairs.filter(inc), "doc_a", "doc_b")
      }
      s.table(tbl).select(col("id").as("doc_id"), col("cluster"))
        .orderBy("doc_id")
    }),

    // Sample-trained k-means (r15): Lloyd's trains on the md5-gated
    // half of the corpus, the learned centroids assign the FULL corpus
    // — the 100 TB codebook discipline as an exercised, oracle-gated
    // path (the full-train q48 keeps its own registration).
    "q119_kmeans_sampled" -> ((s, sf) =>
      Clustering.kmeansSampled(Tables.load(s, sf, "embeddings"), "vec_id",
        "embedding", k = 8, rounds = 3, sampleFrac = 0.5)),

    // Sample-trained PQ encode (r15): q80's codes under codebooks each
    // trained on the md5-gated half per subspace — training passes
    // touch half the data, the encode pass is the same m zero-shuffle
    // full-corpus scans.
    "q120_pq_sampled" -> ((s, sf) =>
      ProductQuant.encodeSampled(Tables.load(s, sf, "embeddings"), "vec_id",
        "embedding", m = 8, k = 16, rounds = 2, dim = 64, sampleFrac = 0.5)),

    // MinHash + LSH-banded near-duplicate pairs (est. Jaccard ≥ 0.5).
    "q22_minhash_pairs" -> ((s, sf) =>
      MinHashDedup.nearDupPairs(Tables.load(s, sf, "documents"), "doc_id", "text", 0.5)),

    // Brute-force cosine top-10 against vec_id 0 — the ANN baseline.
    "q23_ann_topk" -> ((s, sf) =>
      Similarity.bruteForceTopK(Tables.load(s, sf, "embeddings"), "vec_id", "embedding",
        queryId = 0L, k = 10)),

    // SimHash signatures: the bitwise near-dup fingerprint family.
    "q25_simhash" -> ((s, sf) =>
      SimHash.signatures(Tables.load(s, sf, "documents"), "doc_id", "text")),

    // Hamming-ball near-dup pairs (r14): the WWW'07 simhash dedup —
    // equi-joins on 20 three-block key combinations find EVERY pair
    // within Hamming distance 3 (pigeonhole-exact recall, verified
    // in-cell), never an all-pairs scan. The oracle deliberately runs
    // the quadratic self-join this operator exists to avoid.
    "q97_hamming_pairs" -> ((s, sf) =>
      SimHash.hammingPairs(Tables.load(s, sf, "documents"), "doc_id", "text",
          width = SimHash.Bits)
        .orderBy("doc_a", "doc_b")),

    // Signature-group Hamming pairs (r14): q97's deployment-scale
    // product — distinct-signature pairs with member multiplicities
    // (the self row (s,s,0,m,m) stands for a group's C(m,2) identical
    // pairs), so cluster mass is readable without the quadratic
    // doc-pair expansion a replica-dense corpus forces on q97.
    "q99_hamming_sig_pairs" -> ((s, sf) => {
      GraftFunctions.register(s)
      SimHash.hammingSigPairs(
        SimHash.signatures(Tables.load(s, sf, "documents"), "doc_id", "text")
          .groupBy("simhash").agg(count(lit(1)).as("n")))
        .orderBy("sig_a", "sig_b")
    }),

    // Wide-fingerprint Hamming pairs (r14): q97 on the 62-bit
    // two-polynomial signature — combo keys carry ~31 signature bits
    // (2^15× the 32-bit key space), the concrete "widen the
    // fingerprint" answer to the hot-cell contract, and sharper:
    // 32-bit-collision pairs separate at 62 bits.
    "q101_hamming_wide" -> ((s, sf) =>
      SimHash.hammingPairsWide(Tables.load(s, sf, "documents"), "doc_id", "text")
        .orderBy("doc_a", "doc_b")),

    // MMR diverse exemplar selection (r14): per label, the 3 greedy
    // maximal-marginal-relevance picks (λ=1/2, inner-product form) on
    // the fixed-point lift — selection math is exact Long integers end
    // to end, so the oracle replays the greedy rounds as unrolled CTEs
    // with BIGINT comparisons and no float parity surface at all.
    "q100_mmr_select" -> ((s, sf) =>
      DiverseSelect.mmrSelect(Tables.load(s, sf, "embeddings"), "vec_id",
        "embedding", "label", k = 3)
        .orderBy("grp", "rank")),

    // Exact heavy hitters through a Misra–Gries gate (r14): word
    // bigrams above a 1/800 corpus-frequency threshold with EXACT
    // counts — the tail dies map-side in the per-partition sketch, so
    // the only term-keyed shuffle carries candidates, never the
    // vocabulary. The oracle runs the full-vocabulary shuffle.
    "q98_heavy_hitters" -> ((s, sf) =>
      HeavyHitters.heavyHitters(Tables.load(s, sf, "documents"), "text",
        k = 800)),

    // LSH-blocked TRUE n-gram Jaccard: banded candidates, exact verify.
    "q27_jaccard_pairs" -> ((s, sf) =>
      MinHashDedup.jaccardPairs(Tables.load(s, sf, "documents"), "doc_id", "text", 0.4)),

    // Per-language corpus statistics (token counts, quality signals).
    "q24_text_stats" -> ((s, sf) =>
      TextStats.corpusStats(Tables.load(s, sf, "documents"), "lang", "text", "n_chars")),

    // Multimodal feature extraction: documents' bytes stand in for opaque
    // media content (no media libs in the sandbox — decode is a
    // deterministic stub, the Dataset plumbing is real). The projected
    // scalar features (byte count, whole-content fingerprint) ARE
    // SQL-expressible, so even the mapPartitions path gets a full oracle;
    // embedding/frame outputs are exact-tested in MultimodalSpec.
    "q28_multimodal" -> ((s, sf) => {
      import graft.pipeline.Multimodal
      import s.implicits._
      val assets = Tables.load(s, sf, "documents")
        .select(col("doc_id").as("asset_id"),
          expr("element_at(array('image','audio','video'), cast(doc_id % 3 + 1 AS INT))").as("modality"),
          col("text").cast("binary").as("content"),
          lit(64).as("width"), lit(48).as("height"), lit(16000).as("sample_rate"))
        .as[Multimodal.MediaAsset]
      Multimodal.extract(assets).toDF()
        .select(col("asset_id"), col("modality"), col("n_bytes"), col("fingerprint"))
        .orderBy("asset_id")
    }),

    // Murmur2 known-answer sweep: the native kafka_partition expression
    // against the pure-SQL DuckDB rendering, over ~500 ARBITRARY keys
    // (document prefixes of varied length, 3/4 of them suffixed with 2-,
    // 3- and 4-byte Unicode code points) × varied partition counts — the
    // Scala-vs-DuckDB agreement property VERDICT r2 asked for, extended to
    // non-ASCII now the oracle walks true UTF-8 bytes (VERDICT r3 item 8).
    "q32_murmur2_kat" -> ((s, sf) => {
      GraftFunctions.register(s)
      Tables.load(s, sf, "documents")
        .selectExpr("doc_id",
          "concat(substring(text, 1, 1 + cast(doc_id % 29 AS INT)), " +
            "element_at(array('', 'é', '中文', '☃𝄞'), cast(doc_id % 4 + 1 AS INT))) AS key",
          "CAST(3 + doc_id % 61 AS INT) AS n")
        .selectExpr("doc_id", "key", "n", "kafka_partition(key, n) AS part")
        .orderBy("doc_id")
    }),

    // Per-doc heuristic language ID (3×stopwords + trigrams, argmax with
    // ties to the larger code) — KAT against the SQL rendering generated
    // from the same profile tables, so expression and oracle cannot drift.
    "q35_langid" -> ((s, sf) => {
      GraftFunctions.register(s)
      Tables.load(s, sf, "documents")
        .select(col("doc_id"), TextStats.langId(col("text")).as("lang_id"))
        .orderBy("doc_id")
    }),

    // End-to-end curation: quality filter (token count, punctuation
    // density) → detected-language filter → exact dedup (min doc_id per
    // identical text) → per-language corpus totals. The canonical
    // training-data flow; every stage is a shuffle-once hash agg or a
    // narrow scan, so the chain is the 100 TB shape (two shuffles total:
    // dedup, then stats on lang).
    //
    // The dedup shuffle is keyed on md5(text), NOT the text itself: at
    // corpus scale the raw text dominates the exchange (the 64× probe
    // shuffles ~300 MB of it; a crawl-scale corpus, terabytes), while the
    // fingerprint + the row-local scores it carries are ~90 bytes/row.
    // Grouping by a 128-bit fingerprint equals grouping by text absent
    // an md5 collision (odds ~2^-64 at any realistic corpus size — the
    // standard production trade for exact dedup); the oracle mirrors the
    // same md5 grouping, so the gate checks the shipped semantics.
    //
    // Expression placement is deliberate: the quality/language gate runs
    // straight off the scan, so rows drop BEFORE any text-derived column
    // is materialized; the projection then re-evaluates the native
    // single-pass scores only for SURVIVORS, and the dedup aggregate
    // takes min() over columns that are constant within a text group —
    // valid because every carried column is a pure function of `text`.
    "q36_curation" -> ((s, sf) => {
      GraftFunctions.register(s)
      val nTokens = TextStats.tokenCount(col("text")).cast("long")
      val kept = Tables.load(s, sf, "documents").filter(
        nTokens >= 5 &&
          TextStats.punctCount(col("text")).cast("long") * 2 <= nTokens &&
          TextStats.langId(col("text")) =!= "und")
      val dedup = kept
        .select(md5(col("text").cast("binary")).as("fp"), col("doc_id"),
          TextStats.langId(col("text")).as("lang_id"), nTokens.as("n_tokens"))
        .groupBy("fp")
        .agg(min("doc_id").as("doc_id"), min("lang_id").as("lang_id"),
          min("n_tokens").as("n_tokens"))
      dedup.groupBy("lang_id").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        min("doc_id").as("first_doc"))
        .orderBy("lang_id")
    }),

    // Blocked (IVF-style) all-pairs similarity: best pair per label cell.
    "q26_cos_top_pair" -> ((s, sf) =>
      Similarity.topPairPerGroup(Tables.load(s, sf, "embeddings"), "vec_id", "embedding", "label")),

    // Banded sign-LSH near-dup pairs over a corpus with TWO planted
    // families: every 97th vector gets an exact scaled copy (vec_id +
    // 10^6, emb × 1.5 — identical hyperplane signs, cosine 1; VERDICT r3
    // item 3), and every 43rd a PERTURBED copy (vec_id + 2×10^6,
    // element-wise ×31/32 / ×33/32 — cosine ≈ 0.9995 with a few sign
    // bits flipped, so recovery rides the band-OR, not signature
    // identity; VERDICT r5 item 6, flip asserted in PipelineSpec). Both
    // derivations are deterministic double arithmetic, reproduced
    // verbatim in the oracle.
    "q33_sign_lsh_pairs" -> ((s, sf) => {
      val base = Tables.load(s, sf, "embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
      val copies = base.filter(col("vec_id") % 97 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          expr("transform(emb, x -> x * CAST(1.5 AS DOUBLE))").as("emb"))
      val perturbed = base.filter(col("vec_id") % 43 === 0)
        .select((col("vec_id") + 2000000L).as("vec_id"),
          expr(Similarity.perturbExprSql("emb", EmbeddingDim, forDuck = false)).as("emb"))
      Similarity.bucketedNearDupPairs(base.unionAll(copies).unionAll(perturbed),
        "vec_id", "emb", EmbeddingDim, minCos = 0.999)
    }),

    // Duplicate-cluster resolution: connected components over the q22
    // near-dup pair graph (min-label propagation; O(diameter) rounds,
    // one edge-join shuffle per round). Pairs → clusters is the step
    // that lets a pipeline keep ONE canonical doc per duplicate group.
    "q37_dup_clusters" -> ((s, sf) => {
      val pairs = MinHashDedup.nearDupPairs(
        Tables.load(s, sf, "documents"), "doc_id", "text", 0.5)
      DupClusters.connectedComponents(pairs, "doc_a", "doc_b")
        .select(col("id").as("doc_id"), col("cluster"))
        .orderBy("doc_id")
    }),

    // Token-budget shard packing: greedy sequential fill into ~4096-token
    // training shards via the scalable two-pass prefix sum (never a
    // single-partition window).
    "q38_shard_pack" -> ((s, sf) => {
      GraftFunctions.register(s)
      ShardPack.assign(Tables.load(s, sf, "documents"), "doc_id",
        TextStats.tokenCount(col("text")), budget = 4096L)
        .orderBy("doc_id")
    }),

    // Deterministic stratified sample: 20 docs per language by md5 order,
    // map-side top-n pruning before the (tiny) ranking window.
    "q39_stratified_sample" -> ((s, sf) =>
      Sampling.stratified(Tables.load(s, sf, "documents"), "lang", "doc_id", 20)),

    // Batch ANN: exact cosine top-10 for FIVE query vectors in one corpus
    // pass — broadcast queries, map-side scoring, per-(partition, query)
    // bounded heaps before the (tiny) ranking window.
    "q41_ann_batch" -> ((s, sf) =>
      Similarity.batchTopK(Tables.load(s, sf, "embeddings"), "vec_id",
        "embedding", queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)),

    // Benchmark decontamination: training docs sharing a word 4-gram with
    // the held-out slice (doc_id % 97 = 0 stands in for an eval set) —
    // broadcast eval grams, map-side probe, one agg shuffle.
    "q42_decontam" -> ((s, sf) =>
      Decontam.overlapReport(Tables.load(s, sf, "documents"), "doc_id",
        "text", evalPred = col("doc_id") % 97 === 0, n = 4)),

    // Passage-level boilerplate removal: 8-token chunks occurring in ≥ 2
    // distinct docs drop; docs rebuild from surviving chunks in order.
    "q43_passage_dedup" -> ((s, sf) =>
      Passages.dedupPassages(Tables.load(s, sf, "documents"), "doc_id",
        "text", chunkTokens = 8, maxDocs = 2)),

    // Repeated-substring spans (r12): maximal token spans whose 8-token
    // windows each occur in ≥ 2 distinct docs — the exact-substring-dedup
    // report, localizing the duplicated run chunk-boundary-free where
    // q43 can only drop whole fixed chunks.
    "q69_repeated_spans" -> ((s, sf) =>
      RepeatedSpans.spans(Tables.load(s, sf, "documents"), "doc_id",
        "text", window = 8, minDocs = 2)),

    // Gopher-style quality flags: token-count bounds, mean-token-length
    // bounds, stopword presence → keep decision. Narrow scan, no shuffle.
    "q44_quality_flags" -> ((s, sf) =>
      TextStats.qualityFlags(Tables.load(s, sf, "documents"), "doc_id", "text")),

    // Fixed-context sequence manifest (r12): documents concatenated in
    // id order and cut into 512-token training sequences; one row per
    // (sequence, document) incidence with in-doc/in-seq offsets — the
    // packed-pretraining sample map. Straddling docs split across
    // sequences, unlike q38's never-split shards.
    "q70_sequence_pack" -> ((s, sf) => {
      GraftFunctions.register(s)
      // The orderBy is the conformance harness's deterministic listing
      // order (matching the oracle's ORDER BY), not part of the
      // operator — sequenceManifest itself never resorts the manifest.
      ShardPack.sequenceManifest(Tables.load(s, sf, "documents"), "doc_id",
        TextStats.tokenCount(col("text")), ctxLen = 512L)
        .orderBy("seq_id", "doc_id")
    }),

    // Bloom-filter decontamination (r14): the approximate-membership
    // variant of q42 — eval grams compressed to a 3-slice partitioned
    // Bloom filter (fixed 3·16 KiB regardless of eval size), per-doc
    // acceptance counts over the non-eval corpus. Same eval split as
    // q42 so the two reports triage the same partition.
    "q71_bloom_decontam" -> ((s, sf) =>
      BloomDecontam.bloomReport(Tables.load(s, sf, "documents"), "doc_id",
        "text", evalPred = col("doc_id") % 97 === 0, n = 4)),

    // Corpus-frequency quality score (r14): the self-trained unigram-LM
    // proxy — average corpus-wide occurrence count of each doc's tokens
    // (log-free ratio form; see TermCommonness scaladoc).
    "q72_term_commonness" -> ((s, sf) =>
      TermCommonness.score(Tables.load(s, sf, "documents"), "doc_id", "text")),

    // Corpus snapshot diff (r14): two versions derived deterministically
    // from the fixture — v1 drops doc_id % 17 == 3 (added in v2), v2
    // drops doc_id % 17 == 5 (removed), and doc_id % 13 == 0 carries an
    // edited text in v2 (changed). Report is change-sized; fingerprints,
    // not text, cross the join.
    "q76_corpus_diff" -> ((s, sf) => {
      GraftFunctions.register(s)
      val docs = Tables.load(s, sf, "documents")
      val v1 = docs.filter(col("doc_id") % 17 =!= 3)
      val v2 = docs.filter(col("doc_id") % 17 =!= 5)
        .withColumn("text", when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" edited"))).otherwise(col("text")))
      CorpusDiff.diff(v1, v2, "doc_id", "text")
    }),

    // Per-source duplication telemetry (r14): q37's clusters rolled up
    // by provenance — per source: docs, canonicalize-droppable dups,
    // cross-source copies (root in another source), dup rate.
    "q85_source_dup_report" -> ((s, sf) =>
      DupClusters.sourceDupReport(Tables.load(s, sf, "documents"),
        "doc_id", "source", "text", minSim = 0.5)),

    // BM25 retrieval (r14): the lexical-search seat — top-10 docs for a
    // mixed-rarity query, rational idf (the TfIdf log-free rule),
    // 2^20 fixed-point per-term scores summed exactly.
    "q89_bm25_topk" -> ((s, sf) =>
      Bm25.topK(Tables.load(s, sf, "documents"), "doc_id", "text",
        terms = Seq("dup", "vector", "scan"), k = 10)),

    // Postings-index takedown (r19): retire a third of the docs by a
    // subtract landing + compaction — BM25 must answer ≡ an index of
    // the remaining corpus, idf/avgdl renormalized through the netted
    // stats, so the oracle is q89's over the remaining-docs CTE.
    "q188_retired_bm25" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      val tbl = s"graft_q188_postings_${Tables.fixtureKey(sf, "documents")}"
      if (!s.catalog.tableExists(s"${tbl}_meta")) {
        Bm25.writePostingsIndex(docs, "doc_id", "text", tbl, buckets = 32)
        Bm25.retireFromPostingsIndex(docs.filter(col("doc_id") % 3 === 0),
          "doc_id", "text", tbl, src = "q188:takedown")
        Bm25.compactPostingsIndex(s, tbl)
      }
      Bm25.topKFromIndex(s, tbl, terms = Seq("dup", "vector", "scan"),
        k = 10)
    }),

    // Stored MRR meter (r19): q114's self-retrieval quality meter
    // answered from the q186 sidecar — the lexical analogue of q175's
    // index staleness: after landings and takedowns, does the SERVED
    // index still retrieve what it should? Queries derive from text
    // (bounded probe-side collect); every score reads stored folds.
    // Full-corpus index ⇒ the oracle IS q114's.
    "q190_stored_mrr" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      val tbl = ensurePostingsFixture(s, sf)
      Bm25.selfRetrievalMrrFromIndex(s, tbl, docs, "doc_id", "text")
    }),

    // Positional postings → exact phrase search (r20): the r19 verdict
    // named the bag-of-words index's one semantic gap — no positions,
    // no adjacency, the index-speed analogue of kbrowse's substring
    // grep left unserved. The sidecar stores one refcounted (term,
    // doc_id, pos) row per occurrence in TWO landings; the probe reads
    // the bucket-pruned term slices and matches by shifted-position
    // equi-joins — no text scan, no tokenization, O(deleted) takedowns
    // (spec-gated in PhraseIndexSpec). Oracle re-derives positions from
    // text, so the gate also proves the index isn't stale.
    "q191_phrase_search" -> ((s, sf) =>
      PhraseIndex.occurrencesFromIndex(s, ensurePhraseFixture(s, sf),
        Seq("hash", "agg"))),

    // Proximity search (r20): the q191 positional sidecar's other
    // consumer — per doc, occurrence pairs of two terms within a
    // position window (the "near" operator; one index, many
    // consumers, like q186/q187/q190 over the BM25 sidecar). The join
    // is doc_id-equi FIRST, so the range predicate only runs inside a
    // doc's own posting cells — per-doc envelope, never corpus-sized.
    "q193_proximity_search" -> ((s, sf) =>
      PhraseIndex.withinWindowFromIndex(s, ensurePhraseFixture(s, sf),
        "table", "scan", window = 4)),

    // Trigram-indexed REGEX search (r20): the reference's defining
    // operation — regex-grep the corpus (kbrowse search.clj:74-81
    // re-finds the pattern per record, a full scan per query) — at
    // index speed via the public codesearch design: a stored
    // character-trigram presence sidecar plus a conservative
    // pattern→required-literal-factor compiler; candidates = docs
    // holding every trigram of some branch's factors (provable
    // superset), rlike confirms on candidates only. The pattern
    // exercises classes, quantifiers, nested groups AND top-level
    // alternation; the index lands in TWO landings so a green gate
    // also proves landing freshness. The oracle scans text, so it
    // checks the nomination loses nothing.
    "q194_regex_search" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      RegexIndex.searchFromIndex(s, ensureRegexFixture(s, sf), docs,
        "doc_id", "text", "slow [a-z]+ join|fast (table|key) order")
    }),

    // Regex-index takedown (r20): the q194 sidecar with half the
    // corpus RETIRED — the subtract landing is O(deleted docs) and the
    // probe must stop nominating them from the commit on (the q188
    // discipline at trigram grain). The search deliberately runs over
    // the FULL corpus frame while the oracle covers the remaining half
    // only: a retired doc's text still rlike-matches, so a stale
    // nomination would surface as an extra row — the gate checks the
    // index's nominations, not the confirm filter's mercy.
    "q195_regex_takedown" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      val tbl = s"graft_q195_regex_${Tables.fixtureKey(sf, "documents")}"
      if (!s.catalog.tableExists(s"${tbl}_meta")) {
        RegexIndex.writeRegexIndex(docs, "doc_id", "text", tbl,
          buckets = 32)
        RegexIndex.retireFromRegexIndex(docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", tbl, src = "q195:odds")
      }
      RegexIndex.searchFromIndex(s, tbl, docs, "doc_id", "text",
        "vector window batch|customer data group")
    }),

    // Case-insensitive regex from the SAME case-folded sidecar (r20):
    // a leading (?i) flags the whole pattern in both engines; the
    // compiler strips it, nomination runs on folded trigrams, and the
    // rlike confirm keeps the flag — one index serves both probe
    // cases (the spec stresses mixed-case docs; this gate proves the
    // (?i) path against DuckDB's own (?i) semantics end-to-end).
    "q196_regex_nocase" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      RegexIndex.searchFromIndex(s, ensureRegexFixture(s, sf), docs,
        "doc_id", "text", "(?i)SLOW [a-z]+ JOIN|FAST (TABLE|KEY) ORDER")
    }),

    // Batched regex sweep (r20): N patterns against ONE index scan —
    // the |Q|-flat discipline (q190) at regex grain. A
    // takedown or PII sweep carries many patterns; N independent
    // probes would re-read the shared gram slices N times. One scan
    // restricted to the union of every pattern's trigrams
    // materializes once; per-(pattern, branch) candidate aggregates
    // and per-pattern literal-regex confirms all read that frame, and
    // a doc nominated by several patterns fetches its text once.
    "q198_regex_batch" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      RegexIndex.searchManyFromIndex(s, ensureRegexFixture(s, sf), docs,
        "doc_id", "text", BatchPatterns)
    }),

    // Index + doc-store pair (r20): the codesearch deployment shape.
    // searchFromIndex's confirm over an arbitrary corpus frame reads
    // every text byte (a semi-join can't prune a scan) — here the
    // candidates collect under a loud bound and fetch from a
    // doc_id-sorted STORE with a literal predicate the parquet footers
    // prune by, so the whole probe (nominate + fetch + confirm) is
    // candidate-sized. Same answer as q194 (the oracle is q194's);
    // both sidecars land in two landings.
    "q199_regex_store" -> ((s, sf) => {
      val idx = ensureRegexFixture(s, sf)
      val store = s"graft_q199_store_${Tables.fixtureKey(sf, "documents")}"
      if (!s.catalog.tableExists(s"${store}_meta")) {
        val docs = Tables.load(s, sf, "documents")
        RegexIndex.writeDocStore(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", store, buckets = 32)
        RegexIndex.appendToDocStore(docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", store, src = "q199:odds")
      }
      RegexIndex.searchFromStore(s, idx, store,
        "slow [a-z]+ join|fast (table|key) order")
    }),

    // Conjunctive regex search (r20): the reference's own /search
    // semantics — its value-regex list is conjunctive (every compiled
    // pattern must re-find, search.clj:74-81). Candidate sets
    // INTERSECT, so each analyzable pattern shrinks the fetch; the
    // second pattern here is deliberately UNANALYZABLE (group claims
    // nothing, no factor >= 3) — in a conjunction it can only remove
    // matches, so it rides the confirm while the first pattern
    // nominates. The batch (union) form has the opposite contract.
    "q200_regex_conjunctive" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      RegexIndex.searchAllFromIndex(s, ensureRegexFixture(s, sf), docs,
        "doc_id", "text", ConjunctivePatterns)
    }),

    // Index-targeted scrub (r20): the PII/takedown REWRITE consumer of
    // the trigram sidecar — every doc flows through, but the regex
    // evaluates only on nominated docs (sound by the superset theorem:
    // a non-candidate cannot contain a match, so skipping it IS the
    // identity). The oracle rewrites EVERY doc, so equality proves the
    // skipped docs truly had nothing to replace.
    "q201_regex_scrub" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      RegexIndex.scrubFromIndex(s, ensureRegexFixture(s, sf), docs,
        "doc_id", "text", "slow [a-z]+ join", "[SCRUBBED]")
    }),

    // Centroid-drift meter (r20): the failure mode staleness can't see
    // — membership fully landed, but the DATA under a cell moved, so
    // the stored centroid no longer sits at its members' mean and
    // every probe's cell selection degrades. The meter assigns the
    // current corpus under the FROZEN stored centroids (one argmax
    // scan), takes the exact Lloyd per-cell fx means (O(k×dim) driver
    // metadata), and reports |c−m|²/|c|² per populated cell through
    // the decomposed dot identity so the double is oracle-exact.
    // CorpusWriter.recenterDriftedIvfCells consumes it (spec-gated in
    // LandedIvfSpec: recenter + re-land never degrades quantization).
    "q192_centroid_drift" -> ((s, sf) => {
      import s.implicits._
      val emb = Tables.load(s, sf, "embeddings")
      val tbl = s"graft_q192_ivf_${Tables.fixtureKey(sf, "embeddings")}"
      if (!s.catalog.tableExists(s"${tbl}_meta"))
        graft.pipeline.CorpusWriter.writeIvfIndex(
          emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
          tbl, k = 8, rounds = 2)
      val current = emb.select(col("vec_id"),
        when(col("vec_id") % 5 === 0,
          expr("transform(embedding, v -> CAST(v AS DOUBLE) + 0.25D)"))
          .otherwise(expr("transform(embedding, v -> CAST(v AS DOUBLE))"))
          .as("embedding"))
      graft.pipeline.CorpusWriter.ivfCentroidDrift(s, tbl, current,
          "vec_id", "embedding")
        .toDF("cell", "n_members", "drift")
    }),

    // Stored TF-IDF (r19): q51's keyword extraction answered from the
    // SAME postings sidecar q186 probes — the "one index, many
    // consumers" argument for persisting postings. No text scan; the
    // (doc, term, tf) aggregate is the bucket-local live fold; N is the
    // netted live-doc count (what the index holds — ≡ q51's N when no
    // empty docs exist, stated relationally in the oracle).
    "q187_stored_tfidf" -> ((s, sf) =>
      TfIdf.topTermsFromIndex(s, ensurePostingsFixture(s, sf), topN = 3)),

    // Stored inverted index (r19): q89 answered from a PERSISTED
    // postings sidecar built in TWO landings (the retire path is
    // spec-gated in Bm25IndexSpec). The probe reads the term-restricted
    // bucketed postings + the slim lens fold — NO text scan, no
    // tokenization — bit-equal to the in-session q89 over the landed
    // corpus, so the oracle IS q89's.
    "q186_landed_bm25" -> ((s, sf) =>
      Bm25.topKFromIndex(s, ensurePostingsFixture(s, sf),
        terms = Seq("dup", "vector", "scan"), k = 10)),

    // Hard-negative mining (r14): q41's broadcast-scan shape with the
    // label-exclusion that turns ANN into contrastive-training prep —
    // top-10 most-similar DIFFERENT-label vectors per query.
    "q90_hard_negatives" -> ((s, sf) =>
      Similarity.hardNegatives(Tables.load(s, sf, "embeddings"), "vec_id",
        "embedding", "label", queryIds = Seq(0L, 1L, 2L, 3L), k = 10)),

    // Per-source template report (r14): q43's passage frequency scoped
    // WITHIN source with a relative threshold — the site-level
    // boilerplate signal a corpus-wide absolute bar never sees.
    "q91_source_boilerplate" -> ((s, sf) =>
      Boilerplate.sourceTemplateReport(Tables.load(s, sf, "documents"),
        "doc_id", "text", "source", chunkTokens = 8, minDocs = 2, pct = 8)),

    // Template scrub (r16): the rewrite q91's report feeds — template
    // chunks removed, survivors rejoined in document order, and a
    // fully-templated doc survives with empty text (policies decide
    // drops, the scrub never does).
    "q151_template_scrub" -> ((s, sf) =>
      Boilerplate.scrubTemplates(Tables.load(s, sf, "documents"),
        "doc_id", "text", "source", chunkTokens = 8, minDocs = 2, pct = 8)),

    // Radix-selection percentiles (r14): q53's exact report computed
    // with ZERO sorts and ZERO data shuffles — fixed-count scan+agg
    // passes narrow each rank's value prefix; same oracle as q53.
    "q96_radix_percentiles" -> ((s, sf) =>
      graft.ops.ScalableQuantiles.orderStatistics(
          Tables.load(s, sf, "documents"), "lang", "n_chars",
          CorpusStats.Percentiles)
        .withColumnRenamed("total", "total_chars")),

    // Count-min commonness (r14): q72's signal through a FIXED-SIZE
    // sketch — 384 KiB of counters replace the corpus-growing
    // vocabulary join; scoring is one join-free map-side scan;
    // estimates only overcount (the CMS guarantee).
    "q94_cms_commonness" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      CountMin.commonnessReport(docs, "doc_id", "text",
        CountMin.buildSketch(docs, "text"))
    }),

    // Eval-integrity report (r14): the REVERSE of q42/q84 — per eval
    // doc, how much of it the corpus already contains (grams leaked,
    // sharing corpus docs, leaked fraction); the audit run before
    // trusting a benchmark number.
    "q93_eval_leak" -> ((s, sf) =>
      Decontam.evalLeakReport(Tables.load(s, sf, "documents"), "doc_id",
        "text", evalPred = col("doc_id") % 97 === 0, n = 4)),

    // Packed-filter Bloom sweep (r14): q71's report through the
    // DEPLOYMENT probe — the 48 KiB filter built once, riding the plan
    // as three literal bit arrays; one scan, one aggregate, zero joins.
    // Same rows as q71 (bit-identical probes), different execution path.
    "q92_packed_bloom" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      val packed = BloomDecontam.packedFilter(
        docs.filter(col("doc_id") % 97 === 0), "text", n = 4)
      BloomDecontam.bloomReportWith(
        docs.filter(!(col("doc_id") % 97 === 0)), "doc_id", "text", n = 4,
        packed)
    }),

    // Bigram LM scoring (r14): self-trained conditional-probability
    // quality score — q72's unigram commonness made order-aware; the
    // KenLM-perplexity seat, log-free via 2^20 fixed-point conditionals.
    "q88_bigram_lm" -> ((s, sf) =>
      BigramModel.score(Tables.load(s, sf, "documents"), "doc_id", "text")),

    // Contamination fraction (r14): q42's check in the form policies
    // consume — per non-eval doc, what FRACTION of its distinct 4-grams
    // the eval set contains, plus the 5% drop flag; same modulus split.
    "q84_overlap_fraction" -> ((s, sf) =>
      Decontam.overlapFraction(Tables.load(s, sf, "documents"), "doc_id",
        "text", evalPred = col("doc_id") % 97 === 0, n = 4, tau = 0.05)),

    // Snapshot landing (r14): q76's diff COMPOSED with q56's admission —
    // stale index rows (removed/changed) retire, then exactly the
    // added∪changed slice admits against the surviving corpus; same v1/v2
    // fixture derivation as q76.
    "q83_snapshot_landing" -> ((s, sf) => {
      GraftFunctions.register(s)
      val docs = Tables.load(s, sf, "documents")
      val v1 = docs.filter(col("doc_id") % 17 =!= 3)
      val v2 = docs.filter(col("doc_id") % 17 =!= 5)
        .withColumn("text", when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" edited"))).otherwise(col("text")))
      SnapshotLanding.landingAdmissions(v1, v2, "doc_id", "text", minSim = 0.5)
    }),

    // Span-scrubbed corpus (r14): q69's removal spans APPLIED — tokens
    // inside any corpus-repeated span are cut, the rewrite q40/q43 are
    // for their respective dedup reports.
    "q75_span_scrub" -> ((s, sf) => {
      GraftFunctions.register(s)
      RepeatedSpans.scrub(Tables.load(s, sf, "documents"), "doc_id",
        "text", window = 8, minDocs = 2)
    }),

    // Token-budget mixture (r14): draw each language's md5-ordered
    // prefix whose TOKEN total fits its budget — recipe units are
    // tokens, not document counts (contrast q57/q61/q64); es/zh are
    // deliberately unlisted and draw zero.
    "q74_token_budget_mix" -> ((s, sf) => {
      GraftFunctions.register(s)
      Sampling.tokenBudgetMix(Tables.load(s, sf, "documents"), "lang",
        "doc_id", TextStats.tokenCount(col("text")),
        budgets = Map("en" -> 5000L, "de" -> 2000L, "fr" -> 2000L))
    }),

    // Semantic decontamination (r14): embedding-space eval overlap — the
    // similarity-side complement of q42/q71's exact n-gram checks
    // (paraphrases share few n-grams but stay close in embedding space).
    // Same modulus split as the text decontam pair.
    "q73_semantic_decontam" -> ((s, sf) =>
      Similarity.semanticDecontam(Tables.load(s, sf, "embeddings"), "vec_id",
        "embedding", evalPred = col("vec_id") % 97 === 0, tau = 0.35)),

    // Trained quality classifier (r14): 4 batch-perceptron rounds on
    // integer text features against an en-vs-rest label, corpus scored
    // under the learned weights — training itself is the oracle-gated
    // op (integer updates, bit-reproducible; see QualityClassifier).
    "q77_perceptron_quality" -> ((s, sf) =>
      QualityClassifier.trainAndScore(Tables.load(s, sf, "documents"),
        "doc_id", "lang", "text", "n_chars", posLang = "en", rounds = 4)),

    // KMV-sketched source similarity (r14): every source pair's Jaccard
    // estimated from fixed k=128 minimum-value sketches over word
    // 3-gram fingerprints — the bounded-memory companion to q58's exact
    // shared-gram matrix (same gram stream, no corpus-wide distinct).
    "q78_kmv_source_sim" -> ((s, sf) =>
      CorpusStats.kmvSourceSimilarity(Tables.load(s, sf, "documents"),
        "source", "text", n = 3, k = 128)),

    // Product quantization (r14): each 64-dim embedding compressed to 8
    // subspace codes via per-subspace deterministic Lloyd's — the
    // byte-compression half of the ANN family (q50 IVF cuts the scan;
    // PQ cuts the bytes).
    "q80_pq_encode" -> ((s, sf) =>
      ProductQuant.encode(Tables.load(s, sf, "embeddings"), "vec_id",
        "embedding", m = 8, k = 16, rounds = 2, dim = 64)),

    // PQ asymmetric-distance retrieval (r14): per-query LUT of subspace
    // partial dots, corpus scored over CODES only (no vector math in the
    // scan), bounded-heap top-10.
    "q81_pq_adc_topk" -> ((s, sf) =>
      ProductQuant.adcTopK(Tables.load(s, sf, "embeddings"), "vec_id",
        "embedding", queryIds = Seq(0L, 1L, 2L), m = 8, k = 16, rounds = 2,
        dim = 64, topK = 10)),

    // Composed IVF-PQ retrieval (r14): the production ANN shape — q50's
    // coarse cells gate the scan, q81's ADC scores only the probed
    // cells' codes (IVFADC without residual refinement).
    "q86_ivf_pq_topk" -> ((s, sf) =>
      ProductQuant.ivfAdcTopK(Tables.load(s, sf, "embeddings"), "vec_id",
        "embedding", queryIds = Seq(0L, 1L, 2L), kCoarse = 8,
        coarseRounds = 2, m = 8, k = 16, pqRounds = 2, dim = 64,
        nprobe = 3, topK = 10)),

    // Landed residual IVF-PQ (r19): q181 answered from a STORED
    // residual-encoded sidecar (member table carries residual codes,
    // meta enc=residual refuses the raw probe) — training on the full
    // corpus, so the oracle IS q181's in-session replay.
    "q183_landed_residual" -> ((s, sf) => {
      val emb = Tables.load(s, sf, "embeddings")
      val tbl = s"graft_q183_rivfpq_${Tables.fixtureKey(sf, "embeddings")}"
      if (!s.catalog.tableExists(s"${tbl}_meta")) {
        graft.pipeline.CorpusWriter.writeResidualIvfPqIndex(
          emb, "vec_id", "embedding", tbl, kCoarse = 8, coarseRounds = 2,
          m = 8, k = 16, pqRounds = 2, dim = 64)
      }
      ProductQuant.residualIvfAdcTopKFromIndex(s, tbl,
        emb.filter(col("vec_id").isin(0L, 1L, 2L)), "vec_id", "embedding",
        nprobe = 3, topK = 10)
    }),

    // Residual IVF-PQ (r19): q86 with the codebooks trained on
    // vec − coarse_centroid residuals (IVFADC's standard refinement) —
    // the same m·k budget spent on what the coarse quantizer did NOT
    // explain; score = ⟨q, c_cell⟩ + the residual LUT fold.
    "q181_residual_ivfpq" -> ((s, sf) =>
      ProductQuant.residualIvfAdcTopK(Tables.load(s, sf, "embeddings"),
        "vec_id", "embedding", queryIds = Seq(0L, 1L, 2L), kCoarse = 8,
        coarseRounds = 2, m = 8, k = 16, pqRounds = 2, dim = 64,
        nprobe = 3, topK = 10)),

    // ANN recall evaluation (r14): per query, how many exact
    // lifted-dot top-10 neighbors the composed IVF-PQ (q86 settings)
    // recovers — the measure-don't-guess op for tuning nprobe/m/k.
    "q87_ann_recall" -> ((s, sf) =>
      ProductQuant.annRecall(Tables.load(s, sf, "embeddings"), "vec_id",
        "embedding", queryIds = Seq(0L, 1L, 2L), kCoarse = 8,
        coarseRounds = 2, m = 8, k = 16, pqRounds = 2, dim = 64,
        nprobe = 3, topK = 10)),

    // Two-stage refined retrieval (r16): q86's IVF-PQ ADC pass
    // shortlists 30 candidates per query, one broadcast gather
    // re-scores only those with the exact lifted dot and re-ranks to
    // top-10 — quantization error picks the shortlist, never the
    // final order (IVFADC+R minus the residual codebooks).
    "q150_adc_rerank" -> ((s, sf) =>
      ProductQuant.ivfAdcRerankTopK(Tables.load(s, sf, "embeddings"),
        "vec_id", "embedding", queryIds = Seq(0L, 1L, 2L), kCoarse = 8,
        coarseRounds = 2, m = 8, k = 16, pqRounds = 2, dim = 64,
        nprobe = 3, shortlist = 30, topK = 10)),

    // Signed random projection (r14): JL reduction 64→16 dims through
    // the q33 sign-matrix LCG — exact integer sums in the lifted domain,
    // one codegen'd scan, zero shuffle.
    "q82_jl_projection" -> ((s, sf) =>
      Projection.project(Tables.load(s, sf, "embeddings"), "vec_id",
        "embedding", dim = 64, outDim = 16)),

    // Vocabulary + OOV coverage (r14): fix the top-512 corpus word
    // vocabulary (count desc, term asc — deterministic boundary) and
    // report each doc's out-of-vocabulary token rate, the tokenizer-prep
    // coverage signal.
    "q79_vocab_oov" -> ((s, sf) =>
      Vocabulary.oovReport(Tables.load(s, sf, "documents"), "doc_id",
        "text", v = 512)),

    // Deterministic epoch-3 reshuffle into 16 shards: shard + in-shard
    // position are pure functions of (epoch, doc_id) — md5 is the draw.
    "q45_epoch_shuffle" -> ((s, sf) =>
      EpochShuffle.assign(Tables.load(s, sf, "documents"), "doc_id",
        epoch = 3, numShards = 16)),

    // Gopher-style within-document repetition: fraction of word 3-grams
    // repeating an earlier gram of the same doc → keep decision. Narrow
    // fingerprint scan, zero shuffle.
    "q46_repetition" -> ((s, sf) =>
      TextStats.repetitionStats(Tables.load(s, sf, "documents"), "doc_id", "text")),

    // PII scrubbing KAT: emails/phones/IPs/CCNs planted deterministically
    // (the fixture text has none — the derived column makes every
    // redaction path actually fire), counts + redacted-bytes fingerprint
    // checked. Variant 5 includes a mid-run IP start (999.1234.5.6.7 →
    // 999.1<IP>); variant 6 a Luhn-valid CCN next to a Luhn-invalid one.
    "q47_pii_scrub" -> ((s, sf) => {
      GraftFunctions.register(s)
      val planted = Tables.load(s, sf, "documents").selectExpr("doc_id",
        "concat(text, element_at(array('', ' contact bob.smith@example.com today', " +
          "' call +1-555-0142 now', ' mail a.b@mail.org or dial +1-555-09', " +
          "' from 10.0.12.255 and 999.1234.5.6.7', " +
          "' card 4111111111111111 not 4111111111111112 or 1.2.3.4'), " +
          "cast(doc_id % 6 + 1 AS INT))) AS t")
      TextStats.piiScrub(planted, "doc_id", "t")
    }),

    // Deterministic k-means over the embeddings (k=8, 3 assignment
    // rounds): the fixed-point lift makes centroid sums exact integer
    // arithmetic — partition-order-independent on a cluster AND
    // bit-reproducible by the DuckDB oracle's unrolled-CTE replay
    // (assignments + scores, no float tolerance). Also the IVF training
    // path: the learned centroids are the coarse cells q26 blocks by.
    "q48_kmeans" -> ((s, sf) =>
      Clustering.kmeans(Tables.load(s, sf, "embeddings"), "vec_id",
        "embedding", k = 8, rounds = 3)),

    // Semantic dedup (the SemDeDup shape): k-means partitions the
    // corpus, exact cosine runs only within a cluster, greedy-by-id drop
    // at cos ≥ 0.9. Every 53rd vector gets a planted perturbed near-dup
    // (cosine ≈ 0.9995 — q33's second family), far above the corpus's
    // natural max pairwise cosine (≈ 0.51 at sf0.01), so the drops are
    // exactly the planted copies when they co-cluster with their source.
    "q49_semantic_dedup" -> ((s, sf) => {
      val base = Tables.load(s, sf, "embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
      val planted = base.filter(col("vec_id") % 53 === 0)
        .select((col("vec_id") + 3000000L).as("vec_id"),
          expr(Similarity.perturbExprSql("emb", EmbeddingDim, forDuck = false)).as("emb"))
      Clustering.semanticDedup(base.unionAll(planted), "vec_id", "emb",
        k = 8, rounds = 3, minCos = 0.9)
    }),

    // IVF ANN retrieval: the learned q48 centroids become the coarse
    // cells; each query probes its nprobe=2 best cells and exact cosine
    // ranks only those cells' members — the scale path over q41's
    // full-corpus batch scan (and bit-identical to it at nprobe=k,
    // ClusteringSpec-pinned). Same query batch as q41.
    "q50_ivf_ann" -> ((s, sf) =>
      Clustering.ivfTopK(Tables.load(s, sf, "embeddings"), "vec_id",
        "embedding", queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 8,
        rounds = 3, nprobe = 2, topK = 10)),

    // Per-doc keyword extraction: top-3 terms by the log-free TF-IDF
    // shape (tf × (N+1)/(df+1) — two IEEE ops, bit-exact vs the oracle;
    // see TfIdf's scaladoc for why ln is unverifiable across engines).
    "q51_tfidf" -> ((s, sf) =>
      TfIdf.topTerms(Tables.load(s, sf, "documents"), "doc_id", "text",
        topN = 3)),

    // DSIR-shape importance scoring: every non-English doc scored by
    // fixed-point likelihood-ratio affinity to the English slice's
    // hashed-unigram distribution (pure integer sums — see Importance).
    "q54_importance" -> ((s, sf) =>
      Importance.affinityScores(Tables.load(s, sf, "documents"),
        "doc_id", "text", col("lang") === "en")),

    // Importance-based selection: the 20 highest-affinity docs per
    // language vs the English target — the DSIR end product, via the
    // Sampling-style bounded-heap rank (never a corpus-wide window).
    "q55_importance_select" -> ((s, sf) =>
      Importance.selectTop(Tables.load(s, sf, "documents"),
        "doc_id", "text", "lang", col("lang") === "en", n = 20)),

    // Corpus telemetry: per-language doc counts, total chars, and EXACT
    // length percentiles as order statistics (no interpolation — every
    // reported value exists in the data, so parity is integer-exact).
    "q53_corpus_stats" -> ((s, sf) =>
      CorpusStats.lengthReport(Tables.load(s, sf, "documents"),
        "lang", "n_chars")),

    // Ingest dedup, batch-replay form: lowest doc id per content
    // fingerprint + duplicate count. The streaming first-occurrence
    // filter (flatMapGroupsWithState, Append) is pinned equal across
    // micro-batch splits in StreamDedupSpec FOR ID-ORDERED ARRIVAL
    // (streaming keeps the first-SEEN id, which equals batch's min
    // only when ids arrive ascending — the StreamDedup scaladoc's
    // arrival-order caveat) — q29's batch/streaming pairing applied
    // to the dedup family.
    "q52_ingest_dedup" -> ((s, sf) =>
      graft.streaming.StreamDedup.batch(Tables.load(s, sf, "documents"),
        "doc_id", "text")),

    // The deduplicated corpus: clusters' minimum doc survives, other
    // members drop via a broadcast anti-join — the end product of the
    // pair→cluster→canonicalize dedup chain.
    "q40_canonical_corpus" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      val pairs = MinHashDedup.nearDupPairs(docs, "doc_id", "text", 0.5)
      DupClusters.canonicalize(docs, "doc_id", pairs, "doc_a", "doc_b")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // Incremental admission: every 5th doc arrives as the NEW increment,
    // the rest are the existing canonical corpus — dedup the increment
    // (exact fp + banded near) against the corpus sidecar and its own
    // lower-id siblings, never corpus×corpus.
    "q56_incremental_dedup" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      IncrementalDedup.admissions(
        IncrementalDedup.index(docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text"),
        docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", minSim = 0.5)
    }),

    // Temperature-scaled mixture (T = 2): rebalance the corpus draw so
    // stratum shares follow √n instead of n — rare languages upweighted,
    // the dominant one capped — with integer-exact quotas and the md5
    // deterministic draw.
    "q57_temperature_mix" -> ((s, sf) =>
      Sampling.temperatureMix(Tables.load(s, sf, "documents"), "lang", "doc_id", 120L)),

    // Cross-source content overlap matrix: distinct shared word 3-grams
    // per source pair — fingerprints only across the plan, pairs emitted
    // array-side from each gram's source set (never an fp-keyed
    // self-join that squares hot grams through the shuffle).
    "q58_overlap_matrix" -> ((s, sf) =>
      CorpusStats.overlapMatrix(Tables.load(s, sf, "documents"),
        "source", "text", n = 3)),

    // Leakage-safe split: every doc takes its near-dup cluster root's
    // md5 draw, so duplicates never straddle the train/val boundary —
    // the group-aware split a row-wise random split gets wrong on
    // every duplicated document.
    "q59_group_split" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      val pairs = MinHashDedup.nearDupPairs(docs, "doc_id", "text", 0.5)
      DupClusters.groupSplit(docs, "doc_id", pairs, "doc_a", "doc_b",
        valFrac = 0.1)
    }),

    // Asymmetric containment over the LSH candidates: |A∩B|/min(|A|,|B|)
    // with both set sizes — flags quote inclusion / subsumption that
    // symmetric Jaccard under-reports as the size ratio grows.
    "q60_containment" -> ((s, sf) =>
      MinHashDedup.containmentPairs(Tables.load(s, sf, "documents"),
        "doc_id", "text", 0.6)),

    // Explicit-recipe mixture: published integer weight parts (the
    // data-mixing end product) applied with saturation-capped integer
    // quotas and the md5 draw; 'zh' deliberately absent → draws zero.
    "q61_target_mix" -> ((s, sf) =>
      Sampling.targetMix(Tables.load(s, sf, "documents"), "lang", "doc_id",
        200L, TargetRecipe)),

    // Size-stratified containment: the subsumption candidate generator —
    // a universe-sampled (trailing-zero) inverted index over size strata
    // feeds the SAME exact-set verify as q60, recovering the
    // small-inside-large pairs symmetric banding structurally misses.
    "q62_containment_stratified" -> ((s, sf) =>
      MinHashDedup.stratifiedContainmentPairs(Tables.load(s, sf, "documents"),
        "doc_id", "text", 0.6)),

    // Waterfilled recipe mixture: q61's recipe with saturated strata's
    // shortfall REDISTRIBUTED across the unsaturated ones by recipe
    // share — K unrolled integer rounds, in-plan, no stratum on the
    // driver. Budget high enough that 'de'/'fr' saturate and cascade.
    "q64_waterfill_mix" -> ((s, sf) =>
      Sampling.waterfillMix(Tables.load(s, sf, "documents"), "lang", "doc_id",
        400L, TargetRecipe)),

    // Incremental containment: subsumption of the ingest increment
    // (every 5th doc, the q56 split) against the canonical corpus —
    // cross-side pairs only, never corpus×corpus; both directions of
    // containment through the stratified index's probe-level gate.
    "q65_incremental_containment" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      MinHashDedup.incrementalContainmentPairs(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0),
        "doc_id", "text", 0.6)
    }),

    // Quality-aware canonical corpus: each near-dup cluster keeps its
    // LONGEST member (n_chars, ties to smallest id) — the production
    // keep-policy, vs q40's keep-smallest-id.
    "q66_canonical_best" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      val pairs = MinHashDedup.nearDupPairs(docs, "doc_id", "text", 0.5)
      DupClusters.canonicalizeBest(docs, "doc_id", pairs, "doc_a", "doc_b",
        "n_chars")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // The stored-sidecar deployment shape of q65 (VERDICT r11 item 1):
    // the corpus's trailing-zero index is WRITTEN once per (session, sf)
    // — the corpus-landing artifact — and admission reads only the
    // bucketed tables plus the increment's own emission. Bit-equal to
    // q65 by the floorEmission superset→filter identity; the oracle IS
    // q65's oracle.
    "q67_sidecar_containment" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      val tbl = s"graft_q67_sidecar_${Tables.fixtureKey(sf, "documents")}"
      // Bucket count sizes to the corpus (the deployment knob scales
      // with data; 256 buckets over a fixture-scale corpus is 4×256
      // near-empty files whose open cost dominates the probe).
      if (!s.catalog.tableExists(s"${tbl}_meta"))
        graft.pipeline.CorpusWriter.writeStratifiedIndex(
          docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", tbl,
          buckets = 32)
      MinHashDedup.incrementalContainmentPairs(s, tbl,
        docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", 0.6,
        MinHashDedup.StrataSpan)
    }),

    // INCREMENTAL corpus landing (r12): the same admission against a
    // sidecar built in TWO landings — an initial write (residues 1, 2)
    // and an append (residues 3, 4). Per-document emissions make
    // write+append ≡ one write over the union, so this must be
    // bit-equal to q65/q67; the appended partitions keep the bucket
    // spec, so the reader's exchange-free aggregates hold.
    "q68_landed_containment" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      val tbl = s"graft_q68_landed_${Tables.fixtureKey(sf, "documents")}"
      if (!s.catalog.tableExists(s"${tbl}_meta")) {
        graft.pipeline.CorpusWriter.writeStratifiedIndex(
          docs.filter(col("doc_id") % 5 isin (1, 2)), "doc_id", "text",
          tbl, buckets = 32)
        graft.pipeline.CorpusWriter.appendToStratifiedIndex(
          docs.filter(col("doc_id") % 5 isin (3, 4)), "doc_id", "text", tbl)
      }
      MinHashDedup.incrementalContainmentPairs(s, tbl,
        docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", 0.6,
        MinHashDedup.StrataSpan)
    }),

    // COMPACTED sidecar (r15): the q68 landing regime taken to four
    // landings, then CorpusWriter.compactStratifiedIndex rewrites the
    // accumulated file-sets to one file per bucket under the same
    // bucket spec. Compaction is answer-INVISIBLE by contract, so this
    // must stay bit-equal to q65/q67/q68 — the same oracle a fourth
    // time: four code paths, one truth.
    "q121_compacted_containment" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      val tbl = s"graft_q121_compact_${Tables.fixtureKey(sf, "documents")}"
      if (!s.catalog.tableExists(s"${tbl}_meta")) {
        graft.pipeline.CorpusWriter.writeStratifiedIndex(
          docs.filter(col("doc_id") % 5 === 1), "doc_id", "text", tbl,
          buckets = 32)
        Seq(2, 3, 4).foreach(r =>
          graft.pipeline.CorpusWriter.appendToStratifiedIndex(
            docs.filter(col("doc_id") % 5 === r), "doc_id", "text", tbl))
        graft.pipeline.CorpusWriter.compactStratifiedIndex(s, tbl)
      }
      MinHashDedup.incrementalContainmentPairs(s, tbl,
        docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", 0.6,
        MinHashDedup.StrataSpan)
    }),

    // Normalization-robust exact dedup (r15): lowercase / collapse
    // punctuation+whitespace as the MATCHING key (Gopher/C4 lineage),
    // keep the min-id member per canonical class. The shuffle key is
    // md5(canonical) — 32 hex chars per doc whatever the text size.
    "q122_norm_dedup" -> ((s, sf) =>
      graft.pipeline.Normalize.dedupNormalized(
        Tables.load(s, sf, "documents"), "doc_id", "text")),

    // Per-source normalization telemetry (r15): how many copies exact
    // dedup misses that the canonical form collapses.
    "q123_norm_report" -> ((s, sf) =>
      graft.pipeline.Normalize.report(
        Tables.load(s, sf, "documents"), "source", "text")),

    // Sliding token-window chunking (r15): the retrieval/training
    // sequence grain — 32-token windows advancing by 16 (50% overlap),
    // stable (doc_id, chunk_idx) identity; one narrow explode scan,
    // no shuffle.
    "q124_chunks" -> ((s, sf) =>
      graft.pipeline.Chunker.chunks(
        Tables.load(s, sf, "documents"), "doc_id", "text",
        size = 32, stride = 16)),

    // Cross-document repeated-chunk telemetry (r15): full windows whose
    // canonical class appears in ≥ 2 distinct docs — what a retrieval
    // corpus should count before paying to embed boilerplate 40 times.
    "q125_repeated_chunks" -> ((s, sf) =>
      graft.pipeline.Chunker.repeatedChunks(
        Tables.load(s, sf, "documents"), "doc_id", "text",
        size = 32, stride = 16, minDocs = 2)),

    // Cluster-balanced subsample (r15): sample-trained k-means assigns
    // the corpus, then ≤ cap vectors survive per cluster under the q39
    // md5 draw — diversity rebalancing with no RNG and no corpus-wide
    // window (bounded-heap rank per cluster).
    "q126_cluster_balanced" -> ((s, sf) =>
      Clustering.clusterBalancedSample(
        Tables.load(s, sf, "embeddings"), "vec_id", "embedding",
        k = 8, rounds = 2, sampleFrac = 0.5, cap = 40)),

    // Chunk-grain BM25 (r15): q89's retrieval run over the q124 chunk
    // corpus — the RAG deployment shape (retrieval returns windows, not
    // documents); the packed (doc_id << 20 | chunk_idx) key makes the
    // composition a pure corpus swap, every BM25 plan shape unchanged.
    "q127_chunk_bm25" -> ((s, sf) =>
      Bm25.topK(
        graft.pipeline.Chunker.chunkCorpus(
          Tables.load(s, sf, "documents"), "doc_id", "text",
          size = 32, stride = 16),
        "doc_id", "text", terms = Seq("dup", "vector", "scan"), k = 10)),

    // Chunk-grain stored postings (r19): the q186 inverted index over
    // the CHUNKED corpus — retrieval-window search from a persisted
    // sidecar, proving the index machinery is grain-generic (the
    // packed chunk key rides through unchanged); no text scan, no
    // re-chunking at query time. Oracle IS q127's.
    "q189_chunk_postings_bm25" -> ((s, sf) => {
      val tbl = s"graft_q189_cpostings_${Tables.fixtureKey(sf, "documents")}"
      if (!s.catalog.tableExists(s"${tbl}_meta")) {
        Bm25.writePostingsIndex(
          graft.pipeline.Chunker.chunkCorpus(
            Tables.load(s, sf, "documents"), "doc_id", "text",
            size = 32, stride = 16),
          "doc_id", "text", tbl, buckets = 32)
      }
      Bm25.topKFromIndex(s, tbl, terms = Seq("dup", "vector", "scan"),
        k = 10)
    }),

    // Winnowing selection report (r15, SIGMOD'03/MOSS): per doc the
    // ~2/(w+1)-dense window-min fingerprint subset, witnessed by an
    // order-free xor fold so the oracle checks the selected SET.
    "q128_winnow_report" -> ((s, sf) =>
      graft.pipeline.Winnow.report(
        Tables.load(s, sf, "documents"), "doc_id", "text", n = 4, w = 4)),

    // Winnowed shared-fingerprint pairs (r15): the MOSS candidate
    // report — guaranteed to surface any shared run of ≥ n + w − 1
    // tokens, with boilerplate fingerprints (df > maxDf) excluded per
    // the published MOSS option. The oracle runs the quadratic
    // fp-self-join the array-side cell emission avoids.
    "q129_winnow_pairs" -> ((s, sf) =>
      graft.pipeline.Winnow.pairs(
        Tables.load(s, sf, "documents"), "doc_id", "text",
        n = 4, w = 4, minShared = 2)),

    // Winnow-grain benchmark decontamination (r15): q42's sweep at
    // ~2/(w+1) of the per-gram work, with the MOSS guarantee — any
    // eval↔corpus shared run of ≥ n + w − 1 tokens is caught because
    // both sides winnow under the same (n, w).
    "q130_winnow_decontam" -> ((s, sf) =>
      graft.pipeline.Winnow.decontam(
        Tables.load(s, sf, "documents"), "doc_id", "text",
        col("doc_id") % 97 === 0, n = 4, w = 4)),

    // Landed winnow-fingerprint admission (r15): the stored-sidecar
    // discipline (q110's gram index) at winnow grain — index written
    // from half the standing corpus, the other half APPENDED (so the
    // write+append ≡ write-union identity is exercised), the increment
    // probed exchange-free against the bucketed fp table.
    "q131_landed_winnow" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      val tbl = s"graft_q131_winidx_${Tables.fixtureKey(sf, "documents")}"
      val pred = col("doc_id") % 7 === 0
      if (!s.catalog.tableExists(s"${tbl}_meta")) {
        graft.pipeline.CorpusWriter.writeWinnowIndex(
          docs.filter(!pred && col("doc_id") % 2 === 0), "doc_id", "text",
          n = 4, w = 4, tbl, buckets = 32)
        graft.pipeline.CorpusWriter.appendToWinnowIndex(
          docs.filter(!pred && col("doc_id") % 2 === 1), "doc_id", "text",
          tbl, src = "q131:land2")
      }
      graft.pipeline.Winnow.admitAgainstIndex(s, tbl, docs.filter(pred),
        "doc_id", "text", n = 4, w = 4)
    }),

    // HyperLogLog distinct-token telemetry per source (r15): the sketch
    // family's cardinality corner — 256 integer registers per key, the
    // harmonic sum carried as an exact scaled integer, one shared IEEE
    // division, with the exact distinct count riding the same aggregate
    // as the audit column (registers partition the fp space).
    "q132_hll_distinct" -> ((s, sf) =>
      graft.pipeline.HyperLogLog.report(
        Tables.load(s, sf, "documents"), "text", "source", n = 3)),

    // Document-level collocation lift (r15): which vocab terms travel
    // together beyond what their document frequencies predict — exact
    // ppm fixed point (monotone with PMI, no transcendental), pairs
    // emitted array-side from each doc's ≤v-term cell.
    "q133_collocations" -> ((s, sf) =>
      graft.pipeline.Collocations.topPairs(
        Tables.load(s, sf, "documents"), "doc_id", "text",
        v = 64, minCount = 5, k = 100)),

    // Landed HLL registers (r15): the lightest sidecar in the family —
    // landings plainly APPEND batch registers (max is commutative +
    // idempotent, so duplicates are harmless and write+append ≡
    // write-union bit-exactly); the report never re-reads the corpus.
    "q135_landed_hll" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      val tbl = s"graft_q135_hllreg_${Tables.fixtureKey(sf, "documents")}"
      if (!s.catalog.tableExists(s"${tbl}_meta")) {
        graft.pipeline.CorpusWriter.writeHllRegisters(
          docs.filter(col("doc_id") % 2 === 0), "text", "source", tbl,
          n = 3)
        graft.pipeline.CorpusWriter.appendToHllRegisters(
          docs.filter(col("doc_id") % 2 === 1), "text", "source", tbl,
          landingTag = "q135:odds")
      }
      graft.pipeline.HyperLogLog.reportFromRegisters(s, tbl, "source",
        n = 3)
    }),

    // Curation funnel (r16): per-source attrition across langID →
    // quality → repetition → dedup-canonical — the pipeline
    // observability report, one counter-sized aggregation over
    // corpus-wide stage flags (first-failing-stage attribution).
    "q138_filter_funnel" -> ((s, sf) =>
      graft.pipeline.Funnel.curationFunnel(
        Tables.load(s, sf, "documents"), "doc_id", "text", "source")),

    // Landed IVF index (r16): the sidecar discipline applied to ANN
    // retrieval — centroids train once on the initial corpus
    // (even vec_ids), the odd half LANDS under the stored centroids,
    // and the probe reads only its nprobe cells' directories
    // (partition-pruned). Oracle replays split-trained k-means +
    // full-corpus assignment + probe.
    "q137_landed_ivf" -> ((s, sf) => {
      val emb = Tables.load(s, sf, "embeddings")
      val tbl = s"graft_q137_ivfidx_${Tables.fixtureKey(sf, "embeddings")}"
      val pred = col("vec_id") % 2 === 0
      if (!s.catalog.tableExists(s"${tbl}_meta")) {
        graft.pipeline.CorpusWriter.writeIvfIndex(
          emb.filter(pred), "vec_id", "embedding", tbl, k = 8, rounds = 3)
        graft.pipeline.CorpusWriter.appendToIvfIndex(
          emb.filter(!pred), "vec_id", "embedding", tbl)
      }
      graft.pipeline.Clustering.ivfTopKFromIndex(s, tbl,
        emb.filter(col("vec_id").isin(0L, 1L, 2L, 3L, 4L)),
        "vec_id", "embedding", nprobe = 2, topK = 10)
    }),

    // Landed IVF-PQ index (r16): q137's sidecar with the byte cut —
    // the member table stores m PQ codes per vector, not the
    // embedding; landings assign + encode under the STORED codebooks;
    // probes ADC-score only the pruned cells' code rows. The artifact
    // a 100 TB ANN store actually persists.
    "q140_landed_ivfpq" -> ((s, sf) => {
      val emb = Tables.load(s, sf, "embeddings")
      val tbl = s"graft_q140_ivfpq_${Tables.fixtureKey(sf, "embeddings")}"
      val pred = col("vec_id") % 2 === 0
      if (!s.catalog.tableExists(s"${tbl}_meta")) {
        graft.pipeline.CorpusWriter.writeIvfPqIndex(
          emb.filter(pred), "vec_id", "embedding", tbl, kCoarse = 8,
          coarseRounds = 2, m = 8, k = 16, pqRounds = 2,
          dim = EmbeddingDim)
        graft.pipeline.CorpusWriter.appendToIvfPqIndex(
          emb.filter(!pred), "vec_id", "embedding", tbl)
      }
      ProductQuant.ivfAdcTopKFromIndex(s, tbl,
        emb.filter(col("vec_id").isin(0L, 1L, 2L)),
        "vec_id", "embedding", nprobe = 3, topK = 10)
    }),

    // Paraphrase mining (r15): semantically near (sign-LSH + exact
    // cosine >= 0.999) but lexically far (3-gram Jaccard <= 0.5) —
    // what semantic dedup would remove that lexical dedup keeps. The
    // planted families make both bar sides live: same-text perturbed
    // dups (jac=1, excluded) and reversed-text perturbed paraphrases
    // (jac~0, kept).
    "q134_paraphrase_pairs" -> ((s, sf) => {
      graft.functions.GraftFunctions.register(s)
      val base = Tables.load(s, sf, "documents")
        .select(col("doc_id"), col("text"))
        .join(Tables.load(s, sf, "embeddings")
          .select(col("vec_id"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb")),
          col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("text"), col("emb"))
      val planted = base.filter(col("doc_id") % 31 === 0)
      val dup = planted.select((col("doc_id") + 1000000L).as("doc_id"),
        col("text"),
        expr(Similarity.perturbExprSql("emb", EmbeddingDim,
          forDuck = false)).as("emb"))
      val para = planted.select((col("doc_id") + 2000000L).as("doc_id"),
        expr("array_join(reverse(word_grams(text, 1)), ' ')").as("text"),
        expr(Similarity.perturbExprSql("emb", EmbeddingDim,
          forDuck = false)).as("emb"))
      graft.pipeline.Paraphrase.minePairs(
        base.unionAll(dup).unionAll(para), "doc_id", "text", "emb",
        EmbeddingDim, minCos = 0.999, maxJac = 0.5)
    }),

    // The dedup manifest: root + leakage-safe split + canonical flag per
    // document from ONE connected-components run — the composition the
    // separate q37/q59/q40 registrations pay the CC chain thrice for.
    "q63_dedup_manifest" -> ((s, sf) => {
      val docs = Tables.load(s, sf, "documents")
      val pairs = MinHashDedup.nearDupPairs(docs, "doc_id", "text", 0.5)
      DupClusters.dedupManifest(docs, "doc_id", pairs, "doc_a", "doc_b",
        valFrac = 0.1)
    })
  )

  /** The q61 recipe — shared with its oracle; 'zh' deliberately absent. */
  private val TargetRecipe: Map[String, Long] =
    Map("en" -> 30L, "de" -> 25L, "es" -> 25L, "fr" -> 20L)

  def oracle: Map[String, String] = Map(
    "q20_dedup_exact" ->
      s"""SELECT source, count(*) AS n_docs, count(DISTINCT text) AS n_unique,
         |  count(DISTINCT ${Duck.rollingHashSql("text")}) AS n_unique_fp
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q21_fingerprint" ->
      s"""SELECT doc_id, ${Duck.rollingHashSql("text")} AS fp,
         |  ${Duck.rollingHashSql("t_mb")} AS fp_mb
         |FROM (SELECT doc_id, text,
         |        text || (['', 'é', '中文', '☃𝄞'])[(doc_id % 4 + 1)::INT] AS t_mb
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "q102_bpe_merges" -> BpeMerges.oracleSql(rounds = 8),

    "q103_curriculum" -> Curriculum.oracleSql(buckets = 7),

    "q104_dedup_eval" -> DedupEval.oracleSql(labelMin = 0.3),

    "q105_source_drift" -> SourceDrift.oracleSql(v = 256),

    "q106_novelty" -> Novelty.oracleSql("doc_id % 7 = 0", n = 4),

    "q108_bpe_encode" -> BpeMerges.encodeOracleSql(rounds = 6),

    "q152_tokenizer_fertility" -> BpeMerges.fertilityOracleSql("lang",
      rounds = 6),

    // Salting must stay answer-invisible under a persisted profile:
    // the q146 oracle verbatim.
    "q153_stored_profile_join" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q154_trigram_backoff" ->
      TrigramModel.oracleSql("doc_id % 2 = 0", "doc_id % 2 = 1"),

    // Two landings must be invisible: q154's oracle verbatim.
    "q155_landed_lm" ->
      TrigramModel.oracleSql("doc_id % 2 = 0", "doc_id % 2 = 1"),

    "q156_sq8_topk" -> graft.pipeline.ScalarQuant.oracleSql(
      Seq(0L, 1L, 2L), dim = 64, topK = 10),

    // The stored merge table must be invisible: q108's oracle verbatim.
    "q164_stored_bpe" -> BpeMerges.encodeOracleSql(rounds = 6),

    "q165_landed_sq8" -> graft.pipeline.ScalarQuant.landedOracleSql(
      "vec_id % 2 = 0", Seq(0L, 1L, 2L), dim = 64, topK = 10),

    "q167_asset_dedup" -> graft.pipeline.Multimodal.assetDedupOracleSql,

    "q168_frame_overlap" ->
      graft.pipeline.Multimodal.frameOverlapOracleSql(minShared = 2),

    "q180_shifted_overlap" ->
      graft.pipeline.Multimodal.shiftTolerantOracleSql(minShared = 2),

    // Index = %20 base assets minus the %80=40 takedown slice.
    "q185_shifted_content_id" ->
      graft.pipeline.Multimodal.shiftContentIdOracleSql(
        "asset_id < 30000 AND asset_id % 20 = 0 " +
          "AND NOT (asset_id % 80 = 40)",
        "asset_id >= 30000", minShared = 2),

    "q169_asset_embedding_dedup" ->
      graft.pipeline.Multimodal.embeddingNearDupOracleSql(minCos = 0.9),

    "q173_whole_repeats" -> RepeatedSpans.wholeRepeatsOracleSql(
      window = 2, minDocs = 2, doublings = 3),

    // Tombstones must answer exactly like the applied retirement:
    // q171's write-on-remaining oracle verbatim.
    "q174_tombstoned_sq8" -> graft.pipeline.ScalarQuant.retiredOracleSql(
      "vec_id % 2 = 1", Seq(0L, 2L, 4L), dim = 64, topK = 10),

    "q178_content_id" -> graft.pipeline.Multimodal.contentIdOracleSql(
      "asset_id < 10000", "asset_id >= 10000", minShared = 2),

    // Takedown ≡ index-of-remaining: q178's oracle, even reference only.
    "q184_retired_content_id" -> graft.pipeline.Multimodal.contentIdOracleSql(
      "asset_id < 10000 AND asset_id % 2 = 0", "asset_id >= 10000",
      minShared = 2),

    "q175_index_staleness" -> ProductQuant.stalenessOracleSql(
      Seq(1L, 2L, 3L), kCoarse = 8, coarseRounds = 2, m = 8, k = 16,
      pqRounds = 2, dim = 64, nprobe = 3, topK = 10,
      memberPredSql = "vec_id % 2 = 0"),

    // Retirement gates (r17): each oracle is the write-on-remaining
    // replay — subtract/delete must be invisible against it.
    "q170_retired_lm" ->
      TrigramModel.oracleSql("doc_id % 4 = 0", "doc_id % 2 = 1"),

    "q171_retired_sq8" -> graft.pipeline.ScalarQuant.retiredOracleSql(
      "vec_id % 2 = 1", Seq(0L, 2L, 4L), dim = 64, topK = 10),

    "q172_retired_novelty" -> Novelty.oracleSql("doc_id % 7 = 0",
      "NOT (doc_id % 7 = 0) AND doc_id % 2 = 0", n = 4),

    "q179_retired_winnow" -> graft.pipeline.Winnow.admitOracleSql(
      "doc_id % 7 = 0", "NOT (doc_id % 7 = 0) AND doc_id % 2 = 0",
      n = 4, w = 4),

    "q110_landed_novelty" -> Novelty.oracleSql("doc_id % 7 = 0", n = 4),

    // Compaction must be answer-invisible: q110's oracle verbatim.
    "q182_compacted_novelty" -> Novelty.oracleSql("doc_id % 7 = 0", n = 4),

    "q114_bm25_mrr" -> Bm25.mrrOracleSql(),

    "q112_partitioned_read" ->
      """WITH keep AS (
        |  SELECT CAST(min(doc_id) AS BIGINT) AS doc_id
        |  FROM documents GROUP BY text)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars
        |FROM documents JOIN keep USING (doc_id)
        |WHERE lang = 'en' GROUP BY lang ORDER BY lang""".stripMargin,

    "q107_sidecar_novelty" -> Novelty.oracleSql("doc_id % 7 = 0", n = 4),

    "q22_minhash_pairs" -> MinHashDedup.oracleSql(0.5),

    "q25_simhash" -> SimHash.oracleSql,

    "q97_hamming_pairs" -> SimHash.hammingPairsOracleSql(),

    "q98_heavy_hitters" -> HeavyHitters.oracleSql(800),

    "q99_hamming_sig_pairs" -> SimHash.hammingSigPairsOracleSql(),

    "q100_mmr_select" -> DiverseSelect.oracleSql(k = 3, dim = EmbeddingDim),

    "q101_hamming_wide" -> SimHash.hammingPairsWideOracleSql(),

    "q27_jaccard_pairs" -> MinHashDedup.jaccardOracleSql(0.4),

    "q23_ann_topk" -> Similarity.topKOracleSql(0L, 10),

    "q24_text_stats" -> TextStats.corpusStatsOracleSql,

    "q35_langid" -> TextStats.langIdOracleSql,

    "q36_curation" -> TextStats.curationOracleSql,

    "q26_cos_top_pair" -> Similarity.topPairOracleSql,

    "q33_sign_lsh_pairs" -> Similarity.nearDupOracleSql(EmbeddingDim, 0.999,
      corpusSql = s"""(SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
        FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000, list_transform(embedding, x -> x::DOUBLE * (1.5)::DOUBLE)
        FROM embeddings WHERE vec_id % 97 = 0
        UNION ALL
        SELECT vec_id + 2000000,
          ${Similarity.perturbExprSql("list_transform(embedding, x -> x::DOUBLE)", EmbeddingDim, forDuck = true)}
        FROM embeddings WHERE vec_id % 43 = 0)"""),

    "q48_kmeans" -> Clustering.kmeansOracleSql(8, 3, EmbeddingDim),

    "q119_kmeans_sampled" ->
      Clustering.kmeansSampledOracleSql(8, 3, EmbeddingDim, 0.5),

    "q120_pq_sampled" -> ProductQuant.encodeSampledOracleSql(m = 8, k = 16,
      rounds = 2, dim = EmbeddingDim, sampleFrac = 0.5),

    "q50_ivf_ann" -> Clustering.ivfOracleSql(Seq(0L, 1L, 2L, 3L, 4L),
      k = 8, rounds = 3, dim = EmbeddingDim, nprobe = 2, topK = 10),

    "q51_tfidf" -> TfIdf.oracleSql(topN = 3),

    "q52_ingest_dedup" -> graft.streaming.StreamDedup.oracleSql,

    "q53_corpus_stats" -> CorpusStats.oracleSql,

    // Same exact order statistics, radix-selection execution path.
    "q96_radix_percentiles" -> CorpusStats.oracleSql,

    "q54_importance" -> Importance.oracleSql("lang = 'en'"),

    "q55_importance_select" -> Importance.selectOracleSql("lang = 'en'", n = 20),

    "q49_semantic_dedup" -> Clustering.semanticDedupOracleSql(8, 3,
      EmbeddingDim, 0.9,
      corpusSql = s"""(SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
        FROM embeddings
        UNION ALL
        SELECT vec_id + 3000000,
          ${Similarity.perturbExprSql("list_transform(embedding, x -> x::DOUBLE)", EmbeddingDim, forDuck = true)}
        FROM embeddings WHERE vec_id % 53 = 0)"""),

    "q32_murmur2_kat" ->
      s"""SELECT doc_id, "key", n, ${Duck.murmur2PartitionSql("\"key\"", "n")} AS part
         |FROM (SELECT doc_id,
         |        substr(text, 1, (1 + doc_id % 29)::INT)
         |          || (['', 'é', '中文', '☃𝄞'])[(doc_id % 4 + 1)::INT] AS "key",
         |        (3 + doc_id % 61)::INT AS n
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "q28_multimodal" ->
      s"""SELECT doc_id AS asset_id,
         |  (['image','audio','video'])[(doc_id % 3 + 1)::INT] AS modality,
         |  CAST(length(text) AS BIGINT) AS n_bytes,
         |  ${Duck.rollingHashSql("text")} AS fingerprint
         |FROM documents ORDER BY asset_id""".stripMargin,

    "q37_dup_clusters" -> DupClusters.clustersOracleSql(0.5),

    // q118 answers the SAME question as q37 through the stored cluster
    // sidecar + incremental landing — bit-equal by the contract-CC-
    // relabel identity, so the oracle IS q37's.
    "q118_incremental_clusters" -> DupClusters.clustersOracleSql(0.5),

    "q85_source_dup_report" -> DupClusters.sourceDupOracleSql(0.5),

    "q38_shard_pack" -> ShardPack.oracleSql(4096L),

    "q70_sequence_pack" -> ShardPack.sequenceOracleSql(512L),

    "q39_stratified_sample" -> Sampling.oracleSql(20),

    "q40_canonical_corpus" -> DupClusters.canonicalOracleSql(0.5),

    "q41_ann_batch" -> Similarity.batchTopKOracleSql(Seq(0L, 1L, 2L, 3L, 4L), 10),

    "q42_decontam" -> Decontam.oracleSql("doc_id % 97 = 0", n = 4),

    "q71_bloom_decontam" -> BloomDecontam.oracleSql("doc_id % 97 = 0", n = 4),

    "q84_overlap_fraction" -> Decontam.fractionOracleSql("doc_id % 97 = 0",
      n = 4, tau = 0.05),

    "q72_term_commonness" -> TermCommonness.oracleSql,

    "q88_bigram_lm" -> BigramModel.oracleSql,

    "q92_packed_bloom" -> BloomDecontam.oracleSql("doc_id % 97 = 0", n = 4),

    "q93_eval_leak" -> Decontam.leakOracleSql("doc_id % 97 = 0", n = 4),

    "q94_cms_commonness" -> CountMin.oracleSql,

    "q89_bm25_topk" -> Bm25.oracleSql(Seq("dup", "vector", "scan"), k = 10),

    // The stored postings sidecar must be invisible: q89's oracle
    // verbatim (write+append ≡ one corpus at the read folds).
    "q186_landed_bm25" -> Bm25.oracleSql(Seq("dup", "vector", "scan"),
      k = 10),

    "q187_stored_tfidf" -> TfIdf.storedOracleSql(topN = 3),

    // The stored index must be invisible to the meter: q114's oracle.
    "q190_stored_mrr" -> Bm25.mrrOracleSql(),
    "q191_phrase_search" -> PhraseIndex.oracleSql(Seq("hash", "agg")),

    "q194_regex_search" -> RegexIndex.oracleSql(
      "slow [a-z]+ join|fast (table|key) order"),

    "q195_regex_takedown" -> RegexIndex.oracleSql(
      "vector window batch|customer data group",
      corpusSql = "(SELECT * FROM documents WHERE doc_id % 2 = 0)"),

    "q196_regex_nocase" -> RegexIndex.oracleSql(
      "(?i)SLOW [a-z]+ JOIN|FAST (TABLE|KEY) ORDER"),

    "q198_regex_batch" -> RegexIndex.batchOracleSql(BatchPatterns),

    // The store path answers the same question as q194 — its oracle.
    "q199_regex_store" -> RegexIndex.oracleSql(
      "slow [a-z]+ join|fast (table|key) order"),

    "q200_regex_conjunctive" ->
      RegexIndex.conjunctiveOracleSql(ConjunctivePatterns),

    "q201_regex_scrub" -> RegexIndex.scrubOracleSql(
      "slow [a-z]+ join", "[SCRUBBED]"),
    "q193_proximity_search" -> PhraseIndex.windowOracleSql(
      "table", "scan", window = 4),
    "q192_centroid_drift" -> Clustering.centroidDriftOracleSql(
      k = 8, rounds = 2, dim = EmbeddingDim,
      trainPredSql = "vec_id % 2 = 0", driftPredSql = "vec_id % 5 = 0",
      delta = 0.25),

    // Takedown ≡ write-on-remaining: q89's oracle over the kept docs.
    "q188_retired_bm25" -> Bm25.oracleSql(Seq("dup", "vector", "scan"),
      k = 10,
      corpusSql = "(SELECT * FROM documents WHERE doc_id % 3 <> 0)"),

    "q90_hard_negatives" ->
      Similarity.hardNegativesOracleSql(Seq(0L, 1L, 2L, 3L), k = 10),

    "q91_source_boilerplate" -> Boilerplate.oracleSql(chunkTokens = 8,
      minDocs = 2, pct = 8),

    "q151_template_scrub" -> Boilerplate.scrubOracleSql(chunkTokens = 8,
      minDocs = 2, pct = 8),

    "q73_semantic_decontam" ->
      Similarity.semanticDecontamOracleSql("vec_id % 97 = 0", tau = 0.35),

    "q77_perceptron_quality" -> QualityClassifier.oracleSql("en", rounds = 4),

    "q78_kmv_source_sim" -> CorpusStats.kmvOracleSql(n = 3, k = 128),

    "q79_vocab_oov" -> Vocabulary.oracleSql(v = 512),

    "q82_jl_projection" -> Projection.oracleSql(dim = 64, outDim = 16),

    "q80_pq_encode" -> ProductQuant.encodeOracleSql(m = 8, k = 16,
      rounds = 2, dim = 64),

    "q81_pq_adc_topk" -> ProductQuant.adcOracleSql(Seq(0L, 1L, 2L), m = 8,
      k = 16, rounds = 2, dim = 64, topK = 10),

    "q86_ivf_pq_topk" -> ProductQuant.ivfAdcOracleSql(Seq(0L, 1L, 2L),
      kCoarse = 8, coarseRounds = 2, m = 8, k = 16, pqRounds = 2, dim = 64,
      nprobe = 3, topK = 10),

    "q181_residual_ivfpq" -> ProductQuant.residualIvfAdcOracleSql(
      Seq(0L, 1L, 2L), kCoarse = 8, coarseRounds = 2, m = 8, k = 16,
      pqRounds = 2, dim = 64, nprobe = 3, topK = 10),

    // The stored residual sidecar must be invisible: q181's oracle
    // verbatim (full-corpus training).
    "q183_landed_residual" -> ProductQuant.residualIvfAdcOracleSql(
      Seq(0L, 1L, 2L), kCoarse = 8, coarseRounds = 2, m = 8, k = 16,
      pqRounds = 2, dim = 64, nprobe = 3, topK = 10),

    "q87_ann_recall" -> ProductQuant.recallOracleSql(Seq(0L, 1L, 2L),
      kCoarse = 8, coarseRounds = 2, m = 8, k = 16, pqRounds = 2, dim = 64,
      nprobe = 3, topK = 10),

    "q150_adc_rerank" -> ProductQuant.rerankOracleSql(Seq(0L, 1L, 2L),
      kCoarse = 8, coarseRounds = 2, m = 8, k = 16, pqRounds = 2, dim = 64,
      nprobe = 3, shortlist = 30, topK = 10),

    "q74_token_budget_mix" -> Sampling.tokenBudgetMixOracleSql(
      Map("en" -> 5000L, "de" -> 2000L, "fr" -> 2000L)),

    "q75_span_scrub" -> RepeatedSpans.scrubOracleSql(window = 8, minDocs = 2),

    "q76_corpus_diff" -> CorpusDiff.oracleSql(
      aPredSql = "doc_id % 17 <> 3", bPredSql = "doc_id % 17 <> 5",
      bEditPredSql = "doc_id % 13 = 0"),

    "q83_snapshot_landing" -> SnapshotLanding.oracleSql(
      aPredSql = "doc_id % 17 <> 3", bPredSql = "doc_id % 17 <> 5",
      bEditPredSql = "doc_id % 13 = 0", minSim = 0.5),

    "q43_passage_dedup" -> Passages.oracleSql(chunkTokens = 8, maxDocs = 2),

    "q69_repeated_spans" -> RepeatedSpans.oracleSql(window = 8, minDocs = 2),

    "q44_quality_flags" -> TextStats.qualityFlagsOracleSql(),

    "q45_epoch_shuffle" -> EpochShuffle.oracleSql(epoch = 3, numShards = 16),

    "q46_repetition" -> TextStats.repetitionOracleSql(),

    "q47_pii_scrub" -> TextStats.piiScrubOracleSql(
      """SELECT doc_id, text || (['', ' contact bob.smith@example.com today',
        |  ' call +1-555-0142 now', ' mail a.b@mail.org or dial +1-555-09',
        |  ' from 10.0.12.255 and 999.1234.5.6.7',
        |  ' card 4111111111111111 not 4111111111111112 or 1.2.3.4'])
        |  [(doc_id % 6 + 1)::INT] AS t FROM documents""".stripMargin),

    "q56_incremental_dedup" -> IncrementalDedup.oracleSql("doc_id % 5 = 0", 0.5),

    "q57_temperature_mix" -> Sampling.temperatureMixOracleSql(120L),

    "q58_overlap_matrix" -> CorpusStats.overlapOracleSql(3),

    "q59_group_split" -> DupClusters.groupSplitOracleSql(0.5, 0.1),

    "q117_split_leakage" -> DupClusters.splitLeakageOracleSql(0.5, 0.1, n = 4),

    "q60_containment" -> MinHashDedup.containmentOracleSql(0.6),

    "q62_containment_stratified" -> MinHashDedup.stratifiedOracleSql(0.6),

    "q63_dedup_manifest" -> DupClusters.dedupManifestOracleSql(0.5, 0.1),

    "q64_waterfill_mix" -> Sampling.waterfillOracleSql(400L, TargetRecipe),

    "q65_incremental_containment" ->
      MinHashDedup.incrementalContainmentOracleSql("doc_id % 5 = 0", 0.6),

    // q67 answers the SAME question as q65 through the stored sidecar —
    // one oracle, two code paths, bit-equality is the whole point.
    "q67_sidecar_containment" ->
      MinHashDedup.incrementalContainmentOracleSql("doc_id % 5 = 0", 0.6),

    // q68 answers it through a sidecar built in TWO landings (write +
    // append) — same oracle again: three code paths, one truth.
    "q68_landed_containment" ->
      MinHashDedup.incrementalContainmentOracleSql("doc_id % 5 = 0", 0.6),

    // q121 answers it through a four-landing sidecar REWRITTEN by the
    // compactor — compaction is answer-invisible, so the oracle is the
    // same once more.
    "q121_compacted_containment" ->
      MinHashDedup.incrementalContainmentOracleSql("doc_id % 5 = 0", 0.6),

    "q122_norm_dedup" -> graft.pipeline.Normalize.oracleSql,

    "q123_norm_report" -> graft.pipeline.Normalize.reportOracleSql,

    "q124_chunks" -> graft.pipeline.Chunker.oracleSql(size = 32, stride = 16),

    "q125_repeated_chunks" ->
      graft.pipeline.Chunker.repeatedOracleSql(size = 32, stride = 16,
        minDocs = 2),

    "q126_cluster_balanced" -> Clustering.clusterBalancedOracleSql(
      k = 8, rounds = 2, dim = EmbeddingDim, sampleFrac = 0.5, cap = 40),

    "q127_chunk_bm25" -> Bm25.oracleSql(Seq("dup", "vector", "scan"),
      k = 10, corpusSql = graft.pipeline.Chunker.chunkCorpusSql(
        size = 32, stride = 16)),

    // The stored chunk index must be invisible: q127's oracle verbatim.
    "q189_chunk_postings_bm25" -> Bm25.oracleSql(
      Seq("dup", "vector", "scan"), k = 10,
      corpusSql = graft.pipeline.Chunker.chunkCorpusSql(
        size = 32, stride = 16)),

    "q128_winnow_report" ->
      graft.pipeline.Winnow.reportOracleSql(n = 4, w = 4),

    "q129_winnow_pairs" ->
      graft.pipeline.Winnow.pairsOracleSql(n = 4, w = 4, minShared = 2),

    "q130_winnow_decontam" -> graft.pipeline.Winnow.decontamOracleSql(
      "doc_id % 97 = 0", n = 4, w = 4),

    "q131_landed_winnow" -> graft.pipeline.Winnow.admitOracleSql(
      "doc_id % 7 = 0", n = 4, w = 4),

    "q132_hll_distinct" ->
      graft.pipeline.HyperLogLog.oracleSql("source", n = 3),

    "q133_collocations" ->
      graft.pipeline.Collocations.oracleSql(v = 64, minCount = 5, k = 100),

    "q134_paraphrase_pairs" -> graft.pipeline.Paraphrase.oracleSql(
      EmbeddingDim, minCos = 0.999, maxJac = 0.5, plantMod = 31),

    "q135_landed_hll" ->
      graft.pipeline.HyperLogLog.landedOracleSql("source", n = 3),

    "q138_filter_funnel" -> graft.pipeline.Funnel.curationOracleSql,

    "q140_landed_ivfpq" -> ProductQuant.landedIvfPqOracleSql(
      Seq(0L, 1L, 2L), kCoarse = 8, coarseRounds = 2, m = 8, k = 16,
      pqRounds = 2, dim = EmbeddingDim, nprobe = 3, topK = 10,
      trainPredSql = "vec_id % 2 = 0"),

    "q137_landed_ivf" -> Clustering.landedIvfOracleSql(
      Seq(0L, 1L, 2L, 3L, 4L), k = 8, rounds = 3, dim = EmbeddingDim,
      nprobe = 2, topK = 10, trainPredSql = "vec_id % 2 = 0"),

    "q66_canonical_best" -> DupClusters.canonicalBestOracleSql(0.5, "n_chars"),

    "q61_target_mix" -> Sampling.targetMixOracleSql(200L, TargetRecipe)
  )
}
