package graft

/** Dev tool: dump `explain("formatted")` for the plan-critical queries
  * (the shapes PlanAuditSpec asserts). Usage:
  *   runMain graft.Plans [sfDir] > PLANS.txt
  */
object Plans {
  val Flagships = Seq(
    "q01_scan", "q04_key_regex", "q12_join", "q15_topk", "q16_scalar",
    "q18_asof_join", "q22_minhash_pairs", "q23_ann_topk", "q29_sessionize",
    "q33_sign_lsh_pairs", "q34_avro_roundtrip", "q36_curation",
    "q42_decontam", "q48_kmeans", "q49_semantic_dedup", "q50_ivf_ann",
    "q51_tfidf", "q54_importance", "q55_importance_select",
    "q56_incremental_dedup", "q57_temperature_mix", "q58_overlap_matrix",
    "q62_containment_stratified", "q63_dedup_manifest",
    "q64_waterfill_mix", "q65_incremental_containment",
    "q66_canonical_best", "q67_sidecar_containment",
    "q71_bloom_decontam", "q72_term_commonness", "q75_span_scrub",
    "q77_perceptron_quality", "q78_kmv_source_sim", "q79_vocab_oov",
    "q80_pq_encode", "q81_pq_adc_topk", "q82_jl_projection",
    "q83_snapshot_landing", "q84_overlap_fraction", "q85_source_dup_report",
    "q86_ivf_pq_topk", "q87_ann_recall", "q88_bigram_lm", "q89_bm25_topk",
    "q90_hard_negatives", "q91_source_boilerplate",
    "q97_hamming_pairs", "q98_heavy_hitters", "q99_hamming_sig_pairs",
    "q100_mmr_select", "q101_hamming_wide", "q103_curriculum",
    "q104_dedup_eval", "q105_source_drift", "q106_novelty",
    "q107_sidecar_novelty", "q108_bpe_encode", "q111_bucketed_join",
    "q112_partitioned_read", "q114_bm25_mrr", "q115_cube",
    "q137_landed_ivf", "q138_filter_funnel", "q139_skew_report",
    "q140_landed_ivfpq", "q146_auto_salted_join", "q154_trigram_backoff",
    "q155_landed_lm", "q156_sq8_topk", "q162_tpch_regional",
    "q163_join_strategies", "q165_landed_sq8",
    "q167_asset_dedup", "q168_frame_overlap", "q169_asset_embedding_dedup",
    "q170_retired_lm", "q171_retired_sq8", "q172_retired_novelty",
    "q173_whole_repeats", "q174_tombstoned_sq8", "q175_index_staleness",
    "q176_set_ops_all", "q177_lateral_topn", "q178_content_id",
    "q180_shifted_overlap", "q183_landed_residual", "q185_shifted_content_id",
    "q186_landed_bm25", "q187_stored_tfidf", "q191_phrase_search",
    "q193_proximity_search", "q194_regex_search", "q198_regex_batch",
    "q199_regex_store", "q200_regex_conjunctive")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // q67 writes its sidecar tables via saveAsTable — keep them out of
    // a cwd-relative spark-warehouse (the Bench/Verify convention).
    val spark = GraftSession.local("4", "/tmp/graft-plans-warehouse")
    spark.sparkContext.setLogLevel("ERROR")
    def dump(name: String, suffix: String = ""): Unit = {
      println(s"\n===================== $name$suffix =====================")
      println(SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }
    Flagships.foreach(dump(_))
    // The archived layout the bench runs record queries on: partition
    // predicates become PartitionFilters (directory pruning) instead of a
    // post-scan Filter over a computed column.
    val archiveDir = s"/tmp/graft-plans-archive-${Integer.toHexString(sfDir.hashCode)}"
    graft.log.LogStore.ensureMaterialized(spark, sfDir, archiveDir)
    spark.conf.set("spark.graft.recordSource", "archive")
    spark.conf.set("spark.graft.archiveDir", archiveDir)
    Seq("q01_scan", "q08_partitions").foreach(dump(_, " [archive layout]"))
    spark.stop()
  }
}
