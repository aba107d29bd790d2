package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.engine.SqlEngine

/** Dev tool: dump EXPLAIN FORMATTED for headline queries → PLANS.md,
  * the artifact backing the scale-design claims in README. */
object Explain {
  val headline = Seq(
    "q01_agg_pushdown", "q02_filter_project", "q03_join_inner_agg",
    "q07_join_semi", "q16_window_rank", "q21_topk", "q41_median_percentile",
    "q59_groups_frame", "q63_groups_frame_cte", "q65_groups_group_by",
    "q66_sql_percentiles", "q67_groups_subquery", "q68_median_join",
    "q71_groups_in_subquery", "q72_mixed_single_pass",
    "x01_dedup_exact", "x02_dedup_minhash_lsh", "x06_ann_bruteforce",
    "x08_lang_id", "x12_multimodal_features", "x15_ann_ivf",
    "x17_repetition", "x18_deterministic_split", "x21_bucketed_join",
    "x22_sequence_packing", "x23_decontamination", "x25_document_frequency",
    "x27_bm25_scoring", "x28_unigram_surprisal", "x29_int8_quantization",
    "x30_cross_corpus_dedup", "x31_mixture_sample", "x32_dup_ngram_audit",
    "x33_budget_select", "x34_hard_negatives", "x35_sessionization",
    "x36_asof_join", "x37_top_per_group", "x38_chunking",
    "x39_iqr_outliers", "x40_collocations", "x41_group_split",
    "x42_robust_stats", "x43_snapshot_diff", "x44_source_top_tokens",
    "q73_time_range_frame", "x45_hard_negatives_ivf",
    "x47_semantic_dedup", "x48_temperature_mixture", "x49_quantile_buckets",
    "x50_source_overlap", "x51_curation_pipeline", "x54_chunk_roundtrip",
    "x55_datasheet", "x69_strip_boilerplate", "x70_tfidf_keywords",
    "x81_split_leakage", "x82_edit_distance_pairs", "x83_ingest_anomalies",
    "x72_dimension_stats", "x73_skew_audit", "x74_exact_k_sample",
    "x76_dup_rate", "x77_length_batches", "x86_json_sidecar",
    "x87_rank_blend", "x88_winsorize", "x89_oov_rate",
    "x91_fuzzy_entity_join", "x92_contaminated_spans",
    "x93_truncation_audit", "x96_duplicated_spans",
    "x97_embedding_covariance", "x99_mutual_information",
    "x100_embedding_correlation", "x101_cut_spans",
    "x102_weighted_sample", "x103_cooccurrence",
    "x104_dedup_weighted_sample", "x105_k_anonymity",
    "x107_decontamination_bloom", "x108_linear_score", "x109_epoch_repeat",
    "x110_dedup_nfc", "x111_range_join", "x112_interval_overlap",
    "x113_asof_tolerance", "x114_script_profile", "x115_trimmed_mean",
    "x116_char_entropy", "x117_token_entropy", "x118_containment_pairs",
    // r08 plan changes (VERDICT r08 #6): x03/x118 dropped their global
    // Sorts (unordered-pair contract), x98 gained a Generate — keep the
    // shapes visible in dumps, not only pinned in PlanSpec
    "x03_dedup_simhash", "x98_pca_projection",
    // r09 additions: BPE budget family + IVF append drift
    "x121b_bpe_symbol_floor", "x121c_bpe_chunk_budget",
    "x121d_bpe_budget_select", "x122_ivf_append_drift",
    // r09 pipeline additions: line dedup, retention calibration,
    // sharding, fertility
    "x123_line_dedup", "x124_retention_threshold", "x125_shard_manifest",
    "x126_bpe_fertility", "x127_dsir_weights", "x128_heavy_hitters",
    "x129_curation_compose_v2", "x130_line_dedup_ingest",
    "x131_line_dedup_ingest_bloom", "x132_cross_surprisal",
    "x133_asof_forward", "x134_asof_nearest", "x135_session_window_native",
    "x136_stream_session_window", "x137_duplicated_lines",
    // r10 plan changes: the exact-dedup family dropped its trailing
    // global sorts (x57 added so all three family dumps show it), and
    // the BPE family gained the learn loop + the chunker's full oracle
    "x57_dedup_normalized", "x121e_bpe_chunk_budget_floor",
    "x138_bpe_learn_merges", "x139_ivf_retrain_verdict",
    "x140_chunk_pack_compose",
    // r11 plan changes: the cluster-dedup family dropped its trailing
    // global sorts (x14 added so the dedupCorpus dump shows it; x30 was
    // already in), and the BPE family closed its learn→save→load→encode
    // and real-merge-chunking compositions
    "x14_dedup_pipeline", "x141_bpe_learn_roundtrip",
    "x142_bpe_chunk_real_merges", "x143_zipf_fit",
    "x144_encoding_anomalies", "x145_max_token_run",
    "x146_vocab_coverage")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = SqlEngine.jvmDefaults(SparkSession.builder()).master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sb = new StringBuilder
    sb ++= "# Physical plans (EXPLAIN FORMATTED) — generated by graft.tools.Explain\n\n"
    sb ++= s"Data: `$sfDir`. Regenerate: `sbt \"runMain graft.tools.Explain\"`.\n"
    graft.SparkEntry.all.filter(q => headline.contains(q.name)).foreach { q =>
      val plan = q.run(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb ++= s"\n## ${q.name}\n\n```\n$plan```\n"
    }
    // VERDICT r06 next #4: the pre-tokenized-overload plan — with the
    // token frame persisted by the caller, every corpus-stats branch
    // reads the cache (InMemoryTableScan) and NO tokenize subtree exists
    // outside the one that populated it.
    locally {
      import org.apache.spark.sql.functions.col
      val docs = graft.tables.Tables.load(spark, sfDir, "documents")
      val toks = docs.select(col("doc_id"),
        graft.ops.Text.tokens(col("text")).as("w")).persist()
      toks.count()
      val plan = graft.ops.Relevance
        .bm25Tokens(toks, Seq("data", "model", "the"), 20)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      sb ++= "\n## x27p_bm25_pretokenized (bm25Tokens over a persisted " +
        "token frame — single tokenize, cache-fed branches)\n\n```\n" +
        plan + "```\n"
      toks.unpersist(blocking = false)
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${headline.size + 1} plans)")
    spark.stop()
  }
}
