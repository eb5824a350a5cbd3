package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The registered query surface — see SURVEY.md §7.
  *
  * Every operator from SURVEY.md §2 plus the LLM-data-pipeline extension
  * surface (dedup / similarity / text) is registered here as a named query
  * over the driver's parquet tables, with a matching DuckDB oracle where
  * ANSI SQL can express it. Queries load tables through `Q.table`, which
  * hands `events.ts` on as a TIMESTAMP (the fixtures store parquet
  * TIMESTAMP(MICROS), read as TIMESTAMP_NTZ and cast once there).
  */
object SparkEntry {

  /** Query sets in sweep order. Bench releases the shared persisted
    * intermediates (`Q.release`) at each set boundary so a full 127-query
    * single-JVM sweep doesn't accumulate every set's blocks in executor
    * storage — late sets would otherwise pay eviction + GC churn for
    * intermediates only earlier sets need. */
  val sets: Seq[(String, Seq[QueryDef])] = Seq(
    "ingest" -> IngestOpQueries.defs,
    "pipeline" -> PipelineQueries.defs,
    "relational" -> RelationalQueries.defs,
    "tpch" -> TpchShapeQueries.defs,
    "dedup" -> DedupQueries.defs,
    "similarity" -> SimilarityQueries.defs,
    "text" -> TextQueries.defs,
    "scaleops" -> ScaleOpQueries.defs,
    "ir" -> IrQueries.defs)

  val all: Seq[QueryDef] = sets.flatMap(_._2)

  /** A comma-separated query-name filter (Bench's `SPARK_GRAFT_ONLY`,
    * Verify's third argument): names are trimmed and empty ones dropped;
    * a list with no name is no filter. An unregistered name fails loudly,
    * naming it, rather than letting a typo read as an empty sweep. */
  def queryFilter(spec: String): Option[Set[String]] = {
    val names = spec.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = names -- all.map(_.name)
    require(unknown.isEmpty, "query names not registered: " +
      unknown.toSeq.sorted.mkString(", "))
    Some(names).filter(_.nonEmpty)
  }

  /** Tags of `Q.cached` intermediates consumed by MORE THAN ONE query set,
    * mapped to the LAST consuming set in [[sets]] sweep order. At a set
    * boundary Bench/Verify release everything EXCEPT tags whose last
    * consumer is still ahead — one materialization per sweep, no
    * pay-twice rebuild inside a later query's timing, and the blocks are
    * still freed the moment their last reader has run. All other tags are
    * set-local and released at their own set's boundary as before.
    */
  val crossSetTags: Map[String, String] = Map(
    // built by dedup (dedup_winnow_pairs), read again by text
    // (text_winnow_fingerprint)
    "winnow_fps" -> "text",
    // built by dedup (corpus_curation_funnel / corpus_build_manifest),
    // read again by text (corpus_decontaminate + its Bloom form)
    "doc_grams8" -> "text",
    // first built by pipeline (st_dedup_admission_semantic's offline
    // coarse quantizer), read again throughout the similarity set
    "ivf_codebook" -> "similarity",
    "ivf_assign" -> "similarity")

  /** Tags to keep alive when leaving set `i` of [[sets]]: a cross-set tag
    * survives while its last consumer is still ahead of the sweep. */
  def keepTagsAfter(i: Int): Set[String] = {
    val later = sets.drop(i + 1).map(_._1).toSet
    crossSetTags.collect {
      case (tag, lastSet) if later.contains(lastSet) => tag
    }.toSet
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Deterministic total-order keys per query (a unique key of the
    * result). Both the Spark result and the oracle SQL are sorted on them
    * (nulls first on both sides), so the driver's hash compare cannot
    * depend on engine-specific group-by/join output order. Applied only in
    * the driver contract — Bench times the unwrapped plans.
    */
  private val sortKeys: Map[String, Seq[String]] = Map(
    "s1_source_scan" -> Seq("event_id"),
    "s2_metadata_fetch" -> Seq("event_id"),
    "s5_envelope_decode" -> Seq("event_id"),
    "f1_extension_filter" -> Seq("event_id"),
    "f2_upload_id" -> Seq("event_id"),
    "f3_envelope_json" -> Seq("event_id"),
    "f4_d1_idempotent_skip" -> Seq("event_id"),
    "a_l1_line_count" -> Seq("doc_id"),
    "f5_validation" -> Seq("doc_id"),
    "a1_a4_status_machine" -> Seq("doc_id"),
    "st2_attempt_counter" -> Seq("event_id"),
    "s6_merge_coalesce" -> Seq("user_id"),
    "s7_dlq_threshold" -> Seq("user_id"),
    "s8_list_filtered_limit" -> Seq("event_id"),
    "d2_point_lookup" -> Seq("event_id"),
    "st1_windowed_counts" -> Seq("hour_us", "event_type"),
    "st5_first_per_key" -> Seq("user_id"),
    "st4_replay_ledger" -> Seq("file_name"),
    "st_dedup_admission" -> Seq("doc_id"),
    "st_dedup_admission_near" -> Seq("doc_id"),
    "q1_pricing_summary" -> Seq("l_returnflag", "l_linestatus"),
    "q3_top_orders" -> Seq("l_orderkey"),
    "q5_region_revenue" -> Seq("n_name"),
    "q_window_running_total" -> Seq("o_orderkey"),
    "q_topk_per_group" -> Seq("o_orderpriority", "rn"),
    "q_distinct_agg" -> Seq("o_orderstatus"),
    "q7_nation_volume" -> Seq("supp_nation", "cust_nation", "l_year"),
    "q_asof_prior_purchase" -> Seq("event_id"),
    "q4_priority_exists" -> Seq("o_orderpriority"),
    "q_group_topk_native" -> Seq("event_type", "score"),
    "q_pivot_counts" -> Seq("user_id"),
    "q_setops_users" -> Seq("tag", "user_id"),
    "q18_large_orders" -> Seq("o_orderkey"),
    "q_above_avg_orders" -> Seq("o_orderkey"),
    "q_approx_distinct" -> Seq("event_type"),
    "q_rollup_counts" -> Seq("o_orderstatus", "o_orderpriority"),
    "q6_forecast_revenue" -> Seq("revenue_c"),
    "q10_returned_revenue" -> Seq("c_custkey"),
    "q13_order_distribution" -> Seq("c_count"),
    "q16_supplier_diversity" -> Seq("p_brand", "p_type"),
    "q22_idle_customers" -> Seq("c_nationkey"),
    "q_cube_counts" -> Seq("o_orderstatus", "o_orderpriority"),
    "q_grouping_sets" -> Seq("gid", "o_orderstatus", "o_orderpriority"),
    "q2_min_supplier" -> Seq("p_partkey", "s_suppkey"),
    "q8_market_share" -> Seq("o_year"),
    "q9_profit" -> Seq("n_name", "l_year"),
    "q11_nation_share" -> Seq("n_name"),
    "q12_late_priority" -> Seq("lateness"),
    "q15_top_supplier" -> Seq("s_suppkey"),
    "q20_promo_shippers" -> Seq("s_suppkey"),
    "q21_waiting_supplier" -> Seq("s_name"),
    "q_sessionize" -> Seq("event_id"),
    "dedup_exact" -> Seq("content_hash"),
    "dedup_minhash_lsh" -> Seq("doc_a", "doc_b"),
    "dedup_near_dup_pipeline" -> Seq("doc_a", "doc_b"),
    "corpus_curation" -> Seq("doc_id"),
    "corpus_curation_clustered" -> Seq("doc_id"),
    "text_edit_distance" -> Seq("doc_a", "doc_b"),
    "dedup_simhash" -> Seq("doc_id"),
    "dedup_simhash_pairs" -> Seq("doc_a", "doc_b"),
    "q_salted_agg" -> Seq("user_id"),
    "q_salted_join" -> Seq("c_mktsegment"),
    "q_window_funcs" -> Seq("event_id"),
    "st_user_state" -> Seq("user_id"),
    "st_stream_join" -> Seq("view_id", "purchase_id"),
    "q_range_join" -> Seq("event_id"),
    "q_percentiles" -> Seq("event_type"),
    "q_heavy_hitters" -> Seq("value"),
    "dedup_ngram_jaccard" -> Seq("doc_a", "doc_b"),
    "dedup_embedding_cosine" -> Seq("vec_a", "vec_b"),
    "dedup_embedding_lsh" -> Seq("vec_a", "vec_b"),
    "ann_cosine_topk" -> Seq("query_id", "rank"),
    "ann_cosine_native" -> Seq("query_id", "rank"),
    "ann_lsh_buckets" -> Seq("vec_id"),
    "ann_ivf_topk" -> Seq("query_id", "rank"),
    "ann_pq_topk" -> Seq("query_id", "rank"),
    "ann_ivfpq_topk" -> Seq("query_id", "rank"),
    "pq_code_balance" -> Seq("m", "code"),
    "embedding_project" -> Seq("vec_id", "j"),
    "embedding_project_audit" -> Seq("n_pairs"),
    "embedding_matryoshka_audit" -> Seq("n_pairs"),
    "ann_mmr_rerank" -> Seq("rank"),
    "ann_graph_topk" -> Seq("query_id", "rank"),
    "dedup_graph_clusters" -> Seq("vec_id"),
    "graph_pagerank" -> Seq("rank"),
    "graph_triangles" -> Seq("vec_id"),
    "corpus_walk_pairs" -> Seq("anchor_id", "step"),
    "ann_recall_audit" -> Seq("total_true"),
    "dedup_recall_audit" -> Seq("total_true"),
    "q_percentiles_approx" -> Seq("event_type"),
    "text_token_stats" -> Seq("doc_id"),
    "text_quality" -> Seq("doc_id"),
    "text_lang_id" -> Seq("doc_id"),
    "text_fingerprint" -> Seq("doc_id"),
    "text_winnow_fingerprint" -> Seq("doc_id", "fp"),
    "multimodal_meta" -> Seq("doc_id"),
    "multimodal_pixels" -> Seq("doc_id"),
    "multimodal_phash" -> Seq("doc_id"),
    "multimodal_samples" -> Seq("doc_id"),
    "multimodal_audio_features" -> Seq("doc_id"),
    "multimodal_video_frames" -> Seq("doc_id", "frame_idx"),
    "multimodal_mp4_index" -> Seq("doc_id", "sample_idx"),
    "corpus_contrastive_pairs" -> Seq("anchor_id", "role", "rank"),
    "corpus_contrastive_probe" -> Seq("anchor_id", "role", "rank"),
    "corpus_contrastive_recall" -> Seq("total_true"),
    "corpus_build_manifest" -> Seq("bin"),
    "corpus_quality_prune" -> Seq("doc_id"),
    "st_dedup_admission_semantic" -> Seq("vec_id"),
    "st_dedup_admission_refresh" -> Seq("vec_id"),
    "text_bpe_train" -> Seq("merge_rank"),
    "text_bpe_encode" -> Seq("doc_id"),
    "text_tokenizer_fertility" -> Seq("lang"),
    "dedup_exact_substring" -> Seq("doc_id"),
    "dedup_paragraph" -> Seq("doc_id"),
    "dedup_paragraph_rewrite" -> Seq("doc_id"),
    "corpus_quality_classifier" -> Seq("feature_id"),
    "corpus_dsir_sample" -> Seq("doc_id"),
    "corpus_negative_table" -> Seq("p_ppm", "term"),
    "corpus_source_profile" -> Seq("source"),
    "embedding_pca_power" -> Seq("component"),
    "embedding_pca_project" -> Seq("vec_id"),
    "ir_query_expansion" -> Seq("rnk"),
    "ir_bm25_eval" -> Seq("n_relevant"),
    "corpus_curation_funnel" -> Seq("stage_id"),
    "q_kmv_distinct" -> Seq("event_type"),
    "q_kmv_jaccard" -> Seq("type_a", "type_b"),
    "q_cms_heavy" -> Seq("value_cents"),
    "q_bloom_join_prune" -> Seq("p_brand"),
    "corpus_weighted_sample" -> Seq("doc_id"),
    "multimodal_jpeg_pixels" -> Seq("doc_id"),
    "multimodal_resize" -> Seq("doc_id"),
    "corpus_mix_sample" -> Seq("doc_id"),
    "corpus_decontaminate" -> Seq("doc_id"),
    "corpus_decontaminate_bloom" -> Seq("doc_id"),
    "text_repetition" -> Seq("doc_id"),
    "dedup_winnow_pairs" -> Seq("doc_a", "doc_b"),
    "dedup_clusters" -> Seq("doc_id"),
    "dedup_incremental" -> Seq("doc_id"),
    "st_session_window" -> Seq("user_id", "session_start"),
    "pipeline_observe" -> Seq("metric"),
    "text_pii_redact" -> Seq("doc_id"),
    "corpus_train_split" -> Seq("split"),
    "q_global_rank" -> Seq("rnk"),
    "dq_audit" -> Seq("rule"),
    "dq_k_anonymity" -> Seq("event_type"),
    "dq_freshness" -> Seq("event_type"),
    "wh_jsonl_roundtrip" -> Seq("source"),
    "text_tfidf_topk" -> Seq("doc_id", "rnk"),
    "text_bm25_search" -> Seq("rnk"),
    "text_inverted_index" -> Seq("term"),
    "q_stratified_sample" -> Seq("event_type", "rnk"),
    "corpus_embedding_clusters" -> Seq("list_id"),
    "st_heavy_hitters" -> Seq("event_type", "rnk"),
    "q_zorder_buckets" -> Seq("bucket"),
    "dq_skew_profile" -> Seq("n_keys"),
    "st_stream_join_outer" -> Seq("view_id", "purchase_id"),
    "st_late_data" -> Seq("event_type"),
    "q_trending_topk" -> Seq("hour_us", "event_type", "rnk"),
    "q_funnel" -> Seq("n_view"),
    "q_cohort_retention" -> Seq("cohort_day", "offset_days"),
    "q_event_transitions" -> Seq("prev_type", "next_type"),
    "dq_join_cardinality" -> Seq("n_shared_keys"),
    "q_cooccurrence_lift" -> Seq("type_a", "type_b"),
    "q_seasonality" -> Seq("event_type", "hod"),
    "q_window_topk_rewritten" -> Seq("event_type", "user_id"),
    "q_asof_dim" -> Seq("event_id"),
    "dq_column_profile" -> Seq("column_name"),
    "text_chunk" -> Seq("doc_id", "chunk_idx"),
    "corpus_pack_bins" -> Seq("bin"),
    "q_scd2_dim" -> Seq("user_id", "version"),
    "q_anomaly_hours" -> Seq("event_type", "hour_us"),
    "dedup_semantic" -> Seq("vec_id"),
    "q_rolling_window" -> Seq("user_id", "day"),
    "q_gap_fill" -> Seq("event_type", "hour_us"),
    "text_lm_score" -> Seq("doc_id"),
    "q_incr_agg" -> Seq("user_id"),
    "q_incr_join" -> Seq("user_id"),
    "q_hll_distinct_union" -> Seq("event_type"),
    "q_incr_percentiles" -> Seq("event_type"),
    "corpus_shard_text" -> Seq("bin"),
    "q_peak_concurrency" -> Seq("n_sessions"),
    "q_skyline" -> Seq("event_type", "hour_us"))

  /** One entry per implemented operator from SURVEY.md §2 (+ extensions). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { q =>
      val keys = sortKeys.getOrElse(q.name, Seq.empty)
      val fn: (SparkSession, String) => DataFrame =
        if (keys.isEmpty) q.run
        else (s, d) => q.run(s, d).orderBy(keys.map(k =>
          org.apache.spark.sql.functions.col(k).asc_nulls_first): _*)
      q.name -> fn
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted only for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map { sql =>
      val keys = sortKeys.getOrElse(q.name, Seq.empty)
      val wrapped =
        if (keys.isEmpty) sql
        else s"SELECT * FROM ($sql) AS _q ORDER BY " +
          keys.map(k => s"$k NULLS FIRST").mkString(", ")
      q.name -> wrapped
    }).toMap
}
