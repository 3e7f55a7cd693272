"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()`` / ``oracle_sql()`` expose every implemented operator
from SURVEY.md §2 with its DuckDB oracle twin.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from icecube_spark.queries import analytics
from icecube_spark.queries import datacube_queries as dq
from icecube_spark.queries import llm_queries as lq
from icecube_spark.queries import pipeline_queries as pq
from icecube_spark.queries import timeseries_queries as tsq
from icecube_spark.queries.llm_oracles import ORACLES as LLM_ORACLES
from icecube_spark.queries.pipeline_oracles import ORACLES as PIPELINE_ORACLES
from icecube_spark.queries.analytics_oracles import ORACLES as ANALYTICS_ORACLES
from icecube_spark.queries.datacube_oracles import ORACLES as DATACUBE_ORACLES
from icecube_spark.queries.timeseries_oracles import ORACLES as TIMESERIES_ORACLES

# Registration ORDER matters: the driver grades a ~50-key sample from
# the head. The dict below keeps the historical hand-ordering (newest
# wave first); ``queries()`` then mechanically floats every oracle key
# WITHOUT driver-green evidence (``_DRIVER_GREEN``, read from the
# committed CORRECTNESS files) to the head — and sinks the rows-only
# keys (``_NO_ORACLE``) below them — so each round's sample grades
# maximum new oracle-able surface.
_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # --- wave 55 (A74, B84, C122, E49, P80) ---
    "cube_center_of_mass": dq.cube_center_of_mass,
    "quantity_integrality": analytics.quantity_integrality,
    "month_end_effect": tsq.month_end_effect,
    "anchor_coverage_curve": lq.anchor_coverage_curve,
    "temperature_sweep": pq.temperature_sweep,
    # --- wave 54 (A73, B83, C121, F60, P79) ---
    "cube_diagonal_banding": dq.cube_diagonal_banding,
    "order_ship_span": analytics.order_ship_span,
    "revenue_run_lengths": tsq.revenue_run_lengths,
    "whitespace_profile": lq.whitespace_profile,
    "id_hash_collisions": pq.id_hash_collisions,
    # --- wave 53 (A72, B82, C120, P78) ---
    "cube_border_gradient": dq.cube_border_gradient,
    "order_total_consistency": analytics.order_total_consistency,
    "gap_autocorrelation": tsq.gap_autocorrelation,
    "sample_overlap_audit": pq.sample_overlap_audit,
    # --- wave 52 (A71, B81, C119, F59, P77) ---
    "cube_column_defects": dq.cube_column_defects,
    "balance_sign_profile": analytics.balance_sign_profile,
    "session_depth_histogram": tsq.session_depth_histogram,
    "numeric_token_rate": lq.numeric_token_rate,
    "split_hash_uniformity": pq.split_hash_uniformity,
    # --- wave 51 (A70, B80, C118, D24, E48) ---
    "cube_quadrant_quartiles": dq.cube_quadrant_quartiles,
    "discount_tax_interaction": analytics.discount_tax_interaction,
    "interarrival_hazard": tsq.interarrival_hazard,
    "dup_group_span": lq.dup_group_span,
    "norm_percentiles_by_label": lq.norm_percentiles_by_label,
    # --- wave 50 (A69, B79, C117, F58, P76) ---
    "cube_symmetry_profile": dq.cube_symmetry_profile,
    "priority_value_skew": analytics.priority_value_skew,
    "round_value_bias": tsq.round_value_bias,
    "url_email_density": lq.url_email_density,
    "id_continuity_audit": pq.id_continuity_audit,
    # --- wave 49 (A68, B78, C116, E47, G16) ---
    "cube_anisotropy": dq.cube_anisotropy,
    "brand_price_realization": analytics.brand_price_realization,
    "daily_new_returning": tsq.daily_new_returning,
    "label_quantization_distortion": lq.label_quantization_distortion,
    "media_size_profile": lq.media_size_profile,
    # --- wave 48 (A67, B77, C115, D23, P75) ---
    "cube_row_runs": dq.cube_row_runs,
    "order_dow_profile": analytics.order_dow_profile,
    "gap_regularity": tsq.gap_regularity,
    "normalization_dup_gain": lq.normalization_dup_gain,
    "length_band_dup_rate": pq.length_band_dup_rate,
    # --- wave 47 (A66, B76, C114, F57, G15) ---
    "cube_hist_modes": dq.cube_hist_modes,
    "part_supplier_cardinality": analytics.part_supplier_cardinality,
    "type_mix_entropy_trend": tsq.type_mix_entropy_trend,
    "word_length_profile": lq.word_length_profile,
    "media_chunk_dedup_rate": lq.media_chunk_dedup_rate,
    # --- wave 46 (A65, B75, C113, E46, P74) ---
    "cube_parity_contrast": dq.cube_parity_contrast,
    "line_position_effect": analytics.line_position_effect,
    "weekend_lift": tsq.weekend_lift,
    "anchor_margin_deciles": lq.anchor_margin_deciles,
    "prefix_collision_curve": pq.prefix_collision_curve,
    # --- wave 45 (A64, B74, C112, D22, P73) ---
    "cube_stretch_params": dq.cube_stretch_params,
    "tax_rate_profile": analytics.tax_rate_profile,
    "lifecycle_value_curve": tsq.lifecycle_value_curve,
    "dup_cluster_purity": lq.dup_cluster_purity,
    "split_length_parity": pq.split_length_parity,
    # --- wave 44 (A63, B73, C111, E45, P72) ---
    "cube_orientation_hist": dq.cube_orientation_hist,
    "volume_price_decomposition": analytics.volume_price_decomposition,
    "transition_latency": tsq.transition_latency,
    "simhash_bit_balance": lq.simhash_bit_balance,
    "dedup_token_savings": pq.dedup_token_savings,
    # --- wave 43 (A62, B72, C110, D21, F56) ---
    "cube_change_vector": dq.cube_change_vector,
    "order_size_profile": analytics.order_size_profile,
    "value_concentration_trend": tsq.value_concentration_trend,
    "dup_pair_length_bias": lq.dup_pair_length_bias,
    "sentence_dedup_rate": lq.sentence_dedup_rate,
    # --- wave 42 (A61, B71, C109, F55, P71) ---
    "cube_box_counting": dq.cube_box_counting,
    "brand_loyalty": analytics.brand_loyalty,
    "anomaly_cooccurrence": tsq.anomaly_cooccurrence,
    "langid_margin": lq.langid_margin,
    "chunking_plan": pq.chunking_plan,
    # --- wave 41 (A60, B70, C108, D20, E44) ---
    "cube_velocity_field": dq.cube_velocity_field,
    "purchase_acceleration": analytics.purchase_acceleration,
    "type_affinity": tsq.type_affinity,
    "minhash_band_tuning": lq.minhash_band_tuning,
    "ivf_probe_curve": lq.ivf_probe_curve,
    # --- wave 40 (A59, B69, C107, D19, P70) ---
    "cube_inpaint": dq.cube_inpaint,
    "flag_priority_residuals": analytics.flag_priority_residuals,
    "peak_hour_stability": tsq.peak_hour_stability,
    "shingle_stats": lq.shingle_stats,
    "curation_ablation": pq.curation_ablation,
    # --- wave 39 (A58, B68, C106, F54, G14) ---
    "cube_quadtree": dq.cube_quadtree,
    "customer_pareto_overlap": analytics.customer_pareto_overlap,
    "session_concurrency": tsq.session_concurrency,
    "casing_profile": lq.casing_profile,
    "payload_compression_probe": lq.payload_compression_probe,
    # --- wave 38 (A57, B67, C105, E43, P69) ---
    "cube_destripe": dq.cube_destripe,
    "supplier_churn": analytics.supplier_churn,
    "retention_halflife": tsq.retention_halflife,
    "distance_concentration": lq.distance_concentration,
    "gate_kappa": pq.gate_kappa,
    # --- wave 37 (A56, B66, C104, E42, G13) ---
    "cube_laplacian": dq.cube_laplacian,
    "status_mix_trend": analytics.status_mix_trend,
    "first_passage_time": tsq.first_passage_time,
    "knn_hubness": lq.knn_hubness,
    "media_format_sniff": lq.media_format_sniff,
    # --- wave 36 (A55, B65, C103, F53, P68) ---
    "cube_temporal_anomaly": dq.cube_temporal_anomaly,
    "backlog_aging": analytics.backlog_aging,
    "volume_bars": tsq.volume_bars,
    "yule_k": lq.yule_k,
    "neyman_allocation": pq.neyman_allocation,
    # --- wave 35 (A54, B64, C102, E40, G12) ---
    "cube_class_transitions": dq.cube_class_transitions,
    "customer_reactivation": analytics.customer_reactivation,
    "anomaly_persistence": tsq.anomaly_persistence,
    "norm_quality_deciles": lq.norm_quality_deciles,
    "media_dup_factor": lq.media_dup_factor,
    # --- wave 34 (A53, B63, C101, F51, P67) ---
    "cube_revisit_stats": dq.cube_revisit_stats,
    "margin_waterfall": analytics.margin_waterfall,
    "seasonality_stability": tsq.seasonality_stability,
    "source_coherence": lq.source_coherence,
    "oov_rate_by_source": pq.oov_rate_by_source,
    # --- wave 33 (B62, C99, C100, E39, P66) ---
    "cross_sell_matrix": analytics.cross_sell_matrix,
    "dow_hour_interaction": tsq.dow_hour_interaction,
    "burstiness_index": tsq.burstiness_index,
    "quantization_sweep": lq.quantization_sweep,
    "retention_policy_matrix": pq.retention_policy_matrix,
    # --- wave 32 (D18, E38, F50, G11, P65) ---
    "cosine_label_pr_curve": lq.cosine_label_pr_curve,
    "term_burstiness": lq.term_burstiness,
    "media_frame_entropy": lq.media_frame_entropy,
    "split_stratification_check": pq.split_stratification_check,
    "dup_transitivity_audit": lq.dup_transitivity_audit,
    # --- wave 31 (A52, B61, C98, D17, P64) ---
    "cube_lbp_texture": dq.cube_lbp_texture,
    "priority_escalation_trend": analytics.priority_escalation_trend,
    "weekly_profile_drift": tsq.weekly_profile_drift,
    "dedup_sorted_neighborhood": lq.dedup_sorted_neighborhood,
    "sample_size_planner": pq.sample_size_planner,
    # --- wave 30 (A51, B60, C97, F49, G10) ---
    "cube_swath_coverage": dq.cube_swath_coverage,
    "price_dispersion": analytics.price_dispersion,
    "transition_entropy": tsq.transition_entropy,
    "char_trigram_logprob": lq.char_trigram_logprob,
    "media_loudness": lq.media_loudness,
    # --- wave 29 (A50, B59, C96, E37, P63) ---
    "cube_contour_bands": dq.cube_contour_bands,
    "acctbal_spend_deciles": analytics.acctbal_spend_deciles,
    "ar1_halflife": tsq.ar1_halflife,
    "knn_margin": lq.knn_margin,
    "cross_shard_dup_rate": pq.cross_shard_dup_rate,
    # --- wave 28 (A49, B58, C95, F48, P62) ---
    "cube_flow_direction": dq.cube_flow_direction,
    "return_rate_anomaly": analytics.return_rate_anomaly,
    "spectral_entropy": tsq.spectral_entropy,
    "mattr_diversity": lq.mattr_diversity,
    "length_filter_tuning": pq.length_filter_tuning,
    # --- wave 27 (A48, B57, C94, E36, P61) ---
    "cube_integral_image": dq.cube_integral_image,
    "supply_risk": analytics.supply_risk,
    "cross_correlation": tsq.cross_correlation,
    "embed_isotropy": lq.embed_isotropy,
    "token_budget_sample": pq.token_budget_sample,
    # --- wave 26 (A47, B56, C93, F47, P60) ---
    "cube_layover_shadow": dq.cube_layover_shadow,
    "nation_trade_balance": analytics.nation_trade_balance,
    "hurst_exponent": tsq.hurst_exponent,
    "burrows_delta": lq.burrows_delta,
    "dedup_cost_model": pq.dedup_cost_model,
    # --- wave 25 (A46, B55, C91, C92, E35) ---
    "cube_ruggedness": dq.cube_ruggedness,
    "bulk_discount_curve": analytics.bulk_discount_curve,
    "seasonal_strength": tsq.seasonal_strength,
    "intervention_impact": tsq.intervention_impact,
    "dot_cosine_rank_corr": lq.dot_cosine_rank_corr,
    # --- wave 24 (A45, B54, C90, D15, F46) ---
    "cube_ring_stats": dq.cube_ring_stats,
    "lead_time_sla": analytics.lead_time_sla,
    "drawdown_durations": tsq.drawdown_durations_revenue,
    "dedup_winnowing": lq.dedup_winnowing,
    "topk_coverage_curve": lq.topk_coverage_curve,
    # --- wave 23 (A44, B53, C89, E34, F45) ---
    "cube_median_filter": dq.cube_median_filter,
    "seasonality_index": analytics.seasonality_index,
    "turning_points": tsq.turning_points_revenue,
    "bucket_label_ari": lq.bucket_label_ari,
    "char_entropy_docs": lq.char_entropy_docs,
    # --- wave 22 (A43, B52, C88, G9, P58) ---
    "cube_variogram": dq.cube_variogram,
    "reorder_intervals": analytics.reorder_intervals,
    "runs_test": tsq.runs_test_revenue,
    "media_audio_silence": lq.media_audio_silence,
    "quality_reliability": pq.quality_reliability,
    # --- wave 21 (B51, C87, A42, F44, E33) ---
    "new_repeat_revenue": analytics.new_repeat_revenue,
    "ljung_box": tsq.ljung_box_revenue,
    "cube_glcm_texture": dq.cube_glcm_texture,
    "doc_stitch_pairs": lq.doc_stitch_pairs,
    "rp_recall": lq.rp_recall,
    # --- wave 20 (B50, C86, E32, F43, P57) ---
    "cms_heavy_hitters": pq.cms_heavy_hitters,
    "knn_reciprocity": lq.knn_reciprocity,
    "normalization_impact": lq.normalization_impact,
    "revenue_theil": analytics.revenue_theil,
    "interarrival_fit": tsq.interarrival_fit,
    # --- wave 19 (A40-A41, B49, C85, G8) ---
    "cube_cfar_detect": dq.cube_cfar_detect,
    "cube_aspect_octant": dq.cube_aspect_octant,
    "lorenz_curve": analytics.lorenz_curve,
    "kruskal_wallis": tsq.kruskal_wallis,
    "media_scene_cuts": lq.media_scene_cuts,
    # --- wave 18 (A39, C84) ---
    "cube_enl": dq.cube_enl,
    "value_at_risk": tsq.value_at_risk,
    # --- wave 17 (P55-P56, E31) ---
    "packing_curve": pq.packing_curve,
    "erasure_impact": pq.erasure_impact,
    "uncertainty_sampling": lq.uncertainty_sampling,
    # --- wave 16 (D14, E30, F41) ---
    "bbit_minhash_eval": lq.bbit_minhash_eval,
    "label_silhouette": lq.label_silhouette,
    "license_notice_rate": lq.license_notice_rate,
    # --- wave 15 (A37-A38, F40) ---
    "cube_rgb_composite": dq.cube_rgb_composite,
    "cube_hist_match": dq.cube_hist_match,
    "rake_keywords": lq.rake_keywords,
    # --- wave 14 (C81-C83, F39) ---
    "multitouch_attribution": tsq.multitouch_attribution,
    "markov_accuracy": tsq.markov_accuracy,
    "haar_energy": tsq.haar_energy,
    "readability_scores": lq.readability_scores,
    # --- wave 13 (B47-B48, E29, F38) ---
    "weighted_median_price": analytics.weighted_median_price,
    "croston_forecast": analytics.croston_forecast,
    "hamming_recall": lq.hamming_recall,
    "boilerplate_prefixes": lq.boilerplate_prefixes,
    # --- wave 12 (A36, B45-B46, C79, P54) ---
    "cube_baseline_pairs": dq.cube_baseline_pairs,
    "abc_xyz_classes": analytics.abc_xyz_classes,
    "supplier_hhi": analytics.supplier_hhi,
    "diff_in_diff": tsq.diff_in_diff,
    "k_anonymity": pq.k_anonymity,
    # --- wave 11 (B44, C78, E27-E28, F37, P52-P53) ---
    "price_index": analytics.price_index,
    "period_detect": tsq.period_detect,
    "matryoshka_recall": lq.matryoshka_recall,
    "translation_pairs": lq.translation_pairs,
    "mojibake_score": lq.mojibake_score,
    "table_diff": pq.table_diff,
    "stratified_kfold": pq.stratified_kfold,
    # --- wave 10 (B43, C77, F36, P50-P51, A34-A35) ---
    "nation_affinity": analytics.nation_affinity,
    "sax_symbols": tsq.sax_symbols,
    "stupid_backoff_logprob": lq.stupid_backoff_logprob,
    "bloom_filter_eval": pq.bloom_filter_eval,
    "quantile_normalize": pq.quantile_normalize,
    "cube_hillshade": dq.cube_hillshade,
    "cube_mask_components": dq.cube_mask_components,
    # --- wave 9 (B42, C76, D12-D13, E26, F35, A33, P49) ---
    "supplier_scorecard": analytics.supplier_scorecard,
    "window_funnel_strict": tsq.window_funnel_strict,
    "tfidf_cosine_pairs": lq.tfidf_cosine_pairs,
    "repeated_substrings": lq.repeated_substrings,
    "label_noise_knn": lq.label_noise_knn,
    "bpe_merge_candidates": lq.bpe_merge_candidates,
    "cube_local_moran": dq.cube_local_moran,
    "zorder_plan": pq.zorder_plan,
    # --- wave 8 (B40-B41, P47-P48, C75, E25, A30-A32) ---
    "customer_churn": analytics.customer_churn,
    "price_elasticity": analytics.price_elasticity,
    "mann_whitney": pq.mann_whitney,
    "dsir_weights": pq.dsir_weights,
    "psi_drift": tsq.psi_drift,
    "hard_negatives": lq.hard_negatives,
    "cube_lee_filter": dq.cube_lee_filter,
    "cube_otsu_threshold": dq.cube_otsu_threshold,
    "cube_morph_open": dq.cube_morph_open,
    # --- new this round (F28-F31) ---
    "bigram_logprob": lq.bigram_logprob,
    "heaps_fit": lq.heaps_fit,
    "code_detect": lq.code_detect,
    "stopword_profile": lq.stopword_profile,
    # --- new this round (E21-E23) ---
    "pq_adc_topk": lq.pq_adc_topk,
    "embed_drift": lq.embed_drift,
    "cosine_adjacent_hist": lq.cosine_adjacent_hist,
    # --- new this round (P40-P41) ---
    "truncation_loss": pq.truncation_loss,
    "shard_skew_report": pq.shard_skew_report,
    # --- new this round (C69-C70, F32, P43) ---
    "mean_shift_split": tsq.mean_shift_split,
    "dow_anova": tsq.dow_anova,
    "tokenizer_fertility": lq.tokenizer_fertility,
    "epoch_plan": pq.epoch_plan,
    # --- new this round (G7, E24, P45-P46) ---
    "media_frame_dedup": lq.media_frame_dedup,
    "pq_recall_eval": lq.pq_recall_eval,
    "quality_length_corr": pq.quality_length_corr,
    "split_leakage_check": pq.split_leakage_check,
    # --- new this round (B37, C71, F33, A27) ---
    "order_gap_stats": analytics.order_gap_stats,
    "active_streaks": tsq.active_streaks,
    "perplexity_buckets": lq.perplexity_buckets,
    "cube_coherence": dq.cube_coherence,
    # --- new this round (D11, B39, F34) ---
    "lsh_bucket_profile": lq.lsh_bucket_profile,
    "discount_uplift": analytics.discount_uplift,
    "blocklist_fuzzy": lq.blocklist_fuzzy,
    # --- new this round (C65-C68) ---
    "theil_sen_trend": tsq.theil_sen_trend,
    "ks_drift": tsq.ks_drift,
    "benford_deviation": tsq.benford_deviation,
    "record_days": tsq.record_days,
    # --- repaired/affected this round: driver must re-grade ---
    "survival_km": tsq.survival_km,
    "order_backlog": tsq.order_backlog,
    "vocab_stats": lq.vocab_stats,
    "dup_ngram_fraction": pq.dup_ngram_fraction,
    "dedup_minhash_lsh": lq.dedup_minhash_lsh,
    "dedup_clusters": pq.dedup_clusters,
    "cross_source_leakage": pq.cross_source_leakage,
    "dup_rate_by_source": pq.dup_rate_by_source,
    "curation_waterfall": pq.curation_waterfall,
    "vocab_coverage": lq.vocab_coverage,
    # --- no driver evidence yet ---
    "mmr_diversify": lq.mmr_diversify,
    "embed_pca_top": lq.embed_pca_top,
    "m4_downsample": tsq.m4_downsample,
    "pit_join_orders": tsq.pit_join_orders,
    "near_dup_diff": lq.near_dup_diff,
    "mad_outliers": tsq.mad_outliers,
    "dedup_threshold_curve": lq.dedup_threshold_curve,
    "part_pagerank": pq.part_pagerank,
    "zipf_fit": lq.zipf_fit,
    "chunk_dedup": lq.chunk_dedup,
    "acf_daily_value": tsq.acf_daily_value,
    "burst_detection": tsq.burst_detection,
    "seasonal_decompose": tsq.seasonal_decompose,
    "rollup_revenue": analytics.rollup_revenue,
    "sales_cube": analytics.sales_cube,
    "revenue_share_window": analytics.revenue_share_window,
    "asof_join": tsq.asof_join_orders,
    "asof_join_forward": tsq.asof_join_forward,
    "asof_join_nearest": tsq.asof_join_nearest,
    "gap_stats": tsq.gap_stats,
    "time_weighted_avg": tsq.time_weighted_avg,
    "conversion_lag": tsq.conversion_lag,
    "rapid_repeat_events": tsq.rapid_repeat_events,
    "scd2_intervals": tsq.scd2_intervals,
    "q12_ship_delay": analytics.q12_ship_delay,
    "q2_min_cost_supplier": analytics.q2_min_cost_supplier,
    "cube_completeness": dq.cube_completeness,
    "spatial_overlap_polygon": dq.spatial_overlap_polygon,
    "ewma_smooth": tsq.ewma_smooth,
    "event_paths": tsq.event_paths,
    "interval_coverage": tsq.interval_coverage,
    "changepoint_cusum": tsq.changepoint_cusum,
    "cube_change_detection": dq.cube_change_detection,
    "sequence_packing": pq.sequence_packing,
    "quality_gate_funnel": pq.quality_gate_funnel,
    "dedup_survivorship": pq.dedup_survivorship,
    "class_weights": pq.class_weights,
    "shard_manifest": pq.shard_manifest,
    "ngram_novelty": lq.ngram_novelty,
    "ann_recall_eval": lq.ann_recall_eval,
    "downsample_lttb": tsq.downsample_lttb,
    "weighted_sample": pq.weighted_sample,
    "embed_standardize": lq.embed_standardize,
    "seasonal_dow": tsq.seasonal_dow,
    "pareto_report": analytics.pareto_report,
    "cube_mosaic": dq.cube_mosaic,
    "feature_pivot": tsq.feature_pivot,
    "cdc_merge": tsq.cdc_merge,
    "dataset_card": pq.dataset_card,
    "dedup_exact": lq.dedup_exact,
    "dedup_ngram_jaccard": lq.dedup_ngram_jaccard,
    "dedup_simhash": lq.dedup_simhash,
    "dedup_embedding_cosine": lq.dedup_embedding_cosine,
    "dedup_containment": lq.dedup_containment,
    "fuzzy_name_pairs": lq.fuzzy_name_pairs,
    "embed_cosine_topk": lq.embed_cosine_topk,
    "embed_knn_label": lq.embed_knn_label,
    "embed_ann_lsh": lq.embed_ann_lsh,
    "embed_label_centroids": lq.embed_label_centroids,
    "embed_quantize": lq.embed_quantize,
    "centroid_similarity": lq.centroid_similarity,
    "embed_dim_stats": lq.embed_dim_stats,
    "embed_norm_outliers": lq.embed_norm_outliers,
    "embed_top_dims": lq.embed_top_dims,
    "lang_id": lq.lang_id,
    "quality_score": lq.quality_score,
    "token_count": lq.token_count,
    "doc_fingerprint": lq.doc_fingerprint,
    "repetition_stats": lq.repetition_stats,
    "gopher_quality": lq.gopher_quality,
    "term_commonness": lq.term_commonness,
    "bigram_lift": lq.bigram_lift,
    "doc_top_tfidf": lq.doc_top_tfidf,
    "langid_confusion": lq.langid_confusion,
    "sentence_stats": lq.sentence_stats,
    "char_profile": lq.char_profile,
    "multimodal_frames": lq.multimodal_frames,
    "multimodal_meta": lq.multimodal_meta,
    "train_test_split": pq.train_test_split,
    "stratified_sample": pq.stratified_sample,
    "pii_redact": pq.pii_redact,
    "topk_terms": pq.topk_terms,
    "doc_length_stats": pq.doc_length_stats,
    "decontaminate": pq.decontaminate,
    "temperature_resample": pq.temperature_resample,
    "source_mix": pq.source_mix,
    "topk_terms_per_lang": pq.topk_terms_per_lang,
    "length_histogram": pq.length_histogram,
    "dup_cluster_sizes": pq.dup_cluster_sizes,
    "sample_per_group": pq.sample_per_group,
    "profile_table": pq.profile_table,
    "corpus_matrix": pq.corpus_matrix,
    "source_balance_gini": pq.source_balance_gini,
    "length_deciles": pq.length_deciles,
    "user_features": pq.user_features,
    "skew_report": pq.skew_report,
    "hypertable_rollup": tsq.hypertable_rollup,
    "ohlc_bars": tsq.ohlc_bars,
    "anomaly_zscore": tsq.anomaly_zscore,
    "trend_slope": tsq.trend_slope,
    "cohort_retention": tsq.cohort_retention,
    "funnel_conversion": tsq.funnel_conversion,
    "value_percentiles": tsq.value_percentiles,
    "calendar_lag_features": tsq.calendar_lag_features,
    "running_total": tsq.running_total,
    "event_transitions": tsq.event_transitions,
    "rolling_active_users": tsq.rolling_active_users,
    "activity_heatmap": tsq.activity_heatmap,
    "coverage_report": tsq.coverage_report,
    "props_extract": tsq.props_extract,
    "value_histogram": tsq.value_histogram,
    "purchase_attribution": tsq.purchase_attribution,
    "approx_quantiles": tsq.approx_quantiles,
    "embed_ann_ivf": lq.embed_ann_ivf,
    "text_features": lq.text_features,
    "approx_profile": pq.approx_profile,
    "multimodal_features": lq.multimodal_features,
    # --- driver-green in r1/r2 ---
    "js_divergence_langs": lq.js_divergence_langs,
    "series_lead_lag": tsq.series_lead_lag,
    "dedup_incremental": lq.dedup_incremental,
    "cube_band_index": dq.cube_band_index,
    "bounce_rate": tsq.bounce_rate,
    "pq_code_balance": lq.pq_code_balance,
    "shard_checksums": pq.shard_checksums,
    "segment_migration": analytics.segment_migration,
    "max_drawdown": tsq.max_drawdown,
    "bollinger_bands": tsq.bollinger_bands,
    "label_agreement": lq.label_agreement,
    "embed_bucket_stats": lq.embed_bucket_stats,
    "peak_detection": tsq.peak_detection,
    "mix_drift": pq.mix_drift,
    "cube_hist_equalize": dq.cube_hist_equalize,
    "blocklist_filter": lq.blocklist_filter,
    "media_chunk_windows": lq.media_chunk_windows,
    "cube_coregister": dq.cube_coregister,
    "forecast_baseline_eval": tsq.forecast_baseline_eval,
    "quota_rebalance": pq.quota_rebalance,
    "embed_pq_codes": lq.embed_pq_codes,
    "cube_gradient": dq.cube_gradient,
    "minhash_eval_f1": lq.minhash_eval_f1,
    "focal_mean": dq.focal_mean,
    "corr_matrix": analytics.corr_matrix,
    "feature_binning": pq.feature_binning,
    "entropy_by_source": lq.entropy_by_source,
    "winsorize_values": tsq.winsorize_values,
    "zonal_stats": dq.zonal_stats,
    "cube_downsample": dq.cube_downsample,
    "bm25_topk": lq.bm25_topk,
    "skyline_parts": analytics.skyline_parts,
    "part_triangles": analytics.part_triangles,
    "mi_lang_source": lq.mi_lang_source,
    "chi2_terms": lq.chi2_terms,
    "media_prefix_dedup": lq.media_prefix_dedup,
    "unigram_logprob": lq.unigram_logprob,
    "curriculum_shards": pq.curriculum_shards,
    "multimodal_tiles": lq.multimodal_tiles,
    "minhash_accuracy": lq.minhash_accuracy,
    "kmeans_refine": lq.kmeans_refine,
    "cube_composite": dq.cube_composite,
    "cohort_ltv": analytics.cohort_ltv,
    "q1_pricing_summary": analytics.q1_pricing_summary,
    "q3_shipping_priority": analytics.q3_shipping_priority,
    "q5_local_supplier": analytics.q5_local_supplier,
    "q6_forecast_revenue": analytics.q6_forecast_revenue,
    "top_parts_by_revenue": analytics.top_parts_by_revenue,
    "q4_order_priority": analytics.q4_order_priority,
    "q10_returned_items": analytics.q10_returned_items,
    "q13_customer_distribution": analytics.q13_customer_distribution,
    "q14_promo_revenue": analytics.q14_promo_revenue,
    "q18_large_orders": analytics.q18_large_orders,
    "q7_volume_shipping": analytics.q7_volume_shipping,
    "q8_market_share": analytics.q8_market_share,
    "q15_top_supplier": analytics.q15_top_supplier,
    "q17_small_quantity": analytics.q17_small_quantity,
    "q19_disjunctive_revenue": analytics.q19_disjunctive_revenue,
    "q21_waiting_supplier": analytics.q21_waiting_supplier,
    "q22_global_sales": analytics.q22_global_sales,
    "q9_product_profit": analytics.q9_product_profit,
    "q11_important_stock": analytics.q11_important_stock,
    "q16_supplier_count": analytics.q16_supplier_count,
    "q20_excess_stock": analytics.q20_excess_stock,
    "rfm_segments": analytics.rfm_segments,
    "revenue_growth": analytics.revenue_growth,
    "basket_pairs": analytics.basket_pairs,
    "brand_spearman": analytics.brand_spearman,
    "ship_latency_quantiles": analytics.ship_latency_quantiles,
    "basket_lift": analytics.basket_lift,
    "metadata_summary": dq.metadata_summary,
    "spatial_bbox_join": dq.spatial_bbox_join,
    "cube_config_filter": dq.cube_config_filter,
    "cube_temporal_dedup": dq.cube_temporal_dedup,
    "cube_resample_gapfill": dq.cube_resample_gapfill,
    "cube_resample_interpolate": dq.cube_resample_interpolate,
    "cube_pivot": dq.cube_pivot,
    "metadata_concat": dq.metadata_concat,
    "spatial_overlap_1d": dq.spatial_overlap_1d,
    "labels_align": dq.labels_align,
    "labels_vector_align": dq.labels_vector_align,
    "cube_merge": dq.cube_merge,
    "sar_band_math": dq.sar_band_math,
    "sessionize": tsq.sessionize_events,
    "window_tumbling": tsq.window_tumbling,
    "rolling_daily_revenue": tsq.rolling_daily_revenue,
    "range_join_clicks": tsq.range_join_clicks,
}

_ORACLES: dict[str, str] = {}
_ORACLES.update(ANALYTICS_ORACLES)
_ORACLES.update(DATACUBE_ORACLES)
_ORACLES.update(TIMESERIES_ORACLES)
_ORACLES.update(LLM_ORACLES)
_ORACLES.update(PIPELINE_ORACLES)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return analytics.q1_pricing_summary(spark, "/root/testdata/sf0.001")


def _driver_green() -> frozenset[str]:
    """Keys fully green (rows, schema and hash) in any committed driver
    grade round — one ``CORRECTNESS_r{N}.json`` per round next to this
    file. Folding a round in means committing its file."""
    green = set()
    here = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        with open(path) as f:
            green.update(
                k for k, grade in json.load(f).items()
                if all(grade.get(m) for m in ("rows_match", "schema_match", "hash_match"))
            )
    return frozenset(green)


_DRIVER_GREEN = _driver_green()

# Keys that deliberately carry NO DuckDB oracle (rows-only grade by
# design — each is pinned by a numpy-twin/property pytest instead).
_NO_ORACLE = frozenset(_QUERIES.keys() - _ORACLES.keys())


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Never-graded oracle keys first, then the rows-only keys, then the
    # driver-green keys, each tier in _QUERIES order.
    def tier(k: str) -> int:
        return 1 if k in _NO_ORACLE else 2 if k in _DRIVER_GREEN else 0

    return {k: _QUERIES[k] for k in sorted(_QUERIES, key=tier)}


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)
