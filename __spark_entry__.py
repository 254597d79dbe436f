"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship exact-cosine-KNN query at sf0.001;
``queries()`` / ``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 (keys are the §2 ids) with matching DuckDB oracle SQL.
Implementation lives in ``tripgogo_vector_search_spark``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tripgogo_vector_search_spark.plans import registry as _registry  # noqa: E402
from tripgogo_vector_search_spark.plans.flagship import flagship_query  # noqa: E402

SF0001 = "/root/testdata/sf0.001"

# Keys surfaced first to the driver's correctness gate (which checks a
# bounded prefix of this dict per round): queries not yet covered by a
# prior-round artifact, then queries whose behavior changed this round.
# Everything else (already driver-verified, unchanged) follows in
# registration order.
_CHECK_FIRST = [
    # Head = keys whose plan, index leaf or source closure moved in
    # the last change (drift gate: tests/test_plan_manifest.py), then
    # the stale-row rotation (oldest first per tools/rotation.py).
    #
    # CHANGED plan (one exact cosine top-k — results identical): every
    # constant-query search now ends in operators/knn.py:knn_topk, whose
    # distance hoists the query norm into a literal (same fold, 0
    # mismatching doubles); the ANN searches prune, then call it.
    "ann_lsh", "ann_ivf", "filtered_knn", "ivfpq_topk",
    "corpus_refresh_cycle",
    # CHANGED closure / index leaf only (same change, plans identical):
    # both vectorized joins share one Arrow-batch kernel and rank
    # window (operators/simjoin.py); the driver-side cosine picking IVF
    # probes is one function (functions/vector.py) shared by ann.py
    # and ivfpq_topk; the centroid frame and the ADC lookup table are
    # built once. Index builders in ann.py moved, so their readers'
    # leaf digests moved.
    "sim_join", "sim_join_gemm", "knn_label_accuracy", "ann_knn_join",
    "ann_recall_eval", "ann_index_occupancy", "ivfpq_recall_eval",
    "pq_adc_topk", "pq_encode_error", "semdedup", "llm_generate",
    # CHANGED (refresh_and_compact_store counts the retired rows its
    # upsert rewrite drops; store state identical):
    "refresh_compact_cycle", "index_compact",
    # CHANGED closure only (no plan change at the pinned width):
    # partitioning.widen(), fuzzy.py's probe exchange and the rank /
    # quantile bucket counts take shuffle_width() instead of the core
    # count, so plans no longer carry the host's width; shuffle_width
    # and streaming default_state_partitions reject values below 1.
    "approx_quantiles", "ccnet_ppl_buckets", "containment_join",
    "dedup_cluster_examples", "dedup_components", "dedup_keep_best",
    "dedup_pair_audit_sample", "dup_ngram_fraction", "embed_text",
    "jaccard_topk_per_doc", "media_decode_dispatch",
    "media_quality_gate", "media_quality_gate_multiformat", "median_agg",
    "median_impute", "minhash_dedup", "minhash_refresh",
    "multimodal_bmp_rle_stats", "multimodal_gif_interlaced_stats",
    "multimodal_gif_stats", "multimodal_jpeg_411_stats",
    "multimodal_jpeg_420_stats", "multimodal_jpeg_422_stats",
    "multimodal_jpeg_color_stats", "multimodal_jpeg_progressive_stats",
    "multimodal_jpeg_stats", "multimodal_png_interlaced_stats",
    "multimodal_png_stats", "near_dup_cluster_stats",
    "near_dup_cross_source", "ngram_jaccard", "ngram_jaccard_prefix",
    "novelty_by_source", "percentile_cont_exact", "quality_gate",
    "quartile_agg", "shingle_df_histogram", "simhash_dedup",
    "simhash_hamming_dedup", "stream_dedup", "stream_embed",
    "stream_event_alert", "stream_hop_window", "stream_media_decode",
    "stream_media_dispatch", "stream_minhash_probe",
    "stream_quality_filter", "stream_session_window", "stream_sessionize",
    "stream_static_join", "stream_stream_join", "stream_window_agg",
    "value_outlier_iqr",
    # ROTATION (VERDICT r16 list #6). Oldest first per
    # tools/rotation.py. The changed head above is 71 keys, wider than
    # the 50-key driver window, so this tail is reached only by a wider
    # window: the r10 cohort remainder in full, then the r11 remainder.
    # Plans unchanged — the drift gate pins them.
    # r10 (complete remainder, alphabetical = registry order):
    "array_funcs", "boilerplate_ngrams", "case_when", "chunk_docs",
    "collect_agg", "correlated_subquery", "date_funcs", "decontaminate",
    "dup_paragraph_fraction", "dup_paragraph_removal", "explode_tokens",
    "minhash_band_recall", "minhash_jaccard_estimate",
    "minhash_threshold_sweep", "multimodal_magic_audit",
    "quality_by_length_decile", "repetition_filter", "scalar_funcs",
    "scalar_subquery", "set_ops_all", "split_contamination_audit",
    "string_funcs",
    # r11 (remainder not already queued above):
    "argmax_agg", "cdc_upsert", "embedding_drift", "entropy_score",
    "event_gap_stats", "funnel_stages", "gopher_quality_gate",
    "grouped_agg_udaf", "histogram_fixed_bins", "hll_union_rollup",
    "incremental_dedup", "json_scan", "label_centroids", "like_filter",
    "map_funcs", "mode_agg", "multimodal_wav_stats",
    "normalize_text", "ntile_bands", "null_funcs", "orders_rfm",
    "pack_sequences", "partitioned_sink", "pii_redact", "pivot_table",
    "regex_funcs", "salted_join", "schema_evolution",
    "session_window_agg", "skew_stats", "time_weighted_avg",
    "tpch_q11", "tpch_q16", "tpch_q2", "tpch_q20", "tpch_q21",
    "udtf_ngrams", "vector_distances", "xml_roundtrip",
]



def _ordered(d: dict) -> dict:
    head = {k: d[k] for k in _CHECK_FIRST if k in d}
    return head | {k: v for k, v in d.items() if k not in head}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship_query(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(_registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    return _ordered(_registry.ORACLES)
