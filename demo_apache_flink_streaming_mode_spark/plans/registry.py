"""Merged query registry — the engine's judged surface.

``queries()`` / ``oracle_sql()`` feed ``__spark_entry__.py`` (the
driver contract); tests and bench.py iterate the same registry.

Window policy
-------------
The driver's correctness gate verifies at most the FIRST 50 registry
entries, so ordering is an allocation decision and is made explicit:
``_VERIFY_WINDOW`` pins exactly which 50 queries receive a driver
CORRECTNESS row, in a fixed order.  Allocation rules:

* Every §2 reference-operator row (T/A/J/ST/W/CEP) is pinned in the
  window — the judged core never rotates out.
* The other 34 slots are governed by the coverage SLO (round 6, see
  ``SLO_MAX_STALE_ROUNDS`` below): every operator family must have a
  green driver row within the last ``SLO_MAX_STALE_ROUNDS`` rounds or
  a member in the current window.  The slots go first to queries that
  have never had a driver row, then to the families closest to
  ageing out.  The SLO superseded the round-4 rule that every family
  beyond §2 keeps a permanent representative in the window: there
  are 34 such families for 34 free slots, so that rule would leave no
  slot for a never-attested query.  The window rotates instead.
* Only queries with an oracle may take a slot (asserted below): the
  driver has nothing to compare an oracle-less query with, so its slot
  would earn no attestation.
* ``tests/test_registry_slo.py`` checks the window against the
  committed ``CORRECTNESS_r*.json`` history, and the
  ``len(_VERIFY_WINDOW) == 50`` assert below makes a silent
  spill past the gate impossible.

Tail entries are not unverified: ``tests/test_correctness.py`` mirrors
the driver's DuckDB comparison over the FULL registry at sf0.001, and
``tools/driver_check.py`` repeats it at sf0.01.
"""

from __future__ import annotations

from demo_apache_flink_streaming_mode_spark.plans import (
    queries_events, queries_llm, queries_scale, queries_tpch)
from demo_apache_flink_streaming_mode_spark.plans.base import Query, QueryFn

_MERGED: list[Query] = (
    queries_events.QUERIES + queries_tpch.QUERIES + queries_llm.QUERIES
    + queries_scale.QUERIES
)

# The 50 driver-verified queries, in driver order.  See module
# docstring for the allocation rules.
_VERIFY_WINDOW: tuple[str, ...] = (
    # -- §2 reference core (pinned, never rotates out) -----------------
    "t1_parse_project",
    "t2_filter",
    "t3_split_main",
    "t4_merge",
    "a2_running_total",
    "a3_tumbling_count_global",
    "a4_tumbling_count_keyed",
    "a5_sliding_stats",
    "a6_session_stats",
    "a7_keyed_agg",
    "j1_window_join",
    "j2_asof_click_view",
    "st1_repeat_action_alert",
    "st2_action_durations",
    "w3_late_classify",
    "cep_funnel",
    #
    # == r13 ROTATION (the r12 rotation slipped) =======================
    # The r11 rotation wrote a schedule for r12: refresh the nine
    # families last attested in r8 and start on the never-attested
    # tail, finishing it in r13.  It was never applied: the r12 driver
    # ran the r11 window again (CORRECTNESS_r12.json holds the same 50
    # rows as r11), so the nine r8 families aged out of the SLO and the
    # window delivered no first attestation.
    #
    # This rotation folds the r13 "tail of the tail" into the slipped
    # r12 one.  All 34 r11 slots are demoted: every one of them has an
    # r12 green row, so its family stays SLO-fresh through r15.  The
    # 34 slots go to:
    #   17  every never-attested query that has an oracle;
    #    5  refreshes of the r8 families those 17 do not cover
    #       (timeseries, sketches_hll, sketches_cms, graph, quantiles);
    #    5  one member of each family last attested in r9
    #       (dedup_simhash, dedup_media, decontam, data_selection,
    #       drift), which would age out when the r13 artifact lands;
    #    7  seven of the nine families last attested in r10.
    # An r8 refresh re-runs the member whose r8 row last attested the
    # family.  In the r9 and r10 families the slot goes to the member
    # whose last green row is oldest, so attestation spreads over
    # members.
    #
    # NEXT SCHEDULE (r14 window):
    #   * prototypes and dedup_embedding, the two r10 families left out
    #     here, MUST take a slot: both age out when the r14 artifact
    #     lands.  They were deferred because each has two members
    #     green in r9-r10, the deepest recent coverage of the nine.
    #   * events_value_quantiles_approx is the one query that has never
    #     had a driver row, and it cannot earn one while it has no
    #     oracle (its sketch internals are checked against the exact
    #     quantiles by a rank-error band in tests/test_scale_ops.py).
    #     Its family stays fresh through events_value_quantiles.
    #   * tpch, join_layout, curation, ml_filter, multimodal and
    #     parquet_meta were last attested in r12 and have no member
    #     here; each needs a slot by the r16 window.
    # ==================================================================
    #
    # -- never attested before: first driver rows ----------------------
    "a8_state_intervals",
    "a9_value_histogram",
    "a10_moving_avg",
    "cep_action_bigrams",
    "cep_funnel_rates",
    "dedup_incremental",
    "dedup_source_overlap",
    "dedup_jaccard_report",
    "sim_knn_label_vote_exact",
    "sim_quantize_int8",
    "sim_eval_retrieval",
    "sim_topk_ivf_probe2",
    "text_cdc_chunks",
    "text_bpe_encode",
    "text_shard_report",
    "text_stratified_sample",
    "orders_fingerprint",
    # -- r8 families not covered above ----------------------------------
    "j6_moving_features",
    "sketch_hll_merge",
    "sketch_cms_heavy_hitters",
    "graph_triangles",
    "events_value_quantiles",
    # -- r9 families ------------------------------------------------------
    "dedup_simhash",
    "dedup_phash_media",
    "text_decontam",
    "text_dsir_select",
    "text_source_drift",
    # -- r10 families (prototypes, dedup_embedding deferred to r14) ------
    "a11_count_window",
    "text_dup_spans",
    "dedup_clusters",
    "text_repetition",
    "text_winnow",
    "text_pii_redact",
    "cl_latest_state",
)
assert len(_VERIFY_WINDOW) == 50, (
    f"verify window must be exactly 50 entries, got {len(_VERIFY_WINDOW)}")
assert len(set(_VERIFY_WINDOW)) == 50, "duplicate names in verify window"
assert set(_VERIFY_WINDOW) <= {q.name for q in _MERGED}, (
    "verify window names missing from registry: "
    f"{set(_VERIFY_WINDOW) - {q.name for q in _MERGED}}")

_BY_MERGED_NAME: dict[str, Query] = {q.name: q for q in _MERGED}
assert len(_BY_MERGED_NAME) == len(_MERGED), "duplicate query names"
assert all(_BY_MERGED_NAME[n].oracle is not None for n in _VERIFY_WINDOW), (
    "verify window queries without an oracle earn no driver row: "
    f"{[n for n in _VERIFY_WINDOW if _BY_MERGED_NAME[n].oracle is None]}")

ALL_QUERIES: list[Query] = (
    [_BY_MERGED_NAME[n] for n in _VERIFY_WINDOW]
    + [q for q in _MERGED if q.name not in set(_VERIFY_WINDOW)]
)

_BY_NAME: dict[str, Query] = {q.name: q for q in ALL_QUERIES}

FLAGSHIP = "a4_tumbling_count_keyed"

# --- Coverage SLO (round 6) ----------------------------------------------
# The registry outgrew the fixed 50-slot verify window (131 queries at
# r6), so tail coverage is now governed by a written SLO instead of ad
# hoc rotation: every operator FAMILY below must have at least one
# member with a driver CORRECTNESS row within the last
# ``SLO_MAX_STALE_ROUNDS`` rounds, or a member in the CURRENT window
# (which earns its row this round).  ``tests/test_registry_slo.py``
# parses the committed ``CORRECTNESS_r*.json`` history and fails the
# suite when a family ages out — growth without rotation is no longer
# silent.  FAMILIES partitions the registry exactly (asserted below),
# so adding a query without assigning a family is also a test failure.
SLO_MAX_STALE_ROUNDS = 4

FAMILIES: dict[str, tuple[str, ...]] = {
    "core_transforms": ("t1_parse_project", "t2_filter", "t3_split_main",
                        "t3_split_side", "t4_merge", "t5_json_props_stats"),
    "core_windows": ("a2_running_total", "a3_tumbling_count_global",
                     "a4_tumbling_count_keyed", "a5_sliding_stats",
                     "a6_session_stats", "a7_keyed_agg",
                     "a9_value_histogram", "a10_moving_avg",
                     "a13_dynamic_session"),
    "count_windows": ("a11_count_window", "a12_sliding_count_window"),
    "keyed_state": ("st1_repeat_action_alert", "st2_action_durations",
                    "a8_state_intervals", "w3_late_classify"),
    "cep": ("cep_funnel", "cep_funnel_rates", "cep_action_bigrams"),
    "stream_joins": ("j1_window_join", "j1_window_join_left",
                     "j2_asof_click_view", "j3_interval_join"),
    "timeseries": ("j4_resample_1h", "j5_resample_interp_1h",
                   "j6_moving_features"),
    "tpch": ("q1_pricing_summary", "q2_min_cost_supplier",
             "q3_shipping_priority", "q4_late_shipments",
             "q5_local_supplier_volume", "q6_forecast_revenue",
             "q7_volume_shipping", "q8_market_share", "q9_product_profit",
             "q10_returned_items", "q11_important_stock",
             "q12_priority_by_returnflag", "q13_order_distribution",
             "q14_promo_revenue", "q15_top_supplier", "q16_supplier_count",
             "q17_small_quantity_revenue", "q18_large_orders",
             "q19_disjunctive_pricing", "q20_promotion_candidates",
             "q21_waiting_supplier", "q22_idle_balance",
             "q_top3_parts_per_brand", "q_customers_with_big_order",
             "q_customers_without_orders", "q_distinct_parts_per_supplier",
             "q_rollup_status", "q_cube_status", "q_pivot_status",
             "q_set_ops", "q_sql_text_interface"),
    "join_layout": ("q_bucketed_join_priority", "q_salted_join_priority"),
    "dedup_exact": ("dedup_exact", "dedup_quality_keeper",
                    "dedup_incremental"),
    "span_dedup": ("text_dup_spans", "dedup_incremental_spans",
                   "text_strip_boilerplate"),
    "dedup_minhash": ("dedup_minhash_lsh", "dedup_ngram_jaccard",
                      "dedup_jaccard_report", "dedup_source_overlap",
                      "dedup_incremental_near", "dedup_minhash_recall",
                      "dedup_jaccard_exact", "dedup_incremental_jaccard"),
    "dedup_clusters": ("dedup_clusters", "dedup_cluster_keeper"),
    "dedup_simhash": ("dedup_simhash", "dedup_simhash_pairs"),
    "dedup_media": ("dedup_phash_media", "dedup_incremental_phash"),
    "dedup_embedding": ("dedup_embedding_cosine", "dedup_cosine_lsh",
                        "dedup_semantic", "dedup_semantic_recall",
                        "dedup_incremental_semantic"),
    "decontam": ("text_decontam", "text_decontam_bloom",
                 "text_decontam_fuzzy"),
    "ann_topk": ("sim_topk_bruteforce", "sim_ann_lsh", "sim_topk_ivf",
                 "sim_topk_binary",
                 "sim_topk_ivf_trained", "sim_topk_ivf_probe2",
                 "sim_topk_pq", "sim_topk_pq_rerank", "sim_topk_ivfpq",
                 "sim_topk_ivfpq_rerank",
                 "sim_recall_rerank", "sim_recall_ann",
                 "sim_eval_retrieval"),
    "ann_int8": ("sim_topk_int8", "sim_quantize_int8"),
    "knn_label": ("sim_knn_label_vote", "sim_knn_label_vote_exact",
                  "sim_knn_agreement"),
    "text_tokens": ("text_token_stats", "text_term_counts",
                    "text_bpe_stats", "text_bpe_train", "text_bpe_encode",
                    "text_tfidf", "text_bm25", "text_lm_familiarity"),
    "text_signals": ("text_langid", "text_quality", "text_quality_pct_rank",
                     "text_quality_rules", "text_repetition",
                     "text_ngram_diversity", "text_length_buckets"),
    "text_fingerprint": ("text_fingerprint", "text_winnow",
                         "dedup_winnow_pairs"),
    "text_sampling": ("text_split_assign", "text_mixture_sample",
                      "text_mixture_plan",
                      "text_stratified_sample", "text_pack_shards",
                      "text_pack_sequences", "text_shard_report"),
    "data_selection": ("text_dsir_select",),
    "drift": ("text_source_drift",),
    "prototypes": ("corpus_prototypes", "text_cluster_sample"),
    "pii": ("text_pii_redact",),
    "curation": ("corpus_clean", "corpus_report", "corpus_topics",
                 "corpus_curation_decisions"),
    "ml_filter": ("ml_quality_probe", "ml_quality_gd", "ml_quality_logit",
                  "ml_quality_apply", "ml_quality_calibration",
                  "ml_quality_pipeline"),
    "sketches_hll": ("sketch_hll_users", "sketch_hll_merge",
                     "sketch_hll_windowed"),
    "sketches_cms": ("sketch_cms_terms", "sketch_cms_heavy_hitters"),
    "cdc_chunking": ("text_cdc_chunks", "dedup_cdc_chunks"),
    "quantiles": ("events_value_quantiles", "events_value_quantiles_approx"),
    "events_ops": ("events_anomalies", "events_retention_cohorts",
                   "events_key_skew_report", "events_zorder_stats",
                   "orders_fingerprint"),
    "changelog": ("cl_latest_state", "cl_state_summary"),
    "multimodal": ("mm_manifest", "mm_decode_features", "mm_decode_wav",
                   "mm_decode_image", "mm_decode_png", "mm_decode_gif",
                   "mm_decode_jpeg",
                   "mm_decode_video", "mm_decode_mjpeg", "mm_decode_flac",
                   "mm_decode_flic", "mm_decode_mdct", "mm_decode_mcv",
                   "mm_decode_mcv2", "mm_decode_mcv3", "mm_decode_mcv4",
                   "mm_decode_pac", "mm_decode_gzip", "mm_decode_bz2",
                   "mm_archive_zip", "mm_archive_tgz", "mm_resize",
                   "mm_frames"),
    "graph": ("graph_pagerank", "graph_triangles"),
    "parquet_meta": ("meta_parquet_footer",),
}

_FAM_MEMBERS = [n for members in FAMILIES.values() for n in members]
assert len(_FAM_MEMBERS) == len(set(_FAM_MEMBERS)), (
    "a query appears in more than one family")
assert set(_FAM_MEMBERS) == set(_BY_NAME), (
    "FAMILIES must partition the registry exactly; diff: "
    f"{set(_FAM_MEMBERS) ^ set(_BY_NAME)}")


def get(name: str) -> Query:
    return _BY_NAME[name]


def queries() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in ALL_QUERIES}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in ALL_QUERIES if q.oracle is not None}
