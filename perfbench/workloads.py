"""The four workloads: which registry queries or pipelines, and on what.

Every workload keeps its work fixed across seeds; the seed changes only
the generated values. Batch queries are one per registry family the
workload covers (two for TPC-H), chosen so that one pass takes a few
seconds on four cores. ``BENCHMARK.json`` lists only ``ref_ops`` and
``stream_replay``: a run costs 50-70 s on four shared cores, mostly
JVM start, the three set-ups and the settling passes, and the full set
of 4 + 22 runs per workload has to fit its time budget; ``llm_train``
and ``media_decode`` run the same way.
"""

from __future__ import annotations

# Scale of the generated batch tables (TPC-H convention: lineitem holds
# 6e6 * DATA_SF rows; events 1e6 * DATA_SF; documents and embeddings
# never fewer than 500).
DATA_SF = 0.005

_TPCH = ("region", "nation", "customer", "supplier", "part", "orders",
         "lineitem")

# name -> (registry queries in pass order, tables read)
BATCH: dict[str, tuple[tuple[str, ...], tuple[str, ...]]] = {
    # Spark-native reference surface + TPC-H: scans, exchanges,
    # Catalyst and per-query fixed cost; no Python kernels.
    "ref_ops": ((
        "t5_json_props_stats",          # core_transforms
        "a6_session_stats",             # core_windows
        "cep_funnel",                   # cep
        "events_value_quantiles_approx",  # quantiles (no oracle)
        "q1_pricing_summary",           # tpch
        "q8_market_share",              # tpch: jobs during construction
    ), ("events",) + _TPCH),
    # Eager training / iteration jobs run while the query is built.
    "llm_train": ((
        "ml_quality_calibration",       # ml_filter
        "graph_triangles",              # graph
        "dedup_semantic",               # dedup_embedding
    ), ("documents", "embeddings")),
    # Arrow mapInPandas kernels in Python workers.
    "media_decode": ((
        "mm_decode_wav",                # multimodal
        "dedup_phash_media",            # dedup_media
        "meta_parquet_footer",          # parquet_meta
    ), ("documents",)),
}

# stream_replay: events drained closed-loop through three pipelines.
STREAM = {
    "stream_replay": {"rows": 12_000, "users": 120, "n_files": 12,
                      "files_per_trigger": 2, "warm_files": 1},
}

NAMES = tuple(BATCH) + tuple(STREAM)
