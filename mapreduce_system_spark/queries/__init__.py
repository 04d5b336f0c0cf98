"""Registered query catalog, one module per domain.

Importing this package registers every domain module's queries into
``mapreduce_system_spark.registry.QUERIES`` / ``ORACLE_SQL``. The driver's
correctness gate covers the first 50 entries of ``QUERIES``;
``DRIVER_WINDOW`` names them, and the package moves them to the front after
the imports, so the gate's composition is this list, not import order.
The remaining queries follow in registration order; ``relational`` is
imported first so its tail opens the next window. Rotating the gate means
editing ``DRIVER_WINDOW``.
"""

from __future__ import annotations

from mapreduce_system_spark.queries import (  # noqa: F401
    relational,
    aggregates,
    dedup,
    graph,
    mrcore,
    multimodal,
    pipeline,
    similarity,
    sinks,
    streaming,
    temporal,
    text,
)
from mapreduce_system_spark.registry import QUERIES

DRIVER_WINDOW = [
    "graph_k_truss",
    "txt_pmi_collocations",
    "graph_label_propagation",
    "pipe_strip_boilerplate",
    "dedup_tfidf_cosine_pairs",
    "graph_triangle_count",
    "rel_sql_api_q8_market_share",
    "fn_ewma_user_value",
    "fn_linear_interpolate_daily",
    "pipe_incremental_dedup",
    "rel_table_profile",
    "rel_not_exists_subquery",
    "agg_grouped_mode_argmax",
    "txt_bigram_surprisal",
    "fn_cohort_retention",
    "txt_vocab_coverage",
    "graph_degree_distribution",
    "dedup_sorted_neighborhood",
    "txt_kneser_ney_surprisal",
    "sim_topk_bruteforce",
    "sim_topk_ivf",
    "sim_topk_ivf_exact",
    "sim_topk_lsh",
    "cluster_kmeans_assign",
    "cluster_kmeans_ivf_topk",
    "sim_dup_pairs_cosine",
    "emb_random_projection_profile",
    "sim_topk_pq",
    "mm_image_rgb_stats",
    "sink_partitioned_roundtrip",
    "scan_csv_json_roundtrip",
    "sink_bucketed_join_roundtrip",
    "scan_orc_roundtrip",
    "sink_dpp_join_pruned",
    "dedup_exact",
    "dedup_jaccard_pairs",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "dedup_cluster_survivors",
    "dedup_editdistance_pairs",
    "dedup_crossmodal_agreement",
    "dedup_paraphrase_candidates",
    "rel_broadcast_join_region_revenue",
    "rel_join_fact_fact",
    "rel_semi_join",
    "rel_anti_join",
    "rel_sql_api_q3",
    "rel_topk_per_group",
    "rel_running_agg",
    "rel_window_lag_rank",
]

_unknown = [n for n in DRIVER_WINDOW if n not in QUERIES]
if _unknown:
    raise ValueError(f"DRIVER_WINDOW names unregistered queries: {_unknown}")
_window = {n: QUERIES[n] for n in DRIVER_WINDOW}
_rest = {n: fn for n, fn in QUERIES.items() if n not in _window}
QUERIES.clear()
QUERIES.update(_window)
QUERIES.update(_rest)
