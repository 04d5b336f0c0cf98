"""Fixture-decade scaling curve for the newest query additions.

The scale probe (`tools/scale_probe.py`) covers the dedup/similarity
candidate generators on a synthetic 10× corpus. The queries listed
below — round 8's additions, plus agg_moments_profile, which landed
after the r7 record was finalized (ADVICE r7 #1) — lean on the fixture
tables (events, orders/lineitem,
documents, embeddings), all of which ship at three scale factors —
sf0.001 / sf0.01 / sf0.1, a real 100× span — so their scaling evidence
can come straight from the driver-generated fixtures, no synthetic
corpus needed.

For each query this runs median-of-N wall time at every decade and
reports the 0.01→0.1 growth factor (the first decade is dominated by
fixed per-query cost: stage scheduling, codegen, broadcast setup — the
last decade is where the data term shows). A query whose plan hid a
quadratic term (all-pairs join, per-key blowup) would show a ≫10×
last-decade factor; the linear-shape hypothesis predicts ≤10×.

Usage::

    python tools/fixture_decades.py [runs]

Writes bench_runs/fixture_decades_r8.json and prints a markdown table
(consumed by BASELINE_HISTORY.md §(i)/(j)).
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entry_mod  # noqa: E402

from mapreduce_system_spark import caches  # noqa: E402
from mapreduce_system_spark.session import get_spark  # noqa: E402

QUERIES = [
    "agg_moments_profile",   # r7 late addition — first scaling record (ADVICE r7 #1)
    "graph_pagerank_dangling",
    "sink_merge_upsert",
    "txt_kl_divergence",
    "txt_entropy_quality",
    "txt_bigram_cond_entropy",
    "txt_zipf_slope",
    "pipe_stratified_sample",
    "pipe_source_mix_weights",
    "dedup_containment_pairs",
    "rel_histogram_equi_width",
    "rel_window_cume_ntile",
    "asof_join_nearest",
    "emb_hof_vector_stats",
    # changed-this-round r7 queries, re-curved after their broadcast fixes
    "txt_bm25_topk",
    "txt_unigram_surprisal",
    "emb_int8_quantize_error",
    # the round-8 additions
    "emb_centroid_outliers",
    "rel_scalar_subquery_q17",
    "graph_triangle_count",
    "rel_sql_api_q8_market_share",
    "fn_ewma_user_value",
    "fn_linear_interpolate_daily",
    "pipe_incremental_dedup",
    "rel_table_profile",
    "rel_not_exists_subquery",
    "agg_grouped_mode_argmax",
    "txt_bigram_surprisal",
    "graph_bfs_reachability",
    "agg_grouped_linreg",
    "fn_time_weighted_avg",
    "rel_histogram_equi_depth",
    "rel_skew_profile",
    "rel_snapshot_diff",
    "pipe_group_kfold",
    "txt_ttr_lexical_diversity",
    "emb_centroid_distance_matrix",
    "fn_moving_window_stats",
    "fn_cohort_retention",
    "txt_vocab_coverage",
    "graph_degree_distribution",
    "sink_bucket_pruned_lookup",
    "pipe_source_manifest",
    "rel_pit_join_scd2",
    "agg_mad_outliers",
    "fn_ohlc_hourly",
    "pipe_keep_latest_k",
    "emb_pca_power_iteration",
]

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def main() -> int:
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    spark = get_spark("fixture_decades")
    qs = entry_mod.queries()

    # warm-up sweep (JVM/codegen/broadcast caches) outside the clock
    for name in QUERIES:
        qs[name](spark, SF_DIRS[0]).write.format("noop").mode("overwrite").save()
        caches.release()

    record: dict[str, dict] = {}
    for name in QUERIES:
        per_sf: dict[str, float] = {}
        for sf_dir in SF_DIRS:
            samples = []
            for _ in range(runs):
                t0 = time.perf_counter()
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                samples.append(time.perf_counter() - t0)
                caches.release()
            per_sf[Path(sf_dir).name] = round(statistics.median(samples), 3)
        growth = (
            round(per_sf["sf0.1"] / per_sf["sf0.01"], 2)
            if per_sf["sf0.01"] > 0
            else -1.0
        )
        record[name] = {**per_sf, "last_decade_x": growth}
        print(
            f"| {name} | {per_sf['sf0.001']} | {per_sf['sf0.01']} | "
            f"{per_sf['sf0.1']} | {growth} |",
            flush=True,
        )

    out = REPO / "bench_runs" / "fixture_decades_r8.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps({"runs": runs, "queries": record}, indent=1, sort_keys=True) + "\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
