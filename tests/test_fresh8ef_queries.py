"""Round-8 fresh8e/fresh8f queries — semantic pins beyond the DuckDB
oracle: known-graph triangle counts, decorrelation plan shapes, EWMA
recurrence equivalence, interpolation bracketing, and the broadcast
discipline the scale story depends on."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from mapreduce_system_spark.plans.checks import formatted_plan
from tests.conftest import SF_DIR, SF_DIR_MID

# ---------------------------------------------------------------------------
# triangle_stats (operator) + graph_triangle_count (query)
# ---------------------------------------------------------------------------


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "u long, v long"
    )


def test_triangle_stats_on_k4(spark):
    """K4: C(4,3)=4 triangles, every wedge closed → transitivity 1."""
    from mapreduce_system_spark.operators.graph import triangle_stats

    k4 = _edges(spark, [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)])
    row = triangle_stats(k4).collect()[0]
    assert row["n_nodes"] == 4
    assert row["n_edges"] == 6
    assert row["n_triangles"] == 4
    assert row["n_wedges"] == 12
    assert row["transitivity"] == 1.0


def test_triangle_stats_on_path_has_no_triangles(spark):
    from mapreduce_system_spark.operators.graph import triangle_stats

    path = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    row = triangle_stats(path).collect()[0]
    assert row["n_triangles"] == 0
    assert row["transitivity"] == 0.0
    assert row["n_wedges"] == 3  # the three interior nodes


def test_triangle_stats_wedge_free_graph_transitivity_zero(spark):
    """A perfect matching has zero wedges; transitivity must be an
    explicit 0.0 on both engines, not Spark-NULL-vs-DuckDB-NaN (the
    unguarded 3·tri/wedges division diverges cross-engine on x/0)."""
    from mapreduce_system_spark.operators.graph import triangle_stats

    matching = _edges(spark, [(1, 2), (3, 4), (5, 6)])
    row = triangle_stats(matching).collect()[0]
    assert row["n_wedges"] == 0
    assert row["n_triangles"] == 0
    assert row["transitivity"] == 0.0


def test_triangle_stats_hub_plus_one_closure(spark):
    """A star (hub 1, leaves 2..6) plus one leaf-leaf edge: exactly the
    one triangle that edge closes, counted once — the case a
    double-counting orientation bug would inflate."""
    from mapreduce_system_spark.operators.graph import triangle_stats

    g = _edges(spark, [(1, 2), (1, 3), (1, 4), (1, 5), (1, 6), (2, 3)])
    row = triangle_stats(g).collect()[0]
    assert row["n_triangles"] == 1
    # hub wedges C(5,2)=10, plus one wedge at each of nodes 2 and 3
    assert row["n_wedges"] == 12


def test_triangle_query_plan_has_no_cartesian(spark):
    """Every join in the census must be an equi-join (the crossJoins are
    1-row broadcast assemblies) — a Cartesian/BNLJ over edges is the
    Θ(E²) failure mode."""
    from mapreduce_system_spark.queries.graph import q_triangle_count

    plan = formatted_plan(q_triangle_count(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # the closure probe must HASH the edge side, not sort-merge: the
    # wedge stream is the E·arboricity (always-larger) relation, and a
    # planner fallback to SMJ would re-introduce the 41M-row sort the
    # shuffle_hash hint removes (measured 23% of the probe stage)
    assert "ShuffledHashJoin" in plan, plan


# ---------------------------------------------------------------------------
# rel_scalar_subquery_q17 — decorrelation
# ---------------------------------------------------------------------------


def test_q17_matches_explicit_two_pass_formulation(spark):
    """The correlated scalar subquery must equal the hand-decorrelated
    two-pass query (per-part avg, joined back, filtered, rolled up)."""
    from mapreduce_system_spark.queries.relational import q_scalar_subquery_q17
    from mapreduce_system_spark.sources.tables import load_table

    got = q_scalar_subquery_q17(spark, SF_DIR_MID)
    li = load_table(
        spark, SF_DIR_MID, "lineitem",
        columns=["l_partkey", "l_quantity", "l_extendedprice"],
    )
    part = load_table(spark, SF_DIR_MID, "part", columns=["p_partkey", "p_brand"])
    avgs = li.groupBy("l_partkey").agg((0.5 * F.avg("l_quantity")).alias("cut"))
    manual = (
        li.join(avgs, "l_partkey")
        .where(F.col("l_quantity") < F.col("cut"))
        .join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n_small_lots"),
            F.round(F.sum("l_extendedprice"), 2).alias("small_lot_revenue"),
        )
    )
    assert got.exceptAll(manual).count() == 0
    assert manual.exceptAll(got).count() == 0


def test_q17_plan_is_decorrelated_to_aggregate_join(spark):
    """Catalyst must rewrite the subquery into an aggregate + join — the
    physical plan may not re-scan lineitem per outer row (no subquery
    node survives into the executed plan)."""
    from mapreduce_system_spark.queries.relational import q_scalar_subquery_q17

    plan = formatted_plan(q_scalar_subquery_q17(spark, SF_DIR))
    assert "Subquery" not in plan, plan
    assert "partial_avg" in plan or "avg" in plan


# ---------------------------------------------------------------------------
# emb_centroid_outliers
# ---------------------------------------------------------------------------


def test_centroid_outliers_shape_and_ordering(spark):
    from mapreduce_system_spark.queries.similarity import q_centroid_outliers

    rows = q_centroid_outliers(spark, SF_DIR).collect()
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(r)
    for label, rs in by_label.items():
        ranks = [r["rk"] for r in rs]
        assert ranks == list(range(1, len(rs) + 1))
        assert len(rs) <= 5
        cos = [r["centroid_cos"] for r in rs]
        assert cos == sorted(cos)  # least-central first
        assert all(-1.0 - 1e-9 <= c <= 1.0 + 1e-9 for c in cos)


def test_centroid_outliers_agrees_with_driver_math(spark):
    """Recompute one label's centroid cosine in plain Python from the
    parquet floats and compare the rounded scores — an engine-free
    oracle for the HOF fold."""
    from mapreduce_system_spark.queries.similarity import q_centroid_outliers
    from mapreduce_system_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings").collect()
    by_label: dict[int, list] = {}
    for r in emb:
        by_label.setdefault(r["label"], []).append(
            (r["vec_id"], [float(x) for x in r["embedding"]])
        )
    label = sorted(by_label)[0]
    vecs = by_label[label]
    dim = len(vecs[0][1])
    cent = [sum(v[1][i] for v in vecs) / len(vecs) for i in range(dim)]
    n2c = sum(c * c for c in cent)
    expected = {}
    for vid, x in vecs:
        dot = sum(a * b for a, b in zip(x, cent))
        n2v = sum(a * a for a in x)
        expected[vid] = round(dot / (math.sqrt(n2v) * math.sqrt(n2c)), 6)
    got = {
        r["vec_id"]: r["centroid_cos"]
        for r in q_centroid_outliers(spark, SF_DIR).collect()
        if r["label"] == label
    }
    for vid, cos in got.items():
        assert abs(expected[vid] - cos) <= 1e-6


def test_centroid_outliers_plan_broadcasts_centroids_not_corpus(spark):
    """The scoring join must be a broadcast of the #labels-row centroid
    table; the exploded stream may shuffle only into the (label, pos)
    aggregate — no sort-merge join over n·d rows."""
    from mapreduce_system_spark.queries.similarity import q_centroid_outliers

    plan = formatted_plan(q_centroid_outliers(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# fn_ewma_user_value
# ---------------------------------------------------------------------------


def test_ewma_equals_sequential_recurrence(spark):
    """The closed-form weighted sum must equal the literal recurrence
    ewma ← α·x + (1-α)·ewma folded oldest→newest over the kept window,
    seeded with the oldest kept value's running state.

    With α = 0.5 and normalization by Σ 2^-i, the closed form equals
    folding the recurrence with the OLDEST kept value as the seed —
    verified per user against plain Python."""
    from mapreduce_system_spark.queries.temporal import _EWMA_K, q_ewma_user_value
    from mapreduce_system_spark.sources.tables import load_table

    ev = load_table(spark, SF_DIR, "events").collect()
    by_user: dict[int, list] = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(
            (r["ts"], r["event_id"], float(r["value"]))
        )
    expected = {}
    for uid, rows in by_user.items():
        rows.sort()  # oldest → newest
        kept = rows[-_EWMA_K:]
        state = kept[0][2]
        for _, _, x in kept[1:]:
            state = 0.5 * x + 0.5 * state
        # normalized weighted sum == recurrence seeded with oldest kept
        # value: Σ 2^-i x_i / Σ 2^-i where the oldest term's weight is
        # doubled by the normalization — equality is exact algebra
        n = len(kept)
        num = sum(x * 0.5 ** (n - 1 - j) for j, (_, _, x) in enumerate(kept))
        den = sum(0.5 ** (n - 1 - j) for j in range(n))
        expected[uid] = (round(num / den, 6), n, round(kept[-1][2], 6))
        # recurrence and closed form agree up to the seed convention:
        # the recurrence double-weights the seed exactly as den does
        assert abs(num / den - state) < 1e-9 * max(1.0, abs(state))
    got = q_ewma_user_value(spark, SF_DIR).collect()
    assert len(got) == len(expected)
    for r in got:
        e_ewma, e_n, e_last = expected[r["user_id"]]
        assert r["n_recent"] == e_n
        assert abs(r["ewma"] - e_ewma) <= 1e-6
        assert abs(r["last_value"] - e_last) <= 1e-6


# ---------------------------------------------------------------------------
# fn_linear_interpolate_daily
# ---------------------------------------------------------------------------


def test_interpolation_brackets_and_observed_rows(spark):
    """Observed days carry their exact count (interpolated = 0); every
    interpolated value lies within [min, max] of its bracketing
    observations; the spine is complete (span × priorities rows)."""
    from mapreduce_system_spark.queries.temporal import q_linear_interpolate_daily

    rows = q_linear_interpolate_daily(spark, SF_DIR).collect()
    by_prio: dict[str, list] = {}
    for r in rows:
        by_prio.setdefault(r["priority"], []).append(r)
    spans = {len(rs) for rs in by_prio.values()}
    assert len(spans) == 1  # same calendar spine for every priority
    for rs in by_prio.values():
        assert [r["day"] for r in rs] == sorted(r["day"] for r in rs)
        obs_idx = [i for i, r in enumerate(rs) if r["interpolated"] == 0]
        assert obs_idx, "every priority has at least one observed day"
        for i, r in enumerate(rs):
            if r["interpolated"] == 0:
                assert r["count_filled"] == float(int(r["count_filled"]))
                continue
            prev_obs = [j for j in obs_idx if j < i]
            next_obs = [j for j in obs_idx if j > i]
            if not prev_obs:
                assert r["count_filled"] == rs[next_obs[0]]["count_filled"]
            elif not next_obs:
                assert r["count_filled"] == rs[prev_obs[-1]]["count_filled"]
            else:
                lo = min(
                    rs[prev_obs[-1]]["count_filled"], rs[next_obs[0]]["count_filled"]
                )
                hi = max(
                    rs[prev_obs[-1]]["count_filled"], rs[next_obs[0]]["count_filled"]
                )
                assert lo - 1e-9 <= r["count_filled"] <= hi + 1e-9


def test_interpolation_has_real_gaps_at_small_sf(spark):
    """The fixture must actually exercise the interpolation branch."""
    from mapreduce_system_spark.queries.temporal import q_linear_interpolate_daily

    df = q_linear_interpolate_daily(spark, SF_DIR)
    n_interp = df.where(F.col("interpolated") == 1).count()
    assert n_interp > 0


# ---------------------------------------------------------------------------
# pipe_incremental_dedup
# ---------------------------------------------------------------------------


def test_incremental_dedup_counts_are_consistent(spark):
    """n_new per language must equal the left-anti-join count, and batch
    totals must match the bucket arithmetic."""
    from mapreduce_system_spark.queries.pipeline import q_incremental_dedup
    from mapreduce_system_spark.sources.tables import load_table

    got = {r["lang"]: r for r in q_incremental_dedup(spark, SF_DIR_MID).collect()}
    docs = load_table(spark, SF_DIR_MID, "documents", columns=["doc_id", "lang", "text"])
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    base = docs.select("lang", F.md5("text").alias("fp"), bucket.alias("bk"))
    batch = base.where(F.col("bk") >= 90)
    hist = base.where(F.col("bk") < 90).select("fp")
    anti = (
        batch.join(hist, "fp", "left_anti")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    anti_by_lang = {r["lang"]: r["n"] for r in anti}
    n_batch_total = batch.count()
    assert sum(r["n_batch"] for r in got.values()) == n_batch_total
    for lang, r in got.items():
        assert 0 <= r["n_new"] <= r["n_batch"]
        assert r["n_new"] == anti_by_lang.get(lang, 0)


# ---------------------------------------------------------------------------
# rel_sql_api_q8_market_share
# ---------------------------------------------------------------------------


def test_q8_share_bounds_and_broadcast_chain(spark):
    from mapreduce_system_spark.queries.relational import q_sql_api_q8

    df = q_sql_api_q8(spark, SF_DIR_MID)
    rows = df.collect()
    assert rows, "ASIA x PROMO slice is non-empty at sf0.01"
    for r in rows:
        assert 0.0 <= r["mkt_share"] <= 1.0
        assert r["total_volume"] > 0
    plan = formatted_plan(df)
    # the five dimension relations must ride broadcasts; the only
    # shuffle-worthy join is lineitem x orders
    assert plan.count("BroadcastHashJoin") >= 4, plan


def test_centroid_outliers_null_cosine_ranks_last_on_both_engines(spark, tmp_path):
    """A label whose centroid cancels to the zero vector yields NULL
    cosines; Spark ASC defaults NULLS FIRST while DuckDB defaults NULLS
    LAST, so the rank pins asc_nulls_last — NULL scores must sit at the
    BOTTOM of the per-label ranking, exactly as the oracle's
    ASC NULLS LAST."""
    import duckdb
    from pyspark.sql import Row

    from mapreduce_system_spark.queries.similarity import (
        _CENTROID_OUTLIERS_SQL,
        q_centroid_outliers,
    )

    rows = [Row(vec_id=0, embedding=[1.0, -1.0], label=0),
            Row(vec_id=1, embedding=[-1.0, 1.0], label=0),
            Row(vec_id=2, embedding=[1.0, 0.0], label=1),
            Row(vec_id=3, embedding=[0.5, 0.5], label=1),
            Row(vec_id=4, embedding=[0.0, 1.0], label=1)]
    schema = "vec_id long, embedding array<float>, label int"
    spark.createDataFrame(rows, schema).write.parquet(f"{tmp_path}/embeddings.parquet")

    got = [
        (r.label, r.rk, r.vec_id, r.centroid_cos)
        for r in q_centroid_outliers(spark, str(tmp_path)).collect()
    ]
    assert any(c is None for (_, _, _, c) in got)  # the degenerate label hits
    # NULL cosines must rank AFTER every non-NULL cosine within the label
    for lab in {g[0] for g in got}:
        ranked = sorted((rk, c) for (lb, rk, _, c) in got if lb == lab)
        seen_null = False
        for _, c in ranked:
            if c is None:
                seen_null = True
            else:
                assert not seen_null  # a non-NULL after a NULL = wrong order

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{tmp_path}/embeddings.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.execute(_CENTROID_OUTLIERS_SQL).fetchall()]
    assert [(lb, rk, v, c) for (lb, rk, v, c) in got] == want
