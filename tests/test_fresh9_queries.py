"""Round-13 fresh9 debuts: semantic pins beyond the DuckDB oracle —
the cardinality mechanisms against a materialized Spark join, the GIF
stats against a direct single-blob decode, the sketch rollup's total
against the corpus, and the state audit against a batch aggregate."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_join_cardinality_exact_equals_materialized_join(spark):
    """Σ cA(k)·cB(k) must equal the count of the ACTUAL join, computed
    here by materializing it in Spark (the oracle materializes it in
    DuckDB — this pin removes even the shared-sf_dir coincidence)."""
    from mapreduce_system_spark.queries.relational import q_join_cardinality_exact
    from mapreduce_system_spark.sources.tables import load_table

    got = q_join_cardinality_exact(spark, SF_DIR).collect()[0].cardinality
    li = load_table(spark, SF_DIR, "lineitem", columns=["l_orderkey"])
    orders = load_table(spark, SF_DIR, "orders", columns=["o_orderkey"])
    real = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    assert got == real > 0


def test_join_cardinality_sampled_is_deterministic_and_scaled(spark):
    """The coordinated md5 key sample has no RNG: two invocations (and
    a repartitioned input) return the SAME BIGINT, which is an exact
    multiple of the integer scale factor."""
    from mapreduce_system_spark.queries.relational import (
        _SAMPLE_PCT,
        q_join_cardinality_sampled,
    )
    from mapreduce_system_spark.operators.cardinality import (
        join_cardinality_estimate,
    )
    from mapreduce_system_spark.sources.tables import load_table

    a = q_join_cardinality_sampled(spark, SF_DIR).collect()[0].est_cardinality
    b = q_join_cardinality_sampled(spark, SF_DIR).collect()[0].est_cardinality
    orders = load_table(spark, SF_DIR, "orders", columns=["o_custkey"])
    cust = load_table(spark, SF_DIR, "customer", columns=["c_custkey"])
    c = (
        join_cardinality_estimate(
            orders.repartition(7),
            cust.repartition(3),
            "o_custkey",
            "c_custkey",
            sample_pct=_SAMPLE_PCT,
        )
        .collect()[0]
        .est_cardinality
    )
    assert a == b == c > 0
    assert a % (100 // _SAMPLE_PCT) == 0


def test_gif_stats_cover_every_blob_and_match_direct_decode(spark):
    """No synthesized blob may silently drop out of the decode pass
    (150 in → 150 rows), and one image's mean_luma must equal the
    module-level single-blob decoder run directly on its blob."""
    from mapreduce_system_spark.operators.multimodal import decode_image_gif
    from mapreduce_system_spark.queries.multimodal import (
        _N_GIFS,
        _synth_gif_blobs,
        q_image_gif_stats,
    )

    rows = {r.id: r for r in q_image_gif_stats(spark, SF_DIR).collect()}
    assert len(rows) == _N_GIFS
    docs = spark.range(0, 3).select(F.col("id").alias("doc_id"))
    blob = {r.id: bytes(r.blob) for r in _synth_gif_blobs(docs).collect()}
    for i in range(3):
        w, h, mean, name = decode_image_gif(blob[i])
        r = rows[i]
        assert (r.width, r.height) == (w, h) and name == "gif"
        assert abs(r.mean_luma - mean) < 1e-4
        assert 0 <= r.min_luma <= r.max_luma <= 255
        assert 1 <= r.n_colors_used <= 64


def test_sketch_rollup_total_row_is_the_corpus_distinct(spark):
    """The merged-total row's EXACT anchor equals the corpus's distinct
    user count, the per-day exacts sum to >= it (days overlap users),
    and every band boolean holds at fixture scale."""
    from mapreduce_system_spark.queries.aggregates import q_distinct_sketch_rollup
    from mapreduce_system_spark.sources.tables import load_table

    rows = q_distinct_sketch_rollup(spark, SF_DIR).collect()
    ev = load_table(spark, SF_DIR, "events", columns=["user_id"])
    n_users = ev.where(F.col("user_id").isNotNull()).distinct().count()
    total = [r for r in rows if r.grp == "TOTAL"]
    assert len(total) == 1 and total[0].exact == n_users
    per_day = [r for r in rows if r.grp != "TOTAL"]
    assert sum(r.exact for r in per_day) >= n_users
    assert all(r.within_band for r in rows)


def test_state_audit_equals_batch_aggregate(spark):
    """What the store persisted == what a batch groupBy computes,
    value-for-value at fixture scale (the NULL-value bookkeeping rides
    n_vals; fixture values are non-NULL so totals are all present)."""
    from mapreduce_system_spark.queries.streaming import q_stream_state_audit
    from mapreduce_system_spark.sources.tables import load_table

    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in q_stream_state_audit(spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events", columns=["user_id", "value"])
    want = {
        r.user_id: (r.n_events, r.total_value)
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .collect()
    }
    assert got == want
