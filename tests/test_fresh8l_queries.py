"""Round-8 fresh8l queries: semantic pins beyond the DuckDB oracle —
point-in-time attribution on a hand-built stream, and MAD parity with
numpy plus the robustness property z-scores lack."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from tests.conftest import SF_DIR_MID


def _ts(minute: int):
    return dt.datetime(2024, 1, 1, 0, minute)


def test_pit_join_attributes_clicks_to_the_interval_state(spark):
    """Hand stream for one user: view@1, purchase@5, view@9 with clicks
    at 0/2/6/10 — attribution must be none/view/purchase/view (the
    click BEFORE any state is 'none'; each other click matches exactly
    the interval containing it, not every historical state)."""
    rows = [
        (1, _ts(1), 100, "view", 1.0),
        (2, _ts(5), 100, "purchase", 1.0),
        (3, _ts(9), 100, "view", 1.0),
        (10, _ts(0), 100, "click", 1.0),
        (11, _ts(2), 100, "click", 2.0),
        (12, _ts(6), 100, "click", 4.0),
        (13, _ts(10), 100, "click", 8.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    import mapreduce_system_spark.queries.relational as M

    orig = M.load_table
    M.load_table = lambda _s, _d, _n, columns=None: ev.select(*(columns or ev.columns))
    try:
        got = {r.state: (r.n_clicks, r.total_value) for r in M.q_pit_join_scd2(spark, "ignored").collect()}
    finally:
        M.load_table = orig
    assert got == {"none": (1, 1.0), "view": (2, 10.0), "purchase": (1, 4.0)}


def test_pit_join_never_amplifies_clicks(spark):
    """Every click appears exactly once in the attribution totals —
    non-overlapping intervals make the join 1:≤1."""
    from mapreduce_system_spark.queries.relational import q_pit_join_scd2
    from mapreduce_system_spark.sources.tables import load_table

    out = q_pit_join_scd2(spark, SF_DIR_MID)
    n_clicks = (
        load_table(spark, SF_DIR_MID, "events", columns=["event_type"])
        .where(F.col("event_type") == "click")
        .count()
    )
    assert sum(r.n_clicks for r in out.collect()) == n_clicks


def test_mad_outliers_matches_numpy_and_resists_contamination(spark):
    """Median/MAD per flag equal numpy's; and the MAD cut keeps flagging
    a planted cluster of extreme values whose presence would have
    inflated a stddev-based cut (the robustness property)."""
    import numpy as np

    from mapreduce_system_spark.queries.aggregates import (
        _MAD_CUT,
        _MAD_K,
        q_mad_outliers,
    )
    from mapreduce_system_spark.sources.tables import load_table

    rows = q_mad_outliers(spark, SF_DIR_MID).collect()
    li = load_table(
        spark, SF_DIR_MID, "lineitem", columns=["l_returnflag", "l_extendedprice"]
    ).collect()
    by_flag: dict[str, list] = {}
    for r in li:
        by_flag.setdefault(r.l_returnflag, []).append(r.l_extendedprice)
    assert {r.flag for r in rows} == set(by_flag)
    for r in rows:
        v = np.array(by_flag[r.flag])
        med = np.median(v)
        mad = np.median(np.abs(v - med))
        assert r.n == len(v)
        assert abs(r.median_price - med) < 1e-3
        assert abs(r.mad - mad) < 1e-3
        n_out = int(np.sum(np.abs(v - med) > _MAD_CUT * _MAD_K * mad))
        assert r.n_outliers == n_out
        assert abs(r.outlier_rate - n_out / len(v)) < 1e-6
        assert 0 <= r.outlier_rate < 0.5  # 50% breakdown: never majority

    # robustness: contaminate one group with 5% extreme values — the MAD
    # moves little, so the planted points are still flagged
    base = np.array(by_flag[rows[0].flag])
    planted = np.concatenate([base, np.full(max(1, len(base) // 20), base.max() * 100)])
    med_c = np.median(planted)
    mad_c = np.median(np.abs(planted - med_c))
    assert np.all(
        np.abs(planted[len(base):] - med_c) > _MAD_CUT * _MAD_K * mad_c
    ), "MAD cut lost the planted outliers"
    sd_c = planted.std()
    # the z-score cut's stddev is inflated ~sqrt(contamination)·extreme
    assert sd_c > 10 * np.abs(base - base.mean()).std()

def test_group_median_handles_tiny_and_even_groups(spark):
    """Rank-selection median: single row → the value itself; even count
    → mean of the two middles; odd count → exact middle."""
    from pyspark.sql import functions as F

    from mapreduce_system_spark.queries.aggregates import _group_median

    df = spark.createDataFrame(
        [("one", 7.0), ("two", 1.0), ("two", 3.0), ("odd", 1.0), ("odd", 9.0), ("odd", 5.0)],
        ["g", "v"],
    )
    got = {r.g: r.med for r in _group_median(df, "g", F.col("v"), "med").collect()}
    assert got == {"one": 7.0, "two": 2.0, "odd": 5.0}


def test_group_median_ignores_null_values(spark):
    """quantile_cont skips NULLs; the rank-based median must neither rank
    them (Spark sorts NULLs first ascending, shifting every selected
    rank) nor count them — the agg_quantiles r10 fix, applied here."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from mapreduce_system_spark.queries.aggregates import _group_median

    df = spark.createDataFrame(
        [Row(g="a", v=1.0), Row(g="a", v=None), Row(g="a", v=3.0),
         Row(g="b", v=None), Row(g="b", v=5.0)],
        "g string, v double",
    )
    got = {r.g: r.med for r in _group_median(df, "g", F.col("v"), "med").collect()}
    assert got == {"a": 2.0, "b": 5.0}


def test_group_median_keeps_all_null_groups_with_null_median(spark):
    """A group whose values are ALL NULL must survive with a NULL median
    (GROUP BY keeps the group on the SQL side; dropping it here would
    erase the group from agg_mad_outliers' inner joins — ADVICE r10)."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from mapreduce_system_spark.queries.aggregates import _group_median

    df = spark.createDataFrame(
        [Row(g="a", v=1.0), Row(g="a", v=3.0),
         Row(g="n", v=None), Row(g="n", v=None)],
        "g string, v double",
    )
    got = {r.g: r.med for r in _group_median(df, "g", F.col("v"), "med").collect()}
    assert got == {"a": 2.0, "n": None}


def test_mad_outliers_emits_all_null_group_like_duckdb(spark, tmp_path):
    """End-to-end cross-engine pin of the all-NULL-group fix: a flag whose
    every l_extendedprice is NULL appears in both engines' output with
    NULL median/MAD and zero outliers."""
    import datetime as dt

    import duckdb
    from pyspark.sql import Row

    from mapreduce_system_spark.registry import ORACLE_SQL, QUERIES

    rows = []
    for i in range(6):
        rows.append(Row(
            l_orderkey=i, l_partkey=i, l_suppkey=i % 2, l_linenumber=1,
            l_quantity=1.0, l_extendedprice=float(100 + i), l_discount=0.0,
            l_tax=0.0, l_returnflag="A", l_linestatus="F",
            l_shipdate=dt.datetime(2024, 1, 1),
        ))
    for i in range(3):  # the all-NULL-price flag
        rows.append(Row(
            l_orderkey=10 + i, l_partkey=i, l_suppkey=0, l_linenumber=1,
            l_quantity=1.0, l_extendedprice=None, l_discount=0.0,
            l_tax=0.0, l_returnflag="Z", l_linestatus="F",
            l_shipdate=dt.datetime(2024, 1, 1),
        ))
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    got = sorted(
        tuple(r) for r in QUERIES["agg_mad_outliers"](spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{tmp_path}/lineitem.parquet/*.parquet')"
    )
    want = sorted(tuple(r) for r in con.execute(ORACLE_SQL["agg_mad_outliers"]).fetchall())
    assert got == want
    assert any(r[0] == "Z" for r in got)  # the all-NULL group survived


def test_group_median_computes_median_for_null_keyed_group(spark):
    """GROUP BY treats NULL as a group, so a NULL-keyed group WITH values
    must get its real median (eqNullSafe joins — a plain join(g) silently
    handed it NULL; r11 review), while the all-NULL-value group still
    survives with a NULL median."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from mapreduce_system_spark.queries.aggregates import _group_median

    df = spark.createDataFrame(
        [Row(g=None, v=1.0), Row(g=None, v=3.0), Row(g="a", v=2.0),
         Row(g="n", v=None)],
        "g string, v double",
    )
    got = {r.g: r.med for r in _group_median(df, "g", F.col("v"), "med").collect()}
    assert got == {None: 2.0, "a": 2.0, "n": None}
