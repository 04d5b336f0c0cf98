"""Funnel conversion: order-sensitivity on a synthetic stream (the
property the DuckDB oracle shares, so it needs an independent pin) and
monotonicity on the fixture."""

from __future__ import annotations

import datetime as dt

from tests.conftest import SF_DIR_MID


def _ts(s: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, 0, s)


def test_funnel_requires_strict_order(spark, tmp_path):
    """A purchase BEFORE the user's first qualifying click must not
    convert; a later purchase must. Users:
      u1 view(1) click(2) purchase(3)   -> converts fully
      u2 view(1) purchase(2) click(3)   -> reaches click, not purchase
      u3 click(1) view(2) click(3)      -> click counts only after view
      u4 purchase(1)                    -> no view: not even stage 1
    """
    from mapreduce_system_spark.queries.relational import q_funnel_conversion

    rows = [
        (1, _ts(1), "view"), (1, _ts(2), "click"), (1, _ts(3), "purchase"),
        (2, _ts(1), "view"), (2, _ts(2), "purchase"), (2, _ts(3), "click"),
        (3, _ts(1), "click"), (3, _ts(2), "view"), (3, _ts(3), "click"),
        (4, _ts(1), "purchase"),
    ]
    df = spark.createDataFrame(
        [(i, uid, ts, et, 0.0, "{}") for i, (uid, ts, et) in enumerate(rows)],
        "event_id long, user_id long, ts timestamp, event_type string, value double, props string",
    ).select("event_id", "ts", "user_id", "event_type", "value", "props")
    path = str(tmp_path / "events.parquet")
    df.write.parquet(path)
    # the loader reads <dir>/events.parquet
    out = {r.stage: r for r in q_funnel_conversion(spark, str(tmp_path)).collect()}
    assert out["view"].n_users == 3  # u1 u2 u3
    assert out["click"].n_users == 3  # u1 u2(click after view) u3(second click)
    assert out["purchase"].n_users == 1  # only u1
    assert out["view"].avg_gap_s == -1.0
    assert out["click"].avg_gap_s > 0
    assert out["purchase"].avg_gap_s == 1.0  # u1: click@2 -> purchase@3


def test_funnel_is_monotone_on_fixture(spark):
    """Stage populations can only shrink, gaps are positive, and steps
    come back ordered 1..3."""
    from mapreduce_system_spark.queries.relational import q_funnel_conversion

    rows = q_funnel_conversion(spark, SF_DIR_MID).collect()
    assert [r.step for r in rows] == [1, 2, 3]
    assert rows[0].n_users >= rows[1].n_users >= rows[2].n_users > 0
    assert rows[1].avg_gap_s > 0 and rows[2].avg_gap_s > 0
