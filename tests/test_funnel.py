"""Parameterized funnel conversion (operators/funnel.py) — staged r15
for an r16/r17 debut (``rel_funnel_time_bounded`` planned: the
max_span-bounded variant of the driver-green ``rel_funnel_conversion``,
whose inline fresh7e algebra this operator generalizes); the registered
query will spell exactly the chained-CTE oracle drafted here (the
k-core/LPA staging pattern). The earliest-arrival greedy recurrence is
a pure function of the event multiset — parity is pinned against an
independent pure-Python reference AND the DuckDB CTE, plus a
25-timeline fuzz."""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest

from pyspark.sql import functions as F

from mapreduce_system_spark.operators.funnel import funnel_conversion
from mapreduce_system_spark.sources.tables import load_table
from tests.conftest import SF_DIR_MID

_BASE = dt.datetime(2024, 3, 1, 12, 0, 0)


def _t(minutes: float) -> dt.datetime:
    return _BASE + dt.timedelta(minutes=minutes)


# hand-built timelines covering the boundary semantics:
# u1 converts fully in order; u2 has the purchase BEFORE the click
# (stops at click); u3 ties click to view at the same timestamp
# (strict > — does not convert past view); u4 views twice, converts off
# the EARLIEST view; u5 never views (absent from step 1 even though it
# clicks); u6 has a NULL ts event (dropped) but still converts.
_ROWS = [
    (1, _t(0), "view"), (1, _t(5), "click"), (1, _t(9), "purchase"),
    (2, _t(0), "view"), (2, _t(8), "purchase"), (2, _t(10), "click"),
    (3, _t(0), "view"), (3, _t(0), "click"),
    (4, _t(0), "view"), (4, _t(50), "view"), (4, _t(60), "click"),
    (5, _t(1), "click"), (5, _t(2), "purchase"),
    (6, None, "view"), (6, _t(0), "view"), (6, _t(1), "click"),
]
_SCHEMA = "user_id long, ts timestamp, event_type string"


def _ref_funnel(rows, steps, max_span_min=None):
    """Independent reference: per-user earliest-arrival recurrence."""
    by_user: dict = {}
    for u, ts, et in rows:
        if u is None or ts is None:
            continue
        by_user.setdefault(u, []).append((ts, et))
    counts = []
    for i, _ in enumerate(steps):
        n = 0
        for evs in by_user.values():
            t_prev, t0 = None, None
            ok = True
            for s in steps[: i + 1]:
                cands = [
                    t
                    for t, et in evs
                    if et == s
                    and (t_prev is None or t > t_prev)
                    and (
                        t0 is None
                        or max_span_min is None
                        or t <= t0 + dt.timedelta(minutes=max_span_min)
                    )
                ]
                if not cands:
                    ok = False
                    break
                t_prev = min(cands)
                if t0 is None:
                    t0 = t_prev
            if ok:
                n += 1
        counts.append(n)
    first = counts[0]
    return [
        (i + 1, s, n, round(n / first, 6) if first else 0.0)
        for i, (s, n) in enumerate(zip(steps, counts))
    ]


def test_funnel_matches_reference_on_handbuilt_timelines(spark):
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    got = sorted(
        tuple(r)
        for r in funnel_conversion(df, ["view", "click", "purchase"]).collect()
    )
    want = sorted(_ref_funnel(_ROWS, ["view", "click", "purchase"]))
    assert got == want
    # the hand-checks the fixture was built to pin
    n = {r[1]: r[2] for r in got}
    assert n == {"view": 5, "click": 4, "purchase": 1}


def test_funnel_max_span_anchors_at_first_step(spark):
    # u4's click at +60min is outside a 30-minute span anchored at its
    # EARLIEST view (+0) even though the +50 view would be in range —
    # the documented first-arrival convention
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    got = {
        r["step"]: r["n_users"]
        for r in funnel_conversion(
            df, ["view", "click"], max_span="30 minutes"
        ).collect()
    }
    want = {r[1]: r[2] for r in _ref_funnel(_ROWS, ["view", "click"], 30)}
    assert got == want
    assert got["click"] == 3  # u1, u2 (+10 < 30), u6 — u3 ties, u4 at +60


def test_funnel_repeated_step_and_empty_entry(spark):
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    got = {
        r["step_idx"]: r["n_users"]
        for r in funnel_conversion(df, ["view", "view"]).collect()
    }
    # view-then-strictly-later-view: only u4 (u6's NULL-ts view dropped)
    assert got == {1: 5, 2: 1}
    empty = funnel_conversion(df, ["refund"]).collect()
    assert [(r.n_users, r.frac_of_first) for r in empty] == [(0, 0.0)]
    with pytest.raises(ValueError, match="at least one step"):
        funnel_conversion(df, [])


def _funnel_step_cte(prev: str, cur: str, step: str, span_min) -> str:
    """One chained funnel step — the draft the registered oracle will
    interpolate. ``prev`` carries (user_id, t, t0)."""
    span = (
        f" AND e.ts <= p.t0 + INTERVAL '{span_min} minutes'"
        if span_min is not None
        else ""
    )
    return f"""{cur} AS (
  SELECT e.user_id, min(e.ts) AS t, p.t0 AS t0
  FROM ev e JOIN {prev} p ON e.user_id = p.user_id
  WHERE e.event_type = '{step}' AND e.ts > p.t{span}
  GROUP BY e.user_id, p.t0
)"""


def _funnel_oracle_sql(steps, span_min=None) -> str:
    ctes = [
        f"""s1 AS (
  SELECT user_id, min(ts) AS t, min(ts) AS t0
  FROM ev WHERE event_type = '{steps[0]}' GROUP BY user_id
)"""
    ]
    for i, step in enumerate(steps[1:], start=2):
        ctes.append(_funnel_step_cte(f"s{i - 1}", f"s{i}", step, span_min))
    selects = " UNION ALL ".join(
        f"SELECT {i + 1} AS step_idx, '{s}' AS step, "
        f"(SELECT CAST(count(*) AS BIGINT) FROM s{i + 1}) AS n_users"
        for i, s in enumerate(steps)
    )
    return f"""
WITH ev AS (
  SELECT user_id, ts, event_type FROM raw
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
), {", ".join(ctes)}, counts AS ({selects})
SELECT step_idx, step, n_users,
       round(CAST(n_users AS DOUBLE)
             / nullif((SELECT n_users FROM counts WHERE step_idx = 1), 0),
             6) AS frac_of_first
FROM counts ORDER BY step_idx
"""


@pytest.mark.parametrize("span_min", [None, 30])
def test_funnel_matches_chained_cte_duckdb_oracle(spark, tmp_path, span_min):
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    df.write.parquet(f"{tmp_path}/ev.parquet")
    span = f"{span_min} minutes" if span_min is not None else None
    got = sorted(
        tuple(r)
        for r in funnel_conversion(
            df, ["view", "click", "purchase"], max_span=span
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW raw AS SELECT * FROM "
        f"read_parquet('{tmp_path}/ev.parquet/*.parquet')"
    )
    want = sorted(
        (r[0], r[1], r[2], r[3] if r[3] is not None else 0.0)
        for r in con.execute(
            _funnel_oracle_sql(["view", "click", "purchase"], span_min)
        ).fetchall()
    )
    assert got == want


def test_funnel_fuzz_25_random_timelines(spark):
    """25 seeded random event sets in ONE Spark run (disjoint user-id
    offsets — funnel state is per-user, so a union of user spaces is
    the funnels' disjoint union) vs the pure-Python reference. Random
    times at second granularity with duplicates and shuffled event
    types exercise the tie/ordering semantics the oracle is most
    sensitive to."""
    import random

    all_rows: list = []
    for g in range(25):
        rng = random.Random(6100 + g)
        base_u = (g + 1) * 10_000
        for u in range(rng.randint(2, 6)):
            n_ev = rng.randint(1, 10)
            for _ in range(n_ev):
                t = _t(rng.randint(0, 120))
                et = rng.choice(["view", "click", "purchase", "other"])
                all_rows.append((base_u + u, t, et))
    df = spark.createDataFrame(all_rows, _SCHEMA)
    for span in (None, 45):
        got = sorted(
            tuple(r)
            for r in funnel_conversion(
                df,
                ["view", "click", "purchase"],
                max_span=f"{span} minutes" if span else None,
            ).collect()
        )
        want = sorted(_ref_funnel(all_rows, ["view", "click", "purchase"], span))
        assert got == want, f"span={span}"


def test_funnel_on_events_fixture_sane(spark):
    """The planned registration's shape over the real fixture: counts
    monotonically non-increasing, rates in (0, 1]."""
    ev = load_table(
        spark, SF_DIR_MID, "events", columns=["user_id", "ts", "event_type"]
    )
    out = funnel_conversion(ev, ["view", "click", "purchase"]).collect()
    ns = [r.n_users for r in sorted(out, key=lambda r: r.step_idx)]
    assert ns[0] > 0 and all(a >= b for a, b in zip(ns, ns[1:]))
    assert all(0.0 <= r.frac_of_first <= 1.0 for r in out)


def test_funnel_registered_oracle_empty_input_parity(spark):
    """ADVICE r15 regression: on a zero-entrant (empty) events relation
    both engines emit 3 rows with n_users=0 AND frac_of_first=0.0 —
    the registered oracle's coalesce(..., 0.0) must match the
    operator's pinned 0.0 (pre-fix the oracle yielded NULL)."""
    from mapreduce_system_spark.queries import relational

    empty = spark.createDataFrame([], _SCHEMA)
    got = sorted(
        tuple(r)
        for r in funnel_conversion(
            empty, ["view", "click", "purchase"], max_span="30 minutes"
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT "
        "CAST(NULL AS BIGINT) AS user_id, "
        "CAST(NULL AS TIMESTAMP) AS ts, "
        "CAST(NULL AS VARCHAR) AS event_type WHERE FALSE"
    )
    want = sorted(tuple(r) for r in con.execute(relational._FUNNEL_TB_SQL).fetchall())
    assert got == want
    assert all(r[2] == 0 and r[3] == 0.0 for r in got)
