"""Parameterized ordered-funnel conversion — the generalization of the
fixed three-step funnel the catalog already ships.

``rel_funnel_conversion`` (queries/relational.py) spells
the view→click→purchase recurrence INLINE: chained per-stage min
aggregates with strictly-after semantics. This operator lifts that
exact algebra into a parameterized form — arbitrary step lists
(including repeated types: "view then view again"), per-step
conversion fractions — and adds the one capability the inline query
cannot express: ``max_span``, the TIME-BOUNDED funnel ("converted
within 30 minutes of entry", the attribution-window variant every
product dashboard pairs with the unbounded one; ClickHouse's
``windowFunnel`` window argument, Amplitude's conversion window).
``rel_funnel_conversion`` keeps its inline plan; the operator's
registration asks the BOUNDED question the catalog lacked.

Registered as ``rel_funnel_time_bounded`` (queries/relational.py);
tests/test_funnel.py carries a pure-Python reference, the chained-CTE
DuckDB oracle the registration interpolates (span clause included),
and a 25-timeline fuzz sweep.

Semantics (the earliest-arrival greedy, ClickHouse-compatible):

- step 1 time = min event time of the step-1 type per user;
- step k time = min event time of the step-k type per user with
  ``ts > step_{k-1} time`` (STRICT — a same-timestamp pair does not
  order, so it does not convert; deterministic on ties by
  construction since only minima are compared);
- ``max_span`` (optional): step k must also satisfy
  ``ts <= step_1 time + max_span`` — the "converted within an hour"
  product question. The bound anchors at the FIRST step (industry
  convention), not the previous one.
- Greedy minima are OPTIMAL here: taking the earliest valid event at
  every step can only leave more room for later steps (exchange
  argument), so "user reaches step k" is exact, not heuristic —
  EXCEPT under ``max_span``, where anchoring at the earliest step-1
  arrival is itself the (documented) convention even though a later
  step-1 event could open a window that converts. That convention is
  what the oracle mirrors.

Scale shape (the 100 TB posture): ONE pass over the event relation per
step — a filtered (type = step_k) partial+final min-aggregate keyed by
user — plus a user-sized equi-join against the previous step's arrival
vector. No window over raw events, no per-user event-list collection,
and FULLY LAZY: the result is one unioned plan of per-step one-row
aggregates (fresh7e's stage_row shape) — no per-step driver ``count()``
actions, so the whole funnel is ONE Spark job whose k filtered scans
share the pushdown-pruned type column. (The first cut collected k
bounded scalars driver-side at build time — harmless at fixture scale
(~1.2 s warm either way) but k separate actions where one plan
suffices: each action pays its own scheduling floor, blocks the caller
until it finishes, and can't share scan work with its siblings. Lazy
union is the fresh7e-proven form; rewritten before any driver row so
the gate only ever sees this shape.) The alternative (collect_list +
per-user Python scan) holds the whole per-user history in one task —
the shape that dies on a power-law user.

Reference contrast: worker.go:104-165's one-shot map→reduce can count
per-type events (word count over types), but step k's filter depends on
step k-1's OUTPUT — a data-dependent re-entry the single-pass pipeline
cannot express (same class as k-core's cascade, coordinator.go:126-141).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel_conversion(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    max_span: str | None = None,
) -> DataFrame:
    """(step_idx, step, n_users, frac_of_first) — users reaching each
    funnel step in order. ``steps`` is the ordered list of event types
    (length >= 1, duplicates allowed — "view then view again" is a
    legal funnel and the strict-ordering recurrence handles it).
    ``max_span`` is an SQL interval string bounding the whole funnel
    relative to the first-step arrival. NULL users and NULL timestamps
    are dropped (they cannot anchor an ordering); ``frac_of_first`` is
    the per-step conversion rate rounded to 6 (1.0 on step 1 whenever
    any user entered).
    """
    if not steps:
        raise ValueError("funnel_conversion: need at least one step")
    ev = events.select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("ts"),
        F.col(type_col).alias("et"),
    ).where(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())

    # step 1: earliest arrival per user — the funnel anchor
    cur = (
        ev.where(F.col("et") == steps[0])
        .groupBy("u")
        .agg(F.min("ts").alias("t"))
        .select("u", "t", F.col("t").alias("t0"))
    )
    stages = [cur]
    for step in steps[1:]:
        nxt = ev.where(F.col("et") == step).select(
            "u", F.col("ts").alias("nts")
        )
        cond = F.col("nts") > F.col("t")
        if max_span is not None:
            cond = cond & (
                F.col("nts") <= F.col("t0") + F.expr(f"INTERVAL {max_span}")
            )
        cur = (
            nxt.join(cur, "u")
            .where(cond)
            .groupBy("u")
            .agg(F.min("nts").alias("t"), F.first("t0").alias("t0"))
        )
        stages.append(cur)

    # one-row aggregate per stage, unioned into ONE lazy plan — the
    # fresh7e stage_row shape, no driver actions; frac divides by the
    # broadcast entry count (0-entrant funnels pin 0.0 on every row,
    # NULL-free, matching the oracle's nullif-guarded division)
    entry = stages[0].agg(F.count("*").alias("n_first"))
    rows = [
        s.agg(F.count("*").alias("n_users")).select(
            F.lit(i + 1).cast("int").alias("step_idx"),
            F.lit(step).alias("step"),
            "n_users",
        )
        for i, (step, s) in enumerate(zip(steps, stages))
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return (
        out.crossJoin(F.broadcast(entry))
        .select(
            "step_idx",
            "step",
            "n_users",
            F.when(F.col("n_first") > 0,
                   F.round(F.col("n_users") / F.col("n_first"), 6))
            .otherwise(F.lit(0.0))
            .alias("frac_of_first"),
        )
        .orderBy("step_idx")
    )
