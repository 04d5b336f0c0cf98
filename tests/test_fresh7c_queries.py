"""Round-7 fresh7c queries: CDC compaction and SCD2 historization —
semantic pins beyond the DuckDB oracle (formulation parity, interval
algebra, and the plan shapes the scale story depends on)."""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from mapreduce_system_spark.plans.checks import formatted_plan
from tests.conftest import SF_DIR_MID


def test_cdc_latest_state_equals_window_formulation(spark):
    """max(struct(...)) compaction must agree row-for-row with the
    row_number()=1 window formulation — the two canonical CDC shapes."""
    from mapreduce_system_spark.queries.relational import q_cdc_latest_state
    from mapreduce_system_spark.sources.tables import load_table

    agg = q_cdc_latest_state(spark, SF_DIR_MID)
    ev = load_table(
        spark, SF_DIR_MID, "events",
        columns=["event_id", "ts", "user_id", "event_type", "value"],
    )
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    via_window = (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.unix_micros("ts").alias("last_ts_us"),
            F.col("event_type").alias("last_type"),
            F.round("value", 2).alias("last_value"),
        )
    )
    assert agg.exceptAll(via_window).count() == 0
    assert via_window.exceptAll(agg).count() == 0


def test_cdc_latest_state_plan_is_partial_aggregable(spark):
    """The scale rationale: the compaction must run as a two-phase hash
    aggregate (map-side partial combine before the shuffle), and must
    NOT contain a Window or per-key Sort of the full changelog."""
    from mapreduce_system_spark.queries.relational import q_cdc_latest_state

    plan = formatted_plan(q_cdc_latest_state(spark, SF_DIR_MID))
    assert "partial_max" in plan or "partial_max".upper() in plan.upper(), plan
    assert "Window" not in plan


def test_scd2_intervals_are_a_partition_per_user(spark):
    """Interval algebra per user: ordered, non-overlapping, contiguous
    (each valid_to equals the next valid_from), exactly one open
    (is_current) interval — and the first interval starts at the user's
    first event."""
    from mapreduce_system_spark.queries.relational import q_scd2_intervals
    from mapreduce_system_spark.sources.tables import load_table

    rows = q_scd2_intervals(spark, SF_DIR_MID).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    firsts = {
        r.user_id: r.first_us
        for r in load_table(spark, SF_DIR_MID, "events", columns=["user_id", "ts"])
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("first_us"))
        .collect()
    }
    for uid, ivs in by_user.items():
        ivs.sort(key=lambda r: r.valid_from_us)
        assert ivs[0].valid_from_us == firsts[uid]
        assert sum(1 for r in ivs if r.is_current) == 1
        assert ivs[-1].is_current and ivs[-1].valid_to_us == -1
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to_us == b.valid_from_us  # contiguous, no overlap
            assert a.valid_from_us < a.valid_to_us  # non-empty
            assert a.event_type != b.event_type  # a change actually happened

    # change rows must reproduce the raw stream when run-length expanded:
    # count of intervals == count of (prev is null or prev <> cur) rows
    ev = load_table(
        spark, SF_DIR_MID, "events", columns=["event_id", "ts", "user_id", "event_type"]
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    n_changes = (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .where(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
        .count()
    )
    assert len(rows) == n_changes


def test_scd2_plan_reuses_one_exchange(spark):
    """lag and lead share the same window spec, so the physical plan
    must contain exactly one shuffle exchange (on user_id)."""
    from mapreduce_system_spark.queries.relational import q_scd2_intervals

    plan = formatted_plan(q_scd2_intervals(spark, SF_DIR_MID))
    # final orderBy adds a rangepartitioning exchange; count only the
    # hashpartitioning ones feeding the windows
    n_hash_exchanges = plan.count("hashpartitioning(user_id")
    assert n_hash_exchanges == 1, plan
