"""Round-5 registered queries: salted as-of parity on the driver workload,
ANN recall@k semantics, RANGE-frame windows, batch sessionization."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR, SF_DIR_MID


def test_asof_salted_query_matches_plain(spark):
    """The registered salted query must equal the registered plain as-of
    query row-for-row — the driver checks both against the same DuckDB
    ASOF oracle, so any divergence is a double failure."""
    from mapreduce_system_spark.queries.temporal import q_asof_salted
    from mapreduce_system_spark.queries.temporal import q_asof

    plain = q_asof(spark, SF_DIR_MID)
    salted = q_asof_salted(spark, SF_DIR_MID)
    assert plain.schema == salted.schema
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_recall_at_k_bounds_and_floor(spark):
    """Per-query recall is n_hits/5 in [0, 1]; the IVF configuration's
    mean recall must clear the pytest floor the query was promoted from
    (tests/test_similarity.py: 0.3)."""
    from mapreduce_system_spark.queries.similarity import q_recall_at_k

    rows = q_recall_at_k(spark, SF_DIR_MID).collect()
    assert len(rows) == 10
    for r in rows:
        assert 0 <= r.n_hits <= 5
        assert abs(r.recall - round(r.n_hits / 5, 2)) < 1e-9
    mean_recall = sum(r.n_hits for r in rows) / (5 * len(rows))
    assert mean_recall >= 0.3, f"IVF mean recall {mean_recall} collapsed"


def test_range_frame_is_value_based_not_row_based(spark):
    """A RANGE frame must include peers by ORDER-BY value distance, not
    row position: synthetic events 0s/10s/3620s apart pin the rolling-1h
    sum to {a, a+b, b+c} — a ROWS frame would give a+b+c at the third."""
    from pyspark.sql import Window as W

    df = spark.createDataFrame(
        [(1, 0, 10.0), (1, 10, 20.0), (1, 3605, 40.0)], "user_id int, es long, value double"
    )
    w = W.partitionBy("user_id").orderBy("es").rangeBetween(-3600, 0)
    got = [r.s for r in df.select(F.sum("value").over(w).alias("s")).orderBy("es").collect()]
    assert got == [10.0, 30.0, 60.0]  # 3605-10 ≤ 3600 keeps the 2nd; 3605-0 > 3600 drops the 1st

    from mapreduce_system_spark.queries.relational import q_window_range_frames

    out = q_window_range_frames(spark, SF_DIR_MID)
    assert [f.name for f in out.schema.fields] == [
        "event_id", "user_id", "rolling_1h", "quartile", "pr",
    ]
    sample = out.limit(200).collect()
    assert all(1 <= r.quartile <= 4 for r in sample)
    assert all(0.0 <= r.pr <= 1.0 for r in sample)


def test_sessionize_gap_splits_and_counts(spark):
    """30-minute gap rule on a hand-built trace: 3 events 10 min apart are
    one session; a 31-min gap starts a new one; per-user profile counts
    both with the right durations."""
    from mapreduce_system_spark.queries.relational import _GAP_S

    assert _GAP_S == 1800
    rows = [
        (7, 1, "2024-01-01 10:00:00"),
        (7, 2, "2024-01-01 10:10:00"),
        (7, 3, "2024-01-01 10:20:00"),
        (7, 4, "2024-01-01 10:51:01"),  # 31:01 after #3 → new session
        (8, 5, "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id int, event_id int, ts_s string").select(
        "user_id", "event_id", F.col("ts_s").cast("timestamp").alias("ts")
    )
    from pyspark.sql import Window as W

    ev = df.withColumn("es", F.unix_timestamp("ts"))
    w_lag = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_cum = W.partitionBy("user_id").orderBy("es", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    starts = F.when(
        F.col("prev_es").isNull() | (F.col("es") - F.col("prev_es") > _GAP_S), 1
    ).otherwise(0)
    sess = (
        ev.withColumn("prev_es", F.lag("es").over(w_lag))
        .withColumn("sess_id", F.sum(starts).over(w_cum))
        .groupBy("user_id", "sess_id")
        .agg(F.count("*").alias("n"), (F.max("es") - F.min("es")).alias("dur"))
        .collect()
    )
    by_user = {}
    for r in sess:
        by_user.setdefault(r.user_id, []).append((r.n, r.dur))
    assert sorted(by_user[7]) == [(1, 0), (3, 1200)]
    assert by_user[8] == [(1, 0)]


def test_stream_events_empty_dir_probe_falls_back(spark, tmp_path):
    """stream_events on an empty directory must still define the stream
    (files arrive later is the file-source contract) — the footer probe
    falls back to the catalog timestamp type instead of raising."""
    from mapreduce_system_spark.streaming.windows import stream_events

    empty = tmp_path / "events_stream"
    empty.mkdir()
    df = stream_events(spark, str(empty))
    assert df.isStreaming
    assert dict(df.dtypes)["ts"] == "timestamp"


def test_stateful_stream_query_matches_batch_twin(spark):
    """The registered applyInPandasWithState query runs a REAL multi-batch
    file stream; its final state must equal the batch GROUP BY twin
    row-for-row (both ordered by user_id, both rounded in Spark)."""
    from mapreduce_system_spark.queries.streaming import q_stateful_user_totals
    from mapreduce_system_spark.queries.streaming import q_user_totals

    got = q_stateful_user_totals(spark, SF_DIR).collect()
    want = q_user_totals(spark, SF_DIR).collect()
    assert len(got) == len(want) > 0
    assert got == want
