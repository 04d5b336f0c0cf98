"""Structured Streaming: batch parity, watermark late-drop, stateful ops."""

from __future__ import annotations

import datetime as dt
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from mapreduce_system_spark.sources.tables import load_table
from mapreduce_system_spark.streaming import stateful as ST
from mapreduce_system_spark.streaming import windows as SW


def _run_stream(df, name, output_mode="complete"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    q.processAllAvailable()
    return q


def test_tumbling_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming-batch parity: same function, file stream vs batch scan."""
    import os

    events_dir = tmp_path / "events-src"
    events_dir.mkdir()
    os.symlink(f"{sf_dir}/events.parquet", events_dir / "events.parquet")
    stream = SW.stream_events(spark, str(events_dir))
    q = _run_stream(
        SW.tumbling_counts(stream, duration="15 minutes", group_cols=["event_type"]),
        "t_tumbling",
    )
    try:
        got = {
            (r["w"]["start"], r["event_type"]): r["cnt"]
            for r in spark.table("t_tumbling").collect()
        }
        batch = load_table(spark, sf_dir, "events", columns=["ts", "event_type"])
        want = {
            (r["w"]["start"], r["event_type"]): r["cnt"]
            for r in SW.tumbling_counts(batch, duration="15 minutes", group_cols=["event_type"]).collect()
        }
        assert got == want and len(want) > 0
    finally:
        q.stop()


def _write_events(spark, path, rows):
    spark.createDataFrame(rows, "user_id long, ts timestamp, value double").write.mode(
        "append"
    ).parquet(path)


def test_watermark_drops_late_rows(spark, tmp_path):
    """A row arriving behind the watermark is excluded from its window."""
    src = str(tmp_path / f"wm-{uuid.uuid4().hex}")
    t = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    _write_events(spark, src, [(1, t("2024-01-01T09:00:00"), 1.0), (1, t("2024-01-01T11:00:00"), 1.0)])
    stream = spark.readStream.schema("user_id long, ts timestamp, value double").parquet(src)
    agg = SW.tumbling_counts(SW.with_watermark(stream, "ts", "10 minutes"), duration="15 minutes")
    q = (
        agg.writeStream.format("memory").queryName("t_wm").outputMode("append").start()
    )
    try:
        q.processAllAvailable()  # watermark advances to 10:50 — 9:00 window finalizes
        # batch 2: one late row for the closed 9:00 window + one fresh row
        _write_events(
            spark, src, [(1, t("2024-01-01T09:01:00"), 1.0), (1, t("2024-01-01T11:30:00"), 1.0)]
        )
        q.processAllAvailable()
        emitted = {
            r["w"]["start"]: r["cnt"] for r in spark.table("t_wm").collect()
        }
        # the 9:00-9:15 window must have finalized with ONLY the on-time row
        assert emitted[t("2024-01-01T09:00:00")] == 1
    finally:
        q.stop()
        shutil.rmtree(src, ignore_errors=True)


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState accumulates state across micro-batches."""
    src = str(tmp_path / f"st-{uuid.uuid4().hex}")
    t = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    _write_events(spark, src, [(7, t("2024-01-01T09:00:00"), 2.0), (7, t("2024-01-01T09:01:00"), 3.0)])
    stream = spark.readStream.schema("user_id long, ts timestamp, value double").parquet(src)
    q = (
        ST.user_running_totals(stream)
        .writeStream.format("memory")
        .queryName("t_state")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        _write_events(spark, src, [(7, t("2024-01-01T09:02:00"), 5.0)])
        q.processAllAvailable()
        rows = spark.table("t_state").collect()
        totals = [(r.n_events, r.total_value) for r in rows if r.user_id == 7]
        assert (2, 5.0) in totals   # after batch 1
        assert (3, 10.0) in totals  # after batch 2 — state carried over
    finally:
        q.stop()
        shutil.rmtree(src, ignore_errors=True)


def test_session_window_gap_semantics(spark):
    t = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    df = spark.createDataFrame(
        [
            (1, t("2024-01-01T09:00:00")),
            (1, t("2024-01-01T09:04:00")),   # < 5 min gap → same session
            (1, t("2024-01-01T09:09:00")),   # exactly 5 min gap → still merges
            (1, t("2024-01-01T09:14:01")),   # > 5 min gap → NEW session
            (2, t("2024-01-01T09:00:00")),
        ],
        "user_id long, ts timestamp",
    )
    out = SW.session_counts(df, key_col="user_id", gap="5 minutes").collect()
    got = sorted((r.user_id, r.cnt) for r in out)
    assert got == [(1, 1), (1, 3), (2, 1)]


def test_stream_dedup_within_watermark_matches_batch(spark, sf_dir, tmp_path):
    """Ingestion dedup parity: dropDuplicatesWithinWatermark over the file
    stream emits exactly the batch-distinct key set (single-batch arrival,
    so no duplicate outlives the watermark)."""
    import os

    events_dir = tmp_path / "events-dedup-src"
    events_dir.mkdir()
    os.symlink(f"{sf_dir}/events.parquet", events_dir / "events.parquet")
    stream = SW.with_watermark(SW.stream_events(spark, str(events_dir)), delay="1 hour")
    deduped = SW.dedup_keys(
        stream.select("ts", "user_id", "event_type"),
        ["user_id", "event_type"],
        within_watermark=True,
    )
    q = _run_stream(deduped, "t_dedup", output_mode="append")
    try:
        got = {
            (r.user_id, r.event_type) for r in spark.table("t_dedup").collect()
        }
        batch = load_table(spark, sf_dir, "events", columns=["user_id", "event_type"])
        want = {
            (r.user_id, r.event_type)
            for r in SW.dedup_keys(batch, ["user_id", "event_type"]).collect()
        }
        assert got == want and len(want) > 0
    finally:
        q.stop()


def test_interval_join_stream_stream_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream interval join parity: both sides watermarked file
    streams, time-range predicate bounding join state; the emitted pair
    set must equal the batch twin's."""
    import os

    events_dir = tmp_path / "events-ij-src"
    events_dir.mkdir()
    os.symlink(f"{sf_dir}/events.parquet", events_dir / "events.parquet")

    def sides(df):
        clicks = df.where(F.col("event_type") == "click").select(
            "user_id", "ts", "event_id"
        )
        purchases = df.where(F.col("event_type") == "purchase").select(
            "user_id", "ts", "event_id"
        )
        return clicks, purchases

    sc, sp = sides(SW.stream_events(spark, str(events_dir)))
    joined = SW.interval_join(
        SW.with_watermark(sc, delay="1 hour"),
        SW.with_watermark(sp, delay="1 hour"),
        on="user_id",
        max_delay="30 minutes",
    )
    q = _run_stream(joined, "t_ij", output_mode="append")
    try:
        got = {
            (r.l_event_id, r.r_event_id) for r in spark.table("t_ij").collect()
        }
        bc, bp = sides(
            load_table(
                spark, sf_dir, "events",
                columns=["ts", "user_id", "event_type", "event_id"],
            )
        )
        want = {
            (r.l_event_id, r.r_event_id)
            for r in SW.interval_join(bc, bp, on="user_id", max_delay="30 minutes").collect()
        }
        assert got == want and len(want) > 0
    finally:
        q.stop()


def test_tumbling_distinct_users_stream_matches_batch(spark, sf_dir, tmp_path):
    """The streaming-safe two-phase distinct (dedup on (window, user) →
    windowed count) must equal batch COUNT(DISTINCT) per window, and must
    actually execute as a stream (chained stateful operators)."""
    import os

    events_dir = tmp_path / "events-dist"
    events_dir.mkdir()
    os.symlink(f"{sf_dir}/events.parquet", events_dir / "events.parquet")
    stream = SW.stream_events(spark, str(events_dir))
    q = _run_stream(
        SW.tumbling_distinct_users(SW.with_watermark(stream, "ts", "10 minutes")),
        "t_dist_users",
        output_mode="append",
    )
    try:
        got = {r["w"]["start"]: r["n_users"] for r in spark.table("t_dist_users").collect()}
        batch = load_table(spark, sf_dir, "events", columns=["ts", "user_id"])
        want = {
            r["w"]["start"]: r["n"]
            for r in batch.groupBy(F.window("ts", "60 minutes").alias("w"))
            .agg(F.countDistinct("user_id").alias("n"))
            .collect()
        }
        # append mode emits only windows the watermark closed; every
        # emitted window must carry the exact batch distinct count, and
        # most windows must have closed on the fixture's time span
        assert len(got) >= len(want) - 2 and len(got) > 0
        for w_start, n in got.items():
            assert n == want[w_start], (w_start, n, want[w_start])
    finally:
        q.stop()


def test_static_enrich_stream_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static join parity: the broadcast dim join + windowed agg
    produces identical results through the file stream and the batch scan
    (the join is stateless, so not even watermark timing can diverge)."""
    import os

    events_dir = tmp_path / "events-enrich-src"
    events_dir.mkdir()
    os.symlink(f"{sf_dir}/events.parquet", events_dir / "events.parquet")
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment"])
    stream = SW.stream_events(spark, str(events_dir))
    q = _run_stream(SW.static_enrich(stream, cust), "t_static_enrich")
    try:
        got = {
            (r["w"]["start"], r["c_mktsegment"]): (r["cnt"], round(r["total_value"], 4))
            for r in spark.table("t_static_enrich").collect()
        }
        batch = load_table(spark, sf_dir, "events", columns=["ts", "user_id", "value"])
        want = {
            (r["w"]["start"], r["c_mktsegment"]): (r["cnt"], round(r["total_value"], 4))
            for r in SW.static_enrich(batch, cust).collect()
        }
        assert got == want and len(want) > 0
    finally:
        q.stop()


def test_checkpoint_recovery_resumes_without_reprocessing(spark, tmp_path):
    """Exactly-once across a restart: a foreachBatch parquet sink driven
    from a checkpoint must NOT re-emit batches already committed before
    the stop — the streaming twin of the batch task-retry test
    (tests/test_fault_tolerance.py). Run 1 processes file A and stops;
    run 2 (same checkpoint) sees files B, C and must emit exactly those."""
    t = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    src = str(tmp_path / "ck-src")
    out = str(tmp_path / "ck-out")
    ck = str(tmp_path / "ck-state")

    def sink(batch_df, batch_id):
        # plain append parquet; exactly-once comes from the checkpoint's
        # batch tracking (a replayed batch id would re-run this fn, which
        # is why production foreachBatch sinks key idempotence on
        # batch_id — here we assert the replay never happens)
        batch_df.write.mode("append").parquet(out)

    def start():
        stream = spark.readStream.schema(
            "user_id long, ts timestamp, value double"
        ).option("maxFilesPerTrigger", 1).parquet(src)
        return (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .start()
        )

    _write_events(spark, src, [(1, t("2024-01-01T09:00:00"), 1.0)])
    q = start()
    q.processAllAvailable()
    q.stop()
    _write_events(spark, src, [(2, t("2024-01-01T09:05:00"), 2.0)])
    _write_events(spark, src, [(3, t("2024-01-01T09:10:00"), 3.0)])
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r["user_id"], r["value"]) for r in spark.read.parquet(out).collect()
    )
    # each source row exactly once — no loss on restart, no duplication
    # of the pre-restart batch
    assert got == [(1, 1.0), (2, 2.0), (3, 3.0)]


def _checkpoint_file_manager(session) -> str:
    """Class of the manager a stream in ``session`` commits files with."""
    jvm = session.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path("/tmp/spark_graft_fm_probe")
    hadoop_conf = session._jsparkSession.sessionState().newHadoopConf()
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    return manager.CheckpointFileManager.create(path, hadoop_conf).getClass().getName()


def test_stream_checkpoints_use_filesystem_manager(spark):
    """Every stream the engine starts renames checkpoint files with
    FileSystem.rename (no forked ``readlink``): the engine session sets
    the manager, and ``Replay`` pins it for a session that does not and
    unsets it again afterwards. Checkpoint checksums stay on."""
    from mapreduce_system_spark import caches
    from mapreduce_system_spark.session import CHECKPOINT_FILE_MANAGER
    from mapreduce_system_spark.streaming.replay import Replay

    (key,) = CHECKPOINT_FILE_MANAGER
    checksums = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    fs_manager = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
    assert _checkpoint_file_manager(spark) == fs_manager
    assert spark.conf.get(checksums, "true") != "false"

    vanilla = spark.newSession()
    vanilla.conf.unset(key)
    assert _checkpoint_file_manager(vanilla) != fs_manager
    seen = {}

    def record(batch_df, _i):
        session = batch_df.sparkSession
        seen["manager"] = _checkpoint_file_manager(session)
        seen["checksums"] = session.conf.get(checksums, "true")

    try:
        with Replay(vanilla, "test_fm", "unit") as r:
            stream = r.stage(vanilla.range(10).withColumnRenamed("id", "user_id"))
            r.run(stream.writeStream.foreachBatch(record), lambda: vanilla.range(1))
        assert seen["manager"] == fs_manager
        assert seen["checksums"] != "false"
        assert vanilla.conf.get(key, None) is None
    finally:
        caches.release()


def test_stateful_sessions_close_on_gap_and_timeout(spark, tmp_path):
    """Custom stateful sessionization (EventTimeTimeout): a session is
    appended exactly once — either a later event breaks the gap, or the
    watermark passes last_event + gap and the timer EVICTS the idle key.
    gap = 600 s here; u7's session spans two micro-batches before closing
    by timeout, u8's single-event session closes by timeout too."""
    src = str(tmp_path / f"sess-{uuid.uuid4().hex}")
    t = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731

    def write(rows):
        # one file per write: each call must be ONE micro-batch under
        # maxFilesPerTrigger=1 (a multi-file write would split a logical
        # batch into arbitrarily-ordered micro-batches)
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, es long"
        ).coalesce(1).write.mode("append").parquet(src)

    def ev(u, iso):
        ts = t(iso)
        return (u, ts, int(ts.replace(tzinfo=dt.timezone.utc).timestamp()))

    write([ev(7, "2024-01-01T09:00:00"), ev(7, "2024-01-01T09:05:00"), ev(8, "2024-01-01T09:00:00")])
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, es long")
        .parquet(src)
        .withWatermark("ts", "0 seconds")
    )
    q = (
        ST.user_sessions_stateful(stream, gap_s=600)
        .writeStream.format("memory")
        .queryName("t_sessions")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()  # watermark -> 09:05; nothing closes
        assert spark.table("t_sessions").count() == 0
        # u7 extends its open session across the batch boundary (07:12,
        # gap 7 min <= 10); u9 pushes the watermark to 10:00
        write([ev(7, "2024-01-01T09:12:00"), ev(9, "2024-01-01T10:00:00")])
        q.processAllAvailable()
        # batch ran with watermark 09:05 — u7/u8 timers (09:22 / 09:10)
        # must NOT have fired yet from that batch's perspective; a
        # further batch with watermark 10:00 fires both
        write([ev(9, "2024-01-01T11:00:00")])
        q.processAllAvailable()
        got = {
            r.user_id: (r.session_start, r.n_events, r.dur_s)
            for r in spark.table("t_sessions").collect()
        }
        s7 = int(t("2024-01-01T09:00:00").replace(tzinfo=dt.timezone.utc).timestamp())
        assert got[7] == (s7, 3, 720)  # crossed the batch boundary intact
        assert got[8] == (s7, 1, 0)    # idle key evicted by the timer
    finally:
        q.stop()
        shutil.rmtree(src, ignore_errors=True)


def test_stateful_sessions_survive_restart(spark, tmp_path):
    """Stateful session state (including its event-time timer) must
    survive a stop/restart from the checkpoint: an open session begun in
    run 1 is extended and then timer-closed in run 2, emitting EXACTLY
    one session with the full cross-restart span — no loss (state
    dropped) and no duplicate (batch replayed)."""
    src = str(tmp_path / "sess-ck-src")
    ck = str(tmp_path / "sess-ck-state")
    t = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731

    def write(rows):
        # one file per write: each call must be ONE micro-batch under
        # maxFilesPerTrigger=1 (a multi-file write would split a logical
        # batch into arbitrarily-ordered micro-batches)
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, es long"
        ).coalesce(1).write.mode("append").parquet(src)

    def ev(u, iso):
        ts = t(iso)
        return (u, ts, int(ts.replace(tzinfo=dt.timezone.utc).timestamp()))

    emitted = []

    def start():
        stream = (
            spark.readStream.schema("user_id long, ts timestamp, es long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withWatermark("ts", "0 seconds")
        )
        return (
            ST.user_sessions_stateful(stream, gap_s=600)
            .writeStream.foreachBatch(
                lambda bdf, bid: emitted.extend(
                    (r.user_id, r.session_start, r.n_events, r.dur_s)
                    for r in bdf.collect()
                )
            )
            .outputMode("append")
            .option("checkpointLocation", ck)
            .start()
        )

    write([ev(1, "2024-01-01T09:00:00"), ev(1, "2024-01-01T09:05:00")])
    q = start()
    q.processAllAvailable()
    q.stop()
    assert emitted == []  # session still open at shutdown
    # restart: extend the SAME session, then push the watermark past its timer
    write([ev(1, "2024-01-01T09:08:00")])
    write([ev(9, "2024-01-01T11:00:00")])
    write([ev(9, "2024-01-01T12:00:00")])
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    s1 = int(t("2024-01-01T09:00:00").replace(tzinfo=dt.timezone.utc).timestamp())
    got = [r for r in emitted if r[0] == 1]
    assert got == [(1, s1, 3, 480)]  # one session, full span, exactly once


def test_stateful_queries_identical_under_rocksdb_state_store(spark, sf_dir):
    """VERDICT r6 #4: both driver-checked stateful queries rerun with the
    RocksDB state-store provider (the viable backend at production key
    cardinality — the default HDFS-backed provider holds every key's
    state on the JVM heap) must produce row-for-row identical results.
    Each query starts its stream from a fresh checkpoint, so the provider
    conf binds cleanly per run."""
    from mapreduce_system_spark.queries.streaming import (
        q_stateful_sessions,
        q_stateful_user_totals,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None

    def run_both():
        totals = sorted(map(tuple, q_stateful_user_totals(spark, sf_dir).collect()))
        sessions = sorted(map(tuple, q_stateful_sessions(spark, sf_dir).collect()))
        return totals, sessions

    base_totals, base_sessions = run_both()
    spark.conf.set(key, rocksdb)
    try:
        got_totals, got_sessions = run_both()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)

    assert got_totals == base_totals and len(got_totals) > 0
    assert got_sessions == base_sessions and len(got_sessions) > 0


class _FakeGroupState:
    """Minimal stand-in for GroupState to unit-test updater logic
    directly (the real streams above cover the end-to-end wiring)."""

    def __init__(self, tup=None):
        self._t = tup
        self.hasTimedOut = False
        self.timeout = None

    @property
    def exists(self):
        return self._t is not None

    @property
    def get(self):
        return self._t

    def update(self, t):
        self._t = tuple(t)

    def remove(self):
        self._t = None

    def setTimeoutTimestamp(self, ts):
        self.timeout = ts


def test_session_updater_closes_backward_gap_late_event():
    """A late event admitted by a watermark delay LARGER than the gap,
    landing more than one gap BEFORE the open session, is its own
    earlier session. The old point-vs-state merge (min(s, es)) silently
    fabricated one session spanning the silent gap."""
    import pandas as pd

    from functools import partial

    from mapreduce_system_spark.streaming.stateful import _update_session

    upd = partial(_update_session, 600)
    st = _FakeGroupState((36000, 36000, 1))  # open session at t=36000
    out = list(upd((1,), iter([pd.DataFrame({"es": [32400]})]), st))  # 1 h earlier
    closed = [
        tuple(r) for o in out for r in o[["session_start", "n_events", "dur_s"]].values
    ]
    assert closed == [(32400, 1, 0)]  # the late event closed alone
    assert st.get == (36000, 36000, 1)  # open session untouched
    # sanity: a late event WITHIN the gap still merges
    st2 = _FakeGroupState((36000, 36000, 1))
    out2 = list(upd((1,), iter([pd.DataFrame({"es": [35500]})]), st2))
    assert out2 == []
    assert st2.get == (35500, 36000, 2)


def test_totals_updater_all_null_values_total_is_null():
    """SQL SUM over an all-NULL group is NULL; pandas .sum() over an
    all-NaN series is 0.0 — the state's non-null count pins the SQL
    answer so the batch-twin parity holds for such users."""
    import pandas as pd

    from mapreduce_system_spark.streaming.stateful import _update_totals

    st = _FakeGroupState()
    out = list(
        _update_totals((5,), iter([pd.DataFrame({"value": [float("nan")] * 3})]), st)
    )
    row = out[0].iloc[0]
    assert row["n_events"] == 3
    assert row["total_value"] is None
    # a later real value flips the total to a number
    out2 = list(_update_totals((5,), iter([pd.DataFrame({"value": [2.5]})]), st))
    assert out2[0].iloc[0]["total_value"] == 2.5


# ---------------------------------------------------------------------------
# transformWithStateInPandas twin (VERDICT r9 #2)
# ---------------------------------------------------------------------------

_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _tws_or_skip():
    from mapreduce_system_spark import pbshim

    # transformWithStateInPandas runs with a site protobuf or a buildable shim
    if not (pbshim._site_protobuf_available() or pbshim._build_shim() is not None):
        pytest.skip("no google.protobuf and no vendored runtime to shim")
    return pbshim


def _rocksdb_conf(spark):
    import contextlib

    @contextlib.contextmanager
    def ctx():
        key = "spark.sql.streaming.stateStore.providerClass"
        try:
            old = spark.conf.get(key)
        except Exception:
            old = None
        spark.conf.set(key, _ROCKSDB)
        try:
            yield
        finally:
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)

    return ctx()


def test_tws_sessions_row_identical_to_gst(spark, sf_dir):
    """The two sessionization APIs must be row-for-row identical on the
    fixture replay — the applyInPandasWithState original and the
    transformWithStateInPandas twin share one harness and one oracle, so
    a semantic drift between GroupStateTimeout and explicit timers
    cannot hide."""
    _tws_or_skip()
    from mapreduce_system_spark.queries.streaming import (
        q_stateful_sessions,
        q_stateful_sessions_tws,
    )

    gst = sorted(map(tuple, q_stateful_sessions(spark, sf_dir).collect()))
    tws = sorted(map(tuple, q_stateful_sessions_tws(spark, sf_dir).collect()))
    assert gst == tws
    assert len(gst) > 0


def test_tws_sessions_close_on_gap_and_timeout(spark, tmp_path):
    """TWS mirror of test_stateful_sessions_close_on_gap_and_timeout:
    cross-batch session extension, timer-driven close + evict, and the
    timer re-arm discipline (the previous close timer must be DELETED
    when a later event extends the session — TWS keeps every registered
    timer until fired or deleted, so a stale timer would close early)."""
    pbshim = _tws_or_skip()
    src = str(tmp_path / "tws-sess-src")
    t = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731

    def write(rows):
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, es long"
        ).coalesce(1).write.mode("append").parquet(src)

    def ev(u, iso):
        ts = t(iso)
        return (u, ts, int(ts.replace(tzinfo=dt.timezone.utc).timestamp()))

    write([ev(7, "2024-01-01T09:00:00"), ev(7, "2024-01-01T09:05:00"), ev(8, "2024-01-01T09:00:00")])
    with _rocksdb_conf(spark), pbshim.tws_protobuf_env(spark):
        stream = (
            spark.readStream.schema("user_id long, ts timestamp, es long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withWatermark("ts", "0 seconds")
        )
        ck = str(tmp_path / "tws-ck")
        q = (
            ST.user_sessions_tws(stream, gap_s=600)
            .writeStream.format("memory")
            .queryName("t_tws_sessions")
            .outputMode("append")
            .option("checkpointLocation", ck)
            .start()
        )
        try:
            q.processAllAvailable()  # watermark -> 09:05; nothing closes
            assert spark.table("t_tws_sessions").count() == 0
            # u7 extends across the batch boundary (07:12 gap <= 10 min) —
            # its 09:15 timer must be re-armed to 09:22, not fire stale;
            # u9 pushes the watermark to 10:00
            write([ev(7, "2024-01-01T09:12:00"), ev(9, "2024-01-01T10:00:00")])
            q.processAllAvailable()
            write([ev(9, "2024-01-01T11:00:00")])
            q.processAllAvailable()
            got = {
                r.user_id: (r.session_start, r.n_events, r.dur_s)
                for r in spark.table("t_tws_sessions").collect()
            }
            # offline audit of the TWS checkpoint (reader requires the
            # state-var name): exactly u9's final 11:00 session is still
            # open — every closed key was evicted from the store
            open_state = {
                r.user_id: (r.start_es, r.last_es, r.n)
                for r in ST.read_group_state(spark, ck, state_var="open")
                .select("user_id", "start_es", "last_es", "n")
                .collect()
            }
            es11 = int(
                t("2024-01-01T11:00:00")
                .replace(tzinfo=dt.timezone.utc)
                .timestamp()
            )
            assert open_state == {9: (es11, es11, 1)}, open_state
        finally:
            q.stop()
            shutil.rmtree(src, ignore_errors=True)
    s7 = int(t("2024-01-01T09:00:00").replace(tzinfo=dt.timezone.utc).timestamp())
    assert got[7] == (s7, 3, 720)  # one session spanning the batch boundary
    assert got[8] == (s7, 1, 0)    # idle key closed by its timer and evicted


def test_tumbling_distinct_users_excludes_null_users(spark):
    """COUNT(DISTINCT user) ignores NULLs; the streaming-safe two-phase
    rewrite must too (a NULL-user row used to survive the dedup and
    count as one extra user per window — r10 review)."""
    import datetime as _dt

    rows = [
        (1, _dt.datetime(2024, 1, 1, 9, 5)),
        (1, _dt.datetime(2024, 1, 1, 9, 10)),
        (2, _dt.datetime(2024, 1, 1, 9, 20)),
        (None, _dt.datetime(2024, 1, 1, 9, 30)),
        (None, _dt.datetime(2024, 1, 1, 10, 30)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r.w.start.hour, r.n_users)
        for r in SW.tumbling_distinct_users(df, duration="60 minutes").collect()
    }
    # hour 9 has users {1, 2}; hour 10 has ONLY a null user -> no row
    assert got == {(9, 2)}


def test_pbshim_is_noop_when_site_protobuf_exists(spark, monkeypatch):
    """The portable deployment path (VERDICT r10 #4): with a real pip
    ``google.protobuf`` importable, ``tws_protobuf_env`` must not touch
    ``sc.environment`` at all — no PYTHONPATH binding, no /tmp build —
    because the worker interpreters share the driver's site-packages."""
    from mapreduce_system_spark import pbshim

    monkeypatch.setattr(pbshim, "_site_protobuf_available", lambda: True)
    env_before = dict(spark.sparkContext.environment)
    built = []
    monkeypatch.setattr(pbshim, "_build_shim", lambda: built.append(1))
    with pbshim.tws_protobuf_env(spark):
        assert dict(spark.sparkContext.environment) == env_before
    assert dict(spark.sparkContext.environment) == env_before
    assert not built  # the shim build must not even be attempted


def test_pbshim_error_names_the_pip_remedy(spark, monkeypatch):
    """No site protobuf and no vendored runtime → the error must tell the
    operator the one-line portable fix instead of leaving a deployment
    landmine (VERDICT r10 #2/#4)."""
    from mapreduce_system_spark import pbshim

    monkeypatch.setattr(pbshim, "_site_protobuf_available", lambda: False)
    monkeypatch.setattr(pbshim, "_VENDORED_PROTOBUF_DIRS", ("/nonexistent",))
    env_before = dict(spark.sparkContext.environment)
    with pytest.raises(RuntimeError, match="pip install protobuf"):
        with pbshim.tws_protobuf_env(spark):
            pass  # pragma: no cover — must raise before yielding
    assert dict(spark.sparkContext.environment) == env_before


# ---------------------------------------------------------------------------
# offline state-store audit (r12): the checkpointed state READ BACK as a
# DataFrame — the stateful operators' contracts observed directly from
# disk instead of inferred from progress metrics
# ---------------------------------------------------------------------------


def _totals_checkpoint(spark, tmp_path, rows):
    """Run user_running_totals over a one-batch file stream and return
    the (kept) checkpoint plus the input as a batch frame."""
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double"
    )
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .parquet(src)
        .withWatermark("ts", "0 seconds")
    )
    q = (
        ST.user_running_totals(stream)
        .writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return ck, df


def test_state_audit_totals_store_equals_batch_aggregates(spark, tmp_path):
    """read_group_state on the running-totals checkpoint returns EXACTLY
    the per-user aggregates a plain batch groupBy computes — the state
    store's contents verified value-for-value, including the NULL-value
    bookkeeping (n counts every row, n_vals/total skip NULLs)."""
    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0), 2.5),
        (1, dt.datetime(2024, 1, 1, 0, 0, 1), None),
        (2, dt.datetime(2024, 1, 1, 0, 0, 2), 4.0),
        (2, dt.datetime(2024, 1, 1, 0, 0, 3), 6.0),
        (3, dt.datetime(2024, 1, 1, 0, 0, 4), None),
    ]
    ck, df = _totals_checkpoint(spark, tmp_path, rows)
    state = {
        r.user_id: (r.n, r.n_vals, r.total)
        for r in ST.read_group_state(spark, ck)
        .select("user_id", "n", "n_vals", "total")
        .collect()
    }
    batch = {
        r.user_id: (r.n, r.n_vals, r.total)
        for r in df.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.count("value").alias("n_vals"),
            F.coalesce(F.sum("value"), F.lit(0.0)).alias("total"),
        )
        .collect()
    }
    assert state == batch and set(state) == {1, 2, 3}


def test_state_audit_session_store_empty_after_full_flush(spark, tmp_path):
    """The eviction bound observed from disk: after the sentinel pushes
    the watermark past every session's timer, the sessionization store
    holds ZERO keys — state is open sessions only, and a fully-flushed
    stream has none (the claim the r12 scale probe measured via metrics,
    now read directly from the checkpoint)."""
    import os

    src = tmp_path / "src"
    ck = str(tmp_path / "ck")
    src.mkdir()
    base_es = 1_700_000_000

    def stage(rows, name, mtime):
        # the file-stream source lists FILES: write to a scratch dir and
        # move the single part file in (the fresh6 harness discipline)
        scratch = tmp_path / f"tmp_{name}"
        spark.createDataFrame(rows, "user_id long, es long").select(
            "user_id", F.timestamp_seconds("es").alias("ts"), "es"
        ).coalesce(1).write.mode("overwrite").parquet(str(scratch))
        part = next(p for p in scratch.iterdir() if p.name.endswith(".parquet"))
        dst = src / f"{name}.parquet"
        part.rename(dst)
        os.utime(dst, (mtime, mtime))

    stage([(u, base_es + i) for i, u in enumerate([1, 1, 2])],
          "chunk-1", 1_700_000_000)
    # the sentinel far beyond last_es + gap flushes every real timer
    stage([(-1, base_es + 10_000)], "chunk-2", 1_700_000_100)
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, es long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "0 seconds")
    )
    q = (
        ST.user_sessions_stateful(stream, gap_s=60)
        .writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    audited = ST.read_group_state(spark, ck)
    # the sentinel user may hold the one still-open session (its own
    # timer sits beyond the final watermark); every REAL key is evicted
    left = [r.user_id for r in audited.select("user_id").collect()]
    assert all(u == -1 for u in left), left


def test_interval_join_left_outer_stream_matches_batch(spark, tmp_path):
    """LEFT OUTER stream-stream interval join (staged r13): unmatched
    clicks emit exactly once with NULL right columns AFTER the watermark
    passes their join window. A crafted two-file stream with a far-future
    sentinel click pushes the final watermark beyond every real row's
    window, so the emitted set must equal the batch LEFT JOIN exactly
    (sentinel excluded — its own window never closes)."""
    import datetime as dt
    import os

    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(minutes):
        return base + dt.timedelta(minutes=minutes)

    clicks = [
        (1, ts(0), 100),     # converts at +10m
        (1, ts(5), 101),     # converts at +10m (same purchase in range)
        (2, ts(0), 102),     # never converts -> NULL row
        (3, ts(2), 103),     # purchase outside 30m window -> NULL row
        (9, ts(24 * 60), 199),  # sentinel: watermark driver, excluded
    ]
    purchases = [
        (1, ts(10), 900),
        (3, ts(40), 901),    # 38m after click 103: outside max_delay
    ]
    cdir, pdir = tmp_path / "clicks", tmp_path / "purch"
    for d, rows, name in ((cdir, clicks, "c"), (pdir, purchases, "p")):
        d.mkdir()
        scratch = tmp_path / f"tmp_{name}"
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_id long"
        ).coalesce(1).write.mode("overwrite").parquet(str(scratch))
        part = next(p for p in scratch.iterdir() if p.name.endswith(".parquet"))
        dst = d / "chunk-1.parquet"
        part.rename(dst)
        os.utime(dst, (1_700_000_000, 1_700_000_000))

    def read(d):
        return (
            spark.readStream.schema("user_id long, ts timestamp, event_id long")
            .parquet(str(d))
        )

    joined = SW.interval_join(
        SW.with_watermark(read(cdir), delay="1 minute"),
        SW.with_watermark(read(pdir), delay="1 minute"),
        on="user_id",
        max_delay="30 minutes",
        how="left_outer",
    )
    q = _run_stream(joined, "t_ij_outer", output_mode="append")
    try:
        got = {
            (r.l_event_id, r.r_event_id)
            for r in spark.table("t_ij_outer").collect()
            if r.l_user_id != 9
        }
        bc = spark.createDataFrame(
            [r for r in clicks if r[0] != 9],
            "user_id long, ts timestamp, event_id long",
        )
        bp = spark.createDataFrame(
            purchases, "user_id long, ts timestamp, event_id long"
        )
        want = {
            (r.l_event_id, r.r_event_id)
            for r in SW.interval_join(
                bc, bp, on="user_id", max_delay="30 minutes", how="left_outer"
            ).collect()
        }
        assert got == want
        assert (102, None) in got and (103, None) in got and (100, 900) in got
    finally:
        q.stop()


def test_interval_join_rejects_unknown_how():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="full_outer"):
        SW.interval_join(None, None, on="user_id", how="right_outer")


def test_interval_join_full_outer_stream_matches_batch(spark, tmp_path):
    """FULL OUTER stream-stream interval join (staged r16 — completes
    the inner (r13) -> left_outer (r14) join-mode matrix): unmatched
    CLICKS emit once with NULL right columns AND unmatched PURCHASES
    emit once with NULL left columns, each after the watermark passes
    its own join window. Sentinels on BOTH streams (the global
    watermark is the min across inputs) push every real row's window
    closed, so the emitted set must equal the batch FULL JOIN exactly
    (sentinels excluded)."""
    import datetime as dt
    import os

    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(minutes):
        return base + dt.timedelta(minutes=minutes)

    clicks = [
        (1, ts(0), 100),        # converts at +10m
        (2, ts(0), 102),        # never converts -> (102, NULL)
        (3, ts(2), 103),        # purchase outside 30m -> (103, NULL)
        (9, ts(24 * 60), 199),  # sentinel: watermark driver, excluded
    ]
    purchases = [
        (1, ts(10), 900),
        (3, ts(40), 901),       # 38m after click 103 -> (NULL, 901)
        (4, ts(5), 902),        # no click at all -> (NULL, 902)
        (9, ts(24 * 60), 999),  # sentinel on the right stream too
    ]
    cdir, pdir = tmp_path / "clicks", tmp_path / "purch"
    for d, rows, name in ((cdir, clicks, "c"), (pdir, purchases, "p")):
        d.mkdir()
        scratch = tmp_path / f"tmp_{name}"
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_id long"
        ).coalesce(1).write.mode("overwrite").parquet(str(scratch))
        part = next(p for p in scratch.iterdir() if p.name.endswith(".parquet"))
        dst = d / "chunk-1.parquet"
        part.rename(dst)
        os.utime(dst, (1_700_000_000, 1_700_000_000))

    def read(d):
        return (
            spark.readStream.schema("user_id long, ts timestamp, event_id long")
            .parquet(str(d))
        )

    joined = SW.interval_join(
        SW.with_watermark(read(cdir), delay="1 minute"),
        SW.with_watermark(read(pdir), delay="1 minute"),
        on="user_id",
        max_delay="30 minutes",
        how="full_outer",
    )
    q = _run_stream(joined, "t_ij_full", output_mode="append")
    try:
        got = {
            (r.l_event_id, r.r_event_id)
            for r in spark.table("t_ij_full").collect()
            if r.l_user_id != 9 and r.r_user_id != 9
        }
        bc = spark.createDataFrame(
            [r for r in clicks if r[0] != 9],
            "user_id long, ts timestamp, event_id long",
        )
        bp = spark.createDataFrame(
            [r for r in purchases if r[0] != 9],
            "user_id long, ts timestamp, event_id long",
        )
        want = {
            (r.l_event_id, r.r_event_id)
            for r in SW.interval_join(
                bc, bp, on="user_id", max_delay="30 minutes", how="full_outer"
            ).collect()
        }
        assert got == want
        assert (102, None) in got and (103, None) in got
        assert (None, 901) in got and (None, 902) in got
        assert (100, 900) in got
    finally:
        q.stop()


def test_two_stage_windowed_rejects_misaligned_intervals(spark):
    """outer must be a whole multiple of inner (ADVICE r14 #2): a
    misaligned pair (inner 25m, outer 60m) would silently nest the
    0:50-1:15 inner window into hour 1:00 on Spark while the
    start-bucketed oracle puts it in hour 0:00 — raise instead."""
    import pytest as _pytest

    df = spark.createDataFrame([("2024-01-01 00:00:00",)], "ts string").select(
        F.col("ts").cast("timestamp").alias("ts")
    )
    with _pytest.raises(ValueError, match="whole multiple"):
        SW.two_stage_windowed_max(df, inner="25 minutes", outer="60 minutes")
    with _pytest.raises(ValueError, match="whole multiple"):
        SW.two_stage_windowed_max(df, inner="2 hours", outer="60 minutes")
    # aligned pairs construct fine, across unit spellings
    SW.two_stage_windowed_max(df, inner="30 seconds", outer="1 minute")
    SW.two_stage_windowed_max(df, inner="15 minutes", outer="1 hour")
    with _pytest.raises(ValueError, match="interval"):
        SW._interval_seconds("fortnight")
    with _pytest.raises(ValueError, match="unit"):
        SW._interval_seconds("3 parsecs")
    # ADVICE r15: at most ONE plural 's' strips — typo'd units raise
    with _pytest.raises(ValueError, match="unit"):
        SW._interval_seconds("2 hourss")
    with _pytest.raises(ValueError, match="unit"):
        SW._interval_seconds("5 minutess")
    assert SW._interval_seconds("2 hours") == 7200.0
    assert SW._interval_seconds("1 hour") == 3600.0


def test_two_stage_windowed_stream_matches_batch(spark, tmp_path):
    """Chained stateful windowed aggregation (staged r14 for the r15
    registration ``stream_two_stage_windowed``): inner 15-minute counts
    feed an outer hourly max/sum — two stateful operators in one query,
    append mode. A two-chunk stream (mtime-ordered) with a far-future
    sentinel pushes the watermark past every real hour, so the emitted
    set must equal the batch twin exactly (sentinel hour excluded —
    its own window never closes)."""
    import datetime as dt
    import os

    base = dt.datetime(2024, 1, 1, 9, 0, 0)

    def ts(minutes):
        return base + dt.timedelta(minutes=minutes)

    chunk1 = [
        (1, ts(0), 1.0), (2, ts(3), 1.0), (1, ts(14), 1.0),   # 09:00 q: 3
        (1, ts(16), 1.0),                                      # 09:15 q: 1
        (3, ts(31), 1.0), (3, ts(44), 1.0),                    # 09:30 q: 2
    ]
    chunk2 = [
        (2, ts(47), 1.0),                                      # 09:45 q: 1
        (1, ts(60), 1.0), (2, ts(61), 1.0),                    # 10:00 q: 2
        (9, ts(48 * 60), 1.0),                                 # sentinel
    ]
    src = tmp_path / "twostage"
    src.mkdir()
    for i, rows in enumerate((chunk1, chunk2), start=1):
        scratch = tmp_path / f"tmp_{i}"
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, value double"
        ).coalesce(1).write.mode("overwrite").parquet(str(scratch))
        part = next(p for p in scratch.iterdir() if p.name.endswith(".parquet"))
        dst = src / f"chunk-{i}.parquet"
        part.rename(dst)
        os.utime(dst, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    agg = SW.two_stage_windowed_max(SW.with_watermark(stream, "ts", "0 seconds"))
    q = _run_stream(agg, "t_two_stage", output_mode="append")
    try:
        sentinel_hour = ts(48 * 60).replace(minute=0, second=0)
        got = {
            r["w"]["start"]: (r.max_cnt, r.total_cnt, r.n_inner)
            for r in spark.table("t_two_stage").collect()
            if r["w"]["start"] < sentinel_hour
        }
        batch = spark.createDataFrame(
            [r for r in chunk1 + chunk2 if r[0] != 9],
            "user_id long, ts timestamp, value double",
        )
        want = {
            r["w"]["start"]: (r.max_cnt, r.total_cnt, r.n_inner)
            for r in SW.two_stage_windowed_max(batch).collect()
        }
        assert got == want and len(want) == 2
        # hand-checked: hour 09:00 peaks at the 3-event quarter (4
        # inner windows, 7 events); hour 10:00 has one 2-event quarter
        assert got[ts(0)] == (3, 7, 4)
        assert got[ts(60)] == (2, 2, 1)
    finally:
        q.stop()


def test_two_stage_windowed_fuzz_20_random_timelines(spark, tmp_path):
    """Found-or-survived fuzz for the chained two-stateful-operator
    aggregate before its r16 driver debut (VERDICT r14 #7): watermark
    propagation across chained stateful operators is the newest
    oracle-sensitive surface, so sweep 20 seeded random timelines —
    random event times (second granularity, including exact window
    boundaries), duplicate timestamps, and random hour gaps — through
    ONE streaming run and assert the append-mode emission equals the
    batch twin exactly. The LPA sweep's disjoint-union trick, in time:
    seed g's events ride day g+1, so hours never collide across seeds
    and one stream sweeps all 20. Events are split randomly (NOT
    time-ordered) across two chunks; the 40-day watermark delay exceeds
    the 20-day seed span, so cross-chunk disorder is never late-dropped
    and the final sentinel (day 120) closes every real window through
    BOTH stateful operators."""
    import datetime as dt
    import os
    import random

    rows: list[tuple[int, dt.datetime, float]] = []
    for g in range(20):
        rng = random.Random(5300 + g)
        day = dt.datetime(2024, 1, 1) + dt.timedelta(days=g)
        hours = rng.sample(range(24), rng.randint(1, 4))  # gap hours between
        for h in hours:
            for _ in range(rng.randint(1, 8)):
                # minute 0/15/30/45 at second 0 lands EXACTLY on inner
                # boundaries ~1/4 of the time — the nesting-sensitive case
                if rng.random() < 0.25:
                    t = day + dt.timedelta(
                        hours=h, minutes=rng.choice([0, 15, 30, 45])
                    )
                else:
                    t = day + dt.timedelta(
                        hours=h, minutes=rng.randint(0, 59),
                        seconds=rng.randint(0, 59),
                    )
                rows.append((g, t, 1.0))
                if rng.random() < 0.2:  # duplicate timestamp
                    rows.append((g, t, 1.0))
    sentinel = (9, dt.datetime(2024, 5, 1), 1.0)
    rng = random.Random(99)
    shuffled = rows[:]
    rng.shuffle(shuffled)
    cut = len(shuffled) // 2
    chunks = [shuffled[:cut], shuffled[cut:], [sentinel]]

    src = tmp_path / "twostage_fuzz"
    src.mkdir()
    for i, chunk in enumerate(chunks, start=1):
        scratch = tmp_path / f"fz_{i}"
        spark.createDataFrame(
            chunk, "user_id long, ts timestamp, value double"
        ).coalesce(1).write.mode("overwrite").parquet(str(scratch))
        part = next(p for p in scratch.iterdir() if p.name.endswith(".parquet"))
        dst = src / f"chunk-{i}.parquet"
        part.rename(dst)
        os.utime(dst, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    agg = SW.two_stage_windowed_max(SW.with_watermark(stream, "ts", "960 hours"))
    q = _run_stream(agg, "t_two_stage_fuzz", output_mode="append")
    try:
        sentinel_hour = sentinel[1]
        got = {
            r["w"]["start"]: (r.max_cnt, r.total_cnt, r.n_inner)
            for r in spark.table("t_two_stage_fuzz").collect()
            if r["w"]["start"] < sentinel_hour
        }
        batch = spark.createDataFrame(
            rows, "user_id long, ts timestamp, value double"
        )
        want = {
            r["w"]["start"]: (r.max_cnt, r.total_cnt, r.n_inner)
            for r in SW.two_stage_windowed_max(batch).collect()
        }
        assert got == want
        assert len(want) >= 20  # every seed contributed at least one hour
    finally:
        q.stop()


def test_two_stage_windowed_matches_duckdb_oracle_draft(spark, sf_dir):
    """The oracle algebra the r15 query will interpolate: inner
    time_bucket counts, outer time_bucket(inner start) max/sum — the
    batch twin over the real events fixture."""
    import duckdb

    batch = load_table(spark, sf_dir, "events", columns=["ts"])
    got = sorted(
        (
            r["w"]["start"].strftime("%Y-%m-%d %H:%M:%S"),
            r.max_cnt,
            r.total_cnt,
            r.n_inner,
        )
        for r in SW.two_stage_windowed_max(batch).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.execute("""
WITH inner_w AS (
  SELECT time_bucket(INTERVAL '15 minutes', ts) AS iw,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1
)
SELECT strftime(time_bucket(INTERVAL '60 minutes', iw), '%Y-%m-%d %H:%M:%S') AS w_start,
       max(cnt) AS max_cnt,
       CAST(sum(cnt) AS BIGINT) AS total_cnt,
       CAST(count(*) AS BIGINT) AS n_inner
FROM inner_w GROUP BY 1 ORDER BY 1
""").fetchall()
    )
    assert got == want and len(want) > 0
