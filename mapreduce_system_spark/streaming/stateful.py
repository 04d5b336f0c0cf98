"""Custom stateful streaming operators via applyInPandasWithState.

The engine-side analog of the reference's reduce contract for streams:
user state folds value batches per key across micro-batches (the
reference's ``reducef`` sees the whole value list at once,
worker.go:161-165; a stream can't, so state carries the partial fold).

Arrow moves the per-group batches (Pandas DataFrames), never pickled rows.
State size is O(keys) — at 100 TB/day the watermark-driven timeout (GST's
``oldTimeoutTimestamp``) must evict idle keys; here the running-totals
demo keeps state forever by design (bounded key space).

State growth, MEASURED (r12 probe, ``tools/scale_probe.py --stream``,
record ``bench_runs/scale_probe_r12_stream.json``): replaying the
sessionization stream at 10x keys x 10x events under RocksDB, the
closed-session census scales exactly 10x (954,650 = 10 x 95,465 —
asserted by the probe), peak store rows track KEYS exactly (1,500 →
15,000 = live open sessions; the timeout eviction bound holds, not a
row-count artifact), wall grows only 3.24x (5.96 → 19.29 s: the
~2.3 ms/group-call floor and per-batch fixed costs amortize across 10x
more groups per batch), and the RocksDB store grows 6.99x in bytes
(~100 B/open session at 1.5 k keys amortizing to ~70 B at 15 k as the
store's fixed blocks spread over more sessions). Scale
knobs, in the order they bind: (1) state rows are OPEN sessions only —
size the cluster for peak concurrent sessions, not event volume;
(2) group-calls per micro-batch ≈ live keys in that batch, so at fixed
key count, bigger/fewer micro-batches amortize the per-call floor
(maxFilesPerTrigger / trigger interval); (3) the store shards by the
shuffle partitioning of the groupBy — raise
``spark.sql.shuffle.partitions`` so each task's RocksDB instance holds
a bounded key slice.
"""

from __future__ import annotations

from functools import partial
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id long, n_events long, total_value double"
STATE_SCHEMA = "n long, n_vals long, total double"


def _update_totals(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, n_vals, total = state.get if state.exists else (0, 0, 0.0)
    for pdf in pdfs:
        # deliberate SQL aggregate semantics, matching the batch twin
        # (stream_user_totals_batch oracle): n_events = count(*) counts
        # every row including null values; total = sum(value) skips
        # nulls. Pandas .sum() skips NaN like SQL SUM — EXCEPT over an
        # all-NaN series, where it returns 0.0 while SQL SUM returns
        # NULL; the non-null value count in state pins the SQL answer
        # (a user whose every value is NULL totals NULL, not a
        # fabricated 0.0).
        n += len(pdf)
        n_vals += int(pdf["value"].count())
        total += float(pdf["value"].sum())
    state.update((n, n_vals, total))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [total if n_vals else None],
        }
    )


def user_running_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum) maintained across micro-batches.

    Emits the updated totals for every user seen in the current batch
    (update-mode semantics).
    """
    from mapreduce_system_spark.pyfiles import ensure_package_on_executors

    ensure_package_on_executors(events.sparkSession)
    return events.groupBy("user_id").applyInPandasWithState(
        _update_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_OUTPUT_SCHEMA = "user_id long, session_start long, n_events long, dur_s long"
SESSION_STATE_SCHEMA = "start_es long, last_es long, n long"


def _update_session(
    gap_s: int, key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    closed: list[tuple] = []
    if state.hasTimedOut:
        # watermark passed last_es + gap with no new events: the open
        # session can never be extended — emit and evict. THIS is the
        # state bound: idle keys leave the store instead of living
        # forever (the running-totals demo's deliberate contrast).
        s, l, n = state.get
        closed.append((user_id, s, n, l - s))
        state.remove()
    else:
        # Interval-merge sweep: the restored open session is an
        # INTERVAL, not a point, so it enters the sorted sweep as
        # (start, last, n) alongside the batch's single-event
        # intervals. A point-vs-state loop would mishandle an
        # admitted late event that precedes the open session by MORE
        # than the gap (legal when the watermark delay exceeds the
        # gap): min(s, es) used to merge it, fabricating one session
        # spanning a silent gap — the sweep instead closes it as its
        # own earlier session. Exactly-gap-sized intervals still
        # merge (the session_window contract), and in-order replay
        # reduces to the plain append path.
        items: list[tuple[int, int, int]] = []
        for pdf in pdfs:
            items.extend((int(x), int(x), 1) for x in pdf["es"])
        if state.exists:
            items.append(tuple(state.get))
        items.sort()
        s, l, n = None, None, 0
        for a, b, k in items:
            if s is None:
                s, l, n = a, b, k
            elif a - l > gap_s:
                closed.append((user_id, s, n, l - s))
                s, l, n = a, b, k
            else:
                l, n = max(l, b), n + k
        state.update((s, l, n))
        # fire strictly after watermark passes last_es + gap: an event
        # at exactly last_es + gap still merges, so the timer sits at
        # +500 ms — past every merge-eligible instant, before the next
        # whole second a new-session event could occupy
        state.setTimeoutTimestamp((l + gap_s) * 1000 + 500)
    if closed:  # most calls close nothing — skip the empty Arrow batch
        yield pd.DataFrame(
            {
                "user_id": [r[0] for r in closed],
                "session_start": [r[1] for r in closed],
                "n_events": [r[2] for r in closed],
                "dur_s": [r[3] for r in closed],
            }
        )


def user_sessions_stateful(events: DataFrame, gap_s: int = 1800) -> DataFrame:
    """CUSTOM stateful sessionization with event-time timeout eviction —
    the capability ``session_window`` cannot express when the per-session
    output needs arbitrary user logic (here: start/count/duration at
    close time, emitted exactly once).

    ``events`` must be a STREAMING DataFrame carrying a watermarked ``ts``
    (event time, drives the timers) and an ``es`` epoch-seconds column
    (what the session arithmetic uses — integer, hash-exact). Per user,
    state is one open session (start, last, count); batches extend or
    close it, and ``GroupStateTimeout.EventTimeTimeout`` closes + EVICTS
    idle sessions once the watermark passes last_es + gap — so the state
    store holds only OPEN sessions, the bound that makes this viable on
    an unbounded 100 TB/day feed. Closed sessions are appended exactly
    once.

    Exact batch parity (the registered query's oracle) additionally
    requires the arrival order to respect event time across batches —
    true for any watermark-disciplined source; the query's staging sorts
    its replay files to guarantee it.
    """
    from mapreduce_system_spark.pyfiles import ensure_package_on_executors

    ensure_package_on_executors(events.sparkSession)
    return events.groupBy("user_id").applyInPandasWithState(
        partial(_update_session, gap_s),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# transformWithStateInPandas twin (Spark 4.x StatefulProcessor API)
# ---------------------------------------------------------------------------

def _tws_session_processor(gap_s: int):
    """Build the StatefulProcessor class inside a factory, so that it
    pickles by value. Unlike every other worker function in the package
    (see ``pyfiles``), a TWS processor is also unpickled by PySpark's
    driver-side runner (``transform_with_state_driver_worker``), which
    never adds the shipped package to its path: a module-level class
    fails there with ``ModuleNotFoundError`` unless the driver's working
    directory happens to hold the package."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class SessionProcessor(StatefulProcessor):
        """Sessionization on the modern typed-state API — the semantics
        of ``_update_session`` re-expressed with explicit state
        variables and TIMERS instead of GroupStateTimeout:

        - one ValueState ("open") holds the open session interval
          (start_es, last_es, n) per user;
        - each input batch runs the same interval-merge sweep (the open
          session enters the sorted sweep as an interval, so an admitted
          late event earlier than the open session by more than the gap
          closes as its own session instead of fabricating a span);
        - the close timer is an EXPLICIT event-time timer at
          (last_es + gap)s + 500ms — re-registering after each batch
          requires deleting the previous timer first (TWS keeps every
          registered timer until fired or deleted, unlike GST's single
          implicit timeout), else a stale earlier timer would fire and
          close a session that a later event had already extended;
        - handleExpiredTimer emits the session exactly once and clears
          the state — the eviction bound that keeps the store O(open
          sessions) on an unbounded feed.
        """

        def __init__(self) -> None:
            self._gap_s = gap_s

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._open = handle.getValueState(
                "open", "start_es long, last_es long, n long"
            )

        def handleInputRows(self, key, rows, timerValues):
            (user_id,) = key
            items: list[tuple[int, int, int]] = []
            for pdf in rows:
                items.extend((int(x), int(x), 1) for x in pdf["es"])
            if not items:  # defensive: no-data call leaves state alone
                return
            existing = self._open.get()
            if existing is not None:
                items.append(
                    (int(existing[0]), int(existing[1]), int(existing[2]))
                )
            items.sort()
            closed: list[tuple] = []
            s = l = None
            n = 0
            for a, b, k in items:
                if s is None:
                    s, l, n = a, b, k
                elif a - l > self._gap_s:
                    closed.append((user_id, s, n, l - s))
                    s, l, n = a, b, k
                else:
                    l, n = max(l, b), n + k
            self._open.update((s, l, n))
            # one live timer per key: drop the previous close timer
            # before arming the new one (same +500ms placement as the
            # GST twin: past every merge-eligible instant, before the
            # next whole second). listTimers pages from the state
            # server — materialize before mutating what it iterates.
            # Computing the old instant from the state instead measured
            # no faster: 1.158x slower in bench_runs/r18_tws_timer_ab.json,
            # and this form 0.988x of it in bench_runs/r19_tws_timer_ab.json.
            for t in list(self._handle.listTimers()):
                self._handle.deleteTimer(t)
            self._handle.registerTimer((l + self._gap_s) * 1000 + 500)
            if closed:
                yield pd.DataFrame(
                    {
                        "user_id": [r[0] for r in closed],
                        "session_start": [r[1] for r in closed],
                        "n_events": [r[2] for r in closed],
                        "dur_s": [r[3] for r in closed],
                    }
                )

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            (user_id,) = key
            got = self._open.get()
            if got is None:  # timer raced a just-closed key — nothing open
                return
            s, l, n = int(got[0]), int(got[1]), int(got[2])
            self._open.clear()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [s],
                    "n_events": [n],
                    "dur_s": [l - s],
                }
            )

        def close(self) -> None:
            pass

    return SessionProcessor()


def read_group_state(spark, checkpoint: str, state_var: str | None = None) -> DataFrame:
    """Offline state-store audit: read a stateful query's CHECKPOINTED
    per-key state as a DataFrame (Spark's ``statestore`` reader format),
    flattened to one row per key with the state fields as top-level
    columns. The ops half of the stateful contract: what the operators
    above PROMISE about their stores ("state is O(open sessions)",
    "idle keys evict") becomes directly observable from the checkpoint
    — no running query, no instrumentation, no trust in progress
    metrics. tests/test_streaming.py pins both directions: the
    running-totals store holds exactly the batch-computed per-user
    aggregates, and the sessionization store is EMPTY after the
    watermark flushes every session (the eviction bound observed, not
    inferred). At scale the read is partition-parallel over the
    checkpoint files — an audit job, not a driver loop.

    ``state_var`` selects a named state variable for
    ``transformWithStateInPandas`` checkpoints (the reader requires it
    for TWS — e.g. ``"open"`` for ``user_sessions_tws``); GST
    (applyInPandasWithState) checkpoints omit it, and their
    ``groupState`` wrapper struct is unwrapped here so both APIs come
    back in the same shape. Key/state field-name collisions surface as
    Spark's ambiguous-column error — rename in the updater, not here."""
    reader = spark.read.format("statestore")
    if state_var is not None:
        reader = reader.option("stateVarName", state_var)
    raw = reader.load(checkpoint)
    value_fields = [f.name for f in raw.schema["value"].dataType.fields]
    inner = "value.groupState.*" if "groupState" in value_fields else "value.*"
    return raw.select("key.*", inner, "partition_id")


def user_sessions_tws(events: DataFrame, gap_s: int = 1800) -> DataFrame:
    """``user_sessions_stateful`` on ``transformWithStateInPandas`` —
    the API a new Spark 4.x engine standardizes on (typed state
    variables, explicit timers, optional TTL), kept row-identical to
    the GST original (tests/test_streaming.py parity).

    Requires the RocksDB state-store provider (a TWS hard requirement —
    also the honest production choice: the default HDFS-backed provider
    holds every key's state on the JVM heap); the registered query binds
    the provider conf around its stream start.
    """
    from mapreduce_system_spark.pyfiles import ensure_package_on_executors

    ensure_package_on_executors(events.sparkSession)
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_tws_session_processor(gap_s),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        outputMode="append",
        timeMode="eventTime",
    )
