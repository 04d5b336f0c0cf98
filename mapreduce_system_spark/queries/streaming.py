"""Streaming queries: batch twins of the streaming window operators, and
stateful streams replayed to completion, each DuckDB-oracled.

DuckDB can't execute a stream, so the correctness strategy (SURVEY.md §5)
is streaming-batch parity: the window queries run the *same functions*
from ``streaming.windows`` on the batch events table and carry exact SQL
oracles; tests/test_streaming.py then drives the identical functions
through a real file-source stream and asserts the results match batch.
The stateful queries run a real stream (``streaming/replay.py::Replay``)
and return its final state, so the oracle is the plain batch algebra.

- ``stream_interval_join_attrib`` / ``stream_interval_join_outer`` /
  ``stream_interval_join_full`` — the attribution matrix: purchases
  attributed to a same-user click (inner), clicks that NEVER converted
  (left outer), and purchases no click can claim (FULL OUTER). Batch twins
  of ``streaming.windows.interval_join``; the streaming forms — unmatched
  rows on each side emitted once their own join window passes the
  (min-across-inputs) watermark — are asserted equal in
  tests/test_streaming.py with sentinel-advanced watermarks on both
  streams, and the --fjoin probe pinned the full-outer census exactly x10
  with peak state rows x9.47 (the time-range predicate is the state
  bound). Oracle: the identical time-bounded join in SQL.
- ``stream_two_stage_windowed`` — chained stateful windowed aggregation
  (peak 15-minute event rate per hour): inner tumbling counts, outer
  tumbling max/sum OVER the counts. Batch twin of
  ``streaming/windows.py::two_stage_windowed_max``; the streaming form —
  two watermark-evicted state stores, append mode — is asserted equal in
  tests/test_streaming.py.
- ``stream_stateful_user_totals`` — ``user_running_totals`` (the
  engine-side analog of the reference's reduce contract for streams,
  worker.go:161-165): the query stages the events fixture into two
  parquet files, streams them back one file per micro-batch (so per-key
  state provably carries across batch boundaries), and returns the final
  per-user state. Oracle: the plain batch GROUP BY — lost or
  double-counted state cannot match it.
- ``stream_stateful_sessions`` / ``stream_stateful_sessions_tws`` —
  custom sessionization with event-time timeout eviction, on
  applyInPandasWithState and on transformWithStateInPandas: the timer
  half of the stateful API (state is EVICTED as the watermark passes;
  closed sessions append exactly once). Oracle: batch gaps-and-islands.
- ``stream_state_audit`` — ``read_group_state`` (the offline state-store
  reader) driver-checked: run the running-totals stream, then audit the
  CHECKPOINT ITSELF and return per-user aggregates read from the store's
  files — a partition-parallel read of checkpoint files. Oracle: the plain
  batch GROUP BY — the reference's commit-protocol analog
  (coordinator.go:50-79) verified from persisted state, not from query
  output.

Reference contrast: worker.go:104-165's one-shot map→reduce can build one
windowed count, but it cannot feed a reducer's output into a second
windowed shuffle, carry state across batches, re-open a checkpoint, or
express an OUTER meet of two time-bounded relations (unmatched rows
require knowing a match never arrives — coordinator.go:126-141's pipeline
has no notion of "no partner ever arrives"; the watermark is that proof).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from mapreduce_system_spark.registry import register
from mapreduce_system_spark.sources.tables import load_table
from mapreduce_system_spark.streaming import windows as SW
from mapreduce_system_spark.streaming.replay import Replay

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"

_TUMBLING_SQL = f"""
SELECT strftime(time_bucket(INTERVAL '15 minutes', ts), '{_TS_FMT_DUCK}') AS w_start,
       event_type,
       count(*) AS cnt
FROM events
GROUP BY w_start, event_type
ORDER BY w_start, event_type
"""


@register("stream_tumbling_event_counts", _TUMBLING_SQL)
def q_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-minute tumbling counts per event type (batch twin)."""
    ev = load_table(spark, sf_dir, "events", columns=["ts", "event_type"])
    out = SW.tumbling_counts(ev, duration="15 minutes", group_cols=["event_type"])
    return out.select(
        F.date_format(F.col("w.start"), _TS_FMT_SPARK).alias("w_start"),
        "event_type",
        "cnt",
    ).orderBy("w_start", "event_type")


_SLIDING_SQL = f"""
WITH e AS (
  SELECT time_bucket(INTERVAL '15 minutes', ts) AS b0, value FROM events
), x AS (
  SELECT unnest([b0, b0 - INTERVAL '15 minutes']) AS ws, value FROM e
)
SELECT strftime(ws, '{_TS_FMT_DUCK}') AS w_start,
       count(*) AS cnt,
       round(avg(value), 6) AS avg_value
FROM x
GROUP BY w_start
ORDER BY w_start
"""


@register("stream_sliding_avg_value", _SLIDING_SQL)
def q_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute windows sliding by 15 — every event lands in two windows
    (the oracle unnests the two containing window starts)."""
    ev = load_table(spark, sf_dir, "events", columns=["ts", "value"])
    out = SW.sliding_avg(ev, duration="30 minutes", slide="15 minutes")
    return out.select(
        F.date_format(F.col("w.start"), _TS_FMT_SPARK).alias("w_start"),
        "cnt",
        F.round("avg_value", 6).alias("avg_value"),
    ).orderBy("w_start")


# Session semantics: a new session starts when the gap to the previous
# event EXCEEDS 5 minutes (Spark merges an exactly-gap-sized interval —
# verified in tests/test_streaming.py::test_session_window_gap_semantics).
_SESSION_SQL = """
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL '5 minutes'
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       count(*) AS cnt
FROM s
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


@register("stream_session_counts_user", _SESSION_SQL)
def q_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (5-minute inactivity gap) — the oracle is
    the gaps-and-islands SQL equivalent."""
    ev = load_table(spark, sf_dir, "events", columns=["ts", "user_id"])
    out = SW.session_counts(ev, key_col="user_id", gap="5 minutes")
    return out.select(
        "user_id",
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
        "cnt",
    ).orderBy("user_id", "session_start")


_STREAM_DEDUP_SQL = """
SELECT event_type, count(*) AS n_unique_users
FROM (SELECT DISTINCT user_id, event_type FROM events)
GROUP BY event_type
ORDER BY event_type
"""


@register("stream_dedup_exact", _STREAM_DEDUP_SQL)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ingestion-time dedup (streaming.windows.dedup_keys):
    first event per (user_id, event_type) survives; the stream form with
    ``dropDuplicatesWithinWatermark`` is asserted equal in
    tests/test_streaming.py."""
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "event_type"])
    deduped = SW.dedup_keys(ev, ["user_id", "event_type"])
    return (
        deduped.groupBy("event_type")
        .agg(F.count("*").alias("n_unique_users"))
        .orderBy("event_type")
    )


# Interval (stream-stream) join twin: purchases within 30 minutes of a
# click by the same user — click→purchase attribution. The oracle is the
# identical time-bounded self-join in SQL.
_INTERVAL_JOIN_SQL = """
WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
     p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
     j AS (
       SELECT c.user_id, c.ts AS c_ts, p.ts AS p_ts, p.value
       FROM c JOIN p ON c.user_id = p.user_id
                    AND p.ts >= c.ts
                    AND p.ts <= c.ts + INTERVAL '30 minutes'
     )
SELECT user_id,
       count(*) AS n_attributed,
       CAST(min(date_diff('second', c_ts, p_ts)) AS BIGINT) AS min_lag_s,
       round(sum(value), 2) AS attributed_value
FROM j
GROUP BY user_id
ORDER BY user_id
"""


@register("stream_interval_join_attrib", _INTERVAL_JOIN_SQL)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval join
    (streaming.windows.interval_join): purchases attributed to a same-user
    click within 30 minutes, profiled per user. The streaming form — both
    sides watermarked, same time-range predicate bounding join state — is
    asserted equal in tests/test_streaming.py."""
    ev = load_table(spark, sf_dir, "events", columns=["ts", "user_id", "event_type", "value"])
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    joined = SW.interval_join(clicks, purchases, on="user_id", max_delay="30 minutes")
    return (
        joined.groupBy(F.col("l_user_id").alias("user_id"))
        .agg(
            F.count("*").alias("n_attributed"),
            # cast via timestamp_ltz: the fixture's ts column is
            # TIMESTAMP_NTZ or _LTZ depending on how the parquet was
            # written (isAdjustedToUTC); NTZ→BIGINT is not castable
            # directly, NTZ→LTZ→BIGINT is, and the difference of two
            # epochs is timezone-invariant either way.
            F.min(
                F.col("r_ts").cast("timestamp_ltz").cast("long")
                - F.col("l_ts").cast("timestamp_ltz").cast("long")
            ).alias("min_lag_s"),
            F.round(F.sum("r_value"), 2).alias("attributed_value"),
        )
        .orderBy("user_id")
    )


_TOTALS_SQL = """
SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@register("stream_user_totals_batch", _TOTALS_SQL)
def q_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stateful running-totals operator
    (streaming.stateful.user_running_totals) — the stream's final state
    must equal this result (asserted in tests/test_streaming.py)."""
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "value"])
    return (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .orderBy("user_id")
    )


_DISTINCT_USERS_SQL = f"""
SELECT strftime(time_bucket(INTERVAL '60 minutes', ts), '{_TS_FMT_DUCK}') AS w_start,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
WHERE user_id IS NOT NULL
GROUP BY w_start
ORDER BY w_start
"""


@register("stream_tumbling_distinct_users", _DISTINCT_USERS_SQL)
def q_tumbling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly distinct users (batch twin of the streaming-safe two-phase
    dedup+count — COUNT(DISTINCT) itself cannot run incrementally).
    Streaming parity in tests/test_streaming.py."""
    ev = load_table(spark, sf_dir, "events", columns=["ts", "user_id"])
    out = SW.tumbling_distinct_users(ev, duration="60 minutes")
    return out.select(
        F.date_format(F.col("w.start"), _TS_FMT_SPARK).alias("w_start"),
        F.col("n_users"),
    ).orderBy("w_start")


_STATIC_ENRICH_SQL = f"""
SELECT strftime(time_bucket(INTERVAL '30 minutes', ts), '{_TS_FMT_DUCK}') AS w_start,
       c_mktsegment,
       count(*) AS cnt,
       round(sum(value), 4) AS total_value
FROM events JOIN customer ON c_custkey = user_id
GROUP BY w_start, c_mktsegment
ORDER BY w_start, c_mktsegment
"""


@register("stream_static_enrich", _STATIC_ENRICH_SQL)
def q_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment (batch twin): events joined to the
    broadcast customer dimension, 30-minute windowed count + value sum
    per market segment. The streaming pytest drives the same
    ``streaming.windows.static_enrich`` through a file stream — the
    stream-static join is stateless, so parity is exact."""
    ev = load_table(spark, sf_dir, "events", columns=["ts", "user_id", "value"])
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment"])
    out = SW.static_enrich(ev, cust)
    return out.select(
        F.date_format(F.col("w.start"), _TS_FMT_SPARK).alias("w_start"),
        "c_mktsegment",
        "cnt",
        F.round("total_value", 4).alias("total_value"),
    ).orderBy("w_start", "c_mktsegment")


# ---------------------------------------------------------------------------
# stream_interval_join_outer — unmatched-click attribution (LEFT OUTER)
# ---------------------------------------------------------------------------

# The inner twin (stream_interval_join_attrib) profiles ATTRIBUTED
# clicks; this one keeps the clicks that never saw a purchase within the
# delay — n_unmatched is the outer join's whole point, so the aggregate
# pins it explicitly. One row per (click, matching purchase) plus one
# row per unmatched click, so n_rows = n_matched + n_unmatched.
_INTERVAL_OUTER_SQL = """
WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
     p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
     j AS (
       SELECT c.user_id, c.ts AS c_ts, p.ts AS p_ts, p.value
       FROM c LEFT JOIN p ON c.user_id = p.user_id
                         AND p.ts >= c.ts
                         AND p.ts <= c.ts + INTERVAL '30 minutes'
     )
SELECT user_id,
       count(*) AS n_rows,
       count(p_ts) AS n_matched,
       CAST(count(*) FILTER (WHERE p_ts IS NULL) AS BIGINT) AS n_unmatched,
       round(coalesce(sum(value), 0.0), 2) AS attributed_value
FROM j
GROUP BY user_id
ORDER BY user_id
"""


@register("stream_interval_join_outer", _INTERVAL_OUTER_SQL)
def q_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the LEFT OUTER stream-stream interval join
    (streaming.windows.interval_join(how='left_outer'), staged r13):
    every click keeps its purchases within 30 minutes, clicks with none
    emit once with NULL right columns. The streaming form — both sides
    watermarked, unmatched emission after the watermark passes the join
    window — is asserted equal in tests/test_streaming.py with a
    sentinel-advanced watermark. NULL-user clicks survive the outer
    join as their own group (equality never matches them, outer keeps
    them) — both engines group NULL together."""
    ev = load_table(spark, sf_dir, "events", columns=["ts", "user_id", "event_type", "value"])
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    joined = SW.interval_join(
        clicks, purchases, on="user_id", max_delay="30 minutes", how="left_outer"
    )
    return (
        joined.groupBy(F.col("l_user_id").alias("user_id"))
        .agg(
            F.count("*").alias("n_rows"),
            F.count("r_ts").alias("n_matched"),
            F.count_if(F.col("r_ts").isNull()).alias("n_unmatched"),
            # all-unmatched users have SUM(value) = NULL on both engines;
            # coalesce pins the 0.0 so the hash never compares NULL vs NULL
            # representations
            F.round(F.coalesce(F.sum("r_value"), F.lit(0.0)), 2).alias("attributed_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# stream_two_stage_windowed — chained stateful windowed aggregation
# ---------------------------------------------------------------------------
_TWO_STAGE_SQL = f"""
WITH inner_w AS (
  SELECT time_bucket(INTERVAL '15 minutes', ts) AS iw,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1
)
SELECT strftime(time_bucket(INTERVAL '60 minutes', iw), '{_TS_FMT_DUCK}') AS w_start,
       max(cnt) AS max_cnt,
       CAST(sum(cnt) AS BIGINT) AS total_cnt,
       CAST(count(*) AS BIGINT) AS n_inner
FROM inner_w GROUP BY 1 ORDER BY w_start
"""


@register("stream_two_stage_windowed", _TWO_STAGE_SQL)
def q_two_stage_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak 15-minute event rate per hour — batch twin of the chained
    two-stateful-operator streaming query
    (streaming/windows.py::two_stage_windowed_max): inner tumbling
    counts, outer tumbling max/sum/count OVER the inner counts. The
    streaming form (watermark propagating through the first aggregate,
    append mode, two watermark-evicted state stores) is asserted equal
    in tests/test_streaming.py; outer must be a whole multiple of inner
    (enforced, ADVICE r14 #2) so the window_time nesting matches the
    start-bucketed oracle."""
    ev = load_table(spark, sf_dir, "events", columns=["ts"])
    out = SW.two_stage_windowed_max(ev, ts_col="ts", inner="15 minutes", outer="60 minutes")
    return out.select(
        F.date_format(F.col("w.start"), _TS_FMT_SPARK).alias("w_start"),
        "max_cnt",
        "total_cnt",
        "n_inner",
    ).orderBy("w_start")


# Same oracle as stream_user_totals_batch: the stream's final state must
# equal the batch aggregate.
@register("stream_stateful_user_totals", _TOTALS_SQL)
def q_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run ``user_running_totals`` through an actual file-source stream
    (``streaming.replay``: two files, one per micro-batch) and return the
    final per-user (count, sum) state.

    ``foreachBatch`` appends each batch's updates (one row per key the
    batch touched, stamped with the batch id) to a parquet sink; the
    final state is recovered afterwards as the last update per user —
    one window pass over O(users x batches) SINK rows, with zero
    driver-side collect anywhere in the harness."""
    from mapreduce_system_spark.streaming import stateful as ST

    ev = load_table(spark, sf_dir, "events", columns=["user_id", "value"])
    last = W.partitionBy("user_id").orderBy(F.col("batch_id").desc())
    with Replay(spark, "stateful", sf_dir) as r:

        def persist_updates(batch_df, batch_id: int) -> None:
            # update mode emits one row per key updated in THIS batch; the
            # batch-id stamp lets the post-pass keep only each key's last
            # update. Executor-side append — nothing flows to the driver.
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(r.sink)

        return r.run(
            ST.user_running_totals(r.stage(ev))
            .writeStream.foreachBatch(persist_updates)
            .outputMode("update"),
            lambda: spark.read.parquet(r.sink)
            .withColumn("rn", F.row_number().over(last))
            .where(F.col("rn") == 1)
            # round in Spark (HALF_UP, matching the oracle), not in
            # Python (round() is banker's rounding)
            .select(
                "user_id", "n_events", F.round("total_value", 2).alias("total_value")
            )
            .orderBy("user_id"),
        )


GAP_S = 1800  # 30-minute inactivity gap, matching rel_sessionize_events

# Batch gaps-and-islands twin: the stream's once-per-session appends must
# reproduce this exactly (session keyed on integer epoch seconds, so the
# hash has no float surface at all).
_STATEFUL_SESSIONS_SQL = f"""
WITH t AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
), o AS (
  SELECT user_id, es,
         CASE WHEN lag(es) OVER (PARTITION BY user_id ORDER BY es) IS NULL
                OR es - lag(es) OVER (PARTITION BY user_id ORDER BY es) > {GAP_S}
              THEN 1 ELSE 0 END AS ns
  FROM t
), s AS (
  SELECT user_id, es,
         sum(ns) OVER (PARTITION BY user_id ORDER BY es
                       ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
       min(es) AS session_start,
       CAST(count(*) AS BIGINT) AS n_events,
       max(es) - min(es) AS dur_s
FROM s GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


def replay_sessions(
    spark: SparkSession,
    sf_dir: str,
    family: str,
    sessionize,
    conf: dict[str, str] | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Replay the events fixture through ``sessionize(stream, gap_s=GAP_S)``
    (a streaming sessionizer from ``streaming.stateful``) to a parquet
    append sink; return the closed sessions and the stream's progress.
    ``conf`` is pinned around the stream (``Replay``).

    Events are staged as two time-CONTIGUOUS files, so event time never
    goes back across micro-batches: the condition under which watermark-0
    streaming sessionization is exactly the batch gaps-and-islands oracle.
    A trailing sentinel file (user_id −1, beyond max_ts + gap) fires the
    timers up to the pre-sentinel watermark, and the engine's trailing
    no-data micro-batch (spark.sql.streaming.noDataMicroBatches, default
    on) fires the rest once the watermark reaches the sentinel; the
    oracle match proves the flush is complete."""
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "ts"]).withColumn(
        "es", F.unix_timestamp("ts")
    )
    es = int(ev.agg(F.max("es")).collect()[0][0]) + GAP_S + 61
    sentinel = spark.range(1).select(
        F.lit(-1).cast("long").alias("user_id"),
        F.timestamp_seconds(F.lit(es)).alias("ts"),
        F.lit(es).cast("long").alias("es"),
    )
    with Replay(spark, family, sf_dir, conf) as r:
        stream = r.stage(ev, by=("es", "user_id"), sentinel=sentinel)
        out = r.run(
            sessionize(stream.withWatermark("ts", "0 seconds"), gap_s=GAP_S)
            # append mode: each closed session arrives exactly once; a
            # parquet sink, not a collect — at sf0.1 the stream closes
            # ~95k sessions
            .writeStream.foreachBatch(
                lambda batch_df, _id: batch_df.write.mode("append").parquet(r.sink)
            )
            .outputMode("append"),
            lambda: spark.read.parquet(r.sink)
            .where(F.col("user_id") >= 0)
            .orderBy("user_id", "session_start"),
        )
    return out, r.progress


@register("stream_stateful_sessions", _STATEFUL_SESSIONS_SQL)
def q_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful SESSIONIZATION with event-time TIMEOUT EVICTION
    (``streaming.stateful.user_sessions_stateful``) driven through a real
    stream — the applyInPandasWithState capability the running-totals
    query deliberately does not exercise: timers. Sessions are appended
    exactly once, either when a later event breaks the 30-minute gap or
    when ``GroupStateTimeout.EventTimeTimeout`` fires as the watermark
    passes last_event + gap — so idle keys are EVICTED, the bound that
    makes the state store viable on an unbounded feed. Harness:
    ``replay_sessions``."""
    from mapreduce_system_spark.streaming import stateful as ST

    return replay_sessions(spark, sf_dir, "sessions", ST.user_sessions_stateful)[0]


# TWS requires the RocksDB state-store provider. Changelog checkpointing
# (r18): per commit, upload the batch's CHANGELOG instead of snapshotting
# RocksDB SST files — snapshots move to a background maintenance thread,
# so the per-micro-batch commit path stops paying the full-store upload.
# A/B'd on this query's replay (0.979x): bench_runs/r18_tws_changelog_ab.json.
_TWS_CONF = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


@register("stream_stateful_sessions_tws", _STATEFUL_SESSIONS_SQL)
def q_stateful_sessions_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same sessionization on ``transformWithStateInPandas`` — the
    Spark 4.x typed-state API (explicit ValueState + event-time TIMERS
    instead of GroupStateTimeout; ``streaming.stateful.user_sessions_tws``).
    Same replay harness, same gaps-and-islands oracle, so the two APIs
    are pinned row-identical by the driver gate itself (plus the
    tests/test_streaming.py parity test).

    The RocksDB provider conf (``_TWS_CONF``) is pinned around the stream
    only; it binds to the query's fresh checkpoint at start. The protobuf
    runtime TWS's state protocol needs is bound for the stream's
    duration by ``pbshim.tws_protobuf_env`` (no-op where a real
    google.protobuf is installed)."""
    from mapreduce_system_spark.pbshim import tws_protobuf_env
    from mapreduce_system_spark.streaming import stateful as ST

    with tws_protobuf_env(spark):
        return replay_sessions(
            spark, sf_dir, "sessions_tws", ST.user_sessions_tws, _TWS_CONF
        )[0]


# ---------------------------------------------------------------------------
# stream_state_audit — the checkpoint itself is the query result
# ---------------------------------------------------------------------------

# Same truth as stream_stateful_user_totals, DIFFERENT mechanism: that
# query recovers state from the update-mode SINK; this one reads the
# state store's checkpoint FILES after the stream stops.
@register("stream_state_audit", _TOTALS_SQL)
def q_stream_state_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline state-store audit, driver-checked: run the running-totals
    stream (two micro-batches, noop sink — the OUTPUT is discarded),
    then read the per-user state straight from the checkpoint with the
    ``statestore`` reader and return it as the result. Lost or
    double-counted state cannot match the batch oracle; unlike
    ``stream_stateful_user_totals`` nothing here trusts the stream's
    own emissions — the audit is of what the store PERSISTED (the
    reference's commit protocol made inspectable, coordinator.go:50-79).
    The NULL bookkeeping rides the state's ``n_vals`` field: a user
    whose every value is NULL totals NULL, not 0.0."""
    from mapreduce_system_spark.streaming import stateful as ST

    ev = load_table(spark, sf_dir, "events", columns=["user_id", "value"])
    with Replay(spark, "stateaudit", sf_dir) as r:
        # the audit reads the store's files, which live in the scratch
        # dir: run() checkpoints the result before the dir goes
        return r.run(
            ST.user_running_totals(r.stage(ev))
            .writeStream.format("noop")
            .outputMode("update"),
            lambda: ST.read_group_state(spark, r.ck)
            .select(
                "user_id",
                F.col("n").alias("n_events"),
                F.when(
                    F.col("n_vals") > 0, F.round(F.col("total"), 2)
                ).alias("total_value"),
            )
            .orderBy("user_id"),
        )


# ---------------------------------------------------------------------------
# stream_interval_join_full — two-sided unmatched attribution (FULL OUTER)
# ---------------------------------------------------------------------------

# The inner twin profiles attributed clicks, the left-outer twin adds
# never-converted clicks; this one also surfaces ORPHAN PURCHASES (no
# click within the window can claim them) — the audit row a revenue
# pipeline needs before it trusts its attribution totals. n_rows =
# n_matched + n_click_only + n_purchase_only by construction, and the
# value column splits into attributed (matched purchase rows) vs orphan.
_FULL_SQL = """
WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
     p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
     j AS (
       SELECT c.user_id AS c_user, c.ts AS c_ts,
              p.user_id AS p_user, p.ts AS p_ts, p.value
       FROM c FULL JOIN p ON c.user_id = p.user_id
                         AND p.ts >= c.ts
                         AND p.ts <= c.ts + INTERVAL '30 minutes'
     )
SELECT coalesce(c_user, p_user) AS user_id,
       count(*) AS n_rows,
       CAST(count(*) FILTER (WHERE c_ts IS NOT NULL AND p_ts IS NOT NULL)
            AS BIGINT) AS n_matched,
       CAST(count(*) FILTER (WHERE c_ts IS NOT NULL AND p_ts IS NULL)
            AS BIGINT) AS n_click_only,
       CAST(count(*) FILTER (WHERE c_ts IS NULL) AS BIGINT) AS n_purchase_only,
       round(coalesce(sum(value) FILTER (WHERE c_ts IS NOT NULL), 0.0), 2)
         AS attributed_value,
       round(coalesce(sum(value) FILTER (WHERE c_ts IS NULL), 0.0), 2)
         AS orphan_value
FROM j
GROUP BY coalesce(c_user, p_user)
ORDER BY user_id
"""


@register("stream_interval_join_full", _FULL_SQL)
def q_interval_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the FULL OUTER stream-stream interval join
    (streaming.windows.interval_join(how='full_outer'), staged r16):
    every click keeps its purchases within 30 minutes; clicks with none
    emit once with NULL right columns, purchases no click claims emit
    once with NULL left columns. NULL-user rows from BOTH sides land in
    one NULL group via coalesce (equality never matches them; both
    engines group NULL together). The value column splits exactly:
    attributed_value sums purchases on matched rows, orphan_value sums
    the click-less purchases — together they reconcile to the purchase
    total, which is the audit this query exists to ship."""
    ev = load_table(
        spark, sf_dir, "events", columns=["ts", "user_id", "event_type", "value"]
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    joined = SW.interval_join(
        clicks, purchases, on="user_id", max_delay="30 minutes", how="full_outer"
    )
    matched = F.col("l_ts").isNotNull() & F.col("r_ts").isNotNull()
    return (
        joined.groupBy(
            F.coalesce("l_user_id", "r_user_id").alias("user_id")
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.count_if(matched).alias("n_matched"),
            F.count_if(
                F.col("l_ts").isNotNull() & F.col("r_ts").isNull()
            ).alias("n_click_only"),
            F.count_if(F.col("l_ts").isNull()).alias("n_purchase_only"),
            F.round(
                F.coalesce(
                    F.sum(F.when(F.col("l_ts").isNotNull(), F.col("r_value"))),
                    F.lit(0.0),
                ),
                2,
            ).alias("attributed_value"),
            F.round(
                F.coalesce(
                    F.sum(F.when(F.col("l_ts").isNull(), F.col("r_value"))),
                    F.lit(0.0),
                ),
                2,
            ).alias("orphan_value"),
        )
        .orderBy("user_id")
    )
