"""Round-6 additions: the stateful streaming operator, driver-checked —
both halves of the applyInPandasWithState surface.

- ``stream_stateful_user_totals``: ``user_running_totals`` (the
  engine-side analog of the reference's reduce contract for streams,
  worker.go:161-165) had pytest-only evidence. The query stages the
  events fixture into two parquet files, streams them back with
  ``maxFilesPerTrigger=1`` (two micro-batches, so per-key state
  provably carries across batch boundaries), and returns the final
  per-user state. Oracle: the plain batch GROUP BY — lost or
  double-counted state cannot match it.
- ``stream_stateful_sessions``: custom sessionization with
  ``GroupStateTimeout.EventTimeTimeout`` eviction — the timer half of
  the stateful API (state is EVICTED as the watermark passes; closed
  sessions append exactly once). Oracle: batch gaps-and-islands.

Window position is governed by queries/__init__.py's import list (the
module debuted first in r6; the r10 rotation places it at slots 47-49
with the new TWS twin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from mapreduce_system_spark.registry import register
from mapreduce_system_spark.sources.tables import load_table
from mapreduce_system_spark.streaming.replay import Replay


# Same oracle as stream_user_totals_batch (queries/streaming.py): the
# stream's final state must equal the batch aggregate.
_STATEFUL_TOTALS_SQL = """
SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@register("stream_stateful_user_totals", _STATEFUL_TOTALS_SQL)
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
