"""streaming.replay.Replay: the one harness that replays staged files
through a stream. It must leave no scratch dir behind on any exit, restore
every conf it pins, and refuse a replay whose progress does not show one
input micro-batch per staged file."""

from __future__ import annotations

import os
import shutil

import pytest

from pyspark.sql import functions as F

from mapreduce_system_spark import caches
from mapreduce_system_spark.streaming.replay import Replay
from tests.conftest import REPO


def _rows(spark, n):
    return spark.range(n).select(
        F.col("id").alias("user_id"), (F.col("id") * 0.5).alias("value")
    )


def test_replay_feeds_one_file_per_batch_and_removes_its_dir(spark):
    sentinel = spark.range(1).select(
        F.lit(-1).cast("long").alias("user_id"), F.lit(0.0).alias("value")
    )
    with Replay(spark, "test_replay", "unit") as r:
        stream = r.stage(_rows(spark, 40), sentinel=sentinel)
        out = r.run(
            stream.writeStream.foreachBatch(
                lambda b, _i: b.write.mode("append").parquet(r.sink)
            ),
            lambda: spark.read.parquet(r.sink),
        )
    assert not r.dir.exists()
    # the result was checkpointed before its sink was removed
    assert sorted(x.user_id for x in out.collect()) == [-1, *range(40)]
    fed = [
        s["numInputRows"]
        for p in r.progress
        for s in p["sources"]
        if s["numInputRows"] > 0
    ]
    assert len(fed) == 3 and sum(fed) == 41, r.progress
    # the sentinel file arrives last
    assert fed[-1] == 1
    caches.release()


def test_replay_pins_confs_for_the_stream_and_restores_them(spark):
    shuffle = "spark.sql.shuffle.partitions"
    retain = "spark.sql.streaming.minBatchesToRetain"
    before = spark.conf.get(shuffle, None)
    spark.conf.set(shuffle, "13")
    spark.conf.unset(retain)
    seen = {}

    def record(batch_df, _i):
        conf = batch_df.sparkSession.conf
        seen.update({shuffle: conf.get(shuffle), retain: conf.get(retain)})

    try:
        with Replay(spark, "test_replay", "unit", {retain: "7"}) as r:
            stream = r.stage(_rows(spark, 10))
            r.run(stream.writeStream.foreachBatch(record), lambda: spark.range(1))
        assert seen == {shuffle: "8", retain: "7"}
        assert spark.conf.get(shuffle) == "13"
        assert spark.conf.get(retain, None) is None
    finally:
        if before is None:
            spark.conf.unset(shuffle)
        else:
            spark.conf.set(shuffle, before)
        caches.release()


def test_replay_dir_removed_when_staging_guard_raises(spark):
    with pytest.raises(RuntimeError, match="a replay needs 2"):
        with Replay(spark, "test_replay", "unit") as r:
            r.stage(_rows(spark, 1))
    assert not r.dir.exists()


def test_replay_dir_removed_and_confs_restored_when_start_fails(spark):
    key = "spark.sql.streaming.numRecentProgressUpdates"
    before = spark.conf.get(key, None)
    with pytest.raises(Exception):
        with Replay(spark, "test_replay", "unit") as r:
            stream = r.stage(_rows(spark, 10))
            r.run(stream.writeStream.format("no_such_sink_format"), lambda: None)
    assert not r.dir.exists()
    assert spark.conf.get(key, None) == before


def test_replay_dir_removed_on_base_exception(spark):
    with pytest.raises(KeyboardInterrupt):
        with Replay(spark, "test_replay", "unit") as r:
            r.stage(_rows(spark, 10))
            raise KeyboardInterrupt
    assert not r.dir.exists()


def test_replay_guard_rejects_a_file_it_did_not_stage(spark):
    """A third file in the source dir means three input batches for two
    staged files: the guard refuses the replay."""
    with pytest.raises(RuntimeError, match="expected one per file"):
        with Replay(spark, "test_replay", "unit") as r:
            stream = r.stage(_rows(spark, 10))
            src = r.dir / "src"
            extra = src / "part-99999.parquet"
            shutil.copy(sorted(src.glob("*.parquet"))[0], extra)
            os.utime(extra, (1_800_000_000, 1_800_000_000))
            r.run(stream.writeStream.format("noop"), lambda: spark.range(1))
    assert not r.dir.exists()


def test_no_query_module_runs_its_own_stream():
    """Stream staging, pinning, guarding and cleanup live in
    streaming/replay.py; queries compose it."""
    qdir = REPO / "mapreduce_system_spark" / "queries"
    offenders = [
        p.name
        for p in sorted(qdir.glob("*.py"))
        if "readStream" in p.read_text() or "availableNow" in p.read_text()
    ]
    assert not offenders, offenders

