"""caches.checkpoint / caches.free: each checkpoint releases only its own
blocks, whatever else the session has persisted at the time."""

from __future__ import annotations

import random
import threading

import pytest

from pyspark.sql import functions as F

from mapreduce_system_spark import caches
from mapreduce_system_spark.operators.graph import label_propagation, pagerank
from tests.conftest import REPO, persisted_rdd_ids


def test_interleaved_checkpoints_release_only_their_own_blocks(spark):
    caches.release()
    base = persisted_rdd_ids(spark)
    a = caches.checkpoint(spark.range(50).selectExpr("id", "id * 2 AS v"))
    a_ids = persisted_rdd_ids(spark) - base
    b = caches.checkpoint(spark.range(30).selectExpr("id % 7 AS k").distinct())
    b_ids = persisted_rdd_ids(spark) - base - a_ids
    assert len(a_ids) == 1 and len(b_ids) == 1, (a_ids, b_ids)
    caches.free(a)
    held = persisted_rdd_ids(spark)
    assert not (a_ids & held)
    assert b_ids <= held
    assert sorted(r.k for r in b.collect()) == list(range(7))
    assert caches.release() == 1
    assert persisted_rdd_ids(spark) == base


def test_free_rejects_frames_checkpoint_did_not_return(spark):
    caches.release()
    a = caches.checkpoint(spark.range(5))
    with pytest.raises(ValueError):
        caches.free(a.select("id"))  # a projection is not the checkpoint
    with pytest.raises(ValueError):
        caches.free(spark.range(5))
    with pytest.raises(ValueError):
        caches.free(spark.createDataFrame(spark.sparkContext.parallelize([(1,)]), "x long"))
    caches.free(a)
    with pytest.raises(ValueError):
        caches.free(a)  # already freed
    assert caches.release() == 0


def test_checkpoint_with_matches_a_separate_aggregate(spark):
    caches.release()
    df = spark.range(100).selectExpr("id", "id % 7 AS k")
    aggs = dict(
        n=F.count(F.lit(1)), s=F.sum("id"), hi=F.max("k"), odd=F.count_if(F.col("id") % 2 == 1)
    )
    out, got = caches.checkpoint_with(df, **aggs)
    want = df.agg(*(c.alias(k) for k, c in aggs.items())).collect()[0].asDict()
    assert got == want
    assert out.count() == 100
    caches.free(out)
    assert caches.release() == 0


def test_checkpoint_with_on_a_frame_folded_to_empty(spark):
    """where(lit(False)) is folded to an empty relation by the optimizer;
    the observation must still be reported, not waited on forever."""
    import time

    caches.release()
    t0 = time.monotonic()
    out, got = caches.checkpoint_with(
        spark.range(10).where(F.lit(False)), n=F.count(F.lit(1)), s=F.sum("id")
    )
    assert got == {"n": 0, "s": None}
    assert time.monotonic() - t0 < 60
    assert out.count() == 0
    caches.free(out)
    assert caches.release() == 0


def test_label_propagation_from_two_threads_matches_serial(spark):
    """Two operators checkpointing and freeing round by round on one
    session at once: neither may free the other's state, and each reads
    its own per-round observations (pagerank's tol stop)."""
    rng = random.Random(31)
    frames = [
        spark.createDataFrame(
            [(rng.randrange(40), rng.randrange(40)) for _ in range(120)],
            "src long, dst long",
        )
        for _ in range(2)
    ]
    for op in (
        lambda df: label_propagation(df, iterations=4),
        lambda df: pagerank(df, iterations=20, tol=1e-3),
    ):
        caches.release()

        def run(df, op=op):
            return sorted(tuple(r) for r in op(df).collect())

        serial = [run(df) for df in frames]
        caches.release()
        got: dict[int, object] = {}

        def worker(i, run=run):
            try:
                got[i] = run(frames[i])
            except Exception as e:  # noqa: BLE001 - reported by the assert below
                got[i] = e

        threads = [threading.Thread(target=worker, args=(i,)) for i in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert [got[0], got[1]] == serial
    caches.release()


def test_caches_is_the_only_checkpoint_call_site():
    """Every eager checkpoint goes through caches.checkpoint, so every
    checkpoint's blocks are registered for free()/release()."""
    pkg = REPO / "mapreduce_system_spark"
    offenders = [
        str(p.relative_to(REPO))
        for p in sorted(pkg.rglob("*.py"))
        if p != pkg / "caches.py" and ".localCheckpoint(" in p.read_text()
    ]
    assert not offenders, offenders
