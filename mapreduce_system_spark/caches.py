"""Cached relations and eager checkpoints that harnesses can release.

Operators that cache an intermediate (e.g. the shingle sets in
``operators.dedup``) return *lazy* plans — the cache cannot be unpersisted
inside the operator because nothing has executed yet. Registering every
cached relation here lets harnesses that run many queries in one session
(bench.py, the driver's correctness sweep, pytest) call ``release()``
between queries, so cached relations never accumulate across the run.

Iterative operators pin per-round state with ``checkpoint(df)``, an eager
``localCheckpoint``. Its blocks belong to an internal RDD that
``DataFrame.unpersist()`` cannot reach, so ``checkpoint`` keeps a handle to
that RDD, read from the checkpointed frame's own plan (a ``LogicalRDD``).
A loop calls ``free(prev)`` once the successor round is materialized;
frames never freed (the returned result, state a later round still reads)
are released by ``release()``. Each handle names exactly one RDD, so
operators checkpointing concurrently on one session release only their own
blocks.

Unreleased entries are bounded by the corpus the operator cached (a few
MB at fixture scale) and are dropped with the session; ``release()`` makes
the bound zero for harnesses that care.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []
_CHECKPOINTS: dict[int, object] = {}  # RDD id -> JVM RDD holding the blocks


def tracked_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` that registers the relation for later ``release()``."""
    cached = df.cache()
    _TRACKED.append(cached)
    return cached


def checkpoint(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now (eager local checkpoint) and register its
    blocks for ``free`` or ``release()``. The result's lineage is the
    checkpointed partitions alone."""
    out = df.localCheckpoint(eager=True)
    rdd = out._jdf.queryExecution().analyzed().rdd()
    _CHECKPOINTS[rdd.id()] = rdd
    return out


def free(df: DataFrame) -> None:
    """Release the blocks of a frame ``checkpoint`` returned (non-blocking).
    The frame, and every lazy plan over it, is unusable afterwards — free
    a round only once its successor is materialized. Raises ValueError for
    any other frame: a projection of a checkpoint is not one, and freeing
    it would silently release nothing."""
    plan = df._jdf.queryExecution().analyzed()
    rdd = _CHECKPOINTS.pop(plan.rdd().id(), None) if plan.nodeName() == "LogicalRDD" else None
    if rdd is None:
        raise ValueError("free() takes a frame returned by checkpoint() and not yet freed")
    rdd.unpersist(False)


def release() -> int:
    """Unpersist every tracked cached relation and checkpoint; returns how
    many."""
    n = 0
    while _TRACKED:
        try:
            _TRACKED.pop().unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to release
            pass
    while _CHECKPOINTS:
        try:
            _CHECKPOINTS.popitem()[1].unpersist(False)
            n += 1
        except Exception:  # session already stopped — nothing to release
            pass
    return n


def reap_stale_stagings(prefix: str, keep: str, max_age_s: int = 48 * 3600) -> None:
    """Remove sibling /tmp staging dirs abandoned by DEAD applications.

    One definition of the deletion policy for every per-application
    staging family (whole-text-files, sink round-trips, the stateful
    stream scratch dirs) — two drifting copies of a deletion policy is
    how a live session's staging gets reaped mid-read. The 48 h cutoff
    is safe because a LIVE application re-overwrites (or has just
    created) its own staging, so only abandoned dirs age past it;
    ``keep`` (the current run's dir name) is never reaped regardless of
    age.

    ``prefix`` is a LITERAL directory-name prefix (typically embedding
    the sf-dir name) — it is glob-escaped here, so metacharacters in an
    sf-dir name ('*', '[') can never widen the match beyond the
    intended staging family before the rmtree.
    """
    import glob as _glob
    import shutil
    import time
    from pathlib import Path

    for d in Path("/tmp").glob(_glob.escape(prefix) + "*"):
        try:
            if d.name != keep and time.time() - d.stat().st_mtime > max_age_s:
                shutil.rmtree(d, ignore_errors=True)
        except OSError:
            pass
