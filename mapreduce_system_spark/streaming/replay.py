"""Replay staged files through a stream, one file per micro-batch.

The reference makes a reduce output visible only through its commit
protocol (coordinator.go:50-79). The stream queries check the engine's
analog the same way: stage the input as a few files, replay them one per
micro-batch through a stateful operator, and compare what the stream
committed with a batch oracle. State that was lost or counted twice at a
batch boundary cannot match.

``Replay`` owns every step of that sequence::

    with Replay(spark, "stateful", sf_dir) as r:
        stream = r.stage(events)
        out = r.run(
            op(stream).writeStream.foreachBatch(write_to_sink).outputMode("update"),
            lambda: spark.read.parquet(r.sink),
        )

- Scratch dir: ``/tmp/spark_graft_<family>_<sf>_<app>_<uuid>``, holding
  the staged sources, the checkpoint (``r.ck``) and a sink path for the
  caller (``r.sink``). Abandoned siblings are reaped on entry
  (``caches.reap_stale_stagings``); the dir is removed on any exit,
  including a failed staging or ``start()`` and ``BaseException``.
- ``stage``: writes a frame as two data files, optionally split into
  time-contiguous ranges, plus an optional trailing sentinel file. The
  files get strictly increasing mtimes, which is the file source's
  arrival order. It returns the file stream (``maxFilesPerTrigger=1``).
- ``run``: starts the caller's writer with ``availableNow`` under the
  pinned confs (``_PINS``), waits, and always stops it. It then checks
  that progress shows one input micro-batch per staged file and returns
  the caller's result checkpointed, so the result outlives the scratch
  dir.
- ``_PINS`` pins ``session.CHECKPOINT_FILE_MANAGER`` too, so a stream in
  a session ``get_spark`` did not build (the driver's vanilla one) still
  commits state and log files by ``FileSystem.rename``, which forks no
  ``readlink`` process per rename.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from mapreduce_system_spark import caches
from mapreduce_system_spark.session import CHECKPOINT_FILE_MANAGER

_PINS = {
    **CHECKPOINT_FILE_MANAGER,
    # One state-store instance per shuffle partition per batch. On 32
    # cores the constant 8 ran stream_stateful_user_totals in 3.39 s and
    # stream_stateful_sessions in 7.26 s (bench_runs/r18a.json), where
    # max(8, defaultParallelism) took 14.14 s and 14.25 s (BENCH_r18.json).
    "spark.sql.shuffle.partitions": "8",
    # recentProgress keeps only the last N updates (default 100) and is
    # trimmed at every update, so the guard needs this for the whole run.
    "spark.sql.streaming.numRecentProgressUpdates": "10000",
}

_FIRST_MTIME = 1_700_000_000  # staged file i gets mtime _FIRST_MTIME + 10 * i


class Replay:
    """One replayed stream over a scratch dir (see the module docstring).

    ``conf`` holds extra session confs pinned while the stream starts and
    runs, e.g. the RocksDB state-store provider. The ``_PINS`` (shuffle
    partitions, progress retention, checkpoint manager) always apply.
    Every pinned conf is restored afterwards; an unset one stays unset."""

    def __init__(
        self,
        spark: SparkSession,
        family: str,
        sf_dir: str,
        conf: dict[str, str] | None = None,
    ) -> None:
        self.spark = spark
        self._prefix = f"spark_graft_{family}_{Path(sf_dir).name}_"
        app = spark.sparkContext.applicationId
        self.dir = Path("/tmp") / f"{self._prefix}{app}_{uuid.uuid4().hex[:8]}"
        self.ck = str(self.dir / "ck")
        self.sink = str(self.dir / "out")
        self.progress: list[dict] = []
        self._conf = {**_PINS, **(conf or {})}
        self._staged = 0

    def __enter__(self) -> Replay:
        caches.reap_stale_stagings(self._prefix, self.dir.name)
        self.dir.mkdir(parents=True)
        return self

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)

    def stage(
        self,
        df: DataFrame,
        name: str = "src",
        by: Sequence[str] = (),
        sentinel: DataFrame | None = None,
    ) -> DataFrame:
        """Stage ``df`` as source ``name`` and return its file stream.

        ``df`` is written as two data files: round-robin halves, or with
        ``by`` a ``repartitionByRange`` split, so that event time never
        goes back across micro-batches. Two is the fewest that carries
        state across a batch boundary; raises RuntimeError if fewer were
        written (an empty range writes no file). ``sentinel``, a frame
        with ``df``'s columns, is staged as one more file after them."""
        parts = self.dir / f"tmp_{name}"
        split = df.repartitionByRange(2, *by) if by else df.repartition(2)
        split.write.parquet(str(parts))
        files = sorted(parts.glob("*.parquet"))
        if len(files) < 2:
            raise RuntimeError(
                f"staged {len(files)} data file(s) for {name!r}; a replay needs 2"
            )
        if sentinel is not None:
            sentinel.coalesce(1).write.parquet(str(parts / "sentinel"))
            files += sorted((parts / "sentinel").glob("*.parquet"))
        src = self.dir / name
        src.mkdir()
        for i, f in enumerate(files, start=1):
            dst = src / f"part-{i:05d}.parquet"
            f.rename(dst)
            t = _FIRST_MTIME + 10 * i
            os.utime(dst, (t, t))
        self._staged += len(files)
        return (
            self.spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

    def run(
        self, writer: DataStreamWriter, result: Callable[[], DataFrame]
    ) -> DataFrame:
        """Run ``writer`` over everything staged, then return ``result()``
        checkpointed. ``self.progress`` holds the stream's progress
        updates as dicts. Raises RuntimeError unless progress shows one
        input micro-batch per staged file: a replay that read two files
        in one batch would weaken the check to a single-batch aggregate
        while still matching the oracle."""
        with self._pinned():
            q = (
                writer.option("checkpointLocation", self.ck)
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination()
                self.progress = [
                    json.loads(p.json) if hasattr(p, "json") else dict(p)
                    for p in q.recentProgress
                ]
            finally:
                q.stop()
        # a batch fed a source a file iff the source's offset advanced
        # (row counts would miss a batch whose sink never reads it)
        fed = sum(
            1
            for p in self.progress
            for s in p["sources"]
            if s["endOffset"] != s["startOffset"]
        )
        if fed != self._staged:
            raise RuntimeError(
                f"staged {self._staged} file(s) but progress shows {fed} "
                "input micro-batch(es); expected one per file"
            )
        return caches.checkpoint(result())

    @contextmanager
    def _pinned(self) -> Iterator[None]:
        conf = self.spark.conf
        old = {k: conf.get(k, None) for k in self._conf}
        for k, v in self._conf.items():
            conf.set(k, v)
        try:
            yield
        finally:
            for k, v in old.items():
                if v is None:
                    conf.unset(k)
                else:
                    conf.set(k, v)
