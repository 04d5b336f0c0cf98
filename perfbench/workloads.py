"""The three benchmark workloads.

Each workload is a closed loop with one client: it generates its inputs
from the seed, warms the paths it uses, and hands the runner one *pass*
at a time — a fixed list of ops. An op is one timed unit:

- ``mr_batch`` / ``graph_iter``: one operator call run to completion
  through the ``noop`` sink;
- ``stream_replay``: one micro-batch (one event file dropped into the
  watched directory, waited on until both streams have processed it).

``check`` compares each op's output with an independent reference on the
same input and returns the ops that failed: before the timed passes for
the batch workloads, after the replay for the stream.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import gen
import refs


@dataclass
class Op:
    """One timed unit. ``build`` returns the plan (running any eager jobs
    the operator needs); ``action`` executes it. Without an ``action`` the
    plan runs through the ``noop`` sink. ``rounds`` counts the iterations
    of an iterative operator."""

    name: str
    build: Callable[[], DataFrame | None]
    action: Callable[[DataFrame | None], None] | None = None
    rounds: int = 0
    stream: bool = False


def run_noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Layers:
    """Counters the workloads feed from inside their own code: time in
    source reads, and the word-count program's Python accumulators."""

    read_s: float = 0.0
    acc: dict = field(default_factory=dict)


class Workload:
    name = ""
    tail_pct = 75
    passes_per_10s = 2
    uses_python = False
    check_after = False

    def __init__(self, seed: int, layers: Layers, traced: bool):
        self.seed = seed
        self.layers = layers
        self.traced = traced

    def generate(self, input_dir: Path) -> None:
        raise NotImplementedError

    def warmup(self, spark: SparkSession) -> None:
        spark.range(20_000).groupBy((F.col("id") % 7).alias("k")).count().write.format(
            "noop"
        ).mode("overwrite").save()
        if self.uses_python:
            # start the Python worker pool and the Arrow grouped-map path
            spark.range(4_000).select((F.col("id") % 8).alias("k")).groupBy("k").applyInPandas(
                lambda pdf: pdf.head(1), "k long"
            ).write.format("noop").mode("overwrite").save()

    def start(self, spark: SparkSession, input_dir: Path) -> None:
        self.spark = spark
        self.input_dir = input_dir

    def pass_ops(self) -> list[Op]:
        raise NotImplementedError

    def check(self) -> dict[str, str]:
        """op name -> failure reason, for every op whose output is wrong.
        Runs each op once more and compares its collected rows with
        ``expected()``: op name -> (rows, ordered, float rel_tol)."""
        from mapreduce_system_spark import caches

        want = self.expected()
        bad = {}
        for op in self.pass_ops():
            rows, ordered, rel_tol = want[op.name]
            try:
                got = [tuple(r) for r in op.build().collect()]
            except Exception as e:  # noqa: BLE001 - a failing op is a check failure
                bad[op.name] = f"{type(e).__name__}: {e}"[:300]
                continue
            finally:
                caches.release()
            why = refs.same_rows(got, rows, ordered=ordered, rel_tol=rel_tol)
            if why:
                bad[op.name] = why
        return bad

    def expected(self) -> dict[str, tuple]:
        raise NotImplementedError

    def stop(self) -> None:
        pass

    def read(self, open_source: Callable[[], DataFrame]) -> DataFrame:
        """Open an input, adding the time spent to ``sources.read_s``."""
        t0 = time.perf_counter()
        try:
            return open_source()
        finally:
            self.layers.read_s += time.perf_counter() - t0


# ---- mr_batch -------------------------------------------------------------

def word_count_program(acc: dict | None):
    """The word-count (mapf, reducef) pair handed to ``map_reduce_scalable``.
    With ``acc`` (traced runs) each call adds to Spark accumulators: call
    counts and the seconds spent inside the user functions."""
    import re as _re

    split = _re.compile(r"\W+").split
    if acc is None:
        def mapf(_key, text):
            return [(w, "1") for w in split(text.lower()) if w]

        def reducef(_key, values):
            return str(len(values))

        return mapf, reducef
    calls_m, calls_r, udf_s = acc["mapf_calls"], acc["reducef_calls"], acc["udf_s"]

    def mapf(_key, text):
        t0 = time.perf_counter()
        out = [(w, "1") for w in split(text.lower()) if w]
        calls_m.add(1)
        udf_s.add(time.perf_counter() - t0)
        return out

    def reducef(_key, values):
        t0 = time.perf_counter()
        out = str(len(values))
        calls_r.add(1)
        udf_s.add(time.perf_counter() - t0)
        return out

    return mapf, reducef


class MrBatch(Workload):
    """The paper's workloads on a Zipf corpus: shuffle and the Python
    worker path do the work; no caches, iteration or streams."""

    name = "mr_batch"
    tail_pct = 90
    passes_per_10s = 3  # a pass takes ~3 s; the median lands mid-cluster
    uses_python = True

    def generate(self, input_dir: Path) -> None:
        self.facts = gen.corpus(self.seed, input_dir, n_docs=2000, words_per_doc=60, vocab=800)

    def start(self, spark, input_dir):
        super().start(spark, input_dir)
        self.pattern = rf"\b{self.facts['grep_word']}\b"
        acc = None
        if self.traced:
            sc = spark.sparkContext
            acc = {"mapf_calls": sc.accumulator(0), "reducef_calls": sc.accumulator(0),
                   "udf_s": sc.accumulator(0.0)}
        self.layers.acc = acc or {}
        self.mapf, self.reducef = word_count_program(acc)

    def pass_ops(self):
        from mapreduce_system_spark.operators import mapreduce as mr
        from mapreduce_system_spark.sources.tables import load_table

        def docs() -> DataFrame:
            return self.read(lambda: load_table(self.spark, str(self.input_dir), "documents", ["doc_id", "text"]))

        return [
            Op("word_count", lambda: mr.word_count(docs(), "text")),
            Op("inverted_index", lambda: mr.inverted_index(docs(), "text", "doc_id")),
            Op("grep", lambda: mr.grep(docs(), self.pattern, "text", "doc_id")),
            Op("distributed_sort", lambda: mr.distributed_sort(docs().select("text", "doc_id"), ["text", "doc_id"])),
            Op("map_reduce_scalable", lambda: mr.map_reduce_scalable(
                docs().select(F.col("doc_id").cast("string").alias("file"), F.col("text").alias("content")),
                self.mapf, self.reducef)),
        ]

    def expected(self):
        t = pq.read_table(self.input_dir / "documents.parquet", columns=["doc_id", "text"])
        docs = list(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
        return {
            "word_count": (refs.word_count(docs), True, 0.0),
            "inverted_index": (refs.inverted_index(docs), True, 0.0),
            "grep": (refs.grep(docs, self.pattern), False, 0.0),
            "distributed_sort": (refs.sort_docs(docs), True, 0.0),
            "map_reduce_scalable": (refs.word_count_strings(docs), False, 0.0),
        }


# ---- graph_iter -----------------------------------------------------------

class GraphIter(Workload):
    """Iterative operators on a power-law graph: per-round jobs and
    checkpoint/release dominate; no Python UDFs, small shuffles."""

    name = "graph_iter"
    tail_pct = 90
    PR_ITERS, PR_TOL_CAP, PR_TOL = 2, 8, 0.15
    LPA_ITERS, CC_ROUNDS, KCORE_K, KCORE_ROUNDS = 2, 2, 3, 2

    def generate(self, input_dir):
        gen.graph(self.seed, input_dir, n_nodes=1000, n_edges=4000)

    def start(self, spark, input_dir):
        super().start(spark, input_dir)
        t = pq.read_table(input_dir / "edges.parquet")
        self.edges = list(zip(t.column("src").to_pylist(), t.column("dst").to_pylist()))
        # the tol run's round count is a property of the input: take it
        # from the reference recurrence
        _, self.tol_rounds = refs.pagerank(self.edges, self.PR_TOL_CAP, self.PR_TOL)

    def _edges(self) -> DataFrame:
        return self.read(lambda: self.spark.read.parquet(str(self.input_dir / "edges.parquet")))

    def pass_ops(self):
        from mapreduce_system_spark.operators import graph as G

        return [
            Op("pagerank", lambda: G.pagerank(self._edges(), iterations=self.PR_ITERS), rounds=self.PR_ITERS),
            Op("pagerank_tol", lambda: G.pagerank(self._edges(), iterations=self.PR_TOL_CAP, tol=self.PR_TOL),
               rounds=self.tol_rounds),
            Op("label_propagation", lambda: G.label_propagation(self._edges(), iterations=self.LPA_ITERS),
               rounds=self.LPA_ITERS),
            Op("connected_components_jump", lambda: G.connected_components_jump(
                self._edges(), "src", "dst", rounds=self.CC_ROUNDS), rounds=self.CC_ROUNDS),
            Op("k_core_peel", lambda: G.k_core_peel(self._edges(), self.KCORE_K, rounds=self.KCORE_ROUNDS),
               rounds=self.KCORE_ROUNDS),
        ]

    def expected(self):
        e = self.edges
        return {
            "pagerank": (refs.pagerank(e, self.PR_ITERS)[0], False, 1e-9),
            "pagerank_tol": (refs.pagerank(e, self.PR_TOL_CAP, self.PR_TOL)[0], False, 1e-9),
            "label_propagation": (refs.label_propagation(e, self.LPA_ITERS), False, 0.0),
            "connected_components_jump": (refs.components_jump(e, self.CC_ROUNDS), False, 0.0),
            "k_core_peel": (refs.k_core(e, self.KCORE_K, self.KCORE_ROUNDS), False, 0.0),
        }


# ---- stream_replay --------------------------------------------------------

class StreamReplay(Workload):
    """Event files replayed one per micro-batch through a stateful
    per-user running total and a watermarked tumbling count: the state
    store and the micro-batch commit do the work."""

    name = "stream_replay"
    N_FILES, ROWS, USERS, FILE_SPAN_S = 64, 200, 40, 300
    WINDOW, DELAY = "5 minutes", "5 minutes"
    PER_PASS = 4
    check_after = True

    def generate(self, input_dir):
        self.files = gen.event_files(
            self.seed, input_dir / "staged", self.N_FILES, self.ROWS, self.USERS, self.FILE_SPAN_S
        )

    def start(self, spark, input_dir):
        super().start(spark, input_dir)
        from mapreduce_system_spark.streaming import stateful, windows

        self.src = input_dir / "src"
        self.src.mkdir()
        self.next_file = 0
        self._drop()  # the streams need one file before they are defined
        events = windows.stream_events(spark, str(self.src))
        ck = input_dir / "ck"
        totals = stateful.user_running_totals(events.select("user_id", "value"))
        counts = windows.tumbling_counts(
            windows.with_watermark(events, "ts", self.DELAY), "ts", self.WINDOW, ["event_type"]
        )
        # one state-store shard per core; the width binds to each stream's
        # checkpoint at start. No empty micro-batches: a watermark advance
        # is applied by the next data batch, so an op is exactly one
        # micro-batch per stream and none runs on into the next op.
        spark.conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
        self.queries = [
            totals.writeStream.format("memory").queryName("bench_totals").outputMode("update")
            .option("checkpointLocation", str(ck / "totals")).start(),
            counts.writeStream.format("memory").queryName("bench_counts").outputMode("append")
            .option("checkpointLocation", str(ck / "counts")).start(),
        ]
        self._wait()  # first micro-batch: state stores and Python workers start

    def _drop(self) -> None:
        f = self.files[self.next_file]
        os.rename(f, self.src / f.name)
        self.next_file += 1

    def _wait(self) -> None:
        for q in self.queries:
            q.processAllAvailable()

    def replay_one(self, _df) -> None:
        self._drop()
        self._wait()

    def pass_ops(self):
        n = min(self.PER_PASS, len(self.files) - self.next_file)
        return [Op("micro_batch", lambda: None, action=self.replay_one, stream=True) for _ in range(n)]

    def progress(self) -> list[dict]:
        return [q.lastProgress or {} for q in self.queries]

    def check(self):
        """The batch twin: the same aggregates as batch queries over every
        replayed file. The running totals' last update per user must equal
        the batch totals; every emitted window count must equal the batch
        count, and every window the watermark has closed must be emitted."""
        from mapreduce_system_spark.streaming import windows

        spark = self.spark
        self._wait()
        batch = spark.read.parquet(str(self.src))
        want = batch.groupBy("user_id").agg(F.count("*"), F.sum("value")).collect()
        got = (
            spark.table("bench_totals").groupBy("user_id")
            .agg(F.max_by(F.struct("n_events", "total_value"), "n_events").alias("s"))
            .select("user_id", "s.n_events", "s.total_value").collect()
        )
        why = refs.same_rows([tuple(r) for r in got], [tuple(r) for r in want], rel_tol=1e-9)
        if why:
            return {"micro_batch": f"running totals: {why}"}

        def rows(df):
            return {(str(r[0]), r[1], r[2]) for r in df.select(
                F.col("w.start").cast("string"), "event_type", "cnt").collect()}

        emitted = rows(spark.table("bench_counts"))
        twin = windows.tumbling_counts(batch, "ts", self.WINDOW, ["event_type"])
        wm = self.queries[1].lastProgress["eventTime"]["watermark"]
        closed = rows(twin.where(
            F.col("w.end").cast("timestamp") <= F.to_timestamp(F.lit(wm)) - F.expr(f"INTERVAL {self.WINDOW}")
        ))
        wrong, missing = emitted - rows(twin), closed - emitted
        if not emitted or wrong or missing:
            return {"micro_batch": f"tumbling counts: {len(emitted)} emitted, {len(wrong)} wrong, "
                                   f"{len(missing)} closed windows missing"}
        return {}

    def stop(self):
        for q in getattr(self, "queries", []):
            q.stop()


WORKLOADS = {w.name: w for w in (MrBatch, GraphIter, StreamReplay)}
