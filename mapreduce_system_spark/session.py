"""SparkSession factory tuned for this engine.

The reference runtime hand-rolls its data plane (per-task shuffle files,
``worker.go:105-118``) and control plane (RPC pull scheduling,
``coordinator.go:84-104``). On Spark both are configuration, not code; the
knobs below are the ones that matter for correctness of the DuckDB oracle
comparison (UTC timestamps) and for scale (AQE, partial-agg-friendly shuffle
sizing, Arrow for the Pandas-UDF slow path).

Scale notes (100 TB design stance):
- AQE is on: runtime coalescing + skew-join splitting replace hand-tuned
  ``spark.sql.shuffle.partitions`` per query. On a real cluster the static
  value below is a floor, not a target — AQE re-plans from runtime stats.
- ``maxPartitionBytes`` 128 MB keeps scan tasks in the 16-64 MB..128 MB band
  the reference assumed for map splits (README.MD:58).
- Arrow enabled: any Pandas-UDF operator (similarity, multimodal) moves
  columnar batches, never pickled rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Streams commit state-store deltas, their checksum files and offset and
# commit log entries through this manager's rename. Spark's default
# (FileContext-based) manager asks RawLocalFileSystem for the link status
# of source and destination, and each ask forks a ``readlink`` process
# from the driver JVM; FileSystem.rename is File.renameTo on a local
# path. The overwrite check is the same either way: ``exists(dst)``, then
# rename. A/B on the stateful stream queries:
# bench_runs/r19_checkpoint_fm_ab.json.
CHECKPOINT_FILE_MANAGER = {
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


def get_spark(
    app_name: str = "mapreduce_system_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default ``*``)
    so tests, bench.py and the driver share one code path.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # local-mode: driver JVM hosts all 32 executor threads, and the
        # unset default (1g) was the real ceiling — a 10x-corpus probe
        # OOM'd the heap while every plan in it was shuffle-clean. 8g is
        # ~6% of the box (env contract: 128 GiB); applies only when THIS
        # factory launches the JVM (the external driver's vanilla session
        # keeps its own sizing, so no query may REQUIRE this).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # whole-stage-codegen class cache: the default (100 entries) is
        # sized for a handful of hot queries, but this engine serves a
        # 155-query catalog at ~8 codegen stages each — on any repeated
        # pass (bench sweeps, a resident service re-running its
        # workload) the default thrashes, so every stage re-pays Janino
        # compilation AND loses its C2-warmed class. Measured on the
        # heaviest plan (graph_triangle_count re-run after 40 other
        # queries): 8.4 s at the default vs 5.8 s at 4096 entries.
        # Memory envelope: entries hold a compiled class + source text,
        # typically tens of KB — worst case well under the driver heap.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # events.ts is parquet TIMESTAMP(NANOS) (TESTDATA fixture); Spark has
        # no nanosecond timestamp type, so read as long and convert in
        # sources.tables.load_table (floor to microseconds — same truncation
        # DuckDB applies, keeping the oracle comparison exact).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(map=CHECKPOINT_FILE_MANAGER)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
