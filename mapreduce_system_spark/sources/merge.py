"""MERGE-style keyed upsert into a bucket-partitioned parquet sink.

The write path a production corpus pipeline runs daily: fold an
incremental changelog batch into a keyed sink, keeping the latest
record per key. The read-side algebra is ``rel_cdc_latest_state``
(queries/relational.py) — ``max(struct(order_cols…, payload…))`` per key,
an ordinary aggregate with map-side partial combine; this module adds
the write side.

Scale design — the sink is hive-partitioned by
``__bucket = pmod(hash(key), n_buckets)``:

- a batch only touches the buckets its keys hash to, so the merge
  reads back ONLY those partitions (partition pruning on the bucket
  column) and rewrites ONLY those partitions
  (``partitionOverwriteMode=dynamic``). Merge cost scales with batch ∪
  touched-bucket size, never with the full sink;
- the only driver-side value is the touched-bucket list (≤ n_buckets
  ints);
- commit granularity is per-partition (FileOutputCommitter's
  tmp+rename — the same protocol as the reference's single-committer
  rename, worker.go:154-170, coordinator.go:50-79, applied per bucket
  directory). Cross-bucket atomicity is deliberately NOT promised:
  recovery is idempotent replay — re-applying a batch rewrites the
  same buckets to the same logical content (asserted in
  tests/test_merge_sink.py), which is the recovery contract real
  ingest pipelines run on.

At 100 TB, ``n_buckets`` sizes the rewrite amplification: more buckets
= finer rewrites but more files; pick so one bucket's latest-state
fits a task comfortably (the per-key state is ONE row, so bucket size
tracks key cardinality, not changelog volume).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_system_spark.caches import checkpoint, free

_BUCKET = "__bucket"


def _sink_exists(spark: SparkSession, sink_path: str) -> bool:
    # dynamic-partition-overwrite commits do NOT leave a root _SUCCESS
    # marker — presence of any committed bucket directory is the signal.
    # Probed through the Hadoop FileSystem API, NOT a local Path.glob: a
    # URI-style sink (file:, hdfs://, s3a://) is invisible to the local
    # filesystem, and any probe that misses an EXISTING sink makes the
    # merge silently drop every unmatched key in the touched buckets
    # (the absent-sink branch overwrites them with batch-only rows).
    # listStatus, NOT globStatus: a glob re-interprets metacharacters
    # ('[', '*', '{') inside the caller's sink path itself, which is the
    # same missed-existing-sink failure by another route.
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(sink_path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return False
    prefix = f"{_BUCKET}="
    return any(
        st.isDirectory() and st.getPath().getName().startswith(prefix)
        for st in fs.listStatus(root)
    )


def _read_path(sink_path: str) -> str:
    """``sink_path`` with Hadoop-glob metacharacters backslash-escaped,
    for READ sites only: DataFrameReader paths are glob patterns, so an
    unescaped '[v2]' in a sink path parses as a character class and an
    EXISTING sink raises PATH_NOT_FOUND (or, worse, matches a sibling
    directory). Writer paths are literal and stay unescaped — the same
    asymmetry behind ``_sink_exists``'s listStatus probe."""
    return re.sub(r"([\\*?\[\]{}])", r"\\\1", sink_path)


def read_latest(spark: SparkSession, sink_path: str) -> DataFrame:
    """Current latest-state view of the sink (all buckets)."""
    return spark.read.parquet(_read_path(sink_path)).drop(_BUCKET)


def merge_upsert(
    spark: SparkSession,
    sink_path: str,
    batch: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    n_buckets: int = 16,
) -> None:
    """Upsert ``batch`` into the keyed sink at ``sink_path``.

    Keeps, per key, the row with the greatest ``(order_cols…, rest…)``
    struct across the existing state and the batch — ties are
    impossible when ``order_cols`` is a per-key unique sequence (e.g.
    ``[ts, event_id]``). Idempotent: re-applying a batch (or applying
    batches in any order) converges to the same state.
    """
    payload = [c for c in batch.columns if c not in key_cols]
    ordered = list(order_cols) + [c for c in payload if c not in order_cols]
    # one materialization of the caller's batch plan: the touched-bucket
    # collect AND the union below both read these blocks, so an
    # expensive (or nondeterministic) upstream is computed once — a
    # second evaluation would double the batch cost and could even
    # disagree with the collected bucket list
    b = checkpoint(
        batch.withColumn(_BUCKET, F.pmod(F.hash(*key_cols), F.lit(n_buckets)))
    )
    # everything after the batch checkpoint runs under this try so the
    # checkpointed batch blocks are released even when _sink_exists, the
    # touched-bucket collect, or the union planning raises — not only on
    # the happy path through the write
    try:
        if _sink_exists(spark, sink_path):
            # touched buckets: bounded driver list (≤ n_buckets ints)
            touched = [
                r[_BUCKET] for r in b.select(_BUCKET).distinct().collect()
            ]
            cur = (
                spark.read.parquet(_read_path(sink_path))
                .where(F.col(_BUCKET).isin(touched))
                .select(*b.columns)
            )
            all_rows = cur.unionByName(b)
        else:
            all_rows = b
        merged = (
            all_rows.groupBy(*key_cols, _BUCKET)
            .agg(F.max(F.struct(*ordered)).alias("__s"))
            .select(
                *key_cols,
                *[F.col(f"__s.{c}").alias(c) for c in ordered],
                _BUCKET,
            )
        )
        # Sever the plan from the sink before overwriting it (Spark
        # refuses a write whose source plan reads the target path). The
        # checkpointed blocks are released right after the write commits.
        merged = checkpoint(merged)
        prev_mode = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode"
        )
        try:
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", "dynamic"
            )
            merged.write.mode("overwrite").partitionBy(_BUCKET).parquet(
                sink_path
            )
        finally:
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", prev_mode
            )
            free(merged)
    finally:
        free(b)
