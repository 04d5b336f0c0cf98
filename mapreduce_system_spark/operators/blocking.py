"""Sorted-neighborhood blocking (Hernandez & Stolfo 1995) — the
record-linkage candidate generator the dedup family lacks.

Every near-dup generator in operators/dedup.py blocks on CONTENT
(shingle/band/bit equality: MinHash bands, SimHash chunks, TF-IDF
postings, edit-distance prefixes). Sorted-neighborhood blocks on
ORDER: sort the corpus by a blocking key (a normalized prefix, a
phonetic code, a zip+name composite), then pair each record with its
``window - 1`` successors in sort position. Its power is exactly what
content blocking misses — records whose keys are CLOSE but not EQUAL
(truncations, suffix typos, zero-padding differences) land adjacent in
the sort even though no token/shingle matches, at linear candidate
volume (n * (window-1) pairs, not blocks-squared).

Distributed design — the interesting part is the GLOBAL POSITION:
``row_number()`` over an unpartitioned window is the textbook spelling
and a single-partition bottleneck (every row through one task — the
anti-pattern this repo's equi-depth histogram already avoids). The
scale-correct shape here:

1. range-exchange the corpus by (key, id) (``repartitionByRange`` —
   Spark's sampled range partitioner, the same machinery a global sort
   uses), stamp each row's partition id, and PIN that relation with an
   eager ``localCheckpoint``: the counts and the ranking below are two
   executions, and an unpinned exchange may re-sample/re-plan between
   them (see global_sort_positions' consistency contract — a
   probe-caught defect; plain cache retention is not a guarantee);
2. rank WITHIN partitions (a window partitioned by that pid — ordinary
   hash-partitioned window, no single-partition stage) and count rows
   per partition: a partition-count-sized relation, the only thing the
   driver ever holds;
3. global position = local rank + the broadcast cumulative offset of
   the row's partition. Positions are a pure function of the (key, id)
   total order — partitioner sampling can move the CUTS, never the
   ORDER, so the emitted pair set is partitioning-invariant (pinned by
   test);
4. candidate pairs via BANDED equi-join, never theta: bucket =
   position / window; a pair within ``window`` positions either shares
   a bucket or sits in adjacent buckets, so join on bucket == bucket
   and bucket + 1 == bucket, then keep 1 <= pos_b - pos_a < window.
   Each row enters exactly two join keys — linear candidate volume by
   construction.

Staged r16 for an r17+ debut (``dedup_sorted_neighborhood`` planned:
candidate pairs over a normalized text-prefix key on documents, paired
with the exact-duplicate verdict as the audit column);
tests/test_blocking.py carries the pure-Python reference, the DuckDB
oracle draft (the textbook single-window spelling — the oracle CAN
afford it), the partitioning-invariance law, and a fuzz. Probe:
``tools/scale_probe.py --sneighbor`` (disjoint key-salted shards →
pair census must scale exactly, wall free).

100 TB posture: one range exchange + one pid-keyed window + one
partition-count collect + one banded self-join on integer buckets. No
all-pairs anywhere; window size bounds candidates at n*(window-1)
whatever the corpus; skew is impossible on the join key (buckets are
consecutive integers of near-equal size by construction).

Reference contrast: worker.go:16-21,153 sorts within ONE reduce
partition; a GLOBAL order with per-row positions needs the
offset-stitch across partitions (step 3) — derived state about the
partitioning itself that the one-shot pipeline cannot express.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from mapreduce_system_spark.caches import checkpoint


def global_sort_positions(
    df: DataFrame,
    id_col: str,
    key_col: str,
    num_partitions: int = 32,
) -> DataFrame:
    """(id, key, pos): each row's 0-based position in the GLOBAL
    (key, id) order, computed without a single-partition window —
    range-exchange, rank-within-partition, broadcast offset stitch.
    NULL keys/ids are excluded (they have no place in a total order
    the oracle can mirror). CONTRACT: ``id_col`` must be unique —
    (key, id) is the total order, so duplicate ids with equal keys tie
    and their relative positions become partitioning luck, silently
    breaking the invariance law AND the oracle (whose row_number breaks
    the same tie its own way). The planned registration keys on doc_id;
    callers with dirty ids must dedupe or disambiguate first.

    CONSISTENCY CONTRACT (why the eager checkpoint below is not an
    optimization): the per-partition counts and the ranked projection
    are two executions over the SAME partition layout. The pid-stamped
    exchange is pinned with an eager ``localCheckpoint`` — materialized
    once, lineage truncated — so the range partitioner can never
    re-sample between the two readers. A plain ``cache()`` is NOT
    sufficient: if the blocks are evicted or released before the
    returned lazy DataFrame is consumed, re-execution re-samples the
    range cuts and the collected offsets silently describe a different
    layout (duplicate/overflowing positions — the exact defect the
    --sneighbor probe caught at 10x). ``caches.checkpoint`` registers
    the blocks, so harnesses release them via caches.release() AFTER
    consuming the result, like every tracked relation."""
    s = df.select(
        F.col(id_col).alias("id"), F.col(key_col).alias("key")
    ).where(F.col(id_col).isNotNull() & F.col(key_col).isNotNull())
    spark = df.sparkSession
    ranged = checkpoint(
        s.repartitionByRange(num_partitions, "key", "id").withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    # partition-count-sized driver state — the operator's ONLY collect
    counts = {
        r["_pid"]: r["n"]
        for r in ranged.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    }
    local = ranged.withColumn(
        "_lrank",
        F.row_number().over(W.partitionBy("_pid").orderBy("key", "id")) - 1,
    )
    offsets = []
    acc = 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    # Offset stitch as a BROADCAST JOIN on a partition-count-sized
    # relation, not a create_map literal: a literal map embeds one
    # expression pair per range partition into the plan, which bloats
    # plan size/analysis at thousands of partitions; the join form is
    # flat at any partition count (the relation is always tiny — one
    # row per partition — so the broadcast is free).
    off_df = spark.createDataFrame(offsets, "_pid int, _off long")
    return (
        local.join(F.broadcast(off_df), "_pid")
        .select(
            "id",
            "key",
            (F.col("_lrank") + F.col("_off")).cast("long").alias("pos"),
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    window: int = 3,
    num_partitions: int = 32,
) -> DataFrame:
    """Candidate pairs (id_a, key_a, pos_a, id_b, key_b, pos_b) with
    1 <= pos_b - pos_a < window in the global (key, id) order —
    n * (window - 1) pairs exactly (fewer at the corpus tail). The
    pair relation is a pure function of the data: partitioning,
    executor count, and range-sampler cuts cannot move it (the
    invariance test pins this)."""
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    pos = global_sort_positions(
        df, id_col, key_col, num_partitions=num_partitions
    )
    bucketed = pos.select(
        "id", "key", "pos", (F.col("pos") / window).cast("long").alias("bk")
    )
    a = bucketed.select(
        F.col("id").alias("id_a"),
        F.col("key").alias("key_a"),
        F.col("pos").alias("pos_a"),
        "bk",
    )
    b = bucketed.select(
        F.col("id").alias("id_b"),
        F.col("key").alias("key_b"),
        F.col("pos").alias("pos_b"),
        "bk",
    )
    same = a.join(b, "bk")
    nxt = a.withColumn("bk", F.col("bk") + 1).join(b, "bk")
    return (
        same.unionByName(nxt)
        .where(
            (F.col("pos_b") - F.col("pos_a") >= 1)
            & (F.col("pos_b") - F.col("pos_a") < window)
        )
        .select("id_a", "key_a", "pos_a", "id_b", "key_b", "pos_b")
    )
