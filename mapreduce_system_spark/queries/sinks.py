"""Sink/scan round-trip queries: every write format and layout read back and
checked against the source.

The reference's sink contract (partitioned files + atomic rename commit,
worker.go:154-170 / coordinator.go:50-79) is exercised by pytest round
trips and by ``mr_whole_text_files_wc`` (text sink → wholeTextFiles).
These queries put the remaining format surface on the driver's
correctness record too. Each oracle computes the same aggregate straight
from the source parquet, so a round trip that corrupts any value
hash-mismatches.

- ``sink_partitioned_roundtrip``: orders hive-partitioned by priority,
  re-scanned with a partition filter — only the selected partition
  directories are touched (pruning asserted in tests/test_sinks_query.py).
- ``scan_csv_json_roundtrip``: customer staged through the csv AND json
  sinks, read back with explicit schemas, unioned, aggregated.
- ``sink_bucketed_join_roundtrip``: orders and lineitem staged through the
  bucketed sink on the join key, then joined co-located (the join itself
  runs with ZERO Exchange — asserted in tests/test_sinks_query.py).
- ``sink_bucket_pruned_lookup`` — the READ-side payoff of the bucketed
  sink: a key lookup against the ``bucketBy(8, o_orderkey)`` table scans
  only the buckets the keys hash to (``SelectedBucketsCount`` in the plan,
  pinned by a guard test). At 100 TB the difference between touching 1/N
  of the files and all of them for every point query.
- ``scan_orc_roundtrip``: customer staged through the ORC sink and
  re-aggregated (pushdown on the ORC scan pinned in
  tests/test_sinks_query.py).
- ``sink_dpp_join_pruned``: the partitioned-sink payoff under a dim-side
  filter — the fact's partitions prune only via Catalyst's runtime
  dynamicpruningexpression (pinned in tests/test_sinks_query.py).
- ``sink_merge_upsert``: the incremental MERGE/upsert write path
  (``sources/merge.py``) folding the events changelog in three batches;
  its oracle is ``rel_cdc_latest_state``'s one-pass compaction, since
  folding the changelog through the upsert sink in ANY batch order must
  land on the same latest-state view.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_system_spark.caches import tracked_cache
from mapreduce_system_spark.registry import register
from mapreduce_system_spark.sources.merge import merge_upsert, read_latest
from mapreduce_system_spark.sources.sinks import write_parquet
from mapreduce_system_spark.sources.tables import load_table

_PRIORITIES = ("1-URGENT", "2-HIGH")

_SINK_SQL = f"""
SELECT o_orderpriority, o_orderstatus,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders
WHERE o_orderpriority IN ('{_PRIORITIES[0]}', '{_PRIORITIES[1]}')
GROUP BY o_orderpriority, o_orderstatus
ORDER BY o_orderpriority, o_orderstatus
"""


def _staging_path(kind: str, sf_dir: str, spark: SparkSession) -> str:
    """Per-(kind, sf, application) staging path under /tmp.

    Per-application, not just per-sf: these paths are round-tripped
    WITHIN the query (the oracle reads the source parquet, never this
    staging), so two concurrent sessions at the same sf must not race
    one session's overwrite against the other's re-scan. The returned
    plan READS from the staging, so it cannot be removed at the end of
    the call (the driver executes the plan later) — instead stagings
    from long-dead applications are reaped on the same 48 h policy as
    mr_whole_text_files_wc (registry.py): a LIVE application re-
    overwrites its staging on every call, so only abandoned dirs can
    age past the cutoff."""
    from mapreduce_system_spark.caches import reap_stale_stagings

    app = spark.sparkContext.applicationId
    path = f"/tmp/spark_graft_{kind}_{Path(sf_dir).name}_{app}"
    reap_stale_stagings(
        f"spark_graft_{kind}_{Path(sf_dir).name}_", Path(path).name
    )
    return path


def partitioned_sink_path(sf_dir: str, spark: SparkSession) -> str:
    return _staging_path("sink_orders", sf_dir, spark)


@register("sink_partitioned_roundtrip", _SINK_SQL)
def q_sink_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet sink round trip with pruned re-scan.

    Write side: one directory per o_orderpriority (the layout that gives
    100 TB readers partition pruning for free); FileOutputCommitter's
    tmp+rename is the reference's atomic commit. Read side: the IN filter
    on the partition column becomes a PartitionFilters entry — only 2 of 5
    directories are listed/scanned, no row-level filtering at all."""
    # only the columns the aggregate reads are staged — shipping an
    # unused key column through a write+rescan contradicts the repo's
    # own prune-at-the-scan contract (r10 review)
    orders = load_table(
        spark, sf_dir, "orders",
        columns=["o_orderstatus", "o_totalprice", "o_orderpriority"],
    )
    path = partitioned_sink_path(sf_dir, spark)
    write_parquet(orders, path, partition_by=["o_orderpriority"])
    back = spark.read.parquet(path).where(F.col("o_orderpriority").isin(*_PRIORITIES))
    return (
        back.groupBy("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("o_orderpriority", "o_orderstatus")
    )


_CSV_JSON_SQL = """
SELECT c_mktsegment,
       count(*) AS n_customers,
       round(sum(c_acctbal), 2) AS total_acctbal,
       CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("scan_csv_json_roundtrip", _CSV_JSON_SQL)
def q_scan_csv_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-format scan contract on the driver's record: customer is
    staged through BOTH the csv sink and the json sink, read back with
    explicit schemas (no inference pass — inference costs an extra scan
    and can drift between scale factors), and the two re-scans are
    unioned 50/50 by an even/odd key split. The aggregate equals the same
    profile computed straight from the parquet table, proving both text
    codecs round-trip values (longs, doubles, strings) exactly."""
    from mapreduce_system_spark.caches import tracked_cache
    from mapreduce_system_spark.sources.sinks import write_csv
    from mapreduce_system_spark.sources.text import read_csv, read_json

    # cached: the even/odd staging writes are two consumers of one scan
    cust = tracked_cache(
        load_table(
            spark, sf_dir, "customer",
            columns=["c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"],
        )
    )
    # per-application + dead-app reaping (see _staging_path)
    base = Path(_staging_path("scan", sf_dir, spark))
    # DDL schema strings are accepted anywhere a StructType is (public API)
    schema = "c_custkey long, c_nationkey int, c_acctbal double, c_mktsegment string"
    write_csv(cust.where(F.col("c_custkey") % 2 == 0), str(base / "csv"))
    cust.where(F.col("c_custkey") % 2 == 1).write.mode("overwrite").json(str(base / "json"))
    evens = read_csv(spark, str(base / "csv"), schema)
    odds = read_json(spark, str(base / "json"), schema)
    return (
        evens.unionByName(odds)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
            F.countDistinct("c_nationkey").alias("n_nations"),
        )
        .orderBy("c_mktsegment")
    )


_N_BUCKETS = 8

_BUCKETED_JOIN_SQL = """
SELECT o_orderstatus,
       count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS net_revenue
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Stage orders+lineitem as bucketed tables on the join key and return
    the catalog-backed DataFrames (bucket metadata comes from the catalog,
    which is why the join can skip both Exchanges)."""
    from mapreduce_system_spark.sources.sinks import write_bucketed

    orders = load_table(spark, sf_dir, "orders", columns=["o_orderkey", "o_orderstatus"])
    li = load_table(
        spark, sf_dir, "lineitem", columns=["l_orderkey", "l_extendedprice", "l_discount"]
    )
    # files are per-application + dead-app-reaped (see _staging_path);
    # table NAMES are session-scoped (in-memory catalog), so static
    # names cannot race across sessions.
    base = Path(_staging_path("bucketed", sf_dir, spark))
    write_bucketed(orders, "t_graft_orders_b", "o_orderkey", _N_BUCKETS, str(base / "orders"))
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "t_graft_lineitem_b",
        "o_orderkey",
        _N_BUCKETS,
        str(base / "lineitem"),
    )
    return spark.table("t_graft_orders_b"), spark.table("t_graft_lineitem_b")


@register("sink_bucketed_join_roundtrip", _BUCKETED_JOIN_SQL)
def q_sink_bucketed_join_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-sink round trip ending in a CO-LOCATED fact-fact join:
    both tables are written ``bucketBy(8, o_orderkey).sortBy`` and joined
    back out of the catalog — the sort-merge join runs with ZERO Exchange
    (each bucket pair is one task; asserted on this exact staging in
    tests/test_sinks_query.py).

    This is the 100 TB answer to the repeated fact-fact shuffle: pay the
    partitioning once at write time, then every orderkey join is
    shuffle-free forever. The only Exchanges left in this plan belong to
    the final per-status aggregation — O(statuses), not O(rows). Oracle
    joins the source parquet directly, so any bucketing/commit corruption
    hash-mismatches."""
    a, b = bucketed_tables(spark, sf_dir)
    return (
        a.join(b, "o_orderkey")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "net_revenue"
            ),
        )
        .orderBy("o_orderstatus")
    )


_ORC_SQL = """
SELECT c_nationkey,
       count(*) AS n_customers,
       round(sum(c_acctbal), 2) AS total_acctbal
FROM customer
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


@register("scan_orc_roundtrip", _ORC_SQL)
def q_scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink → scan round trip, completing the format surface (text,
    csv, json, parquet, orc — every codec Spark ships without extra
    packages). ORC is the other columnar container a lakehouse migration
    actually encounters; the read side must show the same pushdown
    behavior as parquet (PushedFilters on c_acctbal in the plan, pinned
    in tests/test_sinks_query.py). DuckDB reads no ORC, so the oracle
    computes the aggregate straight from the source table — exactly the
    round-trip-corruption check the csv/json query uses."""
    cust = load_table(
        spark, sf_dir, "customer", columns=["c_nationkey", "c_acctbal"]
    )
    path = _staging_path("orc", sf_dir, spark)
    cust.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return (
        back.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .orderBy("c_nationkey")
    )


# Dynamic partition pruning: the filter lives on the DIM side (w >= 6),
# so only runtime subquery results can prune the fact's partitions —
# static pruning cannot. The oracle recomputes the same join from the
# source tables.
_DPP_SQL = """
WITH dim AS (SELECT DISTINCT event_type, length(event_type) AS w FROM events)
SELECT e.event_type,
       count(*) AS n_events,
       round(sum(e.value), 2) AS total_value
FROM events e JOIN dim d ON e.event_type = d.event_type
WHERE d.w >= 6
GROUP BY e.event_type
ORDER BY e.event_type
"""


def dpp_pruned_totals(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, str]:
    """Stage the partitioned fact + dim under a scratch dir and return the
    LAZY pruned-join plan plus the scratch path. The plan-guard test
    (tests/test_sinks_query.py) asserts dynamicpruningexpression on this
    lazy form; the registered query materializes it and removes the
    staging (a returned localCheckpoint would hide the DPP subquery from
    the plan string)."""
    ev = load_table(spark, sf_dir, "events", columns=["event_id", "event_type", "value"])
    base = _staging_path("dpp", sf_dir, spark)
    write_parquet(ev, f"{base}/fact", partition_by=["event_type"])
    dim = ev.select("event_type").distinct().withColumn("w", F.length("event_type"))
    write_parquet(dim, f"{base}/dim")
    fact = spark.read.parquet(f"{base}/fact")
    fdim = spark.read.parquet(f"{base}/dim").where(F.col("w") >= 6)
    out = (
        fact.join(fdim.select("event_type"), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("event_type")
    )
    return out, base


@register("sink_dpp_join_pruned", _DPP_SQL)
def q_sink_dpp_join_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning through the partitioned sink: events are
    staged hive-partitioned by event_type, the dimension (distinct types
    + a derived weight) is staged as parquet, and the join carries its
    filter on the DIM side only — so the fact scan can prune partitions
    only via Catalyst's runtime dynamicpruningexpression (asserted on the
    lazy plan in tests/test_sinks_query.py). At 100 TB this is the
    difference between scanning the partitions the dim selects and
    scanning all of them, and it is free exactly because the plan stays
    declarative. Materializes eagerly (the result is one row per
    surviving event_type) so the staged copy of events never outlives
    the call — each app run used to leave one behind in /tmp."""
    import shutil

    from mapreduce_system_spark.caches import checkpoint

    out, base = dpp_pruned_totals(spark, sf_dir)
    try:
        out = checkpoint(out)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# sink_merge_upsert — MERGE-style keyed compaction write path
# ---------------------------------------------------------------------------

# The oracle is rel_cdc_latest_state's algebra verbatim (kept literal so
# the sink's oracle reads on its own): folding the changelog through the
# upsert sink in ANY batch order must land on the same latest-state view
# a single-pass compaction computes.
_MERGE_SQL = """
SELECT user_id,
       CAST(epoch_us(ts) AS BIGINT) AS last_ts_us,
       event_type AS last_type,
       round(value, 2) AS last_value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
ORDER BY user_id
"""


@register("sink_merge_upsert", _MERGE_SQL)
def q_sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MERGE/upsert write path (VERDICT r7 #6): the events
    changelog is split into three batches (pmod(hash(event_id), 3) — the
    split is arbitrary and the result must not depend on it), each folded
    into a bucket-partitioned keyed sink via ``sources/merge.py``; the
    returned view is the sink's latest state, which must hash-match the
    one-pass CDC compaction oracle.

    Scale shape: each merge reads back only the bucket partitions the
    batch touches and rewrites only those (dynamic partition overwrite);
    recovery is idempotent replay (tests/test_merge_sink.py)."""
    ev = load_table(
        spark, sf_dir, "events",
        columns=["event_id", "ts", "user_id", "event_type", "value"],
    )
    root = _staging_path("merge_upsert", sf_dir, spark)
    for i in range(3):
        batch = ev.where(F.pmod(F.hash("event_id"), F.lit(3)) == i)
        merge_upsert(
            spark, root, batch,
            key_cols=["user_id"], order_cols=["ts", "event_id"],
        )
    back = read_latest(spark, root)
    return back.select(
        "user_id",
        F.unix_micros("ts").alias("last_ts_us"),
        F.col("event_type").alias("last_type"),
        F.round("value", 2).alias("last_value"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# sink_bucket_pruned_lookup — point lookups scan only the hashed buckets
# ---------------------------------------------------------------------------
_LOOKUP_KEYS = (7, 42, 999)  # present at every fixture sf (orderkeys are dense)

_LOOKUP_SQL = f"""
SELECT o_orderkey, max(o_orderstatus) AS o_orderstatus
FROM orders
WHERE o_orderkey IN ({", ".join(str(k) for k in _LOOKUP_KEYS)})
GROUP BY o_orderkey
ORDER BY o_orderkey
"""


@register("sink_bucket_pruned_lookup", _LOOKUP_SQL)
def q_bucket_pruned_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key lookup against the bucketed orders table: the scan reads ONLY
    the buckets the literal keys hash to (``SelectedBucketsCount ≤ 3
    out of 8`` in the plan — guard-tested), not the whole table.

    Reuses ``bucketed_tables``'s staging, so the
    write cost is shared with the co-located-join query. The lookup is
    phrased as a per-key aggregate — an exchange-free HashAggregate on
    the bucket column — because Spark's auto-bucketed-scan planner
    only keeps the bucketed (and therefore PRUNABLE) scan when some
    operator consumes the bucket partitioning; a bare filter+project
    reads the same files through a plain scan with no pruning. This is
    the second half of the bucketing contract: pay the layout once,
    then point/range queries on the bucket key touch 1/N of the files
    and the join never shuffles. (Reference contrast: its sink is
    opaque files with no read-back index at all — worker.go:154-170.)"""
    orders_b, _ = bucketed_tables(spark, sf_dir)
    return (
        orders_b.where(F.col("o_orderkey").isin(*_LOOKUP_KEYS))
        .groupBy("o_orderkey")
        .agg(F.max("o_orderstatus").alias("o_orderstatus"))
        .orderBy("o_orderkey")
    )
