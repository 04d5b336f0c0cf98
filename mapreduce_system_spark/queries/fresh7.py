"""Round-7 addition: runtime Bloom-filter join pruning, driver-checked.

``rel_bloom_join_pruned`` is the row-group-level sibling of the r6 DPP
exhibit (``sink_dpp_join_pruned``): where DPP prunes whole hive
partitions via a runtime subquery, Catalyst's ``InjectRuntimeFilter``
rule builds a Bloom filter over the join keys that survive the BUILD
side's selective predicate and pushes a ``might_contain`` probe into the
APPLICATION side's scan — so a fact table joined to a
selective-but-not-broadcastable dimension skips most of its rows before
the shuffle, not after. At 100 TB this is the difference between
shuffling the full fact table and shuffling only the ~matching keys.

The reference has no runtime filtering of any kind — its map tasks
always read their whole input split (worker.go:92-104) and every
(key, value) rides the shuffle to a reducer (worker.go:107-110). This
exhibit is part of the SURVEY.md §2b join surface the reference leaves
absent.

Fixture-scale knobs (set around an EAGER materialization, then
restored): runtime-filter injection happens at optimization time — i.e.
at the first action — so the query materializes via
``localCheckpoint(eager=True)`` while the knobs are bound, making the
returned DataFrame independent of session state. The lowered
``applicationSideScanSizeThreshold`` exists only because the sf0.1
lineitem scan is ~10 MB; a real 100 TB fact scan clears the default
10 GB threshold on its own. ``autoBroadcastJoinThreshold=-1`` models the
regime the filter is FOR: a build side selective enough to prune well
but too large to broadcast (when the build side broadcasts, Spark
rightly skips the Bloom filter — the probe would be redundant).

Debuted inside the r7 driver window (a green driver row since r07);
its CURRENT window position is whatever the authoritative import
ledger in ``queries/__init__.py`` says — as of r10 it sits out of
window, slated for the r11 rotation.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_system_spark.caches import checkpoint
from mapreduce_system_spark.registry import register
from mapreduce_system_spark.sources.tables import load_table

_BLOOM_CONFS = {
    # pin the rule on explicitly (default varies across Spark minors)
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # fixture-scale stand-in for "the fact scan is huge" (default 10 GB)
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1",
    # headroom over the default 10 MB so size-estimate jitter on the
    # filtered build side can never silently skip filter creation
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    # selective-but-not-broadcastable build side (see module docstring)
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@contextmanager
def _bloom_confs(spark: SparkSession):
    old = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_BLOOM_SQL = """
SELECT l_returnflag,
       count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 250000
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def bloom_pruned_revenue(spark: SparkSession, sf_dir: str, *, require_filter: bool = True) -> DataFrame:
    """Build, verify, and EAGERLY run the Bloom-pruned fact-fact join.

    Returns a localCheckpoint of the result (3 grouped rows) so the
    session confs can be restored immediately — the runtime filter only
    exists in plans optimized while the confs are bound.

    ``require_filter=True`` makes the exhibit self-guarding: if the
    optimizer did NOT inject ``might_contain``/``bloom_filter_agg`` the
    query raises instead of silently degrading into a plain join (the
    same posture as the DPP exhibit's plan guard, which a pytest pins
    too — tests/test_plan_guards.py)."""
    li = load_table(
        spark, sf_dir, "lineitem",
        columns=["l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"],
    )
    orders = load_table(
        spark, sf_dir, "orders",
        columns=["o_orderkey", "o_orderpriority", "o_totalprice"],
    )
    sel = orders.where(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 250000)
    )
    with _bloom_confs(spark):
        out = (
            li.join(sel, li.l_orderkey == sel.o_orderkey)
            .groupBy("l_returnflag")
            .agg(
                F.count("*").alias("n_items"),
                F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            )
            .orderBy("l_returnflag")
        )
        if require_filter:
            opt = out._jdf.queryExecution().optimizedPlan().toString()
            if "bloom_filter_agg" not in opt or "might_contain" not in opt:
                raise RuntimeError("runtime Bloom filter was not injected into the join plan")
        out = checkpoint(out)
    return out


@register("rel_bloom_join_pruned", _BLOOM_SQL)
def q_bloom_join_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by return flag over lineitems of urgent high-value orders,
    with the orders-side predicate runtime-Bloom-pushed into the lineitem
    side (see module docstring). Oracle: the plain two-table join — a
    filter that dropped or duplicated probe rows cannot hash-match."""
    return bloom_pruned_revenue(spark, sf_dir)
