"""Relational operators: semantics + physical-plan assertions.

The plan assertions are the 100 TB guard rails: a refactor that silently
loses the broadcast (dimension join becomes a shuffle) or loses predicate
pushdown fails here, not in production.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_system_spark.operators import relational as REL
from mapreduce_system_spark.plans import checks
from mapreduce_system_spark.queries import relational as QREL
from mapreduce_system_spark.queries import aggregates as QAGG


def test_broadcast_join_plan_is_broadcast_only(spark, sf_dir):
    df = QREL.q_broadcast_join(spark, sf_dir)
    plan = checks.formatted_plan(df)
    assert checks.has_broadcast_join(df)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_semi_join_pushes_predicate(spark, sf_dir):
    df = QREL.q_semi_join(spark, sf_dir)
    assert checks.has_pushed_filters(df)


def test_star_pricing_pushes_shipdate(spark, sf_dir):
    df = QAGG.q_star_pricing(spark, sf_dir)
    assert checks.has_pushed_filters(df)
    # scan must be pruned to the 6 needed columns, not the full table
    plan = checks.formatted_plan(df)
    assert "l_comment" not in plan


def test_semi_anti_partition_universe(spark, sf_dir):
    cust = spark.createDataFrame([(1,), (2,), (3,)], ["k"])
    hits = spark.createDataFrame([(2,), (9,)], ["k2"])
    semi = REL.semi_join(cust, hits, cust.k == hits.k2)
    anti = REL.anti_join(cust, hits, cust.k == hits.k2)
    assert sorted(r.k for r in semi.collect()) == [2]
    assert sorted(r.k for r in anti.collect()) == [1, 3]


def test_top_k_per_group_exact(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 5), ("a", 3), ("b", 7), ("b", 2)], ["g", "v"]
    )
    out = REL.top_k_per_group(df, ["g"], [F.col("v").desc()], k=2)
    got = sorted((r.g, r.v, r.rn) for r in out.collect())
    assert got == [("a", 3, 2), ("a", 5, 1), ("b", 2, 2), ("b", 7, 1)]


def test_set_op_counts_ansi_semantics(spark):
    # duplicates in input must not leak into distinct set-op counts
    a = spark.createDataFrame([(1,), (1,), (2,), (3,)], ["k"])
    b = spark.createDataFrame([(3,), (4,)], ["k"])
    got = {r.op: r.cnt for r in REL.set_op_counts(a, b).collect()}
    assert got == {"union": 4, "intersect": 1, "except": 2}


def test_running_agg_cumulative(spark):
    df = spark.createDataFrame([("x", 1, 10.0), ("x", 2, 5.0), ("x", 3, 1.0)], ["g", "t", "v"])
    out = REL.running_agg(df, ["g"], [F.col("t")], "v")
    got = [r.running_sum for r in out.orderBy("t").collect()]
    assert got == [10.0, 15.0, 16.0]


def test_approx_distinct_close_to_exact(spark, sf_dir):
    from mapreduce_system_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem", columns=["l_partkey"])
    exact = li.agg(F.countDistinct("l_partkey")).collect()[0][0]
    approx = li.agg(F.approx_count_distinct("l_partkey", rsd=0.01)).collect()[0][0]
    assert abs(approx - exact) / exact < 0.05


def test_approx_quantiles_close_to_exact(spark, sf_dir):
    """approx_percentile(accuracy=10000) must land within 1% of exact, and
    the registered query's rank-band booleans (the driver-hashed form)
    must all be True with group counts matching the exact query."""
    from pyspark.sql import functions as F

    from mapreduce_system_spark.queries.aggregates import (
        q_approx_quantiles,
        q_quantiles,
    )
    from mapreduce_system_spark.sources.tables import load_table

    exact = {r.l_returnflag: (r.p50, r.p90) for r in q_quantiles(spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem", columns=["l_returnflag", "l_extendedprice"])
    pcts = F.array(F.lit(0.5), F.lit(0.9))
    approx = {
        r.l_returnflag: (r.p[0], r.p[1])
        for r in li.groupBy("l_returnflag")
        .agg(F.approx_percentile("l_extendedprice", pcts, F.lit(10000)).alias("p"))
        .collect()
    }
    assert exact.keys() == approx.keys()
    for flag, (e50, e90) in exact.items():
        a50, a90 = approx[flag]
        assert abs(a50 - e50) / e50 < 0.01, (flag, a50, e50)
        assert abs(a90 - e90) / e90 < 0.01, (flag, a90, e90)
    banded = {r.l_returnflag: r for r in q_approx_quantiles(spark, sf_dir).collect()}
    assert banded.keys() == exact.keys()
    assert all(r.p50_ok and r.p90_ok for r in banded.values())


def test_rank_selection_percentiles_equal_percentile_agg(spark, sf_dir):
    """The spill-safe rank-based selection must be bit-equal (after the
    shared round-4) to Spark's exact percentile aggregate — same linear
    interpolation, different physical shape."""
    from mapreduce_system_spark.queries.aggregates import q_quantiles
    from mapreduce_system_spark.sources.tables import load_table

    got = {r.l_returnflag: (r.p50, r.p90, r.cnt) for r in q_quantiles(spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem", columns=["l_returnflag", "l_extendedprice"])
    want = {
        r.l_returnflag: (r.p50, r.p90, r.cnt)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90"),
            F.count("*").alias("cnt"),
        )
        .collect()
    }
    assert got == want


def test_weighted_mean_udaf_zero_weight_group_is_null(spark):
    """A group whose weights sum to 0 must aggregate to NULL (the
    sum(v*w)/sum(w) SQL identity under non-ANSI division), not a
    fabricated 0.0 indistinguishable from a true zero mean."""
    from pyspark.sql import functions as F

    from mapreduce_system_spark.functions.udafs import weighted_mean

    df = spark.createDataFrame(
        [("a", 5.0, 0.0), ("a", 7.0, 0.0), ("b", 5.0, 2.0)],
        "g string, v double, w double",
    )
    wm = weighted_mean()
    got = {
        r.g: r.m
        for r in df.groupBy("g").agg(wm("v", "w").alias("m")).collect()
    }
    assert got["a"] is None
    assert abs(got["b"] - 5.0) < 1e-12


def test_quantile_queries_ignore_null_values(spark, tmp_path):
    """quantile_cont ignores NULLs; the rank-based exact path and the
    approx band check must too (Spark ranks NULLs FIRST ascending, so an
    unguarded ranking selects shifted positions — r10 review). Synthetic
    lineitem: group A = values 1..9 plus two NULL rows; p50 must be 5,
    p90 must be 8.2, cnt stays count(*) = 11."""
    from mapreduce_system_spark.queries.aggregates import (
        q_approx_quantiles,
        q_quantiles,
    )

    rows = [("A", float(v)) for v in range(1, 10)] + [("A", None), ("A", None)]
    spark.createDataFrame(
        rows, "l_returnflag string, l_extendedprice double"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    got = q_quantiles(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.l_returnflag, r.p50, r.p90, r.cnt) == ("A", 5.0, 8.2, 11)
    ap = q_approx_quantiles(spark, str(tmp_path)).collect()[0]
    # with ~18% NULLs a count(*) denominator would deflate the rank
    # fractions below the band; the value-count denominator keeps TRUE
    assert (ap.l_returnflag, ap.cnt, ap.p50_ok, ap.p90_ok) == ("A", 11, True, True)


def test_cube_rollup_gsets_distinguish_null_group_from_subtotal(spark, tmp_path):
    """Subtotal sentinels come from GROUPING(), not coalesce: a real NULL
    data group must stay NULL — distinct from the 'ALL' subtotal — or the
    two collapse onto identical display keys with different counts (r10
    review). NULL groups sort last, matching the oracle's NULLS LAST."""
    from mapreduce_system_spark.queries.relational import (
        q_cube,
        q_grouping_sets,
        q_rollup,
    )

    spark.createDataFrame(
        [("A", "O", 1.0, 10.0), (None, "O", 2.0, 20.0)],
        "l_returnflag string, l_linestatus string, l_quantity double, l_extendedprice double",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame(
        [("1-URGENT", None, 5.0), (None, "F", 7.0)],
        "o_orderpriority string, o_orderstatus string, o_totalprice double",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))

    cube = {(r.rflag, r.lstatus): r.sum_qty for r in q_cube(spark, str(tmp_path)).collect()}
    assert cube[(None, "O")] == 2.0        # NULL data group stays NULL
    assert cube[("ALL", "O")] == 3.0       # subtotal row is the sentinel
    assert cube[("A", "O")] == 1.0
    assert cube[("ALL", "ALL")] == 3.0

    roll = {(r.priority, r.status): r.total for r in q_rollup(spark, str(tmp_path)).collect()}
    assert roll[("1-URGENT", None)] == 5.0  # NULL data value, not a subtotal
    assert roll[("1-URGENT", "ALL")] == 5.0  # the subtotal for the same prefix
    assert roll[(None, "F")] == 7.0
    assert roll[("ALL", "ALL")] == 12.0

    gs = {(r.rflag, r.lstatus): r.sum_price for r in q_grouping_sets(spark, str(tmp_path)).collect()}
    assert gs[(None, "ALL")] == 20.0       # NULL returnflag group
    assert gs[("A", "ALL")] == 10.0
    assert gs[("ALL", "O")] == 30.0
