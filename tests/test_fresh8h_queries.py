"""Round-8 fresh8h queries: semantic pins beyond the DuckDB oracle —
BFS hop algebra on a hand graph, regression against numpy on one
group, TWAP recomputed in Python for one user, equi-depth bucket
balance, skew-profile arithmetic, and snapshot-diff class accounting."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from tests.conftest import SF_DIR_MID


def test_bfs_hops_on_hand_graph(spark):
    """Path a—b—c—d plus isolated pair e—f: seeds {a} reach a/b/c/d at
    hops 0/1/2/3 and never e/f; min-hop wins when two routes differ."""
    from mapreduce_system_spark.operators.graph import bfs_hops

    und = [("a", "b"), ("b", "c"), ("c", "d"), ("e", "f"), ("a", "c")]
    e = spark.createDataFrame(und + [(v, u) for u, v in und], ["u", "v"])
    seeds = spark.createDataFrame([("a",)], ["node"])
    got = {r.node: r.hop for r in bfs_hops(e, seeds, max_hops=4).collect()}
    # a—c shortcut: c is at hop 1, d at hop 2
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_bfs_stops_early_when_frontier_empties(spark):
    """max_hops far beyond the diameter must not add rows (the
    frontier-empty break) and hop values never exceed the diameter."""
    from mapreduce_system_spark.operators.graph import bfs_hops

    und = [("a", "b"), ("b", "c")]
    e = spark.createDataFrame(und + [(v, u) for u, v in und], ["u", "v"])
    seeds = spark.createDataFrame([("a",)], ["node"])
    rows = bfs_hops(e, seeds, max_hops=50).collect()
    assert {r.node: r.hop for r in rows} == {"a": 0, "b": 1, "c": 2}


def test_bfs_query_census_partitions_the_node_set(spark):
    """Hop buckets partition the graph's nodes: counts sum to the node
    total, hop 0 equals the seed suppliers present in the graph, and
    bipartiteness puts suppliers on even hops and customers on odd."""
    from mapreduce_system_spark.queries.graph import q_bfs_reachability

    rows = q_bfs_reachability(spark, SF_DIR_MID).collect()
    by_hop = {r.hop: r.n_nodes for r in rows}
    orders = spark.read.parquet(f"{SF_DIR_MID}/orders.parquet")
    li = spark.read.parquet(f"{SF_DIR_MID}/lineitem.parquet")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    n_cust = pairs.select("o_custkey").distinct().count()
    n_supp = pairs.select("l_suppkey").distinct().count()
    assert sum(by_hop.values()) == n_cust + n_supp
    # bipartite: odd hops are customers only, even hops suppliers only
    cust_hops = sum(v for h, v in by_hop.items() if h >= 0 and h % 2 == 1)
    supp_hops = sum(v for h, v in by_hop.items() if h >= 0 and h % 2 == 0)
    unreached = by_hop.get(-1, 0)
    assert cust_hops + supp_hops + unreached == n_cust + n_supp
    assert supp_hops <= n_supp and cust_hops <= n_cust


def test_grouped_linreg_degenerate_group_is_null_on_both_engines(spark):
    """A group with constant x (var_samp = 0) must fit to NULL on BOTH
    engines. Unguarded, Spark's non-ANSI x/0 yields NULL but DuckDB's
    IEEE division yields inf/NaN — the nullif(var_samp, 0) guard pins
    the shared contract the oracle hash depends on. Uses the SAME
    expression object the registered query ships (fresh8h._linreg_slope)
    and asserts the guard is spelled in the oracle SQL, so reverting the
    guard on EITHER engine fails here — a re-typed local copy of the
    expression would keep passing."""
    import duckdb

    from mapreduce_system_spark.queries.aggregates import _LINREG_SQL, _linreg_slope

    assert "nullif(var_samp(l.l_quantity), 0)" in _LINREG_SQL
    x, y = F.col("x"), F.col("y")
    slope = _linreg_slope(x, y)
    got = (
        spark.createDataFrame(
            [("a", 5.0, 1.0), ("a", 5.0, 2.0), ("b", 7.0, 3.0)],
            "g string, x double, y double",
        )
        .groupBy("g")
        .agg(
            F.round(slope, 4).alias("slope"),
            F.round(F.avg(y) - slope * F.avg(x), 4).alias("intercept"),
        )
        .orderBy("g")
        .collect()
    )
    assert got[0].slope is None and got[0].intercept is None  # constant x
    assert got[1].slope is None and got[1].intercept is None  # single row
    ora = duckdb.sql(
        """
        SELECT g,
               round(covar_samp(x, y) / nullif(var_samp(x), 0), 4) AS slope
        FROM (VALUES ('a', 5.0, 1.0), ('a', 5.0, 2.0), ('b', 7.0, 3.0))
             t(g, x, y)
        GROUP BY g ORDER BY g
        """
    ).fetchall()
    assert ora[0][1] is None and ora[1][1] is None


def test_grouped_linreg_matches_numpy_on_one_brand(spark):
    """Slope/intercept/r² for one brand equal numpy's closed-form least
    squares on the same points (sample covariance definitions)."""
    import numpy as np

    from mapreduce_system_spark.queries.aggregates import q_grouped_linreg

    rows = q_grouped_linreg(spark, SF_DIR_MID).collect()
    brand = rows[0].brand
    li = spark.read.parquet(f"{SF_DIR_MID}/lineitem.parquet")
    part = spark.read.parquet(f"{SF_DIR_MID}/part.parquet")
    pts = (
        li.join(part, li.l_partkey == part.p_partkey)
        .where(F.col("p_brand") == brand)
        .select("l_quantity", "l_extendedprice")
        .collect()
    )
    x = np.array([p.l_quantity for p in pts])
    y = np.array([p.l_extendedprice for p in pts])
    slope = np.cov(x, y, ddof=1)[0, 1] / np.var(x, ddof=1)
    intercept = y.mean() - slope * x.mean()
    r2 = np.corrcoef(x, y)[0, 1] ** 2
    got = rows[0]
    assert got.n == len(pts)
    assert abs(got.slope - slope) < 1e-3
    assert abs(got.intercept - intercept) < 1e-3
    assert abs(got.r2 - r2) < 1e-5
    assert 0.0 <= got.r2 <= 1.0


def test_time_weighted_avg_matches_python_for_one_user(spark):
    """TWAP for one user equals the hand fold over its time-ordered
    events; span is last-minus-first µs; value bounds hold."""
    from mapreduce_system_spark.queries.temporal import q_time_weighted_avg

    rows = q_time_weighted_avg(spark, SF_DIR_MID).collect()
    uid = rows[0].user_id
    ev = (
        spark.read.parquet(f"{SF_DIR_MID}/events.parquet")
        .where(F.col("user_id") == uid)
        .select(
            "event_id",
            "value",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
        .orderBy("us", "event_id")
        .collect()
    )
    num = den = 0.0
    for a, b in zip(ev, ev[1:]):
        w = b.us - a.us
        num += a.value * w
        den += w
    got = rows[0]
    assert got.n_events == len(ev)
    assert got.span_us == ev[-1].us - ev[0].us
    assert abs(got.twap - num / den) < 1e-3
    lo, hi = min(e.value for e in ev), max(e.value for e in ev)
    assert lo - 1e-9 <= got.twap <= hi + 1e-9


def test_equi_depth_buckets_are_balanced_and_ordered(spark):
    """Per priority: all 10 deciles present, counts sum to the group
    size and differ by ≤ 1 row, and [lo, hi] ranges are
    non-overlapping and increasing."""
    from mapreduce_system_spark.queries.relational import q_histogram_equi_depth

    rows = q_histogram_equi_depth(spark, SF_DIR_MID).collect()
    orders = spark.read.parquet(f"{SF_DIR_MID}/orders.parquet")
    sizes = {
        r["o_orderpriority"]: r["cnt"]
        for r in orders.groupBy("o_orderpriority").agg(F.count("*").alias("cnt")).collect()
    }
    by_prio: dict[str, list] = {}
    for r in rows:
        by_prio.setdefault(r.priority, []).append(r)
    assert set(by_prio) == set(sizes)
    for prio, rs in by_prio.items():
        rs.sort(key=lambda r: r.decile)
        assert [r.decile for r in rs] == list(range(1, 11))
        ns = [r.n for r in rs]
        assert sum(ns) == sizes[prio]
        assert max(ns) - min(ns) <= 1  # rank assignment balances exactly
        for a, b in zip(rs, rs[1:]):
            assert a.lo <= a.hi <= b.lo <= b.hi


def test_skew_profile_arithmetic_and_ordering(spark):
    """Top-5 keys descend by count; share and skew ratio reproduce the
    direct per-key counts; a uniform-ish key keeps ratios near 1."""
    from mapreduce_system_spark.queries.relational import q_skew_profile

    rows = q_skew_profile(spark, SF_DIR_MID).collect()
    assert len(rows) == 5
    li = spark.read.parquet(f"{SF_DIR_MID}/lineitem.parquet")
    counts = {
        r["l_suppkey"]: r["cnt"]
        for r in li.groupBy("l_suppkey").agg(F.count("*").alias("cnt")).collect()
    }
    total, n_keys = sum(counts.values()), len(counts)
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [(r.suppkey, r.cnt) for r in rows] == top
    for r in rows:
        assert abs(r.share - r.cnt / total) < 6e-7  # round(6) grid
        assert abs(r.skew_ratio - r.cnt * n_keys / total) < 6e-7
    assert rows[0].cnt >= rows[-1].cnt


def test_snapshot_diff_class_accounting(spark):
    """Class counts reconcile with the md5 buckets recomputed in
    Python: added = buckets 95-99, removed = 0-4, changed = 5-14,
    unchanged = the rest; totals tie out to both snapshot sizes."""
    from mapreduce_system_spark.queries.relational import q_snapshot_diff

    got = {r.diff_class: r.n for r in q_snapshot_diff(spark, SF_DIR_MID).collect()}
    keys = [
        r.o_orderkey
        for r in spark.read.parquet(f"{SF_DIR_MID}/orders.parquet")
        .select("o_orderkey")
        .collect()
    ]
    exp = {"added": 0, "removed": 0, "changed": 0, "unchanged": 0}
    n_v1 = n_v2 = 0
    for k in keys:
        bk = int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16) % 100
        in_v1, in_v2 = bk < 95, bk >= 5
        n_v1 += in_v1
        n_v2 += in_v2
        if in_v1 and in_v2:
            exp["changed" if bk < 15 else "unchanged"] += 1
        elif in_v2:
            exp["added"] += 1
        else:
            exp["removed"] += 1
    assert got == {k: v for k, v in exp.items() if v > 0}
    assert got["removed"] + got["changed"] + got["unchanged"] == n_v1
    assert got["added"] + got["changed"] + got["unchanged"] == n_v2


def test_bfs_with_seeds_outside_the_graph(spark):
    """Seeds with no edges still appear at hop 0; nothing else is
    reached through them; an empty seed set yields an empty result."""
    from mapreduce_system_spark.operators.graph import bfs_hops

    und = [("a", "b")]
    e = spark.createDataFrame(und + [(v, u) for u, v in und], ["u", "v"])
    lonely = spark.createDataFrame([("z",)], ["node"])
    got = {r.node: r.hop for r in bfs_hops(e, lonely, max_hops=3).collect()}
    assert got == {"z": 0}

    empty = spark.createDataFrame([], "node string")
    assert bfs_hops(e, empty, max_hops=3).count() == 0


def test_bfs_seed_duplicates_do_not_double_count(spark):
    """Duplicate seed rows collapse — the hop-0 frontier is a set."""
    from mapreduce_system_spark.operators.graph import bfs_hops

    und = [("a", "b")]
    e = spark.createDataFrame(und + [(v, u) for u, v in und], ["u", "v"])
    seeds = spark.createDataFrame([("a",), ("a",), ("a",)], ["node"])
    rows = bfs_hops(e, seeds, max_hops=2).collect()
    assert sorted((r.node, r.hop) for r in rows) == [("a", 0), ("b", 1)]


def test_grouped_linreg_r2_survives_zero_variance_group_under_ansi(spark, tmp_path):
    """The r11 fuzz class applied here: r² spelled with F.corr()² ABORTS
    the whole job under ANSI on a zero-variance group (two identical
    quantities in one brand suffice); the covar²/nullif(var·var)
    respelling must instead yield NULL on BOTH engines — end-to-end
    through the registered query and its oracle."""
    import datetime as dt

    import duckdb
    from pyspark.sql import Row

    from mapreduce_system_spark.registry import ORACLE_SQL, QUERIES

    li = [
        # brand 0: constant quantity (var = 0) — the would-be job killer
        Row(l_orderkey=1, l_partkey=0, l_suppkey=0, l_linenumber=1,
            l_quantity=5.0, l_extendedprice=100.0, l_discount=0.0, l_tax=0.0,
            l_returnflag="A", l_linestatus="F", l_shipdate=dt.datetime(2024, 1, 1)),
        Row(l_orderkey=2, l_partkey=0, l_suppkey=0, l_linenumber=1,
            l_quantity=5.0, l_extendedprice=200.0, l_discount=0.0, l_tax=0.0,
            l_returnflag="A", l_linestatus="F", l_shipdate=dt.datetime(2024, 1, 1)),
        # brand 1: a real 3-point fit
        Row(l_orderkey=3, l_partkey=1, l_suppkey=0, l_linenumber=1,
            l_quantity=1.0, l_extendedprice=10.0, l_discount=0.0, l_tax=0.0,
            l_returnflag="A", l_linestatus="F", l_shipdate=dt.datetime(2024, 1, 1)),
        Row(l_orderkey=4, l_partkey=1, l_suppkey=0, l_linenumber=1,
            l_quantity=2.0, l_extendedprice=19.5, l_discount=0.0, l_tax=0.0,
            l_returnflag="A", l_linestatus="F", l_shipdate=dt.datetime(2024, 1, 1)),
        Row(l_orderkey=5, l_partkey=1, l_suppkey=0, l_linenumber=1,
            l_quantity=3.0, l_extendedprice=31.0, l_discount=0.0, l_tax=0.0,
            l_returnflag="A", l_linestatus="F", l_shipdate=dt.datetime(2024, 1, 1)),
    ]
    spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    spark.createDataFrame(
        [Row(p_partkey=0, p_name="p0", p_brand="Brand#0",
             p_type="T", p_size=1, p_retailprice=1.0),
         Row(p_partkey=1, p_name="p1", p_brand="Brand#1",
             p_type="T", p_size=1, p_retailprice=1.0)],
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    ).write.parquet(f"{tmp_path}/part.parquet")
    got = sorted(
        tuple(r) for r in QUERIES["agg_grouped_linreg"](spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    for t in ("lineitem", "part"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{tmp_path}/{t}.parquet/*.parquet')"
        )
    want = sorted(tuple(r) for r in con.execute(ORACLE_SQL["agg_grouped_linreg"]).fetchall())
    assert got == want
    deg = next(r for r in got if r[0] == "Brand#0")
    assert deg[2] is None and deg[4] is None  # slope and r2 both NULL
