"""PageRank operator: probability-mass conservation, known-graph exact
values, and the query's structural properties."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR_MID


def test_pagerank_on_known_graph_matches_hand_computation(spark):
    """Undirected path a—b—c: by symmetry a and c tie and b leads.
    One iteration from uniform: r(b) = 0.15/3 + 0.85*(1/3 + 1/3)... —
    pin the exact 3-iteration recurrence computed by hand."""
    from mapreduce_system_spark.operators.graph import pagerank

    e = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")], ["src", "dst"]
    )
    got = {r.node: r.rank for r in pagerank(e, iterations=3).collect()}

    # hand recurrence: deg a=1, b=2, c=1; base = 0.15/3
    base, d = 0.15 / 3, 0.85
    r = {"a": 1 / 3, "b": 1 / 3, "c": 1 / 3}
    for _ in range(3):
        contrib = {
            "a": r["b"] * (1.0 / 2),
            "c": r["b"] * (1.0 / 2),
            "b": r["a"] * (1.0 / 1) + r["c"] * (1.0 / 1),
        }
        r = {k: base + d * contrib[k] for k in r}
    for k in r:
        assert abs(got[k] - r[k]) < 1e-12, (k, got[k], r[k])
    assert got["b"] > got["a"] == got["c"]


def test_pagerank_conserves_probability_mass(spark):
    """With no dangling nodes (undirected input), total rank is exactly
    1 after every iteration count."""
    from mapreduce_system_spark.operators.graph import pagerank
    from mapreduce_system_spark.queries.graph import q_graph_pagerank

    out = q_graph_pagerank(spark, SF_DIR_MID)
    total_ppm = out.agg(F.sum("rank_ppm")).first()[0]
    assert abs(total_ppm - 1_000_000) < 1.0  # rounding of 1600 rows

    e = spark.createDataFrame([("x", "y"), ("y", "x")], ["src", "dst"])
    for it in (1, 5):
        s = pagerank(e, iterations=it).agg(F.sum("rank")).first()[0]
        assert abs(s - 1.0) < 1e-12


def test_pagerank_query_ranks_suppliers_above_customers(spark):
    """Suppliers aggregate ~15x the fan-in of customers in the purchase
    graph, so the mean supplier rank must dominate; both node families
    are complete (1500 customers + 100 suppliers at sf0.01)."""
    from mapreduce_system_spark.queries.graph import q_graph_pagerank

    rows = q_graph_pagerank(spark, SF_DIR_MID).collect()
    cust = [r.rank_ppm for r in rows if r.node.startswith("c")]
    supp = [r.rank_ppm for r in rows if r.node.startswith("s")]
    assert len(cust) == 1500 and len(supp) == 100
    assert min(supp) > max(cust)
    assert all(r.rank_ppm > 0 for r in rows)


def test_pagerank_dangling_redistribute_conserves_mass(spark):
    """Directed a->b leaves b dangling; with redistribute the round-1
    values follow the hand recurrence and total mass stays exactly 1
    for any iteration count (the r7 verdict's acceptance test)."""
    from mapreduce_system_spark.operators.graph import pagerank

    e = spark.createDataFrame([("a", "b")], ["src", "dst"])
    got = {
        r.node: r.rank
        for r in pagerank(e, iterations=1, dangling="redistribute").collect()
    }
    # N=2, base=0.075, m=0.5: a gets no contrib, b gets all of a's rank
    assert abs(got["a"] - (0.075 + 0.85 * (0.0 + 0.25))) < 1e-12
    assert abs(got["b"] - (0.075 + 0.85 * (0.5 + 0.25))) < 1e-12
    for it in (1, 3, 5):
        s = (
            pagerank(e, iterations=it, dangling="redistribute")
            .agg(F.sum("rank"))
            .first()[0]
        )
        assert abs(s - 1.0) < 1e-12, (it, s)


def test_pagerank_without_redistribute_leaks_dangling_mass(spark):
    """The default mode keeps the leaky recurrence the unrolled oracle
    spells: with a dangling sink the total drops below 1."""
    from mapreduce_system_spark.operators.graph import pagerank

    e = spark.createDataFrame([("a", "b")], ["src", "dst"])
    s = pagerank(e, iterations=3).agg(F.sum("rank")).first()[0]
    assert s < 1.0 - 1e-6


def test_pagerank_tol_converges_to_fixed_point(spark):
    """tol-based early stop lands on the analytic stationary ranks of the
    undirected path a-b-c (solve r = base + d*Pr): the cap of 200 rounds
    is never the binding constraint."""
    from mapreduce_system_spark.operators.graph import pagerank

    e = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")], ["src", "dst"]
    )
    got = {
        r.node: r.rank for r in pagerank(e, iterations=200, tol=1e-13).collect()
    }
    base, d = 0.15 / 3, 0.85
    ra = base * (1 + d / 2) / (1 - d * d)
    rb = base + 2 * d * ra
    assert abs(got["a"] - ra) < 1e-10
    assert abs(got["c"] - ra) < 1e-10
    assert abs(got["b"] - rb) < 1e-10


def _tol_case(spark):
    """(edges frame, tol, R) on a seeded random digraph: R is the first
    round whose L1 rank change, computed in pure Python, drops below
    tol; tol sits midway (geometrically) between rounds R-1 and R."""
    import random
    from collections import Counter

    rng = random.Random(7)
    edges = sorted({(rng.randrange(60), rng.randrange(60)) for _ in range(240)})
    nodes = {x for e in edges for x in e}
    outdeg = Counter(u for u, _ in edges)
    n = len(nodes)
    ranks = {x: 1.0 / n for x in nodes}
    deltas = []
    for _ in range(8):
        contrib = dict.fromkeys(nodes, 0.0)
        for u, v in edges:
            contrib[v] += ranks[u] * (1.0 / outdeg[u])
        new = {x: 0.15 / n + 0.85 * contrib[x] for x in nodes}
        deltas.append(sum(abs(new[x] - ranks[x]) for x in nodes))
        ranks = new
    r = 5
    assert deltas[r - 2] > deltas[r - 1] * 1.5, deltas  # a clear gap to sit in
    tol = (deltas[r - 2] * deltas[r - 1]) ** 0.5
    return spark.createDataFrame(edges, "src long, dst long"), tol, r


def test_pagerank_tol_stops_at_the_first_round_below_tol(spark):
    """pagerank(tol=t) returns pagerank(iterations=R), where R is the
    first round whose L1 change is below t. Equal up to summation-order
    ulps: one round early or late would move the ranks by about t."""
    from mapreduce_system_spark import caches
    from mapreduce_system_spark.operators.graph import pagerank

    e, tol, r = _tol_case(spark)
    got = sorted(tuple(x) for x in pagerank(e, iterations=20, tol=tol).collect())
    want = sorted(tuple(x) for x in pagerank(e, iterations=r).collect())
    assert [x for x, _ in got] == [x for x, _ in want]
    assert max(abs(a[1] - b[1]) for a, b in zip(got, want)) < 1e-12
    caches.release()


def test_pagerank_tol_launches_no_more_jobs_than_fixed_rounds(spark):
    """The tol stop reads each round's L1 change from that round's
    checkpoint job: stopping after R rounds costs no job beyond
    running exactly R rounds."""
    from mapreduce_system_spark import caches
    from mapreduce_system_spark.operators.graph import pagerank

    e, tol, r = _tol_case(spark)
    sc = spark.sparkContext

    def jobs(group, run):
        caches.release()  # a cached edge list from the other run is no shortcut
        sc.setJobGroup(group, group)
        try:
            run().collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    fixed = jobs("pagerank_fixed_rounds", lambda: pagerank(e, iterations=r))
    tolled = jobs("pagerank_tol", lambda: pagerank(e, iterations=20, tol=tol))
    caches.release()
    assert tolled <= fixed, (tolled, fixed)


def test_pagerank_rejects_unknown_dangling_mode(spark):
    import pytest

    from mapreduce_system_spark.operators.graph import pagerank

    e = spark.createDataFrame([("a", "b")], ["src", "dst"])
    with pytest.raises(ValueError):
        pagerank(e, dangling="teleport")


def test_pagerank_dangling_query_mass_sums_to_one(spark):
    """Every supplier dangles in the directed purchase graph; the
    redistribute correction keeps the reported ppm total at ~1e6."""
    from mapreduce_system_spark.queries.graph import q_graph_pagerank_dangling

    out = q_graph_pagerank_dangling(spark, SF_DIR_MID)
    total_ppm = out.agg(F.sum("rank_ppm")).first()[0]
    assert abs(total_ppm - 1_000_000) < 1.0


def test_triangle_stats_empty_graph_pins_transitivity_zero(spark):
    """The empty graph's wedge sum is NULL, which slipped past the
    n_wedges == 0 pin and made transitivity NULL (r10 review)."""
    from mapreduce_system_spark.operators.graph import triangle_stats

    e = spark.createDataFrame([], "u long, v long")
    r = triangle_stats(e).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles, r.n_wedges) == (0, 0, 0, 0)
    assert r.transitivity == 0.0


def test_bfs_hops_seed_validation(spark):
    """Multi-column seed frames raise (silent columns[0] pick ran BFS
    from the wrong values); NULL seeds are dropped, not emitted as a
    spurious (NULL, 0) row (r10 review)."""
    import pytest

    from mapreduce_system_spark.operators.graph import bfs_hops

    e = spark.createDataFrame([(1, 2)], "u long, v long")
    with pytest.raises(ValueError, match="single-column"):
        bfs_hops(e, spark.createDataFrame([("x", 1)], "label string, node long"))
    seeds = spark.createDataFrame([(1,), (None,)], "node long")
    got = {(r.node, r.hop) for r in bfs_hops(e, seeds).collect()}
    assert got == {(1, 0), (2, 1)}


def test_weighted_pagerank_matches_hand_recurrence(spark):
    """Weighted contributions are rank * (wt / sum of out-weights): pin
    the exact 3-iteration recurrence on a 3-node graph whose weights
    skew b's mass toward c."""
    from mapreduce_system_spark.operators.graph import pagerank

    e = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "a", 1.0), ("b", "c", 3.0), ("c", "b", 2.0)],
        ["src", "dst", "w"],
    )
    got = {r.node: r.rank for r in pagerank(e, weight="w", iterations=3).collect()}

    base, d = 0.15 / 3, 0.85
    r = {"a": 1 / 3, "b": 1 / 3, "c": 1 / 3}
    for _ in range(3):
        contrib = {
            "a": r["b"] * (1.0 / 4.0),
            "c": r["b"] * (3.0 / 4.0),
            "b": r["a"] * (1.0 / 1.0) + r["c"] * (2.0 / 2.0),
        }
        r = {k: base + d * contrib[k] for k in r}
    for k in r:
        assert abs(got[k] - r[k]) < 1e-12, (k, got[k], r[k])
    assert got["c"] > got["a"]  # the 3:1 skew must show


def test_weighted_pagerank_with_unit_weights_equals_unweighted(spark):
    """wt=1.0 everywhere makes wt/sum == 1/outdeg exactly (IEEE: the sum
    of n ones is exact), so the weighted path must reproduce the
    unweighted ranks bit-for-bit."""
    from mapreduce_system_spark.operators.graph import pagerank

    pairs = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("a", "c"), ("c", "a")]
    e = spark.createDataFrame(pairs, ["src", "dst"])
    ew = spark.createDataFrame([(s, t, 1.0) for s, t in pairs], ["src", "dst", "w"])
    plain = {r.node: r.rank for r in pagerank(e, iterations=3).collect()}
    weighted = {r.node: r.rank for r in pagerank(ew, weight="w", iterations=3).collect()}
    assert plain == weighted


def test_weighted_pagerank_dangling_redistribute_conserves_mass(spark):
    """The dangling correction must see weighted out-degrees: c has no
    out-edge, so its mass redistributes and total rank stays 1."""
    from mapreduce_system_spark.operators.graph import pagerank

    e = spark.createDataFrame(
        [("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 5.0)], ["src", "dst", "w"]
    )
    ranks = pagerank(e, weight="w", iterations=4, dangling="redistribute")
    total = ranks.agg(F.sum("rank")).collect()[0][0]
    assert abs(total - 1.0) < 1e-9


def test_weighted_pagerank_rejects_null_and_nonpositive_weights(spark):
    """sum() skips NULLs, so a NULL-weight edge would silently destroy
    rank mass (its source still counts as non-dangling); zero weights
    abort deep inside cache materialization under ANSI — both must fail
    fast with a clear error instead."""
    import pytest

    from mapreduce_system_spark.operators.graph import pagerank

    e_null = spark.createDataFrame(
        [("a", "b", None), ("b", "a", 1.0)], "src string, dst string, w double"
    )
    with pytest.raises(ValueError, match="positive, finite"):
        pagerank(e_null, weight="w", iterations=1)
    e_zero = spark.createDataFrame([("a", "b", 0.0), ("b", "a", 1.0)], ["src", "dst", "w"])
    with pytest.raises(ValueError, match="positive, finite"):
        pagerank(e_zero, weight="w", iterations=1)
    # NaN orders ABOVE every number in Spark, so a bare sign check would
    # pass it into all-NaN ranks; +Inf makes inf/inf = NaN shares
    for w in (float("nan"), float("inf")):
        e_bad = spark.createDataFrame([("a", "b", w), ("b", "a", 1.0)], ["src", "dst", "w"])
        with pytest.raises(ValueError, match="positive, finite"):
            pagerank(e_bad, weight="w", iterations=1)


def test_weighted_pagerank_matches_unrolled_duckdb_recurrence(spark, tmp_path):
    """Cross-engine parity for the weighted form, drafted exactly as the
    future registered query's oracle will spell it: deg = sum(w),
    share = wt/outw, rank recurrence unrolled per iteration. Locks the
    double discipline before the query/oracle pair is wired in."""
    import duckdb

    from mapreduce_system_spark.operators.graph import pagerank

    edges = [
        ("a", "b", 1.0), ("a", "c", 3.0),
        ("b", "a", 2.0), ("b", "c", 2.0),
        ("c", "a", 5.0), ("c", "b", 1.0),
    ]
    e = spark.createDataFrame(edges, ["src", "dst", "w"])
    e.write.parquet(f"{tmp_path}/edges.parquet")
    got = {r.node: r.rank for r in pagerank(e, weight="w", iterations=3).collect()}

    def it(prev, cur):
        return f"""{cur} AS (
  SELECT nodes.node,
         CAST(0.15 AS DOUBLE) / nn.n + CAST(0.85 AS DOUBLE) * coalesce(s.contrib, CAST(0.0 AS DOUBLE)) AS rank
  FROM nodes CROSS JOIN nn
  LEFT JOIN (
    SELECT ce.v AS node, sum({prev}.rank * ce.w) AS contrib
    FROM ce JOIN {prev} ON {prev}.node = ce.u
    GROUP BY 1
  ) s ON s.node = nodes.node
)"""

    sql = (
        f"""
WITH e AS (SELECT src AS u, dst AS v, CAST(w AS DOUBLE) AS wt
           FROM read_parquet('{tmp_path}/edges.parquet/*.parquet')),
deg AS (SELECT u, sum(wt) AS outw FROM e GROUP BY 1),
ce AS (SELECT e.u, e.v, e.wt / deg.outw AS w FROM e JOIN deg ON deg.u = e.u),
nodes AS (SELECT DISTINCT u AS node FROM (SELECT u FROM e UNION ALL SELECT v FROM e)),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS rank FROM nodes CROSS JOIN nn),
"""
        + ",\n".join(it(f"r{i}", f"r{i + 1}") for i in range(3))
        + "\nSELECT node, rank FROM r3 ORDER BY node"
    )
    want = dict(duckdb.sql(sql).fetchall())
    assert set(got) == set(want)
    for k in want:
        # summation order may differ in the per-node contribution sum
        assert abs(got[k] - want[k]) < 1e-12, (k, got[k], want[k])


def test_weighted_pagerank_mass_invariant_on_random_graphs(spark):
    """Seeded random weighted digraphs with redistribute: total rank is
    1 regardless of topology or weight skew — the invariant, not one
    hand-built case."""
    import random

    from mapreduce_system_spark.operators.graph import pagerank

    for seed in (3, 11):
        rng = random.Random(seed)
        nodes = [f"n{i}" for i in range(12)]
        edges = [
            (a, b, round(rng.uniform(0.1, 9.0), 3))
            for a in nodes
            for b in rng.sample(nodes, 3)
            if a != b and rng.random() < 0.7
        ]
        e = spark.createDataFrame(edges, ["src", "dst", "w"])
        ranks = pagerank(e, weight="w", iterations=4, dangling="redistribute")
        total = ranks.agg(F.sum("rank")).collect()[0][0]
        assert abs(total - 1.0) < 1e-9, (seed, total)


# ---------------------------------------------------------------------------
# personalized PageRank (seeds=) — staged r11 for the r13 debut; the
# registered query will spell exactly these oracles (the weighted-pagerank
# staging pattern, r10)
# ---------------------------------------------------------------------------


def test_personalized_pagerank_with_all_nodes_matches_uniform(spark):
    """seeds = every node ⇒ tp ≡ 1/N and the personalized recurrence
    degenerates to the uniform one term for term (0.15·(1/N) vs 0.15/N
    differ only in the final multiply's last ulp)."""
    from mapreduce_system_spark.operators.graph import pagerank

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")]
    e = spark.createDataFrame(edges, ["src", "dst"])
    allseeds = spark.createDataFrame([("a",), ("b",), ("c",)], ["node"])
    uni = {r.node: r.rank for r in pagerank(e, iterations=4).collect()}
    per = {r.node: r.rank for r in pagerank(e, iterations=4, seeds=allseeds).collect()}
    assert set(uni) == set(per)
    for k in uni:
        assert abs(uni[k] - per[k]) < 1e-14, (k, uni[k], per[k])


def test_personalized_pagerank_matches_unrolled_duckdb_recurrence(spark, tmp_path):
    """Cross-engine parity for the seeded form with dangling restart,
    drafted exactly as the future registered query's oracle will spell
    it: tp = 1/|S| on seeds else 0, r0 = tp, rank = 0.15·tp +
    0.85·(contrib + m·tp), dang via NOT EXISTS. Locks the double
    discipline before the query/oracle pair is wired in (r13)."""
    import duckdb

    from mapreduce_system_spark.operators.graph import pagerank

    # c is dangling; seeds {a, d} — d is an otherwise-minor node
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("d", "a"), ("b", "d")]
    e = spark.createDataFrame(edges, ["src", "dst"])
    e.write.parquet(f"{tmp_path}/edges.parquet")
    seeds = spark.createDataFrame([("a",), ("d",)], ["node"])
    got = {
        r.node: r.rank
        for r in pagerank(
            e, iterations=3, dangling="redistribute", seeds=seeds
        ).collect()
    }

    def it(prev, cur, m):
        return f"""{m} AS (
  SELECT coalesce(sum({prev}.rank), CAST(0.0 AS DOUBLE)) AS m
  FROM {prev} JOIN dang USING (node)
),
{cur} AS (
  SELECT tp.node,
         CAST(0.15 AS DOUBLE) * tp.tp
           + CAST(0.85 AS DOUBLE) * (coalesce(s.contrib, CAST(0.0 AS DOUBLE)) + mm.m * tp.tp) AS rank
  FROM tp CROSS JOIN {m} mm
  LEFT JOIN (
    SELECT ce.v AS node, sum({prev}.rank * ce.w) AS contrib
    FROM ce JOIN {prev} ON {prev}.node = ce.u
    GROUP BY 1
  ) s ON s.node = tp.node
)"""

    sql = (
        f"""
WITH e AS (SELECT src AS u, dst AS v
           FROM read_parquet('{tmp_path}/edges.parquet/*.parquet')),
deg AS (SELECT u, CAST(count(*) AS DOUBLE) AS outdeg FROM e GROUP BY 1),
ce AS (SELECT e.u, e.v, CAST(1.0 AS DOUBLE) / deg.outdeg AS w
       FROM e JOIN deg ON deg.u = e.u),
nodes AS (SELECT DISTINCT u AS node FROM (SELECT u FROM e UNION ALL SELECT v AS u FROM e)),
dang AS (SELECT node FROM nodes n0
         WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.u = n0.node)),
sset AS (SELECT * FROM (VALUES ('a'), ('d')) s(node)),
nsn AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM sset),
tp AS (SELECT n.node,
              coalesce(s.t, CAST(0.0 AS DOUBLE)) AS tp
       FROM nodes n
       LEFT JOIN (SELECT node, 1.0 / nsn.ns AS t FROM sset CROSS JOIN nsn) s
         USING (node)),
r0 AS (SELECT node, tp AS rank FROM tp),
"""
        + ",\n".join(it(f"r{i}", f"r{i + 1}", f"m{i}") for i in range(3))
        + "\nSELECT node, rank FROM r3 ORDER BY node"
    )
    want = dict(duckdb.sql(sql).fetchall())
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12, (k, got[k], want[k])


def test_personalized_pagerank_invariants(spark):
    """Restart semantics: with redistribute, total mass stays 1 for any
    seed set; a non-seed node with no path from the seeds holds rank 0;
    out-of-graph seed ids are ignored; an empty effective seed set
    raises."""
    import pytest as _pytest

    from mapreduce_system_spark.operators.graph import pagerank

    # z is unreachable FROM the seed component and has an out-edge, so it
    # receives neither teleport nor contribution mass
    edges = [("a", "b"), ("b", "a"), ("z", "a")]
    e = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame([("a",), ("ghost",)], ["node"])
    ranks = {
        r.node: r.rank
        for r in pagerank(
            e, iterations=5, dangling="redistribute", seeds=seeds
        ).collect()
    }
    total = sum(ranks.values())
    assert abs(total - 1.0) < 1e-9, total
    assert ranks["z"] == 0.0
    # a and b trade mass around the 2-cycle (finite iterations oscillate);
    # both hold positive mass and together all of it
    assert ranks["a"] > 0.0 and ranks["b"] > 0.0
    assert abs(ranks["a"] + ranks["b"] - 1.0) < 1e-9
    with _pytest.raises(ValueError, match="no seed id"):
        pagerank(e, seeds=spark.createDataFrame([("ghost",)], ["node"]))
