"""Label propagation (operators/graph.py::label_propagation) — staged
r13 for the r14 debut; the registered query will spell exactly the
unrolled-CTE oracle algebra drafted here (the cardinality/hll staging
pattern). Synchronous + smallest-label tie-break makes the recurrence a
pure function of the edge set — parity is pinned against an independent
pure-Python reference AND the DuckDB CTE."""

from __future__ import annotations

import duckdb
import pytest

from mapreduce_system_spark.operators.graph import label_propagation

# two K3 communities bridged by one edge, plus a detached pair
_EDGES = [
    (1, 2), (2, 3), (1, 3),          # community A
    (4, 5), (5, 6), (4, 6),          # community B
    (3, 4),                          # bridge
    (10, 11),                        # detached pair
]


def _ref_lpa(edges, iterations):
    """Independent reference: synchronous LPA, most-frequent neighbor
    label, smallest label on ties."""
    nbrs: dict[int, set[int]] = {}
    for u, v in edges:
        if u is None or v is None or u == v:
            continue
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    labels = {n: n for n in nbrs}
    for _ in range(iterations):
        new = {}
        for n, ns in nbrs.items():
            counts: dict[int, int] = {}
            for m in ns:
                counts[labels[m]] = counts.get(labels[m], 0) + 1
            new[n] = min(counts, key=lambda l: (-counts[l], l))
        labels = new
    return labels


@pytest.mark.parametrize("iterations", [1, 2, 3])
def test_lpa_matches_pure_python_reference(spark, iterations):
    df = spark.createDataFrame(_EDGES, "src long, dst long")
    got = {
        r.node: r.label
        for r in label_propagation(df, iterations=iterations).collect()
    }
    assert got == _ref_lpa(_EDGES, iterations)


def test_lpa_communities_converge_and_stay_distinct(spark):
    """After 3 rounds each bridged K3 is internally uniform and the two
    communities stay DISTINCT (connected_components would merge them —
    that is the operator's whole point). Community B consensus is 3,
    not 4: the bridge node adopts its cross-community neighbor's label
    on the first round's tie and re-exports it — tie-breaks propagate
    the smallest label locally, verified by the pure-Python reference.
    The detached pair oscillates between its two ids (the documented
    synchronous-LPA bipartite behavior)."""
    df = spark.createDataFrame(_EDGES, "src long, dst long")
    got = {r.node: r.label for r in label_propagation(df, iterations=3).collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[4] == got[5] == got[6] == 3
    assert got[1] != got[4]
    assert {got[10], got[11]} == {10, 11}


def test_lpa_drops_self_loops_and_nulls_and_handles_empty(spark):
    df = spark.createDataFrame(
        [(1, 1), (None, 2), (3, None), (1, 2)], "src long, dst long"
    )
    got = {r.node: r.label for r in label_propagation(df, iterations=2).collect()}
    # only the 1-2 edge survives: two nodes swapping labels each round
    assert got == {1: 1, 2: 2}
    empty = spark.createDataFrame([], "src long, dst long")
    assert label_propagation(empty, iterations=1).count() == 0


def test_lpa_deterministic_under_repartition(spark):
    df = spark.createDataFrame(_EDGES, "src long, dst long")
    a = sorted(map(tuple, label_propagation(df, iterations=3).collect()))
    b = sorted(
        map(tuple, label_propagation(df.repartition(7), iterations=3).collect())
    )
    assert a == b


def _lpa_iter_cte(prev: str, cur: str) -> str:
    """One unrolled synchronous-LPA round — the oracle algebra the r14
    registered query will interpolate (count per neighbor label, argmax
    by count DESC then label ASC via row_number)."""
    return f"""{cur} AS (
  SELECT node, lbl AS label FROM (
    SELECT s.v AS node, l.label AS lbl,
           row_number() OVER (
             PARTITION BY s.v ORDER BY count(*) DESC, l.label ASC
           ) AS rn
    FROM sym s JOIN {prev} l ON l.node = s.u
    GROUP BY s.v, l.label
  ) WHERE rn = 1
)"""


def test_lpa_matches_unrolled_duckdb_oracle(spark, tmp_path):
    iterations = 3
    df = spark.createDataFrame(_EDGES, "src long, dst long")
    df.write.parquet(f"{tmp_path}/edges.parquet")
    got = sorted(
        map(tuple, label_propagation(df, iterations=iterations).collect())
    )
    sql = (
        f"""
WITH e AS (
  SELECT src AS u, dst AS v
  FROM read_parquet('{tmp_path}/edges.parquet/*.parquet')
  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
),
sym AS (SELECT DISTINCT u, v FROM (SELECT u, v FROM e UNION ALL SELECT v, u FROM e)),
l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym),
"""
        + ",\n".join(_lpa_iter_cte(f"l{i}", f"l{i + 1}") for i in range(iterations))
        + f"\nSELECT node, label FROM l{iterations} ORDER BY node"
    )
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want


def test_lpa_distinct_input_fast_path_is_row_identical(spark):
    """edges_undirected_distinct=True must be a pure PLAN change: on a
    distinct u<v edge list (the copurchase contract) it returns exactly
    the default path's labels while skipping the symmetrize-distinct
    exchange (one fewer shuffle before the iteration cache)."""
    pairs = sorted({(min(u, v), max(u, v)) for u, v in _EDGES})
    df = spark.createDataFrame(pairs, "src long, dst long")
    slow = sorted(map(tuple, label_propagation(df, iterations=3).collect()))
    fast = sorted(
        map(
            tuple,
            label_propagation(
                df, iterations=3, edges_undirected_distinct=True
            ).collect(),
        )
    )
    assert fast == slow


def test_lpa_matches_reference_on_40_random_topologies(spark):
    """Topology fuzz for the tie-break argmax (VERDICT r13 #8): 40
    seeded random/adversarial topologies — G(n,p) with duplicate +
    reversed edges, EVEN CYCLES (which oscillate under synchronous LPA,
    the tie-break's hardest surface), stars, bridged cliques, complete
    bipartite blocks (2-coloring flip-flop), plus self-loop noise — as
    DISJOINT id-offset components of ONE graph. LPA on a disjoint union
    is LPA per component, so a single Spark run sweeps all 40 against
    the independent pure-Python reference, exact label-for-label."""
    import random

    all_edges: list[tuple[int, int]] = []
    want: dict[int, int] = {}
    for g in range(40):
        rng = random.Random(1000 + g)
        base = (g + 1) * 100_000
        n = rng.randint(2, 14)
        nodes = list(range(n))
        shape = g % 5
        if shape == 0:  # sparse random
            edges = [
                (a, b) for a in nodes for b in nodes
                if a < b and rng.random() < 0.3
            ]
        elif shape == 1:  # even cycle: synchronous LPA oscillates
            m = n if n % 2 == 0 else n + 1
            edges = [(i, (i + 1) % m) for i in range(m)]
        elif shape == 2:  # star: hub vs leaves tie-break every round
            edges = [(0, i) for i in range(1, n)]
        elif shape == 3:  # two cliques + bridge (the fixture shape, randomized)
            k = max(2, n // 2)
            edges = [(a, b) for a in range(k) for b in range(a + 1, k)]
            edges += [(a, b) for a in range(k, n) for b in range(a + 1, n)]
            if n - k >= 2:
                edges.append((0, k))
        else:  # complete bipartite: 2-coloring flip-flop
            k = max(1, n // 2)
            edges = [(a, b) for a in range(k) for b in range(k, n)]
        if not edges:
            edges = [(0, 1)]
        # adversarial noise the operator must normalize away: reversed
        # duplicates (symmetrize-distinct) and self-loops (dropped)
        edges = edges + [(b, a) for (a, b) in edges if rng.random() < 0.5]
        edges += [(x, x) for x in rng.sample(nodes, min(2, n))]
        offset = [(base + a, base + b) for a, b in edges]
        all_edges.extend(offset)
        want.update(_ref_lpa(offset, 3))
    e = spark.createDataFrame(all_edges, "src long, dst long")
    got = {
        r.node: r.label for r in label_propagation(e, iterations=3).collect()
    }
    assert got == want
