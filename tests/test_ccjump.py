"""Pointer-jumping connected components
(operators/graph.py::connected_components_jump) — staged r16 for an
r17/r18 debut (``graph_components_jump`` planned); the registered query
will spell exactly the unrolled per-round CTE drafted here (the
k-core/k-truss staging pattern). Where ``operators/dedup.py::
connected_components`` propagates the min label one hop per round
(O(diameter) rounds — the right shape for SHALLOW near-dup clusters),
this operator alternates a neighbor-min round with a POINTER-JUMP round
(lab(v) <- lab(lab(v)), the union-find path-compaction step), reaching
distance ~2^(r+1) after r rounds — O(log diameter) rounds, the
scale-correct shape for LONG chains (web-link paths, citation chains)
where min-label's round count IS the diameter. Each round's recurrence
is a pure function of the edge set, so both engines agree round for
round even short of convergence; parity is pinned against an
independent pure-Python union-find AND the DuckDB CTE, plus a
20-topology fuzz."""

from __future__ import annotations

import duckdb
import pytest

from mapreduce_system_spark.operators.graph import connected_components_jump

# two components: a PATH of 12 nodes (diameter 11 — min-label needs 11
# rounds, the jump needs 3) and a triangle + pendant, plus reversed
# duplicates / self-loop / NULL noise handled by normalization
_PATH = [(i, i + 1) for i in range(100, 111)]
_TRI = [(1, 2), (2, 3), (3, 1), (3, 4)]
_EDGES = _PATH + _TRI


def _ref_components(edges):
    """Independent union-find reference: (node, component-min)."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a is None or b is None or a == b:
            continue
        for n in (a, b):
            parent.setdefault(n, n)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_ccjump_matches_reference_handbuilt(spark):
    df = spark.createDataFrame(_EDGES, "id_a long, id_b long")
    got = {
        (r.id, r.lab)
        for r in connected_components_jump(df, rounds=4).collect()
    }
    want = set(_ref_components(_EDGES).items())
    assert got == want


def test_ccjump_log_round_convergence_on_path(spark):
    """The operator's whole point: a 12-node path (diameter 11)
    converges in 3 alternating rounds (reach ~2^(r+1) - 2 = 14 >= 11),
    where min-label propagation would need 11. At rounds=2 (reach 6)
    the FAR end must still be un-converged — proving the round budget
    is real, not vacuous."""
    df = spark.createDataFrame(_PATH, "id_a long, id_b long")
    got3 = {
        (r.id, r.lab)
        for r in connected_components_jump(df, rounds=3).collect()
    }
    assert got3 == {(i, 100) for i in range(100, 112)}
    got2 = {
        r.lab
        for r in connected_components_jump(df, rounds=2).collect()
    }
    assert got2 != {100}  # reach 6 cannot cover diameter 11


def test_ccjump_normalizes_messy_input(spark):
    messy = _EDGES + [(b, a) for a, b in _EDGES[:6]] + [(5, 5), (None, 2), (3, None)]
    df = spark.createDataFrame(messy, "id_a long, id_b long")
    got = {
        (r.id, r.lab)
        for r in connected_components_jump(df, rounds=4).collect()
    }
    want = set(_ref_components(_EDGES + [(5, 5)]).items())
    # the pure self-loop node 5 is dropped by normalization (no edge
    # can anchor it), exactly like dedup.connected_components
    want = {(n, c) for n, c in want if n != 5}
    assert got == want


def test_ccjump_rejects_bad_params(spark):
    df = spark.createDataFrame(_EDGES, "id_a long, id_b long")
    with pytest.raises(ValueError, match="rounds"):
        connected_components_jump(df, rounds=0)


def _ccjump_round_cte(prev: str, cur: str, r: int) -> str:
    """One unrolled alternating round — the draft the registered oracle
    will interpolate: neighbor-min (incl. self) then pointer jump. The
    jump's inner join is total: every label value is itself a node id
    present in the relation (mins over node ids stay node ids).
    MATERIALIZED is load-bearing (the k-truss r16 lesson,
    queries/graph.py): DuckDB 1.0 INLINES CTEs at every reference
    site — m{{r}} is referenced twice (jump self-join) and l{{r}} twice
    (neighbor-min union), so the plain spelling re-expands 4^rounds."""
    return f"""m{r} AS MATERIALIZED (
  SELECT id, min(lab) AS lab FROM (
    SELECT id, lab FROM {prev}
    UNION ALL
    SELECT e.src AS id, l.lab FROM e0 e JOIN {prev} l ON l.id = e.dst
  ) GROUP BY id
), {cur} AS MATERIALIZED (
  SELECT a.id, b.lab FROM m{r} a JOIN m{r} b ON b.id = a.lab
)"""


@pytest.mark.parametrize("rounds", [1, 2, 4])
def test_ccjump_matches_unrolled_duckdb_oracle(spark, tmp_path, rounds):
    """Round-for-round parity with the drafted CTE — including the
    NOT-yet-converged rounds=1/2 states (the recurrence is the
    contract, not just the fixed point)."""
    df = spark.createDataFrame(_EDGES, "id_a long, id_b long")
    df.write.parquet(f"{tmp_path}/edges.parquet")
    got = sorted(
        (r.id, r.lab)
        for r in connected_components_jump(df, rounds=rounds).collect()
    )
    ctes = ["""pr AS (
  SELECT DISTINCT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v
  FROM read_parquet('{path}')
  WHERE id_a IS NOT NULL AND id_b IS NOT NULL AND id_a <> id_b
), e0 AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM pr UNION ALL SELECT v, u FROM pr
), l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lab FROM e0)""".format(
        path=f"{tmp_path}/edges.parquet/*.parquet"
    )]
    for r in range(rounds):
        ctes.append(_ccjump_round_cte(f"l{r}", f"l{r + 1}", r))
    sql = f"WITH {', '.join(ctes)} SELECT id, lab FROM l{rounds} ORDER BY id"
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want


def test_ccjump_fuzz_20_random_topologies(spark):
    """20 seeded random graphs as disjoint id-offset components of ONE
    graph (components of a disjoint union are components per shard) vs
    the union-find reference — the k-core/k-truss sweep's shape.
    rounds=5 covers reach ~62 >= any 24-node component's diameter."""
    import random

    rng = random.Random(1609)
    edges = []
    expected: dict = {}
    for g in range(20):
        off = 1000 * (g + 1)
        n = rng.randint(2, 24)
        local = []
        for _ in range(rng.randint(1, 40)):
            a, b = rng.randint(0, n - 1), rng.randint(0, n - 1)
            if a != b:
                local.append((off + a, off + b))
        if not local:
            local = [(off, off + 1)]
        edges.extend(local)
        expected.update(_ref_components(local))
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        (r.id, r.lab)
        for r in connected_components_jump(df, rounds=5).collect()
    }
    assert got == set(expected.items())


def test_ccjump_agrees_with_minlabel_cc(spark):
    """The two CC operators must produce the SAME labeling (component
    min) on the same pair relation — algorithm change, not semantics
    change."""
    from mapreduce_system_spark.operators.dedup import connected_components

    df = spark.createDataFrame(_EDGES, "id_a long, id_b long")
    jump = {
        (r.id, r.lab)
        for r in connected_components_jump(df, rounds=4).collect()
    }
    minlabel = {
        (r.id, r.survivor_id)
        for r in connected_components(df).select("id", "survivor_id").collect()
    }
    assert jump == minlabel
