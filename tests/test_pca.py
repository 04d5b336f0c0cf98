"""Top-k PCA via power iteration + deflation (operators/pca.py)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import Row

from mapreduce_system_spark.operators.pca import pca_topk

# deterministic 8x4 matrix with a well-separated singular spectrum so a
# dozen power rounds converge far past the assertion tolerance
_X = np.array(
    [
        [9.0, 1.0, 0.5, 0.1],
        [8.5, 1.2, 0.4, 0.2],
        [9.2, 0.8, 0.6, 0.1],
        [0.5, 6.0, 2.0, 0.3],
        [0.4, 6.2, 1.8, 0.2],
        [0.6, 5.8, 2.2, 0.4],
        [0.1, 0.2, 0.1, 3.0],
        [0.2, 0.1, 0.2, 3.1],
    ]
)


def _corpus(spark):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in row]) for i, row in enumerate(_X)],
        "vec_id long, embedding array<float>",
    )


def _loadings(spark, k, rounds):
    out = pca_topk(_corpus(spark), k=k, rounds=rounds).collect()
    comps = {}
    for r in out:
        comps.setdefault(r.component, {})[r.pos] = r.loading
    d = _X.shape[1]
    return [np.array([comps[c][p] for p in range(d)]) for c in sorted(comps)]


def test_pca_topk_matches_numpy_singular_vectors_up_to_sign(spark):
    vs = _loadings(spark, k=3, rounds=12)
    _, _, vt = np.linalg.svd(_X, full_matrices=False)
    for c in range(3):
        align = abs(float(np.dot(vs[c], vt[c])))
        assert align > 1 - 1e-8, (c, align, vs[c], vt[c])


def test_pca_topk_directions_are_orthonormal(spark):
    vs = _loadings(spark, k=3, rounds=12)
    for i in range(3):
        assert abs(float(np.linalg.norm(vs[i])) - 1.0) < 1e-9
        for j in range(i):
            assert abs(float(np.dot(vs[i], vs[j]))) < 1e-9


def test_pca_topk_k1_matches_single_direction_query_convention(spark):
    """k=1 is exactly the fresh8m power iteration (uniform unit start,
    two aggregates per round) — the leading direction of the 8x4 fixture
    must match numpy's to tight tolerance with the same round count."""
    vs = _loadings(spark, k=1, rounds=12)
    _, _, vt = np.linalg.svd(_X, full_matrices=False)
    assert abs(float(np.dot(vs[0], vt[0]))) > 1 - 1e-8


def test_pca_topk_validates_arguments(spark):
    import pytest

    with pytest.raises(ValueError, match="k must be"):
        pca_topk(_corpus(spark), k=0)
    with pytest.raises(ValueError, match="rounds must be"):
        pca_topk(_corpus(spark), rounds=0)


def test_pca_topk_rejects_k_beyond_dimensionality(spark):
    """Beyond d the deflated iterate is round-off noise normalized into
    an arbitrary unit vector — the operator must refuse, not emit a
    direction that silently violates its orthogonality contract."""
    import pytest

    with pytest.raises(ValueError, match="dimensionality"):
        pca_topk(_corpus(spark), k=5, rounds=1)


def test_pca_topk_deflation_matches_unrolled_duckdb(spark, tmp_path):
    """Cross-engine parity for the DEFLATED second component, drafted as
    the future registered query's oracle will spell it: component 1 is
    the fresh8m unrolled power iteration; component 2 starts from the
    deflated uniform vector and re-deflates every loading iterate. Locks
    the double discipline before the query/oracle pair is wired in."""
    import duckdb

    _corpus(spark).write.parquet(f"{tmp_path}/embeddings.parquet")
    got = {
        (r.component, r.pos): r.loading
        for r in pca_topk(_corpus(spark), k=2, rounds=2).collect()
    }

    sql = f"""
WITH comp AS (
  SELECT vec_id,
         unnest(generate_series(1, len(embedding))) - 1 AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM read_parquet('{tmp_path}/embeddings.parquet/*.parquet')
),
-- component 1: plain power iteration from the uniform unit start (1/sqrt(4))
a_s1 AS (SELECT vec_id, sum(val) * 0.5 AS s FROM comp GROUP BY vec_id),
a_w1 AS (SELECT c.pos, sum(c.val * a_s1.s) AS w FROM comp c JOIN a_s1 USING (vec_id) GROUP BY c.pos),
a_n1 AS (SELECT sqrt(sum(w * w)) AS nrm FROM a_w1),
a_v1 AS (SELECT pos, w / nullif(nrm, 0) AS v FROM a_w1 CROSS JOIN a_n1),
a_s2 AS (SELECT c.vec_id, sum(c.val * a_v1.v) AS s FROM comp c JOIN a_v1 USING (pos) GROUP BY c.vec_id),
a_w2 AS (SELECT c.pos, sum(c.val * a_s2.s) AS w FROM comp c JOIN a_s2 USING (vec_id) GROUP BY c.pos),
a_n2 AS (SELECT sqrt(sum(w * w)) AS nrm FROM a_w2),
v1 AS (SELECT pos, w / nullif(nrm, 0) AS v FROM a_w2 CROSS JOIN a_n2),
-- component 2: deflate the uniform start against v1, iterate, re-deflate
b_d0 AS (SELECT sum(v * 0.5) AS d FROM v1),
b_t0 AS (SELECT v1.pos, 0.5 - b_d0.d * v1.v AS v FROM v1 CROSS JOIN b_d0),
b_s1 AS (SELECT c.vec_id, sum(c.val * b_t0.v) AS s FROM comp c JOIN b_t0 USING (pos) GROUP BY c.vec_id),
b_w1 AS (SELECT c.pos, sum(c.val * b_s1.s) AS w FROM comp c JOIN b_s1 USING (vec_id) GROUP BY c.pos),
b_d1 AS (SELECT sum(v1.v * b_w1.w) AS d FROM v1 JOIN b_w1 USING (pos)),
b_p1 AS (SELECT b_w1.pos, b_w1.w - b_d1.d * v1.v AS w FROM b_w1 JOIN v1 USING (pos) CROSS JOIN b_d1),
b_n1 AS (SELECT sqrt(sum(w * w)) AS nrm FROM b_p1),
b_v1 AS (SELECT pos, w / nullif(nrm, 0) AS v FROM b_p1 CROSS JOIN b_n1),
b_s2 AS (SELECT c.vec_id, sum(c.val * b_v1.v) AS s FROM comp c JOIN b_v1 USING (pos) GROUP BY c.vec_id),
b_w2 AS (SELECT c.pos, sum(c.val * b_s2.s) AS w FROM comp c JOIN b_s2 USING (vec_id) GROUP BY c.pos),
b_d2 AS (SELECT sum(v1.v * b_w2.w) AS d FROM v1 JOIN b_w2 USING (pos)),
b_p2 AS (SELECT b_w2.pos, b_w2.w - b_d2.d * v1.v AS w FROM b_w2 JOIN v1 USING (pos) CROSS JOIN b_d2),
b_n2 AS (SELECT sqrt(sum(w * w)) AS nrm FROM b_p2),
v2 AS (SELECT pos, w / nullif(nrm, 0) AS v FROM b_p2 CROSS JOIN b_n2)
SELECT 0 AS component, pos, v AS loading FROM v1
UNION ALL
SELECT 1 AS component, pos, v AS loading FROM v2
ORDER BY component, pos
"""
    want = {(c, p): v for c, p, v in duckdb.sql(sql).fetchall()}
    assert set(got) == set(want)
    for key in want:
        # summation order differs between engines; the recurrence is
        # expression-identical (the r11 oracle rounds to 6 — this is 1e-9)
        assert abs(got[key] - want[key]) < 1e-9, (key, got[key], want[key])


def test_pca_topk_invariants_on_random_matrices(spark):
    """Seeded random corpora: directions stay orthonormal and aligned
    with numpy's singular vectors — the invariant, not one fixture."""
    import numpy as np

    from pyspark.sql import Row

    for seed in (7, 23):
        rng = np.random.default_rng(seed)
        # well-separated spectrum by construction
        u, _ = np.linalg.qr(rng.normal(size=(12, 3)))
        v, _ = np.linalg.qr(rng.normal(size=(5, 3)))
        x = (u * np.array([10.0, 4.0, 1.5])) @ v.T
        corpus = spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(c) for c in row]) for i, row in enumerate(x)],
            "vec_id long, embedding array<float>",
        )
        out = pca_topk(corpus, k=2, rounds=10).collect()
        comps = {}
        for r in out:
            comps.setdefault(r.component, {})[r.pos] = r.loading
        vs = [np.array([comps[c][p] for p in range(5)]) for c in sorted(comps)]
        _, _, vt = np.linalg.svd(x, full_matrices=False)
        for c in range(2):
            assert abs(float(np.linalg.norm(vs[c])) - 1.0) < 1e-9
            # float32 embedding storage bounds the achievable alignment
            assert abs(float(np.dot(vs[c], vt[c]))) > 1 - 1e-5, (seed, c)
        assert abs(float(np.dot(vs[0], vs[1]))) < 1e-9
