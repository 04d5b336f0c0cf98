"""RRF fusion (operators/fusion.py) and the Matryoshka norm profile
(operators/similarity.py::matryoshka_norm_profile) — staged r13 for r15
debuts; the registered queries will spell exactly the oracle algebra
drafted here (the cardinality/hll/lpa/boilerplate/tfidf staging
pattern)."""

from __future__ import annotations

import duckdb
import pytest

from mapreduce_system_spark.operators.fusion import rrf_fuse
from mapreduce_system_spark.operators.similarity import matryoshka_norm_profile

_SYS_A = [  # (query, doc, rank)
    ("q1", 10, 1), ("q1", 11, 2), ("q1", 12, 3),
    ("q2", 20, 1), ("q2", 21, 2),
]
_SYS_B = [
    ("q1", 11, 1), ("q1", 13, 2), ("q1", 10, 3),
    ("q2", 22, 1), ("q2", 20, 2),
]


def _rankings(spark):
    schema = "query string, doc_id long, rank long"
    return [
        spark.createDataFrame(_SYS_A, schema),
        spark.createDataFrame(_SYS_B, schema),
    ]


def test_rrf_matches_pure_python_reference(spark):
    got = {
        (r.query, r.item): (round(r.rrf_score, 10), r.fused_rank)
        for r in rrf_fuse(_rankings(spark), k0=60).collect()
    }
    scores: dict = {}
    for lst in (_SYS_A, _SYS_B):
        for q, d, rk in lst:
            scores[(q, d)] = scores.get((q, d), 0.0) + 1.0 / (60 + rk)
    want_rank: dict = {}
    for q in {k[0] for k in scores}:
        items = sorted(
            (k[1] for k in scores if k[0] == q),
            key=lambda d: (-scores[(q, d)], d),
        )
        for i, d in enumerate(items, 1):
            want_rank[(q, d)] = i
    assert set(got) == set(scores)
    for k in scores:
        assert got[k] == (round(scores[k], 10), want_rank[k])
    # doc 11 leads q1: ranks 2+1 beat doc 10's 1+3 under 1/(60+r)
    assert got[("q1", 11)][1] == 1 and got[("q1", 10)][1] == 2


def test_rrf_single_list_and_topk_and_missing_items(spark):
    out = rrf_fuse(_rankings(spark)[:1], top_k=2).collect()
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r.query, []).append(r)
    assert all(len(v) == 2 for v in by_q.values())
    # single list: fused order == input order
    q1 = sorted((r for r in out if r.query == "q1"), key=lambda r: r.fused_rank)
    assert [r.item for r in q1] == [10, 11]


def test_rrf_rejects_duplicate_item_within_one_system(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    bad = spark.createDataFrame(
        [("q1", 10, 1), ("q1", 10, 2)], "query string, doc_id long, rank long"
    )
    with pytest.raises((SparkRuntimeException, Py4JJavaError)) as ei:
        rrf_fuse([bad]).collect()
    assert "duplicate (query, item)" in str(ei.value)


def test_rrf_matches_duckdb_oracle_draft(spark, tmp_path):
    """The oracle algebra the r15 query will interpolate: union the
    system lists, sum 1/(k0+rank), row_number by (score DESC, item)."""
    rks = _rankings(spark)
    for i, r in enumerate(rks):
        r.write.parquet(f"{tmp_path}/sys{i}.parquet")
    got = sorted(
        (r.query, r.item, round(r.rrf_score, 6), r.fused_rank)
        for r in rrf_fuse(rks, k0=60).collect()
    )
    sql = f"""
WITH allr AS (
  SELECT query, doc_id, rank FROM read_parquet('{tmp_path}/sys0.parquet/*.parquet')
  UNION ALL
  SELECT query, doc_id, rank FROM read_parquet('{tmp_path}/sys1.parquet/*.parquet')
), fused AS (
  SELECT query, doc_id AS item, sum(1.0 / CAST(60 + rank AS DOUBLE)) AS rrf_score
  FROM allr GROUP BY 1, 2
)
SELECT query, item, round(rrf_score, 6) AS rrf_score,
       row_number() OVER (PARTITION BY query ORDER BY rrf_score DESC, item) AS fused_rank
FROM fused ORDER BY query, fused_rank
"""
    want = sorted(
        (q, i, round(s, 6), rk)
        for q, i, s, rk in duckdb.connect().execute(sql).fetchall()
    )
    assert got == want


# ---------------------------------------------------------------------------
# matryoshka_norm_profile
# ---------------------------------------------------------------------------


def _vecs(spark):
    rows = [
        (0, [3.0, 0.0, 0.0, 4.0], 0),   # frac@1 = 9/25, @2 = 9/25, @4 = 1
        (1, [1.0, 1.0, 1.0, 1.0], 0),   # frac@k = k/4
        (2, [0.0, 0.0, 0.0, 0.0], 1),   # zero norm: EXCLUDED
        (3, None, 1),                   # NULL: dropped
        (4, [2.0, 0.0, 0.0, 0.0], 1),   # frac@k = 1 for all k
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_matryoshka_fracs_match_hand_algebra(spark):
    out = {
        (r.label, r.prefix_dim): (r.mean_frac, r.n_vecs)
        for r in matryoshka_norm_profile(_vecs(spark), [1, 2, 4]).collect()
    }
    assert out[(0, 1)] == (pytest.approx(round((9 / 25 + 1 / 4) / 2, 6)), 2)
    assert out[(0, 2)] == (pytest.approx(round((9 / 25 + 2 / 4) / 2, 6)), 2)
    assert out[(0, 4)] == (1.0, 2)
    # label 1: only the (4,) vector survives (zero-norm + NULL excluded)
    assert out[(1, 1)] == (1.0, 1) and out[(1, 4)] == (1.0, 1)
    # monotone in k for every label
    for lbl in (0, 1):
        assert out[(lbl, 1)][0] <= out[(lbl, 2)][0] <= out[(lbl, 4)][0]


def test_matryoshka_matches_duckdb_oracle_draft(spark, tmp_path):
    """The oracle algebra the r15 query will interpolate: per-prefix
    list_sum folds over the squared vector, quotient per vector, mean
    per (label, prefix)."""
    df = _vecs(spark)
    df.write.parquet(f"{tmp_path}/embeddings.parquet")
    got = sorted(
        map(tuple, matryoshka_norm_profile(df, [1, 2, 4]).collect())
    )
    prefix_selects = " UNION ALL ".join(
        f"""SELECT label, {p} AS prefix_dim,
            list_sum(sq[1:{p}]) / tot AS frac FROM b"""
        for p in (1, 2, 4)
    )
    sql = f"""
WITH v AS (
  SELECT label,
         list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS sq
  FROM read_parquet('{tmp_path}/embeddings.parquet/*.parquet')
  WHERE embedding IS NOT NULL
), b AS (
  SELECT label, sq, list_sum(sq) AS tot FROM v WHERE list_sum(sq) > 0
), fr AS ({prefix_selects})
SELECT label, prefix_dim, round(avg(frac), 6) AS mean_frac,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM fr GROUP BY 1, 2 ORDER BY 1, 2
"""
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want


def test_matryoshka_raises_on_prefix_beyond_dimension(spark):
    """ADVICE r13: F.slice silently clamps, so an oversized prefix would
    report mean_frac=1.0 indistinguishable from a genuinely
    energy-complete prefix — the operator must raise instead."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    with pytest.raises((SparkRuntimeException, Py4JJavaError)) as ei:
        matryoshka_norm_profile(_vecs(spark), [2, 8]).collect()
    assert "exceeds a vector's dimension" in str(ei.value)
