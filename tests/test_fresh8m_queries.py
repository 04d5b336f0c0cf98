"""Round-8 fresh8m queries: semantic pins beyond the DuckDB oracle —
OHLC bar algebra, keep-latest-K fold for one user, and PCA parity with
numpy's eigendecomposition."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR_MID


def test_ohlc_bars_match_python_fold_for_one_bucket(spark):
    """The densest (type, hour) bar's open/high/low/close equal a
    Python fold over its time-ordered events; low ≤ {open, close} ≤
    high holds for every bar; bar counts sum to the stream size."""
    from mapreduce_system_spark.queries.temporal import q_ohlc_hourly
    from mapreduce_system_spark.sources.tables import load_table

    rows = q_ohlc_hourly(spark, SF_DIR_MID).collect()
    ev = load_table(
        spark, SF_DIR_MID, "events",
        columns=["event_id", "ts", "event_type", "value"],
    ).collect()
    assert sum(r.n for r in rows) == len(ev)
    for r in rows:
        assert r.low <= r.open <= r.high and r.low <= r.close <= r.high
    big = max(rows, key=lambda r: r.n)
    bucket = sorted(
        (
            e
            for e in ev
            if e.event_type == big.event_type
            and e.ts.strftime("%Y-%m-%d %H") == big.hour
        ),
        key=lambda e: (e.ts, e.event_id),
    )
    assert big.n == len(bucket)
    assert big.open == round(bucket[0].value, 2)
    assert big.close == round(bucket[-1].value, 2)
    assert big.high == round(max(e.value for e in bucket), 2)
    assert big.low == round(min(e.value for e in bucket), 2)


def test_keep_latest_k_fold_for_one_user(spark):
    """One user's kept set is exactly its 3 most recent events; users
    with fewer than 3 events keep them all."""
    from mapreduce_system_spark.queries.pipeline import _KEEP_K, q_keep_latest_k
    from mapreduce_system_spark.sources.tables import load_table

    rows = q_keep_latest_k(spark, SF_DIR_MID).collect()
    ev = load_table(
        spark, SF_DIR_MID, "events", columns=["event_id", "ts", "user_id", "value"]
    ).collect()
    by_user: dict[int, list] = {}
    for e in ev:
        by_user.setdefault(e.user_id, []).append(e)
    assert {r.user_id for r in rows} == set(by_user)
    for r in rows:
        evs = sorted(by_user[r.user_id], key=lambda e: (e.ts, e.event_id))
        kept = evs[-_KEEP_K:]
        assert r.n_kept == len(kept) == min(len(evs), _KEEP_K)
        assert abs(r.kept_value - round(sum(e.value for e in kept), 2)) < 1e-9
        import datetime as dt

        assert r.newest_kept_us == int(
            kept[-1].ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000
        )


def test_pca_loading_matches_the_numpy_recurrence(spark):
    """The two-round direction equals numpy running the IDENTICAL
    recurrence (v0 uniform, v ← normalize(Xᵀ(Xv))) to ~1e-5, is unit
    norm, and each round strictly increases the Rayleigh quotient
    toward λ₁ (the convergence property; how CLOSE two rounds get to
    the true eigenvector depends on the data's spectral gap, which
    the near-isotropic fixture keeps deliberately small)."""
    import numpy as np

    from mapreduce_system_spark.queries.similarity import q_pca_power_iteration
    from mapreduce_system_spark.sources.tables import load_table

    rows = sorted(q_pca_power_iteration(spark, SF_DIR_MID).collect(), key=lambda r: r.pos)
    v = np.array([r.loading for r in rows])
    assert len(v) == 64
    assert abs(np.linalg.norm(v) - 1.0) < 1e-4
    X = np.array(
        [
            r.embedding
            for r in load_table(
                spark, SF_DIR_MID, "embeddings", columns=["embedding"]
            ).collect()
        ],
        dtype=np.float64,
    )
    v0 = np.full(64, 1.0 / 8.0)
    v1 = X.T @ (X @ v0)
    v1 /= np.linalg.norm(v1)
    v2 = X.T @ (X @ v1)
    v2 /= np.linalg.norm(v2)
    assert np.max(np.abs(v - v2)) < 1e-5, np.max(np.abs(v - v2))

    def rayleigh(u):
        return float(u @ (X.T @ (X @ u)) / (u @ u))

    lam1 = np.linalg.eigvalsh(X.T @ X)[-1]
    assert rayleigh(v0) < rayleigh(v1) < rayleigh(v2) <= lam1 * (1 + 1e-12)
