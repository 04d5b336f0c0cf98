"""Round-8 fresh8i queries: semantic pins beyond the DuckDB oracle —
k-fold group integrity, TTR recomputed in Python for one doc, centroid
cosine symmetry/bounds, and the moving-window fold for one user."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from tests.conftest import SF_DIR_MID


def test_group_kfold_partitions_sources_without_leakage(spark):
    """Folds partition the documents exactly; each source's fold is the
    md5 value recomputed in Python; no source spans two folds."""
    from mapreduce_system_spark.queries.pipeline import _KFOLD_K, q_group_kfold

    rows = q_group_kfold(spark, SF_DIR_MID).collect()
    docs = (
        spark.read.parquet(f"{SF_DIR_MID}/documents.parquet")
        .select("source", "n_chars")
        .collect()
    )
    exp: dict[int, dict] = {}
    for d in docs:
        fold = int(hashlib.md5(d.source.encode()).hexdigest()[:8], 16) % _KFOLD_K
        e = exp.setdefault(fold, {"sources": set(), "docs": 0, "chars": 0})
        e["sources"].add(d.source)
        e["docs"] += 1
        e["chars"] += d.n_chars
    assert {r.fold for r in rows} == set(exp)
    for r in rows:
        e = exp[r.fold]
        assert (r.n_sources, r.n_docs, r.n_chars) == (
            len(e["sources"]),
            e["docs"],
            e["chars"],
        )
    # leakage-free by construction: fold sets of sources are disjoint
    all_sources = [s for e in exp.values() for s in e["sources"]]
    assert len(all_sources) == len(set(all_sources))


def test_ttr_matches_python_for_one_doc(spark):
    """TTR and hapax share for one document equal a Python recount with
    the same tokenizer; bounds 0 < ttr ≤ 1 hold corpus-wide."""
    import re

    from mapreduce_system_spark.queries.text import q_ttr_lexical_diversity

    rows = q_ttr_lexical_diversity(spark, SF_DIR_MID).collect()
    assert len(rows) == 500
    doc = (
        spark.read.parquet(f"{SF_DIR_MID}/documents.parquet")
        .where(F.col("doc_id") == rows[0].doc_id)
        .collect()[0]
    )
    toks = [w for w in re.split(r"\W+", doc.text.lower()) if w]
    from collections import Counter

    c = Counter(toks)
    got = rows[0]
    assert got.n_tokens == len(toks)
    assert got.n_types == len(c)
    assert abs(got.ttr - len(c) / len(toks)) < 1e-6
    hapax = sum(1 for v in c.values() if v == 1)
    assert abs(got.hapax_share - hapax / len(c)) < 1e-6
    for r in rows:
        assert 0 < r.ttr <= 1 and 0 <= r.hapax_share <= 1


def test_centroid_matrix_shape_and_numpy_parity(spark):
    """45 unordered label pairs; cosine of one pair equals numpy on the
    per-label mean vectors; all cosines lie in [-1, 1]."""
    import numpy as np

    from mapreduce_system_spark.queries.similarity import q_centroid_distance_matrix

    rows = q_centroid_distance_matrix(spark, SF_DIR_MID).collect()
    assert len(rows) == 45  # C(10, 2)
    assert all(-1.0 <= r.cosine <= 1.0 for r in rows)
    assert all(r.label_a < r.label_b for r in rows)
    emb = spark.read.parquet(f"{SF_DIR_MID}/embeddings.parquet").collect()
    by_label: dict[int, list] = {}
    for e in emb:
        by_label.setdefault(e.label, []).append(np.array(e.embedding, dtype=np.float64))
    c0 = np.mean(by_label[rows[0].label_a], axis=0)
    c1 = np.mean(by_label[rows[0].label_b], axis=0)
    cos = float(c0 @ c1 / (np.linalg.norm(c0) * np.linalg.norm(c1)))
    assert abs(rows[0].cosine - cos) < 1e-5


def test_moving_window_stats_fold_for_one_user(spark):
    """The trailing 7-row mean/min/max for one user equal a Python fold
    over its time-ordered events; n_window ramps 1..7 then stays 7."""
    from mapreduce_system_spark.queries.temporal import q_moving_window_stats

    out = q_moving_window_stats(spark, SF_DIR_MID)
    uid = out.first().user_id
    rows = [r for r in out.collect() if r.user_id == uid]
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
    assert [r.event_id for r in rows] == [e.event_id for e in ev]
    vals = [e.value for e in ev]
    for i, r in enumerate(rows):
        frame = vals[max(0, i - 6) : i + 1]
        assert r.n_window == len(frame) == min(i + 1, 7)
        assert abs(r.mov_avg - sum(frame) / len(frame)) < 1e-3
        assert abs(r.mov_min - min(frame)) < 1e-2 + 1e-9
        assert abs(r.mov_max - max(frame)) < 1e-2 + 1e-9
