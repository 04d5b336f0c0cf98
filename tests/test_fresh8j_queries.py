"""Round-8 fresh8j queries: semantic pins beyond the DuckDB oracle —
cohort-triangle invariants, coverage-curve monotonicity vs a Python
recount, and degree-histogram accounting."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from tests.conftest import SF_DIR_MID


def test_cohort_retention_triangle_invariants(spark):
    """Offset-0 retention is exactly 1 (everyone is active in their own
    cohort week); cohort sizes sum to the distinct-user count;
    retention never exceeds 1 and n_active ≤ cohort_size."""
    from mapreduce_system_spark.queries.temporal import q_cohort_retention

    rows = q_cohort_retention(spark, SF_DIR_MID).collect()
    assert rows, "empty retention triangle"
    n_users = (
        spark.read.parquet(f"{SF_DIR_MID}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    sizes = {r.cohort_week: r.cohort_size for r in rows}
    assert sum(sizes.values()) == n_users
    for r in rows:
        assert 0 < r.n_active <= r.cohort_size
        assert 0.0 < r.retention <= 1.0
        if r.week_offset == 0:
            assert r.retention == 1.0  # first touch is inside the cohort week
        assert r.week_offset >= 0


def test_vocab_coverage_matches_python_and_is_monotone(spark):
    """Coverage at each k equals a Python recount with the same
    tokenizer and tie-break; the curve is non-decreasing in k and
    total_tokens matches the corpus token count."""
    import re

    from mapreduce_system_spark.queries.text import q_vocab_coverage

    rows = sorted(q_vocab_coverage(spark, SF_DIR_MID).collect(), key=lambda r: r.k)
    texts = [
        r.text
        for r in spark.read.parquet(f"{SF_DIR_MID}/documents.parquet")
        .select("text")
        .collect()
    ]
    c = Counter(w for t in texts for w in re.split(r"\W+", t.lower()) if w)
    total = sum(c.values())
    ranked = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))
    for r in rows:
        covered = sum(cnt for _, cnt in ranked[: r.k])
        assert r.total_tokens == total
        assert r.n_vocab == len(c)
        assert r.covered_tokens == covered
        assert abs(r.coverage - covered / total) < 1e-6
    covs = [r.coverage for r in rows]
    assert covs == sorted(covs)
    assert rows[-1].coverage <= 1.0


def test_degree_distribution_accounts_for_every_node(spark):
    """Bin node counts sum to the graph's node count; per-bin
    [min, max] degrees sit inside [2^bin, 2^(bin+1)); bins ascend."""
    from mapreduce_system_spark.queries.graph import q_degree_distribution

    rows = q_degree_distribution(spark, SF_DIR_MID).collect()
    li = (
        spark.read.parquet(f"{SF_DIR_MID}/lineitem.parquet")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    pr = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .distinct()
    )
    n_nodes = pr.select(F.col("u").alias("n")).union(
        pr.select(F.col("v").alias("n"))
    ).distinct().count()
    assert sum(r.n_nodes for r in rows) == n_nodes
    bins = [r.degree_bin for r in rows]
    assert bins == sorted(bins)
    for r in rows:
        assert 2**r.degree_bin <= r.min_degree <= r.max_degree < 2 ** (r.degree_bin + 1)
