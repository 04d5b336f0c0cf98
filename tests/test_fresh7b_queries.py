"""Round-7 fresh7b queries: semantic pins beyond the DuckDB oracle —
calendar completeness, BM25 monotonicity/idf spread, split determinism
and proportions, surprisal scale, and quantization error bounds."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tests.conftest import SF_DIR_MID


def test_gap_fill_emits_complete_calendar(spark):
    """Every (event_type, day) cell of the spine must appear exactly once,
    days are contiguous min..max, and non-zero cells equal the plain
    aggregate (the oracle pins values; this pins the spine shape)."""
    from mapreduce_system_spark.queries.temporal import q_gap_fill_daily

    out = q_gap_fill_daily(spark, SF_DIR_MID)
    rows = out.collect()
    types = {r.event_type for r in rows}
    days = sorted({r.day for r in rows})
    assert len(rows) == len(types) * len(days), "spine is not a full cross product"
    # contiguous daily calendar between the corpus bounds
    import datetime as dt

    d0 = dt.date.fromisoformat(days[0])
    d1 = dt.date.fromisoformat(days[-1])
    assert len(days) == (d1 - d0).days + 1
    # zeros exist only as explicit gap fills; totals match the raw count
    ev_total = (
        spark.read.parquet(f"{SF_DIR_MID}/events.parquet").count()
    )
    assert sum(r.n_events for r in rows) == ev_total


def test_bm25_rare_term_dominates_and_ranks_are_dense(spark):
    """The 'dup stream' query must rank dup-bearing documents above
    stream-only ones (the planted rare term has far higher idf), and
    each query's ranks must be exactly 1..k with scores non-increasing."""
    from mapreduce_system_spark.queries.text import _BM25_TOPK, q_bm25_topk

    rows = q_bm25_topk(spark, SF_DIR_MID).collect()
    by_query: dict[str, list] = {}
    for r in rows:
        by_query.setdefault(r.query, []).append(r)
    assert set(by_query) == {"fast table scan", "hash join merge", "dup stream"}
    for q, rs in by_query.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, _BM25_TOPK + 1))
        scores = [r.score for r in rs]
        assert all(a >= b for a, b in zip(scores, scores[1:])), q

    # every doc containing the rare term 'dup' outscores every doc that
    # only matches 'stream' — idf(dup) >> idf(stream) by construction
    docs = spark.read.parquet(f"{SF_DIR_MID}/documents.parquet")
    dup_docs = {
        r.doc_id
        for r in docs.where(F.lower("text").rlike(r"\bdup\b")).select("doc_id").collect()
    }
    dup_scores = [r.score for r in by_query["dup stream"] if r.doc_id in dup_docs]
    other_scores = [r.score for r in by_query["dup stream"] if r.doc_id not in dup_docs]
    assert dup_scores, "no dup-bearing doc reached the top-k at all"
    if other_scores:
        assert min(dup_scores) > max(other_scores)


def test_hash_split_is_deterministic_and_proportioned(spark):
    """Same input → identical assignment (pure function of doc_id); the
    bucket thresholds put roughly 80/10/10 of docs in train/val/test."""
    from mapreduce_system_spark.queries.pipeline import q_hash_split

    a = {(r.split, r.lang): (r.n_docs, r.chars) for r in q_hash_split(spark, SF_DIR_MID).collect()}
    b = {(r.split, r.lang): (r.n_docs, r.chars) for r in q_hash_split(spark, SF_DIR_MID).collect()}
    assert a == b
    totals: dict[str, int] = {}
    for (split, _), (n, _c) in a.items():
        totals[split] = totals.get(split, 0) + n
    n_all = sum(totals.values())
    assert n_all == 500
    # md5 buckets are uniform; with n=500 allow generous binomial slack
    assert 0.70 <= totals["train"] / n_all <= 0.90
    assert 0.04 <= totals["val"] / n_all <= 0.16
    assert 0.04 <= totals["test"] / n_all <= 0.16


def test_unigram_surprisal_matches_entropy_scale(spark):
    """Every doc's surprisal lies between the corpus min/max token
    surprisal, and the token-weighted mean surprisal equals the corpus
    unigram entropy (a distribution identity, independent of DuckDB)."""
    from mapreduce_system_spark.queries.text import q_unigram_surprisal

    rows = q_unigram_surprisal(spark, SF_DIR_MID).collect()
    assert len(rows) == 500
    docs = spark.read.parquet(f"{SF_DIR_MID}/documents.parquet")
    tok = docs.select(
        F.explode(F.filter(F.split(F.lower("text"), r"\W+"), lambda t: t != F.lit(""))).alias("w")
    )
    counts = {r.w: r.c for r in tok.groupBy("w").agg(F.count("*").alias("c")).collect()}
    n = sum(counts.values())
    surps = {w: -math.log(c / n) for w, c in counts.items()}
    lo, hi = min(surps.values()), max(surps.values())
    for r in rows:
        assert lo - 1e-4 <= r.surprisal <= hi + 1e-4
    entropy = sum((c / n) * -math.log(c / n) for c in counts.values())
    weighted = sum(r.surprisal * r.n_tokens for r in rows) / sum(r.n_tokens for r in rows)
    assert abs(weighted - entropy) < 1e-3


def test_int8_quantization_error_is_bounded_by_step(spark):
    """Scalar quantization's per-component error is at most step/2 =
    (mx-mn)/510, so each label's MSE must be below the worst-case
    mean-of-squared-half-steps — and strictly positive (the embeddings
    are not already 8-bit)."""
    from mapreduce_system_spark.queries.similarity import q_int8_quantize_error

    rows = q_int8_quantize_error(spark, SF_DIR_MID).collect()
    assert [r.label for r in rows] == sorted({r.label for r in rows})
    emb = spark.read.parquet(f"{SF_DIR_MID}/embeddings.parquet")
    stats = (
        emb.select(F.posexplode("embedding").alias("pos", "v"))
        .groupBy("pos")
        .agg((F.max("v") - F.min("v")).alias("range"))
        .collect()
    )
    worst_mse_ppm = sum((float(s.range) / 510.0) ** 2 for s in stats) / len(stats) * 1e6
    for r in rows:
        assert 0 < r.mse_ppm <= worst_mse_ppm + 1e-6, (r.label, r.mse_ppm, worst_mse_ppm)


def test_int8_quantization_constant_dimension_passes_through(spark, tmp_path):
    """A dimension with mx == mn must pass through unquantized (zero
    error, no division by zero) on the Spark side — the oracle has the
    matching CASE branch, but the fixture never exercises it, so pin it
    on a synthetic table: dim0 constant, dim1 varying."""
    from pyspark.sql import types as T
    import pyspark.sql.functions as F
    from mapreduce_system_spark.queries.similarity import q_int8_quantize_error

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    rows = [(i, [0.5] + [float(i % 7) / 7.0] * 63, i % 2) for i in range(40)]
    spark.createDataFrame(rows, schema).write.parquet(str(tmp_path / "embeddings.parquet"))
    out = q_int8_quantize_error(spark, str(tmp_path)).collect()
    assert {r.label for r in out} == {0, 1}
    for r in out:
        assert r.n_vecs == 20
        # finite, small, and non-negative: the constant dim contributed 0
        assert 0 <= r.mse_ppm < 1e6
        assert r.mse_ppm == r.mse_ppm  # not NaN


def test_weighted_sample_prefers_heavy_docs_and_is_topk_shaped(spark):
    """A-ES with w = n_chars must (a) return exactly k rows with keys
    descending, (b) skew the sample toward long documents (mean sample
    n_chars above the corpus mean), and (c) run as TakeOrderedAndProject
    — per-partition top-k, no global sort exchange."""
    from mapreduce_system_spark.plans.checks import formatted_plan
    from mapreduce_system_spark.queries.pipeline import _K, q_weighted_sample

    df = q_weighted_sample(spark, SF_DIR_MID)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    rows = df.collect()
    assert len(rows) == _K
    keys = [r.sample_key for r in rows]
    assert all(a >= b for a, b in zip(keys, keys[1:]))
    assert all(0 < k <= 1 for k in keys)
    corpus_mean = (
        spark.read.parquet(f"{SF_DIR_MID}/documents.parquet")
        .agg(F.avg("n_chars"))
        .first()[0]
    )
    sample_mean = sum(r.n_chars for r in rows) / len(rows)
    assert sample_mean > corpus_mean


def test_shingle_novelty_separates_dup_family_from_unique_text(spark):
    """Novelty must be a share in [0, 1], cover every >=3-token doc, and
    the planted near-dup family (docs whose text contains the 'dup'
    marker) must score well below the corpus mean — they share almost
    all shingles with their clones by construction."""
    from mapreduce_system_spark.queries.text import q_shingle_novelty

    rows = q_shingle_novelty(spark, SF_DIR_MID).collect()
    assert len(rows) == 500
    assert all(0.0 <= r.novelty <= 1.0 and r.n_shingles > 0 for r in rows)
    docs = spark.read.parquet(f"{SF_DIR_MID}/documents.parquet")
    dup_ids = {
        r.doc_id
        for r in docs.where(F.lower("text").rlike(r"\bdup\b")).select("doc_id").collect()
    }
    assert dup_ids, "fixture lost its planted dup family"
    by_id = {r.doc_id: r.novelty for r in rows}
    dup_mean = sum(by_id[i] for i in dup_ids if i in by_id) / len(dup_ids)
    all_mean = sum(by_id.values()) / len(by_id)
    assert dup_mean < all_mean * 0.8, (dup_mean, all_mean)


def test_moments_profile_is_partial_aggregable_and_sane(spark):
    """Moment aggregates must run as a two-phase hash aggregate (no
    window, no sort) and satisfy the Cauchy-Schwarz identity
    |corr| <= 1 with covar = corr * sd_x * sd_y up to rounding."""
    from mapreduce_system_spark.plans.checks import formatted_plan
    from mapreduce_system_spark.queries.aggregates import q_moments_profile

    df = q_moments_profile(spark, SF_DIR_MID)
    plan = formatted_plan(df)
    assert "HashAggregate" in plan and "Window" not in plan, plan
    rows = df.collect()
    assert len(rows) == 3
    for r in rows:
        assert r.n > 0 and r.sd_price > 0 and r.var_disc > 0
        assert abs(r.corr_qty_price) <= 1.0
