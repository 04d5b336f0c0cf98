"""Round-14 registrations for the r15 window lead (the stage-in-N,
wire-in-N+1 pattern — the graphml2/fresh10 debut discipline): three
surfaces whose OPERATOR halves were staged in r13 with pytest-pinned
parity and drafted oracles (tests/test_streaming.py's sentinel-advanced
outer-join pin, tests/test_fusion.py's RRF + Matryoshka oracle drafts).
Registering them now, PAST the r14 window (which the 3 zero-evidence
debuts + the 47-query r10-stale cohort consume exactly, VERDICT r13
#1), hands them the r15 window's lead slots for their first driver
rows (VERDICT r13 #2/#3).

- ``stream_interval_join_outer`` — the attribution question's other
  half: clicks that NEVER converted. Batch twin of
  ``streaming.windows.interval_join(how='left_outer')``; the streaming
  form (both sides watermarked, unmatched-left emission gated on the
  watermark passing the join window) is asserted equal in
  tests/test_streaming.py with a sentinel-advanced watermark. Oracle:
  the identical time-bounded LEFT JOIN in SQL.
- ``txt_rrf_fusion`` — reciprocal-rank fusion (Cormack et al.,
  SIGIR'09) of the REGISTERED BM25 ranking (``txt_bm25_topk``,
  fresh7b — the callable itself is reused, not re-derived) with a
  term-coverage ranking over the same query set: the late-fusion step
  of a hybrid retrieval stack, list-sized end to end.
- ``emb_matryoshka_profile`` — the MRL truncation diagnostic over the
  embeddings table: per-label mean energy fraction captured by each
  {8,16,32,64}-dim prefix. One map-side pass computes every prefix's
  fold; the only shuffle is a (labels x prefixes)-sized aggregate.

Reference contrast: worker.go:104-165's one-shot map→reduce can build
one ranking or one windowed count, but cannot express an OUTER meet of
two time-bounded relations (unmatched rows require knowing a match
never arrives — the watermark's job), nor re-rank the sum of two
ranked relations, nor fold nested prefixes of a vector column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from mapreduce_system_spark.operators.fusion import rrf_fuse
from mapreduce_system_spark.operators.similarity import matryoshka_norm_profile

# constants only — NEVER a top-level import of another query module
# (its @register calls would fire here and re-seat its queries in the
# driver window; see _bm25shared's docstring).
from mapreduce_system_spark.queries._bm25shared import (
    BM25_B as _BM25_B,
    BM25_K1 as _BM25_K1,
    BM25_QUERIES as _BM25_QUERIES,
    BM25_TOPK as _BM25_TOPK,
    BM25_VALUES as _BM25_VALUES,
    bm25_chain,
)
from mapreduce_system_spark.registry import register
from mapreduce_system_spark.sources.tables import load_table
from mapreduce_system_spark.streaming import windows as SW

# ---------------------------------------------------------------------------
# stream_interval_join_outer — unmatched-click attribution (LEFT OUTER)
# ---------------------------------------------------------------------------

# The inner twin (stream_interval_join_attrib) profiles ATTRIBUTED
# clicks; this one keeps the clicks that never saw a purchase within the
# delay — n_unmatched is the outer join's whole point, so the aggregate
# pins it explicitly. One row per (click, matching purchase) plus one
# row per unmatched click, so n_rows = n_matched + n_unmatched.
_INTERVAL_OUTER_SQL = """
WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
     p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
     j AS (
       SELECT c.user_id, c.ts AS c_ts, p.ts AS p_ts, p.value
       FROM c LEFT JOIN p ON c.user_id = p.user_id
                         AND p.ts >= c.ts
                         AND p.ts <= c.ts + INTERVAL '30 minutes'
     )
SELECT user_id,
       count(*) AS n_rows,
       count(p_ts) AS n_matched,
       CAST(count(*) FILTER (WHERE p_ts IS NULL) AS BIGINT) AS n_unmatched,
       round(coalesce(sum(value), 0.0), 2) AS attributed_value
FROM j
GROUP BY user_id
ORDER BY user_id
"""


@register("stream_interval_join_outer", _INTERVAL_OUTER_SQL)
def q_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the LEFT OUTER stream-stream interval join
    (streaming.windows.interval_join(how='left_outer'), staged r13):
    every click keeps its purchases within 30 minutes, clicks with none
    emit once with NULL right columns. The streaming form — both sides
    watermarked, unmatched emission after the watermark passes the join
    window — is asserted equal in tests/test_streaming.py with a
    sentinel-advanced watermark. NULL-user clicks survive the outer
    join as their own group (equality never matches them, outer keeps
    them) — both engines group NULL together."""
    ev = load_table(spark, sf_dir, "events", columns=["ts", "user_id", "event_type", "value"])
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    joined = SW.interval_join(
        clicks, purchases, on="user_id", max_delay="30 minutes", how="left_outer"
    )
    return (
        joined.groupBy(F.col("l_user_id").alias("user_id"))
        .agg(
            F.count("*").alias("n_rows"),
            F.count("r_ts").alias("n_matched"),
            F.count_if(F.col("r_ts").isNull()).alias("n_unmatched"),
            # all-unmatched users have SUM(value) = NULL on both engines;
            # coalesce pins the 0.0 so the hash never compares NULL vs NULL
            # representations
            F.round(F.coalesce(F.sum("r_value"), F.lit(0.0)), 2).alias("attributed_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# txt_rrf_fusion — hybrid-retrieval late fusion (BM25 + term coverage)
# ---------------------------------------------------------------------------

_RRF_K0 = 60

# The BM25 CTE chain is fresh7b._BM25_SQL's, verbatim (same VALUES list,
# same unrounded-score ranking the driver already hash-verifies); the
# coverage system ranks by distinct query terms present. RRF sums
# 1/(k0 + rank) — each contribution one exact-integer division, a doc on
# at most two lists sums at most two doubles (order-invariant), rounded
# to 6 on both engines.
_RRF_SQL = rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\W+')) AS word
  FROM documents
),
tok AS (SELECT doc_id, word FROM toks WHERE word <> ''),
dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dlen FROM tok GROUP BY 1),
corpus AS (SELECT avg(dlen) AS avgdl, CAST(count(*) AS DOUBLE) AS n FROM dl),
tf AS (SELECT doc_id, word, CAST(count(*) AS DOUBLE) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT word, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
q(query, word) AS (SELECT * FROM (VALUES {_BM25_VALUES})),
scored AS (
  SELECT q.query, tf.doc_id,
         sum(
           ln(1 + (c.n - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * ({_BM25_K1} + 1))
             / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dlen / c.avgdl))
         ) AS score
  FROM q
  JOIN tf USING (word)
  JOIN df USING (word)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN corpus c
  GROUP BY 1, 2
),
bm25 AS (
  SELECT query, doc_id, rank FROM (
    SELECT query, doc_id,
           row_number() OVER (PARTITION BY query ORDER BY score DESC, doc_id) AS rank
    FROM scored
  ) WHERE rank <= {_BM25_TOPK}
),
post AS (SELECT DISTINCT doc_id, word FROM tok),
cov AS (
  SELECT q.query, post.doc_id, count(*) AS cov
  FROM q JOIN post USING (word)
  GROUP BY 1, 2
),
covr AS (
  SELECT query, doc_id, rank FROM (
    SELECT query, doc_id,
           row_number() OVER (PARTITION BY query ORDER BY cov DESC, doc_id) AS rank
    FROM cov
  ) WHERE rank <= {_BM25_TOPK}
),
allr AS (
  SELECT query, doc_id, rank FROM bm25
  UNION ALL
  SELECT query, doc_id, rank FROM covr
),
fused AS (
  SELECT query, doc_id, sum(1.0 / CAST({_RRF_K0} + rank AS DOUBLE)) AS rrf_raw
  FROM allr GROUP BY 1, 2
)
SELECT query, doc_id, round(rrf_raw, 6) AS rrf_score,
       row_number() OVER (PARTITION BY query ORDER BY rrf_raw DESC, doc_id) AS fused_rank
FROM fused
ORDER BY query, fused_rank
"""
# fused_rank orders by the UNROUNDED sum (rrf_raw, distinct name so the
# window can't resolve to the rounded output alias) exactly as rrf_fuse
# ranks before the query's display rounding: two near-equal-but-unequal
# sums that collide at 6 decimals must still rank identically on both
# engines.


@register("txt_rrf_fusion", _RRF_SQL)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF-fuse the BM25 top-10 (the registered txt_bm25_topk ranking,
    built by the shared _bm25shared.bm25_chain) with a term-coverage
    top-10 (distinct query terms present per doc, ties by doc_id) —
    operators/fusion.py's planned debut, exactly the algebra
    tests/test_fusion.py drafted.

    Scale: both inputs are per-query TOP-K lists (queries x 10 rows);
    fusion is one union + one hash aggregate + one per-query window over
    <= 2 x 10 candidates per query. The coverage system's corpus-sized
    work is ZERO beyond BM25's own postings pass (r18, guide §2.3/§2.4):
    coverage counts rows of BM25's ``tf`` table — which holds exactly
    one row per distinct (doc_id, word) — joined to the broadcast query
    terms, so the pre-r18 second tokenize pass + its distinct shuffle
    are gone while the counted (query, doc, word) triple set is
    identical (A/B bit-identical: bench_runs/r18_rrf_shared_tf_ab.json).
    """
    q = spark.createDataFrame(_BM25_QUERIES, ["query", "word"])
    ranked, tf = bm25_chain(spark, sf_dir)
    bm25 = ranked.select("query", "doc_id", "rank")
    # tf is one row per distinct (doc_id, word), so joining the distinct
    # (query, word) list counts each (query, doc, word) triple once —
    # coverage needs no dedup
    cov = (
        tf.join(F.broadcast(q), "word")
        .groupBy("query", "doc_id")
        .agg(F.count("*").alias("cov"))
    )
    win = W.partitionBy("query").orderBy(F.desc("cov"), "doc_id")
    covr = (
        cov.select("query", "doc_id", F.row_number().over(win).alias("rank"))
        .where(F.col("rank") <= _BM25_TOPK)
    )
    fused = rrf_fuse([bm25, covr], k0=_RRF_K0)
    return fused.select(
        "query",
        F.col("item").alias("doc_id"),
        F.round("rrf_score", 6).alias("rrf_score"),
        "fused_rank",
    ).orderBy("query", "fused_rank")


# ---------------------------------------------------------------------------
# emb_matryoshka_profile — MRL truncation diagnostic
# ---------------------------------------------------------------------------

_MRL_PREFIXES = [8, 16, 32, 64]

_MRL_PREFIX_SELECTS = " UNION ALL ".join(
    f"""SELECT label, {p} AS prefix_dim,
        list_sum(sq[1:{p}]) / tot AS frac FROM b"""
    for p in _MRL_PREFIXES
)

_MRL_SQL = f"""
WITH v AS (
  SELECT label,
         list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS sq
  FROM embeddings
  WHERE embedding IS NOT NULL
), b AS (
  SELECT label, sq, list_sum(sq) AS tot FROM v WHERE list_sum(sq) > 0
), fr AS ({_MRL_PREFIX_SELECTS})
SELECT label, prefix_dim, round(avg(frac), 6) AS mean_frac,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM fr
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("emb_matryoshka_profile", _MRL_SQL)
def q_matryoshka_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean norm fraction captured by the {8,16,32,64}-dim
    prefixes of the 64-dim embedding column
    (operators/similarity.py::matryoshka_norm_profile, staged r13) —
    tests/test_fusion.py's drafted oracle algebra verbatim. The
    oversized-prefix domain guard (ADVICE r13) raises rather than
    letting F.slice clamp; the fixture's vectors are exactly 64-dim so
    the 64 prefix is the full-norm fold (mean_frac = 1.0 row per
    label, a built-in sanity pin)."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["embedding", "label"])
    return matryoshka_norm_profile(emb, _MRL_PREFIXES).orderBy("label", "prefix_dim")
