"""Deterministic weighted sampling without replacement (A-ES / A-ExpJ
family, Efraimidis & Spirakis 2006) — the weighted complement of
``pipe_hash_sample``.

A training-data pipeline's quota mixer and hash sampler
(queries/pipeline.py) both select UNIFORMLY within a stratum.
The remaining selection primitive is WEIGHTED: "draw k documents where
a document's chance of inclusion is proportional to its quality score /
token count / upweight factor" — the op behind importance-weighted
corpus mixing and quality-tilted eval-set draws. The textbook
reservoir answer (Efraimidis-Spirakis: key_i = u_i^(1/w_i), keep the k
largest) is sequential; the DISTRIBUTED answer is the same arithmetic
with two changes that make it cluster- and oracle-correct:

- ``u_i`` is not rand() but the repo's deterministic uniform
  (functions/hashing.py ``md5_bucket32`` of the stable id, +1, /2^32
  → u in (0, 1]): the sample becomes a PURE FUNCTION of the data —
  identical across retries, partitionings, and engines, which is the
  same reproducibility-over-convenience trade every ``pipe_*`` split
  and sample in this repo already makes (and what lets a DuckDB oracle
  assert the selected set row-for-row instead of statistically).
- the "k largest keys" is not a reservoir scan but ORDER BY key DESC
  LIMIT k, which Spark executes as TakeOrdered — per-partition
  partial top-k then a k-sized merge on the driver side of the
  exchange. No full sort, no corpus-sized shuffle: the only data that
  crosses the wire is k rows per input partition.

Ranking is in log space — ``score = ln(u) / w`` (monotone in
u^(1/w) for w > 0 since both sides are order-isomorphic under exp) —
because u^(1/w) underflows double precision for tiny u and large w,
and log space is where A-ExpJ does its arithmetic anyway. Ties (two
ids with identical md5 prefixes AND identical weights) break by id so
the selected SET is total-order stable.

Inclusion law the fuzz pins: P(i in sample) under random u equals the
sequential E-S reservoir's exactly (same key construction); with
deterministic u the law becomes "the sample is the top-k of a fixed
key assignment" — weight-monotone (raising w_i can only move i INTO
the sample, never out: d(ln u / w)/dw = -ln(u)/w² >= 0) and
stable under any repartition.

Staged r16 for an r17/r18 debut (``pipe_weighted_sample`` planned:
token-count-weighted draw over documents with per-source inclusion
audit); tests/test_sampling.py carries the pure-Python reference, the
DuckDB oracle draft the registration will interpolate, the
weight-monotonicity law, and the partitioning-invariance check.
Probe: ``tools/scale_probe.py --wsample`` (TakeOrdered wall vs corpus
growth at 1x/10x; boundary-gap census for cross-engine ulp safety).

100 TB posture: one narrow projection (id, weight → score) with zero
exchanges before the TakeOrdered, which ships k rows per partition;
driver holds k rows, never the corpus. Weight skew is irrelevant —
there is no groupBy key to salt.

Reference contrast: worker.go:16-21,153's sort-by-key can rank a
partition, but global top-k with per-partition pre-truncation is a
combiner the one-shot sort lacks — its reduce would sort ALL n keys
to emit k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_system_spark.functions.hashing import md5_bucket32

# (md5_bucket32 + 1) / (2^32) — u in (0, 1]; ln(u) <= 0 and finite at
# both ends (u=2^-32 → ln ≈ -22.18, u=1 → ln = 0).
_U_DENOM = float(2**32)


def weighted_sample_scores(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    salt: str = "",
) -> DataFrame:
    """(id, weight, score) for every row with weight > 0: the
    Efraimidis-Spirakis key in log space, ``score = ln(u) / weight``
    with u the deterministic (0, 1] uniform of ``id || salt``. Rows
    with NULL id, NULL weight, or weight <= 0 are excluded (E-S keys
    are undefined there — a zero-weight item must never be drawn).
    ``salt`` re-keys the whole draw (a new epoch's sample) without
    touching the data."""
    key = F.concat(F.col(id_col).cast("string"), F.lit(salt))
    u = (md5_bucket32(key) + F.lit(1).cast("long")) / F.lit(_U_DENOM)
    return (
        df.where(
            F.col(id_col).isNotNull()
            & F.col(weight_col).isNotNull()
            & (F.col(weight_col) > 0)
        )
        .select(
            F.col(id_col).alias("id"),
            F.col(weight_col).cast("double").alias("weight"),
            (F.log(u) / F.col(weight_col).cast("double")).alias("score"),
        )
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    salt: str = "",
) -> DataFrame:
    """The k rows with the LARGEST E-S keys (score closest to 0),
    ties broken by id ascending so the selected set is a total-order
    pure function of (data, salt, k). Executes as TakeOrdered: partial
    per-partition top-k, k rows per partition over the wire, no full
    sort."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    return (
        weighted_sample_scores(df, id_col, weight_col, salt=salt)
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(k)
    )
