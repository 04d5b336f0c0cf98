"""Custom aggregates (UDAF surface, SURVEY.md §2b).

The reference's ``reducef`` is a UDAF with the full-value-list contract
(worker.go:161-165) — honored by ``operators.mapreduce.per_key_fold`` /
``map_reduce``. Here is the Arrow-batched custom-aggregate path:
``pandas_udf`` GROUPED_AGG. Note its scaling contract honestly: Spark's
AggregateInPandas ships **each whole group to one executor task** (there
is no partial/merge phase for GROUPED_AGG), so memory per task is O(max
group size). That is fine for bounded groups (the registered query groups
by a low-cardinality dimension); an *unbounded* group needs the algebraic
rewrite instead — emit sum(value*weight) and sum(weight) with built-in
aggregates (which DO combine map-side) and divide the two columns.

UDFs are built lazily (``pandas_udf`` requires an active SparkSession, so
decorating at import time would break imports in session-less processes).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F


def weighted_mean():
    """Σ(value·weight)/Σ(weight) GROUPED_AGG UDAF (call per session).

    A group whose weights sum to zero (all zero, all NULL, or canceling
    ±w) yields NULL — the same answer the SQL identity
    ``sum(v*w)/sum(w)`` gives under non-ANSI division. Returning 0.0
    there would fabricate a mean indistinguishable from a true zero
    average and diverge from the registered oracle.

    Both sums use ``math.fsum`` (correctly rounded, therefore ROW-ORDER
    INDEPENDENT): a float-truthiness gate over a naive sum made the
    canceling-±w contract depend on shuffle order (e.g. weights
    {1e16, −1e16, 1, −1} absorb differently per order and could return a
    fabricated huge mean instead of NULL — r10 review). With fsum the
    exact-cancellation gate is deterministic on this side; an engine
    summing sequentially (DuckDB) can still miss cancellation in
    adversarial magnitude/order combinations, which is a property of
    float SQL itself, not of this operator. NULL semantics match SQL:
    the numerator skips rows where either input is NULL, the
    denominator skips only NULL weights."""

    return F.pandas_udf(_weighted_mean, "double")


def _weighted_mean(value: pd.Series, weight: pd.Series) -> float:
    import math

    den = math.fsum(weight.dropna())
    if den == 0.0:
        return None
    num = math.fsum((value * weight).dropna())
    return num / den
