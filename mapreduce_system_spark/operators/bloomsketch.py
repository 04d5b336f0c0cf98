"""Mergeable Bloom membership sketch — the sketch-table trio's third leg.

The repo's persisted-summary pattern answers "how many distinct"
(operators/hll.py) and "which quantile" (operators/histsketch.py)
without rescanning raw data; the remaining summary question a 100 TB
ingestion pipeline asks every batch is MEMBERSHIP: "which of today's
keys has the corpus definitely never seen?" An exact anti-join answers
it by shuffling the corpus fingerprint set against every batch; a Bloom
sketch answers it from a bounded summary with one-sided error (no false
negatives — a key reported NEW is certainly new, so dedup can admit it
without a second look; MAYBE-seen keys go to the exact path).

The exact form of this question is already registered:
``pipe_incremental_dedup`` (queries/pipeline.py) LEFT-joins the batch's
md5 fingerprints against the distinct corpus fingerprint set — correct,
but the history side is corpus-sized and must be rescanned (or at best
re-shuffled) every batch. The sketch replaces that recurring cost with
an m-bounded summary: build once per corpus partition, merge summaries
forever after, send only the maybe-seen residue to the exact join.
And this is NOT Spark's runtime bloom-join (``rel_bloom_join_pruned``, queries/relational.py), which
is an ephemeral optimizer artifact scoped to one join. This sketch is
DATA:
a persistable relation a pipeline materializes once per corpus
partition and re-aggregates forever after — and the merge is EXACT
(set union of set bit positions / bitwise OR of bitmaps: commutative,
associative, bit-stable under any partitioning), so unlike HLL's
order-dependent HIP estimate the membership verdicts are a PURE
FUNCTION of the key sets and the SQL oracle asserts them exactly.

Representation: SPARSE — the sketch relation is the distinct set of set
bit positions (``pos`` in [0, m)), at most min(k·n_keys, m) rows. The
dense m-bit bitmap a production store would pack is a trivial pivot of
this relation; the sparse form keeps every step relational (equi-joins
and distincts — Catalyst-optimizable, partition-parallel) and is what
the DuckDB oracle can mirror row for row. Hashing: the repo-wide
``md5_bucket32`` uniform over ``key || ':' || i`` for i in [0, k) —
k independent positions per key, deterministically re-derivable on any
engine (functions/hashing.py's single-spelling discipline).

Registered as ``dedup_bloom_prefilter`` (queries/dedup.py): which batch
documents are definitely-new against the corpus-history sketch, with
the false-positive audit against the exact answer shipped as data;
tests/test_bloomsketch.py carries the pure-Python reference, the
position-set oracle the registration interpolates, the merge law, and
a 30-corpus fuzz.

100 TB posture: the build is ONE map-side explode (k rows per key) +
one distinct on (pos) — shuffle bounded by min(k·n, m) which the m cap
makes a constant (m rows max, whatever the corpus size); the probe side
is one broadcast-or-shuffle equi-join of the batch's k·|B| positions
against the m-bounded sketch + one all-k-hit aggregate per key. The
false-positive RATE is the standard (1 - e^{-kn/m})^k — ``bloom_params``
is the executable sizing contract (the registered query derives m from
the measured history count), and callers without a count still size m
to their corpus; the audit column measures the real rate on the real
keys rather than trusting the formula.

Reference contrast: worker.go:104-165 can build the position set (word
count over hashes), but the probe must join a SECOND dataset against
the reduced output and aggregate per key — a second shuffle over
derived state the one-shot pipeline cannot express.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_system_spark.functions.hashing import md5_bucket32


def bloom_params(n_expected: int, fp_target: float) -> tuple[int, int]:
    """(m, k) sized for ``n_expected`` distinct keys at ``fp_target``
    false-positive rate — the standard optima

        m = ceil(-n * ln(p) / ln(2)^2)        (bits)
        k = max(1, round(-log2(p)))           (hashes; at the optimal
                                               m/n ratio, k = -log2 p
                                               independent of n)

    This makes the module's "callers size m" contract executable: the
    --bloom probe honestly measured the old fixed m=65536 saturating at
    10x history (fp 0.76, residue 0.89 — the sketch filtered nothing),
    which is exactly what the formula predicts when n grows past m's
    design point. ``n_expected = 0`` (empty history) returns m = 1 —
    any m works, nothing was inserted, every verdict is definitely-new.
    Note k is a pure function of ``fp_target``: a query can keep k as
    an authoring-time constant (its oracle's probe CTE is static) while
    deriving m from the measured history count at run time."""
    if n_expected < 0:
        raise ValueError(f"n_expected must be >= 0, got {n_expected}")
    if not (0.0 < fp_target < 1.0):
        raise ValueError(f"fp_target must be in (0, 1), got {fp_target}")
    k = max(1, round(-math.log2(fp_target)))
    m = max(1, math.ceil(-n_expected * math.log(fp_target) / (math.log(2) ** 2)))
    return m, k


def bloom_build(
    keys: DataFrame,
    key_col: str,
    m: int = 65536,
    k: int = 4,
) -> DataFrame:
    """The sparse Bloom sketch of a key column: the DISTINCT set of
    positions ``md5_bucket32(key || ':' || i) % m`` for i in [0, k),
    one row per set bit — at most min(k·n, m) rows. NULL keys are
    ignored (they cannot anchor membership). Merging sketches built
    with the same (m, k) is ``unionByName(...).distinct()`` — exact.
    """
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    s = keys.select(F.col(key_col).cast("string").alias("key")).where(
        F.col("key").isNotNull()
    )
    probes = F.array(*[F.lit(i) for i in range(k)])
    return (
        s.select(F.explode(probes).alias("i"), "key")
        .select(
            F.pmod(
                md5_bucket32(F.concat(F.col("key"), F.lit(":"), F.col("i"))),
                F.lit(m),
            ).alias("pos")
        )
        .distinct()
    )


def bloom_maybe_contains(
    batch: DataFrame,
    sketch: DataFrame,
    key_col: str,
    m: int = 65536,
    k: int = 4,
) -> DataFrame:
    """(key, maybe_seen) for each DISTINCT non-NULL batch key:
    ``maybe_seen`` is true iff ALL k positions of the key are set in
    ``sketch`` (a one-column ``pos`` relation from ``bloom_build`` with
    the SAME m and k — mismatched parameters produce garbage verdicts,
    which is why the planned query derives both sides from one (m, k)
    constant pair). No false negatives: maybe_seen=false proves the key
    was never inserted."""
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    s = (
        batch.select(F.col(key_col).cast("string").alias("key"))
        .where(F.col("key").isNotNull())
        .distinct()
    )
    probes = F.array(*[F.lit(i) for i in range(k)])
    pos = s.select(
        "key",
        F.explode(probes).alias("i"),
    ).select(
        "key",
        F.pmod(
            md5_bucket32(F.concat(F.col("key"), F.lit(":"), F.col("i"))),
            F.lit(m),
        ).alias("pos"),
    )
    hits = pos.join(sketch, "pos", "left_semi")
    return (
        pos.groupBy("key")
        .agg(F.count("*").alias("n_pos"))
        .join(
            hits.groupBy("key").agg(F.count("*").alias("n_hit")), "key", "left"
        )
        .select(
            "key",
            (F.coalesce(F.col("n_hit"), F.lit(0)) == F.col("n_pos")).alias(
                "maybe_seen"
            ),
        )
    )
