"""Re-aggregatable fixed-range histogram sketches (mergeable quantiles).

``approx_percentile`` (queries/aggregates.py ``agg_approx_quantiles``) is
ONE-SHOT like ``approx_count_distinct``: it answers "which quantile now"
but exposes no state a pipeline can persist and re-aggregate. The
sketch-table pattern the HLL rollup (operators/hll.py) establishes for
distinct counts applies to QUANTILES too: materialize one bounded
summary per partition-of-time once, answer any rollup by MERGING the
affected summaries — never rescanning raw data. Where DataSketches HLL
is order-dependent (the measured HIP contract that forced hll.py into
error bands), a fixed-range EQUI-WIDTH histogram is EXACTLY mergeable:
bin counts are integers, merge is element-wise addition — commutative,
associative, bit-stable under any partitioning — so the quantile
estimate read from a merged sketch is a PURE FUNCTION of the value
multiset and the SQL oracle can assert it exactly (no bands needed).
The trade is a fixed domain [lo, hi] declared up front and error
bounded by one bin width — the standard telemetry-histogram contract
(Prometheus/HDR-style), and exactly the error bound the output's
``within_bin`` boolean asserts against the exact quantile.

Staged r14 for an r15 registration (``agg_histogram_sketch_rollup``
planned over the events value column) — the stage-in-N, wire-in-N+1
cadence; tests/test_histsketch.py carries the drafted DuckDB oracle.

100 TB posture: ONE corpus-sized aggregation (grp, bin) → counts is the
sketch build; the per-group read, the TOTAL merge (element-wise sum
over the groups x bins relation), and the estimate windows are all
(groups x bins)-sized. The EXACT anchors are the verification rider
(the hll.py exact-count discipline): they aggregate (grp, value) counts
— collapsing duplicates, one shuffle — and run a per-group cumulative
window over DISTINCT values, which for continuous measures is the
verification-side cost a production pipeline would simply drop along
with the anchor columns. Nothing rides the driver.

Reference contrast: worker.go:161-165's reduce receives the full value
list per key — it can compute exact quantiles for one partitioning but
has no mergeable partial state, so every new rollup question is a full
rescan; the sketch table answers it from groups x bins integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from mapreduce_system_spark.caches import tracked_cache
from mapreduce_system_spark.operators.hll import TOTAL_SENTINEL


def histogram_sketch_rollup(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 64,
    quantile: float = 0.5,
    round_to: int = 6,
) -> DataFrame:
    """(grp, n, est_q, exact_q, within_bin) per group PLUS one
    ``'TOTAL'`` row whose estimate comes ONLY from merging the
    per-group bin counts (the raw values are never rescanned for the
    total's estimate; both EXACT anchors derive from one (grp, value)
    count relation — the hll.py exact-anchor discipline).

    Algebra, spelled for the SQL oracle (every step exact integers or a
    single double op, identically parenthesized cross-engine):

    - width ``w = (hi - lo) / bins`` (one division);
    - bin ``b = clamp(floor((v - lo) / w), 0, bins - 1)`` — values
      outside [lo, hi] clamp to the edge bins (the fixed-range
      histogram contract; ``v = hi`` lands in the top bin);
    - per (grp, b): integer count — THE mergeable state;
    - quantile read at ``q``: target ``t = q * n`` (one multiply); the
      estimate bin ``B`` is the first with cumulative count ``>= t``
      (integer cumulative vs one double); linear interpolation inside:
      ``est = lo + w * (B + (t - cum_before) / cnt_B)``;
    - ``exact_q``: the TYPE-1 (inverse-ECDF) quantile — the smallest
      value whose cumulative count reaches ``max(1, ceil(t))``. An
      actual data value, which is what makes ``within_bin`` an
      INVARIANT: an integer ``cum_B >= t`` is ``>= ceil(t)`` and
      ``cum_before < t <= ceil(t)``, so the rank-``ceil(t)`` value
      lies in bin B — est and exact share one width-``w`` bin. (A
      continuous/interpolated anchor would NOT bound: interpolation
      crosses value gaps wider than any bin.)
    - ``within_bin = |est - exact| <= w``, asserted as a boolean
      literal by the oracle. Guaranteed only when values lie in
      [lo, hi] — clamped outliers keep their true value in ``exact``
      but collapse to an edge bin in ``est`` (choose the domain to
      cover the data, or read ``within_bin=false`` as the clamp
      telling on itself).

    NULL values are ignored (the aggregate convention); a NULL GROUP is
    a group; a group equal to the ``'TOTAL'`` sentinel raises at
    execution (hll.py's enforced caller contract). Groups are returned
    as strings (sentinel-typed), doubles rounded to ``round_to``.
    """
    if not lo < hi:
        raise ValueError(f"need lo < hi, got [{lo}, {hi}]")
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    if not 0.0 <= quantile <= 1.0:
        raise ValueError(f"quantile must be in [0, 1], got {quantile}")
    w = (hi - lo) / bins
    base = df.select(
        F.col(group_col).cast("string").alias("grp"),
        F.col(value_col).cast("double").alias("v"),
    ).where(F.col("v").isNotNull())
    # sentinel collision guard rides the value relation's projection —
    # evaluated per row but branch-only (hll.py:87 puts it on the
    # group-sized aggregate; here the FIRST aggregation is already
    # (grp, v)-keyed, so the guard goes before the shared scan instead)
    grp_checked = F.when(
        F.coalesce(F.col("grp") != F.lit(TOTAL_SENTINEL), F.lit(True)),
        F.col("grp"),
    ).otherwise(
        F.raise_error(
            F.lit(
                f"histogram_sketch_rollup: group value collides with the "
                f"{TOTAL_SENTINEL!r} rollup sentinel — rename or prefix "
                f"the group column"
            )
        )
    )
    base = base.select(grp_checked.alias("grp"), "v")
    # ONE corpus-sized aggregation: (grp, value) counts. Cached — the
    # sketch build, both exact anchors, and the n totals all fan out of
    # it (duplicate-collapsed, so it is at most corpus-sized and
    # usually far smaller).
    vc = tracked_cache(
        base.groupBy("grp", "v").agg(F.count("*").alias("c"))
    )
    bin_of = F.least(
        F.lit(bins - 1),
        F.greatest(
            F.lit(0), F.floor((F.col("v") - F.lit(lo)) / F.lit(w)).cast("int")
        ),
    )
    # THE sketch table (groups x bins), cached: per-group read + TOTAL
    # merge both consume it
    counts = tracked_cache(
        vc.select("grp", bin_of.alias("b"), "c")
        .groupBy("grp", "b")
        .agg(F.sum("c").alias("cnt"))
    )
    merged = counts.groupBy("b").agg(F.sum("cnt").alias("cnt")).select(
        F.lit(TOTAL_SENTINEL).alias("grp"), "b", "cnt"
    )
    allc = counts.unionByName(merged)

    # estimate: cumulative over ascending bins within each grp — the
    # window relation is bounded at `bins` rows per group
    bwin = W.partitionBy("grp").orderBy("b")
    cum = allc.select(
        "grp",
        "b",
        "cnt",
        (F.sum("cnt").over(bwin) - F.col("cnt")).alias("cum_before"),
        F.sum("cnt").over(W.partitionBy("grp")).alias("n"),
    )
    t = F.col("n").cast("double") * F.lit(quantile)
    est_rows = (
        cum.where((F.col("cum_before") + F.col("cnt")).cast("double") >= t)
        .withColumn("rn", F.row_number().over(bwin))
        .where(F.col("rn") == 1)
        .select(
            "grp",
            "n",
            (
                F.lit(lo)
                + F.lit(w)
                * (
                    F.col("b").cast("double")
                    + (t - F.col("cum_before").cast("double"))
                    / F.col("cnt").cast("double")
                )
            ).alias("est_raw"),
        )
    )
    # exact type-1 anchor from the SAME value-count relation: TOTAL
    # value counts merge the per-group ones (no second raw scan)
    tot_vc = vc.groupBy("v").agg(F.sum("c").alias("c")).select(
        F.lit(TOTAL_SENTINEL).alias("grp"), "v", "c"
    )
    allvc = vc.unionByName(tot_vc)
    vwin = W.partitionBy("grp").orderBy("v")
    vcum = allvc.select(
        "grp",
        "v",
        F.sum("c").over(vwin).alias("cum"),
        F.sum("c").over(W.partitionBy("grp")).alias("nn"),
    )
    rank = F.greatest(
        F.lit(1),
        F.ceil(F.col("nn").cast("double") * F.lit(quantile)).cast("long"),
    )
    exact = (
        vcum.where(F.col("cum") >= rank)
        .withColumn("rn", F.row_number().over(vwin))
        .where(F.col("rn") == 1)
        .select("grp", F.col("v").alias("exact_raw"))
    )
    # null-safe join: a NULL group is a real group on BOTH sides (the
    # boilerplate family's null-safe source-join lesson) — plain
    # equality would silently drop the NULL-group row here
    exact = exact.select(F.col("grp").alias("xgrp"), "exact_raw")
    out = est_rows.join(exact, est_rows.grp.eqNullSafe(exact.xgrp))
    return out.select(
        "grp",
        "n",
        F.round("est_raw", round_to).alias("est_q"),
        F.round("exact_raw", round_to).alias("exact_q"),
        (F.abs(F.col("est_raw") - F.col("exact_raw")) <= F.lit(w)).alias(
            "within_bin"
        ),
    ).orderBy("grp")
