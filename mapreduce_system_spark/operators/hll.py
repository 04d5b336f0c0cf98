"""Re-aggregatable distinct-count sketches (Apache DataSketches HLL).

``approx_count_distinct`` (queries/aggregates.py ``agg_approx_distinct``)
is ONE-SHOT: it answers "how many distinct now" but its internal HLL++
state is not a value a pipeline can persist and re-aggregate. The
incremental-analytics pattern a 100 TB warehouse actually runs is a
SKETCH TABLE: materialize one binary sketch per partition-of-time (day,
source, shard) once, then answer any rollup ("distinct users this
quarter?") by MERGING the affected sketches — never rescanning raw data.
Spark 4 ships the public DataSketches surface for exactly this:
``hll_sketch_agg`` (build, binary column), ``hll_union_agg`` (merge),
``hll_sketch_estimate`` (read).

MEASURED ENGINE CONTRACT (r12 probe, committed record
``bench_runs/hll_probe_r12.json`` — why the obvious invariant is NOT
asserted): DataSketches HLL uses an HIP (historical inverse probability)
estimator whose value depends on the INSERTION ORDER of the stream, and
a union discards HIP state for the composite estimator — so
``estimate(union(per-group sketches))`` and ``estimate(sketch(whole))``
legitimately differ on the SAME value set, and neither is bit-stable
across re-partitionings: the sf0.1 fixture's 1,500 users estimate to
1488 via the daily-sketch merge and 1506/1508/1498 via whole-corpus
sketches under repartition(1/8/32). This is unlike ``approx_count_distinct``'s
register-only HLL++, whose estimate is a pure function of the value set
(why ``agg_approx_distinct`` can anchor a 3% band). Everything here is
therefore ERROR-BAND-checked against exact counts (band default 5%,
~4x the worst error observed on the fixture at 10x margin cardinalities)
— the ``agg_approx_distinct`` oracle pattern: booleans the oracle
asserts as TRUE literals, so a broken sketch hash-mismatches.

Reference contrast: the reference's reduce (worker.go:161-165) receives
the full value list per key — it can count distincts exactly but has no
mergeable partial state, so every new rollup question is a full rescan
of the raw corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_system_spark.caches import tracked_cache

TOTAL_SENTINEL = "TOTAL"


def distinct_sketch_rollup(
    df: DataFrame, group_col: str, value_col: str, band: float = 0.05
) -> DataFrame:
    """(grp, exact, within_band) per group PLUS one ``'TOTAL'`` row
    whose estimate comes ONLY from merging the per-group sketches (the
    sketch-table rollup path — the raw values are never rescanned for
    the total). ``exact`` anchors the band check exactly like
    ``agg_approx_distinct``; NULL values are ignored (the
    count_distinct/HLL convention) while a NULL GROUP is a group.
    Caller contract, ENFORCED (ADVICE r12): a group value equal to the
    ``'TOTAL'`` sentinel raises at execution time (``raise_error`` on
    the group-cardinality-sized relation — one comparison per GROUP,
    not per row) instead of silently emitting two indistinguishable
    rows; the registered query uses dates, which can never collide.

    Plan shape: one pre-distinct feeds both the exact count and the
    sketch per group (HLL is multiplicity-blind, and a mixed
    exact-distinct + sketch aggregation would plan an Expand —
    ``agg_distinct_stats``' measured lesson); the total's exact count
    is a second distinct over values only; the merge is an aggregation
    of group-count-sized binary state."""
    if not 0.0 < band < 1.0:
        raise ValueError(f"band must be in (0, 1), got {band}")
    base = (
        df.select(
            F.col(group_col).cast("string").alias("grp"),
            F.col(value_col).alias("v"),
        )
        .where(F.col("v").isNotNull())
    )
    # cached: three aggregation branches fan out of the distinct input
    # (per-group, merged-total, exact-total) — uncached, each re-scans
    # and re-shuffles the raw relation (r12 review); per_group is cached
    # too (group-cardinality-sized) because both the per-group output
    # and the merge read it
    dm = tracked_cache(base.distinct())
    # sentinel collision guard rides the group-cardinality-sized
    # aggregate output (cheapest placement): NULL != 'TOTAL' is NULL →
    # coalesce keeps NULL groups alive
    grp_checked = F.when(
        F.coalesce(F.col("grp") != F.lit(TOTAL_SENTINEL), F.lit(True)),
        F.col("grp"),
    ).otherwise(
        F.raise_error(
            F.lit(
                f"distinct_sketch_rollup: group value collides with the "
                f"{TOTAL_SENTINEL!r} rollup sentinel — rename or prefix "
                f"the group column"
            )
        )
    )
    per_group = tracked_cache(
        dm.groupBy("grp")
        .agg(F.count("v").alias("exact"), F.hll_sketch_agg("v").alias("sk"))
        .select(grp_checked.alias("grp"), "exact", "sk")
    )
    groups = per_group.select(
        "grp",
        "exact",
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("exact"))
            <= F.col("exact") * F.lit(float(band))
        ).alias("within_band"),
    )
    # the rollup path: merge ONLY the per-group sketches; exact total
    # anchors the band (empty input: NULL merged estimate coalesces to 0
    # and 0 <= 0 keeps the row TRUE — the sentinel row always exists)
    merged = per_group.agg(F.hll_union_agg("sk").alias("u")).select(
        F.coalesce(F.hll_sketch_estimate("u"), F.lit(0)).alias("est_merged")
    )
    exact_total = dm.select("v").distinct().agg(F.count("v").alias("exact"))
    total = (
        exact_total.crossJoin(F.broadcast(merged))
        .select(
            F.lit(TOTAL_SENTINEL).alias("grp"),
            "exact",
            (
                F.abs(F.col("est_merged") - F.col("exact"))
                <= F.col("exact") * F.lit(float(band))
            ).alias("within_band"),
        )
    )
    return groups.unionByName(total)
