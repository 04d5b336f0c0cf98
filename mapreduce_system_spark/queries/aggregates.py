"""Aggregation queries: skew mitigation, quantiles, a custom UDAF, distinct
counting, mergeable sketches and per-group statistics.

Each is proven equivalent to its declarative twin via the DuckDB oracle.
Float discipline per registry.py: DOUBLE casts before arithmetic, identical
parenthesization both sides, rounded outputs; where doubles divide, both
engines divide the SAME exact operands so the quotient is bit-identical
before rounding, and medians interpolate bit-identical selected values.

- ``skew_salted_agg`` / ``skew_salted_join`` — two-phase salted
  aggregation over the 5-key (hot) event_type column, and a salted
  fact-fact join (big side salted, small side replicated): each must
  equal its unsalted declarative twin, the oracle.
- ``agg_quantiles`` — exact linear-interpolation percentiles per group
  (≡ DuckDB ``quantile_cont``) by RANK-BASED SELECTION over the
  disk-backed per-group sort, NOT the memory-buffering ``percentile``
  aggregate. ``agg_approx_quantiles`` is its 100 TB twin: a bounded-size
  mergeable sketch per partition, memory O(accuracy), not O(group).
- ``agg_weighted_mean_udaf`` — a custom Arrow GROUPED_AGG UDAF
  (quantity-weighted mean price) verified against the algebraic SQL
  identity.
- ``agg_grouped_mode_argmax`` — deterministic per-key mode (most frequent
  event type per user) via the max-of-struct argmax: two partial+final hash
  aggregates, NO window and NO per-key sort of the raw stream — the same
  trick ``rel_cdc_latest_state`` pins, applied to frequency instead of
  recency. Tie-break is part of the contract: (count, event_type) max ⇒
  ties fall to the lexicographically LAST type, mirrored in the oracle's
  ORDER BY cnt DESC, event_type DESC.
- ``agg_distinct_stats`` / ``agg_approx_distinct`` — exact
  multi-distinct expands AFTER partial aggregation; approx_count_distinct
  is the 100 TB path. ``agg_star_pricing`` is the TPC-H Q1-shaped
  partial+final hash-agg benchmark with its shipdate predicate pushed
  into the scan.
- ``agg_distinct_sketch_rollup`` — the re-aggregatable HLL sketch table
  (operators/hll.py): daily distinct-user sketches merged to a total that
  never rescans raw data. Band booleans (the measured HIP order-dependence
  contract) + exact anchors, asserted as literals by the oracle — the
  ``agg_approx_distinct`` discipline.
- ``agg_histogram_sketch_rollup`` — the exactly-mergeable quantile twin of
  the HLL rollup: fixed-range equi-width bin counts per event_type, TOTAL
  row merged from the per-group sketches alone, median read off the merged
  bins with the ``within_bin`` invariant asserted as data.
- ``agg_cms_heavy_hitters`` — the Count-Min sketch's audit query: every
  distinct document token's exact count vs its CMS point estimate, with
  ``overcount = est - exact`` shipped as data (one-sided by construction:
  never negative, and est == 0 would prove absence). Constants chosen with
  data: at the operator's 2048-wide default the 31-token fixture vocabulary
  never collides (overcount 0 — a green row would verify hashing but not
  the MIN-OVER-ROWS estimate path), so the registration runs w=32, d=3,
  where the deterministic md5 cell map puts EXACTLY 9 of 31 tokens in
  all-rows collision (nonzero overcount) and 22 in at-least-one-clean-row
  (overcount 0) — both estimate classes exercised, both pinned by the
  full-value oracle. Probe: bench_runs/scale_probe_r16_cms.json.
- ``agg_grouped_linreg`` — per-brand least-squares fit of extended price
  against quantity (slope / intercept / r²) from algebraic aggregates
  only: constant-size partial state, map-side combine, one shuffle of 25
  groups regardless of corpus size.
- ``agg_mad_outliers`` — robust outlier screening per group: median
  absolute deviation with the 1.4826 normal-consistency constant and a
  3σ-equivalent cut. Mean/stddev outlier screens (z-score) break down
  exactly when outliers are present (the outliers inflate the stddev that
  is supposed to catch them); MAD is the 50%-breakdown estimator curation
  pipelines use instead. Both medians come from the spill-safe rank-based
  selection ``agg_quantiles`` uses; the outlier threshold compares
  identically-derived doubles, so the flag — and therefore the
  exact-integer counts — agree across engines.
- ``agg_moments_profile`` — sample stddev / variance, Pearson
  correlation and sample covariance per return flag: algebraic aggregates
  with constant-size partial state.

Reference contrast: worker.go:104-165's one-shot map→reduce IS the exact
count these queries start from — but it cannot persist mergeable partial
state (HLL, bin sketches) and aggregate the AGGREGATE without a rescan, and
the CMS estimate side joins a SECOND key set against the d*w-bounded
reduced output, a reduce-of-reduces the one-shot pipeline cannot express.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from mapreduce_system_spark.functions import text as TXT
from mapreduce_system_spark.functions.udafs import weighted_mean
from mapreduce_system_spark.operators import skew as SK
from mapreduce_system_spark.operators.cmsketch import cms_build, cms_estimate
from mapreduce_system_spark.operators.histsketch import histogram_sketch_rollup
from mapreduce_system_spark.operators.hll import distinct_sketch_rollup
from mapreduce_system_spark.queries._textshared import _TOKS, _docs
from mapreduce_system_spark.registry import register
from mapreduce_system_spark.sources.tables import load_table

# Salted two-phase aggregation must equal the plain aggregation — the
# oracle IS the plain GROUP BY.
_SALTED_AGG_SQL = """
SELECT event_type, round(sum(value), 2) AS sum_value, count(*) AS cnt
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("skew_salted_agg", _SALTED_AGG_SQL)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over the 5-key (hot) event_type column:
    phase 1 spreads each key over 16 salts, phase 2 merges partials.
    Result must be bit-equal to the unsalted GROUP BY (the oracle)."""
    ev = load_table(spark, sf_dir, "events", columns=["event_type", "value", "event_id"])
    out = SK.salted_agg_sum_count(ev, "event_type", "value", salt_src_col="event_id", n_salts=16)
    return out.select(
        "event_type", F.round("sum_value", 2).alias("sum_value"), "cnt"
    ).orderBy("event_type")


_SALTED_JOIN_SQL = """
SELECT o_orderpriority, count(*) AS cnt, round(sum(l_extendedprice), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("skew_salted_join", _SALTED_JOIN_SQL)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact-fact join (big side salted on linenumber hash, orders
    side replicated 8×) — result must equal the plain equi-join."""
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_linenumber", "l_extendedprice"])
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderkey", "o_orderpriority"]).withColumnRenamed(
        "o_orderkey", "l_orderkey"
    )
    joined = SK.salted_join(li, orders, key="l_orderkey", salt_src_col="l_linenumber", n_salts=8)
    return (
        joined.groupBy("o_orderpriority")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("l_extendedprice"), 2).alias("revenue"))
        .orderBy("o_orderpriority")
    )


_QUANTILES_SQL = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
       count(*) AS cnt
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_quantiles", _QUANTILES_SQL)
def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per group (≡ DuckDB
    ``quantile_cont``) via RANK-BASED SELECTION, not ``percentile``.

    Spark's exact ``percentile`` aggregate buffers every value of a
    group in one task's memory (OOM on a hot group at 100×). Here the
    group is instead SORTED — ``row_number`` over (group, value) — by
    Spark's disk-backed UnsafeExternalSorter (O(1) task memory), the
    tiny per-group counts are broadcast-joined in, and a filter keeps
    only the floor/ceil ranks of p·(n−1) (≤ 4 rows per group) from
    which the standard linear interpolation is recomputed. Same
    shuffle volume as the old aggregate, but spill-safe — the
    difference between a slow task and a dead executor on a skewed
    group. (A ``count(*) OVER (PARTITION BY g)`` window would avoid
    the count scan but plans as an unbounded-frame Window that buffers
    every partition row — measured 2× slower than this broadcast
    join.) ``agg_approx_quantiles`` remains the recommended sketch
    path at extreme scale (one pass, no full sort)."""
    g = "l_returnflag"
    px = F.col("l_extendedprice")
    li = load_table(spark, sf_dir, "lineitem", columns=[g, "l_extendedprice"])
    # rank math runs over NON-NULL values only (quantile_cont ignores
    # NULLs; ranking them — Spark sorts NULLs first ascending — would
    # shift every selected rank, r10 review). The reported cnt stays
    # count(*) to match the oracle's output column.
    cnts = li.groupBy(g).agg(
        F.count("*").alias("cnt_all"), F.count(px).alias("cnt")
    )
    # eqNullSafe: GROUP BY treats NULL as a group, but an equi-join key
    # never matches NULL — a plain join(g) silently DROPPED the NULL-flag
    # group (caught by the adversarial corpus; the fixture has no NULL
    # flags)
    ranked = (
        li.where(px.isNotNull())
        .select(
            g,
            px.alias("v"),
            F.row_number().over(W.partitionBy(g).orderBy(px)).alias("rn"),
        )
        .alias("r")
        .join(
            F.broadcast(cnts.alias("c")),
            F.col(f"r.{g}").eqNullSafe(F.col(f"c.{g}")),
        )
        .select(F.col(f"r.{g}").alias(g), "v", "rn", "cnt", "cnt_all")
    )

    def rank_lo(p: float):  # 1-indexed lower rank of the interpolation pair
        return F.floor(F.lit(p) * (F.col("cnt") - 1)).cast("long") + 1

    def rank_hi(p: float):
        return F.least(rank_lo(p) + 1, F.col("cnt"))

    rn = F.col("rn")
    targets = (
        (rn == rank_lo(0.5)) | (rn == rank_hi(0.5)) | (rn == rank_lo(0.9)) | (rn == rank_hi(0.9))
    )

    def pick(r):
        return F.max(F.when(rn == r, F.col("v")))

    edges = (
        ranked.where(targets)
        .groupBy(g)
        .agg(
            F.first("cnt").alias("cnt"),
            F.first("cnt_all").alias("cnt_all"),
            pick(rank_lo(0.5)).alias("v50lo"),
            pick(rank_hi(0.5)).alias("v50hi"),
            pick(rank_lo(0.9)).alias("v90lo"),
            pick(rank_hi(0.9)).alias("v90hi"),
        )
    )

    def interp(p: float, lo: str, hi: str):
        pos = F.lit(p) * (F.col("cnt") - 1)
        frac = pos - F.floor(pos)
        return F.round(F.col(lo) + frac * (F.col(hi) - F.col(lo)), 4)

    qvals = edges.select(
        g,
        interp(0.5, "v50lo", "v50hi").alias("p50"),
        interp(0.9, "v90lo", "v90hi").alias("p90"),
    )
    # LEFT join back onto the full group list (null-safe): a group whose
    # values are ALL NULL has no ranked rows at all, but quantile_cont
    # still emits it with NULL quantiles and its count(*)
    return (
        cnts.alias("c")
        .join(
            F.broadcast(qvals.alias("q")),
            F.col(f"c.{g}").eqNullSafe(F.col(f"q.{g}")),
            "left",
        )
        .select(F.col(f"c.{g}").alias(g), "p50", "p90", F.col("cnt_all").alias("cnt"))
        .orderBy(g)
    )


_WMEAN_SQL = """
SELECT l_returnflag,
       round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 6) AS weighted_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_weighted_mean_udaf", _WMEAN_SQL)
def q_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF (Arrow GROUPED_AGG pandas_udf): quantity-weighted mean
    price — verified against the algebraic SQL identity."""
    li = load_table(spark, sf_dir, "lineitem", columns=["l_returnflag", "l_extendedprice", "l_quantity"])
    return (
        li.groupBy("l_returnflag")
        .agg(F.round(weighted_mean()("l_extendedprice", "l_quantity"), 6).alias("weighted_price"))
        .orderBy("l_returnflag")
    )


# Sketch outputs are implementation-defined, so the driver-checkable form
# hashes rank-error-band booleans: the approx p50/p90 must land between the
# exact percentiles at ±0.005 rank (50× the sketch's 1/10000 guarantee —
# generous enough to never flap, tight enough that a broken sketch fails).
# The oracle recomputes the group counts and asserts the bands hold.
_APPROX_QUANTILES_SQL = """
SELECT l_returnflag, count(*) AS cnt, TRUE AS p50_ok, TRUE AS p90_ok
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_approx_quantiles", _APPROX_QUANTILES_SQL)
def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of ``agg_quantiles``: ``approx_percentile`` builds a
    bounded-size mergeable sketch per partition (partial+final agg, no
    per-group value collection), so memory is O(accuracy), not O(group).
    Accuracy 10000 → relative rank error ≤ 1/10000.

    The exactness anchor inverts the check: instead of computing exact
    band-edge percentiles (a per-group sort buffer — the thing this query
    exists to avoid), it computes the exact RANK of each approx value by
    conditional counting (a streaming hash agg) and asserts the value's
    rank interval [count(<v), count(<=v)]/n overlaps the target ±0.005
    band. Two cheap passes (sketch, then rank counts against the
    broadcast 3-row result) replace the O(group) sort — and the interval
    form stays correct under duplicate values, where a single exact
    percentile edge can sit on a tie run."""
    from mapreduce_system_spark.sources.tables import ensure_parallelism

    li = ensure_parallelism(
        load_table(spark, sf_dir, "lineitem", columns=["l_returnflag", "l_extendedprice"])
    )
    pcts = F.array(F.lit(0.5), F.lit(0.9))
    px = F.col("l_extendedprice")
    # band denominator = count(value): approx_percentile and the
    # conditional rank counts both skip NULLs, so dividing by count(*)
    # would deflate the rank fractions by the NULL share and fail the
    # band on correct output (r10 review). The reported cnt column stays
    # count(*) to match the oracle.
    appx = li.groupBy("l_returnflag").agg(
        F.count("*").alias("cnt"),
        F.count(px).alias("cnt_vals"),
        F.approx_percentile("l_extendedprice", pcts, F.lit(10000)).alias("p"),
    )
    # eqNullSafe: GROUP BY keeps a NULL-flag group on both engines, but a
    # plain equi-join back onto the facts silently dropped it from the
    # Spark side only (r11 adversarial gate — the agg_quantiles class)
    ranks = (
        li.alias("f")
        .join(
            F.broadcast(appx.alias("x")),
            F.col("f.l_returnflag").eqNullSafe(F.col("x.l_returnflag")),
        )
        .groupBy(F.col("f.l_returnflag").alias("l_returnflag"))
        .agg(
            F.first("cnt").alias("cnt"),
            F.first("cnt_vals").alias("cnt_vals"),
            F.sum((px < F.col("p")[0]).cast("long")).alias("lt50"),
            F.sum((px <= F.col("p")[0]).cast("long")).alias("le50"),
            F.sum((px < F.col("p")[1]).cast("long")).alias("lt90"),
            F.sum((px <= F.col("p")[1]).cast("long")).alias("le90"),
        )
    )
    n = F.col("cnt_vals").cast("double")

    def band(lt: str, le: str, lo: float, hi: float):
        # a group with NO values has no quantile to be wrong about — its
        # band holds vacuously (the oracle emits unconditional TRUE);
        # without the guard the NULL-valued comparisons make it NULL
        return F.when(F.col("cnt_vals") == 0, F.lit(True)).otherwise(
            (F.col(lt) / n <= hi) & (F.col(le) / n >= lo)
        )

    return ranks.select(
        "l_returnflag",
        "cnt",
        band("lt50", "le50", 0.495, 0.505).alias("p50_ok"),
        band("lt90", "le90", 0.895, 0.905).alias("p90_ok"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# agg_grouped_mode_argmax — per-key mode without a window
# ---------------------------------------------------------------------------
_MODE_SQL = """
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY user_id, event_type
)
SELECT user_id, event_type AS mode_type, cnt AS mode_cnt
FROM (
  SELECT user_id, event_type, cnt,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY cnt DESC, event_type DESC) AS rn
  FROM c
)
WHERE rn = 1
ORDER BY user_id
"""


@register("agg_grouped_mode_argmax", _MODE_SQL)
def q_grouped_mode_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's most frequent event type (mode), tie-broken to the
    lexicographically last type — deterministic by contract.

    Shape: count aggregate, then max(struct(cnt, event_type)) — two
    partial+final hash aggregates and nothing else. The built-in
    ``mode()`` aggregate is non-deterministic under ties and a window
    formulation sorts every user's type list; the argmax-struct form
    is both deterministic and map-side combinable, so shuffled bytes
    are #distinct (user, type) pairs, then #users. The oracle uses
    the window formulation with the matching tie order — two
    independent derivations of the same rows."""
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "event_type"])
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    m = c.groupBy("user_id").agg(F.max(F.struct("cnt", "event_type")).alias("m"))
    return (
        m.select(
            "user_id",
            F.col("m.event_type").alias("mode_type"),
            F.col("m.cnt").alias("mode_cnt"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Distinct / approx-distinct / star aggregation
# ---------------------------------------------------------------------------
_DISTINCT_SQL = """
SELECT count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       count(*) AS n_rows
FROM lineitem
"""


@register("agg_distinct_stats", _DISTINCT_SQL)
def q_distinct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple exact distinct aggregates in one query (Catalyst expands to
    a multi-phase expand+agg plan)."""
    li = load_table(spark, sf_dir, "lineitem", columns=["l_partkey", "l_suppkey"])
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


# The sketch value itself is implementation-defined, so the driver-checkable
# form hashes (exact, within-bound-boolean): Spark computes BOTH the HLL
# estimate and the exact distinct and emits whether the estimate sits inside
# the documented 3% band; the oracle recomputes the exact count and asserts
# the band holds (TRUE literal). A broken sketch ⇒ FALSE ⇒ hash mismatch.
_APPROX_DISTINCT_SQL = """
SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS within_bound
FROM lineitem
"""


@register("agg_approx_distinct", _APPROX_DISTINCT_SQL)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct — the 100 TB path where exact
    distinct's shuffle is unaffordable. The exact count here exists only
    to anchor the error-band check (rsd=0.01 → within ~3% of exact); the
    product operator is the sketch."""
    li = load_table(spark, sf_dir, "lineitem", columns=["l_partkey"])
    # One pre-distinct feeds BOTH aggregates: HLL is multiplicity-blind
    # (identical registers over a set and its multiset), so estimating
    # over the distinct keys gives the exact same sketch value while
    # avoiding the Expand duplication a mixed exact+approx distinct
    # aggregation would plan (measured 3.9 s → expand-free).
    dist = li.select("l_partkey").distinct()
    # count(l_partkey), not count(*): a NULL key survives the distinct as
    # one row, but count(DISTINCT ...) in the oracle and the HLL sketch
    # both ignore NULLs — count(*) would anchor the error band one high
    agg = dist.agg(
        F.count("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx"),
    )
    return agg.select(
        "exact_parts",
        (
            F.abs(F.col("approx") - F.col("exact_parts"))
            <= F.col("exact_parts") * F.lit(0.03)
        ).alias("within_bound"),
    )


_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS cnt
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2024-06-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("agg_star_pricing", _PRICING_SQL)
def q_star_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: scan-heavy algebraic aggregation,
    the canonical partial+final hash-agg benchmark. The shipdate predicate
    pushes into the parquet scan."""
    li = load_table(
        spark,
        sf_dir,
        "lineitem",
        columns=["l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount", "l_shipdate"],
    )
    return (
        li.where(F.col("l_shipdate") <= F.lit("2024-06-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("cnt"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# agg_histogram_sketch_rollup — mergeable quantile sketch table
# ---------------------------------------------------------------------------
_H_LO, _H_HI, _H_BINS, _H_Q = 0.0, 1000.0, 100, 0.5
_H_W = (_H_HI - _H_LO) / _H_BINS  # one division, identical on both engines

# tests/test_histsketch.py's drafted oracle algebra, interpolated over
# the events value column: (grp, v) counts -> clamped bins -> per-group
# UNION TOTAL sketches -> cumulative-window estimate + type-1 exact.
_HIST_SQL = f"""
WITH base AS (
  SELECT CAST(event_type AS VARCHAR) AS grp, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL
), vc AS (
  SELECT grp, v, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1, 2
), allvc AS (
  SELECT grp, v, c FROM vc
  UNION ALL
  SELECT 'TOTAL' AS grp, v, CAST(sum(c) AS BIGINT) AS c FROM vc GROUP BY 2
), counts AS (
  SELECT grp,
         least({_H_BINS - 1}, greatest(0,
           CAST(floor((v - {_H_LO}) / {_H_W}) AS INT))) AS b,
         CAST(sum(c) AS BIGINT) AS cnt
  FROM allvc GROUP BY 1, 2
), cum AS (
  SELECT grp, b, cnt,
         sum(cnt) OVER (PARTITION BY grp ORDER BY b) - cnt AS cum_before,
         sum(cnt) OVER (PARTITION BY grp) AS n
  FROM counts
), est AS (
  SELECT grp, CAST(n AS BIGINT) AS n,
         {_H_LO} + {_H_W} * (CAST(b AS DOUBLE)
           + (CAST(n AS DOUBLE) * {_H_Q} - CAST(cum_before AS DOUBLE))
             / CAST(cnt AS DOUBLE)) AS est_raw,
         row_number() OVER (PARTITION BY grp ORDER BY b) AS rn
  FROM cum
  WHERE CAST(cum_before + cnt AS DOUBLE) >= CAST(n AS DOUBLE) * {_H_Q}
), vcum AS (
  SELECT grp, v,
         sum(c) OVER (PARTITION BY grp ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY grp) AS nn
  FROM allvc
), exact AS (
  SELECT grp, v AS exact_raw,
         row_number() OVER (PARTITION BY grp ORDER BY v) AS rn
  FROM vcum
  WHERE cum >= greatest(1, CAST(ceil(CAST(nn AS DOUBLE) * {_H_Q}) AS BIGINT))
)
SELECT e.grp, e.n, round(e.est_raw, 6) AS est_q,
       round(x.exact_raw, 6) AS exact_q,
       abs(e.est_raw - x.exact_raw) <= {_H_W} AS within_bin
FROM est e JOIN exact x ON e.grp IS NOT DISTINCT FROM x.grp
WHERE e.rn = 1 AND x.rn = 1
ORDER BY e.grp
"""


@register("agg_histogram_sketch_rollup", _HIST_SQL)
def q_histogram_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type median of the events value column read from a
    mergeable fixed-range histogram sketch (100 bins over [0, 1000] —
    bin width 10 covers the fixture's value range at every sf), plus a
    TOTAL row whose estimate comes ONLY from summing the per-type bin
    counts — the sketch-table pattern of ``agg_hll_rollup``, but
    EXACTLY mergeable (integer bin counts, element-wise addition), so
    the oracle asserts full values with no error bands. ``within_bin``
    (|est - exact| <= bin width) is the operator's accuracy invariant,
    shipped as data; ``exact_q`` is the type-1 inverse-ECDF anchor from
    the same (grp, value) count relation — no second raw scan."""
    ev = load_table(spark, sf_dir, "events", columns=["event_type", "value"])
    return histogram_sketch_rollup(
        ev, "event_type", "value", _H_LO, _H_HI, bins=_H_BINS, quantile=_H_Q
    )


# ---------------------------------------------------------------------------
# agg_grouped_linreg — per-group least squares from algebraic aggregates
# ---------------------------------------------------------------------------

# r² is spelled covar²/(var_x·var_y) over PAIRWISE-complete rows with a
# nullif'd denominator instead of corr()²: under ANSI Spark's corr ABORTS
# THE JOB with DIVIDE_BY_ZERO on any zero-variance group (the
# agg_moments_profile class, r11 fuzz) — one constant-valued brand at
# 100 TB would kill the whole fit; DuckDB's corr NULLs it.
_LINREG_SQL = """
SELECT p.p_brand AS brand,
       CAST(count(*) AS BIGINT) AS n,
       round(covar_samp(l.l_quantity, l.l_extendedprice)
             / nullif(var_samp(l.l_quantity), 0), 4) AS slope,
       round(avg(l.l_extendedprice)
             - covar_samp(l.l_quantity, l.l_extendedprice)
               / nullif(var_samp(l.l_quantity), 0)
               * avg(l.l_quantity), 4) AS intercept,
       round(covar_samp(l.l_quantity, l.l_extendedprice)
             * covar_samp(l.l_quantity, l.l_extendedprice)
             / nullif(
                 var_samp(CASE WHEN l.l_quantity IS NOT NULL
                                AND l.l_extendedprice IS NOT NULL
                           THEN l.l_quantity END)
                 * var_samp(CASE WHEN l.l_quantity IS NOT NULL
                                  AND l.l_extendedprice IS NOT NULL
                             THEN l.l_extendedprice END),
                 0
               ), 6) AS r2
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
GROUP BY 1
ORDER BY 1
"""


def _linreg_slope(x: Column, y: Column) -> Column:
    """cov(x,y)/var(x) with the degenerate-group guard: a single-row or
    constant-x group must yield NULL on BOTH engines — unguarded,
    Spark's non-ANSI x/0 gives NULL but DuckDB's IEEE division gives
    inf/NaN, a latent cross-engine hash divergence. Module-level so the
    degenerate-input pytest exercises the exact expression the
    registered query ships (not a re-typed copy that could drift)."""
    return F.covar_samp(x, y) / F.nullif(F.var_samp(x), F.lit(0))


@register("agg_grouped_linreg", _LINREG_SQL)
def q_grouped_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares fit of extended price on quantity per part brand:
    slope = cov(x,y)/var(x), intercept through the means, r² = corr².

    The model-fit-per-segment primitive (feature pipelines fit
    thousands of these). Everything is an algebraic aggregate with
    constant-size partial state — Catalyst runs the whole fit
    partial+final with map-side combine, exactly like
    ``agg_moments_profile``; no group's raw points are ever
    materialized. Update-order float noise vanishes under the
    rounding (the moments query's measured discipline: 4 decimals for
    price-scaled values, 6 for the dimensionless r²)."""
    li = load_table(
        spark, sf_dir, "lineitem",
        columns=["l_partkey", "l_quantity", "l_extendedprice"],
    )
    part = load_table(spark, sf_dir, "part", columns=["p_partkey", "p_brand"])
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    slope = _linreg_slope(x, y)  # nullif-guarded (see helper docstring)
    # r² = covar²/(var·var) over pairwise-complete rows, NOT F.corr()²:
    # under ANSI corr aborts the job on a zero-variance group (the
    # agg_moments_profile class — r11 fuzz); the explicit algebra NULLs
    # it on both engines and stays expression-mirrored with the oracle
    pair_ok = x.isNotNull() & y.isNotNull()
    cov = F.covar_samp(x, y)
    r2 = (cov * cov) / F.nullif(
        F.var_samp(F.when(pair_ok, x)) * F.var_samp(F.when(pair_ok, y)), F.lit(0.0)
    )
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").alias("n"),
            F.round(slope, 4).alias("slope"),
            F.round(F.avg(y) - slope * F.avg(x), 4).alias("intercept"),
            F.round(r2, 6).alias("r2"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# agg_mad_outliers — median-absolute-deviation outlier screen per group
# ---------------------------------------------------------------------------
_MAD_K = 1.4826  # normal-consistency constant: MAD * 1.4826 ≈ σ for Gaussians
_MAD_CUT = 3.0


def _group_median(df: DataFrame, g: str, value: Column, out: str) -> DataFrame:
    """Exact per-group linear-interpolation median via rank-based
    selection (``agg_quantiles``'s spill-safe shape): disk-backed sort,
    broadcast counts, keep only the two interpolation ranks.

    Parallelism is min(groups, cores) — each group sorts in one
    disk-backed task. A distributed-rank variant (repartitionByRange
    over (group, value), per-cell row_number, broadcast cumulative
    offsets) lifts that to the partition count but pays a range-sampling
    pass plus a second full-data shuffle: measured ADVERSE at sf0.1
    (2.1-2.8 s → 3.6-3.8 s full-query, results identical), so the
    single-sort shape stays. It becomes the right trade only when a hot
    group dwarfs a core's sort throughput — at that scale prefer the
    documented sketch path (``agg_approx_quantiles``) first."""
    v = value.alias("v")
    src = df.select(F.col(g), v)
    # NULL discipline, the full agg_quantiles pattern (``q_quantiles``):
    # quantile_cont IGNORES NULL values, so they must not be ranked (Spark
    # sorts them FIRST ascending, shifting every selected rank) — hence
    # count("v"), which skips NULLs, over the UNFILTERED input, so every
    # group survives (an all-NULL group carries cnt=0 and comes out with a
    # NULL median exactly like GROUP BY + quantile_cont; ADVICE r10). The
    # joins are eqNullSafe because GROUP BY treats NULL as a group but an
    # equi-join key never matches NULL — a plain join(g) would silently
    # hand a NULL-keyed group a NULL median even when it has values.
    cnts = src.groupBy(g).agg(F.count("v").alias("cnt"))
    ranked = (
        src.where(F.col("v").isNotNull())
        .select(
            g, "v", F.row_number().over(W.partitionBy(g).orderBy("v")).alias("rn")
        )
        .alias("r")
        .join(
            F.broadcast(cnts.alias("c")),
            F.col(f"r.{g}").eqNullSafe(F.col(f"c.{g}")),
        )
        .select(F.col(f"r.{g}").alias(g), "v", "rn", "cnt")
    )
    lo = F.floor(F.lit(0.5) * (F.col("cnt") - 1)).cast("long") + 1
    hi = F.least(lo + 1, F.col("cnt"))
    frac = (F.lit(0.5) * (F.col("cnt") - 1)) - F.floor(F.lit(0.5) * (F.col("cnt") - 1))
    picked = ranked.where((F.col("rn") == lo) | (F.col("rn") == hi))
    med = picked.groupBy(g).agg(
        (
            F.max(F.when(F.col("rn") == lo, F.col("v")))
            + F.first(frac)
            * (
                F.max(F.when(F.col("rn") == hi, F.col("v")))
                - F.max(F.when(F.col("rn") == lo, F.col("v")))
            )
        ).alias(out)
    )
    # LEFT join back onto the full group list (free: cnts already holds
    # every group) — all-NULL groups survive with a NULL median
    return (
        cnts.alias("c")
        .join(
            F.broadcast(med.alias("m")),
            F.col(f"c.{g}").eqNullSafe(F.col(f"m.{g}")),
            "left",
        )
        .select(F.col(f"c.{g}").alias(g), out)
    )


_MAD_SQL = f"""
WITH med AS (
  SELECT l_returnflag AS flag, quantile_cont(l_extendedprice, 0.5) AS med
  FROM lineitem GROUP BY 1
),
dev AS (
  SELECT l.l_returnflag AS flag, l.l_extendedprice AS v, m.med,
         abs(l.l_extendedprice - m.med) AS ad
  FROM lineitem l JOIN med m ON m.flag = l.l_returnflag
),
mad AS (SELECT flag, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY 1)
SELECT d.flag,
       CAST(count(*) AS BIGINT) AS n,
       round(max(d.med), 4) AS median_price,
       round(max(m.mad), 4) AS mad,
       CAST(sum(CASE WHEN d.ad > {_MAD_CUT} * {_MAD_K} * m.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       round(CAST(sum(CASE WHEN d.ad > {_MAD_CUT} * {_MAD_K} * m.mad THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS outlier_rate
FROM dev d JOIN mad m ON m.flag = d.flag
GROUP BY d.flag
ORDER BY d.flag
"""


@register("agg_mad_outliers", _MAD_SQL)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen per return flag: median price, median
    absolute deviation, and the count/rate of rows beyond
    3 · 1.4826 · MAD — the 50%-breakdown alternative to z-scores
    (``udf_grouped_map_zscore``'s statistical complement: the z-score
    screen's mean and stddev are themselves dragged by the outliers
    it hunts; the median and MAD are not).

    Two spill-safe rank-selection medians (value, then absolute
    deviation) with broadcast joins of the 3-row per-group scalars
    between passes, then one counting aggregate — three shuffles
    total, no percentile buffer, no window over the full data. The
    cut compares doubles derived identically on both engines, so the
    boolean — and the exact integer counts — cannot diverge."""
    g = "l_returnflag"
    li = load_table(spark, sf_dir, "lineitem", columns=[g, "l_extendedprice"])
    med = _group_median(li, g, F.col("l_extendedprice"), "med")
    dev = li.join(F.broadcast(med), g).select(
        F.col(g).alias("flag"),
        F.col("med"),
        F.abs(F.col("l_extendedprice") - F.col("med")).alias("ad"),
    )
    mad = _group_median(dev, "flag", F.col("ad"), "mad")
    d = dev.join(F.broadcast(mad), "flag")
    is_out = F.col("ad") > F.lit(_MAD_CUT) * F.lit(_MAD_K) * F.col("mad")
    return (
        d.groupBy("flag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.max("med"), 4).alias("median_price"),
            F.round(F.max("mad"), 4).alias("mad"),
            F.sum(F.when(is_out, 1).otherwise(0)).cast("long").alias("n_outliers"),
            F.round(
                F.sum(F.when(is_out, 1).otherwise(0)).cast("double")
                / F.count("*").cast("double"),
                6,
            ).alias("outlier_rate"),
        )
        .orderBy("flag")
    )


# ---------------------------------------------------------------------------
# agg_moments_profile — statistical moment aggregates
# ---------------------------------------------------------------------------

# corr is spelled covar/(sd·sd) over PAIRWISE-complete rows with a nullif'd
# denominator instead of corr(): under ANSI Spark's corr ABORTS THE JOB with
# DIVIDE_BY_ZERO on a zero-variance group (two identical rows suffice —
# found by the r11 random-corpus fuzz) while DuckDB's returns NULL; the
# explicit algebra is the same Pearson estimator, NULLs the degenerate
# group on both engines, and keeps every expression mirrored.
_MOMENTS_SQL = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       round(stddev_samp(l_extendedprice), 4) AS sd_price,
       round(var_samp(l_discount), 6) AS var_disc,
       round(
         covar_samp(l_quantity, l_extendedprice)
           / nullif(
               stddev_samp(CASE WHEN l_quantity IS NOT NULL
                                 AND l_extendedprice IS NOT NULL
                            THEN l_quantity END)
               * stddev_samp(CASE WHEN l_quantity IS NOT NULL
                                   AND l_extendedprice IS NOT NULL
                              THEN l_extendedprice END),
               0
             ),
         6
       ) AS corr_qty_price,
       round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_moments_profile", _MOMENTS_SQL)
def q_moments_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment aggregate surface per return flag: sample stddev /
    variance, Pearson correlation, and sample covariance — the sanity
    statistics every feature/ingest pipeline computes before training.
    All four are algebraic aggregates (constant-size partial state:
    n, Σx, Σx², Σxy), so Catalyst runs them partial+final with map-side
    combine exactly like sum/count — one shuffle of 3 groups × a few
    doubles regardless of corpus size. Both engines use the n-1 sample
    definitions; single-pass update-order differences vanish under the
    rounding. (The reference's reduce would need hand-written
    sum-of-squares state for this, worker.go:161-165.)"""
    li = load_table(
        spark, sf_dir, "lineitem",
        columns=["l_returnflag", "l_quantity", "l_extendedprice", "l_discount"],
    )
    # Pearson spelled covar/(sd·sd) over pairwise-complete rows with a
    # nullif'd denominator, NOT F.corr: under ANSI, corr() aborts the
    # whole job with DIVIDE_BY_ZERO on any zero-variance group (two
    # identical rows suffice — r11 random-corpus fuzz), and at 100 TB one
    # constant-valued group anywhere would kill the query; DuckDB's corr
    # NULLs it. The explicit algebra NULLs it on both engines and stays
    # expression-mirrored with the oracle.
    pair_ok = F.col("l_quantity").isNotNull() & F.col("l_extendedprice").isNotNull()
    sd_q = F.stddev_samp(F.when(pair_ok, F.col("l_quantity")))
    sd_p = F.stddev_samp(F.when(pair_ok, F.col("l_extendedprice")))
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
            F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
            F.round(
                F.covar_samp("l_quantity", "l_extendedprice")
                / F.nullif(sd_q * sd_p, F.lit(0.0)),
                6,
            ).alias("corr_qty_price"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
                "covar_qty_price"
            ),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# agg_distinct_sketch_rollup — the mergeable HLL sketch table
# ---------------------------------------------------------------------------

# Band booleans asserted as TRUE literals (the agg_approx_distinct
# discipline): a broken sketch hash-mismatches; exact counts anchor.
_SKETCH_ROLLUP_SQL = """
WITH d AS (
  SELECT strftime(ts, '%Y-%m-%d') AS grp, user_id AS v
  FROM events WHERE user_id IS NOT NULL
)
SELECT grp, CAST(count(DISTINCT v) AS BIGINT) AS exact, TRUE AS within_band
FROM d GROUP BY grp
UNION ALL
SELECT 'TOTAL', CAST(count(DISTINCT v) AS BIGINT), TRUE FROM d
ORDER BY grp
"""


@register("agg_distinct_sketch_rollup", _SKETCH_ROLLUP_SQL)
def q_distinct_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily distinct-user SKETCH TABLE with a merged rollup: per-day
    DataSketches HLL sketches answer each day's distinct count, and the
    'TOTAL' row is estimated ONLY by merging the daily sketches — the
    incremental-analytics path ``approx_count_distinct`` cannot express
    (its HLL++ state is not a persistable value). Band 5% per the
    measured HIP order-dependence contract (operators/hll.py); date
    groups can never collide with the enforced sentinel."""
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "ts"])
    daily = ev.select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "user_id",
    )
    return distinct_sketch_rollup(daily, "day", "user_id", band=0.05).orderBy(
        "grp"
    )


# ---------------------------------------------------------------------------
# agg_cms_heavy_hitters — Count-Min estimate vs exact, overcount audit
# ---------------------------------------------------------------------------
_CMS_W, _CMS_D = 32, 3  # data-chosen: 9/31 tokens collide on ALL rows

_CMS_RS = " UNION ALL ".join(f"SELECT {r} AS r" for r in range(_CMS_D))

_CMS_SQL = rf"""
WITH tok AS (
  SELECT unnest({_TOKS}) AS tok FROM documents WHERE text IS NOT NULL
),
rs AS ({_CMS_RS}),
sketch AS (
  SELECT r,
         ('0x' || substr(md5(tok || ':' || r), 1, 8))::UBIGINT % {_CMS_W} AS pos,
         count(*)::BIGINT AS cnt
  FROM tok CROSS JOIN rs
  GROUP BY 1, 2
),
exact AS (SELECT tok, count(*)::BIGINT AS exact_cnt FROM tok GROUP BY 1),
cells AS (
  SELECT e.tok, rs.r,
         ('0x' || substr(md5(e.tok || ':' || rs.r), 1, 8))::UBIGINT % {_CMS_W} AS pos
  FROM exact e CROSS JOIN rs
),
est AS (
  SELECT c.tok, min(coalesce(s.cnt, 0)) AS est_cnt
  FROM cells c LEFT JOIN sketch s ON s.r = c.r AND s.pos = c.pos
  GROUP BY 1
)
SELECT e.tok AS token,
       e.exact_cnt,
       CAST(x.est_cnt AS BIGINT) AS est_cnt,
       CAST(x.est_cnt - e.exact_cnt AS BIGINT) AS overcount
FROM exact e JOIN est x USING (tok)
ORDER BY token
"""


@register("agg_cms_heavy_hitters", _CMS_SQL)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token counts vs CMS point estimates over the documents
    vocabulary (operators/cmsketch.py, w=32/d=3 — data-chosen so both
    the clean-row and all-rows-collided estimate classes occur; see the
    module docstring). The whole-corpus exact groupBy exists HERE
    because the audit needs it; the sketch's production value is that
    later batches query the d*w-bounded relation instead of rebuilding
    this groupBy (the probe pinned the estimate side flat at 10x
    corpus). Output is vocabulary-sized (31 rows)."""
    toks = (
        _docs(spark, sf_dir, ["text"])
        .select(F.explode(TXT.tokens("text")).alias("tok"))
        .where(F.col("tok") != "")
    )
    sketch = cms_build(toks, "tok", w=_CMS_W, d=_CMS_D)
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact_cnt"))
    est = cms_estimate(
        exact.select("tok"), sketch, "tok", w=_CMS_W, d=_CMS_D
    ).withColumnRenamed("key", "tok")
    return (
        exact.join(est, "tok")
        .select(
            F.col("tok").alias("token"),
            "exact_cnt",
            F.col("est").alias("est_cnt"),
            (F.col("est") - F.col("exact_cnt")).alias("overcount"),
        )
        .orderBy("token")
    )
