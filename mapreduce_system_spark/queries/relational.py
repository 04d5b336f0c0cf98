"""Relational queries over the star schema, each with a DuckDB oracle.

The reference can express joins/aggregations through map-tag + shuffle +
reduce (Dean & Ghemawat §2, cited at reference README.MD:5) but ships no
relational code — SURVEY.md §2b marks these rows ABSENT and mandates them
as build surface. Each query here is the Catalyst-first formulation:
broadcast hash joins for dimensions, shuffled hash/sort-merge for
fact-fact, partial+final aggregation everywhere (the combiner the
reference omits, README.MD:31-38). Float discipline per registry.py:
DOUBLE casts before arithmetic, identical parenthesization both sides,
rounded outputs, exact-integer tie-breaks on every ranking; timestamps
ride as epoch microseconds (``unix_micros`` / ``epoch_us``) — exact
BIGINTs on both engines.

Scale notes (100 TB stance):

- Dimension joins (`region`/`nation`/`supplier`/`customer`) broadcast —
  zero shuffle of the fact side for the join itself.
- Fact-fact (`orders`⋈`lineitem`) shuffles both sides on the join key;
  AQE skew-split handles hot orderkeys. The full-outer join is shuffled
  sort-merge by necessity.
- Window queries partition by a group key — no global-window single
  partition anywhere.
- `cube`/`rollup`/grouping-sets expand rows *after* partial aggregation,
  so shuffle volume scales with distinct group count, not input rows;
  pivot with an explicit value list is one partial+final pass; unpivot is
  a single Expand, shuffle-free after its aggregation.
- The range (band) join ``rel_range_join_price_bands`` is a broadcast
  nested loop — the correct plan for a 3-row band table; the bag set ops
  (``rel_set_ops_bag``) keep multiplicities (the ALL variants).

Queries whose construction needs more than the scale notes:

- ``rel_sql_api_q8_market_share`` — TPC-H Q8 re-cut to the fixture
  columns: an 8-relation join (nation twice) with conditional aggregation,
  executed from ONE ANSI string on both engines. The deepest join tree in
  the catalog — what it pins is Catalyst's join ordering + broadcast
  chaining on a star schema.
- ``rel_scalar_subquery_q17`` — the correlated-scalar-subquery surface
  (TPC-H Q17 shape re-cut to the fixture columns): lineitems whose
  quantity is below half their part's average quantity. ONE ANSI string
  executes verbatim on Spark (temp views) and DuckDB; Catalyst decorrelates
  the subquery into a per-part aggregate + equi-join — the plan a
  hand-rolled two-pass query would build, derived automatically.
- ``rel_not_exists_subquery`` — the NOT EXISTS front door: customers with
  no open order, per market segment. Catalyst decorrelates the correlated
  NOT EXISTS into a left-anti join — the plan pin is that no subquery
  survives into the physical plan.
- ``rel_table_profile`` — the data-quality profiler: per-column rows of
  row/null/distinct counts plus typed min/max/mean for EVERY column of a
  table, from ONE pass over the data (the one-row mega-aggregate is
  unpivoted with ``stack``; multiple exact count-distincts run through
  Spark's Expand, trading one pass at k× row width for k passes). The
  first query a pipeline runs against a new drop of data.
- ``rel_window_range_frames`` — RANGE-frame windows (value-based frame
  bounds over epoch seconds) + ntile/percent_rank — the window-function
  surface beyond the ROWS frames.
- ``rel_window_cume_ntile`` — the distribution-rank window family (ntile /
  cume_dist / percent_rank) over one shared window spec: one exchange +
  one sort feeds all three.
- ``rel_sessionize_events`` — gaps-and-islands sessionization (lag +
  conditional cumulative sum), the batch twin of the streaming
  ``session_window`` queries, rolled up to a per-user session profile.
- ``rel_histogram_equi_width`` — equi-width histogram of order totals:
  global [min, max] (one 1-row aggregate, broadcast back) → 16 fixed
  buckets with explicit bounds. One scan + one tiny rollup at any scale.
- ``rel_histogram_equi_depth`` — decile (equi-depth) histogram of order
  value per priority: rank-based bucket assignment over the disk-backed
  per-group sort (``agg_quantiles``'s spill-safe posture), NOT a
  memory-buffering percentile aggregate.
- ``rel_skew_profile`` — the diagnose-before-you-salt operator: per-key
  row counts of a join key, the top heavy keys with share and
  skew-vs-uniform ratio. What a 100 TB operator runs FIRST to decide
  whether ``skew_salted_join``'s treatment is needed.
- ``rel_snapshot_diff`` — snapshot reconciliation: classify every key
  across two table versions as added / removed / changed / unchanged via
  one full-outer join. The audit twin of ``sink_merge_upsert``'s write
  path and ``pipe_incremental_dedup``'s content check.
- ``rel_cdc_latest_state`` — CDC compaction: collapse a changelog to the
  latest record per key ("upsert view"). Deliberately NOT the
  row_number()-over-window formulation: ``max(struct(ts, event_id,
  ...))`` is an ordinary aggregate, so Catalyst runs it partial+final
  (map-side combine) — at 100 TB each mapper reduces its split to one row
  per local key before the shuffle, where the window variant must
  shuffle-and-sort EVERY changelog row. The struct's leading fields (ts,
  event_id) give a total order, so ties are impossible.
- ``rel_scd2_intervals`` — slowly-changing-dimension (type 2)
  historization: detect attribute changes per key (lag), then build
  validity intervals [valid_from, valid_to) with lead; the open interval
  is flagged current. Both window passes share one shuffle+sort on
  (user_id | ts, event_id) — Catalyst reuses the exchange since
  partitioning and ordering are identical.
- ``rel_pit_join_scd2`` — point-in-time enrichment: each click event is
  joined to the SCD2 validity interval (built live from the SAME user's
  non-click activity) that contains its timestamp. THE warehouse lookup
  pattern — "which state was the dimension in when this fact happened" —
  that a plain equi-join gets silently wrong (it would match every
  historical state). Equi-join on user_id with an interval residual; one
  shuffle.
- ``rel_funnel_conversion`` — the product-analytics staple: how many users
  progress view → click → purchase IN ORDER, and how long each transition
  takes. Order matters: a purchase before the first qualifying click must
  not count, so this is sequence matching, not three independent filters.
  Each stage is (pushed-down event_type filter) → per-user min aggregate →
  equi-join to the previous stage's per-user row — every shuffle keyed on
  user_id, every aggregate map-side combinable, state one row per
  surviving user per stage. The stage-k relation only shrinks (conversion
  is monotone), so later joins get cheaper, and Spark broadcasts them once
  they fall under the threshold.
- ``rel_funnel_time_bounded`` — the conversion-window funnel: users
  progressing view → click → purchase in order WITH every later step
  inside 30 minutes of the user's funnel entry. The parameterized
  ``operators/funnel.py::funnel_conversion`` generalizes the inline
  algebra of ``rel_funnel_conversion``; ``max_span`` is the capability the
  inline query cannot express.
- ``rel_bloom_join_pruned`` — the row-group-level sibling of
  ``sink_dpp_join_pruned``: where DPP prunes whole hive partitions via a
  runtime subquery, Catalyst's ``InjectRuntimeFilter`` rule builds a Bloom
  filter over the join keys that survive the BUILD side's selective
  predicate and pushes a ``might_contain`` probe into the APPLICATION
  side's scan — so a fact table joined to a selective-but-not-broadcastable
  dimension skips most of its rows before the shuffle, not after.
  Runtime-filter injection happens at optimization time — i.e. at the
  first action — so the query materializes via
  ``localCheckpoint(eager=True)`` while its fixture-scale knobs are bound,
  making the returned DataFrame independent of session state. The lowered
  ``applicationSideScanSizeThreshold`` exists only because the sf0.1
  lineitem scan is ~10 MB; a real 100 TB fact scan clears the default
  10 GB threshold on its own. ``autoBroadcastJoinThreshold=-1`` models the
  regime the filter is FOR: a build side selective enough to prune well
  but too large to broadcast.
- ``rel_join_cardinality_exact`` / ``rel_join_cardinality_sampled`` —
  join-size estimation without the join (operators/cardinality.py). The
  exact mechanism's oracle is maximally independent: DuckDB MATERIALIZES
  the join and counts it, while Spark never builds a fact-fact row — the
  count-relation product must equal the real thing. The sampled
  mechanism's oracle re-derives the coordinated md5 key sample in SQL
  (``md5_bucket32_sql``), so the BIGINT estimate matches bit-for-bit
  (integer scale factor — no float anywhere). Both aggregate before they
  join (key-dimension-sized relations; the sampled one is sublinear in the
  key dimension and its filter is plan-guarded to the scans).

Reference contrast: the reference's reduce sees values in arrival order
with no secondary sort (worker.go:153-165 sorts by key only), so lag/lead,
sequence matching and changelog compaction each need a full re-sort of the
corpus per query; it has no runtime filtering of any kind (its map tasks
always read their whole input split, worker.go:92-104); and its one-shot
map→reduce cannot meet two aggregated relations on a key (cardinality) or
filter step k on step k-1's OUTPUT (funnels).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from mapreduce_system_spark.caches import checkpoint, tracked_cache
from mapreduce_system_spark.functions.hashing import md5_bucket32, md5_bucket32_sql
from mapreduce_system_spark.operators import asof as ASOF
from mapreduce_system_spark.operators import relational as REL
from mapreduce_system_spark.operators.cardinality import (
    join_cardinality_estimate,
    join_cardinality_exact,
)
from mapreduce_system_spark.operators.funnel import funnel_conversion
from mapreduce_system_spark.registry import register
from mapreduce_system_spark.sources.tables import load_table, register_views


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------
_REGION_REVENUE_SQL = """
SELECT r_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON n_nationkey = s_nationkey
JOIN region   ON r_regionkey = n_regionkey
GROUP BY r_name
ORDER BY r_name
"""


@register("rel_broadcast_join_region_revenue", _REGION_REVENUE_SQL)
def q_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact → 3 broadcast dimension hops → hash agg. The plan must contain
    only BroadcastHashJoin (asserted in tests/test_relational.py) — the
    fact table is never shuffled for the join."""
    li = load_table(spark, sf_dir, "lineitem", columns=["l_suppkey", "l_extendedprice", "l_discount"])
    sup = load_table(spark, sf_dir, "supplier", columns=["s_suppkey", "s_nationkey"])
    nat = load_table(spark, sf_dir, "nation", columns=["n_nationkey", "n_regionkey"])
    reg = load_table(spark, sf_dir, "region", columns=["r_regionkey", "r_name"])
    joined = REL.broadcast_dim(li, sup, li.l_suppkey == sup.s_suppkey)
    joined = REL.broadcast_dim(joined, nat, joined.s_nationkey == nat.n_nationkey)
    joined = REL.broadcast_dim(joined, reg, joined.n_regionkey == reg.r_regionkey)
    return (
        joined.groupBy("r_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("r_name")
    )


_FACT_FACT_SQL = """
SELECT o_orderpriority,
       count(DISTINCT o_orderkey) AS n_orders,
       round(sum(l_extendedprice), 2) AS revenue
FROM orders
JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("rel_join_fact_fact", _FACT_FACT_SQL)
def q_fact_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi-join: both sides shuffle on orderkey (shuffled hash /
    sort-merge — AQE picks; skew-split on). At 100 TB co-locate by
    bucketing both tables on orderkey to eliminate this shuffle."""
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderkey", "o_orderpriority"])
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_extendedprice"])
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


_SEMI_SQL = """
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 450000)
ORDER BY c_custkey
"""


@register("rel_semi_join", _SEMI_SQL)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS via left-semi join; the o_totalprice predicate is pushed into
    the orders parquet scan before the join (asserted in tests)."""
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_name"])
    orders = load_table(spark, sf_dir, "orders", columns=["o_custkey", "o_totalprice"])
    big = orders.where(F.col("o_totalprice") > 450000).select("o_custkey")
    return REL.semi_join(cust, big, cust.c_custkey == big.o_custkey).orderBy("c_custkey")


_ANTI_SQL = """
SELECT c_custkey, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
ORDER BY c_custkey
"""


@register("rel_anti_join", _ANTI_SQL)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS via left-anti join (customers with no high-value order)."""
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment"])
    orders = load_table(spark, sf_dir, "orders", columns=["o_custkey", "o_totalprice"])
    big = orders.where(F.col("o_totalprice") > 450000).select("o_custkey")
    return REL.anti_join(cust, big, cust.c_custkey == big.o_custkey).orderBy("c_custkey")


# The same ANSI text runs on both engines — the SQL-API entry point
# (spark.sql over registered views) demonstrated on a TPC-H Q3 shape.
_SQL_Q3 = """
SELECT o_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


@register("rel_sql_api_q3", _SQL_Q3)
def q_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front door: identical ANSI text executes on Spark (over
    registered temp views) and on the DuckDB oracle — Catalyst still
    broadcasts the dims and pushes the segment filter into the scan."""
    register_views(spark, sf_dir, ("customer", "orders", "lineitem"))
    return spark.sql(_SQL_Q3)


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------
_TOPK_SQL = """
SELECT * FROM (
  SELECT o_orderpriority, o_orderkey,
         round(o_totalprice, 2) AS price,
         CAST(row_number() OVER (PARTITION BY o_orderpriority
                                 ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
  FROM orders)
WHERE rn <= 3
ORDER BY o_orderpriority, rn
"""


@register("rel_topk_per_group", _TOPK_SQL)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k: one shuffle on the group key, per-partition rank,
    early filter — never a global sort. (orderkey tie-break = total order.)"""
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderpriority", "o_orderkey", "o_totalprice"])
    out = REL.top_k_per_group(
        orders, ["o_orderpriority"], [F.col("o_totalprice").desc(), F.col("o_orderkey")], k=3
    )
    return out.select(
        "o_orderpriority",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("price"),
        "rn",
    ).orderBy("o_orderpriority", "rn")


_RUNNING_SQL = """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate ASC NULLS LAST, o_orderkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS running_sum
FROM orders
ORDER BY o_custkey, o_orderkey
"""


@register("rel_running_agg", _RUNNING_SQL)
def q_running_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum per customer over order time (frame: unbounded
    preceding..current). Partitioned window — scales with per-key history,
    not table size."""
    orders = load_table(spark, sf_dir, "orders", columns=["o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"])
    # asc_nulls_last on the time key: a NULL order date must sit at the
    # END of the cumulative history on both engines (Spark ASC defaults
    # NULLS FIRST, DuckDB NULLS LAST — the NULL-ordering class, here on a
    # running frame rather than a rank)
    out = REL.running_agg(
        orders,
        ["o_custkey"],
        [F.col("o_orderdate").asc_nulls_last(), F.col("o_orderkey")],
        "o_totalprice",
    )
    return out.select(
        "o_custkey", "o_orderkey", F.round("running_sum", 2).alias("running_sum")
    ).orderBy("o_custkey", "o_orderkey")


_LAG_RANK_SQL = """
SELECT o_custkey, o_orderkey,
       round(lag(o_totalprice) OVER w, 2) AS prev_price,
       CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC NULLS LAST, o_orderkey)
ORDER BY o_custkey, o_orderkey
"""


@register("rel_window_lag_rank", _LAG_RANK_SQL)
def q_window_lag_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic (lag) + ranking (rank) windows in one pass; both windows
    partition by the same key so Catalyst reuses one shuffle."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders", columns=["o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"])
    # asc_nulls_last: NULL order dates lag-chain at the END on both
    # engines (the NULL-ordering class); the DESC rank already agrees (both
    # engines default DESC NULLS LAST)
    w_time = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc_nulls_last(), "o_orderkey"
    )
    w_rank = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.round(F.lag("o_totalprice").over(w_time), 2).alias("prev_price"),
            F.rank().over(w_rank).cast("long").alias("rnk"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------
_SET_OPS_SQL = """
SELECT 'except' AS op, CAST(count(*) AS BIGINT) AS cnt FROM
  (SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders)
UNION ALL
SELECT 'intersect' AS op, CAST(count(*) AS BIGINT) AS cnt FROM
  (SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders)
UNION ALL
SELECT 'union' AS op, CAST(count(*) AS BIGINT) AS cnt FROM
  (SELECT c_custkey FROM customer UNION SELECT o_custkey FROM orders)
ORDER BY op
"""


@register("rel_set_ops", _SET_OPS_SQL)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI UNION/INTERSECT/EXCEPT (distinct semantics) cardinalities of
    the customer-key universe vs the ordering-customer set."""
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey"])
    ordk = load_table(spark, sf_dir, "orders", columns=["o_custkey"]).withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    return REL.set_op_counts(cust, ordk)


# ---------------------------------------------------------------------------
# Multi-dimensional aggregation: cube / rollup / grouping sets / distinct
# ---------------------------------------------------------------------------

# Subtotal sentinels come from GROUPING(), not coalesce: a real NULL data
# group must stay NULL (distinct from the 'ALL' subtotal row), or subtotal
# and data rows collide on identical display keys and the ordering loses
# its unique tie-break. NULLS LAST pins the two engines' (and any NULL
# group's) sort agreement explicitly.
_CUBE_SQL = """
SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS rflag,
       CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS lstatus,
       round(sum(l_quantity), 2) AS sum_qty,
       count(*) AS cnt
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY rflag NULLS LAST, lstatus NULLS LAST
"""


@register("rel_cube", _CUBE_SQL)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus) — 2^2 grouping sets in one pass.
    Expansion happens after partial agg, so shuffled rows ∝ distinct
    groups × 4, not input rows × 4."""
    li = load_table(spark, sf_dir, "lineitem", columns=["l_returnflag", "l_linestatus", "l_quantity"])
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").alias("cnt"),
            # grouping() is only legal inside the agg — carried out, then
            # folded into the sentinel (see _CUBE_SQL note)
            F.grouping("l_returnflag").alias("__gr"),
            F.grouping("l_linestatus").alias("__gl"),
        )
        .select(
            F.when(F.col("__gr") == 1, F.lit("ALL")).otherwise(F.col("l_returnflag")).alias("rflag"),
            F.when(F.col("__gl") == 1, F.lit("ALL")).otherwise(F.col("l_linestatus")).alias("lstatus"),
            "sum_qty",
            "cnt",
        )
        .orderBy(F.col("rflag").asc_nulls_last(), F.col("lstatus").asc_nulls_last())
    )


_ROLLUP_SQL = """
SELECT CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS priority,
       CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS status,
       count(*) AS cnt,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
ORDER BY priority NULLS LAST, status NULLS LAST
"""


@register("rel_rollup", _ROLLUP_SQL)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: hierarchical subtotals priority → (priority,status) → grand."""
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderpriority", "o_orderstatus", "o_totalprice"])
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.grouping("o_orderpriority").alias("__gp"),
            F.grouping("o_orderstatus").alias("__gs"),
        )
        .select(
            F.when(F.col("__gp") == 1, F.lit("ALL")).otherwise(F.col("o_orderpriority")).alias("priority"),
            F.when(F.col("__gs") == 1, F.lit("ALL")).otherwise(F.col("o_orderstatus")).alias("status"),
            "cnt",
            "total",
        )
        .orderBy(F.col("priority").asc_nulls_last(), F.col("status").asc_nulls_last())
    )


_GSETS_SQL = """
SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS rflag,
       CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS lstatus,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
ORDER BY rflag NULLS LAST, lstatus NULLS LAST
"""


@register("rel_grouping_sets", _GSETS_SQL)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((rflag),(lstatus)) — two independent
    groupings in one shuffle instead of a union of two aggregations."""
    li = load_table(spark, sf_dir, "lineitem", columns=["l_returnflag", "l_linestatus", "l_extendedprice"])
    return (
        li.groupingSets([["l_returnflag"], ["l_linestatus"]], "l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.grouping("l_returnflag").alias("__gr"),
            F.grouping("l_linestatus").alias("__gl"),
        )
        .select(
            F.when(F.col("__gr") == 1, F.lit("ALL")).otherwise(F.col("l_returnflag")).alias("rflag"),
            F.when(F.col("__gl") == 1, F.lit("ALL")).otherwise(F.col("l_linestatus")).alias("lstatus"),
            "sum_price",
        )
        .orderBy(F.col("rflag").asc_nulls_last(), F.col("lstatus").asc_nulls_last())
    )


# ---------------------------------------------------------------------------
# Outer join + pivot/unpivot
# ---------------------------------------------------------------------------

# Customer side filtered to every 3rd key so BOTH sides have unmatched rows:
# orders of the other customers dangle right, order-less customers dangle left.
_FULL_OUTER_SQL = """
WITH c AS (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 3 = 0)
SELECT coalesce(c_mktsegment, '<no customer>') AS segment,
       count(o_orderkey) AS n_orders,
       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS customers_without_orders,
       CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orders_without_customer,
       round(sum(coalesce(o_totalprice, 0)), 2) AS revenue
FROM c FULL OUTER JOIN orders ON c_custkey = o_custkey
GROUP BY segment
ORDER BY segment
"""


@register("rel_full_outer_join", _FULL_OUTER_SQL)
def q_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join with dangling rows on both sides, null-bucket
    semantics checked exactly. Full-outer cannot broadcast (both sides
    must surface unmatched rows) — Spark plans a shuffled sort-merge join,
    the correct shape at any scale."""
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment"]).where(
        F.col("c_custkey") % 3 == 0
    )
    orders = load_table(spark, sf_dir, "orders", columns=["o_custkey", "o_orderkey", "o_totalprice"])
    joined = cust.join(orders, cust.c_custkey == orders.o_custkey, "full_outer")
    return (
        joined.groupBy(
            F.coalesce("c_mktsegment", F.lit("<no customer>")).alias("segment")
        )
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias(
                "customers_without_orders"
            ),
            F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0)).alias(
                "orders_without_customer"
            ),
            F.round(F.sum(F.coalesce("o_totalprice", F.lit(0.0))), 2).alias("revenue"),
        )
        .orderBy("segment")
    )


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PIVOT_COLS = ["urgent", "high", "medium", "not_specified", "low"]

_PIVOT_SQL = f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
       {", ".join(f"round(sum(CASE WHEN o_orderpriority = '{p}' THEN o_totalprice END), 2) AS {c}"
                  for p, c in zip(_PRIORITIES, _PIVOT_COLS))}
FROM orders
GROUP BY order_year
ORDER BY order_year
"""


@register("rel_pivot_priority_revenue", _PIVOT_SQL)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: revenue by year with one column per order priority. With the
    value list supplied, Spark pivots in a single partial+final aggregation
    pass (no second scan to discover values) — the oracle is the standard
    conditional-aggregation rewrite."""
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderdate", "o_orderpriority", "o_totalprice"])
    pivoted = (
        orders.select(
            F.year("o_orderdate").cast("long").alias("order_year"),
            "o_orderpriority",
            "o_totalprice",
        )
        .groupBy("order_year")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.round(F.sum("o_totalprice"), 2))
    )
    renamed = pivoted.select(
        "order_year", *[F.col(f"`{p}`").alias(c) for p, c in zip(_PRIORITIES, _PIVOT_COLS)]
    )
    return renamed.orderBy("order_year")


_UNPIVOT_SQL = """
WITH w AS (
  SELECT l_returnflag,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_price,
         round(sum(l_discount), 2) AS sum_disc
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, metric, value FROM (
  SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM w
  UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM w
  UNION ALL SELECT l_returnflag, 'sum_disc', sum_disc FROM w)
ORDER BY l_returnflag, metric
"""


@register("rel_unpivot_metrics", _UNPIVOT_SQL)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide per-flag metric columns back to long
    (flag, metric, value) rows via Spark's native unpivot — no join, one
    Expand node, shuffle-free after the aggregation."""
    li = load_table(spark, sf_dir, "lineitem", columns=["l_returnflag", "l_quantity", "l_extendedprice", "l_discount"])
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.sum("l_discount"), 2).alias("sum_disc"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "sum_disc"], "metric", "value"
    ).orderBy("l_returnflag", "metric")


# ---------------------------------------------------------------------------
# rel_sql_api_q8_market_share — TPC-H Q8 shape, one string, two engines
# ---------------------------------------------------------------------------
_Q8_SQL = """
SELECT yr,
       round(sum(CASE WHEN supp_nation = 'NATION_7' THEN volume ELSE 0.0 END)
             / sum(volume), 6) AS mkt_share,
       round(sum(volume), 2) AS total_volume
FROM (
  SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS yr,
         n2.n_name AS supp_nation,
         l.l_extendedprice * (1.0 - l.l_discount) AS volume
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n1.n_regionkey
  WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
) v
GROUP BY yr
ORDER BY yr
"""


@register("rel_sql_api_q8_market_share", _Q8_SQL)
def q_sql_api_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_7's share of PROMO-part revenue sold into ASIA, by order
    year — TPC-H Q8's shape on the fixture schema, through the SQL
    front door.

    The catalog's deepest join tree: 8 relation instances (nation
    joined twice under different roles). What the query pins is that
    Catalyst orders the tree itself — region/nation/supplier/part/
    customer broadcast in a chain onto the lineitem⋈orders fact join
    (the only shuffle), with the region and p_type filters pushed into
    their dimension scans so pruning happens BEFORE any join. Writing
    this as explicit DataFrame joins in the wrong order would shuffle
    the fact table repeatedly; declaring it lets the optimizer pick
    the star-join plan at any scale."""
    register_views(
        spark,
        sf_dir,
        ("lineitem", "part", "supplier", "nation", "orders", "customer", "region"),
    )
    return spark.sql(_Q8_SQL)


# ---------------------------------------------------------------------------
# rel_table_profile — one-pass per-column profile of orders
# ---------------------------------------------------------------------------
_NUM_COLS = ["o_orderkey", "o_custkey", "o_totalprice"]
_STR_COLS = ["o_orderstatus", "o_orderpriority"]
_TS_COLS = ["o_orderdate"]


def _profile_branch_sql(col: str, kind: str) -> str:
    base = (
        f"SELECT '{col}' AS col, CAST(count(*) AS BIGINT) AS n_rows, "
        f"CAST(sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, "
        f"CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct, "
    )
    if kind == "num":
        return base + (
            f"round(CAST(min({col}) AS DOUBLE), 2) AS min_num, "
            f"round(CAST(max({col}) AS DOUBLE), 2) AS max_num, "
            f"round(avg({col}), 4) AS mean, "
            "CAST(NULL AS VARCHAR) AS min_s, CAST(NULL AS VARCHAR) AS max_s "
            "FROM orders"
        )
    if kind == "str":
        return base + (
            "CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num, "
            "CAST(NULL AS DOUBLE) AS mean, "
            f"min({col}) AS min_s, max({col}) AS max_s FROM orders"
        )
    return base + (
        "CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num, "
        "CAST(NULL AS DOUBLE) AS mean, "
        f"strftime(min({col}), '%Y-%m-%d') AS min_s, "
        f"strftime(max({col}), '%Y-%m-%d') AS max_s FROM orders"
    )


_PROFILE_SQL = (
    "\nUNION ALL\n".join(
        [_profile_branch_sql(c, "num") for c in _NUM_COLS]
        + [_profile_branch_sql(c, "str") for c in _STR_COLS]
        + [_profile_branch_sql(c, "ts") for c in _TS_COLS]
    )
    + "\nORDER BY col"
)


@register("rel_table_profile", _PROFILE_SQL)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile rows for every column of orders — row count, null
    count, exact distinct count, and typed min/max/mean — computed in
    one wide pass plus one slim pass (see below).

    The Spark side folds the counts, exact multi-column count-distincts
    (via the Expand operator: one scan at k× intermediate width instead
    of k scans — the profiler trade) and all NUMERIC/TIMESTAMP extrema
    into a single one-row aggregation, and unpivots with ``stack``.
    The STRING min/max live in a SEPARATE slim global aggregate that is
    broadcast-crossJoined back (r17):
    min/max over a string column has an immutable aggregation buffer,
    which demotes the WHOLE aggregate — including the 7×-Expanded
    distinct rows — from HashAggregate to SortAggregate, paying a sort
    of every expanded row by the full grouping tuple. Split out, the
    mega-aggregate hash-aggregates the expanded rows unsorted, and the
    string pass scans just the two string columns with a grouping-free
    (hence sort-free) SortAggregate. A/B at sf0.1 (alternating arms,
    bit-identical rows): bench_runs/r17_table_profile_ab.json; plan
    diff plans/r17/rel_table_profile_{before,after}.txt.
    The oracle spells the same numbers as a per-column UNION ALL.
    Doubles are rounded BEFORE the unpivot; min/max of doubles are
    never stringified (engines disagree on double→string formatting),
    so numeric and string extrema travel in separate typed columns.
    At 100 TB the exact distincts are the knob to watch — swap in
    ``approx_count_distinct`` per ``agg_approx_distinct`` when ±2% is
    acceptable."""
    orders = load_table(spark, sf_dir, "orders")
    aggs = []
    for c in _NUM_COLS + _STR_COLS + _TS_COLS:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        aggs.append(F.countDistinct(c).alias(f"{c}__dist"))
    for c in _NUM_COLS:
        aggs.append(F.round(F.min(c).cast("double"), 2).alias(f"{c}__min"))
        aggs.append(F.round(F.max(c).cast("double"), 2).alias(f"{c}__max"))
        aggs.append(F.round(F.avg(c), 4).alias(f"{c}__mean"))
    str_aggs = []
    for c in _STR_COLS:
        str_aggs.append(F.min(c).alias(f"{c}__mins"))
        str_aggs.append(F.max(c).alias(f"{c}__maxs"))
    for c in _TS_COLS:
        aggs.append(F.date_format(F.min(c), "yyyy-MM-dd").alias(f"{c}__mins"))
        aggs.append(F.date_format(F.max(c), "yyyy-MM-dd").alias(f"{c}__maxs"))
    row = orders.agg(F.count("*").alias("__rows"), *aggs).crossJoin(
        F.broadcast(orders.select(*_STR_COLS).agg(*str_aggs))
    )

    branches = []
    for c in _NUM_COLS:
        branches.append(
            f"'{c}', __rows, {c}__nulls, {c}__dist, {c}__min, {c}__max, "
            f"{c}__mean, CAST(NULL AS STRING), CAST(NULL AS STRING)"
        )
    for c in _STR_COLS + _TS_COLS:
        branches.append(
            f"'{c}', __rows, {c}__nulls, {c}__dist, CAST(NULL AS DOUBLE), "
            f"CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), {c}__mins, {c}__maxs"
        )
    stack = (
        f"stack({len(branches)}, "
        + ", ".join(branches)
        + ") AS (col, n_rows, n_nulls, n_distinct, min_num, max_num, mean, min_s, max_s)"
    )
    return row.select(F.expr(stack)).orderBy("col")


# ---------------------------------------------------------------------------
# rel_not_exists_subquery — NOT EXISTS decorrelation
# ---------------------------------------------------------------------------
_NOT_EXISTS_SQL = """
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(sum(c.c_acctbal), 2) AS acctbal_sum
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
)
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


@register("rel_not_exists_subquery", _NOT_EXISTS_SQL)
def q_not_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no open ('O') order, rolled up by market segment —
    the correlated NOT EXISTS front door.

    Catalyst rewrites the subquery into a LEFT ANTI equi-join on
    custkey with the status filter pushed into the orders scan (the
    anti-join's build side is pre-filtered to open orders only, not
    the whole table). One ANSI string runs verbatim on both engines;
    the companion DataFrame-API anti-join is ``rel_anti_join`` — this
    pins the SQL path produces the same plan family."""
    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql(_NOT_EXISTS_SQL)


# ---------------------------------------------------------------------------
# rel_window_range_frames
# ---------------------------------------------------------------------------

# Epoch seconds as the RANGE order key on both sides: Spark unix_timestamp
# floors to whole seconds; DuckDB floor(epoch(ts)) matches. A 3600-second
# value-based frame is the "rolling last hour" every monitoring rollup
# wants — unlike a ROWS frame it is row-density independent.
_RANGE_FRAME_SQL = """
SELECT event_id, user_id,
       round(sum(value) OVER (
         PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 6) AS rolling_1h,
       CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY value ASC NULLS LAST, event_id) AS INT) AS quartile,
       round(percent_rank() OVER (PARTITION BY user_id ORDER BY value ASC NULLS LAST, event_id), 6) AS pr
FROM events
ORDER BY event_id
"""


@register("rel_window_range_frames", _RANGE_FRAME_SQL)
def q_window_range_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per-user rolling-last-hour sum over a
    value-based (epoch-second) frame — peers at the same instant are one
    frame regardless of row count — plus ntile(4) quartiles and
    percent_rank over a deterministic (value, event_id) order. One shuffle
    on user_id serves all three window specs."""
    ev = load_table(spark, sf_dir, "events", columns=["event_id", "user_id", "ts", "value"])
    ev = ev.withColumn("epoch_s", F.unix_timestamp("ts"))
    w_range = (
        W.partitionBy("user_id").orderBy("epoch_s").rangeBetween(-3600, 0)
    )
    # asc_nulls_last: Spark ASC defaults NULLS FIRST, DuckDB NULLS LAST —
    # a NULL value row must rank last on both engines (the NULL-ordering class)
    w_rank = W.partitionBy("user_id").orderBy(
        F.col("value").asc_nulls_last(), "event_id"
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            F.round(F.sum("value").over(w_range), 6).alias("rolling_1h"),
            F.ntile(4).over(w_rank).cast("int").alias("quartile"),
            F.round(F.percent_rank().over(w_rank), 6).alias("pr"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# rel_sessionize_events
# ---------------------------------------------------------------------------
_GAP_S = 1800  # 30-minute inactivity gap, matching the streaming session queries

# Gaps-and-islands in portable SQL: a session starts when the gap from the
# previous event (same user, (ts, event_id) order) exceeds 30 minutes;
# cumulative sum of starts numbers the sessions; roll up per user.
_SESSIONIZE_SQL = f"""
WITH t AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS es,
         lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
           PARTITION BY user_id ORDER BY es, event_id) AS prev_es
  FROM events
), s AS (
  SELECT user_id, event_id, es,
         sum(CASE WHEN prev_es IS NULL OR es - prev_es > {_GAP_S} THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY es, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM t
), g AS (
  SELECT user_id, sess_id, count(*) AS n_events, max(es) - min(es) AS dur_s
  FROM s GROUP BY user_id, sess_id
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       CAST(max(n_events) AS BIGINT) AS max_session_events,
       round(avg(dur_s), 2) AS avg_session_secs
FROM g GROUP BY user_id ORDER BY user_id
"""


@register("rel_sessionize_events", _SESSIONIZE_SQL)
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): lag over (user, time) finds
    30-minute inactivity gaps, a conditional cumulative sum numbers the
    sessions, then a per-user profile. The batch twin of the streaming
    ``session_window`` queries — one shuffle on user_id covers both window
    passes (same partitioning, compatible ordering) plus the final rollup."""
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "event_id", "ts"])
    ev = ev.withColumn("es", F.unix_timestamp("ts"))
    # BOTH windows order by (es, event_id) — the lag and the cumulative
    # sum must see rows identically, or an event sharing a floor-second
    # with a session boundary could land in the wrong session depending
    # on tie order (the oracle mirrors the same keys).
    w_lag = W.partitionBy("user_id").orderBy("es", "event_id")
    w_cum = (
        W.partitionBy("user_id")
        .orderBy("es", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    starts = F.when(
        F.col("prev_es").isNull() | (F.col("es") - F.col("prev_es") > _GAP_S), 1
    ).otherwise(0)
    sessions = (
        ev.withColumn("prev_es", F.lag("es").over(w_lag))
        .withColumn("sess_id", F.sum(starts).over(w_cum))
        .groupBy("user_id", "sess_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.max("es") - F.min("es")).alias("dur_s"),
        )
    )
    return (
        sessions.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.max("n_events").cast("long").alias("max_session_events"),
            F.round(F.avg("dur_s"), 2).alias("avg_session_secs"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# rel_scalar_subquery_q17 — correlated scalar subquery, decorrelated
# ---------------------------------------------------------------------------

# One string, two engines. Exactness note: l_quantity is integral-valued
# (TPC-H contract), so each part's avg is an exactly-summed rational and
# the `<` cut agrees bit-for-bit regardless of either engine's summation
# order — no epsilon anywhere in the predicate.
_Q17_SQL = """
SELECT p.p_brand,
       CAST(count(*) AS BIGINT) AS n_small_lots,
       round(sum(l.l_extendedprice), 2) AS small_lot_revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_quantity < (
  SELECT 0.5 * avg(l2.l_quantity)
  FROM lineitem l2
  WHERE l2.l_partkey = l.l_partkey
)
GROUP BY p.p_brand
ORDER BY p.p_brand
"""


@register("rel_scalar_subquery_q17", _Q17_SQL)
def q_scalar_subquery_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-lot revenue by brand — the correlated-scalar-subquery front
    door (TPC-H Q17 shape on the fixture's columns).

    Catalyst decorrelates the subquery into avg-per-partkey + an
    equi-join back onto lineitem (verify: the optimized plan has an
    Aggregate on l_partkey feeding a join, no per-row re-scan), then
    joins the broadcast-sized part dim. At 100 TB that is two scans of
    lineitem + one partkey-shuffle — the same cost as writing the
    two-pass query by hand, with the optimizer deriving it from the
    declarative form. (Reference contrast: expressing this takes two
    chained MapReduce jobs with a manual side-channel for the per-part
    averages — coordinator.go:126-141 runs exactly one map+reduce.)"""
    register_views(spark, sf_dir, ("lineitem", "part"))
    return spark.sql(_Q17_SQL)


# ---------------------------------------------------------------------------
# rel_funnel_time_bounded — conversion inside a 30-minute window
# ---------------------------------------------------------------------------
_FUNNEL_STEPS = ["view", "click", "purchase"]
_FUNNEL_SPAN_MIN = 30


def _funnel_step_cte(prev: str, cur: str, step: str) -> str:
    """One chained bounded funnel step — tests/test_funnel.py's draft,
    verbatim (strictly-after + first-entry-anchored span)."""
    return f"""{cur} AS (
  SELECT e.user_id, min(e.ts) AS t, p.t0 AS t0
  FROM ev e JOIN {prev} p ON e.user_id = p.user_id
  WHERE e.event_type = '{step}' AND e.ts > p.t
    AND e.ts <= p.t0 + INTERVAL '{_FUNNEL_SPAN_MIN} minutes'
  GROUP BY e.user_id, p.t0
)"""


_FUNNEL_TB_SQL = (
    f"""
WITH ev AS (
  SELECT user_id, ts, event_type FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
), s1 AS (
  SELECT user_id, min(ts) AS t, min(ts) AS t0
  FROM ev WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY user_id
), """
    + ", ".join(
        _funnel_step_cte(f"s{i}", f"s{i + 1}", s)
        for i, s in enumerate(_FUNNEL_STEPS[1:], start=1)
    )
    + ", counts AS ("
    + " UNION ALL ".join(
        f"SELECT {i + 1} AS step_idx, '{s}' AS step, "
        f"(SELECT CAST(count(*) AS BIGINT) FROM s{i + 1}) AS n_users"
        for i, s in enumerate(_FUNNEL_STEPS)
    )
    + """)
SELECT step_idx, step, n_users,
       coalesce(round(CAST(n_users AS DOUBLE)
             / nullif((SELECT n_users FROM counts WHERE step_idx = 1), 0),
             6), 0.0) AS frac_of_first
FROM counts ORDER BY step_idx
"""
)


@register("rel_funnel_time_bounded", _FUNNEL_TB_SQL)
def q_funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase conversion where every later step lands
    within 30 minutes of the user's FIRST view (the industry
    first-arrival anchor, documented on the operator): per step the
    surviving user count and the fraction of funnel entrants. Scale
    shape is rel_funnel_conversion's (one filtered min-aggregate + one user-sized
    equi-join per step, stages only shrink), with the span condition
    riding the existing join — no extra shuffle. Empty-input parity
    (ADVICE r15): a fully-filtered events relation still emits 3 rows
    on BOTH engines (one-row aggregates / scalar subqueries count 0),
    so the oracle wraps the division in coalesce(..., 0.0) to match
    the operator's pinned frac_of_first=0.0 on a zero-entrant funnel."""
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "ts", "event_type"])
    return funnel_conversion(
        ev,
        _FUNNEL_STEPS,
        max_span=f"{_FUNNEL_SPAN_MIN} minutes",
    )


# ---------------------------------------------------------------------------
# rel_histogram_equi_width
# ---------------------------------------------------------------------------
_N_BUCKETS = 16

_HIST_SQL = f"""
WITH mm AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders),
b AS (
  SELECT CAST(least({_N_BUCKETS - 1}, floor(((o_totalprice - mn) / nullif(mx - mn, 0)) * {_N_BUCKETS}.0)) AS BIGINT) AS bucket,
         o_totalprice, mn, mx
  FROM orders CROSS JOIN mm
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(mn + CAST(bucket AS DOUBLE) * ((mx - mn) / {_N_BUCKETS}.0), 2) AS lo,
       round(mn + (CAST(bucket AS DOUBLE) + 1.0) * ((mx - mn) / {_N_BUCKETS}.0), 2) AS hi,
       round(sum(o_totalprice), 2) AS revenue
FROM b
GROUP BY bucket, mn, mx
ORDER BY bucket
"""


@register("rel_histogram_equi_width", _HIST_SQL)
def q_histogram_equi_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bucket equi-width histogram of o_totalprice with explicit
    bucket bounds. Shape: 1-row min/max aggregate broadcast back onto
    the scan (no second full-table pass materializes anything), then
    one 16-row rollup — the same two-job profile at 100 TB."""
    orders = load_table(spark, sf_dir, "orders", columns=["o_totalprice"])
    mm = orders.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    v, mn, mx = F.col("o_totalprice"), F.col("mn"), F.col("mx")
    nb = float(_N_BUCKETS)
    # nullif on the range: a constant column (mx = mn) must bucket to
    # NULL on both engines — unguarded, Spark's non-ANSI x/0 is NULL but
    # DuckDB's IEEE division is NaN (ADVICE-r8 class, proactive)
    bucket = F.least(
        F.lit(_N_BUCKETS - 1),
        F.floor(((v - mn) / F.nullif(mx - mn, F.lit(0))) * nb),
    ).cast("long")
    return (
        orders.crossJoin(F.broadcast(mm))
        .select(bucket.alias("bucket"), "o_totalprice", "mn", "mx")
        .groupBy("bucket", "mn", "mx")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .select(
            "bucket",
            "n_orders",
            F.round(mn + F.col("bucket").cast("double") * ((mx - mn) / nb), 2).alias("lo"),
            F.round(mn + (F.col("bucket").cast("double") + 1.0) * ((mx - mn) / nb), 2).alias("hi"),
            "revenue",
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# rel_window_cume_ntile
# ---------------------------------------------------------------------------
_CUME_SQL = """
SELECT c_custkey, c_mktsegment,
       ntile(4) OVER w AS quartile,
       round(cume_dist() OVER w, 6) AS cume,
       round(percent_rank() OVER w, 6) AS pct_rank
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC NULLS LAST, c_custkey)
ORDER BY c_custkey
"""


@register("rel_window_cume_ntile", _CUME_SQL)
def q_window_cume_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window family — ntile(4) quartile, cume_dist,
    percent_rank — over customers by account balance within market
    segment. All three share one window spec, so the plan carries ONE
    exchange and ONE sort; the (c_acctbal, c_custkey) order is unique,
    making every rank deterministic."""
    cust = load_table(
        spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment", "c_acctbal"]
    )
    # asc_nulls_last: a NULL c_acctbal must rank LAST on both engines
    # (Spark ASC defaults NULLS FIRST, DuckDB NULLS LAST — the NULL-ordering class)
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc_nulls_last(), "c_custkey"
    )
    return (
        cust.select(
            "c_custkey",
            "c_mktsegment",
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# rel_histogram_equi_depth — rank-assigned deciles, spill-safe per group
# ---------------------------------------------------------------------------
_EQUI_DEPTH_SQL = """
WITH r AS (
  SELECT o_orderpriority AS priority, o_totalprice AS v,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice ASC NULLS LAST, o_orderkey) AS rn,
         count(*) OVER (PARTITION BY o_orderpriority) AS cnt
  FROM orders
)
SELECT priority,
       CAST(((rn - 1) * 10) // cnt + 1 AS INT) AS decile,
       CAST(count(*) AS BIGINT) AS n,
       round(min(v), 2) AS lo,
       round(max(v), 2) AS hi,
       round(avg(v), 4) AS avg_value
FROM r
GROUP BY priority, decile
ORDER BY priority, decile
"""


@register("rel_histogram_equi_depth", _EQUI_DEPTH_SQL)
def q_histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) histogram of order value per priority:
    bucket by rank — decile = ⌊(rn−1)·10 / n⌋ + 1 over the
    (value, key)-ordered rows — then per-bucket count/min/max/mean.

    ``rel_histogram_equi_width``'s dual: equal POPULATION per bucket
    instead of equal width, the form quantile-calibration and
    monotonic-binning steps need. The per-group sort runs in Spark's
    disk-backed external sorter (``agg_quantiles``'s spill-safe
    posture — groups parallelize across executors and no task buffers
    a group in memory); the per-group counts ride in via a broadcast
    join rather than an unbounded-frame count window (measured 2×
    slower and memory-buffering there). Bucket ids are exact integer
    division on both engines — no float in the assignment. At 100 TB
    a GLOBAL equi-depth histogram should instead take cutpoints from
    ``approx_percentile`` (``agg_approx_quantiles``) and bucket
    map-only; this exact form is the per-group workhorse."""
    orders = load_table(
        spark, sf_dir, "orders",
        columns=["o_orderkey", "o_orderpriority", "o_totalprice"],
    )
    cnts = orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").alias("cnt")
    )
    r = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").alias("v"),
        F.row_number()
        # asc_nulls_last mirrors DuckDB's ASC default (the NULL-ordering class) —
        # o_totalprice is non-null by TPC-H contract, pinned for free
        .over(
            W.partitionBy("o_orderpriority").orderBy(
                F.col("o_totalprice").asc_nulls_last(), "o_orderkey"
            )
        )
        .alias("rn"),
    ).join(F.broadcast(cnts), "priority")
    decile = F.expr("CAST(((rn - 1) * 10) DIV cnt AS INT) + 1").alias("decile")
    return (
        r.select("priority", "v", decile)
        .groupBy("priority", "decile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("v"), 2).alias("lo"),
            F.round(F.max("v"), 2).alias("hi"),
            F.round(F.avg("v"), 4).alias("avg_value"),
        )
        .orderBy("priority", "decile")
    )


# ---------------------------------------------------------------------------
# rel_skew_profile — diagnose key skew before choosing a join strategy
# ---------------------------------------------------------------------------
_SKEW_TOP = 5

_SKEW_SQL = f"""
WITH c AS (
  SELECT l_suppkey AS suppkey, CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1
),
t AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n_keys
  FROM c
)
SELECT c.suppkey, c.cnt,
       round(CAST(c.cnt AS DOUBLE) / CAST(t.total AS DOUBLE), 6) AS share,
       round(CAST(c.cnt AS DOUBLE) * CAST(t.n_keys AS DOUBLE)
             / CAST(t.total AS DOUBLE), 6) AS skew_ratio
FROM c CROSS JOIN t
ORDER BY c.cnt DESC, c.suppkey
LIMIT {_SKEW_TOP}
"""


@register("rel_skew_profile", _SKEW_SQL)
def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The heaviest join keys of lineitem.l_suppkey with their share of
    all rows and their skew ratio vs a uniform spread (cnt·k / total).

    The diagnostic a 100 TB operator runs BEFORE a big join: a
    skew_ratio near 1 says hash partitioning balances; ≫1 names the
    keys that need ``skew_salted_join``'s salting or AQE's skew split.
    Two chained partial+final aggregates (per-key counts, then one-row
    totals) and a broadcast of the one-row totals back onto the counts;
    the top-k is TakeOrderedAndProject — per-partition heaps, never a
    global sort. Ratios divide exact integer operands, so both engines
    produce the identical double before rounding."""
    li = load_table(spark, sf_dir, "lineitem", columns=["l_suppkey"])
    c = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.count("*").alias("cnt")
    )
    t = c.agg(
        F.sum("cnt").alias("total"), F.count("*").alias("n_keys")
    )
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "suppkey",
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("total").cast("double"), 6)
            .alias("share"),
            F.round(
                F.col("cnt").cast("double") * F.col("n_keys").cast("double")
                / F.col("total").cast("double"),
                6,
            ).alias("skew_ratio"),
        )
        .orderBy(F.desc("cnt"), "suppkey")
        .limit(_SKEW_TOP)
    )


# ---------------------------------------------------------------------------
# rel_snapshot_diff — full-outer reconciliation of two table versions
# ---------------------------------------------------------------------------

# The two "snapshots" are deterministic md5 buckets of orders (the same
# bucketing primitive as pipe_hash_split): v1 = buckets 0-94, v2 =
# buckets 5-99 with the status field mutated on buckets 5-14. So the
# expected classes are: added = 95-99, removed = 0-4, changed = 5-14,
# unchanged = 15-94 — every class non-empty by construction.
_DIFF_SQL = f"""
WITH b AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority,
         {md5_bucket32_sql("CAST(o_orderkey AS VARCHAR)")} % 100 AS bk
  FROM orders
),
v1 AS (
  SELECT o_orderkey AS k, o_orderstatus AS s, o_totalprice AS p, o_orderpriority AS pr
  FROM b WHERE bk < 95
),
v2 AS (
  SELECT o_orderkey AS k,
         CASE WHEN bk < 15 THEN 'X' ELSE o_orderstatus END AS s,
         o_totalprice AS p, o_orderpriority AS pr
  FROM b WHERE bk >= 5
)
SELECT CASE WHEN v1.k IS NULL THEN 'added'
            WHEN v2.k IS NULL THEN 'removed'
            WHEN v1.s <> v2.s OR v1.p <> v2.p OR v1.pr <> v2.pr THEN 'changed'
            ELSE 'unchanged' END AS diff_class,
       CAST(count(*) AS BIGINT) AS n
FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
GROUP BY 1
ORDER BY 1
"""


@register("rel_snapshot_diff", _DIFF_SQL)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconcile two snapshots of the orders table: classify every key
    as added / removed / changed / unchanged and count each class.

    The audit operation behind every incremental pipeline — "what did
    yesterday's run change?" — and the read-side complement of
    ``sink_merge_upsert``. ONE full-outer equi-join on the unique key
    with a struct comparison for the changed test, then a tiny
    aggregate: the join key is uniformly distributed (skew-free) and
    AQE sizes the exchange; in production both snapshots live in the
    bucketed layout ``sink_bucketed_join_roundtrip`` demonstrates,
    making the daily diff shuffle-free. The synthetic v1/v2 split uses
    the catalog's standard md5 bucketing so both engines carve
    bit-identical snapshots."""
    orders = load_table(
        spark, sf_dir, "orders",
        columns=["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"],
    )
    bk = md5_bucket32(F.col("o_orderkey").cast("string")) % 100
    b = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("s"),
        F.col("o_totalprice").alias("p"),
        F.col("o_orderpriority").alias("pr"),
        bk.alias("bk"),
    )
    v1 = b.where(F.col("bk") < 95).select("k", "s", "p", "pr")
    v2 = b.where(F.col("bk") >= 5).select(
        "k",
        F.when(F.col("bk") < 15, F.lit("X")).otherwise(F.col("s")).alias("s"),
        "p",
        "pr",
    )
    j = v1.alias("a").join(v2.alias("b"), F.col("a.k") == F.col("b.k"), "full_outer")
    changed = (
        (F.col("a.s") != F.col("b.s"))
        | (F.col("a.p") != F.col("b.p"))
        | (F.col("a.pr") != F.col("b.pr"))
    )
    cls = (
        F.when(F.col("a.k").isNull(), "added")
        .when(F.col("b.k").isNull(), "removed")
        .when(changed, "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(cls.alias("diff_class"))
        .groupBy("diff_class")
        .agg(F.count("*").alias("n"))
        .orderBy("diff_class")
    )


# ---------------------------------------------------------------------------
# rel_pit_join_scd2 — facts joined to their point-in-time dimension state
# ---------------------------------------------------------------------------
_PIT_SQL = """
WITH nc AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events WHERE event_type <> 'click'
),
iv AS (
  SELECT user_id, event_type AS state,
         CAST(epoch_us(ts) AS BIGINT) AS from_us,
         CAST(epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
              AS BIGINT) AS to_us
  FROM nc WHERE prev_type IS NULL OR prev_type <> event_type
),
f AS (
  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, value
  FROM events WHERE event_type = 'click'
)
SELECT coalesce(iv.state, 'none') AS state,
       CAST(count(*) AS BIGINT) AS n_clicks,
       round(sum(f.value), 2) AS total_value
FROM f
LEFT JOIN iv ON iv.user_id = f.user_id
            AND f.ts_us >= iv.from_us
            AND (iv.to_us IS NULL OR f.ts_us < iv.to_us)
GROUP BY 1
ORDER BY 1
"""


@register("rel_pit_join_scd2", _PIT_SQL)
def q_pit_join_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: every click is attributed to the dimension
    state (the user's latest non-click event type) whose SCD2 validity
    interval contains the click's timestamp; clicks before any state
    exist report 'none'. Output: per-state click counts and value.

    The interval algebra is ``rel_scd2_intervals``'s (lag change
    detection + lead interval close, ONE exchange+sort); the
    enrichment is an equi-join on user_id with the interval residual
    evaluated inside the join — intervals per user are non-overlapping
    by construction, so each fact matches at most one state and the
    join never amplifies. At 100 TB both sides shuffle once on
    user_id; the dimension side is the COMPACTED interval table (one
    row per state change), not the raw history — the reason SCD2 went
    into the catalog in the first place."""
    ev = load_table(
        spark, sf_dir, "events",
        columns=["event_id", "ts", "user_id", "event_type", "value"],
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nc = ev.where(F.col("event_type") != "click").withColumn(
        "prev_type", F.lag("event_type").over(w)
    )
    iv = (
        nc.where(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .select(
            F.col("user_id").alias("d_user"),
            F.col("event_type").alias("state"),
            F.unix_micros("ts").alias("from_us"),
            F.unix_micros(F.lead("ts").over(w)).alias("to_us"),
        )
    )
    f = ev.where(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    cond = (
        (F.col("d_user") == F.col("user_id"))
        & (F.col("ts_us") >= F.col("from_us"))
        & (F.col("to_us").isNull() | (F.col("ts_us") < F.col("to_us")))
    )
    return (
        f.join(iv, cond, "left")
        .groupBy(F.coalesce(F.col("state"), F.lit("none")).alias("state"))
        .agg(
            F.count("*").alias("n_clicks"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("state")
    )


_BLOOM_CONFS = {
    # pin the rule on explicitly (default varies across Spark minors)
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # fixture-scale stand-in for "the fact scan is huge" (default 10 GB)
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1",
    # headroom over the default 10 MB so size-estimate jitter on the
    # filtered build side can never silently skip filter creation
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    # selective-but-not-broadcastable build side (see module docstring)
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@contextmanager
def _bloom_confs(spark: SparkSession):
    old = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_BLOOM_SQL = """
SELECT l_returnflag,
       count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 250000
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def bloom_pruned_revenue(spark: SparkSession, sf_dir: str, *, require_filter: bool = True) -> DataFrame:
    """Build, verify, and EAGERLY run the Bloom-pruned fact-fact join.

    Returns a localCheckpoint of the result (3 grouped rows) so the
    session confs can be restored immediately — the runtime filter only
    exists in plans optimized while the confs are bound.

    ``require_filter=True`` makes the exhibit self-guarding: if the
    optimizer did NOT inject ``might_contain``/``bloom_filter_agg`` the
    query raises instead of silently degrading into a plain join (the
    same posture as the DPP exhibit's plan guard, which a pytest pins
    too — tests/test_plan_guards.py)."""
    li = load_table(
        spark, sf_dir, "lineitem",
        columns=["l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"],
    )
    orders = load_table(
        spark, sf_dir, "orders",
        columns=["o_orderkey", "o_orderpriority", "o_totalprice"],
    )
    sel = orders.where(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 250000)
    )
    with _bloom_confs(spark):
        out = (
            li.join(sel, li.l_orderkey == sel.o_orderkey)
            .groupBy("l_returnflag")
            .agg(
                F.count("*").alias("n_items"),
                F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            )
            .orderBy("l_returnflag")
        )
        if require_filter:
            opt = out._jdf.queryExecution().optimizedPlan().toString()
            if "bloom_filter_agg" not in opt or "might_contain" not in opt:
                raise RuntimeError("runtime Bloom filter was not injected into the join plan")
        out = checkpoint(out)
    return out


@register("rel_bloom_join_pruned", _BLOOM_SQL)
def q_bloom_join_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by return flag over lineitems of urgent high-value orders,
    with the orders-side predicate runtime-Bloom-pushed into the lineitem
    side (see module docstring). Oracle: the plain two-table join — a
    filter that dropped or duplicated probe rows cannot hash-match."""
    return bloom_pruned_revenue(spark, sf_dir)


_CDC_SQL = """
SELECT user_id,
       CAST(epoch_us(ts) AS BIGINT) AS last_ts_us,
       event_type AS last_type,
       round(value, 2) AS last_value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
ORDER BY user_id
"""


@register("rel_cdc_latest_state", _CDC_SQL)
def q_cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest record per user from the events changelog (CDC compaction).

    Spark side uses max(struct(ts, event_id, payload...)) — an
    aggregate with map-side partial combine, the scale shape; the
    oracle uses the equivalent row_number()=1 formulation (identical
    by the struct's lexicographic order on the unique (ts, event_id))."""
    ev = load_table(
        spark, sf_dir, "events",
        columns=["event_id", "ts", "user_id", "event_type", "value"],
    )
    latest = ev.groupBy("user_id").agg(
        F.max(F.struct("ts", "event_id", "event_type", "value")).alias("s")
    )
    return latest.select(
        "user_id",
        F.unix_micros("s.ts").alias("last_ts_us"),
        F.col("s.event_type").alias("last_type"),
        F.round("s.value", 2).alias("last_value"),
    ).orderBy("user_id")


_SCD2_SQL = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
),
changes AS (
  SELECT user_id, event_type, ts, event_id
  FROM ordered
  WHERE prev_type IS NULL OR prev_type <> event_type
),
iv AS (
  SELECT user_id, event_type,
         CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
         CAST(coalesce(
           epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)), -1
         ) AS BIGINT) AS valid_to_us
  FROM changes
)
SELECT user_id, event_type, valid_from_us, valid_to_us,
       valid_to_us = -1 AS is_current
FROM iv
ORDER BY user_id, valid_from_us
"""


@register("rel_scd2_intervals", _SCD2_SQL)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 historization of each user's event_type attribute:
    one row per change, with [valid_from, valid_to) epoch-µs validity
    and an is_current flag (open interval encoded as -1).

    lag (change detection) and lead (interval close) use the same
    (partitionBy user_id, orderBy ts/event_id) spec, so the plan
    contains ONE exchange and one sort feeding both windows."""
    ev = load_table(
        spark, sf_dir, "events", columns=["event_id", "ts", "user_id", "event_type"]
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
        .drop("prev_type")
    )
    iv = changes.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("valid_from_us"),
        F.coalesce(F.unix_micros(F.lead("ts").over(w)), F.lit(-1)).alias("valid_to_us"),
    )
    return iv.select(
        "user_id",
        "event_type",
        "valid_from_us",
        "valid_to_us",
        (F.col("valid_to_us") == -1).alias("is_current"),
    ).orderBy("user_id", "valid_from_us")


_FUNNEL_SQL = """
WITH v AS (
  SELECT user_id, CAST(epoch_us(min(ts)) AS BIGINT) AS t_us
  FROM events WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT e.user_id, CAST(epoch_us(min(e.ts)) AS BIGINT) AS t_us, min(v.t_us) AS prev_us
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND CAST(epoch_us(e.ts) AS BIGINT) > v.t_us
  GROUP BY 1
),
p AS (
  SELECT e.user_id, CAST(epoch_us(min(e.ts)) AS BIGINT) AS t_us, min(c.t_us) AS prev_us
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND CAST(epoch_us(e.ts) AS BIGINT) > c.t_us
  GROUP BY 1
)
SELECT * FROM (
  SELECT 1 AS step, 'view' AS stage, CAST(count(*) AS BIGINT) AS n_users,
         CAST(-1.0 AS DOUBLE) AS avg_gap_s
  FROM v
  UNION ALL
  SELECT 2, 'click', CAST(count(*) AS BIGINT),
         round(avg((t_us - prev_us) / CAST(1000000.0 AS DOUBLE)), 4)
  FROM c
  UNION ALL
  SELECT 3, 'purchase', CAST(count(*) AS BIGINT),
         round(avg((t_us - prev_us) / CAST(1000000.0 AS DOUBLE)), 4)
  FROM p
)
ORDER BY step
"""


@register("rel_funnel_conversion", _FUNNEL_SQL)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase conversion funnel: per stage, the user
    count still converting and the mean seconds since the previous
    stage (-1.0 for the entry stage). Each stage anchors on the FIRST
    qualifying event strictly after the previous stage's anchor."""
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "ts", "event_type"])
    us = F.unix_micros("ts")

    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(us).alias("t_us"))
    )

    def next_stage(prev: DataFrame, event_type: str) -> DataFrame:
        e = ev.where(F.col("event_type") == event_type).select(
            "user_id", us.alias("e_us")
        )
        p = prev.select("user_id", F.col("t_us").alias("p_us"))
        return (
            e.join(p, "user_id")
            .where(F.col("e_us") > F.col("p_us"))
            .groupBy("user_id")
            .agg(F.min("e_us").alias("t_us"), F.min("p_us").alias("prev_us"))
        )

    c = next_stage(v, "click")
    p = next_stage(c, "purchase")

    def stage_row(df: DataFrame, step: int, name: str, with_gap: bool) -> DataFrame:
        if with_gap:
            agg_df = df.agg(
                F.count("*").alias("n_users"),
                F.round(
                    F.avg((F.col("t_us") - F.col("prev_us")) / 1000000.0), 4
                ).alias("avg_gap_s"),
            )
        else:
            agg_df = df.agg(F.count("*").alias("n_users")).withColumn(
                "avg_gap_s", F.lit(-1.0)
            )
        return agg_df.select(
            F.lit(step).alias("step"),
            F.lit(name).alias("stage"),
            "n_users",
            "avg_gap_s",
        )

    return (
        stage_row(v, 1, "view", False)
        .unionAll(stage_row(c, 2, "click", True))
        .unionAll(stage_row(p, 3, "purchase", True))
        .orderBy("step")
    )


# ---------------------------------------------------------------------------
# rel_join_cardinality_exact — |lineitem ⋈ orders| without the join
# ---------------------------------------------------------------------------

# The oracle MATERIALIZES the join and counts it — the strongest possible
# independence from the count-relation-product plan under test.
_CARD_EXACT_SQL = """
SELECT CAST(count(*) AS BIGINT) AS cardinality
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
"""


@register("rel_join_cardinality_exact", _CARD_EXACT_SQL)
def q_join_cardinality_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|lineitem ⋈ orders| on the order key from the count-relation
    product Σ_k cA(k)·cB(k) — the join's size computed without ever
    building a joined row (the planner diagnostic one step before
    ``rel_skew_profile``'s skew answer). The fact-fact join whose output
    a 100 TB planner most wants to price is exactly the one it least
    wants to materialize; DuckDB materializes it at gate scale to prove
    the product is the real count."""
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey"])
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderkey"])
    return join_cardinality_exact(li, orders, "l_orderkey", "o_orderkey")


# ---------------------------------------------------------------------------
# rel_join_cardinality_sampled — the coordinated key-hash estimate
# ---------------------------------------------------------------------------
_SAMPLE_PCT = 10

# The oracle re-derives the coordinated md5 key sample: both sides keep
# exactly the keys with md5_bucket32(key) % 100 < 10, per-key counts are
# taken on the surviving rows, and the integer scale factor keeps the
# whole pipeline BIGINT — bit-for-bit, not band-checked.
_CARD_SAMPLED_SQL = f"""
WITH ca AS (
  SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS cnt
  FROM orders
  WHERE o_custkey IS NOT NULL
    AND {md5_bucket32_sql("CAST(o_custkey AS VARCHAR)")} % 100 < {_SAMPLE_PCT}
  GROUP BY 1
), cb AS (
  SELECT c_custkey AS k, CAST(count(*) AS BIGINT) AS cnt
  FROM customer
  WHERE c_custkey IS NOT NULL
    AND {md5_bucket32_sql("CAST(c_custkey AS VARCHAR)")} % 100 < {_SAMPLE_PCT}
  GROUP BY 1
)
SELECT CAST(coalesce(sum(ca.cnt * cb.cnt), 0) * {100 // _SAMPLE_PCT} AS BIGINT)
         AS est_cardinality
FROM ca JOIN cb USING (k)
"""


@register("rel_join_cardinality_sampled", _CARD_SAMPLED_SQL)
def q_join_cardinality_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The coordinated 10% key-hash estimate of |orders ⋈ customer| —
    the join the r12 scale probe priced (−2.3%/−0.8% relative error at
    sf0.1/10x). Sampling KEYS coordinately keeps each sampled key's
    count product exact; the md5 filter reaches both scans
    (plan-guarded), so the estimator is sublinear in the key dimension
    and never shuffles a fact row."""
    orders = load_table(spark, sf_dir, "orders", columns=["o_custkey"])
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey"])
    return join_cardinality_estimate(
        orders, cust, "o_custkey", "c_custkey", sample_pct=_SAMPLE_PCT
    )


_BANDS = [("budget", 0.0, 20000.0), ("mid", 20000.0, 60000.0), ("premium", 60000.0, 1e12)]

_RANGE_SQL = """
SELECT band, count(*) AS cnt, round(sum(l_extendedprice), 2) AS total
FROM lineitem
JOIN (VALUES ('budget', 0.0, 20000.0),
             ('mid', 20000.0, 60000.0),
             ('premium', 60000.0, 1e12)) AS bands(band, lo, hi)
  ON l_extendedprice >= lo AND l_extendedprice < hi
GROUP BY band
ORDER BY band
"""


@register("rel_range_join_price_bands", _RANGE_SQL)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: prices into [lo, hi) intervals via broadcast
    nested loop — the correct plan for a 3-row band table."""
    li = load_table(spark, sf_dir, "lineitem", columns=["l_extendedprice"])
    bands = spark.createDataFrame(_BANDS, ["band", "lo", "hi"])
    return (
        ASOF.range_join(li, bands, "l_extendedprice")
        .groupBy("band")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("l_extendedprice"), 2).alias("total"))
        .orderBy("band")
    )


_BAG_SET_SQL = """
SELECT 'except_all' AS op, CAST(count(*) AS BIGINT) AS cnt FROM
  (SELECT l_orderkey FROM lineitem EXCEPT ALL SELECT o_orderkey FROM orders)
UNION ALL
SELECT 'intersect_all' AS op, CAST(count(*) AS BIGINT) AS cnt FROM
  (SELECT l_orderkey FROM lineitem INTERSECT ALL SELECT o_orderkey FROM orders)
UNION ALL
SELECT 'union_all' AS op, CAST(count(*) AS BIGINT) AS cnt FROM
  (SELECT l_orderkey FROM lineitem UNION ALL SELECT o_orderkey FROM orders)
ORDER BY op
"""


@register("rel_set_ops_bag", _BAG_SET_SQL)
def q_set_ops_bag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set ops (multiplicity-aware ALL variants) on the
    duplicate-heavy orderkey multisets."""
    from mapreduce_system_spark.caches import tracked_cache
    from mapreduce_system_spark.operators.relational import tagged_op_counts

    li = tracked_cache(load_table(spark, sf_dir, "lineitem", columns=["l_orderkey"]))
    ok = tracked_cache(
        load_table(spark, sf_dir, "orders", columns=["o_orderkey"]).withColumnRenamed(
            "o_orderkey", "l_orderkey"
        )
    )
    return tagged_op_counts(
        [
            ("except_all", li.exceptAll(ok)),
            ("intersect_all", li.intersectAll(ok)),
            ("union_all", li.unionAll(ok)),
        ]
    )
