"""Temporal queries: date/JSON/math scalar functions, as-of joins and
time-series resampling over the events stream.

Covers the date/json scalar-function surface (SURVEY.md §2b: the
``events.props`` JSON column and the two timestamp columns; reference
README.MD:82's generic-UDF surface re-expressed as JVM scalar
expressions) and the as-of joins (§7 P4). The as-of oracle uses DuckDB's
native ASOF JOIN — semantics (latest right with right_time <= left_time)
match the union+window formulation in ``operators.asof`` exactly once the
right side is unique per (key, time). Float discipline per registry.py:
DOUBLE casts before arithmetic, identical parenthesization both sides,
rounded outputs, exact-integer tie-breaks on every ranking, durations in
exact epoch-µs longs.

- ``asof_join_salted_events`` — the two-phase skew-resistant as-of variant
  (operators/asof.py::asof_join_salted) run end-to-end on the same
  events×orders workload — and the same DuckDB native ASOF oracle — as
  ``asof_join_events_orders``: the salted rewrite must be observationally
  identical to the plain one, so sharing the oracle IS the point.
- ``asof_join_nearest`` — nearest-in-time as-of join (pandas
  ``merge_asof(direction='nearest')`` semantics, backward wins ties), via
  operators/asof.py::asof_join_nearest: backward and forward propagation
  over ONE union window (one exchange, two sorts), gap comparison in exact
  epoch-µs longs. The DuckDB twin composes two native ASOF JOINs (>= and
  <=) and picks per row — a genuinely independent formulation of the same
  semantics.
- ``fn_ewma_user_value`` — exponentially weighted moving average of each
  user's recent event values. EWMA looks inherently sequential (state
  folded event-by-event); the closed form over the K latest events turns
  it into one ranked window + one weighted aggregation.
- ``fn_time_weighted_avg`` — TWAP per user: each event's value weighted by
  its exact µs holding duration (lead-to-next). Duration-weighted where
  EWMA is recency-weighted.
- ``fn_moving_window_stats`` — trailing 7-row moving mean/min/max per
  user: the rolling-feature primitive for event-stream feature
  engineering, one ROWS-frame window over one exchange+sort.
- ``fn_date_gap_fill_daily`` — time-series resampling: a calendar spine
  (``sequence`` + ``explode``) left-joined to daily per-type counts so
  missing days surface as explicit zeros. The events table aggregates
  FIRST (one shuffle on (type, day)); the spine is days x types —
  broadcast-sized at any corpus scale since it grows with the calendar,
  not the data.
- ``fn_linear_interpolate_daily`` — calendar-spine resampling with LINEAR
  interpolation between bracketing observations (gap-fill's sibling:
  zeros are right for counts, interpolation for level series). Two
  ignore-nulls window passes over one exchange.
- ``fn_ohlc_hourly`` — OHLC (open/high/low/close) bars per event type and
  hour: the time-series compaction every metrics store performs.
  Open/close come from ``min(struct)`` / ``max(struct)`` over the unique
  (ts, event_id) order — ordinary aggregates with map-side partial
  combine, NOT a window sort of the raw stream (the same argmax algebra
  as ``rel_cdc_latest_state``).
- ``fn_cohort_retention`` — weekly cohort retention triangle over the
  events stream: users cohorted by first-activity week, per-offset active
  counts and retention ratios. The canonical product-analytics join of two
  aggregates; every ratio divides exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from mapreduce_system_spark.operators import asof as ASOF
from mapreduce_system_spark.operators.asof import asof_join_nearest, latest_per_key_time
from mapreduce_system_spark.registry import register
from mapreduce_system_spark.sources.tables import load_table

_JSON_SQL = """
WITH x AS (
  SELECT event_type,
         CASE WHEN json_type(TRY_CAST(props AS JSON), '$.k') IN ('BIGINT', 'UBIGINT')
              THEN TRY_CAST(json_extract(props, '$.k') AS INT) END AS k
  FROM events
)
SELECT event_type,
       count(*) AS cnt,
       CAST(min(k) AS INT) AS min_k,
       CAST(max(k) AS INT) AS max_k,
       round(avg(k), 4) AS avg_k
FROM x
GROUP BY event_type
ORDER BY event_type
"""


@register("fn_json_props", _JSON_SQL)
def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the events.props JSON payload (from_json → typed struct) and
    aggregate the extracted field — JSON parsing stays JVM-side.

    The oracle mirrors from_json's STRICT typed semantics with a
    json_type gate: an int field is NULL unless the JSON value is an
    integer NUMBER — a string-encoded '"5"' or a 5.5 is NULL on both
    engines (a bare CAST(json_extract ...) in DuckDB would parse '"5"'
    to 5 and diverge — the latent quoted-number class found in the r9
    review)."""
    ev = load_table(spark, sf_dir, "events", columns=["event_type", "props"])
    schema = T.StructType([T.StructField("k", T.IntegerType())])
    return (
        ev.select("event_type", F.from_json("props", schema).getField("k").alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
        )
        .orderBy("event_type")
    )


_MONTHLY_SQL = """
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
       count(*) AS cnt,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY month
ORDER BY month
"""


@register("fn_date_trunc_monthly", _MONTHLY_SQL)
def q_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly order rollup via date_trunc — the partition-pruning shape
    (at scale, month would be the physical partition key)."""
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderdate", "o_totalprice"])
    return (
        orders.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")
        )
        .agg(F.count("*").alias("cnt"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("month")
    )


_HOURLY_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
       event_type,
       count(*) AS cnt,
       round(avg(value), 6) AS avg_value
FROM events
GROUP BY hour, event_type
ORDER BY hour, event_type
"""


@register("fn_date_trunc_hourly_events", _HOURLY_SQL)
def q_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event rollup — exercises the nanosecond-parquet → microsecond
    timestamp path end to end (sources.tables nanosAsLong handling)."""
    ev = load_table(spark, sf_dir, "events", columns=["ts", "event_type", "value"])
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH").alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("cnt"), F.round(F.avg("value"), 6).alias("avg_value"))
        .orderBy("hour", "event_type")
    )


_ASOF_SQL = """
WITH r AS (
  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey, o_orderdate
                            ORDER BY o_orderkey DESC) AS rn
  FROM orders
), r1 AS (SELECT * FROM r WHERE rn = 1)
SELECT e.event_id, e.user_id, o.o_orderkey AS last_orderkey,
       round(o.o_totalprice, 2) AS last_price
FROM events e
ASOF LEFT JOIN r1 o
  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
ORDER BY e.event_id
"""


@register("asof_join_events_orders", _ASOF_SQL)
def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks up the customer's most recent order at
    event time (union + keyed window — one shuffle, per-key sort)."""
    ev = load_table(spark, sf_dir, "events", columns=["event_id", "user_id", "ts"])
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"]
    )
    right = ASOF.latest_per_key_time(orders, "o_custkey", "o_orderdate", "o_orderkey").withColumnRenamed(
        "o_custkey", "user_id"
    )
    out = ASOF.asof_join(
        ev,
        right,
        on="user_id",
        left_time="ts",
        right_time="o_orderdate",
        payload_cols=["o_orderkey", "o_totalprice"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("last_orderkey"),
        F.round("o_totalprice", 2).alias("last_price"),
    ).orderBy("event_id")


# Math scalar surface: each expression must agree to 6 decimals after the
# identical formula on both engines (ln/sqrt/exp/pow/abs/sign/floor/ceil
# over the lineitem price columns).
_MATH_SQL = """
WITH m AS (
  SELECT l_returnflag,
         sqrt(l_extendedprice) AS sq,
         ln(l_extendedprice + 1.0) AS lg,
         exp(l_discount) AS ex,
         pow(1.0 + l_tax, 2) AS pw,
         abs(l_extendedprice - l_quantity * 1000.0) AS ab,
         sign(l_extendedprice - l_quantity * 1000.0) AS sg,
         floor(l_extendedprice / 100.0) AS fl,
         ceil(l_extendedprice / 100.0) AS ce
  FROM lineitem
)
SELECT l_returnflag,
       round(avg(sq), 6) AS avg_sqrt,
       round(avg(lg), 6) AS avg_log,
       round(avg(ex), 6) AS avg_exp,
       round(avg(pw), 6) AS avg_pow,
       round(avg(ab), 4) AS avg_abs,
       CAST(sum(sg) AS BIGINT) AS sum_sign,
       CAST(sum(fl) AS BIGINT) AS sum_floor,
       CAST(sum(ce) AS BIGINT) AS sum_ceil
FROM m
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("fn_math_scalar_profile", _MATH_SQL)
def q_math_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar-function surface (sqrt/ln/exp/pow/abs/sign/floor/ceil)
    over the lineitem measures — pure JVM column expressions inside one
    codegen stage, aggregated per return flag."""
    li = load_table(
        spark, sf_dir, "lineitem",
        columns=["l_returnflag", "l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )
    diff = F.col("l_extendedprice") - F.col("l_quantity") * 1000.0
    m = li.select(
        "l_returnflag",
        F.sqrt("l_extendedprice").alias("sq"),
        F.log(F.col("l_extendedprice") + 1.0).alias("lg"),
        F.exp("l_discount").alias("ex"),
        F.pow(F.lit(1.0) + F.col("l_tax"), 2).alias("pw"),
        F.abs(diff).alias("ab"),
        F.signum(diff).alias("sg"),
        F.floor(F.col("l_extendedprice") / 100.0).alias("fl"),
        F.ceil(F.col("l_extendedprice") / 100.0).alias("ce"),
    )
    return (
        m.groupBy("l_returnflag")
        .agg(
            F.round(F.avg("sq"), 6).alias("avg_sqrt"),
            F.round(F.avg("lg"), 6).alias("avg_log"),
            F.round(F.avg("ex"), 6).alias("avg_exp"),
            F.round(F.avg("pw"), 6).alias("avg_pow"),
            F.round(F.avg("ab"), 4).alias("avg_abs"),
            F.sum("sg").cast("long").alias("sum_sign"),
            F.sum("fl").cast("long").alias("sum_floor"),
            F.sum("ce").cast("long").alias("sum_ceil"),
        )
        .orderBy("l_returnflag")
    )


# json_valid guard: DuckDB's json_extract_string VALIDATES its input and
# aborts the whole query on a malformed props string, where Spark's
# from_json nulls just that row — the CASE makes malformed rows NULL on
# both engines (caught by tests/test_adversarial_corpus.py; fixture
# props are all well-formed, so fixture hashes are unchanged)
_JSON_MAP_SQL = """
WITH p AS (
  SELECT event_type,
         CASE WHEN json_valid(props) THEN props END AS props
  FROM events
)
SELECT event_type,
       count(*) AS cnt,
       CAST(count(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS with_k,
       CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k
FROM p
GROUP BY event_type
ORDER BY event_type
"""


@register("fn_json_map_props", _JSON_MAP_SQL)
def q_json_map_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-free JSON parsing: props → MapType + element_at — the
    dynamic-payload path when keys aren't known ahead (vs the typed-struct
    path in fn_json_props).

    Parsed as map<string,string> with a per-VALUE cast afterwards: a
    map<string,int> parse nulls the ENTIRE map when any one value isn't
    an int (so one heterogeneous key would blank every other key too,
    diverging from the oracle's per-path json_extract); the string map
    keeps unrelated keys intact and the cast nulls only the non-numeric
    value itself. The per-value cast is try_cast — Spark 4 runs ANSI by
    default, so a plain cast would ABORT the query on the first
    non-numeric value instead of nulling it (the documented contract);
    the oracle's TRY_CAST(json_extract_string ...) has the identical
    per-value semantics, including parsing a string-encoded '"5"'."""
    ev = load_table(spark, sf_dir, "events", columns=["event_type", "props"])
    m = F.from_json("props", "map<string,string>")
    return (
        ev.select("event_type", F.element_at(m, "k").try_cast("int").alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.count("k").alias("with_k"),
            F.sum("k").alias("sum_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# fn_ewma_user_value — EWMA over each user's K latest events, closed form
# ---------------------------------------------------------------------------
_EWMA_K = 32  # truncation horizon: weight 2^-32 ≈ 2e-10 is far below round(6)

# alpha = 0.5 exactly: the weights pow(0.5, i) are exact powers of two, so
# weighting is an exact exponent shift on both engines — the only float
# noise left is summation order, absorbed by round(6).
_EWMA_SQL = f"""
WITH r AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) - 1 AS i
  FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_recent,
       round(max(CASE WHEN i = 0 THEN value END), 6) AS last_value,
       round(sum(value * pow(0.5, i)) / sum(pow(0.5, i)), 6) AS ewma
FROM r
WHERE i < {_EWMA_K}
GROUP BY user_id
ORDER BY user_id
"""


@register("fn_ewma_user_value", _EWMA_SQL)
def q_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (α = 0.5) of the 32 most recent event values.

    The sequential recurrence ewma ← α·x + (1-α)·ewma unrolls to a
    weighted sum with weights (1-α)^i over recency rank i — so the
    whole computation is ONE window (rank within user) + ONE weighted
    aggregation: a single shuffle on user_id. Truncating at K = 32
    both bounds the work per key and caps the numeric tail (dropped
    weight ≤ 2^-32, invisible at the rounded precision); Spark's
    window-group-limit optimization prunes each user's partition to
    the K kept rows during the sort rather than after it."""
    ev = load_table(
        spark, sf_dir, "events", columns=["event_id", "ts", "user_id", "value"]
    )
    i = (
        F.row_number().over(
            W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
        )
        - 1
    ).alias("i")
    r = ev.select("user_id", "value", i).where(F.col("i") < _EWMA_K)
    wgt = F.pow(F.lit(0.5), F.col("i"))
    return (
        r.groupBy("user_id")
        .agg(
            F.count("*").alias("n_recent"),
            F.round(F.max(F.when(F.col("i") == 0, F.col("value"))), 6).alias(
                "last_value"
            ),
            F.round(F.sum(F.col("value") * wgt) / F.sum(wgt), 6).alias("ewma"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# fn_linear_interpolate_daily — spine resampling with linear interpolation
# ---------------------------------------------------------------------------
_INTERP_SQL = """
WITH b AS (SELECT min(CAST(o_orderdate AS DATE)) AS d0,
                  max(CAST(o_orderdate AS DATE)) AS d1 FROM orders),
d AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM b),
p AS (SELECT DISTINCT o_orderpriority AS priority FROM orders),
a AS (SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
             CAST(count(*) AS DOUBLE) AS v
      FROM orders GROUP BY 1, 2),
s AS (
  SELECT p.priority, d.day, a.v
  FROM d CROSS JOIN p
  LEFT JOIN a ON a.priority = p.priority AND a.day = d.day
),
f AS (
  SELECT priority, day, v,
         last_value(v IGNORE NULLS) OVER (
           PARTITION BY priority ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER (
           PARTITION BY priority ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
         first_value(v IGNORE NULLS) OVER (
           PARTITION BY priority ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER (
           PARTITION BY priority ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM s
)
SELECT priority,
       strftime(day, '%Y-%m-%d') AS day,
       CAST(CASE WHEN v IS NOT NULL THEN 0 ELSE 1 END AS INT) AS interpolated,
       round(CASE
         WHEN v IS NOT NULL THEN v
         WHEN pv IS NULL THEN nv
         WHEN nv IS NULL THEN pv
         ELSE pv + (nv - pv) * (CAST(day - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE))
       END, 4) AS count_filled
FROM f
ORDER BY priority, day
"""


@register("fn_linear_interpolate_daily", _INTERP_SQL)
def q_linear_interpolate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily order count per priority on a full calendar spine, with
    missing days LINEARLY interpolated between the bracketing observed
    days (edges carry the nearest observation).

    Gap-fill's sibling for level series. Plan: the fact table
    aggregates first (the only data-sized shuffle); the spine is
    calendar × priority — it grows with TIME, not data, so it is
    broadcast-sized at 100 TB as much as at sf0.001. Both bracketing
    passes (backward last-non-null, forward first-non-null) share one
    (priority, day) partitioning: one exchange, two sorts.

    Exactness by construction: the interpolated series is an INTEGER
    count, so both engines hold bit-identical inputs (no summation-
    order ULP, unlike an avg-of-doubles series, where ~0.1% of rounded
    outputs straddled a half boundary); day gaps compare as exact
    integer days, and the identically-parenthesized interpolation of
    identical doubles is itself identical before the final round."""
    orders_full = load_table(
        spark, sf_dir, "orders", columns=["o_orderdate", "o_orderpriority"]
    )
    actual = orders_full.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(F.count("*").cast("double").alias("v"))
    bounds = orders_full.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    days = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    prios = orders_full.select(
        F.col("o_orderpriority").alias("priority")
    ).distinct()
    spine = days.crossJoin(prios)  # calendar × 5 priorities: tiny
    s = spine.join(actual, ["priority", "day"], "left")
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    wb = (
        W.partitionBy("priority")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wf = (
        W.partitionBy("priority")
        .orderBy("day")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    f = s.select(
        "priority",
        "day",
        "v",
        F.last("v", ignorenulls=True).over(wb).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(wb).alias("pd"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first(obs_day, ignorenulls=True).over(wf).alias("nd"),
    )
    t = F.datediff("day", "pd").cast("double") / F.datediff("nd", "pd").cast("double")
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * t)
    )
    return f.select(
        "priority",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.when(F.col("v").isNotNull(), 0).otherwise(1).cast("int").alias("interpolated"),
        F.round(filled, 4).alias("count_filled"),
    ).orderBy("priority", "day")


# ---------------------------------------------------------------------------
# fn_cohort_retention — weekly cohort triangle over the events stream
# ---------------------------------------------------------------------------
_COHORT_SQL = """
WITH c AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY user_id
),
sizes AS (
  SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
  FROM c GROUP BY cohort_week
),
a AS (
  SELECT DISTINCT e.user_id, c.cohort_week,
         CAST(date_diff('day', c.cohort_week, date_trunc('week', e.ts)) // 7 AS INT)
           AS week_offset
  FROM events e JOIN c ON c.user_id = e.user_id
),
r AS (
  SELECT cohort_week, week_offset, CAST(count(*) AS BIGINT) AS n_active
  FROM a GROUP BY cohort_week, week_offset
)
SELECT strftime(r.cohort_week, '%Y-%m-%d') AS cohort_week,
       r.week_offset, r.n_active, s.cohort_size,
       round(CAST(r.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE), 6)
         AS retention
FROM r JOIN sizes s ON s.cohort_week = r.cohort_week
ORDER BY cohort_week, week_offset
"""


@register("fn_cohort_retention", _COHORT_SQL)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users cohorted by the week of their
    first event; for each (cohort, week offset), how many cohort
    members were active and what fraction of the cohort that is.

    Three aggregates, all partial+final with map-side combine: first
    touch per user (min), distinct (user, week) activity, then the
    per-cell counts; cohort sizes ride in via a join keyed on the
    handful of cohort weeks (broadcast-sized — cohorts grow with
    TIME, not data). Week arithmetic is exact: date_trunc to Monday
    on both engines, offsets as whole-day differences integer-divided
    by 7, and retention divides exact integers."""
    ev = load_table(spark, sf_dir, "events", columns=["ts", "user_id"])
    c = ev.groupBy("user_id").agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    sizes = c.groupBy("cohort_week").agg(F.count("*").alias("cohort_size"))
    a = (
        ev.join(c, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .distinct()
    )
    r = a.groupBy("cohort_week", "week_offset").agg(F.count("*").alias("n_active"))
    return (
        r.join(F.broadcast(sizes), "cohort_week")
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_active",
            "cohort_size",
            F.round(
                F.col("n_active").cast("double")
                / F.col("cohort_size").cast("double"),
                6,
            ).alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# asof_join_salted_events
# ---------------------------------------------------------------------------

# Same oracle as asof_join_events_orders. The salted operator must be
# observationally identical to the plain one, so sharing the oracle IS the
# point: DuckDB's native ASOF JOIN checks both.
@register("asof_join_salted_events", _ASOF_SQL)
def q_asof_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant as-of join (operators/asof.py::asof_join_salted):
    left events spread over 8 salts by event_id hash, right orders
    replicated per salt, so one hot user key can't pin a whole task at
    100× scale. Identical semantics to ``asof_join_events_orders`` —
    verified against the identical DuckDB native-ASOF oracle."""
    ev = load_table(spark, sf_dir, "events", columns=["event_id", "user_id", "ts"])
    orders = load_table(
        spark, sf_dir, "orders",
        columns=["o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"],
    )
    right = ASOF.latest_per_key_time(
        orders, "o_custkey", "o_orderdate", "o_orderkey"
    ).withColumnRenamed("o_custkey", "user_id")
    out = ASOF.asof_join_salted(
        ev,
        right,
        on="user_id",
        left_time="ts",
        right_time="o_orderdate",
        payload_cols=["o_orderkey", "o_totalprice"],
        salt_src_col="event_id",
        n_salts=8,
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("last_orderkey"),
        F.round("o_totalprice", 2).alias("last_price"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# asof_join_nearest
# ---------------------------------------------------------------------------
_ASOF_NEAREST_SQL = """
WITH r AS (
  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey, o_orderdate
                            ORDER BY o_orderkey DESC) AS rn
  FROM orders
), r1 AS (SELECT * FROM r WHERE rn = 1),
b AS (
  SELECT e.event_id, e.user_id, e.ts,
         o.o_orderkey AS k, o.o_totalprice AS p, CAST(o.o_orderdate AS TIMESTAMP) AS rt
  FROM events e ASOF LEFT JOIN r1 o
    ON e.user_id = o.o_custkey AND e.ts >= CAST(o.o_orderdate AS TIMESTAMP)
),
f AS (
  SELECT e.event_id,
         o.o_orderkey AS k, o.o_totalprice AS p, CAST(o.o_orderdate AS TIMESTAMP) AS rt
  FROM events e ASOF LEFT JOIN r1 o
    ON e.user_id = o.o_custkey AND e.ts <= CAST(o.o_orderdate AS TIMESTAMP)
)
SELECT b.event_id, b.user_id,
       CASE WHEN b.k IS NOT NULL AND (f.k IS NULL
                 OR (epoch_us(b.ts) - epoch_us(b.rt)) <= (epoch_us(f.rt) - epoch_us(b.ts)))
            THEN b.k ELSE f.k END AS nearest_orderkey,
       round(CASE WHEN b.k IS NOT NULL AND (f.k IS NULL
                 OR (epoch_us(b.ts) - epoch_us(b.rt)) <= (epoch_us(f.rt) - epoch_us(b.ts)))
            THEN b.p ELSE f.p END, 2) AS nearest_price,
       CASE WHEN b.k IS NOT NULL AND (f.k IS NULL
                 OR (epoch_us(b.ts) - epoch_us(b.rt)) <= (epoch_us(f.rt) - epoch_us(b.ts)))
            THEN epoch_us(b.ts) - epoch_us(b.rt)
            ELSE epoch_us(f.rt) - epoch_us(b.ts) END AS gap_us
FROM b JOIN f USING (event_id)
ORDER BY b.event_id
"""


@register("asof_join_nearest", _ASOF_NEAREST_SQL)
def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time as-of join of events onto each user's order
    history (|order_date − event_ts| minimized, backward wins ties),
    reporting the matched order and the exact µs gap. The oracle
    composes DuckDB's native backward (>=) and forward (<=) ASOF JOINs
    and picks per row — independent machinery, same semantics."""
    ev = load_table(spark, sf_dir, "events", columns=["event_id", "ts", "user_id"])
    orders = load_table(
        spark, sf_dir, "orders",
        columns=["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"],
    )
    r1 = latest_per_key_time(
        orders, key="o_custkey", time_col="o_orderdate", tiebreak="o_orderkey"
    ).select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("timestamp").alias("o_ts"),
        "o_orderkey",
        "o_totalprice",
    )
    out = asof_join_nearest(
        ev, r1,
        on="user_id", left_time="ts", right_time="o_ts",
        payload_cols=["o_orderkey", "o_totalprice"],
    )
    gap = F.abs(F.unix_micros("ts") - F.col("__matched_time_long"))
    return out.select(
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("nearest_orderkey"),
        F.round("o_totalprice", 2).alias("nearest_price"),
        gap.alias("gap_us"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# fn_time_weighted_avg — TWAP per user over exact µs holding durations
# ---------------------------------------------------------------------------
_TWAP_SQL = """
WITH d AS (
  SELECT user_id, value,
         CAST(epoch_us(ts) AS BIGINT) AS ts_us,
         CAST(epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
              - epoch_us(ts) AS BIGINT) AS dur_us
  FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(ts_us) - min(ts_us) AS BIGINT) AS span_us,
       round(sum(value * dur_us) / nullif(sum(dur_us), 0), 4) AS twap
FROM d
GROUP BY user_id
ORDER BY user_id
"""


@register("fn_time_weighted_avg", _TWAP_SQL)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user: each event's value holds
    until the next event and is weighted by that exact µs duration
    (the last event carries no weight — its holding period is open).

    The standard TWAP/occupancy statistic for irregular time series,
    where the plain mean over-counts bursts. ONE window (lead over the
    user/ts order) and ONE aggregation sharing the same shuffle key;
    durations are exact BIGINT µs on both engines, so the weighted-sum
    operands are bit-identical and only summation order is absorbed by
    the rounding. A user with a single event yields NULL twap on both
    engines (no closed holding period); a user whose events all share
    ONE timestamp would make ``sum(dur_us) = 0``, where Spark's
    non-ANSI division yields NULL but DuckDB's IEEE division yields
    NaN — the nullif guard pins both engines to NULL (the ADVICE-r8
    degenerate-division class, applied proactively)."""
    ev = load_table(
        spark, sf_dir, "events", columns=["event_id", "ts", "user_id", "value"]
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select(
        "user_id",
        "value",
        F.unix_micros("ts").alias("ts_us"),
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")).alias("dur_us"),
    )
    return (
        d.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.max("ts_us") - F.min("ts_us")).alias("span_us"),
            F.round(
                F.sum(F.col("value") * F.col("dur_us"))
                / F.nullif(F.sum("dur_us"), F.lit(0)),
                4,
            ).alias("twap"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# fn_moving_window_stats — trailing 7-row rolling features per user
# ---------------------------------------------------------------------------
_MOVING_SQL = """
SELECT user_id, event_id,
       CAST(epoch_us(ts) AS BIGINT) AS ts_us,
       CAST(count(*) OVER w AS BIGINT) AS n_window,
       round(avg(value) OVER w, 4) AS mov_avg,
       round(min(value) OVER w, 2) AS mov_min,
       round(max(value) OVER w, 2) AS mov_max
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
ORDER BY user_id, ts_us, event_id
"""


@register("fn_moving_window_stats", _MOVING_SQL)
def q_moving_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-row moving mean/min/max of each user's event values —
    the rolling-feature primitive of event-stream feature engineering
    (the ROWS-frame sibling of ``rel_window_range_frames``'s RANGE
    frames and ``fn_ewma_user_value``'s decayed weighting).

    All four frame aggregates share ONE window spec, so the plan is a
    single exchange + sort on (user_id | ts, event_id); the bounded
    7-row frame keeps per-row state O(1) — no unbounded buffering.
    The unique (ts, event_id) ordering makes every frame's membership
    deterministic, and min/max/count are exact; only the 7-term mean
    carries float noise, ~10 orders below its rounding grid."""
    ev = load_table(
        spark, sf_dir, "events", columns=["event_id", "ts", "user_id", "value"]
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, W.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.count("*").over(w).alias("n_window"),
        F.round(F.avg("value").over(w), 4).alias("mov_avg"),
        F.round(F.min("value").over(w), 2).alias("mov_min"),
        F.round(F.max("value").over(w), 2).alias("mov_max"),
    ).orderBy("user_id", "ts_us", "event_id")


# ---------------------------------------------------------------------------
# fn_ohlc_hourly — open/high/low/close bars via argmin/argmax aggregates
# ---------------------------------------------------------------------------
_OHLC_SQL = """
WITH r AS (
  SELECT event_type,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
         value,
         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT event_type, hour,
       CAST(count(*) AS BIGINT) AS n,
       round(max(CASE WHEN rn_a = 1 THEN value END), 2) AS open,
       round(max(value), 2) AS high,
       round(min(value), 2) AS low,
       round(max(CASE WHEN rn_d = 1 THEN value END), 2) AS close
FROM r
GROUP BY event_type, hour
ORDER BY event_type, hour
"""


@register("fn_ohlc_hourly", _OHLC_SQL)
def q_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type — the downsampling compaction
    that turns a raw event stream into a metrics series.

    Spark side: open/close are ``min(struct(ts, event_id, value))`` /
    ``max(struct(...))`` — argmin/argmax as ORDINARY aggregates, so
    the whole query is ONE partial+final aggregate (SortAggregate —
    struct buffers aren't hash-buffer types — but the property that
    matters is the map-side combine): each mapper reduces its split to
    one candidate bar per (type, hour) before the shuffle. The oracle uses the equivalent
    row_number()=1 formulation (identical by the unique (ts, event_id)
    total order) — two different mechanisms, one hash. The window
    variant would shuffle-and-sort EVERY raw event; at 100 TB the
    difference is the whole query."""
    ev = load_table(
        spark, sf_dir, "events",
        columns=["event_id", "ts", "user_id", "event_type", "value"],
    )
    hour = F.date_trunc("hour", F.col("ts"))
    o = F.min(F.struct("ts", "event_id", "value"))
    c = F.max(F.struct("ts", "event_id", "value"))
    return (
        ev.groupBy("event_type", hour.alias("h"))
        .agg(
            F.count("*").alias("n"),
            F.round(o.getField("value"), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(c.getField("value"), 2).alias("close"),
        )
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH").alias("hour"),
            "n",
            "open",
            "high",
            "low",
            "close",
        )
        .orderBy("event_type", "hour")
    )


# ---------------------------------------------------------------------------
# fn_date_gap_fill_daily — calendar-spine resampling with explicit zeros
# ---------------------------------------------------------------------------
_GAP_FILL_SQL = """
WITH b AS (SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events),
d AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM b),
t AS (SELECT DISTINCT event_type FROM events),
a AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1, 2)
SELECT t.event_type,
       strftime(d.day, '%Y-%m-%d') AS day,
       CAST(coalesce(a.n, 0) AS BIGINT) AS n_events
FROM d CROSS JOIN t
LEFT JOIN a ON a.event_type = t.event_type AND a.day = d.day
ORDER BY 1, 2
"""


@register("fn_date_gap_fill_daily", _GAP_FILL_SQL)
def q_gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event counts per type with calendar gaps filled as zeros.

    The aggregation runs first (the only full-data shuffle); the spine
    (days x types) is calendar-sized, so Spark broadcasts the join no
    matter how large `events` is. The reference cannot express this at
    all — its model has no generator source (worker.go:92-104 reads
    only existing splits)."""
    ev = load_table(spark, sf_dir, "events", columns=["ts", "event_type"])
    actual = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    days = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    types = ev.select("event_type").distinct()
    spine = days.crossJoin(types)  # calendar-sized x type-cardinality: tiny
    return (
        spine.join(actual, ["event_type", "day"], "left")
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
        )
        .orderBy("event_type", "day")
    )
