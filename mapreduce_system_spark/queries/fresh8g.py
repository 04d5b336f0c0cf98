r"""Round-8 additions (seventh batch — past the driver window with
``fresh8f``, r9 debuts; see ``queries/__init__``).

Four operators on three fronts:

- ``rel_table_profile`` — the data-quality profiler: per-column rows of
  row/null/distinct counts plus typed min/max/mean for EVERY column of
  a table, from ONE pass over the data (the one-row mega-aggregate is
  unpivoted with ``stack``; multiple exact count-distincts run through
  Spark's Expand, trading one pass at k× row width for k passes).
  The first query a pipeline runs against a new drop of data.
- ``rel_not_exists_subquery`` — the NOT EXISTS front door: customers
  with no open order, per market segment. Catalyst decorrelates the
  correlated NOT EXISTS into a left-anti join — the plan pin is that
  no subquery survives into the physical plan.
- ``agg_grouped_mode_argmax`` — deterministic per-key mode (most
  frequent event type per user) via the max-of-struct argmax: two
  partial+final hash aggregates, NO window and NO per-key sort of the
  raw stream — the same trick ``rel_cdc_latest_state`` pins, applied
  to frequency instead of recency. Tie-break is part of the contract:
  (count, event_type) max ⇒ ties fall to the lexicographically LAST
  type, mirrored in the oracle's ORDER BY cnt DESC, event_type DESC.
- ``txt_bigram_surprisal`` — per-document mean bigram surprisal
  −ln P(w₂|w₁) with add-one smoothing over the corpus vocabulary: the
  sharper sibling of ``txt_unigram_surprisal`` (a doc full of common
  words in uncommon ORDER now scores high). Everything derives from
  one bigram aggregate; the count joins are bigram/vocab-keyed with
  no broadcast hints (AQE sizes them — the r7 lesson).

Float discipline per registry.py: DOUBLE casts before arithmetic,
identical parenthesization both sides, rounded outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_system_spark.functions.text import tokens
from mapreduce_system_spark.registry import register
from mapreduce_system_spark.sources.tables import load_table, register_views

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
# txt_bigram_surprisal — per-doc smoothed bigram LM score
# ---------------------------------------------------------------------------

_BIGRAM_SURPRISAL_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\W+'), t -> t <> '') AS ts
  FROM documents
),
v AS (
  SELECT CAST(count(DISTINCT w) AS DOUBLE) AS vocab
  FROM (SELECT unnest(ts) AS w FROM toks)
),
bg AS (
  SELECT doc_id, b[1] AS w1, b[2] AS w2
  FROM (SELECT doc_id, unnest([[ts[i], ts[i+1]] for i in range(1, len(ts))]) AS b
        FROM toks WHERE len(ts) >= 2)
),
c12 AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS cb FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, sum(cb) AS cl FROM c12 GROUP BY 1)
SELECT bg.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(-ln((c12.cb + 1.0) / (c1.cl + v.vocab))), 4) AS bigram_surprisal
FROM bg
JOIN c12 USING (w1, w2)
JOIN c1 USING (w1)
CROSS JOIN v
GROUP BY bg.doc_id
ORDER BY bg.doc_id
"""


@register("txt_bigram_surprisal", _BIGRAM_SURPRISAL_SQL)
def q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean −ln P(w₂|w₁) per document under the corpus's own add-one-
    smoothed bigram LM — the order-sensitive perplexity proxy
    (``txt_unigram_surprisal`` scores WHAT words a doc uses; this
    scores the TRANSITIONS, so templated or shuffled text separates
    from natural prose).

    One arrays_zip pass produces the bigram stream (never a token-
    stream self-join); the corpus bigram and left-context aggregates
    both derive from it with map-side combine, and the joins back are
    bigram-/vocab-keyed with NO broadcast hints — web-scale
    vocabularies are not broadcast-sized (the r7 verdict's rule). The
    vocabulary size rides a one-row broadcast. Add-one smoothing is
    spelled (cb + 1.0) / (cl + V) identically on both engines."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    ts = docs.select("doc_id", tokens("text").alias("ts"))
    vocab = ts.select(F.explode("ts").alias("w")).agg(
        F.countDistinct("w").cast("double").alias("vocab")
    )
    pairs = ts.where(F.size("ts") >= 2).select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("ts", 1, F.size("ts") - 1),
                F.slice("ts", 2, F.size("ts") - 1),
            )
        ).alias("p"),
    )
    bg = pairs.select(
        "doc_id", F.col("p.0").alias("w1"), F.col("p.1").alias("w2")
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").cast("double").alias("cb"))
    c1 = c12.groupBy("w1").agg(F.sum("cb").alias("cl"))
    s = -F.log((F.col("cb") + 1.0) / (F.col("cl") + F.col("vocab")))
    return (
        bg.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(s), 4).alias("bigram_surprisal"),
        )
        .orderBy("doc_id")
    )
