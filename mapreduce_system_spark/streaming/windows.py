"""Event-time windowed aggregations, shared by batch and streaming.

The reference is batch-only (its stages are a one-shot pipeline,
coordinator.go:126-141); SURVEY.md §7 P5 mandates a streaming surface over
the ``events`` fixture. Each operator here takes *any* DataFrame — batch
or streaming — because ``F.window`` / ``F.session_window`` are identical
in both modes. That gives streaming-batch parity for free: the registered
batch queries (queries/streaming.py) run the same code the streaming
pytest drives through a file-source stream, and the DuckDB oracle checks
the batch twin (SURVEY.md §5: DuckDB can't run the stream itself).

Scale notes: windowed aggregation shuffles on (window, keys) — partial
aggregation applies, so shuffle volume ∝ distinct windows × keys. With a
watermark, state for closed windows is evicted; without one a streaming
agg's state grows unboundedly — ``with_watermark`` is therefore mandatory
in every streaming pipeline here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_system_spark.sources.tables import SCHEMAS


def stream_events(spark: SparkSession, events_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over an events parquet *directory* with the same
    nanos→micros normalization as the batch loader (sources/tables.py).

    The file source requires a directory (new files arriving = new
    micro-batches); to stream the single-file fixture, place a symlink to
    ``events.parquet`` in a scratch directory (see tests/test_streaming.py).
    """
    from mapreduce_system_spark.sources.tables import ensure_events_read_confs

    # UTC pin + nanosAsLong, shared with the batch loader: the NTZ→LTZ
    # cast below is only value-preserving under a UTC session timezone
    # (the r10 review found this path missing the pin load_table had)
    ensure_events_read_confs(spark)
    # Probe the footer with a batch read (plan-time only, no job) so the
    # stream sees ts exactly as the batch loader does: TIMESTAMP(NANOS)
    # fixtures arrive as bigint under nanosAsLong and need the exact-long-
    # division normalization; TIMESTAMP(MICROS) fixtures arrive as a native
    # timestamp type and must NOT be divided (that would shift the epoch
    # 1000x). Mirrors load_table's type-dispatch (sources/tables.py).
    # The directory may be empty at stream-definition time (files arrive
    # later); the probe then can't infer a schema — fall back to the batch
    # catalog's normalized type (LTZ timestamp), which is what load_table
    # would produce for every fixture flavor anyway. LIMITATION (advisor
    # r5): that fallback pins micros/LTZ, so TIMESTAMP(NANOS)-flavor
    # fixtures (int64 physical under nanosAsLong) must NOT be
    # late-arriving into an initially-EMPTY dir — they'd mismatch the
    # declared schema at runtime instead of failing fast here. Every
    # harness in this repo stages at least one file before defining the
    # stream (tests symlink the fixture first); keep doing that, or
    # re-create the stream once a first file exists.
    from pyspark.errors import AnalysisException

    try:
        ts_probe = dict(spark.read.parquet(events_dir).dtypes).get("ts", "timestamp_ntz")
    except AnalysisException:
        ts_probe = "timestamp"
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # derived from the batch catalog so the two paths can't drift: same
    # columns, with ts read at its on-disk physical type pre-normalize
    raw_schema = ", ".join(
        f"{f.name} {ts_probe if f.name == 'ts' else f.dataType.simpleString()}"
        for f in SCHEMAS["events"].fields
    )
    df = reader.schema(raw_schema).parquet(events_dir)
    if ts_probe == "bigint":
        # same exact-long-division normalization as load_table (tables.py):
        # float division corrupts ~1.6% of microsecond values at 2024-epoch
        # magnitudes (> 2^53)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_probe == "timestamp_ntz":
        # match load_table's LTZ normalization — watermarks require LTZ
        # event time and the session timezone is UTC, so values are equal
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df.select(*[f.name for f in SCHEMAS["events"].fields])


def with_watermark(df: DataFrame, ts_col: str = "ts", delay: str = "10 minutes") -> DataFrame:
    """Late-data bound: rows older than max(event time) - delay are dropped
    by streaming aggs, and window state older than that is evicted."""
    return df.withWatermark(ts_col, delay)


def tumbling_counts(
    df: DataFrame,
    ts_col: str = "ts",
    duration: str = "15 minutes",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Tumbling-window counts: every event in exactly one window."""
    keys = [F.window(ts_col, duration).alias("w")] + [F.col(c) for c in (group_cols or [])]
    return df.groupBy(*keys).agg(F.count("*").alias("cnt"))


def sliding_avg(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    duration: str = "30 minutes",
    slide: str = "15 minutes",
) -> DataFrame:
    """Sliding-window average: each event lands in duration/slide windows."""
    return df.groupBy(F.window(ts_col, duration, slide).alias("w")).agg(
        F.count("*").alias("cnt"), F.avg(value_col).alias("avg_value")
    )


def tumbling_distinct_users(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    duration: str = "60 minutes",
) -> DataFrame:
    """Distinct users per tumbling window, in the STREAMING-SAFE shape.

    ``COUNT(DISTINCT)`` cannot execute incrementally (Spark rejects it in
    streaming aggregations), so the operator is the canonical two-phase
    rewrite: event-time dedup on (window, user) — keyed state with
    watermark eviction — followed by an ordinary windowed count. In batch
    the two phases are algebraically identical to COUNT(DISTINCT), which
    is what the DuckDB oracle checks; the streaming pytest drives the same
    function through a file stream and asserts parity.
    """
    w = F.window(ts_col, duration)
    dedup = (
        # NULL users are excluded BEFORE the dedup: COUNT(DISTINCT user)
        # ignores NULLs, and dropDuplicates would keep one NULL-user row
        # per window — off-by-one vs the oracle on any fixture with a
        # NULL user (r10 review)
        df.select(w.alias("w"), F.col(user_col))
        .where(F.col(user_col).isNotNull())
        .dropDuplicates(["w", user_col])
    )
    return dedup.groupBy("w").agg(F.count("*").alias("n_users"))


def session_counts(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "5 minutes",
) -> DataFrame:
    """Session windows per key: events merge while the inter-event gap is
    ≤ gap (an exactly-gap-sized interval still merges); a strictly larger
    gap starts a new session."""
    return df.groupBy(F.session_window(ts_col, gap).alias("w"), F.col(key_col)).agg(
        F.count("*").alias("cnt")
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_delay: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Event-time interval join: right rows within [left_ts, left_ts +
    max_delay] for the same key — the stream-stream join shape (e.g.
    click→purchase attribution).

    Identical expression in batch and streaming. On two streams, BOTH
    sides must carry a watermark and the join must have this time-range
    predicate: that pair of bounds is what lets Spark evict join state
    (a side's rows older than watermark + max_delay can never match
    again). Without the range predicate a stream-stream join's state
    grows forever — the interval is a semantic choice AND the state bound.
    Columns are prefixed l_/r_ to keep both sides' fields addressable.

    ``how="left_outer"`` (staged r13): the attribution question's other
    half — clicks that NEVER converted emit once with NULL right
    columns. Streaming protocol, not a bug: an unmatched left row emits
    only after the watermark passes its join window (left_ts +
    max_delay), because until then a matching right row could still
    arrive — so a stream's trailing rows may stay unemitted until a
    later batch (or a sentinel) advances the watermark past them
    (tests/test_streaming.py pins this against the batch LEFT JOIN with
    a sentinel-advanced watermark). State bound is unchanged: the same
    time-range predicate evicts both sides.

    ``how="full_outer"`` (staged r16 — completes the inner -> left ->
    full matrix): unmatched RIGHT rows also emit once with NULL left
    columns, gated on the watermark passing THEIR join window (a right
    row at t can still match left rows arriving up to t, so its window
    closes at t + the watermark delay). Both watermarks matter: the
    global watermark is the min across inputs, so a quiet side holds
    back BOTH sides' unmatched emission — the probe and test put
    sentinels on both streams (tools/scale_probe.py --fjoin,
    tests/test_streaming.py). Same state bound: the time-range
    predicate evicts both sides.
    """
    if how not in ("inner", "left_outer", "full_outer"):
        raise ValueError(
            f"how must be 'inner', 'left_outer' or 'full_outer', got {how!r}"
        )
    lcols = [F.col(f"l.{c}").alias(f"l_{c}") for c in left.columns]
    rcols = [F.col(f"r.{c}").alias(f"r_{c}") for c in right.columns]
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {max_delay}"))
    )
    return left.alias("l").join(right.alias("r"), cond, how).select(*lcols, *rcols)


def static_enrich(
    events: DataFrame,
    dim: DataFrame,
    ts_col: str = "ts",
    duration: str = "30 minutes",
    key_col: str = "user_id",
    dim_key: str = "c_custkey",
    seg_col: str = "c_mktsegment",
    value_col: str = "value",
) -> DataFrame:
    """Stream-static enrichment: join each event against a broadcast
    static dimension, then windowed count + value sum per (window,
    segment) — the canonical "enrich the stream with reference data"
    pipeline.

    Identical expression in batch and streaming. A stream-static INNER
    join is stateless: every micro-batch probes the broadcast dim and
    moves on — no join state, no watermark requirement on the dim side
    (the windowed aggregation downstream still wants one on the stream).
    At 100 TB/day stream volume the dim broadcast is re-planned per
    micro-batch, so a slowly-changing dimension picks up updates on the
    next trigger — the standard freshness contract.
    """
    joined = events.join(
        F.broadcast(dim.select(F.col(dim_key).alias(key_col), seg_col)), key_col
    )
    return joined.groupBy(F.window(ts_col, duration).alias("w"), F.col(seg_col)).agg(
        F.count("*").alias("cnt"), F.sum(value_col).alias("total_value")
    )


_INTERVAL_UNIT_SECONDS = {
    "microsecond": 1e-6,
    "millisecond": 1e-3,
    "second": 1.0,
    "minute": 60.0,
    "hour": 3600.0,
    "day": 86400.0,
    "week": 604800.0,
}


def _interval_seconds(interval: str) -> float:
    """Seconds in a simple ``'<n> <unit>'`` Spark interval string
    (the only shape this module's window helpers accept)."""
    parts = interval.strip().lower().split()
    if len(parts) != 2:
        raise ValueError(f"expected '<n> <unit>' interval, got {interval!r}")
    n, unit = parts
    # Strip at most ONE trailing plural 's' — rstrip('s') would accept
    # typos like 'minutess' as valid (ADVICE r15).
    if unit.endswith("s") and len(unit) > 1:
        unit = unit[:-1]
    if unit not in _INTERVAL_UNIT_SECONDS:
        raise ValueError(f"unknown interval unit in {interval!r}")
    return float(n) * _INTERVAL_UNIT_SECONDS[unit]


def two_stage_windowed_max(
    df: DataFrame,
    ts_col: str = "ts",
    inner: str = "15 minutes",
    outer: str = "60 minutes",
) -> DataFrame:
    """CHAINED stateful windowed aggregation: inner tumbling counts,
    then an outer tumbling max/sum OVER the inner counts — two stateful
    operators in one streaming query ("peak 15-minute event rate per
    hour", the burst-detection shape every ops dashboard runs). Staged
    r14 for an r15 registration (``stream_two_stage_windowed`` planned,
    batch twin + oracle over events).

    Identical expression in batch and streaming. Streaming-side
    mechanics (Spark 3.4+ multiple-stateful-operators support): the
    outer aggregate's EVENT TIME is ``window_time(iw)`` — the inner
    window's end minus one microsecond, so an aligned inner window
    nests into the hour of its own start — and the watermark PROPAGATES
    through the first aggregate (an inner window only reaches the outer
    operator once the watermark closes it, which is exactly when its
    count is final). Chained aggregations require append output mode:
    an hour emits once, when the watermark passes it. State is two
    window-keyed stores, both watermark-evicted — bounded by live
    windows, not stream length.

    Reference contrast: worker.go:104-165's one-shot map→reduce is ONE
    grouping pass; an aggregate OF an aggregate needs the reducer's
    output to re-enter a second shuffle, which the reference can only
    express as a second full job over materialized output.

    ``outer`` must be a whole multiple of ``inner`` (enforced): the
    nesting event time is the inner window's end minus one microsecond,
    which lands in the outer bucket of the inner window's START only
    when inner windows tile outer ones exactly. A misaligned pair (e.g.
    inner='25 minutes', outer='60 minutes') would silently bucket the
    0:50-1:15 window into hour 1:00 while the start-bucketed batch
    oracle puts it in hour 0:00 (ADVICE r14 #2).
    """
    inner_s, outer_s = _interval_seconds(inner), _interval_seconds(outer)
    ratio = outer_s / inner_s
    if abs(ratio - round(ratio)) > 1e-9 or round(ratio) < 1:
        raise ValueError(
            f"outer ({outer!r}) must be a whole multiple of inner "
            f"({inner!r}); got ratio {ratio}"
        )
    iw = df.groupBy(F.window(ts_col, inner).alias("iw")).agg(
        F.count("*").alias("cnt")
    )
    return iw.groupBy(F.window(F.window_time("iw"), outer).alias("w")).agg(
        F.max("cnt").alias("max_cnt"),
        F.sum("cnt").alias("total_cnt"),
        F.count("*").alias("n_inner"),
    )


def dedup_keys(df: DataFrame, keys: list[str], within_watermark: bool = False) -> DataFrame:
    """Streaming/batch exact dedup on a key set — the ingestion-time twin
    of ``operators.dedup.exact_dedup``.

    Streaming (``within_watermark=True``, requires an upstream
    ``with_watermark``): ``dropDuplicatesWithinWatermark`` keeps the first
    row per key and — unlike plain ``dropDuplicates`` on a stream, whose
    key state grows forever — evicts key state once the watermark passes
    it, so state is bounded by keys-per-watermark-window. That bound is
    what makes ingestion dedup viable on an unbounded 100 TB/day feed; the
    trade is that a duplicate arriving later than the watermark delay is
    re-admitted.

    Batch: plain ``dropDuplicates`` (one hash aggregation on the keys).
    """
    if within_watermark:
        return df.dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)

