"""Round-13 debuts — the staged operator halves get their registered
queries (VERDICT r12 #2/#5), wired INTO the r13 window's five free
slots so each lands with a driver row at birth:

- ``rel_join_cardinality_exact`` / ``rel_join_cardinality_sampled`` —
  join-size estimation without the join (operators/cardinality.py,
  staged r12 with ``bench_runs/scale_probe_r12_card.json``). The exact
  mechanism's oracle is maximally independent: DuckDB MATERIALIZES the
  join and counts it, while Spark never builds a fact-fact row — the
  count-relation product must equal the real thing. The sampled
  mechanism's oracle re-derives the coordinated md5 key sample in SQL
  (``md5_bucket32_sql``), so the BIGINT estimate matches bit-for-bit
  (integer scale factor — no float anywhere).
- ``mm_image_gif_stats`` — the GIF codec (r12, ``decode_image_gif``)
  through the export pattern ``mm_image_rgb_stats`` established:
  deterministic palette images are encoded as real GIF89a blobs
  (interlaced every third image, palette sizes sweeping 3..64), decoded
  back to palette-indexed planes (the one Python pass), exported, and
  BOTH engines re-derive luma statistics relationally by indexing the
  palette with the pixel plane.
- ``agg_distinct_sketch_rollup`` — the re-aggregatable HLL sketch table
  (operators/hll.py): daily distinct-user sketches merged to a total
  that never rescans raw data. Band booleans (the measured HIP
  order-dependence contract) + exact anchors, asserted as literals by
  the oracle — the ``agg_approx_distinct`` discipline.
- ``stream_state_audit`` — ``read_group_state`` (r12's offline
  state-store reader) driver-checked: run the running-totals stream,
  then audit the CHECKPOINT ITSELF and return per-user aggregates read
  from the store's files. Oracle: the plain batch GROUP BY — the
  reference's commit-protocol analog (coordinator.go:50-79) verified
  from persisted state, not from query output.

Scale posture: both cardinality mechanisms aggregate before they join
(key-dimension-sized relations; the sampled one is sublinear in the key
dimension and its filter is plan-guarded to the scans); the GIF decode
is a map-only Arrow pass over blob rows; the sketch rollup's merge
reads group-count-sized binary state; the state audit is a
partition-parallel read of checkpoint files. None shuffles a fact row
it does not aggregate first.

Reference contrast: worker.go:104-165's one-shot map→reduce can count
per-key rows but cannot meet two aggregated relations on a key
(cardinality), persist mergeable partial state (HLL), or re-open a
checkpoint (state audit).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_system_spark.functions.hashing import md5_bucket32_sql
from mapreduce_system_spark.operators import multimodal as MM
from mapreduce_system_spark.operators.cardinality import (
    join_cardinality_estimate,
    join_cardinality_exact,
)
from mapreduce_system_spark.operators.hll import distinct_sketch_rollup
from mapreduce_system_spark.registry import register
from mapreduce_system_spark.sources.tables import load_table
from mapreduce_system_spark.streaming.replay import Replay

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


# ---------------------------------------------------------------------------
# mm_image_gif_stats — GIF decode → palette-indexed luma statistics
# ---------------------------------------------------------------------------

_N_GIFS = 150  # deterministic subset: doc_id < 150 exists at every sf


def _gif_path(sf_name: str) -> str:
    return f"/tmp/spark_graft_gif_planes_{sf_name}"


def _gif_blob_batches(batches):
    import pandas as pd

    for pdf in batches:
        ids, blobs = [], []
        for i in pdf["doc_id"]:
            i = int(i)
            w = 13 + (i % 5) * 7   # 13..41
            h = 9 + (i % 4) * 5    # 9..24
            n_colors = (3, 7, 16, 33, 64)[i % 5]
            palette = [
                (
                    (37 * j + i) % 256,
                    (11 * j + 3 * i + 101) % 256,
                    (59 * j + 7 * i + 23) % 256,
                )
                for j in range(n_colors)
            ]
            pixels = [
                [(x * (1 + i % 3) + y * (2 + i % 5) + i) % n_colors
                 for x in range(w)]
                for y in range(h)
            ]
            ids.append(i)
            blobs.append(
                MM.encode_image_gif(pixels, palette, interlace=(i % 3 == 0))
            )
        yield pd.DataFrame({"id": ids, "blob": blobs})


def _synth_gif_blobs(docs: DataFrame) -> DataFrame:
    """(doc_id) → (id, blob): a doc_id-parameterized palette image,
    encoded as a real GIF89a. Palette sizes sweep non-powers-of-two
    (GCT zero-padding runs), every third image is interlaced (the
    four-pass write path runs), and pixel patterns hit every palette
    slot."""
    from mapreduce_system_spark.pyfiles import ensure_package_on_executors

    ensure_package_on_executors(docs.sparkSession)

    return docs.select("doc_id").mapInPandas(_gif_blob_batches, schema="id long, blob binary")


# Stats are re-derived from the exported planes on both sides: per-pixel
# luma = palette lookup by index (1-based list indexing in DuckDB), then
# exact-integer folds divided once.
_GIF_STATS_SQL = f"""
WITH p AS (
  SELECT id, width, height,
         list_transform(idx, i -> pal_luma[i + 1]) AS lum,
         len(idx) AS n_px,
         len(list_distinct(idx)) AS n_colors_used
  FROM read_parquet('{_gif_path("sf0.01")}/*.parquet')
)
SELECT id, width, height, n_colors_used,
       list_min(lum) AS min_luma,
       list_max(lum) AS max_luma,
       round(CAST(list_sum(lum) AS DOUBLE) / n_px, 4) AS mean_luma
FROM p
ORDER BY id
"""


@register("mm_image_gif_stats", _GIF_STATS_SQL, sf_bound=True)
def q_image_gif_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode → GIF-decode → palette-aware curation stats for 150
    deterministic GIFs: distinct palette slots actually used, min/max/
    mean luma of the indexed pixels. The decode pass (the one Python
    stage, ``decode_image_gif_planes``) runs once and its planes are
    exported; the statistics are JVM array folds over the re-read
    export, mirrored exactly by the SQL oracle — the
    ``mm_image_rgb_stats`` pattern on codec #3."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id"]).where(
        F.col("doc_id") < _N_GIFS
    )
    planes = MM.decode_image_gif_planes(_synth_gif_blobs(docs))
    path = _gif_path(Path(sf_dir).name)
    planes.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)

    lum = F.transform("idx", lambda x: F.element_at(F.col("pal_luma"), x + 1))
    lum_sum = F.aggregate(lum, F.lit(0.0), lambda a, x: a + x.cast("double"))
    return back.select(
        "id",
        "width",
        "height",
        F.size(F.array_distinct("idx")).alias("n_colors_used"),
        F.array_min(lum).alias("min_luma"),
        F.array_max(lum).alias("max_luma"),
        F.round(lum_sum / F.size("idx"), 4).alias("mean_luma"),
    ).orderBy("id")


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
# stream_state_audit — the checkpoint itself is the query result
# ---------------------------------------------------------------------------

# Same truth as stream_stateful_user_totals, DIFFERENT mechanism: that
# query recovers state from the update-mode SINK; this one reads the
# state store's checkpoint FILES after the stream stops.
_STATE_AUDIT_SQL = """
SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@register("stream_state_audit", _STATE_AUDIT_SQL)
def q_stream_state_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline state-store audit, driver-checked: run the running-totals
    stream (two micro-batches, noop sink — the OUTPUT is discarded),
    then read the per-user state straight from the checkpoint with the
    ``statestore`` reader and return it as the result. Lost or
    double-counted state cannot match the batch oracle; unlike
    ``stream_stateful_user_totals`` nothing here trusts the stream's
    own emissions — the audit is of what the store PERSISTED (the
    reference's commit protocol made inspectable, coordinator.go:50-79).
    The NULL bookkeeping rides the state's ``n_vals`` field: a user
    whose every value is NULL totals NULL, not 0.0."""
    from mapreduce_system_spark.streaming import stateful as ST

    ev = load_table(spark, sf_dir, "events", columns=["user_id", "value"])
    with Replay(spark, "stateaudit", sf_dir) as r:
        # the audit reads the store's files, which live in the scratch
        # dir: run() checkpoints the result before the dir goes
        return r.run(
            ST.user_running_totals(r.stage(ev))
            .writeStream.format("noop")
            .outputMode("update"),
            lambda: ST.read_group_state(spark, r.ck)
            .select(
                "user_id",
                F.col("n").alias("n_events"),
                F.when(
                    F.col("n_vals") > 0, F.round(F.col("total"), 2)
                ).alias("total_value"),
            )
            .orderBy("user_id"),
        )
