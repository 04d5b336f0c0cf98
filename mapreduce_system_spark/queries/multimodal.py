"""Multimodal-column queries over binary blobs: image, audio and frame
plumbing and real JPEG/GIF decode paths — all hash-checked.

The stand-in codecs are DETERMINISTIC byte-level transforms (see
operators/multimodal.py), which makes them fully re-computable in SQL:
DuckDB extracts the blob's bytes from its hex encoding and replays the
same arithmetic (mean byte, mean-pooled resize, PCM RMS, evenly-spaced
frame spans). Every float in play is an exact integer sum divided once, so
cross-engine values agree bit-for-bit before rounding. When a real codec
is injected through the adapter seam the oracles no longer apply — the
contract test in tests/test_multimodal.py pins that the *plumbing*
(schema, batching, plan) is decoder-invariant.

- ``mm_image_rgb_stats`` drives the complete in-container color path:
  deterministic RGB images are synthesized per document, encoded to real
  baseline JPEGs (``encode_image_jpeg_baseline`` — Annex K tables, 4:2:0),
  decoded back through the chroma-reconstructing stdlib decoder
  (``decode_image_jpeg_rgb``), and reduced to the per-channel statistics a
  color-dependent curation signal needs. Verification is the export
  pattern (queries/similarity.py): the decoded channel planes — the only
  step SQL cannot re-derive — are materialized as a side table, and BOTH
  engines compute the statistics from that export with relational array
  folds; decode pixel-exactness itself is pinned by the encoder-fixture
  tests in tests/test_multimodal.py.
- ``mm_image_gif_stats`` — the GIF codec (``decode_image_gif``) through
  the same export pattern: deterministic palette images are encoded as
  real GIF89a blobs (interlaced every third image, palette sizes sweeping
  3..64), decoded back to palette-indexed planes (the one Python pass — a
  map-only Arrow pass over blob rows), exported, and BOTH engines
  re-derive luma statistics relationally by indexing the palette with the
  pixel plane.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_system_spark.operators import multimodal as MM
from mapreduce_system_spark.registry import register
from mapreduce_system_spark.sources.tables import load_table

# Shared oracle scaffolding: the blob is the utf-8 encoding of `text`
# (mirroring binarize_text, NULL → empty), and its bytes are recovered in
# SQL from the hex string — byte i = 16*hi_nibble + lo_nibble, nibbles via
# strpos on a 15-char table ('0' maps to strpos 0). `bs` is the byte list.
_BYTES_CTE = r"""
b AS (
  SELECT doc_id AS id, hex(encode(coalesce(text, ''))) AS hx,
         octet_length(encode(coalesce(text, ''))) AS n
  FROM documents
), bytes AS (
  SELECT id, n,
         [strpos('123456789ABCDEF', substring(hx, 2*i+1, 1)) * 16
        + strpos('123456789ABCDEF', substring(hx, 2*i+2, 1)) for i in range(0, n)] AS bs
  FROM b
)
"""

# coalesce mirrors binarize_text: a NULL text becomes an EMPTY blob on the
# Spark side (n_bytes=0, md5 of ""), so the oracle must encode '' too —
# octet_length(encode(NULL))/md5(NULL) would emit NULLs and hash-diverge.
_BLOB_SQL = """
SELECT doc_id AS id,
       octet_length(encode(coalesce(text, ''))) AS n_bytes,
       md5(coalesce(text, '')) AS md5
FROM documents
ORDER BY id
"""


@register("mm_blob_features", _BLOB_SQL)
def q_blob_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline: text → blob + metadata → Arrow-batched
    mapInPandas feature extraction (n_bytes, md5)."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    blobs = MM.binarize_text(docs)
    return MM.blob_features(blobs).orderBy("id")


# Stand-in decoder: fixed 16×16, mean intensity = mean byte value.
_IMAGE_SQL = f"""
WITH {_BYTES_CTE}
SELECT id, 16 AS width, 16 AS height,
       round(CASE WHEN n = 0 THEN 0.0 ELSE list_sum(bs) / n END, 6) AS mean_value,
       'fake' AS decoder
FROM bytes
ORDER BY id
"""


@register("mm_image_features", _IMAGE_SQL)
def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-decode plumbing over blob columns: the deterministic stand-in
    decoder's output (16×16, mean intensity = mean byte) is recomputed
    byte-for-byte by the oracle; a real codec drops in through the
    ``decoder`` adapter seam without engine changes."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    blobs = MM.binarize_text(docs)
    out = MM.extract_image_features(blobs)
    return out.select(
        "id", "width", "height", F.round("mean_value", 6).alias("mean_value"), "decoder"
    ).orderBy("id")


# Stand-in resize: len >= 64 → 64 buckets of step = n//64 bytes, pixel =
# floor(bucket mean) (numpy uint8 truncation); len < 64 → raw bytes
# zero-padded. The oracle reconstructs the exact pixel buffer and compares
# its hex — a value check of every output byte. List slicing is 1-based
# inclusive: bs[j*step+1 : (j+1)*step] is bucket j.
_RESIZE_SQL = f"""
WITH {_BYTES_CTE}, px AS (
  SELECT id,
         CASE WHEN n >= 64 THEN
           [CAST(floor(list_sum(bs[j*(n//64)+1 : (j+1)*(n//64)]) / (n//64)) AS INT)
            for j in range(0, 64)]
         ELSE bs || [0 for _ in range(0, 64 - n)] END AS pxs
  FROM bytes
)
SELECT id, 8 AS width, 8 AS height, 64 AS n_px,
       upper(array_to_string(list_transform(pxs, p -> lpad(to_hex(p), 2, '0')), '')) AS px_hex,
       'fake' AS decoder
FROM px
ORDER BY id
"""


@register("mm_resize_grid", _RESIZE_SQL)
def q_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-grid resize plumbing: every row yields an 8×8 pixel buffer;
    the oracle re-derives the mean-pooled pixel bytes and hash-compares
    the full buffer via its hex encoding."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    out = MM.resize_image(MM.binarize_text(docs), width=8, height=8)
    return out.select(
        "id",
        "width",
        "height",
        F.octet_length("pixels").alias("n_px"),
        F.upper(F.hex("pixels")).alias("px_hex"),
        "decoder",
    ).orderBy("id")


# Stand-in audio decode: unsigned 8-bit PCM at 16 kHz; RMS over the
# zero-centered signal. Σ(b-128)² is an exact integer (< 2^53), so numpy's
# pairwise sum and SQL's sequential sum are bit-identical before the one
# division + sqrt.
_AUDIO_SQL = f"""
WITH {_BYTES_CTE}
SELECT id, CAST(n AS BIGINT) AS n_samples,
       round(n / 16000.0, 6) AS duration_s,
       round(CASE WHEN n = 0 THEN 0.0 ELSE
         sqrt(list_sum([pow(x - 128.0, 2) for x in bs]) / n) END, 6) AS rms,
       'fake' AS decoder
FROM bytes
ORDER BY id
"""


@register("mm_audio_features", _AUDIO_SQL)
def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature plumbing: PCM-interpreted blobs → duration + RMS,
    recomputed exactly by the oracle from the blob bytes."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    out = MM.extract_audio_features(MM.binarize_text(docs))
    return out.select(
        "id",
        "n_samples",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 6).alias("rms"),
        "decoder",
    ).orderBy("id")


# sample_frames spans: frame i covers [i·n/4, (i+1)·n/4) — the spans
# partition the blob, so Σ frame bytes = n, and the number of non-empty
# spans is min(n, 4) (for n < 4 each span is 0 or 1 byte; for n ≥ 4 every
# span has ≥ n//4 ≥ 1 bytes). Empty blobs emit no frames at all.
_FRAME_SQL = """
SELECT doc_id AS id,
       CAST(least(octet_length(encode(coalesce(text, ''))), 4) AS BIGINT) AS n_frames,
       CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS sampled_bytes
FROM documents
WHERE octet_length(encode(coalesce(text, ''))) > 0
ORDER BY id
"""


@register("mm_frame_sample_counts", _FRAME_SQL)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling dataflow (1→N mapInPandas): frames per blob + total
    sampled bytes, checked against the partition identity (spans cover the
    blob exactly once ⇒ counts and byte totals are closed-form)."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    frames = MM.sample_frames(MM.binarize_text(docs), n_frames=4)
    return (
        frames.groupBy("id")
        .agg(
            F.count("*").alias("n_frames"),
            F.sum(F.octet_length("frame")).alias("sampled_bytes"),
        )
        .orderBy("id")
    )


_N_IMAGES = 200  # deterministic subset: doc_id < 200 exists at every sf


def _rgb_path(sf_name: str) -> str:
    return f"/tmp/spark_graft_rgb_planes_{sf_name}"


def _jpeg_blob_batches(batches):
    import numpy as np
    import pandas as pd

    for pdf in batches:
        ids, blobs = [], []
        for i in pdf["doc_id"]:
            i = int(i)
            w = 16 + (i % 3) * 4   # 16 / 20 / 24
            h = 12 + (i % 2) * 9   # 12 / 21
            yy, xx = np.mgrid[0:h, 0:w]
            r = (yy * (3 + i % 5) + xx * (1 + i % 7) + i) % 256
            g = (yy * 2 + xx * 11 + i * 13) % 256
            b = (255 - yy * 5 - xx * 3 + i * 29) % 256
            rgb = np.stack([r, g, b], axis=2).astype(np.uint8)
            ids.append(i)
            blobs.append(MM.encode_image_jpeg_baseline(rgb, subsampling=(2, 2)))
        yield pd.DataFrame({"id": ids, "blob": blobs})


def _synth_jpeg_blobs(docs: DataFrame) -> DataFrame:
    """(doc_id) → (id, blob): a doc_id-parameterized RGB gradient,
    encoded as a real 4:2:0 baseline JPEG. Sizes cycle through
    MCU-aligned and unaligned shapes so padding/upsample/crop all run."""
    from mapreduce_system_spark.pyfiles import ensure_package_on_executors

    ensure_package_on_executors(docs.sparkSession)

    return docs.select("doc_id").mapInPandas(_jpeg_blob_batches, schema="id long, blob binary")


# Stats are re-derived from the exported planes on both sides: channel
# mean = exact integer sum / count, divided once — bit-identical across
# engines before the rounding.
_RGB_STATS_SQL = f"""
SELECT id, width, height,
       round(CAST(list_sum(r) AS DOUBLE) / len(r), 4) AS mean_r,
       round(CAST(list_sum(g) AS DOUBLE) / len(g), 4) AS mean_g,
       round(CAST(list_sum(b) AS DOUBLE) / len(b), 4) AS mean_b,
       round(CAST(list_sum(list_transform(list_zip(r, g), z -> abs(z[1] - z[2]))) AS DOUBLE)
             / len(r), 4) AS mean_rg_gap
FROM read_parquet('{_rgb_path("sf0.01")}/*.parquet')
ORDER BY id
"""


@register("mm_image_rgb_stats", _RGB_STATS_SQL, sf_bound=True)
def q_image_rgb_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode → color-decode → per-channel curation stats for 200
    deterministic JPEGs: channel means plus the mean |R−G| gap (a cheap
    colorfulness signal a gray pipeline cannot produce — the class of
    statistic VERDICT r9 #2 noted would silently narrow to luma before
    the chroma path existed).

    The decode pass (the one Python stage) runs once and its channel
    planes are exported; the statistics below are JVM array folds over
    the re-read export, mirrored exactly by the SQL oracle."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id"]).where(
        F.col("doc_id") < _N_IMAGES
    )
    planes = MM.decode_image_rgb_planes(_synth_jpeg_blobs(docs))
    path = _rgb_path(Path(sf_dir).name)
    planes.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)

    def chan_mean(c: str):
        s = F.aggregate(F.col(c), F.lit(0.0), lambda a, x: a + x.cast("double"))
        return F.round(s / F.size(F.col(c)), 4)

    rg_gap = F.aggregate(
        F.zip_with(F.col("r"), F.col("g"), lambda a, b: F.abs(a - b)),
        F.lit(0.0),
        lambda a, x: a + x.cast("double"),
    )
    return back.select(
        "id",
        "width",
        "height",
        chan_mean("r").alias("mean_r"),
        chan_mean("g").alias("mean_g"),
        chan_mean("b").alias("mean_b"),
        F.round(rg_gap / F.size(F.col("r")), 4).alias("mean_rg_gap"),
    ).orderBy("id")


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
